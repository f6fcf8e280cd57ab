"""Similarity-search query battery over ``embeddings`` (SURVEY.md §2.11
N3, §2.8 F8, §2.6 O3; driver north-star extension of the reference's
"what additional data would help" enrichment stance,
/root/reference/README.md:42).

Search-strategy ladder, cheapest-at-scale last:

1. ``cosine_topk_exact`` — brute force: broadcast the (small) query set
   against every candidate. The correctness anchor; O(Q·N) but the N side
   streams — never a shuffle of the big table.
2. ``ivf_topk`` — IVF-style: coarse-quantize candidates to centroids
   (here the fixture's ``label`` clusters), probe only the query's
   nearest centroid bucket. Search cost drops to O(Q·N/nlist); fully
   deterministic, hence hash-checked, unlike hash-based ANN.
3. ``ann_lsh_neighbors`` — BucketedRandomProjectionLSH banded join
   (seeded): the sub-quadratic candidate generator for query sets too
   large to broadcast. Rows-only per contract (bucket-collision
   dependent); recall pinned in tests/test_vectors.py.

Float discipline: cosine computed in double from float32 inputs on both
engines; fixture margins (top-k boundary ≥ 4.8e-3, centroid assignment
≥ 1.1e-4) dwarf the ≤1e-7 cross-engine drift, and outputs round to 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineerchallenge_spark.functions import vectors as V
from dataengineerchallenge_spark.registry import register
from dataengineerchallenge_spark.sources.tables import load_table, local_frame

_N_QUERIES = 5  # vec_id < 5 are the designated query vectors
_TOP_K = 10


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> x::DOUBLE * x::DOUBLE))), 4) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 baseline: per-vector L2 norm via zip_with/aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", F.round(V.l2_norm(F.col("embedding")), 4).alias("l2_norm"))


@register(
    "cosine_topk_exact",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {_N_QUERIES} AND q.vec_id != c.vec_id
    )
    SELECT query_id, vec_id, round(cos, 4) AS cosine
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= {_TOP_K}
    """,
)
def cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 exact anchor: brute-force cosine top-k, query side broadcast.

    The candidate table is never shuffled: BroadcastNestedLoopJoin streams
    it once past the Q in-memory query vectors, then per-query top-k is a
    row_number over a Q-key window — at 100 TB this is one scan + one
    tiny-key exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = F.broadcast(q).join(emb, F.col("query_id") != F.col("vec_id")).select(
        "query_id", "vec_id", V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", F.round("cos", 4).alias("cosine"))
    )


# Long-form centroid CTEs shared by the nearest_centroid / ivf_topk oracles.
_ORACLE_LONGFORM = """
    WITH lf AS (
      SELECT vec_id, label, u.pos::INT AS pos, u.v::DOUBLE AS v
      FROM (SELECT vec_id, label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, label, v, pos)
    ),
    cent AS (SELECT label AS clabel, pos, avg(v) AS cv FROM lf GROUP BY label, pos),
    sims AS (
      SELECT lf.vec_id, lf.label, cent.clabel,
             sum(lf.v * cent.cv)
               / (sqrt(sum(lf.v * lf.v)) * sqrt(sum(cent.cv * cent.cv))) AS cos
      FROM lf JOIN cent ON lf.pos = cent.pos
      GROUP BY lf.vec_id, lf.label, cent.clabel
    ),
    assign AS (
      SELECT vec_id, label, clabel AS assigned_label, cos
      FROM sims
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) = 1
    )
"""


def _assignments_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, clabel, cos): every vector's cosine to every
    label-centroid — the frame both the rank-1 assignment and the
    multi-probe ranking derive from."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = V.explode_vectors(emb, ["vec_id", "label"], "embedding")
    cent = lf.groupBy(F.col("label").alias("clabel"), "pos").agg(F.avg("v").alias("cv"))
    return (
        lf.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            (
                F.sum(F.col("v") * F.col("cv"))
                / (F.sqrt(F.sum(F.col("v") * F.col("v"))) * F.sqrt(F.sum(F.col("cv") * F.col("cv"))))
            ).alias("cos")
        )
    )


def _assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, assigned_label): nearest centroid per vector,
    computed entirely in long form (vector algebra as relational algebra).

    The centroid frame is tiny (nlist × dim rows) and broadcast into the
    dot-product join; the only big shuffle is the per-(vec, centroid)
    partial-sum aggregate — partial-aggregatable, skew-free (keys are
    uniform), exactly what a 100 TB IVF build wants."""
    sims = _assignments_sims(spark, sf_dir)
    # rounded ranking: drift-stable across build paths (see _probe_frames)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cos", 8)), F.asc("clabel")
    )
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("assigned_label"), "cos")
    )


def _probe_frames(
    spark: SparkSession,
    sf_dir: str,
    n_probes: int = 2,
    q_lo: int = 0,
    q_hi: int = _N_QUERIES,
) -> tuple[DataFrame, DataFrame]:
    """(assign, probes) derived from ONE ranked centroid-similarity
    frame: ``assign`` is each vector's rank-1 bucket, ``probes`` each
    query's ``n_probes`` nearest buckets.

    Plan note, measured honestly: Catalyst pushes the ``vec_id <
    n_queries`` filter below the probe branch's window, so the two
    branches still compile to separate subtrees (no shared exchange) —
    but the probe subtree only ever processes the Q query vectors, so
    its exchanges carry Q×nlist rows at any corpus size. The shared
    helper exists for semantic single-sourcing (one ranking definition
    feeds both), not exchange dedup."""
    sims = _assignments_sims(spark, sf_dir)
    # order by the ROUNDED cosine (clabel tie-break): the appended-index
    # build re-derives this ranking from parquet-round-tripped centroids,
    # so a raw-double ordering could flip a near-tie bucket between the
    # two builds (ADVICE r6; fixture margins ≥1.1e-4 dwarf the rounding,
    # so results vs the raw-ordered oracle are unchanged)
    wq = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cos", 8)), F.asc("clabel")
    )
    ranked = sims.select("vec_id", "clabel", F.row_number().over(wq).alias("_rn"))
    assign = ranked.filter(F.col("_rn") == 1).select(
        "vec_id", F.col("clabel").alias("bucket")
    )
    probes = (
        ranked.filter(
            (F.col("vec_id") >= q_lo)
            & (F.col("vec_id") < q_hi)
            & (F.col("_rn") <= n_probes)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("clabel").alias("probe_label"))
    )
    return assign, probes


@register(
    "nearest_centroid",
    oracle=_ORACLE_LONGFORM
    + """
    SELECT vec_id, label, assigned_label FROM assign
    """,
)
def nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest
    label-centroid (cosine). Also a self-check of fixture cluster quality:
    most rows should have assigned_label == label."""
    return _assignments(spark, sf_dir).select("vec_id", "label", "assigned_label")


@register(
    "ivf_topk",
    oracle=_ORACLE_LONGFORM
    + f"""
    , pairs AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM assign qa
      JOIN assign ca ON qa.vec_id < {_N_QUERIES}
                    AND ca.assigned_label = qa.assigned_label
                    AND ca.vec_id != qa.vec_id
      JOIN embeddings q ON q.vec_id = qa.vec_id
      JOIN embeddings c ON c.vec_id = ca.vec_id
    )
    SELECT query_id, vec_id, round(cos, 4) AS cosine
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= {_TOP_K}
    """,
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 scale path: IVF probe — each query searches only its own
    centroid's bucket (1/nlist of the corpus), then exact cosine top-k
    within the bucket. Deterministic (no hashing), hence hash-checked;
    the bucket join is an equi-join on assigned_label, never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = _assignments(spark, sf_dir).select("vec_id", "assigned_label")
    qa = assign.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("assigned_label").alias("_bucket")
    )
    q_emb = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    cand = assign.join(F.broadcast(qa), (F.col("assigned_label") == F.col("_bucket")) & (F.col("vec_id") != F.col("query_id")))
    pairs = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q_emb), "query_id")
        .select("query_id", "vec_id", V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", F.round("cos", 4).alias("cosine"))
    )


def _staged_kmeans_quantizer(spark: SparkSession, sf_dir: str) -> str:
    """Seeded k-means coarse quantizer trained ONCE and staged
    (content-addressed like every index artifact): ``centroids/``
    (clabel, cv) and ``assign/`` (vec_id, bucket). Training inside the
    query plan would re-pay the fit on every lookup batch — the exact
    anti-pattern the serve split removes."""
    from pathlib import Path

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        feat = emb.select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        )
        model = KMeans(
            k=10, seed=42, maxIter=20, featuresCol="features", predictionCol="bucket"
        ).fit(feat)
        write_result(
            model.transform(feat).select("vec_id", "bucket"), str(out / "assign")
        )
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "clabel int, cv array<double>",
        )
        write_result(cents, str(out / "centroids"), coalesce_to=1)

    return staged(
        spark, "kmeans", Path(sf_dir) / "embeddings.parquet", "kmeans10s42", build
    )


@register("ivf_kmeans_topk")
def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 TRAINED coarse quantizer (closing the documented honesty
    caveat of every label-mean rung: "with real k-means training the
    design's advantage is what makes IVFADC the standard"): centroids
    come from a seeded MLlib k-means fit (k = nlist = 10, the same
    bucket count as ivf_topk/ivf_multiprobe_topk), the assignment and
    2-probe search reuse the exact relational dataflow of the label-mean
    twin — only the quantizer changed.

    Measured on the sf0.01 fixture: 2-probe recall@10 = 0.56 vs the
    label-mean twin's 0.38 at the same probe count (pinned relative to
    the twin in tests/test_vectors.py) — trained cluster boundaries put
    true neighbors in probed buckets where the fixture's weak labels do
    not. Rows-only per contract (k-means is seeded but its result is an
    MLlib implementation detail, not SQL-expressible), same stance as
    the D6 ML rows.

    100 TB plan shape: training runs ONCE on a SAMPLE (here the
    corpus — nlist*dim model state is KB-sized either way) and is
    STAGED like every other index artifact (`_staged_kmeans_quantizer`;
    build-once/serve-many, the same stance as ivf_pq_serve_topk — a
    query must never retrain); the staged centroids broadcast into the
    same argmin joins as every other rung, so search cost is unchanged:
    O(Q·2N/nlist) candidates, bucket equi-joins, never all-pairs. The
    one BroadcastNestedLoopJoin in this plan is the INTENTIONAL Q×k
    probe ranking (5 queries × 10 broadcast centroids — the same
    tiny-crossJoin anchor stance as region_pairs); the corpus side
    never meets a non-equi join."""
    root = _staged_kmeans_quantizer(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = spark.read.parquet(f"{root}/assign")
    cents = spark.read.parquet(f"{root}/centroids")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    sims = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "clabel", V.cosine(F.col("q_emb"), F.col("cv")).alias("cos")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("clabel"))
    probes = (
        sims.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 2)
        .select("query_id", F.col("clabel").alias("bucket"))
    )
    cand = assigned.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    pairs = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q.select("query_id", "q_emb")), "query_id")
        .select(
            "query_id", "vec_id", V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", F.round("cos", 4).alias("cosine"))
    )


@register("ann_lsh_neighbors")
def ann_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 hash-based ANN: BucketedRandomProjectionLSH (seeded) similarity
    join of the query set against the corpus on euclidean distance, then
    per-query top-k. Rows-only per contract (bucket-collision dependent);
    recall vs cosine_topk_exact pinned in tests/test_vectors.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=6, seed=42
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(q, emb, threshold=8.0, distCol="dist").filter(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        pairs.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("vec_id"),
            F.col("dist"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", F.round("dist", 4).alias("euclidean_dist"))
    )


@register(
    "ann_recall_at_k",
    oracle=_ORACLE_LONGFORM
    + f"""
    , exact_pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {_N_QUERIES} AND q.vec_id != c.vec_id
    ), exact AS (
      SELECT query_id, vec_id FROM exact_pairs
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= {_TOP_K}
    ), ivf_pairs AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM assign qa
      JOIN assign ca ON qa.vec_id < {_N_QUERIES}
                    AND ca.assigned_label = qa.assigned_label
                    AND ca.vec_id != qa.vec_id
      JOIN embeddings q ON q.vec_id = qa.vec_id
      JOIN embeddings c ON c.vec_id = ca.vec_id
    ), ivf AS (
      SELECT query_id, vec_id FROM ivf_pairs
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= {_TOP_K}
    )
    SELECT e.query_id,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           ROUND(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) / {_TOP_K}.0, 4)
             AS recall_at_k
    FROM exact e LEFT JOIN ivf i
      ON i.query_id = e.query_id AND i.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 quality metric under the gate: recall@10 of the IVF probe
    against the exact brute-force top-10, per query — the number an ANN
    index is actually judged by, computed as a first-class query (both
    engines independently build exact AND approximate results and
    compare). IVF's single-probe recall loss (neighbors hiding in other
    centroid buckets) shows up here as recall < 1 rows, not as silent
    wrongness. On this fixture the label "clusters" are weak (max
    pairwise cosine ~0.6), so single-probe recall is honestly low
    (0.1-0.3) — the metric reporting a real index property, and the
    case for multi-probe or LSH at these geometries.

    Plan sharing (VERDICT r4 #4): the IVF top-k is by construction the
    exact top-k restricted to each query's bucket, so BOTH sides derive
    from ONE Q×N cosine pass that carries the candidate's assigned
    bucket — instead of independently re-running the cosine_topk_exact
    and ivf_topk dataflows (9 shuffles / 7 broadcasts in the r4 plan
    audit). The exact rank (row_number) and the within-bucket rank (a
    running sum of the in-bucket flag over the same ordering) come out
    of a SINGLE window pass, so there is no exact⋈ivf self-join at all,
    and the final per-query aggregate reuses the window's partitioning.
    100 TB stance: recall is a diagnostic you compute on a SAMPLED query
    set (Q small enough to broadcast), never the full corpus — the
    brute-force side is O(Q·N) and exists here only as the ground-truth
    anchor for the metric."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = _assignments(spark, sf_dir).select("vec_id", "assigned_label")
    cands = emb.join(assign, "vec_id")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # keep the self-pair: the query's own bucket is recovered from it by a
    # windowed max, so the assignment subtree is built ONCE (a second
    # q⋈assign consumer would re-run the whole centroid build under the
    # pushed-down vec_id<Q filter — 3 more exchanges in the r4 audit)
    pairs = F.broadcast(q).join(cands).select(
        "query_id",
        "vec_id",
        V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        "assigned_label",
    )
    wq = Window.partitionBy("query_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    ranked = (
        pairs.withColumn(
            "_in_bucket",
            F.col("assigned_label")
            == F.max(
                F.when(F.col("vec_id") == F.col("query_id"), F.col("assigned_label"))
            ).over(wq),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "_in_bucket",
            F.row_number().over(w).alias("_rn"),
            F.sum(F.when(F.col("_in_bucket"), 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("_brank"),
        )
    )
    hit = F.col("_in_bucket") & (F.col("_brank") <= _TOP_K)
    return (
        ranked.filter(F.col("_rn") <= _TOP_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_matched"),
            F.round(
                F.sum(F.when(hit, 1).otherwise(0)) / float(_TOP_K), 4
            ).alias("recall_at_k"),
        )
    )


@register(
    "ivf_multiprobe_topk",
    oracle=_ORACLE_LONGFORM
    + f"""
    , probes AS (
      SELECT vec_id AS query_id, clabel AS probe_label
      FROM sims WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) <= 2
    ), pairs AS (
      SELECT p.query_id, ca.vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM probes p
      JOIN assign ca ON ca.assigned_label = p.probe_label
                    AND ca.vec_id != p.query_id
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings c ON c.vec_id = ca.vec_id
    )
    SELECT query_id, vec_id, round(cos, 4) AS cosine
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= {_TOP_K}
    """,
)
def ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 multi-probe IVF: each query searches its TWO nearest centroid
    buckets instead of one — the standard recall lever when clusters are
    weak (ann_recall_at_k shows single-probe at 0.1-0.3 here; doubling
    probes roughly doubles candidates at still O(Q·2N/nlist) cost).
    Same deterministic shape as ivf_topk — centroid ranking and bucket
    equi-joins, no hashing — hence fully hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    sims = _assignments_sims(spark, sf_dir)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("clabel"))
    probes = (
        sims.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 2)
        .select(F.col("vec_id").alias("query_id"), F.col("clabel").alias("_bucket"))
    )
    assign = _assignments(spark, sf_dir).select("vec_id", "assigned_label")
    cand = assign.join(
        F.broadcast(probes),
        (F.col("assigned_label") == F.col("_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    q_emb = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    pairs = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q_emb), "query_id")
        .select("query_id", "vec_id", V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", F.round("cos", 4).alias("cosine"))
    )


_PQ_DIM = 16  # dims per subspace; 64-dim fixture -> m = 4 subspaces


def _pq_parts(
    spark: SparkSession, sf_dir: str, q_lo: int = 0, q_hi: int = _N_QUERIES
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The four PQ building blocks shared by ``pq_adc_topk`` and the
    composed ``ivf_pq_adc_topk``:

    - ``codes`` (vec_id, sub, code): every vector's m sub-space codes —
      nearest per-subspace centroid, argmin over the ROUNDED distance
      (both engines round the same double to 8; raw d2 differs across
      engines by accumulation-order ULP drift, so a near-tie between two
      codebook entries could pick different codes per engine and cascade
      into a hash flake).
    - ``cn`` (sub, code, cn2): squared-norm of each codebook entry.
    - ``qdot`` (query_id, sub, code, qd): the per-query ADC lookup table,
      query sub-vector · codebook entry.
    - ``qn`` (query_id, qnorm): query L2 norms.

    Codebook = label-mean sub-vectors (deterministic, hash-checkable,
    same stance as ivf_topk's centroids)."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = V.explode_vectors(emb, ["vec_id", "label"], "embedding").withColumn(
        "sub", F.floor(F.col("pos") / _PQ_DIM)
    )
    cb = lf.groupBy("sub", F.col("label").alias("code"), "pos").agg(F.avg("v").alias("cv"))
    d2 = (
        lf.join(cb, ["sub", "pos"])
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("d2"))
    )
    wenc = Window.partitionBy("vec_id", "sub").orderBy(F.round("d2", 8), "code")
    codes = (
        d2.withColumn("_rn", F.row_number().over(wenc))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "sub", "code")
    )
    cn = cb.groupBy("sub", "code").agg(F.sum(F.col("cv") * F.col("cv")).alias("cn2"))
    q = lf.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi))
    qdot = (
        q.join(cb, ["sub", "pos"])
        .groupBy(F.col("vec_id").alias("query_id"), "sub", "code")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("qd"))
    )
    qn = q.groupBy(F.col("vec_id").alias("query_id")).agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qnorm")
    )
    return codes, cn, qdot, qn


# PQ CTE chain shared by the pq_adc_topk / ivf_pq_adc_topk oracles:
# long-form with sub-space ids, codebook, code assignment (rounded
# argmin), code norms, per-query ADC dot table, query norms.
# Parameterized on the query-batch predicate so the fresh-batch serve
# rung shares the identical CTE chain with a different batch.
def _oracle_pq(qpred: str) -> str:
    return f"""
    WITH lf AS (
      SELECT vec_id, label, (u.pos - 1) // {_PQ_DIM} AS sub,
             u.pos::INT AS pos, u.v::DOUBLE AS v
      FROM (SELECT vec_id, label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, label, v, pos)
    ),
    cb AS (SELECT sub, label AS code, pos, avg(v) AS cv
           FROM lf GROUP BY sub, label, pos),
    d2 AS (
      SELECT lf.vec_id, lf.sub, cb.code,
             sum((lf.v - cb.cv) * (lf.v - cb.cv)) AS d2
      FROM lf JOIN cb ON lf.sub = cb.sub AND lf.pos = cb.pos
      GROUP BY lf.vec_id, lf.sub, cb.code
    ),
    codes AS (
      SELECT vec_id, sub, code FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id, sub
               ORDER BY round(d2, 8), code) = 1
    ),
    cn AS (SELECT sub, code, sum(cv * cv) AS cn2 FROM cb GROUP BY sub, code),
    q AS (SELECT * FROM lf WHERE {qpred}),
    qdot AS (
      SELECT q.vec_id AS query_id, q.sub, cb.code, sum(q.v * cb.cv) AS qd
      FROM q JOIN cb ON q.sub = cb.sub AND q.pos = cb.pos
      GROUP BY q.vec_id, q.sub, cb.code
    ),
    qn AS (SELECT vec_id AS query_id, sqrt(sum(v * v)) AS qnorm
           FROM q GROUP BY vec_id)
"""


_ORACLE_PQ = _oracle_pq(f"vec_id < {_N_QUERIES}")


@register(
    "pq_adc_topk",
    oracle=_ORACLE_PQ
    + f"""
    , s AS (
      SELECT qdot.query_id, codes.vec_id,
             sum(qdot.qd) AS num, sum(cn.cn2) AS cn2sum
      FROM codes
      JOIN qdot ON codes.sub = qdot.sub AND codes.code = qdot.code
      JOIN cn ON codes.sub = cn.sub AND codes.code = cn.code
      GROUP BY qdot.query_id, codes.vec_id
    )
    SELECT query_id, vec_id,
           round(num / (qn.qnorm * sqrt(cn2sum)), 4) AS adc_cosine
    FROM s JOIN qn USING (query_id)
    WHERE query_id != vec_id
    QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY round(num / (qn.qnorm * sqrt(cn2sum)), 4) DESC, vec_id) <= {_TOP_K}
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 4 — product quantization with asymmetric distance (ADC):
    the compression path of the ANN ladder. Vectors are encoded as m=4
    sub-space codes (nearest per-subspace centroid; codebook = the
    label-mean sub-vectors, deterministic so the whole operator is
    hash-checkable, same stance as ivf_topk). Queries stay RAW; candidate
    similarity is approximated per subspace from a precomputed
    query×codebook dot table and summed — the candidate's float vector is
    never touched at query time.

    Why this matters at 100 TB: a 64-dim float32 embedding is 256 B; its
    PQ code is 4 B (m bytes) — a 64× smaller scoring table that lives in
    memory where the raw vectors cannot, which is how billion-vector
    corpora are actually served (the public IVF-PQ design). The scoring
    join touches only (vec_id, sub, code) and two broadcast lookup
    tables: per-query code dots (m × n_codes rows) and code norms.

    Ranking ties: candidates sharing all m codes get IDENTICAL scores by
    construction; ordering uses the ROUNDED score (both engines round
    the same double expression to 4, collapsing sub-ULP accumulation
    drift) with vec_id as the deterministic tie-break."""
    codes, cn, qdot, qn = _pq_parts(spark, sf_dir)
    return _pq_score_topk(codes, cn, qdot, qn)


def _pq_score_topk(
    codes: DataFrame,
    cn: DataFrame,
    qdot: DataFrame,
    qn: DataFrame,
    limit: int = _TOP_K,
) -> DataFrame:
    """Whole-corpus ADC scoring tail shared by the label-mean
    (``pq_adc_topk``) and trained-codebook (``pq_trained_adc_topk``)
    PQ rungs: broadcast the per-query lookup tables onto the code
    table, sum per (query, vec), normalize, rank top-k. Only the
    codebook differs between callers — the scoring algebra must not.
    ``limit`` widens the cut to top-R when the caller is a re-rank
    candidate stage (tools/bench_ann.py's resolution×re-rank sweep)."""
    s = (
        codes.join(F.broadcast(qdot), ["sub", "code"])
        .join(F.broadcast(cn), ["sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("num"), F.sum("cn2").alias("cn2sum"))
    )
    scored = (
        s.filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "adc_cosine",
            F.round(F.col("num") / (F.col("qnorm") * F.sqrt(F.col("cn2sum"))), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .select("query_id", "vec_id", "adc_cosine")
    )


_PQ_TRAINED_K = 10  # trained codes per subspace — EQUAL to the fixture's
# label count, so trained-vs-label-mean is an equal-code-budget
# comparison (same m, same codes/sub, same 4-byte encoding; only how
# the codebook was fit differs)


def _staged_trained_pq_codebook(
    spark: SparkSession, sf_dir: str, k: int = _PQ_TRAINED_K
) -> str:
    """Per-subspace PQ codebooks TRAINED with seeded k-means (the public
    PQ design: m independent k-means fits, one per sub-vector space —
    Jégou et al.'s product quantizer) instead of the deterministic
    label-mean stand-in. Staged once (content-addressed, salt carries
    the family parameters INCLUDING ``k`` — tools/bench_ann.py sweeps
    the codebook resolution k∈{10,64,256} through this same builder)
    as ``cb/`` (sub, code, pos, cv) long-form — a drop-in for the
    label-mean ``cb`` every PQ rung joins against.

    Same 100 TB stance as ``_staged_kmeans_quantizer``: training runs
    ONCE on a sample (m fits of k centroids over ``_PQ_DIM``-dim
    sub-vectors — model state is KB-sized even at the public-standard
    k=256), never inside a query plan; the staged codebook broadcasts
    into encode/score joins."""
    from pathlib import Path

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = emb.select(F.size("embedding")).first()[0]
        rows = []
        for sub in range(dim // _PQ_DIM):
            feat = emb.select(
                array_to_vector(
                    F.slice("embedding", sub * _PQ_DIM + 1, _PQ_DIM).cast(
                        "array<double>"
                    )
                ).alias("features")
            )
            model = KMeans(k=k, seed=42 + sub, maxIter=20).fit(feat)
            for code, c in enumerate(model.clusterCenters()):
                rows.extend(
                    (sub, code, sub * _PQ_DIM + i, float(cv))
                    for i, cv in enumerate(c)
                )
        write_result(
            spark.createDataFrame(rows, "sub bigint, code int, pos int, cv double"),
            str(out / "cb"),
            coalesce_to=1,
        )

    salt = f"pqtrain:d{_PQ_DIM}:k{k}:s42:i20"
    return staged(
        spark, "pqtrained", Path(sf_dir) / "embeddings.parquet", salt, build
    )


def _pq_parts_from_codebook(
    spark: SparkSession,
    sf_dir: str,
    cb: DataFrame,
    q_lo: int = 0,
    q_hi: int = _N_QUERIES,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``_pq_parts`` with the codebook as an INPUT instead of derived
    label means: encode (rounded-argmin, same near-tie discipline),
    code norms, per-query ADC dots, query norms — identical algebra, so
    any staged codebook (here the trained one) feeds the same scoring
    tail the label-mean rungs use."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = V.explode_vectors(emb, ["vec_id"], "embedding").withColumn(
        "sub", F.floor(F.col("pos") / _PQ_DIM)
    )
    d2 = (
        lf.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("d2"))
    )
    wenc = Window.partitionBy("vec_id", "sub").orderBy(F.round("d2", 8), "code")
    codes = (
        d2.withColumn("_rn", F.row_number().over(wenc))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "sub", "code")
    )
    cn = cb.groupBy("sub", "code").agg(F.sum(F.col("cv") * F.col("cv")).alias("cn2"))
    q = lf.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi))
    qdot = (
        q.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy(F.col("vec_id").alias("query_id"), "sub", "code")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("qd"))
    )
    qn = q.groupBy(F.col("vec_id").alias("query_id")).agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qnorm")
    )
    return codes, cn, qdot, qn


@register("pq_trained_adc_topk")
def pq_trained_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 4b — PQ/ADC with TRAINED per-subspace codebooks: the
    production answer to the codebook-resolution bound the recall curve
    measures (BENCH_ann.json recall_curve: the label-mean codebook flat-
    lines at 0.04 on mild geometry no matter the probe count). Same m,
    same codes-per-subspace, same 4-byte encoding and the SAME scoring
    tail as ``pq_adc_topk`` (``_pq_score_topk``) — the only change is
    that each subspace's codebook comes from a seeded k-means fit over
    that subspace's sub-vectors instead of label means.

    Pinned in tests/test_vectors.py: reconstruction SSE strictly below
    the label-mean codebook's at equal code budget, and recall@10 vs
    exact at least the label-mean rung's. Rows-only per contract
    (k-means centroids are an MLlib implementation detail, not
    SQL-expressible — same stance as ivf_kmeans_topk)."""
    root = _staged_trained_pq_codebook(spark, sf_dir)
    cb = spark.read.parquet(f"{root}/cb")
    codes, cn, qdot, qn = _pq_parts_from_codebook(spark, sf_dir, cb)
    return _pq_score_topk(codes, cn, qdot, qn)


def _staged_trained_ivfpq_index(
    spark: SparkSession, sf_dir: str, k: int = _PQ_TRAINED_K
) -> str:
    """ALL-TRAINED build half of the serving split: coarse cells from
    the seeded k-means quantizer (``_staged_kmeans_quantizer``) and PQ
    codebooks from the per-subspace k-means fits
    (``_staged_trained_pq_codebook``) — the two trained artifacts the
    label-mean index stands in for — with the corpus encoded ONCE
    against the trained codebook and written as bucket-partitioned
    inverted lists. Composition of already-staged state plus one encode
    pass; nothing here is query-dependent:

    - ``codes/``     (vec_id, sub, code) PARTITIONED BY bucket (the
      k-means cell) — trained inverted lists, probe = directory seek;
    - ``cn/``        (sub, code, cn2) trained-codebook entry norms;
    - ``centroids/`` (clabel, pos, cv) trained COARSE codebook,
      long-form for the shared ``_route_probes`` router;
    - ``cb/``        (sub, code, pos, cv) trained PQ codebook for
      query-time ADC lookup construction.

    This is the production IVF-PQ shape (trained quantizers at every
    level, public IVFADC design) expressed through the exact staging /
    serve machinery the label-mean rungs pin."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        kq = _staged_kmeans_quantizer(spark, sf_dir)
        cb = spark.read.parquet(
            f"{_staged_trained_pq_codebook(spark, sf_dir, k)}/cb"
        )
        codes, cn, _, _ = _pq_parts_from_codebook(spark, sf_dir, cb)
        assign = spark.read.parquet(f"{kq}/assign")
        write_result(
            codes.join(assign, "vec_id"), str(out / "codes"), partition_by=["bucket"]
        )
        write_result(cn, str(out / "cn"), coalesce_to=1)
        cent_lf = spark.read.parquet(f"{kq}/centroids").select(
            "clabel", F.posexplode("cv").alias("pos", "cv")
        )
        write_result(cent_lf, str(out / "centroids"), coalesce_to=1)
        write_result(cb, str(out / "cb"), coalesce_to=1)

    salt = f"ivfpqtrained:d{_PQ_DIM}:k{k}:kmeans10s42"
    return staged(
        spark, "ivfpqtrained", Path(sf_dir) / "embeddings.parquet", salt, build
    )


def _trained_serve_luts(
    spark: SparkSession, root: str, batch: DataFrame, n_probes: int = 2
):
    """Query-time LUT stage against the all-trained index, shared by the
    plain trained serve and the trained exact-re-rank rung: route the
    batch on the trained coarse codebook (shared ``_route_probes``) and
    build the ADC lookup table from the trained PQ codebook + staged
    entry norms (all batch-sized against broadcast staged state).
    Returns (codes, probes, qlut) ready for ``_adc_serve_topk`` /
    ``_adc_serve_candidates``. Mirrors ``_fresh_query_luts`` except
    coarse and PQ codebooks are SEPARATE staged frames — in the
    label-mean design they coincide."""
    cent = spark.read.parquet(f"{root}/centroids")
    cb = spark.read.parquet(f"{root}/cb")
    cn = spark.read.parquet(f"{root}/cn")
    qlf = V.explode_vectors(batch, ["query_id"], "embedding").withColumn(
        "sub", F.floor(F.col("pos") / _PQ_DIM)
    )
    fused = _ckpt_serve_luts(spark)
    if fused:
        # r21 change 1 (guide §2.4/§5.4): materialize the batch long form
        # once and fold the query-norm aggregate into the router pass —
        # the legacy shape scanned+exploded the batch three times (router,
        # qdot, qn), each under its own broadcast-build job.
        qlf = qlf.localCheckpoint(eager=False)
        router = _routed_query_stats(qlf, cent).localCheckpoint(eager=False)
        probes = _probes_from_stats(router, n_probes)
        qn = router.groupBy("query_id").agg(
            F.sqrt(F.max("qn2")).alias("qnorm")
        )
    else:
        probes = _route_probes(qlf, cent, n_probes)
        qn = qlf.groupBy("query_id").agg(
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qnorm")
        )
    qdot = (
        qlf.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("qd"))
    )
    qlut = qdot.join(F.broadcast(cn), ["sub", "code"]).join(qn, "query_id")
    codes = spark.read.parquet(f"{root}/codes")
    return codes, probes, qlut


def _trained_serve_from_index(
    spark: SparkSession, root: str, batch: DataFrame, n_probes: int = 2
) -> DataFrame:
    """Query-time serve against the all-trained index: the shared
    trained LUT stage (`_trained_serve_luts`) feeding the shared
    ``_adc_serve_topk`` DPP-pruned codes seek."""
    codes, probes, qlut = _trained_serve_luts(spark, root, batch, n_probes)
    return _adc_serve_topk(codes, probes, qlut)


@register("ivf_pq_trained_serve_topk")
def ivf_pq_trained_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 capstone — the PRODUCTION IVF-PQ: trained quantizers at both
    levels (seeded k-means coarse cells + per-subspace k-means PQ
    codebooks), staged once as bucket-partitioned inverted lists, and a
    fresh query batch served with zero base-table scans (routing, ADC
    lookups, and norms all computed batch-side from the broadcast
    staged codebooks; corpus touched only via the DPP-pruned codes
    seek — plan-pinned in tests/test_vectors.py, with exact parity
    against the inline trained dataflow and recall at least the
    label-mean serve rung's on the same batch). Rows-only per contract
    (two k-means fits; same stance as ivf_kmeans_topk)."""
    root = _staged_trained_ivfpq_index(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    return _trained_serve_from_index(spark, root, batch)


def _staged_trained_ivfpq_vectors(spark: SparkSession, sf_dir: str) -> str:
    """RE-RANK half of the ALL-TRAINED index artifact: (vec_id,
    embedding) written PARTITIONED BY the trained k-means cell (the
    same ``assign`` frame the trained inverted lists are bucketed by),
    so the trained re-rank rung's candidate-vector fetch is a
    DPP-pruned directory seek into the probed trained cells — the twin
    of `_staged_ivfpq_vectors` with the label-mean assignment swapped
    for the trained quantizer's (shared body:
    `_staged_vectors_partitioned`, ADVICE r10 #3)."""

    def assign():
        kq = _staged_kmeans_quantizer(spark, sf_dir)
        return spark.read.parquet(f"{kq}/assign")

    return _staged_vectors_partitioned(
        spark, sf_dir, assign, "ivfpqtrained_vecs", "ivfvecs:trained:kmeans10s42"
    )


@register("ivf_pq_trained_rerank_topk")
def ivf_pq_trained_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 FULL PRODUCTION STACK (round 10) — every rung composed: trained
    quantizers at both levels (k-means coarse cells + per-subspace
    k-means PQ codebooks), bucket-partitioned trained inverted lists,
    fresh-batch routing and ADC lookups batch-side against broadcast
    staged state, ADC top-{_RERANK_R} candidate generation via the
    DPP-pruned codes seek, then EXACT cosine re-rank of just those
    candidates from their true float vectors — DPP-seeked from the
    trained-cell-partitioned staged copy (`_staged_trained_ivfpq_vectors`)
    — emitting the exact top-{_TOP_K}. This is the public IVFADC serving
    stack end-to-end as deployed: train once, encode once, serve each
    batch with zero base-table scans and R float-vector reads per query.

    Rows-only per contract (two k-means fits make the candidate set
    oracle-inexpressible); pinned in tests/test_vectors.py: plan (no
    ``embeddings`` scan, DPP on BOTH staged seeks), candidate
    containment + exact-cosine correctness, and recall@10 dominance
    over the non-reranked trained serve on the same batch. Measured in
    BENCH_ann.json (`recall_curve` rerank columns + `pq_k_sweep`
    `recall_at_10_rerank`): resolution × re-rank is the composition
    that closes the mild-geometry recall gap the r9 curve exposed."""
    root = _staged_trained_ivfpq_index(spark, sf_dir)
    vroot = _staged_trained_ivfpq_vectors(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    codes, probes, qlut = _trained_serve_luts(spark, root, batch)
    cand = _adc_serve_candidates(codes, probes, qlut, _RERANK_R)
    return _exact_rerank_tail(spark, vroot, batch, cand)


_PQ_PROD_K = 64  # production-resolution codes per subspace for the
# registered k64 rung. The public standard is 256 (one byte per code);
# the fixture corpus is 500 vectors, and 256 centroids over 500 points
# per subspace is a memorization fit, not a codebook — 64 is the
# largest resolution the fixture can support honestly (tools/
# bench_ann.py --pq-k-sweep measures k=256 on 5000-row corpora where
# it IS meaningful).


_SYNTH_ANN_ROWS = 5000
_SYNTH_ANN_CLUSTER = 10
_PQ_FULL_K = 256  # the public-standard one-byte-per-code resolution


def _staged_synth_ann_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """A 5000-vector SEPARABLE corpus staged as a table DIRECTORY
    (``<slot>/embeddings.parquet`` with the fixture's exact schema:
    vec_id, embedding float[64], label) so the entire trained-index
    stack — quantizer, codebooks, inverted lists, vector copies, fresh
    batch — can be pointed at it by passing the slot path as
    ``sf_dir``. Geometry is tools/bench_ann.py:gen_separable verbatim
    (hash-random near-orthogonal cluster centers in [-1,1]^64, tight
    ±0.02 noise, 10 vectors per cluster), deterministic by
    construction; it exists because k=256 codebooks over the 500-vector
    driver fixture would be a memorization fit, while 5000 points give
    ~20 points per centroid per subspace — the smallest corpus that can
    train the production resolution honestly (VERDICT r12 #7)."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        dim = 64
        rows = _SYNTH_ANN_ROWS
        n_labels = rows // _SYNTH_ANN_CLUSTER
        base = [
            (F.pmod(F.xxhash64("label", F.lit(d + 7919)), F.lit(2000)) / 1000.0 - 1.0)
            for d in range(dim)
        ]
        noise = [
            (F.pmod(F.xxhash64("id", F.lit(d)), F.lit(1000)) / 25000.0 - 0.02)
            for d in range(dim)
        ]
        df = (
            spark.range(rows)
            .withColumn("label", F.pmod(F.col("id"), F.lit(n_labels)).cast("int"))
            .select(
                F.col("id").alias("vec_id"),
                F.array(
                    *[(b + n).cast("float") for b, n in zip(base, noise)]
                ).alias("embedding"),
                "label",
            )
        )
        write_result(df, str(out / "embeddings.parquet"))

    salt = f"synthann:sep{_SYNTH_ANN_ROWS}c{_SYNTH_ANN_CLUSTER}d64"
    return staged(
        spark, "synthann", Path(sf_dir) / "embeddings.parquet", salt, build
    )


@register("ivf_pq_trained_rerank_k256_synth_topk")
def ivf_pq_trained_rerank_k256_synth_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 at the FULL public-standard codebook resolution (k=256, one
    byte per code — Jégou et al.'s deployed configuration), registered
    at last (VERDICT r12 what's-missing #6): the all-trained IVFADC +
    exact-re-rank stack served against a staged synthetic 5000-vector
    corpus big enough to train 256 centroids per subspace honestly
    (~20 points each), where the driver fixture's 500 vectors cannot.
    The corpus directory doubles as the ``sf_dir`` for every existing
    staged helper, so this rung exercises the identical build/serve
    machinery the k10/k64 rungs pin — only the corpus and the codebook
    resolution differ. Rows-only per contract (k-means fits + synthetic
    corpus outside the DuckDB view set); recall@10 dominance over the
    k=64 stack on the SAME corpus and batch is pinned in
    tests/test_vectors.py, and the resolution sweep is measured in
    BENCH_ann.json ``pq_k_sweep``."""
    synth = _staged_synth_ann_corpus_dir(spark, sf_dir)
    root = _staged_trained_ivfpq_index(spark, synth, _PQ_FULL_K)
    vroot = _staged_trained_ivfpq_vectors(spark, synth)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, synth))
    codes, probes, qlut = _trained_serve_luts(spark, root, batch)
    cand = _adc_serve_candidates(codes, probes, qlut, _RERANK_R)
    return _exact_rerank_tail(spark, vroot, batch, cand)


@register("ivf_pq_trained_rerank_k64_topk")
def ivf_pq_trained_rerank_k64_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 production stack at PRODUCTION CODEBOOK RESOLUTION: the same
    all-trained IVFADC + exact-re-rank composition as
    ``ivf_pq_trained_rerank_topk`` with the per-subspace codebooks
    trained at k={_PQ_PROD_K} codes instead of the equal-budget-vs-
    label-means k=10 (that rung's k deliberately matches the label
    count so trained-vs-label-mean is a fair fit-quality comparison;
    THIS rung answers the r9 verdict's open bound — "nobody has turned
    the codebook to production resolution" — inside the registered
    engine, not just the bench sweep). Everything else is shared: the
    coarse cells, the bucket-partitioned staged layouts, the serve
    LUTs, the DPP-pruned seeks, and the re-rank tail; only the ``k``
    flowing through the staged-index salt differs. Rows-only per
    contract (k-means); recall dominance over the k=10 rerank rung on
    the same batch pinned in tests/test_vectors.py; recall-vs-k
    measured in BENCH_ann.json ``pq_k_sweep``."""
    root = _staged_trained_ivfpq_index(spark, sf_dir, _PQ_PROD_K)
    vroot = _staged_trained_ivfpq_vectors(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    codes, probes, qlut = _trained_serve_luts(spark, root, batch)
    cand = _adc_serve_candidates(codes, probes, qlut, _RERANK_R)
    return _exact_rerank_tail(spark, vroot, batch, cand)


# Full IVF-PQ oracle, shared by ivf_pq_adc_topk (inline build),
# ivf_pq_serve_topk (prebuilt index), and — with a different batch
# predicate — ivf_pq_serve_fresh_topk: all compute the same math, so the
# same SQL is the truth for all. ``limit`` widens the per-query cut for
# the exact re-rank rung's candidate stage (top-R, not top-k).
def _oracle_ivf_pq(
    qpred: str, limit: int = _TOP_K, cand_pred: str = "", n_probes: int = 2
) -> str:
    """``cand_pred`` restricts the CANDIDATE side only (the retraction
    rung passes the takedown predicate, the pre-filtered rung the
    metadata predicate): the index — centroids, assignments, codes — is
    the frozen full-corpus build, and retraction removes vectors from
    the served inverted lists, exactly the FAISS remove_ids semantics
    (quantizer untouched, same as appends serve against frozen
    codebooks). ``n_probes`` widens the per-query probe cut (the
    post-filtered rung's recall lever); default 2 keeps every existing
    oracle byte-identical."""
    return (
        _oracle_pq(qpred)
        + f"""
    , cent AS (SELECT label AS clabel, pos, avg(v) AS cv FROM lf GROUP BY label, pos),
    csims AS (
      SELECT lf.vec_id, cent.clabel,
             sum(lf.v * cent.cv)
               / (sqrt(sum(lf.v * lf.v)) * sqrt(sum(cent.cv * cent.cv))) AS cos
      FROM lf JOIN cent ON lf.pos = cent.pos
      GROUP BY lf.vec_id, cent.clabel
    ),
    assign AS (
      SELECT vec_id, clabel AS assigned_label FROM csims
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, clabel AS probe_label
      FROM csims WHERE {qpred}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) <= {n_probes}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assign a
        ON a.assigned_label = p.probe_label AND a.vec_id != p.query_id{cand_pred}
    ),
    s AS (
      SELECT cand.query_id, cand.vec_id,
             sum(qdot.qd) AS num, sum(cn.cn2) AS cn2sum
      FROM cand
      JOIN codes ON codes.vec_id = cand.vec_id
      JOIN qdot ON qdot.query_id = cand.query_id
             AND qdot.sub = codes.sub AND qdot.code = codes.code
      JOIN cn ON cn.sub = codes.sub AND cn.code = codes.code
      GROUP BY cand.query_id, cand.vec_id
    )
    SELECT query_id, vec_id,
           round(num / (qn.qnorm * sqrt(cn2sum)), 4) AS adc_cosine
    FROM s JOIN qn USING (query_id)
    QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY round(num / (qn.qnorm * sqrt(cn2sum)), 4) DESC, vec_id) <= {limit}
    """
    )


_ORACLE_IVF_PQ = _oracle_ivf_pq(f"vec_id < {_N_QUERIES}")


@register("ivf_pq_adc_topk", oracle=_ORACLE_IVF_PQ)
def ivf_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 5 — the COMPOSED billion-vector serving design (public
    IVF-PQ, VERDICT r4 next-round #3): the IVF coarse quantizer prunes
    the corpus to each query's 2 nearest centroid buckets (the
    multi-probe recall lever, O(Q·2N/nlist) candidates), then PQ-ADC
    scores ONLY those candidates from their 4-byte codes — the candidate
    float vectors are never touched at query time, and the scoring state
    is the same two broadcast lookup tables as ``pq_adc_topk``.

    At 100 TB this is the shape that actually serves: the inverted lists
    partition the corpus by assigned centroid (an equi-join key, so the
    probe is a shuffle-free broadcast join against a tiny probe table),
    and per-candidate work is m=4 lookup-adds against an in-memory
    table instead of a 256 B float read.

    Fully deterministic (label-mean codebooks, rounded argmin encode,
    rounded-score tie-break), hence hash-checked like both parents."""
    codes, cn, qdot, qn = _pq_parts(spark, sf_dir)
    assign, probes = _probe_frames(spark, sf_dir)
    cand = assign.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe_label"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id")
    s = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(qdot), ["query_id", "sub", "code"])
        .join(F.broadcast(cn), ["sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("num"), F.sum("cn2").alias("cn2sum"))
    )
    scored = s.join(F.broadcast(qn), "query_id").withColumn(
        "adc_cosine",
        F.round(F.col("num") / (F.col("qnorm") * F.sqrt(F.col("cn2sum"))), 4),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", "adc_cosine")
    )


def _staged_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """BUILD-ONCE half of the IVF-PQ serving split (VERDICT r5 #1): the
    query-independent index state of ``ivf_pq_adc_topk`` materialized
    through the S4 sink into a content-addressed scratch slot (same
    publish protocol as queries/formats.py stagings):

    - ``codes/``      (vec_id, sub, code) PARTITIONED BY bucket — the
      inverted lists: each assigned-centroid bucket is its own partition
      directory, so a probe is a directory seek, not a corpus scan.
    - ``probes/``     (query_id, probe_label) — the query router output
      (2 nearest coarse centroids per query).
    - ``qlut/``       (query_id, sub, code, qd, cn2, qnorm) — the ADC
      lookup state: per-query code dots JOINED with code norms and query
      norms into one broadcast-sized table.
    - ``centroids/``  (clabel, pos, cv) — the coarse/PQ codebook (they
      coincide in this label-mean design); not read by the registered
      serve query (its query set's router output is prebuilt above) but
      part of the index artifact a NEW query batch would need.

    All four frames come from the exact dataflows ``ivf_pq_adc_topk``
    runs inline (`_pq_parts` / `_probe_frames`), so serving from the
    artifact is bit-compatible with the inline rung and shares its
    oracle."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        codes, cn, qdot, qn = _pq_parts(spark, sf_dir)
        assign, probes = _probe_frames(spark, sf_dir)
        write_result(
            codes.join(assign, "vec_id"),
            str(out / "codes"),
            partition_by=["bucket"],
        )
        write_result(probes, str(out / "probes"), coalesce_to=1)
        write_result(
            qdot.join(cn, ["sub", "code"]).join(qn, "query_id"),
            str(out / "qlut"),
            coalesce_to=1,
        )
        emb = load_table(spark, sf_dir, "embeddings")
        cent = (
            V.explode_vectors(emb, ["vec_id", "label"], "embedding")
            .groupBy(F.col("label").alias("clabel"), "pos")
            .agg(F.avg("v").alias("cv"))
        )
        write_result(cent, str(out / "centroids"), coalesce_to=1)

    # salt derives from the family parameters (ADVICE r8): changing the
    # subspace width or the prebuilt router's query-batch count must
    # re-address the slot, not serve a stale index from a persistent root
    salt = f"ivfpq:d{_PQ_DIM}:q{_N_QUERIES}"
    return staged(spark, "ivfpq", Path(sf_dir) / "embeddings.parquet", salt, build)


def _adc_serve_candidates(
    codes: DataFrame, probes: DataFrame, qlut: DataFrame, r: int
) -> DataFrame:
    """The ADC candidate generator shared by every serve rung: DPP-pruned
    inverted-list seek (broadcast probe join on the partition column) →
    one broadcast ADC lookup join → per-(query, candidate) sum → rounded
    score → per-query top-``r`` cut. Two shuffles total (scoring
    aggregate + window). Keeps ``bucket`` on each candidate row so the
    exact re-rank rung can DPP-seek the candidate's float vector from
    the bucket-partitioned staged copy (bucket is functionally dependent
    on vec_id, so carrying it through the aggregate changes no row)."""
    cand = codes.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe_label"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    s = (
        cand.join(F.broadcast(qlut), ["query_id", "sub", "code"])
        .groupBy("query_id", "vec_id", "bucket")
        .agg(
            F.sum("qd").alias("num"),
            F.sum("cn2").alias("cn2sum"),
            # one identical stored double per query -> max is exact
            F.max("qnorm").alias("qnorm"),
        )
    )
    scored = s.withColumn(
        "adc_cosine",
        F.round(F.col("num") / (F.col("qnorm") * F.sqrt(F.col("cn2sum"))), 4),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= r)
        .select("query_id", "vec_id", "bucket", "adc_cosine")
    )


def _adc_serve_topk(codes: DataFrame, probes: DataFrame, qlut: DataFrame) -> DataFrame:
    """The ADC serving tail shared by every non-reranked serve rung:
    ``_adc_serve_candidates`` cut at top-k, bucket dropped."""
    return _adc_serve_candidates(codes, probes, qlut, _TOP_K).select(
        "query_id", "vec_id", "adc_cosine"
    )


@register("ivf_pq_serve_topk", oracle=_ORACLE_IVF_PQ)
def ivf_pq_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 5-SERVE — the production half of the IVF-PQ split
    (VERDICT r5 #1): identical math and oracle as ``ivf_pq_adc_topk``,
    but the executed plan reads ONLY the prebuilt index artifact — the
    base ``embeddings`` table is never scanned at query time (pinned in
    tests/test_vectors.py). The inline rung IS the index build, run
    once through `_staged_ivfpq_index`; this query is what every
    subsequent lookup batch costs.

    Plan shape (the 100 TB serving story, measured in PLAN_AUDIT.md):
    the only tables touched are the bucket-partitioned ``codes``
    inverted lists and the two KB-sized query-side tables (``probes``,
    ``qlut``) — versus the inline rung's 8 scans of the base table
    (10 for the residual rung; PLAN_AUDIT.md).
    The probe join is a broadcast equi-join on the PARTITION column
    with a selective batch predicate on the probe side, so Catalyst
    derives ``dynamicpruningexpression(bucket IN ...)`` into the codes
    scan's PartitionFilters: candidate generation is a directory seek
    into each query batch's probed inverted lists, exactly how IVF
    serves at scale. The ADC scoring join then adds per-candidate
    (qd, cn2) from the single broadcast lookup table, and qnorm rides
    along — two shuffles total (scoring aggregate + per-query top-k
    window)."""
    root = _staged_ivfpq_index(spark, sf_dir)
    codes = spark.read.parquet(f"{root}/codes")
    # scope the router output to the current query batch — what a real
    # serve call does, and the selective predicate Catalyst requires
    # before it will derive a dynamic partition filter from this join
    probes = spark.read.parquet(f"{root}/probes").filter(
        F.col("query_id") < _N_QUERIES
    )
    qlut = spark.read.parquet(f"{root}/qlut")
    return _adc_serve_topk(codes, probes, qlut)


def _staged_ivfpq_appended_index(spark: SparkSession, sf_dir: str) -> str:
    """INCREMENTAL MAINTENANCE half of the serving split: the codes
    inverted lists rebuilt as base (first ~80% of vec_ids, taken from
    the staged full build) plus an APPEND of the remaining ~20% —
    encoded from the base table scanning ONLY the new rows (pushed
    vec_id filter), against the FROZEN codebooks already staged in
    ``centroids/``, written ``mode("append")`` into the same
    bucket-partitioned layout. No retraining, no touch of old rows, no
    rebuild of old files: the production answer to "new documents
    arrived" at 100 TB, where re-encoding the corpus per batch is a
    non-starter.

    Because encoding is per-vector against frozen codebooks, the
    appended index is EXACTLY the full build's codes (set equality
    pinned in tests/test_vectors.py), so serving from it shares
    ``ivf_pq_adc_topk``'s oracle unchanged."""
    from pathlib import Path

    from dataengineerchallenge_spark.staging import staged

    base = _staged_ivfpq_index(spark, sf_dir)

    def build(out: Path) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        split = emb.count() * 4 // 5
        # 1. the index as it stood before the new data: the staged full
        # build's code rows for the old vec_ids
        (
            spark.read.parquet(f"{base}/codes")
            .filter(F.col("vec_id") < split)
            .write.partitionBy("bucket")
            .parquet(str(out / "codes"))
        )
        # 2. encode ONLY the new batch against the frozen codebooks
        # (centroids double as the PQ codebook in this design); the scan
        # carries the pushed vec_id >= split filter — old rows unread
        cent = spark.read.parquet(f"{base}/centroids")
        cb = cent.select(
            F.floor(F.col("pos") / _PQ_DIM).alias("sub"),
            F.col("clabel").alias("code"),
            "pos",
            "cv",
        )
        lf_new = V.explode_vectors(
            emb.filter(F.col("vec_id") >= split), ["vec_id"], "embedding"
        ).withColumn("sub", F.floor(F.col("pos") / _PQ_DIM))
        csims = (
            lf_new.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "clabel")
            .agg(
                (
                    F.sum(F.col("v") * F.col("cv"))
                    / (
                        F.sqrt(F.sum(F.col("v") * F.col("v")))
                        * F.sqrt(F.sum(F.col("cv") * F.col("cv")))
                    )
                ).alias("cos")
            )
        )
        # rank by the ROUNDED cosine (drift-stable like the PQ encode's
        # round(d2, 8) argmin): the full build ranks a freshly recomputed
        # cos while this path ranks one computed from parquet-round-tripped
        # centroids — a near-tie ULP difference must not flip a bucket
        # between the two builds (ADVICE r6; parity pinned in
        # tests/test_vectors.py test_ivf_pq_append_equals_full_rebuild)
        wa = Window.partitionBy("vec_id").orderBy(
            F.desc(F.round("cos", 8)), F.asc("clabel")
        )
        assign_new = (
            csims.withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") == 1)
            .select("vec_id", F.col("clabel").alias("bucket"))
        )
        d2 = (
            lf_new.join(F.broadcast(cb), ["sub", "pos"])
            .groupBy("vec_id", "sub", "code")
            .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("d2"))
        )
        wenc = Window.partitionBy("vec_id", "sub").orderBy(F.round("d2", 8), "code")
        codes_new = (
            d2.withColumn("_rn", F.row_number().over(wenc))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "sub", "code")
        )
        (
            codes_new.join(assign_new, "vec_id")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(str(out / "codes"))
        )

    return staged(
        spark, "ivfpq_app", Path(sf_dir) / "embeddings.parquet", "ivfpq_app", build
    )


@register("ivf_pq_serve_appended_topk", oracle=_ORACLE_IVF_PQ)
def ivf_pq_serve_appended_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 serve rung over the INCREMENTALLY MAINTAINED index: identical
    query plan to ``ivf_pq_serve_topk`` (DPP-pruned inverted-list seek +
    one broadcast ADC table), but the codes layout it reads was built as
    base + appended batch (see `_staged_ivfpq_appended_index`). Shares
    the inline rung's oracle — hash-equality here IS the proof that
    frozen-codebook appends lose nothing vs a full rebuild."""
    root = _staged_ivfpq_appended_index(spark, sf_dir)
    base = _staged_ivfpq_index(spark, sf_dir)
    codes = spark.read.parquet(f"{root}/codes")
    probes = spark.read.parquet(f"{base}/probes").filter(
        F.col("query_id") < _N_QUERIES
    )
    qlut = spark.read.parquet(f"{base}/qlut")
    return _adc_serve_topk(codes, probes, qlut)


_FRESH_LO, _FRESH_HI = _N_QUERIES, 2 * _N_QUERIES


def _staged_fresh_query_batch(spark: SparkSession, sf_dir: str) -> str:
    """The serve REQUEST payload for the fresh-batch rung: (query_id,
    embedding) rows for a batch the index build never saw (vec_ids
    [_FRESH_LO, _FRESH_HI) — NOT in the prebuilt ``probes/`` router).
    Stands in for the vectors a caller hands the serving layer; staged
    once so the registered query's executed plan reads only this payload
    plus the index artifact, never the base table."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        write_result(
            emb.filter(
                (F.col("vec_id") >= _FRESH_LO) & (F.col("vec_id") < _FRESH_HI)
            ).select(F.col("vec_id").alias("query_id"), "embedding"),
            str(out),
            coalesce_to=1,
        )

    # batch bounds derive from _N_QUERIES, so encode it (ADVICE r8): a
    # changed batch window re-addresses the slot instead of serving a
    # stale payload from a persistent staging root
    salt = f"freshq:lo{_FRESH_LO}:hi{_FRESH_HI}"
    return staged(
        spark, "ivfpq_freshq", Path(sf_dir) / "embeddings.parquet", salt, build
    )


@register(
    "ivf_pq_serve_fresh_topk",
    oracle=_oracle_ivf_pq(f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}"),
)
def ivf_pq_serve_fresh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 serve rung for a FRESH query batch (VERDICT r6 #2 — the most
    common real serving call: queries NOT known at index-build time, so
    nothing about them is prebuilt). The batch payload arrives as a tiny
    (query_id, embedding) table; ROUTING and the ADC lookup tables are
    computed AT QUERY TIME from the staged ``centroids/`` codebook —
    which exists in the index artifact precisely for this — and the rest
    is the same DPP-pruned inverted-list seek as ``ivf_pq_serve_topk``.

    Query-time work is all batch-sized: the batch's long form (Q×dim
    rows) joins the broadcast codebook (nlist×dim rows) to produce the
    probe ranking (round(cos, 8), clabel tie-break — the same
    drift-stable ordering as the build side), the per-query code dots,
    and the query norms. The corpus is touched only through the
    bucket-partitioned codes scan, pruned by
    ``dynamicpruningexpression`` to the probed inverted lists (zero
    base-table scans; pinned in tests/test_vectors.py)."""
    root = _staged_ivfpq_index(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    return _serve_fresh_from_index(spark, root, batch)


def _route_probes(qlf: DataFrame, cent: DataFrame, n_probes: int) -> DataFrame:
    """Query-time ROUTER shared by both fresh-batch serve rungs (plain
    IVF-PQ and residual IVFADC): the batch long form joins the broadcast
    coarse codebook, cosine per (query, centroid), top ``n_probes``
    buckets per query with the build-side drift-stable ordering
    (round(cos, 8), clabel tie-break — so a parquet round-trip of the
    centroids cannot flip a near-tie bucket). Returns (query_id,
    probe_label)."""
    qsims = (
        qlf.join(F.broadcast(cent), "pos")
        .groupBy("query_id", "clabel")
        .agg(
            (
                F.sum(F.col("v") * F.col("cv"))
                / (
                    F.sqrt(F.sum(F.col("v") * F.col("v")))
                    * F.sqrt(F.sum(F.col("cv") * F.col("cv")))
                )
            ).alias("cos")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 8)), F.asc("clabel")
    )
    return (
        qsims.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probes)
        .select("query_id", F.col("clabel").alias("probe_label"))
    )


def _ckpt_serve_luts(spark: SparkSession) -> bool:
    """Dial for the fused/materialized fresh-serve LUT stage (r21 change
    1, guide §2.4/§5.4 — the Change-13 discipline applied to the ANN
    serve tail): ``true`` (default) materializes the batch long form
    once (lazy localCheckpoint) and computes routing, coarse dots and
    query norms in ONE aggregation pass; ``false`` restores the legacy
    shape, where the executed plan scanned and exploded the query batch
    once per LUT (4 scans / 4 aggregation subtrees for the residual
    fresh serve — plans/r21/ivf_pq_residual_serve_fresh_topk_before
    .txt) and each broadcast build was its own multi-stage job. Values
    are bit-identical either way (same joins, same groups, same input
    row order — the batch payload is a single-file scan); only the
    plan shape differs. A/B it with tools/ab.py."""
    return (
        spark.conf.get("spark.graft.vectors.ckptServeLuts", "true") == "true"
    )


def _routed_query_stats(qlf: DataFrame, cent: DataFrame) -> DataFrame:
    """ONE aggregation pass over (batch long form × broadcast coarse
    codebook) producing per-(query, centroid) sufficient statistics:
    qcd = Σ v·cv (the coarse dot), qn2 = Σ v² (the query norm², summed
    within the group — every centroid's group sees each of the query's
    dim rows exactly once and in the same scan order, so the per-group
    sum is bit-identical to a per-query sum), cn2c = Σ cv² (centroid
    norm²). The router's cosine, the residual serve's ``qclut`` and the
    trained serve's query norm are all projections of this one frame —
    previously three separate scan+explode+aggregate subtrees."""
    return (
        qlf.join(F.broadcast(cent), "pos")
        .groupBy("query_id", "clabel")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("qcd"),
            F.sum(F.col("v") * F.col("v")).alias("qn2"),
            F.sum(F.col("cv") * F.col("cv")).alias("cn2c"),
        )
    )


def _probes_from_stats(router: DataFrame, n_probes: int) -> DataFrame:
    """The ``_route_probes`` ranking re-expressed over the materialized
    router-stats frame: cos = qcd / (√qn2 · √cn2c) — the identical
    expression tree `_route_probes` folds into its aggregate — with the
    same drift-stable ordering (round(cos, 8), clabel tie-break)."""
    qsims = router.select(
        "query_id",
        "clabel",
        (F.col("qcd") / (F.sqrt("qn2") * F.sqrt("cn2c"))).alias("cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 8)), F.asc("clabel")
    )
    return (
        qsims.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probes)
        .select("query_id", F.col("clabel").alias("probe_label"))
    )


def _fresh_query_luts(
    spark: SparkSession, root: str, batch: DataFrame, n_probes: int
) -> tuple[DataFrame, DataFrame]:
    """Query-time (probes, qlut) for a fresh batch against a staged
    label-mean IVF-PQ index: route on the staged ``centroids/`` codebook
    (shared ``_route_probes``), then build the ADC lookup table — per-
    query code dots, code norms, query norms — from the same centroids
    viewed as the PQ codebook. All batch-sized against broadcast staged
    state; shared by the plain fresh serve and the exact re-rank rung.

    Under the ``_ckpt_serve_luts`` dial (default) the batch long form is
    materialized once and the query norm is read off the fused router
    stats instead of a third batch scan+aggregate (max over per-centroid
    groups of an identical stored double — exact)."""
    cent = spark.read.parquet(f"{root}/centroids")
    qlf = V.explode_vectors(batch, ["query_id"], "embedding").withColumn(
        "sub", F.floor(F.col("pos") / _PQ_DIM)
    )
    fused = _ckpt_serve_luts(spark)
    if fused:
        qlf = qlf.localCheckpoint(eager=False)
        router = _routed_query_stats(qlf, cent).localCheckpoint(eager=False)
        probes = _probes_from_stats(router, n_probes)
    else:
        probes = _route_probes(qlf, cent, n_probes)
    # ADC lookups from the same centroids viewed as the PQ codebook
    cb = cent.select(
        F.floor(F.col("pos") / _PQ_DIM).alias("sub"),
        F.col("clabel").alias("code"),
        "pos",
        "cv",
    )
    qdot = (
        qlf.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("qd"))
    )
    cn = cb.groupBy("sub", "code").agg(F.sum(F.col("cv") * F.col("cv")).alias("cn2"))
    if fused:
        qn = router.groupBy("query_id").agg(
            F.sqrt(F.max("qn2")).alias("qnorm")
        )
    else:
        qn = qlf.groupBy("query_id").agg(
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qnorm")
        )
    qlut = qdot.join(cn, ["sub", "code"]).join(qn, "query_id")
    return probes, qlut


def _serve_fresh_from_index(
    spark: SparkSession, root: str, batch: DataFrame, n_probes: int = 2
) -> DataFrame:
    """Query-time routing + ADC-lookup construction for a fresh batch
    against a staged IVF-PQ index (the body of
    ``ivf_pq_serve_fresh_topk``, parameterized over the probe count so
    the recall-vs-probes curve — tools/bench_ann.py --recall-curve,
    absolute floor pinned in tests/test_vectors.py — exercises the SAME
    serve code the registered query runs)."""
    probes, qlut = _fresh_query_luts(spark, root, batch, n_probes)
    codes = spark.read.parquet(f"{root}/codes")
    return _adc_serve_topk(codes, probes, qlut)


_RERANK_R = 50  # ADC candidates kept per query for the exact re-rank


def _staged_vectors_partitioned(
    spark: SparkSession,
    sf_dir: str,
    assign_fn,
    name: str,
    salt: str,
    extra_cols: tuple[str, ...] = (),
) -> str:
    """Stage (vec_id, embedding[, extra_cols]) PARTITIONED BY the
    coarse-cell assignment ``assign_fn()`` returns (a (vec_id, bucket)
    frame) — the RE-RANK half of an IVF index artifact, shared by the
    label-mean and all-trained rungs (ADVICE r10 #3: the two staging
    functions were verbatim twins differing only in the assignment
    frame and slot name/salt). ``assign_fn`` is a thunk so a cache-hit
    on the staged slot never computes the assignment at all.
    ``extra_cols`` lets a rung ride payload columns (e.g. ``label`` for
    hard-negative mining) alongside the vectors so serve-time never
    joins back to the base table for them."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        write_result(
            emb.select("vec_id", "embedding", *extra_cols).join(
                assign_fn(), "vec_id"
            ),
            str(out / "vecs"),
            partition_by=["bucket"],
        )

    return staged(spark, name, Path(sf_dir) / "embeddings.parquet", salt, build)


def _staged_ivfpq_vectors(spark: SparkSession, sf_dir: str) -> str:
    """Bucket-partitioned float vectors — the RE-RANK half of the index
    artifact (VERDICT r9 next #1): (vec_id, embedding) written
    PARTITIONED BY the vector's assigned coarse cell, so fetching the
    ADC top-R candidates' true vectors at query time is a DPP-pruned
    directory seek into the probed cells, never a base-table scan. In a
    production IVFADC stack this is the "raw vectors alongside the
    inverted lists" layout every re-ranking tier keeps; at 100 TB the
    per-query read is R float vectors from the probed partitions, not
    the corpus."""
    # assignment is the parameter-free label-mean rank-1 bucket; content
    # tag covers the fixture, salt pins the layout family
    return _staged_vectors_partitioned(
        spark,
        sf_dir,
        lambda: _probe_frames(spark, sf_dir)[0],
        "ivfpq_vecs",
        "ivfvecs:r1",
    )


def _rerank_from_index(
    spark: SparkSession,
    root: str,
    vroot: str,
    batch: DataFrame,
    n_probes: int = 2,
    r: int = _RERANK_R,
) -> DataFrame:
    """Exact re-rank serve body (parameterized over probe count and
    candidate depth so tools/bench_ann.py can sweep it): generate the
    ADC top-``r`` candidates with the SAME fresh-serve machinery as
    ``ivf_pq_serve_fresh_topk`` (routing + ADC lookups batch-side, DPP
    codes seek), then re-score ONLY those candidates with exact cosine
    against their true float vectors — fetched from the bucket-
    partitioned staged copy via a second DPP-pruned seek — and emit the
    exact top-k. Per-query cost: the ADC pass plus R float-vector reads;
    the corpus's float vectors are never scanned."""
    probes, qlut = _fresh_query_luts(spark, root, batch, n_probes)
    codes = spark.read.parquet(f"{root}/codes")
    cand = _adc_serve_candidates(codes, probes, qlut, r)
    return _exact_rerank_tail(spark, vroot, batch, cand)


def _exact_rerank_tail(
    spark: SparkSession, vroot: str, batch: DataFrame, cand: DataFrame
) -> DataFrame:
    """The exact re-rank tail shared by the label-mean and all-trained
    re-rank rungs: fetch the ADC candidates' TRUE float vectors from the
    bucket-partitioned staged copy under ``vroot`` (broadcast candidate
    join on the partition column → DPP directory seek, never a corpus
    scan), re-score with exact cosine, emit the exact top-k."""
    vecs = spark.read.parquet(f"{vroot}/vecs")
    q = batch.select("query_id", F.col("embedding").alias("q_emb"))
    rr = (
        vecs.join(F.broadcast(cand), ["bucket", "vec_id"])
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", F.round("cos", 4).alias("cosine"))
    )


# Exact re-rank oracle: the IVF-PQ oracle widened to top-R is the
# candidate stage; exact cosine over those candidates, top-k. Raw-double
# ordering on the exact score (the cosine_topk_exact discipline: fixture
# margins dwarf <=1e-7 cross-engine drift), rounded for display.
def _oracle_rerank(qpred: str, r: int = _RERANK_R) -> str:
    return f"""
    SELECT c.query_id, c.vec_id,
           round(list_cosine_similarity(q.embedding, v.embedding), 4) AS cosine
    FROM ({_oracle_ivf_pq(qpred, limit=r)}) c
    JOIN embeddings q ON q.vec_id = c.query_id
    JOIN embeddings v ON v.vec_id = c.vec_id
    QUALIFY row_number() OVER (PARTITION BY c.query_id
             ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
                      c.vec_id) <= {_TOP_K}
    """


@register(
    "ivf_pq_serve_rerank_topk",
    oracle=_oracle_rerank(f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}"),
)
def ivf_pq_serve_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 final serving rung (VERDICT r9 next #1) — ADC + EXACT RE-RANK,
    the standard last stage of the public IVFADC serving stack (retrieve
    a generous top-R by 4-byte ADC scores, then buy back the recall the
    codes lost by re-scoring just those R with exact distances): the
    fresh batch is served to ADC top-{_RERANK_R} via the staged index
    (routing + lookups batch-side, DPP codes seek), the candidates'
    TRUE float vectors are fetched from the bucket-partitioned staged
    copy (`_staged_ivfpq_vectors`) via a second DPP-pruned seek, and
    exact cosine re-ranks them to top-{_TOP_K}.

    Unlike every other recall lever in the ladder this one is fully
    DETERMINISTIC (label-mean codebooks + exact arithmetic), so it is
    hash-checked against a DuckDB oracle end-to-end — and measured in
    BENCH_ann.json: recall at least the non-reranked serve's on the
    same batch by construction whenever the true neighbors reach the
    candidate set (the zero-base-scan stance holds: plan pinned in
    tests/test_vectors.py, no ``embeddings`` scan, DPP on both seeks)."""
    root = _staged_ivfpq_index(spark, sf_dir)
    vroot = _staged_ivfpq_vectors(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    return _rerank_from_index(spark, root, vroot, batch)


# ---------------------------------------------------------------------------
# Attribute-FILTERED ANN serve (VERDICT r19 next-round #1): top-k under a
# metadata predicate — the single most common production vector-search
# request ("similar docs WHERE lang = 'en'"). Both standard strategies,
# hash-green, sharing one predicate TEXT consumed verbatim by Spark
# (F.expr) and DuckDB (WHERE clause), on the documents frame joined by
# doc_id == vec_id. Selectivity tiers for the recall pin + crossover
# bench (tools/bench_annfilter.py): fraction-passing measured on the
# fixture corpus in tests/test_vectors.py.
_ANNFILT_PRED = "lang = 'en'"  # medium tier (~40% pass) — the registered one
_ANNFILT_PRED_HIGH = "n_chars >= 100"  # high tier (~90% pass)
_ANNFILT_PRED_LOW = "lang = 'en' AND n_chars >= 400"  # low tier (~8% pass)
_ANNFILT_POST_PROBES = 4  # post-filter widens the probe budget 2 -> 4


def _annfilt_allowed(
    spark: SparkSession, sf_dir: str, pred: str = _ANNFILT_PRED
) -> DataFrame:
    """(vec_id) rows passing the metadata predicate — the broadcast
    filter frame both filtered rungs consume. One column-pruned scan of
    the documents metadata (doc_id == vec_id by fixture contract, the
    same link embedding_source_centroid_similarity rides)."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.expr(pred))
        .select(F.col("doc_id").alias("vec_id"))
    )


def _annfilt_cand_pred(pred: str) -> str:
    """The oracle-side twin of `_annfilt_allowed`, injected into the
    IVF-PQ oracle's cand CTE so the predicate restricts candidates
    exactly where the Spark semi-join does."""
    return f" AND a.vec_id IN (SELECT doc_id FROM documents WHERE {pred})"


def _prefiltered_serve(
    spark: SparkSession,
    sf_dir: str,
    pred: str = _ANNFILT_PRED,
    n_probes: int = 2,
) -> DataFrame:
    """PRE-FILTER body (parameterized over predicate + probes so the
    bench/pin sweep runs the exact registered dataflow): the predicate
    is pushed INTO the inverted-list scan — a broadcast semi-join on the
    codes rows BEFORE any ADC scoring — so filtered-out vectors never
    reach the lookup join. Per-query work shrinks WITH the filter; the
    risk is the opposite end: at low selectivity the probed lists may
    hold fewer than k passing vectors (the filtered-ANN starvation
    problem), which this strategy answers with fewer-than-k rows rather
    than widened probes."""
    root = _staged_ivfpq_index(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    probes, qlut = _fresh_query_luts(spark, root, batch, n_probes)
    codes = spark.read.parquet(f"{root}/codes")
    live = codes.join(
        F.broadcast(_annfilt_allowed(spark, sf_dir, pred)), "vec_id", "left_semi"
    )
    return _adc_serve_topk(live, probes, qlut)


def _postfiltered_serve(
    spark: SparkSession,
    sf_dir: str,
    pred: str = _ANNFILT_PRED,
    n_probes: int = _ANNFILT_POST_PROBES,
    r: int = _RERANK_R,
) -> DataFrame:
    """POST-FILTER body: serve UNfiltered with a widened probe budget
    ({_ANNFILT_POST_PROBES} probes, ADC top-``r`` candidates), then
    apply the predicate to the candidates and exact-rerank the
    survivors to top-k from their true float vectors (the second
    DPP-pruned seek `ivf_pq_serve_rerank_topk` uses). Candidate
    generation cost does NOT shrink with the filter — the widened
    probes are the hedge against post-filter starvation, and at low
    selectivity even they starve (measured in BENCH_annfilter.json)."""
    root = _staged_ivfpq_index(spark, sf_dir)
    vroot = _staged_ivfpq_vectors(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    probes, qlut = _fresh_query_luts(spark, root, batch, n_probes)
    codes = spark.read.parquet(f"{root}/codes")
    cand = _adc_serve_candidates(codes, probes, qlut, r)
    kept = cand.join(
        F.broadcast(_annfilt_allowed(spark, sf_dir, pred)), "vec_id", "left_semi"
    )
    return _exact_rerank_tail(spark, vroot, batch, kept)


@register(
    "ivf_pq_serve_filtered_topk",
    oracle=_oracle_ivf_pq(
        f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}",
        cand_pred=_annfilt_cand_pred(_ANNFILT_PRED),
    ),
)
def ivf_pq_serve_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered ANN serve, PRE-FILTER strategy (VERDICT r19
    next-round #1a): top-k similar under ``{_ANNFILT_PRED}``, the
    predicate pushed into the inverted-list scan before ADC scoring —
    a broadcast semi-join of the metadata-passing vec_ids against the
    bucket-partitioned codes, riding the same DPP-pruned probe seek as
    ``ivf_pq_serve_topk``. This is the strategy that WINS at low
    selectivity (the ADC work shrinks with the filter) and at 100 TB it
    is a metadata-pushdown into the list scan, never a corpus pass.
    Hash-green: the oracle is the shared IVF-PQ SQL with the identical
    predicate restricting its cand CTE."""
    return _prefiltered_serve(spark, sf_dir)


@register(
    "ivf_pq_serve_postfiltered_topk",
    oracle=f"""
    SELECT c.query_id, c.vec_id,
           round(list_cosine_similarity(q.embedding, v.embedding), 4) AS cosine
    FROM ({_oracle_ivf_pq(
        f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}",
        limit=_RERANK_R,
        n_probes=_ANNFILT_POST_PROBES,
    )}) c
    JOIN documents d ON d.doc_id = c.vec_id AND ({_ANNFILT_PRED})
    JOIN embeddings q ON q.vec_id = c.query_id
    JOIN embeddings v ON v.vec_id = c.vec_id
    QUALIFY row_number() OVER (PARTITION BY c.query_id
             ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
                      c.vec_id) <= {_TOP_K}
    """,
)
def ivf_pq_serve_postfiltered_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribute-filtered ANN serve, POST-FILTER strategy (VERDICT r19
    next-round #1b): serve UNfiltered with a widened probe budget
    ({_ANNFILT_POST_PROBES} probes vs the default 2) to ADC
    top-{_RERANK_R}, THEN apply ``{_ANNFILT_PRED}`` to the candidates
    and exact-rerank the survivors to top-{_TOP_K}. The standard
    filtered-search fallback when the index cannot push predicates:
    candidate cost is selectivity-independent, and the widened budget
    is the hedge against starvation — which still loses at low
    selectivity (recall-vs-selectivity pinned in tests/test_vectors.py,
    crossover vs pre-filter measured in BENCH_annfilter.json).
    Hash-green end-to-end: widened-probe IVF-PQ oracle cut at top-R,
    predicate join, exact-cosine rerank — each stage the shared SQL."""
    return _postfiltered_serve(spark, sf_dir)


def _prefiltered_rerank_serve(
    spark: SparkSession,
    sf_dir: str,
    pred: str = _ANNFILT_PRED,
    n_probes: int = 2,
    r: int = _RERANK_R,
) -> DataFrame:
    """PRE-FILTER + EXACT RERANK body: the predicate semi-join prunes
    the code lists BEFORE ADC scoring (pre-filter's cost profile —
    work shrinks with the filter, candidates never starve below the
    probed-and-passing corpus), then the ADC top-``r`` survivors are
    re-scored with exact cosine from the bucket-partitioned float
    copy (the rerank tail's second DPP seek). Strictly dominates the
    plain pre-filter on recall at ~equal cost: same candidate set,
    exact ordering instead of 4-byte-code ordering."""
    root = _staged_ivfpq_index(spark, sf_dir)
    vroot = _staged_ivfpq_vectors(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    probes, qlut = _fresh_query_luts(spark, root, batch, n_probes)
    codes = spark.read.parquet(f"{root}/codes")
    live = codes.join(
        F.broadcast(_annfilt_allowed(spark, sf_dir, pred)), "vec_id", "left_semi"
    )
    cand = _adc_serve_candidates(live, probes, qlut, r)
    return _exact_rerank_tail(spark, vroot, batch, cand)


@register(
    "ivf_pq_serve_filtered_rerank_topk",
    oracle=f"""
    SELECT c.query_id, c.vec_id,
           round(list_cosine_similarity(q.embedding, v.embedding), 4) AS cosine
    FROM ({_oracle_ivf_pq(
        f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}",
        limit=_RERANK_R,
        cand_pred=_annfilt_cand_pred(_ANNFILT_PRED),
    )}) c
    JOIN embeddings q ON q.vec_id = c.query_id
    JOIN embeddings v ON v.vec_id = c.vec_id
    QUALIFY row_number() OVER (PARTITION BY c.query_id
             ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
                      c.vec_id) <= {_TOP_K}
    """,
)
def ivf_pq_serve_filtered_rerank_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribute-filtered ANN serve, PRE-FILTER + EXACT RERANK — the
    production-best composition the two r20 strategies imply (beyond
    the verdict's ask pair, which compared pre WITHOUT rerank against
    post WITH it): push ``{_ANNFILT_PRED}`` into the inverted-list
    scan (pre-filter's selectivity-shrinking cost, no starvation
    below the probed-and-passing corpus), keep ADC top-{_RERANK_R}
    candidates, and buy back the 4-byte-code ordering error with the
    exact rerank over their true float vectors. Dominance is
    structural, not tuned: identical candidate set as the plain
    pre-filtered serve, exactly ordered — so recall@k is ≥ the plain
    rung's on every query batch (pinned in tests/test_r20.py, priced
    per selectivity tier in BENCH_annfilter.json's pre_rerank arm).
    At 100 TB: metadata pushdown into the DPP list seek + R
    float-vector reads per query; the corpus is never scanned.
    Hash-green end-to-end against the shared IVF-PQ oracle with the
    predicate on its cand CTE, cut at top-R, exact-cosine reranked."""
    return _prefiltered_rerank_serve(spark, sf_dir)


@register(
    "ivf_pq_serve_filtered_retracted_topk",
    oracle=_oracle_ivf_pq(
        f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}",
        cand_pred=" AND a.vec_id % 10 != 0"
        + _annfilt_cand_pred(_ANNFILT_PRED),
    ),
)
def ivf_pq_serve_filtered_retracted_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED ∘ RETRACTED composition (VERDICT r19 stretch #7): the
    lifecycle must stay closed as the serve surface widens — tombstoned
    vectors (vec_id % 10 == 0, the shared takedown rule) must vanish
    from FILTERED serves too, by construction, not by accident of rung
    structure. The tombstone anti-join is applied to the inverted code
    lists FIRST (the retraction is a property of the store), then the
    metadata semi-join prunes the survivors (the filter is a property
    of the request); both are broadcast-delta-sized and ride the same
    DPP-pruned probe seek, so composing them adds no new shuffle.
    Graded against the shared IVF-PQ oracle with BOTH predicates on its
    cand CTE: a green row proves serve-time tombstoning composed with
    the pushed filter ≡ a list rebuild without the tombstoned vectors,
    filtered — live rows passing the predicate, exactly."""
    root = _staged_ivfpq_index(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    probes, qlut = _fresh_query_luts(spark, root, batch, 2)
    codes = spark.read.parquet(f"{root}/codes")
    tombstones = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % 10 == 0)
    )
    live = codes.join(F.broadcast(tombstones), "vec_id", "left_anti").join(
        F.broadcast(_annfilt_allowed(spark, sf_dir)), "vec_id", "left_semi"
    )
    return _adc_serve_topk(live, probes, qlut)


@register(
    "ann_serve_recall_at_k",
    oracle=f"""
    WITH approx AS (
      SELECT 'prebuilt' AS batch, query_id, vec_id FROM (
        {_oracle_ivf_pq(f"vec_id < {_N_QUERIES}")}
      )
      UNION ALL
      SELECT 'fresh' AS batch, query_id, vec_id FROM (
        {_oracle_ivf_pq(f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}")}
      )
    ), exact_pairs AS (
      SELECT CASE WHEN q.vec_id < {_N_QUERIES} THEN 'prebuilt' ELSE 'fresh' END AS batch,
             q.vec_id AS query_id, c.vec_id AS vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {_FRESH_HI} AND q.vec_id != c.vec_id
    ), exact AS (
      SELECT batch, query_id, vec_id FROM exact_pairs
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= {_TOP_K}
    )
    SELECT e.batch, e.query_id,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / {_TOP_K}.0, 4)
             AS recall_at_k
    FROM exact e LEFT JOIN approx a
      ON a.batch = e.batch AND a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.batch, e.query_id
    """,
)
def ann_serve_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 quality metric WHERE SERVING HAPPENS (VERDICT r6 #5): recall@10
    of BOTH served IVF-PQ paths against the exact brute-force top-10 —
    the prebuilt-router batch (``ivf_pq_serve_topk``) and the
    fresh-routed batch (``ivf_pq_serve_fresh_topk``), one row per
    (batch, query). ``ann_recall_at_k`` instruments the inline IVF rung;
    these rows instrument the production paths end-to-end, so a routing
    or lookup-table regression in the serve code shows up as a recall
    drop even while the inline rungs stay green.

    The brute-force side is the diagnostic's ground-truth anchor (O(Q·N),
    query side broadcast, candidates never shuffled — same stance as
    ann_recall_at_k): recall is computed on a sampled batch, never the
    full corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _FRESH_HI).select(
        F.when(F.col("vec_id") < _N_QUERIES, F.lit("prebuilt"))
        .otherwise(F.lit("fresh"))
        .alias("batch"),
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    pairs = F.broadcast(q).join(emb, F.col("query_id") != F.col("vec_id")).select(
        "batch", "query_id", "vec_id", V.cosine(F.col("q_emb"), F.col("embedding")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("batch", "query_id", "vec_id")
    )
    served = (
        ivf_pq_serve_topk(spark, sf_dir)
        .select(F.lit("prebuilt").alias("_sb"), "query_id", F.col("vec_id").alias("_sv"))
        .unionByName(
            ivf_pq_serve_fresh_topk(spark, sf_dir).select(
                F.lit("fresh").alias("_sb"), "query_id", F.col("vec_id").alias("_sv")
            )
        )
    )
    hit = F.col("_sv").isNotNull()
    return (
        exact.join(
            served,
            (exact["batch"] == served["_sb"])
            & (exact["query_id"] == served["query_id"])
            & (exact["vec_id"] == served["_sv"]),
            "left",
        )
        .select("batch", exact["query_id"].alias("query_id"), "_sv")
        .groupBy("batch", "query_id")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_matched"),
            F.round(F.sum(F.when(hit, 1).otherwise(0)) / float(_TOP_K), 4).alias(
                "recall_at_k"
            ),
        )
    )


_PQ_NCODES = 16  # residual codebook entries per subspace


# Full residual-IVF-PQ (IVFADC) oracle, parameterized over the query-batch
# predicate — shared by ivf_pq_residual_topk (inline build),
# ivf_pq_residual_serve_topk (prebuilt index, default batch) and
# ivf_pq_residual_serve_fresh_topk (a batch the router never saw).
def _oracle_ivf_pq_residual(qpred: str) -> str:
    return f"""
    WITH lf AS (
      SELECT vec_id, label, (u.pos - 1) // {_PQ_DIM} AS sub,
             u.pos::INT AS pos, u.v::DOUBLE AS v
      FROM (SELECT vec_id, label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, label, v, pos)
    ),
    cent AS (SELECT label AS clabel, pos, avg(v) AS cv
             FROM lf GROUP BY label, pos),
    csims AS (
      SELECT lf.vec_id, cent.clabel,
             sum(lf.v * cent.cv)
               / (sqrt(sum(lf.v * lf.v)) * sqrt(sum(cent.cv * cent.cv))) AS cos
      FROM lf JOIN cent ON lf.pos = cent.pos
      GROUP BY lf.vec_id, cent.clabel
    ),
    assign AS (
      SELECT vec_id, clabel AS bucket FROM csims
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, clabel AS probe_label
      FROM csims WHERE {qpred}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) <= 2
    ),
    rlf AS (
      SELECT lf.vec_id, lf.vec_id % {_PQ_NCODES} AS g, lf.sub, lf.pos,
             lf.v - cent.cv AS rv
      FROM lf JOIN assign ON assign.vec_id = lf.vec_id
      JOIN cent ON cent.clabel = assign.bucket AND cent.pos = lf.pos
    ),
    rcb AS (SELECT sub, g AS code, pos, avg(rv) AS rcv
            FROM rlf GROUP BY sub, g, pos),
    d2 AS (
      SELECT rlf.vec_id, rlf.sub, rcb.code,
             sum((rlf.rv - rcb.rcv) * (rlf.rv - rcb.rcv)) AS d2
      FROM rlf JOIN rcb ON rlf.sub = rcb.sub AND rlf.pos = rcb.pos
      GROUP BY rlf.vec_id, rlf.sub, rcb.code
    ),
    codes AS (
      SELECT vec_id, sub, code FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id, sub
               ORDER BY round(d2, 8), code) = 1
    ),
    rn2 AS (SELECT sub, code, sum(rcv * rcv) AS rn2 FROM rcb GROUP BY sub, code),
    subcent AS (SELECT clabel, (pos - 1) // {_PQ_DIM} AS sub, pos, cv FROM cent),
    cbr AS (
      SELECT sc.clabel AS bucket, sc.sub, rcb.code, sum(sc.cv * rcb.rcv) AS cbr
      FROM subcent sc JOIN rcb ON rcb.sub = sc.sub AND rcb.pos = sc.pos
      GROUP BY sc.clabel, sc.sub, rcb.code
    ),
    cn2sub AS (SELECT clabel AS bucket, sub, sum(cv * cv) AS cn2
               FROM subcent GROUP BY clabel, sub),
    q AS (SELECT * FROM lf WHERE {qpred}),
    qr AS (
      SELECT q.vec_id AS query_id, q.sub, rcb.code, sum(q.v * rcb.rcv) AS qrd
      FROM q JOIN rcb ON q.sub = rcb.sub AND q.pos = rcb.pos
      GROUP BY q.vec_id, q.sub, rcb.code
    ),
    qc AS (
      SELECT q.vec_id AS query_id, cent.clabel AS bucket, sum(q.v * cent.cv) AS qcd
      FROM q JOIN cent ON q.pos = cent.pos
      GROUP BY q.vec_id, cent.clabel
    ),
    qn AS (SELECT vec_id AS query_id, sqrt(sum(v * v)) AS qnorm
           FROM q GROUP BY vec_id),
    cand AS (
      SELECT p.query_id, a.vec_id, a.bucket
      FROM probes p JOIN assign a
        ON a.bucket = p.probe_label AND a.vec_id != p.query_id
    ),
    s AS (
      SELECT cand.query_id, cand.vec_id, cand.bucket,
             sum(qr.qrd) AS qrsum,
             sum(cn2sub.cn2 + 2 * cbr.cbr + rn2.rn2) AS den2
      FROM cand
      JOIN codes ON codes.vec_id = cand.vec_id
      JOIN qr ON qr.query_id = cand.query_id
            AND qr.sub = codes.sub AND qr.code = codes.code
      JOIN rn2 ON rn2.sub = codes.sub AND rn2.code = codes.code
      JOIN cbr ON cbr.bucket = cand.bucket
            AND cbr.sub = codes.sub AND cbr.code = codes.code
      JOIN cn2sub ON cn2sub.bucket = cand.bucket AND cn2sub.sub = codes.sub
      GROUP BY cand.query_id, cand.vec_id, cand.bucket
    )
    SELECT s.query_id, s.vec_id,
           round((qc.qcd + s.qrsum) / (qn.qnorm * sqrt(s.den2)), 4) AS adc_cosine
    FROM s
    JOIN qc ON qc.query_id = s.query_id AND qc.bucket = s.bucket
    JOIN qn ON qn.query_id = s.query_id
    QUALIFY row_number() OVER (PARTITION BY s.query_id
             ORDER BY round((qc.qcd + s.qrsum) / (qn.qnorm * sqrt(s.den2)), 4)
                      DESC, s.vec_id) <= {_TOP_K}
    """


_ORACLE_IVF_PQ_RESIDUAL = _oracle_ivf_pq_residual(f"vec_id < {_N_QUERIES}")


@register("ivf_pq_residual_topk", oracle=_ORACLE_IVF_PQ_RESIDUAL)
def ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 6 — RESIDUAL IVF-PQ, the faithful billion-vector design
    (Jegou et al. 2011's IVFADC, public knowledge): instead of
    quantizing raw vectors, PQ encodes each vector's RESIDUAL from its
    coarse centroid, r = v - c_bucket. Residuals are centered near zero,
    so the code budget spends its precision on the part of the vector
    the coarse quantizer could not explain — the reconstruction is
    v_hat = c_bucket + r_hat. At identical 4-byte code cost, measured
    per-(vec, sub) reconstruction SSE on the sf0.01 fixture is 0.210 vs
    0.227 for rung 5's raw-code reconstruction (~8% lower; pinned in
    tests/test_vectors.py). The gain is modest here because the
    stand-in codebooks are untrained means — with real k-means training
    the residual design's advantage is what makes IVFADC the standard —
    but the direction is the design's, and the dataflow is exact.
    (The training claim is substantiated on the plain-PQ side:
    ``pq_trained_adc_topk`` / ``ivf_pq_trained_serve_topk`` swap in
    seeded k-means codebooks at equal code budget and measure 10x /
    1.6x the label-mean recall — the same swap applies here.)

    ADC decomposes exactly into broadcast-sized lookup tables:
      numerator  q.v_hat        = qc[query, bucket] + sum_sub qr[query, sub, code]
      |v_hat|^2  per (bucket, codes) = sum_sub cn2[bucket, sub]
                 + 2*cbr[bucket, sub, code] + rn2[sub, code]
    so query-time work per candidate is still m lookup-adds against
    in-memory tables: (query x bucket) coarse dots, (query x sub x code)
    residual dots, and the data-independent cbr/cn2/rn2 norms. No
    candidate float vector is touched.

    Deterministic stand-in "training", same stance as every rung:
    coarse centroids are label means; the residual codebook's 16 entries
    per subspace are means over the vec_id % 16 groups — arbitrary but
    deterministic partitions make the whole operator hash-checkable
    (seeded k-means would slot in at 100 TB without changing the
    dataflow). Encode argmin orders by ROUND(d2, 8) with code tie-break;
    ranking by ROUND(score, 4) with vec_id tie-break.

    This rung IS the residual index build (10 scans of the base table,
    22 shuffles — PLAN_AUDIT's heaviest row); the serve-many half reads
    the staged artifact instead: ``ivf_pq_residual_serve_topk``."""
    codes, rn2, cbr, cn2sub, qr, qc, qn, assign, probes, _, _ = _residual_parts(
        spark, sf_dir
    )
    cand = assign.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe_label"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "bucket")
    s = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(qr), ["query_id", "sub", "code"])
        .join(F.broadcast(rn2), ["sub", "code"])
        .join(F.broadcast(cbr), ["bucket", "sub", "code"])
        .join(F.broadcast(cn2sub), ["bucket", "sub"])
        .groupBy("query_id", "vec_id", "bucket")
        .agg(
            F.sum("qrd").alias("qrsum"),
            F.sum(F.col("cn2") + 2 * F.col("cbr") + F.col("rn2")).alias("den2"),
        )
    )
    scored = (
        s.join(F.broadcast(qc), ["query_id", "bucket"])
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "adc_cosine",
            F.round(
                (F.col("qcd") + F.col("qrsum"))
                / (F.col("qnorm") * F.sqrt(F.col("den2"))),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", "adc_cosine")
    )


def _residual_parts(
    spark: SparkSession, sf_dir: str, q_lo: int = 0, q_hi: int = _N_QUERIES
):
    """The residual-IVF-PQ building blocks, single-sourced for the
    inline rung and the index staging (expressions unchanged so both
    produce bit-identical frames): residual codes, the three
    data-independent norm/cross tables (rn2, cbr, cn2sub), the
    query-side lookups (qr, qc, qn), the coarse (assign, probes), and
    the two codebooks (cent, rcb) a fresh batch routes/scores from.
    ``q_lo``/``q_hi`` select the query batch (default: the prebuilt
    router's batch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = V.explode_vectors(emb, ["vec_id", "label"], "embedding").withColumn(
        "sub", F.floor(F.col("pos") / _PQ_DIM)
    )
    cent = lf.groupBy(F.col("label").alias("clabel"), "pos").agg(F.avg("v").alias("cv"))
    assign, probes = _probe_frames(spark, sf_dir, q_lo=q_lo, q_hi=q_hi)
    # rename the centroid's pos before the join: cent derives from lf, so
    # an unaliased self-join makes pos ambiguous
    cent_r = cent.select("clabel", F.col("pos").alias("_cpos"), "cv")
    rlf = (
        lf.join(assign, "vec_id")
        .join(
            F.broadcast(cent_r),
            (F.col("bucket") == F.col("clabel")) & (F.col("pos") == F.col("_cpos")),
        )
        .select(
            "vec_id",
            F.pmod(F.col("vec_id"), F.lit(_PQ_NCODES)).alias("g"),
            "sub",
            "pos",
            (F.col("v") - F.col("cv")).alias("rv"),
        )
    )
    rcb = rlf.groupBy("sub", F.col("g").alias("code"), "pos").agg(F.avg("rv").alias("rcv"))
    d2 = (
        rlf.join(F.broadcast(rcb), ["sub", "pos"])
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum((F.col("rv") - F.col("rcv")) * (F.col("rv") - F.col("rcv"))).alias("d2"))
    )
    wenc = Window.partitionBy("vec_id", "sub").orderBy(F.round("d2", 8), "code")
    codes = (
        d2.withColumn("_rn", F.row_number().over(wenc))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "sub", "code")
    )
    rn2 = rcb.groupBy("sub", "code").agg(F.sum(F.col("rcv") * F.col("rcv")).alias("rn2"))
    subcent = cent.withColumn("sub", F.floor((F.col("pos")) / _PQ_DIM))
    cbr = (
        subcent.join(F.broadcast(rcb), ["sub", "pos"])
        .groupBy(F.col("clabel").alias("bucket"), "sub", "code")
        .agg(F.sum(F.col("cv") * F.col("rcv")).alias("cbr"))
    )
    cn2sub = subcent.groupBy(F.col("clabel").alias("bucket"), "sub").agg(
        F.sum(F.col("cv") * F.col("cv")).alias("cn2")
    )
    q = lf.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi))
    qr = (
        q.join(F.broadcast(rcb), ["sub", "pos"])
        .groupBy(F.col("vec_id").alias("query_id"), "sub", "code")
        .agg(F.sum(F.col("v") * F.col("rcv")).alias("qrd"))
    )
    qc = (
        q.join(F.broadcast(cent), "pos")
        .groupBy(F.col("vec_id").alias("query_id"), F.col("clabel").alias("bucket"))
        .agg(F.sum(F.col("v") * F.col("cv")).alias("qcd"))
    )
    qn = q.groupBy(F.col("vec_id").alias("query_id")).agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qnorm")
    )
    return codes, rn2, cbr, cn2sub, qr, qc, qn, assign, probes, cent, rcb


def _staged_ivfpq_residual_index(spark: SparkSession, sf_dir: str) -> str:
    """Residual-IVF-PQ index staged to parquet (the serve-many half of
    the repo's heaviest build plan): residual ``codes`` bucket-
    partitioned by coarse assignment; ``dlut`` — the data-independent
    denominator table pre-joined to one row per (bucket, sub, code)
    with dpart = cn2 + 2·cbr + rn2 (nlist × m × ncodes rows, KB-sized);
    ``qrlut`` — per-query residual dots; ``qclut`` — per-query coarse
    dots merged with query norms; ``probes`` — the router output;
    ``centroids`` + ``rcodebook`` — the coarse and residual codebooks,
    not read by the prebuilt-batch serve but the part of the artifact a
    FRESH query batch routes and builds its ADC lookups from (the
    residual twin of the plain index's ``centroids/``). The pre-join of
    the three denominator tables at BUILD time is what collapses
    serving's five scoring joins down to two.

    Salt derives from the family parameters (ADVICE r7): changing the
    subspace width, codebook size, or query-batch count re-addresses
    the slot instead of serving a stale artifact."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        codes, rn2, cbr, cn2sub, qr, qc, qn, assign, probes, cent, rcb = (
            _residual_parts(spark, sf_dir)
        )
        write_result(codes.join(assign, "vec_id"), str(out / "codes"), partition_by=["bucket"])
        dlut = (
            cbr.join(cn2sub, ["bucket", "sub"])
            .join(rn2, ["sub", "code"])
            .select(
                "bucket",
                "sub",
                "code",
                (F.col("cn2") + 2 * F.col("cbr") + F.col("rn2")).alias("dpart"),
            )
        )
        write_result(dlut, str(out / "dlut"), coalesce_to=1)
        write_result(qr, str(out / "qrlut"), coalesce_to=1)
        write_result(qc.join(qn, "query_id"), str(out / "qclut"), coalesce_to=1)
        write_result(probes, str(out / "probes"), coalesce_to=1)
        write_result(cent, str(out / "centroids"), coalesce_to=1)
        write_result(rcb, str(out / "rcodebook"), coalesce_to=1)

    salt = f"ivfpq_res:d{_PQ_DIM}:c{_PQ_NCODES}:q{_N_QUERIES}:v2"
    return staged(
        spark, "ivfpq_res", Path(sf_dir) / "embeddings.parquet", salt, build
    )


@register("ivf_pq_residual_serve_topk", oracle=_ORACLE_IVF_PQ_RESIDUAL)
def ivf_pq_residual_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 6-SERVE — the residual (IVFADC) twin of
    ``ivf_pq_serve_topk``: identical math and oracle as
    ``ivf_pq_residual_topk``, but the executed plan reads only the
    staged index (VERDICT r5 noted the inline residual rung as the
    repo's heaviest plan — 22 shuffles, 19 broadcasts, 10 scans of the
    base table; this serve plan is 2 shuffles and never touches
    ``embeddings``, pinned in tests/test_vectors.py).

    The exact ADC decomposition's three data-independent denominator
    tables were PRE-JOINED at build time into one (bucket, sub, code)
    lookup, so scoring is: DPP-pruned inverted-list seek → one
    broadcast join for the per-query residual dots → one for the
    denominator parts → per-(query, candidate) sum → one broadcast of
    the per-(query, bucket) coarse dots + norms. Per-candidate work is
    m lookup-adds, the IVFADC serving contract."""
    root = _staged_ivfpq_residual_index(spark, sf_dir)
    codes = spark.read.parquet(f"{root}/codes")
    probes = spark.read.parquet(f"{root}/probes").filter(
        F.col("query_id") < _N_QUERIES
    )
    dlut = spark.read.parquet(f"{root}/dlut")
    qrlut = spark.read.parquet(f"{root}/qrlut")
    qclut = spark.read.parquet(f"{root}/qclut")
    return _residual_adc_serve_topk(codes, probes, qrlut, dlut, qclut)


def _residual_adc_serve_topk(
    codes: DataFrame,
    probes: DataFrame,
    qrlut: DataFrame,
    dlut: DataFrame,
    qclut: DataFrame,
) -> DataFrame:
    """The residual (IVFADC) serving tail shared by the prebuilt-batch
    and fresh-batch rungs (the residual twin of ``_adc_serve_topk``):
    DPP-pruned inverted-list seek → broadcast join for the per-query
    residual dots → broadcast join for the prebuilt denominator parts →
    per-(query, candidate, bucket) sum → broadcast of the per-(query,
    bucket) coarse dots + norms → rounded score → per-query top-k. Two
    shuffles total (scoring aggregate + top-k window)."""
    cand = codes.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe_label"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    s = (
        cand.join(F.broadcast(qrlut), ["query_id", "sub", "code"])
        .join(F.broadcast(dlut), ["bucket", "sub", "code"])
        .groupBy("query_id", "vec_id", "bucket")
        .agg(F.sum("qrd").alias("qrsum"), F.sum("dpart").alias("den2"))
    )
    scored = s.join(F.broadcast(qclut), ["query_id", "bucket"]).withColumn(
        "adc_cosine",
        F.round(
            (F.col("qcd") + F.col("qrsum")) / (F.col("qnorm") * F.sqrt(F.col("den2"))),
            4,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", "adc_cosine")
    )


@register(
    "ivf_pq_residual_serve_fresh_topk",
    oracle=_oracle_ivf_pq_residual(
        f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}"
    ),
)
def ivf_pq_residual_serve_fresh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 rung 6-SERVE-FRESH (VERDICT r7 #2): a FRESH query batch against
    the RESIDUAL (IVFADC) index — the better-recall production shape
    (measured ~8% lower reconstruction SSE at equal code cost) serving
    queries the index build never saw. Routing and ALL query-side ADC
    lookup tables are computed at query time from the staged codebooks
    (``centroids/`` for coarse routing + coarse dots, ``rcodebook/`` for
    the residual dots); the data-independent denominator stays the
    prebuilt ``dlut``.

    Query-time work is all batch-sized: the batch long form (Q×dim rows)
    joins the two broadcast codebooks to produce the probe ranking
    (round(cos, 8), clabel tie-break — identical to the build-side
    ordering so a parquet round-trip of the centroids cannot flip a
    near-tie bucket), the per-(query, sub, code) residual dots, the
    per-(query, bucket) coarse dots, and the query norms. The corpus is
    touched only through the bucket-partitioned residual codes scan,
    DPP-pruned to the probed inverted lists — zero base-table scans
    (pinned in tests/test_vectors.py)."""
    root = _staged_ivfpq_residual_index(spark, sf_dir)
    batch = spark.read.parquet(_staged_fresh_query_batch(spark, sf_dir))
    return _residual_serve_fresh_from_index(spark, root, batch)


def _residual_serve_fresh_from_index(
    spark: SparkSession, root: str, batch: DataFrame, n_probes: int = 2
) -> DataFrame:
    """Query-time routing + residual ADC-lookup construction for a fresh
    batch against a staged IVFADC index (the body of
    ``ivf_pq_residual_serve_fresh_topk``, parameterized over the probe
    count so the recall-vs-probes curve can sweep the residual path
    too — ADVICE r8). Routes via the shared ``_route_probes`` and scores
    via the shared ``_residual_adc_serve_topk`` tail; only the
    query-side lookup construction (residual dots from ``rcodebook/``,
    coarse dots + norms from ``centroids/``) is built here."""
    cent = spark.read.parquet(f"{root}/centroids")
    rcb = spark.read.parquet(f"{root}/rcodebook")
    qlf = V.explode_vectors(batch, ["query_id"], "embedding").withColumn(
        "sub", F.floor(F.col("pos") / _PQ_DIM)
    )
    if _ckpt_serve_luts(spark):
        # r21 change 1 (guide §2.4/§5.4): the legacy plan scanned and
        # exploded the 5-query batch FOUR times (router, qrlut, qc, qn —
        # plans/r21/ivf_pq_residual_serve_fresh_topk_before.txt), each
        # under its own multi-stage broadcast-build job. The router pass
        # already computes every per-(query, bucket) statistic the
        # coarse-dot lookup needs, so qclut is a projection of the fused
        # router stats and the batch long form is materialized once.
        qlf = qlf.localCheckpoint(eager=False)
        router = _routed_query_stats(qlf, cent).localCheckpoint(eager=False)
        probes = _probes_from_stats(router, n_probes)
        qclut = router.select(
            "query_id",
            F.col("clabel").alias("bucket"),
            "qcd",
            F.sqrt("qn2").alias("qnorm"),
        )
    else:
        probes = _route_probes(qlf, cent, n_probes)
        qc = (
            qlf.join(F.broadcast(cent), "pos")
            .groupBy("query_id", F.col("clabel").alias("bucket"))
            .agg(F.sum(F.col("v") * F.col("cv")).alias("qcd"))
        )
        qn = qlf.groupBy("query_id").agg(
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qnorm")
        )
        qclut = qc.join(qn, "query_id")
    # query-side ADC lookups from the staged codebooks
    qrlut = (
        qlf.join(F.broadcast(rcb), ["sub", "pos"])
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(F.col("v") * F.col("rcv")).alias("qrd"))
    )
    codes = spark.read.parquet(f"{root}/codes")
    dlut = spark.read.parquet(f"{root}/dlut")
    return _residual_adc_serve_topk(codes, probes, qrlut, dlut, qclut)


def _staged_fresh_query_stream(spark: SparkSession, sf_dir: str) -> str:
    """The fresh-batch payload as a STREAM-TAILABLE directory (the online
    twin of ``_staged_fresh_query_batch``): same (query_id, embedding)
    rows, but written as 3 hash-partitioned files so a file-source tail
    with ``maxFilesPerTrigger=1`` drains it as a REAL multi-micro-batch
    stream — one file per trigger, exactly how fresh vectors arrive as
    an S3 prefix of per-interval drops. Per-query serve output is
    independent of which micro-batch a query lands in, so the file split
    only shapes the stream, never the result."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        write_result(
            emb.filter(
                (F.col("vec_id") >= _FRESH_LO) & (F.col("vec_id") < _FRESH_HI)
            )
            .select(F.col("vec_id").alias("query_id"), "embedding")
            .repartition(3, "query_id"),
            str(out),
        )

    salt = f"freshqs:lo{_FRESH_LO}:hi{_FRESH_HI}:f3"
    return staged(
        spark, "ivfpq_freshqs", Path(sf_dir) / "embeddings.parquet", salt, build
    )


def _stream_serve_fresh(
    spark: SparkSession,
    root: str,
    payload_dir: str,
    n_probes: int = 2,
    epochs: list | None = None,
    timeout_s: int = 300,
    serve_body=None,
) -> DataFrame:
    """Drive the ONLINE serving loop: tail ``payload_dir`` as a file
    stream (one file per trigger), serve each micro-batch of fresh
    query vectors through the SAME ``_serve_fresh_from_index`` body the
    batch rung runs (or ``serve_body`` — any ``(spark, root, batch,
    n_probes) -> DataFrame`` serving tail; the trained rung passes
    ``_trained_serve_from_index`` so the one harness drives both
    indexes) — routing + ADC lookups computed micro-batch-side
    from the staged codebooks, corpus touched only via the DPP-pruned
    codes seek — and append each micro-batch's top-k to a parquet sink
    (executor-side write; no driver collect). Returns the drained sink.

    ``epochs``, when given, collects one ``(batch_id, serve_s)`` pair
    per micro-batch so tests can pin that the payload really arrived as
    multiple micro-batches and tools/bench_stream.py can record the
    per-micro-batch serve latency. The sink/checkpoint scratch is
    run-scoped (results, not a staged artifact — the staging root holds
    only build-once state) and REMOVED before returning (ADVICE r9:
    every invocation otherwise leaks a top-k parquet + checkpoint into
    tmp); the drained result — batch-sized, Q×k rows — is re-created as
    a local DataFrame so nothing returned depends on the deleted files."""
    import shutil
    import tempfile
    import time

    schema = spark.read.parquet(payload_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(payload_dir)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_serve_")
    sink, ckpt = f"{scratch}/out", f"{scratch}/ckpt"

    body = serve_body or _serve_fresh_from_index

    def serve(mb: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        body(spark, root, mb, n_probes=n_probes).write.mode(
            "append"
        ).parquet(sink)
        if epochs is not None:
            epochs.append((epoch_id, round(time.time() - t0, 3)))

    from dataengineerchallenge_spark.streaming.runner import drain_foreach_batch

    try:
        drain_foreach_batch(sdf, serve, ckpt, "stream serve", timeout_s=timeout_s)
        drained = spark.read.parquet(sink)
        result = local_frame(spark, drained.collect(), drained.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return result


@register(
    "stream_serve_fresh_topk",
    oracle=_oracle_ivf_pq(f"vec_id >= {_FRESH_LO} AND vec_id < {_FRESH_HI}"),
)
def stream_serve_fresh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3×T6 STREAMING serve rung (VERDICT r7 #6 / r8 missing #3): the
    online surface of the build/serve split. Fresh query vectors arrive
    as a tailed file stream (one payload file per trigger); every
    micro-batch is served against the STAGED IVF-PQ index via
    foreachBatch running the registered fresh-serve body, and the
    per-micro-batch top-k appends to the results sink. Identical rows to
    the batch rung ``ivf_pq_serve_fresh_topk`` regardless of how the
    stream is sliced (per-query results are micro-batch-local), so it
    shares that rung's hash-checked IVF-PQ oracle — a streaming query
    with full value-hash verification, not just a rows-only contract.
    Stream-vs-batch parity and the >=2-micro-batch shape are pinned in
    tests/test_vectors.py; per-micro-batch serve latency is measured in
    BENCH_stream.json."""
    root = _staged_ivfpq_index(spark, sf_dir)
    payload = _staged_fresh_query_stream(spark, sf_dir)
    return _stream_serve_fresh(spark, root, payload)


@register("stream_serve_trained_topk")
def stream_serve_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3×T6 at the PRODUCTION index (round 11): the same online
    serving loop as ``stream_serve_fresh_topk`` — fresh query payload
    tailed one file per trigger, foreachBatch serve, executor-side sink
    append — but every micro-batch is served against the ALL-TRAINED
    IVF-PQ index (k-means coarse cells + trained PQ codebooks) through
    the shared ``_trained_serve_from_index`` tail. One harness, two
    indexes: the ``serve_body`` parameter is the only difference, so
    the online story holds at the index the production stack actually
    ships. Rows-only per contract (two k-means fits, same stance as
    ``ivf_pq_trained_serve_topk``); stream-vs-batch parity against that
    batch rung is pinned in tests/test_vectors.py."""
    root = _staged_trained_ivfpq_index(spark, sf_dir)
    payload = _staged_fresh_query_stream(spark, sf_dir)
    return _stream_serve_fresh(
        spark, root, payload, serve_body=_trained_serve_from_index
    )


_SEM_OFF = 1_000_000
_SEM_TAU = 0.99


_SEMANTIC_DEDUP_ORACLE = f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, label, len(embedding) AS dim, embedding AS e FROM embeddings
    ), u AS (
      SELECT vec_id, label,
             [e[i]::DOUBLE FOR i IN range(1, dim + 1)] AS e
      FROM base
      UNION ALL
      SELECT vec_id + {_SEM_OFF}, label,
             [CASE WHEN i - 1 = vec_id % dim THEN e[i] * 1.1
                   ELSE e[i]::DOUBLE END FOR i IN range(1, dim + 1)]
      FROM base
      UNION ALL
      SELECT vec_id + {2 * _SEM_OFF}, label,
             [CASE WHEN i - 1 = (vec_id + 1) % dim THEN e[i] * 0.9
                   ELSE e[i]::DOUBLE END FOR i IN range(1, dim + 1)]
      FROM base
    ), lf AS (
      SELECT vec_id, label, generate_subscripts(e, 1)::INT AS pos,
             unnest(e) AS v
      FROM u
    ), cent AS (
      SELECT label AS clabel, pos, avg(v) AS cv FROM lf GROUP BY label, pos
    ), sims AS (
      SELECT lf.vec_id, cent.clabel,
             sum(lf.v * cent.cv)
               / (sqrt(sum(lf.v * lf.v)) * sqrt(sum(cent.cv * cent.cv))) AS cos
      FROM lf JOIN cent ON lf.pos = cent.pos
      GROUP BY lf.vec_id, cent.clabel
    ), assign AS (
      SELECT vec_id, clabel FROM sims
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) = 1
    ), pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM assign a
      JOIN assign b ON a.clabel = b.clabel AND a.vec_id < b.vec_id
      JOIN u ua ON ua.vec_id = a.vec_id
      JOIN u ub ON ub.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(ua.e, ub.e), 4) >= {_SEM_TAU}
    ), ed AS (
      SELECT ia AS s, ib AS d FROM pairs UNION ALL SELECT ib, ia FROM pairs
    ), reach(node, comp) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM ed) t
      UNION
      SELECT ed.d, r.comp FROM reach r JOIN ed ON ed.s = r.node
    ), cc AS (
      SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    )
    SELECT u.vec_id,
           CAST(COALESCE(cc.component, u.vec_id) AS BIGINT) AS semantic_cluster,
           (u.vec_id = COALESCE(cc.component, u.vec_id)) AS kept
    FROM u LEFT JOIN cc ON cc.node = u.vec_id
    """


def _semantic_union_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deliveries of the embedding corpus: the originals plus two
    deterministic RE-EMBEDDINGS (one coordinate scaled 1.1 / 0.9 — the
    jitter a re-run of an embedding model or a near-identical source
    document produces; measured cosine >= 0.9991 to the base vector
    while genuine cross-pairs top out at 0.51, so the tau = 0.99 cut
    has a ~0.48 margin and no float-tie risk). Disjoint id spaces via
    +1M/+2M offsets; elements cast to double in BOTH engines before
    any arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = F.size("embedding")
    as_dbl = F.transform("embedding", lambda x: x.cast("double"))
    j1 = F.transform(
        "embedding",
        lambda x, i: F.when(
            i == F.col("vec_id") % dim, x.cast("double") * 1.1
        ).otherwise(x.cast("double")),
    )
    j2 = F.transform(
        "embedding",
        lambda x, i: F.when(
            i == (F.col("vec_id") + 1) % dim, x.cast("double") * 0.9
        ).otherwise(x.cast("double")),
    )
    d1 = emb.select("vec_id", "label", as_dbl.alias("e"))
    d2 = emb.select(
        (F.col("vec_id") + _SEM_OFF).alias("vec_id"), "label", j1.alias("e")
    )
    d3 = emb.select(
        (F.col("vec_id") + 2 * _SEM_OFF).alias("vec_id"), "label", j2.alias("e")
    )
    return d1.unionByName(d2).unionByName(d3)


@register("semantic_dedup_corpus", oracle=_SEMANTIC_DEDUP_ORACLE)
def semantic_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3+/N2 SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023 —
    VERDICT r14 #4): cluster embeddings with the explicit label-mean
    coarse quantizer (the determinism trick every hash-green IVF rung
    uses), emit within-cluster cosine >= tau pairs (bounded by cluster
    size — never all-pairs, the property that makes SemDeDup tractable
    where exact pairwise dedup is n^2), label duplicate groups with the
    O(log n) star-contraction CC (`operators/graph.py`), and keep ONE
    survivor per group (the minimum id, which IS the component label).
    Emits every corpus row with its semantic_cluster and kept flag —
    the frame a curation pipeline filters on.

    The corpus is three deliveries: originals + two deterministic
    re-embeddings (`_semantic_union_corpus`) — semantic duplicates by
    construction, so the dedup has real work at every SF (the fixture's
    genuine cross-pairs max at cosine 0.51). Hash-green end to end: the
    oracle replays centroid arithmetic, assignment, the tau cut and a
    recursive-CTE CC fixpoint in DuckDB.

    Scale shape: centroid assign is one broadcast join + partial agg
    (the IVF build plan); the pair stage shuffles once on the cluster
    key with per-cluster bounded fanout; CC runs O(log n) rounds over
    the PAIR set (tiny relative to the corpus). The cluster-boundary
    recall loss (a dup pair split across clusters is missed) is the
    published SemDeDup trade, pinned in tests/test_vectors_r15.py."""
    from dataengineerchallenge_spark.operators.graph import (
        connected_components_star,
    )

    u = _semantic_union_corpus(spark, sf_dir)
    lf = V.explode_vectors(u, ["vec_id", "label"], "e")
    cent = lf.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.avg("v").alias("cv")
    )
    sims = (
        lf.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(
            (
                F.sum(F.col("v") * F.col("cv"))
                / (
                    F.sqrt(F.sum(F.col("v") * F.col("v")))
                    * F.sqrt(F.sum(F.col("cv") * F.col("cv")))
                )
            ).alias("cos")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cos", 8)), F.asc("clabel")
    )
    assign = (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "clabel")
    )
    ue = u.select("vec_id", "e")
    av = assign.join(ue, "vec_id")

    # per-cluster pairwise cosine as ONE Arrow-batched matrix product —
    # the published SemDeDup implementation shape (within-cluster
    # similarity is a dense n_c x n_c matmul, GPU-friendly at scale).
    # The relational alternative (self-join + higher-order-function
    # cosine per pair) was measured at 97 s on the sf0.1 union corpus:
    # 16M pairs x 3 array folds, all row-at-a-time in the HOF
    # interpreter; the grouped matmul does the same arithmetic in
    # vectorized BLAS and returns only the surviving pairs (~2 s).
    # Threshold note: the UDF compares raw float64 cosine >= tau while
    # the oracle compares ROUND(cos, 4) >= tau — equivalent on this
    # corpus because dup pairs sit at >= 0.9991 and non-dups at <= 0.51
    # (a 0.48 margin; no pair lands within any rounding convention's
    # reach of the cut).
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["e"].to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1)
        cos = (m @ m.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= _SEM_TAU
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "src": np.minimum(ia, ib).astype("int64"),
                "dst": np.maximum(ia, ib).astype("int64"),
            }
        )

    pairs = av.groupBy("clabel").applyInPandas(
        _cluster_pairs, "src long, dst long"
    )
    comp = connected_components_star(pairs).withColumnRenamed("node", "vec_id")
    cluster = F.coalesce("component", F.col("vec_id")).cast("long")
    return (
        u.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            cluster.alias("semantic_cluster"),
            (F.col("vec_id") == cluster).alias("kept"),
        )
    )


_RRF_K = 60
_RRF_LEG_N = 50
_RRF_OUT = 10

# shared CTE chain: lexical + semantic legs and the fused frame — reused
# verbatim by the eval oracle so both queries ride identical arithmetic
_RRF_CTES = f"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    stats AS (SELECT count(*)::DOUBLE AS n,
                     avg(len(string_split(text, ' ')))::DOUBLE AS avgdl FROM documents),
    dl AS (SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl FROM documents),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN ('vector', 'stream', 'hash') GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
           WHERE term IN ('vector', 'stream', 'hash') GROUP BY term),
    bscored AS (
      SELECT tf.doc_id,
             CAST(ROUND(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                  * tf.tf * 2.2
                  / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                  * 1000000) AS BIGINT) AS term_micropoints
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
    bm AS (SELECT doc_id, CAST(SUM(term_micropoints) AS BIGINT) AS mp
           FROM bscored WHERE doc_id != 0 GROUP BY doc_id),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY mp DESC, doc_id) AS r
      FROM bm QUALIFY r <= {_RRF_LEG_N}
    ),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             round(list_cosine_similarity(e.embedding, qv.embedding), 4) AS c
      FROM embeddings e CROSS JOIN qv WHERE e.vec_id != 0
    ),
    sem AS (
      SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS r
      FROM cos QUALIFY r <= {_RRF_LEG_N}
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             COALESCE(lex.r, -1) AS lex_rank,
             COALESCE(sem.r, -1) AS sem_rank,
             CAST(ROUND((
               CASE WHEN lex.r IS NULL THEN 0.0 ELSE 1.0 / ({_RRF_K} + lex.r) END
               + CASE WHEN sem.r IS NULL THEN 0.0 ELSE 1.0 / ({_RRF_K} + sem.r) END
             ) * 1000000) AS BIGINT) AS rrf_micropoints
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )"""

_RRF_ORACLE = f"""
    WITH {_RRF_CTES}
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank, rrf_micropoints
    FROM fused
    ORDER BY rrf_micropoints DESC, doc_id LIMIT {_RRF_OUT}
    """


@register("hybrid_search_rrf", oracle=_RRF_ORACLE)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3++ HYBRID retrieval by reciprocal-rank fusion (Cormack,
    Clarke & Buettcher SIGIR'09) — the lexical and semantic legs every
    modern retrieval/curation stack runs side by side, fused RANK-wise
    so the incomparable score scales (BM25 micropoints vs cosine) never
    touch each other: score(d) = sum over legs of 1/(k + rank_d), k=60.
    Lexical leg = the repo's BM25 scorer (shared frame, identical
    micropoint arithmetic); semantic leg = cosine against the seed
    document's embedding (doc 0, excluded from both legs); each leg
    contributes its top-50, fusion emits the top-10. Ranks are assigned
    on integer micropoints / ROUND(4) cosine grids with doc_id
    tie-break, and the fused score is integerized to micropoints before
    the final ordering — every ordering key cross-engine exact.

    Scale shape: both legs are existing scale-vetted plans (filtered
    token explode + broadcast stats; broadcast-query cosine scan); the
    fusion itself joins two <=50-row frames — free at any corpus size.
    RRF beats score-normalization fusion precisely because it needs no
    corpus statistics, which is also what makes it hash-stable here."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from dataengineerchallenge_spark.queries.text import bm25_micropoints_frame

    bm = bm25_micropoints_frame(docs).filter(F.col("doc_id") != 0)
    lex = (
        bm.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("bm25_micropoints"), F.asc("doc_id")))
        )
        .filter(F.col("r") <= _RRF_LEG_N)
        .select("doc_id", F.col("r").alias("lex_r"))
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(V.cosine(F.col("embedding"), F.col("q_emb")), 4).alias("c"),
        )
    )
    sem = (
        cos.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("doc_id")))
        )
        .filter(F.col("r") <= _RRF_LEG_N)
        .select("doc_id", F.col("r").alias("sem_r"))
    )
    rrf = (
        F.when(F.col("lex_r").isNotNull(), F.lit(1.0) / (_RRF_K + F.col("lex_r"))).otherwise(F.lit(0.0))
        + F.when(F.col("sem_r").isNotNull(), F.lit(1.0) / (_RRF_K + F.col("sem_r"))).otherwise(F.lit(0.0))
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_r", F.lit(-1)).cast("long").alias("lex_rank"),
            F.coalesce("sem_r", F.lit(-1)).cast("long").alias("sem_rank"),
            F.round(rrf * 1_000_000, 0).cast("bigint").alias("rrf_micropoints"),
        )
        .orderBy(F.desc("rrf_micropoints"), F.asc("doc_id"))
        .limit(_RRF_OUT)
    )


_MMR_POOL = 50
_MMR_K = 10
# lambda = 0.7 expressed as the exact integer split 7:3 over basis-point
# similarity grids — the whole MMR objective stays in bigint arithmetic,
# so the greedy argmax is bit-identical on both engines by construction.
_MMR_NUM, _MMR_DEN = 7, 3


def _mmr_oracle() -> str:
    steps = []
    for i in range(2, _MMR_K + 1):
        steps.append(
            f"""p{i} AS MATERIALIZED (
      SELECT c.doc_id, c.rel, {_MMR_NUM} * c.rel - {_MMR_DEN} * MAX(s.s) AS obj
      FROM cand c
      JOIN sim s ON s.da = c.doc_id
        AND s.db IN (SELECT doc_id FROM sel{i - 1})
      WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{i - 1})
      GROUP BY c.doc_id, c.rel
      QUALIFY row_number() OVER (ORDER BY {_MMR_NUM} * c.rel
                                 - {_MMR_DEN} * MAX(s.s) DESC, c.doc_id) = 1
    ), sel{i} AS MATERIALIZED (
      SELECT doc_id FROM sel{i - 1} UNION ALL SELECT doc_id FROM p{i}
    )"""
        )
    chain = ",\n    ".join(steps)
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS mmr_rank, doc_id, rel, "
        + ("CAST(NULL AS BIGINT) AS obj" if i == 1 else "obj")
        + f" FROM p{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
    WITH qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id AS doc_id, e.embedding,
             CAST(ROUND(list_cosine_similarity(e.embedding, qv.embedding)
                        * 10000) AS BIGINT) AS rel
      FROM embeddings e CROSS JOIN qv WHERE e.vec_id != 0
    ),
    cand AS MATERIALIZED (
      SELECT doc_id, embedding, rel FROM scored
      QUALIFY row_number() OVER (ORDER BY rel DESC, doc_id) <= {_MMR_POOL}
    ),
    sim AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(ROUND(list_cosine_similarity(a.embedding, b.embedding)
                        * 10000) AS BIGINT) AS s
      FROM cand a JOIN cand b ON a.doc_id != b.doc_id
    ),
    p1 AS MATERIALIZED (
      SELECT doc_id, rel FROM cand
      QUALIFY row_number() OVER (ORDER BY rel DESC, doc_id) = 1
    ),
    sel1 AS MATERIALIZED (SELECT doc_id FROM p1),
    {chain}
    SELECT mmr_rank, doc_id, rel,
           COALESCE(obj, -1) AS mmr_obj
    FROM ({union})
    """


@register("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3++++ result DIVERSIFICATION by Maximal Marginal Relevance
    (Carbonell & Goldstein SIGIR'98) — the third stage of the retrieval
    stack this repo now runs end to end (retrieve: cosine/IVF-PQ →
    fuse: `hybrid_search_rrf` → diversify: this): greedily re-rank the
    top-50 cosine pool so each next pick maximizes
    lambda*rel(d) - (1-lambda)*max_sim(d, already-picked) — relevance
    minus redundancy, the screen that stops a near-dup-heavy corpus
    from answering a query with ten copies of one document (and the
    query-time mirror of what SemDeDup does at corpus level).

    Determinism: lambda=0.7 is expressed as the exact integer split
    7:3 over basis-point similarity grids (ROUND(cos*10000) as BIGINT),
    so the whole greedy objective is bigint arithmetic with doc_id
    tie-breaks — no float comparison anywhere, and the unrolled
    10-step oracle replays the identical argmax chain. The first pick
    is pure relevance (no redundancy term yet; mmr_obj = -1 sentinel).

    Scale shape: the pool is top-POOL of one broadcast-query cosine
    scan (the `cosine_topk_exact` plan); the greedy loop then touches
    only the POOL-row frame and its POOL^2 pairwise sims — k driver
    rounds of 1-row argmax actions over a broadcast-sized frame, the
    documented iterative-control pattern. At 100 TB nothing changes:
    MMR cost is a function of POOL and k, never corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            "embedding",
            F.round(V.cosine(F.col("embedding"), F.col("q_emb")) * 10000, 0)
            .cast("bigint")
            .alias("rel"),
        )
    )
    w = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    cand = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _MMR_POOL)
        .drop("_rn")
        .localCheckpoint()
    )
    sim = (
        cand.alias("a")
        .join(cand.alias("b"), F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.round(V.cosine(F.col("a.embedding"), F.col("b.embedding")) * 10000, 0)
            .cast("bigint")
            .alias("s"),
        )
        .localCheckpoint()
    )
    first = cand.orderBy(F.desc("rel"), F.asc("doc_id")).limit(1).collect()[0]
    picks = [(1, first["doc_id"], first["rel"], -1)]
    selected = [first["doc_id"]]
    for i in range(2, _MMR_K + 1):
        rows = (
            cand.filter(~F.col("doc_id").isin(selected))
            .join(sim.filter(F.col("db").isin(selected)), F.col("doc_id") == F.col("da"))
            .groupBy("doc_id", "rel")
            .agg(F.max("s").alias("ms"))
            .select(
                "doc_id",
                "rel",
                (_MMR_NUM * F.col("rel") - _MMR_DEN * F.col("ms")).alias("obj"),
            )
            .orderBy(F.desc("obj"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not rows:  # pool exhausted before k picks (pool < k)
            break
        nxt = rows[0]
        picks.append((i, nxt["doc_id"], nxt["rel"], nxt["obj"]))
        selected.append(nxt["doc_id"])
    return local_frame(
        spark, picks, "mmr_rank int, doc_id long, rel long, mmr_obj long"
    )


# 1/log2(i+1) rank discounts at ranks 1..10, pre-rounded to micropoints
# and injected as LITERALS into both engines (the Benford-table
# discipline: the discount curve is part of the metric's definition,
# not something each engine re-derives with its own libm).
_NDCG_DISC = {
    1: 1000000, 2: 630930, 3: 500000, 4: 430677,
    5: 386853, 6: 356207, 7: 333333, 8: 315465,
    9: 301030, 10: 289065,
}


def _retrieval_eval_oracle() -> str:
    disc = " UNION ALL ".join(
        f"SELECT {r} AS rank, {d} AS disc" for r, d in _NDCG_DISC.items()
    )
    return f"""
    WITH {_RRF_CTES},
    rrf10 AS (
      SELECT doc_id, row_number() OVER (ORDER BY rrf_micropoints DESC, doc_id) AS rank
      FROM fused QUALIFY rank <= {_RRF_OUT}
    ),
    cos10 AS (
      SELECT doc_id, r AS rank FROM sem WHERE r <= {_RRF_OUT}
    ),
    ranked AS (
      SELECT 'cosine' AS method, doc_id, rank FROM cos10
      UNION ALL SELECT 'rrf', doc_id, rank FROM rrf10
    ),
    seed AS (SELECT label FROM embeddings WHERE vec_id = 0),
    rel AS (
      SELECT e.vec_id AS doc_id,
             CASE WHEN e.label = seed.label THEN 1 ELSE 0 END AS is_rel
      FROM embeddings e CROSS JOIN seed WHERE e.vec_id != 0
    ),
    nrel AS (SELECT SUM(is_rel) AS n_rel FROM rel),
    d AS ({disc}),
    dcg AS (
      SELECT r.method,
             SUM(rl.is_rel) AS hits,
             SUM(rl.is_rel * d.disc) AS dcg_mp
      FROM ranked r JOIN rel rl ON rl.doc_id = r.doc_id
      JOIN d ON d.rank = r.rank
      GROUP BY r.method
    ),
    idcg AS (
      SELECT SUM(d.disc) AS idcg_mp
      FROM d CROSS JOIN nrel WHERE d.rank <= LEAST({_RRF_OUT}, nrel.n_rel)
    )
    SELECT dcg.method,
           CAST(dcg.hits AS BIGINT) AS hits_at_10,
           ROUND(dcg.hits / {_RRF_OUT}.0, 4) AS precision_at_10,
           CAST(dcg.dcg_mp AS BIGINT) AS dcg_micropoints,
           CAST(idcg.idcg_mp AS BIGINT) AS idcg_micropoints,
           CAST(ROUND(dcg.dcg_mp * 1000000.0 / idcg.idcg_mp) AS BIGINT)
             AS ndcg_micropoints
    FROM dcg CROSS JOIN idcg
    """


@register("retrieval_eval_labels", oracle=_retrieval_eval_oracle())
def retrieval_eval_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 eval closer — label-relevance evaluation of the retrieval
    stack IN-ENGINE: precision@10 and nDCG@10 for the cosine leg and
    the RRF fusion, with relevance = shares the seed document's label
    (the standard proxy-relevance protocol when no human judgments
    exist; `ann_recall_at_k` measures INTRINSIC fidelity vs exact
    search — this measures EXTRINSIC usefulness vs ground truth, the
    axis that tells you whether fusing the lexical leg helped or
    hurt). The 1/log2(i+1) discount curve enters as a pre-rounded
    micropoint LITERAL table shared by both engines (the Benford-table
    discipline), DCG/IDCG are integer sums over it, and nDCG ships as
    an integer micropoint ratio — the whole metric is exact bigint
    arithmetic, no libm anywhere.

    Scale shape: both system lists are <=10 rows, the relevance frame
    is one broadcast label join, the metric a 20-row aggregate — free
    at any corpus size; the expensive parts (the rankings) are the
    already-vetted leg plans."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    from dataengineerchallenge_spark.queries.text import bm25_micropoints_frame

    # semantic leg (shared construction with hybrid_search_rrf)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(V.cosine(F.col("embedding"), F.col("q_emb")), 4).alias("c"),
        )
    )
    sem = (
        cos.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("doc_id")))
        )
        .filter(F.col("r") <= _RRF_LEG_N)
        .select("doc_id", F.col("r").alias("sem_r"))
    )
    cos10 = sem.filter(F.col("sem_r") <= _RRF_OUT).select(
        F.lit("cosine").alias("method"), "doc_id", F.col("sem_r").alias("rank")
    )
    # fused list (same construction as hybrid_search_rrf)
    bm = bm25_micropoints_frame(docs).filter(F.col("doc_id") != 0)
    lex = (
        bm.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("bm25_micropoints"), F.asc("doc_id"))
            ),
        )
        .filter(F.col("r") <= _RRF_LEG_N)
        .select("doc_id", F.col("r").alias("lex_r"))
    )
    rrf = (
        F.when(F.col("lex_r").isNotNull(), F.lit(1.0) / (_RRF_K + F.col("lex_r"))).otherwise(F.lit(0.0))
        + F.when(F.col("sem_r").isNotNull(), F.lit(1.0) / (_RRF_K + F.col("sem_r"))).otherwise(F.lit(0.0))
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.round(rrf * 1_000_000, 0).cast("bigint").alias("rrf_mp"),
    )
    rrf10 = (
        fused.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("rrf_mp"), F.asc("doc_id"))),
        )
        .filter(F.col("rank") <= _RRF_OUT)
        .select(F.lit("rrf").alias("method"), "doc_id", "rank")
    )
    ranked = cos10.union(rrf10)
    seed = emb.filter(F.col("vec_id") == 0).select(F.col("label").alias("slabel"))
    rel = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(seed))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.when(F.col("label") == F.col("slabel"), 1).otherwise(0).alias("is_rel"),
        )
    )
    nrel = rel.agg(F.sum("is_rel").alias("n_rel"))
    d = local_frame(
        spark, [(r, v) for r, v in _NDCG_DISC.items()], "rank int, disc long"
    )
    dcg = (
        ranked.join(rel, "doc_id")
        .join(F.broadcast(d), "rank")
        .groupBy("method")
        .agg(
            F.sum("is_rel").alias("hits"),
            F.sum(F.col("is_rel") * F.col("disc")).alias("dcg_mp"),
        )
    )
    idcg = (
        d.crossJoin(F.broadcast(nrel))
        .filter(F.col("rank") <= F.least(F.lit(_RRF_OUT), F.col("n_rel")))
        .agg(F.sum("disc").alias("idcg_mp"))
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "method",
        F.col("hits").cast("long").alias("hits_at_10"),
        F.round(F.col("hits") / float(_RRF_OUT), 4).alias("precision_at_10"),
        F.col("dcg_mp").cast("long").alias("dcg_micropoints"),
        F.col("idcg_mp").cast("long").alias("idcg_micropoints"),
        F.round(F.col("dcg_mp") * 1000000.0 / F.col("idcg_mp"), 0)
        .cast("bigint")
        .alias("ndcg_micropoints"),
    )


_HARDNEG_K = 5


@register(
    "ann_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding, label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    pairs AS (
      SELECT q.query_id, q.label AS query_label,
             c.vec_id AS neg_id, c.label AS neg_label,
             CAST(ROUND(list_cosine_similarity(q.embedding, c.embedding)
                        * 10000) AS BIGINT) AS cos_bp
      FROM q JOIN embeddings c
        ON q.query_id != c.vec_id AND q.label != c.label
    )
    SELECT query_id, neg_id,
           CAST(query_label AS BIGINT) AS query_label,
           CAST(neg_label AS BIGINT) AS neg_label,
           cos_bp,
           CAST(rnk AS BIGINT) AS neg_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_bp DESC, neg_id) AS rnk
      FROM pairs)
    WHERE rnk <= {_HARDNEG_K}
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3-mine HARD-NEGATIVE MINING — the contrastive-training data op
    (in-batch negatives are easy; what moves a retriever/embedder is
    training against the CLOSEST wrong-label examples — the standard
    dense-retrieval recipe popularized by DPR, Karpukhin et al.
    EMNLP'20): for each designated query vector, the top-5 most-similar
    embeddings whose label DIFFERS — near misses the model currently
    confuses, emitted as (query, negative, labels, similarity, rank)
    triplet fodder. Similarities land on the basis-point integer grid
    with neg_id tie-break, so ranking is cross-engine exact.

    Scale shape: the label-mismatch predicate rides the same
    broadcast-query scan as `cosine_topk_exact` (the filter prunes
    same-label candidates BEFORE the window), per-query top-k is the
    Q-key window — one scan + one tiny-key exchange regardless of
    corpus size; the production path swaps the exact scan for the
    IVF-PQ serve rungs unchanged (mine from the index, re-rank exact:
    the `ivf_pq_serve_rerank_topk` composition)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("query_label"),
    )
    pairs = (
        F.broadcast(q)
        .join(
            emb,
            (F.col("query_id") != F.col("vec_id"))
            & (F.col("query_label") != F.col("label")),
        )
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")) * 10000, 0)
            .cast("bigint")
            .alias("cos_bp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_bp"), F.asc("neg_id"))
    return (
        pairs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _HARDNEG_K)
        .select(
            "query_id",
            "neg_id",
            F.col("query_label").cast("long").alias("query_label"),
            F.col("neg_label").cast("long").alias("neg_label"),
            "cos_bp",
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
    )


def _staged_ivfpq_labeled_vectors(spark: SparkSession, sf_dir: str) -> str:
    """Bucket-partitioned (vec_id, embedding, label) — the re-rank half
    of the label-mean index with the LABEL riding alongside, so the
    hard-negative serve rung's label-mismatch filter never joins back to
    the base table (at 100 TB a labels-by-id join is corpus-sized; the
    production layout keeps mining payload columns in the inverted-list
    artifact)."""
    return _staged_vectors_partitioned(
        spark,
        sf_dir,
        lambda: _probe_frames(spark, sf_dir)[0],
        "ivfpq_lvecs",
        "ivfvecs:r1:label",
        extra_cols=("label",),
    )


_HARDNEG_PROBES = 6  # probed cells per query for served mining. Chosen
# from the measured recall-vs-probes curve of the served miner against
# exact mining (sf0.001/0.01/0.1): 5 probes 0.64/0.80/0.72, 6 probes
# 0.80/0.88/0.80, 8 probes 0.92/0.96/0.96 — the knee is 6 on a 10-cell
# fixture. An ADC top-R cut BEFORE the label filter was measured and
# rejected: same-label near neighbors crowd the R=50 candidate list out
# (recall 0.12-0.32), and filtering labels before the cut doesn't help
# because label-mean PQ codes barely order vectors WITHIN a foreign
# cell — for mining, the PQ stage subtracts recall without bounding
# anything the probe fan-out doesn't already bound.


@register(
    "ann_hard_negatives_served",
    oracle=f"""
    WITH lf AS (
      SELECT vec_id, label, u.pos::INT AS pos, u.v::DOUBLE AS v
      FROM (SELECT vec_id, label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, label, v, pos)
    ),
    cent AS (SELECT label AS clabel, pos, avg(v) AS cv
             FROM lf GROUP BY label, pos),
    csims AS (
      SELECT lf.vec_id, cent.clabel,
             sum(lf.v * cent.cv)
               / (sqrt(sum(lf.v * lf.v)) * sqrt(sum(cent.cv * cent.cv))) AS cos
      FROM lf JOIN cent ON lf.pos = cent.pos
      GROUP BY lf.vec_id, cent.clabel
    ),
    assign AS (
      SELECT vec_id, clabel AS bucket FROM csims
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, clabel) = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, clabel AS probe_label FROM csims
      WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, clabel) <= {_HARDNEG_PROBES}
    )
    SELECT p.query_id, v.vec_id AS neg_id,
           CAST(q.label AS BIGINT) AS query_label,
           CAST(v.label AS BIGINT) AS neg_label,
           CAST(ROUND(list_cosine_similarity(q.embedding, v.embedding)
                      * 10000) AS BIGINT) AS cos_bp,
           CAST(row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY ROUND(list_cosine_similarity(q.embedding, v.embedding)
                            * 10000) DESC, v.vec_id) AS BIGINT) AS neg_rank
    FROM probes p
    JOIN assign a ON a.bucket = p.probe_label
    JOIN embeddings v ON v.vec_id = a.vec_id AND v.vec_id != p.query_id
    JOIN embeddings q ON q.vec_id = p.query_id AND v.label <> q.label
    QUALIFY neg_rank <= {_HARDNEG_K}
    """,
)
def ann_hard_negatives_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3-mine SERVED hard-negative mining (VERDICT r15 #4 — the rung
    `ann_hard_negatives`'s docstring promised): mine from the staged IVF
    index instead of the exact corpus scan. The query batch routes on
    the staged coarse codebook (`_route_probes`, the serve rungs'
    router) to its top-{_HARDNEG_PROBES} cells; every vector in the
    probed cells is DPP-seeked — WITH its label — from the
    bucket-partitioned labeled staged copy
    (`_staged_ivfpq_labeled_vectors`), exact cosine re-ranks the
    survivors under the label-mismatch filter, and the top-{_HARDNEG_K}
    negatives per query emit on the basis-point grid. The oracle replays
    routing + probed-cell fetch + exact re-rank, so the served miner is
    value-checked end-to-end; recall vs exact mining (>= 0.80 at 6
    probes, every SF) is pinned in tests/test_vectors_r16.py.

    DESIGN NOTE (measured, see _HARDNEG_PROBES): the obvious 'reuse the
    ADC rerank candidates' composition mines badly — hard negatives are
    by definition crowded out of an overall top-R by same-label
    neighbors, and the PQ codes barely order vectors within foreign
    cells — so the mining path keeps the IVF probe bound and drops the
    PQ cut: per-query cost is {_HARDNEG_PROBES} inverted lists' float
    vectors (f(probes x cell size), never the corpus; mining is an
    offline pass where that trade is the right one). The base table is
    never scanned for candidates — labels ride the staged artifact."""
    root = _staged_ivfpq_index(spark, sf_dir)
    vroot = _staged_ivfpq_labeled_vectors(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "embedding",
        F.col("label").alias("query_label"),
    )
    cent = spark.read.parquet(f"{root}/centroids")
    qlf = V.explode_vectors(
        batch.select("query_id", "embedding"), ["query_id"], "embedding"
    )
    probes = _route_probes(qlf, cent, _HARDNEG_PROBES)
    vecs = spark.read.parquet(f"{vroot}/vecs")
    q = batch.select(
        "query_id", F.col("embedding").alias("q_emb"), "query_label"
    )
    rr = (
        vecs.join(F.broadcast(probes), F.col("bucket") == F.col("probe_label"))
        .join(F.broadcast(q), "query_id")
        .filter(
            (F.col("label") != F.col("query_label"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            "query_label",
            F.col("label").alias("neg_label"),
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")) * 10000, 0)
            .cast("bigint")
            .alias("cos_bp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_bp"), F.asc("neg_id"))
    return (
        rr.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _HARDNEG_K)
        .select(
            "query_id",
            "neg_id",
            F.col("query_label").cast("long").alias("query_label"),
            F.col("neg_label").cast("long").alias("neg_label"),
            "cos_bp",
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
    )


@register(
    "sq8_adc_topk",
    oracle=f"""
    WITH lf AS (
      SELECT u.pos::INT AS pos, u.v::DOUBLE AS v
      FROM (SELECT unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(v, pos)
    ),
    stats AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM lf GROUP BY pos),
    arrs AS (SELECT list(mn ORDER BY pos) AS mn_arr,
                    list(mx ORDER BY pos) AS mx_arr FROM stats),
    dq AS (
      SELECT vec_id,
             [CASE WHEN mx_arr[i] > mn_arr[i]
                   THEN mn_arr[i]
                        + round((embedding[i]::DOUBLE - mn_arr[i]) * 255
                                / (mx_arr[i] - mn_arr[i]))
                          * (mx_arr[i] - mn_arr[i]) / 255
                   ELSE mn_arr[i] END
              FOR i IN range(1, len(embedding) + 1)] AS dqv
      FROM embeddings CROSS JOIN arrs
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(ROUND(list_sum(
               [c.dqv[i] * q.embedding[i]::DOUBLE
                FOR i IN range(1, len(q.embedding) + 1)]) * 10000, 0)
               AS BIGINT) AS score_bp
      FROM embeddings q JOIN dq c
        ON q.vec_id < {_N_QUERIES} AND q.vec_id != c.vec_id
    )
    SELECT query_id, vec_id, score_bp
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score_bp DESC, vec_id) <= {_TOP_K}
    """,
)
def sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 SCALAR QUANTIZATION (SQ8) rung — the 4x-compression tier the
    ANN ladder had a gap at: PQ (m subvectors -> codebook ids, ~32x,
    needs training) vs SQ8 (per-DIMENSION affine int8, 4x, training-
    free — just per-dim min/max), which is FAISS's
    ScalarQuantizer/QT_8bit and the usual first step down from float32
    because recall loss is near zero. Asymmetric scoring (ADC): the
    query stays exact float, candidates dequantize from their codes —
    same stance as the PQ-ADC rungs.

    Everything is a pure function of the corpus: per-dim min/max are
    exact f32 reductions, the int8 code is one identically-rounded
    double per (vector, dim), and the dot product is scored on the
    dequantized values then landed on a BASIS-POINT integer grid with
    vec_id tie-breaks (the hard-negatives ranking discipline) — so the
    training-free quantizer hash-checks end to end, unlike the trained
    PQ rungs which are rows-only by contract.

    Scale shape: the stats frame is 64 rows (broadcast); codes live as
    one int8-range array per vector (the store is |V| x 64 bytes — the
    compression IS the point at 100 TB); scoring streams candidates
    past the broadcast queries exactly like cosine_topk_exact, one scan
    + one tiny-key top-k exchange. Recall-vs-exact pinned in
    tests/test_vectors_r16.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = V.explode_vectors(emb, ["vec_id"], "embedding")
    stats = lf.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    arrs = stats.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mn_arr"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("mx_arr"),
    )
    dq = emb.crossJoin(F.broadcast(arrs)).select(
        "vec_id",
        F.expr(
            "transform(sequence(0, size(embedding) - 1), i -> "
            "CASE WHEN mx_arr[i] > mn_arr[i] THEN mn_arr[i] "
            "  + round((cast(embedding[i] AS double) - mn_arr[i]) * 255 "
            "          / (mx_arr[i] - mn_arr[i])) "
            "    * (mx_arr[i] - mn_arr[i]) / 255 "
            "ELSE mn_arr[i] END)"
        ).alias("dqv"),
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = F.broadcast(q).join(dq, F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        "vec_id",
        F.round(
            F.expr(
                "aggregate(zip_with(dqv, q_emb, (x, y) -> x * cast(y AS double)),"
                " 0D, (acc, z) -> acc + z)"
            )
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("score_bp"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_bp"), F.asc("vec_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", "score_bp")
    )


# Shortlist size: measured recall@10 vs exact on the sf0.001 fixture is
# 68% at 50, 84% at 100, 94% at 150 (tests probe) — 100 is the knee;
# at larger corpora the constant becomes a vanishing fraction of |V|
# while the rerank cost stays fixed.
_BQ_SHORTLIST = 100


@register(
    "bq_hamming_rerank_topk",
    oracle=f"""
    WITH lf AS (
      SELECT vec_id, u.pos::INT AS pos, u.v::DOUBLE AS v
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, v, pos)
    ),
    med AS (
      SELECT pos, v AS med FROM (
        SELECT pos, v,
               ROW_NUMBER() OVER (PARTITION BY pos ORDER BY v, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY pos) AS n
        FROM lf
      ) WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
    ),
    bits AS (
      SELECT lf.vec_id, lf.pos,
             CASE WHEN lf.v > med.med THEN 1 ELSE 0 END AS b
      FROM lf JOIN med USING (pos)
    ),
    codes AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN pos < 32 THEN b * (1::BIGINT << pos)
                           ELSE 0 END) AS BIGINT) AS fa,
             CAST(SUM(CASE WHEN pos >= 32 THEN b * (1::BIGINT << (pos - 32))
                           ELSE 0 END) AS BIGINT) AS fb
      FROM bits GROUP BY vec_id
    ),
    short AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(bit_count(xor(q.fa, c.fa)) + bit_count(xor(q.fb, c.fb))
                  AS INT) AS hamming
      FROM codes q JOIN codes c
        ON q.vec_id < {_N_QUERIES} AND q.vec_id != c.vec_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                 ORDER BY hamming, c.vec_id)
              <= {_BQ_SHORTLIST}
    ),
    rerank AS (
      SELECT s.query_id, s.vec_id, s.hamming,
             CAST(ROUND(list_sum(
               [q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                FOR i IN range(1, len(q.embedding) + 1)]) * 10000, 0)
               AS BIGINT) AS score_bp
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, hamming, score_bp
    FROM rerank
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score_bp DESC, vec_id) <= {_TOP_K}
    """,
)
def bq_hamming_rerank_topk(
    spark: SparkSession, sf_dir: str, shortlist: int = _BQ_SHORTLIST
) -> DataFrame:
    """N3 BINARY QUANTIZATION rung — the 32x tier below SQ8's 4x: one
    bit per dimension (v > per-dim MEDIAN, packed into two int32
    halves), Hamming-distance shortlist of 100, exact-dot
    re-rank of the survivors — the bq+rescore pipeline every vector
    store ships (FAISS binary indexes, pgvector/Qdrant binary
    quantization) because Hamming on packed bits is orders cheaper
    than float dot and the re-rank repairs the precision.

    MEDIAN thresholds, not means, and not only for bit balance: the
    median is a nearest-rank SELECTED DATUM (integer row_number
    arithmetic, vec_id tie-break), so the bit boundary is an exact f32
    value both engines compare identically — a mean threshold would
    hang every bit on a float-accumulation-order edge. Codes, Hamming,
    and the shortlist are all-integer; the re-rank lands on the
    basis-point grid with id tie-breaks.

    Scale shape: codes are 8 bytes/vector (the compression IS the
    candidate-generation budget at 100 TB); the shortlist join streams
    candidate codes past the broadcast query codes (same profile as
    cosine_topk_exact but on 8-byte rows); only |shortlist| full
    vectors are ever fetched for the re-rank — the fetch is a semi-join
    by id, not a scan. Recall-vs-exact pinned in
    tests/test_vectors_r16.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = V.explode_vectors(emb, ["vec_id"], "embedding")
    w_med = Window.partitionBy("pos").orderBy("v", "vec_id")
    med = (
        lf.withColumn("rn", F.row_number().over(w_med))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("pos")))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long"))
        .select("pos", F.col("v").alias("med"))
    )
    bits = lf.join(F.broadcast(med), "pos").select(
        "vec_id",
        "pos",
        F.when(F.col("v") > F.col("med"), 1).otherwise(0).alias("b"),
    )
    codes = bits.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("pos") < 32,
                F.col("b").cast("bigint") * F.expr("shiftleft(1L, pos)"),
            ).otherwise(0)
        ).alias("fa"),
        F.sum(
            F.when(
                F.col("pos") >= 32,
                F.col("b").cast("bigint") * F.expr("shiftleft(1L, pos - 32)"),
            ).otherwise(0)
        ).alias("fb"),
    )
    qc = codes.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("fa").alias("qfa"),
        F.col("fb").alias("qfb"),
    )
    hamming = (
        F.bit_count(F.col("qfa").bitwiseXOR(F.col("fa")))
        + F.bit_count(F.col("qfb").bitwiseXOR(F.col("fb")))
    ).cast("int")
    w_short = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    short = (
        F.broadcast(qc)
        .join(codes, F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", hamming.alias("hamming"))
        .withColumn("_rn", F.row_number().over(w_short))
        .filter(F.col("_rn") <= shortlist)
        .drop("_rn")
    )
    qv = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    cv = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    rerank = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "vec_id")
        .select(
            "query_id",
            "vec_id",
            "hamming",
            F.round(
                F.expr(
                    "aggregate(zip_with(q_emb, c_emb,"
                    " (x, y) -> cast(x AS double) * cast(y AS double)),"
                    " 0D, (acc, z) -> acc + z)"
                )
                * 10000,
                0,
            )
            .cast("bigint")
            .alias("score_bp"),
        )
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("score_bp"), F.asc("vec_id"))
    return (
        rerank.withColumn("_rn", F.row_number().over(w_top))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", "hamming", "score_bp")
    )


@register(
    "embedding_source_centroid_similarity",
    oracle="""
    WITH lf AS (
      SELECT d.source, u.pos::INT AS dim,
             CAST(ROUND(u.v::DOUBLE * 1000000, 0) AS BIGINT) AS vi
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, v, pos)
      JOIN documents d ON d.doc_id = u.vec_id
    ),
    cen AS (
      SELECT source, dim, CAST(SUM(vi) AS BIGINT) AS c
      FROM lf GROUP BY source, dim
    ),
    dots AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM cen a JOIN cen b ON a.dim = b.dim AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    norms AS (
      SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM cen GROUP BY source
    )
    SELECT d.sa AS source_a, d.sb AS source_b,
           CAST(ROUND(d.dot / (sqrt(na.n2) * sqrt(nb.n2)) * 10000, 0)
                AS BIGINT) AS cosine_bp
    FROM dots d
    JOIN norms na ON na.source = d.sa
    JOIN norms nb ON nb.source = d.sb
    """,
)
def embedding_source_centroid_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise cosine of per-source embedding CENTROIDS — the
    embedding-space counterpart of the token-space JSD matrix (two
    independent redundancy readouts for the same mixing decision): a
    near-1 centroid pair says two sources occupy the same semantic
    region even when their token mixes differ. Centroid sums are
    per-dimension BIGINT sums of per-element micro-integerized floats
    (order-free — a raw float sum would hang on accumulation order);
    dot and norms are exact bigint moments (bounded: (Σ|v|·10⁶)²·64 ≪
    2⁶³ at these SFs — at larger corpora the centroid would integerize
    the MEAN per dim onto a fixed grid instead); the one double
    expression (dot/√·√) lands in ROUND with the identical DAG.

    Scale: one explode + (source, dim) partial-agg (64·|S| rows of
    state), then a |S|²·64 pair join on the dim key — corpus-sized
    work is the single embedding scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    lf = (
        emb.join(docs, "vec_id")
        .select("source", F.posexplode("embedding").alias("dim", "v"))
        .select(
            "source",
            "dim",
            F.round(F.col("v").cast("double") * 1000000, 0)
            .cast("long")
            .alias("vi"),
        )
    )
    cen = lf.groupBy("source", "dim").agg(F.sum("vi").alias("c"))
    a = cen.select(
        F.col("source").alias("sa"), "dim", F.col("c").alias("ca")
    )
    b = cen.select(
        F.col("source").alias("sb"), F.col("dim").alias("dimb"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, (F.col("dim") == F.col("dimb")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    norms = cen.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    na = norms.select(F.col("source").alias("sa"), F.col("n2").alias("na"))
    nb = norms.select(F.col("source").alias("sb"), F.col("n2").alias("nb"))
    return (
        dots.join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))) * 10000,
                0,
            )
            .cast("bigint")
            .alias("cosine_bp"),
        )
    )


_PC_ITERS = 48
_PC_DIMS = 64


def _pc_oracle(iters: int = _PC_ITERS) -> str:
    """Unrolled power iteration over the covariance rows. Every float
    reduction is a 0-initialized LEFT FOLD (list_prepend(0.0, …) +
    list_reduce) so the summation order matches Spark's
    aggregate(…, 0D, +) bit-for-bit — verified empirically on
    mixed-magnitude folds before this operator was written."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""w{k} AS MATERIALIZED (
      SELECT c.i,
             list_reduce(list_prepend(0.0::DOUBLE,
               [c.carr[t] * v.varr[t] FOR t IN range(1, {_PC_DIMS + 1})]),
               (a, b) -> a + b) AS w
      FROM cov c CROSS JOIN v{k - 1} v
    ), wa{k} AS MATERIALIZED (
      SELECT list(w ORDER BY i) AS warr FROM w{k}
    ), v{k} AS MATERIALIZED (
      SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               [warr[t] * warr[t] FOR t IN range(1, {_PC_DIMS + 1})]),
               (a, b) -> a + b)) AS nrm,
             [warr[t] / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               [warr[s] * warr[s] FOR s IN range(1, {_PC_DIMS + 1})]),
               (a, b) -> a + b)) FOR t IN range(1, {_PC_DIMS + 1})] AS varr
      FROM wa{k}
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH lf AS (
      SELECT u.vec_id, u.pos::INT AS i,
             CAST(ROUND(u.v::DOUBLE * 1000000, 0) AS BIGINT) AS vi
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, v, pos)
    ),
    nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM lf),
    m AS (SELECT i, CAST(SUM(vi) AS BIGINT) AS mi FROM lf GROUP BY i),
    s2 AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.vi * b.vi) AS BIGINT) AS s
      FROM lf a JOIN lf b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    cc AS (
      SELECT s2.i, s2.j,
             s2.s * 1.0 / nn.n
             - ma.mi * 1.0 * mb.mi / (nn.n * 1.0 * nn.n) AS c
      FROM s2
      JOIN m ma ON ma.i = s2.i
      JOIN m mb ON mb.i = s2.j
      CROSS JOIN nn
    ),
    cov AS MATERIALIZED (
      SELECT i, list(c ORDER BY j) AS carr FROM cc GROUP BY i
    ),
    v0 AS (SELECT CAST(NULL AS DOUBLE) AS nrm,
                  [0.125::DOUBLE FOR t IN range(1, {_PC_DIMS + 1})] AS varr),
    {chain}
    SELECT t AS dim,
           CAST(ROUND(v.varr[t] * 1000000, 0) AS BIGINT)
             AS loading_micropoints,
           CAST(ROUND(v.nrm / 1000000.0, 0) AS BIGINT) AS lambda_micropoints
    FROM v{iters} v, (SELECT unnest(range(1, {_PC_DIMS + 1})) AS t)
    """


@register("embedding_principal_component", oracle=_pc_oracle())
def embedding_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dominant principal direction of the embedding corpus by
    48-step POWER ITERATION on the exact-moment covariance —
    the primitive behind all-but-the-top embedding post-processing
    (Mu & Viswanath, ICLR 2018) and the corpus-anisotropy audit. The
    CONTRACT is the Rayleigh lower bound, not eigenvector identity:
    after 48 steps the iterate's Rayleigh quotient reaches
    ≥ 0.98·λ₁ at both fixture SFs (pinned vs numpy eigh) — the
    variance number the subtract-or-not ABTT decision consumes —
    while the VECTOR need not align when the spectrum is degenerate.
    And it is: the fixture's measured λ₂/λ₁ is 0.93-0.98, i.e. these
    synthetic embeddings are nearly ISOTROPIC — no dominant direction
    worth removing, the honest negative ABTT result (on real
    sentence-embedding corpora the top ratio is typically far from 1
    and the same 48 steps converge outright).

    Float discipline, the most demanding in the repo: covariance
    enters as EXACT integer moments (per-element micro-integerization,
    Σvᵢvⱼ and Σvᵢ as bigints — order-free), widened to double with an
    identical operand DAG; every subsequent reduction (matvec rows,
    norms) is a 0-initialized LEFT FOLD over arrays in index order —
    Spark's aggregate(zip_with(…), 0D, +) and DuckDB's
    list_reduce(list_prepend(0.0, …)) produce bit-identical doubles
    (verified on mixed-magnitude folds). 48 fixed iterations from the
    all-positive v₀ = 1/8 vector (deterministic sign), checkpointed
    every 8 rounds; the output integerizes loadings and the Rayleigh
    norm only at the end.

    Scale: one embedding scan fans out the 64² moment pairs (bounded
    by dims², not corpus); the iteration runs on a 64-row covariance
    frame — the aggregate-then-iterate shape shared with the hourly
    analytics and the graph family."""
    emb = load_table(spark, sf_dir, "embeddings")
    lf = emb.select(
        "vec_id", F.posexplode("embedding").alias("p0", "v")
    ).select(
        "vec_id",
        (F.col("p0") + 1).alias("i"),
        F.round(F.col("v").cast("double") * 1000000, 0).cast("long").alias("vi"),
    )
    nn = lf.agg(F.count_distinct("vec_id").alias("n"))
    m = lf.groupBy("i").agg(F.sum("vi").alias("mi"))
    a = lf.select("vec_id", F.col("i").alias("ia"), F.col("vi").alias("va"))
    b = lf.select(
        F.col("vec_id").alias("vb"), F.col("i").alias("jb"), F.col("vi").alias("wb")
    )
    s2 = (
        a.join(b, F.col("vec_id") == F.col("vb"))
        .groupBy(F.col("ia").alias("i"), F.col("jb").alias("j"))
        .agg(F.sum(F.col("va") * F.col("wb")).alias("s"))
    )
    cc = (
        s2.join(m.select(F.col("i").alias("mi_i"), F.col("mi").alias("ma")),
                F.col("i") == F.col("mi_i"))
        .join(m.select(F.col("i").alias("mj_i"), F.col("mi").alias("mb")),
              F.col("j") == F.col("mj_i"))
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (
                F.col("s") * 1.0 / F.col("n")
                - F.col("ma") * 1.0 * F.col("mb") / (F.col("n") * 1.0 * F.col("n"))
            ).alias("c"),
        )
    )
    cov = cc.groupBy("i").agg(
        F.expr("transform(array_sort(collect_list(struct(j, c))), x -> x.c)").alias(
            "carr"
        )
    ).localCheckpoint()
    v = local_frame(
        emb.sparkSession, [([0.125] * _PC_DIMS,)], "varr array<double>"
    ).withColumn("nrm", F.lit(None).cast("double"))
    for it in range(_PC_ITERS):
        wrow = cov.crossJoin(F.broadcast(v.select("varr"))).select(
            "i",
            F.expr(
                "aggregate(zip_with(carr, varr, (x, y) -> x * y), 0D,"
                " (a, b) -> a + b)"
            ).alias("w"),
        )
        warr = wrow.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, w))), x -> x.w)"
            ).alias("warr")
        )
        v = warr.select(
            F.expr(
                "sqrt(aggregate(transform(warr, y -> y * y), 0D, (a, b) -> a + b))"
            ).alias("nrm"),
            "warr",
        ).select(
            "nrm",
            F.expr("transform(warr, x -> x / nrm)").alias("varr"),
        )
        if (it + 1) % 8 == 0:
            v = v.localCheckpoint()
    return v.select(
        F.posexplode("varr").alias("d0", "loading"), F.col("nrm")
    ).select(
        (F.col("d0") + 1).cast("long").alias("dim"),
        F.round(F.col("loading") * 1000000, 0)
        .cast("bigint")
        .alias("loading_micropoints"),
        F.round(F.col("nrm") / 1000000.0, 0).cast("bigint").alias("lambda_micropoints"),
    )


@register(
    "ivf_pq_serve_retracted_topk",
    oracle=_oracle_ivf_pq(
        f"vec_id < {_N_QUERIES}", cand_pred=" AND a.vec_id % 10 != 0"
    ),
)
def ivf_pq_serve_retracted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE retraction on the ANN store — the vector-store leg of
    the retraction lifecycle (VERDICT r17 next-round #3a, mirroring
    ``phrase_search_inverted_retracted``): a takedown list (every
    vec_id % 10 == 0) is anti-joined out of the bucket-partitioned
    inverted code lists at serve time. The index's TRAINED state —
    coarse centroids, PQ codebooks, assignments — stays frozen, exactly
    the FAISS ``remove_ids`` semantics and the same frozen-codebook
    discipline the append rung already uses; what retraction removes is
    the vectors' presence in the served lists. Graded against the
    full-index oracle with tombstoned vectors excluded from the
    candidate set, so a green row proves serve-time tombstoning ≡ a
    list rebuild without the vectors (codes rows are per-vector, like
    postings rows are per-doc — the anti-join mechanism, not the
    edge store's algebraic un-fold). A compaction pass would drop the
    rows and rewrite the bucket partitions on the same content-addressed
    slot versioning the appends use.

    Plan shape: the broadcast anti-join rides the same DPP-pruned bucket
    seek as ``ivf_pq_serve_topk`` — delta-sized extra work (measured
    noise-level in BENCH_tombstone.json; the retracted serve is in fact
    FASTER, candidates shrink). The tombstone list itself is derived
    here from the base table's vec_id column (one column-pruned scan of
    the fixture); a real deployment supplies the takedown list as its
    own tiny input, and the codes-side plan is unchanged either way."""
    root = _staged_ivfpq_index(spark, sf_dir)
    codes = spark.read.parquet(f"{root}/codes")
    tombstones = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % 10 == 0)
    )
    live = codes.join(F.broadcast(tombstones), "vec_id", "left_anti")
    probes = spark.read.parquet(f"{root}/probes").filter(
        F.col("query_id") < _N_QUERIES
    )
    qlut = spark.read.parquet(f"{root}/qlut")
    return _adc_serve_topk(live, probes, qlut)


_PCR_COMPONENTS = 4


def _pcr_chain(r: int = _PCR_COMPONENTS, iters: int = _PC_ITERS) -> str:
    """The WITH-body of the unrolled top-r power iteration WITH Hotelling
    deflation (shared by the r4 rung and the ABTT whitening rung):
    component c runs the same 0-init left-fold matvec chain as
    `_pc_oracle` on cov{c}, then cov{c+1} = cov{c} -
    ((nrm_c * v_c[i]) * v_c[t]) — explicit parenthesization shared with
    the driver-side Python loop so every double op applies in the
    identical order. Ends at v{r}_{iters}; callers append their tail."""
    blocks = []
    for c in range(1, r + 1):
        steps = [
            f"""v{c}_0 AS (SELECT CAST(NULL AS DOUBLE) AS nrm,
                  [0.125::DOUBLE FOR t IN range(1, {_PC_DIMS + 1})] AS varr)"""
        ]
        for k in range(1, iters + 1):
            steps.append(
                f"""w{c}_{k} AS MATERIALIZED (
      SELECT c.i,
             list_reduce(list_prepend(0.0::DOUBLE,
               [c.carr[t] * v.varr[t] FOR t IN range(1, {_PC_DIMS + 1})]),
               (a, b) -> a + b) AS w
      FROM cov{c} c CROSS JOIN v{c}_{k - 1} v
    ), wa{c}_{k} AS MATERIALIZED (
      SELECT list(w ORDER BY i) AS warr FROM w{c}_{k}
    ), v{c}_{k} AS MATERIALIZED (
      SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               [warr[t] * warr[t] FOR t IN range(1, {_PC_DIMS + 1})]),
               (a, b) -> a + b)) AS nrm,
             [warr[t] / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               [warr[s] * warr[s] FOR s IN range(1, {_PC_DIMS + 1})]),
               (a, b) -> a + b)) FOR t IN range(1, {_PC_DIMS + 1})] AS varr
      FROM wa{c}_{k}
    )"""
            )
        if c < r:
            steps.append(
                f"""cov{c + 1} AS MATERIALIZED (
      SELECT c.i,
             [c.carr[t] - ((v.nrm * v.varr[c.i]) * v.varr[t])
              FOR t IN range(1, {_PC_DIMS + 1})] AS carr
      FROM cov{c} c CROSS JOIN v{c}_{iters} v
    )"""
            )
        blocks.append(",\n    ".join(steps))
    chain = ",\n    ".join(blocks)
    return f"""lf AS (
      SELECT u.vec_id, u.pos::INT AS i,
             CAST(ROUND(u.v::DOUBLE * 1000000, 0) AS BIGINT) AS vi
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u(vec_id, v, pos)
    ),
    nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM lf),
    m AS (SELECT i, CAST(SUM(vi) AS BIGINT) AS mi FROM lf GROUP BY i),
    s2 AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.vi * b.vi) AS BIGINT) AS s
      FROM lf a JOIN lf b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    cc AS (
      SELECT s2.i, s2.j,
             s2.s * 1.0 / nn.n
             - ma.mi * 1.0 * mb.mi / (nn.n * 1.0 * nn.n) AS c
      FROM s2
      JOIN m ma ON ma.i = s2.i
      JOIN m mb ON mb.i = s2.j
      CROSS JOIN nn
    ),
    cov1 AS MATERIALIZED (
      SELECT i, list(c ORDER BY j) AS carr FROM cc GROUP BY i
    ),
    {chain}"""


def _pcr_oracle(r: int = _PCR_COMPONENTS, iters: int = _PC_ITERS) -> str:
    finals = "\n    UNION ALL\n    ".join(
        f"""SELECT {c} AS component, t AS dim,
           CAST(ROUND(v.varr[t] * 1000000, 0) AS BIGINT)
             AS loading_micropoints,
           CAST(ROUND(v.nrm / 1000000.0, 0) AS BIGINT) AS lambda_micropoints
    FROM v{c}_{iters} v, (SELECT unnest(range(1, {_PC_DIMS + 1})) AS t)"""
        for c in range(1, r + 1)
    )
    return f"""
    WITH {_pcr_chain(r, iters)}
    {finals}
    """


@register("embedding_principal_components_r4", oracle=_pcr_oracle())
def embedding_principal_components_r4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOP-4 principal directions by power iteration + HOTELLING
    DEFLATION (VERDICT r17 next-round #5 — the multi-component extension
    of `embedding_principal_component` that ABTT-style whitening
    actually consumes: Mu & Viswanath 2018 subtract the top-r, not the
    top-1): after each 48-step left-fold power run, the covariance is
    deflated, C ← C − λ·vvᵀ, and the same schedule reruns from the same
    v₀ — four components, 192 matvec rounds total.

    Execution split (the honest 100 TB shape): the ONLY corpus-sized
    work is the single exact-moment scan (per-element micro-integerized
    Σvᵢvⱼ / Σvᵢ bigints, order-free — identical to the PC1 rung); the
    64×64 covariance then COLLECTS to the driver (dims²-bounded, ~32 KB
    — the MMR-pool / drained-store exemption class) and the 4×48
    iteration runs as plain IEEE-double Python loops in exactly the
    0-init left-fold order the DuckDB oracle unrolls — CPython and
    DuckDB both execute literal IEEE-754 ops, so the fold parity the PC1
    rung proved engine-to-engine holds here term-for-term (and is
    hash-VERIFIED every round by this very rung). Distributing a 64-row
    matvec 192 times would be pure scheduler overhead — the PC1 rung
    keeps that distributed-iteration form as the contrast; this rung is
    what a production job would run.

    Contracts (tests/test_r18.py): per-component Rayleigh
    quotient against numpy eigh's spectrum, pairwise orthogonality
    |vᵢ·vⱼ| bounded on the integer grid, and ABTT's residual-variance
    readout (Σ top-4 λ honest against the near-isotropic fixture
    spectrum — the same negative result PC1 reports, now with 4× the
    evidence)."""
    comps, _mi, _nn = _pcr_train(spark, sf_dir, _PCR_COMPONENTS)
    out_rows = []
    for comp, (v, nrm) in enumerate(comps, start=1):
        for t in range(_PC_DIMS):
            out_rows.append(
                (
                    comp,
                    t + 1,
                    int(_half_up(v[t] * 1000000)),
                    int(_half_up(nrm / 1000000.0)),
                )
            )
    return local_frame(
        spark,
        out_rows,
        "component long, dim long, loading_micropoints long,"
        " lambda_micropoints long",
    )


def _pcr_train(
    spark: SparkSession, sf_dir: str, r: int
) -> tuple[list[tuple[list[float], float]], dict, int]:
    """The shared deflation-ladder trainer: ONE distributed exact-moment
    scan, then the driver replays the oracle's covariance DAG and
    left-fold power/deflation schedule in IEEE doubles. Returns
    ([(unit vector, |Cv| norm)] per component, per-dim integer moment
    sums, corpus count) — the r4 rung integerizes the trace, the ABTT
    whitening rung consumes the raw doubles (bit-equal to the oracle's
    v{c}_{iters} CTEs by the fold-parity argument the r4 rung
    hash-verifies every round)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    lf = emb.select(
        "vec_id", F.posexplode("embedding").alias("p0", "v")
    ).select(
        "vec_id",
        (F.col("p0") + 1).alias("i"),
        F.round(F.col("v").cast("double") * 1000000, 0).cast("long").alias("vi"),
    )
    nn = lf.agg(F.count_distinct("vec_id").alias("n")).collect()[0]["n"]
    mrows = lf.groupBy("i").agg(F.sum("vi").alias("mi")).collect()
    mi = {r0["i"]: r0["mi"] for r0 in mrows}
    a = lf.select("vec_id", F.col("i").alias("ia"), F.col("vi").alias("va"))
    b = lf.select(
        F.col("vec_id").alias("vb"), F.col("i").alias("jb"), F.col("vi").alias("wb")
    )
    srows = (
        a.join(b, F.col("vec_id") == F.col("vb"))
        .groupBy(F.col("ia").alias("i"), F.col("jb").alias("j"))
        .agg(F.sum(F.col("va") * F.col("wb")).alias("s"))
        .collect()
    )
    # covariance entries with the IDENTICAL operand DAG as the oracle's
    # cc CTE (s*1.0/n - ma*1.0*mb/(n*1.0*n)); ints < 2^53 convert exactly
    cov = [[0.0] * _PC_DIMS for _ in range(_PC_DIMS)]
    for r0 in srows:
        i, j, s = r0["i"], r0["j"], r0["s"]
        cov[i - 1][j - 1] = s * 1.0 / nn - mi[i] * 1.0 * mi[j] / (nn * 1.0 * nn)
    comps = []
    for comp in range(1, r + 1):
        v = [0.125] * _PC_DIMS
        nrm = 0.0
        for _ in range(_PC_ITERS):
            w = []
            for i in range(_PC_DIMS):
                acc = 0.0
                for t in range(_PC_DIMS):
                    acc = acc + cov[i][t] * v[t]
                w.append(acc)
            acc = 0.0
            for t in range(_PC_DIMS):
                acc = acc + w[t] * w[t]
            nrm = math.sqrt(acc)
            v = [w[t] / nrm for t in range(_PC_DIMS)]
        comps.append((v, nrm))
        if comp < r:
            for i in range(_PC_DIMS):
                for t in range(_PC_DIMS):
                    cov[i][t] = cov[i][t] - ((nrm * v[i]) * v[t])
    return comps, mi, nn


def _half_up(x: float) -> float:
    """HALF-UP rounding to integer — Spark's ROUND(x, 0) / DuckDB's
    ROUND semantics (Python's round() is banker's, which differs on
    exact .5 ties)."""
    import math

    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


_ABTT_R = 2


def _abtt_oracle() -> str:
    """WITH-chain = the r=2 deflation ladder, then the whitening tail:
    mean-center every micro-integerized vector, subtract its projection
    on each top component SEQUENTIALLY (w ← w − (w·u_k)u_k — for the
    near-orthogonal u's this is ABTT's subtraction, replayed in one
    fixed order both engines share), and run exact cosine top-k on the
    whitened vectors. All reductions are 0-init left folds."""
    d = _PC_DIMS
    steps = [
        f"""mu AS MATERIALIZED (
      SELECT list(mi * 1.0 / n ORDER BY i) AS mu
      FROM (SELECT m.i, m.mi, nn.n FROM m CROSS JOIN nn)
    ), dv AS MATERIALIZED (
      SELECT vec_id,
             [CAST(ROUND(embedding[t]::DOUBLE * 1000000, 0) AS BIGINT)
              FOR t IN range(1, {d + 1})] AS arr
      FROM embeddings
    ), wh0 AS MATERIALIZED (
      SELECT vec_id,
             [dv.arr[t] * 1.0 - mu.mu[t] FOR t IN range(1, {d + 1})] AS w
      FROM dv CROSS JOIN mu
    )"""
    ]
    for c in range(1, _ABTT_R + 1):
        steps.append(
            f"""dt{c} AS MATERIALIZED (
      SELECT wh{c - 1}.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               [wh{c - 1}.w[s] * u.varr[s] FOR s IN range(1, {d + 1})]),
               (a, b) -> a + b) AS dot
      FROM wh{c - 1} CROSS JOIN v{c}_{_PC_ITERS} u
    ), wh{c} AS MATERIALIZED (
      SELECT wh{c - 1}.vec_id,
             [wh{c - 1}.w[t] - (dt{c}.dot * u.varr[t])
              FOR t IN range(1, {d + 1})] AS w
      FROM wh{c - 1}
      JOIN dt{c} ON dt{c}.vec_id = wh{c - 1}.vec_id
      CROSS JOIN v{c}_{_PC_ITERS} u
    )"""
        )
    steps.append(
        f"""nrm2 AS MATERIALIZED (
      SELECT vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               [w[t] * w[t] FOR t IN range(1, {d + 1})]),
               (a, b) -> a + b) AS n2
      FROM wh{_ABTT_R}
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               [q.w[t] * c.w[t] FOR t IN range(1, {d + 1})]),
               (a, b) -> a + b) AS dot
      FROM wh{_ABTT_R} q JOIN wh{_ABTT_R} c
        ON q.vec_id < {_N_QUERIES} AND c.vec_id != q.vec_id
    )"""
    )
    tail = ",\n    ".join(steps)
    return f"""
    WITH {_pcr_chain(_ABTT_R)},
    {tail}
    SELECT p.query_id, p.vec_id,
           CAST(ROUND(p.dot / (sqrt(nq.n2) * sqrt(nc.n2)) * 10000, 0)
                AS BIGINT) AS whitened_cosine_bp
    FROM pairs p
    JOIN nrm2 nq ON nq.vec_id = p.query_id
    JOIN nrm2 nc ON nc.vec_id = p.vec_id
    QUALIFY row_number() OVER (PARTITION BY p.query_id
             ORDER BY CAST(ROUND(p.dot / (sqrt(nq.n2) * sqrt(nc.n2)) * 10000, 0)
                      AS BIGINT) DESC, p.vec_id) <= {_TOP_K}
    """


def _dlit(v: float) -> str:
    return f"CAST('{v!r}' AS DOUBLE)"


@register("abtt_whitened_topk", oracle=_abtt_oracle())
def abtt_whitened_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-BUT-THE-TOP whitened similarity search (Mu & Viswanath, ICLR
    2018 — the post-processing the deflation ladder exists for): every
    embedding is mean-centered and its projections on the top
    {_ABTT_R} principal directions subtracted, then exact cosine top-k
    runs on the WHITENED vectors — the docstring promise of the PC1/r4
    rungs made executable, completing the measure → decide → apply arc
    (and on this near-isotropic fixture the honest expectation is that
    whitened and plain rankings mostly agree — the operator is the
    instrument either way, and the test pins that the residual
    projections are actually near-zero, i.e. the subtraction really
    happened).

    Exactness: the components come from `_pcr_train` (bit-equal to the
    oracle's v{{c}}_{{48}} CTEs — the fold-parity the r4 rung
    hash-verifies) and re-enter the plan as exact shortest-repr double
    literals; the mean enters as the identical mi·1.0/n DAG; whitening
    is one fixed sequential order (w ← w − (w·u_k)u_k) both engines
    replay; every reduction is a 0-init left fold; the one rounded
    division closes scoring.

    Scale: whitening is a MAP over the corpus (two broadcast 64-vectors
    of literals), so it pipelines into any downstream consumer — here
    the exact top-k oracle shape (J8); at 100 TB the whitened vectors
    feed the same IVF-PQ build the raw vectors do, with the train cost
    unchanged (one moment scan, driver-side ladder)."""
    comps, mi, nn = _pcr_train(spark, sf_dir, _ABTT_R)
    mu = [mi[i] * 1.0 / nn for i in range(1, _PC_DIMS + 1)]
    mu_lit = "array(" + ", ".join(_dlit(v) for v in mu) + ")"
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000, 0) as bigint))"
        ).alias("arr"),
    ).select(
        "vec_id",
        F.expr(f"zip_with(arr, {mu_lit}, (a, m) -> a * 1.0 - m)").alias("w"),
    )
    for v, _nrm in comps:
        u_lit = "array(" + ", ".join(_dlit(x) for x in v) + ")"
        df = df.withColumn(
            "dot",
            F.expr(
                f"aggregate(zip_with(w, {u_lit}, (a, b) -> a * b), 0D,"
                " (a, b) -> a + b)"
            ),
        ).select(
            "vec_id",
            F.expr(f"zip_with(w, {u_lit}, (a, b) -> a - (dot * b))").alias("w"),
        )
    df = df.withColumn(
        "n2",
        F.expr("aggregate(transform(w, x -> x * x), 0D, (a, b) -> a + b)"),
    ).localCheckpoint()
    q = df.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w").alias("qw"),
        F.col("n2").alias("qn2"),
    )
    pairs = df.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        F.expr(
            "aggregate(zip_with(qw, w, (a, b) -> a * b), 0D, (a, b) -> a + b)"
        ).alias("dot"),
        "qn2",
        "n2",
    )
    score = (
        F.round(
            F.col("dot") / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))) * 10000,
            0,
        )
        .cast("bigint")
        .alias("whitened_cosine_bp")
    )
    scored = pairs.select("query_id", "vec_id", score)
    w_win = Window.partitionBy("query_id").orderBy(
        F.desc("whitened_cosine_bp"), F.asc("vec_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w_win))
        .filter(F.col("_rn") <= _TOP_K)
        .select("query_id", "vec_id", "whitened_cosine_bp")
    )
