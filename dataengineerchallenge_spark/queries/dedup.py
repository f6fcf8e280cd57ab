"""Dedup query battery over the ``documents`` corpus (SURVEY.md §2.11
N1/N2, §2.3 J9; provenance /root/reference/README.md:61 "messy (ie real)
data" extended to the driver's LLM-corpus north star).

Oracle strategy: the fixture corpus has no exact-duplicate texts, so
``exact_dedup_docs`` deduplicates a self-union (two identical "delivery
batches", the shape of re-delivered log partitions, README.md:44) — every
content group has exactly 2 rows and the operator must keep the min
doc_id. ``near_dup_jaccard`` is the EXACT shingle-Jaccard join with a
plain-SQL DuckDB twin. The banded MinHash and SimHash queries come in two
hash families (operators/dedup.py ``SEEDED``/``EXPLICIT``): the seeded
xxhash64 ones and MinHash-LSH are rows-only, pinned by pytest against
the exact anchor (tests/test_dedup.py); the ``*_explicit`` ones replay
bit-for-bit in DuckDB and are hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineerchallenge_spark.functions import vectors as V
from dataengineerchallenge_spark.operators import dedup as D
from dataengineerchallenge_spark.registry import register
from dataengineerchallenge_spark.sources.tables import load_table, local_frame, spread

# Embedding near-dup: the fixture corpus has no high-cosine pairs (max
# pairwise cosine 0.60 at sf0.1), so — like exact_dedup_docs' self-union —
# the query plants its own: a second "re-encoded delivery batch" whose
# vectors are the originals scaled by 1.01. Scaling preserves direction
# (cosine(v, 1.01v) = 1), so every original gains exactly one near-dup
# twin at cosine ≈ 1.0 while every cross pair stays ≤ 0.61 — a 0.34 margin
# around the 0.95 threshold that dwarfs any cross-engine float drift.
_TWIN_OFFSET = 1_000_000
_TWIN_SCALE = 1.01
_COS_MIN = 0.95

_EMB_CORPUS_SQL = f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + {_TWIN_OFFSET},
             list_transform(embedding, x -> x::DOUBLE * {_TWIN_SCALE}::DOUBLE)
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.embedding, b.embedding) AS c
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(c, 4) AS cosine
    FROM pairs WHERE c >= {_COS_MIN}
"""


def _embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ re-encoded twin batch, all-double, with L2 norms."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    orig = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twin = emb.select(
        (F.col("vec_id") + F.lit(_TWIN_OFFSET)).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(_TWIN_SCALE)).alias(
            "embedding"
        ),
    )
    return orig.unionByName(twin).withColumn("_nrm", V.l2_norm(F.col("embedding")))


@register(
    "exact_dedup_docs",
    oracle="""
    SELECT sha256(text)            AS content_sha,
           min(doc_id)             AS doc_id,
           arg_min(text, doc_id)   AS text,
           arg_min(lang, doc_id)   AS lang,
           arg_min(source, doc_id) AS source,
           arg_min(n_chars, doc_id) AS n_chars
    FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
    GROUP BY sha256(text)
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 exact content-hash dedup: two identical delivery batches in,
    one surviving row per distinct text out (keep-first by doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    return D.exact_dedup(doubled, content_cols=["text"], order_col="doc_id")


# Inverted-index (blocked) twin of the Spark plan — lossless vs the
# naive all-pairs join (Jaccard >= 0.5 needs >= 1 common shingle, and
# |A∩B| via the shingle equi-join equals list_intersect on distinct
# shingle sets), measured 30x faster and sf0.1-feasible. Shared by the
# plain inverted-index query and the prefix-filtered one (both exact).
_JACCARD_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                                FOR i IN range(1, len(ws)-1)]) AS sh
          FROM t),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
    cd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(sh) AS n FROM s)
    SELECT id_a, id_b,
           round(cd.common::DOUBLE / (sa.n + sb.n - cd.common), 4) AS jaccard
    FROM cd
    JOIN sz sa ON sa.doc_id = cd.id_a
    JOIN sz sb ON sb.doc_id = cd.id_b
    WHERE cd.common::DOUBLE / (sa.n + sb.n - cd.common) >= 0.5
    """


@register("near_dup_jaccard", oracle=_JACCARD_ORACLE)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 exact anchor: 3-word-shingle Jaccard ≥ 0.5 via inverted-index
    self-join (hash join on the shingle key — no crossJoin anywhere)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@register("near_dup_jaccard_prefix", oracle=_JACCARD_ORACLE)
def near_dup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 exact anchor, PREFIX-FILTERED (AllPairs/PPJoin, Bayardo et al.
    WWW'07 / Xiao et al. WWW'08 — public designs): candidate pairs come
    only from docs sharing a shingle inside each other's frequency-
    ordered PREFIX (the |s| - ceil(t·|s|) + 1 globally-rarest shingles),
    which is lossless for Jaccard ≥ t by pigeonhole — so the query
    shares ``near_dup_jaccard``'s oracle hash-for-hash. Measured on this
    corpus: 11.8x fewer candidate pairs at sf0.01, 2.8x at sf0.1 vs the
    plain inverted index (the lexicographic variant documented in
    shingle_jaccard_pairs does NOT pay; ordering by global document
    frequency is what makes the prefix selective). Equality with the
    plain anchor and the candidate reduction are pinned in
    tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return D.shingle_jaccard_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "fuzzy_part_name_matches",
    oracle="""
    SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2+ EXACT edit-distance similarity join (operators/dedup.py
    edit_distance_join): within-brand part-name pairs at levenshtein
    <= 2 — the catalog-dedup question ("is 'spring chocolate lace' the
    same part as 'spring chocolat lace'?") that string-level near-dup
    answers where shingle Jaccard is too coarse.

    The Spark plan is the lossless q-gram count-filtered inverted-index
    join (never all-pairs); the DuckDB oracle is the NAIVE within-brand
    cross join — hash equality therefore proves the blocking lossless on
    real data, the same anchor discipline as near_dup_jaccard."""
    parts = load_table(spark, sf_dir, "part")
    out = D.edit_distance_join(
        parts, "p_partkey", "p_name", block_col="p_brand", k=2, q=2
    )
    return out.select(
        F.col("block").alias("p_brand"),
        "id_a",
        "id_b",
        F.col("edit_dist").cast("int").alias("edit_dist"),
    )


@register("near_dup_minhash")
def near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2/J9 scale path: MinHash + banded LSH approximate similarity
    self-join (seeded). Rows-only per contract (hash-collision dependent);
    recall vs the exact anchor is pinned in tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, max_jaccard_dist=0.5)


# Banded-MinHash family parameters, single-sourced so the staging salts
# below always encode exactly what was built: changing any of them
# changes every slot address, so a stale staged signature table can
# never be served after a parameter change (ADVICE r7).
_MH_N = 3           # shingle width (words)
_MH_HASHES = 64     # hash family size
_MH_BAND_ROWS = 4   # rows per band → 16 bands


def _mark(family: D.HashFamily) -> str:
    """The letter a family's slot tag adds to ``mh`` ('' seeded, 'x'
    explicit); it also marks the family's salts and bucket dirs."""
    return family.tag[len("mh"):]


def _mh_salt(extra: str, family: D.HashFamily = D.SEEDED) -> str:
    """Staging salt derived from the actual band-family parameters plus
    a split descriptor — the slot address changes whenever the build
    would produce different bytes."""
    return f"mh{_MH_HASHES}b{_MH_BAND_ROWS}n{_MH_N}{_mark(family)}{extra}"


def _doc_split(docs, num: int, den: int) -> int:
    """doc_id cutoff at the num/den fraction of the corpus (exact
    integer arithmetic — no float boundary drift between engines)."""
    return docs.count() * num // den


def _sign(docs: DataFrame, family: D.HashFamily) -> DataFrame:
    """The band table of ``docs`` under the registry's MinHash parameters."""
    return D.minhash_band_frame(
        docs, "doc_id", "text", n=_MH_N,
        num_hashes=_MH_HASHES, band_rows=_MH_BAND_ROWS, family=family,
    )


def _banded_near_dups(spark: SparkSession, sf_dir: str, family: D.HashFamily) -> DataFrame:
    """Full-corpus banded MinHash: sign every doc → 16-band collision
    candidates → exact Jaccard ≥ 0.5 verification."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    cand = D.band_collision_pairs(_sign(docs, family))
    return D.verify_jaccard(docs, "doc_id", "text", cand, n=_MH_N, threshold=0.5)


@register("near_dup_banded_minhash")
def near_dup_banded_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 stateless banded-MinHash near-dup (the operator the incremental
    split below stages): seeded xxhash64 MinHash family → 16-band
    collision candidates → EXACT Jaccard verification, so output pairs
    are true ≥0.5-Jaccard pairs (candidate generation is recall-limited,
    verification is not). Rows-only per contract (xxhash64 has no DuckDB
    twin) but fully deterministic — recall vs the exact anchor and
    incremental parity pinned in tests/test_dedup.py."""
    return _banded_near_dups(spark, sf_dir, D.SEEDED)


def _staged_minhash_bands(
    spark: SparkSession,
    sf_dir: str,
    hi: tuple[int, int] = (4, 5),
    family: D.HashFamily = D.SEEDED,
) -> str:
    """BUILD-ONCE half of the incremental dedup split (VERDICT r6 #4, the
    N2 mirror of the ANN side's staged codes): the banded-MinHash
    signature table of the BASE corpus (doc_id below the ``hi`` fraction
    of the corpus; default the first ~80% — the "existing 99%" of the
    daily-delivery reality) written through the S4 sink. Signatures come
    from a stateless hash family (operators/dedup.py
    minhash_band_frame), so rows appended later sign identically without
    refitting anything — no model state to version, only this table."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        split = _doc_split(docs, *hi)
        write_result(_sign(docs.filter(F.col("doc_id") < split), family), str(out))

    return staged(
        spark,
        f"{family.tag}_bands",
        Path(sf_dir) / "documents.parquet",
        _mh_salt(f"s{hi[0]}of{hi[1]}", family),
        build,
    )


def _staged_minhash_bands_appended(
    spark: SparkSession,
    sf_dir: str,
    base: tuple[int, int] = (4, 5),
    hi: tuple[int, int] = (5, 5),
    family: D.HashFamily = D.SEEDED,
) -> str:
    """STORE MAINTENANCE half of the incremental dedup lifecycle: after a
    delivery is deduped, its signatures are COMMITTED into the band store
    (mode-append into the staged layout) so the next delivery joins
    against base+batch — sign → dedup → commit, the same
    append-equals-rebuild discipline as `_staged_ivfpq_appended_index`.
    The store covers doc_id below the ``hi`` fraction: the bands of the
    docs below the ``base`` fraction, then a batch-only signing of
    [base, hi) mode-appended into the same layout. Must equal a
    from-scratch signing of the same range exactly (the hash family is
    stateless), pinned in tests/test_dedup.py; for the explicit family
    the hash-green oracle of the second-delivery query proves it on
    data every sweep."""
    from pathlib import Path

    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        lo_split, hi_split = _doc_split(docs, *base), _doc_split(docs, *hi)
        _sign(docs.filter(F.col("doc_id") < lo_split), family).write.parquet(str(out))
        new = docs.filter(
            (F.col("doc_id") >= lo_split) & (F.col("doc_id") < hi_split)
        )
        _sign(new, family).write.mode("append").parquet(str(out))

    return staged(
        spark,
        f"{family.tag}_bands_app",
        Path(sf_dir) / "documents.parquet",
        _mh_salt(f"s{base[0]}of{base[1]}to{hi[0]}of{hi[1]}app", family),
        build,
    )


def stage_bucketed_band_store(
    spark: SparkSession, sf_dir: str, family: D.HashFamily = D.SEEDED
) -> str:
    """The base-corpus band store laid out as an 8-bucket table clustered
    AND sorted on (band, band_hash) — the scale-safe attach point for an
    OVER-THRESHOLD delivery (VERDICT r7 What's-wrong #2): the candidate
    sort-merge join reads this side bucket-aligned with zero exchange;
    only the batch shuffles, into the store's bucket layout. Same
    session-catalog staging stance as ``stage_bucketed_order_tables``
    (bucket metadata is catalog-scoped), but the table NAME carries the
    content tag, so a fixture rewrite or parameter change addresses a
    fresh table instead of reusing a stale one. ``band_hash`` is a long
    for the seeded family and a string for the explicit one; bucketing
    hashes either like any key column.

    The backing FILES live under the conf-driven staging root
    (``spark_graft.staging_root``) like every other staged artifact
    (VERDICT r8 What's-wrong #3: one conf answers "where do staged bytes
    live on a cluster") — in a per-session mkdtemp because the bucket
    METADATA is session-catalog-scoped: a deterministic shared path
    would let a concurrent session's overwrite clobber files under this
    session's live table. tools/stage_gc.py knows these dirs are not
    content-addressed slots and never GCs them."""
    import tempfile
    from pathlib import Path

    from dataengineerchallenge_spark.staging import content_tag, staging_root

    tag = content_tag(
        Path(sf_dir) / "documents.parquet", _mh_salt("s4of5bkt", family)
    )
    name = f"spark_graft_bkt_{family.tag}_bands_{tag}"
    if not spark.catalog.tableExists(name):
        tmp = tempfile.mkdtemp(
            dir=staging_root(spark), prefix=f"spark_graft_bkt{_mark(family)}_"
        )
        bands = spark.read.parquet(_staged_minhash_bands(spark, sf_dir, family=family))
        (
            bands.write.bucketBy(8, "band", "band_hash")
            .sortBy("band", "band_hash")
            .option("path", f"{tmp}/{family.tag}_bands")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return name


def _near_dups_of_batch(
    docs: DataFrame,
    batch: DataFrame,
    store: DataFrame,
    family: D.HashFamily,
    batch_docs: int,
    mode: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """The incremental near-dup body every delivery and stream query
    shares: sign ONLY ``batch`` (its shingle explode + min-aggregate is
    batch-sized) → candidates = ``store`` ⋈ batch bands ∪ the batch's own
    self-join → exact-Jaccard verification over ``docs``, touching only
    candidate docs. Returns (pairs, batch bands); the bands are what a
    streaming caller commits.

    How the batch attaches is ``band_collision_pairs``'s size decision,
    made from the known ``batch_docs`` (≤ 16 band rows per doc) — never a
    forced hint: an over-threshold delivery degrades to the shuffle join
    (bucket-local against ``stage_bucketed_band_store``) instead of
    failing on an over-budget broadcast; ``mode="shuffle"`` forces that
    degrade. No outer distinct: each branch is already distinct and the
    two are disjoint — the store branch always pairs a store id with a
    batch id, the self-join branch only batch ids — so a re-shuffle of
    the candidate set would deduplicate nothing."""
    bands = _sign(batch, family)
    cand = D.band_collision_pairs(
        store,
        bands,
        batch_band_rows=batch_docs * (_MH_HASHES // _MH_BAND_ROWS),
        mode=mode,
    ).unionByName(D.band_collision_pairs(bands))
    pairs = D.verify_jaccard(docs, "doc_id", "text", cand, n=_MH_N, threshold=0.5)
    return pairs, bands


def _delivery_near_dups(
    spark: SparkSession,
    sf_dir: str,
    store: DataFrame,
    family: D.HashFamily,
    mode: str = "auto",
) -> DataFrame:
    """Every ≥0.5-Jaccard pair involving a doc of the delivery (the last
    ~20% of the corpus, doc_id ≥ 4/5 of the count) against ``store``."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    split = n_docs * 4 // 5
    new = docs.filter(F.col("doc_id") >= split)
    return _near_dups_of_batch(docs, new, store, family, n_docs - split, mode)[0]


@register("near_dup_incremental_minhash")
def near_dup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 INCREMENTAL near-dup: dedup an appended ~20% delivery against
    the corpus WITHOUT recomputing corpus signatures (at 100 TB the daily
    reality is "dedup the new 1% against the existing 99%"; re-signing
    the corpus per delivery is the non-starter this split removes).

    Plan (``_near_dups_of_batch``): sign ONLY the new batch →
    candidates = staged-bands ⋈ broadcast(new bands) (the staged table
    never shuffles) ∪ the new batch's tiny self-join → exact-Jaccard
    verify touching only candidate docs. Append cost scales with the
    batch, not the corpus — measured in BENCH_dedup.json.

    Returns every ≥0.5-Jaccard pair INVOLVING a new doc (new-new and
    new-old); old-old pairs were the previous run's output and are not
    recomputed. Rows-only per contract (seeded xxhash64);
    append-equals-full-recompute parity is pinned in tests/test_dedup.py
    against ``near_dup_banded_minhash`` run on the whole corpus."""
    store = spark.read.parquet(_staged_minhash_bands(spark, sf_dir))
    return _delivery_near_dups(spark, sf_dir, store, D.SEEDED)


# --- Explicit-hash MinHash (VERDICT r12 next-round #1) -----------------
#
# Same banding semantics as the seeded family above, but the hash family
# is the cross-engine md5+affine construction (operators/dedup.py
# EXPLICIT), so the DuckDB oracle replays signatures → bands →
# candidates → exact verification bit-for-bit and the near-dup ladder's
# largest rows-only block gains fully value-verified rungs.

_MHX_VALUES_SQL = "(VALUES {}) AS prm(i, a, b)".format(
    ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.MHX_COEFFS))
)


def _duck_u32_of(col: str, offset: int = 0) -> str:
    """DuckDB polynomial rendering 8 nibbles of a stored md5-hex column
    (starting after ``offset`` nibbles) as the same 32-bit integer
    functions/hashing.duck_u32 builds — split out so the md5 is computed
    ONCE per shingle, not once per nibble term; offset=8 reads the
    second half the explicit SimHash uses."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {offset + i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


def _mhx_oracle(new_only: bool, corpus_pred: str = "") -> str:
    """Oracle for the explicit-hash banded near-dup: full-corpus explicit
    MinHash banding → band-collision candidates → exact Jaccard ≥ 0.5.
    With ``new_only`` the pair set is restricted to pairs involving a
    delivery doc (doc_id ≥ 4/5 of the corpus) — by the hash family's
    statelessness that EQUALS the incremental sign-batch-only plan.
    ``corpus_pred`` removes docs from the corpus BEFORE banding (the
    retraction rung passes the takedown predicate); the delivery split
    boundary stays a function of the FULL corpus count, matching the
    Spark side."""
    scope = (
        """
    CROSS JOIN (SELECT count(*) * 4 // 5 AS split FROM documents) sp
    WHERE c.id_a >= sp.split OR c.id_b >= sp.split"""
        if new_only
        else ""
    )
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents{corpus_pred}),
    s AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                                FOR i IN range(1, len(ws)-1)]) AS sh
          FROM t),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
    hx AS (SELECT doc_id, md5(g) AS m FROM inv),
    u AS (SELECT doc_id, ({_duck_u32_of('m')}) % {D._MHX_P} AS up FROM hx),
    mins AS (
      SELECT u.doc_id, prm.i, MIN((prm.a * u.up + prm.b) % {D._MHX_P}) AS mn
      FROM u CROSS JOIN {_MHX_VALUES_SQL}
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, i // {_MH_BAND_ROWS} AS band,
             string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS sig
      FROM mins GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    scoped AS (
      SELECT c.id_a, c.id_b FROM cand c{scope}
    ),
    ver AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.sh, sb.sh)) AS common,
             len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS un
      FROM scoped c
      JOIN s sa ON sa.doc_id = c.id_a
      JOIN s sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(common::DOUBLE / un, 4) AS jaccard
    FROM ver WHERE un > 0 AND common::DOUBLE / un >= 0.5
    """


@register("near_dup_banded_minhash_explicit", oracle=_mhx_oracle(new_only=False))
def near_dup_banded_minhash_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 banded-MinHash near-dup with FULL value verification — the
    seeded rung's cross-engine twin: md5+affine explicit permutations
    (operators/dedup.py EXPLICIT) → 16-band collision candidates → exact
    Jaccard ≥ 0.5 verification. The DuckDB oracle recomputes every
    signature, band, candidate and verified pair, so the whole
    approximate pipeline (not just its output's row count) is
    hash-checked — the r12 cm/hll pattern closing the MinHash family's
    rows-only gap. Same plan as ``near_dup_banded_minhash``; band-level
    parity with the seeded family is pinned in tests/test_dedup.py."""
    return _banded_near_dups(spark, sf_dir, D.EXPLICIT)


@register("near_dup_incremental_minhash_explicit", oracle=_mhx_oracle(new_only=True))
def near_dup_incremental_minhash_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 INCREMENTAL near-dup, hash-verified: sign ONLY the ~20%
    delivery with the explicit family, join its bands against the staged
    base-corpus band table (broadcast under the byte budget) plus the
    batch's own self-join, exact-verify candidates — the incremental
    plan of ``near_dup_incremental_minhash``, but because the explicit
    family is both stateless AND ANSI-reproducible, the DuckDB oracle
    (full-corpus banding restricted to pairs involving a delivery doc)
    must match hash-for-hash: a green row here PROVES
    append-equals-rebuild on real data every round, where the seeded rung
    could only pin it in pytest."""
    store = spark.read.parquet(_staged_minhash_bands(spark, sf_dir, family=D.EXPLICIT))
    return _delivery_near_dups(spark, sf_dir, store, D.EXPLICIT)


@register(
    "near_dup_second_delivery_minhash_explicit", oracle=_mhx_oracle(new_only=True)
)
def near_dup_second_delivery_minhash_explicit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N2 STEADY-STATE incremental dedup, hash-verified (VERDICT r13 #3):
    delivery N+1 against the COMMITTED store. Three-way split of the
    corpus:

    - base      = doc_id < 60%   (signed when the store was first built)
    - delivery1 = [60%, 80%)     (signed batch-only, COMMITTED mode-append
                                  into the store — `_staged_minhash_bands_appended`)
    - delivery2 = [80%, 100%)    (THIS query's batch)

    Delivery2 signs only itself and joins against the appended store
    (base+delivery1, read as-is, never re-signed) plus its own self-join.
    The DuckDB oracle — a FULL-corpus banding restricted to pairs
    involving a delivery2 doc — must match hash-for-hash, so a green row
    proves the whole store lifecycle (sign → commit → next delivery
    joins base+delivery1) equals a from-scratch rebuild on real data
    every round, not just in pytest."""
    store = spark.read.parquet(
        _staged_minhash_bands_appended(
            spark, sf_dir, base=(3, 5), hi=(4, 5), family=D.EXPLICIT
        )
    )
    return _delivery_near_dups(spark, sf_dir, store, D.EXPLICIT)


@register(
    "near_dup_incremental_minhash_bigbatch_explicit",
    oracle=_mhx_oracle(new_only=True),
)
def near_dup_incremental_minhash_bigbatch_explicit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N2 incremental near-dup, OVER-THRESHOLD delivery path,
    hash-verified (VERDICT r13 #3): the shuffle-mode degrade of
    ``near_dup_incremental_minhash_explicit`` — at 100 TB a 1% delivery
    is ~1 TB of bands, far past any broadcast budget. The candidate join
    reads the (band, band_hash)-bucketed explicit store bucket-aligned
    with zero staged-side exchange; only the batch's bands shuffle into
    the store's layout (plan-pinned in tests/test_dedup.py with
    broadcast disabled). Because THIS row and the broadcast-mode row
    share one oracle, both of ``band_collision_pairs``'s attach modes
    are value-verified against the same ground truth every round — the
    size-adaptive mode flip (auto → shuffle past
    BROADCAST_BATCH_MAX_BYTES) can no longer silently change results,
    which pytest's plan pin alone could not prove on data."""
    store = spark.table(stage_bucketed_band_store(spark, sf_dir, D.EXPLICIT))
    return _delivery_near_dups(spark, sf_dir, store, D.EXPLICIT, mode="shuffle")


def _staged_delivery_stream(spark: SparkSession, sf_dir: str) -> str:
    """The new delivery (the last ~20% of the corpus, the same batch
    ``near_dup_incremental_minhash`` dedups) written as 3 hash-
    partitioned files so a file-source tail with ``maxFilesPerTrigger=1``
    drains it as a REAL multi-micro-batch stream — documents arriving as
    an S3 prefix of per-interval drops (the dedup twin of
    ``_staged_fresh_query_stream``, queries/vectors.py)."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        split = _doc_split(docs, 4, 5)
        write_result(
            docs.filter(F.col("doc_id") >= split).repartition(3, "doc_id"),
            str(out),
        )

    return staged(
        spark,
        "mh_delivs",
        Path(sf_dir) / "documents.parquet",
        _mh_salt("s4of5deliv:f3"),
        build,
    )


def _stream_near_dup_serve(
    spark: SparkSession,
    store_path: str,
    payload_dir: str,
    docs: DataFrame,
    epochs: list | None = None,
    timeout_s: int = 300,
    family: D.HashFamily = D.SEEDED,
) -> DataFrame:
    """Drive the ONLINE dedup loop (VERDICT r9 next #4 — the dedup twin
    of ``_stream_serve_fresh``): tail ``payload_dir`` as a file stream
    (one delivery file per trigger) and run the full sign → dedup →
    COMMIT lifecycle per micro-batch:

    - SIGN + DEDUP (``_near_dups_of_batch``): band the micro-batch's
      docs with the stateless ``family``, size-adaptive candidates
      against the store-so-far — the STAGED base band table plus every
      previously committed micro-batch — plus the micro-batch's tiny
      self-join, then exact-Jaccard verification touching only
      candidate docs;
    - COMMIT: append the micro-batch's bands to the run-scoped committed
      store so later micro-batches dedup against them (a new-new pair
      split across micro-batches is found when its LATER doc arrives —
      each qualifying pair lands in the sink exactly once).

    Because the hash family is stateless, the union of micro-batch
    outputs equals the batch rung's output for the same delivery
    regardless of how the stream is sliced (parity pinned in
    tests/test_dedup.py). The sink/checkpoint/committed scratch is
    run-scoped and removed before returning; the drained result —
    delivery-sized — is re-created as a local DataFrame. Sink and
    committed-store writes are epoch_id-keyed overwrites, so a retried
    micro-batch rewrites its own partition instead of double-committing
    bands or duplicating output pairs (the ADVICE r12 idempotency
    discipline)."""
    import glob
    import shutil
    import tempfile
    import time

    schema = spark.read.parquet(payload_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(payload_dir)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_dedup_")
    sink, ckpt, committed = (
        f"{scratch}/out",
        f"{scratch}/ckpt",
        f"{scratch}/committed",
    )

    def serve(mb: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        store = spark.read.parquet(store_path)
        if glob.glob(f"{committed}/epoch_id=*"):
            store = store.unionByName(
                spark.read.parquet(committed).select("doc_id", "band", "band_hash")
            )
        out, mb_bands = _near_dups_of_batch(docs, mb, store, family, mb.count())
        out.write.mode("overwrite").parquet(f"{sink}/epoch_id={epoch_id}")
        mb_bands.write.mode("overwrite").parquet(f"{committed}/epoch_id={epoch_id}")
        if epochs is not None:
            epochs.append((epoch_id, round(time.time() - t0, 3)))

    from dataengineerchallenge_spark.streaming.runner import drain_foreach_batch

    try:
        drain_foreach_batch(sdf, serve, ckpt, "stream dedup", timeout_s=timeout_s)
        drained = spark.read.parquet(sink).select("id_a", "id_b", "jaccard")
        result = local_frame(spark, drained.collect(), drained.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return result


@register("stream_near_dup_serve")
def stream_near_dup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2×T6 STREAMING dedup serve (VERDICT r9 next #4): the online
    surface of the incremental dedup split. Delivery documents arrive as
    a tailed file stream (one file per trigger); every micro-batch runs
    sign → dedup-against-store-so-far → commit via foreachBatch — the
    size-adaptive ``band_collision_pairs`` against the STAGED base band
    table plus previously committed micro-batches, exact-Jaccard
    verification, then the micro-batch's bands commit so later arrivals
    dedup against them. Emits every ≥0.5-Jaccard pair involving a new
    doc exactly once; the union over micro-batches equals the batch rung
    ``near_dup_incremental_minhash`` regardless of stream slicing
    (parity + ≥2-micro-batch shape pinned in tests/test_dedup.py;
    per-micro-batch latency measured in BENCH_stream.json). Rows-only
    per contract (seeded xxhash64, same stance as every MinHash rung)."""
    return _stream_serve_query(spark, sf_dir, D.SEEDED)


@register("stream_near_dup_serve_explicit", oracle=_mhx_oracle(new_only=True))
def stream_near_dup_serve_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2×T6 streaming dedup serve, HASH-VERIFIED — the first
    value-verified streaming near-dup in the registry: the same online
    sign → dedup-against-store-so-far → commit loop as
    ``stream_near_dup_serve``, signing with the explicit md5+affine
    family instead of seeded xxhash64. Statelessness gives stream≡batch
    parity under any slicing, and ANSI-reproducibility lets the DuckDB
    oracle (full-corpus explicit banding restricted to pairs involving a
    delivery doc — shared verbatim with
    ``near_dup_incremental_minhash_explicit``) value-check every pair a
    multi-micro-batch run emits: the r12 'every sketch ships batch AND
    streaming, both green' discipline extended to the near-dup family.
    Epoch-keyed sink/commit writes make the loop retry-idempotent."""
    return _stream_serve_query(spark, sf_dir, D.EXPLICIT)


def _stream_serve_query(spark: SparkSession, sf_dir: str, family: D.HashFamily) -> DataFrame:
    """The delivery stream served against the family's staged base bands."""
    store = _staged_minhash_bands(spark, sf_dir, family=family)
    payload = _staged_delivery_stream(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    return _stream_near_dup_serve(spark, store, payload, docs, family=family)


_DUP_SPAN_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    st AS (SELECT doc_id, ws,
                  unnest(range(0, greatest(len(ws) - 4, 0))) AS start
           FROM t),
    g AS (SELECT doc_id, start,
                 array_to_string(ws[start + 1 : start + 5], ' ') AS g
          FROM st),
    dupg AS (
      SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT g.doc_id, g.start FROM g JOIN dupg USING (g)),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(start, start + 5)) AS pos
      FROM hits
    ),
    toks AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM t),
    kept AS (
      SELECT tk.doc_id, tk.pos, tk.ws[tk.pos + 1] AS w
      FROM toks tk LEFT JOIN covered c
        ON c.doc_id = tk.doc_id AND c.pos = tk.pos
      WHERE c.pos IS NULL
    ),
    trimmed AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS trimmed_text
      FROM kept GROUP BY doc_id
    ),
    ndup AS (SELECT doc_id, count(*) AS n_dup_grams FROM hits GROUP BY doc_id),
    ncov AS (SELECT doc_id, count(*) AS covered_words FROM covered GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_words,
           CAST(COALESCE(ndup.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(ncov.covered_words, 0) AS BIGINT) AS covered_words,
           ROUND(COALESCE(ncov.covered_words, 0) / CAST(len(t.ws) AS DOUBLE), 4)
             AS dup_fraction,
           COALESCE(trimmed.trimmed_text, '') AS trimmed_text
    FROM t
    LEFT JOIN ndup USING (doc_id)
    LEFT JOIN ncov USING (doc_id)
    LEFT JOIN trimmed USING (doc_id)
    """


@register("dup_span_trim_docs", oracle=_DUP_SPAN_ORACLE)
def dup_span_trim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1++ SPAN-level exact dedup (r13; the Lee et al. 2022
    'Deduplicating Training Data' signal at word granularity): every
    positional 5-word gram occurring in >= 2 distinct documents marks
    its span duplicated; per doc the query reports gram/word coverage,
    the duplicated-token fraction, and the TRIMMED text with covered
    words removed in original order. Doc-level dedup drops whole
    near-copies; this is the complementary operator that quantifies and
    strips the boilerplate/quoted-block duplication surviving it — at
    100 TB the duplicated-span token count is a first-class corpus
    metric, not a curiosity. Fully hash-verified including the
    reconstructed trimmed strings (operators/dedup.py
    dup_span_doc_frame; inverted-index join on the gram key, never
    all-pairs)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return D.dup_span_doc_frame(docs, "doc_id", "text", n=5, min_docs=2)


@register("dup_span_trim_docs_hashed", oracle=_DUP_SPAN_ORACLE)
def dup_span_trim_docs_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1++ span dedup, GRAM-HASH shuffle shape (r14, VERDICT r13 #5):
    semantically identical to ``dup_span_trim_docs`` — it shares that
    row's oracle hash-for-hash — but the corpus-wide doc-frequency
    aggregate and candidate attach key on ``xxhash64(gram)`` (8 bytes)
    instead of the raw 5-word string (~30 bytes), the join-key diet that
    matters when the gram explode is petabyte-scale. Exactness is kept
    by an exact string-keyed re-verify over candidate rows only (see
    dup_span_doc_frame); key-byte reduction measured in
    BENCH_dedup.json."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return D.dup_span_doc_frame(
        docs, "doc_id", "text", n=5, min_docs=2, hash_grams=True
    )


def _winnow_oracle(k: int, w: int, min_shared: int) -> str:
    """DuckDB replay of winnow → match: positional k-gram u32 hashes,
    window minima over hash*POS_MOD+pos with frames clipping at the
    partition end (same semantics as Spark's rowsBetween), distinct
    selected hashes per doc, then the shared-fingerprint pair count."""
    from dataengineerchallenge_spark.functions.hashing import duck_u32
    from dataengineerchallenge_spark.operators.dedup import WINNOW_POS_MOD

    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    st AS (SELECT doc_id, ws,
                  unnest(range(0, greatest(len(ws) - {k - 1}, 0))) AS pos
           FROM t),
    g AS (SELECT doc_id, pos,
                 array_to_string(ws[pos + 1 : pos + {k}], ' ') AS g
          FROM st),
    h AS (SELECT doc_id, pos,
                 ({duck_u32('g')}) * {WINNOW_POS_MOD} + pos AS key
          FROM g),
    wm AS (SELECT doc_id, pos,
                  min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW
                                 AND {w - 1} FOLLOWING) AS wmin,
                  count(*) OVER (PARTITION BY doc_id) AS n
           FROM h),
    sel AS (SELECT DISTINCT doc_id, wmin // {WINNOW_POS_MOD} AS gram_hash
            FROM wm WHERE pos <= greatest(n - {w}, 0)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) AS n_shared
      FROM sel a JOIN sel b
        ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM pairs WHERE n_shared >= {min_shared}
    """


@register("winnowed_fingerprint_matches", oracle=_winnow_oracle(4, 5, 2))
def winnowed_fingerprint_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4+/N2 WINNOWING match join (MOSS, Schleimer et al. SIGMOD'03 —
    the per-window-minima refinement doc_fingerprints' docstring
    promises): docs are reduced to their winnowed fingerprint sets
    (~2/(w+1) of the positional 4-gram hashes at w=5) and paired on >= 2
    shared fingerprint HASHES. The winnowing guarantee makes this a
    dedup primitive with a contract bottom-k sketches lack: any shared
    run of >= w+k-1 = 8 words yields a shared fingerprint, so long
    boilerplate/quoted blocks CANNOT escape, while storage and join
    width shrink ~3x vs the full gram inverted index. Fully
    hash-verified (md5-u32 hashes, position-tie-broken window minima —
    the DuckDB oracle replays the selection exactly).

    Scale shape: one window pass per doc (shuffle keyed on doc id), then
    an equi-join on the fingerprint hash whose input is the WINNOWED set
    — the inverted index is built over a 1/3-density sample with a
    detection guarantee, the join-volume lever the span/shingle joins
    don't have. Guarantee + density pinned in tests/test_dedup_r14.py."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    fps = D.winnow_fingerprint_frame(docs, "doc_id", "text", k=4, w=5)
    sel = fps.select("doc_id", "gram_hash").distinct()
    a = sel.select(F.col("doc_id").alias("id_a"), "gram_hash")
    b = sel.select(F.col("doc_id").alias("id_b"), "gram_hash")
    return (
        a.join(b, "gram_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .select("id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"))
    )


_SIMHASH_X_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                                FOR i IN range(1, len(ws)-1)]) AS sh
          FROM t),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
    hx AS (SELECT doc_id, md5(g) AS m FROM inv),
    u AS (SELECT doc_id,
                 {_duck_u32_of('m')} AS ua,
                 {_duck_u32_of('m', 8)} AS ub
          FROM hx),
    w AS (SELECT unnest(range(0, 32)) AS b),
    votes AS (
      SELECT u.doc_id, w.b,
             SUM(CASE WHEN (ua // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS va,
             SUM(CASE WHEN (ub // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS vb
      FROM u CROSS JOIN w
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN va > 0 THEN (1::BIGINT << b) ELSE 0 END) AS fa,
             SUM(CASE WHEN vb > 0 THEN (1::BIGINT << b) ELSE 0 END) AS fb
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fa, b.fa)) + bit_count(xor(a.fb, b.fb)) AS INT)
             AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fa, b.fa)) + bit_count(xor(a.fb, b.fb)) <= 3
    """


@register("simhash_near_dups_explicit", oracle=_SIMHASH_X_ORACLE)
def simhash_near_dups_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 SimHash with FULL value verification — the second near-dup
    hash family converted by the explicit-hash pattern (after MinHash
    banding above): token bits come from md5 nibbles instead of
    xxhash64, fingerprints are two 32-bit halves, candidates from
    16-bit banding (lossless at hamming ≤ 3 by pigeonhole), hamming
    verified by bit_count(xor). The DuckDB oracle is the NAIVE
    all-pairs hamming join over recomputed fingerprints, so a green
    hash row simultaneously value-checks every fingerprint bit AND
    proves the banding lossless on real data — the Spark plan stays
    the banded hash join, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, family=D.EXPLICIT
    )


@register("simhash_near_dups")
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 SimHash variant: 64-bit fingerprint, 16-bit band candidate join,
    exact hamming verification. Rows-only (xxhash64 is Spark-specific, no
    DuckDB twin); determinism + planted-pair recall pinned by pytest."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)


@register("near_dup_embedding", oracle=_EMB_CORPUS_SQL)
def near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 embedding-cosine near-dup, exact anchor: all-pairs cosine ≥ 0.95
    over the twinned corpus. Norms are precomputed per row (3× fewer
    array folds than cosine-per-pair); the pair join is a broadcast
    nested-loop — the honest brute-force shape for the ORACLE ANCHOR ONLY,
    same stance as region_pairs. The 100 TB path is
    ``near_dup_embedding_lsh`` below."""
    corpus = _embedding_corpus(spark, sf_dir)
    a = corpus.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea"), F.col("_nrm").alias("_na")
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb"), F.col("_nrm").alias("_nb")
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).withColumn(
        "c", V.dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))
    )
    return (
        pairs.filter(F.col("c") >= _COS_MIN)
        .select("id_a", "id_b", F.round("c", 4).alias("cosine"))
    )


@register("near_dup_embedding_lsh", oracle=_EMB_CORPUS_SQL)
def near_dup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2/J9 embedding near-dup, scale path: unit-normalize, then a seeded
    BucketedRandomProjectionLSH self-join. On unit vectors cosine ≥ τ ⟺
    euclidean ≤ √(2−2τ), so the LSH join's EXACT distance filter applied
    to its candidates reproduces the cosine predicate; candidates are
    generated only where a hash band collides — sub-quadratic, never
    all-pairs.

    Oracled (unlike near_dup_minhash) because here recall is provably 1.0
    on the fixture: every qualifying pair is a planted twin at distance 0,
    and identical unit vectors hash to identical buckets in every table,
    so the threshold-verified output equals the exact pair set. On a
    corpus with borderline pairs (dist near the threshold) this operator
    class would be rows-only."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    corpus = _embedding_corpus(spark, sf_dir).filter(F.col("_nrm") > 0)
    # The unit-vector frame is scanned three times (fit + both join
    # sides); staging it via localCheckpoint computes the normalize once
    # instead of three times (measured 5.8s -> 1.9s at sf0.1) and the
    # blocks are ContextCleaner-managed, same pattern as the corpus
    # curation pipeline's survivor staging.
    unit = corpus.select(
        "vec_id",
        array_to_vector(F.transform("embedding", lambda x: x / F.col("_nrm"))).alias("features"),
    ).localCheckpoint(eager=True)
    # bucketLength tunes candidate count, not near-dup recall: a pair at
    # projection distance ~0 lands in the same bucket at ANY length, while
    # narrow buckets shed the unrelated-vector collisions that dominate
    # join cost (0.5 -> 0.1 measured 6x faster at sf0.1, identical output)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.1, numHashTables=2, seed=42
    )
    model = lsh.fit(unit)
    max_dist = math.sqrt(2.0 * (1.0 - _COS_MIN))
    pairs = model.approxSimilarityJoin(unit, unit, threshold=max_dist, distCol="_d").filter(
        F.col("datasetA.vec_id") < F.col("datasetB.vec_id")
    )
    return pairs.select(
        F.col("datasetA.vec_id").alias("id_a"),
        F.col("datasetB.vec_id").alias("id_b"),
        F.round(F.lit(1.0) - F.col("_d") * F.col("_d") / F.lit(2.0), 4).alias("cosine"),
    )


@register(
    "dedup_survivor_stats",
    oracle="""
    WITH deduped AS (
      SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      GROUP BY sha256(text)
    )
    SELECT lang, count(*)::BIGINT AS n_docs
    FROM deduped GROUP BY lang
    """,
)
def dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup corpus composition — dedup feeding a downstream agg
    (the usual pipeline shape: dedup → stats → sampling)."""
    docs = load_table(spark, sf_dir, "documents")
    deduped = D.exact_dedup(docs.unionByName(docs), ["text"], "doc_id")
    return deduped.groupBy("lang").agg(F.count("*").alias("n_docs"))


# Transitive closure of the exact shingle-Jaccard pair graph: DuckDB's
# recursive CTE walks the (symmetric) edge list and each node's cluster id
# is the min doc_id it can reach — exactly what min-label propagation
# computes Spark-side. Shared by both cluster queries below.
_CLUSTER_CTES = """
    t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                                FOR i IN range(1, len(ws)-1)]) AS sh
          FROM t),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
    cd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    pairs AS (
      SELECT id_a, id_b
      FROM cd
      JOIN sz sa ON sa.doc_id = cd.id_a
      JOIN sz sb ON sb.doc_id = cd.id_b
      WHERE cd.common::DOUBLE / (sa.n + sb.n - cd.common) >= 0.5
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
"""


def _near_dup_components(spark: SparkSession, sf_dir: str):
    """docs + (node, comp) labels of the exact near-dup pair graph.

    r14 (VERDICT r13 #1): the clustering backbone is the O(log n)-round
    large-star/small-star contraction (operators/graph.py
    connected_components_star) — min-label propagation needs rounds
    proportional to component DIAMETER, which BENCH_graph.json projects
    766x slower on a 16k-node chain of re-delivered near-dups; at 100 TB
    the dedup graph is exactly where such chains appear. Labels are
    identical by construction (component = min doc_id; parity pinned in
    tests/test_graph.py and by the unchanged recursive-CTE oracles on
    every consumer); min-label stays available as the small-diameter
    comparison rung measured in BENCH_graph.json."""
    from dataengineerchallenge_spark.operators.graph import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comp = connected_components_star(pairs, src="id_a", dst="id_b").select(
        "node", F.col("component").alias("comp")
    )
    return docs, comp


@register(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 clustering: full corpus → cluster assignment. Near-dup pairs
    (exact shingle-Jaccard anchor) are grouped into connected components
    by iterative min-label propagation; docs in no pair are their own
    singleton cluster. cluster_id = min doc_id of the component, so the
    assignment is deterministic and join-stable."""
    docs, comp = _near_dup_components(spark, sf_dir)
    return docs.join(comp, docs.doc_id == comp.node, "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("cluster_id")
    )


@register(
    "near_dup_cluster_members",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM comp GROUP BY cluster_id
    """,
)
def near_dup_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 clustering rollup: one row per multi-doc cluster with its size
    and sorted member list — the survivor-selection input (keep
    cluster_id, drop the rest). Members serialize to a comma string (the
    driver's hasher rejects array cells)."""
    _, comp = _near_dup_components(spark, sf_dir)
    return comp.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias("member_ids"),
    )


@register(
    "near_dup_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    WHERE COALESCE(c.cluster_id, d.doc_id) = d.doc_id
    """,
)
def near_dup_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 end state — the deduped corpus itself: keep exactly ONE
    survivor per near-dup cluster (the min doc_id, i.e. the doc whose id
    IS its cluster id) plus every singleton, drop the rest. This is the
    frame a training pipeline actually consumes downstream of the
    pair/cluster diagnostics (pairs → components → survivors), and the
    rollup twin of exact_dedup's keep-first semantics at near-dup
    granularity. Text column omitted from the output (the driver's
    hasher compares scalar cells; identity + metadata define the
    survivor set)."""
    docs, comp = _near_dup_components(spark, sf_dir)
    return (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .filter(F.coalesce("comp", "doc_id") == F.col("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "leakage_safe_train_test_split",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    assigned AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN cluster_id % 10 < 8 THEN 'train' ELSE 'test' END
             AS split
    FROM assigned
    """,
)
def leakage_safe_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2+ LEAKAGE-SAFE train/test split: assign every document to train
    or test BY NEAR-DUP CLUSTER, never individually — two near-copies
    must land on the same side, or the held-out set leaks into training
    and eval numbers inflate (the same failure decontamination guards
    against, applied to the split itself). Docs in no near-dup pair are
    their own singleton cluster and split independently.

    Bucketing must be engine-independent to stay hash-checkable (Spark's
    and DuckDB's hash functions differ), so both engines bucket on
    ``cluster_id % 10`` (< 8 → train, ~80/20): cluster ids are min
    doc-ids — arbitrary with respect to content and uniformly spread
    over the id space. Swapping in a seeded deterministic hash of the
    id changes nothing structural.

    100 TB shape: the expensive part is the near-dup component build
    (shared, staged in practice); the split itself is a projection —
    no extra shuffle beyond the cluster join. Built ON
    ``near_dup_clusters`` (not a copy of its dataflow), so the split can
    never diverge from the cluster diagnostics it must agree with."""
    assigned = near_dup_clusters(spark, sf_dir)
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.when(F.pmod(F.col("cluster_id"), F.lit(10)) < 8, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "decontaminate_train_corpus",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+4], ' ')
                                FOR i IN range(1, len(ws)-3)]) AS sh
          FROM t),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
    bench AS (SELECT DISTINCT g, doc_id AS bench_doc FROM inv WHERE doc_id % 20 = 0),
    hits AS (SELECT i.doc_id, count(DISTINCT b.bench_doc) AS n
             FROM inv i JOIN bench b USING (g)
             WHERE i.doc_id % 20 != 0
             GROUP BY i.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_bench_hits,
           CAST(COALESCE(h.n, 0) > 0 AS INTEGER) AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 20 != 0
    """,
)
def decontaminate_train_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+ benchmark decontamination: flag training documents sharing any
    5-word shingle with the held-out eval set (docs with doc_id % 20 = 0
    stand in for the benchmark). The standard n-gram-collision rule used
    before LLM training runs; at the fixture's shingle width only true
    near-copies of eval docs collide, not incidental vocabulary overlap.

    Scale hygiene: the benchmark side is tiny by construction, so its
    distinct (shingle, bench_doc) index is broadcast — the train-side
    scan streams against it with no shuffle; the per-doc hit count is a
    partial-aggregatable count over pre-distinct pairs."""
    docs = load_table(spark, sf_dir, "documents")
    sh = spread(docs).select("doc_id", F.explode(D.word_shingles("text", 5)).alias("g"))
    is_bench = F.col("doc_id") % 20 == 0
    bench = (
        sh.filter(is_bench)
        .select("g", F.col("doc_id").alias("bench_doc"))
        .distinct()
    )
    pairs = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "g")
        .select("doc_id", "bench_doc")
        .distinct()
    )
    hits = pairs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        docs.filter(~is_bench)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_bench_hits"),
            (F.coalesce("n", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


@register(
    "exact_dedup_bloom_prefilter",
    oracle="""
    WITH corpus AS (
      SELECT sha256(text) AS s FROM documents WHERE doc_id % 5 <> 4
    ),
    delivery AS (
      SELECT doc_id, sha256(text) AS content_sha
      FROM documents WHERE doc_id % 5 = 4
      UNION ALL
      SELECT doc_id + 1000000, sha256(text)
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT d.doc_id, d.content_sha
    FROM delivery d
    WHERE d.content_sha NOT IN (SELECT s FROM corpus)
    """,
)
def exact_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 at incremental-delivery scale: a new delivery (20% fresh texts +
    a re-delivered 20% slice of the corpus under new doc_ids, the
    README.md:44 re-delivered-partition shape) is exact-deduped against
    corpus HISTORY through a staged Bloom filter instead of a full join.

    Path: build the (word_idx, word) filter over corpus content hashes
    (bloom_build — one aggregate, 8 KiB at m=2^16), broadcast it, and
    flag each delivery hash maybe-present (all k bits set) or
    definitely-new. Verification then touches the corpus exactly once
    and NEVER SHUFFLES it: confirmed duplicates = corpus semi-joined
    against the broadcast maybe set (map-side), and the result is the
    delivery anti-joined against the broadcast confirmed set. No false
    negatives, so the output is EXACTLY the plain anti-join and the
    query stays hash-checked; FPR bound and maybe-set shrink are pinned
    in tests/test_dedup.py, and the plain-SMJ vs broadcast-semi vs
    bloom crossover is measured in BENCH_dedup.json (bloom_* rungs).
    At 100 TB: word tables build once and OR-merge across deliveries;
    each delivery's corpus pass is a scan with a broadcast filter (and
    is skippable outright when the maybe set is empty), not a corpus-
    wide exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus_sha = (
        docs.filter(F.col("doc_id") % 5 != 4)
        .select(D.content_hash("text").alias("s"))
        .distinct()
    )
    delivery = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", D.content_hash("text").alias("content_sha"))
        .unionByName(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                D.content_hash("text").alias("content_sha"),
            )
        )
    )
    words = D.bloom_build(corpus_sha, "s")
    flags = D.bloom_maybe_contains(
        delivery.select("content_sha").distinct(), "content_sha", words
    )
    maybe_keys = flags.filter(F.col("maybe")).select("content_sha")
    confirmed = corpus_sha.join(
        F.broadcast(maybe_keys),
        corpus_sha["s"] == maybe_keys["content_sha"],
        "left_semi",
    ).select(F.col("s").alias("content_sha"))
    return delivery.join(F.broadcast(confirmed), "content_sha", "left_anti").select(
        "doc_id", "content_sha"
    )


@register(
    "sorted_neighborhood_near_dups",
    oracle="""
    WITH d AS (
      SELECT doc_id, lower(substr(text, 1, 40)) AS skey,
             list_distinct(string_split(text, ' ')) AS ws
      FROM documents
    ),
    r AS (
      SELECT doc_id, ws,
             row_number() OVER (ORDER BY skey, doc_id) AS rn
      FROM d
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.rn - a.rn AS rank_gap,
             len(list_intersect(a.ws, b.ws)) AS common,
             len(a.ws) AS na, len(b.ws) AS nb
      FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
    )
    SELECT id_a, id_b, rank_gap,
           round(common::DOUBLE / (na + nb - common), 4) AS jaccard
    FROM cand
    WHERE common::DOUBLE / (na + nb - common) >= 0.5
    """,
)
def sorted_neighborhood_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 candidate generation by SORT PROXIMITY (Hernandez-Stolfo
    SIGMOD'95 sorted-neighborhood method): documents ordered by a
    40-char lowercased prefix key, every pair within 5 positions
    verified with exact word-set Jaccard >= 0.5. The paradigm hash
    blocking can't express — candidates that are NEAR in an order
    (shared prefixes, truncations) rather than equal on a derived key —
    at a guaranteed n*w candidate budget with no skew risk (a rank
    window is constant-size; a band bucket is not).

    The oracle replays rank -> window-join -> verify with a plain
    row_number, value-matching the distributed two-level rank
    (operators/dedup.py:sorted_neighborhood_pairs) — a green row proves
    the range-partitioned rank IS the global rank. rank_gap is kept in
    the output so the window semantics (not just the survivor set) are
    hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.sorted_neighborhood_pairs(
        docs, "doc_id", F.lower(F.substring("text", 1, 40)), window=5
    )
    ws = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws")
    )
    wa = ws.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("wa"))
    wb = ws.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("wb"))
    verified = (
        pairs.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            "rank_gap",
            (
                F.size(F.array_intersect("wa", "wb")).cast("double")
                / (
                    F.size("wa") + F.size("wb")
                    - F.size(F.array_intersect("wa", "wb"))
                )
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    return verified.select(
        "id_a", "id_b", "rank_gap", F.round("j", 4).alias("jaccard")
    )



_CONTAINMENT_TAU_MP = 800000  # max-direction containment >= 0.8


_CONTAINMENT_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                                FOR i IN range(1, len(ws)-1)]) AS sh
          FROM t),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
    cd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    m AS (
      SELECT id_a, id_b,
             CAST(cd.common AS BIGINT) AS common,
             CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
             CAST(ROUND(cd.common * 1000000.0 / sa.n) AS BIGINT) AS cont_ab_mp,
             CAST(ROUND(cd.common * 1000000.0 / sb.n) AS BIGINT) AS cont_ba_mp,
             CAST(ROUND(cd.common * 1000000.0
                        / (sa.n + sb.n - cd.common)) AS BIGINT) AS jaccard_mp
      FROM cd
      JOIN sz sa ON sa.doc_id = cd.id_a
      JOIN sz sb ON sb.doc_id = cd.id_b
    )
    SELECT * FROM m
    WHERE GREATEST(cont_ab_mp, cont_ba_mp) >= {_CONTAINMENT_TAU_MP}
    """


@register("doc_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2+ ASYMMETRIC resemblance — shingle CONTAINMENT (Broder SEQUENCES
    '97 defines both: resemblance = Jaccard, containment =
    |A∩B| / |A|): the quote-inclusion detector Jaccard structurally
    misses. A short document wholly quoted inside a long one has
    containment ~1.0 in the short→long direction while Jaccard =
    |A|/|B| can sit far below every near-dup threshold — exactly the
    license-header / boilerplate-quotation / excerpt case a curation
    pipeline must treat differently from symmetric near-duplication
    (drop the copy vs trim the quote, cf. `dup_span_trim_docs`). Emits
    both directions plus Jaccard for contrast, all as integer
    micropoints over exact shingle-set counts; pairs qualify when the
    max-direction containment >= 0.8.

    Scale shape: identical inverted-index plan to `near_dup_jaccard`
    (hash join on the shingle key, never a crossJoin; only co-shingled
    pairs materialize) — containment reuses the same common-count
    frame, the denominators are the per-doc set sizes already computed;
    at 100 TB the banded/stop-shingle escapes of the Jaccard family
    apply unchanged because the candidate generator is shared."""
    from dataengineerchallenge_spark.operators.dedup import spread, word_shingles

    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        F.col("doc_id").alias("_id"),
        F.explode(word_shingles("text", 3)).alias("_sh"),
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))
    mp = lambda num, den: F.round(num * 1000000.0 / den, 0).cast("bigint")  # noqa: E731
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("common").cast("long").alias("common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            mp(F.col("common"), F.col("n_a")).alias("cont_ab_mp"),
            mp(F.col("common"), F.col("n_b")).alias("cont_ba_mp"),
            mp(F.col("common"), F.col("n_a") + F.col("n_b") - F.col("common")).alias(
                "jaccard_mp"
            ),
        )
    )
    return out.filter(
        F.greatest("cont_ab_mp", "cont_ba_mp") >= _CONTAINMENT_TAU_MP
    )


_SUFFIX_SPAN_MIN = 4
_SUFFIX_KEY_WORDS = 24


def _suffix_span_oracle(min_len: int, key_words: int) -> str:
    """DuckDB replay of the suffix-order span pass: truncated suffix
    keys, lag/lead neighbors in (key, doc, pos) order, word-level LCPs
    (NULLIF guards list_position's 0-when-absent), segmented running
    mins within consecutive same-doc runs, per-doc interval merge."""

    def lcp(a: str, b: str) -> str:
        return (
            f"COALESCE(NULLIF(list_position(list_transform("
            f"generate_series(1, least(len({a}), len({b}))),"
            f" i -> {a}[i] = {b}[i]), false), 0) - 1,"
            f" least(len({a}), len({b})))"
        )

    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sfx AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos, ws[i : i + {key_words - 1}] AS sarr,
             array_to_string(ws[i : i + {key_words - 1}], ' ') AS skey
      FROM t, UNNEST(generate_series(1, len(ws))) AS u(i)),
    ord AS MATERIALIZED (
      SELECT doc_id, pos, sarr,
             row_number() OVER (ORDER BY skey, doc_id, pos) AS rn,
             lag(sarr)  OVER (ORDER BY skey, doc_id, pos) AS psarr,
             lead(sarr) OVER (ORDER BY skey, doc_id, pos) AS nsarr
      FROM sfx),
    lcps AS MATERIALIZED (
      SELECT doc_id, pos, rn,
             CASE WHEN psarr IS NULL THEN -1
                  ELSE {lcp("psarr", "sarr")} END AS alcp,
             CASE WHEN nsarr IS NULL THEN -1
                  ELSE {lcp("sarr", "nsarr")} END AS nlcp
      FROM ord),
    runs AS MATERIALIZED (
      SELECT *, rn - row_number() OVER (PARTITION BY doc_id ORDER BY rn)
                AS runid
      FROM lcps),
    scan AS MATERIALIZED (
      SELECT doc_id, pos,
             GREATEST(
               min(alcp) OVER (PARTITION BY doc_id, runid ORDER BY rn
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
               min(nlcp) OVER (PARTITION BY doc_id, runid ORDER BY rn
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING)) AS mlen
      FROM runs),
    iv AS MATERIALIZED (
      SELECT doc_id, pos AS s, pos + mlen AS e FROM scan
      WHERE mlen >= {min_len}),
    ive AS (
      SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pmax
      FROM iv),
    isl AS (
      SELECT *, sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island
      FROM ive)
    SELECT doc_id,
           CAST(min(s) AS INT) AS span_start,
           CAST(max(e) AS INT) AS span_end,
           CAST(max(e) - min(s) AS INT) AS span_len
    FROM isl GROUP BY doc_id, island
    """


@register(
    "suffix_dup_spans",
    oracle=_suffix_span_oracle(_SUFFIX_SPAN_MIN, _SUFFIX_KEY_WORDS),
)
def suffix_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+++ MAXIMAL duplicated-substring spans by distributed suffix
    grouping (operators/dedup.py:suffix_dup_span_frame — the exact
    ExactSubstr half of Lee et al. 2022, re-expressed as suffix keys +
    the sorted-neighborhood two-level global rank instead of a suffix
    array). Where ``dup_span_trim_docs`` marks fixed 5-gram windows,
    this reports TRUE span boundaries at a 4-word threshold: a 4-word
    cross-doc duplicate — invisible to every 5-gram — is found, and a
    73-word quoted block comes back as ONE (start, end) extent instead
    of a pile of gram windows. Coverage-superset and clipped-boundary
    pins vs the 5-gram pass live in tests/test_dedup.py.

    Scale: suffix keys are truncated at 24 words (the explicit byte
    budget; interval merge provably restores exact maximal extents for
    any truncation >= the threshold), the global suffix order is the
    two-level range rank, adjacency is two integer-key self-joins, and
    the run scans + interval merges are per-doc windows — no stage is
    all-pairs or single-partition."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return D.suffix_dup_span_frame(
        docs,
        "doc_id",
        "text",
        min_len=_SUFFIX_SPAN_MIN,
        key_words=_SUFFIX_KEY_WORDS,
    )


# Fellegi-Sunter m-probabilities: literal convention values (no labeled
# pairs ship with the fixture — the standard bootstrap before an EM fit;
# u-probabilities ARE estimated from the data, per field, as the
# agreement rate over all blocked pairs).
_FS_M = {"brand": 0.9, "noun": 0.9, "price": 0.95}


@register(
    "part_linkage_scores",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey AS k, p_type, p_size, p_brand,
             string_split(p_name, ' ')[2] AS noun,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    pairs AS (
      SELECT a.k AS u, b.k AS v,
             CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS ag_brand,
             CASE WHEN a.noun = b.noun THEN 1 ELSE 0 END AS ag_noun,
             CASE WHEN abs(a.cents - b.cents) <= 50 THEN 1 ELSE 0 END AS ag_price
      FROM p a JOIN p b
        ON a.p_type = b.p_type AND a.p_size = b.p_size AND a.k < b.k
    ),
    ustat AS (
      SELECT COUNT(*) AS n,
             SUM(ag_brand) AS sb, SUM(ag_noun) AS sn, SUM(ag_price) AS sp
      FROM pairs
    ),
    scored AS (
      SELECT pr.u, pr.v,
             pr.ag_brand * 4 + pr.ag_noun * 2 + pr.ag_price AS agreement_bits,
             CAST(ROUND(CASE WHEN pr.ag_brand = 1
                   THEN ln({_FS_M['brand']} / (us.sb * 1.0 / us.n))
                   ELSE ln({1 - _FS_M['brand']} / (1.0 - us.sb * 1.0 / us.n))
                   END * 1000000.0, 0) AS BIGINT)
             + CAST(ROUND(CASE WHEN pr.ag_noun = 1
                   THEN ln({_FS_M['noun']} / (us.sn * 1.0 / us.n))
                   ELSE ln({1 - _FS_M['noun']} / (1.0 - us.sn * 1.0 / us.n))
                   END * 1000000.0, 0) AS BIGINT)
             + CAST(ROUND(CASE WHEN pr.ag_price = 1
                   THEN ln({_FS_M['price']} / (us.sp * 1.0 / us.n))
                   ELSE ln({1 - _FS_M['price']} / (1.0 - us.sp * 1.0 / us.n))
                   END * 1000000.0, 0) AS BIGINT) AS weight_micropoints
      FROM pairs pr CROSS JOIN ustat us
    )
    SELECT u AS part_a, v AS part_b,
           CAST(agreement_bits AS BIGINT) AS agreement_bits,
           weight_micropoints
    FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY weight_micropoints DESC, u, v) <= 100
    """,
)
def part_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage à la Fellegi & Sunter (JASA 1969)
    over the part catalog — the scoring layer entity resolution runs
    where the string-similarity family (EDJoin/sorted-neighborhood)
    only generates candidates: blocked pairs (same p_type AND p_size —
    a real two-field blocking pass) get a per-field agreement vector
    (brand equality, name-noun equality, retail price within 50
    cents), and each field contributes the FS log-odds weight
    ln(m/u) on agreement or ln((1−m)/(1−u)) on disagreement. The
    u-probabilities are ESTIMATED FROM THE DATA per field (agreement
    rate over all blocked pairs — exact integer ratios), m's are the
    standard literal bootstrap absent labeled pairs (the EM starting
    point, documented in _FS_M). Per-field weights integerize to
    micropoints before the 3-term sum; top-100 by total weight with
    (u, v) tie-break.

    Scale: blocking bounds the pair frame (|block|² per (type, size)
    cell, never all-pairs); the u-estimate is one aggregate over the
    pair frame; weights are a broadcast 1-row attach. ln() on
    identical double operands is the JSD/PSI family's proven
    cross-engine surface."""
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        "p_type",
        "p_size",
        "p_brand",
        F.element_at(F.split("p_name", " "), 2).alias("noun"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_type") == F.col("b.p_type"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.k") < F.col("b.k")),
    ).select(
        F.col("a.k").alias("u"),
        F.col("b.k").alias("v"),
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), 1).otherwise(0).alias("ag_brand"),
        F.when(F.col("a.noun") == F.col("b.noun"), 1).otherwise(0).alias("ag_noun"),
        F.when(
            F.abs(F.col("a.cents") - F.col("b.cents")) <= 50, 1
        ).otherwise(0).alias("ag_price"),
    )
    ustat = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ag_brand").alias("sb"),
        F.sum("ag_noun").alias("sn"),
        F.sum("ag_price").alias("sp"),
    )

    def fterm(ag: str, s: str, m: float):
        u = F.col(s) * 1.0 / F.col("n")
        return (
            F.round(
                F.when(F.col(ag) == 1, F.log(F.lit(m) / u))
                .otherwise(F.log(F.lit(1 - m) / (1.0 - u)))
                * 1000000.0,
                0,
            )
        ).cast("bigint")

    scored = pairs.crossJoin(F.broadcast(ustat)).select(
        "u",
        "v",
        (F.col("ag_brand") * 4 + F.col("ag_noun") * 2 + F.col("ag_price"))
        .cast("long")
        .alias("agreement_bits"),
        (
            fterm("ag_brand", "sb", _FS_M["brand"])
            + fterm("ag_noun", "sn", _FS_M["noun"])
            + fterm("ag_price", "sp", _FS_M["price"])
        ).alias("weight_micropoints"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("weight_micropoints"), F.asc("u"), F.asc("v"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 100)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "agreement_bits",
            "weight_micropoints",
        )
    )


_CONTAM_N = 8  # n-gram order for the contamination screen
_CONTAM_EVAL_SRC = "src0"  # the held-out "benchmark" source


_CONTAM_ORACLE = f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws
               FROM documents),
    g AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(ws[i:i + {_CONTAM_N - 1}], ' ')
                            FOR i IN range(1, len(ws) - {_CONTAM_N - 2})])
               AS grams
      FROM t WHERE len(ws) >= {_CONTAM_N}
    ),
    ev AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
      WHERE source = '{_CONTAM_EVAL_SRC}'
    ),
    train AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g
      WHERE source != '{_CONTAM_EVAL_SRC}'
    ),
    hits AS (
      SELECT ev.doc_id, COUNT(*) AS n_hit
      FROM ev JOIN train ON train.gram = ev.gram
      GROUP BY ev.doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           CAST(ROUND(COALESCE(h.n_hit, 0) * 1000000.0 / len(g.grams), 0)
                AS BIGINT) AS contamination_micropoints
    FROM g LEFT JOIN hits h ON h.doc_id = g.doc_id
    WHERE g.source = '{_CONTAM_EVAL_SRC}'
    """


@register("eval_contamination_ngrams", oracle=_CONTAM_ORACLE)
def eval_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-CONTAMINATION screen (the n-gram overlap audit every
    LLM eval protocol runs before trusting a score — GPT-3 §4's
    13-gram screen, PaLM's 8-gram variant): treating one source as the
    held-out benchmark, report per eval document how many of its
    distinct {_CONTAM_N}-gram shingles appear anywhere in the other
    sources' text. This is the EVAL-side converse of
    ``decontaminate_train_corpus`` (which flags TRAIN docs colliding
    with an id-designated benchmark at 5-gram width): that rung
    decides what to DROP from training, this one scores how much each
    eval document's NUMBER can still be trusted — together they cover
    both directions of the quarantine decision.

    Scale: the gram inventory is the span-dedup family's shape (one
    explode + distinct per side); the screen is an equi-join on the
    gram key — at 100 TB the train side collapses to a distinct-gram
    table (or its Bloom/xxhash64 form, the dup_span_trim_docs_hashed
    crossover note applies verbatim). Nothing is all-pairs."""
    t = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= _CONTAM_N)
    grams = t.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(ws) - {_CONTAM_N - 1}),"
                f" i -> array_join(slice(ws, i, {_CONTAM_N}), ' '))"
            )
        ).alias("grams"),
    )
    ev = grams.filter(F.col("source") == _CONTAM_EVAL_SRC)
    ev_grams = ev.select("doc_id", F.explode("grams").alias("gram"))
    train = (
        grams.filter(F.col("source") != _CONTAM_EVAL_SRC)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    hits = (
        ev_grams.join(train, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        ev.select("doc_id", F.size("grams").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) * 1000000.0 / F.col("n_grams"), 0
            )
            .cast("bigint")
            .alias("contamination_micropoints"),
        )
    )


def _staged_train_doc_stream(spark: SparkSession, sf_dir: str) -> str:
    """The non-benchmark sources' documents written as 3 hash-
    partitioned files for the multi-micro-batch replay (the delivery-
    stream shape) — the TRAIN side of the contamination screen arriving
    as crawl drops."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        write_result(
            docs.filter(F.col("source") != _CONTAM_EVAL_SRC)
            .select("doc_id", "text")
            .repartition(3, "doc_id"),
            str(out),
        )

    return staged(
        spark,
        "contam_train",
        Path(sf_dir) / "documents.parquet",
        f"contam_train:{_CONTAM_EVAL_SRC}:f3",
        build,
    )


@register("stream_eval_contamination", oracle=_CONTAM_ORACLE)
def stream_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE twin of ``eval_contamination_ngrams`` — the shape a live
    crawl actually needs: every TRAIN drop folds its own distinct
    {_CONTAM_N}-gram set into a run-scoped store via foreachBatch
    (epoch-keyed overwrite, idempotent under retry; a distinct-UNION
    is slicing-invariant, so the drained store equals the batch train
    gram set exactly), and the eval source is re-scored against the
    maintained store at drain — contamination numbers that stay
    current as the crawl grows, without re-scanning history. Shares
    the batch query's DuckDB oracle hash-for-hash."""
    import shutil
    import tempfile

    payload = _staged_train_doc_stream(spark, sf_dir)
    schema = spark.read.parquet(payload).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(payload)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_contam_")
    grams_dir, ckpt = f"{scratch}/grams", f"{scratch}/ckpt"

    def grams_of(df: DataFrame) -> DataFrame:
        ws = F.split("text", " ")
        return (
            df.filter(F.size(ws) >= _CONTAM_N)
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(
                        F.expr(
                            f"transform(sequence(1, size(split(text, ' ')) - {_CONTAM_N - 1}),"
                            f" i -> array_join(slice(split(text, ' '), i, {_CONTAM_N}), ' '))"
                        )
                    )
                ).alias("gram"),
            )
        )

    def update(mb: DataFrame, epoch_id: int) -> None:
        reg = grams_of(mb).select("gram").distinct()
        reg.write.mode("overwrite").parquet(f"{grams_dir}/epoch_id={epoch_id}")

    from dataengineerchallenge_spark.streaming.runner import drain_foreach_batch

    try:
        drain_foreach_batch(sdf, update, ckpt, "stream contamination")
        train = spark.read.parquet(grams_dir).select("gram").distinct()
        ev_docs = spread(load_table(spark, sf_dir, "documents")).filter(
            F.col("source") == _CONTAM_EVAL_SRC
        )
        ev_grams = grams_of(ev_docs)
        totals = ev_grams.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
        hits = (
            ev_grams.join(train, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        out = totals.join(hits, "doc_id", "left").select(
            "doc_id",
            F.col("n_grams").cast("long"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) * 1000000.0 / F.col("n_grams"), 0
            )
            .cast("bigint")
            .alias("contamination_micropoints"),
        )
        result = local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return result


@register(
    "near_dup_minhash_retracted",
    oracle=_mhx_oracle(new_only=True, corpus_pred=" WHERE doc_id % 10 != 0"),
)
def near_dup_minhash_retracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE retraction on the committed MinHash band store — the
    near-dup store's leg of the retraction lifecycle (VERDICT r17
    next-round #3b, completing the mechanism trio: edge-store negative
    fold, GK register subtraction, and now the second per-row anti-join
    store next to postings/ANN codes): a takedown list (doc_id % 10 ==
    0) is anti-joined out of the appended base+delivery1 band store at
    serve time — band rows are per-doc, so retraction is row removal,
    never an un-fold — and the incoming delivery2 batch drops its own
    tombstoned docs before signing. Graded against the full banding
    oracle computed on the corpus WITHOUT the takedown set (split
    boundary still from the full corpus count), restricted to pairs
    involving a delivery doc: a green row proves store tombstoning ≡
    re-signing the surviving corpus from scratch — no tombstoned doc can
    surface as either endpoint of a served candidate pair.

    Delta-sized extra cost: one broadcast anti-join on the store read;
    the signing pass already touches only the batch."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    split2 = n_docs * 4 // 5
    tombstones = docs.select("doc_id").filter(F.col("doc_id") % 10 == 0)
    live_docs = docs.filter(F.col("doc_id") % 10 != 0)
    new = live_docs.filter(F.col("doc_id") >= split2)
    store = spark.read.parquet(
        _staged_minhash_bands_appended(
            spark, sf_dir, base=(3, 5), hi=(4, 5), family=D.EXPLICIT
        )
    ).join(F.broadcast(tombstones), "doc_id", "left_anti")
    # size the collision-join estimate from the LIVE batch — free
    # arithmetic on the already-known n_docs (no extra Spark action):
    # the delivery slice is [split2, n_docs) and the takedown rule
    # removes exactly the doc_id % 10 == 0 tenth of it
    live_new = (n_docs - split2) - (
        (n_docs - 1) // 10 - (split2 - 1) // 10
    )
    return _near_dups_of_batch(live_docs, new, store, D.EXPLICIT, live_new)[0]
