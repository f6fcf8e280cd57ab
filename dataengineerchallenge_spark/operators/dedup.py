"""Deduplication operators (SURVEY.md §2 A9/N1/N2, J9).

The reference's spec calls for handling "messy (ie real) data"; the
north star extends that to LLM-corpus dedup at 100 TB. Exact dedup is
one content-hash aggregate (``exact_dedup``, keep-first). Every near-dup
join is a candidate FILTER followed by an exact VERIFIER, the shape the
similarity-join literature gives (AllPairs/PPJoin, Bayardo et al. WWW'07; filter-and-verify over
compressed indexes, ICDE 2022):

============  ===========================================  ==========================
similarity    candidate filter                             verifier
============  ===========================================  ==========================
Jaccard       inverted index on shingles                   common-shingle count in the
              (``shingle_jaccard_pairs``)                  same aggregate
Jaccard       frequency-ordered prefixes                   ``array_intersect`` per pair
              (``prefix_filter_candidates``)               (``shingle_jaccard_pairs_prefix``)
Jaccard       banded MinHash collisions                    ``verify_jaccard``
              (``minhash_band_frame`` →
              ``band_collision_pairs``)
Jaccard       MinHash LSH buckets (``minhash_lsh_pairs``)  pyspark.ml's distance
Hamming (64)  four 16-bit bands of a fingerprint           ``banded_hamming_pairs``
              (``simhash_frame``, payload hashes)
edit distance EDJoin count + prefix filter                 ``levenshtein``
              (``edit_distance_join``)
============  ===========================================  ==========================

Banded MinHash and SimHash sign with a ``HashFamily``: ``SEEDED``
(xxhash64, the cheap engine hash; queries on it are rows-only) or
``EXPLICIT`` (md5 + affine permutations, which a DuckDB oracle replays
bit-for-bit). Both are stateless, so a batch signed later equals a full
re-signing: the property the incremental and streaming dedup rest on.

Span-level dedup (``dup_span_doc_frame``, ``suffix_dup_span_frame``,
``winnow_fingerprint_frame``), sorted-neighborhood blocking and the Bloom
prefilter complete the module. All JVM-side: no Python UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineerchallenge_spark.functions.hashing import spark_u32
from dataengineerchallenge_spark.sources.tables import spread

# ASCII unit separator: unambiguous field joiner for content hashing
_SEP = "\x1f"


def content_hash(*cols: str | Column) -> Column:
    """sha2-256 hex digest of the concatenated content columns (N1).

    coalesce to a sentinel so NULL != '' in the digest.
    """
    parts = [F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"), F.lit("\x00")) for c in cols]
    return F.sha2(F.concat_ws(_SEP, *parts), 256)


def exact_dedup(df: DataFrame, content_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per content-hash group: the one with the
    smallest ``order_col`` (keep-first).

    Implemented as ``groupBy(hash).agg(min_by(struct(*), order))`` rather
    than a row_number window: hash-aggregate gets map-side partial
    aggregation and never sorts, so the shuffle carries at most one
    surviving row per (partition, hash) — the right plan at 100 TB where
    duplicates are the common case.
    """
    hashed = df.withColumn("content_sha", content_hash(*content_cols))
    packed = F.struct(*[F.col(c) for c in df.columns])
    return (
        hashed.groupBy("content_sha")
        .agg(F.min_by(packed, F.col(order_col)).alias("_row"))
        .select("content_sha", "_row.*")
    )


def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a whitespace-tokenized text column.

    Pure higher-order functions (F6): sequence → transform → slice →
    concat_ws, all inside whole-stage codegen. Docs shorter than ``n``
    words yield an empty array (guarded — F.sequence would otherwise
    count backwards).
    """
    words = F.split(text_col if isinstance(text_col, Column) else F.col(text_col), " ")
    k = F.size(words) - F.lit(n - 1)
    shingle_at = lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))  # noqa: E731
    return F.when(k > 0, F.array_distinct(F.transform(F.sequence(F.lit(0), k - 1), shingle_at))).otherwise(
        F.array().cast("array<string>")
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard similarity join (N2's exact anchor).

    Inverted-index plan: explode distinct shingles → self-equi-join on the
    shingle → count common shingles per pair → Jaccard = common /
    (|A| + |B| - common). Only pairs sharing at least one shingle are ever
    materialized, and the join is a hash join on the shingle key — never a
    crossJoin.

    ``max_shingle_freq``: drop shingles occurring in more than this many
    docs from the JOIN side (stop-shingles). At 100 TB this bounds the
    per-key fan-out of the hottest shingles at the cost of possibly
    missing pairs whose entire overlap is stop-shingles — a recall
    trade-off, so it is None (exact) by default and in the oracled query.
    Doc sizes for the Jaccard denominator always use the unfiltered
    shingle sets.

    The lossless AllPairs prefix filter (``shingle_jaccard_pairs_prefix``)
    does not beat this plan at fixture scale: it read 5× slower at sf0.1
    on a 4-core box, and on a Zipfian corpus it wins only past about 100k
    docs (BENCH_dedup.json ``prefix_zipf_*``: 9.45 vs 8.66 s at 100k,
    17.43 vs 25.76 s at 200k, prefix vs plain).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # widen the scan first: the shingle explode and both map sides of the
    # self-join otherwise inherit the source's partitioning (1 for a
    # single-file fixture — measured 6.7s -> 1.9s at sf0.1); no-op at scale
    df = spread(df)
    sh = df.select(F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, n)).alias("_sh"))
    # r20 session 5 (guide §2.4 duplicated subtrees, §5.4): the executed
    # plan computed the split+shingle explode THREE times — the self-join's
    # two sides share one ReusedExchange, but each broadcast build of the
    # doc-size frame (sa, sb) re-ran the whole text pass (profiled: 2 of
    # the query's 3 heaviest stages were repeat explodes). Materializing
    # the inverted index once makes every consumer read |shingle| narrow
    # rows instead of re-scanning the corpus — at 100 TB that is two
    # full corpus passes removed. Values are identical (same rows, same
    # floats; only the materialization point moves).
    sh = sh.localCheckpoint()
    sizes_all = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    if max_shingle_freq is not None:
        freq = sh.groupBy("_sh").agg(F.count("*").alias("_df"))
        sh = sh.join(F.broadcast(freq.filter(F.col("_df") <= max_shingle_freq).select("_sh")), "_sh")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("_common"))
    )
    sa = sizes_all.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes_all.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("_common") / (F.col("_na") + F.col("_nb") - F.col("_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def prefix_filter_candidates(
    sh: DataFrame, threshold: float
) -> DataFrame:
    """AllPairs/PPJoin candidate generation (Bayardo et al. WWW'07): from
    a distinct (_id, _sh) inverted index, emit the (id_a, id_b) pairs that
    share a shingle inside BOTH docs' frequency-ordered prefixes.

    Prefix = the first |s| - ceil(t·|s|) + 1 shingles of each doc when
    ordered by ascending global document frequency (rarest first; shingle
    string as the deterministic tie-break). Lossless for Jaccard ≥ t:
    J ≥ t ⇒ |A∩B| ≥ t·max(|A|,|B|) ≥ ceil(t·|A|), and a doc's suffix
    holds only ceil(t·|A|) − 1 shingles, so by pigeonhole at least one
    common shingle lies in A's prefix (symmetrically B's). Ordering by
    RARITY makes the surviving join keys the low-fanout ones — the hot
    (high-df) shingles that dominate the plain inverted index's candidate
    volume are exactly the ones pushed out of every prefix.
    """
    from pyspark.sql import Window

    freq = sh.groupBy("_sh").agg(F.count("*").alias("_df"))
    w_doc = Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_sh"))
    sized = (
        sh.join(freq, "_sh")
        .withColumn("_rn", F.row_number().over(w_doc))
        .withColumn("_n", F.count("*").over(Window.partitionBy("_id")))
    )
    pref = sized.filter(
        F.col("_rn") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    ).select("_id", "_sh")
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def shingle_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard join with AllPairs prefix filtering — same
    output contract as ``shingle_jaccard_pairs`` (lossless), but the
    self-join runs only over prefix shingles and the full-overlap count
    is computed per CANDIDATE pair instead of per colliding shingle.

    The extra cost is one df-count aggregate, one join against the
    shingle-frequency table and a per-doc window sort; in exchange the
    candidate volume no longer grows with the square of hot-shingle
    fanout. Measured, that trade loses at fixture scale: 5× slower than
    the plain inverted index at sf0.1 on a 4-core box. It wins only past
    about 100k docs on a Zipfian corpus (BENCH_dedup.json
    ``prefix_zipf_*``: 9.45 vs 8.66 s at 100k, 17.43 vs 25.76 s at 200k,
    prefix vs plain). Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    df = spread(df)
    sh = df.select(
        F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, n)).alias("_sh")
    )
    # NOT checkpointed (r20 session 5): the shingle_jaccard_pairs
    # materialization was probed here and measured +20% (6.8 vs 5.7 s
    # median, same-session alternation) — a checkpoint ROOT erases the
    # plan stats the candidate verification joins plan their broadcast
    # sides from, and this variant's consumers already share the
    # inverted index through reused exchanges. The recompute-per-
    # consumer plan stays.
    cand = prefix_filter_candidates(sh, threshold)
    # verify per CANDIDATE pair on whole shingle SETS (two candidate-sized
    # joins + array_intersect), not by re-exploding the inverted index —
    # post-filter the candidate volume is small, the per-doc sets are not
    sets = sh.groupBy("_id").agg(
        F.sort_array(F.collect_list("_sh")).alias("_set"),
        F.count("*").alias("_n"),
    )
    sa = sets.select(
        F.col("_id").alias("id_a"), F.col("_set").alias("_sa"), F.col("_n").alias("_na")
    )
    sb = sets.select(
        F.col("_id").alias("id_b"), F.col("_set").alias("_sb"), F.col("_n").alias("_nb")
    )
    common = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard", common / (F.col("_na") + F.col("_nb") - common)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_jaccard_dist: float = 0.5,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash + banded LSH (N2/J9).

    shingle → HashingTF (binary presence vectors) → MinHashLSH
    approxSimilarityJoin. Sub-quadratic: candidates are generated only
    where a band's min-hash bucket collides, so the self-join cost is
    O(sum of bucket sizes²), not O(n²) — the 100 TB-safe plan the
    crossJoin oracle (queries/relational.py region_pairs) must never be.

    Returns (id_a, id_b, jaccard_dist) with id_a < id_b, seeded and
    deterministic.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    df = spread(df)
    shingled = df.select(
        F.col(id_col).alias("_id"), word_shingles(text_col, n).alias("_shingles")
    ).filter(F.size("_shingles") > 0)
    tf = HashingTF(inputCol="_shingles", outputCol="_features", numFeatures=num_features, binary=True)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, max_jaccard_dist, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA._id") < F.col("datasetB._id"))
        .select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


# --- Hash families for banded MinHash and SimHash ----------------------
#
# SEEDED hashes with the engine's xxhash64: cheap, but no DuckDB twin, so
# queries on it are rows-only. EXPLICIT replaces it with the repo's
# cross-engine construct (functions/hashing spark_u32/duck_u32: the first
# 8 md5 nibbles of a token as a 32-bit int) composed with affine
# permutations h_i(u) = (a_i·u + b_i) mod p, p = 2^31-1: the same
# published-construction discipline as the count-min and explicit-HLL
# sketches (queries/sketches.py). Coefficients come from a fixed LCG so
# both engines embed identical literals; all arithmetic stays inside
# int64 ((p-1)² < 2^63).

_MHX_P = 2147483647


def _mhx_coeffs(num_hashes: int, seed: int = 977) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) affine-permutation coefficients, a_i in
    [1, p-1], b_i in [0, p-1], from a fixed 31-bit LCG — pure literals,
    embedded identically in the Spark expressions and the oracle SQL."""
    x = seed
    out = []
    for _ in range(num_hashes):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x % (_MHX_P - 1) + 1
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append((a, x % _MHX_P))
    return out


MHX_COEFFS = _mhx_coeffs(64)


@dataclass(frozen=True)
class HashFamily:
    """A stateless hash family as the Spark SQL text the signers splice
    in; it is the only thing the seeded and explicit pipelines differ in.

    - ``tag``: slot tag of the family's staged band stores;
    - ``token``: per-shingle projection computed once as ``_u`` ahead of
      the MinHash aggregate, or None to hash ``_sh`` directly;
    - ``mins``: one ``min(...)`` aggregate per permutation;
    - ``band_key``/``band_col``: a band's key over its ``_h`` columns,
      each column wrapped in ``band_col`` first;
    - ``halves``: a SimHash token's 64 bits as two 32-bit halves of
      ``_t`` (high, low).

    The expressions are SQL text so that a 64-column aggregate costs one
    py4j call per column instead of one per operator node (r20: about
    2 s of Python-side plan construction per run before the change)."""

    tag: str
    token: str | None
    mins: tuple[str, ...]
    band_key: str
    band_col: str
    halves: tuple[str, str]


_XXH_TOKEN = "xxhash64(_t, 0)"
_MD5_TOKEN = "md5(cast(_t as string))"

# h_i(x) = xxhash64(x, 42·1000 + i); band_hash is a long
SEEDED = HashFamily(
    tag="mh",
    token=None,
    mins=tuple(f"min(xxhash64(_sh, {42000 + i}))" for i in range(64)),
    band_key="xxhash64({})",
    band_col="{}",
    halves=(f"shiftrightunsigned({_XXH_TOKEN}, 32)", f"{_XXH_TOKEN} & 4294967295"),
)

# band_hash is the comma-joined minima string, exactly what the oracle's
# ordered string_agg produces; collision semantics are full
# sub-signature equality, the same as hashing the tuple
EXPLICIT = HashFamily(
    tag="mhx",
    token=f"{spark_u32('_sh')} % {_MHX_P}",
    mins=tuple(f"min(({a} * _u + {b}) % {_MHX_P})" for a, b in MHX_COEFFS),
    band_key="concat_ws(',', {})",
    band_col="cast({} AS string)",
    halves=tuple(
        f"cast(conv(substring({_MD5_TOKEN}, {lo}, 8), 16, 10) as bigint)"
        for lo in (1, 9)
    ),
)


def minhash_band_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    band_rows: int = 4,
    family: HashFamily = SEEDED,
) -> DataFrame:
    """(id, band, band_hash): banded MinHash signatures from a STATELESS
    hash family (no fitted model), so signatures computed for an appended
    batch are bit-identical to what a full recompute would produce for
    the same rows. That property is what the incremental dedup split
    rests on: stage the corpus's band table once, then near-dup a new
    delivery by signing ONLY the new rows and joining against the staged
    bands (the N2 mirror of the ANN side's frozen-codebook append). With
    ``EXPLICIT`` the DuckDB oracle replays every register, so queries on
    the frame are hash-checked rather than rows-only.

    Plan: explode distinct shingles → the family's per-shingle token
    (EXPLICIT computes the md5 once, not once per permutation) →
    ``num_hashes`` codegen'd min-aggregates in ONE hash aggregate (a
    doc's shingles start co-partitioned, so map-side partials reduce each
    doc to a single row before the exchange) → band assembly is a pure
    projection. All JVM-side.

    Docs with fewer than ``n`` words have no shingles and yield no rows
    (they cannot shingle-near-dup anything). Defaults: 64 hashes in 16
    bands of 4 ⇒ P(candidate | J) = 1-(1-J⁴)¹⁶ ≈ 0.64 at J=0.5, 0.99 at
    J=0.7 — the standard banding trade documented in the LSH literature.
    """
    if num_hashes % band_rows != 0:
        raise ValueError(f"band_rows={band_rows} must divide num_hashes={num_hashes}")
    if num_hashes > len(family.mins):
        raise ValueError(f"at most {len(family.mins)} permutations available")
    sh = df.select(
        F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, n)).alias("_sh")
    )
    if family.token is not None:
        sh = sh.select("_id", F.expr(f"{family.token} AS _u"))
    mins = sh.groupBy("_id").agg(
        *[F.expr(f"{m} AS _h{i}") for i, m in enumerate(family.mins[:num_hashes])]
    )
    band_structs = ", ".join(
        "struct({b} AS band, {key} AS band_hash)".format(
            b=b,
            key=family.band_key.format(
                ", ".join(
                    family.band_col.format(f"_h{b * band_rows + r}")
                    for r in range(band_rows)
                )
            ),
        )
        for b in range(num_hashes // band_rows)
    )
    bands = F.expr(f"array({band_structs})")
    return (
        mins.select(F.col("_id"), F.explode(bands).alias("_b"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_b.band").alias("band"),
            F.col("_b.band_hash").alias("band_hash"),
        )
    )


# Conservative on-heap estimate of one band row (long id + int band +
# long hash + row overhead) for the broadcast-vs-shuffle decision below.
BAND_ROW_EST_BYTES = 48
# Broadcast budget for a delivery's band table — mirrors Spark's default
# autoBroadcastJoinThreshold (10 MB). A batch estimated past this must
# NOT be force-broadcast: the hint would OOM the driver rather than
# degrade (VERDICT r7 What's-wrong #2).
BROADCAST_BATCH_MAX_BYTES = 10 << 20


def band_collision_pairs(
    bands_a: DataFrame,
    bands_b: DataFrame | None = None,
    id_col: str = "doc_id",
    batch_band_rows: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from banded-signature
    collisions: an equi-join on (band, band_hash) — only docs agreeing on
    some band's full sub-signature ever meet, never all-pairs.

    One-sided use (``bands_b=None``) is the classic self-join. Two-sided
    use is the INCREMENTAL path: ``bands_a`` = the staged corpus band
    table (big, scanned in place), ``bands_b`` = the new batch's bands.
    How the batch attaches is a SIZE decision, not a fixed hint
    (VERDICT r7 What's-wrong #2 — an unconditional ``F.broadcast`` OOMs
    the driver once a delivery outgrows the broadcast budget):

    - ``mode="broadcast"`` / auto under budget: broadcast the batch —
      the staged side never shuffles and append cost scales with the
      batch. Right for "dedup the new 1%".
    - ``mode="shuffle"`` / auto over budget: plain equi-join with no
      hint. When ``bands_a`` is the (band, band_hash)-bucketed store
      (queries/dedup.py ``stage_bucketed_band_store``) the sort-merge
      join reads the store bucket-aligned with ZERO staged-side
      exchange — only the batch shuffles, into the store's bucket
      layout (same discipline as the EDJoin gram attach, r6). Degrades
      gracefully instead of failing at any batch size.
    - ``mode="auto"`` (default): broadcast iff
      ``batch_band_rows * BAND_ROW_EST_BYTES <= BROADCAST_BATCH_MAX_BYTES``;
      with no ``batch_band_rows`` estimate, broadcast (the legacy
      small-delivery contract — callers at unknown scale should pass
      the estimate, which they already have from the batch row count).
    """
    if mode not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"mode must be auto|broadcast|shuffle, got {mode!r}")
    a = bands_a.select(
        F.col(id_col).alias("_ida"), "band", "band_hash"
    )
    if bands_b is None:
        b = bands_a.select(F.col(id_col).alias("_idb"), "band", "band_hash")
        joined = a.join(b, ["band", "band_hash"])
    else:
        b = bands_b.select(F.col(id_col).alias("_idb"), "band", "band_hash")
        if mode == "auto":
            over = (
                batch_band_rows is not None
                and batch_band_rows * BAND_ROW_EST_BYTES > BROADCAST_BATCH_MAX_BYTES
            )
            mode = "shuffle" if over else "broadcast"
        joined = a.join(
            F.broadcast(b) if mode == "broadcast" else b, ["band", "band_hash"]
        )
    return (
        joined.filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .distinct()
    )


def verify_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cand: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set: join each
    pair's two texts, THEN shingle, and compute |A∩B| / |A∪B| with
    array_intersect — no explode, no per-shingle shuffle, right when the
    candidate set is already small (the LSH contract).

    The shingling projection sits deliberately ABOVE the joins: computed
    below them it would run for every corpus row even though only
    candidate rows survive (measured on the incremental bench: the
    per-corpus shingle pass made verify linear in the corpus instead of
    linear in the candidates). The joins carry raw text, which only the
    O(|candidates|) surviving rows ever pay to shingle. Returns
    (id_a, id_b, jaccard) at ``jaccard >= threshold``."""
    txt = df.select(F.col(id_col).alias("_vid"), F.col(text_col).alias("_vtxt"))
    a = txt.select(F.col("_vid").alias("id_a"), F.col("_vtxt").alias("_ta"))
    b = txt.select(F.col("_vid").alias("id_b"), F.col("_vtxt").alias("_tb"))
    sha, shb = word_shingles(F.col("_ta"), n), word_shingles(F.col("_tb"), n)
    common = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - common
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sha.alias("_sha"), shb.alias("_shb"))
        # two shingle-less docs have an empty union: Jaccard undefined,
        # never a near-dup pair (band collisions can't produce them —
        # no signature — but an arbitrary caller-supplied pair can)
        .filter(union > 0)
        .withColumn("jaccard", common / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def simhash_frame(
    df: DataFrame, id_col: str, tokens: Column, family: HashFamily = SEEDED
) -> DataFrame:
    """(id, fa, fb) 64-bit SimHash of a token-array column, kept as TWO
    32-bit halves (fa = high, fb = low) so no engine ever composes a
    64-bit value that could overflow signed arithmetic (the DuckDB
    oracle of the ``EXPLICIT`` family relies on that).

    Caller chooses the token space — ``word_shingles(...)`` for near-dup
    detection (unigrams are too coarse when the vocabulary is small).

    Plan: explode tokens → the family's two 32-bit halves per token →
    one hash-aggregate with 64 codegen'd ``sum(±1)`` bit votes → assemble
    the halves. Tokens of one doc start co-partitioned (they come from
    one row), so map-side partial aggregation fully combines each doc's
    votes before the exchange — the shuffle carries one 64-int row per
    doc regardless of document length. A vote of 0 (even token count,
    split bits) maps to bit 0. All JVM-side, no Python.
    """
    hi, lo = family.halves
    tok = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens).alias("_t")
    ).select("_id", F.expr(f"{hi} AS _ua"), F.expr(f"{lo} AS _ub"))
    votes = tok.groupBy("_id").agg(
        *[
            F.expr(
                f"sum(cast(shiftrightunsigned(_u{nm}, {b}) & 1 AS int) * 2 - 1)"
                f" AS _{nm}{b}"
            )
            for nm in ("a", "b")
            for b in range(32)
        ]
    )
    fa = " + ".join(f"cast(_a{b} > 0 AS long) * {1 << b}" for b in range(32))
    fb = " + ".join(f"cast(_b{b} > 0 AS long) * {1 << b}" for b in range(32))
    return votes.select(
        F.col("_id").alias(id_col),
        F.expr(f"({fa}) AS fa"),
        F.expr(f"({fb}) AS fb"),
    )


def dup_span_doc_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
    hash_grams: bool = False,
    cand_mode: str = "auto",
) -> DataFrame:
    """Span-level exact dedup (the Lee et al. 2022 'Deduplicating
    Training Data' signal at word granularity): find every positional
    n-word gram that occurs in >= ``min_docs`` DISTINCT documents, mark
    the word positions those grams cover, and emit per-doc coverage
    stats plus the TRIMMED text (covered words removed, original order
    preserved). Doc-level dedup (exact_dedup/near_dup_*) drops whole
    documents; this catches the boilerplate/license-header/quoted-block
    duplication that survives it — the remaining chunk of duplicated
    training tokens a corpus-curation pipeline must account for.

    Plan (all JVM-side, one pass over the text):
    - positional grams via sequence→transform→slice (the word_shingles
      machinery kept positional, NOT distinct — position matters here);
    - gram doc-frequency = count_distinct(doc) per gram, equi-joined
      back (inverted-index join on the gram key, the same shape as the
      shingle Jaccard join — never all-pairs, fanout bounded by the
      gram's doc list);
    - covered positions = explode(sequence(start, start+n-1)), distinct;
    - trim = posexplode words, anti-join covered, array_sort(collect) —
      per-doc grouped reconstruction, shuffle keyed on the doc id.

    Within-doc repeats do NOT count (df is distinct-doc); docs shorter
    than ``n`` words have no grams and come back untrimmed with
    dup_fraction 0. Returns (id, n_words, n_dup_grams, covered_words,
    dup_fraction, trimmed_text).

    ``hash_grams=True`` (r14, VERDICT r13 #5) is the 100 TB shuffle
    shape: the corpus-wide doc-frequency aggregate and the candidate
    attach key on ``xxhash64(g)`` — an 8-byte join key instead of the
    raw ~n·word-length gram string, cutting the two full-corpus shuffles'
    key bytes ~4-5x (measured in BENCH_dedup.json). EXACTNESS is kept,
    not traded: a 64-bit collision can only merge two grams' doc sets,
    so the hash-keyed frequency filter is a LOSSLESS superset (any gram
    truly in >= min_docs docs has a key spanning >= min_docs docs), and
    candidates re-verify with an exact count_distinct on the TRUE gram
    string — but that re-aggregation touches only candidate rows (grams
    whose key already spans min_docs docs), never the corpus. Output is
    bit-identical to the string-keyed plan (same DuckDB oracle
    hash-checks both registered variants).

    ``cand_mode`` governs how the candidate-key set attaches to the
    gram frame under ``hash_grams`` (ADVICE r14 — an unconditional
    broadcast FAILS outright, not degrades, once a duplication-heavy
    corpus pushes the dup-key set past the driver/broadcast budget):
    ``"broadcast"`` forces the hint (the boilerplate-regime fast path),
    ``"shuffle"`` uses a plain equi-join (only the 8-byte key column
    shuffles — still far cheaper than the string-keyed plan's full-gram
    shuffle), and ``"auto"`` (default) materializes the key set
    (localCheckpoint — it is consumed again by the join anyway), counts
    it, and broadcasts iff the estimated size fits the same 10 MB
    budget ``band_collision_pairs`` uses. The one extra tiny action
    buys the same graceful degrade the banded family has."""
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    words = F.split(F.col("_txt"), " ")
    k = F.size(words) - F.lit(n - 1)
    gram_at = lambda i: F.struct(  # noqa: E731
        i.alias("start"), F.concat_ws(" ", F.slice(words, i + 1, n)).alias("g")
    )
    grams = F.when(
        k > 0, F.transform(F.sequence(F.lit(0), k - 1), gram_at)
    ).otherwise(F.array().cast("array<struct<start:int,g:string>>"))
    sh = base.select("_id", F.explode(grams).alias("_s")).select(
        "_id", F.col("_s.start").alias("start"), F.col("_s.g").alias("g")
    )
    # r20 session 5: same duplicated-subtree fix as shingle_jaccard_pairs
    # — the positional gram explode is consumed by the doc-frequency
    # aggregate AND the candidate/hits join (and on the hash path by the
    # re-verify), and the executed plan re-ran the split+slice text pass
    # once per consumer (profiled: two ~3 s repeat-explode stages at
    # sf0.1). One materialization, every consumer reads the narrow gram
    # rows.
    sh = sh.localCheckpoint()
    if cand_mode not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"cand_mode must be auto|broadcast|shuffle, got {cand_mode!r}")
    if hash_grams:
        shk = sh.withColumn("_gk", F.xxhash64("g"))
        cand_keys = (
            shk.groupBy("_gk")
            .agg(F.count_distinct("_id").alias("_df"))
            .filter(F.col("_df") >= min_docs)
            .select("_gk")
        )
        # candidate rows: every positional occurrence of a gram whose
        # HASH key spans >= min_docs docs — a tiny, lossless superset.
        # Preferred attach is BROADCAST: 8 bytes per duplicated gram (the
        # whole point of hashing — the string dup-gram set outgrows the
        # broadcast budget 4-5x earlier), so the attach never re-shuffles
        # the gram frame; measured at 200k docs the un-hinted SMJ attach
        # re-shuffled all 11M gram rows and erased the aggregate's
        # key-byte win. Regime note: boilerplate is a small fraction of a
        # real corpus, so |dup keys| ≪ |grams|; a corpus where MOST grams
        # are duplicated should use the string plan (one shuffle, no
        # second pass) — that trade is what BENCH_dedup.json's span rung
        # measures. `cand_mode` (docstring) sizes the decision instead of
        # hard-coding the hint.
        if cand_mode == "auto":
            # 'auto' pays one eager count to size the attach; the
            # localCheckpoint makes that count's work reusable by the
            # join itself (the aggregate runs once, not twice). Callers
            # that already know their regime pass 'broadcast'/'shuffle'
            # explicitly and skip both the action and the checkpoint.
            cand_keys = cand_keys.localCheckpoint()
            over = (
                cand_keys.count() * CAND_KEY_EST_BYTES
                > BROADCAST_BATCH_MAX_BYTES
            )
            cand_mode = "shuffle" if over else "broadcast"
        cand_hits = shk.join(
            F.broadcast(cand_keys) if cand_mode == "broadcast" else cand_keys,
            "_gk",
        )
        dup_grams = (
            cand_hits.groupBy("g")
            .agg(F.count_distinct("_id").alias("_df2"))
            .filter(F.col("_df2") >= min_docs)
            .select("g")
        )
        hits = cand_hits.join(dup_grams, "g").select("_id", "start", "g")
    else:
        dup_grams = (
            sh.groupBy("g")
            .agg(F.count_distinct("_id").alias("_df"))
            .filter(F.col("_df") >= min_docs)
            .select("g")
        )
        hits = sh.join(dup_grams, "g")
    covered = hits.select(
        "_id", F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias("pos")
    ).distinct()
    n_dup = hits.groupBy("_id").agg(F.count(F.lit(1)).alias("n_dup_grams"))
    # r20: the trim is ARRAY-LOCAL instead of positional-explode —
    # the old plan posexploded EVERY corpus token, anti-joined the
    # covered positions and re-grouped with collect_list (a full
    # token-level shuffle + regroup, one of the query's two heaviest
    # stages at sf0.1). Now the distinct covered positions collapse to
    # one per-doc array (reusing the distinct's exchange), and the
    # trimmed text is rebuilt per row: kept positions =
    # array_except(sequence(0, n-1), covered) — ascending by
    # construction, linear-time hash set-difference — indexed back into
    # the token array. covered_words rides the same array as its size.
    # Token-for-token identical to the anti-join construction (same
    # split, same positions, same single-space join); the DuckDB oracle
    # hash-checks both registered rungs.
    cov_arr = covered.groupBy("_id").agg(F.collect_list("pos").alias("_cov"))
    ws = F.split(F.col("_txt"), " ")
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size(ws) - 1),
        F.coalesce(F.col("_cov"), F.array().cast("array<int>")),
    )
    trimmed_c = F.array_join(
        F.transform(kept_pos, lambda i: F.get(ws, i)), " "
    )
    return (
        base.join(cov_arr, "_id", "left")
        .join(n_dup, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size(ws).cast("long").alias("n_words"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce(F.size("_cov"), F.lit(0)).cast("long").alias("covered_words"),
            F.round(
                F.coalesce(F.size("_cov"), F.lit(0)) / F.size(ws), 4
            ).alias("dup_fraction"),
            F.coalesce(trimmed_c, F.lit("")).alias("trimmed_text"),
        )
    )


# On-heap estimate of one 8-byte candidate hash key row (long + row
# overhead) for dup_span_doc_frame's broadcast-vs-shuffle decision —
# same budget discipline as BAND_ROW_EST_BYTES above. DELIBERATE 4x
# margin over the raw key bytes: a broadcast relation carries UnsafeRow
# framing + the driver-side hash relation, so the effective per-row
# footprint lands near this bound; near the 10 MB threshold the margin
# makes 'auto' err toward the shuffle attach (safe, one extra exchange)
# rather than toward an over-budget broadcast (driver OOM at scale).
CAND_KEY_EST_BYTES = 32

# Winnowing position encoding: selected window-minima are picked over
# key = gram_hash * POS_MOD + pos so ties on equal hashes break on the
# SMALLEST position identically in both engines. u32 hash < 2^32 and
# pos < 2^24 keep the key < 2^56, exactly representable in int64 on
# both sides; docs longer than 16M words need a wider encoding, and the
# invariant is ENFORCED in winnow_fingerprint_frame (a silent wraparound
# would corrupt fingerprints and their cross-engine parity; ADVICE r14).
WINNOW_POS_MOD = 1 << 24


def winnow_fingerprint_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """(id, gram_hash, pos) WINNOWED document fingerprints — the MOSS
    local fingerprinting algorithm (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — a public design): hash every positional ``k``-word
    gram, slide a ``w``-wide window over the hash sequence, and keep
    each window's MINIMUM. The selected set is ~2/(w+1) of the grams
    (the published density) yet carries the winnowing GUARANTEE: any
    run of >= w + k - 1 shared words between two documents yields at
    least one shared fingerprint hash — bottom-k sketches
    (doc_fingerprints) sample globally and cannot promise that.

    Cross-engine by construction: the gram hash is the repo's md5-u32
    (functions/hashing spark_u32/duck_u32), window minima are taken
    over ``hash * WINNOW_POS_MOD + pos`` (deterministic tie-break on
    position), and frames clip at the partition end identically in
    Spark and DuckDB — so a DuckDB oracle replays the selection
    bit-for-bit and queries on this frame are hash-checked.

    Plan: one positional-gram explode (same projection as
    dup_span_doc_frame), one window pass per doc ordered by position
    (shuffle keyed on the doc id, partition size = doc gram count), one
    distinct. Docs shorter than ``k`` words have no grams and yield no
    rows; docs with fewer than ``w`` grams winnow their single
    truncated window (one fingerprint), so every doc with >= k words
    is represented.
    """
    from pyspark.sql import Window

    from dataengineerchallenge_spark.functions.hashing import spark_u32

    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    words = F.split(F.col("_txt"), " ")
    n = F.size(words) - F.lit(k - 1)
    grams = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # enforce the encoding invariant (module constant's comment): a gram
    # position at or past 2^24 would alias into the hash bits and
    # silently corrupt fingerprints — raise_error folds the check into
    # the existing projection, so an over-long document fails loudly
    # with zero extra passes (ADVICE r14)
    pos_ok = F.when(
        F.col("pos") >= WINNOW_POS_MOD,
        F.raise_error(
            F.format_string(
                "winnow_fingerprint_frame: document '%s' has a gram at "
                "position %s >= 2^24 — the hash*2^24+pos key encoding "
                "cannot represent it; split the document or widen "
                "WINNOW_POS_MOD",
                F.col("_id").cast("string"),
                F.col("pos").cast("string"),
            )
        ).cast("int"),
    ).otherwise(F.col("pos"))
    hashed = (
        base.select("_id", F.posexplode(grams).alias("pos", "g"))
        .select(
            "_id",
            "pos",
            (
                F.expr(spark_u32("g")) * F.lit(WINNOW_POS_MOD) + pos_ok
            ).alias("_key"),
        )
    )
    win = Window.partitionBy("_id").orderBy("pos").rowsBetween(0, w - 1)
    whole = Window.partitionBy("_id")
    sel = (
        hashed.withColumn("_wmin", F.min("_key").over(win))
        .withColumn("_n", F.count(F.lit(1)).over(whole))
        # valid window starts: 0..n-w (every full window), or the single
        # truncated window at 0 when the doc has fewer than w grams
        .filter(F.col("pos") <= F.greatest(F.col("_n") - w, F.lit(0)))
        .select("_id", F.col("_wmin").alias("_key"))
        .distinct()
    )
    return sel.select(
        F.col("_id").alias(id_col),
        F.expr(f"_key div {WINNOW_POS_MOD}").alias("gram_hash"),
        (F.col("_key") % WINNOW_POS_MOD).cast("int").alias("pos"),
    )


def banded_hamming_pairs(
    sh: DataFrame, max_hamming: int = 3, other: DataFrame | None = None
) -> DataFrame:
    """Distinct near-dup pairs (id_a < id_b, hamming) from a 64-bit
    fingerprint frame held as TWO 32-bit halves (columns ``_id, fa,
    fb`` — the signed-overflow-safe composition every explicit-hash
    family here uses): 16-bit banding over the four quarter-words makes
    the candidate join an equi-join on (band, value) — LOSSLESS for
    hamming ≤ 3 by pigeonhole (4 bands, ≤ 3 differing bits ⇒ some band
    matches exactly), never all-pairs — and candidates verify with the
    exact ``bit_count(xor)`` hamming sum over both halves.

    ANY 64-bit fingerprint source shares this one banding/verify plan:
    text SimHash (``simhash_near_dup_pairs``, both hash families) and the
    perceptual payload aHash (`operators/multimodal.py:payload_ahash` —
    the image/audio near-dup member of the N5 family). For
    ``max_hamming`` > 3 the banding degrades to a recall-limited
    candidate generator (standard SimHash practice).

    ``other`` (r15) switches to the two-sided INCREMENTAL form (the
    ``band_collision_pairs`` bands_b pattern): only pairs between a
    ``sh`` row and an ``other`` row are emitted — the store-vs-batch
    join an online serve loop needs, where store-store pairs were
    already delivered and batch-batch pairs come from a separate
    one-sided call. Ids are canonicalized (id_a = min) so output order
    is delivery-independent."""
    pieces = [
        (0, F.col("fa").bitwiseAND(F.lit(0xFFFF))),
        (1, F.shiftrightunsigned("fa", 16).bitwiseAND(F.lit(0xFFFF))),
        (2, F.col("fb").bitwiseAND(F.lit(0xFFFF))),
        (3, F.shiftrightunsigned("fb", 16).bitwiseAND(F.lit(0xFFFF))),
    ]
    def _bands(frame: DataFrame) -> DataFrame:
        return frame.select(
            "_id",
            "fa",
            "fb",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("band"), v.alias("val"))
                        for i, v in pieces
                    ]
                )
            ).alias("_band"),
        ).select("_id", "fa", "fb", "_band.band", "_band.val")

    a = _bands(sh).alias("a")
    b = _bands(other if other is not None else sh).alias("b")
    id_pred = (
        F.col("a._id") != F.col("b._id")
        if other is not None
        else F.col("a._id") < F.col("b._id")
    )
    if other is not None:
        ids = [
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        ]
    else:
        # a._id < b._id already orders the pair; least/greatest would hide
        # the stream side's _id partitioning and cost the dedup a shuffle
        ids = [F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")]
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & id_pred,
        )
        .select(
            *ids,
            # hamming is symmetric, so which side's halves land in which
            # slot doesn't matter after canonicalization
            F.col("a.fa").alias("_faa"),
            F.col("a.fb").alias("_fba"),
            F.col("b.fa").alias("_fab"),
            F.col("b.fb").alias("_fbb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("_faa").bitwiseXOR(F.col("_fab"))) + F.bit_count(
        F.col("_fba").bitwiseXOR(F.col("_fbb"))
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n: int = 3,
    family: HashFamily = SEEDED,
) -> DataFrame:
    """SimHash near-dup self-join over ``n``-word shingles: ``simhash_frame``
    signs each doc, ``banded_hamming_pairs`` finds and verifies the pairs
    (four 16-bit bands, LOSSLESS for hamming ≤ 3 by pigeonhole; a hash
    join, never all-pairs). With ``EXPLICIT`` every value is
    ANSI-reproducible, so the DuckDB oracle can be the NAIVE all-pairs
    hamming join — hash equality then also proves the banding lossless
    on real data. Returns (id_a, id_b, hamming) with id_a < id_b."""
    sh = simhash_frame(spread(df), id_col, word_shingles(text_col, n), family).select(
        F.col(id_col).alias("_id"), "fa", "fb"
    )
    return banded_hamming_pairs(sh, max_hamming)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    k: int = 2,
    q: int = 2,
) -> DataFrame:
    """EXACT edit-distance similarity join (N2+ string-level near-dup):
    every pair with ``levenshtein(text_a, text_b) <= k`` (within
    ``block_col`` groups when given) — same result set as the naive
    O(n²) cross join, computed without one.

    Lossless blocking = the public EDJoin design (count filter + prefix
    filter over positional q-gram multisets):

    - **count filter**: one edit destroys at most ``q`` of a string's
      ``|s|-q+1`` overlapping q-grams, so ``ed(s,t) <= k`` implies the
      gram multisets share ``>= max(|s|,|t|) - q + 1 - q*k`` tokens;
    - **prefix filter**: under any GLOBAL total order of gram tokens
      (gram string, occurrence index), two multisets sharing that many
      tokens must share at least one among each string's first
      ``q*k + 1`` tokens. Ordering tokens by ascending global gram
      frequency makes the prefixes the RAREST grams, so the
      inverted-index equi-join on (block, gram, occurrence) probes cold
      keys — without this, hot bigrams ("e ", "th") fan the join out
      quadratically (measured: the count-filter-only variant OOMed a
      1 GiB driver at sf0.1; this one runs in seconds).

    Candidates then verify with exact ``F.levenshtein`` (plus the free
    ``|len_a - len_b| <= k`` residual). The count bound is vacuous only
    when BOTH strings are shorter than ``q*k + q`` chars; those short
    strings are all-pairs joined within their block (an equi-join on
    the block key, still never a cartesian) and unioned in, keeping the
    operator total and exact for any input.

    Scale notes: the gram-frequency table is bounded by the OBSERVED
    distinct grams — ~1.3k for ASCII part names, but 10⁷-10⁸ distinct
    CJK bigrams on multilingual corpora — so it is attached via a plain
    shuffle join, never broadcast (a broadcast OOMs executors exactly on
    the corpora this operator exists for; VERDICT r5 #2). The join's
    probe side is skewed on hot grams by construction, which is the
    AQE skew-join case (one build row per key, splittable probe
    partitions). Prefix tokens are ``q*k + 1`` rows per string
    regardless of corpus size; the remaining corpus-wide shuffles are
    the two narrow token windows and the candidate join on rare tokens.

    Returns (block, id_a, id_b, edit_dist) with ``id_a < id_b``;
    ``block`` is a constant 0 when ``block_col`` is None.
    """
    if k < 0 or q < 1:
        raise ValueError(f"need k >= 0 and q >= 1, got k={k} q={q}")
    from pyspark.sql import Window

    blk = F.col(block_col) if block_col else F.lit(0)
    base = spread(df).select(
        blk.alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.length(text_col).alias("_len"),
    )
    n_grams = F.col("_len") - F.lit(q - 1)
    gram_arr = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(1), n_grams), lambda i: F.col("_txt").substr(i, F.lit(q))),
    ).otherwise(F.array().cast("array<string>"))
    tokens = base.select(
        "_blk", "_id", "_len", F.posexplode(gram_arr).alias("_pos", "_g")
    ).withColumn(
        "_occ",
        F.row_number().over(Window.partitionBy("_blk", "_id", "_g").orderBy("_pos")),
    )
    freq = tokens.groupBy("_g").agg(F.count(F.lit(1)).alias("_f"))
    prefix = (
        tokens.join(freq, "_g")
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("_blk", "_id").orderBy("_f", "_g", "_occ")
            ),
        )
        .filter(F.col("_r") <= q * k + 1)
        .select("_blk", "_id", "_len", "_g", "_occ")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    gram_cands = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._g") == F.col("b._g"))
            & (F.col("a._occ") == F.col("b._occ"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= k),
        )
        .select(
            F.col("a._blk").alias("_blk"),
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
    )
    shorts = base.filter(F.col("_len") <= q * k + q - 1).select("_blk", "_id")
    sa, sb = shorts.alias("sa"), shorts.alias("sb")
    short_cands = sa.join(
        sb,
        (F.col("sa._blk") == F.col("sb._blk")) & (F.col("sa._id") < F.col("sb._id")),
    ).select(
        F.col("sa._blk").alias("_blk"),
        F.col("sa._id").alias("id_a"),
        F.col("sb._id").alias("id_b"),
    )
    cands = gram_cands.unionByName(short_cands).distinct()
    na = base.select("_blk", F.col("_id").alias("id_a"), F.col("_txt").alias("_ta"))
    nb = base.select("_blk", F.col("_id").alias("id_b"), F.col("_txt").alias("_tb"))
    return (
        cands.join(na, ["_blk", "id_a"])
        .join(nb, ["_blk", "id_b"])
        .withColumn("edit_dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("edit_dist") <= k)
        .select(F.col("_blk").alias("block"), "id_a", "id_b", "edit_dist")
    )


# --- Bloom-filter membership (N1 at the incremental-delivery scale) ----
#
# A staged, KB-scale bit array answering "was this content hash ever seen
# in the corpus?" with zero false NEGATIVES: a new delivery is prefiltered
# against the broadcast filter, and only the (FPR-bounded) "maybe" rows
# pay the exact verification join against corpus history. At 100 TB the
# history side is never re-scanned per delivery — the filter is built once
# (one explode + one bit_or aggregate, mergeable by OR-ing word tables)
# and each word row is just (word_idx, int64).
#
# Double hashing (Kirsch & Mitzenmacher 2006): pos_i = h1 + i*h2 mod m
# from two independent xxhash64 seeds — k positions from 2 hash passes.

_BLOOM_SEED2 = "\x01bloom2"


def _bloom_positions(key: Column, m_bits: int, k: int) -> Column:
    """array<long> of the k bit positions for one key.

    Both hashes are reduced mod m BEFORE combining so i*h2 stays far from
    int64 range under ANSI overflow checking (i*h2m ≤ k·m ≪ 2^63); the
    scheme is unchanged: (h1 + i·h2) mod m == (h1 mod m + i·(h2 mod m)) mod m.

    The step h2 is forced into [1, m-1]: if h2 reduced to 0 every probe
    would collapse onto h1 and the filter would silently degrade to k=1
    (no-false-negative guarantee unaffected, FPR not) — ADVICE r12.
    """
    m = F.lit(m_bits).cast("long")
    h1 = F.pmod(F.xxhash64(key), m)
    h2 = F.lit(1) + F.pmod(F.xxhash64(key, F.lit(_BLOOM_SEED2)), m - F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, m),
    )


def bloom_build(keys: DataFrame, keycol: str, m_bits: int = 1 << 16, k: int = 4) -> DataFrame:
    """Build the filter as a (word_idx, word) table — ≤ m_bits/64 rows.

    One narrow explode + one hash aggregate; word tables from disjoint key
    sets merge with ``groupBy(word_idx).agg(bit_or(word))`` (same
    mergeability contract as the sketch cells in queries/sketches.py).
    """
    pos = keys.select(
        F.explode(_bloom_positions(F.col(keycol), m_bits, k)).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            (F.col("pos") % 64).cast("int").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("word"))
    )


def bloom_maybe_contains(
    keys: DataFrame, keycol: str, words: DataFrame, m_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """(keycol, maybe) — maybe=false is DEFINITE absence (no false
    negatives); maybe=true is presence up to the filter's FPR.

    The word table is broadcast (KB-scale regardless of corpus size); a
    word_idx with no set bits is absent from it, hence the left join +
    coalesce(false).
    """
    probes = keys.select(
        F.col(keycol),
        F.posexplode(_bloom_positions(F.col(keycol), m_bits, k)),
    ).select(
        keycol,
        (F.col("col") / 64).cast("long").alias("word_idx"),
        (F.col("col") % 64).cast("int").alias("bit"),
    )
    hit = F.coalesce(
        F.expr("(word & shiftleft(CAST(1 AS BIGINT), bit)) != 0"), F.lit(False)
    )
    return (
        probes.join(F.broadcast(words), "word_idx", "left")
        .groupBy(keycol)
        .agg(F.bool_and(hit).alias("maybe"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    window: int = 5,
    n_ranges: int = 32,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernandez & Stolfo,
    SIGMOD'95 — a public record-linkage algorithm): order the corpus by
    a blocking key, and emit every pair whose positions in that order
    are within ``window`` of each other. Returns (id_a, id_b, rank_gap)
    where id_a is the LOWER-rank row and 1 <= rank_gap <= window.

    The classic complement to hash blocking (MinHash bands, SimHash
    buckets): those find pairs that agree exactly on some derived key,
    SNM finds pairs that are merely CLOSE in a sort order — typo-shifted
    prefixes, zero-padded ids, truncated titles — at a guaranteed
    n*window candidate budget, skew-free by construction (a hash block
    can be arbitrarily large; a rank window cannot).

    Scale shape: the global rank comes from ``two_level_global_rank``
    (range-partition → local rank → broadcast offset lift — never a
    single-partition window). Candidates come from an equi-join of rank
    against an exploded rank+1..rank+window sequence — one shuffle on an
    integer key with fanout exactly ``window``, never a cross join.
    The only sub-distributed steps touch p rows (one per partition).
    """
    keyed = df.select(F.col(id_col).alias("_id"), key.alias("_k"))
    ranked = two_level_global_rank(keyed, ["_k", "_id"], n_ranges).select(
        "_id", "_rn"
    )
    probes = ranked.select(
        F.col("_id").alias("id_a"),
        F.explode(
            F.sequence(F.col("_rn") + 1, F.col("_rn") + F.lit(window))
        ).alias("_rn_b"),
        F.col("_rn").alias("_rn_a"),
    )
    return probes.join(
        ranked.select(F.col("_id").alias("id_b"), F.col("_rn").alias("_rn_b")),
        "_rn_b",
    ).select("id_a", "id_b", (F.col("_rn_b") - F.col("_rn_a")).alias("rank_gap"))


def two_level_global_rank(
    df: DataFrame, sort_cols: list[str], n_ranges: int = 32
) -> DataFrame:
    """Deterministic global row rank over a TOTAL order without a
    single-partition window: range-partition on the sort columns, rank
    within partitions, lift local ranks to global ones by adding each
    partition's cumulative predecessor count (a p-row offset frame,
    broadcast back). The caller must make the order total (include a
    unique tiebreak column) or ranks are nondeterministic.

    Returns the input columns plus ``_rn`` (1-based global rank). The
    only sub-distributed step touches p rows (one per partition) — the
    backbone shared by sorted-neighborhood blocking and the suffix-order
    span dedup.

    The locally-ranked frame is localCheckpoint-ed (lazily) before the
    offset aggregate and the lift join both consume it: range-boundary
    SAMPLING is re-drawn per subtree evaluation (RangePartitioner seeds
    from the instantiated RDD id), so without the cut the offsets can be
    computed against different partition boundaries than the pids they
    are joined back to — ranks silently misalign. Found by the suffix
    span pass (rank-adjacency is exquisitely sensitive to it); the fix
    also makes all downstream consumers of the returned frame read ONE
    materialized rank assignment."""
    from pyspark.sql import Window

    parted = df.repartitionByRange(n_ranges, *sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = parted.withColumn(
        "_lrn",
        F.row_number().over(Window.partitionBy("_pid").orderBy(*sort_cols)),
    ).localCheckpoint(eager=False)
    offsets = (
        local.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("_rn", F.col("_lrn") + F.col("_off"))
        .drop("_pid", "_lrn", "_off")
    )


def _word_lcp(a: Column, b: Column) -> Column:
    """Word-level longest-common-prefix of two string arrays, JVM-side:
    zip_with pads the shorter array with nulls and eqNullSafe maps the
    padded tail to false, so the first ``false`` position IS the LCP+1;
    array_position returns 0 when absent (arrays equal), in which case
    the LCP is the common length."""
    zw = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    p = F.array_position(zw, F.lit(False))
    return F.when(p == 0, F.least(F.size(a), F.size(b))).otherwise(p - 1)


def suffix_dup_span_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 4,
    key_words: int = 24,
    n_ranges: int = 32,
) -> DataFrame:
    """MAXIMAL duplicated-substring spans via distributed suffix
    grouping — the exact half of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", the ExactSubstr side),
    re-expressed for Spark at word granularity: every word position
    whose suffix shares a >= ``min_len``-word prefix with a suffix of a
    DIFFERENT document starts a duplicated span; overlapping spans merge
    into maximal extents. Unlike the fixed-n gram pass
    (``dup_span_doc_frame``), span boundaries are exact: a duplicated
    run of 4 words is found even though every 5-gram covering it is
    unique (the case the fixed pass clips), and the reported
    (start, end) is the true maximal extent, not a union of gram
    windows.

    Plan (suffix array order without a suffix array):
    - per-doc suffix keys truncated to ``key_words`` words (sequence →
      slice, JVM-side). Truncation is LOSSLESS for span extents: any
      true span of length m >= min_len marks every start s <= end-min_len
      with an interval reaching min(s+key_words, end), and consecutive
      marked starts chain, so the per-doc interval merge reconstructs
      [start, end) exactly for every key_words >= min_len.
    - global suffix rank via ``two_level_global_rank`` over
      (key, doc, pos) — the sorted-neighborhood backbone, never a
      single-partition sort;
    - adjacent-rank LCPs from two integer-key self-joins (rank±1);
    - each suffix's best CROSS-DOC match = max of two segmented running
      mins of adjacent LCPs within its consecutive same-doc run (the
      suffix-array identity LCP(i,j) = min of adjacent LCPs between
      them; the nearest differing-doc neighbor maximizes it, and the
      run boundary is exactly where the nearest differing-doc row sits).
      Sentinel -1 at the global ends keeps nulls out of the mins.
    - intervals [pos, pos+match) merge per doc (window islands on the
      running max end) into maximal spans.

    100 TB honesty: materializing truncated suffix keys multiplies
    corpus bytes by ~key_words — that is the trade vs a true
    disk-resident suffix array; the budget is explicit (key_words) and
    every stage is a range shuffle, an int-key join, or a per-doc
    window, so the plan survives scale-out even though the byte
    multiplier is real. Returns (id_col, span_start, span_end exclusive,
    span_len), word positions 0-based."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_ws")
    )
    sfx = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - 1),
                lambda p: F.struct(
                    p.cast("int").alias("pos"),
                    F.slice("_ws", p + 1, key_words).alias("sarr"),
                ),
            )
        ).alias("_s"),
    ).select(
        "_id",
        F.col("_s.pos").alias("pos"),
        F.col("_s.sarr").alias("sarr"),
        F.concat_ws(" ", F.col("_s.sarr")).alias("_skey"),
    )
    # one more lazy cut: the ranked frame feeds THREE subtrees (itself
    # plus the rank±1 neighbor projections) — all must read one rank
    # assignment, and the suffix explode + range shuffle run once.
    ranked = (
        two_level_global_rank(sfx, ["_skey", "_id", "pos"], n_ranges)
        .drop("_skey")
        .localCheckpoint(eager=False)
    )
    prev = ranked.select(
        (F.col("_rn") + 1).alias("_rn"), F.col("sarr").alias("_psarr")
    )
    nxt = ranked.select(
        (F.col("_rn") - 1).alias("_rn"), F.col("sarr").alias("_nsarr")
    )
    adj = (
        ranked.join(prev, "_rn", "left")
        .join(nxt, "_rn", "left")
        .select(
            "_id",
            "pos",
            "_rn",
            F.when(F.col("_psarr").isNull(), F.lit(-1))
            .otherwise(_word_lcp(F.col("_psarr"), F.col("sarr")))
            .cast("int")
            .alias("_alcp"),
            F.when(F.col("_nsarr").isNull(), F.lit(-1))
            .otherwise(_word_lcp(F.col("sarr"), F.col("_nsarr")))
            .cast("int")
            .alias("_nlcp"),
        )
    )
    adj = adj.withColumn(
        "_runid",
        F.col("_rn") - F.row_number().over(Window.partitionBy("_id").orderBy("_rn")),
    )
    w_up = (
        Window.partitionBy("_id", "_runid")
        .orderBy("_rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_dn = (
        Window.partitionBy("_id", "_runid")
        .orderBy("_rn")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    iv = (
        adj.select(
            "_id",
            "pos",
            F.greatest(
                F.min("_alcp").over(w_up), F.min("_nlcp").over(w_dn)
            ).alias("_mlen"),
        )
        .filter(F.col("_mlen") >= min_len)
        .select(
            "_id",
            F.col("pos").alias("_s"),
            (F.col("pos") + F.col("_mlen")).alias("_e"),
        )
    )
    w_doc = Window.partitionBy("_id").orderBy("_s", "_e")
    pmax = F.max("_e").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    islands = iv.withColumn(
        "_island",
        F.sum(
            F.when(F.col("_s") > F.coalesce(pmax, F.lit(-1)), 1).otherwise(0)
        ).over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("_id", "_island")
        .agg(F.min("_s").alias("_start"), F.max("_e").alias("_end"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_start").cast("int").alias("span_start"),
            F.col("_end").cast("int").alias("span_end"),
            (F.col("_end") - F.col("_start")).cast("int").alias("span_len"),
        )
    )
