"""Dedup operator invariants (N1/N2): exact keep-first semantics, and
recall of the approximate (MinHash, SimHash) paths vs the exact
shingle-Jaccard anchor on the fixture's planted near-dups. The
explicit hash family's twins of the seeded pins are in
tests/test_dedup_r13.py."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dataengineerchallenge_spark.operators import dedup as D
from dataengineerchallenge_spark.registry import queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [
            (3, "same text"),
            (1, "same text"),
            (2, "other text"),
            (5, "same text"),
        ],
        "id int, body string",
    )
    out = D.exact_dedup(df, content_cols=["body"], order_col="id")
    rows = {r["body"]: r["id"] for r in out.collect()}
    assert rows == {"same text": 1, "other text": 2}
    # every input row's content survives exactly once
    assert out.count() == 2


def test_exact_dedup_null_vs_empty(spark):
    """NULL content and empty-string content are distinct groups."""
    df = spark.createDataFrame([(1, None), (2, ""), (3, None)], "id int, body string")
    out = D.exact_dedup(df, content_cols=["body"], order_col="id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_minhash_recall_vs_exact_anchor(spark, qs):
    """MinHash-LSH (seeded) must find ≥90% of the exact Jaccard≥0.5 pairs."""
    exact = {
        (r["id_a"], r["id_b"]) for r in qs["near_dup_jaccard"](spark, SF_DIR).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]) for r in qs["near_dup_minhash"](spark, SF_DIR).collect()
    }
    assert len(exact) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(exact)} planted pairs"


def test_simhash_pairs_subset_of_loose_jaccard(spark, qs):
    """SimHash hamming≤3 pairs are genuinely similar: every reported pair
    is also an exact shingle-Jaccard ≥0.5 pair (precision check), and
    the operator is deterministic across runs."""
    from dataengineerchallenge_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sim1 = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    sim2 = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert sim1 == sim2  # deterministic
    exact = {
        (r["id_a"], r["id_b"]) for r in qs["near_dup_jaccard"](spark, SF_DIR).collect()
    }
    assert sim1, "simhash found no pairs at all"
    assert sim1 <= exact, f"false positives: {sorted(sim1 - exact)[:5]}"


def test_simhash_identical_texts_hamming_zero(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "completely different words here now ok yes no")],
        "doc_id int, text string",
    )
    pairs = D.simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=0, n=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    out = df.select(D.word_shingles("text", 3).alias("sh")).collect()
    assert out[0]["sh"] == []


def test_stop_shingle_filter_preserves_results_when_loose(spark):
    """With a frequency cap above every shingle's document frequency the
    stop-shingle variant must equal the exact join; with cap=0 it finds
    nothing (all shingles dropped) — the recall trade-off made visible."""
    from dataengineerchallenge_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    exact = {tuple(r) for r in D.shingle_jaccard_pairs(docs, "doc_id", "text").collect()}
    loose = {
        tuple(r)
        for r in D.shingle_jaccard_pairs(
            docs, "doc_id", "text", max_shingle_freq=10**9
        ).collect()
    }
    assert loose == exact and exact
    none = D.shingle_jaccard_pairs(docs, "doc_id", "text", max_shingle_freq=0).count()
    assert none == 0


def test_embedding_near_dup_exact_and_lsh_agree(spark, qs):
    """Every original vector gains exactly one planted twin (cosine ≈ 1),
    and the LSH scale path reproduces the exact anchor's pair set —
    guaranteed here because all qualifying pairs sit at distance 0, where
    bucket collision is certain (see near_dup_embedding_lsh docstring)."""
    exact = {(r["id_a"], r["id_b"]) for r in qs["near_dup_embedding"](spark, SF_DIR).collect()}
    n_vecs = 500  # sf0.001 embeddings row count (FIXTURES.md)
    assert len(exact) == n_vecs
    assert all(b - a == 1_000_000 for a, b in exact)  # only twin pairs qualify
    lsh = {(r["id_a"], r["id_b"]) for r in qs["near_dup_embedding_lsh"](spark, SF_DIR).collect()}
    assert lsh == exact


def _components(pairs):
    """Dedup clustering of a near-dup pair frame: star-contraction
    connected components (component = min doc id)."""
    from dataengineerchallenge_spark.operators.graph import connected_components_star

    return connected_components_star(pairs, src="id_a", dst="id_b")


def test_connected_components_chain_and_pair(spark):
    """A 5-node chain (diameter 4 — forces several contraction rounds),
    an isolated pair, and an untouched node (absent from output)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in _components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_merges_via_shared_node(spark):
    """Two pair-clusters sharing one doc collapse into one component,
    regardless of edge direction/order."""
    pairs = spark.createDataFrame([(7, 3), (3, 9), (20, 7)], "id_a long, id_b long")
    comp = {r["node"]: r["component"] for r in _components(pairs).collect()}
    assert comp == {3: 3, 7: 3, 9: 3, 20: 3}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert _components(pairs).count() == 0


# --- exact edit-distance join (EDJoin prefix filter) -------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _lev(s: str, t: str) -> int:
    prev = list(range(len(t) + 1))
    for i, cs in enumerate(s, 1):
        cur = [i]
        for j, ct in enumerate(t, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct)))
        prev = cur
    return prev[-1]


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=14), min_size=2, max_size=24
    ),
    k=st.sampled_from([0, 1, 2, 3]),
    q=st.sampled_from([2, 3]),
)
def test_edit_distance_join_equals_naive(spark, texts, k, q):
    """The prefix-filtered join must return EXACTLY the naive all-pairs
    result for any strings — including empty strings and strings shorter
    than the grams (the short-pair escape path), tie-heavy tiny
    alphabets (hot grams), and every (k, q) combination."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, txt string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in D.edit_distance_join(df, "id", "txt", k=k, q=q).collect()
    )
    want = sorted(
        (i, j, _lev(a, b))
        for i, a in enumerate(texts)
        for j, b in enumerate(texts)
        if i < j and _lev(a, b) <= k
    )
    assert got == want


def test_edit_distance_join_respects_blocks(spark):
    """Identical names in different blocks must NOT pair."""
    df = spark.createDataFrame(
        [(1, "b1", "same name"), (2, "b2", "same name"), (3, "b1", "same namX")],
        "id long, blk string, txt string",
    )
    got = sorted(
        (r["block"], r["id_a"], r["id_b"], r["edit_dist"])
        for r in D.edit_distance_join(df, "id", "txt", block_col="blk", k=2).collect()
    )
    assert got == [("b1", 1, 3, 1)]


def test_edit_distance_join_large_alphabet_cjk(spark):
    """VERDICT r5 #2: parity with the naive oracle on a LARGE-alphabet
    corpus (CJK-range codepoints), where the distinct-gram table is the
    thing that must never be assumed broadcastable — every string's
    bigrams are near-unique, the opposite gram-frequency regime from
    the ASCII hot-gram tests above. The shuffle-join freq attach must
    return exactly the naive all-pairs result here too."""
    import random

    rng = random.Random(20260814)
    cjk = [chr(0x4E00 + i) for i in range(0, 2000, 7)]
    bases = ["".join(rng.choice(cjk) for _ in range(rng.randint(2, 12))) for _ in range(12)]
    texts = []
    for b in bases:
        texts.append(b)
        # one substitution neighbor and one insertion neighbor per base
        pos = rng.randrange(len(b))
        texts.append(b[:pos] + rng.choice(cjk) + b[pos + 1 :])
        texts.append(b[:pos] + rng.choice(cjk) + b[pos:])
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, txt string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in D.edit_distance_join(df, "id", "txt", k=2, q=2).collect()
    )
    want = sorted(
        (i, j, _lev(a, b))
        for i, a in enumerate(texts)
        for j, b in enumerate(texts)
        if i < j and _lev(a, b) <= 2
    )
    assert got == want and len(got) >= len(bases) * 2


def test_banded_minhash_pairs_subset_of_exact_with_recall(spark, qs):
    """The stateless banded-MinHash operator: every output pair must be a
    true >=0.5-Jaccard pair (exact verification), and candidate
    generation must recover a healthy fraction of the exact anchor's
    pairs (fixture near-dups sit at J 0.5-0.9 where 16x4 banding gives
    P(candidate) 0.64-0.999)."""
    exact = {
        (r["id_a"], r["id_b"]) for r in qs["near_dup_jaccard"](spark, SF_DIR).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in qs["near_dup_banded_minhash"](spark, SF_DIR).collect()
    }
    assert banded <= exact  # verification makes false positives impossible
    assert len(exact) > 0
    recall = len(banded & exact) / len(exact)
    assert recall >= 0.6, f"banded MinHash recall {recall:.2f}"


def test_incremental_minhash_equals_full_recompute(spark, qs):
    """Append-equals-full-recompute parity (VERDICT r6 #4, the N2 mirror
    of ivf_pq_serve_appended_topk): signing ONLY the appended ~20% batch
    and joining against the staged base-corpus band table must produce
    EXACTLY the pairs a full-corpus banded run emits for pairs involving
    a new doc. Exact equality, not recall — the hash family is stateless,
    so the two paths are bit-identical by construction; this pin fails
    if staging, banding, or the broadcast join ever diverge."""
    from dataengineerchallenge_spark.sources.tables import load_table

    split = load_table(spark, SF_DIR, "documents").count() * 4 // 5
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in qs["near_dup_banded_minhash"](spark, SF_DIR).collect()
    }
    full_new = {(a, b, j) for a, b, j in full if a >= split or b >= split}
    incr = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in qs["near_dup_incremental_minhash"](spark, SF_DIR).collect()
    }
    assert incr == full_new
    assert len(incr) > 0  # the fixture has near-dups in the appended slice


def test_incremental_minhash_never_signs_old_docs(spark):
    """The scale claim in plan terms: the incremental query's executed
    plan must contain NO shingle explode/min-aggregate over the base
    corpus — the only MinHash aggregation runs over the new batch (the
    pushed doc_id filter), and the staged band table is consumed as-is."""
    from dataengineerchallenge_spark.queries.dedup import (
        _staged_minhash_bands,
        near_dup_incremental_minhash,
    )

    import re

    from dataengineerchallenge_spark.sources.tables import load_table

    split = load_table(spark, SF_DIR, "documents").count() * 4 // 5
    _staged_minhash_bands(spark, SF_DIR)  # ensure staged before planning
    df = near_dup_incremental_minhash(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    # the staged band table is consumed as-is
    assert "spark_graft_mh_bands" in plan
    # the signing branch's documents scan carries the pushed batch
    # predicate — the base corpus is never re-signed
    assert f"GreaterThanOrEqual(doc_id,{split})" in plan
    # every shuffle-bound MinHash signing aggregate (the partial
    # HashAggregate producing the _h* signature mins) sits in the plan
    # exactly once — for the new batch; a second one would mean the
    # corpus-side signatures were recomputed instead of read from the
    # staged table
    assert len(re.findall(r"partial_min\(xxhash64\(_sh#\d+, 42000, 42\)\)", plan)) == 1


def test_minhash_band_frame_partition_and_order_invariant(spark):
    """Distributed-correctness property of the staged band table: the
    banded signature of a document depends only on its text — never on
    row order, partitioning, or which delivery batch it arrived in.
    (This is the invariant that makes staged bands joinable with bands
    computed later on other machines; if an aggregate or hash ever picks
    up partition-dependent state, incremental parity silently breaks.)"""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(60)
    ]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    df2 = spark.createDataFrame(list(reversed(rows)), "doc_id long, text string").repartition(
        7, "text"
    )
    b1 = sorted(tuple(r) for r in D.minhash_band_frame(df1, "doc_id", "text").collect())
    b2 = sorted(tuple(r) for r in D.minhash_band_frame(df2, "doc_id", "text").collect())
    assert b1 == b2 and len(b1) > 0
    # docs shorter than the shingle width yield no rows, by contract
    short_ids = {i for i, t in rows if len(t.split()) < 3 or t == ""}
    assert short_ids.isdisjoint({r[0] for r in b1})


def test_explicit_band_frame_parity_with_seeded_family(spark):
    """Band-level parity between the families: for the same corpus the
    two frames must cover the SAME (doc, band) row space — identical docs
    signed, identical 16-band structure per doc — and within each family
    a band's sub-signature must be a pure function of the shingle set
    (two docs with identical text always collide on every band)."""
    from dataengineerchallenge_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(80)
    twin = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    corpus = docs.select("doc_id", "text").unionByName(twin)
    seeded = D.minhash_band_frame(corpus, "doc_id", "text", n=3)
    explicit = D.minhash_band_frame(corpus, "doc_id", "text", n=3, family=D.EXPLICIT)
    s_rows = {(r["doc_id"], r["band"]) for r in seeded.collect()}
    x_rows = {(r["doc_id"], r["band"]) for r in explicit.collect()}
    assert s_rows == x_rows  # same docs signed, same band structure
    for frame in (seeded, explicit):
        sig = {
            (r["doc_id"], r["band"]): r["band_hash"] for r in frame.collect()
        }
        originals = {k[0] for k in sig if k[0] < 100000}
        assert originals
        for doc_id in originals:
            for band in range(16):
                assert sig[(doc_id, band)] == sig[(doc_id + 100000, band)]


def test_explicit_coeffs_are_valid_permutation_params():
    """a_i must be nonzero mod p (a=0 would collapse a permutation to the
    constant b) and the 64 (a, b) draws must be distinct."""
    assert len(D.MHX_COEFFS) == 64
    assert len(set(D.MHX_COEFFS)) == 64
    for a, b in D.MHX_COEFFS:
        assert 1 <= a < D._MHX_P
        assert 0 <= b < D._MHX_P


def test_leakage_safe_split_never_straddles_pairs(spark, qs):
    """The split's defining invariant: every exact >=0.5-Jaccard pair
    lands on ONE side (no train/test leakage through near-copies), the
    assignment covers every doc exactly once, and both sides are
    non-empty at roughly the 80/20 intent."""
    split = {r["doc_id"]: r["split"] for r in qs["leakage_safe_train_test_split"](spark, SF_DIR).collect()}
    pairs = [(r["id_a"], r["id_b"]) for r in qs["near_dup_jaccard"](spark, SF_DIR).collect()]
    assert pairs, "fixture lost its planted near-dups"
    for a, b in pairs:
        assert split[a] == split[b], f"pair ({a},{b}) straddles the split"
    n = len(split)
    n_train = sum(1 for s in split.values() if s == "train")
    assert n == 500  # every doc assigned exactly once (dict keyed by id)
    assert 0.6 * n < n_train < 0.95 * n  # ~80/20, cluster-granular


def test_dedup_corpus_is_cluster_survivors(spark, qs):
    """The deduped corpus must be exactly: one survivor (min doc_id) per
    multi-doc cluster + every singleton; and no surviving pair of docs
    may still be >=0.5-Jaccard near-dups of each other."""
    kept = {r["doc_id"] for r in qs["near_dup_dedup_corpus"](spark, SF_DIR).collect()}
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in qs["near_dup_clusters"](spark, SF_DIR).collect()
    }
    expect = {d for d, c in clusters.items() if d == c}
    assert kept == expect
    pairs = [(r["id_a"], r["id_b"]) for r in qs["near_dup_jaccard"](spark, SF_DIR).collect()]
    assert pairs and all(not (a in kept and b in kept) for a, b in pairs)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("ab "), min_size=0, max_size=30),
        min_size=2,
        max_size=15,
    )
)
def test_verify_jaccard_equals_inverted_index_join(spark, texts):
    """The array-intersect verification path (used by every banded-
    MinHash query) must compute EXACTLY the same Jaccard as the
    inverted-index exact join when handed the all-pairs candidate set —
    including empty strings, docs below the shingle width, and repeated
    shingles (both paths must use DISTINCT shingle sets)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)
    cand = spark.createDataFrame(
        [(i, j) for i in range(n) for j in range(i + 1, n)], "id_a long, id_b long"
    )
    via_verify = sorted(
        tuple(r)
        for r in D.verify_jaccard(df, "doc_id", "text", cand, n=3, threshold=0.5).collect()
    )
    via_join = sorted(
        tuple(r)
        for r in D.shingle_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    )
    assert via_verify == via_join


def test_minhash_band_store_append_equals_full_signing(spark):
    """Store-maintenance parity (the N2 mirror of ivf_pq append-equals-
    rebuild): committing the new delivery's bands into the staged store
    must produce EXACTLY the band table a full-corpus signing would —
    so the next delivery can join against the appended store with no
    recall loss and no re-signing of history."""
    from dataengineerchallenge_spark.queries.dedup import (
        _staged_minhash_bands_appended,
    )
    from dataengineerchallenge_spark.sources.tables import load_table, spread

    appended = {
        tuple(r)
        for r in spark.read.parquet(
            _staged_minhash_bands_appended(spark, SF_DIR)
        ).collect()
    }
    full = {
        tuple(r)
        for r in D.minhash_band_frame(
            spread(load_table(spark, SF_DIR, "documents")), "doc_id", "text", n=3
        ).collect()
    }
    assert appended == full and len(appended) > 0


def test_band_collision_auto_mode_flips_by_batch_size(spark):
    """The broadcast-vs-shuffle decision (VERDICT r7 #2) is made from the
    batch size estimate, never a fixed hint: under the budget the batch
    side carries the broadcast hint (BroadcastHashJoin even with
    autoBroadcast disabled); over the budget NO hint is applied, so the
    join degrades to a shuffle join instead of force-broadcasting."""
    rows = [(i, i % 4, i * 7) for i in range(32)]
    bands = spark.createDataFrame(rows, "doc_id long, band int, band_hash long")
    batch = spark.createDataFrame(rows[:8], "doc_id long, band int, band_hash long")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        under = D.band_collision_pairs(bands, batch, batch_band_rows=8)
        plan_u = under._jdf.queryExecution().executedPlan().toString()
        over = D.band_collision_pairs(
            bands, batch, batch_band_rows=10**9
        )
        plan_o = over._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan_u
    assert "BroadcastHashJoin" not in plan_o
    # both modes compute the identical candidate set
    assert sorted(map(tuple, under.collect())) == sorted(map(tuple, over.collect()))


def test_bigbatch_incremental_parity_and_bucket_local_store(spark, qs):
    """The over-threshold delivery path: (a) output identical to the
    broadcast path, (b) with broadcast disabled the candidate join reads
    the (band, band_hash)-bucketed store with ZERO staged-side exchange
    — only the batch shuffles into the bucket layout (the scale-safe
    degradation the forced hint could never give)."""
    from dataengineerchallenge_spark.operators.dedup import (
        band_collision_pairs,
        minhash_band_frame,
    )
    from dataengineerchallenge_spark.queries.dedup import (
        _MH_N,
        _delivery_near_dups,
        stage_bucketed_band_store,
    )
    from dataengineerchallenge_spark.sources.tables import load_table, spread

    broadcast_path = sorted(
        tuple(r) for r in qs["near_dup_incremental_minhash"](spark, SF_DIR).collect()
    )
    # the seeded family through the shuffle-mode body the registered
    # near_dup_incremental_minhash_bigbatch_explicit runs
    bigbatch = sorted(
        tuple(r)
        for r in _delivery_near_dups(
            spark,
            SF_DIR,
            spark.table(stage_bucketed_band_store(spark, SF_DIR)),
            D.SEEDED,
            mode="shuffle",
        ).collect()
    )
    assert bigbatch == broadcast_path and len(bigbatch) > 0

    # plan pin on the candidate join alone, broadcast fully disabled
    docs = spread(load_table(spark, SF_DIR, "documents"))
    split = docs.count() * 4 // 5
    new_bands = minhash_band_frame(
        docs.filter(F.col("doc_id") >= split), "doc_id", "text", n=_MH_N
    )
    store = spark.table(stage_bucketed_band_store(spark, SF_DIR))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = band_collision_pairs(store, new_bands, mode="shuffle")
        cand.collect()
        plan = cand._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 1  # the store scan, bucket-aligned
    # exactly one exchange on the join keys — the BATCH side shuffling
    # into the store's bucket layout; the staged side contributes zero
    # (its bucketing satisfies the join distribution). The other two
    # exchanges in the plan are batch-internal: the signing aggregate
    # (on _id) and the final distinct (on id_a, id_b).
    assert plan.count("Exchange hashpartitioning(band") == 1
    assert plan.count("Exchange hashpartitioning") == 3


def test_second_delivery_equals_full_recompute(spark, qs):
    """Steady-state two-turn parity (VERDICT r7 What's-missing #3):
    delivery2 deduped against the COMMITTED base+delivery1 store must
    emit exactly the full-corpus run's pairs involving a delivery2 doc
    — the sign → dedup → commit loop holds on turn two, not just one."""
    from dataengineerchallenge_spark.sources.tables import load_table

    n = load_table(spark, SF_DIR, "documents").count()
    split2 = n * 4 // 5
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in qs["near_dup_banded_minhash"](spark, SF_DIR).collect()
    }
    full_d2 = {(a, b, j) for a, b, j in full if a >= split2 or b >= split2}
    # the seeded family through the body the registered
    # near_dup_second_delivery_minhash_explicit runs
    from dataengineerchallenge_spark.queries.dedup import (
        _delivery_near_dups,
        _staged_minhash_bands_appended,
    )

    store = spark.read.parquet(
        _staged_minhash_bands_appended(spark, SF_DIR, base=(3, 5), hi=(4, 5))
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _delivery_near_dups(spark, SF_DIR, store, D.SEEDED).collect()
    }
    assert got == full_d2
    assert len(got) > 0


def test_committed_two_turn_store_equals_full_signing(spark):
    """The 60→80% committed store (the one delivery2 joins against) must
    equal a from-scratch signing of every doc below the 80% cutoff —
    extending the append==full pin to the two-turn lifecycle."""
    from dataengineerchallenge_spark.queries.dedup import (
        _MH_N,
        _staged_minhash_bands_appended,
    )
    from dataengineerchallenge_spark.sources.tables import load_table, spread

    store = {
        tuple(r)
        for r in spark.read.parquet(
            _staged_minhash_bands_appended(spark, SF_DIR, base=(3, 5), hi=(4, 5))
        ).collect()
    }
    docs = spread(load_table(spark, SF_DIR, "documents"))
    split2 = docs.count() * 4 // 5
    full = {
        tuple(r)
        for r in D.minhash_band_frame(
            docs.filter(F.col("doc_id") < split2), "doc_id", "text", n=_MH_N
        ).collect()
    }
    assert store == full and len(store) > 0


def test_stream_near_dup_serve_parity_and_multibatch(spark, qs):
    """ONLINE dedup serve (VERDICT r9 next #4): the delivery file stream
    run through the sign → dedup → commit foreachBatch loop must (a)
    actually arrive as MULTIPLE micro-batches (a single-batch drain
    would prove nothing about the commit-between-batches path), and (b)
    emit EXACTLY the batch rung's pairs — the stateless hash family
    makes the union over micro-batches independent of stream slicing,
    including new-new pairs split across micro-batches (found when the
    later doc arrives against the committed store)."""
    from dataengineerchallenge_spark.queries.dedup import (
        _staged_delivery_stream,
        _staged_minhash_bands,
        _stream_near_dup_serve,
    )
    from dataengineerchallenge_spark.sources.tables import load_table, spread

    store = _staged_minhash_bands(spark, SF_DIR)
    payload = _staged_delivery_stream(spark, SF_DIR)
    docs = spread(load_table(spark, SF_DIR, "documents"))
    epochs: list = []
    streamed = _stream_near_dup_serve(spark, store, payload, docs, epochs=epochs)
    assert len(epochs) >= 2, f"expected a multi-micro-batch drain, got {epochs}"
    srows = sorted(tuple(r) for r in streamed.collect())
    brows = sorted(
        tuple(r)
        for r in qs["near_dup_incremental_minhash"](spark, SF_DIR).collect()
    )
    assert srows == brows and len(srows) > 0


def test_bloom_no_false_negatives_and_fpr(spark):
    """Bloom membership guarantees on a synthetic key set sized to force
    false positives (m=1024 bits, k=4, n=500 → theoretical FPR ≈ 0.55):
    every inserted key must probe maybe=True (no false negatives, the
    property the dedup correctness rests on), and the observed FPR on
    disjoint non-members must stay within ~1.3x of theory."""
    import math

    from dataengineerchallenge_spark.operators.dedup import bloom_build, bloom_maybe_contains

    m_bits, k, n = 1 << 10, 4, 500
    members = spark.range(n).select(F.concat(F.lit("key-"), F.col("id")).alias("s"))
    outsiders = spark.range(n, 5 * n).select(F.concat(F.lit("key-"), F.col("id")).alias("s"))
    words = bloom_build(members, "s", m_bits=m_bits, k=k)
    in_flags = bloom_maybe_contains(members, "s", words, m_bits=m_bits, k=k)
    assert in_flags.filter(~F.col("maybe")).count() == 0
    out_flags = bloom_maybe_contains(outsiders, "s", words, m_bits=m_bits, k=k)
    fpr = out_flags.filter(F.col("maybe")).count() / (4 * n)
    theory = (1.0 - math.exp(-k * n / m_bits)) ** k
    assert fpr <= 1.3 * theory, (fpr, theory)
    assert fpr >= 0.2 * theory  # and the filter is not trivially full/empty


def test_bloom_word_tables_merge_by_or(spark):
    """Mergeability: filters built over disjoint key halves OR-merge into
    exactly the filter built over the union — the property that lets
    per-delivery word tables accumulate into one corpus filter."""
    from dataengineerchallenge_spark.operators.dedup import bloom_build

    a = spark.range(0, 300).select(F.concat(F.lit("k"), F.col("id")).alias("s"))
    b = spark.range(300, 600).select(F.concat(F.lit("k"), F.col("id")).alias("s"))
    direct = {
        r["word_idx"]: r["word"] for r in bloom_build(a.unionAll(b), "s").collect()
    }
    wa = bloom_build(a, "s")
    wb = bloom_build(b, "s")
    merged = {
        r["word_idx"]: r["word"]
        for r in wa.unionByName(wb)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(word)").alias("word"))
        .collect()
    }
    assert merged == direct


def test_bloom_prefilter_shrinks_verification_join(spark, qs):
    """The prefilter must actually prefilter: on the fixture delivery the
    maybe set contains every true duplicate (no false negatives) and the
    definitely-new shortcut skips the corpus join for most fresh texts."""
    from dataengineerchallenge_spark.operators.dedup import bloom_build, bloom_maybe_contains
    from dataengineerchallenge_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus_sha = (
        docs.filter(F.col("doc_id") % 5 != 4)
        .select(D.content_hash("text").alias("s"))
        .distinct()
    )
    fresh = docs.filter(F.col("doc_id") % 5 == 4).select(D.content_hash("text").alias("content_sha"))
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(D.content_hash("text").alias("content_sha"))
    words = bloom_build(corpus_sha, "s")
    delivery = fresh.unionByName(dup).distinct()
    flags = bloom_maybe_contains(delivery, "content_sha", words)
    n_delivery = delivery.count()
    n_dup = dup.distinct().count()
    n_maybe = flags.filter(F.col("maybe")).count()
    # every true duplicate is maybe (no false negatives) ...
    fn = (
        flags.join(dup.distinct(), "content_sha", "left_semi")
        .filter(~F.col("maybe"))
        .count()
    )
    assert fn == 0
    # ... and the verification join sees only maybe rows: far fewer than
    # the delivery (at m=2^16 the FPR on fresh texts is ~0)
    assert n_dup <= n_maybe < n_delivery
    assert n_maybe - n_dup <= max(2, 0.01 * n_delivery)


def test_prefix_jaccard_equals_plain_and_prunes(spark, qs):
    """The AllPairs prefix-filtered join must be LOSSLESS (identical rows
    to the plain inverted-index anchor) while generating strictly fewer
    candidate pairs — the whole point of ordering prefixes by global
    shingle rarity."""
    from dataengineerchallenge_spark.operators.dedup import (
        prefix_filter_candidates,
        word_shingles,
    )
    from dataengineerchallenge_spark.sources import load_table

    plain = sorted(map(tuple, qs["near_dup_jaccard"](spark, SF_DIR).collect()))
    pref = sorted(map(tuple, qs["near_dup_jaccard_prefix"](spark, SF_DIR).collect()))
    assert pref == plain and len(pref) > 0

    docs = load_table(spark, SF_DIR, "documents")
    sh = docs.select(
        F.col("doc_id").alias("_id"), F.explode(word_shingles("text", 3)).alias("_sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    n_plain = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .select("a._id", "b._id")
        .distinct()
        .count()
    )
    n_pref = prefix_filter_candidates(sh, 0.5).count()
    assert n_pref < n_plain
    # every emitted pair was a candidate (sanity on the pruning direction)
    assert n_pref >= len(pref)


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """A short doc quoted verbatim inside a long one: containment
    short->long ~ 1.0 while Jaccard sits far below the 0.5 near-dup
    bar — the asymmetric case the rung exists for."""
    import os

    quote = " ".join(f"q{i}" for i in range(10))
    filler = " ".join(f"f{i}" for i in range(90))
    rows = [
        (1, quote, "en", "s", len(quote)),
        (2, filler + " " + quote, "en", "s", 90),
        (3, "totally different words only", "en", "s", 28),
    ]
    sf = os.path.join(str(tmp_path), "cont")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    from dataengineerchallenge_spark.queries.dedup import doc_containment_pairs

    got = {(r["id_a"], r["id_b"]): r for r in doc_containment_pairs(spark, sf).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    # doc1 has 8 shingles, all present in doc2 -> containment 1.0
    assert r["common"] == 8 and r["n_a"] == 8
    assert r["cont_ab_mp"] == 1000000
    # Jaccard = 8 / (8 + 98 - 8) well under the 0.5 near-dup bar
    assert r["jaccard_mp"] < 500000
    assert r["cont_ba_mp"] < 500000
