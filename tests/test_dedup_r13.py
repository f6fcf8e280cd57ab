"""Explicit-hash MinHash and SimHash pins: the md5+affine family
(``D.EXPLICIT``) must behave exactly like the seeded xxhash64 family
pinned in tests/test_dedup.py — every output pair true, healthy recall
vs the exact anchor, partition-independent signatures and exact
incremental-equals-full-recompute — while being DuckDB-reproducible
(its hash-green oracle rows are the other half of the pin). The
family-parity and coefficient pins live in tests/test_dedup.py."""

from __future__ import annotations

import pytest

from dataengineerchallenge_spark.operators import dedup as D
from dataengineerchallenge_spark.registry import queries
from dataengineerchallenge_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_explicit_banded_pairs_subset_of_exact_with_recall(spark, qs):
    """Exact verification makes false positives impossible; the explicit
    family's banding probability is the same 16x4 curve as the seeded
    one, so recall on the fixture's planted J 0.5-0.9 pairs must be in
    the same band."""
    exact = {
        (r["id_a"], r["id_b"]) for r in qs["near_dup_jaccard"](spark, SF_DIR).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in qs["near_dup_banded_minhash_explicit"](spark, SF_DIR).collect()
    }
    assert banded <= exact
    assert len(exact) > 0
    recall = len(banded & exact) / len(exact)
    assert recall >= 0.6, f"explicit banded MinHash recall {recall:.2f}"


def test_explicit_incremental_equals_full_recompute(spark, qs):
    """Stateless family ⇒ signing only the delivery and joining the
    staged base bands equals the full-corpus run restricted to pairs
    involving a new doc — bit-exact, including the verified jaccard."""
    split = load_table(spark, SF_DIR, "documents").count() * 4 // 5
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in qs["near_dup_banded_minhash_explicit"](spark, SF_DIR).collect()
    }
    full_new = {(a, b, j) for a, b, j in full if a >= split or b >= split}
    incr = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in qs["near_dup_incremental_minhash_explicit"](spark, SF_DIR).collect()
    }
    assert incr == full_new
    assert len(incr) > 0


def test_explicit_band_frame_deterministic_across_builds(spark):
    """Two independent builds over a repartitioned input produce the
    identical frame — no partition-order or engine-seed dependence (the
    property that makes the DuckDB oracle possible at all)."""
    docs = load_table(spark, SF_DIR, "documents").limit(60)
    f1 = D.minhash_band_frame(docs, "doc_id", "text", n=3, family=D.EXPLICIT).collect()
    f2 = D.minhash_band_frame(
        docs.repartition(7, "doc_id"), "doc_id", "text", n=3, family=D.EXPLICIT
    ).collect()
    assert sorted(map(tuple, f1)) == sorted(map(tuple, f2))


def test_explicit_stream_serve_multibatch_parity(spark, qs):
    """The hash-verified online loop must genuinely drain as multiple
    micro-batches AND emit exactly the explicit incremental batch rung's
    pairs — stream≡batch under real slicing, the same contract the
    seeded family pins, here value-checkable end to end."""
    from dataengineerchallenge_spark.queries.dedup import (
        _staged_delivery_stream,
        _staged_minhash_bands,
        _stream_near_dup_serve,
    )
    from dataengineerchallenge_spark.sources.tables import spread

    store = _staged_minhash_bands(spark, SF_DIR, family=D.EXPLICIT)
    payload = _staged_delivery_stream(spark, SF_DIR)
    docs = spread(load_table(spark, SF_DIR, "documents"))
    epochs: list = []
    streamed = _stream_near_dup_serve(
        spark, store, payload, docs, epochs=epochs, family=D.EXPLICIT
    )
    assert len(epochs) >= 2, f"expected multi-micro-batch drain, got {epochs}"
    got = {tuple(r) for r in streamed.collect()}
    want = {
        tuple(r)
        for r in qs["near_dup_incremental_minhash_explicit"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0


def test_explicit_simhash_identical_texts_and_precision(spark, qs):
    """Structural parity with the seeded SimHash family: identical texts
    fingerprint identically (hamming 0) in the explicit family, and
    every reported pair is genuinely similar — also an exact
    shingle-Jaccard >= 0.3 pair (the seeded rung's precision check,
    looser than the 0.5 near-dup bar because hamming and Jaccard are
    different similarity geometries)."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six seven")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_near_dup_pairs(df, "doc_id", "text", family=D.EXPLICIT).collect()
    }
    assert (1, 2, 0) in got
    assert all(h == 0 or (a, b) != (1, 2) for a, b, h in got)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in qs["simhash_near_dups_explicit"](spark, SF_DIR).collect()
    }
    loose = {
        (r["id_a"], r["id_b"])
        for r in D.shingle_jaccard_pairs(
            load_table(spark, SF_DIR, "documents"), "doc_id", "text",
            n=3, threshold=0.3,
        ).collect()
    }
    assert len(pairs) > 0
    assert pairs <= loose, f"low-precision simhash pairs: {sorted(pairs - loose)[:5]}"
