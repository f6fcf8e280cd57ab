"""Physical-plan pins (SURVEY.md §4): the configurations the 100 TB
stance depends on must be visible in the plan, not assumed —
broadcast joins stay broadcast, the sessionizer keeps its single
exchange, top-k never becomes a global sort, similarity joins never
degenerate to cartesian products, and filters reach the parquet scan."""

from __future__ import annotations

import contextlib
import io
import re

import pyspark.sql.functions as F
import pytest

from dataengineerchallenge_spark.registry import queries
from dataengineerchallenge_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_region_revenue_joins_are_all_broadcast(spark, qs):
    plan = explain_str(qs["region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_sessionize_has_single_exchange(spark, qs):
    """lag + cumsum + per-session agg must share one hashpartition(key)
    exchange — the whole 100 TB story of the batch sessionizer."""
    plan = explain_str(qs["sessionize"](spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 1, plan


def test_most_engaged_users_uses_topk_not_global_sort(spark, qs):
    plan = explain_str(qs["most_engaged_users"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_similarity_joins_never_cartesian(spark, qs):
    for name in ("near_dup_jaccard", "ivf_topk", "simhash_near_dups"):
        plan = explain_str(qs[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_one_sided_simhash_pairs_dedup_without_a_shuffle(spark, qs):
    """The self-join's a._id < b._id already orders each pair, so the
    pair dedup reuses the join's partitioning (least/greatest cost a third
    exchange)."""
    for name in ("simhash_near_dups", "simhash_near_dups_explicit"):
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange (?:hash|range|Single)", plan)) == 2, name


def test_parquet_filter_pushdown_and_column_pruning(spark):
    ev = load_table(spark, SF_DIR, "events")
    q = ev.filter(F.col("event_type") == "error").select("event_id", "event_type")
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan
    # pruned read schema: only the two projected columns reach the scan
    assert "value" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_text_scoring_is_jvm_only_with_codegen(spark, qs):
    """No Python eval nodes in the JVM-only text queries; whole-stage
    codegen spans present (`*(n)` markers — the lambda-bearing projection
    itself is interpreted, which is expected for higher-order funcs)."""
    plan = explain_str(qs["doc_quality_scores"](spark, SF_DIR), "simple")
    assert "*(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_analytics_queries_minimal_exchanges(spark, qs):
    """Funnel and cohort retention must stay two-exchange plans (one
    user-keyed shuffle + one tiny final aggregate) — the naive
    join-back/distinct formulations cost 4."""
    for name in ("conversion_funnel", "weekly_cohort_retention"):
        plan = explain_str(qs[name](spark, SF_DIR), "simple")
        assert plan.count("Exchange") <= 2, f"{name}:\n{plan}"


def test_binned_interval_join_is_hash_not_nested_loop(spark, qs):
    """The no-equi-key interval join must plan as a hash/SMJ join on the
    manufactured time-bin key — never the BroadcastNestedLoopJoin that a
    raw range predicate without equi prefix would produce."""
    plan = explain_str(qs["error_window_activity"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the bin key is the join key of a real equi join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_binned_interval_join_matches_naive_range_join(spark):
    """Exact-equivalence pin: the binned decomposition must return the
    identical pair set as the naive theta join on a micro frame."""
    from dataengineerchallenge_spark.operators.joins import binned_interval_join

    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 59, 60, 61, 119, 120, 300, 1000])],
        "pid int, ts long",
    )
    ivs = spark.createDataFrame(
        [(0, 0, 60), (1, 60, 120), (2, 100, 1000), (3, 1001, 1002)],
        "iid int, s long, e long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in binned_interval_join(pts, ivs, "ts", "s", "e", bin_s=60).collect()
    )
    naive = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(ivs, (F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e"))).collect()
    )
    assert got == naive and len(got) > 0


def test_edit_distance_join_never_cartesian(spark, qs):
    """The EDJoin-blocked fuzzy join must plan every join as an equi
    join — the prefix-token inverted index, the short-string block join,
    and the name join-backs — never a BroadcastNestedLoopJoin or
    CartesianProduct (the all-pairs plan it exists to avoid)."""
    plan = explain_str(qs["fuzzy_part_name_matches"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bench_headline_names_all_registered(spark, qs):
    """Every bench.py HEADLINE name must resolve in the registry — a typo
    would silently shrink the headline set bench.py times."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    # the r14-retired seeded delivery rungs must NOT be back in the
    # registry (rows-only block stays <= 25; their shapes are
    # value-verified by the explicit twins)
    assert "near_dup_incremental_minhash_bigbatch" not in qs
    assert "near_dup_second_delivery_minhash" not in qs


def test_serve_rungs_hold_two_shuffle_budget(spark, qs):
    """Shuffle-budget regression guard for the serving split: the two
    prebuilt-router serve rungs must keep their audited 2-exchange plan
    (scoring aggregate + top-k window) — a third exchange means the
    broadcast probe/lookup joins degraded to shuffle joins and the
    inverted-list seek story is gone. (The staged artifacts must exist
    first; building them here keeps the pin self-contained.)"""
    from dataengineerchallenge_spark.queries.vectors import (
        _staged_ivfpq_index,
        _staged_ivfpq_residual_index,
    )

    _staged_ivfpq_index(spark, SF_DIR)
    _staged_ivfpq_residual_index(spark, SF_DIR)
    for name in ("ivf_pq_serve_topk", "ivf_pq_residual_serve_topk"):
        plan = explain_str(qs[name](spark, SF_DIR), "simple")
        # count shuffle-exchange NODES only (not BroadcastExchange, and
        # not the "Exchange" substring inside ReusedExchange)
        n = len(re.findall(r"\bExchange (hash|range|Single)", plan))
        assert n <= 2, f"{name} grew to {n} shuffle exchanges:\n{plan}"


def test_incremental_minhash_candidate_joins_broadcast_new_side(spark, qs):
    """The incremental dedup scale claim in plan terms: the staged band
    table must meet the new batch's bands through broadcast joins (the
    batch side broadcasts; the staged side never shuffles) — a
    SortMergeJoin on (band, band_hash) would mean the corpus-sized band
    store is being re-shuffled per delivery."""
    from dataengineerchallenge_spark.queries.dedup import _staged_minhash_bands

    _staged_minhash_bands(spark, SF_DIR)
    plan = explain_str(qs["near_dup_incremental_minhash"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # every (band, band_hash) candidate join is a broadcast hash join
    import re

    smj_on_bands = re.search(r"SortMergeJoin.*band_hash", plan)
    assert smj_on_bands is None, plan


def test_runtime_bloom_filter_injects_on_selective_fact_dim_join(spark):
    """Spark's runtime bloom-filter join pruning (SPARK-32268) must
    fire on the engine's fact⋈selective-dim shape: a filtered dim side
    joined to a fact on a non-partition key injects a
    bloom_filter_agg / might_contain pair so the fact scan drops
    non-qualifying rows BEFORE the shuffle. The feature is gated on
    scan-size thresholds sized for clusters (10 GB application side),
    so the pin lowers them for the fixture — what it proves is that
    OUR join shape is eligible: an equi-join on a plain column with a
    selective creation-side filter and no broadcast. At 100 TB this is
    the difference between shuffling all of lineitem and shuffling the
    ~1/25th that can match a filtered part dim."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        part = load_table(spark, SF_DIR, "part").filter(
            F.col("p_brand") == "Brand#11"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        q = li.join(part, li.l_partkey == part.p_partkey).groupBy("p_brand").agg(
            F.sum("l_quantity").alias("qty")
        )
        plan = explain_str(q, "extended")
        assert "might_contain" in plan, plan[:2000]
        assert len(q.collect()) >= 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_gap_sweep_shares_one_sessionization_exchange(spark, qs):
    """session_gap_sensitivity explodes the gap candidates BEFORE the
    session window so all |G| sessionizations ride one hash exchange on
    (gap_s, user_id); the per-session aggregate reuses that partitioning
    (grouping keys are a superset), leaving only the final 4-row rollup
    as a second, trivially small exchange. 2 total — |G| separate runs
    would cost |G| scans + |G| shuffles."""
    plan = explain_str(qs["session_gap_sensitivity"](spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 2, plan


def test_r15_serve_rungs_never_load_fact_tables(spark, monkeypatch):
    """The new G-family rungs (coreness, deterministic walks) must keep
    the serve discipline: once the edge store exists they never load
    lineitem/orders — the property that makes graph analytics amortize
    the edge build at 100 TB. (A plan-string pin is vacuous here: the
    iterative rounds localCheckpoint, so the final plan is always Scan
    ExistingRDD — instead the fact-table loader itself is guarded for
    the whole build-plus-execute lifecycle of each serve call.)"""
    import dataengineerchallenge_spark.queries.graph as g

    g._staged_copurchase_edges(spark, SF_DIR)  # build once, unguarded
    real = g.load_table

    def guard(spark_, sf_dir_, name_):
        assert name_ not in ("lineitem", "orders"), f"serve rung loaded {name_}"
        return real(spark_, sf_dir_, name_)

    monkeypatch.setattr(g, "load_table", guard)
    assert g.copurchase_coreness(spark, SF_DIR).count() > 0
    assert g.copurchase_deterministic_walks(spark, SF_DIR).count() > 0
