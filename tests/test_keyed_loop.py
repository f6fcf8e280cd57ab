"""Round-20 session-5 pins for the aggregation-keyed loop caches
(operators/graph.py:_keyed, OPTIMIZATION_r20.md Change 12):

- _keyed lays a loop-invariant cache out as HashPartitioning(key, k)
  with k = ceil(n / 64k) clamped to the configured shuffle width, so
  the per-round aggregation keyed on `key` runs exchange-free;
- the four keyed operators — pagerank, label_propagation, coreness,
  hop_distances — return pinned values on one small graph. The test
  name dates from when the keyed layout had an off switch; the literals
  are the values the coalesced and uncompacted layouts produced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineerchallenge_spark.operators.graph import (
    _LOOP_CACHE_ROWS_PER_PART,
    _keyed,
    coreness,
    hop_distances,
    label_propagation,
    pagerank,
)


def _both_dirs(spark, pairs):
    e = spark.createDataFrame(pairs, "src long, dst long")
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_keyed_partitions_on_key(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("dst"), F.col("id").alias("src")
    ).repartition(16)
    out = _keyed(df, 1000, "dst")
    try:
        # tiny frame -> one partition, and the partitioning is the hash
        # layout (all rows of one key in one partition)
        assert out.rdd.getNumPartitions() == 1
        assert out.count() == 1000
        # groupBy on the key over the keyed cache runs with NO exchange
        # above the cache scan (the only Exchange is the one-time
        # repartition INSIDE the cached relation's build)
        q = out.groupBy("dst").count()
        q.collect()
        executed = q._jdf.queryExecution().executedPlan().toString()
        above_cache = executed.split("InMemoryTableScan", 1)[0]
        assert "Exchange" not in above_cache
    finally:
        out.unpersist()


def test_keyed_clamps_to_shuffle_width(spark):
    df = spark.range(0, 64).select(
        F.col("id").alias("dst"), F.col("id").alias("src")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = _keyed(df, 1000 * _LOOP_CACHE_ROWS_PER_PART * cap, "dst")
    try:
        assert out.rdd.getNumPartitions() == cap
    finally:
        out.unpersist()


def test_four_operators_identical_either_dial(spark):
    # one small graph exercising all four keyed loops: a triangle with a
    # tail plus a separate component
    und = _both_dirs(
        spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (10, 11)]
    )
    directed = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (5, 6)], "src long, dst long"
    )

    pr = sorted(
        (r["node"], round(r["pr"], 9)) for r in pagerank(und, iters=4).collect()
    )
    lpa = sorted(tuple(r) for r in label_propagation(und, iters=4).collect())
    core = sorted(tuple(r) for r in coreness(und, iters=4).collect())
    bfs = sorted(tuple(r) for r in hop_distances(directed, max_hops=5).collect())
    # the 2-node component's labels swap every round
    assert pr == [
        (1, 0.940505165),
        (2, 0.940505165),
        (3, 1.439073698),
        (4, 1.043352951),
        (5, 0.636563021),
        (10, 1.0),
        (11, 1.0),
    ]
    assert lpa == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 11)]
    assert bfs == [(1, 0), (2, 1), (3, 2), (4, 3), (5, 2), (6, 3)]
    assert core == sorted(
        [(1, 2), (2, 2), (3, 2), (4, 1), (5, 1), (10, 1), (11, 1)]
    )
