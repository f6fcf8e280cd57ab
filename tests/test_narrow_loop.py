"""Round-20 optimization pins for the narrow-loop-frames change
(operators/graph.py:_narrowed/_seed1, OPTIMIZATION_r20.md Change 6):

- _narrowed compacts a tiny cached frame to ceil(n / 64k) partitions and
  NEVER widens one at or above its natural width (the 100 TB clamp);
- _seed1 builds a one-row, ONE-partition seed whose values equal the
  createDataFrame seed it replaced;
- hop_distances, weighted_sssp and hits return pinned exact values.
  The `*_either_dial` names date from when the compaction had an off
  switch; the literals are the values both layouts produced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineerchallenge_spark.operators.graph import (
    _LOOP_CACHE_ROWS_PER_PART,
    _narrowed,
    _seed1,
    hits,
    hop_distances,
    weighted_sssp,
)


def test_narrowed_compacts_tiny_frame(spark):
    df = spark.range(0, 1000).repartition(16)
    out = _narrowed(df, 1000)
    assert out.rdd.getNumPartitions() == 1
    assert out.count() == 1000


def test_narrowed_keeps_natural_width_at_scale(spark):
    df = spark.range(0, 100).repartition(4)
    # a claimed row count far above the per-partition floor: the clamp
    # must keep the frame's existing width, never widen it
    out = _narrowed(df, 100 * _LOOP_CACHE_ROWS_PER_PART)
    assert out.rdd.getNumPartitions() == 4


def test_seed1_one_partition_same_values(spark):
    seed = _seed1(spark, 7, "bigint", "hops", 0, "int")
    assert seed.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in seed.collect()] == [(7, 0)]
    assert seed.columns == ["node", "hops"]
    # string node ids (the graph operators derive seed_t from the edge
    # column's actual type)
    seed_s = _seed1(spark, "a", "string", "dist", 0, "long")
    assert [tuple(r) for r in seed_s.collect()] == [("a", 0)]


def test_bfs_and_sssp_results_identical_either_dial(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5)], "src long, dst long"
    )
    wedges = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 1), (1, 3, 10), (3, 4, 2)],
        "src long, dst long, cost long",
    )
    base_bfs = sorted(tuple(r) for r in hop_distances(edges, max_hops=4).collect())
    base_sssp = sorted(tuple(r) for r in weighted_sssp(wedges, rounds=8).collect())
    assert base_bfs == [(1, 0), (2, 1), (3, 2), (4, 3), (5, 2)]
    assert base_sssp == [(1, 0), (2, 4), (3, 5), (4, 7)]


def test_hits_identical_either_dial(spark):
    # n_hubs/n_auths derive from the h frame and the first authority
    # half-step; the literals (9 decimal places) are the scores the
    # count_distinct-pair path produced
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12)], "src long, dst long"
    )
    base = sorted(tuple(r) for r in hits(edges, iters=3).collect())
    assert [(n, kind, round(s, 9)) for n, kind, s in base] == [
        (1, "hub", 1.340425532),
        (2, "hub", 0.606382979),
        (3, "hub", 1.053191489),
        (10, "authority", 1.096153846),
        (11, "authority", 1.326923077),
        (12, "authority", 0.576923077),
    ]
    # hubs cover {1,2,3}, authorities {10,11,12}, mean-1 scaled per side
    hubs = [s for n, kind, s in base if kind == "hub"]
    auths = [s for n, kind, s in base if kind == "authority"]
    assert len(hubs) == 3 and len(auths) == 3
    assert abs(sum(hubs) - 3.0) < 1e-9 and abs(sum(auths) - 3.0) < 1e-9
