"""The graph loops' shared round helpers (operators/graph.py: ``_iterate`` and
``_loop_cache``):

- a fixpoint loop whose round budget is too small for its input raises
  instead of returning a truncated answer (star CC still fills
  ``stats``);
- a call leaves no persisted RDD behind except the checkpoints its
  returned frame reads: every earlier round and every loop cache is
  released.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineerchallenge_spark.operators.graph import (
    connected_components_star,
    coreness,
    label_propagation,
    scc_fb_minlabel,
    weighted_sssp,
)

CHAIN = 40  # a directed path 1 -> 2 -> ... -> CHAIN


def _chain(spark):
    return spark.createDataFrame(
        [(i, i + 1, 1) for i in range(1, CHAIN)], "src long, dst long, cost long"
    )


def test_sssp_raises_when_rounds_run_out(spark):
    with pytest.raises(RuntimeError, match="weighted_sssp did not converge"):
        weighted_sssp(_chain(spark), rounds=5)


def test_scc_raises_when_hops_run_out(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        scc_fb_minlabel(_chain(spark).select("src", "dst"), hops=3)


def test_star_cc_raises_when_rounds_run_out_and_fills_stats(spark):
    stats: dict = {}
    with pytest.raises(RuntimeError, match="connected_components_star did not converge"):
        connected_components_star(_chain(spark), max_rounds=1, stats=stats)
    assert stats == {"rounds": 1, "converged": False}


def _persisted_ids(spark) -> set[int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(str(k)) for k in rdds.keySet().toArray()}


def _read_checkpoints(df) -> set[int]:
    """Ids of the checkpointed RDDs the frame's plan reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    out = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out.add(leaf.rdd().id())
    return out


def _undirected(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (10, 11), (11, 12)],
        "src long, dst long",
    )
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@pytest.mark.parametrize("op", ["lpa", "coreness", "sssp", "scc"])
def test_call_releases_every_round_but_the_result(spark, op):
    und = _undirected(spark)
    directed = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)], "src long, dst long"
    )
    run = {
        "lpa": lambda: label_propagation(und, iters=5),
        "coreness": lambda: coreness(und, iters=5),
        "sssp": lambda: weighted_sssp(directed.withColumn("cost", F.lit(2).cast("long"))),
        "scc": lambda: scc_fb_minlabel(directed),
    }[op]
    run().collect()  # warm
    before = _persisted_ids(spark)
    out = run()
    out.collect()
    left = _persisted_ids(spark) - before
    assert left <= _read_checkpoints(out), (op, left)
