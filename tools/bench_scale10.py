"""Scale-regime evidence for the r20/r21 dial wins (VERDICT r20
next-round #7): at sf0.1 ~20 headline queries sit at low/high-core
ratio ~1, so the bench cannot distinguish algorithmic wins from
scheduler-floor wins. This tool builds a DETERMINISTIC 10x corpus from
the sf0.1 fixture (10 disjoint replicas: lineitem with order/part/supp
keys shifted by r*10M — ten isomorphic copies of the co-purchase
graph; documents with doc_id shifted and every whitespace token salted
'wr{r}' so shingle/gram spaces are disjoint across replicas and each
replica's dedup structure is exactly the fixture's), then A/Bs each
optimization dial on its heaviest consumers where compute, not the
scheduler, dominates.

The 10x corpus is INPUT data (written once under /tmp, content-keyed
by this generator's parameters), not a cached result: every timed run
computes from it through the same staged/serve machinery as the
driver fixture.

Each case is sampled by ``tools/ab.py``'s ``sample`` (values
``true,false``). Once the corpus exists, any other conf can be A/B'd on
it with ``tools/ab.py`` and ``q@<OUT_DIR>``.

    python tools/bench_scale10.py          -> BENCH_sf1.json
    python tools/bench_scale10.py q1 q2    -> only those rows, merged
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 12g pyspark-shell")

SRC_SF = "/root/testdata/sf0.1"
OUT_DIR = "/tmp/spark_graft_scale10_v1"
REPLICAS = 10
SHIFT = 10_000_000

# (query, dial flag, samples per setting)
CASES = [
    ("part_copurchase_pagerank_staged", "spark.graft.graph.broadcastIterate", 2),
]


def build_corpus(spark) -> None:
    from pyspark.sql import functions as F

    from dataengineerchallenge_spark.sources.tables import load_table

    if os.path.exists(f"{OUT_DIR}/_SUCCESS"):
        return
    os.makedirs(OUT_DIR, exist_ok=True)
    reps = spark.range(0, REPLICAS, 1, 1).select(F.col("id").alias("_r"))
    li = load_table(spark, SRC_SF, "lineitem")
    (
        li.crossJoin(F.broadcast(reps))
        .select(
            (F.col("l_orderkey") + F.col("_r") * SHIFT).alias("l_orderkey"),
            (F.col("l_partkey") + F.col("_r") * SHIFT).alias("l_partkey"),
            (F.col("l_suppkey") + F.col("_r") * SHIFT).alias("l_suppkey"),
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{OUT_DIR}/lineitem.parquet")
    )
    orders = load_table(spark, SRC_SF, "orders")
    (
        orders.crossJoin(F.broadcast(reps))
        .select(
            (F.col("o_orderkey") + F.col("_r") * SHIFT).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("_r") * SHIFT).alias("o_custkey"),
            *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey")],
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(f"{OUT_DIR}/orders.parquet")
    )
    docs = load_table(spark, SRC_SF, "documents")
    salted = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("wr"), F.col("_r").cast("string")),
        ),
        " ",
    )
    (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("_r") * SHIFT).alias("doc_id"),
            salted.alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(16)
        .write.mode("overwrite")
        .parquet(f"{OUT_DIR}/documents.parquet")
    )
    open(f"{OUT_DIR}/_SUCCESS", "w").close()


def _write(out_path: str, cases: dict) -> None:
    """Incremental flush after every case — a long suite killed mid-run
    keeps everything measured so far."""
    doc = {
        "metric": "scale10_dial_ab",
        "design": (
            "10x disjoint-replica corpus built deterministically from "
            "sf0.1 (keys shifted r*10M, document tokens salted wr{r}); "
            "one session, per-sample dial alternation, untimed warm-up "
            "per case (also builds the staged stores), medians compared; "
            "noop sink"
        ),
        "corpus": {"src": SRC_SF, "replicas": REPLICAS, "dir": OUT_DIR},
        "cases": cases,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)


def main() -> None:
    import __spark_entry__ as e
    from ab import sample
    from dataengineerchallenge_spark.session import get_spark

    spark = get_spark("bench-scale10")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_corpus(spark)
    print(f"corpus ready in {time.time() - t0:.1f}s -> {OUT_DIR}", flush=True)
    qs = dict(e.queries())
    only = set(sys.argv[1:])
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_sf1.json")
    out: dict[str, dict] = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            out = json.load(f).get("cases", {})
    for name, flag, n in CASES:
        if only and name not in only:
            continue
        key = f"{name}::{flag.rsplit('.', 1)[-1]}"
        try:
            out[key] = {
                "flag": flag,
                **sample(spark, qs[name], OUT_DIR, flag, ["true", "false"], n),
            }
            print(key, out[key]["median_s"], flush=True)
        except Exception as exc:  # noqa: BLE001
            out[key] = {"error": type(exc).__name__}
            print(key, "ERROR", type(exc).__name__, flush=True)
        _write(out_path, out)
    _write(out_path, out)


if __name__ == "__main__":
    main()
