"""Same-session A/B of one session conf over registered queries.

    python tools/ab.py --conf KEY=A,B[,C...] [--samples N] [--out BENCH_x.json] \\
        q1 q2@/path/to/sf_dir ...

A query without ``@sf_dir`` runs on ``$SPARK_GRAFT_SF_DIR``. Design:
one session; an untimed warm-up per query (staging builds, codegen);
then ``N`` samples (default 3), each running the query once per conf
value in the given order; a noop sink; medians per value; the conf
unset afterwards, so a query's later samples and the next query start
from the session default. Wall time on a shared box drifts, so compare
the values only within one run, never across runs.

Each sample also records the Janino compiles it caused (the delta of
``CodegenMetrics.METRIC_COMPILATION_TIME``'s count), so a conf that
changes generated code shows its recompiles beside its time.

Queries inside a perfbench workload are better A/B'd across checkouts
with ``perfbench/spread.py``, which also reads the per-layer counters.
So is a static conf (``spark.sql.codegen.cache.maxEntries``,
``spark.python.daemon.module``): it is fixed when the session starts, so
one session cannot alternate it; run ``perfbench/spread.py --root
../parent --root .`` over two checkouts that differ in it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str], names) -> argparse.Namespace:
    """Parse the command line; a malformed ``--conf``, a query name not
    in ``names`` or a query with no sf dir is a usage error (exit 2).
    Returns the namespace with ``key``, ``values`` and ``cases`` (a list
    of ``(query, sf_dir)``) filled in."""
    p = argparse.ArgumentParser(
        prog="tools/ab.py", description=__doc__.split("\n", 1)[0]
    )
    p.add_argument("--conf", required=True, metavar="KEY=A,B")
    p.add_argument("--samples", type=int, default=3, metavar="N")
    p.add_argument("--out", metavar="BENCH_x.json")
    p.add_argument("queries", nargs="+", metavar="q[@sf_dir]")
    a = p.parse_args(argv)
    key, eq, vals = a.conf.partition("=")
    a.key, a.values = key.strip(), vals.split(",")
    if not eq or not a.key:
        p.error(f"--conf {a.conf!r}: expected KEY=A,B")
    if len(a.values) < 2 or "" in a.values:
        p.error(f"--conf {a.conf!r}: give at least two non-empty values")
    if a.samples < 1:
        p.error("--samples must be >= 1")
    default_sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    a.cases = []
    for q in a.queries:
        name, _, sf = q.partition("@")
        if name not in names:
            p.error(f"unknown query {name!r}")
        if not (sf or default_sf):
            p.error(f"{q}: no @sf_dir and SPARK_GRAFT_SF_DIR is unset")
        a.cases.append((name, sf or default_sf))
    return a


def janino_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def sample(spark, fn, sf_dir: str, key: str, values: list[str], n: int) -> dict:
    """Untimed warm-up of ``fn(spark, sf_dir)``, then ``n`` rounds that
    each time it once under every value of ``key``. Returns
    ``{"samples_s": {value: [s, ...]}, "median_s": {value: s},
    "compiles": {value: [count, ...]}}``. The conf is unset on every
    exit."""

    def run() -> None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    samples: dict[str, list[float]] = {v: [] for v in values}
    compiles: dict[str, list[int]] = {v: [] for v in values}
    try:
        for _ in range(n):
            for v in values:
                spark.conf.set(key, v)
                c0, t0 = janino_compiles(spark), time.time()
                run()
                samples[v].append(round(time.time() - t0, 3))
                compiles[v].append(janino_compiles(spark) - c0)
    finally:
        spark.conf.unset(key)
    return {
        "samples_s": samples,
        "median_s": {v: round(statistics.median(s), 3) for v, s in samples.items()},
        "compiles": compiles,
    }


def summary(name: str, rec: dict) -> str:
    """The printed line of one query: each value's median time and the
    Janino compiles its samples caused."""
    return f"{name} " + " vs ".join(
        f"{v}={m}s/{sum(rec['compiles'][v])} compiles" for v, m in rec["median_s"].items()
    )


def main(argv: list[str]) -> None:
    sys.path.insert(0, ROOT)
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell")
    import __spark_entry__ as e

    qs = dict(e.queries())
    a = parse_args(argv, qs)

    from dataengineerchallenge_spark.session import get_spark

    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    doc = {
        "metric": "conf_ab",
        "conf": a.key,
        "values": a.values,
        "design": (
            "one session, untimed warm-up per query, per-sample alternation "
            f"of the conf values, {a.samples} samples each, medians "
            "compared; noop sink"
        ),
        "queries": {},
    }
    for name, sf in a.cases:
        rec = {"sf_dir": sf, **sample(spark, qs[name], sf, a.key, a.values, a.samples)}
        doc["queries"][f"{name}@{sf}"] = rec
        print(summary(name, rec), flush=True)
        if a.out:  # flushed per query: a run killed mid-way keeps what it measured
            with open(a.out, "w") as f:
                json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
