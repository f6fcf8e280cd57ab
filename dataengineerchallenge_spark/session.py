"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (AQE on, skew-join handling,
Arrow for any Python exchange) while remaining correct on local[N] test
runs. Session timezone is pinned to UTC so epoch/date functions agree with
the DuckDB oracle (which treats naive parquet timestamps as UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dataengineerchallenge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster these same configs apply; only ``master`` changes.
    ``spark.sql.shuffle.partitions`` is a floor — AQE coalesces down and
    splits skewed partitions up at runtime, so at 100 TB one sets it high
    (e.g. 2000+) and lets AQE right-size each stage.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime partition coalescing, skew-join splitting, join demotion
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow for every JVM<->Python exchange (pandas UDFs, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10x the 10k default: the r15 bisect of udf_user_trend
        # (tools/bisect_udf_trend.py, BENCH_udf_bisect.json) measured
        # 0.99 -> 0.73 s at sf0.1 from batch size alone (fewer Arrow
        # flushes per grouped-map partition; sample windows disjoint).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # ...and the WIDE-ROW guard the record cap alone lacks (ADVICE
        # r15): batches close when EITHER bound is hit, so narrow rows
        # (udf_user_trend ~50 B) still enjoy 100k-record batches while a
        # binary-payload corpus (multimodal/payload mapInPandas stages;
        # megabyte images at 100 TB) is cut at 64 MB per Arrow batch
        # regardless of row count — executor memory stays bounded by
        # bytes, not by a row-width assumption.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        # deterministic time semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # session_window & friends need this off in some 3.x versions; harmless
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects natively;
        # read as bigint nanos, converted in sources/tables.py (floor to µs,
        # matching DuckDB's ns->µs truncation; FIXTURES.md caveat)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Janino's cache is keyed on (class loader, source), and local mode's
        # driver and task threads use two loaders, so each generated class
        # takes two entries: curation's 4 queries need 103-107, over Spark's
        # cap of 100, and every warm pass recompiled 32-58 classes in LRU order.
        # A static conf: only the builder can set it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # CPython < 3.12 re-reads pyspark.zip's directory once per zip
        # importer (16 per task) on every task's invalidate_caches(); the
        # engine's daemon re-reads it only when the archive changed
        .config("spark.python.daemon.module", "dataengineerchallenge_spark.pydaemon")
        # ...so every worker imports this package, from any cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
