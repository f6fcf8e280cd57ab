"""Stream execution helpers (SURVEY.md §2.9 T6 — output modes/triggers).

``run_to_batch`` drives a streaming DataFrame to completion over the
currently-available input with ``trigger(availableNow=True)`` and a
memory sink, returning the materialized result as a batch DataFrame;
``drain_foreach_batch`` does the same for a foreachBatch body. Every
engine stream starts through one of the two.

This is the test/oracle harness path: results are deterministic because
availableNow drains the full fixture. The memory sink collects to the
driver, so it is test-scale only — the production sink is
``writeStream.format("parquet"/"kafka")`` with the same trigger options
(S4; sinks module).

Checkpoint manager: a drain whose checkpoint is local runs under
Spark's ``FileSystemBasedCheckpointFileManager``. Spark's default, the
FileContext-based manager, needs Hadoop's native library for its local
renames and permission changes; without it (the usual pip install)
every offset-log, commit-log and state-store file write forks a
``readlink`` or ``chmod`` shell. The FileSystem-based manager renames
through ``File.renameTo``, which is POSIX ``rename(2)`` and as atomic.
A non-local checkpoint keeps Spark's default manager. The key is set
around each drain at run time, so a session the engine did not build
gets it too.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

_counter = itertools.count()

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_confs(checkpoint: str | None, default_fs: str = "file:///") -> dict[str, str]:
    """Session confs for a drain checkpointing to ``checkpoint``: the
    FileSystem-based manager when the location is local, none otherwise.
    A scheme-less location, and the temp dir Spark picks for ``None``,
    live on ``default_fs``."""
    scheme = urlparse(checkpoint or "").scheme or urlparse(default_fs).scheme
    return {CHECKPOINT_MANAGER_KEY: FS_CHECKPOINT_MANAGER} if scheme in ("", "file") else {}


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the block and restore each key on
    every exit path; a key that was unset before is unset again."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _drain_confs(spark: SparkSession, checkpoint: str | None) -> dict[str, str]:
    """``checkpoint_confs`` for the location Spark will actually use."""
    if checkpoint is None:
        checkpoint = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return checkpoint_confs(checkpoint, default_fs)


def _await_drain(q, name: str, timeout_s: int) -> None:
    """Wait for an availableNow query to finish; always stop it."""
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"streaming query {name!r} did not drain availableNow input in "
                f"{timeout_s}s — refusing to return a partially-filled sink"
            )
    finally:
        if q.isActive:
            q.stop()


def run_to_batch(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    timeout_s: int = 300,
    checkpoint: str | None = None,
) -> DataFrame:
    """Run a streaming frame until availableNow is drained; return the
    memory-sink contents. ``output_mode``: append for row streams and
    finalized-only emission, complete for full-aggregate snapshots,
    update for incremental aggregate deltas.

    Pass ``checkpoint`` to persist offsets/state/watermark across calls:
    a second run with the same checkpoint resumes exactly where the first
    stopped (used by tests to replay a stream batch-by-batch and to
    verify watermark semantics across restarts).

    The drain plans at ``spark.graft.stream.drainStatePartitions`` shuffle
    partitions (default 8; non-positive keeps the session width), which a
    stateful stream keeps as its state width: OPTIMIZATION_r20.md,
    Change 14."""
    spark = sdf.sparkSession
    qname = f"_strm_{name}_{next(_counter)}_{id(sdf) & 0xFFFF}"
    confs = _drain_confs(spark, checkpoint)
    drain_sp = int(spark.conf.get("spark.graft.stream.drainStatePartitions", "8"))
    if 0 < drain_sp < int(spark.conf.get("spark.sql.shuffle.partitions")):
        confs["spark.sql.shuffle.partitions"] = str(drain_sp)
    writer = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    with session_confs(spark, confs):
        _await_drain(writer.start(), name, timeout_s)
    # Resolve the sink into a DataFrame, then drop the uniquely-named temp
    # view: spark.table() analyzes EAGERLY, so the returned frame holds the
    # memory-sink relation directly and survives the drop, while the
    # catalog no longer accumulates one table per call (ADVICE r2). The
    # sink rows stay reachable only through the returned frame and are
    # GC'd with it — no driver-side collect/re-parallelize round-trip
    # (that copy cost ~2.3 s per streaming query at sf0.1).
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return out


def drain_foreach_batch(
    sdf: DataFrame,
    batch_fn,
    checkpoint: str,
    name: str,
    timeout_s: int = 300,
) -> None:
    """Drain an availableNow foreachBatch stream to completion — the
    shared start/await/stop lifecycle of the ~21 foreachBatch twins.

    Raises TimeoutError on a partial drain; always stops the query."""
    spark = sdf.sparkSession
    writer = (
        sdf.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    with session_confs(spark, _drain_confs(spark, checkpoint)):
        _await_drain(writer.start(), name, timeout_s)
