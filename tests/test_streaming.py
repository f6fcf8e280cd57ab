"""Streaming twin invariants (T1-T6): batch equivalence of the
session_window and stateful sessionizers, and true watermark late-data
semantics under multi-batch replay."""

from __future__ import annotations

import os
import time
from datetime import datetime

import pyspark.sql.functions as F
import pytest

from dataengineerchallenge_spark.operators.sessionize import session_stats
from dataengineerchallenge_spark.registry import queries
from dataengineerchallenge_spark.sources import load_table
from dataengineerchallenge_spark.streaming import run_to_batch, runner
from dataengineerchallenge_spark.streaming.windows import per_minute_load_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_session_window_stream_equals_batch_at_same_gap(spark, qs):
    """T3 batch equivalence: the native session_window stream must equal
    the batch lag+cumsum sessionizer at the same gap (both treat a gap of
    exactly 900 s as in-session; `>` starts a new one)."""
    ev = load_table(spark, SF_DIR, "events")
    batch = session_stats(ev, gap_s=900).select(
        F.col("user_id").alias("skey"), "start_s",
        (F.col("end_s") + 900).alias("end_s"), "n_hits", "n_unique_urls",
    )
    stream = qs["stream_sessionize"](spark, SF_DIR)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s


def test_stateful_stream_sessions_subset_of_batch(spark, qs):
    """T5 batch equivalence: every emitted stateful session exists in the
    batch sessionization (same gap semantics), and all gap-closed
    sessions are emitted."""
    ev = load_table(spark, SF_DIR, "events")
    batch = session_stats(ev)  # gap > 900, batch semantics
    bset = {
        (str(r["user_id"]), r["start_s"], r["end_s"], r["n_hits"]) for r in batch.collect()
    }
    stream = qs["stream_stateful_sessions"](spark, SF_DIR)
    sset = {
        (r["skey"], r["session_start_s"], r["session_end_s"], r["n_hits"])
        for r in stream.collect()
    }
    assert sset <= bset
    # at minimum every non-final session per key must have been emitted
    from collections import Counter

    per_key = Counter(k for k, *_ in bset)
    expected_min = sum(n - 1 for n in per_key.values())
    assert len(sset) >= expected_min


def test_watermark_drops_late_data(spark, tmp_path):
    """T4: a row arriving after the watermark passed its window is
    discarded. Two availableNow runs share one checkpoint — the second
    resumes with the first run's watermark (state recovery), so its
    late row is provably behind the watermark."""
    d = str(tmp_path / "stream_in")
    ckpt = str(tmp_path / "ckpt")
    sch = "ts timestamp, v int"

    def write_file(name, rows):
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(os.path.join(d, name))

    def src():
        return spark.readStream.schema(sch).parquet(d + "/*")

    out_dir = str(tmp_path / "out")

    def run(tag):
        q = (
            per_minute_load_stream(src())
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    # run 1: two rows in minute 10:00, one at 11:00 → wm persists at 10:30
    write_file("f1", [(t("2024-01-01 10:00:10"), 1), (t("2024-01-01 10:00:20"), 1), (t("2024-01-01 11:00:00"), 1)])
    run("a")
    # run 2 (same checkpoint): LATE row for 10:00 (behind wm) + fresh 11:30
    write_file("f2", [(t("2024-01-01 10:00:30"), 1), (t("2024-01-01 11:30:00"), 1)])
    run("b")
    rows = {r["minute_epoch_s"]: r["n_requests"] for r in spark.read.parquet(out_dir).collect()}
    m1000 = int(t("2024-01-01 10:00:00").timestamp())
    # the 10:00 window closed with 2 rows — the late third row was dropped
    assert rows.get(m1000) == 2
    # windows still inside the watermark horizon are withheld in append mode
    assert len(rows) == 1


def test_tumbling_stream_equals_batch_counts(spark, qs):
    """T1 batch equivalence at sf0.001 via the registered query."""
    stream = {tuple(r) for r in qs["stream_per_minute_load"](spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    batch = {
        tuple(r)
        for r in ev.groupBy(
            F.unix_timestamp(F.date_trunc("minute", "ts")).alias("minute_epoch_s")
        )
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .collect()
    }
    assert stream == batch


def test_session_window_gap_boundary_inclusive(spark, tmp_path):
    """Two events exactly 900 s apart form ONE session in the native
    session_window (inclusive boundary) — and 901 s apart form two.
    Pins the semantics the stream_sessionize oracle encodes (gap=900)."""
    from datetime import datetime, timezone
    from dataengineerchallenge_spark.streaming.sessionize import session_window_stream

    t0 = datetime(2024, 1, 1, 10, 0, 0, tzinfo=timezone.utc)

    def run(offsets, name):
        rows = [
            (str(i), datetime.fromtimestamp(t0.timestamp() + o, timezone.utc), "u1", "view")
            for i, o in enumerate(offsets)
        ]
        df = spark.createDataFrame(rows, "event_id string, ts timestamp, user_id string, event_type string")
        d = str(tmp_path / name)
        df.write.parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        return run_to_batch(session_window_stream(src), name, output_mode="complete")

    one = run([0, 900], "gap900")
    assert one.count() == 1 and one.collect()[0]["n_hits"] == 2
    two = run([0, 901], "gap901")
    assert two.count() == 2


def test_tws_sessionizer_matches_old_api(spark):
    """transformWithStateInPandas twin == applyInPandasWithState twin on
    the same fixture (same emission rule, same oracle). Skipped where the
    TWS protobuf runtime is unavailable (this container)."""
    import pytest as _pytest

    from dataengineerchallenge_spark.queries.streaming import _has_tws_runtime

    if not _has_tws_runtime():
        _pytest.skip("protobuf runtime for transformWithStateInPandas unavailable")
    from dataengineerchallenge_spark.streaming import run_to_batch, stream_events
    from dataengineerchallenge_spark.streaming.sessionize import (
        stateful_sessionize_stream,
        tws_sessionize_stream,
    )

    ev = stream_events(spark, SF_DIR)
    old = run_to_batch(stateful_sessionize_stream(ev), "old_api", output_mode="append")
    new = run_to_batch(tws_sessionize_stream(stream_events(spark, SF_DIR)), "tws_api", output_mode="append")
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))


def test_foreachbatch_cdc_upsert_converges_to_batch_profile(spark, tmp_path):
    """T6+ foreachBatch sink: each micro-batch's per-user profile deltas
    are UPSERTED into a keyed parquet target via operators' cdc_upsert —
    the streaming ingestion pattern for a serving table without a
    transactional format. After availableNow drains, the target must
    equal the batch-computed profile (merge of per-batch partials)."""
    import pyspark.sql.functions as F

    from dataengineerchallenge_spark.queries.dimensions import cdc_upsert
    from dataengineerchallenge_spark.sources import load_table
    from dataengineerchallenge_spark.streaming import stream_events

    target_dir = str(tmp_path / "profile_target")

    def upsert_batch(batch_df, batch_id):
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
        )
        try:
            target = spark.read.parquet(target_dir)
        except Exception:
            delta.write.mode("overwrite").parquet(target_dir)
            return
        # merge additively: existing keys accumulate, new keys insert
        merged = (
            target.unionByName(delta)
            .groupBy("user_id")
            .agg(F.sum("n_events").alias("n_events"), F.sum("total_value").alias("total_value"))
        )
        # cdc_upsert replaces same-key rows wholesale — used here to fold
        # the merged frame back over the target (proves the operator in a
        # streaming sink, not just the batch query)
        out = cdc_upsert(target, merged, "user_id").localCheckpoint()
        out.write.mode("overwrite").parquet(target_dir)

    ev = stream_events(spark, SF_DIR)
    q = (
        ev.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(target_dir).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == want


# --- drain conf scope (streaming/runner.py) ---------------------------------

_SP = "spark.sql.shuffle.partitions"


def _tiny_stream(spark, tmp_path):
    d = str(tmp_path / "tiny_in")
    spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(12)], "id long, k string"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    return spark.readStream.schema("id long, k string").parquet(d)


def _conf_state(spark):
    return {k: spark.conf.getAll.get(k) for k in (_SP, runner.CHECKPOINT_MANAGER_KEY)}


@pytest.fixture
def wide_session(spark):
    """The session at a width above the drain dial (so run_to_batch
    narrows it), with the checkpoint-manager key unset."""
    old = spark.conf.get(_SP)
    spark.conf.set(_SP, "16")
    assert runner.CHECKPOINT_MANAGER_KEY not in spark.conf.getAll
    try:
        yield spark
    finally:
        spark.conf.set(_SP, old)


def test_foreach_batch_body_sees_fs_checkpoint_manager(wide_session, tmp_path):
    """A foreachBatch drain into a local checkpoint runs under the
    FileSystem-based checkpoint manager, and its body plans at the full
    session width (only run_to_batch narrows)."""
    spark = wide_session
    seen = []

    def body(mb, _epoch):
        conf = mb.sparkSession.conf
        seen.append((conf.get(runner.CHECKPOINT_MANAGER_KEY, None), conf.get(_SP)))

    runner.drain_foreach_batch(_tiny_stream(spark, tmp_path), body, str(tmp_path / "ckpt"), "fb")
    assert seen and set(seen) == {(runner.FS_CHECKPOINT_MANAGER, "16")}


def test_drain_conf_scope_restores_on_every_exit(wide_session, tmp_path):
    """Both keys read their pre-drain state after a successful drain, a
    raising batch body and a timeout; the unset key stays unset."""
    from pyspark.errors import StreamingQueryException

    spark = wide_session
    before = _conf_state(spark)
    assert before == {_SP: "16", runner.CHECKPOINT_MANAGER_KEY: None}

    out = runner.run_to_batch(
        _tiny_stream(spark, tmp_path).groupBy("k").count(), "scope_ok",
        output_mode="complete", checkpoint=str(tmp_path / "ckpt_ok"),
    )
    assert sorted(map(tuple, out.collect())) == [("k0", 4), ("k1", 4), ("k2", 4)]
    assert _conf_state(spark) == before

    def boom(_mb, _epoch):
        raise ValueError("batch body failed")

    with pytest.raises(StreamingQueryException):
        runner.drain_foreach_batch(_tiny_stream(spark, tmp_path), boom, str(tmp_path / "ckpt_err"), "boom")
    assert _conf_state(spark) == before

    def slow(_mb, _epoch):
        time.sleep(3)

    with pytest.raises(TimeoutError):
        runner.drain_foreach_batch(
            _tiny_stream(spark, tmp_path), slow, str(tmp_path / "ckpt_slow"), "slow", timeout_s=1
        )
    assert _conf_state(spark) == before
    assert not spark.streams.active


@pytest.mark.parametrize(
    "checkpoint, default_fs, local",
    [
        (None, "file:///", True),
        ("/tmp/ckpt", "file:///", True),
        ("file:///tmp/ckpt", "hdfs://nn:8020", True),
        ("hdfs://nn:8020/ckpt", "file:///", False),
        ("s3a://bucket/ckpt", "file:///", False),
        ("/tmp/ckpt", "hdfs://nn:8020", False),
        (None, "hdfs://nn:8020", False),
    ],
)
def test_checkpoint_manager_scoped_to_local_checkpoints(checkpoint, default_fs, local):
    """Only a local checkpoint gets the FileSystem-based manager; any
    other keeps Spark's default (no key set). A scheme-less location
    lives on the default file system."""
    confs = runner.checkpoint_confs(checkpoint, default_fs)
    want = {runner.CHECKPOINT_MANAGER_KEY: runner.FS_CHECKPOINT_MANAGER} if local else {}
    assert confs == want
