"""Watermarks must actually BOUND streaming state.

The 100 TB failure mode for stream-stream joins and session windows is
unbounded state growth; nothing else in the suite pins it (the gate
queries run availableNow over ONE file = one micro-batch, where state
is never pruned). Here the events table is split into chronological
files processed one per micro-batch, so the watermark advances between
batches and StreamingQueryProgress.stateOperators must show rows being
REMOVED and total state staying well below the stream's row count.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_spark.sources.tables import load_table
from mit_6_5840_mapreduce_spark.streaming.jobs import (
    attribution_from_events, sessionized_from_events,
)

N_SPLITS = 6


@pytest.fixture(scope="module")
def split_src(spark, sf_dir, tmp_path_factory):
    """events split into N_SPLITS chronological parquet files with
    ascending mtimes, so the file source (maxFilesPerTrigger=1,
    latestFirst=false) feeds them as ordered micro-batches. Written by
    Spark so timestamps stay microsecond TIMESTAMP (the streaming file
    source mis-scales nanosecond columns)."""
    out = str(tmp_path_factory.mktemp("stream_state_src"))
    from pyspark.sql.window import Window
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .withColumn("rn", F.row_number().over(
              Window.orderBy("ts", "event_id")) - 1))
    n_events = ev.count()
    chunk = (n_events + N_SPLITS - 1) // N_SPLITS
    for i in range(N_SPLITS):
        part = ev.where(F.col("rn").between(i * chunk,
                                            (i + 1) * chunk - 1)).drop("rn")
        tmp_dir = os.path.join(out, f"_tmp_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        (src_file,) = glob.glob(os.path.join(tmp_dir, "part-*.parquet"))
        dst = os.path.join(out, f"part_{i:02d}.parquet")
        shutil.move(src_file, dst)
        shutil.rmtree(tmp_dir)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return out, n_events


def _run_batched(spark, src_dir, transform, name):
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        transform(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow run timed out"
    return [p for p in q.recentProgress if p.get("stateOperators")]


def _state_totals(progresses):
    rows_total = [sum(op["numRowsTotal"] for op in p["stateOperators"])
                  for p in progresses]
    rows_removed = sum(sum(op.get("numRowsRemoved", 0)
                           for op in p["stateOperators"])
                       for p in progresses)
    return rows_total, rows_removed


def test_attribution_join_state_is_watermark_bounded(spark, split_src):
    src_dir, _n_events = split_src
    progresses = _run_batched(spark, src_dir, attribution_from_events,
                              "state_attr")
    assert len(progresses) >= N_SPLITS - 1, "expected one batch per file"
    rows_total, rows_removed = _state_totals(progresses)
    # watermark eviction actually fired...
    assert rows_removed > 0, f"join state never pruned: {rows_total}"
    # ...and end-of-stream state holds only the watermark-recent slice,
    # not the whole history of clicks+purchases
    n_join_input = sum(rows_total[:1])  # batch-1 state = one file's slice
    assert rows_total[-1] <= 3 * n_join_input, (
        f"final join state {rows_total[-1]} vs first-batch {n_join_input}: "
        f"state grows with stream length, watermark not bounding it")


def test_stream_topk_multibatch_matches_batch_rank(spark, split_src):
    """The top-k gate's claim — append mode emits each window exactly
    once, with final counts, so per-batch ranking is globally correct —
    must hold when windows finalize across SIX micro-batches, not just
    the single-batch availableNow gate run. The union of all batches'
    top-k rows must equal the batch-computed rank over finalized
    windows."""
    from pyspark.sql.window import Window

    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        STREAM_TOPK, run_topk_stream, windowed_counts_from_events,
    )
    src_dir, _ = split_src
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    hourly = windowed_counts_from_events(stream) \
        .select("hour", "event_type", "n_events")
    got = {tuple(r) for r in run_topk_stream(spark, hourly, 2).collect()}

    ev = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    wm = ev.agg(F.max("ts")).first()[0]
    final_wm = wm - __import__("datetime").timedelta(hours=1)
    w = Window.partitionBy("hour").orderBy(
        F.desc("n_events"), F.asc("event_type"))
    want = {tuple(r) for r in (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("hour") + F.expr("INTERVAL 1 HOUR") <= F.lit(final_wm))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= STREAM_TOPK)
        .select("hour", "event_type", "n_events", "rank")
    ).collect()}
    assert got == want and len(got) > 0


def test_stateful_topk_emits_once_and_evicts(spark, split_src):
    """The EventTimeTimeout form must emit each hour exactly once
    (final counts) as the watermark crosses window ends across SIX
    micro-batches, and must REMOVE timed-out state (numRowsRemoved >
    0; end-of-stream state holds only the un-finalized tail)."""
    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        topk_stateful_from_events,
    )
    src_dir, _ = split_src
    progresses = _run_batched(spark, src_dir, topk_stateful_from_events,
                              "state_topk")
    rows_total, rows_removed = _state_totals(progresses)
    assert rows_removed > 0, f"timeout never evicted state: {rows_total}"
    got = spark.table("state_topk").collect()
    hours = [r.hour for r in got if r.rank == 1]
    assert len(hours) == len(set(hours)), "an hour emitted twice"
    # final counts: rank-1 count per emitted hour equals the batch count
    ev = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    batch = {(r.hour, r.event_type): r.n for r in
             ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                        "event_type")
             .agg(F.count("*").alias("n")).collect()}
    for r in got:
        assert batch[(r.hour, r.event_type)] == r.n_events, r


def test_stateful_topk_matches_append_on_watermark_equality(
        spark, tmp_path):
    """A watermark landing EXACTLY on a window end must finalize that
    window in BOTH forms: append mode is inclusive (end <= wm) while
    EventTimeTimeout is strictly-greater — the stateful operator sets
    its timeout 1 ms early to make the rules coincide. Without that,
    this corpus (max ts exactly 1h + 1h past the window start) emits
    in append mode and NOT in the stateful twin."""
    import datetime

    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        run_stream_to_memory,
        topk_stateful_from_events,
        windowed_counts_from_events,
    )
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(1, base + datetime.timedelta(minutes=5), "a", 1.0),
            (2, base + datetime.timedelta(minutes=10), "b", 1.0),
            # wm = max ts - 1h = 11:00 = end of [10:00, 11:00) exactly
            (3, datetime.datetime(2024, 1, 1, 12, 0, 0), "c", 1.0)]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP, event_type STRING, "
              "value DOUBLE")
    src = str(tmp_path / "edge_events")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def stream():
        return (spark.readStream.schema(schema).parquet(src)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    got_append = {(r.hour, r.event_type) for r in run_stream_to_memory(
        spark, windowed_counts_from_events(stream()), "wm_eq_append", 2,
        output_mode="append").collect()}
    got_state = {(r.hour, r.event_type) for r in run_stream_to_memory(
        spark, topk_stateful_from_events(stream()), "wm_eq_state", 2,
        output_mode="append").collect()}
    assert got_append == got_state
    assert (datetime.datetime(2024, 1, 1, 10, 0), "a") in got_state


@pytest.mark.parametrize("offset_ms", [-1000, -1, 0, 1, 1000, 1_800_000])
def test_topk_forms_agree_across_window_edge_sweep(spark, tmp_path,
                                                   offset_ms):
    """Property form of the watermark-equality pin: sweep the stream's
    max event time so the watermark lands BEFORE, EXACTLY ON, and
    AFTER a window end (±1 s, ±1 ms, 0, +30 min). For every offset the
    append-mode and EventTimeTimeout top-k forms must emit the same
    window set, and the probe window [10:00, 11:00) must finalize
    exactly when append's inclusive rule (end <= wm) says so. The
    0/+1 ms cases are the ones the round-4 bug hid in (append
    inclusive vs timeout strictly-greater); the sweep pins the whole
    edge neighborhood, including an event sitting exactly ON the next
    window's start."""
    import datetime

    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        run_stream_to_memory,
        topk_stateful_from_events,
        windowed_counts_from_events,
    )
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    anchor = (datetime.datetime(2024, 1, 1, 12, 0, 0)
              + datetime.timedelta(milliseconds=offset_ms))
    rows = [(1, base + datetime.timedelta(minutes=5), "a", 1.0),
            (2, base + datetime.timedelta(minutes=10), "b", 1.0),
            # exactly ON the next window's start: belongs to [11, 12)
            (3, datetime.datetime(2024, 1, 1, 11, 0, 0), "d", 1.0),
            # wm = anchor - 1h = 11:00 + offset
            (4, anchor, "c", 1.0)]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP, event_type STRING, "
              "value DOUBLE")
    tag = f"m{abs(offset_ms)}" if offset_ms < 0 else f"p{offset_ms}"
    src = str(tmp_path / f"edge_events_{tag}")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def stream():
        return (spark.readStream.schema(schema).parquet(src)
                .withColumn("ts", F.col("ts").cast("timestamp")))

    got_append = {(r.hour, r.event_type) for r in run_stream_to_memory(
        spark, windowed_counts_from_events(stream()),
        f"edge_sweep_append_{tag}", 2,
        output_mode="append").collect()}
    got_state = {(r.hour, r.event_type) for r in run_stream_to_memory(
        spark, topk_stateful_from_events(stream()),
        f"edge_sweep_state_{tag}", 2,
        output_mode="append").collect()}
    assert got_append == got_state, (
        f"forms diverge at offset {offset_ms} ms")
    probe = (datetime.datetime(2024, 1, 1, 10, 0), "a")
    if offset_ms >= 0:       # end (11:00) <= wm (11:00 + offset)
        assert probe in got_state
        # [11:00, 12:00) holds the boundary event d; it finalizes only
        # when 12:00 <= 11:00 + offset, never within this sweep
        assert all(h != datetime.datetime(2024, 1, 1, 11, 0)
                   for h, _ in got_state)
    else:
        assert probe not in got_state


def test_session_window_state_is_watermark_bounded(spark, split_src):
    src_dir, n_events = split_src
    progresses = _run_batched(spark, src_dir, sessionized_from_events,
                              "state_sess")
    assert len(progresses) >= N_SPLITS - 1
    rows_total, rows_removed = _state_totals(progresses)
    assert rows_removed > 0, f"session state never pruned: {rows_total}"
    # open-session state must stay far below the total event count
    assert rows_total[-1] < n_events / 2, (
        f"final session state {rows_total[-1]} of {n_events} events: "
        f"closed sessions are not being evicted")


def test_running_totals_last_ts_monotone_across_batches(spark,
                                                        tmp_path_factory):
    """r10 review: last_ts was emitted from the CURRENT batch only, so
    a late out-of-order batch made it regress below the user's true
    latest. It is now carried in state: the second emission (n=2) must
    report the FIRST batch's newer timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path_factory.mktemp("totals_ooo_src"))
    t0 = 1_700_000_000_000_000  # us
    batches = [
        [(1, (t0 + 3600 * 10**6), 7, "click", 1.0)],     # 13:00-ish
        [(2, t0, 7, "click", 2.0)],                      # LATE: 12:00-ish
    ]
    for i, rows in enumerate(batches):
        eid, ts, uid, et, val = zip(*rows)
        pq.write_table(pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array(list(ts), pa.timestamp("us")),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(list(et)),
            "value": pa.array(val),
            "props": pa.array(["{}"] * len(rows)),
        }), os.path.join(src, f"b{i}.parquet"))
        os.utime(os.path.join(src, f"b{i}.parquet"),
                 (1_700_000_000 + i * 60,) * 2)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("latestFirst", "false")
              .parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    from mit_6_5840_mapreduce_spark.streaming.jobs import _memq
    name = _memq("totals_ooo")
    # build the stateful transform directly over the batched stream
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        _STATE_SCHEMA, _TOTALS_SCHEMA, _update_totals,
    )
    out = (stream.select("user_id", "ts", "value")
           .groupBy("user_id")
           .applyInPandasWithState(
               _update_totals, outputStructType=_TOTALS_SCHEMA,
               stateStructType=_STATE_SCHEMA, outputMode="update",
               timeoutConf=GroupStateTimeout.NoTimeout))
    query = (out.writeStream.format("memory").queryName(name)
             .outputMode("update").trigger(availableNow=True).start())
    query.awaitTermination(120)
    rows = {r.n_events: r for r in spark.table(name).collect()}
    spark.catalog.dropTempView(name)
    assert set(rows) == {1, 2}
    # both emissions report the TRUE latest (13:00), the late batch's
    # older event must not regress it
    assert rows[2].last_ts == rows[1].last_ts
    assert rows[2].total_value_cents == 300
