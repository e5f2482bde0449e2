"""Structured Streaming jobs vs their batch equivalents: an availableNow
run over the full events file must reproduce the batch query results."""

from __future__ import annotations

import os

import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_spark.operators.events import (
    events_hourly, sessionize, user_stats,
)
from mit_6_5840_mapreduce_spark.streaming.jobs import (
    STREAM_PART_TARGET_BYTES,
    STREAM_PARTS_PER_CORE,
    click_purchase_attribution_batch,
    click_purchase_attribution_stream,
    read_events_stream,
    run_stream_to_memory,
    sessionized_stream,
    stream_shuffle_partitions,
    user_running_totals_stream,
    windowed_counts_from_events,
    windowed_counts_stream,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_counts_match_batch(spark, sf_dir):
    got = run_stream_to_memory(
        spark, windowed_counts_stream(spark, sf_dir), "win_counts",
        stream_shuffle_partitions(spark, sf_dir))
    want = events_hourly(spark, sf_dir).select(
        "hour", "event_type", "n_events", "sum_value")
    cols = ["hour", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sessionized_stream_matches_batch(spark, sf_dir):
    got = run_stream_to_memory(
        spark, sessionized_stream(spark, sf_dir), "sessions",
        stream_shuffle_partitions(spark, sf_dir))
    want = sessionize(spark, sf_dir).select(
        "user_id", "session_start", "session_end", "n_events", "sum_value")
    cols = ["user_id", "session_start", "session_end",
            "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_attribution_matches_batch(spark, sf_dir):
    got = run_stream_to_memory(
        spark, click_purchase_attribution_stream(spark, sf_dir),
        "attribution", stream_shuffle_partitions(spark, sf_dir),
        output_mode="append")
    want = click_purchase_attribution_batch(spark, sf_dir)
    cols = ["purchase_id", "user_id", "click_id"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0   # the join actually fires on this corpus


def test_user_running_totals_final_state(spark, sf_dir):
    """After consuming the whole stream, each user's last update must equal
    the batch per-user totals (cents-exact)."""
    got = run_stream_to_memory(
        spark, user_running_totals_stream(spark, sf_dir), "totals",
        stream_shuffle_partitions(spark, sf_dir), output_mode="update")
    # update mode may emit one row per micro-batch per user; take the last
    # (availableNow on a single file -> single batch, but don't assume)
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("total_value_cents").alias("cents"))
    )
    want = user_stats(spark, sf_dir).select(
        "user_id", "n_events",
        (F.round(F.col("sum_value") * 100)).cast("long").alias("cents"))
    cols = ["user_id", "n_events", "cents"]
    assert _rows(final, cols) == _rows(want, cols)


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        deduped_events_stream,
    )
    from mit_6_5840_mapreduce_spark.sources.tables import load_table
    got = run_stream_to_memory(
        spark, deduped_events_stream(spark, sf_dir), "dedup_stream",
        stream_shuffle_partitions(spark, sf_dir), output_mode="append")
    want = load_table(spark, sf_dir, "events").dropDuplicates(["event_id"])
    assert got.count() == want.count()
    assert _rows(got, ["event_id"]) == _rows(
        want.select("event_id"), ["event_id"])


def test_stream_dedup_drops_actual_duplicates(spark, sf_dir):
    """Self-union doubles every event; the deduped stream must still
    produce each event_id exactly once."""
    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        _dedup_within_watermark, read_events_stream,
    )
    ev = read_events_stream(spark, sf_dir)
    got = run_stream_to_memory(
        spark, _dedup_within_watermark(ev.unionAll(ev)), "dedup_union",
        stream_shuffle_partitions(spark, sf_dir), output_mode="append")
    n_ids = got.select("event_id").distinct().count()
    assert got.count() == n_ids


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """availableNow stream through foreachBatch must land every event in
    parquet exactly once, tagged with its micro-batch id."""
    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        read_events_stream, run_stream_to_parquet,
    )
    from mit_6_5840_mapreduce_spark.sources.tables import load_table
    out = str(tmp_path / "events_sink")
    ev = read_events_stream(spark, sf_dir).select("event_id", "user_id")
    run_stream_to_parquet(spark, ev, out,
                          stream_shuffle_partitions(spark, sf_dir))
    got = spark.read.parquet(out)
    want = load_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    assert got.select("event_id").distinct().count() == want.count()
    assert "batch_id" in got.columns


def test_checkpoint_resume_processes_nothing_new(spark, sf_dir, tmp_path):
    """Exactly-once resume: a second availableNow run against the SAME
    checkpoint must find the source exhausted and append zero rows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    from mit_6_5840_mapreduce_spark.streaming.jobs import read_events_stream

    def run_once():
        ev = read_events_stream(spark, sf_dir).select("event_id", "user_id")
        q = (ev.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "availableNow run timed out"

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()
    n2 = spark.read.parquet(out).count()
    assert n1 > 0 and n2 == n1


def test_sql_registered_pandas_udf(spark, sf_dir):
    """spark.udf.register exposes a vectorized pandas UDF to the SQL
    surface (the reference loads its UDFs from compiled plugins —
    SURVEY §2.1 row 17; this is the engine's SQL-callable equivalent)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # this file uses `from __future__ import annotations`, which turns
    # hints into strings pandas_udf can't infer — exec builds the fn
    # with real annotation objects
    ns: dict = {"pd": pd}
    exec("def _tc(s: pd.Series) -> pd.Series:\n"
         "    return s.str.count(r'[^\\W\\d_]+')", ns, ns)
    token_count = pandas_udf(ns["_tc"], "long")
    spark.udf.register("token_count", token_count)
    from mit_6_5840_mapreduce_spark.sources.tables import register_views
    register_views(spark, sf_dir)
    got = spark.sql(
        "SELECT sum(token_count(text)) AS total FROM documents").collect()
    assert got[0].total > 0


def test_stream_failure_injection_exactly_once(spark, sf_dir, tmp_path):
    """Streaming twin of the batch retry-determinism test (VERDICT r5
    item 7): an availableNow run killed mid-stream — a fault injected
    BEFORE the sink write of micro-batch 1, after batch 0 committed —
    then restarted from the SAME checkpoint must land exactly the rows
    of an uninterrupted control run: the planned-but-uncommitted batch
    replays with identical offsets, nothing is lost, nothing doubles.
    The source is split into 8 files with maxFilesPerTrigger=2 so the
    run genuinely spans multiple micro-batches."""
    from pyspark.errors import StreamingQueryException

    from mit_6_5840_mapreduce_spark.sources.tables import load_table

    src = str(tmp_path / "src")
    (load_table(spark, sf_dir, "events").select("event_id", "user_id")
     .repartition(8).write.parquet(src))
    schema = spark.read.parquet(src).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "2").parquet(src))

    out_f = str(tmp_path / "out_fault")
    ck_f = str(tmp_path / "ck_fault")
    boom = {"armed": True}

    def write_fault(bdf, bid):
        if boom["armed"] and bid == 1:
            boom["armed"] = False
            raise RuntimeError("injected failure before batch 1 write")
        bdf.write.mode("append").parquet(out_f)

    q = (stream().writeStream.foreachBatch(write_fault)
         .option("checkpointLocation", ck_f)
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="injected failure"):
        q.awaitTermination(120)

    q2 = (stream().writeStream.foreachBatch(write_fault)
          .option("checkpointLocation", ck_f)
          .trigger(availableNow=True).start())
    assert q2.awaitTermination(120), "restarted run timed out"

    out_c = str(tmp_path / "out_ctrl")
    ck_c = str(tmp_path / "ck_ctrl")

    def write_ctrl(bdf, bid):
        bdf.write.mode("append").parquet(out_c)

    q3 = (stream().writeStream.foreachBatch(write_ctrl)
          .option("checkpointLocation", ck_c)
          .trigger(availableNow=True).start())
    assert q3.awaitTermination(120), "control run timed out"

    got = sorted(map(tuple, spark.read.parquet(out_f).collect()))
    want = sorted(map(tuple, spark.read.parquet(out_c).collect()))
    assert got == want and len(got) > 0


def test_runner_restores_session_shuffle_partitions(spark, sf_dir):
    """The runner pins spark.sql.shuffle.partitions only while its query
    runs: the session value comes back after a finished stream and after
    a failing one."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "3"
    ev = read_events_stream(spark, sf_dir)
    got = run_stream_to_memory(
        spark, windowed_counts_from_events(ev), "pin_ok", 3)
    assert got.count() > 0
    assert spark.conf.get(key) == before

    bad = ev.select(F.raise_error(F.lit("injected stream failure"))
                    .cast("string").alias("x"))
    with pytest.raises(StreamingQueryException,
                       match="injected stream failure"):
        run_stream_to_memory(spark, bad, "pin_fail", 3,
                             output_mode="append")
    assert spark.conf.get(key) == before


def test_stream_partitions_floor_and_cap(spark, sf_dir, tmp_path):
    """One state partition per STREAM_PART_TARGET_BYTES of events input,
    floored at 2 and capped at STREAM_PARTS_PER_CORE x cores. Sizes come
    from the file system, so sparse files stand in for large inputs."""
    assert (os.path.getsize(os.path.join(sf_dir, "events.parquet"))
            < STREAM_PART_TARGET_BYTES)
    assert stream_shuffle_partitions(spark, sf_dir) == 2

    def sized(name: str, size: int) -> str:
        d = tmp_path / name
        d.mkdir()
        with open(d / "events.parquet", "wb"):
            pass
        os.truncate(d / "events.parquet", size)
        return str(d)

    assert stream_shuffle_partitions(
        spark, sized("mid", 3 * STREAM_PART_TARGET_BYTES + 1)) == 4
    cap = STREAM_PARTS_PER_CORE * spark.sparkContext.defaultParallelism
    assert stream_shuffle_partitions(
        spark, sized("big", 1 << 36)) == cap
