"""Structured Streaming surface over the ``events`` stream.

The reference is purely batch (SURVEY.md §2.4: no watermarks, windows, or
stateful ops anywhere); this module is the north-star streaming extension,
built on standard Structured Streaming so the same logical queries as
operators/events.py run incrementally:

- ``windowed_counts_stream``  — tumbling 1-hour aggregates + 1h watermark
  (late data beyond the watermark is dropped, the batch-equivalent rows
  are finalized at watermark passage)
- ``sessionized_stream``      — gap-based sessions via ``session_window``
  (the streaming twin of operators/events.sessionize)
- ``user_running_totals_stream`` — custom per-key state with
  ``applyInPandasWithState`` (running event count + value sum per user,
  emitted on every update)

Scale design: state is keyed by (window x type) / user_id — bounded by
key cardinality, pruned by watermark; ``availableNow`` triggers give
batch-backfill semantics with the same code. File-source streams shard by
file listing; on a cluster the same jobs read Kafka by swapping the
source, nothing else changes.

Environment note: Spark 4's next-gen stateful API
(``transformWithStateInPandas`` / ``StatefulProcessor``) is present in
this PySpark build but UNUSABLE in this container — its state-server
protocol requires ``google.protobuf``, which is not installed (verified:
the TWS driver worker crashes with ``ImportError: cannot import name
'descriptor' from 'google.protobuf'``; no pip installs permitted). The
custom-stateful surface is therefore covered by
``applyInPandasWithState`` (running totals, and the event-time-timeout
ranked state in ``stream_topk_stateful``); porting those processors to
the TWS API is mechanical once protobuf exists.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StructField, StructType, TimestampType,
)

from mit_6_5840_mapreduce_spark.functions.numeric import (
    duckdb_exact_round_sum as _ers, exact_round_sum)
from mit_6_5840_mapreduce_spark.sources.tables import load_table


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet (schema from the batch
    reader, including the nanos->ntz timestamp normalization)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")).schema
    # the file source requires a DIRECTORY; stream the sf dir with a glob
    # filter so only the events file matches
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # TIMESTAMP (ltz), not NTZ: watermarks require it; session TZ is UTC
    # so values align with the batch layer's TIMESTAMP_NTZ.
    from mit_6_5840_mapreduce_spark.sources.tables import normalize_event_ts
    return normalize_event_ts(stream, target="timestamp")


def windowed_counts_from_events(ev: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed aggregation transform (shared by the
    single-source query and the multi-micro-batch tests)."""
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"),
             exact_round_sum(F.col("value")).alias("sum_value"))
        .select(F.col("win.start").alias("hour"), "event_type",
                "n_events", "sum_value")
    )


def windowed_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with a 1-hour watermark."""
    return windowed_counts_from_events(read_events_stream(spark, sf_dir))


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows advancing hourly (each event lands in two
    overlapping windows) — the third canonical window type next to
    tumbling and session. State per (window x type), pruned by the
    watermark as windows close."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"),
                 "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type",
                "n_events")
    )


def sessionized_from_events(ev: DataFrame) -> DataFrame:
    """Gap-based sessionization transform shared by the query and the
    state-metrics tests (which feed a multi-micro-batch source)."""
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"),
                 "user_id")
        .agg(F.count("*").alias("n_events"),
             exact_round_sum(F.col("value")).alias("sum_value"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .select("user_id", "session_start", "session_end",
                "n_events", "sum_value")
    )


def sessionized_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via
    session_window — the streaming form of operators/events.sessionize."""
    return sessionized_from_events(read_events_stream(spark, sf_dir))


_TOTALS_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value_cents", LongType()),
    StructField("last_ts", TimestampType()),
])
_STATE_SCHEMA = StructType([
    StructField("n_events", LongType()),
    StructField("total_value_cents", LongType()),
    # last event time carried as integer MICROSECONDS (r10 review: the
    # emitted last_ts previously reflected only the CURRENT batch, so
    # an out-of-order later batch made it regress below the user's
    # true latest, and an empty Arrow chunk could poison it to NaT)
    StructField("last_ts_us", LongType()),
])


def _update_totals(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Running per-user totals; value tracked in integer cents so state
    never accumulates float error, and the latest event time carried in
    state as integer microseconds so it is monotone across
    micro-batches regardless of arrival order."""
    (user_id,) = key
    if state.exists:
        n, cents, last_us = state.get
    else:
        n, cents, last_us = 0, 0, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue          # empty chunk: max() would be NaT
        n += len(pdf)
        # per-ROW cents then integer sum (round 7): exact at any batch
        # size, where rounding one float batch-sum could drift
        cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        batch_us = int(pdf["ts"].max().value // 1000)
        last_us = batch_us if last_us is None else max(last_us, batch_us)
    state.update((n, cents, last_us))
    yield pd.DataFrame({
        "user_id": [user_id],
        "n_events": [n],
        "total_value_cents": [cents],
        "last_ts": [pd.Timestamp(last_us * 1000)
                    if last_us is not None else pd.NaT],
    })


def user_running_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running totals emitted on every
    micro-batch via applyInPandasWithState (Arrow-batched, keyed state)."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _dedup_within_watermark(ev: DataFrame) -> DataFrame:
    """Exact-dedup transform shared by the query and its tests."""
    return (
        ev.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


def deduped_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication on event_id via
    dropDuplicatesWithinWatermark: state keeps only ids younger than the
    watermark, so memory is bounded by arrival rate x watermark delay
    instead of stream lifetime — the unbounded-scale form of
    operators/dedup.dedup_exact (its batch twin is dropDuplicates)."""
    return _dedup_within_watermark(read_events_stream(spark, sf_dir))


ATTRIBUTION_WINDOW_MIN = 60


def attribution_from_events(ev: DataFrame) -> DataFrame:
    """Stream-stream interval-join transform shared by the query and the
    state-metrics tests (which feed a multi-micro-batch source)."""
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"))
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        F.expr(f"""
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES
        """),
    ).select("purchase_id", F.col("p_user").alias("user_id"),
             "purchase_ts", "click_id", "click_ts", "purchase_value")


def click_purchase_attribution_stream(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks within the preceding hour. Watermarks on BOTH sides
    bound the join state (clicks older than purchase-watermark minus the
    interval are dropped from state) — the canonical attribution join at
    unbounded scale."""
    return attribution_from_events(read_events_stream(spark, sf_dir))


def click_purchase_attribution_batch(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join (same logical
    query on the static table; used as the oracle for the stream)."""
    ev = load_table(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"))
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")),
    ).select("purchase_id", F.col("p_user").alias("user_id"),
             "purchase_ts", "click_id", "click_ts", "purchase_value")


# ---- Scale-adaptive streaming state partitioning (r14) -------------------
# A stateful streaming query pins spark.sql.shuffle.partitions at first
# start as its STATE partition count, and streaming is exempt from AQE
# coalescing — so the session's batch-oriented constant (one per core)
# made every micro-batch commit one state-store delta file per partition
# per stateful operator (a stream-stream join keeps 4 stores per
# partition), dominating availableNow wall time at small inputs and
# undersizing state at 100 TB. Derive the count from the SOURCE's
# on-disk size instead (guide §2.2 "size partitions to the data, not the
# host"): one partition per STREAM_PART_TARGET_BYTES of input, floored
# at 2 (parallel state commit even at toy scale), capped at
# STREAM_PARTS_PER_CORE x cores (the sizing a long-running deployment
# would pin so state redistribution headroom exists). Partition count
# never changes RESULTS — grouping/join keys are logical — only where
# state lives.

STREAM_PART_TARGET_BYTES = 32 << 20
STREAM_PARTS_PER_CORE = 4
STREAM_TIMEOUT_SEC = 120


def stream_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Input-size-derived shuffle/state partition count for the
    availableNow streaming queries over ``sf_dir``'s events source."""
    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path))
        else:
            size = os.stat(path).st_size
    except OSError:
        size = 0
    cap = STREAM_PARTS_PER_CORE * spark.sparkContext.defaultParallelism
    return max(2, min(cap, -(-size // STREAM_PART_TARGET_BYTES)))


def _drain(spark: SparkSession, writer: DataStreamWriter, n_parts: int,
           what: str) -> None:
    """Run ``writer`` availableNow (consume all input, then stop) with
    spark.sql.shuffle.partitions pinned to ``n_parts``, restoring the
    session value afterwards. The pin spans start AND await: the query
    captures it at start as its state partition count, and foreachBatch
    bodies (the CDC merge) plan their batch joins under it.

    The query must FINISH inside STREAM_TIMEOUT_SEC: a silent timeout
    would hand back a partial sink (and leave the query running against
    a scratch dir a later scratch_dir() call would rmtree). The stop is
    bounded (spark.sql.streaming.stopTimeout, session.py — the default 0
    waits forever on a wedged micro-batch) and best-effort: the timeout
    is the error to surface, never a stop failure."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(STREAM_TIMEOUT_SEC):
            try:
                q.stop()
            except Exception:
                pass
            raise RuntimeError(
                f"{what}: availableNow query did not terminate within "
                f"{STREAM_TIMEOUT_SEC}s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _read_sink(spark: SparkSession, out_dir: str, schema: str) -> DataFrame:
    """Read a foreachBatch parquet sink back as ``schema``'s columns, or
    an empty frame of ``schema`` when no batch committed (an empty
    stream never calls the batch function)."""
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out_dir).select(
        StructType.fromDDL(schema).fieldNames())


def run_stream_to_memory(spark: SparkSession, df: DataFrame, name: str,
                         n_parts: int,
                         output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame with an availableNow trigger into a
    memory sink; returns the materialized result table."""
    _drain(spark, df.writeStream.format("memory").queryName(name)
           .outputMode(output_mode), n_parts, f"stream->memory[{name}]")
    return spark.table(name)


def run_stream_to_parquet(spark: SparkSession, df: DataFrame, out_dir: str,
                          n_parts: int) -> None:
    """Execute a streaming DataFrame availableNow through foreachBatch
    into parquet — the pattern for sinks Structured Streaming doesn't
    ship natively (upserts, JDBC, multi-table writes): each micro-batch
    arrives as a plain DataFrame with a monotonically increasing
    batch_id. The batch_id column is WRITTEN so a consumer can
    implement idempotent commits, but this test sink itself APPENDS —
    a retried micro-batch would duplicate its rows here; a production
    deployment must overwrite/skip by batch_id (the versioned-snapshot
    merge in run_cdc_upsert_stream shows the overwrite form)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    _drain(spark, df.writeStream.foreachBatch(write_batch), n_parts,
           "stream->parquet")


# ---- Driver-gate surface --------------------------------------------------
# Each streaming job also ships as a batch-materialized query: run the
# stream availableNow into a memory sink and return the result table, so
# the DuckDB differential gate checks STREAMING results, not just their
# batch twins. Memory-sink names are uniqued per call (rerunning a stopped
# query under the same name is an error).

import uuid


def _memq(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        spark, windowed_counts_stream(spark, sf_dir), _memq("hourly"),
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        spark, sliding_counts_stream(spark, sf_dir), _memq("sliding"),
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup over a source with REAL duplicates:
    the events file is planted twice in a temp source dir, so every
    event_id arrives twice and the oracle (one row per event) only
    passes if dropDuplicatesWithinWatermark actually drops — identity
    would return 2x rows and fail the gate."""
    import shutil

    from mit_6_5840_mapreduce_spark.sources.scratch import scratch_dir
    src = os.path.join(sf_dir, "events.parquet")
    tmp = scratch_dir("stream_dedup_src")
    shutil.copy(src, os.path.join(tmp, "events_a.parquet"))
    shutil.copy(src, os.path.join(tmp, "events_b.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from mit_6_5840_mapreduce_spark.sources.tables import normalize_event_ts
    raw_schema = spark.read.parquet(src).schema
    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(tmp),
        target="timestamp")
    return run_stream_to_memory(
        spark, _dedup_within_watermark(stream), _memq("dedup"),
        output_mode="append",
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    got = run_stream_to_memory(
        spark, user_running_totals_stream(spark, sf_dir), _memq("totals"),
        output_mode="update",
        n_parts=stream_shuffle_partitions(spark, sf_dir))
    # update mode emits one row per user per micro-batch; keep the FINAL
    # state row. n_events strictly increases across a user's emissions
    # (the operator is only invoked for keys with >= 1 row in the
    # batch), so max_by(n_events) selects it deterministically — unlike
    # independent per-column max(), which fabricates a never-emitted
    # (n, cents) pair whenever a later batch carries a negative value
    # (r10 review; corpus values are non-negative, but the selection
    # rule should not depend on that)
    return got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value_cents", "n_events")
         .alias("total_value_cents"))


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via session_window, materialized
    availableNow — the streaming twin of operators/events.sessionize.
    Boundary semantics: session_window treats an event arriving EXACTLY
    at the gap boundary as a new session (windows are half-open), so
    the oracle splits on gap >= 30 min, where the batch twin (which
    flags gap > 30 min) differs only on exact-boundary gaps."""
    return run_stream_to_memory(
        spark, sessionized_stream(spark, sf_dir), _memq("sess"),
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase <- same-user clicks in the
    preceding hour) materialized availableNow; dual watermarks bound the
    join state. Oracle = the same interval join in plain SQL."""
    return run_stream_to_memory(
        spark, click_purchase_attribution_stream(spark, sf_dir),
        _memq("attr"), output_mode="append",
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def stream_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: enrich the event stream with the customer
    dimension (the stateless enrichment every streaming pipeline starts
    with; no watermark needed because the static side never changes),
    aggregated per market segment so the gate result is compact. The
    join is UNHINTED (r7 policy, docs/SCALE.md): customer grows with
    SF, and the static side is re-planned per micro-batch, so CBO
    broadcasts it while small and shuffle-joins when it no longer
    fits an executor."""
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = ev.join(cust, "user_id")
    agg = (
        enriched.groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"),
             exact_round_sum(F.col("value")).alias("sum_value"))
    )
    return run_stream_to_memory(
        spark, agg, _memq("enriched"),
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def stream_foreachbatch_roundtrip(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming SINK certification: run the watermarked hourly
    aggregation availableNow through the foreachBatch parquet sink
    (the pattern for sinks Structured Streaming doesn't ship natively)
    and read the committed files back — the gate result only matches
    the batch oracle if the sink wrote exactly the finalized rows."""
    from mit_6_5840_mapreduce_spark.sources.scratch import scratch_dir
    out = os.path.join(scratch_dir("stream_fb"), "hourly")
    run_stream_to_parquet(spark, windowed_counts_stream(spark, sf_dir),
                          out, stream_shuffle_partitions(spark, sf_dir))
    return _read_sink(
        spark, out, "hour TIMESTAMP, event_type STRING, n_events BIGINT, "
                    "sum_value DOUBLE")


STREAM_TOPK = 3
_TOPK_OUT = ("hour TIMESTAMP, event_type STRING, n_events BIGINT, "
             "rank INT")


def stream_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the STREAM_TOPK most frequent event types per
    hour, under watermark. Structured Streaming cannot rank an unbounded
    aggregate (no sort on streams), so this is the canonical foreachBatch
    pattern in its BOUNDED-STATE form: the watermarked hourly aggregate
    runs in APPEND mode — each window is emitted exactly once, with its
    final counts, in the micro-batch where the watermark finalizes it —
    and foreachBatch ranks within the finalized windows it receives and
    appends. Ranking per hour is correct because a window never spans
    two emissions; state stays watermark-bounded (the complete-mode
    variant of this pattern retains every window forever).

    Deterministic ties: row_number ordered by (n_events DESC,
    event_type ASC). The oracle mirrors the append-mode finalization
    rule (windows whose end has passed max ts - 1h) + the same rank;
    the multi-micro-batch emission invariant is pinned by
    tests/test_stream_state.py."""
    agg = windowed_counts_stream(spark, sf_dir) \
        .select("hour", "event_type", "n_events")
    return run_topk_stream(spark, agg,
                           stream_shuffle_partitions(spark, sf_dir))


def run_topk_stream(spark: SparkSession, hourly: DataFrame,
                    n_parts: int) -> DataFrame:
    """Execute the append-mode hourly aggregate through the ranking
    foreachBatch sink and read the committed top-k back (shared by the
    gate query and the multi-micro-batch test)."""
    from pyspark.sql.window import Window as W

    from mit_6_5840_mapreduce_spark.sources.scratch import scratch_dir
    out = os.path.join(scratch_dir("stream_topk"), "topk")

    def write_topk(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("hour").orderBy(
            F.desc("n_events"), F.asc("event_type"))
        (batch_df.withColumn("rank", F.row_number().over(w))
         .where(F.col("rank") <= STREAM_TOPK)
         .select("hour", "event_type", "n_events", "rank")
         .write.mode("append").parquet(out))

    _drain(spark, hourly.writeStream.foreachBatch(write_topk)
           .outputMode("append"), n_parts, "stream_topk")
    return _read_sink(spark, out, _TOPK_OUT)


_TOPK_STATE = "types ARRAY<STRING>, counts ARRAY<LONG>"


def _topk_update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-hour ranked state: accumulate event-type counts across
    micro-batches; when the event-time timeout fires (watermark passed
    the window end), emit the final top-STREAM_TOPK and REMOVE the
    state — manual watermark eviction, the custom-stateful mirror of
    append-mode window finalization."""
    import datetime
    (hour,) = key
    if state.hasTimedOut:
        types, counts = state.get
        state.remove()
        pairs = sorted(zip(types, counts),
                       key=lambda t: (-t[1], t[0]))[:STREAM_TOPK]
        yield pd.DataFrame({
            "hour": [hour] * len(pairs),
            "event_type": [t for t, _ in pairs],
            "n_events": [c for _, c in pairs],
            "rank": list(range(1, len(pairs) + 1)),
        })
        return
    acc = dict(zip(*state.get)) if state.exists else {}
    for pdf in pdfs:
        for t, c in pdf.groupby("event_type").size().items():
            acc[t] = acc.get(t, 0) + int(c)
    ks = sorted(acc)
    state.update((ks, [acc[k] for k in ks]))
    # Fire when the watermark REACHES the window end. The timeout rule
    # is strictly-greater (wm > ts), while append-mode finalization is
    # inclusive (end <= wm) — a watermark landing EXACTLY on the end
    # would emit in append mode but not here. Setting the timestamp
    # 1 ms before the end makes the two rules coincide at the
    # watermark's ms resolution (wm > end-1ms  <=>  wm >= end);
    # verified by the equality-edge test in tests/test_stream_state.py.
    # The key arrives as a tz-NAIVE datetime in the UTC session TZ —
    # pin UTC explicitly before epoch conversion: bare .timestamp()
    # would read it in the PYTHON WORKER's local zone, silently
    # shifting every timeout on a non-UTC cluster.
    end = (hour + datetime.timedelta(hours=1)).replace(
        tzinfo=datetime.timezone.utc)
    state.setTimeoutTimestamp(int(end.timestamp() * 1000) - 1)
    return
    yield  # pragma: no cover — makes this a generator on every path


def topk_stateful_from_events(ev: DataFrame) -> DataFrame:
    """Transform shared by the gate query and the multi-micro-batch
    state test."""
    return (
        ev.withWatermark("ts", "1 hour")
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour")
        .applyInPandasWithState(
            _topk_update,
            outputStructType=_TOPK_OUT,
            stateStructType=_TOPK_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_topk_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom-stateful twin of ``stream_topk_event_types``: ranked
    per-hour state held in ``applyInPandasWithState`` and evicted by an
    EVENT-TIME TIMEOUT — the operator emits each hour's final top-k
    exactly once, when the watermark passes the window end, and frees
    the state in the same invocation. Contrast with the foreachBatch
    form, which leans on Spark's built-in append-mode finalization;
    here the eviction rule is explicit user code — the pattern for
    ranked/sketch state Spark has no built-in aggregate for. Both
    forms share one oracle (the append-mode finalization rule + the
    deterministic rank), so their equivalence is value-checked."""
    return run_stream_to_memory(
        spark, topk_stateful_from_events(read_events_stream(spark, sf_dir)),
        _memq("topkstate"), output_mode="append",
        n_parts=stream_shuffle_partitions(spark, sf_dir))


def run_cdc_upsert_stream(spark: SparkSession, changelog: DataFrame,
                          customer: DataFrame, n_parts: int) -> DataFrame:
    """Execute a CDC changelog stream through a VERSIONED-SNAPSHOT
    foreachBatch merge (shared by the gate query and the multi-batch
    test). Batch N reads snapshot v{N} and writes v{N+1}, so a retried
    micro-batch simply overwrites its own output — the idempotent-sink
    discipline foreachBatch requires. The snapshot carries each key's
    op + FULL sequence (ts, event_id, event_type, value) as a TOMBSTONE
    column instead of physically deleting, so a late-arriving older
    upsert in a later micro-batch can never resurrect a deleted key:
    latest-wins is decided by sequence comparison over the SAME
    four-column ordering the per-batch max-struct and the shared
    cdc_apply oracle use (r10 review: comparing only (ts, event_id)
    cross-batch made the winner on a full sequence tie depend on the
    batch split), which makes the merge independent of how the
    changelog is split into batches even without an event_id
    uniqueness assumption.

    Scale: each micro-batch is one hash-aggregate (latest-per-key,
    partial map-side) + one co-partitioned full-outer merge join
    against the snapshot — the same plan shape as the batch
    ``cdc_apply``, applied incrementally.
    """
    from mit_6_5840_mapreduce_spark.sources.scratch import scratch_dir
    root = scratch_dir("stream_cdc")
    base = customer.select(
        "c_custkey", "c_name", "c_nationkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit(True).alias("base"),
        F.lit(None).cast("string").alias("op"),
        F.lit(None).cast("timestamp").alias("seq_ts"),
        F.lit(None).cast("bigint").alias("seq_eid"),
        F.lit(None).cast("string").alias("seq_type"),
        F.lit(None).cast("double").alias("seq_val"))
    base.write.mode("overwrite").parquet(os.path.join(root, "v0"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        snap = spark.read.parquet(os.path.join(root, f"v{batch_id}"))
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type", "value"))
                 .alias("l"))
            .select(
                F.col("user_id").alias("key"),
                F.when(F.col("l.event_type") == "error", F.lit("D"))
                 .otherwise(F.lit("U")).alias("l_op"),
                F.col("l.value").alias("new_bal"),
                F.upper(F.col("l.event_type")).alias("new_seg"),
                F.col("l.ts").alias("l_ts"),
                F.col("l.event_id").alias("l_eid"),
                F.col("l.event_type").alias("l_type"),
                F.col("l.value").alias("l_val")))
        m = snap.join(latest, snap.c_custkey == latest.key, "full_outer")
        # the batch entry wins iff the key is in this batch AND its
        # sequence beats the stored one (base rows have NULL = -inf)
        newer = F.col("key").isNotNull() & (
            F.col("seq_ts").isNull()
            | (F.struct(F.col("l_ts"), F.col("l_eid"),
                        F.col("l_type"), F.col("l_val"))
               > F.struct(F.col("seq_ts"), F.col("seq_eid"),
                          F.col("seq_type"), F.col("seq_val"))))
        upsert = newer & (F.col("l_op") == "U")
        merged = m.select(
            F.coalesce("c_custkey", "key").alias("c_custkey"),
            F.coalesce("c_name", F.lit("cdc-insert")).alias("c_name"),
            F.coalesce(F.col("c_nationkey"), F.lit(-1)).cast("int")
                .alias("c_nationkey"),
            F.when(upsert, F.col("new_bal")).otherwise(F.col("acctbal"))
                .alias("acctbal"),
            F.when(upsert, F.col("new_seg")).otherwise(F.col("mktsegment"))
                .alias("mktsegment"),
            F.coalesce("base", F.lit(False)).alias("base"),
            F.when(newer, F.col("l_op")).otherwise(F.col("op")).alias("op"),
            F.when(newer, F.col("l_ts")).otherwise(F.col("seq_ts"))
                .alias("seq_ts"),
            F.when(newer, F.col("l_eid")).otherwise(F.col("seq_eid"))
                .alias("seq_eid"),
            F.when(newer, F.col("l_type")).otherwise(F.col("seq_type"))
                .alias("seq_type"),
            F.when(newer, F.col("l_val")).otherwise(F.col("seq_val"))
                .alias("seq_val"))
        merged.write.mode("overwrite").parquet(
            os.path.join(root, f"v{batch_id + 1}"))

    _drain(spark, changelog.writeStream.foreachBatch(merge_batch), n_parts,
           "stream_cdc_upsert")
    versions = sorted(
        int(os.path.basename(p)[1:])
        for p in glob.glob(os.path.join(root, "v*")))
    final = spark.read.parquet(os.path.join(root, f"v{versions[-1]}"))
    return (
        final.where(F.col("op").isNull() | (F.col("op") == "U"))
        .select(
            "c_custkey", "c_name", "c_nationkey", "acctbal", "mktsegment",
            F.when(F.col("op").isNull(), F.lit("keep"))
             .when(~F.col("base"), F.lit("insert"))
             .otherwise(F.lit("update")).alias("cdc_op")))


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC merge — the incremental twin of
    ``operators/events.cdc_apply``: the event changelog streams through
    a foreachBatch upsert/delete merge into a versioned keyed snapshot
    (the sink pattern for warehouse MERGE targets Structured Streaming
    has no native sink for). Both forms share one oracle, so the gate
    value-checks that the incremental merge converges to exactly the
    batch MERGE result regardless of micro-batching; cross-batch
    ordering (latest-wins over batch boundaries, tombstones blocking
    resurrection) is pinned by tests/test_cdc.py's split-file test."""
    return run_cdc_upsert_stream(
        spark, read_events_stream(spark, sf_dir),
        load_table(spark, sf_dir, "customer"),
        stream_shuffle_partitions(spark, sf_dir))


QUERIES = {
    "stream_hourly_counts": stream_hourly_counts,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_dedup_events": stream_dedup_events,
    "stream_user_totals": stream_user_totals,
    "stream_enriched_events": stream_enriched_events,
    "stream_foreachbatch_roundtrip": stream_foreachbatch_roundtrip,
    "stream_topk_event_types": stream_topk_event_types,
    "stream_topk_stateful": stream_topk_stateful,
    "stream_sessionize": stream_sessionize,
    "stream_attribution": stream_attribution,
    "stream_cdc_upsert": stream_cdc_upsert,
}

ORACLES = {
    # a 2h-wide window sliding by 1h: each event belongs to exactly two
    # windows, starting at its hour and the hour before
    "stream_sliding_counts": """
        SELECT win_start, event_type, count(*) AS n_events
        FROM (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
                   event_type
            FROM events
            UNION ALL
            SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR
                        AS TIMESTAMP) AS win_start,
                   event_type
            FROM events
        )
        GROUP BY win_start, event_type
    """,
    "stream_hourly_counts": f"""
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               {_ers('value')} AS sum_value
        FROM events GROUP BY 1, 2
    """,
    # the stream source plants every event TWICE (two file copies), so
    # this one-row-per-event oracle passes only if the watermarked dedup
    # actually drops duplicates — identity would be 2x the rows
    "stream_dedup_events": """
        SELECT event_id, user_id, ts, event_type, value FROM events
    """,
    # the stateful operator rounds each row to cents then integer-sums,
    # so the oracle is batching-independent (round 7; previously the
    # engine rounded one float batch-sum and the oracle mirrored that)
    "stream_user_totals": """
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_value_cents
        FROM events GROUP BY user_id
    """,
    "stream_enriched_events": f"""
        SELECT c.c_mktsegment, e.event_type,
               count(*) AS n_events,
               {_ers('e.value')} AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1, 2
    """,
    # append-mode semantics: foreachBatch receives only FINALIZED
    # windows — those whose end has passed the final event-time
    # watermark (max ts - 1h delay); the open tail stays in state.
    # The oracle mirrors exactly that eviction rule.
    "stream_foreachbatch_roundtrip": f"""
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               {_ers('value')} AS sum_value
        FROM events, wm
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
        GROUP BY 1, 2
    """,
    # same append-mode finalization rule as the foreachBatch round trip,
    # plus the deterministic per-hour rank the sink-side batch computes
    "stream_topk_event_types": f"""
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        hourly AS (
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events
            FROM events, wm
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
            GROUP BY 1, 2
        )
        SELECT hour, event_type, n_events, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY hour
                                         ORDER BY n_events DESC,
                                                  event_type) AS rank
            FROM hourly
        )
        WHERE rank <= {STREAM_TOPK}
    """,
    # gap >= 30 min starts a new session (session_window's half-open
    # boundary; see stream_sessionize docstring)
    "stream_sessionize": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), with_id AS (
            SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id
                                                  ROWS UNBOUNDED PRECEDING)
                           AS BIGINT) AS session_seq
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) AS session_end,
               count(*) AS n_events,
               {_ers('value')} AS sum_value
        FROM with_id
        GROUP BY user_id, session_seq
    """,
    # window interpolated from ATTRIBUTION_WINDOW_MIN (r10 review: a
    # hardcoded 60 would silently desync the oracle from the two Spark
    # forms on a constant change)
    "stream_attribution": f"""
        SELECT p.event_id AS purchase_id,
               p.user_id,
               p.ts AS purchase_ts,
               c.event_id AS click_id,
               c.ts AS click_ts,
               p.value AS purchase_value
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTE
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
}

# the custom-stateful twin emits at the same finalization instant
# (event-time timeout at window end == append-mode watermark rule) with
# the same deterministic rank, so the two forms share one oracle — any
# divergence between built-in finalization and the manual eviction
# fails the gate
ORACLES["stream_topk_stateful"] = ORACLES["stream_topk_event_types"]

# the incremental foreachBatch merge must converge to exactly the batch
# MERGE result, so the streaming form shares cdc_apply's oracle
from mit_6_5840_mapreduce_spark.operators.events import (  # noqa: E402
    ORACLES as _EVENT_ORACLES,
)

ORACLES["stream_cdc_upsert"] = _EVENT_ORACLES["cdc_apply"]
