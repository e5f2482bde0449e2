"""cdc_apply: MERGE semantics on a constructed changelog/snapshot pair
where every path (insert / update / delete / keep / latest-wins) is
exercised and the expected snapshot is computable by hand.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod


def _mini_sf(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cdc"))
    pq.write_table(pa.table({
        "c_custkey": pa.array([0, 1, 2, 3], pa.int64()),
        "c_name": pa.array([f"Customer#{i}" for i in range(4)]),
        "c_nationkey": pa.array([7, 8, 9, 10], pa.int32()),
        "c_acctbal": pa.array([100.25, 200.5, 300.75, 400.0]),
        "c_mktsegment": pa.array(["BUILDING"] * 4),
    }), os.path.join(out, "customer.parquet"))
    # user 0: error THEN click  -> latest wins -> update (not delete)
    # user 1: click THEN error  -> delete
    # user 5: not in snapshot, purchase -> insert
    # users 2, 3: untouched -> keep
    ts = [1_700_000_000_000_000_000 + i * 10**9 for i in range(5)]
    pq.write_table(pa.table({
        "event_id": pa.array([10, 11, 12, 13, 14], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array([0, 0, 1, 1, 5], pa.int64()),
        "event_type": pa.array(
            ["error", "click", "click", "error", "purchase"]),
        "value": pa.array([1.0, 11.5, 2.0, 3.0, 42.75]),
        "props": pa.array(["{}"] * 5),
    }), os.path.join(out, "events.parquet"))
    return out


def test_cdc_apply_all_paths(spark, tmp_path_factory):
    d = _mini_sf(tmp_path_factory)
    rows = {r.c_custkey: r for r in
            entrymod.queries()["cdc_apply"](spark, d).collect()}
    # user 1 deleted; 0 updated; 5 inserted; 2 and 3 kept
    assert set(rows) == {0, 2, 3, 5}
    upd = rows[0]
    assert (upd.cdc_op, upd.acctbal, upd.mktsegment) == (
        "update", 11.5, "CLICK")
    assert upd.c_name == "Customer#0" and upd.c_nationkey == 7
    ins = rows[5]
    assert (ins.cdc_op, ins.c_name, ins.c_nationkey,
            ins.acctbal, ins.mktsegment) == (
        "insert", "cdc-insert", -1, 42.75, "PURCHASE")
    for k in (2, 3):
        r = rows[k]
        assert (r.cdc_op, r.acctbal, r.mktsegment) == (
            "keep", [300.75, 400.0][k - 2], "BUILDING")


def test_stream_cdc_upsert_multi_batch_order_independent(
        spark, tmp_path_factory):
    """Split the changelog into 3 single-file micro-batches where the
    DECISIVE (newest) op for key 0 arrives in batch 0 and older ops for
    it arrive later, and key 1's delete arrives before an older upsert:
    the incremental merge must still equal the batch cdc_apply result
    (latest-wins across batches; tombstones block resurrection)."""
    from mit_6_5840_mapreduce_spark.sources.tables import load_table
    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        run_cdc_upsert_stream,
    )

    d = _mini_sf(tmp_path_factory)
    src = str(tmp_path_factory.mktemp("cdc_stream_src"))

    def write_events(name, rows):
        eid, ts, uid, et, val = zip(*rows)
        pq.write_table(pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(list(et)),
            "value": pa.array(val),
            "props": pa.array(["{}"] * len(rows)),
        }), os.path.join(src, name))

    t0 = 1_700_000_000_000_000_000
    # batch 0: key 0's NEWEST op (upsert) + key 1's delete (newest)
    write_events("b0.parquet", [
        (11, t0 + 9 * 10**9, 0, "click", 11.5),
        (13, t0 + 8 * 10**9, 1, "error", 3.0),
    ])
    # batch 1: OLDER ops for both keys — must lose to batch 0's state
    write_events("b1.parquet", [
        (10, t0 + 1 * 10**9, 0, "error", 1.0),
        (12, t0 + 2 * 10**9, 1, "click", 2.0),
    ])
    # batch 2: insert of a key absent from the snapshot
    write_events("b2.parquet", [
        (14, t0 + 5 * 10**9, 5, "purchase", 42.75),
    ])

    raw_schema = spark.read.parquet(os.path.join(src, "b0.parquet")).schema
    from mit_6_5840_mapreduce_spark.sources.tables import normalize_event_ts
    changelog = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        target="timestamp")
    got = run_cdc_upsert_stream(
        spark, changelog, load_table(spark, d, "customer"), 2)
    rows = {r.c_custkey: r for r in got.collect()}
    assert set(rows) == {0, 2, 3, 5}
    assert (rows[0].cdc_op, rows[0].acctbal, rows[0].mktsegment) == (
        "update", 11.5, "CLICK")
    assert (rows[5].cdc_op, rows[5].c_name, rows[5].acctbal) == (
        "insert", "cdc-insert", 42.75)
    assert rows[2].cdc_op == "keep" and rows[3].cdc_op == "keep"


def test_table_diff_reconstructs_applied_ops(spark, tmp_path_factory):
    """Diffing cdc_apply's input and output must reconstruct the net
    changelog effect: key 0 changed, key 1 removed, key 5 added, and
    the untouched keys produce NO diff row."""
    d = _mini_sf(tmp_path_factory)
    rows = {r.c_custkey: r for r in
            entrymod.queries()["table_diff"](spark, d).collect()}
    assert {k: r.change for k, r in rows.items()} == {
        0: "changed", 1: "removed", 5: "added"}
    assert rows[0].old_acctbal == 100.25 and rows[0].new_acctbal == 11.5
    assert rows[1].new_acctbal is None
    assert rows[5].old_acctbal is None and rows[5].new_acctbal == 42.75


def test_stream_cdc_full_sequence_tie_matches_batch_ordering(
        spark, tmp_path_factory):
    """r10 review: cross-batch latest-wins compared only (ts, event_id),
    so on a full (ts, event_id) tie the winner depended on which batch
    arrived first. The snapshot now carries the FULL four-column
    sequence (ts, event_id, event_type, value) — the same ordering the
    per-batch max-struct and the batch cdc_apply oracle use. Here the
    tied ops arrive in separate batches with the LOSING one first:
    'error' > 'click' lexicographically, so the delete must win and
    key 0 must be absent from the final snapshot."""
    from mit_6_5840_mapreduce_spark.sources.tables import (
        load_table, normalize_event_ts,
    )
    from mit_6_5840_mapreduce_spark.streaming.jobs import (
        run_cdc_upsert_stream,
    )
    d = _mini_sf(tmp_path_factory)
    src = str(tmp_path_factory.mktemp("cdc_tie_src"))

    def write_events(name, rows):
        eid, ts, uid, et, val = zip(*rows)
        pq.write_table(pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(list(et)),
            "value": pa.array(val),
            "props": pa.array(["{}"] * len(rows)),
        }), os.path.join(src, name))

    t0 = 1_700_000_000_000_000_000
    # batch 0: the TIE LOSER (upsert) — same (ts, event_id) as batch 1
    write_events("b0.parquet", [(20, t0 + 10**9, 0, "click", 5.0)])
    # batch 1: the TIE WINNER (delete) under the 4-column ordering
    write_events("b1.parquet", [(20, t0 + 10**9, 0, "error", 1.0)])
    for i in range(2):
        os.utime(os.path.join(src, f"b{i}.parquet"),
                 (1_700_000_000 + i * 60,) * 2)

    raw_schema = spark.read.parquet(os.path.join(src, "b0.parquet")).schema
    changelog = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false").parquet(src),
        target="timestamp")
    got = run_cdc_upsert_stream(
        spark, changelog, load_table(spark, d, "customer"), 2)
    rows = {r.c_custkey: r for r in got.collect()}
    assert 0 not in rows            # the delete won the sequence tie
    assert rows[2].cdc_op == "keep" and rows[3].cdc_op == "keep"
