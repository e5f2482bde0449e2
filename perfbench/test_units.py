"""Fast checks of the benchmark's own pieces, without Spark: the input
generator, interval arithmetic, the tail statistic and span attribution.

Run: python3 -m pytest perfbench/test_units.py
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spantrace  # noqa: E402

# the schemas of the TPC-H-ish corpus the program's queries are written for
SCHEMAS = {
    "region": "r_regionkey: int32, r_name: string",
    "nation": "n_nationkey: int32, n_name: string, n_regionkey: int32",
    "customer": "c_custkey: int64, c_name: string, c_nationkey: int32, "
                "c_acctbal: double, c_mktsegment: string",
    "supplier": "s_suppkey: int64, s_name: string, s_nationkey: int32, "
                "s_acctbal: double",
    "orders": "o_orderkey: int64, o_custkey: int64, o_orderstatus: string, "
              "o_totalprice: double, o_orderdate: timestamp[us], "
              "o_orderpriority: string",
    "lineitem": "l_orderkey: int64, l_partkey: int64, l_suppkey: int64, "
                "l_linenumber: int32, l_quantity: double, "
                "l_extendedprice: double, l_discount: double, "
                "l_tax: double, l_returnflag: string, "
                "l_linestatus: string, l_shipdate: timestamp[us]",
    "events": "event_id: int64, ts: timestamp[us], user_id: int64, "
              "event_type: string, value: double, props: string",
    "documents": "doc_id: int64, text: string, lang: string, "
                 "source: string, n_chars: int64",
}


def _schema(path: str) -> str:
    s = pq.read_schema(path)
    return ", ".join(f"{f.name}: {f.type}" for f in s)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    out = tmp_path_factory.mktemp("inputs")
    gen.generate(str(out), seed=5)
    return str(out)


def test_schemas_match_the_corpus(inputs):
    for table, want in SCHEMAS.items():
        assert _schema(os.path.join(inputs, f"{table}.parquet")) == want


def test_value_domains(inputs):
    def col(t, c):
        return pq.read_table(os.path.join(inputs, f"{t}.parquet"),
                             columns=[c]).column(c).to_pylist()
    assert set(col("region", "r_name")) == set(gen.REGIONS)
    assert set(col("nation", "n_name")) == {f"NATION_{i}" for i in range(25)}
    assert set(col("events", "event_type")) == set(gen.EVENT_TYPES)
    assert set(col("documents", "lang")) <= set(gen.LANGS)
    assert set(col("documents", "source")) <= {f"src{i}" for i in range(20)}
    ts = col("events", "ts")
    assert ts == sorted(ts)
    assert dt.datetime(2024, 1, 1) <= ts[0] <= ts[-1] < dt.datetime(2024, 1, 31)
    od = col("orders", "o_orderdate")
    assert dt.datetime(1995, 1, 1) <= min(od) <= max(od) \
        <= dt.datetime(2001, 8, 1)
    docs = pq.read_table(os.path.join(inputs, "documents.parquet"))
    assert docs.column("n_chars").to_pylist() == [
        len(t) for t in docs.column("text").to_pylist()]


def test_every_seed_same_structure():
    import numpy as np
    a = gen._documents(np.random.default_rng(1), 500)
    b = gen._documents(np.random.default_rng(2), 500)
    assert [len(t.split()) for t in a] == [len(t.split()) for t in b]
    assert a != b


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), seed=9, tables=("documents", "events"), scale=0.05)
    gen.generate(str(b), seed=9, tables=("documents", "events"), scale=0.05)
    gen.generate(str(tmp_path / "c"), seed=10, tables=("documents",),
                 scale=0.05)
    for t in ("documents", "events"):
        assert (a / f"{t}.parquet").read_bytes() == \
            (b / f"{t}.parquet").read_bytes()
    assert (a / "documents.parquet").read_bytes() != \
        (tmp_path / "c" / "documents.parquet").read_bytes()


def _trigrams(text: str) -> set:
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def _jaccard(a: str, b: str) -> float:
    x, y = _trigrams(a), _trigrams(b)
    return len(x & y) / len(x | y)


def test_chain_needs_rounds_and_clusters_exist():
    import numpy as np
    texts = gen._documents(np.random.default_rng(1), 500)
    chain = texts[:gen.chain_docs(500)]
    for k in range(len(chain) - 2):
        assert _jaccard(chain[k], chain[k + 1]) > 0.1
        assert _jaccard(chain[k], chain[k + 2]) < 0.1
    background = texts[len(chain):]
    near = sum(_jaccard(background[i], background[i + 1]) > 0.5
               for i in range(len(background) - 1))
    assert near >= 10


def test_union_ms():
    assert spantrace.union_ms([], 0, 10) == 0
    assert spantrace.union_ms([(0, 4), (2, 6), (8, 9)], 0, 10) == 7
    assert spantrace.union_ms([(-5, 3), (9, 20)], 0, 10) == 4


def test_tail_stat():
    assert run.tail_stat([3.0, 1.0, 2.0]) == (1.0, 0.0, 3)
    xs = [float(i) for i in range(100)]
    v, pct, n = run.tail_stat(xs)
    assert (v, n) == (89.0, 100) and sum(x > v for x in xs) == 10


def test_tables_read():
    sql = "SELECT * FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey"
    assert run.tables_read(sql, ("orders", "lineitem", "part")) == \
        ["orders", "lineitem"]


class _Listener:
    def __init__(self, started, progress):
        self.started, self.progress = started, progress


def _log(jobs, stages=None, sql=None):
    zero = dict.fromkeys(spantrace._TASK_SUMS, 0)
    return {"jobs": jobs,
            "stages": {k: {**zero, **v} for k, v in (stages or {}).items()},
            "sql": sql or {}}


def test_build_trace_attribution_and_self_time():
    sp = spantrace.Spans()
    root = sp.open("workload", "w", None)
    p = sp.open("pass", "pass 1", root, timed=True)
    q1 = sp.open("query", "a", p, group="w:a:1")
    b1 = sp.open("build", "build", q1)
    a1 = sp.open("action", "action", q1)
    q2 = sp.open("query", "b", p, group="w:b:1")
    b2 = sp.open("build", "build", q2)
    a2 = sp.open("action", "action", q2)
    times = [(root, 0, 100), (p, 0, 100), (q1, 0, 50), (b1, 0, 20),
             (a1, 20, 50), (q2, 50, 100), (b2, 50, 90), (a2, 90, 100)]
    for s, t0, t1 in times:
        s.start_ms, s.end_ms = float(t0), float(t1)

    def job(group, t0, t1, stage_ids, sql_id=None):
        return {"start": t0, "end": t1, "ok": True, "stage_ids": stage_ids,
                "group": group, "sql_id": sql_id}

    log = _log(
        jobs={0: job("w:a:1", 5, 15, [0]),            # by job group, build
              1: job("w:a:1", 25, 45, [1, 2], 7),     # by job group, action
              2: job("run-x", 60, 70, [3]),           # by stream run id
              3: job(None, 92, 95, [4]),              # by time window
              4: job(None, 200, 210, [5])},           # outside every span
        stages={(0, 0): {"start": 5, "end": 15, "run_ms": 40, "tasks": 4},
                (1, 0): {"start": 25, "end": 35, "tasks": 2},
                (2, 0): {"start": 30, "end": 45, "tasks": 1,
                         "python": True, "run_ms": 8},
                (3, 0): {"start": 60, "end": 70, "tasks": 1},
                (4, 0): {"start": 92, "end": 95, "tasks": 1}},
        sql={7: {"start": 21, "group": "w:a:1", "exchanges": 2,
                 "files_read_b": 3 << 20}})
    for st in log["stages"].values():
        st.setdefault("python", False)
    listener = _Listener({"run-x": 55.0}, [
        {"runId": "run-x", "timestamp": "1970-01-01T00:00:00.060Z",
         "numInputRows": 7, "durationMs": {"triggerExecution": 9},
         "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 1,
                             "memoryUsedBytes": 1 << 20}]}])
    tr = spantrace.build_trace(sp, log, listener, cores=4)
    assert tr["attribution"] == {"job_group": 2, "stream_run_id": 1,
                                 "time_window": 1, "unattributed": 1}
    spans = {s["id"]: s for s in tr["spans"]}
    jobs = {s["name"]: s for s in tr["spans"] if s["kind"] == "job"}
    assert spans[jobs["job 0"]["parent"]]["kind"] == "build"
    assert spans[jobs["job 1"]["parent"]]["kind"] == "action"
    assert spans[jobs["job 2"]["parent"]]["id"] == b2.id
    assert spans[jobs["job 3"]["parent"]]["id"] == a2.id
    assert "job 4" not in jobs
    # job 1 covers 25-45 of action 20-50: self time 10 ms; its stages
    # overlap (25-35, 30-45) so the job's own self time is 0
    assert spans[a1.id]["self_ms"] == 10
    assert jobs["job 1"]["self_ms"] == 0
    assert tr["counts"] == {"a": {"jobs": [2], "stages": [3],
                                  "exchanges": [2]},
                            "b": {"jobs": [2], "stages": [2],
                                  "exchanges": [0]}}
    m = tr["metrics"]
    assert m["scheduler.jobs"] == 4 and m["operators.build_jobs"] == 2
    assert m["scheduler.driver_gap_s"] == pytest.approx(
        (100 - 10 - 20 - 10 - 3) / 1000)
    assert m["catalyst.plan_s"] == pytest.approx(0.004)
    assert m["sources.input_mb"] == 3.0
    assert m["python.rdd_stage_run_s"] == pytest.approx(0.008)
    assert m["executor.busy_share"] == pytest.approx(0.048 / (0.1 * 4))
    assert m["streaming.batches"] == 1 and m["streaming.state_rows"] == 3
    assert m["streaming.state_mem_mb"] == 1.0
    json.dumps(tr)      # the trace file is plain JSON


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
