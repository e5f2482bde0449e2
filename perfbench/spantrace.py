"""Trace assembly for the benchmark's traced run.

The benchmark records its own spans around the calls it makes into the
program (workload -> pass -> query -> build/action) and reads the rest
from Spark itself: jobs, stages, tasks and SQL executions from the
uncompressed event log, streaming micro-batches from a
``StreamingQueryListener``. ``build_trace`` joins the two into one span
tree and derives the per-layer metrics.

A Spark job or SQL execution is attributed to a query span by, in order:

1. its job group, which the benchmark sets to ``<workload>:<query>:<pass>``;
2. a stream's run id: stream threads run their jobs under the run id as
   job group, and the listener saw that run start inside a query span;
3. its start time falling inside a query span.

The trace records how many jobs each rule attributed.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

MB = 1 << 20
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")


def now_ms() -> float:
    return time.time() * 1000.0


def iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")) \
        .timestamp() * 1000.0


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str
    name: str
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)


class Spans:
    """Spans the benchmark records around its calls into the program."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, kind: str, name: str, parent: Span | None,
             **attrs) -> Span:
        s = Span(len(self.spans), parent.id if parent else None, kind, name,
                 now_ms(), attrs=attrs)
        self.spans.append(s)
        return s

    @staticmethod
    def close(span: Span) -> None:
        span.end_ms = now_ms()


def stream_listener():
    """A ``StreamingQueryListener`` that keeps each run's start time and
    every progress event (defined on call: the base class needs a
    running pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started: dict[str, float] = {}     # runId -> epoch ms
            self.progress: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started[str(event.runId)] = iso_ms(event.timestamp)

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated += 1

        def drained(self) -> bool:
            with self.lock:
                return self.terminated >= len(self.started)

    return Recorder()


# ---- event log -----------------------------------------------------------

def _log_files(log_dir: str, app_id: str) -> list[str]:
    """The parts of ``app_id``'s event log in order (Spark 4 writes a
    rolling ``eventlog_v2_<app>`` directory)."""
    parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}",
                                   "events_*"))
    if not parts:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return sorted(parts, key=lambda p: int(
        re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


def _files_read_accs(info: dict) -> set[int]:
    """Accumulator ids of the scans' "size of files read" metrics, which
    the driver posts as SparkListenerDriverAccumUpdates."""
    return {m["accumulatorId"] for n in _plan_nodes(info)
            for m in n.get("metrics", ()) if m["name"] == "size of files read"}


_TASK_SUMS = ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
              "deser_ms", "shuffle_write_b", "shuffle_write_rec",
              "shuffle_read_b", "fetch_wait_ms", "spill_b", "input_rec",
              "arrow_sent_b", "arrow_returned_b")
_ARROW = {"data sent to Python workers": "arrow_sent_b",
          "data returned from Python workers": "arrow_returned_b"}


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, stages that ran (with their tasks' metrics summed) and SQL
    executions (with the Exchange count of their final plan and the
    bytes of the files their scans read)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    sums: dict[tuple[int, int], dict] = {}
    sql: dict[int, dict] = {}
    for path in _log_files(log_dir, app_id):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sid = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"],
                        "end": e["Submission Time"], "ok": False,
                        "stage_ids": e["Stage IDs"],
                        "group": props.get("spark.jobGroup.id"),
                        "sql_id": None if sid is None else int(sid)}
                elif ev == "SparkListenerJobEnd":
                    j = jobs[e["Job ID"]]
                    j["end"] = e["Completion Time"]
                    j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" in si:     # else skipped: reused
                        stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                            "start": si["Submission Time"],
                            "end": si["Completion Time"],
                            "python": any(r["Name"] == "PythonRDD"
                                          for r in si["RDD Info"])}
                elif ev == "SparkListenerTaskEnd":
                    key = (e["Stage ID"], e["Stage Attempt ID"])
                    _add_task(sums.setdefault(key, dict.fromkeys(
                        _TASK_SUMS, 0)), e)
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    sql[e["executionId"]] = {
                        "start": e["time"], "group": e.get("jobGroupId"),
                        "plan": e["sparkPlanInfo"],
                        "files_accs": _files_read_accs(e["sparkPlanInfo"]),
                        "driver_accs": {}}
                elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if e["executionId"] in sql:
                        x = sql[e["executionId"]]
                        x["plan"] = e["sparkPlanInfo"]
                        x["files_accs"] |= _files_read_accs(x["plan"])
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    if e["executionId"] in sql:
                        # each update carries the metric's total so far
                        sql[e["executionId"]]["driver_accs"].update(
                            (int(i), v) for i, v in e["accumUpdates"])
    for key, st in stages.items():
        st.update(sums.get(key, dict.fromkeys(_TASK_SUMS, 0)))
    for x in sql.values():
        x["exchanges"] = sum(n["nodeName"] in EXCHANGE_NODES
                             for n in _plan_nodes(x.pop("plan")))
        accs, vals = x.pop("files_accs"), x.pop("driver_accs")
        x["files_read_b"] = sum(v for i, v in vals.items() if i in accs)
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _add_task(st: dict, e: dict) -> None:
    st["tasks"] += 1
    info = e["Task Info"]
    if info.get("Failed") or info.get("Killed"):
        st["failed_tasks"] += 1
    m = e.get("Task Metrics")
    if m:
        st["run_ms"] += m["Executor Run Time"]
        st["cpu_ns"] += m["Executor CPU Time"]
        st["gc_ms"] += m["JVM GC Time"]
        st["deser_ms"] += m["Executor Deserialize Time"]
        st["spill_b"] += m["Disk Bytes Spilled"]
        sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
        st["shuffle_write_b"] += sw["Shuffle Bytes Written"]
        st["shuffle_write_rec"] += sw["Shuffle Records Written"]
        st["shuffle_read_b"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        st["fetch_wait_ms"] += sr["Fetch Wait Time"]
        st["input_rec"] += m["Input Metrics"]["Records Read"]
    for a in info.get("Accumulables", ()):
        key = _ARROW.get(a.get("Name"))
        if key and "Update" in a:
            st[key] += int(a["Update"])


# ---- span tree -----------------------------------------------------------

def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _Owner:
    """Maps (job group, start time) to the query span that caused it."""

    def __init__(self, queries: list[Span], listener) -> None:
        self.queries = queries
        self.by_group = {q.attrs["group"]: q for q in queries}
        self.by_run = {rid: q for rid, t in listener.started.items()
                       if (q := self.at(t)) is not None}
        self.rules = {"job_group": 0, "stream_run_id": 0, "time_window": 0,
                      "unattributed": 0}
        self.misses: list[tuple[str | None, float]] = []

    def at(self, t: float) -> Span | None:
        return next((q for q in self.queries
                     if q.start_ms <= t <= q.end_ms), None)

    def __call__(self, group: str | None, t: float,
                 count: bool = False) -> Span | None:
        if group in self.by_group:
            q, rule = self.by_group[group], "job_group"
        elif group in self.by_run:
            q, rule = self.by_run[group], "stream_run_id"
        else:
            q = self.at(t)
            rule = "time_window" if q else "unattributed"
        if count:
            self.rules[rule] += 1
            if q is None:
                self.misses.append((group, t))
        return q


def build_trace(spans: Spans, log: dict, listener, cores: int) -> dict:
    """Attach Spark jobs and stages under the benchmark's spans, compute
    every span's self time, and derive per-query counts and per-pass
    layer metrics (reported as the median over the timed passes)."""
    tree = list(spans.spans)
    queries = [s for s in tree if s.kind == "query"]
    owner = _Owner(queries, listener)
    children: dict[int, list[Span]] = {s.id: [] for s in tree}
    for s in tree:
        if s.parent is not None:
            children[s.parent].append(s)

    def add(parent: Span, kind: str, name: str, start: float, end: float,
            attrs: dict) -> Span:
        s = Span(len(tree), parent.id, kind, name, start, end, attrs)
        tree.append(s)
        children[parent.id].append(s)
        children[s.id] = []
        return s

    jobs, stages, sql = log["jobs"], log["stages"], log["sql"]
    job_q = {jid: q for jid, j in sorted(jobs.items())
             if (q := owner(j["group"], j["start"], count=True))}
    sql_q = {eid: q for eid, x in sql.items()
             if (q := owner(x["group"], x["start"]))}
    job_span = {}
    for jid, q in job_q.items():
        j = jobs[jid]
        phase = next((c for c in children[q.id]
                      if c.start_ms <= j["start"] <= c.end_ms), q)
        job_span[jid] = add(phase, "job", f"job {jid}", j["start"], j["end"],
                            {"ok": j["ok"]})
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stage_ids"]:
            stage_job.setdefault(sid, jid)
    stage_q = {}
    for (sid, att), st in sorted(stages.items()):
        jid = stage_job.get(sid)
        if jid in job_span:
            add(job_span[jid], "stage", f"stage {sid}.{att}", st["start"],
                st["end"], {k: st[k] for k in _TASK_SUMS if st[k]})
            stage_q[(sid, att)] = job_q[jid]

    out = []
    for s in tree:
        kids = [(c.start_ms, c.end_ms) for c in children[s.id]]
        out.append({
            "id": s.id, "parent": s.parent, "kind": s.kind, "name": s.name,
            "start_ms": round(s.start_ms, 3), "end_ms": round(s.end_ms, 3),
            "self_ms": round(s.end_ms - s.start_ms
                             - union_ms(kids, s.start_ms, s.end_ms), 3),
            **({"attrs": s.attrs} if s.attrs else {})})

    passes = [s for s in spans.spans if s.kind == "pass" and s.attrs["timed"]]
    per_pass, counts = [], {}
    for p in passes:
        qs = {q.id for q in queries if q.parent == p.id}
        pj = [jid for jid, q in job_q.items() if q.id in qs]
        ps = [k for k, q in stage_q.items() if q.id in qs]
        pe = [eid for eid, q in sql_q.items() if q.id in qs]
        per_pass.append(_layer_metrics(p, children, log, pj, ps, pe,
                                       listener, cores))
        for q in (q for q in queries if q.id in qs):
            c = counts.setdefault(q.name, {"jobs": [], "stages": [],
                                           "exchanges": []})
            c["jobs"].append(sum(job_q[j] is q for j in pj))
            c["stages"].append(sum(stage_q[k] is q for k in ps))
            c["exchanges"].append(sum(sql[e]["exchanges"] for e in pe
                                      if sql_q[e] is q))
    metrics = {k: statistics.median(m[k] for m in per_pass)
               for k in per_pass[0]}
    return {"spans": out, "attribution": owner.rules,
            "unattributed": owner.misses, "counts": counts,
            "metrics": metrics, "per_pass": per_pass}


def _layer_metrics(p: Span, children, log: dict, jids: list[int],
                   skeys: list[tuple], eids: list[int], listener,
                   cores: int) -> dict:
    jobs, sql = log["jobs"], log["sql"]
    wall_ms = p.end_ms - p.start_ms
    st = [log["stages"][k] for k in skeys]
    tot = {k: sum(s[k] for s in st) for k in _TASK_SUMS}
    py = [s for s in st if s["python"]]
    builds = [c for q in children[p.id] for c in children[q.id]
              if c.kind == "build"]
    first_job: dict[int, float] = {}
    for jid in sorted(jobs):
        if jobs[jid]["sql_id"] is not None:
            first_job.setdefault(jobs[jid]["sql_id"], jobs[jid]["start"])
    prog = [pr for pr in listener.progress
            if p.start_ms <= iso_ms(pr["timestamp"]) <= p.end_ms]
    final_state: dict[str, list] = {}
    for pr in prog:
        final_state[pr["runId"]] = pr.get("stateOperators", [])
    final_ops = [op for ops in final_state.values() for op in ops]
    dur = [pr.get("durationMs", {}) for pr in prog]
    run_s = tot["run_ms"] / 1000.0
    return {
        "trace.wall_s": wall_ms / 1000.0,
        "operators.build_s": sum(b.end_ms - b.start_ms
                                 for b in builds) / 1000.0,
        "operators.build_jobs": sum(
            1 for j in jids for b in builds
            if b.start_ms <= jobs[j]["start"] <= b.end_ms),
        "scheduler.jobs": len(jids),
        "scheduler.stages": len(st),
        "scheduler.tasks": tot["tasks"],
        "scheduler.job_wall_s": sum(jobs[j]["end"] - jobs[j]["start"]
                                    for j in jids) / 1000.0,
        "scheduler.driver_gap_s": (wall_ms - union_ms(
            [(jobs[j]["start"], jobs[j]["end"]) for j in jids],
            p.start_ms, p.end_ms)) / 1000.0,
        "scheduler.failed_tasks": tot["failed_tasks"],
        "catalyst.sql_executions": len(eids),
        "catalyst.plan_s": sum(max(0.0, first_job[e] - sql[e]["start"])
                               for e in eids if e in first_job) / 1000.0,
        "catalyst.exchanges": sum(sql[e]["exchanges"] for e in eids),
        "executor.run_s": run_s,
        "executor.cpu_s": tot["cpu_ns"] / 1e9,
        "executor.gc_s": tot["gc_ms"] / 1000.0,
        "executor.deser_s": tot["deser_ms"] / 1000.0,
        "executor.busy_share": run_s / (wall_ms / 1000.0 * cores),
        "executor.shuffle_write_mb": tot["shuffle_write_b"] / MB,
        "executor.shuffle_read_mb": tot["shuffle_read_b"] / MB,
        "executor.shuffle_fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
        "executor.spill_mb": tot["spill_b"] / MB,
        "sources.input_mb": sum(sql[e]["files_read_b"] for e in eids) / MB,
        "sources.input_rows": tot["input_rec"],
        "python.rdd_stage_run_s": sum(s["run_ms"] for s in py) / 1000.0,
        # PySpark's partitionBy writes pickled batches of key-value
        # pairs, each one shuffle record
        "mr.shuffle_batches": sum(s["shuffle_write_rec"] for s in py),
        "python.arrow_mb_sent": tot["arrow_sent_b"] / MB,
        "python.arrow_mb_returned": tot["arrow_returned_b"] / MB,
        "streaming.batches": len(prog),
        "streaming.input_rows": sum(pr.get("numInputRows", 0) for pr in prog),
        "streaming.trigger_ms": sum(d.get("triggerExecution", 0) for d in dur),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0)
                                           for d in dur),
        "streaming.state_commit_ms": sum(
            op.get("commitTimeMs", 0) for pr in prog
            for op in pr.get("stateOperators", [])),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0)
                                    for op in final_ops),
        "streaming.state_mem_mb": sum(op.get("memoryUsedBytes", 0)
                                      for op in final_ops) / MB,
    }
