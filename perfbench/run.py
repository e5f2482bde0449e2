"""Benchmark: seeded inputs, named workloads on ``local[4]``, DuckDB
oracle check, end-to-end metrics (``--trace 0``) or per-layer metrics
from a traced run (``--trace 1``).

One run, in one process:

1. generate the workload's inputs from ``--seed`` (``perfbench/gen.py``);
   the program receives only the generated parquet directory;
2. set up: import the package, start the SparkSession (which attaches
   the package) and run two untimed warm-up passes, the first of which
   collects every query's result (with one, the driver-bound workload's
   timed passes ran slower and spread more between runs; see
   ``perfbench/RECORD.md``);
3. compare each collected result with the query's DuckDB oracle on the
   same inputs, canonicalized by ``tools/parity.py:canon``;
4. timed passes, one client in a closed loop: each query is built (its
   registry callable) and then forced to completion with a ``noop``
   write. Passes repeat until ``--seconds`` have been spent in them, and
   each metric is a median over them;
5. print every metric by name with its unit and, last, one JSON line.

With ``--trace 1`` the session also writes Spark's event log, each query
runs under ``setJobGroup(<workload>:<query>:<pass>)``, a
``StreamingQueryListener`` records micro-batches, and the span tree,
per-query counts and per-layer metrics go to
``.perfbench/trace-<workload>-<seed>.json``. End-to-end numbers come
from untraced runs only.

Usage:
  python3 perfbench/run.py --workload NAME|all --seed N [--seconds S]
                           [--trace 0|1]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
QUERY_TIMEOUT_S = 90       # a query whose jobs still run after this fails
MB = 1 << 20
DRIVER_MEM = "2g"            # the driver JVM's heap


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]


WORKLOADS = {
    # driver-bound: plan building and per-round eager jobs (connected
    # components over the planted clusters and chain; BPE merge rounds)
    "dedup_iterative": Workload(
        ("dedup_groups_capped", "bpe_train"), ("documents",)),
    # the paper's RDD MapReduce path and its DataFrame twin, Catalyst
    # joins and shuffles, an Arrow grouped map, and availableNow
    # micro-batches with state commits and sink writes
    "mr_relational_stream": Workload(
        ("mr_wc_rdd", "mr_wc", "q5_local_supplier_volume", "user_value_mad",
         "stream_hourly_counts", "stream_cdc_upsert"),
        ("documents", "region", "nation", "customer", "supplier", "orders",
         "lineitem", "events")),
}

# (query, count) pairs of the trace seen to differ between passes of one
# seed (dedup_groups_capped: 54, 55 or 56 jobs). Every other per-query
# count is labelled exact, and perfbench/test_counts.py requires it to
# repeat across passes and across two traced runs.
WITH_SPREAD: frozenset[tuple[str, str]] = frozenset(
    ("dedup_groups_capped", k) for k in ("jobs", "stages", "exchanges"))

# end-to-end metrics printed but not in BENCHMARK.json, so not in the
# JSON line: failed_share is 0 on a good run and the JSON carries
# attempted/failed; query_tail_s rests on too few samples per run to gate
# on (see its printed sample count)
UNGATED_UNITS = {"query_tail_s": "s", "failed_share": "ratio"}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and per-layer metrics that
    BENCHMARK.json defines."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]}
                 for k in ("end_to_end", "per_layer"))


def _log(msg: str) -> None:
    print(msg, flush=True)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM, in MB, of this process and of its JVM child."""
    me = os.getpid()
    jvm_kb = 0
    for pid in _descendants(me):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm_kb += _vm_hwm_kb(pid)
        except FileNotFoundError:
            pass
    return _vm_hwm_kb(me) / 1024.0, jvm_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def end_jvm(timeout: float = 20.0) -> None:
    """End the JVM that PySpark started, and every process below it
    (Python workers), and wait until each has gone. Left alone, the JVM
    notices its closed stdin only after this process has exited and
    outlives it by a second or more."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    pids = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:
        pass
    try:
        proc.stdin.close()          # the JVM exits on EOF on its stdin
        proc.wait(timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    for pid in pids:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


def tail_stat(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples no percentile has, and
    the minimum is given."""
    xs = sorted(values)
    k = max(0, len(xs) - 11)
    return xs[k], 100.0 * k / len(xs), len(xs)


def tables_read(sql: str, tables: tuple[str, ...]) -> list[str]:
    """The input tables a query reads, as named by its oracle SQL."""
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


class Runner:
    def __init__(self, name: str, seed: int, seconds: float,
                 trace: bool) -> None:
        self.name, self.seed, self.seconds = name, seed, seconds
        self.trace = trace
        self.wl = WORKLOADS[name]
        self.work = os.path.join(ROOT, ".perfbench",
                                 f"{name}-{seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None

    def prepare(self) -> None:
        """Keep every file the run writes inside the work directory."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "SPARK_GRAFT_CPUS": str(CORES),
            # the inputs are about 2 MB; a 2 GB heap in place of the
            # program's 8 GB default keeps the JVM small on a machine
            # whose memory other processes share
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # Python workers hash RDD keys; one seed in every worker
            "PYTHONHASHSEED": "0"})
        import tempfile
        tempfile.tempdir = tmp

    def conf(self) -> dict[str, str]:
        c = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
             # initial heap = maximum: grown from the JVM's 256 MB default,
             # peak RSS came out at 1.9 or 2.3 GB by when the heap grew
             "spark.driver.extraJavaOptions":
                 f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}"}
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            c.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + log_dir})
        return c

    def setup(self) -> float:
        """Package import, session start and warm-up passes, in seconds."""
        t0 = time.perf_counter()
        from mit_6_5840_mapreduce_spark.operators import registry
        from mit_6_5840_mapreduce_spark.session import get_spark
        self.queries, self.oracles = registry()
        self.spark = get_spark(f"perfbench-{self.name}",
                               extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from spantrace import Spans, stream_listener
            self.spans = Spans()
            self.listener = stream_listener()
            self.spark.streams.addListener(self.listener)
            self.root = self.spans.open("workload", self.name, None)
        t1 = time.perf_counter()
        self.results = self.run_pass(0, timed=False, collect=True)
        self.drop_temp_views()
        t2 = time.perf_counter()
        self.run_pass(1, timed=False)
        setup_s = time.perf_counter() - t0
        _log(f"# set-up: session {t1 - t0:.2f} s, warm-up passes "
             f"{t2 - t1:.2f} s and {t0 + setup_s - t2:.2f} s")
        self.drop_temp_views()
        return setup_s

    def run_pass(self, index: int, timed: bool = True,
                 collect: bool = False) -> dict:
        """One pass over the queries. Returns per-query (build_s,
        action_s), or with ``collect`` the collected pandas frames."""
        sc = self.spark.sparkContext
        pspan = (self.spans.open("pass", f"pass {index}", self.root,
                                 timed=timed) if self.trace else None)
        out = {}
        for q in self.wl.queries:
            self.attempted += 1
            group = f"{self.name}:{q}:{index}"
            if self.trace:
                qspan = self.spans.open("query", q, pspan, group=group)
                sc.setJobGroup(group, group)
            timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelAllJobs)
            timer.start()
            try:
                if self.trace:
                    span = self.spans.open("build", "build", qspan)
                t0 = time.perf_counter()
                df = self.queries[q](self.spark, self.data)
                t1 = time.perf_counter()
                if self.trace:
                    self.spans.close(span)
                    span = self.spans.open("action", "action", qspan)
                if collect:
                    out[q] = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
                    out[q] = (t1 - t0, time.perf_counter() - t1)
                if self.trace:
                    self.spans.close(span)
            except Exception as e:  # a failing query is a result to report
                self.failures.append(f"{q} pass {index}: "
                                     f"{type(e).__name__}: {str(e)[:300]}")
            finally:
                timer.cancel()
                if self.trace:
                    self.spans.close(qspan)
                    sc.setLocalProperty("spark.jobGroup.id", None)
        if pspan:
            self.spans.close(pspan)
        return out

    def drop_temp_views(self) -> None:
        """Streaming queries leave their memory sinks as temp views; drop
        them after each pass, outside its wall (listing runs a job)."""
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)

    def oracle_check(self) -> None:
        import duckdb
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from parity import canon
        con = duckdb.connect()
        try:
            for t in self.wl.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t + '.parquet')}'")
            for q in self.wl.queries:
                if q not in self.results:
                    continue            # already failed in the warm-up pass
                got = canon(self.results[q])
                want = canon(con.execute(self.oracles[q]).df())
                if (list(got.columns) != list(want.columns)
                        or not got.equals(want)):
                    self.failures.append(f"{q}: oracle mismatch "
                                         f"({len(got)} vs {len(want)} rows)")
        finally:
            con.close()

    def timed(self) -> list[dict]:
        """Timed passes, back to back until ``seconds`` have been spent
        in them."""
        passes, spent = [], 0.0
        while spent < self.seconds:
            t = time.perf_counter()
            res = self.run_pass(len(passes) + 2)
            wall = time.perf_counter() - t
            self.drop_temp_views()
            passes.append({"wall_s": wall, "queries": res})
            spent += wall
        return passes

    def finish_trace(self) -> dict:
        from spantrace import build_trace, read_event_log
        self.spans.close(self.root)
        app_id = self.spark.sparkContext.applicationId
        deadline = time.time() + 10
        while not self.listener.drained() and time.time() < deadline:
            time.sleep(0.1)
        self.spark.stop()           # flushes the event log
        self.spark = None
        log = read_event_log(os.path.join(self.work, "eventlog"), app_id)
        tr = build_trace(self.spans, log, self.listener, CORES)
        for q, cs in tr["counts"].items():
            for k, per_pass in cs.items():
                cs[k] = {"per_pass": per_pass,
                         "label": ("with spread" if (q, k) in WITH_SPREAD
                                   else "exact")}
        return tr

    def close(self) -> None:
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            end_jvm()
            shutil.rmtree(self.work, ignore_errors=True)


def run_one(a) -> int:
    wl = WORKLOADS[a.workload]
    r = Runner(a.workload, a.seed, a.seconds, bool(a.trace))
    r.prepare()
    try:
        import mit_6_5840_mapreduce_spark  # noqa: F401
    except ImportError as e:
        print(f"error: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        shutil.rmtree(r.work, ignore_errors=True)
        return 2
    try:
        import gen
        info = gen.generate(r.data, a.seed, wl.tables)
        _log("# inputs: " + ", ".join(
            f"{t} {m['rows']} rows {m['bytes'] / MB:.2f} MB"
            for t, m in info.items()))
        setup_s = r.setup()
        r.oracle_check()
        passes = r.timed()
        py_mb, jvm_mb = peak_rss_mb()
        pass_mb = sum(info[t]["bytes"] for q in wl.queries
                      for t in tables_read(r.oracles[q], wl.tables)) / MB
        walls = [p["wall_s"] for p in passes]
        per_query = [b + c for p in passes for b, c in p["queries"].values()]
        # each query's median over the passes, then the median over the
        # queries: a median over all executions jumps between queries as
        # the number of passes in a run changes
        q_medians = [statistics.median(sum(p["queries"][q]) for p in passes
                                       if q in p["queries"])
                     for q in wl.queries
                     if any(q in p["queries"] for p in passes)]
        wall_s = statistics.median(walls)
        tail, pct, n = tail_stat(per_query or [float("nan")])
        e2e = {
            "wall_s": wall_s,
            "input_mb_per_s": pass_mb / wall_s,
            "query_p50_s": statistics.median(q_medians or [float("nan")]),
            "query_tail_s": tail,
            "setup_s": setup_s,
            "peak_rss_mb": py_mb + jvm_mb,
            "failed_share": len(r.failures) / r.attempted,
        }
        note = {"query_tail_s": f"  (p{pct:.0f} of {n} query executions)",
                "input_mb_per_s": f"  ({pass_mb:.2f} MB read per pass)",
                "peak_rss_mb": f"  (Python {py_mb:.0f} MB, JVM {jvm_mb:.0f} MB)"}
        e2e_units, layer_units = metric_units()
        for k, v in e2e.items():
            _log(f"{a.workload} {k} = {v:.4f} "
                 f"{e2e_units.get(k) or UNGATED_UNITS[k]}" + note.get(k, ""))
        _log(f"# {len(passes)} timed passes: "
             + ", ".join(f"{w:.3f}" for w in walls) + " s")
        for q in wl.queries:
            bs = [p["queries"][q] for p in passes if q in p["queries"]]
            if bs:
                _log(f"# {q}: build {statistics.median(b for b, _ in bs):.3f}"
                     f" s, action {statistics.median(c for _, c in bs):.3f} s")
        for f in r.failures:
            _log(f"# FAILED {f}")
        if a.trace:
            tr = r.finish_trace()
            tr.update({"workload": a.workload, "seed": a.seed,
                       "inputs": info})
            path = os.path.join(ROOT, ".perfbench",
                                f"trace-{a.workload}-{a.seed}.json")
            with open(path, "w") as fh:
                json.dump(tr, fh, indent=1)
            _log(f"# trace: {os.path.relpath(path, ROOT)}; jobs attributed "
                 + ", ".join(f"{k} {v}" for k, v in tr["attribution"].items()))
            metrics = {k: {"value": tr["metrics"][k], "unit": u}
                       for k, u in layer_units.items()}
            for k, m in metrics.items():
                _log(f"{a.workload} {k} = {m['value']:.4f} {m['unit']}")
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in e2e_units.items()}
        ok = not r.failures
        print(json.dumps({"correct": ok, "attempted": r.attempted,
                          "failed": len(r.failures), "metrics": metrics}))
        return 0 if ok else 1
    finally:
        r.close()


def run_all(a) -> int:
    """Every workload in its own process, one after another: each gets a
    fresh JVM, so one workload's warm-up and heap do not shape the
    other's numbers."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        p = subprocess.Popen(cmd, cwd=ROOT)
        try:
            rc = max(rc, p.wait())
        finally:
            # SIGTERM, not subprocess.run's SIGKILL, so that the child
            # still ends its JVM
            if p.poll() is None:
                p.terminate()
                p.wait()
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # a terminated run still leaves through its ``finally`` blocks, which
    # end the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run_all(a) if a.workload == "all" else run_one(a)


if __name__ == "__main__":
    sys.exit(main())
