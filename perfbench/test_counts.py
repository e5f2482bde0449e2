"""Trace-derived counts: every per-query count the benchmark labels exact
(jobs, stages and Exchanges per query) must be the same in every timed
pass of two traced runs of one seed, and each traced run must report
every per-layer metric ``BENCHMARK.json`` names, and leave no process
running after it exits.

Slow: two traced Spark runs per workload.
Run: python3 -m pytest perfbench/test_counts.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED = 7


def _processes_of(work: str) -> list[int]:
    """Processes whose command line or environment names the run's work
    directory: its JVM (``-Djava.io.tmpdir``) and Python workers
    (``TMPDIR``)."""
    mark, pids = work.encode(), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            for part in ("cmdline", "environ"):
                with open(f"/proc/{pid}/{part}", "rb") as fh:
                    if mark in fh.read():
                        pids.append(int(pid))
                        break
        except OSError:
            pass
    return pids


def _traced(workload: str) -> tuple[dict, dict]:
    """(trace file, last-line JSON) of one traced run, which must leave
    no process of its own running once it has exited."""
    # output to files, not pipes: reading a pipe to its end would also
    # wait for any process that inherited it
    with tempfile.TemporaryFile("w+") as out:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(SEED), "--seconds", "12", "--trace",
             "1"], cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, text=True)
        p.wait(timeout=600)
        left = _processes_of(os.path.join(
            ROOT, ".perfbench", f"{workload}-{SEED}-{p.pid}"))
        out.seek(0)
        text = out.read()
    assert not left, f"processes left running: {left}"
    assert p.returncode == 0, text[-4000:]
    result = json.loads(text.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", f"trace-{workload}-{SEED}.json")
    with open(path) as fh:
        return json.load(fh), result


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_exact_counts_repeat(workload):
    (a, ra), (b, _) = _traced(workload), _traced(workload)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(ra["metrics"]) == per_layer
    assert set(a["counts"]) == set(run.WORKLOADS[workload].queries)
    drift = []
    for q, cs in a["counts"].items():
        for k, c in cs.items():
            seen = c["per_pass"] + b["counts"][q][k]["per_pass"]
            if c["label"] == "exact" and len(set(seen)) > 1:
                drift.append((q, k, seen))
    assert not drift, f"counts labelled exact drifted: {drift}"
    for s in a["spans"]:
        assert {"id", "parent", "start_ms", "end_ms", "self_ms"} <= set(s)
        assert s["end_ms"] >= s["start_ms"]
