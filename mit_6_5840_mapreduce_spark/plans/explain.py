"""Physical-plan inspection helpers — the engine's scale-discipline API.

Every operator in this repo is expected to satisfy, at any scale factor:

- filters and column pruning reach the parquet scan (``pushed_filters``,
  ``read_schema``)
- its plan shape — shuffles, broadcasts, join kinds, sorts, windows,
  generators, Python nodes and unpartitioned windows — matches the
  committed ledger (``plan_shape``)

tests/test_plans.py builds every registered query once and asserts its
``plan_shape`` equals ``tests/plan_ledger.json``; the same counts carry
the policy checks (no cartesian products, no Python row paths, no
unpartitioned data windows outside their allowlists). A change that
moves a count regenerates the ledger with ``python tools/explain_all.py``
so the diff shows the plan cost.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

# physical node names plan_shape counts under their own name
SHAPE_NODES = frozenset({
    "Exchange", "BroadcastExchange",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "Sort", "Window", "Generate",
})
# nodes where rows cross into a Python worker, counted as "python"
# together with every *EvalPython* node (UDF and UDTF forms)
PYTHON_NODES = frozenset({"MapInPandas", "FlatMapGroupsInPandas"})

# a tree-string line: drawing prefix, optional codegen stage id, name
_NODE_NAME = re.compile(r"[\s:+|-]*(?:\*\(\d+\)\s*)?(\w+)")


def executed_plan(df: DataFrame) -> str:
    """String form of the (possibly adaptive, pre-execution) physical plan."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') text, including scan details."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lines from every scan node (one string per scan)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line[len("PushedFilters:"):].strip())
    return out


def read_schema(df: DataFrame) -> list[str]:
    """ReadSchema lines from every scan node."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line[len("ReadSchema:"):].strip())
    return out


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Node counts of the physical plan: the AQE initial plan with its
    subqueries and the plans of the cached relations it scans, as the
    tree string prints them. Keys are the ``SHAPE_NODES`` names (a
    shuffle is ``Exchange``; a reused exchange is not counted),
    ``python`` (``*EvalPython*`` and ``PYTHON_NODES``) and
    ``unpartitioned_window`` (``unpartitioned_window_lines``). Only
    non-zero counts appear, in key order, so the dict is its own
    ledger entry."""
    return _shape(executed_plan(df))


def _shape(plan: str) -> dict[str, int]:
    """``plan_shape`` of a plan's tree-string text."""
    shape: Counter[str] = Counter()
    initial = []
    # A cached relation that has already been computed prints its AQE
    # plan as a "== Final Plan ==" section (runtime re-planned) followed
    # by an "== Initial Plan ==" section; sections nest like brackets,
    # so skip every final section and count initial plans only.
    in_final = 0
    for line in plan.splitlines():
        if "== Final Plan ==" in line:
            in_final += 1
        elif "== Initial Plan ==" in line:
            in_final -= 1
        elif not in_final:
            initial.append(line)
    for line in initial:
        m = _NODE_NAME.match(line)
        name = m.group(1) if m else ""
        if name in SHAPE_NODES:
            shape[name] += 1
        elif "EvalPython" in name or name in PYTHON_NODES:
            shape["python"] += 1
    shape["unpartitioned_window"] = len(
        unpartitioned_window_lines("\n".join(initial)))
    return {k: v for k, v in sorted(shape.items()) if v}


def _top_level_bracket_groups(line: str, start: int) -> list[str]:
    """Top-level ``[...]`` group contents of a plan line from ``start``
    (nested brackets inside windowspecdefinition etc. stay inside their
    group)."""
    groups: list[str] = []
    depth = 0
    buf: list[str] = []
    for ch in line[start:]:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def unpartitioned_window_lines(plan: str) -> list[str]:
    """Physical ``Window`` nodes whose partition spec is EMPTY — i.e. a
    single-task global sort feeding the window (Spark's own WindowExec
    warning class). At 100x data this is the scale-killer: data-
    cardinality rows all flow through ONE partition. Detection: the
    node prints ``Window [funcs], [partitionSpec], [orderSpec]`` when
    partitioned (3 top-level bracket groups) but ``Window [funcs],
    [orderSpec]`` when not (2 groups), and ``Window [funcs]`` when BOTH
    specs are empty (1 group — an unordered global window, which still
    plans Exchange SinglePartition and is flagged). A 2-group node
    whose last group is a partition spec (partition-only window, no
    ordering — e.g. a per-group count) carries no ASC/DESC tokens and
    is NOT flagged: it hash-partitions like any groupBy. Returns the
    offending lines of the plan text."""
    out = []
    for line in plan.splitlines():
        for marker in ("Window [", "WindowInPandas ["):
            i = line.find(marker)
            if i < 0:
                continue
            groups = _top_level_bracket_groups(line, i)
            if len(groups) >= 3:
                continue            # funcs, partitionSpec, orderSpec
            if len(groups) == 1:
                out.append(line.strip())
            elif len(groups) == 2 and (" ASC" in groups[-1]
                                       or " DESC" in groups[-1]):
                out.append(line.strip())
    return out
