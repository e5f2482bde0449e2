"""Unit tests for the physical-plan text parsers (no Spark).

The unpartitioned-window audit rule rests on the shape of Spark's
`Window [funcs], [partitionSpec], [orderSpec]` node string, and the
plan-shape ledger on the node names of the tree string; these pin both
parsers on captured plan shapes so a regression in the parsing (not
just the rule) fails loudly and cheaply.
"""

from __future__ import annotations

from mit_6_5840_mapreduce_spark.plans.explain import (
    _shape,
    _top_level_bracket_groups,
    unpartitioned_window_lines,
)

# captured from real Spark 4 executed plans (ids elided)
UNPARTITIONED = (
    "+- Window [ntile(4) windowspecdefinition(cents#1L DESC NULLS LAST, "
    "o_custkey#2L ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
    "unboundedpreceding$(), currentrow$())) AS quartile#3], "
    "[cents#1L DESC NULLS LAST, o_custkey#2L ASC NULLS FIRST]"
)
PARTITIONED = (
    "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC NULLS "
    "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
    "currentrow$())) AS r#9], [g#1L], [id#0L ASC NULLS FIRST]"
)
# partition-only window agg (no ordering): hash-partitions like groupBy
PARTITION_ONLY = (
    "+- Window [count(1) windowspecdefinition(group_id#5L, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
    "unboundedfollowing$())) AS group_size#7L], [group_id#5L]"
)
# fully-global window: over () — empty partition AND order spec; Spark
# prints a single bracket group yet still plans Exchange SinglePartition
GLOBAL_UNORDERED = (
    "+- Window [count(1) windowspecdefinition(specifiedwindowframe("
    "RowFrame, unboundedpreceding$(), unboundedfollowing$())) "
    "AS total#11L]"
)


def test_bracket_parser_counts_top_level_groups():
    assert len(_top_level_bracket_groups(UNPARTITIONED,
                                         UNPARTITIONED.find("Window ["))) == 2
    assert len(_top_level_bracket_groups(PARTITIONED,
                                         PARTITIONED.find("Window ["))) == 3
    assert len(_top_level_bracket_groups(PARTITION_ONLY,
                                         PARTITION_ONLY.find("Window ["))) == 2


def test_rule_flags_only_ordered_unpartitioned_windows():
    plan = "\n".join(["AdaptiveSparkPlan isFinalPlan=false",
                      UNPARTITIONED, PARTITIONED, PARTITION_ONLY,
                      "+- Exchange SinglePartition"])
    got = unpartitioned_window_lines(plan)
    assert got == [UNPARTITIONED.strip()]


def test_rule_flags_global_unordered_windows():
    """A 1-group Window (empty partition AND order spec) funnels all
    rows through one task just like the ordered form — flagged."""
    assert len(_top_level_bracket_groups(
        GLOBAL_UNORDERED, GLOBAL_UNORDERED.find("Window ["))) == 1
    plan = "\n".join([GLOBAL_UNORDERED, PARTITIONED, PARTITION_ONLY])
    assert unpartitioned_window_lines(plan) == [GLOBAL_UNORDERED.strip()]


def test_rule_ignores_plans_without_windows():
    assert unpartitioned_window_lines(
        "+- HashAggregate(keys=[a#1], functions=[count(1)])\n"
        "   +- Exchange hashpartitioning(a#1, 32)") == []


def test_windowinpandas_is_covered():
    line = ("+- WindowInPandas [pudf(v#2) AS out#3], "
            "[ts#4 ASC NULLS FIRST]")
    assert unpartitioned_window_lines(line) == [line.strip()]
    part = ("+- WindowInPandas [pudf(v#2) AS out#3], [k#1], "
            "[ts#4 ASC NULLS FIRST]")
    assert unpartitioned_window_lines(part) == []



# a cached relation computed before the plan was taken prints its AQE
# plan twice: the runtime final plan, then the initial plan
CACHED_FINAL_AND_INITIAL = """\
AdaptiveSparkPlan isFinalPlan=false
+- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false
   :- *(1) Filter isnotnull(k#1)
   :  +- InMemoryTableScan [k#1]
   :        +- InMemoryRelation [k#1], StorageLevel(disk, memory, 1 replicas)
   :              +- AdaptiveSparkPlan isFinalPlan=true
                     +- == Final Plan ==
                        ResultQueryStage 1
                        +- ShuffleQueryStage 0
                           +- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM
                              +- *(1) ColumnarToRow
                                 +- FileScan parquet [k#1]
                     +- == Initial Plan ==
                        Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM
                        +- FileScan parquet [k#1]
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
      +- WindowGroupLimit [k#2], [v#3 DESC NULLS LAST], row_number(), 1
         +- Sort [k#2 ASC NULLS FIRST, v#3 DESC NULLS LAST], false, 0
            +- ReusedExchange [k#2, v#3], Exchange hashpartitioning(k#2, 10)
"""


def test_plan_shape_counts_initial_plan_nodes_by_name():
    """Final-plan sections are skipped, codegen ids and tree prefixes
    are stripped, and only exact node names count: a ReusedExchange is
    no shuffle and a WindowGroupLimit is no Window."""
    assert _shape(CACHED_FINAL_AND_INITIAL) == {
        "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 1,
        "Sort": 1}


def test_plan_shape_counts_python_nodes_and_unpartitioned_windows():
    plan = "\n".join([
        "*(2) Project [doc_id#1L]",
        "+- BatchEvalPythonUDTF chunk_docs_udtf(doc_id#1L)#5, [text#2]",
        "   +- MapInPandas <lambda>(a#1)#4, [b#2], false",
        "      +- ArrowEvalPython [f(a#1)#3], [pythonUDF0#9], 200",
        UNPARTITIONED, PARTITIONED])
    assert _shape(plan) == {"Window": 2, "python": 3,
                            "unpartitioned_window": 1}


def _ntile_reference(n: int, k: int = 4) -> list[int]:
    """SQL-standard ntile assignment: first n % k buckets take
    ceil(n/k) rows, the rest floor(n/k)."""
    q, rem = divmod(n, k)
    out = []
    for b in range(1, k + 1):
        out.extend([b] * (q + 1 if b <= rem else q))
    return out


def test_cvq_closed_form_matches_ntile_semantics():
    """customer_value_quartiles derives ntile(4)/percent_rank from
    (rank, N) by closed-form integer arithmetic instead of a global
    window; pin the formula against the SQL-standard definition for
    every N up to 200 (covers all four n%4 residues, N<4, N=1)."""
    for n in range(1, 201):
        q_sz, rem = divmod(n, 4)
        thresh = rem * (q_sz + 1)
        want = _ntile_reference(n)
        for r in range(1, n + 1):
            if r <= thresh:
                got = (r - 1) // (q_sz + 1) + 1
            else:
                got = rem + (r - thresh - 1) // max(q_sz, 1) + 1
            assert got == want[r - 1], (n, r)
            # percent_rank over a unique ordering = (r-1)/(N-1), 0 if N=1
            pr = (r - 1) / max(n - 1, 1)
            assert 0.0 <= pr <= 1.0
