"""MR-compat layer: the reference's MapReduce data plane as a thin RDD
pipeline (SURVEY.md §2.1 rows 1-9, §7.1 layer 1).

Semantics preserved exactly (reference citations):

- input record = whole document ``(name, contents)``
  (``src/mr/worker.go:112-125``)
- ``mapf(name, contents) -> list[(key, value)]`` applied per document,
  outputs concatenated (``src/mr/worker.go:71-73``) — a flatMap
- shuffle partitions by key hash into ``n_reduce`` buckets
  (``src/mr/worker.go:32-36,127-146``); FNV-32a provided for layout
  parity, though the correctness contract is partition-layout-independent
  (``src/main/test-mr.sh:103-104`` compares the sorted union)
- ``reducef(key, values) -> str`` sees ALL values for its key in one call
  (``src/mr/worker.go:176-192``) — groupByKey, deliberately NOT
  reduceByKey; value order within a group is unspecified, exactly like
  the reference (Go sort instability + arbitrary map-task interleaving)
- output: per-partition key-sorted lines ``"key value"``
  (``src/mr/worker.go:170,189``)

Spark's scheduler supplies the whole control plane the reference
hand-rolls (coordinator/worker RPC, heartbeats, requeue — §2.1 rows
10-18) with strictly stronger fault tolerance (lineage recomputation).

Scale notes: groupByKey materializes one key's values on one executor —
the reference's own memory model (its reducer gets ``[]string`` too).
For reducers DECLARED associative the layer offers the bounded-memory
fast path (round 8, VERDICT r7 item 8): pass ``combinef`` (and
optionally ``finalizef``) to ``mr_run`` and the shuffle becomes a
``reduceByKey`` with map-side combining — per-key executor state is
O(1) partials instead of every occurrence. The plain ``reducef``
CANNOT be auto-combined: the reference's own apps count by
``len(values)`` (``src/mrapps/wc.go:37-40``), which is not a fold of
its own outputs — hence the explicit declared pair, parity-pinned
against the groupByKey path by tests/test_mr_associative.py.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark import RDD, SparkContext
from pyspark.sql import SparkSession

MapF = Callable[[str, str], list[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]

FNV_OFFSET32 = 2166136261
FNV_PRIME32 = 16777619


def ihash(key: str) -> int:
    """FNV-32a of the key, masked to 31 bits (``src/mr/worker.go:32-36``)."""
    h = FNV_OFFSET32
    for b in key.encode("utf-8"):
        h ^= b
        h = (h * FNV_PRIME32) & 0xFFFFFFFF
    return h & 0x7FFFFFFF


CombineF = Callable[[str, str], str]
FinalizeF = Callable[[str, str], str]


def mr_run(
    spark: SparkSession,
    mapf: MapF,
    reducef: ReduceF | None,
    inputs: Sequence[tuple[str, str]] | RDD,
    n_reduce: int = 10,
    combinef: CombineF | None = None,
    finalizef: FinalizeF | None = None,
) -> RDD:
    """Run a MapReduce job; returns an RDD of output lines ``"key value"``,
    key-sorted within each of the ``n_reduce`` partitions.

    ``inputs``: (name, contents) pairs — a Python sequence or a pair-RDD
    (e.g. from ``sc.wholeTextFiles``).

    Declared-associative fast path (round 8): passing ``combinef``
    switches the shuffle from groupByKey to ``reduceByKey(combinef)``
    — Spark combines map-side, so no executor ever holds more than one
    partial per key per partition (the 100 TB memory envelope
    docs/SCALE.md describes; the groupByKey path's per-key state is
    unbounded BY SPEC, since the reference's reducer sees every
    value). ``combinef(v1, v2)`` must be associative+commutative on
    the app's value strings; ``finalizef(key, merged)`` (default:
    identity) converts the merged partial to the output line value.
    The caller declares equivalence with the ``reducef`` path —
    tests/test_mr_associative.py pins it for every shipped app.
    """
    from mit_6_5840_mapreduce_spark.session import attach_package
    attach_package(spark)   # closures reference this package on executors

    sc: SparkContext = spark.sparkContext
    if not isinstance(inputs, RDD):
        inputs = sc.parallelize(list(inputs),
                                numSlices=max(1, min(len(inputs), n_reduce)))

    def apply_map(rec: tuple[str, str]) -> Iterable[tuple[str, str]]:
        return mapf(rec[0], rec[1])

    mapped = inputs.flatMap(apply_map)                        # map phase

    if combinef is not None:
        fin = finalizef if finalizef is not None else (lambda k, v: v)
        reduced = (
            mapped
            .reduceByKey(combinef, numPartitions=n_reduce,
                         partitionFunc=ihash)         # map-side combine
            .map(lambda kv: (kv[0], fin(kv[0], kv[1])),
                 preservesPartitioning=True)
        )
    else:
        if reducef is None:
            raise ValueError("mr_run needs reducef or combinef")

        def apply_reduce(kv: tuple[str, Iterable[str]]) -> tuple[str, str]:
            key, values = kv
            return key, reducef(key, list(values))

        reduced = (
            mapped
            .groupByKey(numPartitions=n_reduce,
                        partitionFunc=ihash)          # shuffle+group
            .map(apply_reduce,
                 preservesPartitioning=True)          # reduce phase
        )

    return (
        reduced
        .repartitionAndSortWithinPartitions(
            numPartitions=n_reduce, partitionFunc=ihash)      # output order
        .map(lambda kv: f"{kv[0]} {kv[1]}")                   # text lines
    )


def collect_output(out: RDD) -> list[str]:
    """The harness-side canonical form: sorted union of all partitions
    (``src/main/test-mr.sh:103-104``: ``sort mr-out* | grep .``)."""
    return sorted(line for line in out.collect() if line)
