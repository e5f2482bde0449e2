"""fan_out contract: widen narrow scans, never re-shuffle wide ones, and
take nothing but a bare table scan.

The conditional matters at 100 TB: production scans already plan many
splits, and an unconditional repartition would add a full-corpus
exchange to every per-row-heavy consumer. Both branches are pinned:
the gate-SF single-row-group scan still widens to all cores, and an
already-wide scan passes through untouched (same object, no Exchange
in the plan).
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_spark.plans.explain import plan_shape
from mit_6_5840_mapreduce_spark.sources.tables import fan_out, load_table


def test_fan_out_widens_single_rowgroup_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target, (
        "testdata no longer single-row-group; revisit fan_out")
    assert fan_out(spark, docs).rdd.getNumPartitions() == target


def test_fan_out_passes_wide_input_through(spark, sf_dir, tmp_path):
    """A documents table written as one file per core plans one split
    per file, so the scan is already wide and comes back as is."""
    target = spark.sparkContext.defaultParallelism
    table = pq.read_table(f"{sf_dir}/documents.parquet")
    out_dir = tmp_path / "documents.parquet"
    out_dir.mkdir()
    step = -(-table.num_rows // target)
    for i in range(target):
        pq.write_table(table.slice(i * step, step),
                       out_dir / f"part-{i:03d}.parquet")
    wide = load_table(spark, str(tmp_path), "documents")
    assert wide.rdd.getNumPartitions() >= target
    out = fan_out(spark, wide)
    assert out is wide
    assert "Exchange" not in plan_shape(out)


def _sql(spark, docs, query):
    docs.createOrReplaceTempView("fan_out_docs")
    return spark.sql(query)


# Every frame that is not a bare scan. The DataFrame-API .distinct()
# analyzes to Deduplicate, while SQL DISTINCT / INTERSECT / EXCEPT keep
# their own nodes until the optimizer rewrites them; a scalar subquery
# hides its aggregate inside an expression. The rebalance hint and the
# grouped pandas map plan exchanges under node names a denylist of
# shuffling operators easily misses.
DERIVED = {
    "projection": lambda spark, docs: docs.select("doc_id", "text"),
    "filter": lambda spark, docs: docs.where(F.col("doc_id") >= 0),
    "projection_over_filter": lambda spark, docs: (
        docs.select("doc_id", "text").where(F.col("doc_id") >= 0)),
    "node_names_in_literals": lambda spark, docs: (
        docs.where(F.col("source") != "Union Wire Sort")
        .select("doc_id", F.col("text").alias("JoinText"))),
    "aggregate": lambda spark, docs: docs.groupBy("lang").count(),
    "join": lambda spark, docs: docs.join(docs.select("doc_id"), "doc_id"),
    "repartition": lambda spark, docs: docs.repartition(4),
    "distinct": lambda spark, docs: docs.select("lang").distinct(),
    "scalar_subquery": lambda spark, docs: _sql(
        spark, docs, "SELECT doc_id, text FROM fan_out_docs "
        "WHERE doc_id > (SELECT avg(doc_id) FROM fan_out_docs)"),
    "sql_distinct": lambda spark, docs: _sql(
        spark, docs, "SELECT DISTINCT lang FROM fan_out_docs"),
    "sql_intersect": lambda spark, docs: _sql(
        spark, docs, "SELECT doc_id FROM fan_out_docs WHERE doc_id < 10 "
        "INTERSECT SELECT doc_id FROM fan_out_docs"),
    "sql_except": lambda spark, docs: _sql(
        spark, docs, "SELECT doc_id FROM fan_out_docs "
        "EXCEPT SELECT doc_id FROM fan_out_docs WHERE doc_id < 10"),
    "rebalance_hint": lambda spark, docs: docs.hint("rebalance", "lang"),
    "grouped_pandas_map": lambda spark, docs: (
        docs.groupBy("lang").applyInPandas(lambda pdf: pdf, docs.schema)),
}


@pytest.mark.parametrize("name", sorted(DERIVED))
def test_fan_out_rejects_non_scan_frames(spark, sf_dir, name):
    """Reading .rdd on a plan with exchanges executes the upstream
    stages under AQE, so anything but a bare scan raises, and raises
    before any job runs."""
    docs = load_table(spark, sf_dir, "documents")
    frame = DERIVED[name](spark, docs)
    sc = spark.sparkContext
    group = f"fan_out_rejects_{name}"
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="bare table scan"):
            fan_out(spark, frame)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
