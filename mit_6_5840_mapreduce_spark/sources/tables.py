"""Parquet table sources for the driver-generated TPC-H-ish corpus.

At 100 TB these reads are the dominant cost; everything here is a plain
``spark.read.parquet`` so Catalyst keeps predicate pushdown, column pruning
and partition pruning (verify with ``.explain``: ``PushedFilters`` /
``ReadSchema`` must reflect the query, not the table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize_event_ts(df: DataFrame, target: str = "timestamp_ntz"
                       ) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS). Spark <= 4.0 rejects it
    unless spark.sql.legacy.parquet.nanosAsLong is set, which then yields
    BIGINT nanos; Spark >= 4.1 reads it natively as TIMESTAMP_NTZ at
    microsecond precision and ignores the legacy conf. The corpus has
    microsecond precision, so both paths are lossless and identical.
    Handle whichever type the reader produced."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    if isinstance(df.schema["ts"].dataType, LongType):
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:
        ts = F.col("ts")
    return df.withColumn("ts", ts.cast(target))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # no-op on Spark >= 4.1 (see normalize_event_ts); required before
        # the read on <= 4.0
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a scan across all cores before per-row-heavy compute
    (tokenize/shingle/hash/project). The driver testdata writes each
    table as ONE parquet row group, which Spark cannot split — so without
    this, a compute-bound stage runs on a single core no matter how many
    are free.

    CONDITIONAL (r7): the repartition only fires when the scan plans
    fewer splits than the cluster has cores. At production scale inputs
    arrive as many files/row groups and the scan is already wide — the
    old unconditional form would re-shuffle the ENTIRE corpus once per
    consumer (a 100 TB exchange that buys nothing), the exact class
    docs/SCALE.md forbids. The partition count comes from the driver's
    split planning (file listing only, no job), so the check is free —
    but ONLY for scan-shaped inputs (projections/filters over a file
    relation): with AQE enabled, ``.rdd`` on a plan containing
    exchanges eagerly EXECUTES the upstream query stages at plan time
    (ADVICE r7). The precondition is therefore enforced, not assumed:
    a derived frame raises instead of silently triggering execution."""
    # Walk the analyzed logical plan via py4j and test node CLASS names
    # (ADVICE r8): the previous rendered-string prefix match depended on
    # the tree's toString format, which can drift across Spark versions
    # (renamed nodes slipping past, new nodes sharing a banned prefix).
    # Class simple names are the node identities themselves.
    # Distinct/Intersect/Except survive ANALYSIS (their rewrites to
    # Aggregate/joins run in the OPTIMIZER), so an analyzed-plan walk
    # must ban them by their own names too (ADVICE r9: a SQL
    # `SELECT DISTINCT` input passed the guard and the .rdd probe
    # silently executed the aggregate-equivalent shuffle)
    banned = {"Join", "Aggregate", "Repartition", "RepartitionByExpression",
              "Window", "Sort", "Union", "Deduplicate", "GlobalLimit",
              "LocalLimit", "Generate", "Distinct", "Intersect", "Except"}
    seen: set[str] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        seen.add(node.getClass().getSimpleName())
        # children() alone misses plans nested in EXPRESSIONS (scalar /
        # IN subqueries) — which the pre-r9 rendered-string scan did
        # cover; subqueries() collects exactly those plan-expression
        # subtrees, closing the silent-execution hole for e.g.
        # WHERE x > (SELECT avg(x) ...) inputs (r9 review)
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    hit = sorted(banned & seen)
    if hit:
        raise ValueError(
            f"fan_out requires a scan-only input (projections/filters "
            f"over a file relation); got a plan containing {hit} — "
            f"probing .rdd here would execute upstream stages under AQE")
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
