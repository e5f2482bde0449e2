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
    """Spread a bare table scan across all cores before per-row-heavy
    compute. The test corpus stores each table as ONE parquet row
    group, which Spark cannot split, so without this a compute-bound
    stage runs on a single core however many are free. The repartition
    fires only when the scan plans fewer splits than the cluster has
    cores: production inputs arrive as many files and are already wide,
    and re-shuffling them would buy nothing.

    ``df`` must be a bare file scan, as ``load_table`` returns for every
    table but ``events`` (whose timestamp fix-up is a projection): the
    split count is read from ``.rdd``, which is free on a scan (file
    listing only) but executes upstream stages under AQE on a plan with
    exchanges. Anything else raises."""
    root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    if root != "LogicalRelation":
        raise ValueError(
            f"fan_out requires a bare table scan (load_table); got a plan "
            f"rooted at {root} — probing .rdd here could execute upstream "
            f"stages under AQE")
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
