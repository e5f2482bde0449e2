"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads),
but every knob here is chosen to also be the right default on a large
multi-executor cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- explicit shuffle partitioning (``shuffle_partitions``, default one per
  core)
- Arrow-based transfer for the few Pandas-UDF code paths
- broadcast threshold left at default so Catalyst auto-broadcasts any
  side its scan-derived estimates say fits (and degrades SF-growing
  sides to shuffle joins at scale); operators additionally hint
  ``broadcast()`` ONLY for cardinality-BOUNDED frames — fixed dims,
  model-sized tables, 1-row totals (the r7 policy, docs/SCALE.md).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_ATTACHED_SESSIONS: set[str] = set()


def attach_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    RDD closures and mapInPandas functions reference this module by name;
    cloudpickle serializes them by reference, so Python workers must be
    able to import the package regardless of the driver's cwd/sys.path.
    Idempotent per session — keyed on applicationId, which is stable for
    a context's lifetime and never reused the way id(spark) can be after
    a stopped session is garbage-collected.
    """
    if spark.sparkContext.applicationId in _ATTACHED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"{pkg_name}_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        arc = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, arc)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _ATTACHED_SESSIONS.add(spark.sparkContext.applicationId)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "mit-6-5840-mapreduce-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # functions/numeric.row_units' overflow-stays-LOUD contract (a
        # row past DECIMAL(18,0) must raise, not silently become NULL
        # and drop out of a money sum) requires ANSI mode. Spark 4.x
        # defaults it on; pin it so the contract survives deployments
        # and versions where the default is off (ADVICE r8).
        .config("spark.sql.ansi.enabled", "true")
        # bound StreamingQuery.stop() so a wedged availableNow
        # micro-batch fails loudly instead of hanging the caller
        # (default stopTimeout=0 joins the stream thread forever)
        .config("spark.sql.streaming.stopTimeout", "30s")
        # the reference's jobcount test requires exactly-once task
        # execution absent failures (SURVEY.md section 2.5.2)
        .config("spark.speculation", "false")
        .config("spark.ui.enabled", "false")
        # the console progress bar interleaves \r-redrawn lines with
        # stdout (it mangles tools/parity.py's per-query OK lines)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    attach_package(spark)
    return spark
