"""Plan-shape ledger: build every registered query at sf0.001, in a
session built like tests/conftest.py, and write each query's
``plan_shape`` (shuffles, broadcasts, join kinds, sorts, windows,
generators, Python nodes, unpartitioned windows) to
tests/plan_ledger.json, one sorted line per query.

    python tools/explain_all.py

tests/test_plans.py rebuilds the same shapes and fails on any
difference, so a change that moves a plan count regenerates the ledger
in the same commit and its diff shows the plan cost."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mit_6_5840_mapreduce_spark.plans.explain import plan_shape
from mit_6_5840_mapreduce_spark.session import get_spark

import __spark_entry__ as entrymod

LEDGER_PATH = os.path.join(ROOT, "tests", "plan_ledger.json")
# broadcast choices follow the input sizes, so the ledger has ONE scale
LEDGER_SF_DIR = "/root/testdata/sf0.001"


def registry_shapes(spark) -> dict[str, dict[str, int]]:
    """``plan_shape`` of every registered query, each built once on an
    empty cache so no frame persisted by an earlier build (or test)
    changes the plan."""
    shapes = {}
    for name, fn in entrymod.queries().items():
        spark.catalog.clearCache()
        shapes[name] = plan_shape(fn(spark, LEDGER_SF_DIR))
    return shapes


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("explain-all", shuffle_partitions=10,
                      extra_conf={"spark.master": "local[4,2]"})
    shapes = registry_shapes(spark)
    spark.stop()
    with open(LEDGER_PATH, "w") as out:
        out.write("{\n" + ",\n".join(
            f"{json.dumps(name)}: {json.dumps(shapes[name])}"
            for name in sorted(shapes)) + "\n}\n")
    print(f"{len(shapes)} queries -> {LEDGER_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
