"""Optimization-round measurement harness (guide §1): time named
queries with THE bench timing protocol (clearCache + noop sink), dump
``explain("formatted")`` to a file, and label jobs so the UI/event log
is readable.

Usage:
    python tools/profile_query.py <sf_dir> <out_dir> query [query ...]
    python tools/profile_query.py <sf_dir> --time-only query [query ...]

Writes <out_dir>/<query>.txt with the formatted plan and prints one
"<query> <seconds>" line per query (median of 3 runs — same stat as
bench.py).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mit_6_5840_mapreduce_spark.session import get_spark

import __spark_entry__ as entrymod

REPEAT = 3


def main() -> int:
    sf_dir = sys.argv[1]
    out_dir = sys.argv[2]
    names = sys.argv[3:]
    queries = entrymod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"ERROR: unknown queries {unknown}")
        return 2
    spark = get_spark("profile")
    # warm-up (bench protocol: JIT/codegen paid before measurement)
    queries["q4_order_priority"](spark, sf_dir).write.mode(
        "overwrite").format("noop").save()
    for name in names:
        if out_dir != "--time-only":
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        runs = []
        for _ in range(REPEAT):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
            runs.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        print(f"{name} {round(statistics.median(runs), 3)} "
              f"(min {round(min(runs), 3)} max {round(max(runs), 3)})",
              flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
