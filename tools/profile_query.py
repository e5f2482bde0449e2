"""Time named registered queries with bench.py's timing protocol: the
same warm-up, then each query as the median of ``bench.REPEAT`` runs
(clearCache + noop sink per run, ``bench.time_query``).

Usage:
    python tools/profile_query.py <sf_dir> query [query ...]

Prints one "<query> <median> (min <s> max <s>)" line per query. An
unknown query name exits 2 before any session starts. For plans use
``tools/run_query.py --explain``; plan shapes are pinned by
``tests/plan_ledger.json``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from mit_6_5840_mapreduce_spark.operators import registry
from mit_6_5840_mapreduce_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    queries, _ = registry()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"ERROR: unknown queries {unknown}")
        return 2
    spark = get_spark("profile")
    bench.warm_up(spark, queries, sf_dir)
    for name in names:
        _, spread = bench.sweep(spark, queries, (name,), sf_dir)
        lo, med, hi = spread[name]
        print(f"{name} {med} (min {lo} max {hi})", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
