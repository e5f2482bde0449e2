"""Deterministic cross-engine hashes.

The dedup/sketch operators (MinHash, SimHash, fingerprints) need a hash
that DuckDB computes identically so the driver's oracle check can verify
values, not just row counts. ``md5`` is the one hash both engines share
bit-for-bit; we derive fixed-width integers from its hex prefix:

- Spark : ``CAST(conv(substring(md5(x), 1, W), 16, 10) AS BIGINT)``
- DuckDB: ``CAST(concat('0x', substring(md5(x), 1, W)) AS BIGINT)``

W=8 gives a 32-bit value (safe for multiply-mod MinHash permutations
without BIGINT overflow); W=15 gives 60 bits (fingerprints).

At 100 TB these stay entirely inside whole-stage codegen (built-in md5 /
conv / substring) — no Python crosses the row path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int32(col: Column) -> Column:
    """32-bit unsigned int from the first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_int60(col: Column) -> Column:
    """60-bit int from the first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
