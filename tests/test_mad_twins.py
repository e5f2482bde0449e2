"""Pin the two MAD formulations to each other.

``user_value_mad_sql`` (JVM percentile, the scale path) and
``user_value_mad`` (Arrow grouped-map, the escape-hatch demo) must agree
bit-for-bit: medians are order statistics (or the midpoint of two stored
doubles), so there is no float-order hazard to tolerate away.
"""

from __future__ import annotations

from mit_6_5840_mapreduce_spark.operators.events import (
    user_value_mad,
    user_value_mad_sql,
)
from mit_6_5840_mapreduce_spark.plans import plan_shape


def _rows(df):
    return sorted(
        (r.user_id, r.n_events, r.median_value, r.mad_value)
        for r in df.collect())


def test_mad_twins_agree_exactly(spark, sf_dir):
    assert _rows(user_value_mad_sql(spark, sf_dir)) == \
        _rows(user_value_mad(spark, sf_dir))


def test_mad_sql_twin_stays_jvm_side(spark, sf_dir):
    assert "python" not in plan_shape(user_value_mad_sql(spark, sf_dir))
