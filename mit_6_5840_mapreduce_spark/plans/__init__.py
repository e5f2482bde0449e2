from mit_6_5840_mapreduce_spark.plans.explain import (  # noqa: F401
    executed_plan,
    formatted_plan,
    plan_shape,
    pushed_filters,
    read_schema,
)
