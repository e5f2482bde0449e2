from mit_6_5840_mapreduce_spark.streaming.jobs import (  # noqa: F401
    click_purchase_attribution_batch,
    click_purchase_attribution_stream,
    read_events_stream,
    run_stream_to_memory,
    sessionized_stream,
    stream_shuffle_partitions,
    user_running_totals_stream,
    windowed_counts_stream,
)
