"""Pin the registry's first-50 window composition.

The external CORRECTNESS gate verifies only the FIRST 50 registry
entries per round. Policy: the four sentinels every round; then every
query whose plan, values or oracle changed since its last
certification; then the stalest certs from tools/window_plan.py,
oldest round first with name tiebreak. Docstring/comment-only edits do
NOT re-certify. This test fails loudly if a registration reorders the
window.
"""

from __future__ import annotations

from mit_6_5840_mapreduce_spark.operators import (
    WINDOW_FIRST, WINDOW_SIZE, registry,
)

# regression sentinels: in-window EVERY round
SENTINELS = {"mr_wc", "mr_wc_rdd", "dedup_exact", "stream_hourly_counts"}

# changed since their last certification: the streams (one availableNow
# runner), the RDD MapReduce jobs (one shuffle instead of two), the
# scrub_positions consumers (bigint position mask), the quality
# trainer family (fan_out lands on the scan, below the feature work) and
# the capped shingle-index consumers (one cap_bucket_population filter,
# per-document surviving sizes)
CHANGED = {
    "stream_sliding_counts", "stream_dedup_events", "stream_user_totals",
    "stream_enriched_events", "stream_foreachbatch_roundtrip",
    "stream_topk_event_types", "stream_topk_stateful",
    "stream_sessionize", "stream_attribution", "stream_cdc_upsert",
    "mr_wc_assoc", "mr_indexer_rdd",
    "dedup_span_scrub", "decontaminate_span_scrub", "epoch_assembly",
    "quality_train", "quality_classify", "quality_eval_holdout",
    "dedup_ngram_jaccard_capped", "shingle_containment_capped",
    "dedup_groups_capped", "dedup_keep_best_capped",
}

# staleness rotation: the r9 certs not already changed above ...
STALE_R9 = {
    "image_phash", "image_phash_neardup", "ivfpq_search",
    "media_features", "mr_indexer", "mv_incremental_refresh",
    "pq_encode", "pq_search", "q11_important_stock",
    "q9_product_type_profit", "quality_ensemble", "similarity_triangles",
    "skyline_pareto", "source_mix_weights", "table_diff",
    "temperature_resample", "user_event_unpivot",
    "user_growth_accounting", "user_scd2", "user_value_outliers",
    "zorder_layout_stats",
}

# ... then the first r10 certs in name order
STALE_R10_HEAD = {"dedup_fuzzy_verify", "dedup_groups", "dedup_keep_best"}

MUST_BE_IN_WINDOW = SENTINELS | CHANGED | STALE_R9 | STALE_R10_HEAD


def test_first_window_contains_the_must_list():
    queries, _ = registry()
    window = list(queries)[:WINDOW_SIZE]
    missing = MUST_BE_IN_WINDOW - set(window)
    assert not missing, f"outside driver window: {sorted(missing)}"


def test_window_is_exactly_the_must_list():
    # 4 + 22 + 21 + 3 = 50: no free slots
    assert len(MUST_BE_IN_WINDOW) == WINDOW_SIZE


def test_window_list_matches_registry_order():
    queries, _ = registry()
    assert list(queries)[:WINDOW_SIZE] == list(WINDOW_FIRST)


def test_registry_queries_pin_utc_timezone(spark, sf_dir):
    """A caller with a non-UTC session must get identical results: the
    registry wrapper pins the session TZ before running (the events
    nanos->NTZ conversion renders instants through the session TZ)."""
    import __spark_entry__ as entrymod
    q = entrymod.queries()["latest_event_per_user"]
    baseline = {(r.user_id, r.ts) for r in q(spark, sf_dir).collect()}
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = {(r.user_id, r.ts) for r in q(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert got == baseline


def test_registry_queries_pin_ansi_mode(spark, sf_dir):
    """ADVICE r8: row_units' loud-overflow contract requires ANSI. The
    registry wrapper must re-enable it even when the caller's session
    (the driver builds its own) has it off."""
    import __spark_entry__ as entrymod
    q = entrymod.queries()["mr_wc"]
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        q(spark, sf_dir).collect()
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_alias_resolves_to_target():
    """`embedding_neardup` (driver-certified under the alias name in
    round 5) must still resolve to the same callable and oracle as its
    target."""
    queries, oracles = registry()
    assert queries["embedding_neardup"] is queries["embedding_neardup_exact"]
    assert oracles["embedding_neardup"] == oracles["embedding_neardup_exact"]
