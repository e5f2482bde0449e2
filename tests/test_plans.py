"""Physical-plan quality gates — the 100 TB discipline, asserted.

A query that is correct but plans a cartesian product, skips predicate
pushdown, or drags Python into the row path will pass the oracle check and
then fall over at scale; these tests pin the plan shape instead.

Every registered query is built ONCE per run (``shapes``) and its
``plan_shape`` must equal tests/plan_ledger.json: a change that adds a
shuffle, swaps a broadcast for a sort-merge join or brings back a
removed sort fails here until ``python tools/explain_all.py``
regenerates the ledger, and the ledger diff shows the cost. The policy
sets below read the same counts. The remaining tests pin what a count
cannot express: pushed filters, pruned columns, join types and
partitioning kinds.
"""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entrymod
from mit_6_5840_mapreduce_spark.plans import (
    executed_plan,
    pushed_filters,
    read_schema,
)
from tools.explain_all import LEDGER_PATH, registry_shapes

QUERIES = entrymod.queries()

# queries that deliberately cross into Python (Arrow-batched mapInPandas
# / grouped applyInPandas)
PYTHON_PATH_OK = {"multimodal_meta", "frame_sample", "user_value_mad",
                  "media_features", "payload_thumbnail",
                  "image_decode_stats", "audio_decode_stats",
                  "gif_decode_stats", "video_frame_stats",
                  "embedding_topk_pandas", "media_decode_stats",
                  "image_phash", "image_phash_neardup",  # decoded-pixel
                                       # sketch: real codec in the batch
                  "hnsw_search",       # per-shard graph build/search is
                                       # numpy inside one applyInPandas
                  "hnsw_search_persisted",   # cogroup search over the
                                             # persisted adjacency
                  "doc_chunks_udtf",   # UDTF API demo; JVM doc_chunks
                                       # is the scale path
                  "skyline_pareto"}    # partition-local skyline is
                                       # vectorized numpy per Arrow batch
# tiny-side cross joins (broadcast) are fine; a plain cartesian is not.
# lsh_recall_eval embeds the exact anchor as its TRUTH side (audit-only
# query, same quarantine).
CARTESIAN_OK = {"embedding_neardup_exact", "embedding_neardup",
                "lsh_recall_eval"}
# unpartitioned (global-sort) Window nodes allowed ONLY where the frame
# is calendar-bounded (one row per day/hour/month — grows with the
# calendar, not the data).
GLOBAL_WINDOW_OK = {"user_growth_accounting", "orders_monthly_growth",
                    "daily_revenue_trailing", "hourly_burst_detection"}


@pytest.fixture(scope="module")
def shapes(spark):
    """``plan_shape`` of every registered query at the ledger's scale
    (pinned, not $SPARK_GRAFT_TEST_SF_DIR: broadcast choices follow the
    input sizes), each built once on an empty cache."""
    return registry_shapes(spark)


def flagged(shapes, key):
    return {name for name, shape in shapes.items() if key in shape}


def q(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir)


def test_plan_shapes_match_ledger(shapes):
    with open(LEDGER_PATH) as f:
        ledger = json.load(f)
    moved = {name: {"ledger": ledger.get(name), "now": shapes.get(name)}
             for name in sorted(set(ledger) | set(shapes))
             if ledger.get(name) != shapes.get(name)}
    assert not moved, (
        "plan shapes differ from tests/plan_ledger.json (regenerate with "
        f"`python tools/explain_all.py` if intended): {moved}")


def test_no_cartesian_products_anywhere(shapes):
    extra = flagged(shapes, "CartesianProduct") - CARTESIAN_OK
    assert not extra, f"{sorted(extra)} plan a CartesianProduct"


def test_queries_avoid_python_row_path(shapes):
    extra = flagged(shapes, "python") - PYTHON_PATH_OK
    assert not extra, f"{sorted(extra)} have a Python row path"


def test_no_unpartitioned_data_windows(shapes):
    """No query may plan a Window with an empty partition spec over
    data-cardinality rows — that is a single-task global sort at 100x
    (the customer_value_quartiles class). Calendar-bounded spines are
    the only allowed frames, and the allowlist must be EXACT: an entry
    whose query no longer plans a global window is stale cover a future
    regression could hide under."""
    assert flagged(shapes, "unpartitioned_window") == GLOBAL_WINDOW_OK


def test_q6_pushes_filters_to_scan(spark, sf_dir):
    filters = pushed_filters(q(spark, sf_dir, "q6_forecast_revenue"))
    assert any("l_shipdate" in f for f in filters)
    assert any("l_quantity" in f for f in filters)


def test_q6_prunes_columns(spark, sf_dir):
    schemas = read_schema(q(spark, sf_dir, "q6_forecast_revenue"))
    assert schemas, "no scan found"
    joined = " ".join(schemas)
    # only the 4 referenced columns are read, not all 11
    assert "l_orderkey" not in joined
    assert "l_returnflag" not in joined
    assert "l_extendedprice" in joined


def test_mr_wc_stays_jvm_side(spark, sf_dir):
    plan = executed_plan(q(spark, sf_dir, "mr_wc"))
    assert "BatchEvalPython" not in plan
    # AQE shows the pre-execution plan; JVM hash aggregation is the marker
    assert "HashAggregate" in plan


def test_scans_read_only_needed_document_columns(spark, sf_dir):
    """mr_wc projects documents down to the text column at the scan."""
    schemas = read_schema(q(spark, sf_dir, "mr_wc"))
    joined = " ".join(schemas)
    assert "text" in joined and "lang" not in joined


def test_q20_semi_joins_the_supplier_dim(spark, sf_dir):
    """Q20's dominant-supplier set must reach the supplier dim as a
    SEMI join (probe side |suppliers|, never a fan-out); its one
    partitioned window is a ledger count."""
    plan = executed_plan(q(spark, sf_dir, "q20_dominant_suppliers"))
    assert "LeftSemi" in plan, plan


def test_training_shuffle_is_single_shuffle_no_global_sort(spark, sf_dir):
    """Sharded shuffle: per-shard window sort, never a global range
    sort (its single exchange by shard is a ledger count)."""
    plan = executed_plan(q(spark, sf_dir, "training_shuffle"))
    assert "rangepartitioning" not in plan.lower(), plan


def test_bigram_pmi_tokenizes_corpus_once(spark, sf_dir, monkeypatch):
    """Both n-gram orders must derive from ONE staged (persisted)
    tokenize projection — the unigram pass previously re-ran the full
    scan + tokenize. tokenize() is a plan-build-time Column constructor,
    so counting its invocations pins the number of tokenize subtrees."""
    from mit_6_5840_mapreduce_spark.operators import corpus

    calls = {"n": 0}
    real = corpus.tokenize

    def counting(col):
        calls["n"] += 1
        return real(col)

    monkeypatch.setattr(corpus, "tokenize", counting)
    corpus.bigram_pmi(spark, sf_dir)
    assert calls["n"] == 1, f"tokenize built {calls['n']} subtrees"


def test_q9_pushes_part_filter_and_broadcasts_nation(spark, sf_dir):
    """The p_name predicate must prune the part scan (the nation
    broadcast is a ledger count)."""
    df = q(spark, sf_dir, "q9_product_type_profit")
    assert any("p_name" in f for f in pushed_filters(df))
