"""The contract line: runs the headline queries at $SPARK_GRAFT_SF_DIR
(sf0.1 by default) on local[$SPARK_GRAFT_CPUS] in ONE sweep and prints
ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "queries_v2": {...}, "sf": ..., "notes": ...}.

Protocol: one JVM warm-up query, then one sweep of HEADLINE and
HEADLINE_V2. Each query is forced end-to-end with the noop sink (full
physical execution, no driver-side result transfer skewing the number)
and published as the median of REPEAT runs. The notes carry per-query
ratios against the frozen baselines (BASELINE.md / BENCH_r01.json):
uniform ratio inflation = host load; one query moving alone = that
query regressed. Diagnostic detail goes to a sidecar file
($SPARK_GRAFT_BENCH_DETAIL, default /tmp/bench_detail.json): each
query's [min, median, max], the baseline ratios, the pure-Python codec
throughput ceiling (CODEC, also median of REPEAT runs) and the media
share the codec swap-rule guard checks. Nothing else runs.

This line is a single wall-clock reading, not a gain claim. Gains are
claimed with the paired benchmark, which runs seeded inputs, checks
every output against the DuckDB oracle and records per-layer traces:
``python3 perfbench/run.py --workload all --seed N``.

Two headline generations: the r1 set keeps its frozen BASELINE_R1
contract for cross-round comparability, and HEADLINE_V2 covers the
later heavy operators (span scrub, capped dedup compositions,
stream-stream join, BPE training) against its own frozen baseline.
Both blocks run in every sweep and each carries its own ratio block in
the notes.

The single-query timing protocol (warm_up, time_query, sweep) lives
here and nowhere else; ``tools/profile_query.py`` calls it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mit_6_5840_mapreduce_spark.operators import registry
from mit_6_5840_mapreduce_spark.session import get_spark

HEADLINE = (
    "mr_wc",
    "mr_indexer",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "top3_orders_per_customer",
    "user_event_pivot",
    "sessionize",
    "events_hourly",
    "asof_join_orders",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_groups",
    "embedding_topk",
    "embedding_neardup_lsh",
    "ivf_search",
    "doc_chunks",
    "lang_id",
    "tfidf_top_terms",
    "q7_nation_volume",
)

# Frozen round-1 per-query seconds (idle host, BENCH_r01.json) — the
# cross-round contract. Compare ratios, not totals: a uniform shift is
# host contention, a lone mover is a regression.
BASELINE_R1 = {
    "mr_wc": 0.815, "mr_indexer": 1.304, "q1_pricing_summary": 0.65,
    "q3_shipping_priority": 1.054, "q5_local_supplier_volume": 1.019,
    "q6_forecast_revenue": 0.29, "q13_customer_distribution": 0.521,
    "top3_orders_per_customer": 0.548, "user_event_pivot": 0.431,
    "sessionize": 0.515, "events_hourly": 0.54, "asof_join_orders": 0.696,
    "dedup_exact": 0.226, "dedup_ngram_jaccard": 2.2,
    "dedup_minhash_lsh": 2.009, "dedup_simhash": 1.5, "dedup_groups": 4.459,
    "embedding_topk": 0.674, "embedding_neardup_lsh": 2.371,
    "ivf_search": 1.102, "doc_chunks": 0.338, "lang_id": 1.276,
    "tfidf_top_terms": 1.132, "q7_nation_volume": 0.99,
}

# v2 headline set: the heavy operators the r1 contract can't see, so a
# 2x regression in any of them reaches the gate. Runs inside the same
# sweep; tracked as a SEPARATE ratio block (ratio_median_v2) so the r1
# cross-round contract stays comparable.
HEADLINE_V2 = (
    "dedup_span_scrub",         # span-family cut stage (2 window passes)
    "semantic_dedup_capped",    # LSH -> CC -> medoid composition
    "dedup_groups_capped",      # capped candidate gen -> CC label loop
    "stream_attribution",       # dual-watermark stream-stream join
    "bpe_train",                # 12-round iterative trainer
)

# Frozen round-11 per-query seconds (idle host, warm JVM — measured
# with the sweep protocol: warm pass first, then median of 3 with
# clearCache between runs; the v2 analogue of BASELINE_R1).
BASELINE_V2 = {
    "dedup_span_scrub": 2.677,
    "semantic_dedup_capped": 12.144,
    "dedup_groups_capped": 5.088,
    "stream_attribution": 6.02,
    "bpe_train": 3.859,
}

# The pure-Python decode queries whose payload MB/s is the codec
# throughput ceiling (docs/MULTIMODAL_CODECS.md).
CODEC = ("image_decode_stats", "audio_decode_stats", "gif_decode_stats",
         "video_frame_stats", "media_decode_stats")

# Runs per query; the published number is their median.
REPEAT = 3

# The contract line is read from a BOUNDED TAIL of stdout, so it must
# stay under this many characters (a longer line loses the record).
CONTRACT_LINE_MAX = 4000


def warm_up(spark, queries, sf_dir: str) -> None:
    """JVM/codegen warm-up so the first measured query isn't paying JIT
    cost (a NON-headline query, so no measured entry gets extra
    warming)."""
    queries["q4_order_priority"](spark, sf_dir).write.mode(
        "overwrite").format("noop").save()


def time_query(spark, queries, name: str, sf_dir: str) -> float:
    """THE single-query timing protocol (the sweep and the codec ceiling
    share it): clear cached frames (ops may persist internally), force
    full physical execution through the noop sink, return seconds
    (unrounded; callers round)."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    queries[name](spark, sf_dir).write.mode("overwrite") \
        .format("noop").save()
    return time.perf_counter() - t0


def sweep(spark, queries, names: tuple[str, ...],
          sf_dir: str) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Time each query REPEAT times; return the per-query medians and
    the per-query [min, median, max] spread (a wide band is co-tenant
    contention, a tight band with a moved median is real)."""
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        runs = [time_query(spark, queries, name, sf_dir)
                for _ in range(REPEAT)]
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(min(runs), 3), timings[name],
                        round(max(runs), 3)]
    return timings, spread


def baseline_ratios(timings: dict[str, float],
                    baseline: dict[str, float]) -> dict[str, float]:
    return {name: round(t / baseline[name], 2)
            for name, t in timings.items()}


def contract_line(timings: dict[str, float], timings_v2: dict[str, float],
                  sf: float, bench_id: int,
                  detail_file: str | None) -> tuple[str, bool]:
    """The contract JSON line, and whether it fits under
    CONTRACT_LINE_MAX. On overflow a minimal record replaces it, so a
    record still lands (the caller then exits non-zero)."""
    total = round(sum(timings.values()), 3)
    ratios = baseline_ratios(timings, BASELINE_R1)
    ratios_v2 = baseline_ratios(timings_v2, BASELINE_V2)
    line = json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_v2": timings_v2,
        "sf": sf,
        "notes": {
            "per_query_stat": f"median_of_{REPEAT}",
            "ratio_median": round(statistics.median(ratios.values()), 2),
            "ratio_max": round(max(ratios.values()), 2),
            # v2 block: the heavy operators against their own
            # frozen baseline
            "total_v2_sec": round(sum(timings_v2.values()), 3),
            "ratio_median_v2": round(
                statistics.median(ratios_v2.values()), 2),
            "ratio_max_v2": round(max(ratios_v2.values()), 2),
            "bench_id": bench_id,
            "detail_file": detail_file,
        },
    })
    if len(line) < CONTRACT_LINE_MAX:
        return line, True
    return json.dumps({"metric": "headline_queries_total_wall",
                       "value": total, "unit": "sec", "sf": sf,
                       "notes": {"error": "contract_line_overflow",
                                 "len": len(line),
                                 "bench_id": bench_id}}), False


# Codec swap-rule enforcement: the documented rule (docs/MULTIMODAL_CODECS.md)
# says the pure-Python codecs are an acceptable tax only while DECODABLE
# MEDIA stays under ~1% of corpus bytes. bench enforces it mechanically:
# magic-sniff the corpus for real embedded media containers and fail
# loudly past the threshold.
# (The synthetic wrap the decode QUERIES apply at runtime is harness,
# not corpus — only bytes that already ARE containers count.)
CODEC_MEDIA_SHARE_MAX = 0.01
_MEDIA_MAGICS = ("BM", "RIFF", "GIF8")


def media_magic_share(spark, sf_dir: str) -> float:
    """Fraction of documents.text bytes whose content starts with a
    decodable media container magic (BMP/RIFF/GIF) — the corpus share
    the swap rule thresholds on. One narrow scan; no payload decode."""
    from pyspark.sql import functions as F

    from mit_6_5840_mapreduce_spark.sources.tables import load_table
    is_media = None
    for m in _MEDIA_MAGICS:
        c = F.col("magic").startswith(m)
        is_media = c if is_media is None else (is_media | c)
    row = (load_table(spark, sf_dir, "documents")
           .select(F.octet_length("text").alias("nb"),
                   F.substring("text", 1, 4).alias("magic"))
           .agg(F.sum(F.when(is_media, F.col("nb")).otherwise(0))
                .alias("media_b"),
                F.sum("nb").alias("total_b"))
           .collect()[0])
    return (row["media_b"] or 0) / max(row["total_b"] or 0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    queries, _ = registry()

    spark = get_spark("bench")
    warm_up(spark, queries, sf_dir)

    timings, spread = sweep(spark, queries, HEADLINE, sf_dir)
    timings_v2, spread_v2 = sweep(spark, queries, HEADLINE_V2, sf_dir)

    # Codec throughput ceiling: the pure-Python BMP/WAV/GIF/AVI codecs
    # are the repo's one documented scale caveat — record the ceiling as
    # a NUMBER (decoded payload MB/s at this host's parallelism, from
    # the median of REPEAT runs), not a sentence. Denominator = raw
    # payload bytes entering the wrap+decode path (docs.text as UTF-8).
    from pyspark.sql import functions as F

    from mit_6_5840_mapreduce_spark.sources.tables import load_table
    corpus_mb = (load_table(spark, sf_dir, "documents")
                 .agg(F.sum(F.octet_length("text"))).collect()[0][0]
                 or 0) / 1e6
    codec_sec, _ = sweep(spark, queries, CODEC, sf_dir)
    codec_mb_s = {name: round(corpus_mb / sec, 2)
                  for name, sec in codec_sec.items()}

    # The contract line must be the LAST stdout line and stay COMPACT
    # (see CONTRACT_LINE_MAX). Diagnostic detail (per-query spreads,
    # codec ceiling) goes to a sidecar file and a PRECEDING stdout
    # line, never into the contract line. bench_id ties the contract
    # line to its detail records, so a stale sidecar from a previous run
    # can never be mistaken for this run's
    bench_id = int(time.time())
    detail = {
        "bench_id": bench_id,
        "per_query_stat": f"median_of_{REPEAT}",
        "per_query_min_med_max": {**spread, **spread_v2},
        "ratio_vs_baseline_r1": baseline_ratios(timings, BASELINE_R1),
        "ratio_vs_baseline_v2": baseline_ratios(timings_v2, BASELINE_V2),
        "codec_payload_mb_per_sec": codec_mb_s,
        "codec_corpus_mb": round(corpus_mb, 2),
        "media_magic_share": round(media_magic_share(spark, sf_dir), 6),
    }
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL",
                                 "/tmp/bench_detail.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f)
    except OSError:
        detail_path = None          # advertise the failure, not a path
    print("bench_detail: " + json.dumps(detail))
    line, fits = contract_line(timings, timings_v2, sf, bench_id,
                               detail_path)
    print(line)
    if not fits:                    # the overflow record landed instead
        spark.stop()
        raise SystemExit(1)
    # swap-rule guard AFTER the contract line so the perf record still
    # lands; nonzero exit makes the violation impossible to miss
    share = detail["media_magic_share"]
    if share > CODEC_MEDIA_SHARE_MAX:
        print(f"codec_swap_guard VIOLATION: decodable media is "
              f"{share:.1%} of corpus bytes (> "
              f"{CODEC_MEDIA_SHARE_MAX:.0%}) while the pure-Python "
              f"codecs are in place — swap the affected decode paths "
              f"to native codecs (docs/MULTIMODAL_CODECS.md)")
        spark.stop()
        raise SystemExit(1)
    spark.stop()


if __name__ == "__main__":
    main()
