"""bench.py contract consistency: the frozen headline set, its
round-1 baseline table, and the registry must stay in sync — a rename
in the registry or a drifted baseline key would otherwise surface only
as a driver-round bench crash."""

from __future__ import annotations

import json

import bench


def test_baseline_covers_exactly_the_headline_set():
    assert set(bench.BASELINE_R1) == set(bench.HEADLINE)


def test_baseline_v2_covers_exactly_the_v2_set():
    assert set(bench.BASELINE_V2) == set(bench.HEADLINE_V2)
    # the two generations must not overlap: a query with two baselines
    # would be timed twice and counted in both ratio blocks
    assert not set(bench.HEADLINE) & set(bench.HEADLINE_V2)


def test_headline_queries_are_registered_with_oracles():
    from mit_6_5840_mapreduce_spark.operators import registry
    queries, oracles = registry()
    both = bench.HEADLINE + bench.HEADLINE_V2
    missing = [n for n in both if n not in queries]
    assert not missing, f"headline queries not registered: {missing}"
    no_oracle = [n for n in both if n not in oracles]
    assert not no_oracle, f"headline queries without oracles: {no_oracle}"


def test_media_magic_share_counts_only_container_bytes(spark,
                                                       tmp_path_factory):
    """The codec swap-rule guard (r7) thresholds on the fraction of
    corpus bytes that already ARE media containers: one BMP-magic doc
    among prose must yield exactly its byte share, and crossing the
    documented 1% line must register as a violation."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    texts = ["plain prose " * 50] * 9 + ["BM" + "x" * 598]
    d = tmp_path_factory.mktemp("media_share_sf")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(str(d), "documents.parquet"))
    share = bench.media_magic_share(spark, str(d))
    total = sum(len(t) for t in texts)
    assert abs(share - 600 / total) < 1e-9
    assert share > bench.CODEC_MEDIA_SHARE_MAX       # would trip the guard


def test_media_magic_share_is_zero_on_the_real_corpus(spark, sf_dir):
    """The driver corpus is prose — the guard must pass there (0%)."""
    assert bench.media_magic_share(spark, sf_dir) == 0.0


def test_bench_main_times_only_the_contract_sweep_and_codec_ceiling(
        spark, sf_dir, tmp_path, monkeypatch, capsys):
    """One bench.main() run times exactly the two headline blocks and
    the five codec queries (REPEAT runs each), writes only the kept
    sidecar keys, and ends stdout with the contract line. A recorder
    stands in for time_query, so only the warm-up and the two corpus
    scans execute."""
    from collections import Counter

    codec = ("image_decode_stats", "audio_decode_stats", "gif_decode_stats",
             "video_frame_stats", "media_decode_stats")
    timed: list[str] = []

    def record(_spark, _queries, name, _sf_dir):
        timed.append(name)
        return 1.0

    class Session:
        """The shared session, except that stop() leaves it running."""

        def __getattr__(self, attr):
            return getattr(spark, attr)

        def stop(self):
            pass

    detail_path = tmp_path / "bench_detail.json"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail_path))
    monkeypatch.setattr(bench, "time_query", record)
    monkeypatch.setattr(bench, "get_spark", lambda _name: Session())
    bench.main()

    expected = Counter({n: bench.REPEAT
                        for n in bench.HEADLINE + bench.HEADLINE_V2 + codec})
    assert Counter(timed) == expected
    detail = json.loads(detail_path.read_text())
    assert set(detail) == {
        "bench_id", "per_query_stat", "per_query_min_med_max",
        "ratio_vs_baseline_r1", "ratio_vs_baseline_v2",
        "codec_payload_mb_per_sec", "codec_corpus_mb", "media_magic_share"}
    assert set(detail["codec_payload_mb_per_sec"]) == set(codec)

    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) < bench.CONTRACT_LINE_MAX
    rec = json.loads(line)
    assert set(rec) == {"metric", "value", "unit", "queries", "queries_v2",
                        "sf", "notes"}
    assert rec["metric"] == "headline_queries_total_wall"
    assert list(rec["queries"]) == list(bench.HEADLINE)
    assert list(rec["queries_v2"]) == list(bench.HEADLINE_V2)
    assert rec["notes"]["bench_id"] == detail["bench_id"]
    assert rec["notes"]["detail_file"] == str(detail_path)


def test_contract_line_from_a_sweep_carries_the_contract_keys(monkeypatch):
    """The contract line built from one sweep's timings: each query
    published as the median of its REPEAT runs, every contract key
    present, and an oversized line replaced by the minimal overflow
    record (the line is read from a bounded stdout tail)."""
    baseline = {**bench.BASELINE_R1, **bench.BASELINE_V2}
    runs = iter(f * baseline[n]
                for n in bench.HEADLINE + bench.HEADLINE_V2
                for f in (1.0, 3.0, 2.0))
    monkeypatch.setattr(bench, "time_query", lambda *a: next(runs))
    assert bench.REPEAT == 3
    timings, spread = bench.sweep(None, None, bench.HEADLINE, "")
    timings_v2, _ = bench.sweep(None, None, bench.HEADLINE_V2, "")
    assert spread["mr_wc"] == [0.815, 1.63, 2.445]

    line, fits = bench.contract_line(timings, timings_v2, 0.1, 7,
                                     "/tmp/bench_detail.json")
    assert fits and len(line) < bench.CONTRACT_LINE_MAX
    rec = json.loads(line)
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["unit"] == "sec" and rec["sf"] == 0.1
    assert rec["queries"] == timings and len(rec["queries"]) == 24
    assert rec["queries_v2"] == timings_v2 and len(rec["queries_v2"]) == 5
    assert rec["value"] == round(sum(timings.values()), 3)
    notes = rec["notes"]
    assert notes["per_query_stat"] == "median_of_3"
    assert notes["ratio_median"] == notes["ratio_max"] == 2.0
    assert notes["ratio_median_v2"] == notes["ratio_max_v2"] == 2.0
    assert notes["total_v2_sec"] == round(sum(timings_v2.values()), 3)
    assert notes["bench_id"] == 7
    assert notes["detail_file"] == "/tmp/bench_detail.json"

    line, fits = bench.contract_line(timings, timings_v2, 0.1, 7,
                                     "/d" * bench.CONTRACT_LINE_MAX)
    assert not fits and len(line) < bench.CONTRACT_LINE_MAX
    rec = json.loads(line)
    assert rec["notes"]["error"] == "contract_line_overflow"
    assert rec["notes"]["len"] >= bench.CONTRACT_LINE_MAX
    assert rec["value"] == round(sum(timings.values()), 3)
