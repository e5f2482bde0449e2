"""Scaling probe: run linear-path flagship operators on 1x / 4x / 16x
replicas of the sf0.1 corpus and report wall-clock growth. Evidence for
the 100 TB question: a healthy operator's time grows ~linearly with
input (pairwise operators are excluded here because replicating content
manufactures artificial near-dup pairs and quadratic candidates —
their scale path is the banded equi-join, pinned by plan tests).

Usage: python tools/scale_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_spark.operators import registry, textstats
from mit_6_5840_mapreduce_spark.session import get_spark
from mit_6_5840_mapreduce_spark.sources.tables import load_table

PROBES = ("mr_wc", "simhash_docs", "minhash_signatures",
          "tfidf_top_terms", "lang_id", "embedding_topk", "doc_chunks",
          "image_decode_stats", "stratified_sample", "source_quota_cap",
          "bigram_pmi", "pii_scrub", "url_domain_stats",
          "token_length_histogram", "embedding_quantize",
          "multimodal_meta",
          # round-4 linear operators (decontaminate/semantic are
          # excluded like the other pairwise ops: replication
          # manufactures artificial duplicates)
          "pack_sequences", "training_shuffle", "token_rarity",
          # graph ANN: included since round 5 to evidence the
          # scale-proportional sharding — shard count grows with the
          # corpus (ceil(n/HNSW_VECS_PER_SHARD)), so the per-shard
          # serial-Python build stays bounded and wall grows
          # ~linearly (replicated vectors only add degenerate
          # similarity ties, absorbed by vec_id tiebreaks; wall-clock
          # is the signal here, not recall)
          "hnsw_search",
          # session-2 linear operators (duplicate_spans and the phash
          # PAIR query are excluded: replication manufactures duplicate
          # spans / hash collisions; per-doc image_phash and the
          # broadcast-dim mixture ops are linear. The r10 span
          # alignment/cut pair (dedup_span_pairs/_scrub) cannot ride
          # the REPLICATED corpus for the same reason — replication
          # makes every doc a factor-sized clone clique whose window
          # populations sit BELOW SPAN_OCC_CAP (16 < 20), so the probe
          # would time a manufactured all-replicas pairing, not the
          # operator — it gets its own SYNTHETIC corpus probe below
          # (r11, VERDICT r10 item 4) where real pair-shared quoted
          # blocks grow linearly and a corpus-wide boilerplate block
          # exercises the cap)
          "doc_lm_score", "quality_ensemble", "temperature_resample",
          "source_mix_weights", "pq_encode", "image_phash",
          # round 8 (VERDICT r7 item 6): the CAPPED pairwise variants
          # are probe-safe BY DESIGN — replicated content multiplies
          # every shingle's df by the factor, so the df cap (absolute
          # max_df=50) drops exactly the manufactured boilerplate
          # before the self-join, the same behavior it exists for at
          # 100 TB. Their growth numbers measure the cap doing its
          # job (bounded candidates), unlike the uncapped twins which
          # stay excluded (quadratic by construction under
          # replication).
          "dedup_ngram_jaccard_capped", "shingle_containment_capped",
          # round 10: the band-bucket-capped variants are probe-safe
          # the same way — replication multiplies every bucket's
          # population by the factor, so 1x-buckets past cap/factor
          # drop before the self-join while small clone buckets
          # (population = factor <= cap) survive and correctly report
          # their manufactured near-dups. Measured at sf0.1: wall ~flat
          # at 16x (signatures dominate; the capped join stays bounded)
          "dedup_minhash_lsh_capped", "dedup_simhash_capped",
          "embedding_neardup_lsh_capped",
          # round 10 late: the TPC-H completers — orders/lineitem are
          # replicated with matching orderkey offsets (dims stay 1x),
          # so q12 measures linear fact-fact join growth, and q2/q20's
          # supply/dominance aggregates REDUCE 16x input onto a
          # constant-size (part, supplier) grid — the shape their 100TB
          # claim rests on (output identical at every factor)
          "q2_min_cost_supplier", "q12_shipping_speed_priority",
          "q20_dominant_suppliers",
          # round 11: the trained quality classifier — replication-safe
          # (per-doc features, no pairwise term anywhere); the trainer
          # is one scan into a checkpointed feature frame + 9 constant-
          # width aggregations, so wall should grow ~linearly with the
          # corpus and the aggregation rounds stay constant-count
          "quality_train", "quality_classify",
          # round 12: the held-out evaluation — same shape as
          # quality_train (the split flag is one extra hash projection
          # in the same single scan; each round is still one
          # constant-width aggregation, now 8 sums instead of 6)
          "quality_eval_holdout")
FACTORS = (1, 4, 16)

# Span-family probe corpus (r11, VERDICT r10 item 4). Like the CC
# chains, the span probe needs a PURPOSE-BUILT corpus: real shared
# spans must exist at every factor without replication-manufactured
# cliques. Construction — per factor, SPAN_PAIRS_1X * factor document
# PAIRS; each doc is unique filler tokens around (a) a 15-token quoted
# block shared with exactly its pair partner (window population 2 at
# EVERY factor -> survives the cap, emits one maximal span per pair)
# and (b) a corpus-wide 15-token boilerplate block (population = all
# docs, over SPAN_OCC_CAP at every factor -> dropped BEFORE the
# self-join). The probe therefore measures exactly the 100 TB claim:
# pair output and wall grow ~linearly with the corpus, while the one
# hash that would alone contribute O(n^2) aligned hits (2e9 pairs at
# 16x if uncapped) never reaches the join.
SPAN_PAIRS_1X = 1_000
_SPAN_FILLER = (20, 10, 5)      # unique-token runs around the two blocks
_SPAN_BLOCK = 15                # tokens per quoted/boilerplate block


def _letters(i: int) -> str:
    """Deterministic all-letter token for integer i (tokenize() keeps
    only letter runs, so tokens must be pure letters)."""
    s = ""
    i += 1
    while i:
        s += chr(ord("a") + i % 26)
        i //= 26
    return s


def _span_corpus(out_dir: str, factor: int) -> None:
    """Write the synthetic span corpus for ``factor`` as a documents
    parquet (pyarrow; driver-side generation — 32k docs at 16x)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    boiler = " ".join("b" + _letters(j) for j in range(_SPAN_BLOCK))
    texts = []
    n_docs = 2 * SPAN_PAIRS_1X * factor
    for doc in range(n_docs):
        pair = doc // 2
        quote = " ".join("q" + _letters(pair * _SPAN_BLOCK + j)
                         for j in range(_SPAN_BLOCK))
        f1, f2, f3 = (
            " ".join("f" + _letters(doc * 64 + p)
                     for p in range(off, off + ln))
            for off, ln in ((0, _SPAN_FILLER[0]),
                            (24, _SPAN_FILLER[1]),
                            (40, _SPAN_FILLER[2])))
        texts.append(" ".join((f1, boiler, f2, quote, f3)))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array(["synthetic"] * n_docs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))


# Hot-source pack probe (r13, VERDICT r12 item 4): pack_sequences'
# prefix sum is one window per source, so a source holding ~90% of the
# corpus serializes ~90% of rows through ONE task's sort. The probe
# corpus plants exactly that shape (9 of 10 docs in "hot", the rest
# spread over 4 cold sources — cold ids are multiples of 10, so
# id % 8 only takes {0, 2, 4, 6}) and times BOTH physical forms — the
# default single window and the two-pass sub-sharded scan
# (forced by PACK_HOT_DOCS=0; value-identity is pinned by
# tests/test_training_layout.py, so this probe measures wall only).
# Measured on an idle host, min of 3, warm JVM (r13): the single
# window wins at 8x (720k hot docs: 1.18s vs 1.49s) and still —
# narrowly — at 64x (5.76M: 5.62s vs 6.49s); the crossover lands
# between 5.76M and 23M docs in the hot source, where the two-pass
# form wins 1.28x (256x = 23M: 18.25s vs 23.29s) with the gap growing
# — the window's hot task is strictly serial (its wall grows ~4.1x
# per 4x data past 64x vs ~2.8x for two-pass). Deployment rule in
# docs/SCALE.md.
HOT_DOCS_1X = 100_000


def _hot_source_corpus(spark, out_dir: str, factor: int) -> None:
    n = HOT_DOCS_1X * factor
    df = (spark.range(n)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 10 != 0, F.lit("hot"))
                  .otherwise(F.concat(F.lit("cold"),
                                      (F.col("id") % 8).cast("string")))
                  .alias("source"),
                  F.rtrim(F.repeat(
                      F.lit("tok "),
                      ((F.col("id") * 37) % 90 + 1).cast("int")))
                  .alias("text"))
          .withColumn("lang", F.lit("en"))
          .withColumn("n_chars", F.octet_length("text").cast("bigint"))
          .select("doc_id", "text", "lang", "source", "n_chars"))
    df.coalesce(factor * 4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet"))


# The CC loop probe (VERDICT r5 item 5) can't ride the replicated
# corpus — replicating documents manufactures quadratic near-dup pairs.
# Instead cc_labels runs on a SYNTHETIC edge list whose |edges| scales
# with the factor while component diameter (= rounds) stays constant:
# disjoint 8-node chains, so 16x input is 16x edges through the same
# 8-round propagation — the shape of "more data, same graph depth".
CC_CHAIN_NODES_1X = 400_000


def _cc_chain_edges(spark, factor):
    n = CC_CHAIN_NODES_1X * factor
    ids = spark.range(n)
    return (ids.where(F.col("id") % 8 != 7)
            .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b")))


def _replicated_frame(spark, sf_dir, table, offsets, factor):
    """The one replica-construction loop (shared by the batch table
    replicas and the streaming events replica, so a future change to
    the replication scheme cannot silently diverge the two): ``factor``
    copies of ``table``, each copy's id columns shifted by
    ``k * step`` per (column, step) in ``offsets``."""
    src = load_table(spark, sf_dir, table)
    parts = []
    for k in range(factor):
        p = src
        for col, step in offsets:
            p = p.withColumn(col, F.col(col) + F.lit(k * step))
        parts.append(p)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionAll(p)
    return df


def replicate(spark, sf_dir, out_dir, table, id_col, factor):
    df = _replicated_frame(spark, sf_dir, table, [(id_col, 10 ** 9)],
                           factor)
    path = os.path.join(out_dir, f"{table}.parquet")
    # constant per-file bytes across factors (r9): the old
    # max(factor//2, 1) layout gave the 4x replica HALF the per-byte
    # scan splits of 1x/16x, so probe growth numbers confounded query
    # cost with scan parallelism (measured: token_rarity 4x wall >
    # 16x wall). files = factor means splits grow linearly with data —
    # the production shape — and growth ratios measure the QUERY.
    df.coalesce(factor).write.mode("overwrite").parquet(path)


def _replicate_events(spark, sf_dir, out_dir, factor):
    """Events replica for the streaming state probe: rows AND keys grow
    with the factor (user_id/event_id offset per replica so sessions and
    state keys never alias across replicas). Written as a single FILE
    named events.parquet — read_events_stream glob-filters on that file
    name, so a directory-shaped replica would stream zero files."""
    import glob
    import shutil
    df = _replicated_frame(spark, sf_dir, "events",
                           [("user_id", 10 ** 9),
                            ("event_id", 10 ** 12)], factor)
    tmp = os.path.join(out_dir, "_events_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(out_dir, "events.parquet")
    if os.path.lexists(dst):
        os.remove(dst)
    shutil.move(part, dst)
    shutil.rmtree(tmp)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    queries, _ = registry()
    spark = get_spark("scale-probe")
    import tempfile
    results: dict[str, dict[int, float]] = {q: {} for q in PROBES}
    for factor in FACTORS:
        work = os.path.join(tempfile.gettempdir(), f"scale_{factor}x")
        for table, id_col in (("documents", "doc_id"),
                              ("embeddings", "vec_id"),
                              # r10: fact tables for the TPC-H probes —
                              # the SAME 1e9 orderkey step on both sides
                              # keeps the join aligned per replica while
                              # part/supp/cust keys stay unshifted (the
                              # dims are fixed, so per-key groups grow
                              # with the factor — the reduce shape)
                              ("orders", "o_orderkey"),
                              ("lineitem", "l_orderkey")):
            replicate(spark, sf_dir, work, table, id_col, factor)
        # non-replicated dims resolve from the original dir
        for t in ("region", "nation", "customer", "supplier", "part"):
            dst = os.path.join(work, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)
        import shutil
        src_ev = os.path.join(sf_dir, "events.parquet")
        dst_ev = os.path.join(work, "events.parquet")
        if not os.path.exists(dst_ev):
            os.symlink(src_ev, dst_ev)
        for name in PROBES:
            best = float("inf")
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                queries[name](spark, work).write.mode("overwrite") \
                    .format("noop").save()
                best = min(best, time.perf_counter() - t0)
            results[name][factor] = round(best, 2)
        from mit_6_5840_mapreduce_spark.operators.dedup import cc_labels
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            cc_labels(spark, _cc_chain_edges(spark, factor), "a", "b") \
                .write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        results.setdefault("cc_labels[chains]", {})[factor] = round(best, 2)
    # Deep-chain probe (r7, VERDICT r6 item 4): ONE path component whose
    # DIAMETER scales 16x — the shape pointer jumping exists for. The
    # round count must grow ~log2(diameter) (15 -> 19 here), where the
    # old one-hop propagation needed diameter+1 rounds and would blow
    # past CC_MAX_ITERS at any real depth.
    from mit_6_5840_mapreduce_spark.operators.dedup import last_cc_rounds
    deep: dict[int, tuple[float, int]] = {}
    for factor in (1, 16):
        d = 10_000 * factor
        edges = spark.range(d).select(F.col("id").alias("a"),
                                      (F.col("id") + 1).alias("b"))
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        cc_labels(spark, edges, "a", "b").write.mode("overwrite") \
            .format("noop").save()
        deep[factor] = (round(time.perf_counter() - t0, 2),
                        last_cc_rounds())
    print("cc_labels[deep_chain]  diameter 10k -> 160k: "
          + ", ".join(f"{f}x: {t:.2f}s / {r} rounds"
                      for f, (t, r) in deep.items()))

    # Streaming STATE probe (round 10, VERDICT r9 item 6): grow the
    # event stream 16x in BOTH rows and keys (user_id/event_id offset
    # per replica) and record wall + state-bearing result rows for the
    # two stateful families — applyInPandasWithState running totals
    # (state rows = users) and session_window sessionization (state
    # rows = open sessions, result rows = sessions). The contract at
    # 100 TB: state rows grow with KEYS, wall grows ~linearly with
    # input; neither depends on stream lifetime.
    STREAM_PROBES = ("stream_user_totals", "stream_sessionize")
    stream_res: dict[str, dict[int, tuple[float, int]]] = {
        q: {} for q in STREAM_PROBES}
    for factor in (1, 16):
        swork = os.path.join(tempfile.gettempdir(),
                             f"stream_scale_{factor}x")
        os.makedirs(swork, exist_ok=True)
        _replicate_events(spark, sf_dir, swork, factor)
        for name in STREAM_PROBES:
            best, rows = float("inf"), -1
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                result = queries[name](spark, swork)
                rows = result.count()
                best = min(best, time.perf_counter() - t0)
                # the memory sink registers a uuid temp view per run
                # (8 over the probe; ~1.5M rows each at 16x) — drop it
                # once counted so driver heap doesn't accumulate them
                for t in spark.catalog.listTables():
                    if t.isTemporary:
                        spark.catalog.dropTempView(t.name)
            stream_res[name][factor] = (round(best, 2), rows)
    for name, res in stream_res.items():
        (w1, r1), (w16, r16) = res[1], res[16]
        print(f"{name}[state]  1x: {w1:.2f}s / {r1} rows   "
              f"16x: {w16:.2f}s / {r16} rows   "
              f"wall {w16 / max(w1, 1e-9):.1f}x, rows {r16 / max(r1, 1):.1f}x")

    # Span-family probe (r11, VERDICT r10 item 4): the synthetic
    # pair-shared-quote corpus (see _span_corpus). Expected shape:
    # result rows EXACTLY linear in the factor (one maximal span per
    # pair; scrub = one row per doc), wall ~linear — the boilerplate
    # hash (population = all docs) is dropped by SPAN_OCC_CAP before
    # the self-join at every factor, so no quadratic term exists.
    # epoch_assembly (r12) rides the SAME span corpus: its pairwise
    # stage IS the span scrub (replication would manufacture clone
    # cliques), and the corpus exercises every stage for real — the
    # md5 doc_split scatters pair partners across splits, so a stable
    # ~16% of quote pairs cross test->train and produce linear cut
    # work; the single source makes resample a keep-all (rate 1000)
    # broadcast join; packing/shuffle are linear in surviving tokens
    SPAN_PROBES = ("dedup_span_pairs", "dedup_span_scrub",
                   "epoch_assembly")
    span_res: dict[str, dict[int, tuple[float, int]]] = {
        q: {} for q in SPAN_PROBES}
    for factor in FACTORS:
        pwork = os.path.join(tempfile.gettempdir(),
                             f"span_scale_{factor}x")
        os.makedirs(pwork, exist_ok=True)
        _span_corpus(pwork, factor)
        for name in SPAN_PROBES:
            best, rows = float("inf"), -1
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                result = queries[name](spark, pwork)
                # TIME the noop write like every other probe — a timed
                # count() lets Catalyst column-prune the operator's
                # dominant output work (for the scrub, the whole
                # collect_list/array_sort/concat_ws text recomposition
                # never runs under count(); r11 review)
                result.write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            rows = queries[name](spark, pwork).count()   # untimed
            span_res[name][factor] = (round(best, 2), rows)
    for name, res in span_res.items():
        line = f"{name}[spans]  " + "   ".join(
            f"{f}x: {res[f][0]:.2f}s / {res[f][1]} rows" for f in FACTORS)
        w1, wN = res[FACTORS[0]][0], res[FACTORS[-1]][0]
        r1, rN = res[FACTORS[0]][1], res[FACTORS[-1]][1]
        print(line + f"   wall {wN / max(w1, 1e-9):.1f}x, "
              f"rows {rN / max(r1, 1):.1f}x")

    # Hot-source pack probe (r13) — see _hot_source_corpus
    hot_res: dict[tuple[str, int], float] = {}
    pack_hot_docs = textstats.PACK_HOT_DOCS
    HOT_FACTORS = (8, 256)       # brackets the measured crossover
    for factor in HOT_FACTORS:
        hwork = os.path.join(tempfile.gettempdir(), f"hot_pack_{factor}x")
        os.makedirs(hwork, exist_ok=True)
        _hot_source_corpus(spark, hwork, factor)
        # force each form through the auto-switch boundary
        for form, hot_docs in (("window", 1 << 62), ("two_pass", 0)):
            textstats.PACK_HOT_DOCS = hot_docs
            best = float("inf")
            for _ in range(3):      # min of 3 — the crossover protocol
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                queries["pack_sequences"](spark, hwork).write.mode(
                    "overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            hot_res[(form, factor)] = round(best, 2)
    textstats.PACK_HOT_DOCS = pack_hot_docs
    for form in ("window", "two_pass"):
        w1, wn = hot_res[(form, HOT_FACTORS[0])], hot_res[(form,
                                                           HOT_FACTORS[-1])]
        print(f"pack_sequences[hot_source/{form}]  "
              f"{HOT_FACTORS[0]}x: {w1:.2f}s   "
              f"{HOT_FACTORS[-1]}x: {wn:.2f}s   "
              f"wall {wn / max(w1, 1e-9):.1f}x")
    print(f"pack_sequences[hot_source] two_pass/window at "
          f"{HOT_FACTORS[-1]}x: "
          f"{hot_res[('two_pass', HOT_FACTORS[-1])] / max(hot_res[('window', HOT_FACTORS[-1])], 1e-9):.2f}x")

    print(f"{'operator':24s}" + "".join(f"{f}x".rjust(9) for f in FACTORS)
          + "   16x/1x")
    worst = 0.0
    for name, times in results.items():
        ratio = times[FACTORS[-1]] / max(times[FACTORS[0]], 1e-9)
        worst = max(worst, ratio)
        print(f"{name:24s}"
              + "".join(f"{times[f]:9.2f}" for f in FACTORS)
              + f"   {ratio:6.1f}")
    print(f"worst growth at 16x input: {worst:.1f}x wall "
          f"({'OK — sub-linear per-row cost' if worst < 32 else 'REVIEW'})")
    spark.stop()
    return 0 if worst < 32 else 1


if __name__ == "__main__":
    raise SystemExit(main())
