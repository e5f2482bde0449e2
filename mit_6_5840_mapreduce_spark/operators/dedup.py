"""Deduplication operators over the ``documents`` table — the LLM-pipeline
extension surface (BASELINE.json north star; nothing in the reference
implements these).

Four families, all expressed with cross-engine-deterministic hashing
(md5-derived integers, functions/hashing.py) so the DuckDB oracle verifies
VALUES, not just row counts:

- exact dedup           : content-hash groupBy
- n-gram Jaccard        : word-3-gram shingle sets, exact similarity join
- MinHash + LSH banding : 16 multiply-mod permutations, 4 bands x 4 rows
- SimHash               : 32-bit sketch + banded Hamming<=3 pair search

Scale design (100 TB):
- shingle join (ngram_jaccard) is an inverted-index join: shuffle keyed by
  shingle. Hot shingles (stopword runs) explode pair counts — at scale,
  drop shingles with doc-frequency above a cap before the join (standard
  trick; the cap is a correctness-neutral candidate filter only when
  paired with LSH, so here it stays exact and we document the knob).
- MinHash banding IS the scale path: candidate pairs come from equi-joins
  on (band, band_hash) buckets, never a cross join.
- SimHash banding (4 x 8-bit bands) is exact for Hamming<=3 by pigeonhole:
  any pair differing in <=3 bits agrees on >=1 whole band.
- exact dedup shuffles on a 128-bit content hash — uniformly distributed,
  no skew by construction.
"""

from __future__ import annotations

import os
import threading

from pyspark.storagelevel import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mit_6_5840_mapreduce_spark.functions.numeric import floor4
from mit_6_5840_mapreduce_spark.functions.text import tokenize
from mit_6_5840_mapreduce_spark.sources.tables import fan_out, load_table

# ---- MinHash parameters (shared with the oracle SQL) --------------------
MINHASH_P = 2147483647          # 2^31 - 1, prime
N_PERMS = 16
BAND_ROWS = 4                   # 4 bands x 4 rows
PERMS = [(1000003 + 7919 * i, 12345 + 104729 * i) for i in range(N_PERMS)]

NGRAM_N = 3
MIN_JACCARD = 0.1
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3         # exact under 4-band pigeonhole


def _shingles(t: Column) -> Column:
    """Word 3-gram shingles (space-joined) from a STAGED token-array
    column, [] when the doc is too short.

    ``t`` must be a bound column reference (tokens materialized by a prior
    projection), not the raw ``tokenize(text)`` expression — Catalyst
    re-evaluates an inline expression per element_at inside the lambda,
    which measured ~6x slower at sf0.1.
    """
    return F.when(
        F.size(t) >= NGRAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (NGRAM_N - 1)),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1),
                F.element_at(t, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hss): per-document array of DISTINCT 60-bit shingle
    hashes, computed entirely ROW-LOCALLY (r14, guide §2.4): the
    (doc_id, hs) universe is distinct PER DOCUMENT by definition, so the
    old global ``.distinct()`` was a full Exchange of every shingle row
    spent on a per-row ``array_distinct`` — one shuffle removed from
    EVERY shingle consumer (jaccard/containment/minhash/index) at any
    scale. ``array_distinct`` runs over the HASHES (not the shingle
    strings), so the improbable 60-bit collision inside one document
    dedups exactly like the old global distinct did.

    Hashing BEFORE any shuffle shrinks every downstream exchange to
    fixed-width ints (vs ~20-char strings); collision probability at 60
    bits is ~n^2/2^61 — negligible at any realistic shingle cardinality.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        # docs too short to shingle dropped HERE on the cheap token
        # count (size(toks) >= n <=> hss non-empty, exactly the rows
        # the old explode/distinct form dropped), so no consumer needs
        # a size(hss) filter — a pushed-down predicate referencing hss
        # would re-evaluate the whole md5 pass per row (the
        # InferFiltersFromGenerate/pushdown trap measured at 2x; see
        # _doc_shingles)
        .where(F.size("toks") >= NGRAM_N)
        # single reference to _shingles inside transform: the shingle
        # array is evaluated once per row (the _shingles staging note
        # about inline re-evaluation applies to its *input*, which is
        # the staged toks column here)
        .select("doc_id", F.array_distinct(F.transform(
            _shingles(F.col("toks")),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
            .cast("bigint"))).alias("hss"))
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, hs) pairs, hs = 60-bit md5 of the shingle —
    same value set as the pre-r14 global-distinct form; dedup is
    row-local now.

    The hash-array expression is built INLINE as the explode child on
    purpose: with an expensive generator child,
    ``InferFiltersFromGenerate`` deliberately skips the ``size(e) > 0``
    inference (SPARK-36715's cost guard), whereas exploding a STAGED
    hss attribute gets the filter inferred on the cheap column and
    predicate pushdown then re-inlines the entire tokenize+md5 chain
    into a per-row scan Filter — measured 2x on this query. Callers
    that need the array form stage ``_doc_shingle_arrays`` behind
    their own cache so the inferred filter lands above an
    InMemoryRelation boundary instead."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(F.array_distinct(F.transform(
            _shingles(F.col("toks")),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
            .cast("bigint")))).alias("hs"))
    )


_DUCK_SHINGLES = rf"""
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= {NGRAM_N}
                          THEN list_transform(
                                   range(1, len(toks) - {NGRAM_N - 2}),
                                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                          ELSE [] END) AS shingle
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                                     t -> t <> '') AS toks
                  FROM documents)
        )
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by md5(text); keep lowest doc_id as survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count("*").alias("n_copies"))
    )


def _shingle_index(spark: SparkSession, sf_dir: str,
                   max_df: int | None) -> DataFrame:
    """(doc_id, n, hs): the shingle inverted-index rows, each carrying
    its document's set size ``n``, so the self-join's consumers score
    pairs with no sizes aggregate or post-aggregate join.

    ``max_df`` caps shingles at that many documents through
    ``cap_bucket_population`` on ``hs``: (doc_id, hs) is distinct per
    document, so a shingle's bucket population is its document
    frequency. Surviving sizes count only the kept shingles (the score
    is over the pruned universe), so the capped form recounts ``n`` per
    document after the cap — a window bounded by document length."""
    # the ARRAY frame is the cache boundary (not the exploded rows):
    # exploding a staged attribute gets a size(hss) > 0 filter inferred,
    # and above an InMemoryRelation that filter reads the stored column —
    # pushed into a raw plan it would re-inline the whole md5 pass per
    # row (the 2x trap; see _doc_shingles)
    arr = _doc_shingle_arrays(spark, sf_dir).cache()
    if max_df is None:
        return arr.select("doc_id", F.size("hss").alias("n"),
                          F.explode("hss").alias("hs"))
    kept = cap_bucket_population(
        arr.select("doc_id", F.explode("hss").alias("hs")), ["hs"], max_df)
    return kept.select(
        "doc_id", F.count("*").over(Window.partitionBy("doc_id")).alias("n"),
        "hs")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                        max_df: int | None = None) -> DataFrame:
    """Exact word-3-gram Jaccard similarity join (pairs >= MIN_JACCARD).

    Inverted-index join on shingle -> per-pair intersection counts ->
    Jaccard from per-doc set sizes. One shuffle keyed by shingle, one by
    pair; never a cross join.

    ``max_df``: the hot-shingle cap — drop shingles appearing in more
    than ``max_df`` documents BEFORE the self-join (from both the index
    and the set sizes, so Jaccard stays well-defined over the pruned
    universe). A single corpus-wide stop-shingle otherwise contributes
    O(n_docs^2) candidate pairs; the cap bounds per-shingle fan-out at
    max_df^2 — the difference between a bounded shuffle and a quadratic
    one at 100 TB. Default off: the uncapped form is the oracle-exact
    textbook Jaccard. ``dedup_ngram_jaccard_capped`` is the gate entry
    with the cap on (its DuckDB oracle applies the identical filter).
    """
    sh = _shingle_index(spark, sf_dir, max_df)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
                  "hs")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
                  "hs")
    # (doc_a, doc_b) functionally determine (na, nb), so grouping by all
    # four is value-identical and the sizes need no join after the agg
    inter = (
        a.join(b, "hs")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            floor4(F.col("n_common")
                   / (F.col("na") + F.col("nb") - F.col("n_common"))))
        .where(F.col("jaccard") >= MIN_JACCARD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _minhash_sig_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_0 .. sig_15): the whole MinHash signature computed
    ROW-LOCALLY (r14, guide §2.4) — 16 ``array_min`` folds over the
    per-doc distinct-hash array, ZERO Exchanges. The r8 form was one
    hash-agg pass (already 16x better than a row explosion); with the
    shingle set per-doc as an array, min-over-permutation needs no
    shuffle at all: signature building is now a pure projection of the
    document scan at any corpus size. Docs whose shingle array is empty
    produce no signature row, exactly like the aggregate form.
    ``a*h+b`` stays < 2^52 (a <= ~1.12e6, h < 2^31), far from BIGINT
    overflow."""
    # no emptiness filter here: _doc_shingle_arrays drops shingle-less
    # docs on the cheap token count (a size(hss) predicate would push
    # down and re-inline the md5 pass — see _doc_shingles)
    arr = _doc_shingle_arrays(spark, sf_dir)
    staged = arr.select("doc_id",
                        F.transform("hss", lambda h: h % MINHASH_P)
                        .alias("harr"))
    sigs = [
        F.array_min(F.transform(
            "harr", lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P))
        .alias(f"sig_{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    return staged.select("doc_id", *sigs)


def _sig_cols(prefix: str = "sig_") -> list:
    return [F.col(f"{prefix}{i}") for i in range(N_PERMS)]


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature as an ordered comma-joined string."""
    wide = _minhash_sig_wide(spark, sf_dir)
    return wide.select(
        "doc_id",
        F.concat_ws(",", *[c.cast("string") for c in _sig_cols()])
         .alias("signature"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str,
                      bucket_cap: int | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    Bands of BAND_ROWS rows hash to bucket keys; candidate pairs are docs
    sharing any bucket (equi-join — the 100 TB-safe path); each pair then
    compares full signatures via two wide joins (no per-perm re-shuffle).

    ``bucket_cap``: the band-bucket population cap — drop (band,
    band_hash) buckets holding more than ``bucket_cap`` documents BEFORE
    the self-join. A bucket of b members contributes b*(b-1)/2 candidate
    pairs, so one boilerplate cluster (every near-identical license
    header hashes to the same bucket in every band) turns the equi-join
    quadratic; the cap bounds per-bucket fan-out at bucket_cap^2 — the
    band-join twin of ``max_df`` on the shingle index. Pairs sharing any
    SURVIVING bucket keep their full-signature estimate unchanged.
    Default off = the textbook LSH form; ``dedup_minhash_lsh_capped`` is
    the gate entry with the cap on (its DuckDB oracle applies the
    identical population filter)."""
    wide = _minhash_sig_wide(spark, sf_dir).cache()
    n_bands = N_PERMS // BAND_ROWS
    band_structs = F.array(*[
        F.struct(
            F.lit(k).alias("band"),
            F.md5(F.concat_ws(",", *[
                F.col(f"sig_{i}").cast("string")
                for i in range(k * BAND_ROWS, (k + 1) * BAND_ROWS)
            ])).alias("band_hash"))
        for k in range(n_bands)
    ])
    bands = wide.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"),
             F.col("b.band_hash").alias("band_hash"))
    if bucket_cap is not None:
        bands = cap_bucket_population(bands, ["band", "band_hash"],
                                      bucket_cap)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = wide.select(F.col("doc_id").alias("doc_a"),
                     *[F.col(f"sig_{i}").alias(f"a{i}")
                       for i in range(N_PERMS)])
    wb = wide.select(F.col("doc_id").alias("doc_b"),
                     *[F.col(f"sig_{i}").alias(f"b{i}")
                       for i in range(N_PERMS)])
    matches = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
         for i in range(N_PERMS)),
        start=F.lit(0))
    return (
        cand.join(wa, "doc_a").join(wb, "doc_b")
        .select("doc_a", "doc_b",
                floor4(matches / float(N_PERMS)).alias("est_jaccard"))
    )


CAP_MAX_DF = 50

# Band-bucket population cap (minhash / simhash / embedding-LSH band
# joins): a (band, bucket) of b members emits b*(b-1)/2 candidate pairs,
# so the deployed form drops buckets above this population before the
# self-join — the band-join twin of CAP_MAX_DF on the shingle index.
BAND_BUCKET_CAP = 50


def cap_bucket_population(bands: DataFrame, keys: list[str],
                          bucket_cap: int) -> DataFrame:
    """THE bucket population cap — single-sourced for every capped
    self-join (the minhash, simhash and embedding-LSH band joins, the
    span-occurrence joins and the shingle index), so the engine filter
    cannot drift per family: drop ``keys``-buckets holding more than
    ``bucket_cap`` rows. The population count is one map-side-
    combinable hash-agg on the join key itself; the keep-join shuffles
    into (or, when the caller pre-partitioned on ``keys``, reuses) the
    exact partitioning the candidate self-join needs. The CAPPED frame
    is persisted: the self-join consumes it on both sides, and without
    its own cache each side would re-run the keep-join over the raw
    band table — two extra full passes at 100 TB. The SQL twin is
    ``cap_bucket_sql`` (the oracle side of the same single source)."""
    keep = (bands.groupBy(*keys)
            .agg(F.count("*").alias("pop"))
            .where(F.col("pop") <= bucket_cap)
            .select(*keys))
    return bands.join(keep, keys).persist()


def cap_bucket_sql(keys: str, payload: str, bucket_cap: int) -> str:
    """The oracle-side twin of ``cap_bucket_population``: the keep/kb
    CTE fragment applying the IDENTICAL population filter (HAVING
    count(*) <= cap per ``keys``-bucket) over a CTE named ``bands``.
    ``payload`` = the columns the candidate join needs downstream.
    kb is MATERIALIZED — DuckDB inlines a CTE per reference and the
    self-join reads kb twice."""
    return f""",
        keep AS (
            SELECT {keys} FROM bands
            GROUP BY {keys} HAVING count(*) <= {bucket_cap}
        ),
        kb AS MATERIALIZED (SELECT {payload}
               FROM bands b JOIN keep USING ({keys}))"""


def span_wins_sql(cte: str) -> str:
    """Linear DuckDB rendering of the sliding-window hash, shared by
    every span-family oracle (r13). The old per-position
    ``list_slice(toks, pos, ...)`` carried the WHOLE token array into
    every unnested position row — O(positions × doc_length) work and
    memory, a ~4×10^9-element blow-up on book-length documents (the
    engine side was always linear; surfaced by the real-Gutenberg
    differential, VERDICT r12 item 6). Here token ROWS come from one
    parallel unnest and the window text is a string_agg over a
    SPAN_TOKENS-row frame (frame rows aggregate in ORDER BY pos
    order), so the hash input is the identical space-joined window
    text and the 60-bit md5 prefix is unchanged. ``cte`` must expose
    (doc_id, toks)."""
    return f"""
            SELECT doc_id, pos,
                   CAST(concat('0x', substring(md5(wtext), 1, 15))
                        AS BIGINT) AS hw
            FROM (
                SELECT doc_id, pos, n_toks,
                       string_agg(tok, ' ') OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND {SPAN_TOKENS - 1} FOLLOWING) AS wtext
                FROM (
                    SELECT doc_id, unnest(toks) AS tok,
                           unnest(range(1, len(toks) + 1)) AS pos,
                           len(toks) AS n_toks
                    FROM {cte}
                )
            )
            WHERE pos <= n_toks - {SPAN_TOKENS} + 1
    """


def token_rows_sql(cte: str) -> str:
    """(doc_id, pos, word) token rows from a (doc_id, toks) CTE by
    parallel unnest — replaces per-row ``toks[pos]`` indexing, which
    carries the whole array per row (the same quadratic the window
    rendering had; r13)."""
    return f"""
            SELECT doc_id, unnest(toks) AS word,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM {cte}
    """


def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_ngram_jaccard`` with the hot-shingle cap engaged
    (max_df=CAP_MAX_DF) — the form a 100 TB pipeline runs. Oracle applies
    the identical doc-frequency filter, so this is value-checked, not
    just bounded."""
    return dedup_ngram_jaccard(spark, sf_dir, max_df=CAP_MAX_DF)


def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_minhash_lsh`` with the band-bucket population cap engaged
    (bucket_cap=BAND_BUCKET_CAP) — the form a 100 TB pipeline runs (a
    giant boilerplate cluster otherwise makes one bucket quadratic).
    The oracle applies the identical per-(band, band_hash) population
    filter, so the capped pipeline is value-checked end to end."""
    return dedup_minhash_lsh(spark, sf_dir, bucket_cap=BAND_BUCKET_CAP)


CC_MAX_ITERS = 20
CC_EDGES_PER_PARTITION = 100_000

# Pointer jumps per round (r14): each jump is a label-vector self-join
# that doubles how far a label pointer reaches, so 2 jumps quadruple
# reach per round and roughly HALVE the round count vs the r7
# single-jump form (sequential reference: diameter 1000 converges in 6
# rounds, not 10). Rounds are the expensive unit — each one costs an
# edge join + an eager checkpoint job — while a jump is a join of the
# compact label vector only; trading 1 extra label join per round for
# ~half the edge-join passes wins at bench scale (fixed per-job
# overhead) and at 100 TB (edge passes dominate).
CC_JUMPS_PER_ROUND = 2

# probe/test instrumentation: rounds the most recent cc_labels call
# used, INCLUDING the final observing round (zero label changes)
_LAST_CC_ROUNDS = 0


def last_cc_rounds() -> int:
    """Rounds consumed by the most recent ``cc_labels`` call — lets the
    bound test and the scale probe assert the pointer-jumping round
    count (~log2(diameter)) instead of inferring it from wall clock."""
    return _LAST_CC_ROUNDS


def cc_labels(spark: SparkSession, pairs: DataFrame,
              a_col: str, b_col: str) -> DataFrame:
    """Connected components over an undirected pair list by Pregel-style
    min-label propagation — the shared core of ``dedup_groups`` (lexical
    near-dup graph) and ``similarity.semantic_dedup`` (embedding
    near-dup graph). Returns (node_id, label) for every node that
    appears in ``pairs``; label = min node id of its component.
    Isolated nodes are the CALLER's business (they're singletons by
    definition and never enter the loop).

    The hot loop is sized to its actual data, not the corpus: the edge
    list is hash-partitioned by ``src`` into
    |edges|/CC_EDGES_PER_PARTITION partitions and cached in that
    layout, so each round reshuffles only the compact label vector
    against stationary edges. Initial labels are SEEDED with the first
    propagate hop (r14): the init aggregation the r7 form already paid
    (``distinct`` over edge sources) becomes ``min(dst)`` per source,
    so ``label0 = least(node, min neighbor)`` and the loop starts one
    hop ahead for the same shuffle. Each round is
    propagate-then-shortcut (r7, VERDICT r6 item 4): one hop of
    min-label propagation along the edges, then CC_JUMPS_PER_ROUND
    rounds of POINTER JUMPING — ``label <- label(label)``, a self-join
    of the compact label vector, each jump doubling label reach — so a
    1000-hop near-dup chain converges in 6 rounds (r7 single-jump
    form: 10; pre-r7 one-hop form: 1001). Per round: one eager
    checkpoint job for the propagate hop (the edge join — the
    expensive part) plus one light labels-only job for the jumps +
    changed-label count. Hard cap CC_MAX_ITERS with loud failure. No
    row data ever reaches the driver. Exact round counts are pinned
    against a sequential reference in tests/test_dedup_cap.py."""
    edges_raw = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"),
                            F.col(a_col).alias("dst")))
        .persist()
    )
    n_edges = edges_raw.count()      # materializes the pair join ONCE
    n_parts = max(2, min(spark.sparkContext.defaultParallelism,
                         1 + n_edges // CC_EDGES_PER_PARTITION))
    edges = edges_raw.repartition(n_parts, "src").persist()
    # seeded init: the same one-aggregation shuffle the old
    # distinct-over-sources init paid, but min(dst) rides along so
    # labels start one propagate hop ahead (label0 = least(v, min nb))
    labels = (edges.groupBy("src").agg(F.min("dst").alias("min_dst"))
              .select(F.col("src").alias("node_id"),
                      F.least("src", "min_dst").alias("label"))
              .localCheckpoint(eager=True))
    edges_raw.unpersist()
    global _LAST_CC_ROUNDS
    changed = 0
    rounds = 0
    for _ in range(CC_MAX_ITERS):
        rounds += 1
        nb = (
            edges.join(labels.select(F.col("node_id").alias("src"),
                                     "label"), "src")
            .groupBy("dst").agg(F.min("label").alias("nb_label"))
        )
        # eager checkpoint: the shortcut below self-joins this frame,
        # and without materialization the edge-join subtree would be
        # recomputed on both sides of that join
        prop = (
            labels.join(nb, labels.node_id == nb.dst, "left")
            .select("node_id",
                    F.col("label").alias("old_label"),
                    F.least(F.col("label"),
                            F.coalesce("nb_label", "label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        # CLASS-MIN (r14): every node that started the round pointing
        # at the same representative (old_label) adopts the MINIMUM of
        # the propagated labels across that whole class — one
        # label-vector groupBy + join. This is what makes convergence
        # ~log(diameter) REGARDLESS of how node ids lie along the
        # graph: plain propagate+jump only doubles reach when label
        # pointers happen to chain toward the component min, and on a
        # path whose ids are randomly permuted it degenerates to one
        # hop per round (sequential reference: 408 rounds on a
        # 1000-edge random-id path — past CC_MAX_ITERS, a loud failure
        # at scale). With class-min the same path converges in 7
        # rounds. Any adopted label is some same-component member's
        # label, so the pair-graph invariant below is preserved.
        cls = prop.groupBy("old_label").agg(
            F.min("label").alias("cm_label"))
        clsmin = (
            prop.join(cls, "old_label")
            .select("node_id", "old_label",
                    F.least("label", "cm_label").alias("label"))
        )
        # pointer jumping: label <- label(label), CC_JUMPS_PER_ROUND
        # times. A label is always the id of a node IN the pair graph
        # (it starts as a node/neighbor id and only ever moves to a
        # smaller node id of the same component seen via edges or
        # class members), so the rep lookup always matches; coalesce
        # guards the invariant anyway. Only the FINAL jump's frame is
        # checkpointed — the intermediate subtrees re-read the
        # materialized ``prop``, so the whole cascade stays inside the
        # one changed-count job.
        jumped = clsmin
        for _ in range(CC_JUMPS_PER_ROUND):
            reps = jumped.select(F.col("node_id").alias("rep_id"),
                                 F.col("label").alias("rep_label"))
            jumped = (
                jumped.join(reps, jumped.label == reps.rep_id, "left")
                .select("node_id", "old_label",
                        F.coalesce("rep_label", "label").alias("label"))
            )
        new_labels = jumped.localCheckpoint(eager=False)
        changed = new_labels.where(
            F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("node_id", "label")
        if changed == 0:
            break
    edges.unpersist()
    _LAST_CC_ROUNDS = rounds
    if changed != 0:
        # a component with diameter > CC_MAX_ITERS would be silently
        # split into multiple groups — surface it instead of guessing
        raise RuntimeError(
            f"cc_labels: min-label propagation did not converge in "
            f"{CC_MAX_ITERS} rounds ({changed} labels still changing); "
            f"raise CC_MAX_ITERS for this corpus")
    return labels


def dedup_groups(spark: SparkSession, sf_dir: str,
                 max_df: int | None = None) -> DataFrame:
    """Duplicate GROUPS: connected components over the exact n-gram
    Jaccard near-dup pairs, labeling every document with its component's
    minimum doc_id (singletons keep their own id) plus the group size —
    the "keep one per cluster" primitive a dedup pipeline actually needs
    (pairwise output alone can't answer transitive duplication:
    A~B, B~C => {A,B,C} even when A!~C).

    The min-label propagation loop lives in ``cc_labels`` (shared with
    the embedding-space ``similarity.semantic_dedup``) and iterates
    ONLY over the pair subgraph — docs with no near-dup edge are
    singletons by definition and rejoin at the end; see its docstring
    for the partitioning/checkpoint/convergence design.

    ``max_df`` flows through to the candidate generation
    (``dedup_ngram_jaccard``'s hot-shingle cap): the composed pipeline a
    100 TB pass actually runs is the CAPPED one — an uncapped stop-
    shingle makes the pair join quadratic before CC ever starts.
    Default off = the oracle-exact textbook composition;
    ``dedup_groups_capped`` is the gate entry with the cap engaged."""
    pairs = dedup_ngram_jaccard(spark, sf_dir, max_df=max_df) \
        .select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = cc_labels(spark, pairs, "doc_a", "doc_b") \
        .withColumnRenamed("node_id", "doc_id")
    # Group sizes from the LABEL VECTOR alone (r15, guide §2.4 — the
    # corpus-scale `count(*) over (partition by group_id)` window paid
    # a full-corpus Exchange+Sort for counts the tiny pair-subgraph
    # frame already determines): every member of a non-singleton group
    # is a pair-graph node (so its row is IN labels), a singleton's
    # group_id is its own doc_id which can never collide with a
    # component label (labels are member node ids; doc_ids are unique),
    # so per-label counts over `labels` ARE the group sizes and every
    # unlabeled doc has size exactly 1. Values identical; the window's
    # corpus-wide shuffle+sort is gone at any scale.
    sizes = labels.groupBy("label").agg(F.count("*").alias("gsz"))
    lab_sized = labels.join(sizes, "label")
    return (
        docs.join(lab_sized, "doc_id", "left")
        .select("doc_id",
                F.coalesce("label", "doc_id").alias("group_id"),
                F.coalesce("gsz", F.lit(1).cast("bigint"))
                .alias("group_size"))
    )


def dedup_groups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed group pipeline in its deployed form: connected
    components over CAPPED candidate generation
    (``dedup_ngram_jaccard(max_df=CAP_MAX_DF)``). The reference's own
    correctness unit is the end-to-end pipeline golden-diff
    (src/main/test-mr.sh:284-330) — this certifies the composition a
    100 TB pass runs, not just its capped stage. The oracle builds its
    pair list with the identical doc-frequency filter, then the same
    recursive min-label reachability."""
    return dedup_groups(spark, sf_dir, max_df=CAP_MAX_DF)


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from token frequencies.

    ONE hash-agg keyed by doc_id (r14, guide §2.4): summing each
    token occurrence's sign directly is identical to summing
    cnt * sign over distinct words — the per-(doc_id, word) count
    aggregation the r8 form paid was a full extra Exchange computing an
    intermediate the bit-sums never needed. Map-side partial
    aggregation reduces each partition to one 32-column row per doc
    before the (only) shuffle; integer sums are order-independent, so
    the rewrite is oracle-exact."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
        .withColumn("h", F.conv(F.substring(F.md5("word"), 1, 8), 16, 10)
                    .cast("bigint"))
    )
    bit_aggs = [
        F.sum(F.expr(f"2 * ((h >> {j}) & 1) - 1")).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    packed = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS))
    return (
        toks.groupBy("doc_id").agg(*bit_aggs)
        .select("doc_id", F.expr(f"CAST({packed} AS BIGINT)")
                .alias("simhash"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str,
                  bucket_cap: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= 3.

    Candidates via 4 x 8-bit band buckets (exact for Hamming<=3), verified
    with bit_count(xor). Equi-join only — no cross join at any scale.

    ``bucket_cap``: the band-bucket population cap (same contract as
    ``dedup_minhash_lsh``): (band, band_val) buckets holding more than
    ``bucket_cap`` documents are dropped before the self-join, bounding
    per-bucket pair fan-out at bucket_cap^2. With the cap on, the
    Hamming<=3 pigeonhole exactness becomes "exact among pairs sharing a
    surviving bucket" — the documented trade the deployed form makes.
    Default off; ``dedup_simhash_capped`` is the gate entry with the cap
    on (its DuckDB oracle reproduces the banding AND the identical
    population filter)."""
    sh = simhash_docs(spark, sf_dir).cache()
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("band_val", F.expr("(simhash >> (band * 8)) & 255"))
    if bucket_cap is not None:
        bands = cap_bucket_population(bands, ["band", "band_val"],
                                      bucket_cap)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "band_val"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.col("x.simhash").alias("sim_a"),
                F.col("y.simhash").alias("sim_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_simhash`` with the band-bucket population cap engaged
    (bucket_cap=BAND_BUCKET_CAP) — the deployed form. The oracle
    reproduces the 4 x 8-bit banding with the identical population
    filter (the uncapped oracle's simple all-pairs form is only valid
    when every bucket survives)."""
    return dedup_simhash(spark, sf_dir, bucket_cap=BAND_BUCKET_CAP)


FUZZY_MIN_SIM = 0.4


def _ascii_fold(c: Column) -> Column:
    """Fold every non-ASCII character to '?' before edit distance.
    This is the operator's documented contract, not a hack around one
    engine: Levenshtein implementations disagree on the unit of edit
    for multi-byte text (Spark counts UTF-8 CHARACTERS, DuckDB counts
    BYTES — 'héllo'->'hello' is 1 vs 2), so a portable distance must
    run over a representation where the two coincide. Post-fold the
    strings are pure ASCII (bytes == chars) and the DP is identical on
    any engine; each non-ASCII char still costs one edit when it
    differs."""
    return F.regexp_replace(c, r"[^\x00-\x7F]", "?")


def dedup_fuzzy_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup, the classic two-stage shape: capped MinHash-banded
    CANDIDATES (``dedup_minhash_lsh(bucket_cap=BAND_BUCKET_CAP)`` — the
    deployed generation path) verified by EXACT Levenshtein edit
    distance over the ASCII-folded texts, keeping pairs with normalized
    similarity 1 - dist/max(len) >= FUZZY_MIN_SIM. Banding finds
    shingle-level overlap; the edit-distance verify is the signal it
    can't give — HOW FAR apart two near-duplicates actually are (one
    typo vs a rewritten paragraph), which is what survivorship and
    diff-review tooling consume.

    Scale design (100 TB): edit distance is O(len_a * len_b) per pair
    and must NEVER run corpus x corpus — it runs only on the banded
    candidate set (bounded by the bucket-population cap), and the raw
    texts join in by doc_id equi-keys, so only candidate-pair texts
    ever shuffle. The oracle applies the identical candidate filter and
    the identical fold, so values (integer distance + floor4
    similarity) hash-match cross-engine."""
    cand = dedup_minhash_lsh(spark, sf_dir,
                             bucket_cap=BAND_BUCKET_CAP) \
        .select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _ascii_fold(F.col("text")).alias("t"))
    a = docs.select(F.col("doc_id").alias("doc_a"),
                    F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"),
                    F.col("t").alias("tb"))
    sim = floor4(
        F.lit(1.0)
        - F.levenshtein("ta", "tb")
        / F.greatest(F.length("ta"), F.length("tb"), F.lit(1)))
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b",
                F.levenshtein("ta", "tb").alias("edit_dist"),
                sim.alias("edit_sim"))
        .where(F.col("edit_sim") >= FUZZY_MIN_SIM)
    )


CONTAINMENT_MIN = 0.5


def shingle_containment(spark: SparkSession, sf_dir: str,
                        max_df: int | None = None) -> DataFrame:
    """Asymmetric containment C(A,B) = |S(A) n S(B)| / |S(A)|: how much
    of document A's shingle set appears in B. Catches what symmetric
    Jaccard misses — a short excerpt quoted inside a long document
    scores near-zero Jaccard but containment ~1, which is exactly the
    train/test contamination and quote-dedup case.

    Same inverted-index join shape as dedup_ngram_jaccard (shuffle keyed
    by shingle hash, never a cross join). ``max_df`` is the hot-shingle
    cap (same contract as dedup_ngram_jaccard's): shingles appearing in
    more than ``max_df`` documents are dropped BEFORE the self-join —
    from both the index and the per-doc set sizes, so containment stays
    well-defined over the pruned universe. A single corpus-wide
    stop-shingle otherwise contributes O(n_docs^2) candidate pairs; at
    100 TB the cap is mandatory (docs/SCALE.md). Default off = the
    oracle-exact textbook form; ``shingle_containment_capped`` is the
    gate entry with the cap engaged."""
    sh = _shingle_index(spark, sf_dir, max_df)
    a = sh.select(F.col("doc_id").alias("doc_a"), "n", "hs")
    b = sh.select(F.col("doc_id").alias("doc_b"), "hs")
    inter = (
        a.join(b, "hs")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.withColumn("containment",
                         floor4(F.col("n_common") / F.col("n")))
        .where(F.col("containment") >= CONTAINMENT_MIN)
        .select("doc_a", "doc_b", "n_common", "containment")
    )


def shingle_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``shingle_containment`` with the hot-shingle cap engaged
    (max_df=CAP_MAX_DF) — the form a 100 TB pipeline runs (docs/SCALE.md:
    the cap bounds per-shingle join fan-out at max_df^2). The oracle
    applies the identical doc-frequency filter, so this is value-checked,
    not just bounded — the containment twin of
    ``dedup_ngram_jaccard_capped``."""
    return shingle_containment(spark, sf_dir, max_df=CAP_MAX_DF)


def dedup_keep_best(spark: SparkSession, sf_dir: str,
                    groups_df: DataFrame | None = None,
                    max_df: int | None = None) -> DataFrame:
    """Survivorship selection: within each near-dup group
    (dedup_groups), keep the highest-quality document — quality score
    from operators/textstats.doc_quality, ties broken by doc_id so the
    survivor is engine-independent. This is the step that turns a dedup
    CLUSTERING into a dedup DECISION; 'keep lowest doc_id' (dedup_exact)
    discards better-written near-duplicates.

    ``groups_df``: a precomputed dedup_groups result
    (doc_id, group_id, group_size). In a real pipeline the connected-
    components labeling is computed ONCE and fed to every downstream
    consumer — pass it here so survivorship doesn't re-run the whole
    pair-join + CC iteration (5.5 s vs 1 s at sf0.1). Default (the gate
    entry's behavior, unchanged): compute it. ``max_df`` flows through
    to that default's candidate generation (ignored when ``groups_df``
    is given) — ``dedup_keep_best_capped`` is the gate entry running
    the fully capped composition.

    One window pass over the group labeling; the quality join is
    doc_id-equi and pre-aggregated per doc."""
    from pyspark.sql.window import Window as W

    from mit_6_5840_mapreduce_spark.operators.textstats import doc_quality
    groups = (groups_df if groups_df is not None
              else dedup_groups(spark, sf_dir, max_df=max_df))
    quality = doc_quality(spark, sf_dir).select("doc_id", "quality_score")
    w = W.partitionBy("group_id").orderBy(F.desc("quality_score"),
                                          F.asc("doc_id"))
    return (
        groups.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "group_id", "group_size", "quality_score",
                (F.col("rk") == 1).cast("int").alias("is_survivor"))
    )


def dedup_keep_best_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full survivorship pipeline in its deployed form: capped
    candidate generation -> connected components -> quality-ranked
    survivor per group (``dedup_keep_best(max_df=CAP_MAX_DF)``). The
    oracle composes the capped group labeling with the doc_quality
    oracle under the identical filter — the end-to-end value check for
    the composition a 100 TB dedup pass actually ships."""
    return dedup_keep_best(spark, sf_dir, max_df=CAP_MAX_DF)


# Incremental dedup: the daily-increment pipeline shape. "Existing
# corpus" = doc_id % 10 < INCR_EXISTING_MOD (deterministic, disjoint
# from doc_split's md5 buckets so the two pipelines don't alias);
# the rest is the "new batch" arriving against the persisted index.
INCR_EXISTING_MOD = 8
INCR_DUP_FRAC = 0.5
INCR_INDEX_DB = "graft_dedup_index"
INCR_INDEX_BUCKETS = 8


def _incr_split(sh: DataFrame):
    existing = sh.where(F.col("doc_id") % 10 < INCR_EXISTING_MOD)
    new = sh.where(F.col("doc_id") % 10 >= INCR_EXISTING_MOD)
    return existing, new


def dedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD side of incremental dedup: the persisted shingle inverted
    index over the existing corpus — one row per distinct shingle hash
    with the first (min) doc_id that contains it. In production this
    table is written bucketed by ``hs`` and every daily increment
    probes it with a co-located join; here the gate returns the index
    rows themselves so the artifact is value-checked, not just its
    stats. Plan: one explode + one hash-agg, keyed by the 60-bit
    shingle hash — uniform by construction."""
    existing, _ = _incr_split(_doc_shingles(spark, sf_dir))
    return existing.groupBy("hs").agg(F.min("doc_id").alias("first_doc"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROBE side of incremental dedup: the new batch's documents
    scored against the PERSISTED index — the index is materialized as a
    table BUCKETED BY the shingle hash and read back through the
    catalog (the 'index is data' pattern ``hnsw_search_persisted``
    uses for ANN), so this gate certifies the full write→catalog→probe
    path, not an in-plan shortcut. Per new doc: distinct-shingle
    count, hits against the index, duplicated fraction, and the is_dup
    decision at INCR_DUP_FRAC. New docs too short to shingle carry no
    evidence and are kept.

    Scale: the new batch is a day's increment — orders of magnitude
    smaller than the index. Because the index is stored bucketed on
    ``hs``, its layout already satisfies the probe join's required
    distribution: Catalyst plans NO Exchange on the index side (pinned
    by tests/test_bucketing.py); only the small increment shuffles
    into the bucket partitioning. Then one count-agg."""
    from mit_6_5840_mapreduce_spark.sources.bucketing import write_bucketed
    from mit_6_5840_mapreduce_spark.sources.scratch import scratch_dir
    loc = scratch_dir("dedup_index")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {INCR_INDEX_DB} "
              f"LOCATION '{loc}'")
    write_bucketed(dedup_index_build(spark, sf_dir),
                   f"{INCR_INDEX_DB}.shingle_index", "hs",
                   INCR_INDEX_BUCKETS)
    index = spark.table(f"{INCR_INDEX_DB}.shingle_index").select("hs")
    _, new_sh = _incr_split(_doc_shingles(spark, sf_dir))
    totals = new_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (new_sh.join(index, "hs")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    new_docs = (load_table(spark, sf_dir, "documents").select("doc_id")
                .where(F.col("doc_id") % 10 >= INCR_EXISTING_MOD))
    frac = floor4(F.coalesce("n_hits", F.lit(0))
                  / F.coalesce("n_shingles", F.lit(1)))
    return (
        new_docs.join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select("doc_id",
                F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                frac.alias("dup_frac"),
                (frac >= INCR_DUP_FRAC).cast("int").alias("is_dup"))
    )


SPAN_TOKENS = 10                # exact-substring window width (tokens)

# Corpus-wide occurrence cap per window hash for the PAIR-ALIGNMENT
# form: a window occurring in n places emits <= n*(n-1)/2 aligned hits,
# so dedup_span_pairs drops window hashes above this population before
# its self-join — the span-family twin of BAND_BUCKET_CAP.
SPAN_OCC_CAP = 20


# Memoized persisted span frames (token arrays, hashed windows), keyed
# by (applicationId, kind, sf_dir, corpus stamp). A persisted DataFrame
# is owned by its SparkContext, so keying by applicationId lets the
# entry die with the cache it names; one frame per (app, corpus) is
# shared by every span consumer instead of each call persisting a new
# corpus-token-sized frame that nothing releases. The stamp (mtime_ns
# + size of documents.parquet) keeps a corpus rewritten at the same
# path from being served stale windows. Entries of other (stopped)
# applications are evicted on insert.
#
# Measured (4 cores, per-query medians): without persistence
# (SPAN_WINDOWS_PERSIST=False) 6 of the 7 span queries (the five span
# queries, epoch_assembly, curation_summary) were slower in all 6
# alternating pairs at sf0.01 — dedup_span_scrub 1.61 s -> 2.22 s, the
# seven 9.2 s -> 11.5 s. Replacing the memo with a plain .persist() per
# call left action time unchanged at sf0.1 but roughly doubled build
# time (dedup_span_scrub 0.26 s -> ~0.5 s), and served stale windows
# after an in-place corpus rewrite
# (test_span_windows_cache_sees_corpus_rewrite fails). So it stays.
_SPAN_WINDOWS_CACHE: dict[tuple[str, str, tuple], DataFrame] = {}
# max memoized frames per (application, kind): the working set (one
# corpus plus a planted one or two) while bounding a many-corpus
# session to a constant number of resident frames
_SPAN_WINDOWS_CACHE_PER_APP = 3
# Storage level for the memoized frames (docs/SCALE.md "span-window
# persistence"): MEMORY_AND_DISK_DESER with accept-recompute
# degradation. The frame is corpus-token-sized, so at 100 TB it exceeds
# the storage pool; evicted partitions spill to disk and, past disk,
# are dropped and recomputed from the column-pruned scan (the cheap
# tokenize + hash stage; the population cap and self-join run
# downstream of whatever is resident). Values are unaffected at every
# step; the worst case is one extra scan per consumer, cheaper than
# DISK_ONLY at gate scale and safer than pinning.
_SPAN_WINDOWS_STORAGE = StorageLevel.MEMORY_AND_DISK_DESER
# Test/probe switch: False is the total-degradation endpoint (no
# persist, no memo), pinned value-identical by test_spans_mixture.py
SPAN_WINDOWS_PERSIST = True
# serializes lookup/evict/insert: drivers run concurrent action
# threads, and an unguarded miss from two threads would persist two
# frames and orphan the first
_SPAN_WINDOWS_LOCK = threading.Lock()


def _corpus_stamp(sf_dir: str) -> tuple:
    """Content-identity stamp for documents.parquet at sf_dir (file or
    directory of part files): (mtime_ns, size) aggregates — cheap
    driver-side stats, no data read."""
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    for name in sorted(os.listdir(path)):
        try:
            s = os.stat(os.path.join(path, name))
        except OSError:
            # deleted between listdir and stat (a concurrent rewrite):
            # the next call sees a different stamp and recomputes
            entries.append((name, "gone"))
            continue
        entries.append((name, s.st_mtime_ns, s.st_size))
    return tuple(entries)


def _restore_persist(cached: DataFrame) -> DataFrame:
    """Re-persist a memoized frame an external
    ``spark.catalog.clearCache()`` unpersisted, so multi-consumer reads
    stay one-compute (values are unaffected either way)."""
    lvl = cached.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        cached.persist(_SPAN_WINDOWS_STORAGE)
    return cached


def _lru_touch(key: tuple) -> None:
    """Recency refresh on a cache hit: the per-(app, kind) bound evicts
    by dict insertion order, so a hit re-inserts its key. Caller holds
    ``_SPAN_WINDOWS_LOCK``."""
    _SPAN_WINDOWS_CACHE[key] = _SPAN_WINDOWS_CACHE.pop(key)


def _memo_frame(spark: SparkSession, kind: str, sf_dir: str,
                build) -> DataFrame:
    """Persist-and-memoize ``build()`` per (application, kind, sf_dir,
    corpus stamp) — the shared machinery behind ``_token_arrays`` and
    ``_span_windows``. Double-checked locking: ``build()`` runs outside
    the lock (its schema read lists parquet footers, real driver work
    at 100 TB, and a hit for one corpus must not wait behind a miss for
    another); a racing loser's frame is discarded before it is ever
    persisted."""
    app = spark.sparkContext.applicationId
    path = os.path.abspath(sf_dir)
    key = (app, kind, path, _corpus_stamp(sf_dir))
    with _SPAN_WINDOWS_LOCK:
        cached = _SPAN_WINDOWS_CACHE.get(key)
        if cached is not None:
            _lru_touch(key)
            return _restore_persist(cached)
    frame = build()                     # outside the lock: metadata work
    with _SPAN_WINDOWS_LOCK:
        # Insert under the stamp read BEFORE build(): spark.read pins
        # the file listing at plan construction, so a frame planned
        # before a mid-build rewrite reads the old part files. Keyed
        # by the old stamp, no post-rewrite caller can hit it, and the
        # first post-rewrite insert evicts it below; keying it by a
        # fresh stamp would serve deleted files to every later caller.
        cached = _SPAN_WINDOWS_CACHE.get(key)
        if cached is not None:          # a racer inserted first: use its
            _lru_touch(key)
            return _restore_persist(cached)   # frame, drop ours unpersisted
        # evict entries owned by other (stopped) applications and stale
        # stamps of THIS (kind, path) — unreachable or outdated frames
        for k in [k for k in _SPAN_WINDOWS_CACHE
                  if k[0] != app or k[:3] == key[:3]]:
            if k[0] == app:
                try:
                    _SPAN_WINDOWS_CACHE[k].unpersist()
                except Exception:
                    pass        # context mid-shutdown: nothing to free
            del _SPAN_WINDOWS_CACHE[k]
        # bound the per-(app, kind) population so a session touching
        # many corpora does not hold one persisted frame per directory:
        # unpersist and drop the least recently used (dict order is
        # recency order, see _lru_touch)
        same = [k for k in _SPAN_WINDOWS_CACHE if k[:2] == key[:2]]
        while len(same) >= _SPAN_WINDOWS_CACHE_PER_APP:
            oldest = same.pop(0)
            try:
                _SPAN_WINDOWS_CACHE[oldest].unpersist()
            except Exception:
                pass
            del _SPAN_WINDOWS_CACHE[oldest]
        frame = frame.persist(_SPAN_WINDOWS_STORAGE)
        _SPAN_WINDOWS_CACHE[key] = frame
        return frame


def _token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks): the tokenized corpus, persisted and memoized —
    the shared materialization of the span/scrub family:
    ``_span_windows`` derives its hashed windows from it and
    ``scrub_positions`` recomposes text from it, so a query composing
    both (``dedup_span_scrub``, ``decontaminate_span_scrub``,
    ``epoch_assembly``) tokenizes the corpus once per session."""
    def build() -> DataFrame:
        docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
        return docs.select("doc_id",
                           tokenize(F.col("text")).alias("toks"))

    if not SPAN_WINDOWS_PERSIST:       # accept-recompute endpoint (knob)
        return build()
    return _memo_frame(spark, "tokens", sf_dir, build)


def _span_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, hw): every SPAN_TOKENS-token sliding window of the
    corpus, 60-bit-hashed BEFORE any shuffle (fixed-width uniform keys;
    window text never leaves the scan stage). Persisted AND memoized
    per (application, sf_dir, corpus stamp) — every consumer
    (duplicate_spans' count/flag passes, dedup_span_pairs' cap +
    self-join) reads it more than once, and repeat invocations in one
    session reuse one cache instead of stacking new persisted frames
    (ADVICE r10). Derives from the shared ``_token_arrays`` frame, so
    the tokenize pass is shared with the scrub stage (r12)."""
    toks = _token_arrays(spark, sf_dir)

    def build() -> DataFrame:
        return (
            toks.where(F.size("toks") >= SPAN_TOKENS)
            .select("doc_id", F.explode(F.transform(
                F.sequence(F.lit(1), F.size("toks") - (SPAN_TOKENS - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice(F.col("toks"), i, SPAN_TOKENS))
                    .alias("w")))).alias("s"))
            .select("doc_id", F.col("s.pos").cast("bigint").alias("pos"),
                    F.conv(F.substring(F.md5("s.w"), 1, 15), 16, 10)
                    .cast("bigint").alias("hw"))
        )

    if not SPAN_WINDOWS_PERSIST:       # accept-recompute endpoint (knob)
        return build()
    return _memo_frame(spark, "windows", sf_dir, build)


def dedup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-span ALIGNMENT — the pair-level view that
    ``duplicate_spans`` aggregates away: for every ordered document
    pair sharing text, each maximal shared run (which doc shares which,
    where in EACH side, and for how many tokens) — the provenance /
    contamination-attribution signal, and the input a cut-one-side
    span-dedup pass needs.

    Suffix-array ExactSubstr semantics, distributed: two SPAN_TOKENS
    windows that match at consecutive start positions on the same
    alignment DIAGONAL (pos_a - pos_b) are one longer shared
    substring, so maximal shared spans fall out of gaps-and-islands
    per (pair, diagonal): a run of R consecutive matching starts is
    one shared span of R + SPAN_TOKENS - 1 tokens.

    Scale design (100 TB): windows are 60-bit-hashed before the
    shuffle; the corpus-wide occurrence cap (cap_bucket_population,
    SPAN_OCC_CAP) bounds the self-join to <= cap^2 aligned hits per
    window hash — the boilerplate window that appears in a million
    documents is dropped before it can emit a quadratic hit list, the
    band-bucket-cap doctrine (docs/SCALE.md). The island detection
    windows over (doc_a, doc_b, diag) partitions bounded by document
    length, never corpus size. Capped-form property: a shared span
    whose INTERIOR window crosses the occurrence cap (boilerplate
    embedded inside otherwise-unique text) splits into the two flanks;
    the oracle applies the identical filter, so the split is
    value-checked, not approximated."""
    wins = cap_bucket_population(
        _span_windows(spark, sf_dir), ["hw"], SPAN_OCC_CAP)
    a, b = wins.alias("a"), wins.alias("b")
    hits = (
        a.join(b, (F.col("a.hw") == F.col("b.hw"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.pos").alias("pos_a"),
                F.col("b.pos").alias("pos_b"),
                (F.col("a.pos") - F.col("b.pos")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        hits.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.min("pos_a").alias("start_a"),
             F.min("pos_b").alias("start_b"),
             (F.count("*") + (SPAN_TOKENS - 1)).alias("span_tokens"))
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut-one-side exact-span dedup — the ACTION stage of the
    ExactSubstr pipeline (detect: ``duplicate_spans``; attribute:
    ``dedup_span_pairs``; cut: here). Every document keeps its tokens
    except positions covered by a shared span in which it is the
    HIGHER-doc_id side — the lower id is the canonical copy,
    ``dedup_exact``'s min-id survivorship rule, so one copy of every
    duplicated passage survives corpus-wide. Spans are the ones
    detected on the ORIGINAL corpus (single-pass cut semantics: cuts
    do not re-trigger detection against already-scrubbed text).
    Output per document: token count, tokens cut, cut fraction, and
    the scrubbed text recomposed from the surviving tokens (token-
    joined — tokenize() has already dropped punctuation, so the
    recomposition is over the token stream, not raw bytes).

    Scale design (100 TB): the cut-position explode is bounded by
    |pair spans| x span length (occurrence-capped upstream); the
    anti-join and the per-doc regroup shuffle |corpus tokens| — the
    same order as the window pass that found the spans; the regroup's
    collect_list is per-document, bounded by document length (the
    hot-key doctrine's bounded-group class), and array_sort makes the
    recomposition order-deterministic under any merge order."""
    pairs = dedup_span_pairs(spark, sf_dir)
    cuts = (
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(F.sequence(
                F.col("start_b"),
                F.col("start_b") + F.col("span_tokens") - 1)).alias("pos"))
        .distinct()
    )
    return scrub_positions(spark, sf_dir, cuts)


def scrub_positions(spark: SparkSession, sf_dir: str, cuts: DataFrame,
                    only: Column | None = None) -> DataFrame:
    """THE span-cut recompose stage — single-sourced for both cut
    consumers (``dedup_span_scrub`` over pair alignments;
    ``decontaminate_span_scrub`` over cross-split quotes), so the
    anti-join/recompose semantics cannot drift per caller. ``cuts`` is
    a (doc_id, pos) frame of token positions to remove; ``only``
    optionally restricts the output to a doc subset — a ROW-LOCAL
    filter Column over the base frame's ``doc_id`` (r14, guide §2.4:
    the previous (doc_id)-frame semi-join shuffled the token arrays
    against a second documents scan to apply a predicate md5(doc_id)
    already decides; its one caller passes the split_name rule).
    Per surviving document: token count, tokens cut, cut fraction,
    and the scrubbed text recomposed deterministically
    (array_sort(collect_list(struct(pos, word))) — merge-order-proof;
    the per-doc collect_list is the bounded-group class).

    The token arrays come from the SHARED memoized ``_token_arrays``
    frame (r12): the tokenize scan feeds the recompose AND the window
    machinery the same queries compose — one materialization serves
    all of them, replacing a per-call private persist that nothing
    ever released (the ADVICE-r10 defect class). The ``only`` filter
    runs above the cached frame; re-running it per branch is a
    row-local predicate, orders cheaper than the tokenize it used to
    force.

    ROW-LOCAL recompose (r15, guide §2.4 — remove shuffles outright):
    the cut-position anti-join used to posexplode every document into
    (doc_id, pos, word) rows, anti-join them against ``cuts`` on
    (doc_id, pos) and collect_list them back per doc — two
    corpus-token-scale exchanges plus a token-row explosion, all to
    apply a per-document position mask. Now ``cuts`` is grouped ONCE
    into a per-doc position array (span-scale, orders smaller than the
    token stream), joined to the token-array frame by doc_id, and the
    mask is applied inside the row: kept positions =
    ``array_except(sequence(1, n), cut_arr)`` (hash-set based — linear
    in n + |cuts|, no quadratic contains-scan even on a fully
    duplicated document), words picked by ``element_at``. Exchanges:
    2 token-scale + 1 span-scale -> 1 doc-scale (the arrays join) +
    1 span-scale; the collect_list regroup and the explode are gone
    at any corpus size. (This also retires the r14 co-partitioning
    note: the requireAllClusterKeysForCoPartition-blocked single-
    exchange plan is moot once there is no token-row join at all.)
    Values are identical by construction: the anti-join kept exactly
    the tokens whose position was not in cuts, in position order
    (array_sort on (pos, word) == sequence order), and a doc with
    every token cut produced no kept rows -> n_kept 0, text "" —
    array_except returns [] for the same case. Positions in ``cuts``
    outside [1, n] never matched the anti-join and never appear in
    sequence(1, n); duplicate cut positions collapse in array_except
    exactly as they did in the anti-join. Both position arrays are
    bigint, so a cut position past the int range is ignored like any
    other out-of-range one instead of overflowing a cast (ANSI mode)."""
    base = _token_arrays(spark, sf_dir)
    if only is not None:
        base = base.where(only)
    cut_arrs = (cuts.groupBy("doc_id")
                .agg(F.collect_list(F.col("pos").cast("bigint"))
                     .alias("cut_arr")))
    n = F.size("toks").cast("bigint")
    kept_pos = F.array_except(
        F.when(n > 0, F.sequence(F.lit(1).cast("bigint"), n))
        .otherwise(F.array().cast("array<bigint>")),
        F.coalesce("cut_arr", F.array().cast("array<bigint>")))
    staged = (
        base.join(cut_arrs, "doc_id", "left")
        .select("doc_id", "toks", n.alias("n_tokens"),
                kept_pos.alias("kept_pos"))
    )
    n_kept = F.size("kept_pos").cast("bigint")
    n_cut = F.col("n_tokens") - n_kept
    return staged.select(
        "doc_id", "n_tokens", n_cut.alias("n_cut"),
        F.when(F.col("n_tokens") > 0,
               floor4(n_cut / F.col("n_tokens")))
        .otherwise(F.lit(0.0)).alias("cut_frac"),
        F.concat_ws(" ", F.transform(
            "kept_pos", lambda p: F.element_at("toks", p.cast("int"))))
        .alias("scrubbed_text"))


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup statistics — the sliding-window form
    of suffix-array substring dedup (find every SPAN_TOKENS-token
    window whose exact text occurs >= 2 times anywhere in the corpus,
    intra- or cross-document). Per document with at least one window:
    window count, duplicated-window count, duplicated fraction, and the
    longest duplicated run in tokens (consecutive duplicated window
    starts collapsed gaps-and-islands style: a run of R consecutive
    duplicated starts is one duplicated substring of R + SPAN_TOKENS - 1
    tokens). This is the span-level signal the shingle families can't
    give: WHERE the copied text sits and how long it runs.

    Scale design (100 TB): windows are hashed to 60-bit ints before any
    shuffle (fixed-width keys, uniform); the occurrence count is one
    map-side-combined hash-agg; the flag join is keyed by the same
    uniform hash; the run detection windows over duplicated positions
    only (a small fraction of the corpus). A true suffix array would
    find arbitrary-length duplicates but needs global order — the
    fixed-window form is the standard distributed approximation and
    catches every duplicate of length >= SPAN_TOKENS."""
    wins = _span_windows(spark, sf_dir)
    dup = (wins.groupBy("hw").agg(F.count("*").alias("n_occ"))
           .where(F.col("n_occ") >= 2).select("hw"))
    flagged = wins.join(dup, "hw").select("doc_id", "pos")
    totals = wins.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    dup_counts = (flagged.groupBy("doc_id")
                  .agg(F.count("*").alias("n_dup_windows")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp").agg(F.count("*").alias("run"))
        .groupBy("doc_id").agg(F.max("run").alias("max_run"))
    )
    n_dup = F.coalesce("n_dup_windows", F.lit(0)).cast("bigint")
    return (
        totals.join(dup_counts, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select("doc_id", "n_windows", n_dup.alias("n_dup_windows"),
                floor4(n_dup / F.col("n_windows")).alias("dup_frac"),
                F.coalesce(F.col("max_run") + (SPAN_TOKENS - 1),
                           F.lit(0)).cast("bigint")
                .alias("longest_dup_tokens"))
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "duplicate_spans": duplicate_spans,
    "dedup_span_pairs": dedup_span_pairs,
    "dedup_span_scrub": dedup_span_scrub,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_jaccard_capped": dedup_ngram_jaccard_capped,
    "dedup_groups": dedup_groups,
    "dedup_groups_capped": dedup_groups_capped,
    "dedup_keep_best": dedup_keep_best,
    "dedup_keep_best_capped": dedup_keep_best_capped,
    "dedup_index_build": dedup_index_build,
    "dedup_incremental": dedup_incremental,
    "shingle_containment": shingle_containment,
    "shingle_containment_capped": shingle_containment_capped,
    "minhash_signatures": minhash_signatures,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_capped": dedup_minhash_lsh_capped,
    "dedup_fuzzy_verify": dedup_fuzzy_verify,
    "simhash_docs": simhash_docs,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_capped": dedup_simhash_capped,
}

_PERMS_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(PERMS))

_DUCK_SIGS = f"""
        SELECT doc_id, perm_i,
               min((a * h + b) % {MINHASH_P}) AS sig
        FROM (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                       % {MINHASH_P} AS h
            FROM ({_DUCK_SHINGLES})
        )
        CROSS JOIN (SELECT * FROM (VALUES {_PERMS_VALUES}) p(perm_i, a, b))
        GROUP BY doc_id, perm_i
"""

_DUCK_SIMHASH = rf"""
        SELECT doc_id,
               sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT
                   AS simhash
        FROM (
            SELECT doc_id, j, sum(contrib) AS s
            FROM (
                SELECT doc_id, j,
                       cnt * (2 * ((h >> j) & 1) - 1) AS contrib
                FROM (
                    SELECT doc_id, word, count(*) AS cnt,
                           CAST(concat('0x', substring(md5(word), 1, 8)) AS BIGINT) AS h
                    FROM (SELECT doc_id,
                                 unnest(regexp_split_to_array(text, '[^\p{{L}}]+')) AS word
                          FROM documents)
                    WHERE word <> ''
                    GROUP BY doc_id, word
                )
                CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
            )
            GROUP BY doc_id, j
        )
        GROUP BY doc_id
"""

def _minhash_lsh_oracle(bucket_cap: int | None = None) -> str:
    """MinHash-LSH oracle, optionally with the band-bucket population
    cap — the SQL filter is IDENTICAL to the engine's keep-join
    (HAVING count(*) <= cap per (band, band_hash)). The capped form
    MATERIALIZES sigs/bands/kb: DuckDB inlines a CTE per reference and
    the cap adds two more (keep + kb, kb read twice by the self-join),
    re-evaluating the shingle->signature aggregation per copy. The
    uncapped text stays byte-identical to its certified form
    (dedup_eval embeds it verbatim)."""
    mat = "" if bucket_cap is None else " MATERIALIZED"
    cap_ctes = "" if bucket_cap is None else cap_bucket_sql(
        "band, band_hash", "b.doc_id, b.band, b.band_hash", bucket_cap)
    src = "bands" if bucket_cap is None else "kb"
    return f"""
        WITH sigs AS{mat} ({_DUCK_SIGS}),
        bands AS{mat} (
            SELECT doc_id, perm_i // {BAND_ROWS} AS band,
                   md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm_i))
                       AS band_hash
            FROM sigs GROUP BY doc_id, perm_i // {BAND_ROWS}
        ){cap_ctes},
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM {src} x JOIN {src} y
              ON x.band = y.band AND x.band_hash = y.band_hash
             AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               floor(count(CASE WHEN sa.sig = sb.sig THEN 1 END)
                     / {float(N_PERMS)} * 10000) / 10000 AS est_jaccard
        FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b AND sb.perm_i = sa.perm_i
        GROUP BY doc_a, doc_b
    """


def _simhash_pairs_capped_oracle(bucket_cap: int) -> str:
    """Capped SimHash oracle: must reproduce the 4 x 8-bit BANDING (the
    uncapped oracle's all-pairs form is equivalent only when every
    bucket survives) plus the identical population filter."""
    return f"""
        WITH sh AS MATERIALIZED ({_DUCK_SIMHASH}),
        bands AS MATERIALIZED (
            SELECT doc_id, simhash, band,
                   (simhash >> (band * 8)) & 255 AS band_val
            FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
        ){cap_bucket_sql("band, band_val",
                         "b.doc_id, b.simhash, b.band, b.band_val",
                         bucket_cap)},
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   x.simhash AS sim_a, y.simhash AS sim_b
            FROM kb x JOIN kb y ON x.band = y.band
                               AND x.band_val = y.band_val
                               AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
        FROM cand
        WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
    """


# Oracle for dedup_span_pairs — also embedded verbatim by the
# dedup_span_scrub oracle (the cut stage consumes the pair alignments)
_SPAN_PAIRS_SQL = rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                               t -> t <> '') AS toks
            FROM documents
        ),
        bands AS MATERIALIZED (
            {span_wins_sql("toks")}
        ){cap_bucket_sql("hw", "b.doc_id, b.pos, b.hw", SPAN_OCC_CAP)},
        hits AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pos_a, b.pos AS pos_b,
                   a.pos - b.pos AS diag
            FROM kb a JOIN kb b
              ON a.hw = b.hw AND a.doc_id < b.doc_id
        ),
        runs AS (
            SELECT doc_a, doc_b, diag, pos_a, pos_b,
                   pos_a - row_number() OVER (
                       PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
                       AS grp
            FROM hits
        )
        SELECT doc_a, doc_b,
               min(pos_a) AS start_a, min(pos_b) AS start_b,
               CAST(count(*) + {SPAN_TOKENS} - 1 AS BIGINT)
                   AS span_tokens
        FROM runs GROUP BY doc_a, doc_b, diag, grp
    """

ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "duplicate_spans": rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                               t -> t <> '') AS toks
            FROM documents
        ),
        wins AS (
            {span_wins_sql("toks")}
        ),
        dup AS (SELECT hw FROM wins GROUP BY hw HAVING count(*) >= 2),
        flagged AS (SELECT doc_id, pos FROM wins JOIN dup USING (hw)),
        totals AS (SELECT doc_id, count(*) AS n_windows
                   FROM wins GROUP BY doc_id),
        dup_counts AS (SELECT doc_id, count(*) AS n_dup_windows
                       FROM flagged GROUP BY doc_id),
        runs AS (
            SELECT doc_id, max(run) AS max_run
            FROM (
                SELECT doc_id, count(*) AS run
                FROM (
                    SELECT doc_id,
                           pos - row_number() OVER (PARTITION BY doc_id
                                                    ORDER BY pos) AS grp
                    FROM flagged
                )
                GROUP BY doc_id, grp
            )
            GROUP BY doc_id
        )
        SELECT t.doc_id, n_windows,
               CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               floor(coalesce(n_dup_windows, 0) / n_windows::DOUBLE
                     * 10000) / 10000 AS dup_frac,
               CAST(coalesce(max_run + {SPAN_TOKENS} - 1, 0) AS BIGINT)
                   AS longest_dup_tokens
        FROM totals t
        LEFT JOIN dup_counts USING (doc_id)
        LEFT JOIN runs USING (doc_id)
    """,
    "dedup_span_pairs": _SPAN_PAIRS_SQL,
    "dedup_span_scrub": rf"""
        WITH pairs AS MATERIALIZED ({_SPAN_PAIRS_SQL}),
        cuts AS (
            SELECT DISTINCT doc_b AS doc_id,
                   unnest(range(start_b, start_b + span_tokens)) AS pos
            FROM pairs
        ),
        dtoks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                               t -> t <> '') AS toks
            FROM documents
        ),
        toks AS (
            {token_rows_sql("dtoks")}
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.word
            FROM toks t
            WHERE NOT EXISTS (SELECT 1 FROM cuts c
                              WHERE c.doc_id = t.doc_id
                                AND c.pos = t.pos)
        ),
        kept_agg AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(word, ' ' ORDER BY pos) AS scrubbed_text
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
               CAST(len(d.toks) - coalesce(n_kept, 0) AS BIGINT) AS n_cut,
               CASE WHEN len(d.toks) > 0
                    THEN floor((len(d.toks) - coalesce(n_kept, 0))
                               / len(d.toks)::DOUBLE * 10000) / 10000
                    ELSE 0.0 END AS cut_frac,
               coalesce(scrubbed_text, '') AS scrubbed_text
        FROM dtoks d LEFT JOIN kept_agg USING (doc_id)
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_common,
               floor(n_common / (sa.n + sb.n - n_common) * 10000) / 10000
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor(n_common / (sa.n + sb.n - n_common) * 10000) / 10000
              >= {MIN_JACCARD}
    """,
    "dedup_ngram_jaccard_capped": f"""
        WITH sh0 AS ({_DUCK_SHINGLES}),
        keep AS (
            SELECT shingle FROM sh0
            GROUP BY shingle HAVING count(*) <= {CAP_MAX_DF}
        ),
        sh AS (SELECT sh0.doc_id, sh0.shingle
               FROM sh0 JOIN keep USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_common,
               floor(n_common / (sa.n + sb.n - n_common) * 10000) / 10000
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor(n_common / (sa.n + sb.n - n_common) * 10000) / 10000
              >= {MIN_JACCARD}
    """,
    # connected components: composed below via _groups_oracle from the
    # corresponding pair-list oracle (uncapped / capped), so the capped
    # composition applies the IDENTICAL candidate filter
    "dedup_groups": "__built_below__",
    "dedup_groups_capped": "__built_below__",
    "dedup_keep_best": "__built_below__",
    "dedup_keep_best_capped": "__built_below__",
    # the oracle reproduces the 60-bit md5-prefix hash so the INDEX
    # ARTIFACT itself is value-checked, not just derived stats
    "dedup_index_build": f"""
        WITH sh AS ({_DUCK_SHINGLES})
        SELECT CAST(concat('0x', substring(md5(shingle), 1, 15))
                    AS BIGINT) AS hs,
               min(doc_id) AS first_doc
        FROM sh
        WHERE doc_id % 10 < {INCR_EXISTING_MOD}
        GROUP BY 1
    """,
    # hits joined on shingle TEXT — identical to the hash join absent
    # collisions (the same equivalence every shingle oracle relies on)
    "dedup_incremental": f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        idx AS (SELECT DISTINCT shingle FROM sh
                WHERE doc_id % 10 < {INCR_EXISTING_MOD}),
        new_sh AS (SELECT doc_id, shingle FROM sh
                   WHERE doc_id % 10 >= {INCR_EXISTING_MOD}),
        totals AS (SELECT doc_id, count(*) AS n_shingles
                   FROM new_sh GROUP BY doc_id),
        hits AS (SELECT doc_id, count(*) AS n_hits
                 FROM new_sh JOIN idx USING (shingle) GROUP BY doc_id),
        scored AS (
            SELECT d.doc_id,
                   coalesce(n_shingles, 0) AS n_shingles,
                   coalesce(n_hits, 0) AS n_hits,
                   floor(coalesce(n_hits, 0)
                         / coalesce(n_shingles, 1)::DOUBLE * 10000)
                       / 10000 AS dup_frac
            FROM documents d
            LEFT JOIN totals USING (doc_id)
            LEFT JOIN hits USING (doc_id)
            WHERE d.doc_id % 10 >= {INCR_EXISTING_MOD}
        )
        SELECT doc_id, n_shingles, n_hits, dup_frac,
               CAST(dup_frac >= {INCR_DUP_FRAC} AS INT) AS is_dup
        FROM scored
    """,
    "shingle_containment": f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                                AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               floor(n_common / sa.n * 10000) / 10000 AS containment
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        WHERE floor(n_common / sa.n * 10000) / 10000 >= {CONTAINMENT_MIN}
    """,
    "shingle_containment_capped": f"""
        WITH sh0 AS ({_DUCK_SHINGLES}),
        keep AS (
            SELECT shingle FROM sh0
            GROUP BY shingle HAVING count(*) <= {CAP_MAX_DF}
        ),
        sh AS (SELECT sh0.doc_id, sh0.shingle
               FROM sh0 JOIN keep USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                                AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               floor(n_common / sa.n * 10000) / 10000 AS containment
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        WHERE floor(n_common / sa.n * 10000) / 10000 >= {CONTAINMENT_MIN}
    """,
    "minhash_signatures": f"""
        SELECT doc_id,
               string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm_i)
                   AS signature
        FROM ({_DUCK_SIGS})
        GROUP BY doc_id
    """,
    "dedup_minhash_lsh": _minhash_lsh_oracle(),
    "dedup_minhash_lsh_capped": _minhash_lsh_oracle(BAND_BUCKET_CAP),
    # candidate CTE = the capped minhash oracle verbatim; the fold is
    # the operator's documented ASCII contract (see _ascii_fold) and
    # restores byte==char so DuckDB's byte-wise levenshtein equals
    # Spark's character-wise one
    "dedup_fuzzy_verify": f"""
        WITH cand AS MATERIALIZED (
            SELECT doc_a, doc_b FROM ({_minhash_lsh_oracle(BAND_BUCKET_CAP)})
        ),
        t AS MATERIALIZED (
            SELECT doc_id,
                   regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS t
            FROM documents
        )
        SELECT doc_a, doc_b,
               levenshtein(a.t, b.t) AS edit_dist,
               floor((1.0 - levenshtein(a.t, b.t)
                            / greatest(length(a.t), length(b.t), 1))
                     * 10000) / 10000 AS edit_sim
        FROM cand
        JOIN t a ON a.doc_id = doc_a
        JOIN t b ON b.doc_id = doc_b
        WHERE floor((1.0 - levenshtein(a.t, b.t)
                           / greatest(length(a.t), length(b.t), 1))
                    * 10000) / 10000 >= {FUZZY_MIN_SIM}
    """,
    "simhash_docs": _DUCK_SIMHASH,
    "dedup_simhash_capped": _simhash_pairs_capped_oracle(BAND_BUCKET_CAP),
    "dedup_simhash": f"""
        WITH sh AS ({_DUCK_SIMHASH})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
}


def _groups_oracle(pairs_sql: str) -> str:
    """Connected components via recursive min-label reachability,
    composed from a near-dup PAIR-LIST oracle (uncapped or capped — one
    source of truth per candidate filter): a doc's group is the min
    doc_id among everything transitively connected through the
    (undirected) pair edges. MATERIALIZED so the recursive reachability
    doesn't re-evaluate the shingle self-join per iteration (the
    semantic_dedup / doc_pagerank lesson)."""
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
            SELECT doc_a, doc_b FROM ({pairs_sql})
        ),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc_id, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.label
            FROM edges e JOIN reach r ON r.doc_id = e.src
        ),
        grp AS (
            SELECT doc_id, min(label) AS group_id FROM reach GROUP BY doc_id
        )
        SELECT doc_id, group_id,
               count(*) OVER (PARTITION BY group_id) AS group_size
        FROM grp
    """


ORACLES["dedup_groups"] = _groups_oracle(ORACLES["dedup_ngram_jaccard"])
ORACLES["dedup_groups_capped"] = _groups_oracle(
    ORACLES["dedup_ngram_jaccard_capped"])


def _keep_best_oracle(groups_sql: str) -> str:
    # composed from a dedup_groups CC oracle + the doc_quality oracle
    # (one source of truth per sub-pipeline, same pattern as
    # textstats.curation_summary)
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        ORACLES as TS_ORACLES,
    )
    return f"""
        WITH g AS ({groups_sql}),
        dq AS ({TS_ORACLES["doc_quality"]})
        SELECT g.doc_id, g.group_id, g.group_size, dq.quality_score,
               CASE WHEN row_number() OVER (
                        PARTITION BY g.group_id
                        ORDER BY dq.quality_score DESC, g.doc_id) = 1
                    THEN 1 ELSE 0 END AS is_survivor
        FROM g JOIN dq ON dq.doc_id = g.doc_id
    """


ORACLES["dedup_keep_best"] = _keep_best_oracle(ORACLES["dedup_groups"])
ORACLES["dedup_keep_best_capped"] = _keep_best_oracle(
    ORACLES["dedup_groups_capped"])


def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup path against exact
    n-gram Jaccard — the dedup twin of similarity.ann_recall_eval:
    truth = exact pairs with jaccard >= MIN_JACCARD
    (``dedup_ngram_jaccard``), prediction = LSH candidate pairs whose
    ESTIMATED jaccard clears the same threshold
    (``dedup_minhash_lsh``). One summary row of exact integer counts +
    floor4 ratios; both sides are certified operators, so a banding or
    signature regression moves these numbers and fails the hash.

    Scale: both inputs are the scale-safe inverted-index / banded
    pipelines; the eval adds one pair-keyed equi-join over their
    (already tiny) outputs.
    """
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    pred = (dedup_minhash_lsh(spark, sf_dir)
            .where(F.col("est_jaccard") >= MIN_JACCARD)
            .select("doc_a", "doc_b"))
    hit = truth.join(pred, ["doc_a", "doc_b"])
    counts = (truth.agg(F.count("*").alias("n_true"))
              .crossJoin(pred.agg(F.count("*").alias("n_pred")))
              .crossJoin(hit.agg(F.count("*").alias("n_hit"))))
    return counts.select(
        "n_true", "n_pred", "n_hit",
        F.when(F.col("n_pred") > 0,
               floor4(F.col("n_hit") / F.col("n_pred")))
         .otherwise(F.lit(0.0)).alias("precision"),
        F.when(F.col("n_true") > 0,
               floor4(F.col("n_hit") / F.col("n_true")))
         .otherwise(F.lit(0.0)).alias("recall"))


QUERIES["dedup_eval"] = dedup_eval

ORACLES["dedup_eval"] = f"""
        WITH truth AS MATERIALIZED (
            SELECT doc_a, doc_b FROM ({{TRUTH}})
        ),
        pred AS MATERIALIZED (
            SELECT doc_a, doc_b FROM ({{PRED}})
            WHERE est_jaccard >= {MIN_JACCARD}
        ),
        hit AS (
            SELECT t.doc_a, t.doc_b
            FROM truth t JOIN pred p
              ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
        ),
        c AS (
            SELECT (SELECT count(*) FROM truth) AS n_true,
                   (SELECT count(*) FROM pred) AS n_pred,
                   (SELECT count(*) FROM hit) AS n_hit
        )
        SELECT n_true, n_pred, n_hit,
               CASE WHEN n_pred > 0
                    THEN floor(n_hit / n_pred * 10000) / 10000
                    ELSE 0.0 END AS precision,
               CASE WHEN n_true > 0
                    THEN floor(n_hit / n_true * 10000) / 10000
                    ELSE 0.0 END AS recall
        FROM c
"""
ORACLES["dedup_eval"] = (
    ORACLES["dedup_eval"]
    .replace("{TRUTH}", ORACLES["dedup_ngram_jaccard"])
    .replace("{PRED}", ORACLES["dedup_minhash_lsh"])
)
