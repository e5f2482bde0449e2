"""Boundary contracts for duplicate_spans and the data-mixture pair,
on constructed corpora where the expected answer is computable by hand.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from mit_6_5840_mapreduce_spark.operators.dedup import (SPAN_TOKENS,
                                                        scrub_positions)
from mit_6_5840_mapreduce_spark.operators.mixture import RESAMPLE_BUCKETS


def _docs_dir(tmp_path_factory, name, texts, sources=None):
    out = tmp_path_factory.mktemp(name)
    sources = sources or ["s0"] * len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(str(out), "documents.parquet"))
    return str(out)


WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
assert len(WORDS) == SPAN_TOKENS


def test_duplicate_spans_window_boundaries(spark, tmp_path_factory):
    """Doc 0/1: identical exactly-SPAN_TOKENS texts -> one window each,
    duplicated, longest run == SPAN_TOKENS. Doc 2: one token short ->
    excluded entirely. Doc 3: SPAN_TOKENS+1 unique tokens -> two
    windows, zero duplicated."""
    span_text = " ".join(WORDS)
    texts = [span_text, span_text,
             " ".join(WORDS[:-1]),
             "one two three four five six seven eight nine ten eleven"]
    d = _docs_dir(tmp_path_factory, "spans", texts)
    rows = {r.doc_id: r for r in
            entrymod.queries()["duplicate_spans"](spark, d).collect()}
    assert set(rows) == {0, 1, 3}
    for i in (0, 1):
        r = rows[i]
        assert (r.n_windows, r.n_dup_windows) == (1, 1)
        assert r.longest_dup_tokens == SPAN_TOKENS
        assert r.dup_frac == 1.0
    r3 = rows[3]
    assert (r3.n_windows, r3.n_dup_windows, r3.longest_dup_tokens) == \
        (2, 0, 0)


def test_duplicate_spans_run_collapsing(spark, tmp_path_factory):
    """A doc sharing a (SPAN_TOKENS + 2)-token prefix with another has 3
    consecutive duplicated window starts -> one run of SPAN_TOKENS + 2
    tokens, not three separate spans."""
    shared = WORDS + ["lambda", "mu"]
    texts = [" ".join(shared) + " nu xi",
             " ".join(shared) + " omicron pi"]
    d = _docs_dir(tmp_path_factory, "spanruns", texts)
    rows = {r.doc_id: r for r in
            entrymod.queries()["duplicate_spans"](spark, d).collect()}
    for r in rows.values():
        assert r.n_dup_windows == 3
        assert r.longest_dup_tokens == SPAN_TOKENS + 2


def test_span_pairs_alignment_and_offsets(spark, tmp_path_factory):
    """dedup_span_pairs must report WHERE the shared text sits on EACH
    side: doc 1 embeds doc 0's (SPAN_TOKENS + 2)-token prefix after a
    3-token preamble -> exactly one span row, start_a = 1,
    start_b = 4, span_tokens = SPAN_TOKENS + 2. Doc 2 shares nothing
    long enough -> appears in no pair."""
    shared = WORDS + ["lambda", "mu"]
    texts = [" ".join(shared) + " nu xi",
             "pre amble tokens " + " ".join(shared) + " rho sigma",
             "totally unrelated words that never repeat anything here"]
    d = _docs_dir(tmp_path_factory, "spanpairs", texts)
    rows = entrymod.queries()["dedup_span_pairs"](spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert (r.start_a, r.start_b) == (1, 4)
    assert r.span_tokens == SPAN_TOKENS + 2


WORDS_B = "nu xi omicron pi rho sigma tau upsilon phi chi".split()
assert len(WORDS_B) == SPAN_TOKENS


def test_span_pairs_splits_on_diagonal_breaks(spark, tmp_path_factory):
    """Two DISTINCT shared regions separated by differing text are two
    span rows, not one: doc 0 and doc 1 share block A, diverge for a
    few tokens (different lengths, so the second block sits on a
    shifted diagonal), then share block B."""
    mid0, mid1 = "one two three", "four five six seven"
    texts = [" ".join(WORDS) + f" {mid0} " + " ".join(WORDS_B),
             " ".join(WORDS) + f" {mid1} " + " ".join(WORDS_B)]
    d = _docs_dir(tmp_path_factory, "spansplit", texts)
    rows = sorted(
        entrymod.queries()["dedup_span_pairs"](spark, d).collect(),
        key=lambda r: r.start_a)
    assert [r.span_tokens for r in rows] == [SPAN_TOKENS, SPAN_TOKENS]
    assert (rows[0].start_a, rows[0].start_b) == (1, 1)
    # second shared block: after block A + the differing middles
    assert (rows[1].start_a, rows[1].start_b) == (
        SPAN_TOKENS + len(mid0.split()) + 1,
        SPAN_TOKENS + len(mid1.split()) + 1)


def test_span_pairs_occurrence_cap_drops_boilerplate(spark,
                                                     tmp_path_factory):
    """A window occurring in more than SPAN_OCC_CAP places must emit
    NO pairs (the quadratic-hit boilerplate guard), while a 2-copy
    window on the same corpus still matches."""
    from mit_6_5840_mapreduce_spark.operators.dedup import SPAN_OCC_CAP
    boiler = " ".join(WORDS)
    rare = "uniq rare unique tokens never elsewhere repeated at all ever"
    assert len(rare.split()) == SPAN_TOKENS
    texts = [boiler] * (SPAN_OCC_CAP + 1) + [rare, rare]
    d = _docs_dir(tmp_path_factory, "spancap", texts)
    rows = entrymod.queries()["dedup_span_pairs"](spark, d).collect()
    assert len(rows) == 1
    assert (rows[0].doc_a, rows[0].doc_b) == (SPAN_OCC_CAP + 1,
                                              SPAN_OCC_CAP + 2)


def test_span_pairs_periodic_text_matches_brute_force(spark,
                                                      tmp_path_factory):
    """Periodic text is the adversarial shape for diagonal islands:
    every window of 'w w w ... w' equals every other, so a doc pair
    aligns on MANY diagonals at once (one island per diagonal, each a
    maximal run). Verify the engine against an in-test brute-force
    recomputation of the declared semantics on exactly this corpus
    (window occurrences -> capped -> cross-doc hits -> consecutive
    pos_a runs per (pair, diag))."""
    n = SPAN_TOKENS + 4                     # 5 windows per doc
    texts = ["rep " * n, "rep " * n]        # 10 occurrences < cap
    d = _docs_dir(tmp_path_factory, "spanperiodic", [t.strip()
                                                     for t in texts])
    # brute force from raw token lists
    toks = [t.strip().split() for t in texts]
    occ: dict[str, list[tuple[int, int]]] = {}
    for doc_id, tk in enumerate(toks):
        for i in range(len(tk) - SPAN_TOKENS + 1):
            occ.setdefault(" ".join(tk[i:i + SPAN_TOKENS]),
                           []).append((doc_id, i + 1))
    expected = set()
    for sites in occ.values():
        if len(sites) > 20:                 # SPAN_OCC_CAP, restated
            continue
        by_diag: dict[tuple[int, int, int], list[int]] = {}
        for da, pa in sites:
            for db, pb in sites:
                if da < db:
                    by_diag.setdefault((da, db, pa - pb), []).append(pa)
        for (da, db, diag), ps in by_diag.items():
            ps.sort()
            start = prev = ps[0]
            run = 1
            for p in ps[1:]:
                if p == prev + 1:
                    run += 1
                else:
                    expected.add((da, db, start, start - diag,
                                  run + SPAN_TOKENS - 1))
                    start, run = p, 1
                prev = p
            expected.add((da, db, start, start - diag,
                          run + SPAN_TOKENS - 1))
    got = {(r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
           for r in entrymod.queries()["dedup_span_pairs"](
               spark, d).collect()}
    # 5 windows per side, all identical text -> one island per diagonal
    # (9 diagonals, -4..4), lengths 10..14..10
    assert len(expected) == 9
    assert got == expected


def test_span_pairs_intra_document_repeats_excluded(spark,
                                                    tmp_path_factory):
    """A document repeating ITS OWN text emits no pair rows (doc_a <
    doc_b is strict): intra-doc duplication is duplicate_spans'
    signal, not an alignment pair."""
    texts = [" ".join(WORDS) + " stop " + " ".join(WORDS)]
    d = _docs_dir(tmp_path_factory, "spanintra", texts)
    assert entrymod.queries()["dedup_span_pairs"](spark, d).count() == 0


def test_span_scrub_cuts_higher_id_side_only(spark, tmp_path_factory):
    """The cut stage: doc 1 repeats doc 0's SPAN_TOKENS-token text
    after its own preamble -> doc 0 (lower id, canonical) keeps every
    token; doc 1 loses exactly the copied span and keeps its preamble
    and tail; an untouched doc is recomposed verbatim (token-joined)
    with zero cuts."""
    shared = " ".join(WORDS)
    texts = [shared,
             "my own preamble " + shared + " my own tail",
             "completely distinct words that appear nowhere else at all"]
    d = _docs_dir(tmp_path_factory, "spanscrub", texts)
    rows = {r.doc_id: r for r in
            entrymod.queries()["dedup_span_scrub"](spark, d).collect()}
    assert rows[0].n_cut == 0 and rows[0].scrubbed_text == shared
    r1 = rows[1]
    assert r1.n_tokens == SPAN_TOKENS + 6
    assert r1.n_cut == SPAN_TOKENS
    assert r1.scrubbed_text == "my own preamble my own tail"
    assert rows[2].n_cut == 0
    assert rows[2].scrubbed_text == texts[2]
    # a cut position past the int range lies outside [1, n]: ignored,
    # the same rows as no cut at all (not a cast overflow under ANSI)
    schema = "doc_id bigint, pos bigint"
    no_cut = scrub_positions(spark, d, spark.createDataFrame([], schema))
    huge_cut = scrub_positions(
        spark, d, spark.createDataFrame([(2, 2**31 + 5)], schema))
    assert sorted(huge_cut.collect()) == sorted(no_cut.collect())


def test_span_scrub_overlapping_spans_cut_once(spark, tmp_path_factory):
    """Overlapping coverage must not over-count: doc 2 copies a
    (SPAN_TOKENS + 2)-token block that docs 0 AND 1 both contain ->
    two pair spans covering the same doc-2 positions, cut once
    (n_cut = SPAN_TOKENS + 2, not 2x)."""
    block = " ".join(WORDS + ["lambda", "mu"])
    texts = [block + " zero tail", block + " other ending here",
             "third doc copies " + block]
    d = _docs_dir(tmp_path_factory, "spanoverlap", texts)
    rows = {r.doc_id: r for r in
            entrymod.queries()["dedup_span_scrub"](spark, d).collect()}
    assert rows[0].n_cut == 0
    # doc 1 is the higher side of the (0, 1) pair: the shared block
    # is cut there too
    assert rows[1].n_cut == SPAN_TOKENS + 2
    r2 = rows[2]
    assert r2.n_cut == SPAN_TOKENS + 2
    assert r2.scrubbed_text == "third doc copies"


def test_span_pipeline_random_dense_corpus_matches_brute_force(
        spark, tmp_path_factory):
    """Fixed-seed randomized stress mixing three regimes in one
    corpus: 22 identical boilerplate clones (their windows occur 22
    times, crossing the occurrence cap), six docs embedding one shared
    14-token block at varying random offsets inside random filler
    (cross-diagonal alignments + overlapping cut coverage), and
    random-filler noise docs including empty and sub-window lengths.
    Both span operators are diffed against brute-force models of the
    declared semantics (the pairs model as in the periodic test; the
    scrub model cuts the union of covered positions on the higher-id
    side)."""
    import random
    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    filler = lambda n: [rng.choice(vocab) for _ in range(n)]  # noqa: E731
    boiler = " ".join(filler(SPAN_TOKENS))
    block = filler(SPAN_TOKENS + 4)
    texts = [boiler] * 22
    for _ in range(6):
        texts.append(" ".join(filler(rng.randrange(0, 8)) + block
                              + filler(rng.randrange(0, 8))))
    texts += [" ".join(filler(rng.randrange(0, 31))) for _ in range(8)]
    d = _docs_dir(tmp_path_factory, "spanrandom", texts)
    toks = [t.split() for t in texts]
    occ: dict[str, list[tuple[int, int]]] = {}
    for doc_id, tk in enumerate(toks):
        for i in range(len(tk) - SPAN_TOKENS + 1):
            occ.setdefault(" ".join(tk[i:i + SPAN_TOKENS]),
                           []).append((doc_id, i + 1))
    capped_bound = 0
    expected_pairs = set()
    by_diag: dict[tuple[int, int, int], list[int]] = {}
    for sites in occ.values():
        if len(sites) > 20:                  # SPAN_OCC_CAP, restated
            capped_bound += 1
            continue
        for da, pa in sites:
            for db, pb in sites:
                if da < db:
                    by_diag.setdefault((da, db, pa - pb), []).append(pa)
    for (da, db, diag), ps in by_diag.items():
        ps.sort()
        start = prev = ps[0]
        run = 1
        for p in ps[1:]:
            if p == prev + 1:
                run += 1
            else:
                expected_pairs.add((da, db, start, start - diag,
                                    run + SPAN_TOKENS - 1))
                start, run = p, 1
            prev = p
        expected_pairs.add((da, db, start, start - diag,
                            run + SPAN_TOKENS - 1))
    # the corpus must actually exercise both regimes
    assert capped_bound > 0, "no window hash crossed the cap"
    assert expected_pairs, "no alignments survived the cap"
    got_pairs = {(r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
                 for r in entrymod.queries()["dedup_span_pairs"](
                     spark, d).collect()}
    assert got_pairs == expected_pairs
    # scrub model: union of covered positions on the higher-id side
    cut: dict[int, set] = {}
    for (_da, db, _sa, sb, span) in expected_pairs:
        cut.setdefault(db, set()).update(range(sb, sb + span))
    expected_scrub = {}
    for doc_id, tk in enumerate(toks):
        kept = [w for i, w in enumerate(tk, start=1)
                if i not in cut.get(doc_id, set())]
        expected_scrub[doc_id] = (len(tk), len(tk) - len(kept),
                                  " ".join(kept))
    got_scrub = {r.doc_id: (r.n_tokens, r.n_cut, r.scrubbed_text)
                 for r in entrymod.queries()["dedup_span_scrub"](
                     spark, d).collect()}
    assert got_scrub == expected_scrub


def test_contamination_spans_cross_split_only(spark, tmp_path_factory):
    """contamination_spans must emit (test, train) alignments ONLY:
    doc 8 is the one test-split id among 0..11 (md5-bucket split,
    verified in-test), embeds a shared block that train docs 2 and 5
    also contain -> exactly the rows (8, 2) and (8, 5) with both-side
    offsets; the train-train pair (2, 5) sharing the same block must
    NOT appear."""
    import hashlib

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8],
                   16) % 100

    assert bucket(8) >= 90 and all(bucket(i) < 80 for i in (2, 5))
    block = WORDS + ["lambda", "mu"]
    filler = ("just some ordinary filler text that matches "
              "nothing else here")
    texts = [filler] * 12
    texts[2] = " ".join(block) + " train two tail"
    texts[5] = "five starts here then " + " ".join(block)
    texts[8] = "held out doc quoting " + " ".join(block) + " verbatim"
    d = _docs_dir(tmp_path_factory, "contamspans", texts)
    rows = sorted(
        entrymod.queries()["contamination_spans"](spark, d).collect(),
        key=lambda r: r.train_doc_id)
    assert [(r.test_doc_id, r.train_doc_id) for r in rows] == \
        [(8, 2), (8, 5)]
    assert all(r.span_tokens == SPAN_TOKENS + 2 for r in rows)
    assert [r.start_test for r in rows] == [5, 5]
    assert [r.start_train for r in rows] == [1, 5]
    # the cut stage: the quoted block leaves BOTH train docs, the test
    # doc is never modified (train-only output), untouched train docs
    # keep their text verbatim with zero cuts
    scrub = {r.doc_id: r for r in
             entrymod.queries()["decontaminate_span_scrub"](
                 spark, d).collect()}
    assert 8 not in scrub
    assert scrub[2].n_cut == SPAN_TOKENS + 2
    assert scrub[2].scrubbed_text == "train two tail"
    assert scrub[5].n_cut == SPAN_TOKENS + 2
    assert scrub[5].scrubbed_text == "five starts here then"
    assert scrub[0].n_cut == 0 and scrub[0].scrubbed_text == filler


def test_single_source_mix_keeps_everything(spark, tmp_path_factory):
    """With one source the sqrt-temperature weights collapse to the
    whole corpus: weight 1000 permille, resample keeps every doc."""
    texts = [f"doc number {i} words here" for i in range(20)]
    d = _docs_dir(tmp_path_factory, "onesrc", texts)
    w = entrymod.queries()["source_mix_weights"](spark, d).collect()
    assert len(w) == 1 and w[0].weight_permille == RESAMPLE_BUCKETS
    kept = entrymod.queries()["temperature_resample"](spark, d).collect()
    assert len(kept) == 20
    assert all(r.rate_per_mille == RESAMPLE_BUCKETS for r in kept)


def test_mix_upweights_small_source(spark, tmp_path_factory):
    """A source 100x smaller by tokens gets a weight far above its
    natural share (sqrt compression), and the big source is the one
    that gets downsampled."""
    texts = (["big source filler text with several words apiece"] * 100
             + ["small"])
    sources = ["big"] * 100 + ["small"]
    d = _docs_dir(tmp_path_factory, "twosrc", texts, sources)
    rows = {r.source: r for r in
            entrymod.queries()["source_mix_weights"](spark, d).collect()}
    nat_share_small = rows["small"].n_tokens / (
        rows["small"].n_tokens + rows["big"].n_tokens)
    assert rows["small"].weight_permille > 1000 * nat_share_small * 5
    kept = entrymod.queries()["temperature_resample"](spark, d).collect()
    rates = {r.source: r.rate_per_mille for r in kept}
    assert rates.get("small", RESAMPLE_BUCKETS) == RESAMPLE_BUCKETS
    assert rates["big"] < RESAMPLE_BUCKETS


def test_mix_on_zero_token_corpus_is_empty(spark, tmp_path_factory):
    """Documents made entirely of non-letter characters have zero
    tokens; the mixture has no defined weights — both operators emit
    nothing instead of dividing by a zero total."""
    d = _docs_dir(tmp_path_factory, "notokens", ["123 456", "!!!", "999"])
    assert entrymod.queries()["source_mix_weights"](spark, d).count() == 0
    assert entrymod.queries()["temperature_resample"](spark, d).count() == 0


def test_scd2_intervals_are_well_formed(spark, sf_dir):
    """SCD2 invariants on the real corpus: per user exactly one open
    (current) interval, valid_from strictly increasing, each interval's
    valid_to equals the next interval's valid_from (no gaps, no
    overlaps), and consecutive intervals change event_type."""
    rows = entrymod.queries()["user_scd2"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in ivs) == 1
        assert ivs[-1].valid_to is None and ivs[-1].is_current == 1
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, uid
            assert a.event_type != b.event_type, uid
            assert a.valid_from < b.valid_from, uid


def test_span_windows_cache_sees_corpus_rewrite(spark, tmp_path):
    """The memoized _span_windows frame (ADVICE r10) must not serve
    STALE windows when the corpus is rewritten at the same path within
    one application (the fixed-scratch-dir pattern; r11 review) — the
    cache key carries a content stamp of documents.parquet."""
    import time as _time

    span_text = " ".join(WORDS)
    d = str(tmp_path)

    def write(texts):
        pq.write_table(pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s0"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(d, "documents.parquet"))

    q = entrymod.queries()["duplicate_spans"]
    write([span_text, span_text])           # one duplicated window pair
    assert {r.n_dup_windows for r in q(spark, d).collect()} == {1}
    _time.sleep(0.01)                        # distinct mtime_ns stamp
    write([span_text,
           "one two three four five six seven eight nine ten eleven"])
    got = {r.doc_id: r.n_dup_windows for r in q(spark, d).collect()}
    assert got == {0: 0, 1: 0}               # rewrite visible, not stale


def test_span_windows_accept_recompute_is_value_identical(
        spark, tmp_path_factory, monkeypatch):
    """The 100 TB storage story for _span_windows is accept-recompute
    (docs/SCALE.md): past the storage pool the block manager drops
    blocks and consumers recompute. Pin the TOTAL-degradation endpoint
    — persist and memo disabled outright — to value-identical results
    for the heaviest consumer (dedup_span_scrub reads the frame in the
    cap stage, the self-join, AND the scrub recompose)."""
    from mit_6_5840_mapreduce_spark.operators import dedup

    span = " ".join(WORDS)
    filler_a = "uniqua borela camina derata elopha"
    filler_b = "funara gomera hylora inopra jakera"
    d = _docs_dir(tmp_path_factory, "recompute_sf",
                  [f"{filler_a} {span}", f"{span} {filler_b}",
                   "plain text with no shared ten token window at all"])
    q = entrymod.queries()["dedup_span_scrub"]
    persisted = sorted(map(tuple, q(spark, d).collect()))
    monkeypatch.setattr(dedup, "SPAN_WINDOWS_PERSIST", False)
    recomputed = sorted(map(tuple, q(spark, d).collect()))
    assert persisted == recomputed and len(persisted) == 3


def test_span_memo_eviction_is_lru_not_fifo(spark, tmp_path_factory):
    """ADVICE r12: a cache HIT must refresh recency, so a session
    cycling through more corpora than the per-(app, kind) bound evicts
    the COLDEST frame, not the oldest-inserted one. Plant bound+1
    corpora: insert A, B, C, re-hit A, insert D — FIFO would evict the
    hottest frame A; LRU evicts B."""
    from mit_6_5840_mapreduce_spark.operators import dedup

    dirs = {name: _docs_dir(tmp_path_factory, f"lru_{name}_sf",
                            [f"{name} corpus text with a few tokens"])
            for name in ("a", "b", "c", "d")}
    frames = {}
    for name in ("a", "b", "c"):
        frames[name] = dedup._token_arrays(spark, dirs[name])
    # HIT on a — under LRU this moves it to most-recent
    assert dedup._token_arrays(spark, dirs["a"]) is frames["a"]
    dedup._token_arrays(spark, dirs["d"])
    resident = {k[2] for k in dedup._SPAN_WINDOWS_CACHE
                if k[1] == "tokens" and k[2] in set(dirs.values())}
    assert dirs["a"] in resident, "hit did not refresh recency (FIFO)"
    assert dirs["b"] not in resident
    assert resident == {dirs["a"], dirs["c"], dirs["d"]}


def test_span_memo_mid_build_rewrite_cannot_poison_future_callers(
        spark, tmp_path_factory):
    """ADVICE r12 (TOCTOU), resolved per its accept-and-document option
    after the r13 review: spark.read pins the parquet FILE LISTING at
    plan construction, so a frame planned before a mid-build rewrite
    references the pre-rewrite files forever. The memo must key that
    frame under the PRE-build stamp — then no post-rewrite caller can
    hit it (their fresh stamp differs; they miss and rebuild with a
    fresh listing). Re-stamping at insert would cache the old-listing
    frame under the post-rewrite stamp and poison every future
    caller."""
    import time as _time

    from mit_6_5840_mapreduce_spark.operators import dedup

    d = _docs_dir(tmp_path_factory, "toctou_sf", ["first corpus body"])
    stamp_before = dedup._corpus_stamp(d)

    def rewriting_build():
        _time.sleep(0.01)                  # distinct mtime_ns stamp
        pq.write_table(pa.table({
            "doc_id": pa.array([0], pa.int64()),
            "text": pa.array(["rewritten corpus body"]),
            "lang": pa.array(["en"]),
            "source": pa.array(["s0"]),
            "n_chars": pa.array([21], pa.int64()),
        }), os.path.join(d, "documents.parquet"))
        return spark.range(1)

    try:
        stale = dedup._memo_frame(spark, "toctou-test", d,
                                  rewriting_build)
        stamp_after = dedup._corpus_stamp(d)
        assert stamp_after != stamp_before
        # the mid-rewrite frame is keyed under the PRE-build stamp ...
        keys = [k for k in dedup._SPAN_WINDOWS_CACHE
                if k[1] == "toctou-test"]
        assert [k[3] for k in keys] == [stamp_before]
        # ... so a post-rewrite caller MISSES it, rebuilds against the
        # rewritten corpus, and the insert sweep evicts the stale entry
        fresh = dedup._memo_frame(spark, "toctou-test", d,
                                  lambda: spark.range(2))
        assert fresh is not stale
        keys = [k for k in dedup._SPAN_WINDOWS_CACHE
                if k[1] == "toctou-test"]
        assert [k[3] for k in keys] == [stamp_after]
    finally:
        with dedup._SPAN_WINDOWS_LOCK:
            for k in [k for k in dedup._SPAN_WINDOWS_CACHE
                      if k[1] == "toctou-test"]:
                dedup._SPAN_WINDOWS_CACHE.pop(k).unpersist()


def test_span_windows_concurrent_miss_caches_one_frame(
        spark, tmp_path_factory):
    """ADVICE r11: two driver threads racing an uncached corpus must
    agree on ONE memoized persisted frame (the loser of an unguarded
    race would orphan a persisted frame forever — the ADVICE-r10 leak
    under concurrency). The lock serializes lookup/evict/insert, so
    all threads get the identical DataFrame object."""
    import threading as _th

    from mit_6_5840_mapreduce_spark.operators.dedup import (
        _SPAN_WINDOWS_CACHE, _span_windows)

    span = " ".join(WORDS)
    d = _docs_dir(tmp_path_factory, "race_sf", [span, span])
    before = {k: v for k, v in _SPAN_WINDOWS_CACHE.items() if k[2] == d}
    assert not before
    got, errs = [], []

    def call():
        try:
            got.append(_span_windows(spark, d))
        except Exception as e:             # pragma: no cover - diagnostic
            errs.append(e)

    threads = [_th.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs and len(got) == 8
    # under double-checked locking exactly one racer's frame is
    # persisted and inserted per kind; every other thread receives
    # that SAME object (losers' plans are discarded before any
    # persist), so one "tokens" entry (the shared tokenize frame) and
    # one "windows" entry survive for this corpus
    kinds = sorted(k[1] for k in _SPAN_WINDOWS_CACHE if k[2] == d)
    assert kinds == ["tokens", "windows"]
    wkey = next(k for k in _SPAN_WINDOWS_CACHE
                if k[2] == d and k[1] == "windows")
    assert all(frame is _SPAN_WINDOWS_CACHE[wkey] for frame in got)
    lvl = _SPAN_WINDOWS_CACHE[wkey].storageLevel
    assert lvl.useMemory and lvl.useDisk           # the declared level
