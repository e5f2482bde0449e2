"""quality_train / quality_classify — the trained quality classifier.

Three voices (the suite's standing discipline):
- the Spark engine (under test),
- the DuckDB unrolled-replay oracle (tools/parity.py, driver gate),
- here: a SEQUENTIAL numpy/pure-Python gradient-descent reference that
  must reproduce the engine's weight trace EXACTLY (not approximately
  — the whole point of the order-free quantized-gradient design is
  that partitioning cannot perturb a single bit), plus a planted
  two-tier corpus where the labels, the degenerate punctuation weight,
  and the converged accuracy are known by construction.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mit_6_5840_mapreduce_spark.operators.quality import (
    GRAD_SCALE,
    QUALITY_GD_ROUNDS,
    QUALITY_LR,
    W_SCALE,
    _features,
    quality_classify,
    quality_train,
)


def _numpy_trace(X: np.ndarray, y: np.ndarray):
    """Sequential reference of the GD loop with the identical
    quantization: per-row contributions floored to micro-unit int64
    (order-free by construction), weights floored to the 1e-8 grid
    with the same fixed-order scalar expression."""
    n = len(y)
    w = [0.0, 0.0, 0.0, 0.0]
    trace = []
    for _ in range(QUALITY_GD_ROUNDS + 1):
        p = ((w[0] + w[1] * X[:, 0]) + w[2] * X[:, 1]) + w[3] * X[:, 2]
        r = p - y
        g = [
            np.floor(r * GRAD_SCALE).astype(np.int64).sum(),
            np.floor((r * X[:, 0]) * GRAD_SCALE).astype(np.int64).sum(),
            np.floor((r * X[:, 1]) * GRAD_SCALE).astype(np.int64).sum(),
            np.floor((r * X[:, 2]) * GRAD_SCALE).astype(np.int64).sum(),
        ]
        n_correct = int(((p >= 0.5) == (y == 1.0)).sum())
        sse = int(np.floor((r * r) * GRAD_SCALE).astype(np.int64).sum())
        trace.append((tuple(w), n_correct, sse))
        w = [
            math.floor((w[j] - QUALITY_LR * ((int(g[j]) / GRAD_SCALE) / n))
                       * W_SCALE) / W_SCALE
            for j in range(4)
        ]
    return trace


def test_train_trace_matches_numpy_exactly(spark, sf_dir):
    feats = _features(spark, sf_dir).toPandas()
    X = feats[["x1", "x2", "x3"]].to_numpy(dtype=np.float64)
    y = feats["y"].to_numpy(dtype=np.float64)
    expected = _numpy_trace(X, y)
    got = quality_train(spark, sf_dir).orderBy("round").collect()
    assert len(got) == QUALITY_GD_ROUNDS + 1
    for row, (w, n_correct, sse) in zip(got, expected):
        # EXACT float equality is the contract, not a tolerance
        assert (row.w_bias, row.w_len, row.w_punct, row.w_tok) == w
        assert row.n_correct == n_correct
        assert row.sse_micro == sse


def test_features_fan_out_lands_on_the_scan(spark, sf_dir):
    """The round-robin widening sits directly on the parquet scan, so
    the tokenize/regexp feature work runs on every core, not above the
    exchange on the scan's single partition."""
    from mit_6_5840_mapreduce_spark.plans.explain import executed_plan
    lines = executed_plan(_features(spark, sf_dir)).splitlines()
    at = [i for i, line in enumerate(lines)
          if "Exchange RoundRobinPartitioning" in line]
    assert len(at) == 1
    child = lines[at[0] + 1].lstrip(" :+-")
    assert child.startswith("FileScan parquet"), child


def test_training_converges_on_real_corpus(spark, sf_dir):
    rows = quality_train(spark, sf_dir).orderBy("round").collect()
    n = _features(spark, sf_dir).count()
    assert rows[0].n_correct < rows[-1].n_correct   # it actually learned
    assert rows[-1].n_correct / n >= 0.9
    # the synthetic corpus has no punctuation -> x2 == 0 for every doc
    # -> every per-round gradient term floors +-0.0 to 0 -> the dead
    # feature's weight is pinned at exactly 0.0 through all rounds
    assert all(r.w_punct == 0.0 for r in rows)


def test_classify_agrees_with_trained_weights(spark, sf_dir):
    last = quality_train(spark, sf_dir).orderBy("round").collect()[-1]
    w = (last.w_bias, last.w_len, last.w_punct, last.w_tok)
    default = quality_classify(spark, sf_dir).orderBy("doc_id").collect()
    explicit = quality_classify(spark, sf_dir, weights=w) \
        .orderBy("doc_id").collect()
    assert default == explicit
    # prediction column is the thresholded probability, bit-for-bit
    n = len(default)
    agree = sum(1 for r in default if r.pred_quality == r.label_quality)
    assert agree == last.n_correct and agree / n >= 0.9


N_TIER = 30


@pytest.fixture(scope="module")
def two_tier_dir(tmp_path_factory):
    """Planted corpus with quality tiers known by construction:
    HI docs = 120 eight-letter tokens (x1 = 1, x3 = 1, score = 1.0),
    LO docs = 5 two-letter tokens (x1 = 0.05, x3 = 0.25,
    score = 0.375) — the distilled labels are exactly the tiers and
    the tiers are linearly separable in (x1, x3)."""
    hi = " ".join(["abcdefgh"] * 120)
    lo = "ab cd ef gh ij"
    texts = [hi] * N_TIER + [lo] * N_TIER
    d = tmp_path_factory.mktemp("two_tier_sf")
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_planted_tiers_label_and_separate(spark, two_tier_dir):
    out = quality_classify(spark, two_tier_dir).orderBy("doc_id").collect()
    assert len(out) == 2 * N_TIER
    for r in out:
        assert r.label_quality == (1 if r.doc_id < N_TIER else 0)
    # linearly separable tiers: the trained model classifies every
    # document correctly (deterministic, so equality is safe)
    assert all(r.pred_quality == r.label_quality for r in out)


@pytest.fixture(scope="module")
def empty_docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_docs_sf")
    pq.write_table(pa.table({
        "doc_id": pa.array([], pa.int64()),
        "text": pa.array([], pa.string()),
        "lang": pa.array([], pa.string()),
        "source": pa.array([], pa.string()),
        "n_chars": pa.array([], pa.int64()),
    }), os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_empty_corpus_yields_zero_model_trace(spark, empty_docs_dir):
    """Empty-corpus contract (the partition-pruned-scan situation): the
    trainer must return the zero-model trace — coalesced 0 gradients,
    identity updates via the greatest(n,1) guard — and the classifier
    zero rows; the DuckDB replay (same coalesce/greatest) agrees."""
    import duckdb

    from mit_6_5840_mapreduce_spark.operators.quality import ORACLES
    rows = quality_train(spark, empty_docs_dir).orderBy("round").collect()
    assert len(rows) == QUALITY_GD_ROUNDS + 1
    assert all((r.w_bias, r.w_len, r.w_punct, r.w_tok,
                r.n_correct, r.sse_micro) == (0.0,) * 4 + (0, 0)
               for r in rows)
    assert quality_classify(spark, empty_docs_dir).count() == 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(empty_docs_dir, 'documents.parquet')}'")
    want = [tuple(r) for r in con.execute(
        ORACLES["quality_train"] + " ORDER BY round").fetchall()]
    got = [(r.round, r.w_bias, r.w_len, r.w_punct, r.w_tok,
            r.n_correct, r.sse_micro) for r in rows]
    assert got == want


@pytest.fixture(scope="module")
def punct_corpus_dir(tmp_path_factory):
    """Deterministic pseudo-random corpus WITH punctuation: the gate
    corpus contains none (x_punct = 0 for every doc, w_punct pinned at
    0), so this is the only distribution where the punctuation feature
    actually participates in training."""
    import random
    rng = random.Random(20260816)
    texts = []
    for _ in range(120):
        n = rng.randint(3, 140)
        words = []
        for _ in range(n):
            w = "".join(rng.choice("abcdefghijklmnop")
                        for _ in range(rng.randint(1, 12)))
            if rng.random() < 0.4:
                w += rng.choice("!?.,;:#%&*")
            words.append(w)
        texts.append(" ".join(words))
    d = tmp_path_factory.mktemp("punct_sf")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_three_voices_agree_with_active_punctuation(spark,
                                                    punct_corpus_dir):
    """Engine, numpy reference, and the REAL oracle SQL must agree
    EXACTLY on a corpus where x_punct is non-degenerate — the
    punctuation gradient path (r*x2 quantization, w2 updates) is
    exercised nowhere else."""
    import duckdb

    from mit_6_5840_mapreduce_spark.operators.quality import ORACLES
    feats = _features(spark, punct_corpus_dir).toPandas()
    assert (feats["x2"] > 0).any(), "fixture lost its punctuation"
    X = feats[["x1", "x2", "x3"]].to_numpy(dtype=np.float64)
    y = feats["y"].to_numpy(dtype=np.float64)
    numpy_trace = _numpy_trace(X, y)
    got = [(r.round, r.w_bias, r.w_len, r.w_punct, r.w_tok,
            r.n_correct, r.sse_micro)
           for r in quality_train(spark, punct_corpus_dir)
           .orderBy("round").collect()]
    # the trained punctuation weight must actually move on this corpus
    assert any(r[3] != 0.0 for r in got)
    for row, (w, n_correct, sse) in zip(got, numpy_trace):
        assert row[1:5] == w and row[5] == n_correct and row[6] == sse
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(punct_corpus_dir, 'documents.parquet')}'")
    want = [tuple(r) for r in con.execute(
        ORACLES["quality_train"] + " ORDER BY round").fetchall()]
    assert got == want


def test_replay_oracle_matches_engine_on_planted_corpus(spark,
                                                        two_tier_dir):
    """Run the REAL registered oracle SQL (the unrolled GD replay) in
    DuckDB against the planted corpus and diff the full training trace
    against the engine — the driver gate only exercises the oracle on
    the driver corpus, so a planted-corpus diff pins the replay on a
    second distribution (the dedup_fuzzy_verify non-ASCII discipline)."""
    import duckdb

    from mit_6_5840_mapreduce_spark.operators.quality import ORACLES
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(two_tier_dir, 'documents.parquet')}'")
    want = [tuple(r) for r in con.execute(
        ORACLES["quality_train"]
        + " ORDER BY round").fetchall()]
    got = [(r.round, r.w_bias, r.w_len, r.w_punct, r.w_tok,
            r.n_correct, r.sse_micro)
           for r in quality_train(spark, two_tier_dir)
           .orderBy("round").collect()]
    assert got == want     # bit-exact, both engines, planted corpus


# ---------------- quality_eval_holdout (r12) ----------------------------


def _numpy_holdout_trace(X: np.ndarray, y: np.ndarray,
                         is_train: np.ndarray):
    """Sequential reference of the SPLIT-GATED GD loop: gradients sum
    train rows only (holdout contributes exact integer 0), the update
    divides by the train count, metrics are per subset."""
    n = int(is_train.sum())
    w = [0.0, 0.0, 0.0, 0.0]
    trace = []
    for _ in range(QUALITY_GD_ROUNDS + 1):
        p = ((w[0] + w[1] * X[:, 0]) + w[2] * X[:, 1]) + w[3] * X[:, 2]
        r = p - y
        g = [
            int(np.floor(np.where(is_train, t * GRAD_SCALE, 0.0))
                .astype(np.int64).sum())
            for t in (r, r * X[:, 0], r * X[:, 1], r * X[:, 2])
        ]
        correct = (p >= 0.5) == (y == 1.0)
        trace.append((tuple(w),
                      int(is_train.sum()), int((is_train & correct).sum()),
                      int((~is_train).sum()),
                      int((~is_train & correct).sum())))
        w = [
            math.floor((w[j] - QUALITY_LR * ((g[j] / GRAD_SCALE)
                                             / max(n, 1)))
                       * W_SCALE) / W_SCALE
            for j in range(4)
        ]
    return trace


def _bucket(doc_id: int) -> int:
    import hashlib
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8],
               16) % 100


def test_holdout_split_agrees_with_doc_split(spark, sf_dir):
    """quality's inline is_train gate and textstats.doc_split both
    consume THE single-sourced ``split_bucket`` rule (VERDICT r13
    item 1 — until r14 this test pinned two independent renderings of
    the md5 formula; now it pins that the single source, projected two
    ways, yields the same per-doc membership)."""
    from mit_6_5840_mapreduce_spark.operators.quality import (
        _features,
        _is_train,
    )
    from mit_6_5840_mapreduce_spark.operators.textstats import doc_split
    import pyspark.sql.functions as F
    mine = (_features(spark, sf_dir)
            .select("doc_id", _is_train().alias("t")))
    theirs = doc_split(spark, sf_dir).select(
        "doc_id", (F.col("split") == "train").alias("t2"))
    assert mine.join(theirs, "doc_id") \
        .where(F.col("t") != F.col("t2")).count() == 0
    # and both subsets are non-empty on the gate corpus
    n_train = mine.where("t").count()
    assert 0 < n_train < mine.count()


def test_holdout_trace_matches_numpy_exactly(spark, sf_dir):
    from mit_6_5840_mapreduce_spark.operators.quality import (
        _features,
        _is_train,
        quality_eval_holdout,
    )
    feats = (_features(spark, sf_dir)
             .withColumn("is_train", _is_train())).toPandas()
    X = feats[["x1", "x2", "x3"]].to_numpy(dtype=np.float64)
    y = feats["y"].to_numpy(dtype=np.float64)
    m = feats["is_train"].to_numpy(dtype=bool)
    expected = _numpy_holdout_trace(X, y, m)
    got = quality_eval_holdout(spark, sf_dir).orderBy("round").collect()
    assert len(got) == QUALITY_GD_ROUNDS + 1
    for row, (w, nt, ct, nh, ch) in zip(got, expected):
        assert (row.w_bias, row.w_len, row.w_punct, row.w_tok) == w
        assert (row.n_train, row.n_correct_train,
                row.n_holdout, row.n_correct_holdout) == (nt, ct, nh, ch)
        # the accuracy columns are floor4 of the exact count ratio
        assert row.acc_train == math.floor(ct / nt * 10000) / 10000
        assert row.acc_holdout == math.floor(ch / nh * 10000) / 10000


def _split_corpus_dir(tmp_path_factory, name, holdout_kind):
    """Planted corpus with CONTROLLED split membership: doc_ids are
    chosen by their real md5 bucket, so train/holdout assignment is
    known by construction. Train rows are two linearly separable
    clusters (A: 60 eight-letter tokens, score 0.8 -> label 1;
    B: 60 two-letter tokens, score 0.65 -> label 0). holdout_kind
    selects the held-out distribution: "same" draws from A/B (a
    general model scores it perfectly), "shifted" plants cluster C
    (10 eight-letter tokens: score 0.55 -> label 0, but its x3 = 1.0
    sits on cluster A's side of any boundary trained on A vs B — the
    model misclassifies every C doc, and only the holdout column can
    tell)."""
    text_a = " ".join(["abcdefgh"] * 60)
    text_b = " ".join(["ab"] * 60)
    text_c = " ".join(["abcdefgh"] * 10)
    train_ids = [i for i in range(4000) if _bucket(i) < 80][:40]
    hold_ids = [i for i in range(4000) if _bucket(i) >= 80][:10]
    rows = []
    for j, i in enumerate(train_ids):
        rows.append((i, text_a if j % 2 == 0 else text_b))
    for j, i in enumerate(hold_ids):
        if holdout_kind == "same":
            rows.append((i, text_a if j % 2 == 0 else text_b))
        else:
            rows.append((i, text_c))
    d = tmp_path_factory.mktemp(name)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "source": pa.array(["synthetic"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_holdout_separates_overfit_from_general(spark, tmp_path_factory):
    """The reason the holdout column exists: two corpora with IDENTICAL
    training distributions (train accuracy converges to 1.0 on both)
    but different held-out distributions — the general one is scored
    perfectly, the shifted one is misclassified wholesale, and ONLY
    acc_holdout separates the two models."""
    from mit_6_5840_mapreduce_spark.operators.quality import (
        quality_eval_holdout,
    )
    general = _split_corpus_dir(tmp_path_factory, "gen_sf", "same")
    shifted = _split_corpus_dir(tmp_path_factory, "shift_sf", "shifted")
    last_g = quality_eval_holdout(spark, general) \
        .orderBy("round").collect()[-1]
    last_s = quality_eval_holdout(spark, shifted) \
        .orderBy("round").collect()[-1]
    # both models look equally good on their training data...
    assert last_g.acc_train >= 0.9 and last_s.acc_train >= 0.9
    # ...and only the holdout metric tells them apart
    assert last_g.acc_holdout >= 0.9
    assert last_s.acc_holdout <= 0.5
    # the shifted holdout is misclassified wholesale by construction
    assert last_s.n_correct_holdout == 0 and last_s.n_holdout == 10


def test_holdout_replay_oracle_matches_engine_on_planted_corpus(
        spark, tmp_path_factory):
    """The REAL registered oracle SQL (split-gated unrolled replay)
    diffed bit-exact against the engine on the shifted planted corpus
    — the second-distribution pin, where train and holdout metrics
    genuinely diverge."""
    import duckdb

    from mit_6_5840_mapreduce_spark.operators.quality import (
        ORACLES,
        quality_eval_holdout,
    )
    d = _split_corpus_dir(tmp_path_factory, "replay_shift_sf", "shifted")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}'")
    want = [tuple(r) for r in con.execute(
        ORACLES["quality_eval_holdout"] + " ORDER BY round").fetchall()]
    got = [(r.round, r.w_bias, r.w_len, r.w_punct, r.w_tok,
            r.n_train, r.n_correct_train, r.acc_train,
            r.n_holdout, r.n_correct_holdout, r.acc_holdout)
           for r in quality_eval_holdout(spark, d)
           .orderBy("round").collect()]
    assert got == want
    # and the trace is non-degenerate: the two series diverge
    assert got[-1][7] != got[-1][10]


def test_holdout_empty_corpus_yields_zero_model_trace(spark,
                                                      empty_docs_dir):
    """Empty-corpus contract for the split trainer: zero-model weights,
    all four counts 0, both accuracies 0.0 (the n > 0 guard), and the
    split-gated DuckDB replay agrees row for row."""
    import duckdb

    from mit_6_5840_mapreduce_spark.operators.quality import (
        ORACLES,
        quality_eval_holdout,
    )
    rows = quality_eval_holdout(spark, empty_docs_dir) \
        .orderBy("round").collect()
    assert len(rows) == QUALITY_GD_ROUNDS + 1
    assert all(
        (r.w_bias, r.w_len, r.w_punct, r.w_tok, r.n_train,
         r.n_correct_train, r.acc_train, r.n_holdout,
         r.n_correct_holdout, r.acc_holdout)
        == (0.0,) * 4 + (0, 0, 0.0, 0, 0, 0.0) for r in rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(empty_docs_dir, 'documents.parquet')}'")
    want = [tuple(r) for r in con.execute(
        ORACLES["quality_eval_holdout"] + " ORDER BY round").fetchall()]
    got = [(r.round, r.w_bias, r.w_len, r.w_punct, r.w_tok,
            r.n_train, r.n_correct_train, r.acc_train,
            r.n_holdout, r.n_correct_holdout, r.acc_holdout)
           for r in rows]
    assert got == want
