"""Trained document-quality classifier — the TRAINING half of the
quality-gating family (``textstats.doc_quality`` is the heuristic
half). Nothing in the reference implements this; it is north-star
LLM-pipeline extension surface like ``operators/bpe.py`` (a real
curation pipeline labels a sample with an expensive signal — human
raters, a big LM — then TRAINS a cheap linear model to gate the full
corpus; here the label source is the corpus's own planted quality
tiers, thresholded from the certified ``doc_quality`` heuristic, so
both engines can derive identical labels).

``quality_train`` runs QUALITY_GD_ROUNDS full-batch gradient-descent
rounds of least-squares linear regression (a linear probability model:
predict y in {0,1}, classify at p >= 0.5) over the doc-quality feature
vector; ``quality_classify`` is the serving half, scoring every
document with the trained weights.

Determinism — the property that makes an ITERATIVE float trainer
ORACLE-able (the ``bpe_train`` unrolled-replay discipline, applied to
gradient descent):

- Per-row math is bit-identical across engines: every feature is
  floor4-quantized from the already-certified ``doc_quality`` columns,
  the prediction is the SAME parenthesized expression tree on both
  sides (neither engine reassociates IEEE float ops), and sigmoid/exp
  is deliberately avoided (libm exp() is NOT correctly-rounded, so a
  logistic link would not reproduce bit-for-bit across engines — the
  linear probability model keeps every op a single correctly-rounded
  IEEE operation).
- The ONLY order-dependent step — the gradient sum over rows — is made
  order-FREE by quantizing each row's contribution to integer
  micro-units (floor(g * GRAD_SCALE) as BIGINT) and summing exact
  integers; partitioning, shuffle order, and engine cannot change the
  result.
- The weight update runs on the driver from those integer sums with a
  fixed operation order and floors each new weight onto the W_SCALE
  grid — the same scalar expression the oracle's per-round CTE
  computes.

The driver gate replays the ENTIRE training loop in DuckDB as an
unrolled per-round CTE chain (``_replay_ctes``), independently
re-deriving every feature, every gradient sum, every weight update and
every per-round accuracy; ``tests/test_quality.py`` additionally pins
the loop against a sequential pure-Python/numpy reference and a
planted two-tier corpus.

Scale design (100 TB): ONE corpus scan builds the feature matrix
(doc_id + 4 doubles — narrow), checkpointed once; every GD round is a
single map-side-combined aggregation over it (6 integer sums), so the
per-round cost is one reduce of 32-partition partials and the model
(4 doubles) is the only driver traffic per round — the ``ivf_train``
rule. No shuffle of row data ever happens: training is embarrassingly
map-reducible. Gradient-sum range (ADVICE r11): per-row micro-unit
terms are ≤ ~2e6 (features/labels in [0,1]), so the BIGINT sums hold
to ~4.6e12 documents — three orders past a 100 TB corpus — and the
cliff is LOUD on both engines, not divergent (Spark sums longs under
the registry-pinned ANSI mode and raises; DuckDB sums into HUGEINT
and raises at the final BIGINT cast). See docs/SCALE.md "Integer
exactness".

On this synthetic corpus the punctuation feature is degenerate (the
generated text contains no punctuation, so x_punct = 0 for every doc)
— the trainer provably pins w_punct at exactly 0.0 (every per-row
gradient term floors ±0.0 to 0), which the planted-corpus test turns
into a free invariant; with a real corpus the feature participates.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_spark.functions.numeric import (
    duckdb_floor4,
    floor4,
)

QUALITY_GD_ROUNDS = 8       # full-batch GD update rounds
QUALITY_LR = 0.5            # exact binary fraction: lr * x is one IEEE op
QUALITY_LABEL_MIN = 0.7     # doc_quality score gate distilled into labels
GRAD_SCALE = 1_000_000.0    # per-row gradient quantum (micro-units)
W_SCALE = 100_000_000.0     # weight grid after each update (1e-8)


# feature order everywhere: bias, len, punct, tok
def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x1, x2, x3, y): the doc_quality capped signals,
    floor4-quantized, plus the distilled binary label. Composes the
    certified ``doc_quality`` projection so the per-row float surface
    this module adds is just three least/floor4 expressions."""
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        _quality_signals,
    )
    from mit_6_5840_mapreduce_spark.sources.tables import fan_out, load_table
    # fan_out the scan, then compute: the per-row work (tokenize + fold)
    # dominates the feature build, and the test corpus is one
    # unsplittable row group. Partitioning CANNOT move a bit of the
    # result: gradients sum order-free integers (module docstring),
    # which test_quality's exact numpy pin proves.
    dq = _quality_signals(
        fan_out(spark, load_table(spark, sf_dir, "documents")))
    return dq.select(
        "doc_id",
        floor4(F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)))
        .alias("x1"),
        floor4(F.least(F.col("punct_ratio") * F.lit(5.0), F.lit(1.0)))
        .alias("x2"),
        floor4(F.least(F.col("avg_token_len") / F.lit(8.0), F.lit(1.0)))
        .alias("x3"),
        F.when(F.col("quality_score") >= F.lit(QUALITY_LABEL_MIN),
               F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )


def _predict(w: tuple[float, float, float, float]) -> Column:
    """w . x with a FIXED left-to-right association — the exact
    expression tree the oracle writes, so both engines perform the
    identical sequence of IEEE operations."""
    return ((F.lit(w[0]) + F.lit(w[1]) * F.col("x1"))
            + F.lit(w[2]) * F.col("x2")) + F.lit(w[3]) * F.col("x3")


def _gd_pass(feats: DataFrame, w: tuple[float, float, float, float],
             split: bool = False):
    """THE full-batch GD pass at weights ``w``, single-sourced (VERDICT
    r12 item 7's scheduled fold — previously an ungated ``_gd_pass``
    and a gated ``_gd_pass_split`` rendered the quantized gradient
    expressions twice). One map-side-combined aggregation emitting:
    integer gradient sums (the order-free quantized form), quantized
    SSE, and correct-prediction/row counts per subset.

    ``split=False`` (quality_train/quality_classify): every row is a
    TRAIN row — the gate constant-folds to true, so n_train is the
    full row count and the holdout columns read 0. ``split=True``
    (quality_eval_holdout): ``feats`` carries ``is_train``; gradient
    sums are gated to TRAIN rows (holdout rows contribute exactly 0 —
    the model never sees them) and accuracy is measured on BOTH
    subsets."""
    p = _predict(w)
    r = p - F.col("y")
    t = F.col("is_train") if split else F.lit(True)
    zero = F.lit(0).cast("long")

    def qt(c: Column) -> Column:
        # gate BEFORE the quantization so a holdout row contributes the
        # exact integer 0, not floor(0.0-ish) of an evaluated term;
        # coalesce: sum() over ZERO rows is NULL — the empty-corpus
        # contract is the zero-model trace (gradients 0, metrics 0),
        # same coalesce in the oracle
        return F.coalesce(
            F.sum(F.when(t, F.floor(c * F.lit(GRAD_SCALE)).cast("long"))
                  .otherwise(zero)), zero)

    correct = (p >= F.lit(0.5)) == (F.col("y") == F.lit(1.0))

    def n(subset: Column) -> Column:
        return F.coalesce(
            F.sum(F.when(subset, F.lit(1)).otherwise(F.lit(0)))
            .cast("long"), zero)

    return feats.agg(
        qt(r).alias("g0"),
        qt(r * F.col("x1")).alias("g1"),
        qt(r * F.col("x2")).alias("g2"),
        qt(r * F.col("x3")).alias("g3"),
        qt(r * r).alias("sse_micro"),
        n(t).alias("n_train"),
        n(t & correct).alias("n_correct_train"),
        n(~t).alias("n_holdout"),
        n(~t & correct).alias("n_correct_holdout"),
    ).collect()[0]


def _update(w: tuple[float, float, float, float], g: tuple[int, ...],
            n: int) -> tuple[float, float, float, float]:
    """w <- floor_grid(w - lr * mean_gradient): the fixed-order scalar
    update the oracle's per-round CTE mirrors token for token. The
    max(n, 1) guard (SQL: greatest) is the empty-corpus contract: with
    zero rows the coalesced gradients are 0, so the update is the
    identity instead of 0/0."""
    n = max(n, 1)
    return tuple(
        math.floor((wj - QUALITY_LR * ((gj / GRAD_SCALE) / n)) * W_SCALE)
        / W_SCALE
        for wj, gj in zip(w, g))


def _train_rows(spark: SparkSession, sf_dir: str
                ) -> tuple[list[tuple[int, float, float, float, float,
                                      int, int]], DataFrame]:
    """Run the GD loop; row k = (round k, weights AFTER k updates,
    n_correct and quantized SSE measured AT those weights). Pass k
    serves double duty: it evaluates round k's metrics and produces
    round k+1's gradient, so the loop is QUALITY_GD_ROUNDS + 1 jobs.
    Also returns the CHECKPOINTED feature frame so a caller that goes
    on to score (quality_classify's default path) reuses it instead of
    paying a second corpus scan (r11 review)."""
    feats = _features(spark, sf_dir).localCheckpoint(eager=True)
    w = (0.0, 0.0, 0.0, 0.0)
    rows = []
    for k in range(QUALITY_GD_ROUNDS + 1):
        res = _gd_pass(feats, w)
        # ungated pass: every row is a TRAIN row, so the train-subset
        # columns ARE the full-corpus count/accuracy
        rows.append((k, w[0], w[1], w[2], w[3],
                     int(res["n_correct_train"]), int(res["sse_micro"])))
        if k < QUALITY_GD_ROUNDS:
            w = _update(w, (res["g0"], res["g1"], res["g2"], res["g3"]),
                        int(res["n_train"]))
    return rows, feats


def quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the linear quality classifier; returns the full training
    trace — one row per round with the weight vector after that round's
    update and the training accuracy/SSE at those weights (round 0 is
    the zero model). The trace IS the trained artifact plus its
    convergence evidence: the last row's weights are what
    ``quality_classify`` serves."""
    return spark.createDataFrame(
        _train_rows(spark, sf_dir)[0],
        "round INT, w_bias DOUBLE, w_len DOUBLE, w_punct DOUBLE, "
        "w_tok DOUBLE, n_correct BIGINT, sse_micro BIGINT")


def quality_classify(spark: SparkSession, sf_dir: str,
                     weights: tuple[float, float, float, float] | None = None
                     ) -> DataFrame:
    """Serve the trained classifier: per document the linear quality
    probability (floor4), the thresholded prediction, and the distilled
    label it was trained against. ``weights``: a pre-trained vector —
    a real pipeline trains once and classifies many times (the
    ``bpe_encode`` rule); the gate default retrains so the registered
    query stays self-contained, and the oracle replays the identical
    loop before scoring."""
    if weights is None:
        rows, feats = _train_rows(spark, sf_dir)
        weights = tuple(rows[-1][1:5])   # score off the checkpointed
        # feature frame the trainer already materialized — no second
        # corpus scan (r11 review)
    else:
        feats = _features(spark, sf_dir)
    p = _predict(weights)
    return feats.select(
        "doc_id",
        floor4(p).alias("p_quality"),
        (p >= F.lit(0.5)).cast("int").alias("pred_quality"),
        F.col("y").cast("int").alias("label_quality"),
    )


def _is_train() -> Column:
    """``doc_split``'s train-bucket membership as an inline expression:
    THE single-sourced ``textstats.split_bucket`` rule compared against
    TRAIN_PCT (VERDICT r13 item 1 — previously a second rendering of
    the md5 formula lived here; now there is one source and
    ``tests/test_quality.py`` pins that this gate and ``doc_split``'s
    named split agree per document). Applied as one extra projection
    instead of a join back to a second documents scan — at 100 TB the
    join would shuffle the corpus to attach one boolean a hash of the
    key already encodes."""
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        TRAIN_PCT,
        split_bucket,
    )
    return split_bucket() < TRAIN_PCT




def quality_eval_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT evaluation of the trained quality classifier (VERDICT
    r11 item 2): train the GD loop on ``doc_split``'s TRAIN bucket
    only, measure every round's accuracy on BOTH the training rows and
    the held-out rows (val + test buckets — the 20% the model never
    sees). A real curation gate is judged on the holdout number:
    training accuracy alone cannot distinguish a general model from
    one that memorized its training region
    (``test_quality.py::test_holdout_separates_overfit_from_general``
    plants both and the holdout column separates them).

    Same determinism contract as ``quality_train`` (order-free integer
    gradient sums, grid-floored updates, fixed-association IEEE
    expression trees); the accuracy columns are floor4 of one exact
    BIGINT/BIGINT division. Oracle: the same unrolled per-round replay
    extended with the split gate — DuckDB independently re-derives the
    split, the gated gradients, and both accuracy series.

    Scale: identical to ``quality_train`` — ONE corpus scan builds the
    (doc_id + 4 doubles + 1 boolean) feature matrix, checkpointed;
    each round is one map-side-combined aggregation (8 sums); the
    split flag is an inline hash of doc_id, not a join."""
    feats = (_features(spark, sf_dir)
             .withColumn("is_train", _is_train())
             .localCheckpoint(eager=True))
    w = (0.0, 0.0, 0.0, 0.0)
    rows = []
    for k in range(QUALITY_GD_ROUNDS + 1):
        res = _gd_pass(feats, w, split=True)
        rows.append((k, w[0], w[1], w[2], w[3],
                     int(res["n_train"]), int(res["n_correct_train"]),
                     int(res["n_holdout"]), int(res["n_correct_holdout"])))
        if k < QUALITY_GD_ROUNDS:
            w = _update(w, (res["g0"], res["g1"], res["g2"], res["g3"]),
                        int(res["n_train"]))
    acc = [(F.when(F.col(n) > 0,
                   floor4(F.col(c) / F.col(n)))
            .otherwise(F.lit(0.0)).alias(a))
           for n, c, a in (("n_train", "n_correct_train", "acc_train"),
                           ("n_holdout", "n_correct_holdout",
                            "acc_holdout"))]
    return spark.createDataFrame(
        rows,
        "round INT, w_bias DOUBLE, w_len DOUBLE, w_punct DOUBLE, "
        "w_tok DOUBLE, n_train BIGINT, n_correct_train BIGINT, "
        "n_holdout BIGINT, n_correct_holdout BIGINT",
    ).select("round", "w_bias", "w_len", "w_punct", "w_tok",
             "n_train", "n_correct_train", acc[0],
             "n_holdout", "n_correct_holdout", acc[1])


def _replay_ctes(n_rounds: int) -> str:
    """DuckDB CTE chain replaying the GD loop UNROLLED per round — a
    fully independent oracle, not an artifact echo: DuckDB re-derives
    the features from the documents table (via the certified
    doc_quality SQL), re-sums every quantized gradient, re-applies
    every weight update on the same 1e-8 grid, and re-measures every
    round's accuracy. w{k} = weights after k updates; e{k} = the pass
    AT w{k} (metrics for round k's output row + gradient for w{k+1})."""
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        ORACLES as _TEXT_ORACLES,
    )
    parts = [f"""
        dq AS MATERIALIZED ({_TEXT_ORACLES["doc_quality"]}),
        feats AS MATERIALIZED (
            SELECT doc_id,
                   {duckdb_floor4("least(n_tokens / 100.0, 1.0)")} AS x1,
                   {duckdb_floor4("least(punct_ratio * 5.0, 1.0)")} AS x2,
                   {duckdb_floor4("least(avg_token_len / 8.0, 1.0)")}
                       AS x3,
                   CASE WHEN quality_score >= {QUALITY_LABEL_MIN}
                        THEN 1.0 ELSE 0.0 END AS y
            FROM dq
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
        w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""]
    for k in range(n_rounds + 1):
        parts.append(f"""
        e{k} AS MATERIALIZED (
            SELECT
                CAST(coalesce(sum(CAST(floor(r * {GRAD_SCALE}) AS BIGINT)),
                     0) AS BIGINT) AS g0,
                CAST(coalesce(sum(CAST(floor((r * x1) * {GRAD_SCALE})
                     AS BIGINT)), 0) AS BIGINT) AS g1,
                CAST(coalesce(sum(CAST(floor((r * x2) * {GRAD_SCALE})
                     AS BIGINT)), 0) AS BIGINT) AS g2,
                CAST(coalesce(sum(CAST(floor((r * x3) * {GRAD_SCALE})
                     AS BIGINT)), 0) AS BIGINT) AS g3,
                CAST(coalesce(sum(CASE WHEN (p >= 0.5) = (y = 1.0)
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_correct,
                CAST(coalesce(sum(CAST(floor((r * r) * {GRAD_SCALE})
                     AS BIGINT)), 0) AS BIGINT) AS sse_micro
            FROM (SELECT x1, x2, x3, y, p, (p - y) AS r
                  FROM (SELECT x1, x2, x3, y,
                               (((w0 + w1 * x1) + w2 * x2) + w3 * x3) AS p
                        FROM feats, w{k}))
        )""")
        if k < n_rounds:
            parts.append(f"""
        w{k + 1} AS (
            SELECT
                floor((w0 - {QUALITY_LR} * ((g0 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w0,
                floor((w1 - {QUALITY_LR} * ((g1 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w1,
                floor((w2 - {QUALITY_LR} * ((g2 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w2,
                floor((w3 - {QUALITY_LR} * ((g3 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w3
            FROM w{k}, e{k}, nn
        )""")
    return "WITH" + ",".join(parts)


def _replay_ctes_split(n_rounds: int) -> str:
    """The split-gated twin of ``_replay_ctes``: DuckDB re-derives the
    features AND the md5-bucket train flag from the documents table,
    gates every gradient term to train rows, re-applies every
    grid-floored update with the TRAIN count, and measures each
    round's correct-prediction counts on both subsets."""
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        ORACLES as _TEXT_ORACLES,
        TRAIN_PCT,
        split_bucket_sql,
    )
    parts = [f"""
        dq AS MATERIALIZED ({_TEXT_ORACLES["doc_quality"]}),
        feats AS MATERIALIZED (
            SELECT doc_id,
                   {duckdb_floor4("least(n_tokens / 100.0, 1.0)")} AS x1,
                   {duckdb_floor4("least(punct_ratio * 5.0, 1.0)")} AS x2,
                   {duckdb_floor4("least(avg_token_len / 8.0, 1.0)")}
                       AS x3,
                   CASE WHEN quality_score >= {QUALITY_LABEL_MIN}
                        THEN 1.0 ELSE 0.0 END AS y,
                   ({split_bucket_sql()}) < {TRAIN_PCT} AS is_train
            FROM dq
        ),
        nn AS (SELECT CAST(coalesce(sum(CASE WHEN is_train THEN 1
                                        ELSE 0 END), 0) AS BIGINT) AS n
               FROM feats),
        w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""]
    for k in range(n_rounds + 1):
        gated = [f"""
                CAST(coalesce(sum(CASE WHEN is_train
                     THEN CAST(floor(({term}) * {GRAD_SCALE}) AS BIGINT)
                     ELSE 0 END), 0) AS BIGINT) AS g{j}"""
                 for j, term in enumerate(("r", "(r * x1)", "(r * x2)",
                                           "(r * x3)"))]
        parts.append(f"""
        e{k} AS MATERIALIZED (
            SELECT
                {",".join(gated)},
                CAST(coalesce(sum(CASE WHEN is_train THEN 1 ELSE 0 END),
                     0) AS BIGINT) AS n_train,
                CAST(coalesce(sum(CASE WHEN is_train
                              AND (p >= 0.5) = (y = 1.0)
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_correct_train,
                CAST(coalesce(sum(CASE WHEN NOT is_train THEN 1 ELSE 0
                              END), 0) AS BIGINT) AS n_holdout,
                CAST(coalesce(sum(CASE WHEN NOT is_train
                              AND (p >= 0.5) = (y = 1.0)
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_correct_holdout
            FROM (SELECT x1, x2, x3, y, is_train, p, (p - y) AS r
                  FROM (SELECT x1, x2, x3, y, is_train,
                               (((w0 + w1 * x1) + w2 * x2) + w3 * x3) AS p
                        FROM feats, w{k}))
        )""")
        if k < n_rounds:
            parts.append(f"""
        w{k + 1} AS (
            SELECT
                floor((w0 - {QUALITY_LR} * ((g0 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w0,
                floor((w1 - {QUALITY_LR} * ((g1 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w1,
                floor((w2 - {QUALITY_LR} * ((g2 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w2,
                floor((w3 - {QUALITY_LR} * ((g3 / {GRAD_SCALE})
                      / greatest(n, 1)))
                      * {W_SCALE}) / {W_SCALE} AS w3
            FROM w{k}, e{k}, nn
        )""")
    return "WITH" + ",".join(parts)


_HOLDOUT_TRACE_UNION = " UNION ALL ".join(
    f"""SELECT CAST({k} AS INTEGER) AS round, w0 AS w_bias, w1 AS w_len,
        w2 AS w_punct, w3 AS w_tok, n_train, n_correct_train,
        CASE WHEN n_train > 0
             THEN {duckdb_floor4("n_correct_train / n_train")}
             ELSE 0.0 END AS acc_train,
        n_holdout, n_correct_holdout,
        CASE WHEN n_holdout > 0
             THEN {duckdb_floor4("n_correct_holdout / n_holdout")}
             ELSE 0.0 END AS acc_holdout
        FROM w{k}, e{k}"""
    for k in range(QUALITY_GD_ROUNDS + 1))


_TRACE_UNION = " UNION ALL ".join(
    f"SELECT CAST({k} AS INTEGER) AS round, w0 AS w_bias, w1 AS w_len, "
    f"w2 AS w_punct, w3 AS w_tok, n_correct, sse_micro FROM w{k}, e{k}"
    for k in range(QUALITY_GD_ROUNDS + 1))

QUERIES = {
    # iterative float model training + its serving half: oracled by a
    # FULL UNROLLED SQL REPLAY of the GD loop (the bpe_train
    # discipline), exact by construction — order-free integer gradient
    # sums + grid-floored weight updates (module docstring); pinned
    # against a sequential numpy reference and a planted two-tier
    # corpus by tests/test_quality.py
    "quality_train": quality_train,
    "quality_classify": quality_classify,
    # r12: the held-out evaluation — trained on doc_split's train
    # bucket, judged per round on the 20% the model never sees
    "quality_eval_holdout": quality_eval_holdout,
}

ORACLES: dict[str, str] = {
    "quality_train": _replay_ctes(QUALITY_GD_ROUNDS) + f"""
        SELECT * FROM ({_TRACE_UNION})
    """,
    "quality_classify": _replay_ctes(QUALITY_GD_ROUNDS) + f"""
        SELECT doc_id,
               {duckdb_floor4("p")} AS p_quality,
               CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INTEGER)
                   AS pred_quality,
               CAST(y AS INTEGER) AS label_quality
        FROM (SELECT doc_id, y,
                     (((w0 + w1 * x1) + w2 * x2) + w3 * x3) AS p
              FROM feats, w{QUALITY_GD_ROUNDS})
    """,
    "quality_eval_holdout": _replay_ctes_split(QUALITY_GD_ROUNDS) + f"""
        SELECT * FROM ({_HOLDOUT_TRACE_UNION})
    """,
}
