"""Data-mixture operators — the source-weighting step a training-data
pipeline runs between curation and packing (nothing in the reference
implements these; north-star extension surface like operators/dedup.py).

- ``source_mix_weights``: temperature-weighted (alpha = 0.5) per-source
  sampling weights — the standard multi-source rebalancing rule
  (upweight small sources by sampling proportional to sqrt of size
  instead of size).
- ``temperature_resample``: the enforcement direction — a deterministic
  per-document keep/drop that realizes those weights via md5 bucketing
  (no RNG, reproducible on any engine/cluster/partitioning).
- ``quality_ensemble``: the combined quality gate — a fixed-weight
  linear ensemble of the individual quality signals (heuristic quality
  score, intra-doc repetition, language-ID confidence), the declarative
  form of a fasttext-style linear quality classifier with public
  weights.

All arithmetic is integer-exact where order-dependence could bite:
weights are permille BIGINT divisions; sqrt is applied to an exact
BIGINT (IEEE-correctly-rounded identically in Spark and DuckDB) and
floored back to BIGINT before any summation; the ensemble is a
fixed-shape IEEE chain over already-canonicalized (floor4) inputs, the
same pattern ``curation_summary`` certifies.

Scale design (100 TB):
- ``source_mix_weights`` is one map-side-combined hash-agg to the
  per-source table (|sources| rows — broadcast-sized at any corpus
  scale) plus a 1-row total; no second corpus pass.
- ``temperature_resample`` joins that broadcast-sized rate table back
  to the corpus — one broadcast hash join, no shuffle of the corpus.
- ``quality_ensemble`` composes three single-pass operators joined on
  doc_id; Catalyst plans the whole ensemble as one DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from mit_6_5840_mapreduce_spark.functions.numeric import floor4
from mit_6_5840_mapreduce_spark.functions.text import tokenize
from mit_6_5840_mapreduce_spark.sources.tables import fan_out, load_table

RESAMPLE_BUCKETS = 1000         # permille sampling granularity
ENSEMBLE_CUT = 0.6              # keep threshold on the ensemble score
LANG_HITS_SAT = 20              # lang-ID hits saturating to confidence 1.0


def _per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc/token counts + floor(sqrt(n_tokens)) as BIGINT.

    The isqrt is the alpha=0.5 temperature weight in integer form:
    sqrt of an exact BIGINT double is correctly rounded identically in
    Spark and DuckDB, and flooring back to BIGINT before any further
    arithmetic keeps every downstream sum/division order-independent.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "source", F.size(tokenize(F.col("text"))).cast("bigint")
        .alias("n_tokens"))
    return (
        staged.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("n_tokens"))
        .select("source", "n_docs", "n_tokens",
                F.floor(F.sqrt(F.col("n_tokens"))).cast("bigint")
                .alias("isqrt_tokens"))
    )


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weights under sqrt-temperature sampling:
    weight_permille = 1000 * floor(sqrt(n_tokens_s)) div sum over
    sources of the same isqrt. Sources far below their natural share
    get upweighted relative to proportional sampling — the standard
    alpha = 0.5 multi-source rebalancing rule in exact permille
    integer form."""
    per = _per_source(spark, sf_dir)
    totals = per.agg(F.sum("isqrt_tokens").alias("isqrt_total"))
    # a corpus whose every source has zero tokens has no mixture — emit
    # nothing rather than divide by a zero total (engines disagree on
    # integer div-by-zero: NULL vs error)
    return (
        per.crossJoin(broadcast(totals))
        .where(F.col("isqrt_total") > 0)
        .select("source", "n_docs", "n_tokens", "isqrt_tokens",
                F.expr(f"({RESAMPLE_BUCKETS} * isqrt_tokens)"
                       " div isqrt_total").alias("weight_permille"))
    )


def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic realization of ``source_mix_weights``: per source,
    target_docs = total_docs * isqrt_s div isqrt_total, keep rate
    r_s = min(1000, 1000 * target_docs div n_docs_s) permille, and a
    document survives iff md5('mix:' || doc_id) % 1000 < r_s. Output is
    the surviving (doc_id, source, rate_per_mille) — the exact set any
    engine reproduces, with over-represented sources downsampled and
    small sources kept whole (rate capped at 1000)."""
    per = _per_source(spark, sf_dir)
    totals = per.agg(F.sum("isqrt_tokens").alias("isqrt_total"),
                     F.sum("n_docs").alias("docs_total"))
    rates = (
        per.crossJoin(broadcast(totals))
        .where(F.col("isqrt_total") > 0)
        .select("source", F.least(
            F.lit(RESAMPLE_BUCKETS).cast("bigint"),
            F.expr(f"({RESAMPLE_BUCKETS} * ((docs_total * isqrt_tokens)"
                   " div isqrt_total)) div n_docs"))
            .cast("int").alias("rate_per_mille"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % RESAMPLE_BUCKETS)
    return (
        docs.join(broadcast(rates), "source")
        .where(bucket < F.col("rate_per_mille"))
        .select("doc_id", "source", "rate_per_mille")
    )


def quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality ensemble per document:

        score = 0.5 * quality_score            (doc_quality composite)
              + 0.3 * (1 - repetition_frac)    (doc_repetition; docs too
                                                short for a shingle -> 0)
              + 0.2 * min(hits / 20, 1)        (lang_id stopword hits,
                                                saturating confidence)

    kept = score >= ENSEMBLE_CUT. The declarative form of a linear
    quality classifier with public weights — each component is an
    already-certified operator, composed into one Catalyst DAG. The
    inputs are floor4-canonicalized doubles and the combination is one
    fixed-shape IEEE chain, so floor4(score) is engine-stable (the
    ``curation_summary`` pattern)."""
    from mit_6_5840_mapreduce_spark.operators.corpus import doc_repetition
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        doc_quality,
        lang_id,
    )
    q = doc_quality(spark, sf_dir).select("doc_id", "quality_score")
    rep = doc_repetition(spark, sf_dir).select("doc_id", "repetition_frac")
    lid = lang_id(spark, sf_dir).select("doc_id", "hits")
    rep_frac = F.coalesce("repetition_frac", F.lit(0.0))
    conf = F.least(F.col("hits") / F.lit(float(LANG_HITS_SAT)), F.lit(1.0))
    score = (F.col("quality_score") * 0.5
             + (1 - rep_frac) * 0.3
             + conf * 0.2)
    return (
        q.join(rep, "doc_id", "left").join(lid, "doc_id")
        .select("doc_id", "quality_score",
                rep_frac.alias("repetition_frac"),
                F.col("hits").alias("lang_hits"),
                floor4(score).alias("ensemble_score"),
                (score >= ENSEMBLE_CUT).cast("int").alias("kept"))
    )


QUERIES = {
    "source_mix_weights": source_mix_weights,
    "temperature_resample": temperature_resample,
    "quality_ensemble": quality_ensemble,
}

_PER_SOURCE_SQL = r"""
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(floor(sqrt(CAST(sum(n_tokens) AS BIGINT))) AS BIGINT)
                   AS isqrt_tokens
        FROM (
            SELECT source,
                   len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
                                   t -> t <> ''))::BIGINT AS n_tokens
            FROM documents
        )
        GROUP BY source
"""

ORACLES = {
    "source_mix_weights": f"""
        WITH per AS ({_PER_SOURCE_SQL}),
        total AS (SELECT CAST(sum(isqrt_tokens) AS BIGINT) AS isqrt_total
                  FROM per)
        SELECT source, n_docs, n_tokens, isqrt_tokens,
               CAST(({RESAMPLE_BUCKETS} * isqrt_tokens) // isqrt_total
                    AS BIGINT) AS weight_permille
        FROM per CROSS JOIN total
        WHERE isqrt_total > 0
    """,
    "temperature_resample": f"""
        WITH per AS ({_PER_SOURCE_SQL}),
        total AS (SELECT CAST(sum(isqrt_tokens) AS BIGINT) AS isqrt_total,
                         CAST(sum(n_docs) AS BIGINT) AS docs_total
                  FROM per),
        rates AS (
            SELECT source,
                   CAST(least({RESAMPLE_BUCKETS},
                        ({RESAMPLE_BUCKETS} *
                         ((docs_total * isqrt_tokens) // isqrt_total))
                        // n_docs) AS INT) AS rate_per_mille
            FROM per CROSS JOIN total
            WHERE isqrt_total > 0
        )
        SELECT doc_id, d.source, rate_per_mille
        FROM documents d JOIN rates ON rates.source = d.source
        WHERE CAST(concat('0x', substring(
                  md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {RESAMPLE_BUCKETS} < rate_per_mille
    """,
}


def _ensemble_oracle() -> str:
    from mit_6_5840_mapreduce_spark.operators.corpus import (
        ORACLES as CORPUS_ORACLES,
    )
    from mit_6_5840_mapreduce_spark.operators.textstats import (
        ORACLES as TEXT_ORACLES,
    )
    return f"""
        WITH dq AS ({TEXT_ORACLES["doc_quality"]}),
        rep AS ({CORPUS_ORACLES["doc_repetition"]}),
        lid AS ({TEXT_ORACLES["lang_id"]})
        SELECT dq.doc_id, quality_score,
               coalesce(repetition_frac, 0.0) AS repetition_frac,
               hits AS lang_hits,
               floor((quality_score * 0.5
                      + (1 - coalesce(repetition_frac, 0.0)) * 0.3
                      + least(hits / {float(LANG_HITS_SAT)}, 1.0) * 0.2)
                     * 10000) / 10000 AS ensemble_score,
               CAST(quality_score * 0.5
                    + (1 - coalesce(repetition_frac, 0.0)) * 0.3
                    + least(hits / {float(LANG_HITS_SAT)}, 1.0) * 0.2
                    >= {ENSEMBLE_CUT} AS INT) AS kept
        FROM dq
        LEFT JOIN rep ON rep.doc_id = dq.doc_id
        JOIN lid ON lid.doc_id = dq.doc_id
    """


ORACLES["quality_ensemble"] = _ensemble_oracle()
