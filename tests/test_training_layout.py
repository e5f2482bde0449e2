"""Corpus-independent invariants for the training-data layout
operators (pack_sequences / training_shuffle) on adversarial inputs
the real corpus doesn't contain: empty texts, a single dominating
source, duplicate token content. The oracle gate pins values on the
driver corpus; these pin the CONTRACT on hostile shapes.
"""

from __future__ import annotations

import os

import pytest

from mit_6_5840_mapreduce_spark.operators import textstats
from mit_6_5840_mapreduce_spark.operators.textstats import (
    PACK_BUDGET,
    SHUFFLE_SHARDS,
    pack_sequences,
    training_shuffle,
)

ROWS = [
    # (doc_id, text, source) — empty docs, one hot source, dup content
    (1, "alpha beta gamma", "hot"),
    (2, "", "hot"),
    (3, "alpha beta gamma", "hot"),
    (4, " ".join(["tok"] * 300), "hot"),     # spans a budget boundary
    (5, "delta", "cold"),
    (6, "", "cold"),
    (7, " ".join(["word"] * (PACK_BUDGET * 2 + 7)), "hot"),
    (8, "omega psi", "mid"),
]


@pytest.fixture(scope="module")
def hostile_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("hostile_docs"))
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in ROWS],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet"))
    return out


def test_pack_sequences_offsets_are_prefix_sums(spark, hostile_dir):
    rows = {r.doc_id: r for r in pack_sequences(spark, hostile_dir).collect()}
    assert set(rows) == {i for i, _, _ in ROWS}
    by_source: dict[str, list] = {}
    for r in sorted(rows.values(), key=lambda r: r.doc_id):
        by_source.setdefault(r.source, []).append(r)
    for rs in by_source.values():
        offset = 0
        for r in rs:
            assert r.start_offset == offset, r
            assert r.seq_id == offset // PACK_BUDGET, r
            offset += r.n_tokens
    # the boundary-spanning doc is assigned the sequence of its FIRST
    # token, even though it crosses into the next one
    hot = by_source["hot"]
    spanning = [r for r in hot if r.n_tokens > PACK_BUDGET]
    assert spanning, "fixture lost its boundary-spanning doc"


def test_pack_sequences_empty_docs_consume_no_budget(spark, hostile_dir):
    rows = {r.doc_id: r for r in pack_sequences(spark, hostile_dir).collect()}
    assert rows[2].n_tokens == 0
    # doc 3 starts exactly where doc 1 ended: the empty doc 2 between
    # them moved nothing
    assert rows[3].start_offset == rows[1].start_offset + rows[1].n_tokens


def test_training_shuffle_is_a_sharded_permutation(spark, hostile_dir):
    rows = training_shuffle(spark, hostile_dir).collect()
    assert sorted(r.doc_id for r in rows) == sorted(i for i, _, _ in ROWS)
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < SHUFFLE_SHARDS
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        assert sorted(r.pos for r in rs) == list(range(1, len(rs) + 1))


def test_training_shuffle_deterministic_and_id_independent(spark,
                                                          hostile_dir):
    """Two runs agree exactly, and the order is a function of doc_id
    alone — not of input row order or partitioning."""
    a = sorted(map(tuple, training_shuffle(spark, hostile_dir).collect()))
    b = sorted(map(tuple, training_shuffle(spark, hostile_dir).collect()))
    assert a == b and len(a) == len(ROWS)


@pytest.fixture(scope="module")
def hot_source_dir(spark, tmp_path_factory):
    """~90% of docs in ONE source (the shape VERDICT r12 item 4 probes),
    sparse/negative doc_ids so sub-shard bucketing is non-trivial, and
    token counts that straddle many PACK_BUDGET boundaries."""
    rows = []
    for i in range(400):
        # sparse ids incl. negatives: floor-div bucketing must keep
        # sub-shard order == doc_id order (DIV truncation would not)
        doc_id = i * 7 - 100
        source = "hot" if i % 10 else f"cold{i % 3}"
        n = (i * 37) % 90 + 1
        rows.append((doc_id, " ".join(f"w{j}" for j in range(n)), source))
    out = str(tmp_path_factory.mktemp("hot_source_docs"))
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT")
    df.coalesce(2).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet"))
    return out


def test_pack_two_pass_is_value_identical(spark, hot_source_dir,
                                          monkeypatch):
    """The two-pass sub-sharded prefix sum (forced by PACK_HOT_DOCS=0)
    must produce byte-identical packing to the single-window form: the
    offset arithmetic is independent of how the prefix sum was
    computed. Sub-shard width patched small so the hot source genuinely
    spans many sub-shards."""
    single = sorted(map(tuple,
                        pack_sequences(spark, hot_source_dir).collect()))
    assert len(single) == 400
    monkeypatch.setattr(textstats, "PACK_HOT_DOCS", 0)
    monkeypatch.setattr(textstats, "PACK_SUBSHARD_DOCS", 16)
    two_pass = sorted(map(tuple,
                          pack_sequences(spark, hot_source_dir).collect()))
    assert two_pass == single


def test_epoch_assembly_identical_under_two_pass_packing(
        spark, hot_source_dir, monkeypatch):
    """epoch_assembly composes the SAME pack_assignment, so flipping
    the packing form must not move a single sequence row."""
    import __spark_entry__ as entrymod
    q = entrymod.queries()["epoch_assembly"]
    single = sorted(map(tuple, q(spark, hot_source_dir).collect()))
    assert single, "planted corpus packed no sequences"
    monkeypatch.setattr(textstats, "PACK_HOT_DOCS", 0)
    monkeypatch.setattr(textstats, "PACK_SUBSHARD_DOCS", 16)
    two_pass = sorted(map(tuple, q(spark, hot_source_dir).collect()))
    assert two_pass == single


def test_pack_auto_selects_two_pass_past_hot_doc_boundary(
        spark, hot_source_dir, monkeypatch):
    """pack_assignment picks its form from the staged frame's own
    per-source counts. Patch the boundary to straddle the planted hot
    source (360 docs) from both sides and pin (a) which form runs —
    observed through the plan's window-spec signature — and (b) that
    values are identical across the boundary."""
    monkeypatch.setattr(textstats, "PACK_SUBSHARD_DOCS", 16)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # boundary ABOVE the hot count -> window form (no sub-shard window)
    monkeypatch.setattr(textstats, "PACK_HOT_DOCS", 100_000)
    below = pack_sequences(spark, hot_source_dir)
    assert "sub" not in plan(below)
    rows_below = sorted(map(tuple, below.collect()))
    # boundary BELOW the hot count -> two-pass form (sub-shard keys in
    # the plan), values identical
    monkeypatch.setattr(textstats, "PACK_HOT_DOCS", 100)
    above = pack_sequences(spark, hot_source_dir)
    assert "sub" in plan(above)
    rows_above = sorted(map(tuple, above.collect()))
    assert rows_above == rows_below and len(rows_below) == 400
