"""The hot-shingle doc-frequency cap (dedup.py max_df).

A single corpus-wide stop-shingle makes the inverted-index join emit
O(n_docs^2) candidate pairs — the one quadratic failure mode of exact
n-gram Jaccard at 100 TB. Plant exactly that corpus and assert the cap
removes the blowup while the uncapped form exhibits it.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mit_6_5840_mapreduce_spark.operators.dedup import (
    dedup_ngram_jaccard,
    shingle_containment,
)

N_DOCS = 60


def _tok(i: int) -> str:
    """Unique LETTER-ONLY token (the tokenizer keeps only letter runs —
    digits are delimiters, so 'u1' would collapse to 'u')."""
    i += 1
    s = ""
    while i:
        s += chr(ord("a") + i % 26)
        i //= 26
    return "x" + s


@pytest.fixture(scope="module")
def stop_shingle_dir(tmp_path_factory):
    """Every document: 3x 'stop' then two unique tokens — so all docs
    share exactly the one shingle 'stop stop stop' (df = N_DOCS) and
    nothing else. 3 shingles/doc => pairwise jaccard 1/5 = 0.2, above
    the 0.1 output threshold."""
    texts = [f"stop stop stop {_tok(2 * i)} {_tok(2 * i + 1)}"
             for i in range(N_DOCS)]
    d = tmp_path_factory.mktemp("stop_shingle_sf")
    table = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * N_DOCS, pa.string()),
        "source": pa.array(["synthetic"] * N_DOCS, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_uncapped_hot_shingle_is_quadratic(spark, stop_shingle_dir):
    n = dedup_ngram_jaccard(spark, stop_shingle_dir).count()
    assert n == N_DOCS * (N_DOCS - 1) // 2      # every pair survives


def test_cap_removes_hot_shingle_blowup(spark, stop_shingle_dir):
    n = dedup_ngram_jaccard(spark, stop_shingle_dir,
                            max_df=N_DOCS - 1).count()
    assert n == 0                               # only the stop shingle joined

def test_containment_uncapped_hot_shingle_is_quadratic(spark,
                                                       stop_shingle_dir,
                                                       monkeypatch):
    """Containment over the planted stop-shingle corpus: every ORDERED
    pair shares exactly the one stop shingle (containment 1/3), so with
    the threshold below 1/3 the uncapped join emits ALL n(n-1) ordered
    pairs — the quadratic blowup the cap exists to prevent."""
    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    monkeypatch.setattr(dmod, "CONTAINMENT_MIN", 0.1)
    got = dmod.shingle_containment(spark, stop_shingle_dir).count()
    assert got == N_DOCS * (N_DOCS - 1)


def test_containment_cap_removes_hot_shingle_blowup(spark,
                                                    stop_shingle_dir,
                                                    monkeypatch):
    """With the cap on, the stop shingle never enters the join: zero
    candidate pairs (not just zero above-threshold pairs), even at the
    permissive threshold that exposed the quadratic above."""
    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    monkeypatch.setattr(dmod, "CONTAINMENT_MIN", 0.1)
    got = dmod.shingle_containment(spark, stop_shingle_dir,
                                   max_df=N_DOCS - 1).count()
    assert got == 0


def test_containment_cap_keeps_contained_excerpt(spark, tmp_path_factory):
    """An excerpt fully contained in a long doc survives the cap and
    scores containment 1.0 — the asymmetric case Jaccard misses."""
    long_body = " ".join(_tok(5000 + j) for j in range(40))
    excerpt = " ".join(_tok(5000 + j) for j in range(10, 16))
    # 20 noise docs sharing one hot shingle among themselves
    texts = [f"hot hot hot {_tok(2 * i)} {_tok(2 * i + 1)}"
             for i in range(20)]
    texts += [long_body, excerpt]
    d = tmp_path_factory.mktemp("contain_sf")
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    rows = shingle_containment(spark, str(d), max_df=10).collect()
    got = {(r.doc_a, r.doc_b): r.containment for r in rows}
    # doc 21 (excerpt, 4 shingles) fully inside doc 20 (long)
    assert got[(21, 20)] == 1.0
    # the reverse direction is far below threshold and absent
    assert (20, 21) not in got


def _chain_corpus_dir(tmp_path_factory, n_docs: int):
    """Documents forming a PATH graph in near-dup space: doc_i overlaps
    only doc_{i-1} and doc_{i+1} (6-token stride over a shared token
    stream), so component diameter = n_docs - 1."""
    stream = [_tok(1000 + j) for j in range(6 * n_docs + 6)]
    texts = [" ".join(stream[6 * i:6 * i + 12]) for i in range(n_docs)]
    d = tmp_path_factory.mktemp("chain_sf")
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array(["synthetic"] * n_docs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_dedup_groups_raises_at_iteration_cap(spark, tmp_path_factory,
                                              monkeypatch):
    """A component whose convergence needs more rounds than
    CC_MAX_ITERS must raise, not silently split into multiple groups
    (ADVICE round 1). The chain depth is derived from the sequential
    reference so the test tracks the loop's actual round complexity
    (r14: seeded init + 2 jumps/round converges much deeper chains per
    round than the r7 form did)."""
    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    diameter = next(d for d in range(1, 200)
                    if _pointer_jump_rounds(d) > 2)
    d = _chain_corpus_dir(tmp_path_factory, diameter + 1)
    monkeypatch.setattr(dmod, "CC_MAX_ITERS", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        dmod.dedup_groups(spark, d).collect()


def test_dedup_groups_converges_on_chain(spark, tmp_path_factory):
    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    d = _chain_corpus_dir(tmp_path_factory, 8)
    rows = dmod.dedup_groups(spark, d).collect()
    assert {r.group_id for r in rows} == {0}        # one component
    assert all(r.group_size == 8 for r in rows)


def test_keep_best_reuses_precomputed_labels(spark, tmp_path_factory):
    """dedup_keep_best(groups_df=...) must produce exactly the default
    result without re-running the CC pipeline — the pipeline-reuse
    contract (VERDICT r3 item 4)."""
    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    d = _chain_corpus_dir(tmp_path_factory, 6)
    groups = dmod.dedup_groups(spark, d).localCheckpoint(eager=True)
    default = {tuple(r) for r in dmod.dedup_keep_best(spark, d).collect()}
    reused = {tuple(r) for r in
              dmod.dedup_keep_best(spark, d, groups_df=groups).collect()}
    assert reused == default
    survivors = {r[0] for r in reused if r[4] == 1}
    assert len(survivors) == 1          # one component -> one survivor


def test_cap_keeps_legit_pairs(spark, stop_shingle_dir, tmp_path_factory):
    """A pair sharing a RARE shingle survives the cap, scored over the
    SURVIVING sets: docs 20/21 keep 5 of their 6 shingles each (the
    stop shingle, df 22, is dropped) and share 4 of them, so Jaccard is
    4/6 and containment 4/5 (full set sizes would give 0.5 and
    0.6666)."""
    texts = [f"stop stop stop {_tok(2 * i)} {_tok(2 * i + 1)}"
             for i in range(20)]
    # docs 20/21 share a rare 5-token run => 3 shared rare shingles
    texts += ["stop stop stop rare one two three four",
              "stop stop stop rare one two three five"]
    d = tmp_path_factory.mktemp("rare_pair_sf")
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    rows = dedup_ngram_jaccard(spark, str(d), max_df=10).collect()
    assert {tuple(r) for r in rows} == {(20, 21, 4, 0.6666)}
    rows = shingle_containment(spark, str(d), max_df=10).collect()
    assert {tuple(r) for r in rows} == {(20, 21, 4, 0.8), (21, 20, 4, 0.8)}


def _pointer_jump_rounds(d: int) -> int:
    """Sequential reference for cc_labels' r14 loop on a path graph
    0-1-...-d: labels are SEEDED with one propagate hop
    (label0 = min(v, neighbors)); then per round, every node takes the
    min of its own and its neighbors' labels (one hop), every
    old-label CLASS adopts the min propagated label across its
    members, and CC_JUMPS_PER_ROUND pointer jumps follow
    (label <- label(label), each doubling label reach). Returns rounds
    until a full round changes nothing (i.e. INCLUDING the observing
    round) — the exact number of loop iterations the Spark
    implementation runs. (On the monotone path the class-min step
    never fires — classes chain toward the min already — so the round
    counts equal the jump-only form; its value shows on permuted-id
    graphs, see test_cc_random_id_path_rounds.)"""
    from mit_6_5840_mapreduce_spark.operators.dedup import (
        CC_JUMPS_PER_ROUND,
    )
    lab = [min([v] + [u for u in (v - 1, v + 1) if 0 <= u <= d])
           for v in range(d + 1)]
    rounds = 0
    while True:
        rounds += 1
        old = lab[:]
        cur = [min([old[v]] + [old[u] for u in (v - 1, v + 1)
                               if 0 <= u <= d])
               for v in range(d + 1)]
        cm: dict = {}
        for v in range(d + 1):
            cm[old[v]] = min(cm.get(old[v], cur[v]), cur[v])
        cur = [min(cur[v], cm[old[v]]) for v in range(d + 1)]
        for _ in range(CC_JUMPS_PER_ROUND):
            cur = [cur[cur[v]] for v in range(d + 1)]
        lab = cur
        if lab == old:
            return rounds


def test_pointer_jump_reference_is_logarithmic():
    """The reference itself shows the sub-log2 shape the r14 rewrite
    buys: seeded init + 2 jumps/round quadruples label reach per round
    (r7 single-jump form: 10 rounds at diameter 1000; pre-r7 one-hop
    form: 1001)."""
    assert _pointer_jump_rounds(4) == 2        # r7 form: 3
    assert _pointer_jump_rounds(7) == 2        # r7 form: 4
    assert _pointer_jump_rounds(127) == 4      # r7 form: 8
    assert _pointer_jump_rounds(1000) == 6     # r7 form: 10
    import math
    for d in range(2, 130):
        assert _pointer_jump_rounds(d) <= \
            math.ceil(math.log2(d) / 2) + 1


def test_cc_bound_is_pointer_jump_rounds(spark, tmp_path_factory,
                                         monkeypatch):
    """Pin the convergence bound (VERDICT r6 item 4, replacing the r6
    diameter+1 contract): with the cap K = CC_MAX_ITERS, the deepest
    provable chain is the largest diameter whose pointer-jumping round
    count (per the sequential reference) fits K, and one more hop must
    raise — even though its labels would in fact be correct, cc_labels
    refuses a result it could not verify. Also pins the EXACT round
    count via last_cc_rounds, so a silent regression to one-hop
    propagation (rounds = diameter + 1) fails loudly here."""
    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    K = 3
    monkeypatch.setattr(dmod, "CC_MAX_ITERS", K)
    d_ok = max(d for d in range(1, 60) if _pointer_jump_rounds(d) <= K)
    assert _pointer_jump_rounds(d_ok + 1) == K + 1
    ok = _chain_corpus_dir(tmp_path_factory, d_ok + 1)
    rows = dmod.dedup_groups(spark, ok).collect()
    assert {r.group_id for r in rows} == {0}
    assert all(r.group_size == d_ok + 1 for r in rows)
    assert dmod.last_cc_rounds() == _pointer_jump_rounds(d_ok)
    too_deep = _chain_corpus_dir(tmp_path_factory, d_ok + 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        dmod.dedup_groups(spark, too_deep).collect()


def test_cc_random_id_path_rounds(spark):
    """The class-min step's reason to exist (r14): a path whose node
    ids are RANDOMLY PERMUTED along it. Propagate + pointer jumping
    alone degenerates to ~one hop per round there (the sequential
    model needs 408 rounds on a 1000-edge random-id path — far past
    CC_MAX_ITERS, i.e. a loud convergence failure on a corpus whose
    near-dup chains don't happen to have monotone ids); with class-min
    the same graph converges in ~log(diameter) rounds. Pins both the
    labels (component min everywhere) and a hard round budget."""
    import math
    import random

    from mit_6_5840_mapreduce_spark.operators import dedup as dmod
    d = 200
    perm = list(range(d + 1))
    random.Random(1234).shuffle(perm)
    pairs = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(d)],
        "a BIGINT, b BIGINT")
    rows = dmod.cc_labels(spark, pairs, "a", "b").collect()
    assert {r.label for r in rows} == {0}          # one component, min id 0
    assert len(rows) == d + 1
    assert dmod.last_cc_rounds() <= math.ceil(math.log2(d)) + 2


# ---- band-bucket population caps (round 10, VERDICT r9 item 1) ----------
# A bucket of b members emits b*(b-1)/2 candidate pairs, so one
# boilerplate cluster turns every band join quadratic. Plant exactly
# that cluster and assert the cap removes the blowup while a small
# legitimate near-dup pair (population-2 buckets) survives.

N_CLONES = 30


@pytest.fixture(scope="module")
def clone_corpus_dir(tmp_path_factory):
    """30 IDENTICAL documents (one boilerplate cluster: every band
    bucket they occupy has population 30) plus one identical PAIR of an
    unrelated text (population-2 buckets)."""
    boiler = " ".join(_tok(9000 + j) for j in range(12))
    other = " ".join(_tok(9500 + j) for j in range(12))
    texts = [boiler] * N_CLONES + [other, other]
    d = tmp_path_factory.mktemp("clone_sf")
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_minhash_uncapped_clone_cluster_is_quadratic(spark,
                                                     clone_corpus_dir):
    from mit_6_5840_mapreduce_spark.operators.dedup import dedup_minhash_lsh
    n = dedup_minhash_lsh(spark, clone_corpus_dir).count()
    assert n == N_CLONES * (N_CLONES - 1) // 2 + 1


def test_minhash_bucket_cap_keeps_small_cluster_only(spark,
                                                     clone_corpus_dir):
    from mit_6_5840_mapreduce_spark.operators.dedup import dedup_minhash_lsh
    rows = dedup_minhash_lsh(spark, clone_corpus_dir,
                             bucket_cap=10).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(N_CLONES, N_CLONES + 1)}
    assert rows[0].est_jaccard == 1.0


def test_simhash_uncapped_clone_cluster_is_quadratic(spark,
                                                     clone_corpus_dir):
    from mit_6_5840_mapreduce_spark.operators.dedup import dedup_simhash
    n = dedup_simhash(spark, clone_corpus_dir).count()
    assert n == N_CLONES * (N_CLONES - 1) // 2 + 1


def test_simhash_bucket_cap_keeps_small_cluster_only(spark,
                                                     clone_corpus_dir):
    from mit_6_5840_mapreduce_spark.operators.dedup import dedup_simhash
    rows = dedup_simhash(spark, clone_corpus_dir, bucket_cap=10).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(N_CLONES, N_CLONES + 1)}
    assert rows[0].hamming == 0


@pytest.fixture(scope="module")
def clone_embeddings_dir(tmp_path_factory):
    """30 copies of one unit vector u (every (band, band_val) bucket
    they occupy has population 30) plus two copies of -u — all 64 plane
    projections flip sign, so the pair's buckets are disjoint from the
    cluster's in every band (population 2)."""
    import math
    import random
    rng = random.Random(11)
    u = [rng.gauss(0, 1) for _ in range(64)]
    n = math.sqrt(sum(x * x for x in u))
    u = [x / n for x in u]
    neg = [-x for x in u]
    vecs = [u] * N_CLONES + [neg, neg]
    d = tmp_path_factory.mktemp("clone_emb_sf")
    table = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array([[float(x) for x in v] for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    })
    pq.write_table(table, os.path.join(str(d), "embeddings.parquet"))
    return str(d)


def test_embedding_lsh_uncapped_clone_cluster_is_quadratic(
        spark, clone_embeddings_dir):
    from mit_6_5840_mapreduce_spark.operators.similarity import (
        embedding_neardup_lsh,
    )
    n = embedding_neardup_lsh(spark, clone_embeddings_dir).count()
    assert n == N_CLONES * (N_CLONES - 1) // 2 + 1


def test_embedding_lsh_bucket_cap_keeps_small_cluster_only(
        spark, clone_embeddings_dir):
    from mit_6_5840_mapreduce_spark.operators.similarity import (
        embedding_neardup_lsh,
    )
    rows = embedding_neardup_lsh(spark, clone_embeddings_dir,
                                 bucket_cap=10).collect()
    assert {(r.vec_a, r.vec_b) for r in rows} == {(N_CLONES, N_CLONES + 1)}


def test_semantic_dedup_cap_composes(spark, clone_embeddings_dir):
    """The composed capped pipeline: with the clone cluster's buckets
    dropped, the 30 clones become singletons (their own medoids) and
    the surviving pair forms one 2-member group."""
    from mit_6_5840_mapreduce_spark.operators.similarity import (
        semantic_dedup,
    )
    rows = semantic_dedup(spark, clone_embeddings_dir,
                          bucket_cap=10).collect()
    by_id = {r.vec_id: r for r in rows}
    assert len(rows) == N_CLONES + 2
    for i in range(N_CLONES):
        assert by_id[i].group_size == 1 and by_id[i].is_medoid == 1
    assert by_id[N_CLONES].group_id == N_CLONES
    assert by_id[N_CLONES + 1].group_id == N_CLONES
    assert (by_id[N_CLONES].group_size, by_id[N_CLONES + 1].group_size) \
        == (2, 2)


def test_dedup_groups_capped_gate_entry_splits_hot_component(
        spark, stop_shingle_dir):
    """The GATE entries compose the cap end to end: on the stop-shingle
    corpus (df = 60 > CAP_MAX_DF = 50) the uncapped pipeline fuses all
    docs into one component; the capped gate entry yields singletons."""
    from mit_6_5840_mapreduce_spark.operators.dedup import (
        dedup_groups, dedup_groups_capped, dedup_keep_best_capped,
    )
    uncapped = dedup_groups(spark, stop_shingle_dir).collect()
    assert all(r.group_size == N_DOCS for r in uncapped)
    capped = dedup_groups_capped(spark, stop_shingle_dir).collect()
    assert all(r.group_size == 1 and r.group_id == r.doc_id
               for r in capped)
    survivors = dedup_keep_best_capped(spark, stop_shingle_dir) \
        .where("is_survivor = 1").count()
    assert survivors == N_DOCS


def test_capped_outputs_are_subsets_with_equal_values(spark, sf_dir):
    """Contract tying the capped variants to their textbook twins on
    the REAL corpus: dropping buckets can only REMOVE candidate pairs,
    never change a surviving pair's score (the estimate/verification
    reads full signatures/vectors, not the buckets)."""
    from mit_6_5840_mapreduce_spark.operators.dedup import (
        dedup_minhash_lsh, dedup_minhash_lsh_capped,
        dedup_simhash, dedup_simhash_capped,
    )
    from mit_6_5840_mapreduce_spark.operators.similarity import (
        embedding_neardup_lsh, embedding_neardup_lsh_capped,
    )
    for full_fn, capped_fn in (
            (dedup_minhash_lsh, dedup_minhash_lsh_capped),
            (dedup_simhash, dedup_simhash_capped),
            (embedding_neardup_lsh, embedding_neardup_lsh_capped)):
        full = {tuple(r[:2]): tuple(r[2:])
                for r in full_fn(spark, sf_dir).collect()}
        capped = {tuple(r[:2]): tuple(r[2:])
                  for r in capped_fn(spark, sf_dir).collect()}
        assert set(capped) <= set(full), full_fn.__name__
        for pair, vals in capped.items():
            assert vals == full[pair], (full_fn.__name__, pair)


def test_groups_capped_is_coarsening_respecting_cap(spark, sf_dir):
    """Capped grouping on the real corpus: every capped group is a
    subset of an uncapped group (removing edges can only SPLIT
    components, never merge them)."""
    from mit_6_5840_mapreduce_spark.operators.dedup import (
        dedup_groups, dedup_groups_capped,
    )
    full = {r.doc_id: r.group_id
            for r in dedup_groups(spark, sf_dir).collect()}
    capped = {r.doc_id: r.group_id
              for r in dedup_groups_capped(spark, sf_dir).collect()}
    assert set(full) == set(capped)
    # two docs in the same capped group must share an uncapped group
    from collections import defaultdict
    by_capped = defaultdict(set)
    for d, g in capped.items():
        by_capped[g].add(full[d])
    for g, uncapped_groups in by_capped.items():
        assert len(uncapped_groups) == 1, g


# ---- fuzzy verification (round 10, edit-distance stage) ------------------


@pytest.fixture(scope="module")
def fuzzy_corpus_dir(tmp_path_factory):
    """Three near-dup cases for the edit-distance verify: an exact
    clone pair (distance 0), a one-typo pair (distance 1), and a
    non-ASCII pair exercising the ASCII fold — 'héllo' vs 'hello' is
    where byte-wise and char-wise Levenshtein disagree (2 vs 1)."""
    base = " ".join(_tok(7000 + j) for j in range(30))
    typo = base[:-1] + "q"                     # one substitution
    uni_a = "héllo " + " ".join(_tok(7100 + j) for j in range(29))
    uni_b = "hello " + " ".join(_tok(7100 + j) for j in range(29))
    texts = [base, base, typo, uni_a, uni_b]
    d = tmp_path_factory.mktemp("fuzzy_sf")
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["synthetic"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_fuzzy_verify_distances_and_fold(spark, fuzzy_corpus_dir):
    from mit_6_5840_mapreduce_spark.operators.dedup import dedup_fuzzy_verify
    rows = {(r.doc_a, r.doc_b): (r.edit_dist, r.edit_sim)
            for r in dedup_fuzzy_verify(spark, fuzzy_corpus_dir).collect()}
    # the clone pair and the typo pair are banded candidates by
    # construction (near-identical shingle sets; all hashing is md5 +
    # fixed permutations, so candidacy is deterministic)
    assert rows[(0, 1)][0] == 0 and rows[(0, 1)][1] == 1.0
    assert rows[(0, 2)][0] == 1 or rows[(1, 2)][0] == 1
    # the non-ASCII pair: é folds to '?' so the engine-side distance is
    # exactly 1 (one substitution), char-wise AND byte-wise
    assert rows[(3, 4)][0] == 1


def test_fuzzy_verify_oracle_agrees_on_non_ascii(spark, fuzzy_corpus_dir):
    """The cross-engine hazard the ASCII fold exists for: DuckDB's
    levenshtein counts BYTES ('héllo'->'hello' = 2), Spark counts
    CHARACTERS (= 1). The gate corpus is pure ASCII and cannot catch a
    fold regression, so this test runs the REAL oracle SQL on a
    planted non-ASCII corpus and diffs values against the engine."""
    import duckdb

    import __spark_entry__ as entrymod
    got = {(r.doc_a, r.doc_b): (r.edit_dist, float(r.edit_sim))
           for r in entrymod.queries()["dedup_fuzzy_verify"](
               spark, fuzzy_corpus_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(fuzzy_corpus_dir, 'documents.parquet')}'")
    want = {(a, b): (d, float(s)) for a, b, d, s in con.execute(
        entrymod.oracle_sql()["dedup_fuzzy_verify"]).fetchall()}
    assert got == want
    assert (3, 4) in got            # the non-ASCII pair reached verify
