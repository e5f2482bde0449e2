"""The declared-associative MR fast path (round 8, VERDICT r7 item 8):
``mr_run(combinef=...)`` switches the shuffle to reduceByKey with
map-side combining — bounded per-key executor state — and must return
the IDENTICAL canonical output (sorted union, the test-mr.sh form) as
the semantic-parity groupByKey path for every shipped app.
"""

from __future__ import annotations

import pytest

from mit_6_5840_mapreduce_spark.mr.api import collect_output, mr_run
from mit_6_5840_mapreduce_spark.mr.apps import APPS, APPS_ASSOCIATIVE


@pytest.mark.parametrize("app", sorted(APPS_ASSOCIATIVE))
def test_associative_path_matches_groupbykey_path(spark, documents, app):
    mapf, reducef = APPS[app]
    combinef, finalizef = APPS_ASSOCIATIVE[app]
    base = collect_output(mr_run(spark, mapf, reducef, documents))
    fast = collect_output(mr_run(spark, mapf, None, documents,
                                 combinef=combinef, finalizef=finalizef))
    assert fast == base
    assert base, "empty corpus output — vacuous parity"


def test_single_occurrence_keys_skip_combine(spark):
    """reduceByKey never calls the merge fn for singleton keys — the
    declared pair must therefore be correct WITHOUT a combine call
    (the finalizer alone produces the output line)."""
    mapf, reducef = APPS["indexer"]
    combinef, finalizef = APPS_ASSOCIATIVE["indexer"]
    docs = [("doc-a", "onlyword"), ("doc-b", "shared"),
            ("doc-c", "shared")]
    base = collect_output(mr_run(spark, mapf, reducef, docs, n_reduce=2))
    fast = collect_output(mr_run(spark, mapf, None, docs, n_reduce=2,
                                 combinef=combinef, finalizef=finalizef))
    assert fast == base == ["onlyword 1 doc-a", "shared 2 doc-b,doc-c"]


def test_mr_run_requires_some_reducer(spark):
    with pytest.raises(ValueError, match="reducef or combinef"):
        mr_run(spark, APPS["wc"][0], None, [("d", "x")])


@pytest.mark.parametrize("path", ["groupbykey", "associative"])
def test_one_shuffle_per_job(spark, documents, path):
    """The reduce output keeps the ihash partitioner the shuffle set, so
    the output-order step sorts within partitions and never shuffles a
    second time: exactly one ShuffledRDD in the lineage on both paths."""
    mapf, reducef = APPS["wc"]
    combinef, finalizef = APPS_ASSOCIATIVE["wc"]
    out = (mr_run(spark, mapf, reducef, documents, n_reduce=4)
           if path == "groupbykey" else
           mr_run(spark, mapf, None, documents, n_reduce=4,
                  combinef=combinef, finalizef=finalizef))
    assert out.toDebugString().decode().count("ShuffledRDD") == 1
