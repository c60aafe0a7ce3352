"""Cross-segment pruning (r3 verdict item 6): per-segment score bounds
let rare-term queries skip whole segments before reading their posting
blobs, bit-identically to exhaustive scoring — in LocalSearcher, and in
each task of IndexSearcher's scatter (which runs the same loop over its
share of the segments).

Lucene/ES analog: per-segment max scores drive ES's top-level WAND —
the reference gets this from ES for free
(hail_scripts/shared/elasticsearch_client_v7.py:84-99)."""

from __future__ import annotations

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

QUERIES = [
    (["the", "term0042"], "OR"),
    (["term0042", "term0117"], "OR"),
    (["the", "of"], "OR"),
    (["the", "of"], "AND"),
    (["the", "term0042"], "AND"),
]


@pytest.fixture(scope="module")
def many_segments(spark, tmp_path_factory):
    """Small parts + seg_group=1 → ~38 segments, so cross-segment
    pruning has room to act."""
    out = str(tmp_path_factory.mktemp("segs") / "idx")
    build_index(
        spark,
        spark.createDataFrame(gen_pages_pdf(np.arange(600))),
        out,
        docs_per_part=16,
        seg_group=1,
        n_term_buckets=8,
    )
    return out


def test_local_cross_segment_prune_bit_identical(many_segments):
    ls = LocalSearcher(many_segments)
    for terms, mode in QUERIES:
        expected = ls.search(terms, mode, 10, algo="exhaustive")
        got = ls.search(terms, mode, 10, algo="auto")
        assert got == expected, (terms, mode)


def test_local_cross_segment_prune_skips_segments(many_segments):
    """Rare-OR-stopword: the rare term's segments set a high floor; the
    stopword-only segments' bounds fall below it and are skipped
    without reading their blobs."""
    expected = LocalSearcher(many_segments).search(
        ["the", "term0042"], "OR", 10, algo="exhaustive"
    )
    ls = LocalSearcher(many_segments)  # fresh: empty caches
    got = ls.search(["the", "term0042"], "OR", 10, algo="auto")
    assert got == expected
    assert ls.last_segments_skipped > 0
    # decode evidence: the skipped segments' rows were never read, so
    # fewer segments appear in the decoded-postings/block caches than
    # exist in the index
    touched = {seg for (_t, seg) in ls._cache} | {
        seg for (_t, seg) in getattr(ls, "_pos_cache", {})
    }
    n_total_segments = ls.manifest["metrics"]["n_segments"]
    assert len(touched) <= n_total_segments - ls.last_segments_skipped


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_distributed_segment_prune_bit_identical(spark, many_segments):
    """Every scatter task prunes its segments by bound: distributed auto
    == distributed exhaustive == local exhaustive."""
    s = IndexSearcher(spark, many_segments)
    ls = LocalSearcher(many_segments)
    for terms, mode in QUERIES:
        expected = _pairs(s.search(terms, mode, 10, algo="exhaustive"))
        assert expected == ls.search(terms, mode, 10, algo="exhaustive")
        assert _pairs(s.search(terms, mode, 10, algo="auto")) == expected, (terms, mode)


def test_distributed_segment_prune_skips_segments(spark, many_segments):
    """Rare-OR-stopword on the ~38-segment index: the tasks skip
    stopword-only segments (summed through the searcher's accumulator)
    and the answer stays exhaustive-identical; an exhaustive query
    skips nothing."""
    s = IndexSearcher(spark, many_segments)
    expected = _pairs(s.search(["the", "term0042"], "OR", 10, algo="exhaustive"))
    assert s.last_segments_skipped == 0
    got = _pairs(s.search(["the", "term0042"], "OR", 10))
    assert got == expected
    assert s.last_segments_skipped > 0


def test_task_atom_sets_cover_its_segments(many_segments):
    """A scatter task's share of a bool query's atoms, part=(i, n):
    its range and phrase atom docs come only from segments with
    seg % n == i, and the n shares together are the whole index's."""
    from hail_elasticsearch_pipelines_spark.operators.bm25 import plan_bool

    ls = LocalSearcher(many_segments)
    n = 4
    ast = plan_bool(ls, 'the AND doc_len:[1 TO 300] AND "of the"', 10).ast
    whole = ls._atom_sets(ast)
    shares = [ls._atom_sets(ast, (i, n)) for i in range(n)]
    assert len(whole) == 2
    for rk, (ids, _segs) in whole.items():
        assert len(ids)
        assert all((sh[rk][1] % n == i).all() for i, sh in enumerate(shares))
        got = np.sort(np.concatenate([sh[rk][0] for sh in shares]))
        assert np.array_equal(got, np.sort(ids))


def test_scatter_width_from_manifest_segment_count(spark, many_segments, tmp_path):
    """The scatter runs min(default parallelism, manifest segment count)
    tasks: the 38-segment index gets one task per core, a one-segment
    index one task."""
    sc = spark.sparkContext

    def n_tasks(index_dir):
        s = IndexSearcher(spark, index_dir)
        df = s.search(["the", "term0042"], "OR", 10)
        group = f"scatter_width_{index_dir}"
        sc.setJobGroup(group, "scatter width probe")
        try:
            df.collect()
        finally:
            sc.setJobGroup(None, None)
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        (stage,) = sc.statusTracker().getJobInfo(job).stageIds
        n_segs = s.manifest["metrics"]["n_segments"]
        return sc.statusTracker().getStageInfo(stage).numTasks, n_segs

    tasks, n_segs = n_tasks(many_segments)
    assert n_segs > sc.defaultParallelism and tasks == sc.defaultParallelism
    one = str(tmp_path / "one_segment")
    build_index(
        spark, spark.createDataFrame(gen_pages_pdf(np.arange(40))), one,
        docs_per_part=64, seg_group=1, n_term_buckets=8,
    )
    assert n_tasks(one) == (1, 1)


def test_local_bool_required_conjunct_segment_prune(spark, many_segments):
    """Boolean queries with required conjuncts get the same
    cross-segment treatment: segments missing a required term are
    dropped from metadata, the rest process bound-desc with a floor —
    bit-identical to the distributed bool path."""
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    s = IndexSearcher(spark, many_segments)
    ls = LocalSearcher(many_segments)
    for q in ["term0042 AND the", "the AND (term0042 OR term0117)"]:
        expected = [
            (r["doc_id"], r["score"]) for r in s.search_bool(q, k=10).collect()
        ]
        assert ls.search_bool(q, k=10) == expected, q
    ls2 = LocalSearcher(many_segments)
    ls2.search_bool("term0042 AND the", k=5)
    assert ls2.last_segments_skipped >= 0  # counter exists on bool path


def test_prune_handles_fewer_than_k_results(many_segments, spark):
    """k larger than the total match count: floor never forms; nothing
    may be skipped and results stay exhaustive-identical."""
    ls = LocalSearcher(many_segments)
    terms = ["term0042"]
    expected = ls.search(terms, "OR", 5000, algo="exhaustive")
    assert ls.search(terms, "OR", 5000, algo="auto") == expected
    s = IndexSearcher(spark, many_segments)
    assert _pairs(s.search(terms, "OR", 5000, algo="auto")) == expected
    assert s.last_segments_skipped == 0
