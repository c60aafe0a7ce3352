"""Executor-resident searchers: each Python worker keeps one LocalSearcher
between tasks (serve.pinned_searcher), pinned to the index dir and
manifest the driver's IndexSearcher ships with every task."""

from __future__ import annotations

import shutil

import numpy as np

from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

QUERIES = [
    (["the", "term0042"], "OR"),
    (["the", "of"], "AND"),
    (["term0007"], "OR"),
]


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_generations_interleaved_keep_their_answers(spark, small_index, tmp_path):
    """Two IndexSearchers pinned to generations N and N+1 of one index
    dir, queried in turn in one session: every answer equals its own
    generation's LocalSearcher, bit-identically, although the workers
    swap snapshots between the calls."""
    from hail_elasticsearch_pipelines_spark.plans.maintenance import extend_index

    src, _ = small_index
    out = str(tmp_path / "idx")
    shutil.copytree(src, out)
    old_d, old_l = IndexSearcher(spark, out), LocalSearcher(out)
    extend_index(
        spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(1000, 1150)))
    )
    new_d, new_l = IndexSearcher(spark, out), LocalSearcher(out)
    assert new_d.manifest != old_d.manifest and new_d.n_docs > old_d.n_docs

    changed = 0
    for _round in range(2):
        for terms, mode in QUERIES:
            old = _pairs(old_d.search(terms, mode, 10))
            new = _pairs(new_d.search(terms, mode, 10))
            assert old == old_l.search(terms, mode, 10), (terms, mode)
            assert new == new_l.search(terms, mode, 10), (terms, mode)
            changed += old != new
    assert changed  # the generations really answer differently


def test_worker_searcher_survives_between_tasks(spark, small_index):
    """Repeated one-task jobs report (worker pid, id of its searcher):
    a worker seen twice reports the same searcher both times, so the
    cache outlives the task that built it."""
    index_dir, _ = small_index
    s = IndexSearcher(spark, index_dir)
    manifest = s.manifest
    sc = spark.sparkContext

    def probe(it):
        import os

        from hail_elasticsearch_pipelines_spark.operators import serve

        for _i in it:  # a worker that leaves input unread is not reused
            yield os.getpid(), id(serve.pinned_searcher(index_dir, manifest))

    seen: dict[int, list] = {}
    for _ in range(12):
        ((pid, sid),) = sc.parallelize(range(1), 1).mapPartitions(probe).collect()
        seen.setdefault(pid, []).append(sid)
    repeated = {pid: ids for pid, ids in seen.items() if len(ids) > 1}
    assert repeated, seen  # workers are reused
    assert all(len(set(ids)) == 1 for ids in repeated.values()), repeated


def test_worker_keeps_one_searcher(spark, small_index, tmp_path):
    """Scatters over two index dirs, in turn, then a task per worker
    pins both dirs: every worker ends with exactly one live
    LocalSearcher, the last dir's, so a worker's memory stays within
    one searcher's caps however many index dirs its tasks serve."""
    a, _ = small_index
    b = str(tmp_path / "b")
    shutil.copytree(a, b)
    sa, sb = IndexSearcher(spark, a), IndexSearcher(spark, b)
    for _round in range(3):
        assert _pairs(sa.search(["the", "of"], "OR", 10)) == _pairs(
            sb.search(["the", "of"], "OR", 10)
        )
    pins = [(s.index_dir, s.manifest) for s in (sa, sb)]
    sc = spark.sparkContext

    def probe(it):
        import gc
        import os

        from hail_elasticsearch_pipelines_spark.operators import serve

        for _i in it:
            for pin in pins:
                serve.pinned_searcher(*pin)
            gc.collect()
            live = sum(isinstance(o, serve.LocalSearcher) for o in gc.get_objects())
            yield os.getpid(), live, serve._PINNED[0][0]

    n = 2 * sc.defaultParallelism
    out = sc.parallelize(range(n), n).mapPartitions(probe).collect()
    assert all(live == 1 and last == b for _pid, live, last in out), out
