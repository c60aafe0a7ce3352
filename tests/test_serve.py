"""LocalSearcher (pyarrow serving path, no Spark jobs) must be
bit-identical to the oracle and the distributed searcher."""

from __future__ import annotations

import pytest

from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.sources.corpus import reference_queries


@pytest.fixture(scope="module")
def local_searcher(small_index):
    index_dir, _ = small_index
    return LocalSearcher(index_dir)


@pytest.mark.parametrize("q", reference_queries(), ids=lambda q: q["query_id"])
def test_local_matches_oracle(local_searcher, small_oracle, q):
    oracle, _ = small_oracle
    expected = oracle.topk(q["terms"], q["mode"], q["k"])
    got = local_searcher.search(q["terms"], q["mode"], q["k"])
    assert [d for d, _ in got] == [d for d, _ in expected], q["query_id"]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == es, (q["query_id"], gd)


@pytest.mark.parametrize(
    "q", [q for q in reference_queries() if q["mode"] == "OR"], ids=lambda q: q["query_id"]
)
def test_local_bmw_matches_oracle(local_searcher, small_oracle, q):
    oracle, _ = small_oracle
    expected = oracle.topk(q["terms"], q["mode"], q["k"])
    got = local_searcher.search(q["terms"], q["mode"], q["k"], algo="bmw")
    assert [d for d, _ in got] == [d for d, _ in expected], q["query_id"]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == es, (q["query_id"], gd)


def test_local_global_dfs_matches_spark(local_searcher, spark, small_index):
    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher

    index_dir, _ = small_index
    s = IndexSearcher(spark, index_dir)
    terms = ["the", "term0042", "zzznotaterm"]
    assert local_searcher.global_dfs(terms) == s.global_dfs(terms)


def test_with_source_fetch(spark, small_index, small_oracle):
    """ES _source analog: hits join back to their url, order preserved."""
    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher

    index_dir, _ = small_index
    oracle, pdf = small_oracle
    s = IndexSearcher(spark, index_dir)
    hits = s.search(["term0042"], "OR", 5)
    rows = s.with_source(hits).collect()
    assert len(rows) == 5
    assert [r["doc_id"] for r in rows] == [d for d, _ in oracle.topk(["term0042"], "OR", 5)]
    urls = pdf.sort_values("url").reset_index(drop=True)["url"]
    for r in rows:
        assert r["url"] == urls[r["doc_id"]]


def test_local_and_blockmax_matches_exhaustive(small_index):
    """LocalSearcher AND with algo='auto' (block-skip intersection) is
    bit-identical to the cached-exhaustive default."""
    index_dir, _ = small_index
    ls = LocalSearcher(index_dir)
    for terms in (["the", "of"], ["the", "term0042"], ["term0042", "term0099"]):
        a = ls.search(terms, "AND", 25, algo="auto")
        b = ls.search(terms, "AND", 25, algo="exhaustive")
        assert a == b, terms


def test_duplicate_posting_rows_raise_on_every_path(spark, small_index, tmp_path):
    """Two postings rows for one (term, segment) mean a corrupt index (a
    misaligned extend): every local scoring path and the distributed
    searcher refuse it instead of scoring one of the copies."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
    from hail_elasticsearch_pipelines_spark.operators.index_build import term_bucket

    src, _ = small_index
    out = str(tmp_path / "idx")
    shutil.copytree(src, out)
    manifest = load_manifest(out)
    bucket_dir = os.path.join(
        table_path(out, "postings", manifest),
        f"term_bucket={term_bucket('the', manifest['params']['n_term_buckets'])}",
    )
    part = next(
        f
        for f in sorted(glob.glob(os.path.join(bucket_dir, "*.parquet")))
        if "the" in pq.read_table(f, columns=["term"]).column("term").to_pylist()
    )
    shutil.copy(part, os.path.join(bucket_dir, "dup-" + os.path.basename(part)))

    for algo in ("auto", "bmw", "exhaustive"):
        with pytest.raises(ValueError, match="corrupt index: multiple postings rows"):
            LocalSearcher(out).search(["the", "of"], "OR", 5, algo=algo)
    with pytest.raises(ValueError, match="corrupt index: multiple postings rows"):
        LocalSearcher(out).search_bool("the AND of", k=5)
    with pytest.raises(Exception, match="corrupt index: multiple postings rows"):
        IndexSearcher(spark, out).search(["the", "of"], "OR", 5).collect()
