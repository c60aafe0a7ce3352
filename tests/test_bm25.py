"""Rank-identical (and score-bit-identical) BM25 top-k vs the oracle —
the north-rule correctness gate."""

from __future__ import annotations

import pytest

from hail_elasticsearch_pipelines_spark.operators.bm25 import (
    IndexSearcher,
    bm25_exhaustive_df,
)
from hail_elasticsearch_pipelines_spark.functions.tokenize import tokenize_col
from hail_elasticsearch_pipelines_spark.sources.corpus import reference_queries


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    index_dir, _ = small_index
    return IndexSearcher(spark, index_dir)


def _assert_identical(got_rows, expected):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert [d for d, _ in got] == [d for d, _ in expected], "rank mismatch"
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == es, f"score not bit-identical for doc {gd}: {gs} != {es}"


@pytest.mark.parametrize("q", reference_queries(), ids=lambda q: q["query_id"])
def test_reference_query_set_exhaustive(searcher, small_oracle, q):
    oracle, _ = small_oracle
    expected = oracle.topk(q["terms"], q["mode"], q["k"])
    got = searcher.search(q["terms"], q["mode"], q["k"], algo="exhaustive").collect()
    _assert_identical(got, expected)


@pytest.mark.parametrize("q", [q for q in reference_queries() if q["mode"] == "OR"], ids=lambda q: q["query_id"])
def test_reference_query_set_blockmax(searcher, small_oracle, q):
    oracle, _ = small_oracle
    expected = oracle.topk(q["terms"], q["mode"], q["k"])
    got = searcher.search(q["terms"], q["mode"], q["k"], algo="bmw").collect()
    _assert_identical(got, expected)


def test_and_absent_term_empty(searcher):
    assert searcher.search(["zzznotaterm", "the"], "AND", 10).count() == 0


def test_duplicate_query_terms_collapse(searcher, small_oracle):
    oracle, _ = small_oracle
    a = searcher.search(["the", "the", "of"], "OR", 5).collect()
    b = searcher.search(["the", "of"], "OR", 5).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]


def test_k_edge_cases(searcher, small_oracle):
    oracle, _ = small_oracle
    got1 = searcher.search(["the"], "OR", 1).collect()
    _assert_identical(got1, oracle.topk(["the"], "OR", 1))
    big = searcher.search(["term4999"], "OR", 10_000).collect()
    _assert_identical(big, oracle.topk(["term4999"], "OR", 10_000))


def test_exhaustive_df_matches_oracle_ranks(spark, small_index, small_oracle):
    """Catalyst-only BM25 path: ranks match; scores match to 1e-9 (sum
    order inside groupBy is engine-side, so bit-identity isn't
    contractual here)."""
    oracle, pdf = small_oracle
    index_dir, _ = small_index
    docs = spark.read.parquet(f"{index_dir}/stages/docs").select(
        "doc_id", tokenize_col("text").alias("tokens")
    )
    for q in reference_queries()[:4]:
        expected = oracle.topk(q["terms"], q["mode"], q["k"])
        got = bm25_exhaustive_df(docs, q["terms"], q["mode"], q["k"]).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in expected], q["query_id"]
        for r, (d, s) in zip(got, expected):
            assert r["score"] == pytest.approx(s, abs=1e-9)


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_exhaustive_df_64_terms(spark, small_index, small_oracle, mode):
    """64 query terms through the Catalyst-only path: the score
    expression must stay linear in the term count (a form that repeats
    the running sum per term doubles with every term, fails codegen at
    8 terms and exhausts the driver by 16).  The terms are the 64
    highest-df tokens of the longest doc, so AND has matches too."""
    oracle, _ = small_oracle
    index_dir, _ = small_index
    docs = spark.read.parquet(f"{index_dir}/stages/docs").select(
        "doc_id", tokenize_col("text").alias("tokens")
    )
    longest = max(oracle.doc_tokens, key=lambda d: len(set(oracle.doc_tokens[d])))
    terms = sorted(
        set(oracle.doc_tokens[longest]), key=lambda t: (-oracle.df(t), t)
    )[:64]
    assert len(terms) == 64
    expected = oracle.topk(terms, mode, 10)
    assert expected
    got = bm25_exhaustive_df(docs, terms, mode, 10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (_d, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, abs=1e-9)


def test_blockmax_intersection_skips_and_matches_exhaustive():
    """`rare AND stopword`: the pruned path must (a) produce the exact
    candidate set and bit-identical scores of the exhaustive
    intersection, and (b) decode only the stopword blocks the rare
    term's candidates touch — not the full list."""
    import numpy as np

    from hail_elasticsearch_pipelines_spark.functions import codecs
    from hail_elasticsearch_pipelines_spark.operators.bm25 import (
        _BlockCache,
        _score_intersection,
        _score_intersection_blockmax,
        bm25_idf,
    )

    rng = np.random.default_rng(11)
    n_stop = 50_000
    stop_d = np.sort(rng.choice(200_000, n_stop, replace=False)).astype(np.int64)
    stop_tf = rng.integers(1, 9, n_stop).astype(np.int64)
    stop_dl = rng.integers(30, 400, n_stop).astype(np.int64)
    rare_d = np.sort(rng.choice(stop_d, 40, replace=False)).astype(np.int64)
    ridx = np.searchsorted(stop_d, rare_d)
    rare_tf = rng.integers(1, 4, 40).astype(np.int64)
    rare_dl = stop_dl[ridx]

    class Row:
        def __init__(self, term, d, tf, dl):
            blob, bl, bm, bo = codecs.encode_postings(d, tf, dls=dl)
            self.term, self.df, self.blob = term, len(d), blob
            self.block_last, self.block_off = bl, bo

    rows = [Row("aardvark", rare_d, rare_tf, rare_dl), Row("the", stop_d, stop_tf, stop_dl)]
    cache = _BlockCache(rows)
    idf = {"aardvark": bm25_idf(200_000, 40), "the": bm25_idf(200_000, n_stop)}
    terms = sorted(["aardvark", "the"])
    avgdl = 150.0
    docs_p, scores_p = _score_intersection_blockmax(cache, terms, idf, avgdl)
    post = {
        "aardvark": (rare_d, rare_tf, rare_dl),
        "the": (stop_d, stop_tf, stop_dl),
    }
    docs_e, scores_e = _score_intersection(post, terms, idf, avgdl)
    np.testing.assert_array_equal(docs_p, docs_e)
    np.testing.assert_array_equal(scores_p, scores_e)  # BIT-identical
    n_stop_blocks = len(cache.block_last["the"])
    decoded_stop_blocks = sum(1 for (t, _) in cache._blocks if t == "the")
    assert "the" not in cache._full  # never fully decoded
    assert decoded_stop_blocks <= 40  # ≤ one block per rare candidate
    assert decoded_stop_blocks < 0.2 * n_stop_blocks

    # tombstoned candidates are excluded exactly as the exhaustive path
    dead = rare_d[:5]
    docs_pd, scores_pd = _score_intersection_blockmax(
        _BlockCache(rows), terms, idf, avgdl, dead=dead
    )
    from hail_elasticsearch_pipelines_spark.operators.bm25 import _mask_deleted

    docs_ed, scores_ed = _score_intersection(
        _mask_deleted(post, np.asarray(sorted(dead))), terms, idf, avgdl
    )
    np.testing.assert_array_equal(docs_pd, docs_ed)
    np.testing.assert_array_equal(scores_pd, scores_ed)


def test_maxscore_union_skips_and_matches_exhaustive():
    """`rare OR stopword`: MaxScore must (a) be bit-identical to the
    exhaustive union (exact ties included), and (b) decode only the
    stopword blocks the rare candidates touch — the case where a
    1-block rare term defeats window-WAND's per-window bounds."""
    import numpy as np

    from hail_elasticsearch_pipelines_spark.functions import codecs
    from hail_elasticsearch_pipelines_spark.operators.bm25 import (
        _BlockCache,
        _score_union_exhaustive,
        _score_union_maxscore,
        _topk,
        bm25_idf,
    )

    rng = np.random.default_rng(5)
    n_stop = 60_000
    stop_d = np.sort(rng.choice(250_000, n_stop, replace=False)).astype(np.int64)
    stop_tf = rng.integers(1, 9, n_stop).astype(np.int64)
    stop_dl = rng.integers(30, 400, n_stop).astype(np.int64)
    rare_d = np.sort(rng.choice(250_000, 50, replace=False)).astype(np.int64)
    rare_tf = rng.integers(1, 4, 50).astype(np.int64)
    rare_dl = rng.integers(30, 400, 50).astype(np.int64)

    class Row:
        def __init__(self, term, d, tf, dl):
            blob, bl, bm, bo = codecs.encode_postings(d, tf, dls=dl)
            self.term, self.df, self.blob = term, len(d), blob
            self.block_last, self.block_off = bl, bo
            self.block_max_tf = bm
            starts = np.arange(0, len(d), codecs.BLOCK_SIZE)
            self.block_min_dl = np.minimum.reduceat(dl, starts)

    rows = [Row("aardvark", rare_d, rare_tf, rare_dl), Row("the", stop_d, stop_tf, stop_dl)]
    idf = {"aardvark": bm25_idf(250_000, 50), "the": bm25_idf(250_000, n_stop)}
    terms, avgdl, k = sorted(idf), 150.0, 10
    cache = _BlockCache(rows)
    docs_m, scores_m = _score_union_maxscore(cache, terms, idf, avgdl, k)
    full = {
        "aardvark": (rare_d, rare_tf, rare_dl),
        "the": (stop_d, stop_tf, stop_dl),
    }
    docs_e, scores_e = _topk(*_score_union_exhaustive(full, terms, idf, avgdl), k)
    np.testing.assert_array_equal(docs_m, docs_e)
    np.testing.assert_array_equal(scores_m, scores_e)  # BIT-identical
    assert "the" not in cache._full  # stopword never fully decoded
    n_stop_blocks = len(cache.block_last["the"])
    decoded = sum(1 for (t, _) in cache._blocks if t == "the")
    assert decoded <= 50 and decoded < 0.2 * n_stop_blocks


def test_many_term_or_scores_exhaustively(spark, small_index, small_oracle, monkeypatch):
    """An ``auto`` OR over more than MAXSCORE_MAX_TERMS terms (a 60+
    term prefix expansion) runs the exhaustive union, bit-identical to
    ``algo="exhaustive"`` and the oracle on both searchers; a 3-term OR
    (the benchmark's shape) still runs MaxScore."""
    from hail_elasticsearch_pipelines_spark.operators import bm25
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    index_dir, _ = small_index
    dist, local = IndexSearcher(spark, index_dir), LocalSearcher(index_dir)
    terms = dist.expand_prefix("term0", max_expansions=1000)
    assert len(terms) >= 60 > bm25.MAXSCORE_MAX_TERMS
    oracle, _ = small_oracle
    expected = oracle.topk(terms, "OR", 10)
    _assert_identical(dist.search(terms, "OR", 10).collect(), expected)
    _assert_identical(dist.search(terms, "OR", 10, algo="exhaustive").collect(), expected)
    assert local.search(terms, "OR", 10) == local.search(terms, "OR", 10, algo="exhaustive")
    _assert_identical(
        [{"doc_id": d, "score": s} for d, s in local.search(terms, "OR", 10)], expected
    )

    calls = []
    maxscore = bm25._score_union_maxscore
    monkeypatch.setattr(
        bm25, "_score_union_maxscore",
        lambda cache, ts, *a, **kw: calls.append(len(ts)) or maxscore(cache, ts, *a, **kw),
    )
    local = LocalSearcher(index_dir)
    local.search(terms, "OR", 10)
    assert not calls
    local.search(["of", "term0042", "the"], "OR", 10)
    assert calls and set(calls) == {3}
