"""One partial kernel and one reducer per API: IndexSearcher's answer is
the reducer over its worker tasks' partials (each task reads the
segments with seg % n == i), LocalSearcher's the same reducer over its
one partial of every segment — so both must agree bit for bit, on a
one-task index and on a many-segment index with deleted docs, where
several tasks split the segments."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.operators.bm25 import (
    IndexSearcher,
    pseudo_candidates,
    reduce_pseudo,
)
from hail_elasticsearch_pipelines_spark.operators.docvalues import doclens_df
from hail_elasticsearch_pipelines_spark.operators.index_build import bm25_idf, build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf


@pytest.fixture(scope="module")
def many_segments_deleted(spark, tmp_path_factory):
    """~38 segments (docs_per_part=16, seg_group=1) with the docs holding
    term0117 deleted."""
    from hail_elasticsearch_pipelines_spark.plans.maintenance import delete_by_query

    out = str(tmp_path_factory.mktemp("segs_del") / "idx")
    build_index(
        spark,
        spark.createDataFrame(gen_pages_pdf(np.arange(600))),
        out,
        docs_per_part=16,
        seg_group=1,
        n_term_buckets=8,
    )
    m = delete_by_query(spark, out, ["term0117"], mode="OR")
    assert m["extensions"][-1]["docs_tombstoned"] > 0
    return out


@pytest.fixture(scope="module", params=["small", "many_segments_deleted"])
def searchers(request, spark):
    if request.param == "small":
        out = request.getfixturevalue("small_index")[0]
    else:
        out = request.getfixturevalue("many_segments_deleted")
    s = IndexSearcher(spark, out)
    if request.param != "small":
        assert spark.sparkContext.defaultParallelism > 1
        assert s.manifest["metrics"]["n_segments"] > spark.sparkContext.defaultParallelism
    return s, LocalSearcher(out)


def _rows(df):
    return [tuple(r) for r in df.collect()]


COUNT_QUERIES = [
    (["the", "term0042"], "OR"),
    (["the", "of"], "AND"),
    ("the AND NOT of", "BOOL"),
    ("the AND doc_len:[1 TO 300]", "BOOL"),
    ('the AND "of the"', "BOOL"),
    ("doc_len:[100 TO 200]", "BOOL"),
]


@pytest.mark.parametrize("query, mode", COUNT_QUERIES)
def test_count_and_matched_ids(searchers, query, mode):
    s, L = searchers
    ids = L.matched_ids(query, mode)
    assert ids.size and list(ids) == sorted(ids)
    assert sorted(r[0] for r in _rows(s.matched_ids(query, mode))) == ids.tolist()
    assert _rows(s.search_count(query, mode)) == [(L.search_count(query, mode),)]
    assert L.search_count(query, mode) == ids.size


def test_match_all(searchers):
    s, L = searchers
    ids = L.matched_ids(None)
    assert ids.size == L.n_docs
    assert sorted(r[0] for r in _rows(s.matched_ids(None))) == ids.tolist()


def test_filters_and_adjacency(searchers):
    s, L = searchers
    filters = {
        "a": "the AND of",
        "b": "term0042 OR term0007",
        "c": "the AND doc_len:[1 TO 200]",
        "d": 'the AND "of the"',
        "none": "zzznope",
    }
    got = L.search_filters(filters)
    assert _rows(s.search_filters(filters)) == got
    assert dict(got)["none"] == 0 and dict(got)["c"] > 0
    adj = {"a": "the AND of", "b": "term0042 OR term0007", "n": "zzznope"}
    got = L.search_adjacency(adj)
    assert _rows(s.search_adjacency(adj)) == got
    assert ("n", 0) in got and "a&b" in dict(got)


@pytest.mark.parametrize(
    "query, mode", [(["the", "of"], "OR"), ("the AND NOT term0042", "BOOL")]
)
def test_term_aggregations(searchers, query, mode):
    s, L = searchers
    facets = L.search_facets(query, ["lang", "dlen"], mode)
    assert facets and _rows(s.search_facets(query, ["lang", "dlen"], mode)) == facets
    st = L.search_stats(query, mode)
    assert st["n_hits"] and _rows(s.search_stats(query, mode)) == [
        tuple(st[c] for c in ("n_hits", "min_dl", "max_dl", "sum_dl", "avg_dl"))
    ]
    hist = L.search_histogram(query, 32, mode)
    assert sum(c for _b, c in hist) == st["n_hits"]
    assert _rows(s.search_histogram(query, 32, mode)) == hist


def test_empty_aggregations(searchers):
    s, L = searchers
    assert L.search_stats(["zzznope"])["n_hits"] == 0
    assert _rows(s.search_stats(["zzznope"])) == [(0, None, None, 0, None)]
    assert L.search_histogram(["zzznope"], 10) == []
    assert _rows(s.search_facets(["zzznope"], ["lang"])) == []


PSEUDO_CALLS = [
    ("phrase", lambda s: s.search_phrase(["of", "the"], k=10)),
    ("phrase_rare", lambda s: s.search_phrase(["term0042", "the"], k=5)),
    ("phrase_slop", lambda s: s.search_phrase(["of", "the"], k=20, slop=2)),
    ("phrase_prefix", lambda s: s.search_phrase_prefix(["the", "term004"], k=10)),
    ("span_first", lambda s: s.search_span_first("the", 5, k=15)),
    ("rescore", lambda s: s.search_rescore(["the"], ["of", "the"], 10, 40)),
    (
        "rescore_weighted",
        lambda s: s.search_rescore(
            ["the", "term0042"], ["of", "the"], 5, 25, 0.5, 2.0, slop=1
        ),
    ),
]


@pytest.mark.parametrize("name", [n for n, _ in PSEUDO_CALLS])
def test_pseudo_term_queries(request, searchers, name):
    s, L = searchers
    if name == "rescore" and L.global_dfs(["the"])["the"] > L.n_docs:
        # deletes lower n_docs at once but df only at compaction, so
        # "the" (in every doc) has a negative idf here; block and
        # segment maxima then bound no score, and the pruned top window
        # of the base query ["the"] depends on how segments are split
        request.applymarker(
            pytest.mark.xfail(strict=True, reason="negative idf after deletes: pruning bounds fail")
        )
    call = dict(PSEUDO_CALLS)[name]
    want = call(L)
    assert want
    assert [(r["doc_id"], r["score"]) for r in call(s).collect()] == want


def test_search_many_with_phrase(searchers):
    s, L = searchers
    specs = [
        {"query_id": "t", "terms": ["the", "term0042"], "mode": "OR", "k": 5},
        {"query_id": "b", "mode": "BOOL", "query": "the AND doc_len:[1 TO 300]", "k": 5},
        {"query_id": "p", "mode": "PHRASE", "phrase": ["of", "the"], "k": 7},
        {"query_id": "q", "mode": "PHRASE", "phrase": ["zzznope", "the"], "k": 7},
    ]
    want = L.search_many(specs)
    got: dict = {qid: [] for qid in want}
    for r in sorted(s.search_many(specs).collect(), key=lambda r: (r["query_id"], r["rank"])):
        got[r["query_id"]].append((r["doc_id"], r["score"]))
    assert got == want and want["p"] and want["q"] == []


def test_reducer_keeps_ties_across_partials():
    """Two tasks' factors w one ulp apart round to one score after the
    global idf multiply: the lower doc id must win the k-th place, so a
    task keeps every match that may tie its own k-th, not just its k."""
    idf = bm25_idf(1000, 3)
    x = next(
        v
        for v in np.linspace(1.1, 2.1, 2001)
        if idf * v == idf * np.nextafter(v, 0.0) and idf * v != idf * np.nextafter(v, 3.0)
    )
    lo = np.nextafter(x, 0.0)
    a = pseudo_candidates(np.array([10]), np.array([x]), 1)
    b = pseudo_candidates(np.array([5, 7]), np.array([lo, x]), 1)
    assert b[1].tolist() == [7, 5]  # doc 5 rides along as a possible tie
    whole = pseudo_candidates(np.array([5, 7, 10]), np.array([lo, x, x]), 1)
    assert reduce_pseudo([a, b], 1, 1000) == reduce_pseudo([whole], 1, 1000)
    assert reduce_pseudo([a, b], 1, 1000) == [(5, idf * x)]


def _snapshot_counts(s, L, q):
    """Hit counts of ``q`` on both searchers: bool hits, count, match
    set, match_all and the JVM-side doclens rows."""
    return {
        "bool_dist": len(s.search_bool(q, k=10000).collect()),
        "bool_local": len(L.search_bool(q, k=10000)),
        "count_dist": _rows(s.search_count(q, "BOOL"))[0][0],
        "count_local": L.search_count(q, "BOOL"),
        "ids_dist": s.matched_ids(q, "BOOL").count(),
        "ids_local": int(L.matched_ids(q, "BOOL").size),
        "all_dist": s.matched_ids(None).count(),
        "all_local": int(L.matched_ids(None).size),
        "doclens": doclens_df(s).count(),
    }


Q_ALL = "the OR doc_len:[1 TO 100000]"


def _build_200(spark, out):
    build_index(
        spark, spark.createDataFrame(gen_pages_pdf(np.arange(200))), out,
        docs_per_part=32, seg_group=2, n_term_buckets=8,
    )


def test_pinned_snapshot_ignores_extended_doc_values(spark, tmp_path):
    """A searcher made before extend_index appends docs answers from its
    own snapshot: postings, doc values and nested rows are read below
    its manifest's bounds, not from all the files extend_index appends."""
    from hail_elasticsearch_pipelines_spark.plans.maintenance import extend_index

    out = str(tmp_path / "idx")
    _build_200(spark, out)
    s, L = IndexSearcher(spark, out), LocalSearcher(out)
    extend_index(spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(1000, 1100))))
    assert set(_snapshot_counts(s, L, Q_ALL).values()) == {200}
    fresh = LocalSearcher(out)
    assert fresh.search_count(Q_ALL, "BOOL") == fresh.n_docs == 300
    shutil.rmtree(out)


def test_snapshot_made_during_an_append_ignores_it(spark, tmp_path, monkeypatch):
    """extend_index writes its intent marker, appends its postings,
    nested and doclens files, then saves the manifest.  Searchers whose
    manifest read falls in that window, with the files landing between
    the manifest read and any listing, still answer from the manifest's
    snapshot."""
    from hail_elasticsearch_pipelines_spark import layout
    from hail_elasticsearch_pipelines_spark.plans.maintenance import extend_index

    out, ext = str(tmp_path / "idx"), str(tmp_path / "ext")
    _build_200(spark, out)
    shutil.copytree(out, ext)
    extend_index(spark, ext, spark.createDataFrame(gen_pages_pdf(np.arange(1000, 1100))))
    appended = []
    for table in ("postings", "doclens", "nested"):
        for root, _dirs, files in os.walk(os.path.join(ext, table)):
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), ext)
                if f.endswith(".parquet") and not os.path.exists(os.path.join(out, rel)):
                    appended.append(rel)
    assert any(r.startswith("postings") for r in appended)
    assert any(r.startswith("doclens") for r in appended)

    want = len(LocalSearcher(out).search(["the"], "OR", 10000))
    assert len(LocalSearcher(ext).search(["the"], "OR", 10000)) > want
    id_base = layout.load_manifest(ext)["extensions"][-1]["id_base"]
    marker = os.path.join(out, "stages", f"_EXTEND_INTENT_{id_base}")
    real = layout.load_manifest

    def load_then_append(index_dir):
        manifest = real(index_dir)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as f:
            f.write(json.dumps({"mode": "create", "id_base": id_base, "n_docs": 100}))
        for rel in appended:  # the in-place appends land now
            os.makedirs(os.path.dirname(os.path.join(out, rel)), exist_ok=True)
            shutil.copy(os.path.join(ext, rel), os.path.join(out, rel))
        return manifest

    monkeypatch.setattr(layout, "load_manifest", load_then_append)
    s, L = IndexSearcher(spark, out), LocalSearcher(out)
    monkeypatch.setattr(layout, "load_manifest", real)
    assert s.n_docs == L.n_docs == 200
    assert set(_snapshot_counts(s, L, Q_ALL).values()) == {200}
    assert len(L.search(["the"], "OR", 10000)) == want
    assert len(s.search(["the"], "OR", 10000).collect()) == want
    shutil.rmtree(out)
    shutil.rmtree(ext)
