"""ES terms-aggregation (search_facets) and search_after keyset
pagination (search_page) — r4 additions.

Reference analog: the seqr UI's faceted search and result paging are
served by Elasticsearch aggregations/search_after on the exported
index (facet-typed mapping hail_scripts/shared/elasticsearch_utils.py:
38-77); here the facet tokens' postings are the agg input and the
cursor is evaluated inside the scoring tasks."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.functions.extract import py_extract_text
from hail_elasticsearch_pipelines_spark.functions.tokenize import py_tokenize
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import (
    build_index,
    py_dlen_bucket,
)
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

N_DOCS = 260


@pytest.fixture(scope="module")
def agg_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggs") / "idx")
    base = gen_pages_pdf(np.arange(N_DOCS))
    build_index(
        spark,
        spark.createDataFrame(base),
        out,
        docs_per_part=32,
        seg_group=2,
        n_term_buckets=8,
    )
    # url-sorted dedupe mirrors the engine's id assignment
    pdf = (
        base.sort_values("warc_ts")
        .drop_duplicates("url", keep="last")
        .sort_values("url")
        .reset_index(drop=True)
    )
    docs = {}
    for i, row in pdf.iterrows():
        text = row["text"] if row["text"] is not None else py_extract_text(row["html"])
        docs[i] = (py_tokenize(text), row["lang"])
    return out, docs


def _match_ids(docs, terms, mode):
    tset = set(terms)
    out = []
    for d, (toks, _lang) in docs.items():
        present = tset & set(toks)
        if (mode == "OR" and present) or (mode == "AND" and present == tset):
            out.append(d)
    return out


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_facet_counts_match_python_oracle(spark, agg_index, mode):
    out, docs = agg_index
    terms = ["the", "of"]
    s = IndexSearcher(spark, out)
    got = {
        (r["field"], r["value"]): r["doc_count"]
        for r in s.search_facets(terms, ["lang", "dlen"], mode).collect()
    }
    matches = _match_ids(docs, terms, mode)
    want = Counter()
    for d in matches:
        toks, lang = docs[d]
        want[("lang", lang)] += 1
        want[("dlen", str(py_dlen_bucket(len(toks))))] += 1
    assert got == dict(want), mode


@pytest.mark.parametrize(
    "q, match",
    [
        ("the AND NOT term0042", lambda toks: "the" in toks and "term0042" not in toks),
        (
            "the AND term004*",
            lambda toks: "the" in toks and any(t.startswith("term004") for t in toks),
        ),
    ],
    ids=["not", "wildcard"],
)
@pytest.mark.parametrize("engine", ["dist", "local"])
def test_facet_counts_bool_mode(spark, agg_index, engine, q, match):
    """BOOL facet queries parse against the index fields and expand
    wildcard atoms on both searchers."""
    out, docs = agg_index
    if engine == "dist":
        rows = IndexSearcher(spark, out).search_facets(q, ["lang"], mode="BOOL").collect()
        got = {(r["field"], r["value"]): r["doc_count"] for r in rows}
    else:
        got = {
            (f, v): c
            for f, v, c in LocalSearcher(out).search_facets(q, ["lang"], mode="BOOL")
        }
    want = Counter(("lang", lang) for toks, lang in docs.values() if match(toks))
    assert want
    assert got == dict(want)


def test_search_page_walks_full_ranking(spark, agg_index):
    """Paging with the cursor reconstructs the exhaustive ranking
    exactly, page by page, with no overlaps or gaps."""
    out, docs = agg_index
    s = IndexSearcher(spark, out)
    terms = ["the", "of"]
    full = [
        (r["doc_id"], r["score"])
        for r in s.search(terms, "OR", k=10_000, algo="exhaustive").collect()
    ]
    assert len(full) > 30
    paged = []
    after = None
    while True:
        rows = s.search_page(terms, "OR", k=17, after=after).collect()
        if not rows:
            break
        paged.extend((r["doc_id"], r["score"]) for r in rows)
        last = rows[-1]
        after = (float(last["score"]), int(last["doc_id"]))
    assert paged == full


def test_search_page_first_page_equals_search(spark, agg_index):
    out, _docs = agg_index
    s = IndexSearcher(spark, out)
    a = [
        (r["doc_id"], r["score"])
        for r in s.search_page(["the"], "OR", k=12).collect()
    ]
    b = [
        (r["doc_id"], r["score"])
        for r in s.search(["the"], "OR", k=12, algo="exhaustive").collect()
    ]
    assert a == b


def test_search_count_matches_python_and_tombstones(spark, agg_index):
    out, docs = agg_index
    s = IndexSearcher(spark, out)
    for terms, mode in [(["the", "of"], "OR"), (["the", "of"], "AND")]:
        got = s.search_count(terms, mode).collect()[0]["n_hits"]
        assert got == len(_match_ids(docs, terms, mode)), (terms, mode)
    got = s.search_count("the AND NOT term0042", mode="BOOL").collect()[0][
        "n_hits"
    ]
    want = sum(
        1
        for _d, (toks, _l) in docs.items()
        if "the" in toks and "term0042" not in toks
    )
    assert got == want
    # counts agree with the (tombstone-proven) search path after upsert
    # (the facet test's fixture upsert may already have run — recount)
    n_search = s.search(["the"], "OR", k=100_000, algo="exhaustive").count()
    assert s.search_count(["the"], "OR").collect()[0]["n_hits"] == n_search


def test_explain_reconstructs_score(spark, agg_index):
    """Sum of per-term contribs == the doc's OR score, bit-identically;
    tf/df/doc_len match the python oracle."""
    out, docs = agg_index
    s = IndexSearcher(spark, out)
    terms = ["the", "of"]
    top = s.search(terms, "OR", k=3, algo="exhaustive").collect()
    for hit in top:
        rows = s.explain(int(hit["doc_id"]), terms).collect()
        assert abs(sum(r["contrib"] for r in rows) - hit["score"]) < 1e-12
        toks, _lang = docs[int(hit["doc_id"])]
        for r in rows:
            assert r["tf"] == toks.count(r["term"])
            assert r["doc_len"] == len(toks)
            assert r["df"] == sum(
                1 for _d, (tk, _l) in docs.items() if r["term"] in tk
            )


def test_match_positions_match_tokenized_text(spark, agg_index):
    out, docs = agg_index
    s = IndexSearcher(spark, out)
    terms = ["the", "term0042"]
    top = s.search(terms, "OR", k=4, algo="exhaustive").collect()
    ids = [int(r["doc_id"]) for r in top]
    got = [
        (r["doc_id"], r["term"], r["pos"])
        for r in s.match_positions(ids, terms).collect()
    ]
    want = []
    for d in sorted(ids):
        toks, _lang = docs[d]
        for t in sorted(set(terms)):
            want.extend((d, t, i) for i, x in enumerate(toks) if x == t)
    assert got == sorted(want)


def test_local_searcher_facets_and_paging_parity(spark, agg_index):
    """Serving-path twins are bit-identical to the distributed path."""
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    out, _docs = agg_index
    s = IndexSearcher(spark, out)
    ls = LocalSearcher(out)
    for query, fields, mode in [
        (["the", "of"], ["lang", "dlen"], "OR"),
        (["the", "of"], ["lang"], "AND"),
        ("the AND NOT term0042", ["lang"], "BOOL"),
    ]:
        dist = [
            (r["field"], r["value"], r["doc_count"])
            for r in s.search_facets(query, fields, mode).collect()
        ]
        assert ls.search_facets(query, fields, mode) == dist, (query, mode)
    # paging parity incl. cursor
    page1 = s.search_page(["the", "of"], "OR", k=9).collect()
    cur = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    dist2 = [
        (r["doc_id"], r["score"])
        for r in s.search_page(["the", "of"], "OR", k=9, after=cur).collect()
    ]
    assert ls.search_page(["the", "of"], "OR", k=9) == [
        (r["doc_id"], r["score"]) for r in page1
    ]
    assert ls.search_page(["the", "of"], "OR", k=9, after=cur) == dist2


def test_match_char_spans_tie_to_index_positions(spark, agg_index):
    """Snippet spans (doc store, char offsets) and match_positions
    (index, token positions) describe the SAME occurrences: token_pos
    sets are identical per (doc, term), and slicing the normalized
    lowered text at (start, end) yields exactly the term."""
    import unicodedata

    from hail_elasticsearch_pipelines_spark.functions.extract import (
        py_extract_text,
    )
    from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

    out, docs = agg_index
    s = IndexSearcher(spark, out)
    terms = ["the", "term0042"]
    top = s.search(terms, "OR", k=4, algo="exhaustive").collect()
    ids = [int(r["doc_id"]) for r in top]
    # doc store: rebuild the (doc_id, text) frame the engine indexed
    base = gen_pages_pdf(np.arange(N_DOCS))
    pdf = (
        base.sort_values("warc_ts")
        .drop_duplicates("url", keep="last")
        .sort_values("url")
        .reset_index(drop=True)
    )
    pdf["text"] = [
        t if t is not None else py_extract_text(h)
        for t, h in zip(pdf["text"], pdf["html"])
    ]
    store = spark.createDataFrame(
        pdf.reset_index()[["index", "text"]].rename(
            columns={"index": "doc_id"}
        )
    )
    spans = IndexSearcher.match_char_spans(store, ids, terms).collect()
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in spans:
        by_key[(r["doc_id"], r["term"])].append(r)
    pos_rows = s.match_positions(ids, terms).collect()
    pos_by_key = defaultdict(list)
    for r in pos_rows:
        pos_by_key[(r["doc_id"], r["term"])].append(r["pos"])
    assert set(by_key) == set(pos_by_key)
    text_of = dict(zip(pdf.index, pdf["text"]))
    for key, rows in by_key.items():
        assert [r["token_pos"] for r in rows] == pos_by_key[key], key
        ltext = unicodedata.normalize("NFC", text_of[key[0]]).lower()
        for r in rows:
            assert ltext[r["start"] : r["end"]] == r["term"]


def test_local_count_explain_positions_parity(spark, agg_index):
    """Serving twins of _count/_explain/match_positions equal the
    distributed path exactly."""
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    out, _docs = agg_index
    s = IndexSearcher(spark, out)
    ls = LocalSearcher(out)
    for q, mode in [(["the", "of"], "OR"), (["the", "of"], "AND"),
                    ("the AND NOT term0042", "BOOL")]:
        assert ls.search_count(q, mode) == s.search_count(q, mode).collect()[0][
            "n_hits"
        ], (q, mode)
    top = s.search(["the", "of"], "OR", k=3, algo="exhaustive").collect()
    for hit in top:
        dist = [
            (r["term"], r["tf"], r["df"], r["doc_len"], r["idf"], r["contrib"])
            for r in s.explain(int(hit["doc_id"]), ["the", "of"]).collect()
        ]
        assert ls.explain(int(hit["doc_id"]), ["the", "of"]) == dist
    ids = [int(r["doc_id"]) for r in top]
    dist = [
        (r["doc_id"], r["term"], r["pos"])
        for r in s.match_positions(ids, ["the", "of"]).collect()
    ]
    assert ls.match_positions(ids, ["the", "of"]) == dist


def test_facet_counts_exclude_tombstoned(spark, agg_index, tmp_path):
    """Facet counts must not count tombstoned docs.  KEEP LAST in this
    module: the upsert mutates the module-scoped index, so every test
    that compares against the pristine python oracle must run first."""
    import pandas as pd

    from hail_elasticsearch_pipelines_spark.plans.maintenance import upsert_index
    from test_upsert import _recrawl_pdf

    out, docs = agg_index
    s0 = IndexSearcher(spark, out)
    before = {
        (r["field"], r["value"]): r["doc_count"]
        for r in s0.search_facets(["the"], ["lang"], "OR").collect()
    }
    assert sum(before.values()) > 0
    upsert_index(spark, out, spark.createDataFrame(_recrawl_pdf(np.arange(3, 9))))
    s = IndexSearcher(spark, out)
    after = {
        (r["field"], r["value"]): r["doc_count"]
        for r in s.search_facets(["the"], ["lang"], "OR").collect()
    }
    # cross-check against the (tombstone-proven) search path: facet
    # totals must equal the LIVE match count — tombstoned old docs and
    # their replacements never double-count
    n_match = s.search(["the"], "OR", k=100_000, algo="exhaustive").count()
    assert sum(after.values()) == n_match
    assert sum(before.values()) != 0
