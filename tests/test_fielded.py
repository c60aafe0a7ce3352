"""Multi-field (BM25F-lite) search: per-field postings, per-field df +
length norm, weighted most_fields scoring — the ES multi-field mapping
analog (reference derives per-field ES mappings in
hail_scripts/v02/utils/elasticsearch_utils.py:38-77 and queries fields
individually through ES; here the engine indexes and scores natively).

Bit-identity contract: IndexSearcher.search_fielded,
LocalSearcher.search_fielded, and the pure-python brute force below all
accumulate w_f·idf·tfw in ascending expanded-term order, float64.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from hail_elasticsearch_pipelines_spark.functions.tokenize import py_tokenize
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import (
    bm25_idf,
    bm25_tf_weight,
    build_index,
)
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

_TITLE_WORDS = [
    "alpha review",
    "beta guide notes",
    "alpha beta survey report",
    "gamma intro",
    "delta beta handbook",
    "",  # empty title: dl_title = 0, no title postings
]
_BODY_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "the", "of", "data"]


def _fielded_pdf(n: int = 120) -> pd.DataFrame:
    rows = []
    base = dt.datetime(2025, 1, 1)
    for i in range(n):
        body = " ".join(
            _BODY_WORDS[(i * 7 + j * 3) % len(_BODY_WORDS)]
            for j in range(5 + (i % 13))
        )
        rows.append(
            (
                f"https://ex.test/{i:06d}",
                base + dt.timedelta(seconds=i),
                None,
                body,
                _TITLE_WORDS[i % len(_TITLE_WORDS)],
                "en",
            )
        )
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "title", "lang"]
    )


def _brute_fielded(
    pdf: pd.DataFrame, terms: list[str], weights: dict[str, float], k: int
) -> list[tuple[int, float]]:
    """Pure-python BM25F-lite over the (url-ordered → doc_id) corpus;
    same expansion, fold, and accumulation order as the engine."""
    pdf = pdf.sort_values("url").reset_index(drop=True)
    body = [py_tokenize(t) for t in pdf["text"]]
    title = [py_tokenize(t) for t in pdf["title"]]
    n = len(pdf)
    avgdl = sum(len(b) for b in body) / n
    tavgdl = (sum(len(t) for t in title) / n) or 1.0
    expanded = sorted(
        {
            (t if f == "text" else f"{f}:{t}"): w
            for f, w in weights.items()
            for t in terms
        }.items()
    )
    scores: dict[int, float] = {}
    for it, w in expanded:
        fld, tok = (
            ("title", it.split(":", 1)[1]) if ":" in it else ("text", it)
        )
        toks, adl = (title, tavgdl) if fld == "title" else (body, avgdl)
        df = sum(1 for ts in toks if tok in ts)
        if df == 0:
            continue
        widf = w * bm25_idf(n, df)
        for d in range(n):
            tf = toks[d].count(tok)
            if tf:
                tfw = float(
                    bm25_tf_weight(
                        np.array([tf], np.int64),
                        np.array([len(toks[d])], np.int64),
                        adl,
                    )[0]
                )
                scores[d] = scores.get(d, 0.0) + widf * tfw
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    return [(d, s) for d, s in ranked]


@pytest.fixture(scope="module")
def fielded_index(spark, tmp_path_factory):
    pdf = _fielded_pdf()
    out = str(tmp_path_factory.mktemp("fielded") / "idx")
    manifest = build_index(
        spark,
        spark.createDataFrame(pdf),
        out,
        docs_per_part=17,
        seg_group=2,
        n_term_buckets=8,
        text_fields=("title",),
    )
    return out, manifest, pdf


WEIGHTS = {"text": 1.0, "title": 2.0}


def test_manifest_field_stats(fielded_index):
    out, manifest, pdf = fielded_index
    title_tokens = sum(len(py_tokenize(t)) for t in pdf["title"])
    assert manifest["params"]["text_fields"] == ["title"]
    assert (
        manifest["globals"]["field_stats"]["title"]["total_tokens"]
        == title_tokens
    )
    # title is forced stored (doclens carries it for maintenance)
    assert "title" in manifest["params"]["stored_fields"]


@pytest.mark.parametrize(
    "terms", [["alpha"], ["alpha", "beta"], ["beta", "gamma", "omega"], ["zzz"]]
)
def test_fielded_matches_bruteforce(spark, fielded_index, terms):
    out, _, pdf = fielded_index
    expected = _brute_fielded(pdf, terms, WEIGHTS, 15)
    s = IndexSearcher(spark, out)
    got = [
        (r["doc_id"], r["score"])
        for r in s.search_fielded(terms, WEIGHTS, k=15).collect()
    ]
    assert got == expected
    ls = LocalSearcher(out)
    assert ls.search_fielded(terms, WEIGHTS, k=15) == expected


def test_fielded_default_fields_all_weight_one(spark, fielded_index):
    out, _, pdf = fielded_index
    expected = _brute_fielded(pdf, ["alpha"], {"text": 1.0, "title": 1.0}, 10)
    ls = LocalSearcher(out)
    assert ls.search_fielded(["alpha"], k=10) == expected


def test_fielded_unknown_field_raises(spark, fielded_index):
    out, _, _ = fielded_index
    with pytest.raises(ValueError, match="not an analyzed field"):
        LocalSearcher(out).search_fielded(["alpha"], {"body": 1.0}, k=5)


def test_bool_fielded_atom(spark, fielded_index):
    """`title:alpha` in the boolean language scores over the title
    postings with the title length norm; Local == distributed."""
    out, _, pdf = fielded_index
    q = "title:alpha AND beta"
    ls = LocalSearcher(out)
    got_local = ls.search_bool(q, k=20)
    s = IndexSearcher(spark, out)
    got_dist = [
        (r["doc_id"], r["score"]) for r in s.search_bool(q, k=20).collect()
    ]
    assert got_local == got_dist
    # filter semantics: every hit's title contains alpha AND body beta
    ordered = pdf.sort_values("url").reset_index(drop=True)
    assert got_local, "query should match the planted titles"
    for d, _ in got_local:
        assert "alpha" in py_tokenize(ordered["title"][d])
        assert "beta" in py_tokenize(ordered["text"][d])
    # score = title-term contribution (title norm) + body-term contribution
    exp = _brute_fielded(pdf, ["alpha"], {"title": 1.0}, len(ordered))
    exp_b = dict(_brute_fielded(pdf, ["beta"], {"text": 1.0}, len(ordered)))
    exp_map = {d: s + exp_b.get(d, 0.0) for d, s in exp}
    for d, s_ in got_local:
        assert s_ == pytest.approx(exp_map[d], abs=1e-12)


def test_bool_facet_atom_unchanged(spark, fielded_index):
    """`lang:en` keeps its facet-filter meaning next to analyzed-field
    atoms (disambiguated by the manifest's text_fields)."""
    out, _, _ = fielded_index
    ls = LocalSearcher(out)
    with_f = ls.search_bool("alpha AND lang:en", k=10)
    plain = ls.search_bool("alpha", k=10)
    assert with_f == plain  # whole corpus is lang=en → filter is a no-op


def test_fielded_extend_create(spark, fielded_index, tmp_path):
    """extend_index on a fielded index: appended docs get title
    postings + field_stats updates; result == fresh rebuild of union."""
    import shutil

    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        extend_index,
    )

    out, _, pdf = fielded_index
    work = str(tmp_path / "idx")
    shutil.copytree(out, work)
    new_pdf = _fielded_pdf(150).iloc[120:]  # 30 unseen urls
    extend_index(spark, work, spark.createDataFrame(new_pdf), mode="create")

    union_pdf = _fielded_pdf(150)
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        spark.createDataFrame(union_pdf),
        fresh,
        docs_per_part=17,
        seg_group=2,
        n_term_buckets=8,
        text_fields=("title",),
    )
    from hail_elasticsearch_pipelines_spark.layout import load_manifest

    me, mf = load_manifest(work), load_manifest(fresh)
    assert (
        me["globals"]["field_stats"]["title"]["total_tokens"]
        == mf["globals"]["field_stats"]["title"]["total_tokens"]
    )
    # scoring parity on the extended index vs brute force over the union
    # (doc ids differ between extended and fresh builds — the extended
    # index appends at a segment boundary — so compare via url)
    ls = LocalSearcher(work)
    got = ls.search_fielded(["alpha", "beta"], WEIGHTS, k=10)
    dl = pd.read_parquet(f"{work}/doclens")[["doc_id", "url"]]
    url_of = dict(zip(dl["doc_id"], dl["url"]))
    exp = _brute_fielded(union_pdf, ["alpha", "beta"], WEIGHTS, 10)
    ordered = union_pdf.sort_values("url").reset_index(drop=True)
    exp_urls = [(ordered["url"][d], s) for d, s in exp]
    got_urls = [(url_of[d], s) for d, s in got]
    assert got_urls == exp_urls


def test_fielded_upsert_removes_killed_field_tokens(
    spark, fielded_index, tmp_path
):
    import shutil

    from hail_elasticsearch_pipelines_spark.layout import load_manifest
    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        extend_index,
    )

    out, _, pdf = fielded_index
    work = str(tmp_path / "idx")
    shutil.copytree(out, work)
    # re-crawl 20 docs with NEW bodies and NEW titles
    re_pdf = pdf.iloc[:20].copy()
    re_pdf["warc_ts"] = re_pdf["warc_ts"] + dt.timedelta(days=1)
    re_pdf["text"] = ["fresh omega content " + str(i) for i in range(20)]
    re_pdf["title"] = ["updated alpha title"] * 20
    extend_index(spark, work, spark.createDataFrame(re_pdf), mode="upsert")
    m = load_manifest(work)
    live_titles = list(pdf["title"].iloc[20:]) + ["updated alpha title"] * 20
    assert m["globals"]["field_stats"]["title"]["total_tokens"] == sum(
        len(py_tokenize(t)) for t in live_titles
    )


def _brute_fielded_and(pdf, terms, weights, k):
    """AND variant: every token must appear in >=1 of the fields."""
    ordered = pdf.sort_values("url").reset_index(drop=True)
    body = [py_tokenize(t) for t in ordered["text"]]
    title = [py_tokenize(t) for t in ordered["title"]]
    keep = [
        d
        for d in range(len(ordered))
        if all(
            any(
                (t in (title[d] if f == "title" else body[d]))
                for f in weights
            )
            for t in terms
        )
    ]
    scores = dict(_brute_fielded(pdf, terms, weights, len(ordered)))
    ranked = sorted(
        ((d, scores[d]) for d in keep), key=lambda x: (-x[1], x[0])
    )[:k]
    return ranked


def test_fielded_and_matches_bruteforce(spark, fielded_index):
    out, _, pdf = fielded_index
    for terms in (["alpha", "beta"], ["beta", "gamma"], ["alpha", "zzz"]):
        expected = _brute_fielded_and(pdf, terms, WEIGHTS, 15)
        ls = LocalSearcher(out)
        assert ls.search_fielded(terms, WEIGHTS, k=15, mode="AND") == expected
        s = IndexSearcher(spark, out)
        got = [
            (r["doc_id"], r["score"])
            for r in s.search_fielded(
                terms, WEIGHTS, k=15, mode="AND"
            ).collect()
        ]
        assert got == expected, terms
        if terms == ["alpha", "beta"]:
            assert expected  # the planted corpus has cross-field matches


def test_fielded_extend_batch_without_field_column(
    spark, fielded_index, tmp_path
):
    """A crawl batch missing the analyzed field column is legal (ES:
    docs simply lack the field): appended docs index body-only, field
    postings/stats unchanged, fielded queries still correct."""
    import shutil

    from hail_elasticsearch_pipelines_spark.layout import load_manifest
    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        extend_index,
    )

    out, manifest0, pdf = fielded_index
    work = str(tmp_path / "idx")
    shutil.copytree(out, work)
    batch = _fielded_pdf(140).iloc[120:].drop(columns=["title"])
    extend_index(spark, work, spark.createDataFrame(batch), mode="create")
    m = load_manifest(work)
    assert m["globals"]["n_docs"] == 140
    assert (
        m["globals"]["field_stats"]["title"]["total_tokens"]
        == manifest0["globals"]["field_stats"]["title"]["total_tokens"]
    )
    # fielded query == brute force over the union with empty titles
    union = _fielded_pdf(140).copy()
    union.loc[union.index[120:], "title"] = ""
    expected = _brute_fielded(union, ["alpha", "beta"], WEIGHTS, 10)
    ls = LocalSearcher(work)
    got = ls.search_fielded(["alpha", "beta"], WEIGHTS, k=10)
    dl = pd.read_parquet(f"{work}/doclens")[["doc_id", "url"]]
    url_of = dict(zip(dl["doc_id"], dl["url"]))
    ordered = union.sort_values("url").reset_index(drop=True)
    assert [(url_of[d], s) for d, s in got] == [
        (ordered["url"][d], s) for d, s in expected
    ]


# --- dis_max / multi_match best_fields (mode="BEST") -------------------------


def _brute_fielded_best(pdf, terms, weights, k, tie):
    """best_fields: per-field BM25 sums, max + tie * rest (fields
    combined in sorted-field order, like the kernel's stack)."""
    pdf = pdf.sort_values("url").reset_index(drop=True)
    body = [py_tokenize(t) for t in pdf["text"]]
    title = [py_tokenize(t) for t in pdf["title"]]
    n = len(pdf)
    avgdl = sum(len(b) for b in body) / n
    tavgdl = (sum(len(t) for t in title) / n) or 1.0
    expanded = sorted(
        {
            (t if f == "text" else f"{f}:{t}"): w
            for f, w in weights.items()
            for t in terms
        }.items()
    )
    fsum: dict[int, dict[str, float]] = {}
    for it, w in expanded:
        fld, tok = (
            ("title", it.split(":", 1)[1]) if ":" in it else ("text", it)
        )
        toks, adl = (title, tavgdl) if fld == "title" else (body, avgdl)
        df = sum(1 for ts in toks if tok in ts)
        if df == 0:
            continue
        widf = w * bm25_idf(n, df)
        for d in range(n):
            tf = toks[d].count(tok)
            if tf:
                tfw = float(
                    bm25_tf_weight(
                        np.array([tf], np.int64),
                        np.array([len(toks[d])], np.int64),
                        adl,
                    )[0]
                )
                per = fsum.setdefault(d, {})
                per[fld] = per.get(fld, 0.0) + widf * tfw
    scores = {}
    for d, per in fsum.items():
        vals = [per.get(f, 0.0) for f in sorted(set(per))]
        mx = max(vals)
        scores[d] = mx + tie * (sum(vals) - mx)
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_fielded_best_matches_bruteforce(spark, fielded_index):
    out, _, pdf = fielded_index
    s, ls = IndexSearcher(spark, out), LocalSearcher(out)
    for terms in (["alpha", "beta"], ["beta", "gamma"], ["alpha", "zzz"]):
        for tie in (0.0, 0.3):
            expected = _brute_fielded_best(pdf, terms, WEIGHTS, 15, tie)
            got = [
                (r["doc_id"], r["score"])
                for r in s.search_fielded(
                    terms, WEIGHTS, k=15, mode="BEST", tie_breaker=tie
                ).collect()
            ]
            loc = ls.search_fielded(
                terms, WEIGHTS, k=15, mode="BEST", tie_breaker=tie
            )
            assert got == loc == expected, (terms, tie)
    assert _brute_fielded_best(pdf, ["alpha", "beta"], WEIGHTS, 15, 0.0)


def test_fielded_best_tie_breaker_semantics(spark, fielded_index):
    """tie=1.0 degenerates to most_fields (max + rest == sum); tie=0
    scores strictly by the winning field."""
    out, _, pdf = fielded_index
    ls = LocalSearcher(out)
    most = ls.search_fielded(["alpha", "beta"], WEIGHTS, k=200)
    best1 = ls.search_fielded(
        ["alpha", "beta"], WEIGHTS, k=200, mode="BEST", tie_breaker=1.0
    )
    assert {d: pytest.approx(s) for d, s in most} == {
        d: s for d, s in best1
    }
    best0 = dict(
        ls.search_fielded(
            ["alpha", "beta"], WEIGHTS, k=200, mode="BEST", tie_breaker=0.0
        )
    )
    for d, s1 in best1:
        assert best0[d] <= s1 + 1e-12


# --- one per-segment scorer: distributed == local == exhaustive --------------

MIXED = ["title:alpha", "title:beta", "omega"]
# doc ids follow url order and _fielded_pdf stamps doc i at base + i s,
# so this range atom keeps doc ids >= 30
LATE = "warc_ts:[2025-01-01T00:00:30 TO *]"
PARITY_CASES = (
    [f"search-{m}-{a}" for m in ("OR", "AND") for a in ("auto", "maxscore", "bmw", "exhaustive")]
    + ["search-msm2", "page-1", "page-2", "many-terms", "many-bool"]
    + ["fielded-OR", "fielded-AND", "fielded-BEST", "bool", "bool-range"]
)


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _parity_answers(case, s, ls, pdf):
    """(distributed, local, exhaustive reference) answers for one case,
    k=5 over terms that mix title-field and body terms."""

    def exhaustive(mode, k=5, **kw):
        return _pairs(s.search(MIXED, mode, k, algo="exhaustive", **kw))

    def many(spec):
        rows = sorted(s.search_many([spec]).collect(), key=lambda r: r["rank"])
        dist = [(r["doc_id"], r["score"]) for r in rows]
        return dist, ls.search_many([spec])[spec["query_id"]]

    kind, _, arg = case.partition("-")
    if kind == "search" and arg == "msm2":
        return (
            _pairs(s.search(MIXED, "OR", 5, min_should_match=2)),
            ls.search(MIXED, "OR", 5, min_should_match=2),
            exhaustive("OR", min_should_match=2),
        )
    if kind == "search":
        mode, algo = arg.split("-")
        return (
            _pairs(s.search(MIXED, mode, 5, algo=algo)),
            ls.search(MIXED, mode, 5, algo=algo),
            exhaustive(mode),
        )
    if kind == "page":
        after = None
        if arg == "2":  # the cursor is (score, doc_id) of page 1's last hit
            doc, score = ls.search_page(MIXED, "OR", 5)[-1]
            after = (score, doc)
        return (
            _pairs(s.search_page(MIXED, "OR", 5, after=after)),
            ls.search_page(MIXED, "OR", 5, after=after),
            exhaustive("OR", 10)[:5] if arg == "1" else exhaustive("OR", 10)[5:],
        )
    if kind == "many" and arg == "terms":
        spec = {"query_id": "t", "terms": MIXED, "mode": "OR", "k": 5}
        return (*many(spec), exhaustive("OR"))
    if kind == "many":
        spec = {"query_id": "b", "mode": "BOOL", "query": "gam* OR omega", "k": 5}
        return (*many(spec), _pairs(s.search_bool("gam* OR omega", k=5)))
    if kind == "fielded":
        # unit weights: most_fields OR is a plain search over the
        # expanded terms; AND/BEST references are the brute forces
        ones = {"text": 1.0, "title": 1.0}
        terms = ["alpha", "beta", "omega"]
        ref = {
            "OR": lambda: _pairs(
                s.search(
                    terms + [f"title:{t}" for t in terms], "OR", 5, algo="exhaustive"
                )
            ),
            "AND": lambda: _brute_fielded_and(pdf, terms, ones, 5),
            "BEST": lambda: _brute_fielded_best(pdf, terms, ones, 5, 0.3),
        }[arg]()
        return (
            _pairs(s.search_fielded(terms, ones, k=5, mode=arg, tie_breaker=0.3)),
            ls.search_fielded(terms, ones, k=5, mode=arg, tie_breaker=0.3),
            ref,
        )
    if arg == "range":
        q = f"(title:alpha OR title:beta OR omega) AND {LATE}"
        ref = [(d, sc) for d, sc in exhaustive("OR", 200) if d >= 30][:5]
    else:
        q = "title:alpha AND title:beta AND omega"
        ref = exhaustive("AND")
    return _pairs(s.search_bool(q, k=5)), ls.search_bool(q, k=5), ref


@pytest.mark.parametrize("case", PARITY_CASES)
def test_fielded_terms_dist_local_exhaustive_parity(spark, fielded_index, case):
    """Every query type runs the one per-segment scorer: with title-field
    terms mixed in, the distributed and local searchers return the
    exhaustive answer bit for bit (field avgdl per term, BOOL specs of a
    batch expanded like search_bool)."""
    out, _, pdf = fielded_index
    dist, local, ref = _parity_answers(
        case, IndexSearcher(spark, out), LocalSearcher(out), pdf
    )
    assert ref, "the case must match documents"
    assert dist == local == ref
