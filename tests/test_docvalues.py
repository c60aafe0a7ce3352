"""Doc-value queries: range filters, sort-by-field, field aggregations
(operators/docvalues.py + the LocalSearcher twins).

Reference analog: ES date/numeric fields in the export mapping
(hail_scripts/v02/utils/elasticsearch_utils.py:38-77) and seqr's
range/sort/aggregation queries against them."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.docvalues import DocValueError
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

Q = ["term0020", "term0025"]


@pytest.fixture(scope="module")
def searchers(spark, small_index):
    out, _m = small_index
    return IndexSearcher(spark, out), LocalSearcher(out)


def _ts(v):
    return pd.Timestamp(v).to_pydatetime()


def test_doclens_carries_warc_ts(spark, small_index):
    out, m = small_index
    from hail_elasticsearch_pipelines_spark import layout

    dl = spark.read.parquet(layout.table_path(out, "doclens", m))
    assert "warc_ts" in dl.columns
    assert dl.filter("warc_ts is null").count() == 0


def test_sorted_parity_and_order(searchers):
    s, L = searchers
    dist = [(r.doc_id, r.warc_ts) for r in s.search_sorted(Q, "warc_ts", False, 8).collect()]
    loc = [(i, _ts(v)) for i, v in L.search_sorted(Q, "warc_ts", False, 8)]
    assert dist == loc and len(dist) == 8
    # descending by value, doc_id asc tiebreak
    vals = [v for _i, v in dist]
    assert vals == sorted(vals, reverse=True)
    asc = [(r.doc_id, r.doc_len) for r in s.search_sorted(Q, "doc_len", True, 8).collect()]
    lasc = L.search_sorted(Q, "doc_len", True, 8)
    assert asc == lasc
    dl_vals = [v for _i, v in asc]
    assert dl_vals == sorted(dl_vals)
    for (i1, v1), (i2, v2) in zip(asc, asc[1:]):
        if v1 == v2:
            assert i1 < i2


def test_match_all_sorted_recency(searchers):
    s, L = searchers
    dist = [(r.doc_id, r.warc_ts) for r in s.search_sorted(None, "warc_ts", False, 5).collect()]
    loc = [(i, _ts(v)) for i, v in L.search_sorted(None, "warc_ts", False, 5)]
    assert dist == loc and len(dist) == 5


def test_range_filter_context_scores(searchers, spark):
    """Range filter restricts candidates but never changes scores:
    every (doc, score) pair must appear identically in the unfiltered
    exhaustive ranking, and the result must equal brute-force
    filter-then-topk of that ranking."""
    s, L = searchers
    plain = [
        (r.doc_id, r.score)
        for r in s.search(Q, "OR", k=10_000, algo="exhaustive").collect()
    ]
    dl = pd.read_parquet(s._doclens_path, columns=["doc_id", "doc_len"]).set_index("doc_id")
    expected = [
        (d, sc) for d, sc in plain if 50 <= int(dl.loc[d, "doc_len"]) <= 500
    ][:7]
    dist = [(r.doc_id, r.score) for r in s.search_range(Q, "doc_len", 50, 500, k=7).collect()]
    loc = L.search_range(Q, "doc_len", 50, 500, k=7)
    assert dist == expected == loc


def test_range_and_mode_and_open_bounds(searchers):
    s, L = searchers
    dist = [(r.doc_id, r.score) for r in s.search_range(Q, "doc_len", lo=100, mode="AND", k=5).collect()]
    loc = L.search_range(Q, "doc_len", lo=100, mode="AND", k=5)
    assert dist == loc
    and_plain = {r.doc_id: r.score for r in s.search(Q, "AND", k=10_000, algo="exhaustive").collect()}
    for d, sc in dist:
        assert and_plain[d] == sc
    with pytest.raises(DocValueError):
        s.search_range(Q, "doc_len")
    with pytest.raises(DocValueError):
        L.search_range(Q, "doc_len")


def test_timestamp_range_filter(searchers):
    s, L = searchers
    lo = pd.Timestamp("2025-01-14 01:00:00").to_pydatetime()
    dist = [(r.doc_id, r.score) for r in s.search_range(Q, "warc_ts", lo=lo, k=10).collect()]
    loc = L.search_range(Q, "warc_ts", lo=lo, k=10)
    assert dist == loc and dist


@pytest.mark.parametrize("unit", ["hour", "day", "week", "month"])
def test_date_histogram_parity(searchers, unit):
    s, L = searchers
    dist = [(r.bucket, r.doc_count) for r in s.search_value_histogram(Q, "warc_ts", unit).collect()]
    loc = [(_ts(b), c) for b, c in L.search_value_histogram(Q, "warc_ts", unit)]
    assert dist == loc and sum(c for _b, c in dist) > 0


def test_numeric_histogram_and_errors(searchers):
    s, L = searchers
    dist = [(r.bucket, r.doc_count) for r in s.search_value_histogram(Q, "doc_len", 64).collect()]
    loc = L.search_value_histogram(Q, "doc_len", 64)
    assert dist == loc
    # histogram totals = match count
    assert sum(c for _b, c in dist) == L.search_count(Q, "OR")
    with pytest.raises(DocValueError):
        s.search_value_histogram(Q, "doc_len", 0).collect()
    with pytest.raises(DocValueError):
        s.search_value_histogram(Q, "warc_ts", "fortnight").collect()
    with pytest.raises(DocValueError):
        L.search_value_histogram(Q, "warc_ts", "fortnight")


def test_cardinality_exact_and_approx(searchers):
    s, L = searchers
    exact = s.search_cardinality(Q, "lang").collect()[0]["n_values"]
    assert exact == L.search_cardinality(Q, "lang")
    approx = s.search_cardinality(Q, "lang", exact=False).collect()[0]["n_values"]
    # HLL++ at rsd=0.05 on a handful of values is exact in practice;
    # allow generous slack to keep the bound meaningful, not flaky
    assert abs(approx - exact) <= max(1, int(0.2 * exact))


def test_significant_terms_parity(searchers):
    s, L = searchers
    dist = [
        (r.value, r.fg_count, r.bg_count, round(r.lift, 12))
        for r in s.significant_terms(Q, "lang", 5).collect()
    ]
    loc = [(v, f, b, round(x, 12)) for v, f, b, x in L.significant_terms(Q, "lang", 5)]
    assert dist == loc and dist
    lifts = [x for *_r, x in dist]
    assert lifts == sorted(lifts, reverse=True)


def test_unknown_field_raises(searchers):
    s, L = searchers
    with pytest.raises(DocValueError):
        s.search_sorted(Q, "no_such_field", k=3)
    with pytest.raises(DocValueError):
        L.search_sorted(Q, "no_such_field", k=3)


def test_docvalues_respect_deletes(spark, small_pages_df, tmp_path):
    """Upsert-killed docs vanish from matched_ids, sorts, ranges and
    aggregations on BOTH paths."""
    from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
    from hail_elasticsearch_pipelines_spark.plans.maintenance import upsert_index
    from pyspark.sql import functions as F

    out = str(tmp_path / "idx")
    build_index(spark, small_pages_df, out, docs_per_part=37, seg_group=2, n_term_buckets=8)
    s0 = IndexSearcher(spark, out)
    victims = [r.doc_id for r in s0.search_sorted(Q, "warc_ts", False, 3).collect()]
    dl = spark.read.parquet(s0._doclens_path)
    batch = (
        dl.filter(F.col("doc_id").isin(victims))
        .select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 365 DAYS")).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.lit("replacement text entirely different tokens xyzzy").alias("text"),
            F.lit("en").alias("lang"),
        )
    )
    upsert_index(spark, out, batch)
    s = IndexSearcher(spark, out)
    L = LocalSearcher(out)
    live_dist = set(r.doc_id for r in s.matched_ids(None).collect())
    live_loc = set(L.matched_ids(None).tolist())
    assert live_dist == live_loc
    assert not (set(victims) & live_dist)
    top = [r.doc_id for r in s.search_sorted(Q, "warc_ts", False, 10).collect()]
    assert not (set(victims) & set(top))
    assert [(r.doc_id, r.score) for r in s.search_range(Q, "doc_len", 1, 10_000, k=10).collect()] == L.search_range(Q, "doc_len", 1, 10_000, k=10)


# ---- round-5 late additions: collapse, percentiles, range buckets,
# search_after pagination, cumulative histograms ----


def test_collapse_parity_and_semantics(searchers):
    """Field collapse keeps exactly the best-scoring live hit per
    distinct value, ordered (score desc, doc_id asc) — checked against
    brute force from the exhaustive ranking + the doclens lookup."""
    s, L = searchers
    dist = [(r.value, r.doc_id, r.score) for r in s.search_collapse(Q, "doc_len", k=6).collect()]
    loc = L.search_collapse(Q, "doc_len", k=6)
    assert dist == loc and 0 < len(dist) <= 6
    assert len({v for v, _i, _s in dist}) == len(dist)  # one hit per value
    # brute force: full exhaustive ranking -> first hit per value
    plain = [
        (r.doc_id, r.score)
        for r in s.search(Q, "OR", k=10_000, algo="exhaustive").collect()
    ]
    dl = pd.read_parquet(s._doclens_path, columns=["doc_id", "doc_len"]).set_index("doc_id")
    seen, expected = set(), []
    for d, sc in plain:
        v = int(dl.loc[d, "doc_len"])
        if v in seen:
            continue
        seen.add(v)
        expected.append((v, d, sc))
    assert dist == expected[:6]


def test_collapse_and_mode(searchers):
    s, L = searchers
    dist = [(r.value, r.doc_id, r.score) for r in s.search_collapse(["the", "of"], "doc_len", k=5, mode="AND").collect()]
    assert dist == L.search_collapse(["the", "of"], "doc_len", k=5, mode="AND")
    and_docs = {r.doc_id for r in s.search(["the", "of"], "AND", k=10_000, algo="exhaustive").collect()}
    assert all(d in and_docs for _v, d, _s in dist)


def test_percentiles_parity(searchers):
    s, L = searchers
    pcts = (0.0, 0.25, 0.5, 0.9, 1.0)
    dist = [(r.pct, r.value) for r in s.search_percentiles(Q, "doc_len", pcts).collect()]
    loc = L.search_percentiles(Q, "doc_len", pcts)
    assert dist == loc and len(dist) == 5
    # manual check vs numpy over the matched values
    ids = np.sort(L.matched_ids(Q))
    vals = L._dv_lookup("doc_len", ids)[1].astype(np.float64)
    for (p, v) in dist:
        assert v == np.quantile(vals, p, method="linear")
    with pytest.raises(DocValueError):
        L.search_percentiles(Q, "warc_ts")
    with pytest.raises(DocValueError):
        s.search_percentiles(Q, "warc_ts").collect()
    with pytest.raises(DocValueError):
        L.search_percentiles(Q, "doc_len", (1.5,))


def test_range_buckets_parity(searchers):
    s, L = searchers
    R = [
        ("small", None, 60),
        ("mid", 60, 200),
        ("big", 200, None),
        ("overlap", 50, 250),   # overlapping buckets double-count per ES
        ("empty", 10_000, None),
    ]
    dist = [(r.key, r.doc_count) for r in s.search_range_buckets(Q, "doc_len", R).collect()]
    loc = L.search_range_buckets(Q, "doc_len", R)
    assert dist == loc and len(dist) == 5
    counts = dict(dist)
    n = len(L.matched_ids(Q))
    assert counts["small"] + counts["mid"] + counts["big"] == n  # partition
    assert counts["empty"] == 0  # empty bucket still returned
    with pytest.raises(DocValueError):
        L.search_range_buckets(Q, "doc_len", [("a", None, None)])
    with pytest.raises(DocValueError):
        L.search_range_buckets(Q, "doc_len", [("a", 1, 2), ("a", 3, 4)])


def test_range_buckets_on_timestamps(searchers):
    s, L = searchers
    R = [("early", None, "2025-01-20"), ("late", "2025-01-20", None)]
    dist = [(r.key, r.doc_count) for r in s.search_range_buckets(Q, "warc_ts", R).collect()]
    loc = L.search_range_buckets(Q, "warc_ts", R)
    assert dist == loc
    assert sum(c for _k, c in dist) == len(L.matched_ids(Q))


def test_sorted_after_pagination(searchers):
    """search_after pages are exactly consecutive slices of the full
    sorted listing, both directions, both searchers."""
    s, L = searchers
    for asc in (False, True):
        full = [(r.doc_id, r.warc_ts) for r in s.search_sorted(Q, "warc_ts", asc, 12).collect()]
        cur, pages = None, []
        for _ in range(3):
            page = [
                (r.doc_id, r.warc_ts)
                for r in s.search_sorted(Q, "warc_ts", asc, 4, after=cur).collect()
            ]
            lpage = [(i, _ts(v)) for i, v in L.search_sorted(Q, "warc_ts", asc, 4, after=cur)]
            assert page == lpage
            pages.extend(page)
            cur = (page[-1][1], page[-1][0])
        assert pages == full


def test_histogram_cumulative(searchers):
    s, L = searchers
    plain = [(r.bucket, r.doc_count) for r in s.search_value_histogram(Q, "warc_ts", "day").collect()]
    cum = [(r.bucket, r.doc_count) for r in s.search_value_histogram(Q, "warc_ts", "day", cumulative=True).collect()]
    assert [b for b, _c in cum] == [b for b, _c in plain]
    assert [c for _b, c in cum] == list(np.cumsum([c for _b, c in plain]))
    loc = [(
        _ts(b), int(c)
    ) for b, c in L.search_value_histogram(Q, "warc_ts", "day", cumulative=True)]
    assert cum == loc
    assert cum[-1][1] == len(L.matched_ids(Q))


def test_grouped_tophits_parity_and_semantics(searchers):
    """terms agg + top_hits: top buckets by best hit, each with its
    per_bucket best hits — parity + brute-force check."""
    s, L = searchers
    dist = [(r.value, r.rank, r.doc_id, r.score) for r in s.search_grouped_tophits(Q, "doc_len", 4, 2).collect()]
    loc = L.search_grouped_tophits(Q, "doc_len", 4, 2)
    assert dist == loc and dist
    vals = list(dict.fromkeys(v for v, *_ in dist))
    assert len(vals) <= 4
    # per-bucket ranks are 1..per_bucket, scores non-increasing
    by_val = {}
    for v, rk, d, sc in dist:
        by_val.setdefault(v, []).append((rk, d, sc))
    for v, hits in by_val.items():
        assert [rk for rk, _d, _sc in hits] == list(range(1, len(hits) + 1))
        scs = [sc for _rk, _d, sc in hits]
        assert scs == sorted(scs, reverse=True)
    # bucket order = best hit desc; buckets' best equals collapse result
    bests = [hits[0][2] for hits in by_val.values()]
    assert bests == sorted(bests, reverse=True)
    collapse = [(v, d, sc) for v, d, sc in L.search_collapse(Q, "doc_len", k=4)]
    assert [(v, hits[0][1], hits[0][2]) for v, hits in by_val.items()] == collapse


def test_range_pushdown_reaches_doclens_scan(searchers):
    """The BKD-analog claim holds in the physical plan: the range
    predicate is a DataFilter on the doclens scan and only (doc_id,
    field) are read."""
    s, _L = searchers
    plan = (
        s.search_range(Q, "doc_len", 50, 200, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    dl_lines = [
        ln for ln in plan.split("\n")
        if "FileScan parquet" in ln and "doc_len#" in ln and "doc_id#" in ln
    ]
    assert dl_lines, plan
    assert any(
        ">= 50" in ln and "<= 200" in ln for ln in dl_lines
    ), dl_lines


def test_field_stats_parity(searchers):
    s, L = searchers
    row = s.search_field_stats(Q, "doc_len", extended=True).collect()[0]
    loc = L.search_field_stats(Q, "doc_len", extended=True)
    assert row.n_hits == loc["n_hits"] > 0
    assert row.min_v == loc["min_v"] and row.max_v == loc["max_v"]
    assert row.sum_v == loc["sum_v"]
    assert abs(row.avg_v - loc["avg_v"]) < 1e-12
    assert abs(row.variance_pop - loc["variance_pop"]) < 1e-6
    # brute-force over matched values
    ids = np.sort(L.matched_ids(Q))
    vals = L._dv_lookup("doc_len", ids)[1]
    assert loc["sum_v"] == int(vals.sum()) and loc["min_v"] == int(vals.min())
    with pytest.raises(DocValueError):
        L.search_field_stats(Q, "warc_ts")
    # range-filtered bool query works through matched_ids
    b = L.search_field_stats("the AND doc_len:[50 TO 200]", "doc_len", mode="BOOL")
    assert b["n_hits"] > 0 and 50 <= b["min_v"] and b["max_v"] <= 200


class TestNullDocValues:
    """ES missing-field semantics: docs whose doc-value field is NULL
    are invisible to aggregations, sorts, and range filters on that
    field — on BOTH the distributed path and the LocalSearcher twin.
    Reference analog: ES skips docs without the field in aggs/sorts
    (elasticsearch_utils.py mapping derivation makes fields nullable)."""

    @pytest.fixture(scope="class")
    def null_index(self, spark, tmp_path_factory):
        import pyspark.sql.functions as F

        from hail_elasticsearch_pipelines_spark.operators.index_build import (
            build_index,
        )
        from hail_elasticsearch_pipelines_spark.sources.corpus import (
            gen_pages_pdf,
        )

        pdf = gen_pages_pdf(np.arange(120))
        # every 7th doc is missing the stored field
        pdf["stars"] = [None if i % 7 == 0 else (i * 13) % 50 for i in range(len(pdf))]
        pdf["stars"] = pdf["stars"].astype("Int64")
        out = str(tmp_path_factory.mktemp("nulldv") / "idx")
        pages = spark.createDataFrame(pdf).withColumn(
            "stars", F.col("stars").cast("long")
        )
        build_index(spark, pages, out, docs_per_part=16, seg_group=2, n_term_buckets=8)
        return out

    @pytest.fixture(scope="class")
    def null_searchers(self, spark, null_index):
        return IndexSearcher(spark, null_index), LocalSearcher(null_index)

    @pytest.fixture(scope="class")
    def null_ids(self, null_searchers):
        """doc_ids whose `stars` is NULL in the built index (doc_id is
        reassigned dense-by-url-order at build time, so the source-row
        position pattern does NOT survive — read it back instead)."""
        import pyarrow.dataset as pads

        from hail_elasticsearch_pipelines_spark import layout

        _s, L = null_searchers
        dl_path = layout.table_path(L.index_dir, "doclens", manifest=L.manifest)
        tbl = pads.dataset(dl_path).to_table(columns=["doc_id", "stars"])
        ids = {
            int(i)
            for i, v in zip(tbl["doc_id"].to_pylist(), tbl["stars"].to_pylist())
            if v is None
        }
        assert ids, "fixture must actually produce NULL stars rows"
        # non-vacuous: some null-stars doc matches the query used below
        assert ids & set(L.matched_ids(["the"]).tolist())
        return ids

    def test_stats_skip_null_docs(self, null_searchers):
        s, L = null_searchers
        row = s.search_field_stats(["the"], "stars").collect()[0]
        loc = L.search_field_stats(["the"], "stars")
        assert row.n_hits == loc["n_hits"]
        n_matched = len(L.matched_ids(["the"]))
        assert 0 < row.n_hits < n_matched  # nulls dropped, not zero-filled
        assert (row.min_v, row.max_v, row.sum_v) == (
            loc["min_v"], loc["max_v"], loc["sum_v"],
        )
        assert isinstance(loc["sum_v"], int)  # dtype survives the null drop

    def test_sorted_and_collapse_skip_null_docs(self, null_searchers, null_ids):
        s, L = null_searchers
        dist = [(r.doc_id, r.stars) for r in s.search_sorted(["the"], "stars", True, 15).collect()]
        loc = L.search_sorted(["the"], "stars", True, 15)
        assert dist == loc and len(dist) == 15
        assert all(v is not None for _i, v in dist)
        assert all(i not in null_ids for i, _v in dist)
        c1 = [tuple(r) for r in s.search_collapse(["the"], "stars", k=10).collect()]
        c2 = L.search_collapse(["the"], "stars", k=10)
        assert c1 == c2 and all(v is not None for v, _i, _s in c1)
        g1 = [tuple(r) for r in s.search_grouped_tophits(["the"], "stars", 4, 2).collect()]
        g2 = L.search_grouped_tophits(["the"], "stars", 4, 2)
        assert g1 == g2 and all(v is not None for v, _r, _i, _s in g1)

    def test_histogram_cardinality_percentiles_skip_nulls(self, null_searchers):
        s, L = null_searchers
        h1 = [(r.bucket, r.doc_count) for r in s.search_value_histogram(["the"], "stars", 10).collect()]
        h2 = L.search_value_histogram(["the"], "stars", 10)
        assert h1 == h2
        assert sum(c for _b, c in h1) == L.search_field_stats(["the"], "stars")["n_hits"]
        assert s.search_cardinality(["the"], "stars").collect()[0][0] == L.search_cardinality(["the"], "stars")
        p1 = [r.value for r in s.search_percentiles(["the"], "stars", (0.5,)).collect()]
        p2 = [v for _p, v in L.search_percentiles(["the"], "stars", (0.5,))]
        assert len(p1) == len(p2) == 1 and abs(p1[0] - p2[0]) < 1e-9

    def test_range_never_matches_null(self, null_searchers, null_ids):
        s, L = null_searchers
        dist = [r.doc_id for r in s.search_range(["the"], "stars", lo=-10**9, k=10_000).collect()]
        loc = [d for d, _s in L.search_range(["the"], "stars", lo=-10**9, k=10_000)]
        assert sorted(dist) == sorted(loc)
        assert not set(dist) & null_ids
        b1 = sorted(r.doc_id for r in s.matched_ids("the AND stars:[0 TO *]", "BOOL").collect())
        l1 = L.matched_ids("the AND stars:[0 TO *]", "BOOL")
        assert b1 == sorted(l1.tolist())
        assert not set(l1.tolist()) & null_ids

    def test_all_null_field_returns_empty(self, null_searchers, spark, tmp_path_factory):
        import pyspark.sql.functions as F

        from hail_elasticsearch_pipelines_spark.operators.index_build import (
            build_index,
        )
        from hail_elasticsearch_pipelines_spark.sources.corpus import (
            gen_pages_pdf,
        )

        out = str(tmp_path_factory.mktemp("allnull") / "idx")
        pages = spark.createDataFrame(gen_pages_pdf(np.arange(40))).withColumn(
            "empty_f", F.lit(None).cast("long")
        )
        build_index(spark, pages, out, docs_per_part=16, seg_group=2, n_term_buckets=8)
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        assert s.search_sorted(["the"], "empty_f", k=5).count() == 0
        assert L.search_sorted(["the"], "empty_f", k=5) == []
        assert s.search_field_stats(["the"], "empty_f").collect()[0].n_hits == 0
        assert L.search_field_stats(["the"], "empty_f")["n_hits"] == 0
        assert L.search_percentiles(["the"], "empty_f") == []
        assert [tuple(r) for r in s.search_percentiles(["the"], "empty_f").collect()] == []


def test_rare_terms_parity_and_semantics(searchers, spark):
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        DocValueError,
        search_rare_terms,
        search_value_terms,
    )

    s, L = searchers
    # full bucket counts from the composite agg (big page)
    allb = {
        r.value: r.doc_count
        for r in search_value_terms(s, Q, "doc_len", size=10_000).collect()
    }
    for mdc in (1, 2):
        dist = [
            (r.value, r.doc_count)
            for r in search_rare_terms(s, Q, "doc_len", mdc).collect()
        ]
        loc = L.search_rare_terms(Q, "doc_len", mdc)
        assert dist == loc
        expected = sorted(
            ((v, c) for v, c in allb.items() if c <= mdc),
            key=lambda t: (t[1], t[0]),
        )[:100]
        assert dist == expected and dist
    with pytest.raises(DocValueError):
        search_rare_terms(s, Q, "doc_len", 0)
    with pytest.raises(DocValueError):
        L.search_rare_terms(Q, "doc_len", 0)
