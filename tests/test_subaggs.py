"""_exists_ atoms, bucket+metric sub-aggregations, and the filters
aggregation — late round-5 ES surfaces."""

from __future__ import annotations

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.functions import boolquery as bq
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher


@pytest.fixture(scope="module")
def nullable_index(spark, tmp_path_factory):
    import pyspark.sql.functions as F

    from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
    from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

    pdf = gen_pages_pdf(np.arange(150))
    out = str(tmp_path_factory.mktemp("subaggs") / "idx")
    pages = spark.createDataFrame(pdf).withColumn(
        "stars",
        F.when(F.crc32(F.col("url")) % 4 == 0, F.lit(None))
        .otherwise(F.crc32(F.col("url")) % 50)
        .cast("long"),
    )
    build_index(spark, pages, out, docs_per_part=16, seg_group=2, n_term_buckets=8)
    return out


@pytest.fixture(scope="module")
def searchers(spark, nullable_index):
    return IndexSearcher(spark, nullable_index), LocalSearcher(nullable_index)


class TestExists:
    def test_parse(self):
        ast = bq.parse("a AND _exists_:stars")
        rt = bq.range_atoms(ast)[0]
        assert (rt.field, rt.lo, rt.hi) == ("stars", None, None)
        assert bq.positive_terms(ast) == ["a"]
        with pytest.raises(bq.QueryParseError):
            bq.parse("a AND _exists_:stars^2")  # filter context: no boost

    def test_exists_filters_to_valued_docs(self, searchers):
        s, L = searchers
        d = [(r.doc_id, r.score) for r in s.search_bool("the AND _exists_:stars", k=500).collect()]
        loc = L.search_bool("the AND _exists_:stars", k=500)
        assert d == loc and d
        all_the = {i for i, _ in L.search_bool("the", k=10_000)}
        present = set(L._docvalues("stars")[0].tolist())
        assert {i for i, _ in d} == all_the & present
        # NOT _exists_ is the missing-docs complement, and agrees with
        # the missing aggregation
        miss = sorted(i for i, _ in L.search_bool("the AND NOT _exists_:stars", k=500))
        assert set(miss) == all_the - present
        assert len(miss) == L.search_missing(["the"], "stars")
        assert len(miss) == s.search_missing(["the"], "stars").collect()[0][0]

    def test_exists_in_aggregations(self, searchers):
        s, L = searchers
        q = "the AND _exists_:stars"
        a = sorted(r.doc_id for r in s.matched_ids(q, "BOOL").collect())
        b = sorted(L.matched_ids(q, "BOOL").tolist())
        assert a == b
        st_d = s.search_field_stats(q, "stars", mode="BOOL").collect()[0]
        st_l = L.search_field_stats(q, "stars", mode="BOOL")
        assert st_d.n_hits == st_l["n_hits"] == len(a)


class TestBucketMetrics:
    def test_parity_and_semantics(self, searchers):
        s, L = searchers
        d = [tuple(r) for r in s.search_bucket_metrics(["the"], "warc_ts", "day", "stars").collect()]
        loc = L.search_bucket_metrics(["the"], "warc_ts", "day", "stars")
        got = [(b, c, mn, sv, av, mx) for (b, c, mn, sv, av, mx) in loc]
        # normalize the timestamp representation for comparison
        import pandas as pd

        d_norm = [(pd.Timestamp(b), c, mn, sv, av, mx) for (b, c, mn, sv, av, mx) in d]
        l_norm = [(pd.Timestamp(b), c, mn, sv, av, mx) for (b, c, mn, sv, av, mx) in got]
        assert d_norm == l_norm and d_norm
        # doc_count matches the plain histogram (metric NULLs still count)
        h = L.search_value_histogram(["the"], "warc_ts", "day")
        assert [(b, c) for (b, c, *_m) in got] == h
        # metric aggregates ignore NULL-metric docs: recompute brute force
        ids = np.sort(L.matched_ids(["the"]))
        bp, bv = L._dv_lookup("warc_ts", ids)
        mp, mv = L._dv_lookup("stars", ids[bp])
        days = L._trunc_time(bv, "day")
        uniq_days = np.unique(days)
        assert len(got) == len(uniq_days)
        for (b, c, mn, sv, av, mx), ud in zip(got, uniq_days):
            in_b = days == ud
            assert c == int(in_b.sum())
            vals = mv[in_b[mp]]
            if vals.size:
                assert (mn, sv, mx) == (vals.min(), vals.sum(), vals.max())
                assert abs(av - vals.sum() / len(vals)) < 1e-12
            else:
                assert (mn, sv, av, mx) == (None, None, None, None)

    def test_numeric_bucket_field(self, searchers):
        s, L = searchers
        d = [tuple(r) for r in s.search_bucket_metrics(["the"], "doc_len", 100, "stars").collect()]
        loc = L.search_bucket_metrics(["the"], "doc_len", 100, "stars")
        assert d == loc and d


class TestFiltersAgg:
    def test_parity(self, searchers):
        s, L = searchers
        filters = {
            "the_docs": "the",
            "the_and_of": "the AND of",
            "valued": "the AND _exists_:stars",
        }
        d = [(r.name, r.doc_count) for r in s.search_filters(filters).collect()]
        loc = L.search_filters(filters)
        assert d == loc
        assert dict(d)["valued"] <= dict(d)["the_docs"]
        # counts agree with search_count / matched_ids
        for name, q in filters.items():
            assert dict(d)[name] == len(L.matched_ids(q, "BOOL"))

    def test_pure_negation_rejected(self, searchers):
        """ADVICE r5: a pure-negation filter must raise, not report a
        plausible-but-wrong doc_count of 0 — both engines, both aggs."""
        from hail_elasticsearch_pipelines_spark.functions.boolquery import (
            QueryParseError,
        )

        s, L = searchers
        for bad in ({"neg": "NOT lang:en"}, {"ok": "the", "neg": "NOT the"}):
            with pytest.raises(QueryParseError, match="pure negation"):
                s.search_filters(bad)
            with pytest.raises(QueryParseError, match="pure negation"):
                L.search_filters(bad)
            with pytest.raises(QueryParseError, match="pure negation"):
                s.search_adjacency(bad)
            with pytest.raises(QueryParseError, match="pure negation"):
                L.search_adjacency(bad)
        # double negation is positive — still accepted
        d = [(r.name, r.doc_count)
             for r in s.search_filters({"nn": "NOT (NOT the)"}).collect()]
        assert d == L.search_filters({"nn": "NOT (NOT the)"})
        assert d[0][1] == len(L.matched_ids("the", "BOOL"))


class TestDvEquality:
    """field:value atoms on doc-value-only (stored, non-facet) fields —
    the ES term query on an unindexed doc-valued field.  Facet and
    analyzed fields keep their existing atom meanings."""

    def test_numeric_equality(self, searchers):
        s, L = searchers
        q = "the AND stars:25"
        d = [(r.doc_id, r.score) for r in s.search_bool(q, k=500).collect()]
        loc = L.search_bool(q, k=500)
        assert d == loc and d
        ids, vals = L._docvalues("stars")
        want = set(ids[vals == 25].tolist()) & {
            i for i, _ in L.search_bool("the", k=10_000)
        }
        assert {i for i, _ in d} == want
        # filter context: surviving scores unchanged
        base = dict(L.search(["the"], mode="OR", k=10_000))
        assert all(sc == base[i] for i, sc in d)

    def test_not_and_aggs_path(self, searchers):
        s, L = searchers
        q = "the AND NOT stars:25"
        a = sorted(r.doc_id for r in s.matched_ids(q, "BOOL").collect())
        b = sorted(L.matched_ids(q, "BOOL").tolist())
        assert a == b
        ids, vals = L._docvalues("stars")
        eq_ids = set(ids[vals == 25].tolist())
        assert not set(a) & eq_ids
        # composes with aggregations
        st = s.search_field_stats(q, "stars", mode="BOOL").collect()[0]
        assert st.n_hits == L.search_field_stats(q, "stars", mode="BOOL")["n_hits"]

    def test_facet_field_keeps_indexed_token(self, spark, nullable_index):
        # 'lang' is facet+stored: must still resolve via the indexed
        # facet token, NOT the doc-value store
        from hail_elasticsearch_pipelines_spark.functions import boolquery as bq
        from hail_elasticsearch_pipelines_spark.operators.bm25 import (
            dv_filter_fields_of,
        )

        s = IndexSearcher(spark, nullable_index)
        dvf = dv_filter_fields_of(s.manifest)
        assert "lang" not in dvf and "stars" in dvf
        ast = bq.parse("the AND lang:en", dv_fields=dvf)
        assert not bq.range_atoms(ast)  # facet atom, not a dv atom

    def test_array_equality(self, spark, tmp_path_factory):
        import pyspark.sql.functions as F

        from hail_elasticsearch_pipelines_spark.operators.index_build import (
            build_index,
        )
        from hail_elasticsearch_pipelines_spark.sources.corpus import (
            gen_pages_pdf,
        )

        out = str(tmp_path_factory.mktemp("dveq_arr") / "idx")
        h = F.crc32(F.col("url"))
        pages = spark.createDataFrame(gen_pages_pdf(np.arange(100))).withColumn(
            "tags",
            F.when(h % 5 == 0, F.array().cast("array<string>")).otherwise(
                F.array(F.concat(F.lit("t"), (h % 4).cast("string")))
            ),
        )
        build_index(spark, pages, out, docs_per_part=16, seg_group=2, n_term_buckets=8)
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        d = sorted(r.doc_id for r in s.matched_ids("the AND tags:t2", "BOOL").collect())
        loc = sorted(L.matched_ids("the AND tags:t2", "BOOL").tolist())
        assert d == loc and d
        _p, vals = L._dv_lookup("tags", np.array(d, np.int64), allow_array=True)
        assert all("t2" in x.tolist() for x in vals)


class TestAdjacencyMatrix:
    def test_parity_and_math(self, searchers):
        s, L = searchers
        filters = {"a": "the", "b": "of AND the", "c": "term0020"}
        d = [(r.key, r.doc_count) for r in s.search_adjacency(filters).collect()]
        loc = L.search_adjacency(filters)
        assert d == loc and d
        m = dict(d)
        # pair counts are true intersections of the singles
        sa = set(L.matched_ids("the", "BOOL").tolist())
        sb = set(L.matched_ids("of AND the", "BOOL").tolist())
        sc = set(L.matched_ids("term0020", "BOOL").tolist())
        assert m["a"] == len(sa) and m["b"] == len(sb) and m["c"] == len(sc)
        assert m["a&b"] == len(sa & sb) == m["b"]  # b subset of a
        if sa & sc:
            assert m["a&c"] == len(sa & sc)
        # empty pairs omitted, ES-style
        assert all(cnt > 0 or "&" not in k for k, cnt in d)
        with pytest.raises(ValueError, match="may not contain"):
            s.search_adjacency({"x&y": "the"})
        with pytest.raises(ValueError, match="doc-value/phrase"):
            s.search_adjacency({"r": "the AND stars:[1 TO 2]"})
        # the serving twin rejects the same filters, before any work
        with pytest.raises(ValueError, match="may not contain"):
            L.search_adjacency({"x&y": "the"})
        for q in ('the AND doc_len:[1 TO 100]', 'the AND "of the"'):
            with pytest.raises(ValueError, match="doc-value/phrase"):
                L.search_adjacency({"a": q, "b": "of"})
