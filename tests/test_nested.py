"""ES ``nested`` type: mapping role, exploded sidecar, nested-atom
queries, same-object semantics, and maintenance integration.

Reference analog: the mapping derivation emits ``"type": "nested"``
for array-of-struct columns
(hail_scripts/v02/utils/elasticsearch_utils.py:22-28) and the
reference's document shapes (genotypes, sortedTranscriptConsequences)
are exactly that; ES backs the type with hidden per-element Lucene
docs — here the ``nested`` sidecar table."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from hail_elasticsearch_pipelines_spark.functions import boolquery as bq
from hail_elasticsearch_pipelines_spark.operators.bm25 import (
    IndexSearcher,
    nested_paths_of,
)
from hail_elasticsearch_pipelines_spark.operators.docvalues import DocValueError
from hail_elasticsearch_pipelines_spark.operators.index_build import (
    build_index,
    derive_index_fields,
)
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

LINKS_T = "array<struct<anchor:string,rel:string,weight:bigint>>"


def _with_links(spark, pdf):
    """Deterministic nested column: docs where crc%7==0 have NULL,
    others two objects — (A<h%3>, r<h%2>, h%5) and (A<(h+1)%3>, rx,
    NULL weight)."""
    h = F.crc32(F.col("url"))
    return spark.createDataFrame(pdf).withColumn(
        "links",
        F.when(h % 7 == 0, F.lit(None).cast(LINKS_T)).otherwise(
            F.array(
                F.struct(
                    F.concat(F.lit("A"), (h % 3).cast("string")).alias("anchor"),
                    F.concat(F.lit("r"), (h % 2).cast("string")).alias("rel"),
                    (h % 5).cast("long").alias("weight"),
                ),
                F.struct(
                    F.concat(F.lit("A"), ((h + 1) % 3).cast("string")).alias(
                        "anchor"
                    ),
                    F.lit("rx").alias("rel"),
                    F.lit(None).cast("long").alias("weight"),
                ),
            )
        ),
    )


@pytest.fixture(scope="module")
def nested_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nested") / "idx")
    pdf = gen_pages_pdf(np.arange(300))
    pages = _with_links(spark, pdf)
    build_index(
        spark, pages, out, docs_per_part=32, seg_group=2, n_term_buckets=8
    )
    return out, pdf


class TestMapping:
    def test_nested_role_derived(self):
        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField(
                    "genotypes",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("sample_id", T.StringType()),
                                T.StructField("num_alt", T.IntegerType()),
                                T.StructField(
                                    "bad_leaf", T.ArrayType(T.LongType())
                                ),
                            ]
                        )
                    ),
                ),
            ]
        )
        specs = derive_index_fields(schema)
        g = specs["genotypes"]
        assert g["nested"] == {"sample_id": "string", "num_alt": "int"}
        assert g["facet"] is False and g["stored"] is False
        # non-scalar leaves are not queryable and not listed
        assert "bad_leaf" not in g["nested"]

    def test_overrides_rejected_with_recipe(self):
        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField(
                    "g",
                    T.ArrayType(
                        T.StructType([T.StructField("s", T.StringType())])
                    ),
                ),
            ]
        )
        with pytest.raises(TypeError, match="cannot be a facet"):
            derive_index_fields(schema, overrides={"g": {"facet": True}})
        with pytest.raises(TypeError, match="nested sidecar"):
            derive_index_fields(schema, overrides={"g": {"stored": True}})


class TestAtoms:
    def test_parse_and_paths(self, nested_index):
        out, _ = nested_index
        s = LocalSearcher(out)
        paths = nested_paths_of(s.manifest)
        assert paths == frozenset(
            {"links.anchor", "links.rel", "links.weight"}
        )
        ast = bq.parse("the AND links.anchor:A1", nested_fields=paths)
        (nt,) = bq.nested_atoms(ast)
        assert nt.path == "links.anchor" and nt.value == "a1"  # normalized
        with pytest.raises(bq.QueryParseError, match="unknown nested path"):
            bq.parse("links.nope:x", nested_fields=paths)
        with pytest.raises(bq.QueryParseError, match="boost"):
            bq.parse("links.anchor:a1^2", nested_fields=paths)

    def test_bool_atom_parity_and_filter_context(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        q = "the AND links.anchor:a1 AND NOT links.rel:r1"
        d = [(r.doc_id, r.score) for r in s.search_bool(q, k=500).collect()]
        loc = L.search_bool(q, k=500)
        assert d == loc and d
        # filter context: surviving scores identical to unfiltered
        base = dict(L.search(["the"], mode="OR", k=10_000))
        assert all(sc == base[i] for i, sc in d)
        # the match set is exactly the docs with a matching object
        ids = {i for i, _ in d}
        nd = spark.read.parquet(
            os.path.join(out, "nested")
        )
        a1 = {
            r.doc_id
            for r in nd.filter(
                (F.col("leaf") == "anchor") & (F.col("value") == "a1")
            ).collect()
        }
        r1 = {
            r.doc_id
            for r in nd.filter(
                (F.col("leaf") == "rel") & (F.col("value") == "r1")
            ).collect()
        }
        the = {i for i, _ in L.search(["the"], mode="OR", k=10_000)}
        assert ids == (the & a1) - r1

    def test_numeric_leaf_and_count(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        q = "the AND links.weight:3"
        assert int(s.search_count(q, "BOOL").collect()[0][0]) == L.search_count(
            q, "BOOL"
        ) == len(L.matched_ids(q, "BOOL"))
        assert L.search_count(q, "BOOL") > 0

    def test_nested_exists_atom(self, spark, nested_index):
        """`_exists_:links.anchor` — docs with ≥1 object holding the
        leaf: parity, composition, and ground truth (every 7th doc has
        no links array at all)."""
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        q = "the AND _exists_:links.anchor"
        d = [(r.doc_id, r.score) for r in s.search_bool(q, k=500).collect()]
        loc = L.search_bool(q, k=500)
        assert d == loc and d
        with_links = {
            r.doc_id
            for r in spark.read.parquet(os.path.join(out, "nested")).collect()
        }
        the = {i for i, _ in L.search(["the"], mode="OR", k=10_000)}
        assert {i for i, _ in d} == the & with_links
        # NOT composition: docs lacking the field entirely
        none = set(L.matched_ids("the AND NOT _exists_:links.anchor", "BOOL").tolist())
        assert none == the - with_links and none
        # unknown nested path still fails loud
        with pytest.raises(bq.QueryParseError, match="unknown nested path"):
            L.search_bool("the AND _exists_:links.nope", k=5)

    def test_matched_ids_parity(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        for q in (
            "the AND links.anchor:a1",
            "links.anchor:a0 OR links.anchor:a1",  # pure-atom OR
        ):
            a = sorted(r.doc_id for r in s.matched_ids(q, "BOOL").collect())
            b = sorted(L.matched_ids(q, "BOOL").tolist())
            assert a == b and a, q


class TestSameObject:
    def test_same_object_vs_cross_object(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        # same-object: anchor=a1 AND rel=r0 must hold in ONE object
        same_d = sorted(
            r.doc_id
            for r in s.nested_match_ids(
                "links", {"anchor": "A1", "rel": "r0"}
            ).collect()
        )
        same_l = sorted(
            L.nested_match_ids("links", {"anchor": "A1", "rel": "r0"}).tolist()
        )
        assert same_d == same_l
        # cross-object (ANDed atoms) is weaker or equal
        cross = set(
            L.matched_ids(
                "links.anchor:a1 AND links.rel:r0", "BOOL"
            ).tolist()
        )
        assert set(same_d) <= cross
        # by construction obj0 = (A<h%3>, r<h%2>): anchor a1 ∧ rel r0 in
        # one object ⇔ h%3==1 ∧ h%2==0 on obj0 (obj1 rel is rx)
        nd = (
            spark.read.parquet(os.path.join(out, "nested"))
            .filter(F.col("obj") == 0)
        )
        want = {
            r.doc_id
            for r in nd.filter(
                (F.col("leaf") == "anchor") & (F.col("value") == "a1")
            ).collect()
        } & {
            r.doc_id
            for r in nd.filter(
                (F.col("leaf") == "rel") & (F.col("value") == "r0")
            ).collect()
        }
        assert set(same_d) == want

    def test_search_nested_scores(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        d = [
            (r.doc_id, r.score)
            for r in s.search_nested(
                ["the", "of"], "links", {"anchor": "A1", "rel": "r0"},
                mode="AND", k=50,
            ).collect()
        ]
        loc = L.search_nested(
            ["the", "of"], "links", {"anchor": "A1", "rel": "r0"},
            mode="AND", k=50,
        )
        assert d == loc and d
        base = dict(L.search(["the", "of"], mode="AND", k=10_000))
        assert all(sc == base[i] for i, sc in d)

    def test_inner_hits(self, spark, nested_index):
        """ES inner_hits: the matching (doc_id, obj) identities — twin
        parity, consistency with nested_match_ids, and ground truth
        (only obj 0 can satisfy anchor=a1 ∧ rel=r0 by construction)."""
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        cond = {"anchor": "A1", "rel": "r0"}
        d = sorted(
            (r.doc_id, r.obj)
            for r in s.nested_inner_hits("links", cond).collect()
        )
        loc = L.nested_inner_hits("links", cond)
        assert d == loc and d
        assert {i for i, _o in d} == set(
            L.nested_match_ids("links", cond).tolist()
        )
        assert all(o == 0 for _i, o in d)
        # a condition only obj 1 satisfies reports obj 1
        hits1 = L.nested_inner_hits("links", {"rel": "rx"})
        assert hits1 and all(o == 1 for _i, o in hits1)

    def test_typed_errors(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        with pytest.raises(DocValueError, match="unknown nested path"):
            L.nested_match_ids("links", {"nope": "x"})
        with pytest.raises(DocValueError, match="at least one condition"):
            s.nested_match_ids("links", {})
        # nested fields are not doclens doc values: sorts/ranges reject
        with pytest.raises(DocValueError, match="not a doc-value field"):
            s.search_range(["the"], "links", lo=0)


class TestNestedTermsAgg:
    def test_docs_and_objects_counts(self, spark, nested_index):
        out, _ = nested_index
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        for count in ("docs", "objects"):
            d = [
                (r.value, r.doc_count)
                for r in s.search_nested_terms(
                    ["the"], "links", "anchor", size=10, count=count
                ).collect()
            ]
            loc = L.search_nested_terms(
                ["the"], "links", "anchor", size=10, count=count
            )
            assert d == loc and d, count
        # ground truth for count="docs": distinct matching parents per
        # value over the sidecar
        nd = spark.read.parquet(os.path.join(out, "nested")).filter(
            F.col("leaf") == "anchor"
        )
        the = {i for i, _ in L.search(["the"], mode="OR", k=10_000)}
        import collections

        want: dict = collections.Counter()
        for r in nd.select("doc_id", "value").distinct().collect():
            if r.doc_id in the:
                want[r.value] += 1
        got = dict(
            L.search_nested_terms(["the"], "links", "anchor", size=100)
        )
        assert got == dict(want)
        # objects >= docs per value (two objects can share an anchor)
        docs_c = dict(L.search_nested_terms(["the"], "links", "anchor", 100))
        obj_c = dict(
            L.search_nested_terms(["the"], "links", "anchor", 100, count="objects")
        )
        assert all(obj_c[v] >= c for v, c in docs_c.items())
        with pytest.raises(DocValueError, match="docs.*objects"):
            L.search_nested_terms(["the"], "links", "anchor", count="x")


class TestPlan:
    def test_nested_pushdown_reaches_scan(self, nested_index, tmp_path):
        """100×-scale posture: a nested-atom resolution (the bool atom
        path every searcher task runs) must be a PRUNED scan — the
        field= partition filter selects only that field's sidecar files,
        and the (leaf, value) predicates reach the parquet reader, whose
        row-group min/max stats skip the rest.  The sidecar is rewritten
        in 16-row row groups (same sorted rows) so there is more than
        one group to skip."""
        import shutil

        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from hail_elasticsearch_pipelines_spark.operators import nested as nst

        src, _ = nested_index
        out = str(tmp_path / "idx")
        shutil.copytree(src, out)
        for root, _dirs, files in os.walk(os.path.join(out, "nested")):
            for f in files:
                if f.endswith(".parquet"):
                    path = os.path.join(root, f)
                    pq.write_table(pq.read_table(path, partitioning=None), path, row_group_size=16)
        flt = nst.atom_filter("links", "anchor", "a1")
        # the files, unpinned: a pinned (filtered) dataset lists none
        files = ds.dataset(os.path.join(out, "nested"), format="parquet", partitioning="hive")
        frags = list(files.get_fragments(filter=flt))
        assert frags and all("field=links" in f.path for f in frags)
        assert not list(files.get_fragments(filter=nst.atom_filter("nosuch", "anchor", "a1")))
        n_groups = sum(f.num_row_groups for f in frags)
        kept = sum(len(f.split_by_row_group(flt, schema=files.schema)) for f in frags)
        assert 0 < kept < n_groups / 2, (kept, n_groups)
        # the pinned scan of a nested atom returns every matching row
        dset = nst.nested_dataset(LocalSearcher(out))
        tbl = dset.to_table(columns=["field", "leaf", "value", "doc_id"])
        want = sorted(
            d
            for fld, lf, v, d in zip(*(tbl[c].to_pylist() for c in tbl.column_names))
            if (fld, lf, v) == ("links", "anchor", "a1")
        )
        assert want and sorted(dset.to_table(filter=flt)["doc_id"].to_pylist()) == want


class TestMaintenance:
    def test_upsert_appends_and_kills(self, spark, tmp_path):
        from hail_elasticsearch_pipelines_spark.plans.maintenance import (
            compact_index,
            upsert_index,
        )

        out = str(tmp_path / "idx")
        pdf = gen_pages_pdf(np.arange(200))
        build_index(
            spark, _with_links(spark, pdf), out,
            docs_per_part=32, seg_group=2, n_term_buckets=8,
        )
        L0 = LocalSearcher(out)
        pre = set(L0.matched_ids("links.anchor:a1 AND the", "BOOL").tolist())
        assert pre
        # recrawl 40 urls with anchors moved to B*, plus 20 new docs
        re_pdf = gen_pages_pdf(np.arange(160, 220))
        h = F.crc32(F.col("url"))
        re_pages = spark.createDataFrame(re_pdf).withColumn(
            "links",
            F.array(
                F.struct(
                    F.concat(F.lit("B"), (h % 3).cast("string")).alias(
                        "anchor"
                    ),
                    F.lit("r9").alias("rel"),
                    F.lit(1).cast("long").alias("weight"),
                )
            ),
        )
        upsert_index(spark, out, re_pages)
        s, L = IndexSearcher(spark, out), LocalSearcher(out)
        # parity after extend; replaced docs answer only to their NEW objects
        a = sorted(r.doc_id for r in s.matched_ids("links.anchor:b1 AND the", "BOOL").collect())
        b = sorted(L.matched_ids("links.anchor:b1 AND the", "BOOL").tolist())
        assert a == b and a
        old_a1 = set(L.matched_ids("links.anchor:a1 AND the", "BOOL").tolist())
        new_b = set(L.matched_ids("links.anchor:b1 AND the", "BOOL").tolist())
        assert not old_a1 & new_b  # no doc matches both old and new shape
        # full compaction strips dead docs' nested rows physically
        compact_index(spark, out, factor=1)
        from hail_elasticsearch_pipelines_spark import layout

        m = layout.load_manifest(out)
        nd = spark.read.parquet(layout.table_path(out, "nested", m))
        dl = spark.read.parquet(layout.table_path(out, "doclens", m))
        orphan = nd.join(dl.select("doc_id"), "doc_id", "left_anti")
        assert orphan.count() == 0
        # queries unchanged by the compaction
        L2 = LocalSearcher(out)
        assert sorted(
            L2.matched_ids("links.anchor:b1 AND the", "BOOL").tolist()
        ) == a

    def test_batch_without_nested_column(self, spark, tmp_path):
        """ES docs-without-the-field: an extend batch lacking the nested
        column appends cleanly and contributes no nested rows."""
        from hail_elasticsearch_pipelines_spark.plans.maintenance import (
            extend_index,
        )

        out = str(tmp_path / "idx2")
        pdf = gen_pages_pdf(np.arange(120))
        build_index(
            spark, _with_links(spark, pdf), out,
            docs_per_part=32, seg_group=2, n_term_buckets=8,
        )
        pre = len(LocalSearcher(out).matched_ids("links.anchor:a1 AND the", "BOOL"))
        batch = gen_pages_pdf(np.arange(500, 540))
        extend_index(spark, out, spark.createDataFrame(batch), mode="create")
        L = LocalSearcher(out)
        assert L.n_docs > 120
        assert len(L.matched_ids("links.anchor:a1 AND the", "BOOL")) == pre


class TestPercolator:
    def test_nested_atom_rejected_loud(self, nested_index):
        out, _ = nested_index
        L = LocalSearcher(out)
        ast = bq.parse(
            "links.anchor:a1", nested_fields=nested_paths_of(L.manifest)
        )
        with pytest.raises(bq.QueryParseError, match="percolation"):
            bq.eval_doc(ast, ["the"], {})
