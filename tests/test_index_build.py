"""End-to-end index build correctness vs the single-process oracle.

Reference analog: golden-output tests over the 30-variant fixture with
exact aggregation assertions (tests/model/test_seqr_mt_schema.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hail_elasticsearch_pipelines_spark.functions import codecs
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index


def _load_postings(spark, index_dir):
    rows = spark.read.parquet(f"{index_dir}/postings").collect()
    merged: dict[str, list] = {}
    for r in rows:
        merged.setdefault(r["term"], []).append(r)
    out = {}
    for term, rs in merged.items():
        rs = sorted(rs, key=lambda r: r["min_doc"])
        docs, tfs, dls = [], [], []
        for r in rs:
            d, t, dl = codecs.decode_postings(bytes(r["blob"]))
            docs.append(d)
            tfs.append(t)
            dls.append(dl)
        out[term] = (
            np.concatenate(docs),
            np.concatenate(tfs),
            np.concatenate(dls),
            sum(r["df"] for r in rs),
            sum(r["cf"] for r in rs),
        )
    return out


def test_dedup_latest_wins(spark, small_index, small_oracle, small_pages_pdf):
    index_dir, manifest = small_index
    _, deduped_pdf = small_oracle
    assert manifest["metrics"]["docs_indexed"] == len(deduped_pdf)
    dup_urls = small_pages_pdf[small_pages_pdf.url.duplicated()].url.tolist()
    assert dup_urls, "fixture must contain re-crawled urls"
    doclens = spark.read.parquet(f"{index_dir}/doclens")
    assert doclens.count() == len(deduped_pdf)
    assert doclens.select("url").distinct().count() == len(deduped_pdf)


def test_doc_ids_dense_and_url_ordered(spark, small_index, small_oracle):
    index_dir, _ = small_index
    _, deduped_pdf = small_oracle
    rows = spark.read.parquet(f"{index_dir}/doclens").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == list(range(len(deduped_pdf)))
    urls = [r["url"] for r in rows]
    assert urls == sorted(urls)


def test_postings_match_oracle(spark, small_index, small_oracle):
    index_dir, manifest = small_index
    oracle, _ = small_oracle
    got = _load_postings(spark, index_dir)
    assert set(got.keys()) == set(oracle.postings.keys())
    # probe every term: exact doc_ids, tfs, dls, df, cf
    for term, (docs, tfs, dls, df, cf) in got.items():
        odocs, otfs = oracle.posting(term)
        np.testing.assert_array_equal(docs, odocs)
        np.testing.assert_array_equal(tfs, otfs)
        np.testing.assert_array_equal(dls, [oracle.doc_len[d] for d in odocs])
        assert df == len(odocs)
        assert cf == sum(otfs)
        assert (np.diff(docs) > 0).all() if len(docs) > 1 else True


def test_globals_and_metrics(small_index, small_oracle):
    _, manifest = small_index
    oracle, _ = small_oracle
    g = manifest["globals"]
    assert g["n_docs"] == oracle.n_docs
    assert g["avgdl"] == pytest.approx(oracle.avgdl, rel=0, abs=0)
    m = manifest["metrics"]
    assert m["postings_emitted"] == sum(len(p) for p in oracle.postings.values())
    assert m["bytes_compressed"] > 0
    assert m["n_terms"] == len(oracle.postings)


def test_merge_determinism_across_chunking(spark, small_pages_df, tmp_path, small_index):
    """Same params, different chunking → byte-identical postings
    (idempotent merge, SURVEY §7 'what's hard' (d))."""
    index_dir, _ = small_index

    def snapshot(d):
        rows = spark.read.parquet(f"{d}/postings").collect()
        return sorted(
            (r["term"], r["segment"], r["df"], r["cf"], bytes(r["blob"])) for r in rows
        )

    out2 = str(tmp_path / "idx_chunked")
    build_index(
        spark, small_pages_df.repartition(7), out2,
        docs_per_part=37, seg_group=2, n_term_buckets=8, n_chunks=3,
    )
    assert snapshot(index_dir) == snapshot(out2)


def test_build_partials_nonpositive_partitions_means_default(spark, tiny_pages_pdf):
    """num_partitions <= 0 falls back to the default parallelism, like
    None, and builds the same postings."""
    from hail_elasticsearch_pipelines_spark.operators.index_build import (
        build_partials,
        docs_with_ids_fused,
        extract_pages,
    )

    docs = docs_with_ids_fused(extract_pages(spark.createDataFrame(tiny_pages_pdf)))

    def digest(num_partitions):
        rows = build_partials(docs, 10, 2, num_partitions=num_partitions).collect()
        return sorted(
            (r["term"], r["segment"], r["df"], r["cf"], bytes(r["blob"])) for r in rows
        )

    expected = digest(None)
    assert expected
    assert digest(0) == expected
    assert digest(-1) == expected


def test_content_determinism_across_part_width(spark, small_pages_df, tmp_path, small_index, small_oracle):
    """Different docs_per_part → same logical index content."""
    oracle, _ = small_oracle
    out2 = str(tmp_path / "idx_width")
    build_index(
        spark, small_pages_df, out2, docs_per_part=100, seg_group=3, n_term_buckets=4
    )
    got = _load_postings(spark, out2)
    assert set(got) == set(oracle.postings)
    for term in got:
        odocs, otfs = oracle.posting(term)
        np.testing.assert_array_equal(got[term][0], odocs)
        np.testing.assert_array_equal(got[term][1], otfs)


def test_term_bucket_pruning_plan(spark, small_index):
    """Term lookups must prune to the term's bucket partition."""
    index_dir, _ = small_index
    from hail_elasticsearch_pipelines_spark.operators.index_build import term_bucket

    postings = spark.read.parquet(f"{index_dir}/postings")
    b = term_bucket("the", 8)
    plan = (
        postings.filter((F.col("term_bucket") == b) & (F.col("term") == "the"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "term_bucket" in plan
