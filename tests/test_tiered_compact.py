"""Tiered compaction (Lucene tiered-merge analog vs forcemerge): only
small/tombstone-dirty postings files are rewritten; clean big files are
hardlinked into the new generation (same inode, no data copied)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.plans.maintenance import (
    compact_index,
    delete_by_query,
    extend_index,
)
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf


def _bucket_files(postings_dir: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for e in sorted(os.scandir(postings_dir), key=lambda x: x.name):
        if e.is_dir() and e.name.startswith("term_bucket="):
            out[e.name] = sorted(
                fn for fn in os.listdir(e.path) if fn.endswith(".parquet")
            )
    return out


@pytest.fixture(scope="module")
def fragmented_index(spark, tmp_path_factory):
    """Base build + 3 small extends → per-bucket file fragments."""
    out = str(tmp_path_factory.mktemp("tiered") / "idx")
    build_index(
        spark,
        spark.createDataFrame(gen_pages_pdf(np.arange(200))),
        out,
        docs_per_part=16,
        seg_group=2,
        n_term_buckets=4,
    )
    for lo in (200, 230, 260):
        batch = gen_pages_pdf(np.arange(lo, lo + 30))
        extend_index(
            spark, out, spark.createDataFrame(batch), mode="create",
            validation=None,
        )
    return out


QUERIES = [
    (["the", "term0042"], "OR"),
    (["the", "of"], "AND"),
    (["term0205", "term0262"], "OR"),
]


def test_tiered_consolidates_and_links(spark, fragmented_index, tmp_path):
    import shutil

    work = str(tmp_path / "idx")
    shutil.copytree(fragmented_index, work)
    m0 = load_manifest(work)
    old_dir = table_path(work, "postings", m0)
    files_before = _bucket_files(old_dir)
    n_before = sum(len(v) for v in files_before.values())
    # big-tier threshold between the base build's files (~200 docs per
    # bucket, the largest) and the 30-doc extension fragments: fragments
    # are the majority so the median is a fragment size, and base files
    # are ~6x bigger — 2x median separates the tiers
    sizes = sorted(
        os.path.getsize(os.path.join(old_dir, b, f))
        for b, fs in files_before.items()
        for f in fs
    )
    thresh = 2 * int(np.median(sizes))
    before = {
        (tuple(t), m): LocalSearcher(work).search(list(t), m, 20)
        for t, m in QUERIES
    }
    inodes_before = {
        (b, f): os.stat(os.path.join(old_dir, b, f)).st_ino
        for b, fs in files_before.items()
        for f in fs
        if os.path.getsize(os.path.join(old_dir, b, f)) >= thresh
    }
    m1 = compact_index(spark, work, policy="tiered", min_file_bytes=thresh)
    comp = m1["compactions"][-1]
    assert comp["policy"] == "tiered"
    assert comp["files_rewritten"] > 0 and comp["files_linked"] > 0
    new_dir = table_path(work, "postings", m1)
    assert new_dir != old_dir
    files_after = _bucket_files(new_dir)
    n_after = sum(len(v) for v in files_after.values())
    assert n_after < n_before  # fragments consolidated
    # untouched big files are hardlinks of the originals (same inode)
    for (b, f), ino in inodes_before.items():
        linked = os.path.join(new_dir, b, f)
        assert os.path.exists(linked), (b, f)
        assert os.stat(linked).st_ino == ino
    # results byte-identical pre/post (no tombstones involved)
    for (t, mode), exp in before.items():
        assert LocalSearcher(work).search(list(t), mode, 20) == exp
        got = [
            (r["doc_id"], r["score"])
            for r in IndexSearcher(spark, work)
            .search(list(t), mode, 20)
            .collect()
        ]
        assert got == exp


def _assert_n_terms_consistent(spark, index_dir):
    """termdict rows == distinct postings terms == manifest n_terms."""
    m = load_manifest(index_dir)
    td_rows = spark.read.parquet(table_path(index_dir, "termdict", m)).count()
    postings_terms = (
        spark.read.parquet(table_path(index_dir, "postings", m))
        .select("term")
        .distinct()
        .count()
    )
    assert td_rows == postings_terms == m["metrics"]["n_terms"], index_dir


def test_tiered_with_tombstones_equals_full_compact(
    spark, fragmented_index, tmp_path
):
    """Extends → upsert → delete_by_query → tombstones; tiered strip
    must leave the index in the same logical state as a full factor=1
    compaction: identical scores (termdict df delta exact) and zero
    tombstones.  After every op the termdict, the postings and the
    manifest agree on the term count."""
    import shutil

    tiered = str(tmp_path / "tiered")
    full = str(tmp_path / "full")
    shutil.copytree(fragmented_index, tiered)
    _assert_n_terms_consistent(spark, tiered)
    re_pdf = (
        gen_pages_pdf(np.arange(40)).drop_duplicates("url", keep="last").copy()
    )
    re_pdf["text"] = [
        f"replacementzz number {i} unique words here padd"
        for i in range(len(re_pdf))
    ]
    re_pdf["warc_ts"] = re_pdf["warc_ts"] + np.timedelta64(30, "D")
    extend_index(
        spark, tiered, spark.createDataFrame(re_pdf), mode="upsert",
        validation=None,
    )
    _assert_n_terms_consistent(spark, tiered)
    delete_by_query(spark, tiered, ["term0205"], mode="OR")
    _assert_n_terms_consistent(spark, tiered)
    shutil.copytree(tiered, full)

    mt = compact_index(spark, tiered, policy="tiered", min_file_bytes=1)
    _assert_n_terms_consistent(spark, tiered)
    mf = compact_index(spark, full, policy="full", factor=1)
    _assert_n_terms_consistent(spark, full)
    assert mt["metrics"]["n_tombstones"] == 0
    assert (
        mt["compactions"][-1]["tombstones_dropped"]
        == mf["compactions"][-1]["tombstones_dropped"]
        > 0
    )
    # termdict incremental fold == full recompute
    tdt = (
        spark.read.parquet(table_path(tiered, "termdict", mt))
        .select("term", "df", "cf")
        .orderBy("term")
        .collect()
    )
    tdf_ = (
        spark.read.parquet(table_path(full, "termdict", mf))
        .select("term", "df", "cf")
        .orderBy("term")
        .collect()
    )
    assert tdt == tdf_
    for t, mode in QUERIES + [(["replacementzz"], "OR")]:
        a = LocalSearcher(tiered).search(t, mode, 20)
        b = LocalSearcher(full).search(t, mode, 20)
        assert a == b, (t, mode)


def test_tiered_noop_when_everything_big(spark, fragmented_index, tmp_path):
    import shutil

    work = str(tmp_path / "idx")
    shutil.copytree(fragmented_index, work)
    g0 = load_manifest(work).get("generation", 0)
    m = compact_index(spark, work, policy="tiered", min_file_bytes=0)
    assert m["compactions"][-1]["files_rewritten"] == 0
    assert m.get("generation", 0) == g0  # nothing rewritten, no flip


def test_unknown_policy_raises(spark, fragmented_index):
    with pytest.raises(ValueError, match="policy"):
        compact_index(spark, fragmented_index, policy="nope")
