"""One on-disk format: ``layout.load_manifest`` is the single version
gate.  An index whose manifest carries any ``format_version`` other
than the current one (or none at all) is refused with
``IndexFormatError`` by both searchers, by reload, and by every
maintenance op — before anything is written to the index directory —
and ``build_index`` over it republishes in the current format.

Reference analog: ES refuses to open an index created by an
incompatible version and asks for a reindex."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.layout import (
    INDEX_FORMAT_VERSION,
    IndexFormatError,
    load_manifest,
)
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.plans.maintenance import (
    compact_index,
    delete_by_query,
    extend_index,
    upsert_index,
)
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

BUILD = dict(docs_per_part=10, seg_group=2, n_term_buckets=4)
# 5: the previous format; None: a manifest without format_version
OLD_VERSIONS = [5, None]


@pytest.fixture(scope="module")
def v6_index(spark, tiny_pages_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fmt") / "idx")
    build_index(spark, spark.createDataFrame(tiny_pages_pdf), out, **BUILD)
    return out


def _set_version(index_dir: str, version) -> None:
    path = os.path.join(index_dir, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    m.pop("format_version", None)
    if version is not None:
        m["format_version"] = version
    with open(path, "w") as f:
        json.dump(m, f)


def _old_copy(src: str, dst: str, version) -> str:
    shutil.copytree(src, dst)
    _set_version(dst, version)
    return dst


def _tree_state(index_dir: str) -> list:
    """Every entry under the index dir with its size and mtime."""
    out = []
    for root, dirs, files in os.walk(index_dir):
        for name in dirs + files:
            p = os.path.join(root, name)
            st = os.stat(p)
            out.append((os.path.relpath(p, index_dir), st.st_size, st.st_mtime_ns))
    return sorted(out)


@pytest.mark.parametrize("version", OLD_VERSIONS)
def test_searchers_refuse_old_format(spark, v6_index, tmp_path, version):
    out = _old_copy(v6_index, str(tmp_path / "old"), version)
    before = _tree_state(out)
    with pytest.raises(IndexFormatError, match="rebuild it with build_index"):
        load_manifest(out)
    with pytest.raises(IndexFormatError):
        IndexSearcher(spark, out)
    with pytest.raises(IndexFormatError):
        LocalSearcher(out)
    assert _tree_state(out) == before


def test_reload_refuses_old_format(spark, v6_index, tmp_path):
    """A searcher opened on a current index refuses to advance to a
    manifest in another format."""
    out = str(tmp_path / "idx")
    shutil.copytree(v6_index, out)
    s, ls = IndexSearcher(spark, out), LocalSearcher(out)
    _set_version(out, 5)
    with pytest.raises(IndexFormatError):
        s.reload_manifest()
    with pytest.raises(IndexFormatError):
        ls.reload()


@pytest.mark.parametrize("version", OLD_VERSIONS)
def test_maintenance_refuses_old_format(spark, v6_index, tmp_path, version):
    out = _old_copy(v6_index, str(tmp_path / "old"), version)
    before = _tree_state(out)
    batch = spark.createDataFrame(gen_pages_pdf(np.arange(25, 40)))
    with pytest.raises(IndexFormatError):
        extend_index(spark, out, batch, mode="create")
    with pytest.raises(IndexFormatError):
        upsert_index(spark, out, batch)
    with pytest.raises(IndexFormatError):
        delete_by_query(spark, out, ["the"], mode="OR")
    with pytest.raises(IndexFormatError):
        compact_index(spark, out)
    with pytest.raises(IndexFormatError):
        compact_index(spark, out, policy="tiered")
    assert _tree_state(out) == before, "a refused op must write nothing"


def test_build_index_republishes_over_old_format(spark, v6_index, tiny_pages_pdf, tmp_path):
    out = _old_copy(v6_index, str(tmp_path / "old"), 5)
    m = build_index(spark, spark.createDataFrame(tiny_pages_pdf), out, **BUILD)
    assert m["format_version"] == INDEX_FORMAT_VERSION
    assert load_manifest(out)["format_version"] == INDEX_FORMAT_VERSION
    assert IndexSearcher(spark, out).search(["the"], "OR", 5).count() == 5
