"""Crash-window reconciliation (ADVICE r4): repair must fix PRIMARY
tables, not just derived state.

Three windows, each simulated by failing the exact call that ends it:
  * postings appended, doclens append crashed → the batch's orphan
    postings files must be DROPPED (else the retry re-appends the same
    ids and every query on those terms hits the duplicate-row check);
  * tombstones published, manifest save crashed → ``deletes_epoch``
    must advance to the max file epoch on disk (else epoch-pinned
    searchers and the next compaction never see those tombstones and
    the replaced docs are resurrected forever);
  * facet-update rewrite ran, manifest save crashed → the retry must
    not reuse the attempt's staging dir (executor caches keyed by it
    would serve the FIRST attempt's slices to the retry's tasks).

Reference analog: ES translog replay reconciles primaries after a
crash before the engine trusts derived state
(hail_scripts/v02/utils/elasticsearch_client.py:106-113 relies on it).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
from hail_elasticsearch_pipelines_spark.operators.bm25 import (
    IndexSearcher,
    load_deletes,
)
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.plans import maintenance as mt
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf
from test_upsert import _dedup, _recrawl_pdf


@pytest.fixture()
def built(spark, tmp_path):
    out = str(tmp_path / "idx")
    base = gen_pages_pdf(np.arange(120))
    build_index(
        spark,
        spark.createDataFrame(base),
        out,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    return out, base


def _url_scores(searcher, terms, k=500):
    return {
        (r["url"], round(r["score"], 10))
        for r in searcher.with_source(
            searcher.search(terms, "OR", k, algo="exhaustive")
        ).collect()
    }


def test_crash_before_doclens_append_drops_orphan_batch(
    spark, built, monkeypatch, tmp_path
):
    """Postings landed, doclens never did: repair must drop the orphan
    postings files so the retry (which recomputes id_base from doclens)
    cannot create duplicate (term, segment) rows — and the retried
    index must equal a fresh build of the union corpus."""
    import pyspark.sql.readwriter as rw

    out, base = built
    batch = gen_pages_pdf(np.arange(300, 340))
    doclens_path = table_path(out, "doclens")
    orig = rw.DataFrameWriter.parquet

    def crash_on_doclens(self, path, *a, **kw):
        if os.path.abspath(path) == os.path.abspath(doclens_path):
            raise RuntimeError("simulated crash pre-doclens-append")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", crash_on_doclens)
    with pytest.raises(RuntimeError, match="pre-doclens"):
        mt.extend_index(spark, out, spark.createDataFrame(batch), mode="create")
    monkeypatch.undo()
    assert mt._intent_markers(out), "crash must leave an intent marker"

    # retry: repair reconciles (drops the orphan files), then the batch
    # appends cleanly under fresh ids
    m = mt.extend_index(spark, out, spark.createDataFrame(batch), mode="create")
    assert not mt._intent_markers(out)
    recon = m["repairs"][-1]["reconciled"]
    assert recon is not None and recon["orphan_postings_files"] > 0
    assert recon["orphan_doclens_rows"] == 0

    out2 = str(tmp_path / "fresh_union")
    build_index(
        spark,
        spark.createDataFrame(
            pd.concat([base, batch], ignore_index=True)
        ),
        out2,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    s1, s2 = IndexSearcher(spark, out), IndexSearcher(spark, out2)
    for terms in (["the"], ["the", "of"], ["term0042"]):
        assert _url_scores(s1, terms) == _url_scores(s2, terms), terms


@pytest.mark.parametrize(
    "payload", ["", '{"mode": "delete_by'], ids=["empty", "truncated"]
)
def test_torn_intent_marker_drops_nothing(spark, built, payload):
    """Intent markers are written before any append, so a marker that
    does not parse comes from a crash while it was being written:
    repair must treat it as "nothing appended" and keep every doc —
    even for the id_base=0 name delete_by_query uses, where reading it
    as an incomplete batch would drop the whole index."""
    out, base = built
    s0 = IndexSearcher(spark, out)
    queries = (["the"], ["term0042"])
    before = [_url_scores(s0, t) for t in queries]
    os.makedirs(os.path.join(out, "stages"), exist_ok=True)
    with open(os.path.join(out, "stages", "_EXTEND_INTENT_0"), "w") as f:
        f.write(payload)
    m = mt.repair_index(spark, out)
    assert not mt._intent_markers(out)
    assert m["globals"]["n_docs"] == base["url"].nunique()
    s1 = IndexSearcher(spark, out)
    assert [_url_scores(s1, t) for t in queries] == before


def test_crash_after_tombstone_publish_advances_epoch(
    spark, built, monkeypatch, tmp_path
):
    """Tombstones on disk at e1, manifest still at epoch 0: repair must
    advance deletes_epoch so searchers and the following compaction see
    them — the replaced docs must not resurrect as ghost hits."""
    out, base = built
    recrawl = _recrawl_pdf(np.arange(10))

    def crash(*a, **k):
        raise RuntimeError("simulated crash pre-manifest-save")

    monkeypatch.setattr(mt, "_save_manifest", crash)
    with pytest.raises(RuntimeError, match="pre-manifest"):
        mt.upsert_index(spark, out, spark.createDataFrame(recrawl))
    monkeypatch.undo()

    # on-disk state: e1- tombstone files, manifest epoch still 0
    assert int(load_manifest(out).get("deletes_epoch", 0)) == 0
    deletes_dir = table_path(out, "deletes")
    e1_files = [
        fn
        for e in os.listdir(deletes_dir)
        if e.startswith("segment=")
        for fn in os.listdir(os.path.join(deletes_dir, e))
        if fn.startswith("e1-")
    ]
    assert e1_files, "upsert must have published e1-prefixed tombstones"
    assert mt._intent_markers(out)

    # next op repairs (epoch advance) then compacts (physical strip)
    m = mt.compact_index(spark, out)
    assert not mt._intent_markers(out)
    assert m["compactions"][-1]["tombstones_dropped"] == 10

    # no ghosts: results equal a fresh build of the replaced corpus
    out2 = str(tmp_path / "fresh_replaced")
    build_index(
        spark,
        spark.createDataFrame(
            _dedup(pd.concat([base, recrawl], ignore_index=True))
        ),
        out2,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    s1, s2 = IndexSearcher(spark, out), IndexSearcher(spark, out2)
    for terms in (["the"], ["the", "of"]):
        got = _url_scores(s1, terms)
        assert len({u for u, _ in got}) == len(got), "duplicate url = ghost"
        assert got == _url_scores(s2, terms), terms


def test_facet_retry_after_crash_uses_fresh_staging(spark, built, monkeypatch):
    """A crashed update_facet_field attempt must not poison the retry
    through the executor-side sidecar cache: the retry re-tags to a
    DIFFERENT value and only that value may appear."""
    out, base = built
    en_urls = sorted(base[base["lang"] == "en"]["url"].unique())[:10]

    def upd(value):
        return spark.createDataFrame(
            pd.DataFrame({"url": en_urls, "new_value": [value] * len(en_urls)})
        )

    def crash(*a, **k):
        raise RuntimeError("simulated crash pre-manifest-save")

    monkeypatch.setattr(mt, "_save_manifest", crash)
    with pytest.raises(RuntimeError, match="pre-manifest"):
        mt.update_facet_field(spark, out, "lang", upd("zz"))
    monkeypatch.undo()

    mt.update_facet_field(spark, out, "lang", upd("yy"))
    s = LocalSearcher(out)
    got_yy = s.search_bool("the AND lang:yy", k=500)
    got_zz = s.search_bool("the AND lang:zz", k=500)
    assert got_yy, "retry's value must be queryable"
    assert got_zz == [], "crashed attempt's value leaked into the retry"


def test_load_deletes_pinned_manifest_resolution(spark, built):
    """load_deletes must resolve the deletes dir through the CALLER'S
    manifest: a searcher pinned pre-compaction keeps seeing its
    tombstones even after compaction flips deletes to an empty dir."""
    out, _base = built
    mt.upsert_index(
        spark, out, spark.createDataFrame(_recrawl_pdf(np.arange(5)))
    )
    pinned = load_manifest(out)
    assert int(pinned["deletes_epoch"]) >= 1
    mt.compact_index(spark, out)  # flips deletes to a fresh empty dir

    old = load_deletes(
        out, epoch=int(pinned["deletes_epoch"]), manifest=pinned
    )
    assert sum(len(v) for v in old.values()) == 5
    assert load_deletes(out) == {}  # latest manifest: emptied
