"""Generation-pointer publish: maintenance ops must be ATOMIC for
concurrent readers — a searcher sees the whole pre-op index or the
whole post-op index, never a mix (r3 verdict item 1).

Reference analog: ES alias/routing swap + staged loading nodes give the
reference atomic visibility for re-exports
(hail_scripts/shared/elasticsearch_client_v7.py:109-149,
luigi_pipeline/lib/hail_tasks.py:230-244); here a one-file manifest
replace flips every rewritten table's generation pointer at once.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
import pytest

from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.plans.maintenance import (
    compact_index,
    extend_index,
    update_facet_field,
    upsert_index,
)
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf
from test_upsert import _recrawl_pdf


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


def _retag(spark, out, base, n=10, value="zz"):
    en_urls = sorted(base[base["lang"] == "en"]["url"].unique())[:n]
    upd = spark.createDataFrame(
        pd.DataFrame({"url": en_urls, "new_value": [value] * len(en_urls)})
    )
    return update_facet_field(spark, out, "lang", upd), en_urls


def test_update_facet_field_pinned_searcher_sees_old_then_new(spark, built):
    out, base = built
    pre = LocalSearcher(out)
    pre_en = pre.search_bool("the AND lang:en", k=500)
    pre_zz = pre.search_bool("the AND lang:zz", k=500)
    assert pre_zz == []

    m, en_urls = _retag(spark, out, base)
    assert m["updates"][-1]["docs_updated"] == len(en_urls)
    assert m["generation"] >= 1

    # pinned searcher: EXACT pre-op results (old generation dirs intact)
    assert pre.search_bool("the AND lang:en", k=500) == pre_en
    assert pre.search_bool("the AND lang:zz", k=500) == []

    # reload: complete post-op state; a fresh searcher agrees
    assert pre.reload() is True
    post = LocalSearcher(out)
    new_zz = post.search_bool("the AND lang:zz", k=500)
    assert new_zz and pre.search_bool("the AND lang:zz", k=500) == new_zz
    assert pre.reload() is False  # unchanged manifest → caches kept

    # BM25 scoring is untouched by a facet retag
    assert post.search(["the"], "OR", 30) == pre.search(["the"], "OR", 30)


def test_compact_pinned_searchers_see_old_then_new(spark, built):
    out, base = built
    upsert_index(spark, out, spark.createDataFrame(_recrawl_pdf(np.arange(5, 25))))
    pre_local = LocalSearcher(out)
    pre_dist = IndexSearcher(spark, out)
    pre_res = pre_local.search(["the"], "OR", 30)
    pre_dist_res = [
        (r["doc_id"], r["score"])
        for r in pre_dist.search(["the"], "OR", 30).collect()
    ]

    compact_index(spark, out, factor=2)

    # pinned searchers keep serving the pre-compaction snapshot
    # (old postings generation + old deletes dir still on disk)
    assert pre_local.search(["the"], "OR", 30) == pre_res
    assert [
        (r["doc_id"], r["score"])
        for r in pre_dist.search(["the"], "OR", 30).collect()
    ] == pre_dist_res

    # reload → post-compaction state (df/cf exact again, so scores —
    # and thus the top-k set — may legitimately change; both reloaded
    # searchers must agree exactly with a fresh post-state searcher)
    pre_local.reload()
    pre_dist.reload_manifest()
    post_res = pre_local.search(["the"], "OR", 30)
    assert LocalSearcher(out).search(["the"], "OR", 30) == post_res
    assert [
        (r["doc_id"], r["score"])
        for r in pre_dist.search(["the"], "OR", 30).collect()
    ] == post_res


def test_extend_pinned_searcher_keeps_old_global_df_until_reload(spark, built):
    """Global df is read on the driver from the searcher's termdict, so
    that read must be pinned like the postings: after an extend changes
    df("the"), a searcher built before it keeps the pre-extend df and
    the bit-identical pre-extend top-k until reload_manifest()."""
    out, _ = built
    pre = IndexSearcher(spark, out)
    pre_df = pre.global_dfs(["the"])

    def top(s):
        return [(r["doc_id"], r["score"]) for r in s.search(["the"], "OR", 30).collect()]

    pre_res = top(pre)

    extend_index(spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(120, 180))))
    fresh = IndexSearcher(spark, out)
    assert fresh.global_dfs(["the"])["the"] > pre_df["the"]

    assert pre.global_dfs(["the"]) == pre_df
    assert top(pre) == pre_res

    pre.reload_manifest()
    assert pre.global_dfs(["the"]) == fresh.global_dfs(["the"])
    assert top(pre) == top(fresh) == LocalSearcher(out).search(["the"], "OR", 30)


def test_upsert_pinned_searcher_keeps_old_doc_until_reload(spark, built):
    """Epoch-pinned deletes: an upsert's tombstones must NOT make the
    old doc vanish from a searcher constructed before the upsert (its
    replacement isn't visible there either) — no mixed state."""
    out, base = built
    pre = LocalSearcher(out)
    k = 400
    pre_ids = {d for d, _ in pre.search(["the"], "OR", k)}

    m = upsert_index(
        spark, out, spark.createDataFrame(_recrawl_pdf(np.arange(5, 15)))
    )
    assert m["extensions"][-1]["docs_tombstoned"] == 10

    # pinned: identical visible doc set (old docs alive, new invisible)
    assert {d for d, _ in pre.search(["the"], "OR", k)} == pre_ids

    # reload: tombstoned docs gone, replacements visible
    assert pre.reload() is True
    post_ids = {d for d, _ in pre.search(["the"], "OR", k)}
    from hail_elasticsearch_pipelines_spark.operators.bm25 import load_deletes

    dead = {int(i) for v in load_deletes(out).values() for i in v}
    assert dead and not (post_ids & dead)
    id_base = m["extensions"][-1]["id_base"]
    assert any(d >= id_base for d in post_ids)


def test_queries_concurrent_with_compact_see_old_or_new_only(spark, built):
    """Compact twin of the update hammer test: queries racing a
    compaction (which rewrites postings+doclens+termdict and empties
    the deletes pointer in ONE flip) must each equal the pre- or
    post-state result set — never stripped postings with un-stripped
    stats or vice versa."""
    out, base = built
    upsert_index(spark, out, spark.createDataFrame(_recrawl_pdf(np.arange(5, 25))))
    pre = LocalSearcher(out)
    pre_res = tuple(pre.search(["the"], "OR", 40))
    stop = threading.Event()
    observed, errors = [], []

    def hammer():
        while not stop.is_set():
            try:
                s = LocalSearcher(out)
                observed.append(tuple(s.search(["the"], "OR", 40)))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

    t = threading.Thread(target=hammer)
    t.start()
    try:
        compact_index(spark, out, factor=2)
    finally:
        stop.set()
        t.join(timeout=60)
    post_res = tuple(LocalSearcher(out).search(["the"], "OR", 40))
    assert errors == []
    assert observed
    for got in observed:
        assert got in (pre_res, post_res), "mixed-state result during compact"


def test_gc_grace_period_removes_previous_generation(spark, built):
    out, base = built
    _retag(spark, out, base)
    m = load_manifest(out)
    assert m["tables"]["postings"].startswith("postings-g")
    # previous generation (plain dirs) still on disk — grace period
    assert os.path.isdir(os.path.join(out, "postings"))
    assert os.path.isdir(os.path.join(out, "termdict"))

    # next maintenance op GC's them
    extend_index(
        spark,
        out,
        spark.createDataFrame(gen_pages_pdf(np.arange(200, 210))),
        mode="create",
    )
    assert not os.path.isdir(os.path.join(out, "postings"))
    assert not os.path.isdir(os.path.join(out, "termdict"))
    # current generation intact and serving
    assert LocalSearcher(out).search(["the"], "OR", 5)


def test_crash_before_manifest_flip_leaves_index_intact(
    spark, built, monkeypatch
):
    """Crash AFTER a maintenance op wrote its new generation dirs but
    BEFORE the atomic manifest flip: readers keep serving the complete
    old state; the orphan generation dirs are GC'd by the next op; a
    retry of the op succeeds."""
    from hail_elasticsearch_pipelines_spark import layout
    from hail_elasticsearch_pipelines_spark.plans import maintenance as mt

    out, base = built
    pre = LocalSearcher(out).search(["the"], "OR", 20)
    pre_gen = int(load_manifest(out).get("generation", 0))

    boom = RuntimeError("simulated crash before manifest flip")

    def crash(*a, **k):
        raise boom

    monkeypatch.setattr(mt, "_save_manifest", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _retag(spark, out, base)
    monkeypatch.undo()

    # manifest never flipped: same generation, same results, and the
    # orphan generation dirs are present but unreferenced
    m = load_manifest(out)
    assert int(m.get("generation", 0)) == pre_gen
    assert LocalSearcher(out).search(["the"], "OR", 20) == pre
    orphans = [
        e
        for e in os.listdir(out)
        if e.startswith(("postings-g", "termdict-g", "doclens-g"))
        and e not in m.get("tables", {}).values()
    ]
    assert orphans, "crashed op should have left unreferenced gen dirs"

    # retry: the generation counter never advanced, so the retry reuses
    # the SAME gen names — it must overwrite the crashed attempt's
    # orphan dirs cleanly (Spark overwrite + re-hardlink) and publish
    m2, en_urls = _retag(spark, out, base)
    assert m2["updates"][-1]["docs_updated"] == len(en_urls)
    live_now = set(load_manifest(out)["tables"].values())
    assert set(orphans) & live_now, "retry should adopt the orphan gen names"
    post = LocalSearcher(out)
    assert post.search_bool("the AND lang:zz", k=50)
    # scores unchanged by the retag → equal to the pre-crash results
    assert post.search(["the"], "OR", 20) == pre


def test_crash_mid_extend_repaired_on_next_op(spark, built, monkeypatch, tmp_path):
    """Crash AFTER extend's in-place postings/doclens appends but
    BEFORE the termdict/manifest update: the intent marker makes the
    next maintenance op repair derived state (termdict + globals from
    the primary tables), after which the retry is exact — scores equal
    a fresh build of the union corpus per url (a naive retry would
    anti-join the half-appended docs away and leave df/n_docs stale
    forever)."""
    from hail_elasticsearch_pipelines_spark.plans import maintenance as mt

    out, base = built
    batch = gen_pages_pdf(np.arange(200, 240))

    def crash(*a, **k):
        raise RuntimeError("simulated crash mid-extend")

    monkeypatch.setattr(mt, "_update_termdict", crash)
    with pytest.raises(RuntimeError, match="mid-extend"):
        extend_index(spark, out, spark.createDataFrame(batch), mode="create")
    monkeypatch.undo()
    assert mt._intent_markers(out), "crash must leave an intent marker"

    # retry: repair runs first (marker consumed), then the batch is
    # recognized as fully live
    m = extend_index(spark, out, spark.createDataFrame(batch), mode="create")
    assert not mt._intent_markers(out)
    assert m.get("repairs"), "repair must be recorded"

    # exactness: globals and per-url scores equal a FRESH build of the
    # union corpus (ids differ — urls are the identity)
    import pandas as pd

    union = pd.concat([base, batch], ignore_index=True)
    out2 = str(tmp_path / "fresh_union")
    m2 = build_index(
        spark,
        spark.createDataFrame(union),
        out2,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    assert m["globals"]["n_docs"] == m2["globals"]["n_docs"]
    assert m["globals"]["total_tokens"] == m2["globals"]["total_tokens"]
    s1, s2 = IndexSearcher(spark, out), IndexSearcher(spark, out2)
    for terms in (["the"], ["the", "of"], ["term0042"]):
        a = {
            (r["url"], round(r["score"], 10))
            for r in s1.with_source(
                s1.search(terms, "OR", 25, algo="exhaustive")
            ).collect()
        }
        b = {
            (r["url"], round(r["score"], 10))
            for r in s2.with_source(
                s2.search(terms, "OR", 25, algo="exhaustive")
            ).collect()
        }
        assert a == b, terms


def test_hardlinked_buckets_share_inodes(spark, built):
    """update_facet_field must not copy unaffected buckets — their files
    ride into the new generation as hardlinks (same inode)."""
    out, base = built
    old_postings = table_path(out, "postings")
    old_inodes = {}
    for entry in os.listdir(old_postings):
        if entry.startswith("term_bucket="):
            d = os.path.join(old_postings, entry)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    old_inodes[(entry, fn)] = os.stat(os.path.join(d, fn)).st_ino
    _retag(spark, out, base)
    new_postings = table_path(out, "postings")
    assert new_postings != old_postings
    shared = 0
    for (entry, fn), ino in old_inodes.items():
        p = os.path.join(new_postings, entry, fn)
        if os.path.exists(p) and os.stat(p).st_ino == ino:
            shared += 1
    assert shared > 0, "no hardlinked unaffected buckets found"


def test_queries_concurrent_with_update_see_old_or_new_only(spark, built):
    """The r3 verdict's done-criterion: queries racing an
    update_facet_field must each equal the pre-state or the post-state
    oracle — never a doc matching neither facet value.  Fresh
    LocalSearchers are constructed in a loop on another thread while
    the update runs (each pins whatever manifest it loads)."""
    out, base = built
    pre = LocalSearcher(out)
    pre_en = pre.search_bool("the AND lang:en", k=500)
    stop = threading.Event()
    observed, errors = [], []

    def hammer():
        while not stop.is_set():
            try:
                s = LocalSearcher(out)
                en = s.search_bool("the AND lang:en", k=500)
                zz = s.search_bool("the AND lang:zz", k=500)
                observed.append((tuple(en), tuple(zz)))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

    t = threading.Thread(target=hammer)
    t.start()
    try:
        _m, en_urls = _retag(spark, out, base)
    finally:
        stop.set()
        t.join(timeout=60)
    post = LocalSearcher(out)
    post_en = post.search_bool("the AND lang:en", k=500)
    post_zz = post.search_bool("the AND lang:zz", k=500)
    assert errors == []
    assert observed, "query thread never completed a query"
    pre_state = (tuple(pre_en), ())
    post_state = (tuple(post_en), tuple(post_zz))
    for got in observed:
        assert got in (pre_state, post_state), (
            "mixed-state result observed during update"
        )
