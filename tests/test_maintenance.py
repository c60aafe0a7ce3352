"""Incremental append (extend_index), segment compaction (compact_index)
and the batch query API (search_many): results must stay rank- and
score-identical to a pure-Python oracle over the union corpus.

Reference analogs: ES update/upsert write ops (hail_scripts/shared/
elasticsearch_utils.py:11-17) and post-load forcemerge
(hail_scripts/v02/utils/elasticsearch_client.py:214)."""

from __future__ import annotations

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.functions.extract import py_extract_text
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.oracle import OracleIndex
from hail_elasticsearch_pipelines_spark.plans.maintenance import (
    compact_index,
    extend_index,
)
from hail_elasticsearch_pipelines_spark.sources.corpus import (
    gen_pages_pdf,
    reference_queries,
)

QUERIES = [q for q in reference_queries() if q["query_id"] in ("q001", "q002", "q005", "q010")]


def _oracle_for(pdfs):
    import pandas as pd

    pdf = pd.concat(pdfs, ignore_index=True)
    pdf = pdf.sort_values("warc_ts").drop_duplicates("url", keep="last")
    pdf = pdf.sort_values("url").reset_index(drop=True)
    return pdf


def _assert_match(got_rows, expected):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == es, f"score mismatch for doc {gd}"


@pytest.fixture(scope="module")
def extended_index(spark, tmp_path_factory):
    """Index built on docs 0..199, then EXTENDED with docs 200..299."""
    out = str(tmp_path_factory.mktemp("ext") / "idx")
    base = gen_pages_pdf(np.arange(200))
    extra = gen_pages_pdf(np.arange(200, 300))
    build_index(
        spark,
        spark.createDataFrame(base),
        out,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    manifest = extend_index(spark, out, spark.createDataFrame(extra))
    return out, manifest, base, extra


def _union_docs(base, extra, id_base):
    """Doc-id → text over the union corpus, with ids matching the
    engine's: base urls keep their 0..N-1 url-order ids; appended urls
    get ids id_base + (url rank within the new batch)."""
    base_pdf = _oracle_for([base])
    extra_pdf = _oracle_for([extra])
    # drop urls already indexed (extend_index anti-joins them)
    extra_pdf = extra_pdf[~extra_pdf["url"].isin(set(base_pdf["url"]))]
    docs = {}
    for i, row in base_pdf.reset_index(drop=True).iterrows():
        t = row["text"] if row["text"] is not None else py_extract_text(row["html"])
        docs[i] = t
    for j, row in extra_pdf.sort_values("url").reset_index(drop=True).iterrows():
        t = row["text"] if row["text"] is not None else py_extract_text(row["html"])
        docs[id_base + j] = t
    return docs


def _expected_topk(base, extra, id_base, q):
    oracle = OracleIndex(_union_docs(base, extra, id_base))
    return oracle.topk(q["terms"], q["mode"], q["k"])


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: q["query_id"])
def test_extend_index_rank_identical(spark, extended_index, q):
    out, manifest, base, extra = extended_index
    id_base = manifest["extensions"][0]["id_base"]
    s = IndexSearcher(spark, out)
    got = s.search(q["terms"], q["mode"], q["k"], algo="exhaustive").collect()
    _assert_match(got, _expected_topk(base, extra, id_base, q))
    # bmw path must stay identical too (query-time block bounds absorb
    # the avgdl shift)
    if q["mode"] == "OR":
        got_bmw = s.search(q["terms"], q["mode"], q["k"], algo="bmw").collect()
        _assert_match(got_bmw, _expected_topk(base, extra, id_base, q))


def test_extend_index_globals(extended_index):
    out, manifest, base, extra = extended_index
    base_n = len(_oracle_for([base]))
    extra_urls = set(_oracle_for([extra])["url"]) - set(_oracle_for([base])["url"])
    assert manifest["globals"]["n_docs"] == base_n + len(extra_urls)
    assert manifest["extensions"][0]["docs_added"] == len(extra_urls)


def test_extend_is_idempotent_for_seen_urls(spark, extended_index):
    out, manifest, base, extra = extended_index
    before = manifest["globals"]["n_docs"]
    m2 = extend_index(spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(50))))
    assert m2["globals"]["n_docs"] == before  # all urls already indexed


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: q["query_id"])
def test_compact_preserves_results(spark, extended_index, q, tmp_path):
    out, _, base, extra = extended_index
    s = IndexSearcher(spark, out)
    before = s.search(q["terms"], q["mode"], q["k"]).collect()
    manifest = compact_index(spark, out, factor=4)
    s.reload_manifest()
    after = s.search(q["terms"], q["mode"], q["k"]).collect()
    _assert_match(after, [(r["doc_id"], r["score"]) for r in before])
    if q["mode"] == "OR":
        after_bmw = s.search(q["terms"], q["mode"], q["k"], algo="bmw").collect()
        _assert_match(after_bmw, [(r["doc_id"], r["score"]) for r in before])
    assert manifest["metrics"]["n_segments"] <= max(
        1, manifest["metrics"]["posting_rows"]
    )


def test_phrase_after_extend(spark, extended_index):
    """Positional postings from appended segments participate in phrase
    queries; phrase results match the union-corpus oracle."""
    out, manifest, base, extra = extended_index
    id_base = manifest["extensions"][0]["id_base"]
    s = IndexSearcher(spark, out)
    phrase = ["the", "of"]
    got = [(r["doc_id"], r["score"]) for r in s.search_phrase(phrase, k=10).collect()]
    docs = _union_docs(base, extra, id_base)
    expected = OracleIndex(docs).phrase_topk(phrase, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == es, gd


def test_extend_unaligned_segment_boundary(spark, tmp_path):
    """Regression (round-2 advice): when the base corpus's last part is
    NOT the last part of its segment, appended ids must still open a NEW
    segment.  With part-boundary-only alignment, appended rows shared a
    (term, segment) key with existing rows and every query-side scorer's
    postings[term] dict silently clobbered one of them — docs vanished
    from results.  base=180 docs / dpp=37 / seg_group=2 reproduces the
    misalignment (max part 4 is the first part of segment 2)."""
    out = str(tmp_path / "idx")
    base = gen_pages_pdf(np.arange(180))
    extra = gen_pages_pdf(np.arange(180, 260))
    build_index(
        spark, spark.createDataFrame(base), out,
        docs_per_part=37, seg_group=2, n_term_buckets=8,
    )
    manifest = extend_index(spark, out, spark.createDataFrame(extra))
    id_base = manifest["extensions"][0]["id_base"]
    assert id_base % (37 * 2) == 0, "appended ids must start a fresh segment"
    docs = _union_docs(base, extra, id_base)
    expected = OracleIndex(docs).topk(["the"], "OR", k=len(docs))
    s = IndexSearcher(spark, out)
    got = s.search(["the"], "OR", k=len(docs), algo="exhaustive").collect()
    assert sorted(r["doc_id"] for r in got) == sorted(d for d, _ in expected)
    _assert_match(
        sorted(got, key=lambda r: (-r["score"], r["doc_id"])), expected
    )


def test_search_many_matches_per_query(spark, small_index, small_oracle):
    index_dir, _ = small_index
    oracle, _ = small_oracle
    s = IndexSearcher(spark, index_dir)
    res = s.search_many(reference_queries()).collect()
    by_q: dict[str, list] = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for q in reference_queries():
        expected = oracle.topk(q["terms"], q["mode"], q["k"])
        got = by_q.get(q["query_id"], [])
        assert [d for d, _ in got] == [d for d, _ in expected], q["query_id"]
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == es, (q["query_id"], gd)


def test_update_facet_field_equals_fresh_rebuild(spark, tmp_path):
    """Partial-document update (ES `update` op analog): re-tagging
    `lang` for a batch of urls must (a) change facet filtering, (b)
    leave every BM25 score bit-identical, and (c) produce postings
    BYTE-IDENTICAL to a fresh build of the re-tagged corpus — without
    re-tokenizing any document text."""
    import numpy as np
    import pandas as pd

    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
    from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        update_facet_field,
    )
    from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

    base = gen_pages_pdf(np.arange(120))
    out = str(tmp_path / "idx")
    build_index(
        spark,
        spark.createDataFrame(base),
        out,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    s = IndexSearcher(spark, out)
    before_or = s.search(["the"], "OR", 30).collect()
    before_and = s.search(["the", "of"], "AND", 30).collect()
    # pick 8 english urls to re-tag to a value not in the corpus
    en_urls = sorted(base[base["lang"] == "en"]["url"].unique())[:8]
    assert s.search_bool("the AND lang:zz", k=50).count() == 0

    upd = spark.createDataFrame(
        pd.DataFrame({"url": en_urls, "new_value": ["zz"] * len(en_urls)})
    )
    m = update_facet_field(spark, out, "lang", upd)
    assert m["updates"][-1]["docs_updated"] == len(en_urls)

    s.reload_manifest()
    # (a) facet filtering changed: zz now matches exactly those docs...
    zz_hits = {
        r["doc_id"] for r in s.search_bool("the AND lang:zz", k=500).collect()
    }
    from hail_elasticsearch_pipelines_spark.layout import table_path

    dl = spark.read.parquet(table_path(out, "doclens")).select("doc_id", "url").collect()
    url_of = {int(r["doc_id"]): r["url"] for r in dl}
    assert {url_of[d] for d in zz_hits} <= set(en_urls) and zz_hits
    # ...and lang:en no longer matches them
    en_hits = {
        r["doc_id"] for r in s.search_bool("the AND lang:en", k=500).collect()
    }
    assert not ({url_of[d] for d in en_hits} & set(en_urls))
    # (b) BM25 scores bit-identical (n_docs/avgdl/dl untouched)
    assert s.search(["the"], "OR", 30).collect() == before_or
    assert s.search(["the", "of"], "AND", 30).collect() == before_and

    # (c) postings byte-identical to a fresh build of the re-tagged corpus
    retagged = base.copy()
    retagged.loc[retagged["url"].isin(en_urls), "lang"] = "zz"
    out2 = str(tmp_path / "idx_rebuild")
    build_index(
        spark,
        spark.createDataFrame(retagged),
        out2,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )

    def snapshot(path):
        rows = (
            spark.read.parquet(table_path(path, "postings"))
            .select("term", "segment", "df", "cf", "min_doc", "blob", "pos_blob")
            .collect()
        )
        return sorted(
            (r["term"], r["segment"], r["df"], r["cf"], r["min_doc"],
             bytes(r["blob"]), bytes(r["pos_blob"]))
            for r in rows
        )

    assert snapshot(out) == snapshot(out2)
    # termdict agrees too
    td = lambda p: sorted(
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(table_path(p, "termdict")).collect()
    )
    assert td(out) == td(out2)


def test_search_many_msearch_parity(spark, small_index):
    """The batch API accepts term, boolean, and phrase specs in ONE
    call; every query's results are bit-identical to its single-query
    API, and job count stays constant in the batch size."""
    out, _ = small_index
    s = IndexSearcher(spark, out)
    specs = [
        {"query_id": "t_or", "terms": ["the", "term0042"], "mode": "OR", "k": 8},
        {"query_id": "t_and", "terms": ["the", "of"], "mode": "AND", "k": 8},
        {"query_id": "b1", "mode": "BOOL", "query": "the AND (term0042 OR term0099) AND NOT term0007", "k": 8},
        {"query_id": "b2", "mode": "BOOL", "query": "the AND lang:en", "k": 8},
        {"query_id": "p1", "mode": "PHRASE", "phrase": ["the", "of"], "k": 8},
    ]
    res = s.search_many(specs).collect()
    got = {}
    for r in res:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid] = [(d, sc) for _, d, sc in sorted(got[qid])]
    assert got["t_or"] == [
        (r["doc_id"], r["score"]) for r in s.search(["the", "term0042"], "OR", 8).collect()
    ]
    assert got["t_and"] == [
        (r["doc_id"], r["score"]) for r in s.search(["the", "of"], "AND", 8).collect()
    ]
    assert got["b1"] == [
        (r["doc_id"], r["score"])
        for r in s.search_bool("the AND (term0042 OR term0099) AND NOT term0007", k=8).collect()
    ]
    assert got["b2"] == [
        (r["doc_id"], r["score"]) for r in s.search_bool("the AND lang:en", k=8).collect()
    ]
    assert got["p1"] == [
        (r["doc_id"], r["score"]) for r in s.search_phrase(["the", "of"], k=8).collect()
    ]


def test_maintenance_lock_excludes_and_steals(spark, tmp_path):
    """Single-writer lock: a live flock holder blocks other maintenance
    ops; a dead holder's lockfile is taken over (crash-retry stays one
    command)."""
    import fcntl
    import os

    import numpy as np

    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        ConcurrentMaintenanceError,
        _maintenance_lock,
        upsert_index,
    )
    from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

    out = str(tmp_path / "idx")
    build_index(
        spark,
        spark.createDataFrame(gen_pages_pdf(np.arange(40))),
        out,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    lock = os.path.join(out, "_MAINTENANCE_LOCK")
    # a LIVE holder: flock taken on the lockfile through its own fd
    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        os.write(fd, b"1")
        with pytest.raises(ConcurrentMaintenanceError, match="pid 1"):
            upsert_index(
                spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(5)))
            )
    finally:
        os.close(fd)
    # dead holder → stolen, op proceeds, lock released afterwards
    with open(lock, "w") as f:
        f.write("999999999")
    m = upsert_index(
        spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(40, 45)))
    )
    assert m["extensions"][-1]["docs_added"] == 5
    assert not os.path.exists(lock)
    # context manager round-trip
    with _maintenance_lock(out):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def test_lockfile_naming_a_live_pid_without_flock_does_not_block(spark, tmp_path):
    """A SIGKILLed holder leaves its pid in the lockfile; once another
    process reuses that pid the file names a LIVE process, but nobody
    holds the flock — the next op must take the lock and proceed."""
    import os

    import numpy as np

    from hail_elasticsearch_pipelines_spark.plans.maintenance import upsert_index
    from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

    out = str(tmp_path / "idx")
    build_index(
        spark,
        spark.createDataFrame(gen_pages_pdf(np.arange(40))),
        out,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    lock = os.path.join(out, "_MAINTENANCE_LOCK")
    with open(lock, "w") as f:
        f.write(str(os.getppid()))  # alive, but holds no flock
    m = upsert_index(
        spark, out, spark.createDataFrame(gen_pages_pdf(np.arange(40, 45)))
    )
    assert m["extensions"][-1]["docs_added"] == 5
    assert not os.path.exists(lock)


def _contend_for_lock(idx: str, start_evt, q) -> None:
    """Child-process contender: reports 'acquired'/'busy'/error repr."""
    import os
    import time

    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        ConcurrentMaintenanceError,
        _maintenance_lock,
    )

    start_evt.wait()
    try:
        with _maintenance_lock(idx):
            lock = os.path.join(idx, "_MAINTENANCE_LOCK")
            with open(lock) as f:
                held_pid = int(f.read())
            time.sleep(0.3)  # overlap the other contenders' attempts
            q.put(("acquired", held_pid == os.getpid()))
    except ConcurrentMaintenanceError:
        q.put(("busy", True))
    except Exception as e:  # noqa: BLE001
        q.put(("error", repr(e)))


def test_stale_lock_steal_is_single_winner(tmp_path):
    """N processes contending over a dead holder's lockfile: the steal
    must be atomic — exactly one contender acquires (the rest find the
    winner's flock held and raise ConcurrentMaintenanceError), and
    the second unlink of the old unsafe steal path must neither delete
    the winner's fresh lock nor leak FileNotFoundError (ADVICE r3)."""
    import multiprocessing as mp
    import os

    ctx = mp.get_context("fork")
    idx = str(tmp_path)
    lock = os.path.join(idx, "_MAINTENANCE_LOCK")
    with open(lock, "w") as f:
        f.write("999999999")  # dead holder
    q = ctx.Queue()
    start_evt = ctx.Event()
    procs = [
        ctx.Process(target=_contend_for_lock, args=(idx, start_evt, q))
        for _ in range(6)
    ]
    for p in procs:
        p.start()
    start_evt.set()
    results = [q.get(timeout=30) for _ in procs]
    for p in procs:
        p.join(timeout=30)
    outcomes = [r[0] for r in results]
    assert outcomes.count("error") == 0, results
    assert outcomes.count("acquired") == 1, results
    assert outcomes.count("busy") == len(procs) - 1, results
    winner = [r for r in results if r[0] == "acquired"][0]
    assert winner[1], "winner's lockfile must carry the winner's pid"
    assert not os.path.exists(lock)


def test_extend_batch_validation_gate(spark, tmp_path):
    """A corrupted crawl batch (all-empty extraction) fails the typed
    validation gate BEFORE anything is appended — the live index is
    untouched; validation=None disables the gate."""
    import numpy as np
    import pandas as pd

    from hail_elasticsearch_pipelines_spark.plans.maintenance import extend_index
    from hail_elasticsearch_pipelines_spark.plans.validate import (
        EmptyExtractionRateError,
    )
    from hail_elasticsearch_pipelines_spark.sources.corpus import (
        BASE_TS,
        gen_pages_pdf,
    )

    out = str(tmp_path / "idx")
    build_index(
        spark,
        spark.createDataFrame(gen_pages_pdf(np.arange(40))),
        out,
        docs_per_part=37,
        seg_group=2,
        n_term_buckets=8,
    )
    before = spark.read.parquet(out + "/doclens").count()
    bad = pd.DataFrame(
        [
            (f"https://bad.example/{i}", BASE_TS, b"<html></html>", "", "en")
            for i in range(10)
        ],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    with pytest.raises(EmptyExtractionRateError):
        extend_index(spark, out, spark.createDataFrame(bad), mode="create")
    assert spark.read.parquet(out + "/doclens").count() == before
    import os

    assert not os.path.exists(out + "/_MAINTENANCE_LOCK")  # released on raise
    # explicit opt-out still works
    m = extend_index(
        spark, out, spark.createDataFrame(bad), mode="create", validation=None
    )
    assert m["extensions"][-1]["validation"] is None


def test_search_many_constant_job_count(spark, small_index):
    """Batch scaling contract: job count is constant in batch size —
    one scoring job for all term+bool queries, two more for ALL phrase
    queries combined (match + count), plus the final rank/collect."""
    out, _ = small_index
    s = IndexSearcher(spark, out)
    specs = [
        {"query_id": f"q{i}", "terms": ["the", f"term{40 + i:04d}"], "mode": "OR", "k": 5}
        for i in range(8)
    ] + [
        {"query_id": f"b{i}", "mode": "BOOL", "query": f"the AND term{50 + i:04d}", "k": 5}
        for i in range(4)
    ] + [
        {"query_id": "p0", "mode": "PHRASE", "phrase": ["the", "of"], "k": 5},
        {"query_id": "p1", "mode": "PHRASE", "phrase": ["of", "the"], "k": 5},
    ]
    tracker = spark.sparkContext.statusTracker()
    sc = spark.sparkContext

    def jobs_for(batch, group):
        sc.setJobGroup(group, "batch job-count probe")
        try:
            s.search_many(batch).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group))

    small = jobs_for([specs[0], specs[8], specs[12]], "msearch_small")  # 1+1+1
    large = jobs_for(specs, "msearch_large")  # 8+4+2 queries
    # phrase specs add their own match/count jobs on top of the one
    # scoring job (per-call counts are pinned in test_query_jobs); the
    # total must NOT grow with the number of queries in the batch
    assert large <= small + 1, (small, large)


def test_upsert_after_compact_kills_old_docs(spark, tmp_path):
    """r5 regression: compaction renumbers the postings segment column
    (segment //= factor) and must scale params.seg_group with it —
    otherwise later upserts compute tombstone segments in the OLD
    numbering, scoring tasks (keyed by the compacted segment column)
    never read those sidecars, and every replaced doc outside segment 0
    resurrects."""
    import numpy as np

    from hail_elasticsearch_pipelines_spark.layout import load_manifest
    from hail_elasticsearch_pipelines_spark.operators.bm25 import (
        load_deletes,
    )
    from hail_elasticsearch_pipelines_spark.operators.serve import (
        LocalSearcher,
    )
    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        compact_index,
        extend_index,
    )
    from hail_elasticsearch_pipelines_spark.sources.corpus import (
        gen_pages_pdf,
    )

    out = str(tmp_path / "idx")
    base = gen_pages_pdf(np.arange(200))
    build_index(
        spark,
        spark.createDataFrame(base),
        out,
        docs_per_part=16,
        seg_group=2,
        n_term_buckets=8,
    )
    compact_index(spark, out, factor=2)
    assert load_manifest(out)["params"]["seg_group"] == 4
    re_pdf = gen_pages_pdf(np.arange(20)).drop_duplicates("url", keep="last").copy()
    re_pdf["text"] = [
        f"replacementzz number {i} unique words here padd"
        for i in range(len(re_pdf))
    ]
    re_pdf["warc_ts"] = re_pdf["warc_ts"] + np.timedelta64(30, "D")
    extend_index(
        spark, out, spark.createDataFrame(re_pdf), mode="upsert",
        validation=None,
    )
    m = load_manifest(out)
    dead = {
        int(x)
        for a in load_deletes(
            out, epoch=m.get("deletes_epoch", 0), manifest=m
        ).values()
        for x in a
    }
    assert dead  # the upsert tombstoned the replaced docs
    ls = LocalSearcher(out)
    hits = ls.search(["the"], "OR", 500, algo="exhaustive")
    assert not [d for d, _ in hits if d in dead]
    s = IndexSearcher(spark, out)
    dist = s.search(["the"], "OR", 500, algo="exhaustive").collect()
    assert not [r["doc_id"] for r in dist if r["doc_id"] in dead]
    # doc_id -> segment consumers (explain) follow the new numbering
    assert s.explain(int(dist[0]["doc_id"]), ["the"]).count() == 1
