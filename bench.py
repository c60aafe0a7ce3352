"""Benchmark harness — one JSON line on stdout.

Measures (a) inverted-index build throughput (docs/sec) over the
deterministic generated web corpus, (b) BM25 top-k latency p50/p99 over
the reference query set against the built index, (c) headline operator
queries over $SPARK_GRAFT_SF_DIR testdata.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_DOCS (default 20000, corpus size for the build).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import functions as F

from hail_elasticsearch_pipelines_spark.functions.tokenize import tokenize_col
from hail_elasticsearch_pipelines_spark.operators import dedup as dd
from hail_elasticsearch_pipelines_spark.operators import similarity as sim
from hail_elasticsearch_pipelines_spark.operators.bm25 import (
    IndexSearcher,
    bm25_exhaustive_df,
)
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.session import get_spark
from hail_elasticsearch_pipelines_spark.sources.corpus import (
    pages_df,
    reference_queries,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# bench artifacts on tmpfs when available (single-disk /tmp would
# serialize the IO that a real cluster spreads across executors)
BENCH_DIR = os.environ.get(
    "SPARK_GRAFT_BENCH_DIR",
    "/dev/shm/spark_graft_bench" if os.access("/dev/shm", os.W_OK) else "/tmp",
)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
# pinned so the build is the SAME JOB at every parallelism level (the
# scaling-efficiency comparison would be invalid if part sizing floated
# with the core count) and parts stay small enough to balance
DOCS_PER_PART = int(os.environ.get("SPARK_GRAFT_DPP", "4000"))
# best-of-2 by default (r3 verdict: single-rep driver builds measured
# VM weather, not code — cold-JIT/noisy-neighbor bursts are 30-50%)
BUILD_REPS = int(os.environ.get("SPARK_GRAFT_BUILD_REPS", "3"))
# fused normalize+docs (corpus text materialized once) is the bench
# default; SPARK_GRAFT_FUSE=0 restores the normalize checkpoint
FUSE = os.environ.get("SPARK_GRAFT_FUSE", "1") == "1"


def _read(spark, table):
    return spark.read.parquet(os.path.join(SF_DIR, f"{table}.parquet"))


def timed(fn):
    t0 = time.time()
    fn()
    return time.time() - t0


def main():
    t_start = time.time()
    # the driver parses bench stdout from its TAIL — console progress
    # bars overflowed its capture window in r5 (BENCH_r05 parsed: null),
    # so bench runs keep stdout to exactly one JSON line
    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    q: dict[str, float] = {}

    # -- index build over the generated corpus (fresh dir each run) -----
    # The corpus is materialized to parquet FIRST so the timer measures
    # the engine (read -> normalize -> ids -> partials -> merge ->
    # publish), not the synthetic generator.
    pages_path = f"{BENCH_DIR}/pages_{N_DOCS}"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        pages_df(spark, N_DOCS, n_partitions=max(CPUS * 2, 8)).write.mode(
            "overwrite"
        ).parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    idx_dir = f"{BENCH_DIR}/index_{CPUS}"
    build_times = []
    for _ in range(max(1, BUILD_REPS)):
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        manifest = build_index(
            spark, pages, idx_dir, docs_per_part=DOCS_PER_PART, n_term_buckets=16,
            checkpoint_normalize=not FUSE,
        )
        build_times.append(time.time() - t0)
    # best-of reps: the sandbox VM shows occasional noisy-neighbor bursts
    build_sec = min(build_times)
    q["index_build"] = round(build_sec, 3)
    docs_per_sec = manifest["metrics"]["docs_indexed"] / build_sec

    # -- BM25 query latency over the reference query set ----------------
    searcher = IndexSearcher(spark, idx_dir)
    lat_ms = []
    per_query_reps: dict[str, list[float]] = {}
    for rep in range(3):
        for spec in reference_queries():
            t0 = time.time()
            searcher.search(spec["terms"], mode=spec["mode"], k=spec["k"]).collect()
            dt = (time.time() - t0) * 1000
            lat_ms.append(dt)
            per_query_reps.setdefault(spec["query_id"], []).append(round(dt, 1))
    for qid, reps in per_query_reps.items():
        # best-of-3 per query (raw reps emitted separately): round-over-
        # round deltas should compare code, not which rep hit a burst
        q[f"bm25_{qid}"] = round(min(reps) / 1000, 3)
    p50 = float(np.percentile(lat_ms, 50))
    p99 = float(np.percentile(lat_ms, 99))

    # batch path: all reference queries in ONE Spark job (throughput)
    t0 = time.time()
    searcher.search_many(reference_queries()).collect()
    batch_sec = time.time() - t0
    q["bm25_batch_all"] = round(batch_sec, 3)

    # mixed msearch batch: term + boolean + phrase specs, job count
    # constant in batch size (1 scoring job + 2 phrase jobs)
    mixed = list(reference_queries()) + [
        {"query_id": "mb1", "mode": "BOOL", "query": "the AND (term0042 OR term0099) AND NOT term0007", "k": 10},
        {"query_id": "mb2", "mode": "BOOL", "query": "the AND lang:en", "k": 10},
        {"query_id": "mp1", "mode": "PHRASE", "phrase": ["of", "the"], "k": 10},
        {"query_id": "mp2", "mode": "PHRASE", "phrase": ["term0042", "the"], "k": 10},
    ]
    t0 = time.time()
    searcher.search_many(mixed).collect()
    q["msearch_mixed"] = round(time.time() - t0, 3)

    # serving path: pyarrow LocalSearcher (no Spark jobs) — the
    # per-index-node latency an ES data node would show
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    local = LocalSearcher(idx_dir)
    local_ms = []
    for rep in range(3):
        for spec in reference_queries():
            t0 = time.time()
            local.search(spec["terms"], spec["mode"], spec["k"])
            local_ms.append((time.time() - t0) * 1000)
    local_p50 = float(np.percentile(local_ms, 50))
    local_p99 = float(np.percentile(local_ms, 99))

    # warmed serving path: ES index-warmer analog — preload top-df
    # terms before traffic, then measure the same query set
    warm = LocalSearcher(idx_dir)
    t0 = time.time()
    warm.warm_top_terms(256)
    warmup_sec = time.time() - t0
    warm_ms = []
    for rep in range(3):
        for spec in reference_queries():
            t0 = time.time()
            warm.search(spec["terms"], spec["mode"], spec["k"])
            warm_ms.append((time.time() - t0) * 1000)
    q["local_warmup"] = round(warmup_sec, 3)
    local_warm_p50 = float(np.percentile(warm_ms, 50))
    local_warm_p99 = float(np.percentile(warm_ms, 99))

    # -- pruning-value probes (rare/medium terms: discriminative bounds,
    # unlike the stopword-flat reference queries).  COLD searcher per
    # measurement so the timing is the decode work, not cache hits.
    SEL_OR = ["term4000", "the"]             # rare + stopword, OR → WAND
                                             # (rare idf dominates: WAND
                                             # prunes the stopword's list)
    SEL_AND = ["term4000", "the"]            # rare AND stopword → skip
    def cold(fn):
        best = float("inf")
        for _ in range(3):
            ls = LocalSearcher(idx_dir)
            t0 = time.time()
            fn(ls)
            best = min(best, time.time() - t0)
        return round(best, 4)
    q["or_selective_maxscore"] = cold(
        lambda ls: ls.search(SEL_OR, "OR", 10, algo="auto")
    )
    q["or_selective_exhaustive"] = cold(
        lambda ls: ls.search(SEL_OR, "OR", 10, algo="exhaustive")
    )
    q["and_selective_blockmax"] = cold(
        lambda ls: ls.search(SEL_AND, "AND", 10, algo="auto")
    )
    q["and_selective_exhaustive"] = cold(
        lambda ls: ls.search(SEL_AND, "AND", 10, algo="exhaustive")
    )
    # cross-segment pruning probe (r4): every scatter task prunes its
    # segments by bound
    t0 = time.time()
    searcher.search(SEL_OR, "OR", 10, algo="auto").collect()
    q["or_selective_dist_segprune"] = round(time.time() - t0, 4)
    segprune_skipped = getattr(searcher, "last_segments_skipped", 0)

    # many-segment crossover evidence (r5): a 400-segment index (the
    # 10^3-segment fan-out regime scaled down) with a site-correlated
    # marker token (doc ids are url-ordered, urls group by site → the
    # marker is contiguous in doc_id space, the time/site-locality a
    # real crawl has).  Probes: localized query (bounds discriminate →
    # deep skip) and flat rare-term query.
    marker = F.concat(F.lit("sitemark"), F.regexp_extract("url", r"site(\d+)\.", 1))
    pages_ms = pages.withColumn(
        "text",
        F.when(
            F.col("text").isNotNull(),
            F.concat(F.col("text"), F.lit(" "), marker),
        ),
    )
    idx_ms = f"{BENCH_DIR}/index_ms400_{CPUS}"
    if not os.path.exists(os.path.join(idx_ms, "manifest.json")):
        build_index(
            spark, pages_ms, idx_ms, docs_per_part=500, seg_group=1,
            n_term_buckets=16,
        )
    sms = IndexSearcher(spark, idx_ms)
    segprune_ms = {"n_segments": sms.manifest["metrics"]["n_segments"]}
    for qname, terms in (("local", ["sitemark42", "the"]), ("flat", SEL_OR)):
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            sms.search(terms, "OR", 10, algo="auto").collect()
            best = min(best, time.time() - t0)
        q[f"segprune400_{qname}_auto"] = round(best, 4)
        segprune_ms[f"skipped_{qname}"] = sms.last_segments_skipped

    # reduced (non-scoring and phrase) queries on many segments: one
    # gather job, every task reading its share of the segments
    reduced = {
        "phrase": lambda s: s.search_phrase(["of", "the"], 10).collect(),
        "count": lambda s: s.search_count(SEL_OR, "OR").collect(),
        "facets": lambda s: s.search_facets(SEL_OR, ["lang"], "OR").collect(),
        "filters": lambda s: s.search_filters(
            {"a": SEL_OR[0], "b": f"{SEL_OR[1]} AND NOT {SEL_OR[0]}",
             "r": f"{SEL_OR[1]} AND doc_len:[1 TO 300]"}
        ).collect(),
    }
    for qname, call in reduced.items():
        q[f"segprune400_{qname}_dist"] = round(min(timed(lambda: call(sms)) for _ in range(3)), 4)

    # 10^3-segment validation (r5 verdict ask #8): same probes at 1000
    # segments — the 100x-scale segment count
    idx_ms1k = f"{BENCH_DIR}/index_ms1000_{CPUS}"
    if not os.path.exists(os.path.join(idx_ms1k, "manifest.json")):
        build_index(
            spark, pages_ms, idx_ms1k, docs_per_part=200, seg_group=1,
            n_term_buckets=16,
        )
    sms1k = IndexSearcher(spark, idx_ms1k)
    segprune_ms["n_segments_1k"] = sms1k.manifest["metrics"]["n_segments"]
    for qname, terms in (("local", ["sitemark42", "the"]), ("flat", SEL_OR)):
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            sms1k.search(terms, "OR", 10, algo="auto").collect()
            best = min(best, time.time() - t0)
        q[f"segprune1000_{qname}_auto"] = round(best, 4)
        segprune_ms[f"skipped1k_{qname}"] = sms1k.last_segments_skipped
    for qname, call in reduced.items():
        q[f"segprune1000_{qname}_dist"] = round(min(timed(lambda: call(sms1k)) for _ in range(3)), 4)

    # stopword phrase: the vectorized adjacency matcher's showcase.
    # warm = best-of-3 (same discipline as every other key: the r5
    # "phrase warm +61%" was a noisy-window artifact of averaging two
    # reps — r6 interleaved probes measured 0.25 s on the same code the
    # driver clocked at 1.28 s)
    q["phrase_stopword_cold"] = cold(lambda ls: ls.search_phrase(["of", "the"], 10))
    warm_reps = []
    for _ in range(3):
        t0 = time.time()
        local.search_phrase(["of", "the"], 10)
        warm_reps.append(time.time() - t0)
    q["phrase_stopword_warm"] = round(min(warm_reps), 4)

    # -- r5 query-surface probes (expansion + aggregation paths) -------
    # termdict-expansion queries: prefix (range scan -> 10-term OR),
    # fuzzy (levenshtein over the length-pruned termdict), suggester
    # (termdict-only ranking), MLT (tf-idf selection + OR)
    q["prefix_search_local"] = cold(
        lambda ls: ls.search_prefix("term400", 10)
    )
    q["fuzzy_search_local"] = cold(
        lambda ls: ls.search_fuzzy("term4000", 10, max_edits=1)
    )
    q["suggest_local"] = cold(lambda ls: ls.suggest_terms("term4", 10))
    _mlt_like = " ".join(["term4000", "term4001", "the", "of"] * 3)
    q["suggest_phrase_local"] = cold(
        lambda ls: ls.suggest_phrase("teh term400", size=5)
    )
    q["mlt_local"] = cold(lambda ls: ls.more_like_this(_mlt_like, 10))
    # postings-only stats aggregation, distributed (one scoring-shaped
    # job; dl rides the postings so no doclens read)
    t0 = time.time()
    searcher.search_stats(SEL_OR, "OR").collect()
    q["stats_agg_dist"] = round(time.time() - t0, 4)

    # doc-value probes (r5): doclens is the doc-values store — range
    # filter (pushdown + per-segment cogroup scoring), recency sort
    # (TakeOrderedAndProject / cached-numpy serving), date_histogram
    q["range_search_local"] = cold(
        lambda ls: ls.search_range(SEL_OR, "doc_len", 50, 500, k=10)
    )
    q["sort_recent_local"] = cold(
        lambda ls: ls.search_sorted(SEL_OR, "warc_ts", False, 10)
    )
    t0 = time.time()
    searcher.search_range(SEL_OR, "doc_len", 50, 500, k=10).collect()
    q["range_search_dist"] = round(time.time() - t0, 4)
    t0 = time.time()
    searcher.search_value_histogram(SEL_OR, "warc_ts", "day").collect()
    q["date_histogram_dist"] = round(time.time() - t0, 4)

    # late-r5 doc-value surface: field collapsing (best hit per value,
    # per-segment cogroup), and a range atom composed into the boolean
    # query language (filter-context, doclens-pushdown)
    q["collapse_local"] = cold(
        lambda ls: ls.search_collapse(SEL_OR, "doc_len", k=10)
    )
    q["bool_range_local"] = cold(
        lambda ls: ls.search_bool(
            f"({SEL_OR[0]} OR {SEL_OR[1]}) AND doc_len:[50 TO 500]", k=10
        )
    )
    t0 = time.time()
    searcher.search_collapse(SEL_OR, "doc_len", k=10).collect()
    q["collapse_dist"] = round(time.time() - t0, 4)

    # function_score decay (recency boost: exhaustive rescore × gauss
    # factor), regexp term expansion, and the composite terms agg
    _decay_kw = dict(
        origin="2025-02-18 00:00:00", scale=7 * 86400.0, decay=0.5, fn="gauss"
    )
    q["decay_recency_local"] = cold(
        lambda ls: ls.search_decay(SEL_OR, "warc_ts", k=10, **_decay_kw)
    )
    t0 = time.time()
    searcher.search_decay(SEL_OR, "warc_ts", k=10, **_decay_kw).collect()
    q["decay_recency_dist"] = round(time.time() - t0, 4)
    q["regexp_search_local"] = cold(
        lambda ls: ls.search_regexp("term40[0-4].|the", 10)
    )
    q["terms_agg_local"] = cold(
        lambda ls: ls.search_value_terms(SEL_OR, "doc_len", size=20)
    )
    # exists atom (filter context over the doc-value store), bucket +
    # metric sub-agg (histogram with per-bucket stats), filters agg
    q["exists_bool_local"] = cold(
        lambda ls: ls.search_bool(
            f"({SEL_OR[0]} OR {SEL_OR[1]}) AND _exists_:doc_len", k=10
        )
    )
    t0 = time.time()
    searcher.search_bucket_metrics(SEL_OR, "warc_ts", "day", "doc_len").collect()
    q["bucket_metrics_dist"] = round(time.time() - t0, 4)
    q["filters_agg_local"] = cold(
        lambda ls: ls.search_filters(
            {"a": SEL_OR[0], "b": f"{SEL_OR[1]} AND NOT {SEL_OR[0]}"}
        )
    )
    # rescore: cheap OR window re-ranked by a stopword phrase
    q["rescore_local"] = cold(
        lambda ls: ls.search_rescore(SEL_OR, ["of", "the"], 10, 50)
    )
    # percolator throughput: 4 stored queries (term/phrase/fuzzy/facet
    # shapes) against the whole 200k-page corpus, one mapInPandas pass
    from hail_elasticsearch_pipelines_spark.operators.percolate import percolate

    perc_docs = pages.where(F.col("text").isNotNull()).select(
        F.monotonically_increasing_id().alias("doc_id"), "text", "lang"
    )
    t0 = time.time()
    n_perc = percolate(
        perc_docs,
        {
            "w1": "term4000 OR term4001",
            "w2": '"of the"',
            "w3": "lang:en AND term400*",
            "w4": "the AND NOT of",
        },
    ).count()
    q["percolate_200k"] = round(time.time() - t0, 3)
    q["percolate_200k_hits"] = int(n_perc)
    # percolator at registry scale: 5k stored watches (mixed required-
    # term AND shapes + a 10% always-candidate tail), 20k docs.  The
    # extracted-terms prefilter must keep this linear in candidates,
    # not |docs|×|queries| (r5 verdict weak #1); the naive twin runs
    # the same kernel with the prefilter disabled for the ratio.
    watch_q = {}
    for i in range(5000):
        if i % 10 == 9:
            watch_q[f"w{i:05d}"] = f"term{i % 997:04d} OR term{(i + 13) % 997:04d}"
        else:
            watch_q[f"w{i:05d}"] = (
                f"term{i % 997:04d} AND term{(i * 7) % 997:04d}"
            )
    # limit() funnels to one partition — repartition so the watch
    # evaluation uses every core (first r6 run: 133 s single-partition
    # vs ~8 s spread)
    perc_5k_docs = perc_docs.limit(20_000).repartition(CPUS).cache()
    perc_5k_docs.count()
    t0 = time.time()
    n5k = percolate(perc_5k_docs, watch_q).count()
    q["percolate_5kq_20kdocs"] = round(time.time() - t0, 3)
    q["percolate_5kq_hits"] = int(n5k)
    # naive twin: same registry, prefilter knocked out (py_percolate
    # falls back to evaluating every AST when the prefilter is None)
    import hail_elasticsearch_pipelines_spark.operators.percolate as _perc_mod

    _orig = _perc_mod._Prefilter
    _perc_mod._Prefilter = lambda compiled: None
    try:
        t0 = time.time()
        n5kn = percolate(perc_5k_docs, watch_q).count()
        q["percolate_5kq_naive"] = round(time.time() - t0, 3)
    finally:
        _perc_mod._Prefilter = _orig
    assert n5kn == n5k, "prefilter changed percolation results"
    perc_5k_docs.unpersist()

    # -- distributed facet retag: 10^5-url partial-doc update over the
    # bench index (r3 verdict: operator input must never collect on the
    # driver; this times the join-resolve + sidecar + bucket rewrite +
    # generation publish end to end)
    import pandas as _pd

    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        update_facet_field,
    )

    retag_urls = [
        r["url"]
        for r in spark.read.parquet(os.path.join(idx_dir, "doclens"))
        .select("url").limit(100_000).collect()
    ]
    upd = spark.createDataFrame(
        _pd.DataFrame({"url": retag_urls, "new_value": ["retag"] * len(retag_urls)})
    )
    t0 = time.time()
    update_facet_field(spark, idx_dir, "lang", upd)
    q["facet_retag_100k"] = round(time.time() - t0, 3)

    # -- tiered compaction probe: append a 10k-doc batch (small files
    # per bucket) then rewrite ONLY those fragments, hardlinking the
    # base build's files — times the selective-rewrite maintenance path
    from hail_elasticsearch_pipelines_spark.plans.maintenance import (
        compact_index,
        extend_index,
    )

    ext = pages_df(spark, 10_000, 4, start=N_DOCS * 2)
    t0 = time.time()
    extend_index(spark, idx_dir, ext, mode="create", validation=None)
    q["extend_10k"] = round(time.time() - t0, 3)
    t0 = time.time()
    m_t = compact_index(
        spark, idx_dir, policy="tiered", min_file_bytes=1 << 20
    )
    q["tiered_compact_10k"] = round(time.time() - t0, 3)
    tiered_stats = m_t["compactions"][-1]

    # -- round-6 session additions: pipeline aggs, phrase-prefix,
    # function_score variants (over the bench index), quality +
    # decontamination ops (over SF_DIR documents)
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        histogram_pipeline,
        search_field_value_factor,
        search_random_score,
    )
    from hail_elasticsearch_pipelines_spark.operators.quality import (
        ngram_overlap,
        repetition_stats,
    )

    bench_s = IndexSearcher(spark, idx_dir)
    q["histo_pipeline_dist"] = round(
        timed(
            lambda: histogram_pipeline(
                bench_s, ["the", "term0042"], "warc_ts", "day",
                derivative=True, moving_avg=3,
            ).collect()
        ),
        3,
    )
    q["fvf_dist"] = round(
        timed(
            lambda: search_field_value_factor(
                bench_s, ["the", "term0042"], "doc_len",
                factor=0.01, modifier="sqrt", k=10,
            ).collect()
        ),
        3,
    )
    q["random_score_dist"] = round(
        timed(
            lambda: search_random_score(
                bench_s, ["the", "term0042"], seed=7, k=10
            ).collect()
        ),
        3,
    )
    bench_local = LocalSearcher(idx_dir)
    q["phrase_prefix_local"] = round(
        timed(
            lambda: bench_local.search_phrase_prefix(
                ["the", "term004"], k=10
            )
        ),
        3,
    )

    # -- headline operator queries over SF_DIR testdata -----------------
    docs = _read(spark, "documents")
    toks = docs.select("doc_id", tokenize_col("text").alias("toks"))
    q["bm25_exhaustive_sf"] = round(
        timed(lambda: bm25_exhaustive_df(toks, ["fast", "key", "table"], "OR", 20, tokens_col="toks").collect()),
        3,
    )
    q["minhash_dedup_sf"] = round(
        timed(lambda: dd.minhash_dedup_pairs(docs, threshold=0.8).collect()), 3
    )
    q["repetition_stats_sf"] = round(
        timed(lambda: repetition_stats(docs, n=2).count()), 3
    )
    q["decontam_sf_hashed"] = round(
        timed(
            lambda: ngram_overlap(
                docs, docs.filter(F.col("doc_id") % 37 == 0),
                n=13, hashed=True,
            ).agg(F.sum("n_overlap")).collect()
        ),
        3,
    )
    emb = _read(spark, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    q["cosine_topk_sf"] = round(timed(lambda: sim.cosine_topk(emb, qvec, k=20).collect()), 3)
    # IVF layout: train + write once (timed separately), then the probe
    ivf_path = f"{BENCH_DIR}/ivf_{CPUS}"
    t0 = time.time()
    sim.write_ivf_partitioned(emb, ivf_path, n_centroids=16, n_iters=3)
    q["ivf_build_sf"] = round(time.time() - t0, 3)
    q["ivf_probe4_sf"] = round(
        timed(lambda: sim.ann_ivf_topk(spark, ivf_path, qvec, k=20, nprobe=4).collect()),
        3,
    )
    # hybrid RRF: BM25 leg over the bench index + cosine leg over sf embeddings
    from hail_elasticsearch_pipelines_spark.operators.hybrid import (
        hybrid_rrf_search,
    )

    q["hybrid_rrf_sf"] = round(
        timed(
            lambda: hybrid_rrf_search(
                bench_s, ["the", "term0042"], emb, qvec, k=10, window=40
            ).collect()
        ),
        3,
    )
    li = _read(spark, "lineitem")
    q["pricing_summary_sf"] = round(
        timed(
            lambda: li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.avg("l_discount"), F.count("*"))
            .collect()
        ),
        3,
    )
    o, c = _read(spark, "orders"), _read(spark, "customer")
    q["top_customers_sf"] = round(
        timed(
            lambda: o.groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("rev"))
            .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
            .orderBy(F.desc("rev"))
            .limit(10)
            .collect()
        ),
        3,
    )

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "index_build_plus_query_bench",
                "value": round(time.time() - t_start, 3),
                "unit": "sec",
                "queries": q,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "index_build_docs_per_sec": round(docs_per_sec, 1),
                "bench_corpus_docs": manifest["metrics"]["docs_indexed"],
                "bm25_p50_ms": round(p50, 1),
                "bm25_p99_ms": round(p99, 1),
                "bm25_batch_qps": round(len(reference_queries()) / batch_sec, 2),
                "bm25_local_p50_ms": round(local_p50, 2),
                "bm25_local_p99_ms": round(local_p99, 2),
                "bm25_local_warm_p50_ms": round(local_warm_p50, 2),
                "bm25_local_warm_p99_ms": round(local_warm_p99, 2),
                "build_reps_sec": [round(x, 2) for x in build_times],
                "per_query_reps_ms": per_query_reps,
                "segprune_segments_skipped": segprune_skipped,
                "segprune_ms400": segprune_ms,
                "tiered_compact": {
                    k: tiered_stats[k]
                    for k in ("files_rewritten", "files_linked")
                },
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
