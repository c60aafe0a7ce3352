"""Per-layer metrics of a traced run.

``per_layer`` runs, while Spark is up, a short sweep over every read-path
layer the workload's own loop did not reach, so every traced run reports
them all: distributed queries (Spark floor, operators.bm25,
functions.boolquery), a LocalSearcher stream (operators.serve),
functions.codecs over the index's own blobs and layout manifest reads.
Every traced run also folds its set-up build (operators.index_build).
plans.maintenance is left out of the sweep: one round costs about as much
as a whole read-workload run, so only ingest_mixed reports it.
``fold_layers`` then folds the Spark event log (written once the session
stops) into the spans.

Every metric is taken from the workload's own loop spans when there are
any, else from the set-up or sweep spans of that layer.
"""

from __future__ import annotations

import statistics
import time

from spans import (
    PY_INIT, PY_RETURNED, PY_RUN, PY_SENT, PY_START, fold_event_log, node_sum, self_time,
    span_totals,
)

MAINT_OPS = ("extend", "upsert", "delete_by_query", "compact")


def _pick(tracer, layer: str) -> list[dict]:
    spans = tracer.of(layer)
    loop = [s for s in spans if s["phase"] == "loop"]
    return loop or spans


def _dur(spans) -> list[float]:
    return [s["t1"] - s["t0"] for s in spans]


def _med(values, scale: float = 1.0) -> float:
    return statistics.median(values) * scale if values else 0.0


def _repeat_us(fn, n: int) -> float:
    """Median µs of n calls."""
    out = []
    for _ in range(n):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out) * 1e6


def sweep(run) -> None:
    """Reach every layer the loop did not (Spark still up)."""
    import numpy as np

    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
    from run import dist_query, local_query, msearch, query_mix, zipf_stream

    tr = run.tracer
    tr.phase = "sweep"
    rng = np.random.default_rng(run.args.seed + 1)
    idx = run.index_dir
    specs = getattr(run, "specs", None) or query_mix(rng)
    searcher = IndexSearcher(run.spark, idx)
    if not tr.of("bm25.query", phase="loop"):
        for s in specs:
            dist_query(run, searcher, s)
    # one search_many batch of the whole mix, timed warm and checked
    # against the local searcher (after ingest_mixed the set-up oracle is
    # stale; the read loops check local answers against it)
    local = LocalSearcher(idx)
    msearch(run, searcher, specs)
    with run.operation():
        t = time.perf_counter()
        got = msearch(run, searcher, specs)
        run.layer_extra["bm25.msearch_qps"] = (len(specs) / (time.perf_counter() - t), "1/s")
        for s in specs:
            run.check(got[s["query_id"]], local_query(run, local, s), f"msearch {s['query_id']}")
    for s in specs:
        if "terms" in s:
            with tr.span("bm25.global_dfs"):
                searcher.global_dfs(s["terms"])
    # warm local time of each distributed query (Spark overhead = the
    # distributed collect minus this)
    run.local_warm_ms = {}
    for s in specs:
        local_query(run, local, s)
        t = time.perf_counter()
        local_query(run, local, s)
        run.local_warm_ms[s["query_id"]] = (time.perf_counter() - t) * 1000
    if not tr.of("serve.query", phase="loop"):
        fresh_local, seen = LocalSearcher(idx), set()
        stream = zipf_stream(rng)
        for _ in range(300):
            q = next(stream)
            first = any(t not in seen for t in q["terms"])
            seen.update(q["terms"])
            with tr.span("serve.query", first_touch=first):
                fresh_local.search(q["terms"], q["mode"], q["k"])
    warm = LocalSearcher(idx)
    with tr.span("serve.warm_top_terms"):
        warm.warm_top_terms(256)
    _codecs(run, idx, specs)
    _boolquery(run, specs)
    from hail_elasticsearch_pipelines_spark.layout import load_manifest

    run.layer_extra["layout.load_manifest_ms"] = (_repeat_us(lambda: load_manifest(idx), 50) / 1e3, "ms")


def _codecs(run, idx: str, specs) -> None:
    """Decode / encode throughput over the blobs of the query terms,
    read with pyarrow straight from the postings table."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from hail_elasticsearch_pipelines_spark.functions import codecs
    from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
    from hail_elasticsearch_pipelines_spark.sources.corpus import vocabulary

    terms = sorted({t for s in specs for t in s.get("terms", ())} | set(vocabulary()[::50]))
    tbl = ds.dataset(
        table_path(idx, "postings", load_manifest(idx)), format="parquet", partitioning="hive"
    ).to_table(columns=["blob"], filter=pc.field("term").isin(terms))
    blobs = [b for b in tbl["blob"].to_pylist() if b]
    n_bytes = sum(len(b) for b in blobs)
    with run.tracer.span("codecs.decode"):
        dec_s = _repeat_us(lambda: codecs.decode_postings_many(blobs), 5) / 1e6
    small = sorted(blobs, key=len)[:32]
    small_us = statistics.median(
        _repeat_us(lambda b=b: codecs.decode_postings(b), 20) for b in small
    )
    decoded = codecs.decode_postings_many(blobs)
    ids = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    dls = np.concatenate([d[2] if d[2] is not None else np.zeros_like(d[0]) for d in decoded])
    offsets = np.concatenate([[0], np.cumsum([d[0].size for d in decoded])])
    with run.tracer.span("codecs.encode"):
        enc_s = _repeat_us(lambda: codecs.encode_postings_batch(ids, tfs, dls, offsets), 5) / 1e6
    again = codecs.encode_postings_batch(ids, tfs, dls, offsets)
    round_trip = all(
        np.array_equal(codecs.decode_postings(e[0])[0], d[0]) for e, d in zip(again, decoded)
    )
    with run.operation():
        run.check([round_trip], [True], "codecs encode/decode round trip")
    enc_bytes = sum(len(e[0]) for e in again)
    run.layer_extra.update({
        "codecs.decode_mb_per_s": (n_bytes / dec_s / 1e6, "MB/s"),
        "codecs.decode_small_blob_us": (small_us, "us"),
        "codecs.encode_mb_per_s": (enc_bytes / enc_s / 1e6, "MB/s"),
    })


def _boolquery(run, specs) -> None:
    from hail_elasticsearch_pipelines_spark.functions import boolquery as bq

    queries = [s["query"] for s in specs if s["mode"] == "BOOL"]
    run.layer_extra["boolquery.parse_us"] = (
        statistics.median(_repeat_us(lambda q=q: bq.parse(q), 200) for q in queries), "us"
    )


def per_layer(run) -> dict:
    """Sweep, then every metric that needs no event log."""
    run.layer_extra = {}
    sweep(run)
    tr = run.tracer
    q = _pick(tr, "serve.query")
    warm = [s for s in q if not s["first_touch"]]
    cold = [s for s in q if s["first_touch"]]
    out = {
        "serve.warm_query_ms": (_med(_dur(warm), 1e3), "ms"),
        "serve.cold_query_ms": (_med(_dur(cold), 1e3), "ms"),
        "serve.first_touch_ratio": (len(cold) / max(len(q), 1), "ratio"),
        "serve.warm_top_terms_s": (_med(_dur(_pick(tr, "serve.warm_top_terms"))), "s"),
        "bm25.plan_ms": (_med(_dur(_pick(tr, "bm25.plan")), 1e3), "ms"),
        "bm25.collect_ms": (_med(_dur(_pick(tr, "bm25.collect")), 1e3), "ms"),
        # driver time of a query outside plan and collect (row conversion)
        "bm25.query_self_ms": (
            _med([self_time(tr, q) for q in _pick(tr, "bm25.query")], 1e3), "ms"),
        "bm25.global_dfs_ms": (_med(_dur(_pick(tr, "bm25.global_dfs")), 1e3), "ms"),
    }
    out.update(run.layer_extra)
    if tr.of("serve.reload"):  # only maintenance publishes reload anything
        out["serve.reload_ms"] = (_med(_dur(_pick(tr, "serve.reload")), 1e3), "ms")
    # Spark overhead per query shape: distributed collect minus warm local
    by_q: dict[str, list] = {}
    for s in _pick(tr, "bm25.query"):
        kids = [k for k in tr.spans if k["parent"] == s["id"] and k["layer"] == "bm25.collect"]
        by_q.setdefault(s["qid"], []).extend(_dur(kids))
    gaps = [_med(v, 1e3) - run.local_warm_ms[qid] for qid, v in by_q.items()
            if qid in run.local_warm_ms]
    out["bm25.spark_overhead_ms"] = (_med(gaps), "ms")
    return out


def _mean_totals(run, folded, spans) -> dict:
    """Per-span mean of every folded total."""
    tots = [span_totals(run.tracer, s, folded) for s in spans]
    if not tots:
        return {}
    keys = [k for k in tots[0] if k != "nodes"]
    mean = {k: sum(t[k] for t in tots) / len(tots) for k in keys}
    for metric in (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_RETURNED):
        mean[metric] = sum(node_sum(t, metric) for t in tots) / len(tots)
    mean["partials_py_ms"] = sum(node_sum(t, PY_RUN, "MapInPandas") for t in tots) / len(tots)
    mean["merge_py_ms"] = sum(
        node_sum(t, PY_RUN, "FlatMapGroupsInPandas") for t in tots) / len(tots)
    return mean


def fold_layers(run, partial: dict) -> dict:
    """Fold the event log into the Spark-side layer metrics."""
    import os

    folded = fold_event_log(os.path.join(run.work, "events"))
    tr = run.tracer
    out = dict(partial)
    qt = _mean_totals(run, folded, _pick(tr, "bm25.query"))
    out.update({
        "spark.jobs_per_query": (qt.get("jobs", 0), "count"),
        "spark.stages_per_query": (qt.get("stages", 0), "count"),
        "spark.tasks_per_query": (qt.get("tasks", 0), "count"),
        # worker start (new daemon forks) + per-task UDF initialisation
        "spark.python_worker_start_ms_per_query": (
            qt.get(PY_START, 0) + qt.get(PY_INIT, 0), "ms"),
        "bm25.executor_ms_per_query": (qt.get("executor_run_ms", 0), "ms"),
        "bm25.scan_bytes_per_query": (qt.get("input_bytes", 0), "B"),
        "bm25.shuffle_bytes_per_query": (qt.get("shuffle_write_bytes", 0), "B"),
        "bm25.python_run_ms_per_query": (qt.get(PY_RUN, 0), "ms"),
        "bm25.python_bytes_sent_per_query": (qt.get(PY_SENT, 0), "B"),
        "bm25.python_bytes_returned_per_query": (qt.get(PY_RETURNED, 0), "B"),
    })
    builds = _pick(tr, "index_build")
    bt = _mean_totals(run, folded, builds)
    out.update({
        "index_build.wall_s": (bt.get("wall_s", 0), "s"),
        "index_build.driver_only_s": (bt.get("driver_only_s", 0), "s"),
        "index_build.jobs": (bt.get("jobs", 0), "count"),
        "index_build.tasks": (bt.get("tasks", 0), "count"),
        "index_build.partials_python_s": (bt.get("partials_py_ms", 0) / 1e3, "s"),
        "index_build.merge_python_s": (bt.get("merge_py_ms", 0) / 1e3, "s"),
        "index_build.python_bytes_sent": (bt.get(PY_SENT, 0), "B"),
        "index_build.python_bytes_returned": (bt.get(PY_RETURNED, 0), "B"),
        "index_build.shuffle_write_bytes": (bt.get("shuffle_write_bytes", 0), "B"),
        "index_build.spill_bytes": (bt.get("spill_bytes", 0), "B"),
        "index_build.scan_bytes": (bt.get("input_bytes", 0), "B"),
        "index_build.output_bytes": (bt.get("output_bytes", 0), "B"),
        "index_build.executor_cpu_s": (bt.get("executor_cpu_ms", 0) / 1e3, "s"),
        "index_build.gc_s": (bt.get("gc_ms", 0) / 1e3, "s"),
        "index_build.bytes_compressed": (
            statistics.mean(s.get("bytes_compressed", 0) for s in builds) if builds else 0, "B"),
    })
    if _pick(tr, "maintenance.extend"):
        out.update(_maintenance(run, folded))
    return {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(out.items())}


def _maintenance(run, folded) -> dict:
    """plans.maintenance + layout metrics; only ingest_mixed runs them."""
    tr = run.tracer
    out = {}
    written = in_bytes = 0.0
    for op in MAINT_OPS:
        spans = _pick(tr, f"maintenance.{op}")
        mt = _mean_totals(run, folded, spans)
        out.update({
            f"maintenance.{op}.wall_s": (mt.get("wall_s", 0), "s"),
            f"maintenance.{op}.jobs": (mt.get("jobs", 0), "count"),
            f"maintenance.{op}.executor_s": (mt.get("executor_run_ms", 0) / 1e3, "s"),
            f"maintenance.{op}.shuffle_bytes": (mt.get("shuffle_write_bytes", 0), "B"),
            f"maintenance.{op}.bytes_written": (mt.get("output_bytes", 0), "B"),
            f"layout.postings_files.after_{op}": (
                _med([s.get("postings_files", 0) for s in spans]), "count"),
        })
        written += mt.get("output_bytes", 0)
        in_bytes += _med([s.get("input_bytes", 0) for s in spans])
    out["maintenance.write_amplification"] = (written / max(in_bytes, 1), "ratio")
    comp = _pick(tr, "maintenance.compact")
    for k in ("files_rewritten", "files_linked"):
        out[f"maintenance.compact.{k}"] = (_med([s.get(k, 0) for s in comp]), "count")
    return out
