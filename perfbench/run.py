#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the fulltext engine.

Run from the root of a checkout (the engine is imported from there):

    python3 perfbench/run.py --workload search_dist --seed 1 --seconds 6 --trace 0

Workloads (README.md says why each exists and which are in BENCHMARK.json):
  build         build_index into a fresh directory, repeated
  search_dist   distributed IndexSearcher queries over a fixed mix
  serve_local   LocalSearcher over a seeded Zipf query stream
  ingest_mixed  extend -> upsert -> delete_by_query -> tiered compact rounds

Every workload is a closed loop with one client thread; Spark runs at
local[<cpus>].  The seed sets the corpus offset and the query RNG.  Spark
start, corpus generation, any index the loop needs, the oracle and the
warm-up are set-up (``setup_s``); so is stopping Spark, which the untraced
serve_local run does before its loop.  Every answer is checked; an operation
that raises or returns a wrong answer counts once as failed.

Output: the line before last is the workload's detail record (every
metric measured, with sample counts); the last line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
BENCHMARK.json lists with --trace 0, its per-layer metrics (event log +
spans) with --trace 1.
Exit status 1 when any operation failed, 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

T_START = time.time()
ROOT = os.getcwd()
PKG = "hail_elasticsearch_pipelines_spark"
WORKLOADS = ("build", "search_dist", "serve_local", "ingest_mixed")
# Corpus size: one run (set-up included) must fit the time budget of
# 4 + 22 x 2 runs in under an hour; set-up is dominated by Spark start and
# the first (JIT-cold) build_index, which costs about the same from 500 to
# 2000 pages (job and task overhead, not data).
N_DOCS = 2000
EXT_DOCS = N_DOCS // 4  # docs appended by each ingest round
UP_DOCS = N_DOCS // 8  # docs re-crawled by each ingest round
SEED_STRIDE = 1_000_000  # doc-index window per seed, wider than any run reaches
PROBE_TERMS = ["the", "term0042"]
FRESH_SHARE = 0.3  # serve_local queries that carry a term not sent before

E2E_UNITS = {"op_p50_ms": "ms", "throughput_per_s": "1/s", "setup_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-every", type=int, default=0,
        help="self-test: perturb every Nth answer before it is checked",
    )
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes under ``work`` inside the checkout:
    Spark's local dir (the engine would pick /dev/shm or /tmp), JVM and
    Python temp files, the event log."""
    for sub in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    # local[<cpus>] with one shuffle partition per core, the engine's own
    # reading of this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def proc_tree(pid: int) -> list[int]:
    """pid's descendants, from /proc/<pid>/task/*/children."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_hwm_mb() -> float:
    """VmHWM of the JVM this driver process spawned (0 once it is gone)."""
    total = 0.0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    total += vm_hwm_mb(pid)
        except OSError:
            pass
    return total


def pct(values, q):
    """q-th percentile, nearest rank (a value that was measured)."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


class Run:
    """One benchmark process: Spark session, corpus, oracle, counters."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.answers = 0
        self.op_ok = True
        self.stopped = False
        self.jvm_mb = 0.0
        self.detail: dict[str, dict] = {}
        self.setup_parts: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------
    @contextmanager
    def setup_part(self, name: str):
        t = time.perf_counter()
        yield
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + time.perf_counter() - t

    def start_spark(self):
        from hail_elasticsearch_pipelines_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file in /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                # no Python zstd module to read the default codec back
                "spark.eventLog.compress": "false",
            })
        with self.setup_part("spark_start_s"):
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        from spans import Tracer

        self.tracer = Tracer(self.spark.sparkContext, bool(self.args.trace))

    def corpus_start(self, offset: int = 0) -> int:
        # disjoint doc-index windows per seed; same statistics everywhere
        return (self.args.seed % 1000) * SEED_STRIDE + offset

    def write_corpus(self, name: str, start: int, n: int):
        """Generate pages [start, start+n) with the engine's corpus
        generator and write them as parquet (one file per core)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

        with self.setup_part("corpus_s"):
            pdf = gen_pages_pdf(np.arange(start, start + n))
            path = os.path.join(self.work, name)
            os.makedirs(path)
            cpus = int(os.environ["SPARK_GRAFT_CPUS"])
            for i, part in enumerate(np.array_split(np.arange(len(pdf)), cpus)):
                pq.write_table(
                    pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                    os.path.join(path, f"part-{i:03d}.parquet"),
                    coerce_timestamps="us", allow_truncated_timestamps=True,
                )
        return pdf, self.spark.read.parquet(path)

    def build(self, pages, out: str) -> dict:
        from hail_elasticsearch_pipelines_spark.operators.index_build import build_index

        shutil.rmtree(out, ignore_errors=True)
        with self.tracer.span("index_build") as sp:
            m = build_index(self.spark, pages, out)
        sp["bytes_compressed"] = m["metrics"].get("bytes_compressed", 0)
        return m

    # -- bookkeeping -------------------------------------------------------
    @contextmanager
    def operation(self):
        """One counted operation.  It fails, once, when its body raises or
        when any check() inside it finds a wrong answer."""
        self.attempted += 1
        self.op_ok = True
        try:
            yield
        except Exception:
            traceback.print_exc()
            self.op_ok = False
        if not self.op_ok:
            self.failed += 1

    def verify(self, got, expected, what: str) -> bool:
        """Compare an answer (doc ids and bit-exact scores)."""
        self.answers += 1
        if self.args.corrupt_every and self.answers % self.args.corrupt_every == 0:
            got = [(d, s + 1.0) for d, s in got] or [(-1, 0.0)]
        if got != expected:
            print(f"wrong answer for {what}: {got[:3]} != {expected[:3]}", file=sys.stderr)
            return False
        return True

    def check(self, got, expected, what: str) -> None:
        """verify() inside an operation: a wrong answer fails it."""
        if not self.verify(got, expected, what):
            self.op_ok = False

    def metric(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.detail[name] = {"value": value, "unit": unit, "n": n}

    def timing(self, name: str, values_s: list, unit: str = "ms") -> float:
        """Median of a timing list, recorded with its sample count."""
        scale = 1000.0 if unit == "ms" else 1.0
        v = statistics.median(values_s) * scale if values_s else float("nan")
        self.metric(name, v, unit, len(values_s))
        return v

    def stop_spark(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers end."""
        from pyspark import SparkContext

        self.stopped = True
        self.jvm_mb = max(self.jvm_mb, jvm_hwm_mb())
        kids = proc_tree(os.getpid())
        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.time() + 20
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def rows_to_pairs(rows) -> list:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def pairs(result) -> list:
    return [(int(d), float(s)) for d, s in result]


def oracle_of(pdf):
    """OracleIndex over the deduped corpus: latest crawl per url wins,
    text extracted from html when null, doc ids in url order."""
    from hail_elasticsearch_pipelines_spark.functions.extract import py_extract_text
    from hail_elasticsearch_pipelines_spark.oracle import OracleIndex

    live = pdf.sort_values("warc_ts").drop_duplicates("url", keep="last")
    live = live.sort_values("url").reset_index(drop=True)
    docs = {
        i: (t if t is not None else py_extract_text(h))
        for i, (t, h) in enumerate(zip(live["text"], live["html"]))
    }
    return OracleIndex(docs)


def expected_answer(oracle, spec) -> list:
    mode = spec["mode"]
    if mode == "BOOL":
        return pairs(oracle.bool_topk(spec["query"], spec["k"]))
    if mode == "PHRASE":
        return pairs(oracle.phrase_topk(spec["phrase"], spec["k"]))
    return pairs(oracle.topk(spec["terms"], mode, spec["k"]))


def query_mix(rng) -> list[dict]:
    """The distributed query mix: the reference term queries, two
    rare+stopword pairs, one boolean query, one stopword phrase."""
    from hail_elasticsearch_pipelines_spark.sources.corpus import (
        reference_queries,
        vocabulary,
    )

    vocab = vocabulary()
    # "and" would parse as the boolean operator
    stop = [w for w in vocab[:20] if w.upper() not in ("AND", "OR", "NOT")]
    rare, mid = vocab[1000:], vocab[20:500]
    specs = [dict(q) for q in reference_queries()]
    for i, mode in enumerate(("OR", "AND")):
        specs.append({
            "query_id": f"rare{i}", "mode": mode, "k": 10,
            "terms": [str(rng.choice(rare)), str(rng.choice(stop))],
        })
    a, b, c = (str(t) for t in rng.choice(mid, 3, replace=False))
    specs.append({
        "query_id": "bool0", "mode": "BOOL", "k": 10,
        "query": f"{rng.choice(stop)} AND ({a} OR {b}) AND NOT {c}",
    })
    specs.append({
        "query_id": "phrase0", "mode": "PHRASE", "k": 10,
        "phrase": [str(t) for t in rng.choice(stop[:6], 2, replace=False)],
    })
    return specs


def zipf_stream(rng):
    """Endless seeded local query stream: 1-3 terms drawn Zipf(1), OR/AND,
    k in {1, 10, 100}.  With probability FRESH_SHARE a query draws its
    terms from the vocabulary not yet sent (the long tail, once the head is
    sent), else from the terms already sent.  So the share of first-touch
    queries is the same in a short run and a long one; a plain Zipf stream
    sends fewer new terms as it goes, and a slower run would see colder
    queries."""
    import numpy as np

    from hail_elasticsearch_pipelines_spark.sources.corpus import vocabulary

    vocab = np.array(vocabulary())
    w = 1.0 / np.arange(1, len(vocab) + 1)
    sent = np.zeros(len(vocab), dtype=bool)
    while True:
        fresh = rng.random() < FRESH_SHARE or not sent.any()
        pool = w * (~sent if fresh else sent)
        n = min(int(rng.integers(1, 4)), int(np.count_nonzero(pool)))
        terms = rng.choice(len(vocab), n, replace=False, p=pool / pool.sum())
        sent[terms] = True
        yield {
            "terms": [str(t) for t in vocab[terms]],
            "mode": str(rng.choice(["OR", "AND"])), "k": int(rng.choice([1, 10, 100])),
        }


# -- workloads ---------------------------------------------------------------


def dist_query(run: Run, searcher, spec) -> list:
    """One distributed query: plan (lazy DataFrame) then collect."""
    tr = run.tracer
    with tr.span("bm25.query", qid=spec["query_id"]):
        with tr.span("bm25.plan"):
            if spec["mode"] == "BOOL":
                df = searcher.search_bool(spec["query"], k=spec["k"])
            elif spec["mode"] == "PHRASE":
                df = searcher.search_phrase(spec["phrase"], k=spec["k"])
            else:
                df = searcher.search(spec["terms"], spec["mode"], spec["k"])
        with tr.span("bm25.collect"):
            return rows_to_pairs(df.collect())


def msearch(run: Run, searcher, specs) -> dict:
    with run.tracer.span("bm25.msearch"):
        rows = searcher.search_many(specs).collect()
    out: dict[str, list] = {s["query_id"]: [] for s in specs}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    return out


def local_query(run: Run, local, spec) -> list:
    if spec["mode"] == "BOOL":
        return pairs(local.search_bool(spec["query"], k=spec["k"]))
    if spec["mode"] == "PHRASE":
        return pairs(local.search_phrase(spec["phrase"], k=spec["k"]))
    return pairs(local.search(spec["terms"], spec["mode"], spec["k"]))


def timed_loop(run: Run, seconds: float, step, whole: int = 1) -> None:
    """Closed loop: call step(i) until ``seconds`` have passed, in whole
    groups of ``whole`` steps (at least one group)."""
    run.loop_start = time.time()
    run.tracer.phase = "loop"
    t0 = time.perf_counter()
    i = 0
    while i == 0 or i % whole or time.perf_counter() - t0 < seconds:
        step(i)
        i += 1
    run.tracer.phase = "sweep"


def read_setup(run: Run):
    """Corpus + index + oracle shared by the read workloads."""
    pdf, pages = run.write_corpus("pages", run.corpus_start(), N_DOCS)
    idx = os.path.join(run.work, "index")
    with run.setup_part("index_build_s"):
        run.build(pages, idx)
    with run.setup_part("oracle_s"):
        oracle = oracle_of(pdf)
    return idx, oracle


def wl_build(run: Run, seconds: float) -> dict:
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    pdf, pages = run.write_corpus("pages", run.corpus_start(), N_DOCS)
    with run.setup_part("oracle_s"):
        oracle = oracle_of(pdf)
    with run.setup_part("index_build_s"):  # JIT / Python worker warm-up
        run.build(pages, os.path.join(run.work, "warmup"))
    shutil.rmtree(os.path.join(run.work, "warmup"))
    times, sizes = [], []
    probes = [{"terms": PROBE_TERMS, "mode": "OR", "k": 10},
              {"terms": ["of", "and"], "mode": "AND", "k": 100}]
    idx = os.path.join(run.work, "index")

    def step(i):
        shutil.rmtree(idx, ignore_errors=True)
        with run.operation():
            t = time.perf_counter()
            m = run.build(pages, idx)
            times.append(time.perf_counter() - t)
            sizes.append(dir_bytes(idx))
            run.check([m["metrics"]["docs_indexed"]], [oracle.n_docs], "docs_indexed")
            local = LocalSearcher(idx)
            for spec in probes:
                run.check(local_query(run, local, spec), expected_answer(oracle, spec),
                          f"build probe {spec['terms']}")

    timed_loop(run, seconds, step)
    run.index_dir, run.oracle = idx, oracle
    n = oracle.n_docs
    run.timing("build_s", times, "s")
    run.metric("build_docs_per_s", n / statistics.median(times), "1/s", len(times))
    run.metric("index_bytes_per_doc", statistics.median(sizes) / n, "B", len(sizes))
    return {"ops_s": times, "work_per_op": n}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def wl_search_dist(run: Run, seconds: float) -> dict:
    import numpy as np

    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher

    rng = np.random.default_rng(run.args.seed)
    idx, oracle = read_setup(run)
    specs = query_mix(rng)
    expected = {s["query_id"]: expected_answer(oracle, s) for s in specs}
    searcher = IndexSearcher(run.spark, idx)
    with run.setup_part("warmup_s"):
        dist_query(run, searcher, specs[0])  # Python workers, JIT
    times = []
    # The loop runs whole passes of the mix in a fixed order (one pass at
    # the benchmark's run length), so every run times the same queries:
    # their costs differ fourfold, and a loop cut by time alone would
    # take in one query more or less as the machine's speed varies.  The
    # search_many batch of the whole mix is timed in the traced run's
    # sweep (bm25.msearch_qps), to keep a run within the time budget.
    def step(i):
        spec = specs[i % len(specs)]
        with run.operation():
            t = time.perf_counter()
            got = dist_query(run, searcher, spec)
            times.append(time.perf_counter() - t)
            run.check(got, expected[spec["query_id"]], spec["query_id"])

    timed_loop(run, seconds, step, whole=len(specs))
    run.index_dir, run.oracle, run.specs = idx, oracle, specs
    run.timing("dist_query_p50_ms", times)
    run.metric("dist_query_p90_ms", pct(times, 90) * 1000, "ms", len(times))
    return {"ops_s": times, "work_per_op": 1}


def wl_serve_local(run: Run, seconds: float) -> dict:
    import numpy as np
    import pyarrow as pa

    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
    from hail_elasticsearch_pipelines_spark.sources.corpus import reference_queries

    rng = np.random.default_rng(run.args.seed)
    idx, oracle = read_setup(run)
    # One client thread gets one core: with pyarrow's default pool a query
    # fans out to a thread per core and waits for the slowest, so on a
    # shared host its time followed the scheduler (the local median was
    # twice as high and swung more, at seeds 31 and 32 back to back).
    pa.set_cpu_count(1)
    local = LocalSearcher(idx)
    with run.setup_part("warmup_s"):  # imports, pyarrow dataset paths
        for q in reference_queries():
            local.search(q["terms"], q["mode"], q["k"])
    if not run.args.trace:
        # the loop needs no Spark, and after a build the JVM keeps its
        # compiler, collector and heartbeat threads, so the untraced run
        # stops it first (the traced run's sweep needs it)
        with run.setup_part("spark_stop_s"):
            run.stop_spark()
    gc.collect()
    stream = zipf_stream(rng)
    seen: set = set()
    times, first_touch, answers = [], [], []

    def step(i):
        spec = next(stream)
        fresh = any(t not in seen for t in spec["terms"])
        seen.update(spec["terms"])
        with run.operation(), run.tracer.span("serve.query", first_touch=fresh):
            t = time.perf_counter()
            got = local.search(spec["terms"], spec["mode"], spec["k"])
            times.append(time.perf_counter() - t)
            first_touch.append(fresh)
            answers.append((spec, pairs(got)))

    timed_loop(run, seconds, step)
    # every answer is checked after the timed loop, against the oracle's
    # full ranking of its (terms, mode), computed once per distinct pair
    scored: dict = {}
    for spec, got in answers:
        key = (tuple(sorted(set(spec["terms"]))), spec["mode"])
        if key not in scored:
            scored[key] = sorted(
                oracle.score(list(key[0]), key[1]).items(), key=lambda x: (-x[1], x[0])
            )
        if not run.verify(got, pairs(scored[key][: spec["k"]]), f"local {key}"):
            run.failed += 1
    run.index_dir, run.oracle = idx, oracle
    run.timing("local_query_p50_ms", times)
    run.metric("local_query_p99_ms", pct(times, 99) * 1000, "ms", len(times))
    run.metric("local_qps", len(times) / sum(times), "1/s", len(times))
    run.metric("first_touch_ratio", sum(first_touch) / len(first_touch), "ratio",
               len(first_touch))
    return {"ops_s": times, "work_per_op": 1}


def maintenance_round(run: Run, idx: str, r: int, searcher, local, stats: dict):
    """extend -> upsert -> delete_by_query -> tiered compact on ``idx``.
    After each op both searchers reload and answer one probe query; the
    answers must agree with the exhaustive path, and no deleted doc may
    come back.  Each op with its probe is one counted operation."""
    import numpy as np
    import pyarrow.dataset as ds

    from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
    from hail_elasticsearch_pipelines_spark.plans import maintenance as mt
    from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

    spark, tr = run.spark, run.tracer
    # new docs come from past the set-up corpus, one window per round;
    # re-crawls walk through the set-up corpus
    ext_start = run.corpus_start(N_DOCS + EXT_DOCS * r)
    up_start = run.corpus_start((UP_DOCS * r) % (N_DOCS - UP_DOCS))
    victim = f"term{1000 + (run.args.seed * 7 + r * 13) % 4000:04d}"
    ext_pdf = gen_pages_pdf(np.arange(ext_start, ext_start + EXT_DOCS))
    up_pdf = gen_pages_pdf(np.arange(up_start, up_start + UP_DOCS))

    def live_ids(urls):
        m = load_manifest(idx)
        t = ds.dataset(table_path(idx, "doclens", m), format="parquet",
                       partitioning="hive").to_table(columns=["url", "doc_id"])
        have = set(urls)
        return {d for u, d in zip(t["url"].to_pylist(), t["doc_id"].to_pylist()) if u in have}

    # ids each op must kill: the replaced docs' old ids, the query's matches
    kills = {
        "upsert": live_ids(set(up_pdf["url"])),
        "delete_by_query": {d for d, _ in pairs(local.search([victim], "OR", local.n_docs))},
    }
    dead: set = set()
    ops = (
        ("extend", lambda: mt.extend_index(spark, idx, spark.createDataFrame(ext_pdf))),
        ("upsert", lambda: mt.upsert_index(spark, idx, spark.createDataFrame(up_pdf))),
        ("delete_by_query", lambda: mt.delete_by_query(spark, idx, [victim], mode="OR")),
        ("compact", lambda: mt.compact_index(spark, idx, policy="tiered",
                                             min_file_bytes=1 << 20)),
    )
    for name, fn in ops:
        with run.operation():
            t = time.perf_counter()
            with tr.span(f"maintenance.{name}") as sp:
                m = fn()
            stats.setdefault(name, []).append(time.perf_counter() - t)
            if name == "extend":
                stats.setdefault("extend_docs", []).append(m["extensions"][-1]["docs_added"])
                sp["input_bytes"] = int(ext_pdf["html"].map(len).sum())
            elif name == "upsert":
                stats.setdefault("upsert_docs", []).append(len(set(up_pdf["url"])))
                sp["input_bytes"] = int(up_pdf["html"].map(len).sum())
            elif name == "compact":
                sp.update({k: m["compactions"][-1].get(k, 0)
                           for k in ("files_rewritten", "files_linked")})
            sp["postings_files"] = sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(table_path(idx, "postings", load_manifest(idx)))
                for f in fs
            )
            with tr.span("serve.reload"):
                local.reload()
            searcher.reload_manifest()
            t = time.perf_counter()
            got = dist_query(run, searcher, {"query_id": "probe", "terms": PROBE_TERMS,
                                             "mode": "OR", "k": 10})
            stats.setdefault("post_publish", []).append(time.perf_counter() - t)
            exhaustive = pairs(local.search(PROBE_TERMS, "OR", 10, algo="exhaustive"))
            run.check(got, exhaustive, f"dist probe after {name}")
            run.check(pairs(local.search(PROBE_TERMS, "OR", 10)), exhaustive,
                      f"local probe after {name}")
            dead |= kills.get(name, set())
            everything = {d for d, _ in pairs(local.search(["the"], "OR", local.n_docs))}
            run.check(sorted(everything & dead), [], f"deleted docs after {name}")
            if name in ("delete_by_query", "compact"):
                run.check(pairs(local.search([victim], "OR", 10)), [], f"{victim} after {name}")


def wl_ingest_mixed(run: Run, seconds: float) -> dict:
    from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    idx, oracle = read_setup(run)
    searcher, local = IndexSearcher(run.spark, idx), LocalSearcher(idx)
    with run.setup_part("warmup_s"):
        dist_query(run, searcher, {"query_id": "probe", "terms": PROBE_TERMS,
                                   "mode": "OR", "k": 10})
    stats: dict = {}
    rounds: list = []

    def step(i):
        t = time.perf_counter()
        maintenance_round(run, idx, i, searcher, local, stats)
        rounds.append(time.perf_counter() - t)

    timed_loop(run, seconds, step)
    run.index_dir, run.oracle = idx, oracle
    ext = sum(stats.get("extend_docs", [])) / max(sum(stats.get("extend", [])), 1e-9)
    up = sum(stats.get("upsert_docs", [])) / max(sum(stats.get("upsert", [])), 1e-9)
    run.metric("extend_docs_per_s", ext, "1/s", len(stats.get("extend", [])))
    run.metric("upsert_docs_per_s", up, "1/s", len(stats.get("upsert", [])))
    run.timing("delete_by_query_s", stats.get("delete_by_query", []), "s")
    run.timing("compact_tiered_s", stats.get("compact", []), "s")
    run.timing("post_publish_query_ms", stats.get("post_publish", []))
    # the unit operation is one whole round; its work is the docs written
    return {"ops_s": rounds, "work_per_op": EXT_DOCS + UP_DOCS}


WORKLOAD_FNS = {
    "build": wl_build, "search_dist": wl_search_dist,
    "serve_local": wl_serve_local, "ingest_mixed": wl_ingest_mixed,
}


def end_to_end(run: Run, res: dict) -> dict:
    ops = res["ops_s"]
    vals = {
        "op_p50_ms": statistics.median(ops) * 1000,
        "throughput_per_s": res["work_per_op"] * len(ops) / sum(ops),
        "setup_s": run.detail["setup_s"]["value"],
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def trace_overhead(run: Run, res: dict, record: str) -> None:
    """The untraced run of a workload and seed leaves its op median in
    ``record``; the traced run of the same pair reports how much slower
    its own op median is (spans + event log) as trace_overhead_pct."""
    p50 = statistics.median(res["ops_s"]) * 1000
    if not run.args.trace:
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as fh:
            json.dump({"op_p50_ms": p50}, fh)
    elif os.path.exists(record):
        with open(record) as fh:
            base = json.load(fh)["op_p50_ms"]
        run.metric("trace_overhead_pct", (p50 / base - 1.0) * 100.0, "%", len(res["ops_s"]))


def main(argv) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"run from the root of a checkout: no {PKG}/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    isolate(work)
    # the JVM inherits fd 1; route it to stderr so stdout holds only our lines
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    run = Run(args, work)
    try:
        run.start_spark()
        res = WORKLOAD_FNS[args.workload](run, args.seconds)
        run.metric("setup_s", run.loop_start - T_START, "s")
        for name, v in run.setup_parts.items():
            run.metric(f"setup.{name}", v, "s")
        # VmHWM of this driver process plus the JVM it spawned
        run.metric("peak_rss_mb", vm_hwm_mb(os.getpid()) + max(run.jvm_mb, jvm_hwm_mb()), "MB")
        trace_overhead(run, res, os.path.join(
            base, "untraced", f"{args.workload}-{args.seed}.json"))
        if args.trace:
            from layers import per_layer

            metrics = per_layer(run)
        else:
            metrics = end_to_end(run, res)
        if not run.stopped:
            run.stop_spark()
        if args.trace:
            from layers import fold_layers

            metrics = fold_layers(run, metrics)
        for name, m in metrics.items():
            run.metric(name, m["value"], m["unit"])
        # the result line holds exactly the metrics BENCHMARK.json lists
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
        metrics = {m["name"]: metrics[m["name"]] for m in listed}
    finally:
        try:
            if getattr(run, "spark", None) is not None and not run.stopped:
                run.stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    run.metric("failed_op_ratio", run.failed / max(run.attempted, 1), "ratio",
               run.attempted)
    out = os.fdopen(real_stdout, "w")
    out.write(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "detail": run.detail}) + "\n")
    out.write(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }) + "\n")
    out.flush()
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
