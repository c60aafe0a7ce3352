"""Spans around calls into the engine, and the Spark event-log fold.

A span times one call into a layer.  While it is open, the Spark job
group is the span's id, so every job the call starts carries it in the
event log.  ``fold_event_log`` reads that log after the session stops and
sums task metrics per job group (per span) and SQL metrics per physical
plan node.  The benchmark then folds spans into per-layer metrics.

The fold also runs standalone on any event log directory:

    python3 perfbench/spans.py <spark.eventLog.dir>
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metrics of the pandas-UDF plan nodes (Arrow boundary)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_METRICS = (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_RETURNED)

TASK_FIELDS = (
    "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes", "spill_bytes",
)


class Tracer:
    """Records spans in memory.  Disabled (or inactive for one op), ``span``
    only yields, so the end-to-end run pays nothing.  ``phase`` ("setup",
    "loop" or "sweep") is stamped on every span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = True
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, **tags):
        if not (self.enabled and self.active):
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}", "layer": layer, "phase": self.phase,
            "parent": parent["id"] if parent else None, **tags,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], layer)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["layer"])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)

    def of(self, layer: str, **tags) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and all(s.get(k) == v for k, v in tags.items())
        ]

    def subtree(self, span: dict) -> list[dict]:
        """The span and every span opened inside it."""
        ids, out = {span["id"]}, [span]
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def _plan_metrics(plan: dict, acc: dict) -> None:
    """accumulator id -> (plan node name, metric name), whole tree."""
    for m in plan.get("metrics", ()):
        acc[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_metrics(child, acc)


def _event_files(log_dir: str) -> list[str]:
    """Spark 4 writes one ``eventlog_v2_<app>`` directory of rolled
    ``events_<n>_<app>`` files; older layouts write one file per app."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if apps:
        files = glob.glob(os.path.join(apps[-1], "events_*"))
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return sorted(files, key=os.path.getmtime)[-1:]


def fold_event_log(log_dir: str) -> dict:
    """Sum the event log per job group.

    Returns {"groups": {group: {...task sums, "jobs", "stages",
    "job_intervals", "nodes": {(node, metric): sum}}}}.  Plan-node
    attribution uses the accumulator ids of every plan version (adaptive
    re-plans included), because build and maintenance stages carry
    generic names (``parquet at ...``, ``... at CompletableFuture``)."""
    files = _event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for p in files:
        if p.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(
                f"{p} is compressed; trace runs set spark.eventLog.compress=false"
            )
    acc_names: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {
            **{f: 0 for f in TASK_FIELDS}, "jobs": 0, "stages": set(),
            "job_intervals": [], "nodes": defaultdict(float),
        }
    )
    job_start: dict[int, tuple[str, float]] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metrics(ev["sparkPlanInfo"], acc_names)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", ()):
                        acc_names[m["accumulatorId"]] = ("adaptive", m["name"])
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = groups[group]
                    g["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerJobEnd":
                    started = job_start.pop(ev["Job ID"], None)
                    if started:
                        groups[started[0]]["job_intervals"].append(
                            (started[1], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    g["stages"].add(ev["Stage ID"])
                    _add_task(g, ev, acc_names)
    return {"groups": dict(groups)}


def _add_task(g: dict, ev: dict, acc_names: dict) -> None:
    m = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    g["executor_run_ms"] += m.get("Executor Run Time", 0)
    g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    g["gc_ms"] += m.get("JVM GC Time", 0)
    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if a.get("Metadata") != "sql":
            continue
        # SQL metric updates are logged as strings; a node missing from
        # every logged plan version still counts, under node "?"
        named = acc_names.get(a["ID"], ("?", a.get("Name")))
        try:
            g["nodes"][named] += float(a["Update"])
        except (KeyError, TypeError, ValueError):
            pass


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(tracer: Tracer, span: dict) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = [(s["t0"], s["t1"]) for s in tracer.spans if s["parent"] == span["id"]]
    return (span["t1"] - span["t0"]) - interval_union(kids)


def span_totals(tracer: Tracer, span: dict, folded: dict) -> dict:
    """Task sums, job/stage counts and plan-node sums of a span and the
    spans inside it, plus its wall time and the wall time covered by no
    Spark job (driver-only)."""
    out = {f: 0 for f in TASK_FIELDS}
    out.update(jobs=0, stages=0, nodes=defaultdict(float))
    intervals = []
    for s in tracer.subtree(span):
        g = folded["groups"].get(s["id"])
        if not g:
            continue
        for f in TASK_FIELDS:
            out[f] += g[f]
        out["jobs"] += g["jobs"]
        out["stages"] += len(g["stages"])
        intervals += g["job_intervals"]
        for k, v in g["nodes"].items():
            out["nodes"][k] += v
    wall = span["t1"] - span["t0"]
    clipped = [(max(s, span["t0"]), min(e, span["t1"])) for s, e in intervals]
    out["wall_s"] = wall
    out["driver_only_s"] = wall - interval_union([iv for iv in clipped if iv[1] > iv[0]])
    return out


def node_sum(totals: dict, metric: str, node_pattern: str = ".*") -> float:
    """Sum of one SQL metric over the plan nodes whose name matches."""
    rx = re.compile(node_pattern)
    return sum(
        v for (node, name), v in totals["nodes"].items()
        if name == metric and rx.fullmatch(node)
    )


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    folded = fold_event_log(argv[0])
    for group, g in sorted(folded["groups"].items()):
        row = {f: g[f] for f in TASK_FIELDS}
        row.update(jobs=g["jobs"], stages=len(g["stages"]))
        row.update({f"{node}/{name}": v for (node, name), v in sorted(g["nodes"].items())
                    if name in PY_METRICS})
        print(json.dumps({"group": group, **row}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
