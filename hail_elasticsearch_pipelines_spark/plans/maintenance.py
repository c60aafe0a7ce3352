"""Index maintenance: incremental append/upsert, tombstoned deletes,
and segment compaction.

Reference analogs:
  * ES write ops ``index/create/update/upsert`` for re-export into an
    existing index (hail_scripts/shared/elasticsearch_utils.py:11-17,
    hail_scripts/v02/utils/elasticsearch_client.py:106-113) →
    ``extend_index(mode="create")`` appends only new urls;
    ``upsert_index`` (mode="upsert") additionally TOMBSTONES the old
    doc of every re-crawled url and indexes the new content — the #1
    operation on a crawl corpus.  Deletes follow Lucene live-docs
    semantics: postings stay on disk, a per-segment tombstone set is
    consulted at query time, and compaction physically drops them.
  * ES ``forcemerge`` after load (elasticsearch_client.py:214) →
    ``compact_index``: strips tombstoned postings and coarsens the
    segment axis by an integer factor, concat-merging each term's
    per-segment rows.

Statistics contract (ES/Lucene-identical): after an upsert, ``n_docs``
/ ``total_tokens`` / ``avgdl`` are EXACT (the tombstoned docs' lengths
are subtracted using the doclens table), but per-term ``df`` still
counts tombstoned docs until compaction — exactly how Lucene collection
statistics behave between deletes and merges.  ``compact_index``
restores exact ``df``/``cf`` (it recounts while rewriting blobs), so a
compacted index scores bit-identically to a fresh build of the live
corpus.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import layout
from ..functions import codecs
from ..operators import index_build as ib
from .pipeline import _update_termdict, _write_termdict

_save_manifest = layout.save_manifest_atomic


def _postings_metrics(postings: DataFrame, n_terms: int) -> dict:
    """Manifest metrics over a postings table.  ``n_terms`` comes from
    the termdict consistent with the table (one row per (term_bucket,
    term), bucket a function of the term, so its row count == distinct
    terms) — a metadata-only parquet count instead of a countDistinct
    shuffle of the term STRINGS over the whole index; the aggregate
    here reads only (df, n_bytes, segment) thanks to column pruning."""
    row = postings.agg(
        F.sum("df").alias("postings_emitted"),
        F.sum("n_bytes").alias("bytes_compressed"),
        F.count("*").alias("posting_rows"),
        F.countDistinct("segment").alias("n_segments"),
    ).collect()[0]
    return {
        "postings_emitted": int(row["postings_emitted"] or 0),
        "bytes_compressed": int(row["bytes_compressed"] or 0),
        "posting_rows": int(row["posting_rows"]),
        "n_terms": int(n_terms),
        "n_segments": int(row["n_segments"]),
    }


def _termdict_row_count(
    spark: SparkSession, index_dir: str, manifest: dict,
    flips: "dict[str, str] | None" = None,
) -> int:
    """Row count of the termdict the NEXT manifest will publish (the
    just-written generation when flipped, else the current one) — a
    metadata-only parquet count."""
    rel = (flips or {}).get("termdict")
    path = (
        os.path.join(index_dir, rel)
        if rel
        else layout.table_path(index_dir, "termdict", manifest)
    )
    return int(spark.read.parquet(path).count())


def _segment_col(doc_id_col, dpp: int, seg_group: int):
    """segment = (doc_id // dpp) // seg_group, JVM-side."""
    return (
        F.floor(F.floor(doc_id_col / F.lit(dpp)) / F.lit(seg_group))
    ).cast("int")


class ConcurrentMaintenanceError(RuntimeError):
    """Another maintenance op (extend/upsert/update/compact) holds the
    index's lock."""


@contextlib.contextmanager
def _maintenance_lock(index_dir: str):
    """Single-writer guard for index maintenance: kernel flock on a
    pid-stamped lockfile.  Concurrent extend/compact/update would
    interleave postings appends and generation flips unpredictably —
    ES serializes these through the cluster state; here flock does.  A
    crashed holder's lock is released by the kernel automatically, and
    the on-disk formats are crash-consistent, so retrying over a
    crashed op's leavings is safe.  (flock does not span a shared
    cluster fs; there a TTL lease service would replace this.)"""
    import fcntl

    lock = os.path.join(index_dir, "_MAINTENANCE_LOCK")
    # Mutual exclusion comes from kernel flock — auto-released when the
    # holder dies, so there is NO stale-lock steal logic to race (the
    # r3 pid-file steal had an unfixable check-then-rename TOCTOU: two
    # waiters observing a dead pid could free-for-all and one would
    # delete the winner's fresh lock).  The pid content is diagnostic
    # only (named in the error message); a pid left behind by a killed
    # holder never blocks.  The open/flock/verify loop is the standard
    # pattern for flock on an unlink-on-release path: after acquiring,
    # re-stat the path and retry if our fd no longer names it (the
    # previous holder unlinked between our open and flock).
    while True:
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            try:
                pid = int(os.read(fd, 64).decode().strip() or "0")
            except ValueError:
                pid = 0
            os.close(fd)
            raise ConcurrentMaintenanceError(
                f"index {index_dir} is being maintained by pid {pid or '?'}"
            ) from None
        try:
            if os.fstat(fd).st_ino != os.stat(lock).st_ino:
                os.close(fd)
                continue  # holder unlinked under us; retry on fresh inode
        except FileNotFoundError:
            os.close(fd)
            continue
        os.ftruncate(fd, 0)
        os.pwrite(fd, str(os.getpid()).encode(), 0)
        break
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.unlink(lock)
        os.close(fd)  # releases the flock


def _publish_tombstones(
    staging: str, deletes_path: str, id_base: int, epoch: int = 0
) -> None:
    """Move staged tombstone files into ``deletes/segment=K/`` sidecars.

    Runs ONLY after the replacement postings/doclens/termdict appends
    succeeded, so every crash state still serves the old doc (worst
    case: old+new both live until the upsert is retried — duplication,
    never loss).  Per-file rename is atomic on one filesystem; names
    carry id_base so retried upserts never collide, and the ``e<epoch>-``
    prefix lets searchers pinned at an older deletes_epoch ignore these
    files (snapshot semantics — the old doc must not vanish from a
    pinned searcher before its replacement becomes visible at reload)."""
    for entry in sorted(os.listdir(staging)):
        src_dir = os.path.join(staging, entry)
        if not (entry.startswith("segment=") and os.path.isdir(src_dir)):
            continue
        dst_dir = os.path.join(deletes_path, entry)
        os.makedirs(dst_dir, exist_ok=True)
        for i, fn in enumerate(sorted(os.listdir(src_dir))):
            if not fn.endswith(".parquet"):
                continue
            os.rename(
                os.path.join(src_dir, fn),
                os.path.join(dst_dir, f"e{epoch}-ext-{id_base}-{i:04d}.parquet"),
            )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)


def _intent_markers(index_dir: str) -> list[str]:
    stages = os.path.join(index_dir, "stages")
    if not os.path.isdir(stages):
        return []
    return sorted(
        os.path.join(stages, e)
        for e in os.listdir(stages)
        if e.startswith("_EXTEND_INTENT_")
    )


def _parse_intent(path: str) -> dict:
    """Intent-marker payload: JSON ``{"mode", "id_base", "n_docs"}``;
    ``{}`` when the marker is unreadable or torn."""
    import json

    try:
        with open(path) as f:
            out = json.loads(f.read())
    except (OSError, ValueError):
        return {}
    return out if isinstance(out, dict) else {}


def _max_delete_file_epoch(deletes_path: str) -> int:
    """Highest ``e<N>-`` publish epoch present in the deletes sidecars.
    After a crash between tombstone publish and manifest save, files
    exist at epoch N+1 while the manifest still says N — repair must
    advance the manifest epoch or epoch-pinned searchers (and a later
    compaction stripping at the stale epoch) would never see those
    tombstones and permanently resurrect the replaced docs (ADVICE r4,
    high)."""
    from ..operators.bm25 import _file_epoch

    mx = 0
    if not os.path.isdir(deletes_path):
        return mx
    for e in os.listdir(deletes_path):
        seg_dir = os.path.join(deletes_path, e)
        if not (e.startswith("segment=") and os.path.isdir(seg_dir)):
            continue
        for fn in os.listdir(seg_dir):
            if fn.endswith(".parquet"):
                mx = max(mx, _file_epoch(fn))
    return mx


def _file_min_doc(path: str):
    """min(min_doc) of one postings parquet file, from footer row-group
    statistics (no data read); falls back to a single-column read when
    stats are absent.  None for an empty file."""
    import pyarrow.parquet as pq

    mn = None
    try:
        md = pq.read_metadata(path)
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            for ci in range(grp.num_columns):
                col = grp.column(ci)
                if col.path_in_schema != "min_doc":
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no stats")
                mn = st.min if mn is None else min(mn, st.min)
    except Exception:
        tbl = pq.read_table(path, columns=["min_doc"])
        if tbl.num_rows:
            mn = int(tbl.column("min_doc").to_numpy().min())
    return mn


def _reconcile_orphan_batch(
    spark: SparkSession, index_dir: str, manifest: dict, flips: dict
) -> dict | None:
    """Detect and drop a crashed extend batch whose postings landed but
    whose doclens append never completed (ADVICE r4, medium).

    Without this, the orphan postings score at query time with no
    doclens row behind them, and — worse — the retry recomputes
    ``id_base`` from max doclens id (unchanged) and re-appends the same
    ids, producing duplicate (term, segment) rows that fail
    ``_check_unique_terms`` on every query touching those terms.

    Detection: the batch's intent marker records its ``id_base`` and
    expected ``n_docs``; when the doclens row count at ``doc_id >=
    id_base`` falls short, the batch is incomplete.  Removal is exact
    at FILE granularity: batch appends write fresh parquet files and
    doc ids never interleave across batches (each batch starts at a
    fresh segment boundary past all prior ids), so a file whose footer
    min(min_doc) >= id_base contains ONLY the crashed batch's rows.
    Surviving files are HARDLINKED into a new postings generation
    (metadata-only) and any partial doclens rows are filtered into a
    new doclens generation; the caller's atomic manifest flip publishes
    both, so pinned readers are never pulled out from under."""
    markers = _intent_markers(index_dir)
    if not markers:
        return None
    infos = sorted(
        (int(os.path.basename(m).rsplit("_", 1)[-1]), _parse_intent(m))
        for m in markers
    )
    base, info = infos[0]  # at most one stale marker can exist (repair
    # runs under the lock before every op writes its own)
    if info.get("mode") in (None, "delete_by_query"):
        # pure-tombstone op, or a marker torn by a crash while it was
        # being written (markers are written before any append): no
        # batch to reconcile.  The caller (repair_index) still
        # advances deletes_epoch to the max on-disk file epoch and
        # recomputes globals from the live doclens view, which is
        # exactly the state a crash between _publish_tombstones and
        # _save_manifest leaves inconsistent (ADVICE r5, medium).
        return None
    doclens_path = layout.table_path(index_dir, "doclens", manifest)
    actual = int(
        spark.read.parquet(doclens_path)
        .filter(F.col("doc_id") >= F.lit(base))
        .count()
    )
    if actual == info.get("n_docs"):
        return None  # appends completed; only derived state needs repair
    postings_path = layout.table_path(index_dir, "postings", manifest)
    rel = layout.next_gen_rel(manifest, "postings")
    newp = os.path.join(index_dir, rel)
    if os.path.isdir(newp):  # a crashed earlier repair attempt
        import shutil

        shutil.rmtree(newp)
    n_dropped = 0
    for root, dirs, files in os.walk(postings_path):
        dirs[:] = [d for d in dirs if not d.startswith("_temporary")]
        relroot = os.path.relpath(root, postings_path)
        troot = os.path.join(newp, relroot) if relroot != "." else newp
        os.makedirs(troot, exist_ok=True)
        for fn in files:
            src = os.path.join(root, fn)
            if fn.endswith(".parquet"):
                mn = _file_min_doc(src)
                if mn is not None and int(mn) >= base:
                    n_dropped += 1
                    continue
            os.link(src, os.path.join(troot, fn))
    flips["postings"] = rel
    if actual:
        dl_rel = layout.next_gen_rel(manifest, "doclens")
        (
            spark.read.parquet(doclens_path)
            .filter(F.col("doc_id") < F.lit(base))
            .write.mode("overwrite")
            .parquet(os.path.join(index_dir, dl_rel))
        )
        flips["doclens"] = dl_rel
    return {
        "dropped_batch_id_base": base,
        "orphan_postings_files": n_dropped,
        "orphan_doclens_rows": actual,
    }


def repair_index(spark: SparkSession, index_dir: str) -> dict:
    """Reconcile the PRIMARY tables after a crashed maintenance op,
    then recompute DERIVED state (termdict, globals, metrics) from them
    and publish everything with one atomic manifest flip.

    Exists for the crash windows the generation design cannot cover:
    ``extend_index`` APPENDS postings/doclens in place (appends are
    additive, so pinned readers are safe), and a crash between those
    appends and the manifest save leaves (a) the batch's docs on disk
    with stale df/n_docs/avgdl, (b) possibly postings with NO doclens
    rows behind them (append order: postings first), and (c) possibly
    tombstone files published at an epoch the manifest never recorded.
    ``extend_index`` therefore writes an INTENT marker before its
    appends and every maintenance op runs this repair first when a
    marker is found.  Repair (1) drops an incomplete batch's orphan
    postings files / partial doclens rows (``_reconcile_orphan_batch``),
    (2) advances ``deletes_epoch`` to the max epoch found on disk
    (``_max_delete_file_epoch``), (3) rebuilds the termdict and globals
    from the reconciled primaries.  After repair a COMPLETE crashed
    batch counts as fully indexed and an INCOMPLETE one as never
    started, so the retry's create/upsert arithmetic is exact either
    way."""
    manifest = layout.load_manifest(index_dir)
    flips: dict[str, str] = {}
    recon = _reconcile_orphan_batch(spark, index_dir, manifest, flips)
    postings_path = (
        os.path.join(index_dir, flips["postings"])
        if "postings" in flips
        else layout.table_path(index_dir, "postings", manifest)
    )
    doclens_path = (
        os.path.join(index_dir, flips["doclens"])
        if "doclens" in flips
        else layout.table_path(index_dir, "doclens", manifest)
    )
    deletes_path = layout.table_path(index_dir, "deletes", manifest)
    manifest["deletes_epoch"] = max(
        int(manifest.get("deletes_epoch", 0)),
        _max_delete_file_epoch(deletes_path),
    )
    td_rel = layout.next_gen_rel(manifest, "termdict")
    _write_termdict(
        spark,
        index_dir,
        postings_path=postings_path,
        dest_path=os.path.join(index_dir, td_rel),
    )
    flips["termdict"] = td_rel
    live = spark.read.parquet(doclens_path)
    n_tombstones = 0
    if os.path.isdir(deletes_path):
        dead = spark.read.parquet(deletes_path).select("doc_id").distinct()
        n_tombstones = int(dead.count())
        live = live.join(F.broadcast(dead), "doc_id", "left_anti")
    from ..functions.tokenize import token_count_col

    # text_fields: exact per-field token totals recomputed from the
    # STORED field strings in doclens (why the pipeline forces
    # stored=True on text_fields) — field avgdls stay exact after any
    # crash, same as body avgdl
    rep_tf = [
        f
        for f in manifest["params"].get("text_fields", ()) or ()
        if f in live.columns
    ]
    row = live.agg(
        F.count("*").alias("n"),
        F.sum("doc_len").alias("tok"),
        *[
            F.sum(F.greatest(token_count_col(F.col(f)), F.lit(0))).alias(
                f"__ft_{f}"
            )
            for f in rep_tf
        ],
    ).collect()[0]
    g = manifest["globals"]
    g["n_docs"] = int(row["n"])
    # a kept crashed batch is in no extension record: the snapshot's id
    # end comes from the reconciled rows, dead ones included
    max_id = spark.read.parquet(doclens_path).agg(F.max("doc_id")).collect()[0][0]
    g["doc_id_end"] = int(max_id) + 1 if max_id is not None else 0
    g["total_tokens"] = int(row["tok"] or 0)
    g["avgdl"] = g["total_tokens"] / g["n_docs"] if g["n_docs"] else 0.0
    if rep_tf:
        g["field_stats"] = {
            f: {"total_tokens": int(row[f"__ft_{f}"] or 0)} for f in rep_tf
        }
    manifest["globals"] = g
    manifest["metrics"] = {
        "docs_indexed": g["n_docs"],
        "n_tombstones": n_tombstones,
        **_postings_metrics(
            spark.read.parquet(postings_path),
            n_terms=_termdict_row_count(spark, index_dir, manifest, flips),
        ),
    }
    manifest.setdefault("repairs", []).append(
        {
            "intent_markers": len(_intent_markers(index_dir)),
            "reconciled": recon,
        }
    )
    layout.flip_tables(manifest, flips)
    _save_manifest(index_dir, manifest)
    for m in _intent_markers(index_dir):
        with contextlib.suppress(OSError):
            os.unlink(m)
    return manifest


def _repair_if_needed(spark: SparkSession, index_dir: str) -> None:
    if _intent_markers(index_dir):
        repair_index(spark, index_dir)


def extend_index(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    mode: str = "create",
    validation="default",
) -> dict:
    """See _extend_index_locked; runs under the single-writer
    maintenance lock."""
    with _maintenance_lock(index_dir):
        _repair_if_needed(spark, index_dir)
        return _extend_index_locked(
            spark, index_dir, new_pages, mode=mode, validation=validation
        )


def _extend_index_locked(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    mode: str = "create",
    validation="default",
) -> dict:
    """Append a crawl batch to a published index.

    mode="create": only urls NOT already live are added (left_anti
    against live doclens — the reference's ``create``-op semantics).
    mode="upsert": re-crawled urls REPLACE their old doc — the old
    doc_id is tombstoned (query-time delete) and the new content is
    indexed under a fresh id; unseen urls are plain inserts
    (``upsert``-op semantics).

    New doc ids start at the next SEGMENT boundary after the current
    max id, so no (term, segment) key ever holds more than one postings
    row and every existing blob stays byte-identical.
    """
    if mode not in ("create", "upsert"):
        raise ValueError(f"unknown extend mode {mode!r}")
    manifest = layout.load_manifest(index_dir)
    # grace-period GC: directories retired by the PREVIOUS op's
    # generation flip (plus crash orphans) are only removed now, so
    # readers pinned to the previous generation had a full maintenance
    # interval to finish
    layout.gc_stale_dirs(index_dir, manifest)
    params = manifest["params"]
    g = manifest["globals"]
    dpp = int(g["docs_per_part"])
    seg_group = int(params["seg_group"])
    n_term_buckets = int(params["n_term_buckets"])

    doclens_path = layout.table_path(index_dir, "doclens", manifest)
    deletes_path = layout.table_path(index_dir, "deletes", manifest)
    postings_path = layout.table_path(index_dir, "postings", manifest)
    existing = spark.read.parquet(doclens_path)
    max_id = existing.agg(F.max("doc_id")).collect()[0][0]
    # New ids must start at the next SEGMENT boundary, not merely the next
    # part boundary: segment = (doc_id // dpp) // seg_group, and every
    # query-side scorer assumes at most ONE postings row per (term,
    # segment) — an append sharing a segment with existing rows would be
    # silently clobbered in the postings[term] dict at query time.
    if max_id is None:
        id_base = 0
    else:
        next_seg = (max_id // dpp) // seg_group + 1
        id_base = next_seg * seg_group * dpp

    # live = doclens minus already-tombstoned rows (ids are never reused,
    # so max_id still ranges over ALL rows)
    if os.path.isdir(deletes_path):
        dead_ids = spark.read.parquet(deletes_path).select("doc_id").distinct()
        live = existing.join(F.broadcast(dead_ids), "doc_id", "left_anti")
    else:
        live = existing

    facet_fields = tuple(params.get("facet_fields", ib.DEFAULT_FACET_FIELDS))
    stored_fields = tuple(params.get("stored_fields", ()))
    text_fields = tuple(params.get("text_fields", ()) or ())
    # nested (array-of-struct) fields: new docs' exploded sidecar rows
    # append alongside doclens; a batch lacking the column is legal
    # (ES docs-without-the-field), it just emits no rows
    nested_specs = {
        n: sorted(s["nested"])
        for n, s in (params.get("fields") or {}).items()
        if s.get("nested")
    }
    meta_cols = tuple(
        dict.fromkeys(
            facet_fields + stored_fields + tuple(sorted(nested_specs))
        )
    )
    # a batch without an analyzed field column is legal (ES: docs
    # simply lack the field) — appended docs get NULL → zero field
    # tokens, no field postings, field_stats contribution 0
    for f in text_fields:
        if f not in new_pages.columns:
            new_pages = new_pages.withColumn(f, F.lit(None).cast("string"))
    for f in nested_specs:
        if f not in new_pages.columns:
            new_pages = new_pages.withColumn(
                f, F.lit(None).cast(params["fields"][f]["dtype"])
            )
    normalized = ib.normalize_pages(
        new_pages, params.get("lang_filter"), meta_cols=meta_cols
    )
    n_killed, killed_tokens = 0, 0
    killed_field_tokens: dict[str, int] = {}
    tombstone_staging = None
    if mode == "create":
        fresh = normalized.join(live.select("url"), "url", "left_anti")
    else:  # upsert: every normalized row is (re)indexed; old docs die
        fresh = normalized
        # text_fields ride along: the killed docs' per-field token
        # totals must leave field_stats just like doc_len leaves
        # total_tokens (the field strings are STORED in doclens for
        # exactly this — pipeline forces stored=True on text_fields)
        kill_tf = [f for f in text_fields if f in live.columns]
        to_kill = live.join(
            normalized.select("url").distinct(), "url", "left_semi"
        ).select("doc_id", "doc_len", *kill_tf)
        to_kill.persist()
        try:
            from ..functions.tokenize import token_count_col

            krow = to_kill.agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("tok"),
                *[
                    F.sum(
                        F.greatest(token_count_col(F.col(f)), F.lit(0))
                    ).alias(f"__ft_{f}")
                    for f in kill_tf
                ],
            ).collect()[0]
            n_killed = int(krow["n"])
            killed_tokens = int(krow["tok"] or 0)
            killed_field_tokens = {
                f: int(krow[f"__ft_{f}"] or 0) for f in kill_tf
            }
            if n_killed:
                # STAGE tombstones now, PUBLISH them only after the
                # replacement postings/doclens/termdict are durable —
                # publishing first would leave the old docs dead with no
                # replacement if we crash in between (searchers read
                # deletes/ unconditionally).  Hive-partitioned by
                # segment so each scoring task can read ITS sidecar.
                tombstone_staging = os.path.join(
                    index_dir, "stages", f"deletes_ext_{id_base}"
                )
                (
                    to_kill.select(
                        "doc_id",
                        _segment_col(F.col("doc_id"), dpp, seg_group).alias(
                            "segment"
                        ),
                    )
                    .coalesce(1)
                    .write.mode("overwrite")
                    .partitionBy("segment")
                    .parquet(tombstone_staging)
                )
        finally:
            to_kill.unpersist()

    # persist the batch before id assignment: repartitionByRange's
    # boundary-sampling job would otherwise recompute the whole
    # normalize + anti-join lineage a second time.  Batches are
    # increment-sized (never the full corpus), so the cache is bounded.
    fresh = fresh.persist()
    docs = ib.docs_with_ids(fresh, meta_cols=meta_cols).withColumn(
        "doc_id", F.col("doc_id") + F.lit(id_base)
    )
    docs_path = os.path.join(index_dir, "stages", f"docs_ext_{id_base}")
    # batch globals ride the write as observation metrics (same
    # aggregates as corpus_stats) — one less scan of the staged batch
    from pyspark.sql import Observation

    tf_cols = [f for f in text_fields if f in docs.columns]
    obs = Observation(f"extend_stats_{id_base}")
    docs.observe(obs, *ib.corpus_stats_aggs(tf_cols)).write.mode(
        "overwrite"
    ).parquet(docs_path)
    new_stats = ib.corpus_stats_from_row(obs.get, tf_cols)
    spark.catalog.clearCache()  # free assign_dense_ids' + batch persist
    docs = spark.read.parquet(docs_path)
    if new_stats["n_docs"] == 0 and n_killed == 0:
        return manifest
    # pre-append validation gate on the BATCH (same thresholds/typed
    # errors as the build's pre-publish gate): a corrupted crawl batch
    # fails here, before any postings/doclens append or tombstone
    # publish — the live index is untouched.
    batch_validation = None
    if validation is not None and new_stats["n_docs"]:
        from .validate import ValidationThresholds, validate_globals

        thr = (
            ValidationThresholds() if validation == "default" else validation
        )
        batch_validation = validate_globals(new_stats, thr)

    intent = None
    if new_stats["n_docs"] or n_killed:
        # intent marker: if we crash between the in-place appends /
        # tombstone publish below and the manifest save, the next
        # maintenance op sees this file and runs repair_index
        # (reconcile primaries + recompute termdict/globals/epoch)
        # BEFORE doing anything else.  The payload records the batch's
        # expected doclens row count so repair can tell a COMPLETE
        # crashed batch (keep, fix stats) from an INCOMPLETE one (drop
        # its orphan postings files).  Written even for a pure-tombstone
        # upsert (no new docs): a crash after _publish_tombstones but
        # before the manifest save must still advance deletes_epoch.
        import json as _json

        os.makedirs(os.path.join(index_dir, "stages"), exist_ok=True)
        intent = os.path.join(
            index_dir, "stages", f"_EXTEND_INTENT_{id_base}"
        )
        with open(intent, "w") as f:
            f.write(
                _json.dumps(
                    {
                        "mode": mode,
                        "id_base": id_base,
                        "n_docs": new_stats["n_docs"],
                    }
                )
            )
    if new_stats["n_docs"]:
        partials = ib.build_partials(
            docs, dpp, seg_group,
            with_positions=params.get("with_positions", True),
            facet_fields=facet_fields,
            dlen_buckets=params.get("dlen_buckets", False),
            text_fields=text_fields,
        )
        merged = ib.merge_partials(partials).withColumn(
            "term_bucket",
            F.crc32(F.col("term").cast("binary")) % F.lit(n_term_buckets),
        )
        merged.persist()
        table_flips: dict[str, str] = {}
        try:
            # new segments append as extra files per bucket (ES: more
            # segments; compact_index is the forcemerge that folds them
            # in).  Appends are ADDITIVE — a reader pinned to its
            # snapshot (file listing captured at construction) never
            # sees them until reload; new readers see complete rows.
            merged.write.mode("append").partitionBy("term_bucket").parquet(
                postings_path
            )
            # nested sidecar rows append BEFORE doclens: the doclens
            # row count is repair's batch-completeness signal, so a
            # crash here reads as an incomplete batch whose orphan
            # nested rows are masked by the resolvers' live-doclens
            # semi-join and stripped at the next full compaction
            nested_cols = [f for f in nested_specs if f in docs.columns]
            if nested_cols:
                nested_path = layout.table_path(
                    index_dir, "nested", manifest
                )
                (
                    ib.nested_rows(
                        docs, {f: nested_specs[f] for f in nested_cols}
                    )
                    .repartition("field", "leaf")
                    .sortWithinPartitions("leaf", "value", "doc_id")
                    .write.mode("append")
                    .partitionBy("field")
                    .parquet(nested_path)
                )
            stored = [c for c in stored_fields if c in docs.columns]
            dv = ["warc_ts"] if "warc_ts" in docs.columns else []
            docs.select("doc_id", "url", "doc_len", *stored, *dv).write.mode(
                "append"
            ).parquet(doclens_path)
            # incremental: fold ONLY the new batch into the termdict —
            # O(batch + termdict), never O(full postings).  Written to
            # a fresh GENERATION dir and published by the atomic
            # manifest flip below (the old staged in-place swap had a
            # window with no termdict on disk at all).
            td_rel = layout.next_gen_rel(manifest, "termdict")
            _update_termdict(
                spark,
                merged,
                src_path=layout.table_path(index_dir, "termdict", manifest),
                dest_path=os.path.join(index_dir, td_rel),
            )
            table_flips["termdict"] = td_rel
        finally:
            merged.unpersist()
    else:
        table_flips = {}

    if tombstone_staging is not None:
        new_epoch = int(manifest.get("deletes_epoch", 0)) + 1
        _publish_tombstones(
            tombstone_staging, deletes_path, id_base, epoch=new_epoch
        )
        manifest["deletes_epoch"] = new_epoch

    if new_stats["n_docs"]:
        # the batch's ids are dense from id_base; readers pinned to the
        # manifest saved below read the rows under this bound, so a
        # later batch's in-place appends stay invisible to them
        g["doc_id_end"] = id_base + new_stats["n_docs"]
    g["n_docs"] += new_stats["n_docs"] - n_killed
    g["total_tokens"] += new_stats["total_tokens"] - killed_tokens
    g["avgdl"] = g["total_tokens"] / g["n_docs"] if g["n_docs"] else 0.0
    if text_fields:
        fs = g.get("field_stats") or {}
        new_fs = new_stats.get("field_stats", {})
        for f in text_fields:
            fs[f] = {
                "total_tokens": int(fs.get(f, {}).get("total_tokens", 0))
                + int(new_fs.get(f, {}).get("total_tokens", 0))
                - killed_field_tokens.get(f, 0)
            }
        g["field_stats"] = fs
    manifest["globals"] = g
    n_tombstones = (
        int(spark.read.parquet(deletes_path).count())
        if os.path.isdir(deletes_path)
        else 0
    )
    manifest["metrics"] = {
        "docs_indexed": g["n_docs"],
        "n_tombstones": n_tombstones,
        **_postings_metrics(
            spark.read.parquet(postings_path),
            n_terms=_termdict_row_count(
                spark, index_dir, manifest, table_flips
            ),
        ),
    }
    if table_flips:
        layout.flip_tables(manifest, table_flips)
    manifest.setdefault("extensions", []).append(
        {
            "id_base": id_base,
            "mode": mode,
            "docs_added": new_stats["n_docs"],
            "docs_tombstoned": n_killed,
            "validation": batch_validation,
        }
    )
    _save_manifest(index_dir, manifest)
    if intent is not None:
        with contextlib.suppress(OSError):
            os.unlink(intent)
    return manifest


def upsert_index(spark: SparkSession, index_dir: str, new_pages: DataFrame) -> dict:
    """Re-crawl ingestion: tombstone + replace existing urls, insert new
    ones (the reference's ES ``upsert`` write op)."""
    return extend_index(spark, index_dir, new_pages, mode="upsert")


def update_facet_field(
    spark: SparkSession, index_dir: str, field: str, updates: DataFrame
) -> dict:
    """See _update_facet_field_locked; runs under the single-writer
    maintenance lock."""
    with _maintenance_lock(index_dir):
        _repair_if_needed(spark, index_dir)
        return _update_facet_field_locked(spark, index_dir, field, updates)


# Executor-process cache of per-segment facet-update sidecars, keyed by
# the op's unique staging dir (generation-suffixed) + segment — the
# distributed replacement for r3's driver-collected update batch.
_SEG_UPDATES_CACHE: dict[tuple[str, int], tuple] = {}
_SEG_UPDATES_CACHE_MAX = 1024


def _read_segment_updates(updates_dir: str, segment: int) -> tuple:
    """(sorted updated doc ids, {facet token: (sorted ids, doc_lens)})
    of ONE segment, read INSIDE the rewrite task from the op's hive
    sidecar (``stages/facet_update-g<G>/segment=K/``).  Each task reads
    only its own segments' slices, so a corpus-wide retag (10^9 rows)
    never materializes on the driver or rides a task closure."""
    key = (updates_dir, int(segment))
    hit = _SEG_UPDATES_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.dataset as ds

    seg_dir = os.path.join(updates_dir, f"segment={int(segment)}")
    if not os.path.isdir(seg_dir):
        out: tuple = (None, {})
    else:
        tbl = ds.dataset(seg_dir, format="parquet").to_table(
            columns=["doc_id", "doc_len", "new_token"]
        )
        ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        dls = tbl.column("doc_len").to_numpy(zero_copy_only=False).astype(np.int64)
        toks = np.asarray(tbl.column("new_token").to_pylist(), dtype=object)
        order = np.argsort(ids, kind="stable")
        ids, dls, toks = ids[order], dls[order], toks[order]
        tok_map = {
            str(t): (ids[toks == t], dls[toks == t]) for t in set(toks.tolist())
        }
        out = (ids, tok_map)
    if len(_SEG_UPDATES_CACHE) >= _SEG_UPDATES_CACHE_MAX:
        _SEG_UPDATES_CACHE.clear()
    _SEG_UPDATES_CACHE[key] = out
    return out


def _update_facet_field_locked(
    spark: SparkSession, index_dir: str, field: str, updates: DataFrame
) -> dict:
    """Partial-document ``update``: re-tag ONE metadata facet field for
    a batch of urls WITHOUT re-tokenizing or re-indexing their text —
    the reference's ES ``update`` write op (merge fields into an
    existing doc, hail_scripts/shared/elasticsearch_utils.py:11-17,
    hail_scripts/v02/utils/elasticsearch_client.py:106-113), which
    ``upsert_index`` (whole-doc replace) previously over-served.

    ``updates``: DataFrame(url, new_value).  Mechanics: the updated
    docs are removed from EVERY existing facet term of the field and
    inserted into their new value's facet token (tf=1, dl=doc_len,
    position = doc_len + the field's facet slot — exactly what a fresh
    build of the re-tagged corpus emits).  Only the affected facet
    buckets' rows are rewritten; document text, doc ids, doc lengths,
    n_docs and avgdl are untouched, so every BM25 score is
    bit-identical — only facet filtering changes.

    Fully distributed (r3 verdict): urls resolve to doc ids with a
    join against live doclens (tombstoned rows anti-joined out — dead
    docs are not retagged), the resolved batch is written to a
    per-segment hive sidecar, and each rewrite task reads only ITS
    segments' update slices — no driver-side collect of operator
    input, so a corpus-wide retag scales like any other shuffle.

    Publish is ATOMIC (generation pointers, layout.py): affected
    buckets are written into a fresh ``postings-g<G>`` dir, unaffected
    bucket directories are HARDLINKED in (metadata-only, no data
    copy), termdict (and doclens when the field is stored) get their
    own generation dirs, and one manifest replace flips readers to all
    of them — a concurrent reader sees the whole pre-update index or
    the whole post-update index, never a doc matching neither facet
    value (the r3 inter-bucket crash/visibility window)."""
    import shutil

    manifest = layout.load_manifest(index_dir)
    layout.gc_stale_dirs(index_dir, manifest)
    params, g = manifest["params"], manifest["globals"]
    dpp, seg_group = int(g["docs_per_part"]), int(params["seg_group"])
    n_term_buckets = int(params["n_term_buckets"])
    facet_fields = [
        f
        for f in params.get("facet_fields", ib.DEFAULT_FACET_FIELDS)
        if f is not None
    ]
    if field not in facet_fields:
        raise ValueError(
            f"{field!r} is not a facet field of this index ({facet_fields})"
        )
    facet_slot = facet_fields.index(field)
    with_positions = bool(params.get("with_positions", True))
    postings_path = layout.table_path(index_dir, "postings", manifest)
    doclens_path = layout.table_path(index_dir, "doclens", manifest)
    deletes_path = layout.table_path(index_dir, "deletes", manifest)
    prefix = f"__{field}_"

    # resolve urls → (doc_id, doc_len, new_token, segment), DISTRIBUTED:
    # live doclens (deletes anti-joined — tombstoned docs keep a doclens
    # row until compaction and must not be retagged) joined to the
    # batch; duplicate urls in one batch collapse deterministically to
    # max(new_value); unknown urls drop out of the inner join
    doclens = spark.read.parquet(doclens_path)
    live = doclens.select("doc_id", "doc_len", "url")
    if os.path.isdir(deletes_path):
        dead_ids = spark.read.parquet(deletes_path).select("doc_id").distinct()
        live = live.join(dead_ids, "doc_id", "left_anti")
    resolved_plan = (
        live.join(updates.select("url", "new_value"), "url")
        .groupBy("doc_id")
        .agg(
            F.first("doc_len").alias("doc_len"),
            F.max("new_value").alias("new_value"),
        )
        .select(
            "doc_id",
            "doc_len",
            F.concat(
                F.lit(prefix),
                ib.facet_value_col(F.col("new_value")),
                F.lit("__"),
            ).alias("new_token"),
            _segment_col(F.col("doc_id"), dpp, seg_group).alias("segment"),
        )
    )
    # staging path must be unique PER INVOCATION, not per generation: a
    # failed/aborted run retried in the same Spark application would
    # reuse facet_update-g<G> (gen only advances on successful manifest
    # save) and executors that cached the first attempt's slices in
    # _SEG_UPDATES_CACHE would serve stale data to the rewrite tasks
    # (ADVICE r4) — a random token makes every attempt's cache key fresh
    import uuid

    gen = int(manifest.get("generation", 0)) + 1
    updates_dir = os.path.join(
        index_dir, "stages", f"facet_update-g{gen}-{uuid.uuid4().hex[:12]}"
    )
    (
        resolved_plan.repartition(F.col("segment"))
        .write.mode("overwrite")
        .partitionBy("segment")
        .parquet(updates_dir)
    )
    resolved = spark.read.parquet(updates_dir)
    n_updated = int(resolved.count())
    if n_updated == 0:
        shutil.rmtree(updates_dir, ignore_errors=True)
        return manifest

    # affected facet vocabulary = the field's existing facet tokens
    # (termdict scan — vocabulary-bounded, NOT batch-bounded) ∪ the
    # batch's distinct new tokens
    td_path = layout.table_path(index_dir, "termdict", manifest)
    td = spark.read.parquet(td_path)
    existing_terms = {
        r["term"]
        for r in td.filter(
            F.col("term").startswith(prefix) & F.col("term").endswith("__")
        )
        .select("term")
        .collect()
    }
    new_tokens = {
        r["new_token"] for r in resolved.select("new_token").distinct().collect()
    }
    all_terms = sorted(existing_terms | new_tokens)
    buckets = sorted({ib.term_bucket(t, n_term_buckets) for t in all_terms})
    term_set = set(all_terms)
    cols = [f.name for f in ib.POSTINGS_SCHEMA.fields]

    def _encode_row(term, seg, d, tf, dl, pos):
        # replicate the BUILD's byte layout exactly: the build encodes
        # per (term, part) and concat-merges, so blocks restart at part
        # boundaries — encoding the same way keeps an updated row
        # BYTE-identical to a fresh build of the re-tagged corpus
        # (tested), not merely decode-identical.
        cuts = np.flatnonzero(np.diff(d // dpp)) + 1
        bounds = np.concatenate(([0], cuts, [len(d)]))
        offs = np.concatenate(([0], np.cumsum(tf)))
        pieces, pos_pieces, mins = [], [], []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            pieces.append(
                codecs.encode_postings(d[lo:hi], tf[lo:hi], dls=dl[lo:hi])
            )
            bstarts = np.arange(0, hi - lo, codecs.BLOCK_SIZE)
            mins.append(np.minimum.reduceat(dl[lo:hi], bstarts))
            if with_positions:
                pos_pieces.append(
                    codecs.encode_position_lists(
                        pos[offs[lo] : offs[hi]], tf[lo:hi]
                    )
                )
        blob, blast, bmaxtf, boff = codecs.merge_encoded(pieces)
        bmin_dl = np.concatenate(mins)
        pos_blob = codecs.merge_streams(pos_pieces) if with_positions else b""
        return (
            term, int(seg), int(d[0]), int(len(d)), int(tf.sum()), blob,
            blast.tolist(), bmaxtf.tolist(), bmin_dl.tolist(), boff.tolist(),
            pos_blob, len(blob) + len(pos_blob),
        )

    def rewrite(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for r in pdf.itertuples():
                term, seg = r.term, int(r.segment)
                dead, tok_map = _read_segment_updates(updates_dir, seg)
                if term not in term_set or dead is None:
                    rows.append(
                        (
                            term, seg, int(r.min_doc), int(r.df), int(r.cf),
                            bytes(r.blob), list(r.block_last),
                            list(r.block_max_tf), list(r.block_min_dl),
                            list(r.block_off), bytes(r.pos_blob), int(r.n_bytes),
                        )
                    )
                    continue
                d, tf, dl = codecs.decode_postings(bytes(r.blob))
                keep = ~np.isin(d, dead, assume_unique=True)
                d2, tf2, dl2 = d[keep], tf[keep], dl[keep]
                pos2 = None
                if with_positions:
                    pos, offs = codecs.decode_position_lists(bytes(r.pos_blob), tf)
                    ki = np.flatnonzero(keep)
                    sl = [pos[offs[i] : offs[i + 1]] for i in ki]
                    pos2 = (
                        np.concatenate(sl) if sl else np.array([], np.int64)
                    )
                ins = tok_map.get(term)
                if ins is not None:
                    add_d, add_dl = ins
                    where = np.searchsorted(d2, add_d)
                    d2 = np.insert(d2, where, add_d)
                    tf2 = np.insert(tf2, where, 1)
                    dl2 = np.insert(dl2, where, add_dl)
                    if with_positions:
                        # splice each new doc's single facet position
                        # (doc_len + slot) into the flat stream at its
                        # post-insertion row offset
                        pos2 = _splice_positions(
                            pos2, tf2, where, add_dl + facet_slot
                        )
                if len(d2) == 0:
                    continue
                rows.append(_encode_row(term, seg, d2, tf2, dl2, pos2))
            yield pd.DataFrame(rows, columns=cols)

    pruned = spark.read.parquet(postings_path).filter(
        F.col("term_bucket").isin(buckets)
    )
    # only the facet tokens' rows cross the Python boundary (guide §4:
    # pass only what the function needs) — every other row of the
    # affected buckets is hash-cohabitation and flows JVM-side straight
    # into the generation write, instead of round-tripping its blob
    # bytes through Arrow for an identity re-emit
    to_py = pruned.filter(F.col("term").isin(all_terms))
    passthrough = (
        pruned.filter(~F.col("term").isin(all_terms))
        .drop("term_bucket")
        .select(*cols)
    )
    rewritten = to_py.drop("term_bucket").select(*cols).mapInPandas(
        rewrite, schema=ib.POSTINGS_SCHEMA
    ).unionByName(passthrough)

    # rows that need CREATING (a new facet value in a segment with no
    # postings row for it yet): anti-join the resolved batch against
    # the existing (term, segment) listing — all distributed, then one
    # applyInPandas per missing (token, segment) group encodes the row
    have = (
        pruned.filter(F.col("term").isin(all_terms))
        .select(F.col("term").alias("new_token"), "segment")
        .distinct()
    )
    missing = resolved.join(have, ["new_token", "segment"], "left_anti")

    def encode_group(key, pdf):
        tok, seg = key
        order = np.argsort(pdf["doc_id"].to_numpy())
        add_d = pdf["doc_id"].to_numpy()[order].astype(np.int64)
        add_dl = pdf["doc_len"].to_numpy()[order].astype(np.int64)
        pos = (add_dl + facet_slot) if with_positions else None
        return pd.DataFrame(
            [
                _encode_row(
                    tok, int(seg), add_d,
                    np.ones(len(add_d), np.int64), add_dl, pos,
                )
            ],
            columns=cols,
        )

    created = missing.groupBy("new_token", "segment").applyInPandas(
        encode_group, schema=ib.POSTINGS_SCHEMA
    )
    rewritten = rewritten.unionByName(created)

    postings_rel = layout.next_gen_rel(manifest, "postings")
    new_postings_path = os.path.join(index_dir, postings_rel)
    (
        rewritten.withColumn(
            "term_bucket",
            F.crc32(F.col("term").cast("binary")) % F.lit(n_term_buckets),
        )
        .repartitionByRange(max(len(buckets), 1), "term_bucket", "term", "segment")
        .sortWithinPartitions("term_bucket", "term", "segment")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(new_postings_path)
    )
    # unaffected buckets ride into the new generation as per-file
    # HARDLINKS — metadata-only; a 100 TB index re-tags one facet
    # writing only the affected buckets' bytes
    affected = set(buckets)
    for entry in os.listdir(postings_path):
        if not entry.startswith("term_bucket="):
            continue
        if int(entry.split("=", 1)[1]) in affected:
            continue
        layout.link_tree(
            os.path.join(postings_path, entry),
            os.path.join(new_postings_path, entry),
        )
    flips = {"postings": postings_rel}

    # termdict: replace the affected terms' rows with stats recomputed
    # from the new generation
    new_td = (
        spark.read.parquet(new_postings_path)
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(all_terms))
        .groupBy("term_bucket", "term")
        .agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.count("*").alias("n_rows"),
        )
    )
    combined = td.filter(~F.col("term").isin(all_terms)).unionByName(new_td)
    td_rel = layout.next_gen_rel(manifest, "termdict")
    (
        combined.repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(os.path.join(index_dir, td_rel))
    )
    flips["termdict"] = td_rel

    # stored-field refresh (only when the field rides doclens)
    if field in doclens.columns:
        orig_cols = doclens.columns
        upd = updates.groupBy("url").agg(F.max("new_value").alias("__new__"))
        dl_new = (
            doclens.join(upd, "url", "left")
            .withColumn(field, F.coalesce(F.col("__new__"), F.col(field)))
            .select(*orig_cols)
        )
        dl_rel = layout.next_gen_rel(manifest, "doclens")
        dl_new.write.mode("overwrite").parquet(os.path.join(index_dir, dl_rel))
        flips["doclens"] = dl_rel

    manifest.setdefault("updates", []).append(
        {"field": field, "docs_updated": n_updated}
    )
    layout.flip_tables(manifest, flips)
    _save_manifest(index_dir, manifest)
    shutil.rmtree(updates_dir, ignore_errors=True)
    return manifest


def _splice_positions(
    pos2: np.ndarray,
    tf_after: np.ndarray,
    where: np.ndarray,
    new_positions: np.ndarray,
) -> np.ndarray:
    """Insert one position per new doc into the flat positions stream.

    ``tf_after`` is the per-doc tf AFTER doc insertion (new docs have
    tf=1), ``where`` the sorted insertion indices into the
    pre-insertion doc array (np.insert semantics), ``new_positions``
    the single position of each inserted doc (same order)."""
    offs_after = np.concatenate(([0], np.cumsum(tf_after)))
    rows_after = where + np.arange(len(where))
    # row r starts at offs_after[r] post-insertion; np.insert wants
    # indices into the PRE-insertion flat array, so subtract the count
    # of earlier single-element insertions
    pre_idx = offs_after[rows_after] - np.arange(len(rows_after))
    return np.insert(pos2, pre_idx, new_positions)


def _strip_tombstones(
    postings: DataFrame, deletes_dir: str, epoch: int | None
) -> DataFrame:
    """Rewrite posting rows with tombstoned docs physically removed
    (blob re-encoded, df/cf/min_doc/block index recomputed; rows left
    empty are dropped).  mapInPandas — no shuffle, each file rewritten
    in place of its scan task.

    Each task reads ITS segments' tombstone sidecars via
    read_segment_deletes (executor-cached, exactly like the query
    path) — the closure carries two scalars, not a driver-materialized
    dict of every segment's tombstones, which under heavy upsert churn
    between compactions was the last multi-GB closure broadcast in the
    engine (r3 verdict)."""
    from ..operators.bm25 import read_segment_deletes

    cols = [f.name for f in ib.POSTINGS_SCHEMA.fields]

    def strip(batches):
        seg_dead: dict[int, np.ndarray | None] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for r in pdf.itertuples():
                seg = int(r.segment)
                if seg not in seg_dead:
                    seg_dead[seg] = read_segment_deletes(
                        deletes_dir, seg, epoch
                    )
                dead = seg_dead[seg]
                blob = bytes(r.blob)
                pos_blob = bytes(r.pos_blob)
                if dead is None or dead.size == 0:
                    rows.append(
                        (
                            r.term, int(r.segment), int(r.min_doc), int(r.df),
                            int(r.cf), blob, list(r.block_last),
                            list(r.block_max_tf), list(r.block_min_dl),
                            list(r.block_off), pos_blob, int(r.n_bytes),
                        )
                    )
                    continue
                d, tf, dl = codecs.decode_postings(blob)
                keep = ~np.isin(d, dead, assume_unique=True)
                if keep.all():
                    rows.append(
                        (
                            r.term, int(r.segment), int(r.min_doc), int(r.df),
                            int(r.cf), blob, list(r.block_last),
                            list(r.block_max_tf), list(r.block_min_dl),
                            list(r.block_off), pos_blob, int(r.n_bytes),
                        )
                    )
                    continue
                if not keep.any():
                    continue
                d2, tf2, dl2 = d[keep], tf[keep], dl[keep]
                nblob, blast, bmaxtf, boff = codecs.encode_postings(
                    d2, tf2, dls=dl2
                )
                starts = np.arange(0, len(d2), codecs.BLOCK_SIZE)
                bmin_dl = np.minimum.reduceat(dl2, starts)
                if pos_blob:
                    pos, offs = codecs.decode_position_lists(pos_blob, tf)
                    kept_idx = np.flatnonzero(keep)
                    slices = [pos[offs[i] : offs[i + 1]] for i in kept_idx]
                    newpos = (
                        np.concatenate(slices)
                        if slices
                        else np.array([], dtype=np.int64)
                    )
                    pos_blob = codecs.encode_position_lists(newpos, tf2)
                rows.append(
                    (
                        r.term, int(r.segment), int(d2[0]), int(len(d2)),
                        int(tf2.sum()), nblob, blast.tolist(), bmaxtf.tolist(),
                        bmin_dl.tolist(), boff.tolist(), pos_blob,
                        len(nblob) + len(pos_blob),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return postings.select(*cols).mapInPandas(strip, schema=ib.POSTINGS_SCHEMA)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    factor: int = 2,
    policy: str = "full",
    min_file_bytes: int = 32 << 20,
) -> dict:
    """policy="full": forcemerge — strip every tombstone, coarsen
    segments by ``factor`` (see _compact_index_locked).
    policy="tiered": the Lucene tiered-merge analog — rewrite ONLY the
    postings files that are small (< ``min_file_bytes``, the fragments
    extends append per batch) or overlap a tombstoned segment; every
    other file is HARDLINKED into the new generation (metadata-only).
    Runs under the single-writer maintenance lock."""
    if policy not in ("full", "tiered"):
        raise ValueError(f"unknown compaction policy {policy!r}")
    with _maintenance_lock(index_dir):
        _repair_if_needed(spark, index_dir)
        if policy == "tiered":
            return _compact_index_tiered_locked(
                spark, index_dir, min_file_bytes
            )
        return _compact_index_locked(spark, index_dir, factor)


def _parquet_file_segment_range(path: str) -> tuple[int, int]:
    """[min, max] of the ``segment`` column from the parquet FOOTER
    (row-group statistics — no data pages read)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
        "segment"
    ]
    mn, mx = None, None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return (0, 1 << 62)  # no stats: conservatively "all"
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    if mn is None:
        return (0, -1)  # empty file: overlaps nothing
    return (int(mn), int(mx))


def _compact_index_tiered_locked(
    spark: SparkSession, index_dir: str, min_file_bytes: int
) -> dict:
    """Tiered compaction: per-FILE selection instead of a full rewrite.

    Extends append one small file per bucket per batch, so a hot index
    fragments into thousands of files whose per-query open/footer cost
    grows linearly — the exact problem Lucene's tiered merge policy
    solves below forcemerge.  Selection is footer-metadata only: a file
    is rewritten iff its size < min_file_bytes (small tier) or its
    segment range overlaps a tombstone sidecar (dirty).  Untouched
    files are hardlinked into the new postings generation — a 100 TB
    index with 1% churn rewrites ~1% of its bytes.

    Dirty segments are fully stripped (all tombstones drop, epoch
    bumps, doclens loses the dead rows) and the termdict folds the
    EXACT df/cf delta of the rewritten rows (old-row negation + new-row
    addition — O(termdict + rewritten), never a full postings scan).
    Segment ids are NOT renumbered (that is the full policy's job), so
    query results over live docs are unchanged by construction.
    Publish is the same single atomic manifest flip."""
    manifest = layout.load_manifest(index_dir)
    layout.gc_stale_dirs(index_dir, manifest)
    postings_path = layout.table_path(index_dir, "postings", manifest)
    deletes_path = layout.table_path(index_dir, "deletes", manifest)
    doclens_path = layout.table_path(index_dir, "doclens", manifest)
    n_term_buckets = int(manifest["params"]["n_term_buckets"])

    # dirty = segments with tombstone sidecars
    dirty: set[int] = set()
    if os.path.isdir(deletes_path):
        for e in os.scandir(deletes_path):
            if e.is_dir() and e.name.startswith("segment="):
                if any(
                    fn.endswith(".parquet") for fn in os.listdir(e.path)
                ):
                    dirty.add(int(e.name.split("=", 1)[1]))
    has_deletes = bool(dirty)

    candidates: list[tuple[str, str, str]] = []  # (bucket_rel, fn, path)
    for bdir in sorted(os.scandir(postings_path), key=lambda e: e.name):
        if not (bdir.is_dir() and bdir.name.startswith("term_bucket=")):
            continue
        for fn in sorted(os.listdir(bdir.path)):
            if fn.endswith(".parquet"):
                candidates.append((bdir.name, fn, os.path.join(bdir.path, fn)))

    def classify(item):
        bucket_rel, fn, fp = item
        if os.path.getsize(fp) < min_file_bytes:
            return (True, bucket_rel, fn, fp)
        mn, mx = _parquet_file_segment_range(fp)
        return (any(mn <= s <= mx for s in dirty), bucket_rel, fn, fp)

    # footer reads are metadata-only (~KB each) but still one IO per
    # file; thread them so a million-file index classifies in seconds
    # on the driver instead of serial minutes
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=32) as pool:
        classified = list(pool.map(classify, candidates))
    targets = [fp for hit, _b, _f, fp in classified if hit]
    linked = [(b, f) for hit, b, f, _fp in classified if not hit]
    if not targets:
        manifest.setdefault("compactions", []).append(
            {
                "policy": "tiered",
                "files_rewritten": 0,
                "files_linked": len(linked),
                "tombstones_dropped": 0,
            }
        )
        _save_manifest(index_dir, manifest)
        return manifest

    n_stripped = (
        int(
            spark.read.parquet(deletes_path)
            .select("doc_id")
            .distinct()
            .count()
        )
        if has_deletes
        else 0
    )

    postings_rel = layout.next_gen_rel(manifest, "postings")
    new_postings_path = os.path.join(index_dir, postings_rel)
    for bucket_rel, fn in linked:
        tdir = os.path.join(new_postings_path, bucket_rel)
        os.makedirs(tdir, exist_ok=True)
        os.link(os.path.join(postings_path, bucket_rel, fn), os.path.join(tdir, fn))

    # basePath keeps the hive term_bucket column for the selected files
    old_rows = spark.read.option("basePath", postings_path).parquet(*targets)
    cols = [f.name for f in ib.POSTINGS_SCHEMA.fields]
    rewritten = (
        _strip_tombstones(old_rows, deletes_path, epoch=None)
        if has_deletes
        else old_rows.select(*cols)
    ).withColumn(
        "term_bucket",
        F.crc32(F.col("term").cast("binary")) % F.lit(n_term_buckets),
    )
    staging = os.path.join(
        index_dir, "stages", f"tiered-g{int(manifest.get('generation', 0)) + 1}"
    )
    (
        rewritten.repartition(n_term_buckets, "term_bucket")
        .sortWithinPartitions("term", "segment")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(staging)
    )
    # consolidated files slot into the linked generation per bucket
    moved: list[str] = []
    for e in os.scandir(staging):
        if not (e.is_dir() and e.name.startswith("term_bucket=")):
            continue
        tdir = os.path.join(new_postings_path, e.name)
        os.makedirs(tdir, exist_ok=True)
        for fn in os.listdir(e.path):
            if fn.endswith(".parquet"):
                dst = os.path.join(tdir, fn)
                os.replace(os.path.join(e.path, fn), dst)
                moved.append(dst)
    flips = {"postings": postings_rel}

    if has_deletes:
        # exact termdict delta: subtract the rewritten rows' old df/cf,
        # add their stripped replacements' — never a full postings scan
        def agg(df, sign):
            return df.groupBy("term").agg(
                (F.lit(sign) * F.sum("df")).alias("df"),
                (F.lit(sign) * F.sum("cf")).alias("cf"),
                (F.lit(sign) * F.count("*")).alias("n_rows"),
            )

        old_td = spark.read.parquet(
            layout.table_path(index_dir, "termdict", manifest)
        ).select("term", "df", "cf", "n_rows")
        folded = old_td.unionByName(agg(old_rows, -1))
        if moved:  # rewritten rows may all strip to empty
            new_rows = spark.read.option(
                "basePath", new_postings_path
            ).parquet(*moved)
            folded = folded.unionByName(agg(new_rows, 1))
        folded = (
            folded
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.sum("n_rows").alias("n_rows"),
            )
            .filter(F.col("n_rows") > 0)
        )
        td_rel = layout.next_gen_rel(manifest, "termdict")
        (
            folded.withColumn(
                "term_bucket",
                F.crc32(F.col("term").cast("binary")) % F.lit(n_term_buckets),
            )
            .repartition("term_bucket")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(os.path.join(index_dir, td_rel))
        )
        flips["termdict"] = td_rel

        dead_df = (
            spark.read.parquet(deletes_path).select("doc_id").distinct()
        )
        doclens = spark.read.parquet(doclens_path)
        live = doclens.join(F.broadcast(dead_df), "doc_id", "left_anti")
        doclens_rel = layout.next_gen_rel(manifest, "doclens")
        live.write.mode("overwrite").parquet(
            os.path.join(index_dir, doclens_rel)
        )
        flips["doclens"] = doclens_rel
        flips["deletes"] = layout.next_gen_rel(manifest, "deletes")
        manifest["deletes_epoch"] = int(manifest.get("deletes_epoch", 0)) + 1

    manifest["metrics"] = {
        "docs_indexed": manifest["globals"]["n_docs"],
        "n_tombstones": 0 if has_deletes else int(
            manifest.get("metrics", {}).get("n_tombstones", 0)
        ),
        **_postings_metrics(
            spark.read.parquet(new_postings_path),
            n_terms=_termdict_row_count(spark, index_dir, manifest, flips),
        ),
    }
    manifest.setdefault("compactions", []).append(
        {
            "policy": "tiered",
            "files_rewritten": len(targets),
            "files_linked": len(linked),
            "tombstones_dropped": n_stripped,
        }
    )
    layout.flip_tables(manifest, flips)
    _save_manifest(index_dir, manifest)
    shutil.rmtree(staging, ignore_errors=True)
    return manifest


def _compact_index_locked(spark: SparkSession, index_dir: str, factor: int = 2) -> dict:
    """Forcemerge analog: physically drop tombstoned postings, then
    coarsen segments by ``factor``.  segment' = segment // factor remains
    a pure function of doc_id, so a doc's postings for every term still
    land in exactly ONE query task and per-term rows stay disjoint
    ascending → concat-merge applies.  After compaction df/cf are exact
    again and the deletes set is empty.

    Publish is ATOMIC: postings/doclens/termdict are written into fresh
    generation dirs and readers flip to all three (plus the emptied
    deletes pointer and bumped epoch) with ONE manifest replace — a
    concurrent reader sees the whole pre-compaction index or the whole
    post-compaction index, never stripped postings next to un-stripped
    doclens (the r3 multi-directory swap window)."""
    manifest = layout.load_manifest(index_dir)
    layout.gc_stale_dirs(index_dir, manifest)
    postings_path = layout.table_path(index_dir, "postings", manifest)
    deletes_path = layout.table_path(index_dir, "deletes", manifest)
    doclens_path = layout.table_path(index_dir, "doclens", manifest)
    epoch = int(manifest.get("deletes_epoch", 0))
    has_deletes = os.path.isdir(deletes_path) and any(os.scandir(deletes_path))
    n_stripped = (
        int(spark.read.parquet(deletes_path).select("doc_id").distinct().count())
        if has_deletes
        else 0
    )

    postings = spark.read.parquet(postings_path)
    if has_deletes:
        # epoch=None: strip EVERY tombstone file on disk regardless of
        # publish epoch, so the strip, the doclens anti-join, and the
        # n_stripped count above all see one tombstone set — compaction
        # empties the deletes dir, so leaving any file's docs
        # un-stripped would permanently resurrect them (ADVICE r4).
        postings = _strip_tombstones(postings, deletes_path, epoch=None)
    remapped = postings.withColumn(
        "segment", (F.col("segment") / F.lit(factor)).cast("int")
    ).drop("n_bytes", "term_bucket")
    # segment stays a pure function of doc_id ONLY if seg_group scales
    # with the renumbering: segment' = old//factor = (doc_id // dpp) //
    # (seg_group·factor).  Without this, every later upsert/facet-update
    # computes segments in the OLD numbering and its tombstone sidecars
    # land under segment dirs the scoring tasks (keyed by the compacted
    # postings' segment column) never read — replaced docs resurrect
    # (r5 regression test: test_upsert_after_compact_kills_old_docs).
    manifest["params"]["seg_group"] = (
        int(manifest["params"]["seg_group"]) * factor
    )
    merged = ib.merge_partials(remapped).withColumn(
        "term_bucket",
        F.crc32(F.col("term").cast("binary"))
        % F.lit(manifest["params"]["n_term_buckets"]),
    )
    n_out = max(
        spark.sparkContext.defaultParallelism, manifest["params"]["n_term_buckets"]
    )
    postings_rel = layout.next_gen_rel(manifest, "postings")
    new_postings_path = os.path.join(index_dir, postings_rel)
    (
        merged.repartitionByRange(n_out, "term_bucket", "term", "segment")
        .sortWithinPartitions("term_bucket", "term", "segment")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(new_postings_path)
    )
    flips = {"postings": postings_rel}

    if has_deletes:
        # doclens: physically drop tombstoned rows (broadcast anti-join —
        # tombstones are a small fraction by construction); the deletes
        # pointer flips to a fresh (nonexistent = empty) dir and the old
        # sidecars are GC'd by the NEXT maintenance op
        dead_df = spark.read.parquet(deletes_path).select("doc_id").distinct()
        doclens = spark.read.parquet(doclens_path)
        live = doclens.join(F.broadcast(dead_df), "doc_id", "left_anti")
        doclens_rel = layout.next_gen_rel(manifest, "doclens")
        live.write.mode("overwrite").parquet(os.path.join(index_dir, doclens_rel))
        flips["doclens"] = doclens_rel
        flips["deletes"] = layout.next_gen_rel(manifest, "deletes")
        manifest["deletes_epoch"] = epoch + 1
        # nested sidecar: drop the dead docs' rows (and any crash-orphan
        # rows whose doc never reached doclens) the same way — a
        # semi-join against the surviving doclens ids.  Nested rows are
        # keyed by doc_id only, so segment renumbering needs nothing.
        nested_path = layout.table_path(index_dir, "nested", manifest)
        if os.path.isdir(nested_path):
            nested_rel = layout.next_gen_rel(manifest, "nested")
            (
                spark.read.parquet(nested_path)
                .join(live.select("doc_id"), "doc_id", "left_semi")
                .repartition("field", "leaf")
                .sortWithinPartitions("leaf", "value", "doc_id")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(os.path.join(index_dir, nested_rel))
            )
            flips["nested"] = nested_rel

    td_rel = layout.next_gen_rel(manifest, "termdict")
    _write_termdict(
        spark,
        index_dir,
        postings_path=new_postings_path,
        dest_path=os.path.join(index_dir, td_rel),
    )
    flips["termdict"] = td_rel
    manifest["metrics"] = {
        "docs_indexed": manifest["globals"]["n_docs"],
        "n_tombstones": 0,
        **_postings_metrics(
            spark.read.parquet(new_postings_path),
            n_terms=_termdict_row_count(spark, index_dir, manifest, flips),
        ),
    }
    manifest.setdefault("compactions", []).append(
        {"factor": factor, "tombstones_dropped": n_stripped}
    )
    layout.flip_tables(manifest, flips)
    _save_manifest(index_dir, manifest)
    return manifest


def delete_by_query(
    spark: SparkSession, index_dir: str, query, mode: str = "BOOL"
) -> dict:
    """ES ``_delete_by_query``: tombstone every live doc matching the
    query — term list (with mode OR/AND) or boolean string (incl.
    range, ``_exists_``, and doc-value equality atoms).  Runs under the
    single-writer maintenance lock; see _delete_by_query_locked."""
    with _maintenance_lock(index_dir):
        _repair_if_needed(spark, index_dir)
        return _delete_by_query_locked(spark, index_dir, query, mode)


def _delete_by_query_locked(
    spark: SparkSession, index_dir: str, query, mode: str
) -> dict:
    """Query-time delete, exactly the upsert kill path without the
    replacement half: matched live ids stage as per-segment tombstone
    sidecars and publish at a fresh deletes epoch (MVCC — searchers
    pinned at the older epoch keep serving the docs until reload).
    Postings/doclens rows stay on disk until compaction strips them —
    the ES semantics (deleted docs leave _count immediately, leave
    df only at merge; elasticsearch_client.py route/forcemerge
    lifecycle).  Globals (n_docs/total_tokens/avgdl, field_stats)
    subtract the killed docs immediately, the same convention as
    upsert's replacements.  ``query=None`` is rejected — wiping an
    index must be an explicit rebuild, not a match_all delete."""
    from ..functions.tokenize import token_count_col
    from ..operators.bm25 import IndexSearcher

    if query is None:
        raise ValueError(
            "delete_by_query needs a query — deleting every doc must be "
            "an explicit rebuild, not a match_all delete"
        )
    manifest = layout.load_manifest(index_dir)
    layout.gc_stale_dirs(index_dir, manifest)
    g = manifest["globals"]
    params = manifest["params"]
    dpp = int(g["docs_per_part"])
    seg_group = int(params["seg_group"])
    text_fields = tuple(params.get("text_fields") or ())
    searcher = IndexSearcher(spark, index_dir)
    matched = searcher.matched_ids(query, mode)  # live ids only
    doclens_path = layout.table_path(index_dir, "doclens", manifest)
    deletes_path = layout.table_path(index_dir, "deletes", manifest)
    dl = spark.read.parquet(doclens_path)
    kill_tf = [f for f in text_fields if f in dl.columns]
    to_kill = dl.join(matched, "doc_id", "left_semi").select(
        "doc_id", "doc_len", *kill_tf
    )
    to_kill.persist()
    new_epoch = int(manifest.get("deletes_epoch", 0)) + 1
    try:
        krow = to_kill.agg(
            F.count("*").alias("n"),
            F.sum("doc_len").alias("tok"),
            *[
                F.sum(
                    F.greatest(token_count_col(F.col(f)), F.lit(0))
                ).alias(f"__ft_{f}")
                for f in kill_tf
            ],
        ).collect()[0]
        n_killed = int(krow["n"])
        killed_tokens = int(krow["tok"] or 0)
        killed_field_tokens = {f: int(krow[f"__ft_{f}"] or 0) for f in kill_tf}
        if not n_killed:
            return manifest
        # staging keyed by the TARGET epoch: a crashed attempt retried
        # before the manifest save reuses (and overwrites) the same dir
        staging = os.path.join(index_dir, "stages", f"deletes_dbq_{new_epoch}")
        (
            to_kill.select(
                "doc_id",
                _segment_col(F.col("doc_id"), dpp, seg_group).alias("segment"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("segment")
            .parquet(staging)
        )
    finally:
        to_kill.unpersist()
    # intent marker (ADVICE r5, medium): a crash between the tombstone
    # publish below and the manifest save leaves e<new_epoch>- sidecars
    # the manifest never recorded, with globals never subtracted.  The
    # marker makes the next maintenance op run repair_index first, which
    # advances deletes_epoch to the max on-disk file epoch and recomputes
    # globals/field_stats from the live doclens view — the same guarantee
    # the upsert kill path has.  mode=delete_by_query tells
    # _reconcile_orphan_batch there is no postings/doclens batch behind it.
    import json as _json

    os.makedirs(os.path.join(index_dir, "stages"), exist_ok=True)
    intent = os.path.join(index_dir, "stages", "_EXTEND_INTENT_0")
    with open(intent, "w") as f:
        f.write(
            _json.dumps(
                {
                    "mode": "delete_by_query",
                    "id_base": 0,
                    "n_docs": 0,
                    "epoch": new_epoch,
                }
            )
        )
    _publish_tombstones(staging, deletes_path, id_base=0, epoch=new_epoch)
    manifest["deletes_epoch"] = new_epoch
    g["n_docs"] -= n_killed
    g["total_tokens"] -= killed_tokens
    g["avgdl"] = g["total_tokens"] / g["n_docs"] if g["n_docs"] else 0.0
    if killed_field_tokens:
        fs = g.get("field_stats") or {}
        for f, c in killed_field_tokens.items():
            if f in fs:
                fs[f] = {"total_tokens": int(fs[f]["total_tokens"]) - c}
        g["field_stats"] = fs
    manifest["globals"] = g
    postings_path = layout.table_path(index_dir, "postings", manifest)
    n_tombstones = (
        int(spark.read.parquet(deletes_path).count())
        if os.path.isdir(deletes_path)
        else 0
    )
    manifest["metrics"] = {
        "docs_indexed": g["n_docs"],
        "n_tombstones": n_tombstones,
        **_postings_metrics(
            spark.read.parquet(postings_path),
            n_terms=_termdict_row_count(spark, index_dir, manifest),
        ),
    }
    manifest.setdefault("extensions", []).append(
        {
            "mode": "delete_by_query",
            "query": str(query),
            "docs_tombstoned": n_killed,
        }
    )
    _save_manifest(index_dir, manifest)
    with contextlib.suppress(OSError):
        os.unlink(intent)
    return manifest


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    query,
    field: str,
    new_value: str,
    mode: str = "BOOL",
) -> dict:
    """ES ``_update_by_query`` with a set-field script: retag facet
    ``field`` to ``new_value`` on every live doc matching ``query``
    (term list with mode OR/AND, or a boolean string incl. range/
    ``_exists_``/doc-value atoms) — the query-driven form of
    update_facet_field (the reference's partial-doc update path).

    The match set resolves against the current snapshot and feeds the
    update keyed by URL, so the whole pipeline stays distributed (no
    driver-side id lists).  Like ES with ``conflicts=proceed``, a doc
    re-crawled between resolution and rewrite is retagged under its
    url — url is the stable document identity here."""
    from ..operators.bm25 import IndexSearcher

    if query is None:
        raise ValueError(
            "update_by_query needs a query — retagging every doc should "
            "go through update_facet_field with a full url list"
        )
    searcher = IndexSearcher(spark, index_dir)
    doclens = spark.read.parquet(searcher._doclens_path)
    updates = (
        searcher.matched_ids(query, mode)
        .join(doclens.select("doc_id", "url"), "doc_id")
        .select("url", F.lit(new_value).alias("new_value"))
    )
    return update_facet_field(spark, index_dir, field, updates)


def expire_documents(
    spark: SparkSession, index_dir: str, field: str, older_than
) -> dict:
    """ES ILM delete-phase analog for a document-level index: tombstone
    every live doc whose doc-value ``field`` (typically the crawl
    timestamp) is strictly older than ``older_than`` — a pure-range
    delete_by_query (the range predicate pushes into the doclens scan;
    parquet min/max stats skip whole row groups of fresh docs).  Run
    compact_index afterwards to reclaim the space, exactly like ILM's
    delete → forcemerge sequence."""
    bound = str(older_than)
    if " " in bound:  # timestamp literals: query syntax takes ISO-8601
        bound = bound.replace(" ", "T")
    return delete_by_query(
        spark, index_dir, f"{field}:[* TO {bound}}}", mode="BOOL"
    )


# ---------------------------------------------------------------------------
# snapshot / restore (the ES _snapshot repository analog)
# ---------------------------------------------------------------------------


def _link_tree(src: str, dst: str) -> int:
    """Mirror ``src`` into ``dst`` with HARDLINKS (copy fallback across
    devices).  Safe because published index files are immutable —
    maintenance only ever writes NEW files / NEW generation dirs."""
    n = 0
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(troot, exist_ok=True)
        for fn in files:
            s = os.path.join(root, fn)
            t = os.path.join(troot, fn)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)
            n += 1
    return n


def snapshot_index(index_dir: str, snap_dir: str) -> dict:
    """ES ``_snapshot`` analog: a point-in-time copy of the index under
    the single-writer maintenance lock, so the captured
    (generation pointers, deletes epoch) pair is one consistent
    publish.  Data files HARDLINK (metadata-only — published parquet /
    sidecar files are immutable; later extends append NEW files into
    the ORIGINAL dirs, which a snapshot's separate directory never
    sees), the manifest and completion marker copy, and any crash
    intent markers ride along so a restored index repairs itself
    exactly as the source would have."""
    if os.path.exists(snap_dir) and os.listdir(snap_dir):
        raise ValueError(f"snapshot target {snap_dir!r} exists and is not empty")
    with _maintenance_lock(index_dir):
        manifest = layout.load_manifest(index_dir)
        os.makedirs(snap_dir, exist_ok=True)
        linked = 0
        for name in layout.TABLES:
            src = layout.table_path(index_dir, name, manifest)
            if not os.path.isdir(src):
                continue
            rel = manifest.get("tables", {}).get(name, name)
            linked += _link_tree(src, os.path.join(snap_dir, rel))
        for fn in os.listdir(index_dir):
            p = os.path.join(index_dir, fn)
            if os.path.isfile(p) and (
                fn in ("manifest.json", "_INDEX_PUBLISHED")
                or fn.startswith("_EXTEND_INTENT")
            ):
                shutil.copy2(p, os.path.join(snap_dir, fn))
    return {"files_linked": linked, "snapshot": snap_dir}


def restore_snapshot(snap_dir: str, index_dir: str) -> dict:
    """Restore a snapshot INTO an index directory as a normal
    generation publish: every snapshot table links into a fresh
    ``<table>-g<G+1>`` dir, then ONE atomic manifest replace flips the
    pointers and adopts the snapshot's globals/params/epoch — pinned
    searchers keep serving the pre-restore state until ``reload()``,
    exactly like any other maintenance op, and the next op's GC sweeps
    the replaced generations."""
    snap = layout.load_manifest(snap_dir)
    with _maintenance_lock(index_dir):
        try:
            cur_gen = int(layout.load_manifest(index_dir).get("generation", 0))
        except FileNotFoundError:
            cur_gen = 0
        gen = cur_gen + 1
        import json

        new_manifest = json.loads(json.dumps(snap))  # deep copy
        tables = {}
        linked = 0
        for name in layout.TABLES:
            src = os.path.join(
                snap_dir, snap.get("tables", {}).get(name, name)
            )
            if not os.path.isdir(src):
                continue
            rel = f"{name}-g{gen}"
            linked += _link_tree(src, os.path.join(index_dir, rel))
            tables[name] = rel
        for name in layout.TABLES:
            tables.setdefault(name, snap.get("tables", {}).get(name, name))
        new_manifest["tables"] = tables
        new_manifest["generation"] = gen
        layout.save_manifest_atomic(index_dir, new_manifest)
        marker = os.path.join(snap_dir, "_INDEX_PUBLISHED")
        if os.path.exists(marker):
            shutil.copy2(marker, os.path.join(index_dir, "_INDEX_PUBLISHED"))
    return {"files_linked": linked, "generation": gen}
