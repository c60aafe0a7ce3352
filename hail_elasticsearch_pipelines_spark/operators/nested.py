"""Nested-object queries over the exploded nested sidecar — the ES
``nested`` type story.

The reference's mapping derivation emits ``"type": "nested"`` for
array-of-struct columns (hail_scripts/v02/utils/elasticsearch_utils.py
:22-28) and its document shapes (genotypes, transcript consequences)
are exactly that.  ES backs the type with hidden per-element Lucene
documents; the analog here is the ``nested`` sidecar table written at
publish (operators/index_build.nested_rows): one row per (doc, array
position, scalar leaf) with a facet-normalized string value,
partitioned by field and row-group-sorted by (leaf, value) so equality
lookups prune the parquet scan.

Two query surfaces:
  * single-leaf atoms ``field.leaf:value`` in the boolean query
    language (NestedTerm, filter context) — "any object matches this
    one condition"; compose with every other atom in ``search_bool`` /
    ``matched_ids``;
  * :func:`search_nested` — several conditions that must hold within
    the SAME object (ES ``nested`` query semantics; ANDed atoms give
    the weaker cross-object ``object``-mapping behavior).

Scale posture: resolution is a partition-pruned (field=) +
row-group-pruned (leaf/value min-max) scan emitting doc ids only; the
same-object AND joins condition sets on (doc_id, obj) — sized by the
MATCHING objects, never the corpus.  Matches are semi-joined against
the live doclens ids so sidecar rows of a crashed (reconciled-away)
extend batch can never ghost-match; tombstoned docs are masked by the
shared per-segment delete filters downstream.
"""

from __future__ import annotations

import os
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import codecs
from ..functions.tokenize import py_tokenize
from .docvalues import DocValueError, _seg_params, doclens_df, segment_expr


def py_nested_value(value) -> "str | None":
    """Python twin of index_build.nested_leaf_value_col: the value's
    string form facet-normalized (lowercase tokens joined by '_');
    None/empty → None (no sidecar row)."""
    if value is None:
        return None
    if isinstance(value, bool):  # str(True) == 'True' → 'true'
        value = "true" if value else "false"
    return "_".join(py_tokenize(str(value))) or None


def _split_path(searcher, path: str) -> tuple[str, str]:
    from .bm25 import nested_paths_of

    known = nested_paths_of(searcher.manifest)
    if path not in known:
        raise DocValueError(
            f"unknown nested path {path!r} — this index's nested leaves "
            f"are {sorted(known) or '(none)'}"
        )
    field, leaf = path.split(".", 1)
    return field, leaf


def _norm_conditions(searcher, field: str, conditions: dict) -> list:
    """[(leaf, normalized_value)] sorted; validates every path."""
    if not conditions:
        raise DocValueError("search_nested needs at least one condition")
    out = []
    for leaf, value in sorted(conditions.items()):
        _split_path(searcher, f"{field}.{leaf}")
        nv = py_nested_value(value)
        if nv is None:
            raise DocValueError(
                f"nested condition {leaf!r} has an empty match value"
            )
        out.append((leaf, nv))
    return out


# ---------------------------------------------------------------- distributed


def nested_df(searcher) -> DataFrame:
    """The pinned snapshot's nested sidecar (bm25.snapshot_bounds)."""
    from .bm25 import pinned_df

    _require_sidecar(searcher)
    return pinned_df(searcher, "nested")


def _require_sidecar(searcher) -> None:
    if not os.path.isdir(searcher._nested_path):
        raise DocValueError(
            "this index has no nested sidecar — no array-of-struct "
            "column was present at build time"
        )


def nested_match_ids(searcher, field: str, conditions: dict) -> DataFrame:
    """Distinct live doc ids having ≥1 nested object satisfying ALL
    ``conditions`` (leaf → value) — ES ``nested`` query semantics.
    Each condition resolves to its (doc_id, obj) pairs (pruned scan);
    the same-object AND is an equi-join chain on (doc_id, obj), sized
    by the matching objects."""
    from .docvalues import _all_dead_ids

    conds = _norm_conditions(searcher, field, conditions)
    nd = nested_df(searcher).filter(F.col("field") == field)
    sets = [
        nd.filter((F.col("leaf") == leaf) & (F.col("value") == val)).select(
            "doc_id", "obj"
        )
        for leaf, val in conds
    ]
    inter = reduce(lambda a, b: a.join(b, ["doc_id", "obj"]), sets)
    live = doclens_df(searcher).select("doc_id")
    out = inter.select("doc_id").distinct().join(live, "doc_id", "left_semi")
    dead = _all_dead_ids(searcher)
    if dead.size:
        dead_df = searcher.spark.createDataFrame(
            [(int(d),) for d in dead.tolist()], "doc_id long"
        )
        out = out.join(F.broadcast(dead_df), "doc_id", "left_anti")
    return out


def search_nested_terms(
    searcher,
    query,
    field: str,
    leaf: str,
    size: int = 10,
    mode: str = "OR",
    count: str = "docs",
) -> DataFrame:
    """ES nested ``terms`` aggregation: top leaf values across the
    nested objects of the docs matching ``query`` —
    DataFrame(value, doc_count) by (doc_count desc, value asc).

    ``count="docs"`` (default) counts distinct PARENT documents per
    value — the ES ``nested`` agg + ``reverse_nested`` shape (a doc
    with three matching objects counts once).  ``count="objects"``
    counts the nested objects themselves — the plain nested-agg
    doc_count (ES counts hidden sub-documents there).

    Plan: matched live ids (the shared aggregation front half) semi-
    join the (field, leaf)-pruned sidecar scan; the shuffle carries
    (value, doc_id|obj) rows of MATCHING docs only, then one count
    aggregation — never the corpus."""
    _split_path(searcher, f"{field}.{leaf}")
    if count not in ("docs", "objects"):
        raise DocValueError("count must be 'docs' or 'objects'")
    ids = searcher.matched_ids(query, mode)
    nd = nested_df(searcher).filter(
        (F.col("field") == field) & (F.col("leaf") == leaf)
    )
    hit = nd.join(ids, "doc_id", "left_semi")
    if count == "docs":
        agg = hit.groupBy("value").agg(
            F.countDistinct("doc_id").alias("doc_count")
        )
    else:
        agg = hit.select("value", "doc_id", "obj").distinct().groupBy(
            "value"
        ).agg(F.count(F.lit(1)).alias("doc_count"))
    return agg.orderBy(F.desc("doc_count"), F.asc("value")).limit(int(size))


def local_nested_terms(
    local, query, field: str, leaf: str, size: int = 10,
    mode: str = "OR", count: str = "docs",
) -> "list[tuple[str, int]]":
    """Serving twin of search_nested_terms."""
    from collections import Counter

    _split_path(local, f"{field}.{leaf}")
    if count not in ("docs", "objects"):
        raise DocValueError("count must be 'docs' or 'objects'")
    matched = local.matched_ids(query, mode)
    tbl = _local_scan(
        local, field, leaf, None, columns=["doc_id", "obj", "value"]
    )
    d = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    keep = np.isin(d, matched)
    vals = tbl.column("value").to_pylist()
    c: Counter = Counter()
    if count == "docs":
        seen = set()
        for i in np.flatnonzero(keep):
            k = (int(d[i]), vals[i])
            if k not in seen:
                seen.add(k)
                c[vals[i]] += 1
    else:
        objs = tbl.column("obj").to_numpy(zero_copy_only=False)
        seen = set()
        for i in np.flatnonzero(keep):
            k = (int(d[i]), int(objs[i]), vals[i])
            if k not in seen:
                seen.add(k)
                c[vals[i]] += 1
    out = sorted(c.items(), key=lambda r: (-r[1], r[0]))
    return [(v, int(n)) for v, n in out[: int(size)]]


def nested_inner_hits(searcher, field: str, conditions: dict) -> DataFrame:
    """ES ``inner_hits`` for a nested query: WHICH objects matched —
    DataFrame(doc_id, obj) of every (live doc, array position) whose
    object satisfies ALL ``conditions``, the per-object half of
    :func:`nested_match_ids` (same pruned scans + (doc_id, obj) join,
    minus the doc-level distinct)."""
    from .docvalues import _all_dead_ids

    conds = _norm_conditions(searcher, field, conditions)
    nd = nested_df(searcher).filter(F.col("field") == field)
    sets = [
        nd.filter((F.col("leaf") == leaf) & (F.col("value") == val)).select(
            "doc_id", "obj"
        )
        for leaf, val in conds
    ]
    inter = reduce(lambda a, b: a.join(b, ["doc_id", "obj"]), sets).distinct()
    live = doclens_df(searcher).select("doc_id")
    out = inter.join(live, "doc_id", "left_semi")
    dead = _all_dead_ids(searcher)
    if dead.size:
        dead_df = searcher.spark.createDataFrame(
            [(int(d),) for d in dead.tolist()], "doc_id long"
        )
        out = out.join(F.broadcast(dead_df), "doc_id", "left_anti")
    return out


def local_inner_hits(local, field: str, conditions: dict) -> "list[tuple[int, int]]":
    """Serving twin of nested_inner_hits: sorted (doc_id, obj) pairs
    of live matching objects."""
    conds = _norm_conditions(local, field, conditions)
    pair_sets = []
    for leaf, val in conds:
        tbl = _local_scan(local, field, leaf, val, columns=["doc_id", "obj"])
        d = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        o = tbl.column("obj").to_numpy(zero_copy_only=False).astype(np.int64)
        pair_sets.append(np.unique(d * (1 << 20) + o))
        if d.size and int(o.max(initial=0)) >= (1 << 20):
            raise DocValueError("nested arrays longer than 2^20 elements")
    inter = reduce(np.intersect1d, pair_sets)
    ids = inter >> 20
    live = _live_only(local, np.unique(ids))
    keep = np.isin(ids, live)
    inter, ids = inter[keep], ids[keep]
    dead_all = [d for d in local._deletes.values() if d is not None and d.size]
    if dead_all and ids.size:
        dead = np.unique(np.concatenate(dead_all))
        keep = ~np.isin(ids, dead)
        inter, ids = inter[keep], ids[keep]
    return [(int(k >> 20), int(k & ((1 << 20) - 1))) for k in inter]


def search_nested(
    searcher,
    query: "list[str]",
    field: str,
    conditions: dict,
    mode: str = "OR",
    k: int = 10,
) -> DataFrame:
    """BM25 top-k restricted to docs with ≥1 nested object satisfying
    ALL ``conditions`` — the ES bool query with a ``nested`` filter
    clause.  Filter context: surviving docs score bit-identically to
    the unfiltered searcher (same contract as search_range, whose
    cogroup plan this shares: allowed ids ride a per-segment cogroup
    with the query terms' posting rows, nothing materializes on the
    driver)."""
    from .bm25 import (
        RESULT_SCHEMA,
        _check_scoring_rows,
        _msm_scores,
        _topk,
        field_avgdl_map,
    )
    from .docvalues import _rows_and_idf

    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_nested supports OR/AND term queries")
    qterms = sorted(set(query))
    spark = searcher.spark
    if not qterms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    dpp, seg_group = _seg_params(searcher.manifest)
    allowed = nested_match_ids(searcher, field, conditions).select(
        segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
        "doc_id",
    )
    rows, idf = _rows_and_idf(searcher, qterms)
    avgdl = field_avgdl_map(searcher.manifest, qterms)
    get_deletes = searcher._segment_deletes_fn()
    msm = len(qterms) if mode_u == "AND" else 1

    def score_segment(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        _check_scoring_rows(left, idf)
        dead = get_deletes(int(key[0]))
        postings = {
            r.term: codecs.decode_postings(bytes(r.blob))
            for r in left.itertuples()
        }
        docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
        if not docs.size:
            return pd.DataFrame({"doc_id": [], "score": []})
        allowed_ids = np.sort(right["doc_id"].to_numpy(np.int64))
        keep = np.isin(docs, allowed_ids, assume_unique=True)
        if dead is not None and dead.size:
            keep &= ~np.isin(docs, dead, assume_unique=True)
        docs, scores = _topk(docs[keep], scores[keep], k)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    partials = (
        rows.groupBy("segment")
        .cogroup(allowed.groupBy("segment"))
        .applyInPandas(score_segment, RESULT_SCHEMA)
    )
    return partials.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(int(k))


# -------------------------------------------------------------------- serving


def local_atom_ids(local, nt) -> np.ndarray:
    """Sorted unique live doc ids for one NestedTerm — a bool query's
    nested atom — read via a pyarrow dataset scan with field= partition
    pruning and (leaf, value) predicate pushdown."""
    field, leaf = _split_path(local, nt.path)
    value = None if getattr(nt, "exists", False) else nt.value
    tbl = _local_scan(local, field, leaf, value, columns=["doc_id"])
    ids = np.unique(tbl.column("doc_id").to_numpy(zero_copy_only=False))
    return _live_only(local, ids.astype(np.int64))


def local_match_ids(local, field: str, conditions: dict) -> np.ndarray:
    """Serving twin of nested_match_ids: sorted unique live doc ids
    with ≥1 object satisfying ALL conditions (same-object AND via
    (doc_id, obj) pair intersection)."""
    conds = _norm_conditions(local, field, conditions)
    pair_sets = []
    for leaf, val in conds:
        tbl = _local_scan(local, field, leaf, val, columns=["doc_id", "obj"])
        d = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        o = tbl.column("obj").to_numpy(zero_copy_only=False).astype(np.int64)
        pair_sets.append(np.unique(d * (1 << 20) + o))  # obj < 2^20 packed
        if d.size and int(o.max(initial=0)) >= (1 << 20):
            raise DocValueError("nested arrays longer than 2^20 elements")
    inter = reduce(np.intersect1d, pair_sets)
    ids = np.unique(inter >> 20)
    return _live_only(local, ids)


def nested_dataset(local) -> "ds.Dataset":
    """The pinned snapshot's nested sidecar as a pyarrow dataset."""
    from .bm25 import pinned_dataset

    _require_sidecar(local)
    return pinned_dataset(local, "nested")


def atom_filter(field: str, leaf: str, value: "str | None") -> "ds.Expression":
    """The sidecar scan filter of a nested atom: the field= partition,
    then (leaf, value) for row-group pruning; value None matches any
    value (the exists atom)."""
    pred = (ds.field("field") == field) & (ds.field("leaf") == leaf)
    return pred if value is None else pred & (ds.field("value") == value)


def _local_scan(local, field: str, leaf: str, value: str, columns):
    return nested_dataset(local).to_table(
        columns=columns, filter=atom_filter(field, leaf, value)
    )


def _live_only(local, ids: np.ndarray) -> np.ndarray:
    """Mask ids to the live doclens set (crash-orphan nested rows must
    never ghost-match; tombstones are handled by the callers' shared
    delete filters)."""
    if not ids.size:
        return ids
    all_ids, _ = local._docvalues("doc_len")
    return ids[np.isin(ids, all_ids)]
