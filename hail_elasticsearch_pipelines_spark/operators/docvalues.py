"""Doc-value queries: range filters, sort-by-field, and field
aggregations over the doclens sidecar.

The reference exports per-field ES mappings with date/numeric fields
(hail_scripts/v02/utils/elasticsearch_utils.py:38-77) and seqr then
issues range filters, field sorts, and aggregations against them
(hail_scripts/v02/utils/elasticsearch_client.py:106-177).  ES serves
those from BKD trees + columnar doc values; the Spark-first analog is
the doclens table itself: columnar parquet keyed by ``doc_id``, so

* a (doc_id, field) projection reads exactly two columns
  (``ReadSchema`` pruning),
* a range predicate reaches the scan as a ``PushedFilter`` and prunes
  whole row groups via parquet min/max stats — the BKD-tree role,
* the crawl timestamp ``warc_ts`` (BASELINE input_hint) is stored as a
  doc value at build time (format v6), making recency sorts and
  date-range filters first-class.

Scoring contract: a range filter is ES *filter context* — it never
changes BM25 scores (idf stays global), it only restricts which docs
may enter the top-k.  All filtered paths reuse the exhaustive
``_msm_scores`` kernel, so scores are bit-identical to the unfiltered
scorers for the docs that survive the filter.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codecs

if TYPE_CHECKING:  # pragma: no cover
    from .bm25 import IndexSearcher


class DocValueError(ValueError):
    """Unknown or non-doc-value field requested."""


MATCHED_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType(), False)])

# calendar units supported for timestamp bucketing (shared by the
# distributed date_trunc path, the serving numpy path, and the DuckDB
# oracle — all three truncate identically)
CALENDAR_UNITS = ("hour", "day", "week", "month")


def segment_expr(doc_id_col, dpp: int, seg_group: int):
    """segment = (doc_id // dpp) // seg_group, JVM-side (the packing
    rule of plans/maintenance._segment_col — duplicated here so the
    query side never imports the maintenance plan)."""
    return (
        F.floor(F.floor(doc_id_col / F.lit(dpp)) / F.lit(seg_group))
    ).cast("int")


def _seg_params(manifest: dict) -> tuple[int, int]:
    g, p = manifest["globals"], manifest["params"]
    return int(g["docs_per_part"]), int(p["seg_group"])


def _value_lookup(
    right: pd.DataFrame, col: str, docs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(present_mask aligned with ``docs``, values aligned with
    ``docs[present_mask]``) against a (doc_id, <col>) doclens slice
    that has already been NULL-filtered — docs whose value is NULL are
    absent and must drop out of the aggregation (ES missing-field
    semantics; numpy twin: LocalSearcher._dv_lookup)."""
    rid = right["doc_id"].to_numpy(np.int64)
    order = np.argsort(rid)
    rid = rid[order]
    idx = np.searchsorted(rid, docs)
    ok = idx < len(rid)
    ok[ok] = rid[idx[ok]] == docs[ok]
    return ok, right[col].to_numpy()[order][idx[ok]]


def _values_lookup(
    right: pd.DataFrame, cols, docs: np.ndarray
) -> tuple[np.ndarray, dict]:
    """Multi-column _value_lookup: ONE searchsorted, every requested
    column gathered on the same row positions."""
    rid = right["doc_id"].to_numpy(np.int64)
    order = np.argsort(rid)
    rid_s = rid[order]
    idx = np.searchsorted(rid_s, docs)
    ok = idx < len(rid_s)
    ok[ok] = rid_s[idx[ok]] == docs[ok]
    take = order[idx[ok]]
    return ok, {c: right[c].to_numpy()[take] for c in cols}


def doclens_df(searcher: "IndexSearcher") -> DataFrame:
    """The pinned snapshot's doclens table (bm25.snapshot_bounds)."""
    from .bm25 import pinned_df

    return pinned_df(searcher, "doclens")


def check_field(searcher: "IndexSearcher", field: str, cols) -> None:
    if field not in cols:
        raise DocValueError(
            f"{field!r} is not a doc-value field of this index "
            f"(doclens columns: {sorted(c for c in cols if c != 'doc_id')}); "
            "stored fields and warc_ts (format v6+) are doc values"
        )


def is_array_type(dl: DataFrame, field: str) -> bool:
    """True when the doc-value column is multi-valued (ES fields are
    inherently multi-valued; ours are arrays when the source column
    was)."""
    return isinstance(dl.schema[field].dataType, T.ArrayType)


def check_scalar(searcher: "IndexSearcher", field: str, dl: DataFrame) -> None:
    """check_field + reject multi-valued fields for the operations
    whose semantics need one value per doc (sorts, ranges, numeric
    aggs, collapse, decay).  Multi-valued support: terms/composite
    aggs, cardinality, significant_terms, missing, _exists_."""
    check_field(searcher, field, dl.columns)
    if is_array_type(dl, field):
        raise DocValueError(
            f"{field!r} is a multi-valued (array) doc-value field — this "
            "operation takes single-valued fields"
        )


def present_pred(dl: DataFrame, field: str):
    """'has a value' predicate — ES missing-field semantics: NULL is
    missing, and for multi-valued fields an empty array is missing
    too."""
    c = F.col(field)
    if is_array_type(dl, field):
        return c.isNotNull() & (F.size(c) > 0)
    return c.isNotNull()


def _all_dead_ids(searcher: "IndexSearcher") -> np.ndarray:
    """Every tombstoned doc id at the searcher's pinned epoch, as one
    sorted array.  Tombstone volume is bounded by deleted-not-yet-
    compacted docs (compaction strips them), so driver-side assembly is
    the ES deleted-docs-bitmap analog, not a data-scale collect."""
    from .bm25 import load_deletes

    dead = load_deletes(
        searcher.index_dir,
        epoch=searcher._deletes_epoch,
        manifest=searcher.manifest,
    )
    if not dead:
        return np.array([], np.int64)
    return np.unique(np.concatenate(list(dead.values())))


def _matched_values(
    searcher: "IndexSearcher",
    query,
    field: str,
    mode: str,
) -> DataFrame:
    """(doc_id, <field>) for every matching live doc — the shared
    front half of every doc-value aggregation.

    Fast path (term-list OR/AND and range-free BOOL): ONE cogroup of
    the query terms' posting rows with the segment's two-column doclens
    slice; each segment task matches and looks values up locally, so
    the only shuffles are the two groupBys on the small segment key —
    no doc_id join stage at all.  match_all and range-atom queries fall
    back to matched_ids + a doc_id join (their allowed sets already
    ride their own cogroup).

    Docs with a NULL doc value are dropped (ES aggregations ignore
    docs missing the field) — the filter keeps the two engines and
    the serving twins agreeing on n_hits/count semantics."""
    from ..functions import boolquery as bq
    from .bm25 import _check_unique_terms, _match_docs

    dl = doclens_df(searcher)
    check_field(searcher, field, dl.columns)
    dl = dl.where(present_pred(dl, field))
    mode_u = mode.upper()
    if query is not None:
        ast, qterms = searcher.parse_query(query, mode_u)
        if qterms and not bq.filter_atoms(ast):
            dpp, seg_group = _seg_params(searcher.manifest)
            vals = dl.select(
                segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
                "doc_id",
                field,
            )
            rows = searcher._term_rows(qterms).select("segment", "term", "blob")
            get_deletes = searcher._segment_deletes_fn()
            schema = T.StructType(
                [
                    T.StructField("doc_id", T.LongType(), False),
                    T.StructField(field, dl.schema[field].dataType, True),
                ]
            )

            def vals_segment(
                key, left: pd.DataFrame, right: pd.DataFrame
            ) -> pd.DataFrame:
                # dtype-preserving empty frame (a bare [] column would
                # come back float64 and fail the Arrow cast for
                # timestamp doc values)
                empty_pdf = pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        field: right[field].iloc[:0],
                    }
                )
                if left.empty or right.empty:
                    return empty_pdf
                _check_unique_terms(left)
                dead = get_deletes(int(key[0]))
                qdocs = {
                    r.term: codecs.decode_postings(bytes(r.blob))[0]
                    for r in left.itertuples()
                }
                matches = _match_docs(qdocs, qterms, mode_u, ast)
                if dead is not None and dead.size and matches.size:
                    matches = matches[
                        ~np.isin(matches, dead, assume_unique=True)
                    ]
                if not matches.size:
                    return empty_pdf
                ok, v = _value_lookup(right, field, matches)
                return pd.DataFrame({"doc_id": matches[ok], field: v})

            return (
                rows.groupBy("segment")
                .cogroup(vals.groupBy("segment"))
                .applyInPandas(vals_segment, schema)
            )
    return searcher.matched_ids(query, mode).join(
        dl.select("doc_id", field), "doc_id"
    )


def search_sorted(
    searcher: "IndexSearcher",
    query,
    by: str,
    ascending: bool = False,
    k: int = 10,
    mode: str = "OR",
    after: "tuple | None" = None,
) -> DataFrame:
    """ES sort-by-field: top-k matching docs ordered by a doc-value
    field instead of BM25 score — DataFrame(doc_id, <by>) with
    deterministic (value, doc_id asc) order.  ``query=None`` sorts the
    whole live index (recency listing).  Catalyst turns orderBy+limit
    into TakeOrderedAndProject: per-partition heaps, no full sort.

    ``after=(value, doc_id)`` is ES ``search_after`` pagination on the
    same sort key: only rows strictly after that cursor in
    (value, doc_id asc) order are returned, so deep pagination stays
    top-k-cheap instead of offset-scan-expensive."""
    check_scalar(searcher, by, doclens_df(searcher))
    mv = _matched_values(searcher, query, by, mode)
    if after is not None:
        mv = mv.filter(_after_pred(F.col(by), after, ascending))
    order = [
        F.col(by).asc() if ascending else F.col(by).desc(),
        F.col("doc_id").asc(),
    ]
    return mv.orderBy(*order).limit(int(k)).select("doc_id", by)


def _after_pred(col, after: tuple, ascending: bool):
    """(value, doc_id) rows strictly after the cursor in the sort
    order (value asc/desc, doc_id asc) — the search_after predicate."""
    av, aid = after
    on_value = col > F.lit(av) if ascending else col < F.lit(av)
    return on_value | ((col == F.lit(av)) & (F.col("doc_id") > F.lit(int(aid))))


def range_pred(rt, is_array: bool = False):
    """Spark predicate for a boolquery RangeTerm over its doc-value
    column — pushed into the doclens parquet scan (row-group min/max
    pruning).  String bounds compare against timestamp columns via
    Spark's implicit ISO-8601 cast.  An unbounded atom (the
    ``_exists_:field`` query) keeps only docs holding a value —
    bounded atoms get that for free from NULL comparison semantics.
    Multi-valued fields support ``_exists_`` only (a bounded range on
    an array raises)."""
    c = F.col(rt.field)
    eq = getattr(rt, "eq", None)
    if is_array:
        if rt.lo is not None or rt.hi is not None:
            raise DocValueError(
                f"range atom on multi-valued field {rt.field!r} — only "
                "_exists_ and equality are supported on array doc values"
            )
        if eq is not None:
            return F.array_contains(c, F.lit(eq))
        return c.isNotNull() & (F.size(c) > 0)
    if eq is not None:
        return c == F.lit(eq)
    pred = None
    if rt.lo is not None:
        pred = c >= F.lit(rt.lo) if rt.incl_lo else c > F.lit(rt.lo)
    if rt.hi is not None:
        p2 = c <= F.lit(rt.hi) if rt.incl_hi else c < F.lit(rt.hi)
        pred = p2 if pred is None else pred & p2
    return c.isNotNull() if pred is None else pred


def range_mask(vals: np.ndarray, rt, is_array: bool = False) -> np.ndarray:
    """Numpy twin of range_pred for the serving path.  The backing
    _docvalues store already excludes NULLs and empty arrays, so the
    unbounded (_exists_) atom is the all-true mask."""
    lo, hi = rt.lo, rt.hi
    eq = getattr(rt, "eq", None)
    if is_array and (lo is not None or hi is not None):
        raise DocValueError(
            f"range atom on multi-valued field {rt.field!r} — only "
            "_exists_ and equality are supported on array doc values"
        )
    if eq is not None:
        if is_array:
            # object array of per-doc value arrays — membership per doc
            return np.fromiter(
                (eq in x for x in vals), dtype=bool, count=len(vals)
            )
        if np.issubdtype(vals.dtype, np.datetime64):
            eq = np.datetime64(pd.Timestamp(eq))
        return vals == eq
    if np.issubdtype(vals.dtype, np.datetime64):
        lo = None if lo is None else np.datetime64(pd.Timestamp(lo))
        hi = None if hi is None else np.datetime64(pd.Timestamp(hi))
    m = np.ones(len(vals), bool)
    if lo is not None:
        m &= (vals >= lo) if rt.incl_lo else (vals > lo)
    if hi is not None:
        m &= (vals <= hi) if rt.incl_hi else (vals < hi)
    return m


def _rows_and_idf(searcher: "IndexSearcher", qterms):
    """(segment, term, blob) rows for the query terms, plus their
    query-wide idf read on the driver from the pinned termdict."""
    from .bm25 import query_idf

    rows = searcher._scoring_rows(qterms).select("segment", "term", "blob")
    return rows, query_idf(searcher, qterms)


def search_range(
    searcher: "IndexSearcher",
    query: "list[str] | str",
    field: str,
    lo=None,
    hi=None,
    mode: str = "OR",
    k: int = 10,
) -> DataFrame:
    """BM25 top-k restricted to docs whose doc-value ``field`` falls in
    [lo, hi] (either bound may be None) — the ES bool query with a
    ``range`` filter clause.  Filter context: scores are bit-identical
    to the unfiltered searcher for surviving docs.

    Plan: the range predicate is pushed into the doclens parquet scan
    (row-group min/max pruning — the BKD analog), the allowed ids are
    cogrouped with the query terms' posting rows by segment, and each
    segment task scores exhaustively then masks — no driver-side
    materialization of the allowed set."""
    from .bm25 import (
        RESULT_SCHEMA,
        _check_scoring_rows,
        _msm_scores,
        _topk,
        field_avgdl_map,
    )

    if lo is None and hi is None:
        raise DocValueError("range filter needs at least one bound")
    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_range supports OR/AND term queries")
    qterms = sorted(set(query))
    spark = searcher.spark
    if not qterms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    dl = doclens_df(searcher)
    check_scalar(searcher, field, dl)
    pred = None
    if lo is not None:
        pred = F.col(field) >= F.lit(lo)
    if hi is not None:
        p2 = F.col(field) <= F.lit(hi)
        pred = p2 if pred is None else (pred & p2)
    dpp, seg_group = _seg_params(searcher.manifest)
    allowed = dl.filter(pred).select(
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
        seg = int(key[0])
        dead = get_deletes(seg)
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
    return partials.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        int(k)
    )


def _bucket_expr(field_col, interval, is_time: bool):
    if is_time:
        if interval not in CALENDAR_UNITS:
            raise DocValueError(
                f"timestamp bucketing takes a calendar unit {CALENDAR_UNITS}, "
                f"got {interval!r}"
            )
        return F.date_trunc(interval, field_col)
    iv = int(interval)
    if iv <= 0:
        raise DocValueError("numeric interval must be a positive int")
    return (F.floor(field_col / F.lit(iv)) * F.lit(iv)).cast("long")


def search_value_histogram(
    searcher: "IndexSearcher",
    query,
    field: str,
    interval,
    mode: str = "OR",
    cumulative: bool = False,
) -> DataFrame:
    """ES ``histogram`` / ``date_histogram`` over a doc-value field:
    per bucket, the count of matching live docs — DataFrame(bucket,
    doc_count) sorted by bucket.  ``interval`` is a calendar unit
    ("hour"/"day"/"week"/"month") for timestamp fields, a positive int
    width for numeric fields.  ``query=None`` = the whole live index
    (crawl-volume-over-time dashboards).

    ``cumulative=True`` is the ES ``cumulative_sum`` pipeline
    aggregation over the histogram: doc_count becomes the running
    total in bucket order.  The window runs over the already-aggregated
    buckets (one row per bucket), so the single-partition window is
    bounded by bucket cardinality, never corpus size."""
    check_scalar(searcher, field, doclens_df(searcher))
    mv = _matched_values(searcher, query, field, mode)
    is_time = isinstance(mv.schema[field].dataType, (T.TimestampType, T.DateType))
    h = (
        mv.select(_bucket_expr(F.col(field), interval, is_time).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("doc_count"))
    )
    if cumulative:
        from pyspark.sql.window import Window

        w = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        h = h.select(
            "bucket", F.sum("doc_count").over(w).cast("long").alias("doc_count")
        )
    return h.orderBy("bucket")


def search_percentiles(
    searcher: "IndexSearcher",
    query,
    field: str,
    percents=(0.25, 0.5, 0.75, 0.95),
    mode: str = "OR",
) -> DataFrame:
    """ES ``percentiles`` aggregation over a numeric doc-value field —
    DataFrame(pct, value) ordered by pct.  Exact linear-interpolated
    percentiles (Spark ``percentile``), which the DuckDB oracle's
    ``quantile_cont`` and the serving twin's ``np.quantile`` reproduce
    bit-for-bit; ES itself uses t-digest, an approximation of exactly
    this statistic.  One aggregation pass computes every requested
    percent (the sort happens once inside the agg)."""
    pcts = [float(p) for p in percents]
    if not pcts or any(not 0.0 <= p <= 1.0 for p in pcts):
        raise DocValueError("percents must be fractions in [0, 1]")
    check_scalar(searcher, field, doclens_df(searcher))
    mv = _matched_values(searcher, query, field, mode)
    if isinstance(mv.schema[field].dataType, (T.TimestampType, T.DateType)):
        raise DocValueError(
            "percentiles takes a numeric doc-value field — epoch-cast "
            "timestamp fields upstream"
        )
    arr = mv.agg(F.percentile(F.col(field).cast("double"), F.lit(pcts)).alias("v"))
    pct_lit = F.array(*[F.lit(p) for p in pcts])
    return (
        arr.select(F.posexplode("v").alias("i", "value"))
        .select(F.element_at(pct_lit, F.col("i") + 1).alias("pct"), "value")
        .orderBy("pct")
    )


def check_range_buckets(ranges) -> list:
    """Normalize/validate ES range-agg buckets: [(key, lo, hi)] with
    unique keys and at least one bound each."""
    rngs = [(str(k), lo, hi) for k, lo, hi in ranges]
    if not rngs:
        raise DocValueError("range aggregation needs at least one bucket")
    if len({k for k, _lo, _hi in rngs}) != len(rngs):
        raise DocValueError("range-aggregation bucket keys must be unique")
    if any(lo is None and hi is None for _k, lo, hi in rngs):
        raise DocValueError("every range bucket needs at least one bound")
    return rngs


def search_range_buckets(
    searcher: "IndexSearcher",
    query,
    field: str,
    ranges,
    mode: str = "OR",
) -> DataFrame:
    """ES ``range`` aggregation: per explicit bucket (key, lo, hi),
    the count of matching live docs with lo <= value < hi (ES from/to
    semantics — from inclusive, to exclusive, either may be None) —
    DataFrame(key, doc_count) ordered by key.  Buckets may overlap (a
    doc counts in every bucket it falls in) and empty buckets are
    returned with doc_count 0, both per ES.  All buckets fold into ONE
    aggregation pass as conditional counts — never one job per
    bucket."""
    rngs = check_range_buckets(ranges)
    check_scalar(searcher, field, doclens_df(searcher))
    mv = _matched_values(searcher, query, field, mode)
    c = F.col(field)
    aggs = []
    for i, (_key, lo, hi) in enumerate(rngs):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(lo))
        if hi is not None:
            cond = cond & (c < F.lit(hi))
        aggs.append(F.count(F.when(cond, True)).alias(f"_b{i}"))
    row = mv.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(key).alias("key"), F.col(f"_b{i}").alias("doc_count")
            )
            for i, (key, _lo, _hi) in enumerate(rngs)
        ]
    )
    return (
        row.select(F.explode(pairs).alias("b"))
        .select("b.key", F.col("b.doc_count").cast("long").alias("doc_count"))
        .orderBy("key")
    )


def search_collapse(
    searcher: "IndexSearcher",
    query,
    field: str,
    k: int = 10,
    mode: str = "OR",
) -> DataFrame:
    """ES field collapsing (``collapse``): BM25 top-k keeping only the
    best-scoring hit per distinct value of a doc-value field — one
    result per site/source in web search.  DataFrame(value, doc_id,
    score) by (score desc, doc_id asc); scores are the unfiltered
    exhaustive BM25 scores (collapse never rescores).

    Plan: the query terms' posting rows are cogrouped with the
    segment's (doc_id, field) doclens slice; each segment task scores
    exhaustively, masks deletes, and emits ONE row per distinct value
    (its best doc) — the shuffle carries at most n_values x n_segments
    rows, never per-doc data.  The global reduce is a max_by per value
    followed by top-k."""
    from .bm25 import _check_scoring_rows, _msm_scores, field_avgdl_map

    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_collapse supports OR/AND term queries")
    qterms = sorted(set(query))
    spark = searcher.spark
    dl = doclens_df(searcher)
    check_scalar(searcher, field, dl)
    out_schema = T.StructType(
        [
            T.StructField("value", dl.schema[field].dataType, True),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    if not qterms:
        return spark.createDataFrame([], out_schema)
    rows, idf = _rows_and_idf(searcher, qterms)
    dpp, seg_group = _seg_params(searcher.manifest)
    vals = dl.where(F.col(field).isNotNull()).select(
        segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
        "doc_id",
        F.col(field).alias("value"),
    )
    avgdl = field_avgdl_map(searcher.manifest, qterms)
    get_deletes = searcher._segment_deletes_fn()
    msm = len(qterms) if mode_u == "AND" else 1
    empty = {"value": [], "doc_id": [], "score": []}

    def best_per_value(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(empty)
        _check_scoring_rows(left, idf)
        dead = get_deletes(int(key[0]))
        postings = {
            r.term: codecs.decode_postings(bytes(r.blob))
            for r in left.itertuples()
        }
        docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
        if dead is not None and dead.size and docs.size:
            keep = ~np.isin(docs, dead, assume_unique=True)
            docs, scores = docs[keep], scores[keep]
        if not docs.size:
            return pd.DataFrame(empty)
        ok, v = _value_lookup(right, "value", docs)
        pdf = pd.DataFrame({"value": v, "doc_id": docs[ok], "score": scores[ok]})
        pdf = pdf.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        return pdf.drop_duplicates("value", keep="first")

    partials = (
        rows.groupBy("segment")
        .cogroup(vals.groupBy("segment"))
        .applyInPandas(best_per_value, out_schema)
    )
    best = (
        partials.groupBy("value")
        .agg(
            F.max_by(
                F.struct("doc_id", "score"),
                F.struct(F.col("score"), (-F.col("doc_id")).alias("nid")),
            ).alias("m")
        )
        .select("value", F.col("m.doc_id").alias("doc_id"), F.col("m.score").alias("score"))
    )
    return best.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(int(k))


def search_field_stats(
    searcher: "IndexSearcher",
    query,
    field: str,
    mode: str = "OR",
    extended: bool = False,
) -> DataFrame:
    """ES ``stats`` aggregation over any numeric doc-value field of
    the matching live docs — DataFrame(n_hits, min_v, max_v, sum_v,
    avg_v), one row.  ``extended=True`` adds ES ``extended_stats``
    moments (variance_pop, std_pop — population, per ES).  Integer
    fields aggregate exactly (long sums); the existing ``search_stats``
    covers the postings-resident doc length, this one any stored
    field."""
    check_scalar(searcher, field, doclens_df(searcher))
    mv = _matched_values(searcher, query, field, mode)
    if isinstance(mv.schema[field].dataType, (T.TimestampType, T.DateType)):
        raise DocValueError(
            "field stats take a numeric doc-value field — epoch-cast "
            "timestamp fields upstream"
        )
    c = F.col(field)
    aggs = [
        F.count("*").alias("n_hits"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.sum(c).alias("sum_v"),
        F.avg(c).alias("avg_v"),
    ]
    if extended:
        aggs += [
            F.var_pop(c).alias("variance_pop"),
            F.stddev_pop(c).alias("std_pop"),
        ]
    return mv.agg(*aggs)


def search_grouped_tophits(
    searcher: "IndexSearcher",
    query,
    field: str,
    n_buckets: int = 5,
    per_bucket: int = 3,
    mode: str = "OR",
) -> DataFrame:
    """ES ``terms`` aggregation with a ``top_hits`` sub-aggregation
    (buckets ordered by max_score): the top ``n_buckets`` doc-value
    buckets ranked by their best BM25 hit, each carrying its top
    ``per_bucket`` hits — DataFrame(value, rank, doc_id, score)
    ordered (bucket best desc, value asc, rank asc).

    Same cogroup shape as search_collapse, but each segment task emits
    its top ``per_bucket`` docs per value, so the shuffle is bounded by
    per_bucket x n_values x n_segments.  The global half is a
    per-value row_number window over those bounded partials plus a
    top-n_buckets selection — never per-doc data."""
    from pyspark.sql.window import Window

    from .bm25 import _check_scoring_rows, _msm_scores, field_avgdl_map

    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_grouped_tophits supports OR/AND term queries")
    qterms = sorted(set(query))
    spark = searcher.spark
    dl = doclens_df(searcher)
    check_scalar(searcher, field, dl)
    out_schema = T.StructType(
        [
            T.StructField("value", dl.schema[field].dataType, True),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    result_schema = T.StructType(
        [
            out_schema[0],
            T.StructField("rank", T.IntegerType(), False),
            out_schema[1],
            out_schema[2],
        ]
    )
    if not qterms:
        return spark.createDataFrame([], result_schema)
    rows, idf = _rows_and_idf(searcher, qterms)
    dpp, seg_group = _seg_params(searcher.manifest)
    vals = dl.where(F.col(field).isNotNull()).select(
        segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
        "doc_id",
        F.col(field).alias("value"),
    )
    avgdl = field_avgdl_map(searcher.manifest, qterms)
    get_deletes = searcher._segment_deletes_fn()
    msm = len(qterms) if mode_u == "AND" else 1
    empty = {"value": [], "doc_id": [], "score": []}
    per_bucket = int(per_bucket)

    def topk_per_value(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(empty)
        _check_scoring_rows(left, idf)
        dead = get_deletes(int(key[0]))
        postings = {
            r.term: codecs.decode_postings(bytes(r.blob))
            for r in left.itertuples()
        }
        docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
        if dead is not None and dead.size and docs.size:
            keep = ~np.isin(docs, dead, assume_unique=True)
            docs, scores = docs[keep], scores[keep]
        if not docs.size:
            return pd.DataFrame(empty)
        ok, v = _value_lookup(right, "value", docs)
        pdf = pd.DataFrame({"value": v, "doc_id": docs[ok], "score": scores[ok]})
        pdf = pdf.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        return pdf.groupby("value", sort=False).head(per_bucket)

    partials = (
        rows.groupBy("segment")
        .cogroup(vals.groupBy("segment"))
        .applyInPandas(topk_per_value, out_schema)
    )
    w_in = Window.partitionBy("value").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    hits = partials.withColumn("rank", F.row_number().over(w_in)).filter(
        F.col("rank") <= per_bucket
    )
    top_vals = (
        hits.groupBy("value")
        .agg(F.max("score").alias("best"))
        .orderBy(F.col("best").desc(), F.col("value").asc())
        .limit(int(n_buckets))
    )
    return (
        hits.join(F.broadcast(top_vals), "value")
        .orderBy(F.col("best").desc(), F.col("value").asc(), F.col("rank").asc())
        .select("value", "rank", "doc_id", "score")
    )


def search_cardinality(
    searcher: "IndexSearcher",
    query,
    field: str,
    mode: str = "OR",
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """ES ``cardinality`` aggregation: distinct doc-value count among
    matching live docs — one row (n_values).  ``exact=False`` switches
    to the HLL++ sketch (approx_count_distinct, relative error ``rsd``)
    — the ES default, and the only sane mode at 10^12 docs where an
    exact distinct would shuffle every value; exact mode stays for
    small fields and the correctness oracle."""
    mv = _matched_values(searcher, query, field, mode)
    if isinstance(mv.schema[field].dataType, T.ArrayType):
        mv = mv.select(F.explode(F.col(field)).alias(field))
    agg = (
        F.countDistinct(F.col(field))
        if exact
        else F.approx_count_distinct(F.col(field), rsd)
    )
    return mv.agg(agg.cast("long").alias("n_values"))


def significant_terms(
    searcher: "IndexSearcher",
    query,
    field: str,
    size: int = 10,
    mode: str = "OR",
) -> DataFrame:
    """ES ``significant_terms`` on a doc-value field: values
    over-represented in the query's matches (foreground) vs the whole
    live index (background), scored by relative-frequency lift
    ``(fg/fg_total) / (bg/bg_total)`` (ES offers several heuristics;
    lift is its percentage-score mode) — DataFrame(value, fg_count,
    bg_count, lift) by (lift desc, value asc), ``size`` rows.  Two
    small aggregations joined on the value: the background side is
    query-independent and cacheable."""
    mv = _matched_values(searcher, query, field, mode)
    bgv = _matched_values(searcher, None, field, mode)
    if isinstance(mv.schema[field].dataType, T.ArrayType):
        expl = lambda df: df.select(
            F.explode(F.array_distinct(F.col(field))).alias(field)
        )
        mv, bgv = expl(mv), expl(bgv)
    fg = mv.groupBy(F.col(field).alias("value")).agg(
        F.count("*").alias("fg_count")
    )
    bg = bgv.groupBy(F.col(field).alias("value")).agg(
        F.count("*").alias("bg_count")
    )
    totals = F.broadcast(
        fg.agg(F.sum("fg_count").alias("fg_total")).crossJoin(
            bg.agg(F.sum("bg_count").alias("bg_total"))
        )
    )
    return (
        fg.join(bg, "value")
        .crossJoin(totals)
        .select(
            "value",
            "fg_count",
            "bg_count",
            (
                (F.col("fg_count") / F.col("fg_total"))
                / (F.col("bg_count") / F.col("bg_total"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("value").asc())
        .limit(int(size))
    )


# ---- function_score decay, missing agg, composite terms agg ----------

DECAY_FNS = ("gauss", "exp", "linear")


def check_decay(fn: str, scale: float, decay: float, offset: float) -> None:
    """Validate ES function_score decay parameters (the same checks ES
    makes at query-parse time)."""
    if fn not in DECAY_FNS:
        raise DocValueError(f"decay fn must be one of {DECAY_FNS}, got {fn!r}")
    if not scale > 0:
        raise DocValueError("decay scale must be > 0")
    if not 0.0 < decay < 1.0:
        raise DocValueError("decay must be in (0, 1) exclusive")
    if offset < 0:
        raise DocValueError("decay offset must be >= 0")


def dv_float(vals: np.ndarray) -> np.ndarray:
    """Doc values as float64 for decay math — timestamps become epoch
    seconds (ns-exact division keeps sub-second inputs faithful; the
    oracle's ``epoch(ts)`` matches)."""
    if np.issubdtype(vals.dtype, np.datetime64):
        return vals.astype("datetime64[ns]").astype(np.int64) / 1e9
    return vals.astype(np.float64)


def origin_float(origin, is_time: bool) -> float:
    """Decay origin as float64 — timestamps/strings parse through
    pandas (naive = UTC, the same convention as numpy datetime64 epoch
    math and DuckDB ``epoch``)."""
    if is_time:
        return float(pd.Timestamp(origin).timestamp())
    return float(origin)


def decay_factors(
    vals_f: np.ndarray,
    origin_f: float,
    scale: float,
    decay: float,
    offset: float,
    fn: str,
) -> np.ndarray:
    """ES function_score decay curves over float64 doc values — the
    multiplicative factor per doc, in [0, 1].  ``decay`` is the factor
    at distance ``scale`` from ``origin`` (past ``offset``):

      gauss   exp(-d² / 2σ²),          σ² = scale² / (2·ln(1/decay))
      exp     exp(λ·d),                λ  = ln(decay) / scale
      linear  max(0, (s − d) / s),     s  = scale / (1 − decay)

    with d = max(0, |v − origin| − offset).  Pure float64 numpy —
    bit-shared by the distributed tasks, the serving twin, and (via
    the same formulas in SQL) the DuckDB oracle."""
    import math

    d = np.maximum(0.0, np.abs(vals_f - origin_f) - offset)
    if fn == "gauss":
        sigma2 = scale * scale / (2.0 * math.log(1.0 / decay))
        return np.exp(-(d * d) / (2.0 * sigma2))
    if fn == "exp":
        lam = math.log(decay) / scale
        return np.exp(lam * d)
    s = scale / (1.0 - decay)
    return np.maximum(0.0, (s - d) / s)


def _rescore_with_values(
    searcher: "IndexSearcher",
    qterms: list[str],
    field: "str | None",
    mode_u: str,
    k: int,
    factors_fn,
) -> DataFrame:
    """Shared ES ``function_score`` skeleton (decay / field_value_factor
    / random_score): exhaustive per-segment term scoring — pruned
    kernels assume score-monotone bounds that a reweight invalidates —
    cogrouped with the segment's NULL-filtered (doc_id, value) doclens
    slice when a value field is involved.  ``factors_fn(docs, ok,
    vals_f)`` returns the float64 multiplier per matched doc (``ok`` =
    which docs hold a value; empty mask when ``field is None``).  Each
    segment emits only its top-k; scores stay float64 end-to-end."""
    from .bm25 import (
        RESULT_SCHEMA,
        _check_scoring_rows,
        _msm_scores,
        _topk,
        field_avgdl_map,
    )

    spark = searcher.spark
    if not qterms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    rows, idf = _rows_and_idf(searcher, qterms)
    avgdl = field_avgdl_map(searcher.manifest, qterms)
    get_deletes = searcher._segment_deletes_fn()
    msm = len(qterms) if mode_u == "AND" else 1

    def score_part(key, left: pd.DataFrame, right: "pd.DataFrame | None"):
        if left.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        _check_scoring_rows(left, idf)
        dead = get_deletes(int(key[0]))
        postings = {
            r.term: codecs.decode_postings(bytes(r.blob))
            for r in left.itertuples()
        }
        docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
        if dead is not None and dead.size and docs.size:
            keep = ~np.isin(docs, dead, assume_unique=True)
            docs, scores = docs[keep], scores[keep]
        if not docs.size:
            return pd.DataFrame({"doc_id": [], "score": []})
        if right is None or right.empty:
            ok = np.zeros(len(docs), dtype=bool)
            vals_f = np.array([], dtype=np.float64)
        else:
            ok, v = _value_lookup(right, "value", docs)
            vals_f = dv_float(v)
        factors = factors_fn(docs, ok, vals_f)
        docs, scores = _topk(docs, scores * factors, k)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    if field is None:
        partials = rows.groupBy("segment").applyInPandas(
            lambda key, pdf: score_part(key, pdf, None), RESULT_SCHEMA
        )
    else:
        dpp, seg_group = _seg_params(searcher.manifest)
        vals = doclens_df(searcher).where(F.col(field).isNotNull()).select(
            segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
            "doc_id",
            F.col(field).alias("value"),
        )
        partials = (
            rows.groupBy("segment")
            .cogroup(vals.groupBy("segment"))
            .applyInPandas(score_part, RESULT_SCHEMA)
        )
    return partials.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        int(k)
    )


def search_decay(
    searcher: "IndexSearcher",
    query: "list[str]",
    field: str,
    origin,
    scale: float,
    decay: float = 0.5,
    offset: float = 0.0,
    fn: str = "gauss",
    mode: str = "OR",
    k: int = 10,
) -> DataFrame:
    """ES ``function_score`` with a decay function on a doc-value
    field: final score = BM25 × decay(|value − origin|) — the standard
    recency-boost shape (seqr's ES queries sort/boost on exported date
    fields; mapping derivation hail_scripts/v02/utils/
    elasticsearch_utils.py:38-77).

    Docs *missing* the field keep factor 1.0 (the documented ES decay
    behavior), so the NULL-filtered value side never drops a match —
    it only reweights the present ones.

    Plan: the query terms' posting rows cogroup with the segment's
    NULL-filtered (doc_id, value) doclens slice; each segment task
    scores exhaustively (pruned kernels assume score-monotone bounds
    that a reweight invalidates), multiplies by the decay factor, and
    emits its top-k — only k rows per segment reach the final global
    order.  Scores stay float64 end-to-end."""
    check_decay(fn, scale, decay, offset)
    mode_u = mode.upper()
    if mode_u == "BOOL":
        return _search_decay_bool(
            searcher, query, field, origin, scale, decay, offset, fn, k
        )
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_decay supports OR/AND term queries or BOOL")
    qterms = sorted(set(query))
    dl = doclens_df(searcher)
    check_scalar(searcher, field, dl)
    is_time = isinstance(dl.schema[field].dataType, T.TimestampType)
    origin_f = origin_float(origin, is_time)
    scale_f, decay_f, offset_f = float(scale), float(decay), float(offset)

    def factors_fn(docs, ok, vals_f):
        factors = np.ones(len(docs), dtype=np.float64)
        factors[ok] = decay_factors(
            vals_f, origin_f, scale_f, decay_f, offset_f, fn
        )
        return factors

    return _rescore_with_values(searcher, qterms, field, mode_u, k, factors_fn)


FVF_MODIFIERS = ("none", "log1p", "sqrt", "reciprocal")

# minstd multiplier/modulus for the pinned random_score hash — two
# rounds over (doc_id mod p + seed); every intermediate < 2^48 so the
# identical arithmetic is expressible in ANSI SQL for the oracle
RS_A = 48271
RS_P = 2147483647


def fvf_factor_values(vals_f: np.ndarray, factor: float, modifier: str) -> np.ndarray:
    """ES ``field_value_factor``: modifier(factor × value), float64.
    ``reciprocal`` guards value 0 the ES way (score becomes inf — the
    caller should pick a nonzero ``missing``/field contract); negative
    inputs to sqrt/log1p raise, as ES errors on them."""
    x = vals_f * float(factor)
    if modifier == "none":
        return x
    if modifier == "log1p":
        if (x < 0).any():
            raise DocValueError("log1p modifier needs non-negative values")
        return np.log1p(x)
    if modifier == "sqrt":
        if (x < 0).any():
            raise DocValueError("sqrt modifier needs non-negative values")
        return np.sqrt(x)
    if modifier == "reciprocal":
        return 1.0 / x
    raise DocValueError(f"field_value_factor modifier must be one of {FVF_MODIFIERS}")


def search_field_value_factor(
    searcher: "IndexSearcher",
    query: "list[str]",
    field: str,
    factor: float = 1.0,
    modifier: str = "log1p",
    missing: float = 1.0,
    mode: str = "OR",
    k: int = 10,
) -> DataFrame:
    """ES ``function_score`` ``field_value_factor`` (boost_mode
    multiply): final score = BM25 × modifier(factor × value) — the
    "popularity boost" shape (boost by stars / views / length).  Docs
    missing the field substitute the ``missing`` value (the documented
    ES parameter), so absent fields reweight deterministically instead
    of dropping the match.  Numeric doc-value fields only (epoch-cast
    timestamps upstream; use search_decay for dates).  Same exhaustive
    per-segment skeleton as search_decay (_rescore_with_values)."""
    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_field_value_factor supports OR/AND term queries")
    if modifier not in FVF_MODIFIERS:
        raise DocValueError(
            f"field_value_factor modifier must be one of {FVF_MODIFIERS}"
        )
    dl = doclens_df(searcher)
    check_scalar(searcher, field, dl)
    if isinstance(dl.schema[field].dataType, (T.TimestampType, T.DateType)):
        raise DocValueError(
            "field_value_factor takes a numeric doc-value field — use "
            "search_decay for timestamp boosts"
        )
    missing_factor = float(
        fvf_factor_values(np.array([float(missing)]), factor, modifier)[0]
    )

    def factors_fn(docs, ok, vals_f):
        factors = np.full(len(docs), missing_factor, dtype=np.float64)
        factors[ok] = fvf_factor_values(vals_f, factor, modifier)
        return factors

    return _rescore_with_values(
        searcher, sorted(set(query)), field, mode_u, k, factors_fn
    )


def random_score_values(docs: np.ndarray, seed: int) -> np.ndarray:
    """Pinned deterministic per-doc uniform in [0, 1): two minstd
    rounds over (doc_id mod p + seed) — identical int64 arithmetic in
    numpy, Spark SQL, and the DuckDB oracle."""
    p = np.int64(RS_P)
    x = (docs % p + np.int64(int(seed) % RS_P)) % p
    x = (x * RS_A) % p
    x = (x * RS_A) % p
    return x.astype(np.float64) / float(RS_P)


def search_random_score(
    searcher: "IndexSearcher",
    query: "list[str]",
    seed: int = 0,
    mode: str = "OR",
    k: int = 10,
) -> DataFrame:
    """ES ``function_score`` ``random_score`` (boost_mode multiply,
    seeded on the doc id): final score = BM25 × hash(doc_id, seed) ∈
    [0, 1) — the reproducible result-shuffling / sampling shape.  The
    hash is a pinned two-round minstd LCG so the same seed ranks
    identically across engines and the SQL oracle; no doc-value read
    is involved (field=None skips the doclens cogroup entirely)."""
    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_random_score supports OR/AND term queries")
    seed_i = int(seed)

    def factors_fn(docs, ok, vals_f):
        return random_score_values(docs, seed_i)

    return _rescore_with_values(
        searcher, sorted(set(query)), None, mode_u, k, factors_fn
    )


def search_missing(
    searcher: "IndexSearcher",
    query: "list[str] | str | None",
    field: str,
    mode: str = "OR",
) -> DataFrame:
    """ES ``missing`` aggregation: how many matching live docs have no
    value for ``field`` — one row DataFrame(missing_count).  The NULL
    side of the doclens scan is typically tiny, so the doc_id join
    broadcasts under AQE; accepts every query shape matched_ids does
    (term lists, BOOL strings with range atoms, None = match_all)."""
    dl = doclens_df(searcher)
    check_field(searcher, field, dl.columns)
    nulls = dl.where(~present_pred(dl, field)).select("doc_id")
    return (
        searcher.matched_ids(query, mode)
        .join(nulls, "doc_id")
        .agg(F.count(F.lit(1)).alias("missing_count"))
    )


def search_value_terms(
    searcher: "IndexSearcher",
    query: "list[str] | str | None",
    field: str,
    size: int = 10,
    after=None,
    mode: str = "OR",
) -> DataFrame:
    """ES ``composite`` aggregation over one terms source: (value,
    doc_count) buckets in ascending value order, ``size`` per page,
    resuming strictly after the ``after`` key — the scale-safe way to
    page through an unbounded-cardinality terms agg (a plain terms agg
    must materialize every bucket; composite streams them).  Rides the
    shared _matched_values front half, so term-list queries take the
    single-cogroup fast path and the after-key predicate prunes before
    the bucket shuffle."""
    mv = _matched_values(searcher, query, field, mode)
    if isinstance(mv.schema[field].dataType, T.ArrayType):
        # multi-valued: a doc counts once per DISTINCT value it holds
        mv = mv.select(
            F.explode(F.array_distinct(F.col(field))).alias(field)
        )
    if after is not None:
        mv = mv.where(F.col(field) > F.lit(after))
    g = mv.groupBy(F.col(field).alias("value")).agg(
        F.count(F.lit(1)).alias("doc_count")
    )
    return g.orderBy(F.col("value").asc()).limit(int(size))


def search_bucket_metrics(
    searcher: "IndexSearcher",
    query: "list[str] | str | None",
    bucket_field: str,
    interval,
    metric_field: str,
    mode: str = "OR",
) -> DataFrame:
    """ES bucket + metric sub-aggregation — the canonical
    ``date_histogram`` with a ``stats`` sub-agg (per-day crawl volume
    with per-day size stats, the seqr-dashboard shape): matching live
    docs bucketed by ``bucket_field`` (calendar unit for timestamps,
    width for numerics — same rules as search_value_histogram), each
    bucket carrying doc_count plus min/sum/avg/max of ``metric_field``.

    ES semantics for NULLs: a doc missing the BUCKET field is outside
    the histogram entirely; a doc missing the METRIC field counts in
    doc_count but not in the metric (an all-missing bucket reports
    NULL metrics).

    Plan: term queries take the single-cogroup fast path with
    PER-SEGMENT PARTIAL AGGREGATES — each segment task matches docs,
    buckets them, and emits one (bucket, count, min, sum, max,
    n_metric) row per bucket it saw, so the only post-cogroup shuffle
    carries segments × buckets rows, never matched docs.  The final
    combine is associative (sum/min/sum/max; avg = Σsum/Σn at the
    end).  match_all and range-atom queries fall back to matched_ids
    joined to a three-column doclens projection (AQE broadcasts the
    matched side when selective) — post-shuffle rows still bounded by
    bucket cardinality.

    Integer metrics aggregate exactly (sums stay integral); float
    metrics are subject to summation order, as in ES."""
    from ..functions import boolquery as bq
    from .bm25 import _check_unique_terms, _match_docs

    dl = doclens_df(searcher)
    check_scalar(searcher, bucket_field, dl)
    check_scalar(searcher, metric_field, dl)
    m_dtype = dl.schema[metric_field].dataType
    if isinstance(m_dtype, T.TimestampType):
        raise DocValueError(
            "metric field must be numeric — epoch-cast timestamp fields "
            "upstream"
        )
    is_time = isinstance(dl.schema[bucket_field].dataType, T.TimestampType)
    bucket_col = _bucket_expr(F.col(bucket_field), interval, is_time)
    integral = m_dtype.simpleString() in ("bigint", "int", "smallint", "tinyint")
    sum_t = T.LongType() if integral else T.DoubleType()

    mode_u = mode.upper()
    if query is not None:
        ast, qterms = searcher.parse_query(query, mode_u)
        if qterms and not bq.filter_atoms(ast):
            dpp, seg_group = _seg_params(searcher.manifest)
            vals = dl.where(F.col(bucket_field).isNotNull()).select(
                segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
                "doc_id",
                bucket_col.alias("bucket"),
                F.col(metric_field).alias("v"),
            )
            rows = searcher._term_rows(qterms).select("segment", "term", "blob")
            get_deletes = searcher._segment_deletes_fn()
            partial_schema = T.StructType(
                [
                    T.StructField("bucket", vals.schema["bucket"].dataType, True),
                    T.StructField("doc_count", T.LongType(), False),
                    T.StructField("min_v", m_dtype, True),
                    T.StructField("sum_v", sum_t, True),
                    T.StructField("max_v", m_dtype, True),
                    T.StructField("n_metric", T.LongType(), False),
                ]
            )
            cols = ["bucket", "doc_count", "min_v", "sum_v", "max_v", "n_metric"]

            def agg_segment(
                key, left: pd.DataFrame, right: pd.DataFrame
            ) -> pd.DataFrame:
                empty_pdf = pd.DataFrame(
                    {
                        "bucket": right["bucket"].iloc[:0],
                        "doc_count": pd.Series([], dtype="int64"),
                        "min_v": right["v"].iloc[:0],
                        "sum_v": pd.Series([], dtype="int64" if integral else "float64"),
                        "max_v": right["v"].iloc[:0],
                        "n_metric": pd.Series([], dtype="int64"),
                    }
                )
                if left.empty or right.empty:
                    return empty_pdf
                _check_unique_terms(left)
                dead = get_deletes(int(key[0]))
                qdocs = {
                    r.term: codecs.decode_postings(bytes(r.blob))[0]
                    for r in left.itertuples()
                }
                matches = _match_docs(qdocs, qterms, mode_u, ast)
                if dead is not None and dead.size and matches.size:
                    matches = matches[~np.isin(matches, dead, assume_unique=True)]
                if not matches.size:
                    return empty_pdf
                ok, looked = _values_lookup(right, ("bucket", "v"), matches)
                if not ok.any():
                    return empty_pdf
                bks, mv = looked["bucket"], looked["v"]
                out = []
                mask_present = pd.notna(mv)
                bk_series = pd.Series(bks)
                for b, grp_idx in bk_series.groupby(bk_series, sort=True).groups.items():
                    gi = np.asarray(grp_idx)
                    vals_g = mv[gi][mask_present[gi]]
                    if len(vals_g):
                        vv = vals_g.astype("int64" if integral else "float64")
                        out.append(
                            (b, len(gi), vv.min(), vv.sum(), vv.max(), len(vv))
                        )
                    else:
                        out.append((b, len(gi), None, None, None, 0))
                return pd.DataFrame(out, columns=cols)

            partials = (
                rows.groupBy("segment")
                .cogroup(vals.groupBy("segment"))
                .applyInPandas(agg_segment, partial_schema)
            )
            return (
                partials.groupBy("bucket")
                .agg(
                    F.sum("doc_count").alias("doc_count"),
                    F.min("min_v").alias("min_v"),
                    F.sum("sum_v").alias("sum_v"),
                    (
                        F.sum("sum_v")
                        / F.when(F.sum("n_metric") > 0, F.sum("n_metric"))
                    ).alias("avg_v"),
                    F.max("max_v").alias("max_v"),
                )
                .select(
                    "bucket", "doc_count", "min_v", "sum_v", "avg_v", "max_v"
                )
                .orderBy("bucket")
            )
    proj = dl.where(F.col(bucket_field).isNotNull()).select(
        "doc_id",
        bucket_col.alias("bucket"),
        F.col(metric_field).alias("v"),
    )

    return (
        searcher.matched_ids(query, mode)
        .join(proj, "doc_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.min("v").alias("min_v"),
            F.sum("v").alias("sum_v"),
            F.avg("v").alias("avg_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("bucket")
    )


def _search_decay_bool(
    searcher: "IndexSearcher",
    query: str,
    field: str,
    origin,
    scale: float,
    decay: float,
    offset: float,
    fn: str,
    k: int,
) -> DataFrame:
    """function_score decay over a BOOLEAN query (filtered recency
    boost — "recent docs matching the filter", the canonical crawl
    query).  One cogroup carries BOTH the range atoms' allowed ids and
    the decay field's values (tagged ``__decay__`` rows in the same
    frame), so each segment task evaluates the boolean filter, scores
    the candidates exhaustively, reweights, and emits its top-k — the
    same one-shuffle shape as the term-list path."""
    from ..functions import boolquery as bq
    from .bm25 import (
        RESULT_SCHEMA,
        _check_scoring_rows,
        _mask_deleted,
        _topk,
        field_avgdl_map,
    )

    ast, terms = searcher.parse_query(query, "BOOL")
    bq.reject_filter_atoms(ast, "a decayed boolean query", allowed=(bq.RangeTerm,))
    pos_terms = bq.positive_terms(ast)
    if not pos_terms:
        raise bq.QueryParseError("query has no positive terms")
    ranges = bq.range_atoms(ast)
    boosts = bq.term_boosts(ast)
    dl = doclens_df(searcher)
    check_scalar(searcher, field, dl)
    is_time = isinstance(dl.schema[field].dataType, T.TimestampType)
    origin_f = origin_float(origin, is_time)
    dpp, seg_group = _seg_params(searcher.manifest)
    seg = segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment")
    v_type = dl.schema[field].dataType
    DECAY_KEY = "__decay__"
    parts = [
        dl.where(F.col(field).isNotNull()).select(
            seg,
            "doc_id",
            F.lit(DECAY_KEY).alias("rkey"),
            F.col(field).alias("value"),
        )
    ]
    for rt in ranges:
        check_field(searcher, rt.field, dl.columns)
        parts.append(
            dl.filter(range_pred(rt, is_array_type(dl, rt.field))).select(
                seg,
                "doc_id",
                F.lit(rt.key()).alias("rkey"),
                F.lit(None).cast(v_type).alias("value"),
            )
        )
    allowed = parts[0]
    for p in parts[1:]:
        allowed = allowed.unionByName(p)
    rkeys = [rt.key() for rt in ranges]
    rows, idf = _rows_and_idf(searcher, terms)
    idf = {t: v * boosts.get(t, 1.0) for t, v in idf.items()}
    avgdl = field_avgdl_map(searcher.manifest, terms)
    get_deletes = searcher._segment_deletes_fn()
    scale_f, decay_f, offset_f = float(scale), float(decay), float(offset)

    def score_segment(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "score": []})
        dead = get_deletes(int(key[0]))
        postings = {}
        if not left.empty:
            _check_scoring_rows(left, idf)
            for r in left.itertuples():
                postings[r.term] = codecs.decode_postings(bytes(r.blob))
        postings = _mask_deleted(postings, dead)
        doc_sets = {t: p[0] for t, p in postings.items()}
        empty_ids = np.array([], np.int64)
        for rk in rkeys:
            doc_sets[rk] = empty_ids
        dv_rows = right[right["rkey"] == DECAY_KEY]
        for rk, grp in right[right["rkey"] != DECAY_KEY].groupby("rkey"):
            ids = np.sort(grp["doc_id"].to_numpy(np.int64))
            if dead is not None and dead.size and ids.size:
                ids = ids[~np.isin(ids, dead, assume_unique=True)]
            doc_sets[rk] = ids
        cand = bq.eval_docs(ast, doc_sets)
        if isinstance(cand, tuple) or cand.size == 0:
            return empty
        scores = bq.score_candidates(cand, postings, pos_terms, idf, avgdl)
        factors = np.ones(len(cand), dtype=np.float64)
        if not dv_rows.empty:
            ok, v = _value_lookup(dv_rows, "value", cand)
            factors[ok] = decay_factors(
                dv_float(v), origin_f, scale_f, decay_f, offset_f, fn
            )
        d, s = _topk(cand, scores * factors, k)
        return pd.DataFrame({"doc_id": d, "score": s})

    partials = (
        rows.groupBy("segment")
        .cogroup(allowed.groupBy("segment"))
        .applyInPandas(score_segment, RESULT_SCHEMA)
    )
    return partials.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        int(k)
    )


# ---------------------------------------------------------------------------
# pipeline aggregations (ES derivative / moving_fn / serial_diff /
# bucket_selector / bucket_sort, and the sibling *_bucket family)
# ---------------------------------------------------------------------------

_SORTABLE = ("bucket", "doc_count", "cum_count", "derivative",
             "moving_avg", "serial_diff")


def histogram_pipeline(
    searcher: "IndexSearcher",
    query,
    field: str,
    interval,
    mode: str = "OR",
    *,
    dense: bool = False,
    cumulative: bool = False,
    derivative: bool = False,
    moving_avg: int | None = None,
    serial_diff: int | None = None,
    min_doc_count: int | None = None,
    sort_by: tuple[str, str] | None = None,
    size: int | None = None,
) -> DataFrame:
    """ES pipeline aggregations over a ``date_histogram``/``histogram``
    parent — one frame with the parent buckets plus any requested
    pipeline columns, in ES evaluation order:

    1. parent buckets (``search_value_histogram`` — bucket, doc_count),
    2. per-bucket pipeline metrics over bucket order:
       ``cumulative`` → ``cum_count`` (cumulative_sum),
       ``derivative`` → ``derivative`` = doc_count − previous bucket's
       (NULL in the first bucket, the ES no-lag convention),
       ``moving_avg=w`` → ``moving_avg`` = mean of the trailing window
       of w buckets ending at the current one (ES moving_fn with
       ``shift=0`` and an unweighted avg),
       ``serial_diff=n`` → ``serial_diff`` = doc_count − the bucket n
       steps back (NULL for the first n buckets),
    3. ``min_doc_count`` → the ES ``bucket_selector`` filter
       (``params.count >= N``) applied AFTER the pipeline metrics, so
       derivatives keep seeing the pruned neighbours, exactly as ES
       evaluates selector scripts after sibling pipeline aggs,
    4. ``sort_by=(col, "asc"|"desc")`` + ``size`` → ``bucket_sort``
       (bucket ascending is the tie-break and the default order).

    Every window runs over the already-aggregated buckets (one row per
    bucket), so the single-partition window is bounded by bucket
    cardinality — never corpus size — the same scale argument as the
    cumulative_sum agg (H25).
    """
    from pyspark.sql.window import Window

    h = search_value_histogram(searcher, query, field, interval, mode)
    if dense:
        # the ES ``min_doc_count: 0`` shape: fill the bucket spine from
        # min to max so pipeline metrics see every calendar/numeric
        # step (a gap-elided derivative silently diffs non-adjacent
        # buckets); spine cardinality is bounded by the bucket range
        is_time = isinstance(
            h.schema["bucket"].dataType, (T.TimestampType, T.DateType)
        )
        if is_time:
            step = {
                "hour": "INTERVAL 1 HOUR",
                "day": "INTERVAL 1 DAY",
                "week": "INTERVAL 7 DAY",   # Monday-aligned stays Monday
                "month": "INTERVAL 1 MONTH",  # month starts stay starts
            }[interval]
            seq = F.expr(f"sequence(lo, hi, {step})")
        else:
            seq = F.sequence(F.col("lo"), F.col("hi"), F.lit(int(interval)))
        spine = (
            h.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
            .where(F.col("lo").isNotNull())
            .select(F.explode(seq).alias("bucket"))
        )
        h = spine.join(h, "bucket", "left").select(
            "bucket",
            F.coalesce(F.col("doc_count"), F.lit(0)).cast("long").alias(
                "doc_count"
            ),
        )
    w = Window.orderBy("bucket")
    if cumulative:
        h = h.withColumn(
            "cum_count",
            F.sum("doc_count")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    if derivative:
        h = h.withColumn(
            "derivative",
            (F.col("doc_count") - F.lag("doc_count", 1).over(w)).cast("double"),
        )
    if moving_avg is not None:
        mw = int(moving_avg)
        if mw <= 0:
            raise DocValueError("moving_avg window must be a positive int")
        h = h.withColumn(
            "moving_avg",
            F.avg("doc_count").over(w.rowsBetween(-(mw - 1), Window.currentRow)),
        )
    if serial_diff is not None:
        lag_n = int(serial_diff)
        if lag_n <= 0:
            raise DocValueError("serial_diff lag must be a positive int")
        h = h.withColumn(
            "serial_diff",
            (F.col("doc_count") - F.lag("doc_count", lag_n).over(w)).cast(
                "double"
            ),
        )
    if min_doc_count is not None:
        h = h.filter(F.col("doc_count") >= int(min_doc_count))
    if sort_by is not None:
        col, direction = sort_by
        if col not in h.columns or col not in _SORTABLE:
            raise DocValueError(
                f"bucket_sort key {col!r} is not a computed column "
                f"(have {h.columns})"
            )
        if direction not in ("asc", "desc"):
            raise DocValueError("bucket_sort direction must be asc|desc")
        key = F.col(col).asc() if direction == "asc" else F.col(col).desc()
        h = h.orderBy(key, F.col("bucket").asc())
    else:
        h = h.orderBy("bucket")
    if size is not None:
        h = h.limit(int(size))
    return h


def bucket_stat(
    searcher: "IndexSearcher",
    query,
    field: str,
    interval,
    stat: str,
    mode: str = "OR",
) -> DataFrame:
    """ES sibling pipeline aggregations ``max_bucket`` / ``min_bucket``
    / ``avg_bucket`` / ``sum_bucket`` over a histogram parent —
    DataFrame(bucket, value):

    * ``max``/``min``: one row per bucket achieving the extreme
      doc_count (ES returns the full ``keys`` list on ties), bucket
      ascending;
    * ``avg``/``sum``: a single row with bucket NULL (sibling stats
      have no single key) and the statistic over every parent bucket.

    The reduction runs over the aggregated bucket frame (rows = bucket
    cardinality), so the extra stage is a scalar aggregate, never a
    corpus-sized shuffle."""
    stat_l = str(stat).lower()
    if stat_l not in ("max", "min", "avg", "sum"):
        raise DocValueError("bucket_stat takes stat in {max, min, avg, sum}")
    h = search_value_histogram(searcher, query, field, interval, mode)
    if stat_l in ("avg", "sum"):
        agg = (
            F.avg("doc_count") if stat_l == "avg" else
            F.sum("doc_count").cast("double")
        )
        return h.agg(
            F.lit(None).cast(h.schema["bucket"].dataType).alias("bucket"),
            agg.alias("value"),
        )
    ext = F.max("doc_count") if stat_l == "max" else F.min("doc_count")
    best = h.agg(ext.alias("value"))
    return (
        h.join(F.broadcast(best), h["doc_count"] == best["value"], "inner")
        .select("bucket", F.col("value").cast("double").alias("value"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# weighted_avg + matrix_stats (two-field metric aggregations)
# ---------------------------------------------------------------------------


def _two_field_rows(searcher: "IndexSearcher", query, f1: str, f2: str, mode: str):
    """(doc_id, f1, f2) of matching live docs holding BOTH fields —
    shared front half of weighted_avg and matrix_stats.  Scalar numeric
    fields only."""
    dl = doclens_df(searcher)
    for f in (f1, f2):
        check_scalar(searcher, f, dl)
        if isinstance(dl.schema[f].dataType, (T.TimestampType, T.DateType)):
            raise DocValueError(
                f"{f!r} is a timestamp field — epoch-cast it upstream for "
                "two-field metric aggregations"
            )
    vals = dl.where(
        F.col(f1).isNotNull() & F.col(f2).isNotNull()
    ).select("doc_id", f1, f2)
    return searcher.matched_ids(query, mode).join(vals, "doc_id")


def search_weighted_avg(
    searcher: "IndexSearcher",
    query,
    field: str,
    weight_field: str,
    mode: str = "OR",
) -> DataFrame:
    """ES ``weighted_avg`` aggregation: Σ(value × weight) / Σ(weight)
    over matching live docs — one row DataFrame(n, weight_sum, wavg).
    Docs missing either field are skipped (the ES default for a missing
    value; a missing weight skips the doc rather than guessing one).
    Integer sums stay exact in float64 below 2^53, so the DuckDB oracle
    reproduces the division bit-for-bit."""
    rows = _two_field_rows(searcher, query, field, weight_field, mode)
    v = F.col(field).cast("double")
    w = F.col(weight_field).cast("double")
    return rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(w).alias("weight_sum"),
        (F.sum(v * w) / F.sum(w)).alias("wavg"),
    )


def search_matrix_stats(
    searcher: "IndexSearcher",
    query,
    field_x: str,
    field_y: str,
    mode: str = "OR",
) -> DataFrame:
    """ES ``matrix_stats`` aggregation for a field pair: one row
    DataFrame(n, mean_x, mean_y, var_x, var_y, cov, corr) over matching
    live docs holding both fields — population moments from raw sums
    (Σx, Σy, Σx², Σy², Σxy), the formulas spelled identically in the
    serving twin and the SQL oracle so float64 results agree:

        var  = Σx²/n − mean²
        cov  = Σxy/n − mean_x·mean_y
        corr = cov / sqrt(var_x · var_y)
    """
    rows = _two_field_rows(searcher, query, field_x, field_y, mode)
    x = F.col(field_x).cast("double")
    y = F.col(field_y).cast("double")
    agg = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    mean_x = F.col("sx") / n
    mean_y = F.col("sy") / n
    var_x = F.col("sxx") / n - mean_x * mean_x
    var_y = F.col("syy") / n - mean_y * mean_y
    cov = F.col("sxy") / n - mean_x * mean_y
    return agg.select(
        "n",
        mean_x.alias("mean_x"),
        mean_y.alias("mean_y"),
        var_x.alias("var_x"),
        var_y.alias("var_y"),
        cov.alias("cov"),
        (cov / F.sqrt(var_x * var_y)).alias("corr"),
    )


def search_rare_terms(
    searcher: "IndexSearcher",
    query: "list[str] | str | None",
    field: str,
    max_doc_count: int = 1,
    size: int = 100,
    mode: str = "OR",
) -> DataFrame:
    """ES ``rare_terms`` aggregation: the LONG-TAIL values — buckets
    whose doc_count is at most ``max_doc_count``, ordered (doc_count
    asc, value asc), capped at ``size``.  The inverse of the terms agg
    ("what's unusual", not "what's common"); ES approximates with a
    CuckooFilter, this computes the exact answer from the same
    _matched_values front half (one count per value + a HAVING — the
    post-aggregation filter shrinks the result, never the shuffle).
    Multi-valued fields count each doc once per distinct value, like
    the terms agg."""
    if int(max_doc_count) <= 0:
        raise DocValueError("rare_terms max_doc_count must be a positive int")
    mv = _matched_values(searcher, query, field, mode)
    if isinstance(mv.schema[field].dataType, T.ArrayType):
        mv = mv.select(
            F.explode(F.array_distinct(F.col(field))).alias(field)
        )
    g = (
        mv.groupBy(F.col(field).alias("value"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") <= int(max_doc_count))
    )
    return g.orderBy(F.col("doc_count").asc(), F.col("value").asc()).limit(
        int(size)
    )


def search_multi_terms(
    searcher: "IndexSearcher",
    query: "list[str] | str | None",
    fields: list[str],
    size: int = 10,
    mode: str = "OR",
) -> DataFrame:
    """ES ``multi_terms`` aggregation: compound-key buckets over two or
    more scalar doc-value fields — DataFrame(<fields...>, doc_count)
    ordered (doc_count desc, keys asc).  Docs missing ANY key field are
    skipped (the ES semantics: every source must produce a value).
    One doclens projection + one count shuffle keyed by the compound."""
    if len(fields) < 2:
        raise DocValueError("multi_terms needs at least two fields")
    dl = doclens_df(searcher)
    for f in fields:
        check_scalar(searcher, f, dl)
    pred = None
    for f in fields:
        c = F.col(f).isNotNull()
        pred = c if pred is None else (pred & c)
    vals = dl.where(pred).select("doc_id", *fields)
    g = (
        searcher.matched_ids(query, mode)
        .join(vals, "doc_id")
        .groupBy(*fields)
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    order = [F.col("doc_count").desc()] + [F.col(f).asc() for f in fields]
    return g.orderBy(*order).limit(int(size))


def search_top_metrics(
    searcher: "IndexSearcher",
    query: "list[str] | str | None",
    sort_field: str,
    metric_fields: list[str],
    ascending: bool = False,
    size: int = 1,
    mode: str = "OR",
) -> DataFrame:
    """ES ``top_metrics`` aggregation: the metric fields of the docs at
    the top of a field sort — DataFrame(doc_id, <sort_field>,
    <metrics...>) in sort order.  The metric join happens AFTER the
    top-k (size rows ⋈ doclens), so it broadcasts; metrics may be NULL
    (ES returns null metrics for absent fields)."""
    top = search_sorted(searcher, query, sort_field, ascending, size, mode)
    dl = doclens_df(searcher)
    for f in metric_fields:
        check_field(searcher, f, dl.columns)
    metrics = dl.select("doc_id", *metric_fields)
    # inner join is safe: every live doc has a doclens row (absent
    # METRICS are NULL columns, which the join preserves) — and it lets
    # the k-row top side broadcast
    return (
        F.broadcast(top)
        .join(metrics, "doc_id", "inner")
        .select("doc_id", sort_field, *metric_fields)
        .orderBy(
            F.col(sort_field).asc() if ascending else F.col(sort_field).desc(),
            F.col("doc_id").asc(),
        )
    )


def search_terms_set(
    searcher: "IndexSearcher",
    terms: list[str],
    m_field: str,
    k: int = 10,
) -> DataFrame:
    """ES ``terms_set`` query: a doc matches when it contains at least
    ``m(doc)`` of the query terms, where the REQUIRED count comes from
    the doc's own ``m_field`` doc value (the
    minimum_should_match_field contract) — the per-doc-threshold
    variant of minimum_should_match.  Docs missing the field never
    match (per ES); values are clamped to ≥1 (a 0-requirement would
    make the query unbounded match_all).  Matching docs score as the
    standard disjunctive sum over the terms they hold.

    Plan: the terms' posting rows cogroup with the segment's
    NULL-filtered (doc_id, m) doclens slice; per segment the union
    membership pass yields scores AND match counts in one sweep
    (exhaustive — per-doc thresholds break score-monotone pruning
    bounds), per-segment top-k."""
    from .bm25 import (
        RESULT_SCHEMA,
        _check_scoring_rows,
        _topk,
        bm25_tf_weight,
        field_avgdl_map,
    )

    qterms = sorted(set(terms))
    spark = searcher.spark
    if not qterms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    dl = doclens_df(searcher)
    check_scalar(searcher, m_field, dl)
    if isinstance(dl.schema[m_field].dataType, (T.TimestampType, T.DateType)):
        raise DocValueError("terms_set needs a numeric requirement field")
    rows, idf = _rows_and_idf(searcher, qterms)
    dpp, seg_group = _seg_params(searcher.manifest)
    vals = dl.where(F.col(m_field).isNotNull()).select(
        segment_expr(F.col("doc_id"), dpp, seg_group).alias("segment"),
        "doc_id",
        F.col(m_field).alias("value"),
    )
    avgdl = field_avgdl_map(searcher.manifest, qterms)
    get_deletes = searcher._segment_deletes_fn()

    def score_segment(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        _check_scoring_rows(left, idf)
        dead = get_deletes(int(key[0]))
        postings = {
            r.term: codecs.decode_postings(bytes(r.blob))
            for r in left.itertuples()
        }
        present = [t for t in qterms if t in postings]
        if not present:
            return pd.DataFrame({"doc_id": [], "score": []})
        from functools import reduce

        all_docs = reduce(np.union1d, (postings[t][0] for t in present))
        scores = np.zeros(all_docs.size, np.float64)
        nmatch = np.zeros(all_docs.size, np.int64)
        for t in present:
            d, tf, dlen = postings[t]
            idx = np.searchsorted(all_docs, d)
            from .bm25 import _adl

            scores[idx] += idf[t] * bm25_tf_weight(tf, dlen, _adl(avgdl, t))
            nmatch[idx] += 1
        ok, m = _value_lookup(right, "value", all_docs)
        need = np.maximum(dv_float(m), 1.0)
        keep = ok.copy()
        keep[ok] &= nmatch[ok] >= need
        docs, scores = all_docs[keep], scores[keep]
        if dead is not None and dead.size and docs.size:
            alive = ~np.isin(docs, dead, assume_unique=True)
            docs, scores = docs[alive], scores[alive]
        docs, scores = _topk(docs, scores, int(k))
        return pd.DataFrame({"doc_id": docs, "score": scores})

    partials = (
        rows.groupBy("segment")
        .cogroup(vals.groupBy("segment"))
        .applyInPandas(score_segment, RESULT_SCHEMA)
    )
    return partials.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        int(k)
    )
