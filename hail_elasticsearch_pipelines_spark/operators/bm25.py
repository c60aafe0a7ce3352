"""BM25 top-k query engine over the segmented inverted index.

The reference delegates this entirely to Elasticsearch (the index it
exports serves the queries; settings at hail_scripts/shared/
elasticsearch_client_v7.py:84-99).  Here it is native:

  * term lookup prunes to the term's bucket (parquet partition column
    `term_bucket` → partition pruning; at 10^12 docs a query touches
    1/n_buckets of the index files, and parquet min/max stats on the
    sorted `term` column prune row groups further)
  * per-segment scoring in long-lived Python workers (segments have
    disjoint doc-id ranges → a doc's full score is computed in exactly
    one task; the segment axis is also the query-time parallelism):
    the driver plans the query, one plan-only job sends it to
    workers that each keep a cached LocalSearcher (IndexSearcher._tasks)
  * the coordinating reduce: global top-k = orderBy(score desc, doc_id
    asc).limit(k) over at most n_tasks × k candidate rows (tiny); every
    other query merges its tasks' partials with a reducer below

Determinism contract (rank-identity, north rule): a doc's score is the
sum of per-term contributions accumulated in ASCENDING TERM order,
float64 throughout; ties break by doc_id asc.  The exhaustive scorer,
the block-max scorer, and the pure-Python oracle all follow the same
accumulation order, so scores are bit-identical.
"""

from __future__ import annotations

import dataclasses
import heapq
import os
import re
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codecs
from .index_build import BM25_B, BM25_K1, bm25_idf, bm25_tf_weight, term_bucket

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

MULTI_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

FACET_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), False),
    ]
)

STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_hits", T.LongType(), False),
        T.StructField("min_dl", T.LongType(), True),
        T.StructField("max_dl", T.LongType(), True),
        T.StructField("sum_dl", T.LongType(), False),
        T.StructField("avg_dl", T.DoubleType(), True),
    ]
)

HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("doc_count", T.LongType(), False),
    ]
)

COUNT_SCHEMA = T.StructType([T.StructField("n_hits", T.LongType(), False)])

FILTERS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), False),
    ]
)

ADJACENCY_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), False),
    ]
)


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a DataFrame over a local
    relation, through Arrow: collecting it runs no Spark job, where a
    createDataFrame of the Python list is an RDD whose collect is a
    job of its own (0 jobs and 67 ms vs 1 job and 580 ms for 100 rows,
    4 cores, loaded host)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(tbl, schema)


def _match_docs(
    qdocs: dict[str, np.ndarray],
    qterms: list[str],
    mode_u: str,
    ast=None,
) -> np.ndarray:
    """One segment's matching doc ids for a term-list (OR/AND) or a
    boolean AST — the shared match-set kernel behind the non-scoring
    APIs (_count, terms/stats/histogram aggregations)."""
    from ..functions import boolquery as bq

    empty = np.array([], np.int64)
    if ast is not None:
        cand = bq.eval_docs(ast, qdocs)
        return empty if isinstance(cand, tuple) else cand
    if mode_u == "AND":
        if any(t not in qdocs for t in qterms):
            return empty
        return reduce(
            lambda a, b: np.intersect1d(a, b, assume_unique=True),
            (qdocs[t] for t in qterms),
        )
    present = [qdocs[t] for t in qterms if t in qdocs]
    return reduce(np.union1d, present) if present else empty


def _msm_scores(
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: "float | dict[str, float]",
    min_should_match: int,
) -> tuple[np.ndarray, np.ndarray]:
    """ES ``minimum_should_match`` kernel for one segment: keep docs
    containing at least ``m`` of the query terms, score the keepers by
    the standard disjunctive sum.  Per-doc match counts come from the
    same membership passes as the scores (one extra int array)."""
    present = [t for t in terms_sorted if t in postings]
    if len(present) < min_should_match:
        return np.array([], np.int64), np.array([], np.float64)
    all_docs = reduce(np.union1d, (postings[t][0] for t in present))
    scores = np.zeros(len(all_docs), dtype=np.float64)
    nmatch = np.zeros(len(all_docs), dtype=np.int64)
    for t in present:
        d, tf, dl = postings[t]
        idx = np.searchsorted(all_docs, d)
        scores[idx] += idf[t] * bm25_tf_weight(tf, dl, _adl(avgdl, t))
        nmatch[idx] += 1
    keep = nmatch >= min_should_match
    return all_docs[keep], scores[keep]


def _fielded_and_scores(
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    variants: dict[str, list[str]],
    expanded_sorted: list[str],
    idf: dict[str, float],
    avgdl: "float | dict[str, float]",
) -> tuple[np.ndarray, np.ndarray]:
    """ES ``multi_match operator: and`` kernel for one segment: a doc
    matches iff EVERY query token appears in at least one of its field
    variants (per-token cross-field union, conjunction across tokens);
    matching docs score as the weighted most_fields sum over ALL
    present (field, token) contributions — ascending expanded-term
    accumulation, the standard determinism contract."""
    empty = np.array([], np.int64), np.array([], np.float64)
    cand = None
    for _tok, vs in sorted(variants.items()):
        group = [postings[v][0] for v in vs if v in postings]
        if not group:
            return empty
        docs = reduce(np.union1d, group)
        cand = docs if cand is None else np.intersect1d(
            cand, docs, assume_unique=True
        )
        if cand.size == 0:
            return empty
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in expanded_sorted:
        if t not in postings:
            continue
        d, tf, dl = postings[t]
        m = _members(d, cand)
        if m.any():
            idx = np.searchsorted(d, cand[m])
            scores[m] += idf[t] * bm25_tf_weight(
                tf[idx], dl[idx], _adl(avgdl, t)
            )
    return cand, scores


def _fielded_best_scores(
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    field_of: dict[str, str],
    expanded_sorted: list[str],
    idf: dict[str, float],
    avgdl: "float | dict[str, float]",
    tie_breaker: float,
) -> tuple[np.ndarray, np.ndarray]:
    """ES ``dis_max`` / ``multi_match best_fields`` kernel for one
    segment: candidate docs are the cross-field union (should
    semantics); each FIELD accumulates its own BM25 sum over its
    present tokens (ascending expanded-term order, the determinism
    contract), and the doc scores max(field sums) + tie_breaker ×
    (sum of the other field sums).  BM25 idf is strictly positive, so
    a field with no match contributes 0 and never wins the max."""
    empty = np.array([], np.int64), np.array([], np.float64)
    present = [t for t in expanded_sorted if t in postings]
    if not present:
        return empty
    all_docs = reduce(np.union1d, (postings[t][0] for t in present))
    fsum: dict[str, np.ndarray] = {}
    for t in present:
        d, tf, dl = postings[t]
        arr = fsum.setdefault(
            field_of[t], np.zeros(all_docs.size, dtype=np.float64)
        )
        idx = np.searchsorted(all_docs, d)
        arr[idx] += idf[t] * bm25_tf_weight(tf, dl, _adl(avgdl, t))
    stack = np.stack([fsum[f] for f in sorted(fsum)])
    mx = stack.max(axis=0)
    tot = stack.sum(axis=0)
    return all_docs, mx + float(tie_breaker) * (tot - mx)


def fielded_term_field(term: str) -> str:
    """Field of an expanded fielded term: 'title:foo' → 'title', bare →
    body ('text')."""
    return term.split(":", 1)[0] if ":" in term else "text"


def _match_dls(
    decoded: list[tuple[np.ndarray, np.ndarray]], matches: np.ndarray
) -> np.ndarray:
    """doc lengths of the matching docs, from the already-decoded
    (docs, dls) posting streams (dl rides every posting — no doclens
    read needed)."""
    all_d = np.concatenate([d for d, _ in decoded])
    all_dl = np.concatenate([dl for _, dl in decoded])
    u, first = np.unique(all_d, return_index=True)
    return all_dl[first][np.searchsorted(u, matches)]


def _adl(avgdl: "float | dict[str, float]", t: str) -> float:
    """Per-term average document length.  A plain float serves the
    single-field index; a dict maps each term to its FIELD's avgdl
    (BM25F-lite: field-prefixed terms like ``title:foo`` carry the
    title field's average length so every field gets its own length
    norm — the ES multi-field ``most_fields`` scoring analog)."""
    return avgdl[t] if isinstance(avgdl, dict) else avgdl


def _score_union_exhaustive(
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: "float | dict[str, float]",
) -> tuple[np.ndarray, np.ndarray]:
    """Union scoring: accumulate idf*w per term in sorted-term order."""
    present = [t for t in terms_sorted if t in postings]
    if not present:
        return np.array([], np.int64), np.array([], np.float64)
    all_docs = reduce(np.union1d, (postings[t][0] for t in present))
    scores = np.zeros(len(all_docs), dtype=np.float64)
    for t in present:
        d, tf, dl = postings[t]
        idx = np.searchsorted(all_docs, d)
        scores[idx] += idf[t] * bm25_tf_weight(tf, dl, _adl(avgdl, t))
    return all_docs, scores


def _score_intersection(
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive (AND) scoring: every term must match."""
    if any(t not in postings for t in terms_sorted):
        return np.array([], np.int64), np.array([], np.float64)
    common = reduce(
        lambda a, b: np.intersect1d(a, b, assume_unique=True),
        (postings[t][0] for t in terms_sorted),
    )
    if common.size == 0:
        return common, np.array([], np.float64)
    scores = np.zeros(len(common), dtype=np.float64)
    for t in terms_sorted:
        d, tf, dl = postings[t]
        idx = np.searchsorted(d, common)
        scores += idf[t] * bm25_tf_weight(tf[idx], dl[idx], _adl(avgdl, t))
    return common, scores


_EPOCH_FILE_RE = None  # compiled lazily (re import kept out of task hot path)


def _file_epoch(fn: str) -> int:
    """Publish epoch encoded in a sidecar file name (``e<N>-...``).
    Lets a searcher pinned at epoch E ignore tombstones published AFTER
    its snapshot — an upsert landing mid-query must not make the old
    doc vanish before its replacement becomes visible at reload (MVCC
    on the delete axis)."""
    global _EPOCH_FILE_RE
    if _EPOCH_FILE_RE is None:
        import re

        _EPOCH_FILE_RE = re.compile(r"^e(\d+)-")
    m = _EPOCH_FILE_RE.match(fn)
    return int(m.group(1)) if m else 0


def load_deletes(
    index_dir: str, epoch: int | None = None, manifest: dict | None = None
) -> dict[int, np.ndarray]:
    """ALL segments' tombstoned doc ids, sorted — the Lucene live-docs
    bitmap analog (the reference gets this from ES delete/update ops,
    hail_scripts/v02/utils/elasticsearch_client.py:106-113).

    Full materialization is for single-process consumers only: the
    LocalSearcher (which holds the whole index hot by design).
    Distributed scoring (and compaction strip) tasks instead call
    read_segment_deletes for THEIR segment's sidecar — a driver-global
    dict would ride into every task closure and turn heavy upsert churn
    into a multi-GB broadcast.

    Tombstones live in per-segment hive sidecars (``deletes/segment=K/``).

    ``epoch``: when given, only sidecar files published at or before
    that epoch are read (snapshot semantics for a searcher pinned at
    its manifest's deletes_epoch); None reads everything (latest).

    ``manifest``: the caller's ALREADY-LOADED manifest, so the deletes
    dir resolves through the same generation pointer as every other
    table in the caller's snapshot.  Without it a maintenance publish
    landing between the caller's manifest read and this one resolves
    deletes to a NEWER generation than the pinned postings — e.g. a
    concurrent compaction flips deletes to an empty dir and a pinned
    searcher would serve tombstoned docs until reload (ADVICE r4)."""
    from ..layout import table_path

    path = table_path(index_dir, "deletes", manifest)
    if not os.path.isdir(path):
        return {}
    out: dict[int, np.ndarray] = {}
    for e in sorted(os.listdir(path)):
        if not (e.startswith("segment=") and os.path.isdir(os.path.join(path, e))):
            continue
        seg = int(e.split("=", 1)[1])
        seg_dir = os.path.join(path, e)
        files = sorted(
            os.path.join(seg_dir, fn)
            for fn in os.listdir(seg_dir)
            if fn.endswith(".parquet")
            and (epoch is None or _file_epoch(fn) <= epoch)
        )
        if not files:
            continue
        tbl = ds.dataset(files, format="parquet").to_table(columns=["doc_id"])
        if tbl.num_rows:
            out[seg] = np.unique(tbl.column("doc_id").to_numpy(zero_copy_only=False))
    return out


# Executor-process cache of per-segment tombstone sidecars, keyed by
# (index_dir, deletes_epoch, segment).  The epoch rides in the manifest
# and is bumped by every tombstone publish / compaction, so reused
# executor processes never serve stale live-docs after maintenance.
_SEG_DELETES_CACHE: dict[tuple[str, int, int], np.ndarray | None] = {}
_SEG_DELETES_CACHE_MAX = 4096


def read_segment_deletes(
    deletes_dir: str, segment: int, epoch: int | None = 0
) -> np.ndarray | None:
    """Sorted tombstoned doc ids of ONE segment, read from that
    segment's sidecar (``<deletes_dir>/segment=K/``) inside the scoring
    task that owns the segment — no driver materialization, no closure
    shipping; each task reads only its own (small) sidecar.

    ``deletes_dir`` is the MANIFEST-RESOLVED deletes directory (the
    driver resolves the generation pointer once and ships the string),
    and only sidecar files published at or before ``epoch`` are read —
    together these pin the task to its searcher's snapshot even while
    an upsert publishes new tombstones or a compaction retires the
    directory.  ``epoch=None`` reads EVERY sidecar file regardless of
    publish epoch — compaction uses this so its strip, doclens
    anti-join, and n_stripped count all see one tombstone set even if a
    crashed upsert left files ahead of the manifest epoch (ADVICE r4)."""
    segment = int(segment)
    key = (deletes_dir, None if epoch is None else int(epoch), segment)
    if key in _SEG_DELETES_CACHE:
        return _SEG_DELETES_CACHE[key]
    seg_dir = os.path.join(deletes_dir, f"segment={segment}")
    out: np.ndarray | None = None
    if os.path.isdir(seg_dir):
        files = sorted(
            os.path.join(seg_dir, fn)
            for fn in os.listdir(seg_dir)
            if fn.endswith(".parquet")
            and (epoch is None or _file_epoch(fn) <= epoch)
        )
        if files:
            tbl = ds.dataset(files, format="parquet").to_table(
                columns=["doc_id"]
            )
            if tbl.num_rows:
                out = np.unique(tbl.column("doc_id").to_numpy(zero_copy_only=False))
    if len(_SEG_DELETES_CACHE) >= _SEG_DELETES_CACHE_MAX:
        _SEG_DELETES_CACHE.clear()
    _SEG_DELETES_CACHE[key] = out
    return out


DEFAULT_MAX_EXPANSIONS = 128  # prefix / regexp expansion cap
DEFAULT_FUZZY_EXPANSIONS = 50  # the ES fuzzy-query default


class ExpansionError(ValueError):
    """A multi-term expansion (prefix, wildcard, fuzzy) produced more
    terms than ``max_expansions`` — the ES ``too_many_clauses`` analog.
    Raise instead of silently truncating: a truncated expansion would
    return a plausible but wrong ranking."""


class PrefixExpansionError(ExpansionError):
    """Prefix/wildcard expansion over the cap."""


class FuzzyExpansionError(ExpansionError):
    """Fuzzy (edit-distance) expansion over the cap."""


class RegexpExpansionError(ExpansionError):
    """Regexp expansion over the cap."""


def py_levenshtein(a: str, b: str) -> int:
    """Classic unit-cost Levenshtein — the exact algorithm of DuckDB's
    ``levenshtein`` (no transposition primitive, unlike ES's default
    Damerau variant), so fuzzy expansion and the SQL oracle agree
    term-for-term."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def py_levenshtein_within(a: str, b: str, k: int) -> bool:
    """True iff ``py_levenshtein(a, b) <= k`` — same answer, without
    the full O(|a|·|b|) python DP on the hot path.  Fuzzy expansion
    runs this against every length-pruned termdict candidate (10^5
    calls per query on a web-scale vocabulary), where the DP's ~25 µs
    per pair dominated the whole suggest/fuzzy path.  k=1 (the ES
    default and by far the common case) reduces to C-level prefix scan
    + slice comparisons; k>=2 falls back to the DP."""
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    if a == b:
        return True
    if k <= 0:
        return False
    if k == 1:
        if la == lb:
            # exactly one substitution: skip the first mismatch, the
            # remainders must be equal
            i = 0
            while a[i] == b[i]:
                i += 1
            return a[i + 1:] == b[i + 1:]
        if la < lb:
            a, b, la, lb = b, a, lb, la
        # one insertion into b: skip a's extra char at first mismatch
        i = 0
        while i < lb and a[i] == b[i]:
            i += 1
        return a[i + 1:] == b[i:]
    return py_levenshtein(a, b) <= k


_PREFIX_RE = re.compile(r"^(?:[a-z0-9]+:)?[a-z0-9]+$")


def prefix_term_range(prefix: str) -> tuple[str, str]:
    """Half-open termdict range [lo, hi) covering exactly the terms
    that start with ``prefix`` — terms are ASCII ``[a-z0-9:]`` so
    bumping the last codepoint is exact.  The range scan rides the
    termdict's sorted ``term`` column (parquet row-group min/max
    pruning), the Lucene terms-enum ``seekCeil`` analog."""
    if not _PREFIX_RE.match(prefix):
        raise ValueError(
            f"bad prefix {prefix!r}: expected lowercase [a-z0-9]+ with an "
            "optional 'field:' prefix"
        )
    return prefix, prefix[:-1] + chr(ord(prefix[-1]) + 1)


# the regexp-query charset that Python re (the expansion) and RE2 (via
# DuckDB regexp_matches in the oracle) interpret identically: literals,
# char classes, grouping, alternation, and the * + ? quantifiers.  No
# escapes, no braces, no anchors, no lookaround — ES regexp is likewise
# its own conservative dialect (and implicitly anchored, as here).
_REGEXP_SAFE = re.compile(r"^[a-z0-9.*+?()\[\]|\-]+$")

_REGEXP_META = ".*+?()[]|"


def check_regexp(pattern: str) -> None:
    """Reject patterns outside the cross-engine-safe dialect."""
    if not pattern or not _REGEXP_SAFE.match(pattern):
        raise ValueError(
            f"bad regexp {pattern!r}: allowed are lowercase [a-z0-9] "
            "literals plus . * + ? ( ) [ ] | - (implicitly anchored, "
            "ES-regexp style)"
        )
    try:
        re.compile(pattern)
    except re.error as e:
        raise ValueError(f"bad regexp {pattern!r}: {e}") from None


def _branch_literal_prefix(branch: str) -> str:
    """Longest literal prefix of one alternation-free pattern branch —
    a quantifier following the prefix drops the char it quantifies."""
    out: list[str] = []
    for ch in branch:
        if ch in _REGEXP_META or ch == "-":
            if ch in "*+?" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def regexp_prefixes(pattern: str) -> list[str]:
    """Literal prefixes of the pattern's TOP-LEVEL alternation branches
    — every match of the (anchored) pattern must start with one of
    them, so the termdict scan prunes to the UNION of their sorted
    ranges (``term40[0-4].|the`` → two range scans instead of a full
    vocabulary scan).  Empty list = some branch has no literal prefix
    (full scan)."""
    branches, depth, cur = [], 0, []
    for ch in pattern:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        if ch == "|" and depth == 0:
            branches.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    branches.append("".join(cur))
    out = []
    for b in branches:
        lit = _branch_literal_prefix(b)
        if not lit:
            return []
        out.append(lit)
    return out


def regexp_literal_prefix(pattern: str) -> str:
    """Single literal prefix every match must start with ("" when the
    top-level alternation splits the range — see regexp_prefixes for
    the union-of-ranges form)."""
    ps = regexp_prefixes(pattern)
    return ps[0] if len(ps) == 1 else ""


def dv_filter_fields_of(manifest: dict) -> frozenset:
    """Stored, non-facet, non-analyzed field names — the doc-value-only
    columns a ``field:value`` query atom resolves against (the ES
    term-query-on-doc-value-field path; facet fields keep their indexed
    token, analyzed fields their scoring postings)."""
    params = manifest.get("params", {})
    analyzed = set(params.get("text_fields") or ())
    return frozenset(
        name
        for name, spec in (params.get("fields") or {}).items()
        if spec.get("stored") and not spec.get("facet") and name not in analyzed
    )


def nested_paths_of(manifest: dict) -> frozenset:
    """Dotted ``field.leaf`` paths of the index's nested
    (array-of-struct) columns — the atoms ``parse(nested_fields=)``
    accepts, resolved against the exploded nested sidecar (the ES
    ``nested`` mapping's queryable leaves)."""
    out = set()
    for name, spec in (manifest.get("params", {}).get("fields") or {}).items():
        for leaf in (spec.get("nested") or {}):
            out.add(f"{name}.{leaf}")
    return frozenset(out)


def analyzed_fields_of(manifest: dict) -> tuple[str, ...]:
    """Extra analyzed text fields of the index (build-time
    ``text_fields`` — the ES multi-field mapping analog,
    hail_scripts/v02/utils/elasticsearch_utils.py:38-77)."""
    return tuple(manifest.get("params", {}).get("text_fields", ()) or ())


def field_avgdl_map(
    manifest: dict, terms: list[str]
) -> "float | dict[str, float]":
    """avgdl for a term list that may mix body terms and field-prefixed
    terms: a plain float (body avgdl) when no fielded term is present,
    else a per-term map where ``field:tok`` terms get
    avgdl_field = field total tokens / n_docs (docs missing the field
    count as length 0 — same convention in the engine, the oracle SQL,
    and the maintenance-op incremental updates)."""
    body = float(manifest["globals"]["avgdl"])
    tf_fields = set(analyzed_fields_of(manifest))
    fielded = [
        t for t in terms if ":" in t and t.split(":", 1)[0] in tf_fields
    ]
    if not fielded:
        return body
    n_docs = int(manifest["globals"]["n_docs"]) or 1
    fstats = manifest["globals"].get("field_stats", {})
    out: dict[str, float] = {}
    for t in terms:
        f = t.split(":", 1)[0] if ":" in t else None
        if f in tf_fields:
            st = fstats.get(f)
            if st is None:
                raise ValueError(
                    f"index has analyzed field {f!r} but its globals "
                    "carry no field_stats — rebuild or repair the index"
                )
            out[t] = (int(st["total_tokens"]) / n_docs) or 1.0
        else:
            out[t] = body
    return out


def expand_fielded_terms(
    terms: list[str],
    fields: dict[str, float],
    text_fields: tuple[str, ...],
) -> tuple[list[str], dict[str, float]]:
    """Expand query tokens across fields → (sorted index terms, weight
    per index term).  ``fields`` maps field name → boost weight;
    ``"text"`` is the body (unprefixed terms), every other field must
    be one of the index's analyzed ``text_fields`` and expands to its
    prefixed terms (``title:foo``)."""
    weight: dict[str, float] = {}
    for f, w in fields.items():
        if f != "text" and f not in text_fields:
            raise ValueError(
                f"field {f!r} is not an analyzed field of this index "
                f"(text_fields={list(text_fields)!r}; body field is 'text')"
            )
        for t in dict.fromkeys(terms):
            it = t if f == "text" else f"{f}:{t}"
            weight[it] = float(w)
    return sorted(weight), weight


def _mask_deleted(
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    dead: np.ndarray | None,
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Drop tombstoned docs from decoded postings (terms left empty are
    removed — AND/OR semantics then fall out naturally)."""
    if dead is None or dead.size == 0:
        return postings
    out = {}
    for t, (d, tf, dl) in postings.items():
        keep = ~np.isin(d, dead, assume_unique=True)
        if keep.all():
            out[t] = (d, tf, dl)
        elif keep.any():
            out[t] = (d[keep], tf[keep], dl[keep] if dl is not None else None)
    return out


def _ragged_gather(
    vals: np.ndarray, offs: np.ndarray, rows: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate vals[offs[r]:offs[r+1]] for each r in rows (one
    vectorized fancy-gather).  Returns (flat values, output offsets of
    len(rows)+1)."""
    lens = offs[rows + 1] - offs[rows]
    out_offs = np.concatenate(([0], np.cumsum(lens)))
    total = int(out_offs[-1])
    if total == 0:
        return np.zeros(0, dtype=vals.dtype), out_offs
    idx = np.repeat(offs[rows], lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(out_offs[:-1], lens)
    )
    return vals[idx], out_offs


def _phrase_match_counts(
    post: dict[str, tuple],
    phrase_t: list[str],
    common: np.ndarray,
    slop: int = 0,
) -> np.ndarray:
    """Windowed-chain count (phrase tf) per candidate doc, fully
    vectorized: ONE ragged gather of candidate position slices and ONE
    sorted-key searchsorted per phrase term — replacing the
    per-candidate-doc Python walk, which at a 10^9-doc segment meant
    millions of interpreter iterations for a stopword-ish phrase.

    ``slop=0`` is the exact-adjacency phrase.  ``slop>0`` is the ES
    ``match_phrase`` slop with in-order matching (the span_near
    in_order=true shape): a start position p₀ of the first term
    matches when positions p₀ < p₁ < … < p_{n−1} exist with
    p_i ≤ p₀ + i + slop — total rightward stretch at most ``slop``.
    Greedy (smallest valid p_i) is optimal for existence: every
    constraint is an upper bound on a strictly increasing chain, so
    taking the earliest candidate never hurts later terms.  Starts
    count independently (two starts may share a continuation).

    ``post[t] = (doc_ids, dls, pos, offs)``; the chain step for term i
    finds the first position > prev via searchsorted on the combined
    key doc_rank*K + position (globally sorted: doc ranks ascend,
    positions ascend within each doc), then admits it iff it is still
    ≤ doc_rank*K + p₀ + i + slop — K is sized so a spill into the next
    doc's keys always fails that bound."""
    C = int(common.size)
    if C == 0:
        return np.zeros(0, dtype=np.int64)
    slop = int(slop)
    if slop < 0:
        raise ValueError("slop must be >= 0")
    uniq_terms = list(dict.fromkeys(phrase_t))
    rows: dict[str, np.ndarray] = {}
    maxpos = 0
    for t in uniq_terms:
        rows[t] = np.searchsorted(post[t][0], common)
        p = post[t][2]
        if p.size:
            maxpos = max(maxpos, int(p.max()))
    K = np.int64(maxpos + len(phrase_t) + slop + 2)

    t0 = phrase_t[0]
    starts, s_offs = _ragged_gather(post[t0][2], post[t0][3], rows[t0])
    doc_idx = np.repeat(np.arange(C, dtype=np.int64), np.diff(s_offs))
    starts = starts.astype(np.int64, copy=False)
    prev = starts
    for i in range(1, len(phrase_t)):
        if starts.size == 0:
            return np.zeros(C, dtype=np.int64)
        t = phrase_t[i]
        cp, c_offs = _ragged_gather(post[t][2], post[t][3], rows[t])
        cp_keys = (
            np.repeat(np.arange(C, dtype=np.int64), np.diff(c_offs)) * K
            + cp.astype(np.int64, copy=False)
        )
        loc = np.searchsorted(cp_keys, doc_idx * K + prev + 1)
        ok = loc < cp_keys.size
        found = cp_keys[loc[ok]]
        ok[ok] = found <= (doc_idx * K + starts + i + slop)[ok]
        starts, doc_idx = starts[ok], doc_idx[ok]
        prev = cp_keys[loc[ok]] - doc_idx * K
    return np.bincount(doc_idx, minlength=C).astype(np.int64)


def _merge_posting_variants(entries: list[tuple]) -> tuple:
    """Merge several terms' positional postings into ONE synthetic
    posting (docs = union, per-doc positions = sorted union across the
    variants, dl carried from any variant — same doc, same field, same
    length).  The multi-term-synonym primitive behind
    ``match_phrase_prefix``: the expanded prefix behaves as a single
    pseudo-term occupying the final phrase slot.  Distinct variants can
    never collide on a position (one token per position), so the union
    needs no dedup."""
    if len(entries) == 1:
        return entries[0]
    doc_rep, pos_all, docs_l, dls_l = [], [], [], []
    for d, dl, pos, offs in entries:
        doc_rep.append(np.repeat(d, np.diff(offs)))
        pos_all.append(pos)
        docs_l.append(d)
        dls_l.append(dl)
    all_doc = np.concatenate(doc_rep)
    all_pos = np.concatenate(pos_all)
    order = np.lexsort((all_pos, all_doc))
    all_doc, all_pos = all_doc[order], all_pos[order]
    docs_u, starts = np.unique(all_doc, return_index=True)
    offs_u = np.concatenate([starts, [all_pos.size]]).astype(np.int64)
    cat_d = np.concatenate(docs_l)
    cat_dl = np.concatenate(dls_l)
    o2 = np.argsort(cat_d, kind="stable")
    dl_u = cat_dl[o2][np.searchsorted(cat_d[o2], docs_u)]
    return docs_u, dl_u, all_pos, offs_u


# reserved pseudo-term key for the merged prefix slot ('\x00' sorts
# before any indexable character, so it can never collide with a term)
_PFX_SLOT = "\x00pfx"


def _check_unique_terms(pdf: pd.DataFrame) -> None:
    """Each (term, segment) must hold exactly ONE postings row — the
    invariant extend_index's segment alignment guarantees.  Raise loudly
    instead of letting dict construction silently drop docs."""
    if pdf["term"].duplicated().any():
        dup = pdf["term"][pdf["term"].duplicated()].iloc[0]
        raise ValueError(
            f"corrupt index: multiple postings rows for term {dup!r} in one "
            "segment (was the index extended with a misaligned id_base?)"
        )


def _check_has_df(terms, idf: dict[str, float]) -> None:
    """Every term with postings rows must carry a global df (the
    query-wide ``idf`` read from the termdict).  A term with postings
    but no termdict row would otherwise score with a made-up idf (or
    its docs would vanish) — raise instead."""
    for t in terms:
        if t not in idf:
            raise ValueError(
                f"corrupt index: postings rows for term {t!r} but no "
                "termdict row (its global df is unknown)"
            )


def _check_scoring_rows(pdf: pd.DataFrame, idf: dict[str, float]) -> None:
    """One segment's scoring rows: unique per term, each with a df."""
    _check_unique_terms(pdf)
    _check_has_df(pdf["term"], idf)


def term_filter(terms: list[str], n_term_buckets: int) -> ds.Expression:
    """pyarrow predicate for ``terms``: the term_bucket partition prune
    plus the exact term match (row-group min/max on the sorted column)."""
    buckets = sorted({term_bucket(t, n_term_buckets) for t in terms})
    return ds.field("term_bucket").isin(buckets) & ds.field("term").isin(terms)


def termdict_dfs(
    termdict: ds.Dataset, terms: list[str], n_term_buckets: int
) -> dict[str, int]:
    """Global df per term, read on the driver from a pinned pyarrow
    termdict dataset (one row per term; absent terms are absent from
    the result).  No Spark job — the Elasticsearch DFS-phase analog
    both searchers share.  Read on the calling thread: the pruned read
    is a row group or two, and a fan-out over the CPU pool only adds
    scheduling wait to every query (2000-page index, 4 cores, four
    rounds of 500 reads: p99 2.0-5.2 ms on the pool, 1.7-2.6 ms here,
    same median)."""
    if not terms:
        return {}
    tbl = termdict.to_table(
        filter=term_filter(terms, n_term_buckets),
        columns=["term", "df"],
        use_threads=False,
    )
    return dict(zip(tbl["term"].to_pylist(), map(int, tbl["df"].to_pylist())))


def snapshot_bounds(manifest: dict) -> "tuple[int, int] | None":
    """(doc id end, segment end) of the snapshot ``manifest`` publishes:
    its doc ids are below the first, its postings segments below the
    second.  extend_index appends the next batch's postings, nested and
    doclens rows in place before it saves the manifest, but at ids from
    the next segment boundary on, so a reader that keeps rows below
    these bounds never sees them, however late it lists the files.
    None for a manifest written before it recorded ``doc_id_end``: its
    readers read every row on disk."""
    g = manifest["globals"]
    end = g.get("doc_id_end")
    if end is None:
        return None
    per_segment = int(g["docs_per_part"]) * int(manifest["params"]["seg_group"])
    return int(end), -(-int(end) // per_segment)


def _pin_bound(searcher, table: str) -> "tuple[str, int] | None":
    """(column, exclusive bound) that pins ``table``'s listed files to
    the searcher's snapshot; None when they can hold no rows past it
    (layout.rows_past_snapshot, asked after the listing), so a
    quiescent index is read, and its scans planned, unfiltered."""
    from ..layout import rows_past_snapshot

    bounds = snapshot_bounds(searcher.manifest)
    if bounds is None or not rows_past_snapshot(searcher.index_dir, searcher.manifest):
        return None
    return ("segment", bounds[1]) if table == "postings" else ("doc_id", bounds[0])


def pinned_dataset(searcher, table: str) -> ds.Dataset:
    """``table``'s rows in ``searcher``'s snapshot as a pyarrow dataset
    ("postings", "doclens" or "nested"; snapshot_bounds)."""
    from ..layout import table_path

    dset = ds.dataset(
        table_path(searcher.index_dir, table, searcher.manifest),
        format="parquet",
        partitioning="hive",
    )
    bound = _pin_bound(searcher, table)
    return dset if bound is None else dset.filter(ds.field(bound[0]) < bound[1])


def pinned_df(searcher, table: str) -> DataFrame:
    """``table``'s rows in ``searcher``'s snapshot as a DataFrame
    (pinned_dataset's Spark twin; the read lists the files)."""
    from ..layout import table_path

    df = searcher.spark.read.parquet(table_path(searcher.index_dir, table, searcher.manifest))
    bound = _pin_bound(searcher, table)
    return df if bound is None else df.filter(F.col(bound[0]) < bound[1])


# ---- reducers: each merges the partials of one partial kernel
# (LocalSearcher.*_partial, over disjoint segment sets) into the API's
# answer; both searchers run the same one ----


def add_counts(partials) -> dict:
    """Key-wise sum of {key: count} partials — count, filters,
    adjacency, histogram and facet partials are additive because
    segments hold disjoint doc ids.  Keys stay even at 0."""
    out: dict = {}
    for p in partials:
        for key, n in p.items():
            out[key] = out.get(key, 0) + n
    return out


def merge_stats(partials) -> dict:
    """ES ``stats`` of doc length from (n, sum, min, max) partials."""
    live = [p for p in partials if p[0]]
    n = sum(p[0] for p in live)
    s = sum(p[1] for p in live)
    return {
        "n_hits": n,
        "min_dl": min((p[2] for p in live), default=None),
        "max_dl": max((p[3] for p in live), default=None),
        "sum_dl": s,
        "avg_dl": s / n if n else None,
    }


# a match whose factor w is below w_k·(1 − 2⁻⁴⁸) scores strictly below
# the k-th match whatever the idf: idf > 0 and rounding is monotone, and
# a relative gap of 2⁻⁴⁸ is far wider than the product's rounding error
_TIE_MARGIN = 1.0 - 2.0**-48


def pseudo_candidates(docs: np.ndarray, w: np.ndarray, k: int) -> tuple:
    """One partial of a pseudo-term query (phrase, phrase_prefix,
    span_first): (n_matches, docs, w) keeping the top k by (w desc, doc
    asc) plus every further match that may tie the k-th score, so the
    reducer's global top-k is exact although df, hence idf, is only
    known after every partial is in."""
    order = np.lexsort((docs, -w))
    if order.size > k > 0:
        order = order[w[order] >= w[order[k - 1]] * _TIE_MARGIN]
    return int(docs.size), docs[order], w[order]


def reduce_pseudo(partials, k: int, n_docs: int) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) of a pseudo-term query from its
    pseudo_candidates partials: df = all matches, score = idf·w."""
    n = sum(p[0] for p in partials)
    if not n:
        return []
    idf = bm25_idf(n_docs, n)
    docs = np.concatenate([p[1] for p in partials])
    w = np.concatenate([p[2] for p in partials])
    d, s = _topk(docs, idf * w, k)
    return list(zip(d.tolist(), s.tolist()))


def reduce_rescore(
    partials, k: int, window: int, n_docs: int, query_weight: float, rescore_weight: float
) -> list[tuple[int, float]]:
    """search_rescore from its (base rows, phrase matches, window docs,
    their w) partials: the base query's global top ``window`` re-ranked
    by query_weight·bm25 + rescore_weight·phrase score (phrase idf from
    every match; docs without the phrase add 0)."""
    base = [r for p in partials for r in p[0]]
    d, s = _topk(
        np.array([r[0] for r in base], np.int64),
        np.array([r[1] for r in base], np.float64),
        window,
    )
    n = sum(p[1] for p in partials)
    ph: dict[int, float] = {}
    if n:
        idf = bm25_idf(n_docs, n)
        for p in partials:
            ph.update(zip(p[2].tolist(), (idf * p[3]).tolist()))
    qw, rw = float(query_weight), float(rescore_weight)
    return sorted(
        ((doc, qw * sc + rw * ph.get(doc, 0.0)) for doc, sc in zip(d.tolist(), s.tolist())),
        key=lambda t: (-t[1], t[0]),
    )[: int(k)]


class TermdictFrontEnd:
    """The query front end both searchers share, read on the driver from
    the snapshot-pinned term dictionary with no Spark job: global df,
    prefix / fuzzy / regexp expansion, facet vocabulary and the one
    query-string parse — the Elasticsearch query rewrite against the
    terms dictionary, ahead of the query phase.

    A subclass sets ``index_dir``, ``manifest``, ``n_docs``,
    ``n_term_buckets`` and
    ``_termdict`` (a pyarrow dataset over the snapshot's termdict: one
    row per term, sorted ``term`` column, so a range filter prunes row
    groups), and defines ``_gather`` for the reduced queries below."""

    def global_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global document frequency per term (absent terms absent) —
        a bucket-pruned termdict read, never posting blobs."""
        return termdict_dfs(self._termdict, terms, self.n_term_buckets)

    def _terms_where(self, flt: "ds.Expression | None") -> list[str]:
        return self._termdict.to_table(filter=flt, columns=["term"])["term"].to_pylist()

    def expand_prefix(
        self, prefix: str, max_expansions: int = DEFAULT_MAX_EXPANSIONS
    ) -> list[str]:
        """Indexed terms starting with ``prefix``, sorted — a termdict
        RANGE scan ([prefix, prefix+1) on the sorted term column, the
        Lucene terms-enum seekCeil analog; the reference gets this from
        ES regex/wildcard field matching, elasticsearch_client.py:166-
        177).  A body prefix never expands into field-prefixed or facet
        terms (facet tokens ``__f_v__`` sort before 'a' and only a '_'
        prefix, which the validator rejects, reaches them); ``title:fo``
        expands within the title field.  More than ``max_expansions``
        matches raises PrefixExpansionError (the ES too_many_clauses
        analog) — silently truncating would return a plausible but
        wrong ranking."""
        lo, hi = prefix_term_range(prefix)
        terms = self._terms_where((ds.field("term") >= lo) & (ds.field("term") < hi))
        if ":" not in prefix:
            terms = [t for t in terms if ":" not in t]
        if len(terms) > max_expansions:
            raise PrefixExpansionError(
                f"prefix {prefix!r} expands to more than {max_expansions} "
                "terms; narrow the prefix or raise max_expansions"
            )
        return sorted(terms)

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_expansions: int = DEFAULT_FUZZY_EXPANSIONS,
    ) -> list[str]:
        """Indexed terms within ``max_edits`` Levenshtein edits of
        ``term``, sorted — the ES ``fuzzy`` query's expansion (Lucene
        walks a Levenshtein automaton over its terms index; the analog
        here is a termdict scan with LENGTH pushdown ±max_edits and,
        with ``prefix_length`` > 0, the same sorted-term range pruning
        as prefixes).  Distance is classic unit-cost Levenshtein
        (py_levenshtein_within), the same as DuckDB's ``levenshtein`` in
        the oracle.  ``term`` may be field-prefixed (``title:foo``) to
        fuzz within an analyzed field.  Over ``max_expansions`` matches
        raises FuzzyExpansionError."""
        import pyarrow.compute as pc

        if not _PREFIX_RE.match(term):
            raise ValueError(
                f"bad fuzzy term {term!r}: expected lowercase [a-z0-9]+ "
                "with an optional 'field:' prefix"
            )
        field, body = term.split(":", 1) if ":" in term else (None, term)
        # length ±max_edits pushed into the scan (plus the field's
        # prefix bytes) — the termdict materializes only plausible
        # candidates, not the whole vocabulary
        base = len(term) - len(body)
        flt = pc.utf8_length(ds.field("term")).cast("int64").isin(
            list(
                range(
                    max(1, base + len(body) - max_edits),
                    base + len(body) + max_edits + 1,
                )
            )
        )
        if prefix_length > 0:
            lo, hi = prefix_term_range(term[:base + prefix_length])
            flt = flt & (ds.field("term") >= lo) & (ds.field("term") < hi)
        out = []
        pre = f"{field}:" if field is not None else None
        for t in self._terms_where(flt):
            if pre is not None:
                if not t.startswith(pre):
                    continue
                tb = t.split(":", 1)[1]
            else:
                if ":" in t or t.startswith("__"):
                    continue
                tb = t
            if py_levenshtein_within(tb, body, max_edits):
                out.append(t)
                if len(out) > max_expansions:
                    raise FuzzyExpansionError(
                        f"fuzzy term {term!r} (edits≤{max_edits}) expands "
                        f"to more than {max_expansions} terms; raise "
                        "max_expansions or prefix_length"
                    )
        return sorted(out)

    def expand_regexp(
        self,
        pattern: str,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
        field: "str | None" = None,
    ) -> list[str]:
        """Indexed terms fully matching ``pattern`` (implicitly
        anchored ``re.fullmatch``, conservative cross-engine dialect —
        see check_regexp), sorted — the ES ``regexp`` query's expansion.
        The reference's ES client matches fields by regex the same way
        (elasticsearch_client.py:166-177).  The termdict scan prunes to
        the union of the pattern's top-level branch prefix ranges when
        every branch has one.  ``field`` scopes the match to an analyzed
        field's terms.  Over ``max_expansions`` matches raises
        RegexpExpansionError."""
        check_regexp(pattern)
        if field is not None and not re.fullmatch(r"[a-z0-9]+", field):
            raise ValueError(f"bad field name {field!r}")
        flt = None
        for lit in regexp_prefixes(pattern):
            pfx = f"{field}:{lit}" if field is not None else lit
            lo, hi = prefix_term_range(pfx)
            r = (ds.field("term") >= lo) & (ds.field("term") < hi)
            flt = r if flt is None else (flt | r)
        if flt is None and field is not None:
            # [field:, field;) — ';' = chr(ord(':')+1) bounds exactly
            # the field-prefixed terms even with no literal prefix
            flt = (ds.field("term") >= field + ":") & (ds.field("term") < field + ";")
        rex = re.compile(pattern)
        terms = []
        for t in self._terms_where(flt):
            if field is not None:
                body = t.split(":", 1)[1]
            elif ":" in t or t.startswith("__"):
                continue
            else:
                body = t
            if rex.fullmatch(body):
                terms.append(t)
                if len(terms) > max_expansions:
                    raise RegexpExpansionError(
                        f"regexp {pattern!r} expands to more than "
                        f"{max_expansions} terms; narrow the pattern or "
                        "raise max_expansions"
                    )
        return sorted(terms)

    def facet_terms(self, fields: list[str]) -> dict[str, list[str]]:
        """field → its indexed facet tokens (``__<field>_<value>__``),
        sorted — one termdict read whose filter is a range of the sorted
        term column per field, never the whole vocabulary.  Pseudo-field
        ``dlen`` covers the power-of-two doc-length bucket tokens."""
        out: dict[str, list[str]] = {f: [] for f in fields}
        if not fields:
            return out
        # '`' = chr(ord('_')+1): [__f_, __f`) holds exactly the tokens
        # starting with '__f_'
        flt = reduce(
            lambda a, b: a | b,
            (
                (ds.field("term") >= f"__{f}_") & (ds.field("term") < f"__{f}`")
                for f in fields
            ),
        )
        for t in sorted(self._terms_where(flt)):
            if t.endswith("__"):
                out[next(f for f in fields if t.startswith(f"__{f}_"))].append(t)
        return out

    def parse_query(self, query, mode: str, expand: bool = True):
        """(ast | None, sorted query terms) for a term list (mode
        "OR"/"AND": no AST) or a boolean query string (mode "BOOL") —
        the one query-string parse of the engine.  A string parses
        against this index's analyzed, doc-value and nested fields, and
        its wildcard/fuzzy atoms expand through the termdict unless
        ``expand`` is False.  APIs that evaluate term postings only
        reject range/phrase/nested atoms with bq.reject_filter_atoms."""
        from ..functions import boolquery as bq

        if mode.upper() != "BOOL":
            return None, sorted(set(query))
        ast = bq.parse(
            query,
            analyzed_fields=set(analyzed_fields_of(self.manifest)),
            dv_fields=dv_filter_fields_of(self.manifest),
            nested_fields=nested_paths_of(self.manifest),
        )
        if expand and bq.has_wildcards(ast):
            ast = bq.expand_wildcards(ast, self.expand_prefix, self.expand_fuzzy)
        return ast, bq.all_terms(ast)

    # ---- reduced queries: parse and check here, run one partial kernel
    # (LocalSearcher.*_partial) over every segment through _gather, merge
    # with its reducer.  LocalSearcher's _gather is its own kernel over
    # part (0, 1); IndexSearcher's is one Spark job of worker tasks, each
    # over its share of the segments, and its methods return these
    # answers as DataFrames. ----

    def _gather(self, method: str, *args) -> list:
        """The partials of kernel ``method`` covering every segment."""
        raise NotImplementedError

    def _require_positions(self, what: str = "a phrase query") -> None:
        if not self.manifest["params"].get("with_positions", True):
            raise ValueError(
                f"{what} needs positional postings, but this index was "
                "built with with_positions=False — rebuild with positions"
            )

    def _check_range_fields(self, ast) -> None:
        """An unknown range field raises DocValueError here, on the
        driver, not inside a task."""
        from ..functions import boolquery as bq
        from .docvalues import check_field

        fields = sorted({rt.field for rt in bq.range_atoms(ast)}) if ast is not None else []
        if fields:
            cols = pinned_dataset(self, "doclens").schema.names
            for f in fields:
                check_field(self, f, cols)

    def _match_spec(self, query, mode: str):
        """(ast, sorted terms, MODE) of ``query`` for the match-set
        kernels, parsed once on the driver; None is match_all."""
        if query is None:
            return None
        ast, qterms = self.parse_query(query, mode)
        self._check_range_fields(ast)
        return ast, qterms, mode.upper()

    def _agg_spec(self, query, mode: str, api: str):
        """_match_spec of a term-postings aggregation: range, phrase and
        nested atoms are rejected (QueryParseError)."""
        from ..functions import boolquery as bq

        spec = self._match_spec(query, mode)
        bq.reject_filter_atoms(spec[0], api)
        return spec

    def search_count(self, query, mode: str = "OR") -> int:
        """ES ``_count``: live docs matching ``query`` (term list with
        "OR"/"AND", boolean string with "BOOL", atoms included)."""
        spec = self._match_spec(query, mode)
        return add_counts(self._gather("_count_partial", {"n": spec}))["n"]

    def search_filters(self, filters: "dict[str, str]") -> list[tuple[str, int]]:
        """ES ``filters`` aggregation — named boolean filters, each with
        its live match count, [(name, doc_count)] in name order, all
        counted in one pass.  A pure-negation filter ('NOT lang:en')
        raises: its match set is unbounded, and 0 would be plausible but
        wrong."""
        from ..functions import boolquery as bq

        specs = {}
        for name, q in sorted(filters.items()):
            specs[name] = self._match_spec(q, "BOOL")
            if bq.is_pure_negation(specs[name][0]):
                raise bq.QueryParseError(
                    f"filter {name!r} is pure negation (unbounded match "
                    "set) — rewrite as '<positive> AND NOT ...'"
                )
        return sorted(add_counts(self._gather("_count_partial", specs)).items())

    def search_adjacency(self, filters: "dict[str, str]") -> list[tuple[str, int]]:
        """ES ``adjacency_matrix``: live match counts for every named
        filter and every non-empty pairwise intersection — [(key,
        doc_count)] sorted, keys ``a`` and ``a&b`` (names sorted, the ES
        key convention; empty pairs omitted).  Filters with
        range/phrase/nested atoms are rejected (adjacency_filters)."""
        compiled = adjacency_filters(self, filters)
        return sorted(add_counts(self._gather("_adjacency_partial", compiled)).items())

    def search_facets(
        self, query: "list[str] | str", fields: list[str], mode: str = "OR"
    ) -> list[tuple[str, str, int]]:
        """ES ``terms`` aggregation: per-facet-value counts of ALL docs
        matching the query, [(field, value, doc_count)] sorted by
        (field, doc_count desc, value).  ``query`` is a term list with
        mode "OR"/"AND", or a boolean query string with mode="BOOL".
        The reference's seqr UI gets faceted search from ES
        aggregations on the exported index
        (hail_scripts/shared/elasticsearch_utils.py:38-77 facet-typed
        mapping); here the facet tokens' postings are the agg input,
        the facet vocabulary a driver-side termdict read."""
        spec = self._agg_spec(query, mode, "search_facets")
        if not spec[1]:
            return []
        field_of = {t: f for f, ts in self.facet_terms(fields).items() for t in ts}
        counts = add_counts(self._gather("_facet_partial", spec, field_of))
        return sorted(
            ((f, v, c) for (f, v), c in counts.items()), key=lambda x: (x[0], -x[2], x[1])
        )

    def search_stats(self, query, mode: str = "OR") -> dict:
        """ES ``stats`` aggregation over the matching docs' length:
        {n_hits, min_dl, max_dl, sum_dl, avg_dl}.  No doclens read — dl
        rides every posting.  The reference gets this from ES
        aggregations on its exported index
        (hail_scripts/shared/elasticsearch_utils.py metadata fields)."""
        return merge_stats(
            self._gather("_stats_partial", self._agg_spec(query, mode, "search_stats"))
        )

    def search_histogram(self, query, interval: int, mode: str = "OR") -> list[tuple[int, int]]:
        """ES ``histogram`` aggregation on doc length: per fixed-width
        bucket (``floor(dl / interval) * interval``) the count of
        matching live docs, [(bucket, doc_count)] sorted by bucket."""
        if interval <= 0:
            raise ValueError("interval must be positive")
        spec = self._agg_spec(query, mode, "search_histogram")
        return sorted(add_counts(self._gather("_histogram_partial", spec, interval)).items())

    def _pseudo_tops(self, specs: list[tuple], ks: list[int]) -> list[list]:
        """Top-k (doc_id, score) of each pseudo-term spec
        (LocalSearcher._pseudo_rows) — one gather for the batch."""
        self._require_positions()
        parts = self._gather("_pseudo_partial", specs, ks)
        return [reduce_pseudo([p[j] for p in parts], k, self.n_docs) for j, k in enumerate(ks)]

    def search_phrase(
        self, phrase: list[str], k: int = 10, slop: int = 0
    ) -> list[tuple[int, float]]:
        """Phrase BM25 top-k: docs containing the terms at consecutive
        positions (``slop=0``), or within an in-order window stretched
        by at most ``slop`` positions (the ES ``match_phrase`` slop /
        span_near in_order=true shape — see _phrase_match_counts),
        scored as one pseudo-term (tf = chain-start count, df =
        matching docs), [(doc_id, score)] by (score desc, doc_id asc)."""
        if int(slop) < 0:
            raise ValueError("slop must be >= 0")
        return self._pseudo_tops([("phrase", list(phrase), int(slop), None)], [int(k)])[0]

    def search_phrase_prefix(
        self,
        phrase: list[str],
        k: int = 10,
        slop: int = 0,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> list[tuple[int, float]]:
        """ES ``match_phrase_prefix`` — autocomplete-as-you-type: the
        LAST token is a prefix; a doc matches when the leading tokens
        form a phrase chain (same slop semantics as search_phrase)
        whose final slot holds ANY indexed expansion of the prefix.
        Expansion is the termdict range scan (expand_prefix, typed cap);
        the expansions merge into one synthetic pseudo-term posting per
        segment (_merge_posting_variants — the Lucene multi-term-synonym
        span), so the chain kernel and the one-pseudo-term scoring run
        unchanged, bit-identically to search_phrase when the prefix
        expands to exactly one term."""
        if not phrase:
            raise ValueError("match_phrase_prefix needs at least one token")
        if int(slop) < 0:
            raise ValueError("slop must be >= 0")
        self._require_positions()
        expansions = self.expand_prefix(str(phrase[-1]), max_expansions)
        if not expansions:
            return []
        spec = ("phrase", list(phrase[:-1]), int(slop), expansions)
        return self._pseudo_tops([spec], [int(k)])[0]

    def search_span_first(self, term: str, end: int, k: int = 10) -> list[tuple[int, float]]:
        """ES ``span_first``: the term must occur within the first
        ``end`` token positions (0-based, so ``end=3`` admits positions
        0-2) — the "title-ish lead matters" query for schemaless
        corpora.  Scored as one pseudo-term whose tf is the count of
        qualifying positions and whose df is the number of matching
        live docs (the search_phrase scoring contract)."""
        if int(end) <= 0:
            raise ValueError("span_first end must be a positive int")
        self._require_positions("span_first")
        return self._pseudo_tops([("span_first", term, int(end))], [int(k)])[0]

    def search_rescore(
        self,
        terms: list[str],
        rescore_phrase: list[str],
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        mode: str = "OR",
        slop: int = 0,
    ) -> list[tuple[int, float]]:
        """ES ``rescore`` API (score_mode: total): run the cheap term
        query, take its top ``window_size`` hits, and re-rank just that
        window with a proximity (phrase) query —

            final = query_weight·bm25 + rescore_weight·phrase_score

        where phrase_score uses the phrase's GLOBAL df (Lucene rescore
        evaluates the rescore query with full index stats, only
        restricted to the window's docs).  Window docs without the
        phrase contribute 0 from the rescore side.  One gather: each
        partial holds its segments' base top window (a superset of their
        share of the global window) and the phrase factors of those docs."""
        if window_size < k:
            raise ValueError("window_size must be >= k")
        self._require_positions()
        q = plan_terms(self, terms, mode, window_size)
        parts = self._gather("_rescore_partial", q, list(rescore_phrase), int(slop))
        return reduce_rescore(
            parts, k, window_size, self.n_docs, query_weight, rescore_weight
        )

    def search_many(self, specs: list[dict]) -> "dict[str, list[tuple[int, float]]]":
        """Batch query execution (the ES ``msearch`` analog): {query_id:
        [(doc_id, score)]}, bit-identical per query to search /
        search_bool / search_phrase.  Specs are dicts with ``query_id``,
        ``k`` and ONE OF:
          * ``terms`` + ``mode`` "OR"/"AND" — BM25 term query
          * ``mode`` "BOOL" + ``query`` — boolean query string
          * ``mode`` "PHRASE" + ``phrase`` — exact-phrase query
        One gather whatever the batch size: each partial holds every
        plan's top-k rows and every phrase's candidates over its
        segments, so a worker decodes each blob at most once."""
        plans, phrases = [], []
        for s in specs:
            if s.get("mode", "OR").upper() == "PHRASE":
                spec = ("phrase", list(s["phrase"]), 0, None)
                phrases.append((s["query_id"], spec, int(s.get("k", 10))))
            else:
                plans.append(plan_spec(self, s))
                self._check_range_fields(plans[-1].ast)
        if not specs:
            return {}
        if phrases:
            self._require_positions()
        parts = self._gather(
            "_many_partial", plans, [p[1] for p in phrases], [p[2] for p in phrases]
        )
        hits: dict = {}
        for p in parts:
            for qid, d, sc in p[0]:
                hits.setdefault(qid, []).append((d, sc))
        out = {
            q.query_id: sorted(hits.get(q.query_id, []), key=lambda r: (-r[1], r[0]))[: q.k]
            for q in plans
        }
        for j, (qid, _spec, k) in enumerate(phrases):
            out[qid] = reduce_pseudo([p[1][j] for p in parts], k, self.n_docs)
        return {s["query_id"]: out[s["query_id"]] for s in specs}


def _topk(docs: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """k best by (score desc, doc_id asc)."""
    if docs.size == 0:
        return docs, scores
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


class _BlockCache:
    """Lazy per-(term, block) decoder over ONE segment's posting rows.

    The skip-read primitive behind conjunctive/boolean/batch pruning
    (the Lucene block-skip analog the reference delegates to ES,
    hail_scripts/shared/elasticsearch_client_v7.py:84-99): a stopword's
    postings are decoded only in the blocks where a rarer term's
    candidates fall, never end-to-end.  Decoded blocks and full lists
    are cached so batch queries sharing a segment share the work."""

    def __init__(self, rows):
        """rows: iterable of objects with .term .df .blob .block_last
        .block_off (and, when available, .block_max_tf .block_min_dl
        for score bounds) — pandas itertuples / pyarrow rows."""
        self.blob: dict[str, bytes] = {}
        self.block_last: dict[str, np.ndarray] = {}
        self.block_off: dict[str, np.ndarray] = {}
        self.block_max_tf: dict[str, np.ndarray] = {}
        self.block_min_dl: dict[str, np.ndarray] = {}
        self.df: dict[str, int] = {}
        for r in rows:
            t = r.term
            if t in self.blob:
                raise ValueError(
                    f"corrupt index: multiple postings rows for term {t!r} "
                    "in one segment"
                )
            self.blob[t] = bytes(r.blob)
            self.block_last[t] = np.asarray(r.block_last, dtype=np.int64)
            self.block_off[t] = np.asarray(r.block_off, dtype=np.int32)
            bmt = getattr(r, "block_max_tf", None)
            if bmt is not None:
                self.block_max_tf[t] = np.asarray(bmt, dtype=np.int64)
                self.block_min_dl[t] = np.asarray(r.block_min_dl, dtype=np.int64)
            self.df[t] = int(r.df)
        self._full: dict[str, tuple] = {}
        self._blocks: dict[tuple[str, int], tuple] = {}

    def __contains__(self, t: str) -> bool:
        return t in self.blob

    def full(self, t: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if t not in self._full:
            self._full[t] = codecs.decode_postings(self.blob[t])
        return self._full[t]

    def _block(self, t: str, i: int) -> tuple:
        key = (t, i)
        if key not in self._blocks:
            self._blocks[key] = codecs.decode_block(
                self.blob[t], int(self.block_off[t][i])
            )[:3]
        return self._blocks[key]

    def gather(self, t: str, cand: np.ndarray) -> tuple:
        """(docs, tfs, dls) of term t restricted to the blocks that can
        contain any candidate id — a SUPERSET of t's postings ∩ cand,
        sorted ascending (callers membership-test against it).  Falls
        back to one full decode when candidates touch most blocks
        (per-block decode overhead would exceed the sequential decode)."""
        if t in self._full:
            return self._full[t]
        bl = self.block_last[t]
        bi = np.unique(np.searchsorted(bl, cand))
        bi = bi[bi < bl.size]
        if bi.size == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z, z
        if bi.size > 0.5 * bl.size:
            return self.full(t)
        parts = [self._block(t, int(i)) for i in bi]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )


def _members(dt: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """Boolean mask: which candidates appear in sorted array dt."""
    if dt.size == 0:
        return np.zeros(cand.size, dtype=bool)
    idx = np.clip(np.searchsorted(dt, cand), 0, dt.size - 1)
    return dt[idx] == cand


def _score_intersection_blockmax(
    cache: _BlockCache,
    terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: float,
    dead: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive scoring with block skipping: seed candidates from the
    rarest term's (live) postings, shrink through the others in
    ascending-df order decoding ONLY the blocks the surviving
    candidates touch.  Bit-identical to _score_intersection (same
    candidate set, same ascending-term float64 accumulation) — at a
    10^9-doc segment a `rare AND stopword` query decodes ~|rare|/128
    of the stopword's blocks instead of its full list."""
    empty = np.array([], np.int64), np.array([], np.float64)
    if any(t not in cache for t in terms_sorted):
        return empty
    order = sorted(terms_sorted, key=lambda t: cache.df[t])
    d0, _, _ = cache.full(order[0])
    cand = d0
    if dead is not None and dead.size:
        cand = cand[~np.isin(cand, dead, assume_unique=True)]
    gathered: dict[str, tuple] = {}
    for t in order[1:]:
        if cand.size == 0:
            return empty
        g = cache.gather(t, cand)
        gathered[t] = g
        cand = cand[_members(g[0], cand)]
    if cand.size == 0:
        return empty
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in terms_sorted:  # accumulation order contract: ascending term
        dt, tft, dlt = gathered.get(t) or cache.full(t)
        idx = np.searchsorted(dt, cand)
        scores += idf[t] * bm25_tf_weight(tft[idx], dlt[idx], _adl(avgdl, t))
    return cand, scores


def _score_union_maxscore(
    cache: _BlockCache,
    terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    dead: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """MaxScore (Turtle & Flood) disjunctive top-k over the block
    cache: terms are split into ESSENTIAL (decoded fully, candidates
    come only from their postings) and NON-ESSENTIAL (decoded only in
    the blocks the candidates touch) by comparing the non-essential
    score-bound sum against the k-th best partial score.  A doc with no
    essential term scores ≤ the non-essential bound sum < that floor,
    so it can never enter the top k.

    Unlike the window-WAND variant, this stays effective when a rare
    term fits ONE block (whose block-max then poisons every window):
    `rare OR stopword` decodes the rare list plus ~df_rare stopword
    blocks instead of the stopword's millions.  Results are bit-
    identical to the exhaustive scorer (same ascending-term float64
    accumulation; exclusion is strict-inequality so exact ties are
    untouched)."""
    empty = np.array([], np.int64), np.array([], np.float64)
    present = [t for t in terms_sorted if t in cache]
    if not present:
        return empty
    ub = {
        t: float(
            (
                idf[t]
                * bm25_tf_weight(
                    cache.block_max_tf[t], cache.block_min_dl[t], _adl(avgdl, t)
                )
            ).max()
        )
        for t in present
    }
    order = sorted(present, key=lambda t: (-ub[t], t))

    def _partial(ess: list[str], cand: np.ndarray) -> np.ndarray:
        scores = np.zeros(cand.size, dtype=np.float64)
        for u in sorted(ess):
            du, tfu, dlu = cache.full(u)
            m = _members(du, cand)
            if m.any():
                idx = np.searchsorted(du, cand[m])
                scores[m] += idf[u] * bm25_tf_weight(
                    tfu[idx], dlu[idx], _adl(avgdl, u)
                )
        return scores

    cand = np.array([], np.int64)
    cut = len(order)
    for i, t in enumerate(order):
        cand = np.union1d(cand, cache.full(t)[0])
        rest = order[i + 1 :]
        if not rest:
            cut = len(order)
            break
        live = cand
        if dead is not None and dead.size:
            live = cand[~np.isin(cand, dead, assume_unique=True)]
        if live.size >= k:
            part = _partial(order[: i + 1], live)
            theta_lb = np.partition(part, live.size - k)[live.size - k]
            if sum(ub[u] for u in rest) < theta_lb:
                cut = i + 1
                break
    ess, weak = order[:cut], order[cut:]
    if dead is not None and dead.size:
        cand = cand[~np.isin(cand, dead, assume_unique=True)]
    if cand.size == 0:
        return empty
    gathered = {t: cache.gather(t, cand) for t in weak}
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in terms_sorted:  # accumulation order contract: ascending term
        if t not in cache:
            continue
        dt, tft, dlt = gathered[t] if t in gathered else cache.full(t)
        m = _members(dt, cand)
        if m.any():
            idx = np.searchsorted(dt, cand[m])
            scores[m] += idf[t] * bm25_tf_weight(
                tft[idx], dlt[idx], _adl(avgdl, t)
            )
    return _topk(cand, scores, k)


def _eval_bool_blockmax(
    cache: _BlockCache,
    ast,
    req_sorted: list[str],
    pos_terms: list[str],
    idf: dict[str, float],
    avgdl: float,
    dead: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Boolean-query evaluation with block skipping (caller guarantees
    req_sorted is non-empty): candidates seed from the rarest REQUIRED
    conjunct and every other query term — OR branches and NOT terms
    included — is decoded only in the blocks those candidates touch.
    Sound because every match must lie in the required-term
    intersection, and each restricted set is a superset of that term's
    postings within the candidate range; results are identical to
    evaluating the AST over full decodes."""
    from ..functions import boolquery as bq

    empty = np.array([], np.int64), np.array([], np.float64)
    if any(t not in cache for t in req_sorted):
        return empty  # a required conjunct is absent → no match here
    order = sorted(req_sorted, key=lambda t: cache.df[t])
    seed = order[0]
    seed_docs = cache.full(seed)[0]
    if dead is not None and dead.size:
        seed_docs = seed_docs[~np.isin(seed_docs, dead, assume_unique=True)]
    cand = seed_docs
    restricted: dict[str, tuple] = {seed: cache.full(seed)}
    for t in order[1:]:
        if cand.size == 0:
            return empty
        g = cache.gather(t, cand)
        restricted[t] = g
        cand = cand[_members(g[0], cand)]
    if cand.size == 0:
        return empty
    for t in cache.blob:
        if t not in restricted:
            restricted[t] = cache.gather(t, cand)
    doc_sets = {t: g[0] for t, g in restricted.items()}
    doc_sets[seed] = seed_docs  # dead already removed from the seed
    final = bq.eval_docs(ast, doc_sets)
    if isinstance(final, tuple) or final.size == 0:
        return empty
    scores = bq.score_candidates(final, restricted, pos_terms, idf, avgdl)
    return final, scores


def _score_union_blockmax(
    cache: _BlockCache,
    terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: "float | dict[str, float]",
    k: int,
    dead: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max WAND, best-first over windows (vectorized bounds).

    Blocks decode through ``cache`` (``_block``) and the adaptive
    exhaustive fallback through ``cache.full`` — a serving process seeds
    both from its persistent caches, so repeated queries stop
    re-decoding hot blocks.  Block upper bounds are derived at query
    time from (max_tf, min_dl) and each term's CURRENT avgdl (``_adl``,
    so field-prefixed terms get their field's length norm): they stay
    valid after incremental appends shift avgdl, unlike a score baked
    at build time.

    Windows = merged block boundaries across query terms.  Per-window
    upper bounds (sum of covering blocks' bounds) are computed for ALL
    windows in a few whole-array searchsorted/sum passes — the previous
    per-window Python walk would hit ~10^7 iterations per stopword at
    10^9-doc segments.  Windows are then processed in DESCENDING
    upper-bound order; once the top-k floor theta reaches the next
    window's bound the loop stops — every unprocessed window satisfies
    score <= ub < theta or (== theta, which IS still processed so that
    smaller doc ids win exact ties).  Decoded windows score with the
    standard sorted-term accumulation, so scores stay bit-identical to
    the exhaustive path.
    """
    present = [t for t in terms_sorted if t in cache]
    if not present:
        return np.array([], np.int64), np.array([], np.float64)
    # window boundaries = union of block last-doc ids
    bounds = reduce(np.union1d, (cache.block_last[t] for t in present))
    W = len(bounds)
    los = np.empty(W, dtype=np.int64)
    los[0] = 0
    los[1:] = bounds[:-1] + 1
    # per-term covering block of each window + activity mask; summed
    # upper bound per window — all vectorized
    ub_w = np.zeros(W, dtype=np.float64)
    cover: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t in present:
        bl = cache.block_last[t]
        b_ub = idf[t] * bm25_tf_weight(
            cache.block_max_tf[t], cache.block_min_dl[t], _adl(avgdl, t)
        )
        idx = np.searchsorted(bl, bounds, side="left")
        valid = idx < len(bl)
        idx_c = np.minimum(idx, len(bl) - 1)
        prev_last = np.where(idx_c > 0, bl[np.maximum(idx_c - 1, 0)], -1)
        active = valid & (prev_last < bounds)
        ub_w += np.where(active, b_ub[idx_c], 0.0)
        cover[t] = (idx_c, active)

    order = np.argsort(-ub_w, kind="stable")
    ub_desc = ub_w[order]
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of size k
    theta = -np.inf
    for pos, w in enumerate(order.tolist()):
        if len(heap) == k and ub_w[w] < theta:
            break  # all remaining windows have ub <= this one < theta
        if pos and pos % 16 == 0 and len(heap) == k:
            # adaptive bail-out: when upper bounds are flat (stopword
            # queries), WAND cannot prune and the per-window walk costs
            # more than one vectorized full decode — if most remaining
            # windows still beat theta, finish exhaustively instead
            survivors = int(np.searchsorted(-ub_desc, -theta, side="right")) - pos
            if survivors > 0.5 * (W - pos):
                full = _mask_deleted({t: cache.full(t) for t in present}, dead)
                docs_a, scores_a = _score_union_exhaustive(
                    full, terms_sorted, idf, avgdl
                )
                return _topk(docs_a, scores_a, k)
        lo_doc, w_hi = int(los[w]), int(bounds[w])
        win_post: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for t in present:
            idx_c, active = cover[t]
            if not active[w]:
                continue
            d, tf, dl = cache._block(t, int(idx_c[w]))
            m = (d >= lo_doc) & (d <= w_hi)
            if dead is not None and dead.size:
                # block upper bounds stay valid (they bound a
                # superset); only the decoded docs need masking
                m &= ~np.isin(d, dead, assume_unique=True)
            if m.any():
                win_post[t] = (d[m], tf[m], dl[m])
        if not win_post:
            continue
        docs_w, scores_w = _score_union_exhaustive(win_post, terms_sorted, idf, avgdl)
        for doc, sc in zip(docs_w.tolist(), scores_w.tolist()):
            if len(heap) < k:
                heapq.heappush(heap, (sc, -doc))
                if len(heap) == k:
                    theta = heap[0][0]
            elif sc > theta or (sc == theta and -doc > heap[0][1]):
                heapq.heapreplace(heap, (sc, -doc))
                theta = heap[0][0]
    if not heap:
        return np.array([], np.int64), np.array([], np.float64)
    items = sorted(heap, key=lambda x: (-x[0], -x[1]))
    return (
        np.array([-d for _, d in items], dtype=np.int64),
        np.array([s for s, _ in items], dtype=np.float64),
    )


@dataclasses.dataclass
class QueryPlan:
    """One query, planned once on the driver: everything score_segment
    needs in a segment and everything an executor needs to schedule
    segments.  Built by plan_terms / plan_fielded / plan_bool, which
    both searchers share.

    ``mode`` is "OR" or "AND" for term queries (a fielded AND also
    carries ``variants``: token → its per-field index terms), "BEST" for
    the dis_max variant, "BOOL" for a boolean query (``ast``, its
    required conjuncts ``req``, its scoring ``pos_terms`` and its
    range/phrase/nested ``atoms``).  ``after`` is a search_after cursor
    (score, doc_id); ``query_id`` tags batch rows."""

    terms: list[str]  # sorted index terms whose posting rows are read
    mode: str
    k: int
    idf: dict[str, float]  # boosts and field weights folded in
    avgdl: "float | dict[str, float]"
    algo: str = "auto"
    msm: int = 1
    after: "tuple[float, int] | None" = None
    variants: "dict[str, list[str]] | None" = None
    tie_breaker: float = 0.0
    ast: object = None
    req: list[str] = dataclasses.field(default_factory=list)
    pos_terms: list[str] = dataclasses.field(default_factory=list)
    atoms: list = dataclasses.field(default_factory=list)
    query_id: "str | None" = None

    @property
    def required(self) -> list[str]:
        """Terms every match contains: a segment missing one of them
        cannot match."""
        if self.mode == "BOOL":
            return self.req
        return self.terms if self.mode == "AND" and self.variants is None else []

    @property
    def prunable(self) -> bool:
        """True when a segment whose score bound is strictly below the
        running k-th score may be skipped: the top-k term kernels and
        the required-seeded bool kernel.  Not msm, bmw, exhaustive,
        cursor pages, fielded AND/BEST or bool queries with atoms."""
        if self.mode == "BOOL":
            return bool(self.req) and not self.atoms
        return (
            self.mode in ("OR", "AND")
            and self.variants is None
            and self.msm == 1
            and self.after is None
            and (
                self.algo in ("auto", "maxscore")
                or (self.mode == "AND" and self.algo != "exhaustive")
            )
        )


def query_idf(searcher, terms: list[str]) -> dict[str, float]:
    """Query-wide BM25 idf for ``terms`` (absent terms absent), computed
    once on the driver from the searcher's pinned termdict."""
    return {
        t: bm25_idf(searcher.n_docs, d) for t, d in searcher.global_dfs(terms).items()
    }


def plan_terms(
    searcher,
    terms: list[str],
    mode: str = "OR",
    k: int = 10,
    algo: str = "auto",
    min_should_match: int = 1,
    after: "tuple[float, int] | None" = None,
    query_id: "str | None" = None,
) -> QueryPlan:
    """Plan a term query (search, search_page, batch term specs).
    avgdl is per term when field-prefixed terms are mixed in."""
    mode_u = mode.upper()
    msm = int(min_should_match)
    if msm > 1 and mode_u != "OR":
        raise ValueError("min_should_match applies to OR queries only")
    terms_sorted = sorted(set(terms))
    return QueryPlan(
        terms_sorted, mode_u, int(k),
        query_idf(searcher, terms_sorted),
        field_avgdl_map(searcher.manifest, terms_sorted),
        algo=algo, msm=msm, after=after, query_id=query_id,
    )


def plan_fielded(
    searcher,
    terms: list[str],
    fields: "dict[str, float] | None",
    k: int,
    mode: str,
    tie_breaker: float,
) -> QueryPlan:
    """Plan a multi-field query: expand tokens across fields, fold each
    field's weight into its terms' idf (so OR runs the plain MaxScore
    kernel), per-field avgdl.  AND keeps the per-token variants."""
    mode_u = mode.upper()
    text_fields = analyzed_fields_of(searcher.manifest)
    if fields is None:
        fields = {"text": 1.0, **{f: 1.0 for f in text_fields}}
    expanded, weight = expand_fielded_terms(terms, fields, text_fields)
    idf = {t: weight[t] * v for t, v in query_idf(searcher, expanded).items()}
    avgdl = field_avgdl_map(searcher.manifest, expanded)
    if mode_u == "AND":
        variants = {
            t: sorted(t if f == "text" else f"{f}:{t}" for f in fields)
            for t in dict.fromkeys(terms)
        }
        return QueryPlan(expanded, "AND", int(k), idf, avgdl, variants=variants)
    if mode_u == "BEST":
        return QueryPlan(
            expanded, "BEST", int(k), idf, avgdl, tie_breaker=float(tie_breaker)
        )
    return QueryPlan(expanded, "OR", int(k), idf, avgdl)


def plan_bool(
    searcher,
    query: str,
    k: int = 10,
    synonyms: "dict | None" = None,
    query_id: "str | None" = None,
) -> QueryPlan:
    """Plan a boolean query string: parse against the index's fields,
    expand prefix/fuzzy atoms through the searcher's termdict, rewrite
    synonyms, fold ``^boost`` into idf.  A query with no positive term
    raises QueryParseError."""
    from ..functions import boolquery as bq

    ast, terms = searcher.parse_query(query, "BOOL")
    if synonyms:
        # ES synonym_graph at search time — a pure query rewrite, so
        # every kernel sees a plain boolean AST
        ast = bq.expand_synonyms(ast, synonyms)
        terms = bq.all_terms(ast)
    pos_terms = bq.positive_terms(ast)
    if not pos_terms:
        raise bq.QueryParseError("query has no positive terms")
    boosts = bq.term_boosts(ast)
    idf = {t: v * boosts.get(t, 1.0) for t, v in query_idf(searcher, terms).items()}
    return QueryPlan(
        terms, "BOOL", int(k), idf, field_avgdl_map(searcher.manifest, terms),
        ast=ast, req=bq.required_terms(ast), pos_terms=pos_terms,
        atoms=bq.filter_atoms(ast), query_id=query_id,
    )


def plan_spec(searcher, spec: dict) -> QueryPlan:
    """Plan one search_many spec of mode "OR"/"AND" (``terms``) or
    "BOOL" (``query``)."""
    mode = spec.get("mode", "OR").upper()
    k = int(spec.get("k", 10))
    if mode in ("OR", "AND"):
        return plan_terms(searcher, spec["terms"], mode, k, query_id=spec["query_id"])
    if mode == "BOOL":
        return plan_bool(searcher, spec["query"], k, query_id=spec["query_id"])
    raise ValueError(f"unknown search_many mode {mode!r}")


def segment_bounds(
    q: QueryPlan, rows
) -> tuple[dict[int, float], dict[int, tuple[float, int]], list[int]]:
    """Per-segment BM25 score upper bounds for plan ``q`` from posting-row
    metadata alone — ``rows`` yields (segment, term, df, max block_max_tf,
    min block_min_dl).  bound(seg) = Σ_t idf_t · w(max_tf, min_dl) over
    the terms that score (a bool query's NOT/filter terms add 0).
    Mixing one block's max_tf with another's min_dl only loosens the
    bound (w is ↑ in tf, ↓ in dl), so it stays safe.

    Returns (bounds, per segment its strongest term's (bound, df), the
    segments holding every required term)."""
    scoring = set(q.pos_terms) if q.mode == "BOOL" else None
    required = set(q.required)
    bounds: dict[int, float] = {}
    strong: dict[int, tuple[float, int]] = {}
    n_req: dict[int, int] = {}
    for seg, t, df, mx, mn in rows:
        seg = int(seg)
        idf = q.idf.get(t, 0.0) if scoring is None or t in scoring else 0.0
        b = idf * float(
            bm25_tf_weight(
                np.array([mx], np.float64),
                np.array([mn], np.float64),
                _adl(q.avgdl, t),
            )[0]
        )
        bounds[seg] = bounds.get(seg, 0.0) + b
        if b >= strong.get(seg, (-1.0, 0))[0]:
            strong[seg] = (b, int(df))
        if t in required:
            n_req[seg] = n_req.get(seg, 0) + 1
    segs = [s for s in bounds if n_req.get(s, 0) == len(required)]
    return bounds, strong, segs


def _live_postings(
    cache: _BlockCache, terms: list[str], dead: np.ndarray | None
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Full decodes of ``terms`` present in the segment, tombstones
    dropped."""
    return _mask_deleted({t: cache.full(t) for t in terms if t in cache}, dead)


def score_segment(
    q: QueryPlan,
    cache: _BlockCache,
    dead: np.ndarray | None,
    extra_sets: "dict[str, np.ndarray] | None" = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One segment's top-k (docs, scores) for plan ``q`` — the only place
    a scoring kernel is chosen; both searchers run it per segment and
    differ only in how they schedule segments and cache decodes.

    ``cache`` holds the segment's posting rows (a batch shares one cache
    across plans, so it may hold other plans' terms), ``dead`` its
    tombstoned doc ids.  ``extra_sets`` maps a bool query's atom keys
    to the segment's matching doc ids (range/phrase/nested atoms); given
    it, the bool query evaluates over doc sets.  Every kernel keeps the
    ascending-term float64 accumulation, so all choices are
    bit-identical to the exhaustive one."""
    exhaustive = q.algo == "exhaustive" or q.after is not None
    if q.mode == "BOOL" and q.req and extra_sets is None:
        docs, scores = _eval_bool_blockmax(
            cache, q.ast, q.req, q.pos_terms, q.idf, q.avgdl, dead=dead
        )
    elif q.mode == "BOOL":
        from ..functions import boolquery as bq

        postings = _live_postings(cache, q.terms, dead)
        doc_sets = {t: p[0] for t, p in postings.items()}
        for rk, ids in (extra_sets or {}).items():
            if dead is not None and dead.size and ids.size:
                ids = ids[~np.isin(ids, dead, assume_unique=True)]
            doc_sets[rk] = ids
        docs = bq.eval_docs(q.ast, doc_sets)
        if isinstance(docs, tuple) or docs.size == 0:
            return np.array([], np.int64), np.array([], np.float64)
        scores = bq.score_candidates(docs, postings, q.pos_terms, q.idf, q.avgdl)
    elif q.msm > 1:
        # the pruned kernels' candidate sets are not msm-safe (a doc
        # matching only weak terms may be excluded before its match
        # count is known)
        docs, scores = _msm_scores(
            _live_postings(cache, q.terms, dead), q.terms, q.idf, q.avgdl, q.msm
        )
    elif q.variants is not None:
        docs, scores = _fielded_and_scores(
            _live_postings(cache, q.terms, dead), q.variants, q.terms, q.idf, q.avgdl
        )
    elif q.mode == "BEST":
        docs, scores = _fielded_best_scores(
            _live_postings(cache, q.terms, dead),
            {t: fielded_term_field(t) for t in q.terms},
            q.terms, q.idf, q.avgdl, q.tie_breaker,
        )
    elif q.mode == "AND" and not exhaustive:
        docs, scores = _score_intersection_blockmax(
            cache, q.terms, q.idf, q.avgdl, dead=dead
        )
    elif q.algo == "bmw" and not exhaustive:
        # WAND and MaxScore return the segment's top-k already
        return _score_union_blockmax(cache, q.terms, q.idf, q.avgdl, q.k, dead=dead)
    elif q.algo in ("auto", "maxscore") and not exhaustive:
        return _score_union_maxscore(cache, q.terms, q.idf, q.avgdl, q.k, dead=dead)
    else:
        postings = _live_postings(cache, q.terms, dead)
        if q.mode == "AND":
            docs, scores = _score_intersection(postings, q.terms, q.idf, q.avgdl)
        else:
            docs, scores = _score_union_exhaustive(postings, q.terms, q.idf, q.avgdl)
        if q.after is not None and docs.size:
            s_a, d_a = float(q.after[0]), int(q.after[1])
            keep = (scores < s_a) | ((scores == s_a) & (docs > d_a))
            docs, scores = docs[keep], scores[keep]
    return _topk(docs, scores, q.k)


def adjacency_filters(searcher, filters: "dict[str, str]") -> list[tuple]:
    """Parse and check search_adjacency's named filters, before any
    work, for both searchers: [(name, ast, terms)] in name order.  A
    name with '&', a pure negation or a range/phrase/nested atom is
    rejected."""
    from ..functions import boolquery as bq

    compiled = []
    for name, q in sorted(filters.items()):
        if "&" in name:
            raise ValueError(f"filter name {name!r} may not contain '&'")
        ast, terms = searcher.parse_query(q, "BOOL")
        if bq.is_pure_negation(ast):
            raise bq.QueryParseError(
                f"filter {name!r} is pure negation (unbounded match "
                "set) — rewrite as '<positive> AND NOT ...'"
            )
        if bq.filter_atoms(ast):
            raise ValueError(
                f"adjacency filter {name!r} uses doc-value/phrase/nested "
                "atoms — not supported here (use search_filters)"
            )
        compiled.append((name, ast, terms))
    return compiled


def _phrase_suggest_rows(
    searcher,
    text: str,
    size: int,
    max_edits: int,
    max_errors: int,
    per_term: int,
    collate: bool,
    count_fn,
) -> "list[tuple[str, float]]":
    """Shared phrase-suggester front half (both engines pass
    themselves — they expose the same expand_fuzzy/global_dfs/n_docs
    surface): tokenize, per-position fuzzy candidates df-ranked from
    the termdict, beam assembly (functions/suggest.py), optional
    collation dropping corrections with no conjunctive match."""
    from ..functions.suggest import assemble_phrase_suggestions
    from ..functions.tokenize import py_tokenize

    tokens = py_tokenize(text or "")
    if not tokens:
        return []
    cand_terms: dict[str, list[str]] = {}
    for t in dict.fromkeys(tokens):
        cand_terms[t] = sorted(set(searcher.expand_fuzzy(t, max_edits)) | {t})
    all_terms = sorted({c for cs in cand_terms.values() for c in cs})
    dfs = searcher.global_dfs(all_terms)
    per_pos = []
    for t in tokens:
        ranked = sorted(
            ((c, int(dfs.get(c, 0))) for c in cand_terms[t]),
            key=lambda r: (-r[1], r[0]),
        )[: max(1, int(per_term))]
        if all(c != t for c, _df in ranked):
            ranked.append((t, int(dfs.get(t, 0))))
        per_pos.append(ranked)
    out = assemble_phrase_suggestions(
        tokens, per_pos, searcher.n_docs, size=size, max_errors=max_errors
    )
    if collate:
        out = [(s, sc) for s, sc in out if count_fn(s.split(" ")) > 0]
    return out


class IndexSearcher(TermdictFrontEnd):
    """Query-side entry point over a published index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._skipped = None
        self._load_snapshot()

    def _load_snapshot(self) -> None:
        """Pin this searcher to the CURRENT manifest generation: table
        paths are resolved through the manifest's generation pointers
        once, so a maintenance op publishing a new generation (atomic
        manifest flip) never changes what this searcher reads — old
        state until reload_manifest(), complete new state after, never
        a mix."""
        from ..layout import load_manifest, table_path

        self.manifest = load_manifest(self.index_dir)
        self.n_docs = self.manifest["globals"]["n_docs"]
        self.avgdl = self.manifest["globals"]["avgdl"]
        self.n_term_buckets = self.manifest["params"]["n_term_buckets"]
        self._postings = pinned_df(self, "postings")
        # the termdict front end reads on the driver: opened once per
        # snapshot (an open lists the files), pinned like every table
        self._termdict = ds.dataset(
            table_path(self.index_dir, "termdict", self.manifest),
            format="parquet",
            partitioning="hive",
        )
        self._doclens_path = table_path(self.index_dir, "doclens", self.manifest)
        self._nested_path = table_path(self.index_dir, "nested", self.manifest)
        self._refresh_deletes_state()

    def _refresh_deletes_state(self) -> None:
        """Tombstone consultation is per-segment INSIDE scoring tasks
        (read_segment_deletes); the driver only captures the resolved
        deletes dir plus the manifest epoch for snapshot pinning and
        cache keying — two strings/ints in the closure instead of every
        tombstone."""
        from ..layout import table_path

        self._deletes_dir = table_path(self.index_dir, "deletes", self.manifest)
        self._has_deletes = os.path.isdir(self._deletes_dir)
        self._deletes_epoch = int(self.manifest.get("deletes_epoch", 0))

    def _segment_deletes_fn(self):
        """Closure-safe (deletes_dir, has, epoch) → per-task delete
        lookup, pinned to this searcher's snapshot."""
        deletes_dir = self._deletes_dir
        has, epoch = self._has_deletes, self._deletes_epoch
        if not has:
            return lambda seg: None
        return lambda seg: read_segment_deletes(deletes_dir, int(seg), epoch)

    def reload_manifest(self) -> None:
        """Advance to the latest published generation after
        extend_index/upsert_index/update_facet_field/compact_index."""
        self._load_snapshot()

    def _term_rows(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.n_term_buckets) for t in terms})
        return self._postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )

    # columns the term/bool scoring kernels need — pos_blob (the
    # positional stream, comparable in bytes to the postings themselves)
    # is deliberately ABSENT: every selected column crosses the
    # repartition shuffle into the mapInPandas Arrow worker, and only
    # phrase queries read positions.
    SCORING_COLS = (
        "segment", "term", "df", "blob",
        "block_last", "block_max_tf", "block_min_dl", "block_off",
    )

    def _scoring_rows(self, terms_sorted: list[str]) -> DataFrame:
        """Pruned posting rows, scoring columns only.  Global df is not
        joined in: plans carry idf read on the driver (query_idf), so a
        scoring plan is the postings scan → repartition("segment") →
        mapInPandas, and a collect is 2 Spark jobs (the scan's shuffle
        map stage and the scoring/top-k stage)."""
        return self._term_rows(terms_sorted).select(*self.SCORING_COLS)

    def _tasks(self, method: str, args: tuple, emit):
        """The query phase of every distributed API, the Elasticsearch
        per-shard searchers: an RDD of ``n`` plan-only tasks over no
        data (n = cores, at most the segment count).  Task ``i`` runs
        partial kernel ``method`` with ``part=(i, n)`` in a reused Python
        worker (serve.run_partition), whose LocalSearcher, pinned to this
        searcher's manifest (snapshot_bounds), reads the segments with
        seg % n == i from its hot row, decode and block caches.  No
        postings are shuffled or sent through Arrow; a task ships the
        args and the manifest (about 1 KB).  ``emit`` turns a partial
        into the task's rows."""
        from .serve import run_partition

        n, index_dir, manifest = self._n_tasks(), self.index_dir, self.manifest

        def task(it):
            # partition i holds just i; reading the input to its end
            # keeps the worker (and its searcher) for the next task
            for i in it:
                yield from emit(run_partition(index_dir, manifest, method, args, n, i))

        return self.spark.sparkContext.parallelize(range(n), n).mapPartitions(task)

    def _n_tasks(self) -> int:
        """Tasks per distributed query: the cores, at most the segments."""
        n_segs = int(self.manifest.get("metrics", {}).get("n_segments") or 1)
        return max(1, min(self.spark.sparkContext.defaultParallelism, n_segs))

    def _gather(self, method: str, *args) -> list:
        """The tasks' partials of ``method``, collected: one Spark job;
        the caller reduces them (the coordinating node's reduce)."""
        return self._tasks(method, args, lambda p: [p]).collect()

    def _scatter(self, q: QueryPlan) -> DataFrame:
        """Top-k of plan ``q`` by (score desc, doc_id asc) over the
        tasks' top-k rows (LocalSearcher._score_partial, pruning segments
        by bound), lazy: its collect is 1 job, and
        ``last_segments_skipped`` is read after it."""
        self._check_range_fields(q.ast)
        skipped = self._skipped = self.spark.sparkContext.accumulator(0)

        def emit(partial):
            rows, n_skipped = partial
            skipped.add(n_skipped)
            return rows

        rdd = self._tasks("_score_partial", ([q],), emit)
        return (
            self.spark.createDataFrame(rdd, RESULT_SCHEMA)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(q.k)
        )

    @property
    def last_segments_skipped(self) -> int:
        """Segments skipped by bound, summed over the tasks of the most
        recently BUILT scoring DataFrame, through a Spark accumulator
        the tasks add to when it is collected.  Valid after exactly one
        collect of that DataFrame: collecting it again, or a retried or
        speculative task, adds the skips again, and building another
        scoring query before the collect points this at the new one."""
        return self._skipped.value if self._skipped is not None else 0

    def search(
        self,
        terms: list[str],
        mode: str = "OR",
        k: int = 10,
        algo: str = "auto",
        min_should_match: int = 1,
    ) -> DataFrame:
        """Top-k BM25.  Returns DataFrame(doc_id, score) already sorted
        by (score desc, doc_id asc), exactly k rows or fewer.

        algo: "auto" (AND → block-skip intersection, OR → MaxScore),
        "bmw" (OR → window block-max WAND), "maxscore" (OR → MaxScore),
        "exhaustive" (always full decode).  All paths are rank- AND
        score-identical; algo only changes how much of each posting
        list is decoded.

        The pruned paths (auto/maxscore/AND-block-skip) also prune
        ACROSS segments: each scatter task visits its segments in
        bound order and skips a segment whose bound is strictly below
        its running k-th score — bit-identical (strict inequality
        forbids ties).  ``last_segments_skipped`` reports the count.

        ``min_should_match`` (ES analog, OR mode only): a doc must
        contain at least this many of the query terms; scoring stays
        the disjunctive sum over the terms it has.  m=1 is plain OR,
        m=len(terms) equals AND."""
        q = plan_terms(self, terms, mode, k, algo, min_should_match)
        return self._scatter(q)

    def search_bool(
        self, query: str, k: int = 10, synonyms: "dict | None" = None
    ) -> DataFrame:
        """Boolean query string (`a AND (b OR c) AND NOT d`) — the ES
        query-string analog.  The expression filters; BM25 scores sum
        over the positive terms each match contains (see
        functions/boolquery.py).  Segment-local evaluation is globally
        correct because a doc's full term set lives in one segment.

        Doc-value range atoms (``n_chars:[150 TO 400]``,
        ``warc_ts:[2025-02-01T00:00:00 TO *]`` — ES query_string range
        syntax, filter context) compose with any boolean structure: each
        scatter task resolves the atoms from its worker's cached doc
        values, phrase matches and nested sidecar, so range evaluation
        never materializes on the driver."""
        q = plan_bool(self, query, k, synonyms)
        return self._scatter(q)

    def search_fielded(
        self,
        terms: list[str],
        fields: dict[str, float] | None = None,
        k: int = 10,
        mode: str = "OR",
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """Multi-field BM25F-lite top-k — the ES ``multi_match``
        ``most_fields`` analog over the per-field postings the build
        wrote for ``text_fields`` (field-prefixed terms whose blobs
        bake the FIELD's length as dl).

        score(d) = Σ over (field f, token t): w_f · idf(df_{f,t}) ·
        tf/(tf + k1·(1-b+b·dl_f/avgdl_f)) · (k1+1) — each field gets
        its own length norm and document frequency; weights fold into
        idf so the standard MaxScore kernel runs unchanged (bounds
        scale linearly).  ``fields`` maps field → boost, default: body
        + every analyzed field at weight 1.  The reference exposes this
        via ES multi-field search on its exported mapping
        (hail_scripts/v02/utils/elasticsearch_utils.py:38-77).

        mode="AND" is the ES ``operator: and`` variant: every query
        TOKEN must match in at least one of the fields (per-token
        cross-field OR, conjunction across tokens); matching docs still
        score as the weighted most_fields sum.

        mode="BEST" is the ES ``dis_max`` / ``multi_match best_fields``
        variant: each field accumulates its own BM25 sum and the doc
        scores max(field sums) + ``tie_breaker`` × (the other field
        sums) — the "one field should dominate" ranking for fields that
        compete rather than complement (_fielded_best_scores)."""
        q = plan_fielded(self, terms, fields, k, mode, tie_breaker)
        return self._scatter(q)

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """Prefix query ``foo*``: termdict range expansion → bounded
        disjunctive BM25 (the ES ``rewrite: scoring_boolean`` wildcard
        semantics — every expanded term scores with its own idf)."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return self.search(terms, mode="OR", k=k)

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_expansions: int = DEFAULT_FUZZY_EXPANSIONS,
    ) -> DataFrame:
        """Fuzzy query ``foo~N``: edit-distance expansion → bounded
        disjunctive BM25 (``rewrite: scoring_boolean`` — each matched
        term keeps its own idf, so exact matches naturally outrank
        rare typo variants when their df differs)."""
        terms = self.expand_fuzzy(term, max_edits, prefix_length, max_expansions)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return self.search(terms, mode="OR", k=k)

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
        field: "str | None" = None,
    ) -> DataFrame:
        """Regexp query: anchored-pattern term expansion → bounded
        disjunctive BM25 (``rewrite: scoring_boolean`` — each matched
        term keeps its own idf)."""
        terms = self.expand_regexp(pattern, max_expansions, field)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return self.search(terms, mode="OR", k=k)

    def suggest_terms(
        self,
        prefix: str,
        size: int = 10,
        max_edits: int = 0,
        max_expansions: int = 10_000,
    ) -> DataFrame:
        """ES term-suggester analog: candidate index terms for a prefix
        (or, with ``max_edits`` > 0, within edit distance — the
        did-you-mean path), ranked by global document frequency —
        DataFrame(term, df) by (df desc, term asc), ``size`` rows.
        Termdict-only: ranked on the driver from the expansion's
        termdict rows (one per term), never posting blobs."""
        terms = (
            self.expand_fuzzy(prefix, max_edits, max_expansions=max_expansions)
            if max_edits > 0
            else self.expand_prefix(prefix, max_expansions)
        )
        ranked = sorted(self.global_dfs(terms).items(), key=lambda x: (-x[1], x[0]))
        return self.spark.createDataFrame(ranked[:size], "term string, df long")

    def suggest_phrase(
        self,
        text: str,
        size: int = 5,
        max_edits: int = 1,
        max_errors: int = 1,
        per_term: int = 5,
        collate: bool = False,
    ) -> DataFrame:
        """ES phrase suggester (multi-term did-you-mean): corrections
        of ``text`` changing ≤ ``max_errors`` tokens, candidates from
        the termdict fuzzy expansion (≤ ``max_edits``, top
        ``per_term`` by df per position), ranked by a smoothed unigram
        LM; only corrections scoring above the input survive
        (functions/suggest.py).  ``collate=True`` additionally drops
        corrections with no conjunctive match — ES's collate query.
        DataFrame(suggestion, score) by (score desc, suggestion asc).
        Termdict-only (+ one count job per surviving correction when
        collating); never reads posting blobs otherwise."""
        rows = _phrase_suggest_rows(
            self, text, size, max_edits, max_errors, per_term, collate,
            lambda ts: TermdictFrontEnd.search_count(self, sorted(set(ts)), "AND"),
        )
        return self.spark.createDataFrame(
            rows, "suggestion string, score double"
        )

    MLT_MAX_QUERY_TERMS = 25  # the ES more_like_this default

    def _mlt_terms(
        self,
        like_text: str,
        max_query_terms: int,
        min_term_freq: int,
        min_doc_freq: int,
    ) -> list[str]:
        """ES more_like_this term selection: tokenize the ``like``
        text, keep terms with tf ≥ min_term_freq and corpus df ≥
        min_doc_freq, rank by tf·idf (interestingness — rare terms
        that the text repeats), take the top ``max_query_terms``
        (ties → term asc, deterministic).  One termdict lookup, no
        postings read."""
        from collections import Counter

        from ..functions.tokenize import py_tokenize

        tf = Counter(py_tokenize(like_text))
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return []
        dfs = self.global_dfs(cand)
        scored = [
            (tf[t] * bm25_idf(self.n_docs, dfs[t]), t)
            for t in cand
            # unindexed terms never qualify (df 0 < the >=1 floor)
            if dfs.get(t, 0) >= max(min_doc_freq, 1)
        ]
        return [
            t
            for _s, t in sorted(scored, key=lambda x: (-x[0], x[1]))[
                :max_query_terms
            ]
        ]

    def more_like_this(
        self,
        like_text: str,
        k: int = 10,
        max_query_terms: int = MLT_MAX_QUERY_TERMS,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
    ) -> DataFrame:
        """ES ``more_like_this`` with ``like: <text>``: select the
        text's most interesting terms (tf·idf ranked, df-floored so
        one-off typos can't dominate) and run them as a disjunctive
        BM25 query — similar docs rank by how much of the interesting
        vocabulary they share."""
        top = self._mlt_terms(
            like_text, max_query_terms, min_term_freq, min_doc_freq
        )
        if not top:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return self.search(top, mode="OR", k=k)

    def search_page(
        self,
        terms: list[str],
        mode: str = "OR",
        k: int = 10,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Keyset pagination — the ES ``search_after`` cursor: top-k
        matches strictly AFTER cursor position ``(score, doc_id)`` in
        the global (score desc, doc_id asc) order.  Stateless and
        O(k)-per-page like ES's search_after (vs from+size's O(from+k)
        deep-page blowup): each segment scores exhaustively, drops docs
        at-or-before the cursor, and keeps its local top-k; the global
        merge is k rows per scatter task.  Page 1 = after=None."""
        q = plan_terms(self, terms, mode, k, algo="exhaustive", after=after)
        return self._scatter(q)

    # ---- doc-value queries (operators/docvalues.py): range filters,
    # sort-by-field, and field aggregations over the doclens sidecar ----

    def matched_ids(self, query=None, mode: str = "OR") -> DataFrame:
        """DataFrame(doc_id) of live docs matching ``query`` (term list
        with OR/AND, boolean string with "BOOL", None = match_all) —
        the doc-value aggregation front half, lazy, so doc values join
        it JVM-side.  match_all is the snapshot's doclens ids minus the
        dead ones; any other query is _tasks' plan-only tasks, each
        returning its ids (LocalSearcher._ids_partial) as one Arrow
        batch."""
        import pyarrow as pa

        from .docvalues import MATCHED_SCHEMA, _all_dead_ids, doclens_df
        from .serve import run_partition

        if query is None:
            live = doclens_df(self).select("doc_id")
            dead = _all_dead_ids(self)
            if dead.size:
                dead_df = local_frame(self.spark, [(int(d),) for d in dead.tolist()], MATCHED_SCHEMA)
                live = live.join(F.broadcast(dead_df), "doc_id", "left_anti")
            return live
        n, index_dir, manifest = self._n_tasks(), self.index_dir, self.manifest
        args = (self._match_spec(query, mode),)
        schema = pa.schema([pa.field("doc_id", pa.int64(), nullable=False)])

        def task(batches):
            for b in batches:  # partition i holds just i
                for i in b.column(0).to_pylist():
                    ids = run_partition(index_dir, manifest, "_ids_partial", args, n, i)
                    yield pa.RecordBatch.from_arrays([pa.array(ids, pa.int64())], schema=schema)

        return self.spark.range(0, n, 1, n).mapInArrow(task, MATCHED_SCHEMA)

    # ---- reduced queries (TermdictFrontEnd), as DataFrames ----

    def search_count(self, query, mode: str = "OR") -> DataFrame:
        """ES ``_count`` as DataFrame(n_hits)."""
        return local_frame(self.spark, [(super().search_count(query, mode),)], COUNT_SCHEMA)

    def search_filters(self, filters: "dict[str, str]") -> DataFrame:
        """ES ``filters`` aggregation as DataFrame(name, doc_count)."""
        return local_frame(self.spark, super().search_filters(filters), FILTERS_SCHEMA)

    def search_adjacency(self, filters: "dict[str, str]") -> DataFrame:
        """ES ``adjacency_matrix`` as DataFrame(key, doc_count)."""
        return local_frame(self.spark, super().search_adjacency(filters), ADJACENCY_SCHEMA)

    def search_facets(self, query, fields: list[str], mode: str = "OR") -> DataFrame:
        """ES ``terms`` aggregation as DataFrame(field, value, doc_count)."""
        rows = super().search_facets(query, fields, mode)
        return local_frame(self.spark, rows, FACET_RESULT_SCHEMA)

    def search_stats(self, query, mode: str = "OR") -> DataFrame:
        """ES ``stats`` of doc length as a one-row DataFrame(n_hits,
        min_dl, max_dl, sum_dl, avg_dl)."""
        st = super().search_stats(query, mode)
        return local_frame(self.spark, [tuple(st[c] for c in STATS_SCHEMA.names)], STATS_SCHEMA)

    def search_histogram(self, query, interval: int, mode: str = "OR") -> DataFrame:
        """ES ``histogram`` of doc length as DataFrame(bucket, doc_count)."""
        rows = super().search_histogram(query, interval, mode)
        return local_frame(self.spark, rows, HISTOGRAM_SCHEMA)

    def search_phrase(self, phrase: list[str], k: int = 10, slop: int = 0) -> DataFrame:
        """Phrase BM25 top-k as DataFrame(doc_id, score)."""
        return local_frame(self.spark, super().search_phrase(phrase, k, slop), RESULT_SCHEMA)

    def search_phrase_prefix(
        self,
        phrase: list[str],
        k: int = 10,
        slop: int = 0,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` as DataFrame(doc_id, score)."""
        rows = super().search_phrase_prefix(phrase, k, slop, max_expansions)
        return local_frame(self.spark, rows, RESULT_SCHEMA)

    def search_span_first(self, term: str, end: int, k: int = 10) -> DataFrame:
        """ES ``span_first`` as DataFrame(doc_id, score)."""
        return local_frame(self.spark, super().search_span_first(term, end, k), RESULT_SCHEMA)

    def search_rescore(
        self,
        terms: list[str],
        rescore_phrase: list[str],
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        mode: str = "OR",
        slop: int = 0,
    ) -> DataFrame:
        """ES ``rescore`` as DataFrame(doc_id, score)."""
        rows = super().search_rescore(
            terms, rescore_phrase, k, window_size, query_weight, rescore_weight, mode, slop
        )
        return local_frame(self.spark, rows, RESULT_SCHEMA)

    def search_sorted(
        self, query, by: str, ascending: bool = False, k: int = 10,
        mode: str = "OR", after=None,
    ) -> DataFrame:
        """ES sort-by-field, with optional search_after pagination
        (see docvalues.search_sorted)."""
        from . import docvalues as dv

        return dv.search_sorted(self, query, by, ascending, k, mode, after)

    def search_range(
        self, query, field: str, lo=None, hi=None, mode: str = "OR",
        k: int = 10,
    ) -> DataFrame:
        """BM25 top-k with a range filter clause (see
        docvalues.search_range)."""
        from . import docvalues as dv

        return dv.search_range(self, query, field, lo, hi, mode, k)

    def search_nested(
        self, query, field: str, conditions: dict, mode: str = "OR",
        k: int = 10,
    ) -> DataFrame:
        """BM25 top-k with an ES ``nested`` filter clause: docs having
        ≥1 object of the array-of-struct ``field`` satisfying ALL
        ``conditions`` (leaf → value) within the SAME object (see
        operators/nested.search_nested)."""
        from . import nested as nst

        return nst.search_nested(self, query, field, conditions, mode, k)

    def nested_match_ids(self, field: str, conditions: dict) -> DataFrame:
        """Distinct live doc ids with ≥1 nested object satisfying ALL
        conditions (see operators/nested.nested_match_ids)."""
        from . import nested as nst

        return nst.nested_match_ids(self, field, conditions)

    def search_nested_terms(
        self, query, field: str, leaf: str, size: int = 10,
        mode: str = "OR", count: str = "docs",
    ) -> DataFrame:
        """ES nested terms aggregation (see
        operators/nested.search_nested_terms)."""
        from . import nested as nst

        return nst.search_nested_terms(
            self, query, field, leaf, size, mode, count
        )

    def nested_inner_hits(self, field: str, conditions: dict) -> DataFrame:
        """ES inner_hits: the matching (doc_id, obj) object identities
        themselves (see operators/nested.nested_inner_hits)."""
        from . import nested as nst

        return nst.nested_inner_hits(self, field, conditions)

    def search_value_histogram(
        self, query, field: str, interval, mode: str = "OR",
        cumulative: bool = False,
    ) -> DataFrame:
        """ES histogram / date_histogram on a doc-value field, with
        optional cumulative_sum pipeline agg (see
        docvalues.search_value_histogram)."""
        from . import docvalues as dv

        return dv.search_value_histogram(
            self, query, field, interval, mode, cumulative
        )

    def search_percentiles(
        self, query, field: str, percents=(0.25, 0.5, 0.75, 0.95),
        mode: str = "OR",
    ) -> DataFrame:
        """ES percentiles aggregation (see
        docvalues.search_percentiles)."""
        from . import docvalues as dv

        return dv.search_percentiles(self, query, field, percents, mode)

    def search_range_buckets(
        self, query, field: str, ranges, mode: str = "OR"
    ) -> DataFrame:
        """ES range aggregation with explicit buckets (see
        docvalues.search_range_buckets)."""
        from . import docvalues as dv

        return dv.search_range_buckets(self, query, field, ranges, mode)

    def search_collapse(
        self, query, field: str, k: int = 10, mode: str = "OR"
    ) -> DataFrame:
        """ES field collapsing: best hit per doc-value field value
        (see docvalues.search_collapse)."""
        from . import docvalues as dv

        return dv.search_collapse(self, query, field, k, mode)

    def search_grouped_tophits(
        self, query, field: str, n_buckets: int = 5, per_bucket: int = 3,
        mode: str = "OR",
    ) -> DataFrame:
        """ES terms agg + top_hits sub-agg (see
        docvalues.search_grouped_tophits)."""
        from . import docvalues as dv

        return dv.search_grouped_tophits(
            self, query, field, n_buckets, per_bucket, mode
        )

    def search_field_stats(
        self, query, field: str, mode: str = "OR", extended: bool = False
    ) -> DataFrame:
        """ES stats / extended_stats on a numeric doc-value field (see
        docvalues.search_field_stats)."""
        from . import docvalues as dv

        return dv.search_field_stats(self, query, field, mode, extended)

    def search_cardinality(
        self, query, field: str, mode: str = "OR", exact: bool = True,
        rsd: float = 0.05,
    ) -> DataFrame:
        """ES cardinality aggregation (see
        docvalues.search_cardinality)."""
        from . import docvalues as dv

        return dv.search_cardinality(self, query, field, mode, exact, rsd)

    def significant_terms(
        self, query, field: str, size: int = 10, mode: str = "OR"
    ) -> DataFrame:
        """ES significant_terms on a doc-value field (see
        docvalues.significant_terms)."""
        from . import docvalues as dv

        return dv.significant_terms(self, query, field, size, mode)

    def search_decay(
        self, query, field: str, origin, scale: float, decay: float = 0.5,
        offset: float = 0.0, fn: str = "gauss", mode: str = "OR",
        k: int = 10,
    ) -> DataFrame:
        """ES function_score decay on a doc-value field (see
        docvalues.search_decay)."""
        from . import docvalues as dv

        return dv.search_decay(
            self, query, field, origin, scale, decay, offset, fn, mode, k
        )

    def search_missing(
        self, query, field: str, mode: str = "OR"
    ) -> DataFrame:
        """ES missing aggregation (see docvalues.search_missing)."""
        from . import docvalues as dv

        return dv.search_missing(self, query, field, mode)

    def search_value_terms(
        self, query, field: str, size: int = 10, after=None,
        mode: str = "OR",
    ) -> DataFrame:
        """ES composite aggregation, one terms source with after-key
        paging (see docvalues.search_value_terms)."""
        from . import docvalues as dv

        return dv.search_value_terms(self, query, field, size, after, mode)

    def search_bucket_metrics(
        self, query, bucket_field: str, interval, metric_field: str,
        mode: str = "OR",
    ) -> DataFrame:
        """ES bucket + metric sub-aggregation — date_histogram/histogram
        with a stats sub-agg (see docvalues.search_bucket_metrics)."""
        from . import docvalues as dv

        return dv.search_bucket_metrics(
            self, query, bucket_field, interval, metric_field, mode
        )

    EXPLAIN_SCHEMA = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("tf", T.LongType(), False),
            T.StructField("df", T.LongType(), False),
            T.StructField("doc_len", T.LongType(), False),
            T.StructField("idf", T.DoubleType(), False),
            T.StructField("contrib", T.DoubleType(), False),
        ]
    )

    def explain(self, doc_id: int, terms: list[str]) -> DataFrame:
        """ES ``_explain`` API: the BM25 score breakdown of ONE doc —
        one row per query term present in the doc with its tf, df,
        doc_len, idf and contribution (sum of contrib = the doc's score
        in an OR query, bit-identically).  Touches only the doc's own
        segment (a doc's postings for every term live in exactly one
        segment by construction), so the job reads a single segment's
        rows for the query terms."""
        terms_sorted = sorted(set(terms))
        dfs = self.global_dfs(terms_sorted)
        g = self.manifest["globals"]
        dpp = int(g["docs_per_part"])
        seg_group = int(self.manifest["params"]["seg_group"])
        seg = (int(doc_id) // dpp) // seg_group
        avgdl, n_docs = self.avgdl, self.n_docs
        target = int(doc_id)
        rows = self._term_rows(terms_sorted).filter(
            F.col("segment") == seg
        ).select("term", "blob")
        dfs_b = dict(dfs)
        out_cols = [f.name for f in self.EXPLAIN_SCHEMA.fields]

        def explain_rows(pdf: pd.DataFrame) -> pd.DataFrame:
            out = []
            for r in pdf.itertuples():
                d, tf, dl = codecs.decode_postings(bytes(r.blob))
                i = int(np.searchsorted(d, target))
                if i >= len(d) or d[i] != target:
                    continue
                idf = bm25_idf(n_docs, dfs_b[r.term])
                w = float(
                    bm25_tf_weight(
                        np.array([tf[i]], np.float64),
                        np.array([dl[i]], np.float64),
                        avgdl,
                    )[0]
                )
                out.append(
                    (r.term, int(tf[i]), int(dfs_b[r.term]), int(dl[i]),
                     idf, idf * w)
                )
            return pd.DataFrame(out, columns=out_cols)

        return (
            rows.mapInPandas(
                lambda it: (explain_rows(pdf) for pdf in it),
                schema=self.EXPLAIN_SCHEMA,
            )
            .orderBy("term")
        )

    POSITIONS_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.LongType(), False),
        ]
    )

    def match_positions(
        self, doc_ids: list[int], terms: list[str]
    ) -> DataFrame:
        """Highlighting primitive (the ES highlighter's input): every
        token position of each query term within the given docs —
        DataFrame(doc_id, term, pos), one row per occurrence, from the
        positional postings (no document text is re-tokenized).  The
        doc set is the caller's top-k hits (bounded), broadcast as a
        literal filter; each segment task gathers only its own docs'
        position slices."""
        if not self.manifest["params"].get("with_positions", True):
            raise ValueError(
                "match_positions needs positional postings, but this index "
                "was built with with_positions=False"
            )
        terms_sorted = sorted(set(terms))
        targets = np.unique(np.asarray(sorted(doc_ids), dtype=np.int64))
        g = self.manifest["globals"]
        dpp = int(g["docs_per_part"])
        seg_group = int(self.manifest["params"]["seg_group"])
        segs = sorted({int((d // dpp) // seg_group) for d in targets})
        rows = self._term_rows(terms_sorted).filter(
            F.col("segment").isin(segs)
        ).select("term", "blob", "pos_blob")
        targets_b = targets

        def gather_positions(pdf: pd.DataFrame) -> pd.DataFrame:
            out_d, out_t, out_p = [], [], []
            for r in pdf.itertuples():
                d, tf, _dl = codecs.decode_postings(bytes(r.blob))
                hit_idx = np.flatnonzero(
                    np.isin(d, targets_b, assume_unique=True)
                )
                if not hit_idx.size:
                    continue
                pos, offs = codecs.decode_position_lists(bytes(r.pos_blob), tf)
                for i in hit_idx:
                    sl = pos[offs[i] : offs[i + 1]]
                    out_d.extend([int(d[i])] * len(sl))
                    out_t.extend([r.term] * len(sl))
                    out_p.extend(int(x) for x in sl)
            return pd.DataFrame(
                {"doc_id": out_d, "term": out_t, "pos": out_p}
            )

        return (
            rows.mapInPandas(
                lambda it: (gather_positions(pdf) for pdf in it),
                schema=self.POSITIONS_SCHEMA,
            )
            .orderBy("doc_id", "term", "pos")
        )

    SPANS_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("token_pos", T.LongType(), False),
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
        ]
    )

    @staticmethod
    def match_char_spans(
        docs: DataFrame, doc_ids: list[int], terms: list[str]
    ) -> DataFrame:
        """Snippet extraction — the character-offset half of
        highlighting: for the given docs (the caller's top-k hits) and
        query terms, every occurrence's (token_pos, start, end) where
        start/end index into ``NFC(text).lower()`` (the tokenizer's
        input; slicing it yields exactly the matched token).  Reads the
        DOC STORE (a docs DataFrame with doc_id + text), not the index
        — offsets are a presentation concern and the index stores token
        positions only; ``token_pos`` lines up 1:1 with
        ``match_positions`` output (tested), tying the two views
        together.  Bounded work: the doc_ids filter prunes the scan to
        k rows before any Python runs."""
        import re as _re
        import unicodedata as _ud

        terms_set = set(terms)
        ids = [int(i) for i in doc_ids]

        def spans(batches):
            tok_re = _re.compile(r"[a-z0-9]+")
            for pdf in batches:
                out = []
                for mid, text in zip(pdf["doc_id"], pdf["text"]):
                    if text is None:
                        continue
                    ltext = _ud.normalize("NFC", text).lower()
                    for k, m in enumerate(tok_re.finditer(ltext)):
                        if m.group(0) in terms_set:
                            out.append(
                                (int(mid), m.group(0), k, m.start(), m.end())
                            )
                yield pd.DataFrame(
                    out,
                    columns=["doc_id", "term", "token_pos", "start", "end"],
                )

        return (
            docs.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "text")
            .mapInPandas(spans, schema=IndexSearcher.SPANS_SCHEMA)
            .orderBy("doc_id", "term", "token_pos")
        )

    HIGHLIGHT_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("snippet", T.StringType(), True),
            T.StructField("n_matches", T.LongType(), False),
        ]
    )

    def termvectors(
        self, docs: DataFrame, doc_id: int, with_df: bool = True
    ) -> DataFrame:
        """ES ``_termvectors`` (on-the-fly mode — the index stores no
        per-doc term vectors, so the doc's STORED text re-analyzes,
        exactly ES's fallback): per-term stats of ONE document —
        DataFrame(term, tf, df, positions) by term asc.  ``docs`` is
        the doc store / corpus table with (doc_id, text) — the doc_id
        filter prunes the scan to one row before any Python runs; df
        joins from the termdict (one pruned lookup).  Positions are
        0-based analyzed-token positions, 1:1 with the positional
        index (match_positions)."""
        from ..functions.tokenize import py_termvector

        row = (
            docs.filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .head()
        )
        schema = "term string, tf long, df long, positions array<int>"
        if row is None or row["text"] is None:
            return self.spark.createDataFrame([], schema)
        tv = py_termvector(row["text"])
        dfs = (
            self.global_dfs(sorted(t for t, _tf, _p in tv))
            if with_df
            else {}
        )
        return self.spark.createDataFrame(
            [
                (t, tf, int(dfs.get(t, 0)), pos)
                for t, tf, pos in tv
            ],
            schema,
        )

    @staticmethod
    def highlight(
        docs: DataFrame,
        doc_ids: list[int],
        terms: list[str],
        window_chars: int = 120,
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
        ellipsis: str = "…",
    ) -> DataFrame:
        """Highlighted snippets — the user-facing ES ``highlight`` API
        over the doc store: per hit, the best ``window_chars`` window
        (most whole match spans; ties earliest), matched terms wrapped
        in the tags, ellipses marking truncation.  Composes the
        match_char_spans scan with functions/snippets.py — the serving
        tier calls the same kernel on raw strings, so fragments are
        byte-identical.  DataFrame(doc_id, snippet, n_matches), one row
        per requested doc that matched; bounded: the doc_ids filter
        prunes the scan to k rows before any Python runs."""
        from ..functions.snippets import py_highlight

        terms_set = set(terms)
        ids = [int(i) for i in doc_ids]

        def gen(batches):
            for pdf in batches:
                rows = []
                for mid, text in zip(pdf["doc_id"], pdf["text"]):
                    snippet, n = py_highlight(
                        text, terms_set, window_chars,
                        pre_tag, post_tag, ellipsis,
                    )
                    if n:
                        rows.append((int(mid), snippet, n))
                yield pd.DataFrame(
                    rows, columns=["doc_id", "snippet", "n_matches"]
                )

        return (
            docs.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "text")
            .mapInPandas(gen, schema=IndexSearcher.HIGHLIGHT_SCHEMA)
            .orderBy("doc_id")
        )

    def live_doc_ids(self, ids: "list[int]") -> set:
        """Subset of ``ids`` that are LIVE documents at this searcher's
        pinned generation/epoch: present in doclens (isin pushes into
        the scan) and not tombstoned.  Bounded by |ids| — the existence
        primitive behind the pinned query and get-by-id shapes."""
        from .docvalues import _seg_params, doclens_df

        want = sorted({int(i) for i in ids})
        if not want:
            return set()
        present = {
            int(r["doc_id"])
            for r in doclens_df(self)
            .select("doc_id")
            .where(F.col("doc_id").isin(want))
            .collect()
        }
        if not present:
            return present
        dpp, seg_group = _seg_params(self.manifest)
        get_deletes = self._segment_deletes_fn()
        live = set()
        for d in present:
            dead = get_deletes((d // dpp) // seg_group)
            if dead is None or not dead.size or d not in dead:
                live.add(d)
        return live

    def validate_query(self, query: str, expand: bool = True) -> dict:
        """ES ``_validate/query`` analog: parse (and optionally expand)
        a boolean query string against THIS index's field manifest
        without executing it — {"valid": bool, "error": str | None,
        "explanation": str | None} where the explanation is the parsed
        AST repr (the ES rewrite string analog).  Catches unknown
        fields, malformed syntax, pure-negation shapes, and expansion
        overflows the same way the search paths would, but driver-side
        and job-free."""
        from ..functions import boolquery as bq

        try:
            ast, _terms = self.parse_query(query, "BOOL", expand=expand)
            # facet atoms parse open-vocabulary; check their FIELDS
            # against the manifest (ES rejects queries on unmapped
            # fields in strict mappings — and an unknown facet here is
            # always a typo, the build never indexed it)
            known = {
                f
                for f, spec in (self.manifest["params"].get("fields") or {}).items()
                if isinstance(spec, dict) and spec.get("facet")
            } | {"dlen"}
            for tok in bq.facet_atom_tokens(ast):
                if not any(tok.startswith(f"__{f}_") for f in known):
                    raise bq.QueryParseError(
                        f"facet atom {tok!r} names no indexed facet field "
                        f"(known: {sorted(known)})"
                    )
            return {"valid": True, "error": None, "explanation": repr(ast)}
        except Exception as e:  # noqa: BLE001 — the API reports, never raises
            return {"valid": False, "error": str(e), "explanation": None}

    @staticmethod
    def analyze(text: str) -> list[dict]:
        """ES ``_analyze`` analog: run the index analyzer over a string
        and return the token stream — [{"token", "position"}], the
        exact normalization every indexed document went through (shared
        pure function, so what you see is what got indexed)."""
        from ..functions.tokenize import py_tokenize

        return [
            {"token": t, "position": i}
            for i, t in enumerate(py_tokenize(text))
        ]

    def index_stats(self) -> dict:
        """ES ``_stats``/``_cat/indices`` analog: the pinned snapshot's
        health/size facts, straight from the manifest (no jobs) —
        docs, tokens, avgdl, tombstones, postings metrics, generation,
        deletes epoch, and the field roles."""
        m = self.manifest
        return {
            "n_docs": int(m["globals"]["n_docs"]),
            "total_tokens": int(m["globals"]["total_tokens"]),
            "avgdl": float(m["globals"]["avgdl"]),
            "generation": int(m.get("generation", 0)),
            "deletes_epoch": int(m.get("deletes_epoch", 0)),
            "format_version": m.get("format_version"),
            # fresh builds don't record n_tombstones; normalize so the
            # API shape is stable across build/maintenance provenance
            "metrics": {"n_tombstones": 0, **m.get("metrics", {})},
            "fields": dict(m.get("params", {}).get("fields", {})),
            "text_fields": list(m.get("params", {}).get("text_fields") or ()),
            "n_extensions": len(m.get("extensions", [])),
        }

    def segment_stats(self) -> DataFrame:
        """ES ``_cat/segments`` analog: per-segment size facts from ONE
        postings metadata scan (term/df/n_bytes columns only — blobs
        never read): DataFrame(segment, n_terms, postings, bytes,
        tombstones), segment asc.  The tombstone counts come from the
        pinned epoch's sidecars (driver-side, bounded — the deleted-
        docs-bitmap analog)."""
        from . import docvalues as dv

        post = self._postings.select("segment", "df", "n_bytes")
        agg = (
            post.groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("df").alias("postings"),
                F.sum("n_bytes").alias("bytes"),
            )
        )
        dead = load_deletes(
            self.index_dir, epoch=self._deletes_epoch, manifest=self.manifest
        )
        tomb = [(int(s), int(len(ids))) for s, ids in sorted((dead or {}).items())]
        if tomb:
            tomb_df = self.spark.createDataFrame(
                tomb, "segment int, tombstones long"
            )
            agg = agg.join(F.broadcast(tomb_df), "segment", "left").withColumn(
                "tombstones", F.coalesce(F.col("tombstones"), F.lit(0))
            )
        else:
            agg = agg.withColumn("tombstones", F.lit(0).cast("long"))
        return agg.orderBy("segment")

    def significant_text(
        self,
        docs: DataFrame,
        query,
        size: int = 10,
        sample_size: int = 200,
        mode: str = "OR",
        min_doc_count: int = 3,
    ) -> DataFrame:
        """ES ``significant_text``: free-text terms over-represented in
        a SAMPLE of top hits vs the whole index — the trending-terms
        aggregation.  ES re-analyzes the ``_source`` of sampled docs
        under a sampler agg; same shape here: the top-``sample_size``
        hits' texts re-tokenize (bounded work — never the corpus), fg =
        docs-containing counts in the sample (distinct per doc), bg =
        the termdict's global df, lift = (fg/sample_n)/(df/n_docs) (the
        same percentage heuristic as significant_terms).

        ``docs`` is the doc store / corpus table with (doc_id, text);
        ``query`` is a term list (with ``mode``) or a boolean string.
        DataFrame(term, fg_count, bg_count, lift) by (lift desc, term
        asc); ``min_doc_count`` is the ES noise floor.  Query terms
        themselves naturally rank high (they are in every sampled doc)
        — callers skip them, as in ES."""
        from ..functions.tokenize import tokenize_col

        if isinstance(query, str):
            hits = self.search_bool(query, k=sample_size)
        else:
            hits = self.search(sorted(set(query)), mode=mode, k=sample_size)
        ids = [int(r["doc_id"]) for r in hits.collect()]
        out_schema = T.StructType(
            [
                T.StructField("term", T.StringType(), False),
                T.StructField("fg_count", T.LongType(), False),
                T.StructField("bg_count", T.LongType(), False),
                T.StructField("lift", T.DoubleType(), False),
            ]
        )
        if not ids:
            return self.spark.createDataFrame([], out_schema)
        sample_n = len(ids)
        fg = (
            docs.filter(F.col("doc_id").isin(ids))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(tokenize_col(F.col("text")))
                ).alias("term"),
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("fg_count"))
            .where(F.col("fg_count") >= int(min_doc_count))
            .collect()
        )
        kept = {r["term"]: int(r["fg_count"]) for r in fg}
        dfs = self.global_dfs(sorted(kept))
        out = [
            (t, c, dfs[t], (c / sample_n) / (dfs[t] / self.n_docs))
            for t, c in kept.items()
            if t in dfs
        ]
        out.sort(key=lambda r: (-r[3], r[0]))
        return self.spark.createDataFrame(out[: int(size)], out_schema)

    def mget(self, ids: "list[int]") -> DataFrame:
        """ES ``_mget`` / get-by-id: one row per REQUESTED id —
        (doc_id, found, url, <stored fields...>), request order, dead
        or unknown ids report found=false with NULL fields (the ES
        docs-array contract).  The isin predicate pushes into the
        doc_id-ordered doclens scan, so row-group stats prune the doc
        store to the files holding the hits."""
        from .docvalues import doclens_df

        want = list(dict.fromkeys(int(i) for i in ids))
        if not want:
            raise ValueError("mget needs at least one id")
        live = self.live_doc_ids(want)
        doclens = doclens_df(self)
        fetched = [
            c for c in doclens.columns if c not in ("doc_id", "doc_len")
        ]
        found = (
            F.col("doc_id").isin(sorted(live)) if live else F.lit(False)
        )
        req = self.spark.createDataFrame([(i,) for i in want], "doc_id long")
        if live:
            rows = doclens.where(
                F.col("doc_id").isin(sorted(live))
            ).select("doc_id", *fetched)
            req = req.join(rows, "doc_id", "left")
        else:
            for c in fetched:
                req = req.withColumn(c, F.lit(None))
        order = F.array(*[F.lit(i) for i in want])
        return req.select("doc_id", found.alias("found"), *fetched).orderBy(
            F.array_position(order, F.col("doc_id"))
        )

    def with_source(
        self, results: DataFrame, max_collect: int = 10_000
    ) -> DataFrame:
        """Join hit doc_ids back to their url (the ES ``_source`` fetch:
        the index stores postings, the doc store serves the documents).

        Small hit sets (≤ max_collect, the top-k norm) are collected
        once so (a) the search job never re-runs inside the join and
        (b) the doc_id isin predicate is PUSHED into the doclens
        parquet scan — doclens is written in doc_id order, so row-group
        min/max stats prune the doc store to the handful of files
        holding the hits.  Larger sets (search_many output, big k)
        fall back to a broadcast join: no driver-side row
        materialization, no mega-IN-list expression."""
        from .docvalues import doclens_df

        doclens = doclens_df(self)
        # url + any stored metadata fields the field manifest kept
        fetched = [
            c for c in doclens.columns if c not in ("doc_id", "doc_len")
        ]
        order_cols = (
            [F.desc("score"), F.asc("doc_id")]
            if "score" in results.columns
            else [F.asc("doc_id")]
        )
        # persist before the probe collect so the large-set fallback
        # reuses the already-computed search results instead of
        # re-executing the whole search lineage a second time (ADVICE
        # r3).  The small path unpersists immediately (its returned plan
        # references only the collected rows); the large path returns a
        # plan that READS the persisted results, so the cache is left in
        # place for the caller's execution — Spark evicts it LRU-style
        # under memory pressure, and the next with_source call on a new
        # results frame does not grow it unboundedly (top-k frames are
        # tiny; search_many output is bounded by k × batch size).
        results = results.persist()
        rows = results.limit(max_collect + 1).collect()
        if len(rows) <= max_collect:
            hits = self.spark.createDataFrame(rows, results.schema)
            ids = [r["doc_id"] for r in rows]
            results.unpersist()
            return (
                doclens.filter(F.col("doc_id").isin(ids))
                .join(F.broadcast(hits), "doc_id")
                .select(*results.columns, *fetched)
                .orderBy(*order_cols)
            )
        return (
            doclens.join(F.broadcast(results), "doc_id")
            .select(*results.columns, *fetched)
            .orderBy(*order_cols)
        )

    def search_many(self, specs: list[dict]) -> DataFrame:
        """TermdictFrontEnd.search_many as DataFrame(query_id, rank,
        doc_id, score), rank 1..k by (score desc, doc_id asc)."""
        rows = [
            (qid, rank, d, sc)
            for qid, hits in super().search_many(specs).items()
            for rank, (d, sc) in enumerate(hits, 1)
        ]
        return local_frame(self.spark, rows, MULTI_RESULT_SCHEMA)


def bm25_exhaustive_df(
    docs: DataFrame,
    terms: list[str],
    mode: str = "OR",
    k: int = 10,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Pure-DataFrame BM25 (no index): the Catalyst-only baseline used
    as correctness anchor and for ad-hoc scoring of un-indexed tables.

    `docs` must have (id_col, tokens_col: array<string>).  Shuffle
    profile: per-term tf is counted IN-ROW (size of a filtered token
    array — query term lists are tiny), so there is no token explode
    and no (doc, term) groupBy shuffle; the narrow (id, dl, tf…)
    projection (~tens of bytes/row) is persisted for the call so the
    stats aggregation and the TakeOrdered scoring pass tokenize the
    corpus exactly once.  Executes eagerly (returns a materialized
    top-k frame) — fine at any scale, but reads the whole corpus per
    query (that is exactly the cost the inverted index removes)."""
    terms_sorted = sorted(set(terms))
    spark = docs.sparkSession
    def _count_eq(t):
        # NB: single-arg lambda — a second parameter would be bound to
        # the element INDEX by the higher-order-function protocol
        return lambda x: x == F.lit(t)

    tf_cols = [
        F.size(F.filter(F.col(tokens_col), _count_eq(t))).alias(f"__tf_{i}")
        for i, t in enumerate(terms_sorted)
    ]
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col).alias("dl"),
        *tf_cols,
    )
    # the tokenize feeding `base` is the dominant cost and would run
    # once for the stats job and again for the scoring job — persist
    # the narrow (id, dl, per-term tf) projection for the call's
    # duration so the corpus text is tokenized exactly once.  This is
    # an intra-call intermediate (computed fresh every invocation),
    # released before returning.
    base = base.persist()
    try:
        stats = base.agg(
            F.count("*").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
                for i in range(len(terms_sorted))
            ],
        ).collect()[0]
        n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"] or 0.0)
        dfs = [int(stats[f"__df_{i}"] or 0) for i in range(len(terms_sorted))]
        if not any(dfs):
            return spark.createDataFrame([], RESULT_SCHEMA)
        # idf stays Python-side math.log (bm25_idf) exactly as before —
        # the per-term weight expression is unchanged, only its tf/df
        # inputs come from the in-row counts instead of an explode+groupBy
        idf = [bm25_idf(n_docs, d) for d in dfs]

        def w(tf_col):
            return (F.lit(BM25_K1 + 1.0) * tf_col) / (
                tf_col
                + F.lit(BM25_K1)
                * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
            )

        # ascending term order, float64 — the determinism contract; a
        # term the doc lacks adds 0.0 (x + 0.0 == x, so the sum is the
        # present terms' sum bit for bit).  Each term appears once: the
        # expression stays linear in the term count and compiles
        score = reduce(
            lambda a, b: a + b,
            (
                F.when(
                    F.col(f"__tf_{i}") > 0, F.lit(idf[i]) * w(F.col(f"__tf_{i}"))
                ).otherwise(F.lit(0.0))
                for i in range(len(terms_sorted))
            ),
        )
        n_hit = sum(
            ((F.col(f"__tf_{i}") > 0).cast("int") for i in range(len(terms_sorted))),
            F.lit(0),
        )
        agg = base.select("doc_id", score.alias("score"), n_hit.alias("n_terms_hit"))
        if mode.upper() == "AND":
            agg = agg.filter(F.col("n_terms_hit") == len(terms_sorted))
        else:
            agg = agg.filter(F.col("n_terms_hit") > 0)
        rows = (
            agg.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
    finally:
        base.unpersist()
    return spark.createDataFrame(rows, RESULT_SCHEMA)
