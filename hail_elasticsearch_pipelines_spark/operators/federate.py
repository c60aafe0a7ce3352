"""Federated multi-index search — the ES comma-separated-indices /
alias-group query (the reference's loaders build DATESTAMPED indices
side by side and seqr queries across them,
hail_scripts/v02/utils/elasticsearch_client.py:106-177 +
elasticsearch_utils.py index-name rotation).

Two ES consistency modes:

* ``dfs=False`` — ES default ``query_then_fetch``: every index scores
  with ITS OWN statistics (idf, avgdl); hits merge by score.  Cheap,
  and exactly as relevance-skewed across shards as ES itself.
* ``dfs=True`` — ES ``dfs_query_then_fetch``: a distributed-frequency
  pre-phase combines (n_docs, Σ df per term, Σ tokens) across the
  indexes, and every index scores with the COMBINED statistics — so
  scores are bit-identical to a single merged index holding all the
  docs.  That identity is the correctness oracle (the driver row checks
  the two half-indexes against the whole-corpus SQL twin).

Scale posture: the stats pre-phase reads only termdict rows (one range
scan per index); scoring stays per-index per-segment with the usual
exhaustive kernel and per-segment top-k, so the merge moves
k × n_indexes rows — never postings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codecs
from .bm25 import (
    IndexSearcher,
    QueryPlan,
    _check_scoring_rows,
    _msm_scores,
    _topk,
    bm25_idf,
    local_frame,
)

FED_SCHEMA = T.StructType(
    [
        T.StructField("index_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def combined_stats(
    searchers: "list", terms: list[str]
) -> tuple[int, float, dict[str, int]]:
    """The dfs_query_then_fetch stats phase: (n_docs, avgdl, per-term
    df) summed across the indexes — the statistics a single merged
    index would hold."""
    n_docs = sum(s.n_docs for s in searchers)
    total_tokens = sum(
        int(s.manifest["globals"]["total_tokens"]) for s in searchers
    )
    avgdl = (total_tokens / n_docs) if n_docs else 1.0
    dfs: dict[str, int] = {}
    for s in searchers:
        for t, d in s.global_dfs(terms).items():
            dfs[t] = dfs.get(t, 0) + int(d)
    return n_docs, avgdl, dfs


def search_indices(
    spark: SparkSession,
    index_dirs: list[str],
    terms: list[str],
    mode: str = "OR",
    k: int = 10,
    dfs: bool = True,
) -> DataFrame:
    """Search several indexes as one — DataFrame(index_id, doc_id,
    score), ties ordered (score desc, index_id asc, doc_id asc).
    ``index_id`` is the position in ``index_dirs``.

    dfs=True scores every index with the combined statistics
    (bit-identical to one merged index); dfs=False keeps each index's
    local statistics (the ES query_then_fetch default).  One job: the
    term rows of all indexes union into a single frame grouped by
    (index_id, segment) — per-index deletes resolve inside the task,
    every group emits at most k rows."""
    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_indices supports OR/AND term queries")
    if not index_dirs:
        raise ValueError("search_indices needs at least one index dir")
    qterms = sorted(set(terms))
    searchers = [IndexSearcher(spark, p) for p in index_dirs]
    if not qterms:
        return local_frame(spark, [], FED_SCHEMA)
    if dfs:
        n_docs, avgdl, df_map = combined_stats(searchers, qterms)
        idf_of = {
            i: {t: bm25_idf(n_docs, d) for t, d in df_map.items()}
            for i in range(len(searchers))
        }
        avgdl_of = {i: avgdl for i in range(len(searchers))}
    else:
        idf_of, avgdl_of = {}, {}
        for i, s in enumerate(searchers):
            local = s.global_dfs(qterms)
            idf_of[i] = {
                t: bm25_idf(s.n_docs, d) for t, d in local.items()
            }
            avgdl_of[i] = s.avgdl
    deletes_of = {
        i: s._segment_deletes_fn() for i, s in enumerate(searchers)
    }
    parts = []
    for i, s in enumerate(searchers):
        if not idf_of[i]:
            continue
        parts.append(
            s._term_rows(qterms)
            .select("segment", "term", "blob")
            .withColumn("index_id", F.lit(i).cast("long"))
        )
    if not parts:
        return local_frame(spark, [], FED_SCHEMA)
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    msm = len(qterms) if mode_u == "AND" else 1
    k_i = int(k)

    def score_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"index_id": [], "doc_id": [], "score": []})
        idx = int(key[0])
        _check_scoring_rows(pdf, idf_of[idx])
        dead = deletes_of[idx](int(pdf["segment"].iloc[0]))
        postings = {
            r.term: codecs.decode_postings(bytes(r.blob))
            for r in pdf.itertuples()
        }
        docs, scores = _msm_scores(
            postings, qterms, idf_of[idx], avgdl_of[idx], msm
        )
        if dead is not None and dead.size and docs.size:
            keep = ~np.isin(docs, dead, assume_unique=True)
            docs, scores = docs[keep], scores[keep]
        docs, scores = _topk(docs, scores, k_i)
        return pd.DataFrame(
            {"index_id": idx, "doc_id": docs, "score": scores}
        )

    partials = rows.groupBy("index_id", "segment").applyInPandas(
        score_group, FED_SCHEMA
    )
    return (
        partials.orderBy(
            F.col("score").desc(), F.col("index_id").asc(), F.col("doc_id").asc()
        ).limit(k_i)
    )


def local_search_indices(
    index_dirs: list[str],
    terms: list[str],
    mode: str = "OR",
    k: int = 10,
    dfs: bool = True,
) -> list[tuple[int, int, float]]:
    """Serving twin of search_indices: [(index_id, doc_id, score)] —
    same stats phase, per-index scoring through the cross-segment-pruned
    local path (exact idf keeps the pruned kernels bit-identical to the
    distributed exhaustive scorer), same merge order."""
    from .serve import LocalSearcher

    mode_u = mode.upper()
    if mode_u not in ("OR", "AND"):
        raise ValueError("search_indices supports OR/AND term queries")
    if not index_dirs:
        raise ValueError("search_indices needs at least one index dir")
    qterms = sorted(set(terms))
    if not qterms:
        return []
    searchers = [LocalSearcher(p) for p in index_dirs]
    hits: list[tuple[int, int, float]] = []
    if dfs:
        n_docs, avgdl, df_map = combined_stats(searchers, qterms)
        idf = {t: bm25_idf(n_docs, d) for t, d in df_map.items()}
        for i, s in enumerate(searchers):
            present = [t for t in qterms if t in s.global_dfs(qterms)]
            if not present or (mode_u == "AND" and len(present) < len(qterms)):
                continue
            q = QueryPlan(qterms, mode_u, int(k), idf, avgdl)
            for d, sc in s._search_pruned(q):
                hits.append((i, d, sc))
    else:
        for i, s in enumerate(searchers):
            for d, sc in s.search(qterms, mode=mode_u, k=k):
                hits.append((i, d, sc))
    hits.sort(key=lambda h: (-h[2], h[0], h[1]))
    return hits[: int(k)]
