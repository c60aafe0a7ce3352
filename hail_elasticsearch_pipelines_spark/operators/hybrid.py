"""Hybrid retrieval: Reciprocal Rank Fusion of lexical (BM25) and
vector (cosine) rankings — the ES ``rrf`` retriever / hybrid-search
shape, and the standard way a training-data pipeline marries keyword
recall with embedding recall.

RRF(d) = Σ_r 1 / (rank_constant + rank_r(d)) over the rankings that
contain d (ranks 1-based).  Rank-based fusion needs no score
calibration between systems — exactly why ES adopted it.

Scale posture: each leg is its own top-``window`` query (the BM25 leg
runs every pruned kernel unchanged; the vector leg is cosine_topk or
any ANN variant), so fusion sees 2×window rows — never a corpus-sized
frame — and happens driver-side on k-bounded lists, the same contract
as ES's coordinating node.

The pinned query (ES ``pinned``): editorially promoted ids first, in
the given order, organic matches after, pinned duplicates removed —
the "official docs page first" shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .bm25 import local_frame

RRF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

PINNED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
        T.StructField("pinned", T.BooleanType(), False),
    ]
)


def rrf_fuse(
    rankings: "list[list[int]]", k: int = 10, rank_constant: int = 60
) -> list[tuple[int, float]]:
    """Fuse ranked id lists: [(id, rrf_score)] best-first, ties id asc.
    Pure float64 sum of reciprocals in ranking order — reproducible in
    SQL, bit-for-bit."""
    rc = int(rank_constant)
    if rc < 1:
        raise ValueError("rank_constant must be >= 1")
    scores: dict[int, float] = {}
    for ranked in rankings:
        for rank, doc in enumerate(ranked, start=1):
            scores[doc] = scores.get(doc, 0.0) + 1.0 / (rc + rank)
    return sorted(scores.items(), key=lambda t: (-t[1], t[0]))[: int(k)]


def hybrid_rrf_search(
    searcher,
    terms: list[str],
    emb_df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    window: int = 50,
    rank_constant: int = 60,
    mode: str = "OR",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BM25 ⊕ vector hybrid: run the lexical top-``window`` and the
    cosine top-``window`` (ids shared between the index and the
    embedding table), RRF-fuse, return DataFrame(doc_id, score) —
    best-first, ties doc_id asc.  Either leg may miss a doc the other
    found; fusion only needs the ranks."""
    from .similarity import cosine_topk

    bm = [
        int(r["doc_id"])
        for r in searcher.search(terms, mode, k=int(window)).collect()
    ]
    vs = [
        int(r["id"])
        for r in cosine_topk(
            emb_df, query_vec, k=int(window), vec_col=vec_col, id_col=id_col
        ).collect()
    ]
    fused = rrf_fuse([bm, vs], k=k, rank_constant=rank_constant)
    return local_frame(searcher.spark, fused, RRF_SCHEMA)


def search_pinned(
    searcher,
    pinned_ids: list[int],
    terms: list[str],
    k: int = 10,
    mode: str = "OR",
) -> DataFrame:
    """ES ``pinned`` query: the given ids come first, in the given
    order (whether or not they match the organic query — but only if
    they are live docs), organic BM25 matches follow with pinned
    duplicates removed.  DataFrame(doc_id, rank, pinned), rank 1-based.
    The organic leg over-fetches by |pinned| so removals can't starve
    the page."""
    import numpy as np

    pins = list(dict.fromkeys(int(p) for p in pinned_ids))
    if not pins:
        raise ValueError("search_pinned needs at least one pinned id")
    alive = searcher.live_doc_ids(pins)
    organic = [
        int(r["doc_id"])
        for r in searcher.search(terms, mode, k=int(k) + len(pins)).collect()
    ]
    out, seen = [], set()
    for p in pins:
        if p in alive and p not in seen:
            seen.add(p)
            out.append((p, len(out) + 1, True))
    for d in organic:
        if len(out) >= int(k):
            break
        if d not in seen:
            seen.add(d)
            out.append((d, len(out) + 1, False))
    return local_frame(searcher.spark, out[: int(k)], PINNED_SCHEMA)
