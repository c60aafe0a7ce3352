"""Low-latency serving path over a published index — no Spark jobs.

The reference hands queries to Elasticsearch data nodes that read local
segment files.  The analog here: a searcher process reads ONLY the
query's term_bucket partition directories (hive pruning) and, within
them, the term's rows (parquet row-group min/max on the sorted `term`
column) via pyarrow — millisecond-scale for the lookup.

Both searchers inherit ONE query front end, bm25.TermdictFrontEnd
(global df, term expansion, facet vocabulary and the query-string
parse, all read on the driver from the pinned termdict), and run ONE
per-segment scorer: the shared planners in bm25.py (plan_terms /
plan_fielded / plan_bool) build a QueryPlan on the driver, and
bm25.score_segment chooses the kernel, masks tombstones and cuts each
segment's top-k — so results are bit-identical
(tests/test_serve.py).  LocalSearcher._search_pruned runs it over its
hot term-rows, decoded-postings and block caches, visiting segments in
bound order with a running top-k — in-process, and as the distributed
query phase: IndexSearcher's tasks run on Spark's Python workers, where
run_partition calls a partial kernel (_score_partial, _count_partial,
_facet_partial, _pseudo_partial, ...) over a slice of the segments on a
LocalSearcher each worker keeps between tasks.  Every non-scoring and
phrase API is one such kernel plus one reducer in bm25.py; this searcher
reduces its one partial over every segment.

Scale posture: the distributed `IndexSearcher` is the 10^12-doc path
(per-segment scoring fans out across executors).  `LocalSearcher` is
the latency path for small/medium indexes and the per-shard inner loop
every executor runs.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow.dataset as ds

from ..functions import codecs
from .bm25 import (
    DEFAULT_FUZZY_EXPANSIONS,
    DEFAULT_MAX_EXPANSIONS,
    _BlockCache,
    _check_has_df,
    _match_dls,
    _match_docs,
    _phrase_match_counts,
    _topk,
    QueryPlan,
    TermdictFrontEnd,
    field_avgdl_map,
    load_deletes,
    pinned_dataset,
    plan_bool,
    plan_fielded,
    plan_spec,
    plan_terms,
    pseudo_candidates,
    score_segment,
    segment_bounds,
    term_filter,
)
from .index_build import bm25_idf, bm25_tf_weight


def _list_np(list_scalar, dtype) -> np.ndarray:
    """pyarrow ListScalar -> numpy without per-element Python objects."""
    return list_scalar.values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)


class _CacheRow:
    """Adapter: one pyarrow table row → the attribute shape _BlockCache
    expects, with arrow-native list extraction (no per-element as_py)."""

    __slots__ = (
        "term", "segment", "df", "blob", "block_last", "block_off",
        "block_max_tf", "block_min_dl",
    )

    def __init__(self, tbl, i: int):
        self.term = tbl["term"][i].as_py()
        self.segment = tbl["segment"][i].as_py()
        self.df = tbl["df"][i].as_py()
        self.blob = tbl["blob"][i].as_py()
        self.block_last = _list_np(tbl["block_last"][i], np.int64)
        self.block_off = _list_np(tbl["block_off"][i], np.int32)
        self.block_max_tf = _list_np(tbl["block_max_tf"][i], np.int64)
        self.block_min_dl = _list_np(tbl["block_min_dl"][i], np.int64)

    def nbytes(self) -> int:
        return (
            len(self.blob) + self.block_last.nbytes + self.block_off.nbytes
            + self.block_max_tf.nbytes + self.block_min_dl.nbytes
        )


def _put_unique(d: dict, key, value) -> None:
    """Insert enforcing the one-row-per-(term, segment) invariant."""
    if key in d:
        raise ValueError(
            f"corrupt index: multiple postings rows for term {key!r} in one "
            "segment (was the index extended with a misaligned id_base?)"
        )
    d[key] = value


class LocalSearcher(TermdictFrontEnd):
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self._load_snapshot()

    def _load_snapshot(self, manifest: "dict | None" = None) -> None:
        """Pin to the CURRENT manifest generation (see
        IndexSearcher._load_snapshot), or to ``manifest`` when given (a
        worker serving an IndexSearcher's snapshot): table paths resolve
        through the manifest's generation pointers once, postings,
        doclens and nested rows are read below the manifest's bounds
        (bm25.snapshot_bounds), deletes at the manifest's epoch, so
        neither a maintenance publish nor an in-place append changes
        what this searcher serves."""
        from ..layout import load_manifest, table_path

        self.manifest = manifest if manifest is not None else load_manifest(self.index_dir)
        self.n_docs = self.manifest["globals"]["n_docs"]
        self.avgdl = self.manifest["globals"]["avgdl"]
        self.n_term_buckets = self.manifest["params"]["n_term_buckets"]
        self._postings = pinned_dataset(self, "postings")
        self._termdict = ds.dataset(
            table_path(self.index_dir, "termdict", self.manifest),
            format="parquet",
            partitioning="hive",
        )
        self._deletes = load_deletes(
            self.index_dir,
            epoch=int(self.manifest.get("deletes_epoch", 0)),
            manifest=self.manifest,
        )
        # bounded decoded-postings cache (the ES page/query-cache
        # analog): hot terms — stopwords above all — stop paying the
        # PFor decode on every query.  Keyed by (term, segment); valid
        # for this searcher's index snapshot.
        self._cache: dict[tuple[str, int], tuple] = {}
        self._cache_bytes = 0
        self._cache_cap = 256 * 1024 * 1024
        # block-level cache (keyed segment → {(term, block_idx): decoded
        # block}, the _blocks of each segment's _BlockCache: WAND windows
        # and block-skip gathers) and positions cache for the phrase
        # path — the p99 of both was dominated by re-decoding hot
        # stopword blocks / position lists on every query.
        self._block_cache: dict[int, dict] = {}
        self._block_cache_blocks = 0
        self._block_cache_max_blocks = 65536
        self._pos_cache: dict[tuple[str, int], tuple] = {}
        self._pos_cache_bytes = 0
        self._pos_cache_cap = 128 * 1024 * 1024
        # term-ROWS cache: term → {segment: _CacheRow} (undecoded blob +
        # block metadata).  The pyarrow dataset scan is the warm-path
        # floor (~20 ms per to_table on a 200k-doc index regardless of
        # OS page cache — row-group stat evaluation + parquet decode);
        # holding hot terms' rows on the heap removes it entirely, the
        # same move as ES/Lucene serving segments out of memory.  Valid
        # for this searcher's pinned snapshot; reload() drops it.
        self._rows_cache: dict[str, dict[int, _CacheRow]] = {}
        self._rows_cache_bytes = 0
        self._rows_cache_cap = 512 * 1024 * 1024
        # doc-values cache: field → (doc_id sorted asc, values aligned)
        # — the ES in-memory doc-values/fielddata analog.  One columnar
        # two-column doclens read per field, then every sort / range
        # filter / aggregation is a numpy lookup.  Pinned to this
        # snapshot; reload() drops it.
        self._doclens_path = table_path(self.index_dir, "doclens", self.manifest)
        self._nested_path = table_path(self.index_dir, "nested", self.manifest)
        self._dv_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._dv_array_fields: set[str] = set()
        self._dv_cache_bytes = 0
        self._dv_cache_cap = 256 * 1024 * 1024

    def reload(self) -> bool:
        """Advance a long-lived serving process to the latest published
        generation (the IndexSearcher.reload_manifest analog — the ES
        index-refresh the reference gets from the cluster,
        hail_scripts/shared/elasticsearch_client_v7.py:109-149).
        Re-reads the manifest; when anything changed (generation flip,
        deletes epoch bump, globals), rebuilds datasets/deletes and
        DROPS all four caches — they are keyed (term, segment) and
        only valid for one snapshot.  No-op (caches kept warm) when the
        manifest is unchanged.  Returns True iff a new snapshot was
        loaded."""
        from ..layout import load_manifest

        new = load_manifest(self.index_dir)
        if new == self.manifest:
            return False
        self._load_snapshot()
        return True

    def _blocks_for(self, seg: int) -> dict:
        if self._block_cache_blocks >= self._block_cache_max_blocks:
            self._block_cache.clear()
            self._block_cache_blocks = 0
        return self._block_cache.setdefault(int(seg), {})

    def _pos_cached(self, term: str, seg: int, pos_blob, tf: np.ndarray) -> tuple:
        key = (term, int(seg))
        hit = self._pos_cache.get(key)
        if hit is not None:
            return hit
        out = codecs.decode_position_lists(
            pos_blob.as_py() if hasattr(pos_blob, "as_py") else pos_blob, tf
        )
        sz = sum(a.nbytes for a in out if a is not None)
        while self._pos_cache and self._pos_cache_bytes + sz > self._pos_cache_cap:
            old = self._pos_cache.pop(next(iter(self._pos_cache)))
            self._pos_cache_bytes -= sum(a.nbytes for a in old if a is not None)
        self._pos_cache[key] = out
        self._pos_cache_bytes += sz
        return out

    def _cache_put(self, term: str, seg: int, out: tuple) -> None:
        key = (term, seg)
        if key in self._cache:
            return
        sz = sum(a.nbytes for a in out if a is not None)
        while self._cache and self._cache_bytes + sz > self._cache_cap:
            old = self._cache.pop(next(iter(self._cache)))  # FIFO eviction
            self._cache_bytes -= sum(a.nbytes for a in old if a is not None)
        self._cache[key] = out
        self._cache_bytes += sz

    def _decode_cached(self, term: str, seg: int, blob) -> tuple:
        hit = self._cache.get((term, seg))
        if hit is not None:
            return hit
        out = codecs.decode_postings(blob.as_py() if hasattr(blob, "as_py") else blob)
        self._cache_put(term, seg, out)
        return out

    def _term_rows(self, terms: list[str], columns: list[str]):
        return self._postings.to_table(
            filter=term_filter(terms, self.n_term_buckets), columns=columns
        )

    SCORING_ROW_COLS = [
        "term", "segment", "df", "blob",
        "block_last", "block_max_tf", "block_min_dl", "block_off",
    ]

    def _rows_for(self, terms: list[str]) -> dict[str, dict[int, "_CacheRow"]]:
        """Hot-row lookup: per term, its posting rows across segments —
        ONE dataset scan for the cache-missing terms only; warm terms
        never touch the dataset again.  Terms absent from the index get
        a negative entry so repeated queries don't re-scan for them."""
        missing = [t for t in terms if t not in self._rows_cache]
        if missing:
            tbl = self._term_rows(missing, self.SCORING_ROW_COLS)
            for i in range(tbl.num_rows):
                row = _CacheRow(tbl, i)
                seg_map = self._rows_cache.setdefault(row.term, {})
                if int(row.segment) in seg_map:
                    raise ValueError(
                        f"corrupt index: multiple postings rows for term "
                        f"{row.term!r} in segment {row.segment}"
                    )
                seg_map[int(row.segment)] = row
                self._rows_cache_bytes += row.nbytes()
            for t in missing:
                self._rows_cache.setdefault(t, {})
            while (
                self._rows_cache_bytes > self._rows_cache_cap
                and len(self._rows_cache) > len(terms)
            ):
                # FIFO eviction of whole terms, skipping this query's
                old_t = next(
                    (t for t in self._rows_cache if t not in set(terms)), None
                )
                if old_t is None:
                    break
                old = self._rows_cache.pop(old_t)
                self._rows_cache_bytes -= sum(r.nbytes() for r in old.values())
        return {t: self._rows_cache[t] for t in terms}

    def search(
        self,
        terms: list[str],
        mode: str = "OR",
        k: int = 10,
        algo: str = "auto",
        min_should_match: int = 1,
    ) -> list[tuple[int, float]]:
        """Top-k BM25 → [(doc_id, score)] by (score desc, doc_id asc).
        Identical accumulation order to IndexSearcher → bit-identical.
        algo mirrors IndexSearcher.search: "auto" (AND → block-skip,
        OR → MaxScore), "bmw", "maxscore", "exhaustive".

        The pruned paths (auto/maxscore/AND-block-skip) add
        CROSS-SEGMENT pruning (the Lucene/ES per-segment max-score
        analog the reference delegates to ES): segments are scored in
        descending bound order and a segment whose bound is strictly
        below the current k-th score is skipped before its posting
        blobs are ever read or decoded — bit-identical because every
        doc in it scores ≤ bound < k-th (strict, so ties are
        impossible).  ``last_segments_skipped`` reports the count."""
        return self._search_pruned(
            plan_terms(self, terms, mode, k, algo, min_should_match)
        )

    def _search_pruned(
        self,
        q: QueryPlan,
        extra_sets: "dict | None" = None,
        part: tuple[int, int] = (0, 1),
    ) -> list[tuple[int, float]]:
        """The one local scoring loop (term, page, fielded, bool and
        batch queries): rows come from the hot term-rows cache
        (_rows_for — cold terms cost one dataset scan, warm terms never
        touch the dataset, whose scan was the warm-path latency floor),
        each segment gets a _BlockCache seeded from the decoded-postings
        and block caches, score_segment picks the kernel, its decodes
        are harvested back into the caches, and a running top-k merges
        the segments.

        Term segments missing a required term are never visited.
        Prunable plans (QueryPlan.prunable) visit segments in
        bound-descending order with a running k-th floor, and a segment
        whose bound cannot reach the floor is skipped before any of its
        blobs are decoded (``last_segments_skipped``).  ``extra_sets``
        maps a bool plan's atom keys to (doc ids, their segments); the
        segments it names are visited even when no query term touches
        them.  ``part=(i, n)`` visits only segments with seg % n == i
        (one task of IndexSearcher's scatter).

        A term with posting rows but no termdict df is a corrupt index
        and raises, whatever the query would otherwise return."""
        self.last_segments_skipped = 0
        rows = self._rows_for(q.terms)
        _check_has_df([t for t in q.terms if rows[t]], q.idf)
        if extra_sets is None and (
            not q.idf or any(t not in q.idf for t in q.required)
        ):
            return []
        bounds, _strong, segs = segment_bounds(
            q,
            (
                (seg, t, r.df, r.block_max_tf.max(), r.block_min_dl.min())
                for t in q.terms
                for seg, r in rows[t].items()
            ),
        )
        if extra_sets is not None:
            segs = set(segs).union(
                *(np.unique(s_of).tolist() for _ids, s_of in extra_sets.values())
            )
        i, n = part
        # bound desc, segment asc for deterministic order on ties
        order = sorted(
            (s for s in segs if s % n == i), key=lambda s: (-bounds.get(s, 0.0), s)
        )
        prune = q.prunable
        acc_d = np.array([], np.int64)
        acc_s = np.array([], np.float64)
        floor = -np.inf
        for seg in order:
            if prune and len(acc_d) >= q.k and bounds[seg] < floor:
                self.last_segments_skipped += 1
                continue
            cache = _BlockCache(rows[t][seg] for t in q.terms if seg in rows[t])
            for t in cache.blob:
                hit = self._cache.get((t, seg))
                if hit is not None:
                    cache._full[t] = hit
            cache._blocks = self._blocks_for(seg)
            n_blocks = len(cache._blocks)
            seg_sets = None
            if extra_sets is not None:
                seg_sets = {
                    rk: ids[s_of == seg] for rk, (ids, s_of) in extra_sets.items()
                }
            docs, scores = score_segment(q, cache, self._deletes.get(seg), seg_sets)
            self._block_cache_blocks += len(cache._blocks) - n_blocks
            for t, out in cache._full.items():
                self._cache_put(t, seg, out)
            acc_d, acc_s = _topk(
                np.concatenate([acc_d, docs]),
                np.concatenate([acc_s, scores]),
                q.k,
            )
            if len(acc_d) >= q.k:
                floor = float(acc_s[-1])
        return list(zip(acc_d.tolist(), acc_s.tolist()))

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> list[tuple[int, float]]:
        """Prefix query — expansion + disjunctive BM25, bit-identical
        to IndexSearcher.search_prefix."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return []
        return self.search(terms, mode="OR", k=k)

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_expansions: int = DEFAULT_FUZZY_EXPANSIONS,
    ) -> list[tuple[int, float]]:
        """Fuzzy query — bit-identical to IndexSearcher.search_fuzzy."""
        terms = self.expand_fuzzy(
            term, max_edits, prefix_length, max_expansions
        )
        if not terms:
            return []
        return self.search(terms, mode="OR", k=k)

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
        field: str | None = None,
    ) -> list[tuple[int, float]]:
        """Regexp query — bit-identical to IndexSearcher.search_regexp."""
        terms = self.expand_regexp(pattern, max_expansions, field)
        if not terms:
            return []
        return self.search(terms, mode="OR", k=k)

    def search_fielded(
        self,
        terms: list[str],
        fields: dict[str, float] | None = None,
        k: int = 10,
        mode: str = "OR",
        tie_breaker: float = 0.0,
    ) -> list[tuple[int, float]]:
        """Multi-field BM25F-lite top-k — bit-identical to
        IndexSearcher.search_fielded (same expansion, same weighted-idf
        fold, same kernels with per-term field avgdl), served from the
        hot-row cache (OR mode adds cross-segment pruning).  mode="BEST"
        is the dis_max / best_fields variant (same kernel as the
        distributed twin)."""
        return self._search_pruned(
            plan_fielded(self, terms, fields, k, mode, tie_breaker)
        )

    def search_page(
        self,
        terms: list[str],
        mode: str = "OR",
        k: int = 10,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Keyset pagination (ES ``search_after``), serving-path twin of
        IndexSearcher.search_page: top-k matches strictly after cursor
        (score, doc_id) in (score desc, doc_id asc) order."""
        return self._search_pruned(
            plan_terms(self, terms, mode, k, algo="exhaustive", after=after)
        )

    def warm_top_terms(self, n: int = 256) -> int:
        """ES index-warmer analog: preload the ``n`` highest-df terms —
        rows into the term-rows cache AND decoded postings into the
        decode cache — so a fresh serving process reaches its warm p99
        before real traffic instead of during it.  The df ranking comes
        from the termdict (tiny scan, one row per term, ranked in
        Arrow); stopwords, which dominate cold latency, rank first by
        construction.  Facet tokens are skipped.  Returns the number of
        terms warmed."""
        import pyarrow.compute as pc

        tbl = self._termdict.to_table(columns=["term", "df"])
        tbl = tbl.filter(pc.invert(pc.starts_with(tbl["term"], "__")))
        order = pc.sort_indices(
            tbl, sort_keys=[("df", "descending"), ("term", "ascending")]
        )[: max(0, n)]
        top = pc.take(tbl["term"], order).to_pylist()
        if not top:
            return 0
        rows = self._rows_for(sorted(top))
        # batch decode: one width-grouped unpack across every warmed
        # blob instead of per-blob decode (thousands of small blobs)
        todo = [
            (t, int(seg), r.blob)
            for t, seg_map in rows.items()
            for seg, r in seg_map.items()
            if (t, int(seg)) not in self._cache
        ]
        blobs = [
            b.as_py() if hasattr(b, "as_py") else b for _t, _s, b in todo
        ]
        for (t, seg, _b), decoded in zip(
            todo, codecs.decode_postings_many(blobs)
        ):
            self._cache_put(t, seg, decoded)
        return len(top)

    # ---- doc-value queries: serving twins of the docvalues.py ops ----

    def _docvalues(self, field: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids sorted asc, aligned values) for one doc-value field
        — a two-column columnar doclens read, cached."""
        hit = self._dv_cache.get(field)
        if hit is not None:
            return hit
        from .docvalues import DocValueError

        dset = pinned_dataset(self, "doclens")
        if field not in dset.schema.names:
            raise DocValueError(
                f"{field!r} is not a doc-value field of this index "
                f"(doclens columns: {sorted(n for n in dset.schema.names if n != 'doc_id')})"
            )
        tbl = dset.to_table(columns=["doc_id", field])
        # docs with a NULL value are absent from the column (ES
        # missing-field semantics — aggregations/sorts/ranges skip
        # them); dropping BEFORE to_numpy also keeps integer columns
        # integer instead of NaN-widened float64
        import pyarrow.compute as _pc

        if tbl[field].null_count:
            tbl = tbl.filter(_pc.is_valid(tbl[field]))
        import pyarrow as _pa

        ftype = tbl.schema.field(field).type
        if _pa.types.is_list(ftype) or _pa.types.is_large_list(ftype):
            # multi-valued field: an EMPTY array is missing too (ES
            # semantics); kept values come back as an object array of
            # per-doc numpy arrays
            self._dv_array_fields.add(field)
            tbl = tbl.filter(_pc.greater(_pc.list_value_length(tbl[field]), 0))
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False)
        vals = tbl[field].to_numpy(zero_copy_only=False)
        order = np.argsort(ids, kind="stable")
        out = (ids[order], vals[order])
        nbytes = out[0].nbytes + getattr(out[1], "nbytes", len(out[1]) * 8)
        if self._dv_cache_bytes + nbytes > self._dv_cache_cap:
            self._dv_cache.clear()
            self._dv_cache_bytes = 0
        self._dv_cache[field] = out
        self._dv_cache_bytes += nbytes
        return out

    def matched_ids(self, query=None, mode: str = "OR") -> np.ndarray:
        """Sorted live doc ids matching the query; None = match_all.
        BOOL queries may contain range, phrase and nested atoms (incl.
        pure-range queries — bounded filters of match_all)."""
        return self._ids_partial(self._match_spec(query, mode))

    # ---- partial kernels: each reads only the segments of ``part=(i,
    # n)`` (seg % n == i) and returns a small partial its module-level
    # reducer merges — over part (0, 1) for this searcher's own queries
    # (_gather), over the n parts of IndexSearcher's tasks for the
    # distributed ones (run_partition) ----

    def _gather(self, method: str, *args) -> list:
        """The one partial of ``method`` over every segment."""
        return [getattr(self, method)(*args)]

    def _segments_of(self, ids: np.ndarray) -> np.ndarray:
        g, p = self.manifest["globals"], self.manifest["params"]
        return (ids // int(g["docs_per_part"])) // int(p["seg_group"])

    def _segment_matches(self, spec, part: tuple[int, int] = (0, 1)):
        """Per segment of ``part``, ascending: (segment, its live doc ids
        matching ``spec``, [(docs, dls)] of the query terms it holds) —
        the one match-set kernel behind every partial below.  ``spec``
        is TermdictFrontEnd._match_spec's (ast, terms, mode); range,
        phrase and nested atoms resolve through _atom_sets."""
        ast, qterms, mode = spec
        atoms = self._atom_sets(ast, part) or {}
        rows = self._rows_for(qterms) if qterms else {}
        segs = {s for m in rows.values() for s in m}
        for _ids, s_of in atoms.values():
            segs.update(np.unique(s_of).tolist())
        i, n = part
        for seg in sorted(s for s in segs if s % n == i):
            qdocs, decoded = {}, []
            for t in qterms:
                r = rows[t].get(seg)
                if r is not None:
                    d, _tf, dl = self._decode_cached(t, seg, r.blob)
                    qdocs[t] = d
                    decoded.append((d, dl))
            for rk, (ids, s_of) in atoms.items():
                qdocs[rk] = ids[s_of == seg]
            matches = _match_docs(qdocs, qterms, mode, ast)
            dead = self._deletes.get(seg)
            if dead is not None and dead.size and matches.size:
                matches = matches[~np.isin(matches, dead, assume_unique=True)]
            if matches.size:
                yield seg, matches, decoded

    def _ids_partial(self, spec, part: tuple[int, int] = (0, 1)) -> np.ndarray:
        """Ascending live doc ids of ``part`` matching ``spec`` (None:
        every live doc) — matched_ids' partial; segments hold disjoint,
        ascending id ranges, so the reducer is a concatenation."""
        if spec is None:
            ids, _ = self._docvalues("doc_len")
            ids = ids[self._segments_of(ids) % part[1] == part[0]]
            dead_all = [d for d in self._deletes.values() if d is not None and d.size]
            if dead_all:
                ids = ids[~np.isin(ids, np.concatenate(dead_all))]
            return ids
        parts = [m for _seg, m, _dec in self._segment_matches(spec, part)]
        return np.concatenate(parts) if parts else np.array([], np.int64)

    def _count_partial(self, specs: dict, part: tuple[int, int] = (0, 1)) -> dict:
        """{name: live match count in ``part``} of named specs (search_count, search_filters)."""
        return {name: int(self._ids_partial(spec, part).size) for name, spec in specs.items()}

    def _adjacency_partial(self, compiled: list, part: tuple[int, int] = (0, 1)) -> dict:
        """{key: count} in ``part`` of each named filter
        (bm25.adjacency_filters) and of every non-empty pairwise
        intersection, keyed ``a&b`` (names sorted)."""
        from itertools import combinations

        sets = {name: self._ids_partial((ast, ts, "BOOL"), part) for name, ast, ts in compiled}
        out = {name: int(ids.size) for name, ids in sets.items()}
        for a, b in combinations(sorted(sets), 2):
            n = np.intersect1d(sets[a], sets[b], assume_unique=True).size
            if n:
                out[f"{a}&{b}"] = int(n)
        return out

    def _matched_dls(self, spec, part: tuple[int, int]) -> np.ndarray:
        """Doc lengths of ``part``'s matches, from the dl streams of the
        query terms' postings (no doclens read)."""
        dls = [_match_dls(dec, m) for _seg, m, dec in self._segment_matches(spec, part)]
        return np.concatenate(dls) if dls else np.array([], np.int64)

    def _stats_partial(self, spec, part: tuple[int, int] = (0, 1)) -> tuple:
        """(n, sum, min, max) of ``part``'s match doc lengths."""
        dls = self._matched_dls(spec, part)
        if not dls.size:
            return 0, 0, None, None
        return int(dls.size), int(dls.sum()), int(dls.min()), int(dls.max())

    def _histogram_partial(self, spec, interval: int, part: tuple[int, int] = (0, 1)) -> dict:
        """{bucket: count} of ``part``'s match doc lengths."""
        b, c = np.unique(self._matched_dls(spec, part) // interval * interval, return_counts=True)
        return dict(zip(b.tolist(), c.tolist()))

    def _facet_partial(self, spec, field_of: dict, part: tuple[int, int] = (0, 1)) -> dict:
        """{(field, value): count} of the facet tokens ``field_of`` (token
        → field) among ``part``'s matches."""
        rows = self._rows_for(sorted(field_of))
        counts: dict = {}
        for seg, matches, _dec in self._segment_matches(spec, part):
            for t, f in field_of.items():
                r = rows[t].get(seg)
                if r is None:
                    continue
                fd = self._decode_cached(t, seg, r.blob)[0]
                n = int(np.isin(fd, matches, assume_unique=True).sum())
                if n:
                    key = (f, t[len(f"__{f}_") : -2])
                    counts[key] = counts.get(key, 0) + n
        return counts

    def _score_partial(self, plans: list[QueryPlan], part: tuple[int, int] = (0, 1)):
        """Each plan's top-k over ``part`` — rows (doc_id, score), with
        query_id first for batch plans — and the segments skipped by
        bound: IndexSearcher._scatter's task."""
        rows: list[tuple] = []
        skipped = 0
        for q in plans:
            hits = self._search_pruned(q, self._atom_sets(q.ast, part), part)
            skipped += self.last_segments_skipped
            tag = () if q.query_id is None else (q.query_id,)
            rows += [(*tag, d, sc) for d, sc in hits]
        return rows, skipped

    def _pseudo_rows(self, spec: tuple, part: tuple[int, int]):
        """(docs, tfs, dls) of every live match in ``part`` of a
        pseudo-term spec: ("phrase", tokens, slop, prefix expansions or
        None) — a phrase chain — or ("span_first", term, end)."""
        kind, *args = spec
        if kind == "span_first":
            return self._span_first_rows(*args, part=part)
        return self._phrase_match_rows(*args, part=part)

    def _pseudo_partial(self, specs: list, ks: list, part: tuple[int, int] = (0, 1)) -> list:
        """Per spec, its bm25.pseudo_candidates in ``part``: the match
        count and the top-k docs by their tf/dl factor w, ties kept."""
        out = []
        for spec, k in zip(specs, ks):
            docs, tfs, dls = self._pseudo_rows(spec, part)
            out.append(pseudo_candidates(docs, bm25_tf_weight(tfs, dls, self.avgdl), k))
        return out

    def _many_partial(
        self, plans: list[QueryPlan], specs: list, ks: list, part: tuple[int, int] = (0, 1)
    ) -> tuple:
        """search_many in ``part``: the plans' (query_id, doc_id, score)
        rows and the phrase specs' pseudo-term candidates."""
        return self._score_partial(plans, part)[0], self._pseudo_partial(specs, ks, part)

    def _rescore_partial(
        self, q: QueryPlan, phrase: list[str], slop: int, part: tuple[int, int] = (0, 1)
    ) -> tuple:
        """search_rescore in ``part``: the base plan's top window rows,
        the phrase's match count, and the window docs it matches with
        their factor w."""
        base = self._search_pruned(q, part=part)
        docs, tfs, dls = self._phrase_match_rows(phrase, slop, part=part)
        win = np.isin(docs, np.array([d for d, _s in base], np.int64))
        return base, int(docs.size), docs[win], bm25_tf_weight(tfs[win], dls[win], self.avgdl)

    def _dv_lookup(
        self, field: str, ids: np.ndarray, allow_array: bool = False
    ) -> tuple[np.ndarray, np.ndarray]:
        """(present_mask aligned with ``ids``, values aligned with
        ``ids[present_mask]``) — docs whose field is NULL (or an empty
        array) are absent from the doc-value column (ES missing-field
        semantics), so callers must drop them from the matched set.
        Scalar-only callers reject multi-valued fields loudly."""
        from .docvalues import DocValueError

        all_ids, vals = self._docvalues(field)
        if not allow_array and field in self._dv_array_fields:
            raise DocValueError(
                f"{field!r} is a multi-valued (array) doc-value field — "
                "this operation takes single-valued fields"
            )
        idx = np.searchsorted(all_ids, ids)
        ok = idx < len(all_ids)
        ok[ok] = all_ids[idx[ok]] == ids[ok]
        return ok, vals[idx[ok]]

    def search_sorted(
        self, query, by: str, ascending: bool = False, k: int = 10,
        mode: str = "OR", after=None,
    ) -> list[tuple]:
        """ES sort-by-field — serving twin of IndexSearcher.search_sorted:
        [(doc_id, value)] ordered by (value asc/desc, doc_id asc).
        ``after=(value, doc_id)`` = search_after pagination."""
        import pandas as pd

        ids = np.sort(self.matched_ids(query, mode))
        present, vals = self._dv_lookup(by, ids)
        ids = ids[present]
        if not ids.size:
            return []
        if after is not None:
            av, aid = after
            if np.issubdtype(vals.dtype, np.datetime64):
                av = np.datetime64(pd.Timestamp(av))
            m = (vals > av) if ascending else (vals < av)
            m |= (vals == av) & (ids > int(aid))
            ids, vals = ids[m], vals[m]
        df = pd.DataFrame({"doc_id": ids, "v": vals}).sort_values(
            ["v", "doc_id"], ascending=[ascending, True], kind="mergesort"
        ).head(int(k))
        return list(zip(df["doc_id"].tolist(), df["v"].tolist()))

    def search_range(
        self, query, field: str, lo=None, hi=None, mode: str = "OR",
        k: int = 10,
    ) -> list[tuple[int, float]]:
        """BM25 top-k with a range filter clause — serving twin of
        docvalues.search_range, bit-identical scores (same exhaustive
        _msm_scores kernel, same global idf/avgdl, filter context)."""
        from .bm25 import _msm_scores
        from .docvalues import DocValueError

        if lo is None and hi is None:
            raise DocValueError("range filter needs at least one bound")
        mode_u = mode.upper()
        if mode_u not in ("OR", "AND"):
            raise ValueError("search_range supports OR/AND term queries")
        qterms = sorted(set(query))
        if not qterms:
            return []
        all_ids, vals = self._docvalues(field)
        if np.issubdtype(vals.dtype, np.datetime64):
            import pandas as pd

            lo = None if lo is None else np.datetime64(pd.Timestamp(lo))
            hi = None if hi is None else np.datetime64(pd.Timestamp(hi))
        keep = np.ones(len(all_ids), dtype=bool)
        if lo is not None:
            keep &= vals >= lo
        if hi is not None:
            keep &= vals <= hi
        allowed = all_ids[keep]
        if not allowed.size:
            return []
        dfs = self.global_dfs(qterms)
        rows = self._rows_for(qterms)
        _check_has_df([t for t in qterms if rows[t]], dfs)
        if not dfs or (mode_u == "AND" and any(t not in dfs for t in qterms)):
            return []
        idf = {t: bm25_idf(self.n_docs, d) for t, d in dfs.items()}
        avgdl = field_avgdl_map(self.manifest, qterms)
        msm = len(qterms) if mode_u == "AND" else 1
        acc_d, acc_s = [], []
        for seg in sorted({s for m in rows.values() for s in m}):
            postings = {
                t: self._decode_cached(t, seg, rows[t][seg].blob)
                for t in qterms
                if seg in rows.get(t, {})
            }
            docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
            if not docs.size:
                continue
            m = np.isin(docs, allowed, assume_unique=True)
            dead = self._deletes.get(seg)
            if dead is not None and dead.size:
                m &= ~np.isin(docs, dead, assume_unique=True)
            acc_d.append(docs[m])
            acc_s.append(scores[m])
        if not acc_d:
            return []
        docs, scores = _topk(np.concatenate(acc_d), np.concatenate(acc_s), k)
        return list(zip(docs.tolist(), scores.tolist()))

    def nested_match_ids(self, field: str, conditions: dict) -> np.ndarray:
        """Sorted live doc ids with ≥1 nested object satisfying ALL
        conditions — serving twin of IndexSearcher.nested_match_ids."""
        from . import nested as nst

        ids = nst.local_match_ids(self, field, conditions)
        dead_all = [
            d for d in self._deletes.values() if d is not None and d.size
        ]
        if dead_all and ids.size:
            dead = np.unique(np.concatenate(dead_all))
            ids = ids[~np.isin(ids, dead)]
        return ids

    def search_nested_terms(
        self, query, field: str, leaf: str, size: int = 10,
        mode: str = "OR", count: str = "docs",
    ) -> "list[tuple[str, int]]":
        """ES nested terms aggregation — serving twin (see
        operators/nested.local_nested_terms)."""
        from . import nested as nst

        return nst.local_nested_terms(
            self, query, field, leaf, size, mode, count
        )

    def nested_inner_hits(
        self, field: str, conditions: dict
    ) -> "list[tuple[int, int]]":
        """ES inner_hits — serving twin of
        IndexSearcher.nested_inner_hits: sorted (doc_id, obj) pairs of
        live objects satisfying ALL conditions."""
        from . import nested as nst

        return nst.local_inner_hits(self, field, conditions)

    def search_nested(
        self, query, field: str, conditions: dict, mode: str = "OR",
        k: int = 10,
    ) -> list[tuple[int, float]]:
        """BM25 top-k with an ES ``nested`` filter clause (all
        conditions within the SAME object) — serving twin of
        operators/nested.search_nested, bit-identical scores (same
        exhaustive _msm_scores kernel, filter context)."""
        from . import nested as nst
        from .bm25 import _msm_scores

        mode_u = mode.upper()
        if mode_u not in ("OR", "AND"):
            raise ValueError("search_nested supports OR/AND term queries")
        qterms = sorted(set(query))
        if not qterms:
            return []
        allowed = nst.local_match_ids(self, field, conditions)
        if not allowed.size:
            return []
        dfs = self.global_dfs(qterms)
        rows = self._rows_for(qterms)
        _check_has_df([t for t in qterms if rows[t]], dfs)
        if not dfs or (mode_u == "AND" and any(t not in dfs for t in qterms)):
            return []
        idf = {t: bm25_idf(self.n_docs, d) for t, d in dfs.items()}
        avgdl = field_avgdl_map(self.manifest, qterms)
        msm = len(qterms) if mode_u == "AND" else 1
        acc_d, acc_s = [], []
        for seg in sorted({s for m in rows.values() for s in m}):
            postings = {
                t: self._decode_cached(t, seg, rows[t][seg].blob)
                for t in qterms
                if seg in rows.get(t, {})
            }
            docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
            if not docs.size:
                continue
            m = np.isin(docs, allowed, assume_unique=True)
            dead = self._deletes.get(seg)
            if dead is not None and dead.size:
                m &= ~np.isin(docs, dead, assume_unique=True)
            acc_d.append(docs[m])
            acc_s.append(scores[m])
        if not acc_d:
            return []
        docs, scores = _topk(np.concatenate(acc_d), np.concatenate(acc_s), k)
        return list(zip(docs.tolist(), scores.tolist()))

    @staticmethod
    def _trunc_time(vals: np.ndarray, unit: str) -> np.ndarray:
        """Calendar truncation matching Spark date_trunc: hour/day are
        floors, week is the preceding Monday 00:00, month the 1st."""
        import pandas as pd

        s = pd.Series(vals)
        if unit == "hour":
            return s.dt.floor("h").to_numpy()
        if unit == "day":
            return s.dt.normalize().to_numpy()
        if unit == "week":
            d = s.dt.normalize()
            return (d - pd.to_timedelta(d.dt.weekday, unit="D")).to_numpy()
        if unit == "month":
            return s.dt.normalize().to_numpy().astype("datetime64[M]").astype("datetime64[us]")
        from .docvalues import CALENDAR_UNITS, DocValueError

        raise DocValueError(
            f"timestamp bucketing takes a calendar unit {CALENDAR_UNITS}, got {unit!r}"
        )

    def search_value_histogram(
        self, query, field: str, interval, mode: str = "OR",
        cumulative: bool = False,
    ) -> list[tuple]:
        """Histogram / date_histogram on a doc-value field — serving
        twin: [(bucket, doc_count)] sorted by bucket.
        ``cumulative=True`` = the cumulative_sum pipeline agg."""
        from .docvalues import DocValueError

        ids = self.matched_ids(query, mode)
        vals = self._dv_lookup(field, np.sort(ids))[1]
        if not vals.size:
            return []
        if np.issubdtype(vals.dtype, np.datetime64):
            buckets = self._trunc_time(vals, interval)
        else:
            iv = int(interval)
            if iv <= 0:
                raise DocValueError("numeric interval must be a positive int")
            buckets = vals.astype(np.int64) // iv * iv
        b, c = np.unique(buckets, return_counts=True)
        if cumulative:
            c = np.cumsum(c)
        return list(zip(b.tolist(), c.tolist()))

    def histogram_pipeline(
        self, query, field: str, interval, mode: str = "OR", *,
        dense: bool = False,
        cumulative: bool = False, derivative: bool = False,
        moving_avg: "int | None" = None, serial_diff: "int | None" = None,
        min_doc_count: "int | None" = None,
        sort_by: "tuple[str, str] | None" = None, size: "int | None" = None,
    ) -> list[tuple]:
        """ES pipeline aggregations over a histogram parent — serving
        twin of docvalues.histogram_pipeline: same column order
        (bucket, doc_count[, cum_count][, derivative][, moving_avg]
        [, serial_diff]), same evaluation order (pipeline metrics →
        bucket_selector → bucket_sort), same exact integer window sums
        (moving_avg = Σwindow/|window| over int64, bit-identical to the
        distributed F.avg of longs)."""
        from .docvalues import _SORTABLE, DocValueError

        rows = self.search_value_histogram(query, field, interval, mode)
        if dense and rows:
            import pandas as pd

            from .docvalues import CALENDAR_UNITS

            if interval in CALENDAR_UNITS:
                freq = {"hour": "h", "day": "D", "week": "7D", "month": "MS"}[
                    interval
                ]
                present = {pd.Timestamp(b): v for b, v in rows}
                spine = pd.date_range(
                    pd.Timestamp(rows[0][0]), pd.Timestamp(rows[-1][0]),
                    freq=freq,
                )
                rows = [
                    (b.to_pydatetime(), present.get(b, 0)) for b in spine
                ]
            else:
                present = dict(rows)
                iv = int(interval)
                rows = [
                    (b, present.get(b, 0))
                    for b in range(int(rows[0][0]), int(rows[-1][0]) + 1, iv)
                ]
        buckets = [r[0] for r in rows]
        c = np.asarray([r[1] for r in rows], dtype=np.int64)
        cols: dict[str, list] = {
            "bucket": buckets,
            "doc_count": c.tolist(),
        }
        if cumulative:
            cols["cum_count"] = np.cumsum(c).tolist()
        if derivative:
            cols["derivative"] = [None] + (c[1:] - c[:-1]).astype(
                np.float64
            ).tolist()
        if moving_avg is not None:
            mw = int(moving_avg)
            if mw <= 0:
                raise DocValueError("moving_avg window must be a positive int")
            cs = np.concatenate([[0], np.cumsum(c)])
            mv = []
            for i in range(c.size):
                lo = max(0, i - mw + 1)
                mv.append(float(cs[i + 1] - cs[lo]) / (i + 1 - lo))
            cols["moving_avg"] = mv
        if serial_diff is not None:
            lag_n = int(serial_diff)
            if lag_n <= 0:
                raise DocValueError("serial_diff lag must be a positive int")
            cols["serial_diff"] = [None] * min(lag_n, c.size) + (
                c[lag_n:] - c[:-lag_n]
            ).astype(np.float64).tolist()
        names = list(cols)
        out = [tuple(cols[n][i] for n in names) for i in range(c.size)]
        if min_doc_count is not None:
            m = int(min_doc_count)
            out = [r for r in out if r[1] >= m]
        if sort_by is not None:
            col, direction = sort_by
            if col not in names or col not in _SORTABLE:
                raise DocValueError(
                    f"bucket_sort key {col!r} is not a computed column "
                    f"(have {names})"
                )
            if direction not in ("asc", "desc"):
                raise DocValueError("bucket_sort direction must be asc|desc")
            j = names.index(col)
            if col == "bucket":
                out.sort(key=lambda r: r[0], reverse=(direction == "desc"))
            else:
                # numeric keys; Spark NULL order (asc NULLS FIRST, desc
                # NULLS LAST) == treating NULL as -inf in both, so
                # negating the filled value for desc puts NULLs last
                sgn = 1.0 if direction == "asc" else -1.0
                out.sort(
                    key=lambda r: (
                        sgn * (float("-inf") if r[j] is None else float(r[j])),
                        r[0],
                    )
                )
        if size is not None:
            out = out[: int(size)]
        return out

    def bucket_stat(
        self, query, field: str, interval, stat: str, mode: str = "OR"
    ) -> list[tuple]:
        """ES sibling pipeline aggs (max/min/avg/sum _bucket) — serving
        twin of docvalues.bucket_stat: [(bucket, value)], max/min emit
        every tying bucket ascending, avg/sum one (None, value) row."""
        from .docvalues import DocValueError

        stat_l = str(stat).lower()
        if stat_l not in ("max", "min", "avg", "sum"):
            raise DocValueError("bucket_stat takes stat in {max, min, avg, sum}")
        rows = self.search_value_histogram(query, field, interval, mode)
        c = np.asarray([r[1] for r in rows], dtype=np.int64)
        if stat_l == "sum":
            return [(None, float(c.sum()) if c.size else None)]
        if stat_l == "avg":
            return [(None, float(c.sum()) / c.size if c.size else None)]
        if not c.size:
            return []
        ext = c.max() if stat_l == "max" else c.min()
        return [(b, float(n)) for b, n in rows if n == ext]

    def search_percentiles(
        self, query, field: str, percents=(0.25, 0.5, 0.75, 0.95),
        mode: str = "OR",
    ) -> list[tuple[float, float]]:
        """ES percentiles aggregation — serving twin: [(pct, value)]
        ordered by pct; np.quantile linear interpolation matches the
        distributed Spark ``percentile`` bit-for-bit."""
        from .docvalues import DocValueError

        pcts = [float(p) for p in percents]
        if not pcts or any(not 0.0 <= p <= 1.0 for p in pcts):
            raise DocValueError("percents must be fractions in [0, 1]")
        ids = self.matched_ids(query, mode)
        vals = self._dv_lookup(field, np.sort(ids))[1]
        if np.issubdtype(vals.dtype, np.datetime64):
            raise DocValueError(
                "percentiles takes a numeric doc-value field — epoch-cast "
                "timestamp fields upstream"
            )
        if not vals.size:
            return []
        qs = np.quantile(vals.astype(np.float64), pcts, method="linear")
        return sorted(zip(pcts, qs.tolist()))

    def search_range_buckets(
        self, query, field: str, ranges, mode: str = "OR"
    ) -> list[tuple[str, int]]:
        """ES range aggregation — serving twin: [(key, doc_count)]
        ordered by key; [lo, hi) buckets, either bound None, overlaps
        and empty buckets per ES."""
        import pandas as pd

        from .docvalues import check_range_buckets

        rngs = check_range_buckets(ranges)
        ids = self.matched_ids(query, mode)
        vals = (
            self._dv_lookup(field, np.sort(ids))[1]
            if ids.size
            else np.array([], np.float64)
        )
        is_time = np.issubdtype(vals.dtype, np.datetime64)
        out = []
        for key, lo, hi in rngs:
            if is_time:
                lo = None if lo is None else np.datetime64(pd.Timestamp(lo))
                hi = None if hi is None else np.datetime64(pd.Timestamp(hi))
            m = np.ones(len(vals), bool)
            if lo is not None:
                m &= vals >= lo
            if hi is not None:
                m &= vals < hi
            out.append((key, int(m.sum())))
        return sorted(out)

    def search_collapse(
        self, query, field: str, k: int = 10, mode: str = "OR"
    ) -> list[tuple]:
        """ES field collapsing — serving twin of
        docvalues.search_collapse: [(value, doc_id, score)] keeping
        only the best-scoring live hit per distinct field value, by
        (score desc, doc_id asc); scores bit-identical to the
        distributed path (same exhaustive _msm_scores kernel)."""
        import pandas as pd

        from .bm25 import _msm_scores

        mode_u = mode.upper()
        if mode_u not in ("OR", "AND"):
            raise ValueError("search_collapse supports OR/AND term queries")
        qterms = sorted(set(query))
        if not qterms:
            return []
        dfs = self.global_dfs(qterms)
        rows = self._rows_for(qterms)
        _check_has_df([t for t in qterms if rows[t]], dfs)
        if not dfs or (mode_u == "AND" and any(t not in dfs for t in qterms)):
            return []
        idf = {t: bm25_idf(self.n_docs, d) for t, d in dfs.items()}
        avgdl = field_avgdl_map(self.manifest, qterms)
        msm = len(qterms) if mode_u == "AND" else 1
        acc_d, acc_s = [], []
        for seg in sorted({s for m in rows.values() for s in m}):
            postings = {
                t: self._decode_cached(t, seg, rows[t][seg].blob)
                for t in qterms
                if seg in rows.get(t, {})
            }
            docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
            if not docs.size:
                continue
            dead = self._deletes.get(seg)
            if dead is not None and dead.size:
                m = ~np.isin(docs, dead, assume_unique=True)
                docs, scores = docs[m], scores[m]
            acc_d.append(docs)
            acc_s.append(scores)
        if not acc_d:
            return []
        docs = np.concatenate(acc_d)
        scores = np.concatenate(acc_s)
        present, values = self._dv_lookup(field, docs)
        pdf = pd.DataFrame(
            {
                "value": values,
                "doc_id": docs[present],
                "score": scores[present],
            }
        ).sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
        pdf = pdf.drop_duplicates("value", keep="first").head(int(k))
        return list(
            zip(pdf["value"].tolist(), pdf["doc_id"].tolist(), pdf["score"].tolist())
        )

    def search_field_stats(
        self, query, field: str, mode: str = "OR", extended: bool = False
    ) -> dict:
        """ES stats / extended_stats on a numeric doc-value field —
        serving twin: {n_hits, min_v, max_v, sum_v, avg_v} (+
        variance_pop/std_pop when extended)."""
        from .docvalues import DocValueError

        ids = self.matched_ids(query, mode)
        vals = self._dv_lookup(field, np.sort(ids))[1]
        if np.issubdtype(vals.dtype, np.datetime64):
            raise DocValueError(
                "field stats take a numeric doc-value field — epoch-cast "
                "timestamp fields upstream"
            )
        if not vals.size:
            base = {
                "n_hits": 0, "min_v": None, "max_v": None,
                "sum_v": None, "avg_v": None,
            }
            if extended:
                base.update({"variance_pop": None, "std_pop": None})
            return base
        out = {
            "n_hits": int(len(vals)),
            "min_v": vals.min().item(),
            "max_v": vals.max().item(),
            "sum_v": vals.sum().item(),
            "avg_v": float(vals.sum().item() / len(vals)),
        }
        if extended:
            v = vals.astype(np.float64)
            out["variance_pop"] = float(np.var(v))
            out["std_pop"] = float(np.std(v))
        return out

    def search_grouped_tophits(
        self, query, field: str, n_buckets: int = 5, per_bucket: int = 3,
        mode: str = "OR",
    ) -> list[tuple]:
        """ES terms agg + top_hits sub-agg — serving twin of
        docvalues.search_grouped_tophits: [(value, rank, doc_id,
        score)] — top n_buckets values by best hit, each with its top
        per_bucket hits, ordered (bucket best desc, value asc, rank)."""
        import pandas as pd

        from .bm25 import _msm_scores

        mode_u = mode.upper()
        if mode_u not in ("OR", "AND"):
            raise ValueError(
                "search_grouped_tophits supports OR/AND term queries"
            )
        qterms = sorted(set(query))
        if not qterms:
            return []
        dfs = self.global_dfs(qterms)
        rows = self._rows_for(qterms)
        _check_has_df([t for t in qterms if rows[t]], dfs)
        if not dfs or (mode_u == "AND" and any(t not in dfs for t in qterms)):
            return []
        idf = {t: bm25_idf(self.n_docs, d) for t, d in dfs.items()}
        avgdl = field_avgdl_map(self.manifest, qterms)
        msm = len(qterms) if mode_u == "AND" else 1
        acc_d, acc_s = [], []
        for seg in sorted({s for m in rows.values() for s in m}):
            postings = {
                t: self._decode_cached(t, seg, rows[t][seg].blob)
                for t in qterms
                if seg in rows.get(t, {})
            }
            docs, scores = _msm_scores(postings, qterms, idf, avgdl, msm)
            if not docs.size:
                continue
            dead = self._deletes.get(seg)
            if dead is not None and dead.size:
                m = ~np.isin(docs, dead, assume_unique=True)
                docs, scores = docs[m], scores[m]
            acc_d.append(docs)
            acc_s.append(scores)
        if not acc_d:
            return []
        docs = np.concatenate(acc_d)
        scores = np.concatenate(acc_s)
        present, values = self._dv_lookup(field, docs)
        pdf = pd.DataFrame(
            {
                "value": values,
                "doc_id": docs[present],
                "score": scores[present],
            }
        ).sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
        hits = pdf.groupby("value", sort=False).head(int(per_bucket)).copy()
        hits["rank"] = hits.groupby("value", sort=False).cumcount() + 1
        best = (
            hits.groupby("value", sort=False)["score"]
            .max()
            .reset_index(name="best")
            .sort_values(["best", "value"], ascending=[False, True], kind="mergesort")
            .head(int(n_buckets))
        )
        out = hits.merge(best, on="value").sort_values(
            ["best", "value", "rank"], ascending=[False, True, True], kind="mergesort"
        )
        return list(
            zip(
                out["value"].tolist(),
                out["rank"].tolist(),
                out["doc_id"].tolist(),
                out["score"].tolist(),
            )
        )

    def search_cardinality(self, query, field: str, mode: str = "OR") -> int:
        """Exact distinct doc-value count among matching live docs."""
        ids = self.matched_ids(query, mode)
        if not ids.size:
            return 0
        vals = self._dv_lookup(field, np.sort(ids), allow_array=True)[1]
        if field in self._dv_array_fields:
            if not len(vals):
                return 0
            vals = np.concatenate(list(vals))
        return int(len(np.unique(vals)))

    def significant_terms(
        self, query, field: str, size: int = 10, mode: str = "OR"
    ) -> list[tuple]:
        """significant_terms by relative-frequency lift — serving twin:
        [(value, fg_count, bg_count, lift)] by (lift desc, value asc)."""
        fg_ids = np.sort(self.matched_ids(query, mode))
        if not fg_ids.size:
            return []
        bg_ids = self.matched_ids(None)

        def _vals(ids):
            v = self._dv_lookup(field, ids, allow_array=True)[1]
            if field in self._dv_array_fields:
                v = (
                    np.concatenate([np.unique(x) for x in v])
                    if len(v)
                    else np.array([], dtype=object)
                )
            return v

        fg_v, fg_c = np.unique(_vals(fg_ids), return_counts=True)
        bg_v, bg_c = np.unique(_vals(bg_ids), return_counts=True)
        bg_map = dict(zip(bg_v.tolist(), bg_c.tolist()))
        fg_total, bg_total = int(fg_c.sum()), int(bg_c.sum())
        out = []
        for v, c in zip(fg_v.tolist(), fg_c.tolist()):
            bc = bg_map.get(v)
            if bc is None:
                continue
            out.append((v, int(c), int(bc), (c / fg_total) / (bc / bg_total)))
        out.sort(key=lambda r: (-r[3], r[0]))
        return out[: int(size)]

    def search_decay(
        self, query, field: str, origin, scale: float, decay: float = 0.5,
        offset: float = 0.0, fn: str = "gauss", mode: str = "OR",
        k: int = 10,
    ) -> list[tuple[int, float]]:
        """function_score decay — serving twin of
        docvalues.search_decay, bit-identical (same exhaustive scoring
        kernel, same float64 decay_factors; docs missing the field
        keep factor 1.0 per ES)."""
        from .bm25 import _topk
        from .docvalues import check_decay, decay_factors, dv_float, origin_float

        check_decay(fn, scale, decay, offset)
        mode_u = mode.upper()
        if mode_u == "BOOL":
            # boolean filter + decay ("recent docs matching the
            # filter"); k=n_docs keeps every path exact — the floor
            # never rises, so nothing prunes
            full = self.search_bool(query, k=self.n_docs)
        elif mode_u in ("OR", "AND"):
            qterms = sorted(set(query))
            if not qterms:
                return []
            full = self.search(
                qterms, mode=mode_u, k=self.n_docs, algo="exhaustive"
            )
        else:
            raise ValueError("search_decay supports OR/AND term queries or BOOL")
        if not full:
            return []
        docs = np.fromiter((d for d, _ in full), np.int64, len(full))
        scores = np.fromiter((s for _, s in full), np.float64, len(full))
        present, vals = self._dv_lookup(field, docs)
        is_time = np.issubdtype(vals.dtype, np.datetime64)
        factors = np.ones(len(docs), dtype=np.float64)
        factors[present] = decay_factors(
            dv_float(vals),
            origin_float(origin, is_time),
            float(scale),
            float(decay),
            float(offset),
            fn,
        )
        docs, scores = _topk(docs, scores * factors, k)
        return list(zip(docs.tolist(), scores.tolist()))

    def search_field_value_factor(
        self, query, field: str, factor: float = 1.0,
        modifier: str = "log1p", missing: float = 1.0, mode: str = "OR",
        k: int = 10,
    ) -> list[tuple[int, float]]:
        """function_score field_value_factor — serving twin of
        docvalues.search_field_value_factor, bit-identical (same
        exhaustive kernel, same float64 modifier; absent docs take the
        ``missing`` substitute)."""
        from .bm25 import _topk
        from .docvalues import (
            FVF_MODIFIERS,
            DocValueError,
            dv_float,
            fvf_factor_values,
        )

        mode_u = mode.upper()
        if mode_u not in ("OR", "AND"):
            raise ValueError(
                "search_field_value_factor supports OR/AND term queries"
            )
        if modifier not in FVF_MODIFIERS:
            raise DocValueError(
                f"field_value_factor modifier must be one of {FVF_MODIFIERS}"
            )
        qterms = sorted(set(query))
        if not qterms:
            return []
        full = self.search(qterms, mode=mode_u, k=self.n_docs, algo="exhaustive")
        if not full:
            return []
        docs = np.fromiter((d for d, _ in full), np.int64, len(full))
        scores = np.fromiter((s for _, s in full), np.float64, len(full))
        present, vals = self._dv_lookup(field, docs)
        if np.issubdtype(vals.dtype, np.datetime64):
            raise DocValueError(
                "field_value_factor takes a numeric doc-value field — use "
                "search_decay for timestamp boosts"
            )
        missing_factor = float(
            fvf_factor_values(np.array([float(missing)]), factor, modifier)[0]
        )
        factors = np.full(len(docs), missing_factor, dtype=np.float64)
        factors[present] = fvf_factor_values(dv_float(vals), factor, modifier)
        docs, scores = _topk(docs, scores * factors, k)
        return list(zip(docs.tolist(), scores.tolist()))

    def search_random_score(
        self, query, seed: int = 0, mode: str = "OR", k: int = 10
    ) -> list[tuple[int, float]]:
        """function_score random_score — serving twin of
        docvalues.search_random_score, bit-identical (same pinned
        two-round minstd hash per doc id)."""
        from .bm25 import _topk
        from .docvalues import random_score_values

        mode_u = mode.upper()
        if mode_u not in ("OR", "AND"):
            raise ValueError("search_random_score supports OR/AND term queries")
        qterms = sorted(set(query))
        if not qterms:
            return []
        full = self.search(qterms, mode=mode_u, k=self.n_docs, algo="exhaustive")
        if not full:
            return []
        docs = np.fromiter((d for d, _ in full), np.int64, len(full))
        scores = np.fromiter((s for _, s in full), np.float64, len(full))
        factors = random_score_values(docs, int(seed))
        docs, scores = _topk(docs, scores * factors, k)
        return list(zip(docs.tolist(), scores.tolist()))

    def search_missing(self, query, field: str, mode: str = "OR") -> int:
        """ES missing aggregation — serving twin of
        docvalues.search_missing: matched live docs with no value for
        ``field``."""
        ids = self.matched_ids(query, mode)
        if not ids.size:
            return 0
        present, _ = self._dv_lookup(field, np.sort(ids), allow_array=True)
        return int(len(ids) - int(present.sum()))

    def _two_field_vals(self, query, f1: str, f2: str, mode: str):
        """(x, y) float64 arrays over matching live docs holding BOTH
        scalar numeric fields — twin of docvalues._two_field_rows."""
        from .docvalues import DocValueError

        ids = np.sort(self.matched_ids(query, mode))
        out = []
        masks = []
        for f in (f1, f2):
            present, vals = self._dv_lookup(f, ids)
            if np.issubdtype(vals.dtype, np.datetime64):
                raise DocValueError(
                    f"{f!r} is a timestamp field — epoch-cast it upstream "
                    "for two-field metric aggregations"
                )
            full = np.zeros(len(ids), dtype=np.float64)
            full[present] = vals.astype(np.float64)
            out.append(full)
            masks.append(present)
        both = masks[0] & masks[1]
        return out[0][both], out[1][both]

    def search_weighted_avg(
        self, query, field: str, weight_field: str, mode: str = "OR"
    ) -> tuple[int, float, float]:
        """ES weighted_avg — serving twin of
        docvalues.search_weighted_avg: (n, weight_sum, wavg); docs
        missing either field are skipped."""
        v, w = self._two_field_vals(query, field, weight_field, mode)
        if not v.size:
            return 0, None, None
        ws = float(np.sum(w))
        return int(v.size), ws, float(np.sum(v * w)) / ws

    def search_matrix_stats(
        self, query, field_x: str, field_y: str, mode: str = "OR"
    ) -> tuple:
        """ES matrix_stats for a field pair — serving twin of
        docvalues.search_matrix_stats: (n, mean_x, mean_y, var_x,
        var_y, cov, corr), population moments from the same raw sums."""
        x, y = self._two_field_vals(query, field_x, field_y, mode)
        if not x.size:
            return 0, None, None, None, None, None, None
        n = float(x.size)
        sx, sy = float(np.sum(x)), float(np.sum(y))
        sxx, syy = float(np.sum(x * x)), float(np.sum(y * y))
        sxy = float(np.sum(x * y))
        mean_x, mean_y = sx / n, sy / n
        var_x = sxx / n - mean_x * mean_x
        var_y = syy / n - mean_y * mean_y
        cov = sxy / n - mean_x * mean_y
        import math

        return (
            int(x.size), mean_x, mean_y, var_x, var_y, cov,
            cov / math.sqrt(var_x * var_y),
        )

    def search_value_terms(
        self, query, field: str, size: int = 10, after=None,
        mode: str = "OR",
    ) -> list[tuple]:
        """ES composite agg (one terms source, after-key paging) —
        serving twin of docvalues.search_value_terms: [(value,
        doc_count)] ascending by value, strictly after ``after``."""
        ids = self.matched_ids(query, mode)
        if not ids.size:
            return []
        vals = self._dv_lookup(field, np.sort(ids), allow_array=True)[1]
        if field in self._dv_array_fields:
            # multi-valued: one count per distinct value per doc
            vals = (
                np.concatenate([np.unique(x) for x in vals])
                if len(vals)
                else np.array([], dtype=object)
            )
        if after is not None and np.issubdtype(vals.dtype, np.datetime64):
            import pandas as pd

            after = np.datetime64(pd.Timestamp(after))
        v, c = np.unique(vals, return_counts=True)
        if after is not None:
            keep = v > after
            v, c = v[keep], c[keep]
        return [
            (val, int(cnt))
            for val, cnt in zip(v[: int(size)].tolist(), c[: int(size)].tolist())
        ]

    def search_multi_terms(
        self, query, fields: list[str], size: int = 10, mode: str = "OR"
    ) -> list[tuple]:
        """ES multi_terms — serving twin of
        docvalues.search_multi_terms: compound-key buckets, docs
        missing any key field skipped, (count desc, keys asc)."""
        from .docvalues import DocValueError

        if len(fields) < 2:
            raise DocValueError("multi_terms needs at least two fields")
        ids = np.sort(self.matched_ids(query, mode))
        if not ids.size:
            return []
        cols, mask = [], np.ones(len(ids), dtype=bool)
        for f in fields:
            present, vals = self._dv_lookup(f, ids)
            full = np.empty(len(ids), dtype=object)
            full[present] = vals.tolist() if hasattr(vals, "tolist") else vals
            mask &= present
            cols.append(full)
        from collections import Counter

        keys = Counter(
            tuple(col[i] for col in cols)
            for i in range(len(ids))
            if mask[i]
        )
        out = sorted(keys.items(), key=lambda t: (-t[1], t[0]))[: int(size)]
        return [(*k, int(c)) for k, c in out]

    def search_top_metrics(
        self, query, sort_field: str, metric_fields: list[str],
        ascending: bool = False, size: int = 1, mode: str = "OR",
    ) -> list[tuple]:
        """ES top_metrics — serving twin of
        docvalues.search_top_metrics: metric values of the top docs by
        a field sort; absent metrics are None."""
        top = self.search_sorted(query, sort_field, ascending, size, mode)
        out = []
        for doc, sv in top:
            docs = np.asarray([doc], np.int64)
            row = [doc, sv]
            for f in metric_fields:
                present, vals = self._dv_lookup(f, docs, allow_array=True)
                row.append(vals[0] if present[0] else None)
            out.append(tuple(row))
        return out

    def search_terms_set(
        self, terms: list[str], m_field: str, k: int = 10
    ) -> list[tuple[int, float]]:
        """ES terms_set — serving twin of docvalues.search_terms_set,
        bit-identical: per-doc required count from the doc's own
        ``m_field`` value (clamped ≥1; docs missing the field never
        match), disjunctive-sum scoring over held terms."""
        from functools import reduce

        from .bm25 import _adl, _mask_deleted, bm25_tf_weight
        from .docvalues import DocValueError, dv_float

        qterms = sorted(set(terms))
        if not qterms:
            return []
        dfs = self.global_dfs(qterms)
        if not dfs:
            return []
        idf = {t: bm25_idf(self.n_docs, d) for t, d in dfs.items()}
        avgdl = field_avgdl_map(self.manifest, qterms)
        rows = self._rows_for(qterms)
        acc_d = np.array([], np.int64)
        acc_s = np.array([], np.float64)
        for seg in sorted({s for m in rows.values() for s in m}):
            postings = {
                t: self._decode_cached(t, seg, rows[t][seg].blob)
                for t in qterms
                if seg in rows.get(t, {})
            }
            postings = _mask_deleted(postings, self._deletes.get(seg))
            present = [t for t in qterms if t in postings]
            if not present:
                continue
            all_docs = reduce(np.union1d, (postings[t][0] for t in present))
            if not all_docs.size:
                continue
            scores = np.zeros(all_docs.size, np.float64)
            nmatch = np.zeros(all_docs.size, np.int64)
            for t in present:
                d, tf, dlen = postings[t]
                idx = np.searchsorted(all_docs, d)
                scores[idx] += idf[t] * bm25_tf_weight(tf, dlen, _adl(avgdl, t))
                nmatch[idx] += 1
            ok, m = self._dv_lookup(m_field, all_docs)
            if np.issubdtype(m.dtype, np.datetime64):
                raise DocValueError("terms_set needs a numeric requirement field")
            keep = ok.copy()
            keep[ok] &= nmatch[ok] >= np.maximum(dv_float(m), 1.0)
            if keep.any():
                acc_d, acc_s = _topk(
                    np.concatenate([acc_d, all_docs[keep]]),
                    np.concatenate([acc_s, scores[keep]]),
                    k,
                )
        return list(zip(acc_d.tolist(), acc_s.tolist()))

    def search_rare_terms(
        self, query, field: str, max_doc_count: int = 1, size: int = 100,
        mode: str = "OR",
    ) -> list[tuple]:
        """ES rare_terms — serving twin of docvalues.search_rare_terms:
        [(value, doc_count)] with doc_count <= max_doc_count, ordered
        (doc_count asc, value asc), exact."""
        from .docvalues import DocValueError

        if int(max_doc_count) <= 0:
            raise DocValueError(
                "rare_terms max_doc_count must be a positive int"
            )
        ids = self.matched_ids(query, mode)
        if not ids.size:
            return []
        vals = self._dv_lookup(field, np.sort(ids), allow_array=True)[1]
        if field in self._dv_array_fields:
            vals = (
                np.concatenate([np.unique(x) for x in vals])
                if len(vals)
                else np.array([], dtype=object)
            )
        v, c = np.unique(vals, return_counts=True)
        keep = c <= int(max_doc_count)
        out = sorted(
            zip(v[keep].tolist(), c[keep].tolist()),
            key=lambda t: (t[1], t[0]),
        )[: int(size)]
        return [(val, int(cnt)) for val, cnt in out]

    def search_bucket_metrics(
        self, query, bucket_field: str, interval, metric_field: str,
        mode: str = "OR",
    ) -> list[tuple]:
        """Bucket + metric sub-agg — serving twin of
        docvalues.search_bucket_metrics: [(bucket, doc_count, min_v,
        sum_v, avg_v, max_v)] ascending by bucket.  NULL bucket value
        drops the doc; NULL metric value counts in doc_count only."""
        from .docvalues import DocValueError

        ids = np.sort(self.matched_ids(query, mode))
        bpresent, bvals = self._dv_lookup(bucket_field, ids)
        ids = ids[bpresent]
        if not ids.size:
            return []
        if np.issubdtype(bvals.dtype, np.datetime64):
            buckets = self._trunc_time(bvals, interval)
        else:
            iv = int(interval)
            if iv <= 0:
                raise DocValueError("numeric interval must be a positive int")
            buckets = (bvals // iv) * iv
        mpresent, mvals = self._dv_lookup(metric_field, ids)
        out = []
        uniq = np.unique(buckets)
        # .tolist() keeps the bucket representation identical to
        # search_value_histogram's (datetime for time buckets)
        for b, bv in zip(uniq, uniq.tolist()):
            in_b = buckets == b
            mv = mvals[in_b[mpresent]]
            if mv.size:
                out.append(
                    (
                        bv, int(in_b.sum()), mv.min().item(),
                        mv.sum().item(), float(mv.sum()) / len(mv),
                        mv.max().item(),
                    )
                )
            else:
                out.append((bv, int(in_b.sum()), None, None, None, None))
        return out

    def significant_text(
        self,
        texts: "dict[int, str]",
        query,
        size: int = 10,
        sample_size: int = 200,
        mode: str = "OR",
        min_doc_count: int = 3,
    ) -> list[tuple]:
        """significant_text — serving twin of
        IndexSearcher.significant_text over caller-provided doc texts
        (same contract as LocalSearcher.highlight): [(term, fg_count,
        bg_count, lift)] by (lift desc, term asc)."""
        from collections import Counter

        from ..functions.tokenize import py_tokenize

        if isinstance(query, str):
            hits = self.search_bool(query, k=sample_size)
        else:
            hits = self.search(sorted(set(query)), mode=mode, k=sample_size)
        if not hits:
            return []
        ids = [d for d, _s in hits]
        sample_n = len(ids)
        fg: Counter = Counter()
        for d in ids:
            fg.update(set(py_tokenize(texts[d])))
        kept = {t: c for t, c in fg.items() if c >= int(min_doc_count)}
        if not kept:
            return []
        dfs = self.global_dfs(sorted(kept))
        out = [
            (t, c, dfs[t], (c / sample_n) / (dfs[t] / self.n_docs))
            for t, c in kept.items()
            if t in dfs
        ]
        out.sort(key=lambda r: (-r[3], r[0]))
        return out[: int(size)]

    def termvectors(
        self, text: str, with_df: bool = True
    ) -> "list[tuple[str, int, int, list[int]]]":
        """ES ``_termvectors`` — serving twin of
        IndexSearcher.termvectors over a caller-provided document text
        (same contract as LocalSearcher.highlight): [(term, tf, df,
        positions)] term-ascending, df from this searcher's termdict."""
        from ..functions.tokenize import py_termvector

        tv = py_termvector(text)
        dfs = (
            self.global_dfs(sorted(t for t, _tf, _p in tv))
            if with_df
            else {}
        )
        return [(t, tf, int(dfs.get(t, 0)), pos) for t, tf, pos in tv]

    def suggest_phrase(
        self,
        text: str,
        size: int = 5,
        max_edits: int = 1,
        max_errors: int = 1,
        per_term: int = 5,
        collate: bool = False,
    ) -> "list[tuple[str, float]]":
        """ES phrase suggester — serving twin of
        IndexSearcher.suggest_phrase (same termdict candidates, same
        beam/LM kernel, identical rows): [(suggestion, score)] by
        (score desc, suggestion asc)."""
        from .bm25 import _phrase_suggest_rows

        return _phrase_suggest_rows(
            self, text, size, max_edits, max_errors, per_term, collate,
            lambda ts: self.search_count(sorted(set(ts)), "AND"),
        )

    def more_like_this(
        self,
        like_text: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
    ) -> list[tuple[int, float]]:
        """ES more_like_this — serving twin: identical tf·idf term
        selection (IndexSearcher._mlt_terms via the same global_dfs
        shape) + disjunctive BM25."""
        from collections import Counter

        from ..functions.tokenize import py_tokenize
        from .index_build import bm25_idf as _idf

        tf = Counter(py_tokenize(like_text))
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return []
        dfs = self.global_dfs(cand)
        scored = [
            (tf[t] * _idf(self.n_docs, dfs[t]), t)
            for t in cand
            if dfs.get(t, 0) >= max(min_doc_freq, 1)
        ]
        top = [
            t
            for _s, t in sorted(scored, key=lambda x: (-x[0], x[1]))[
                :max_query_terms
            ]
        ]
        if not top:
            return []
        return self.search(top, mode="OR", k=k)

    def suggest_terms(
        self,
        prefix: str,
        size: int = 10,
        max_edits: int = 0,
        max_expansions: int = 10_000,
    ) -> list[tuple[str, int]]:
        """ES term suggester — serving twin: [(term, global df)] by
        (df desc, term asc), termdict-only."""
        terms = (
            self.expand_fuzzy(prefix, max_edits, max_expansions=max_expansions)
            if max_edits > 0
            else self.expand_prefix(prefix, max_expansions)
        )
        if not terms:
            return []
        dfs = self.global_dfs(terms)
        return sorted(dfs.items(), key=lambda x: (-x[1], x[0]))[:size]

    def explain(
        self, doc_id: int, terms: list[str]
    ) -> list[tuple[str, int, int, int, float, float]]:
        """ES ``_explain`` — serving twin: [(term, tf, df, doc_len,
        idf, contrib)] sorted by term; contribs sum to the doc's OR
        score bit-identically."""
        terms_sorted = sorted(set(terms))
        dfs = self.global_dfs(terms_sorted)
        g = self.manifest["globals"]
        dpp = int(g["docs_per_part"])
        seg_group = int(self.manifest["params"]["seg_group"])
        seg = (int(doc_id) // dpp) // seg_group
        rows = self._rows_for(terms_sorted)
        out = []
        for t in terms_sorted:
            r = rows.get(t, {}).get(seg)
            if r is None or t not in dfs:
                continue
            d, tf, dl = self._decode_cached(t, seg, r.blob)
            i = int(np.searchsorted(d, int(doc_id)))
            if i >= len(d) or d[i] != int(doc_id):
                continue
            idf = bm25_idf(self.n_docs, dfs[t])
            w = float(
                bm25_tf_weight(
                    np.array([tf[i]], np.float64),
                    np.array([dl[i]], np.float64),
                    self.avgdl,
                )[0]
            )
            out.append((t, int(tf[i]), int(dfs[t]), int(dl[i]), idf, idf * w))
        return out

    def match_positions(
        self, doc_ids: list[int], terms: list[str]
    ) -> list[tuple[int, str, int]]:
        """Highlighting primitive — serving twin of
        IndexSearcher.match_positions: [(doc_id, term, pos)] sorted."""
        if not self.manifest["params"].get("with_positions", True):
            raise ValueError(
                "match_positions needs positional postings, but this index "
                "was built with with_positions=False"
            )
        terms_sorted = sorted(set(terms))
        targets = np.unique(np.asarray(sorted(doc_ids), dtype=np.int64))
        tbl = self._term_rows(
            terms_sorted, ["term", "segment", "blob", "pos_blob"]
        )
        out = []
        for i in range(tbl.num_rows):
            t = tbl["term"][i].as_py()
            seg = int(tbl["segment"][i].as_py())
            d, tf, _dl = self._decode_cached(t, seg, tbl["blob"][i])
            hit_idx = np.flatnonzero(np.isin(d, targets, assume_unique=True))
            if not hit_idx.size:
                continue
            pos, offs = self._pos_cached(t, seg, tbl["pos_blob"][i], tf)
            for j in hit_idx:
                for x in pos[offs[j] : offs[j + 1]]:
                    out.append((int(d[j]), t, int(x)))
        return sorted(out)

    @staticmethod
    def highlight(
        doc_texts: dict[int, str | None],
        terms: list[str],
        window_chars: int = 120,
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
        ellipsis: str = "…",
    ) -> dict[int, tuple[str, int]]:
        """Serving twin of IndexSearcher.highlight: doc_id → (snippet,
        n_matches) for the docs that matched, byte-identical fragments
        (same functions/snippets.py kernel).  ``doc_texts`` is the
        serving tier's doc store slice for its top-k hits."""
        from ..functions.snippets import py_highlight

        terms_set = set(terms)
        out: dict[int, tuple[str, int]] = {}
        for mid, text in doc_texts.items():
            snippet, n = py_highlight(
                text, terms_set, window_chars, pre_tag, post_tag, ellipsis
            )
            if n:
                out[int(mid)] = (snippet, n)
        return out

    def search_bool(
        self, query: str, k: int = 10, synonyms: "dict | None" = None
    ) -> list[tuple[int, float]]:
        """Boolean query string — same semantics and planner as
        IndexSearcher.search_bool, no Spark jobs.  Required conjuncts
        (and no atoms) → block-skip evaluation with cross-segment
        pruning (bound summed over POSITIVE terms only — facet/NOT
        terms filter, never score)."""
        q = plan_bool(self, query, k, synonyms)
        return self._search_pruned(q, self._atom_sets(q.ast))

    def _atom_sets(
        self, ast, part: tuple[int, int] = (0, 1)
    ) -> "dict[str, tuple] | None":
        """A bool query's range / quoted-phrase / nested atoms (filter
        context) resolved once: atom key → (matching doc ids, their
        segments), from cached doc values / positional chain matches /
        the nested sidecar; with ``part=(i, n)`` only the docs of
        segments with seg % n == i.  None when there are no atoms."""
        from ..functions import boolquery as bq

        if ast is None or not bq.filter_atoms(ast):
            return None
        from . import nested as nst
        from .docvalues import range_mask

        sets: dict[str, np.ndarray] = {}
        for rt in bq.range_atoms(ast):
            all_ids, vals = self._docvalues(rt.field)
            ids = all_ids[range_mask(vals, rt, rt.field in self._dv_array_fields)]
            sets[rt.key()] = ids
        for pt in bq.phrase_atoms(ast):
            sets[pt.key()] = np.sort(
                self._phrase_match_rows(list(pt.tokens), pt.slop, part=part)[0]
            )
        for nt in bq.nested_atoms(ast):
            sets[nt.key()] = nst.local_atom_ids(self, nt)
        i, n = part
        out = {}
        for rk, ids in sets.items():
            segs = self._segments_of(ids)
            keep = segs % n == i
            out[rk] = (ids[keep], segs[keep])
        return out

    def _phrase_match_rows(
        self,
        phrase: list[str],
        slop: int = 0,
        expansions: "list[str] | None" = None,
        part: tuple[int, int] = (0, 1),
    ):
        """(docs, tfs, dls) arrays of every live phrase-chain match in
        ``part`` — the match kernel of phrase and phrase_prefix queries,
        rescore and quoted-phrase atoms.  With ``expansions``, the final
        phrase slot accepts any of the expanded terms (the
        match_phrase_prefix shape: one synthetic merged posting)."""
        from .bm25 import _PFX_SLOT, _merge_posting_variants

        self._require_positions()
        exp = sorted(set(expansions)) if expansions is not None else None
        terms_sorted = sorted(set(phrase) | set(exp or ()))
        phrase_t = list(phrase) + ([_PFX_SLOT] if exp is not None else [])
        tbl = self._term_rows(terms_sorted, ["term", "segment", "blob", "pos_blob"])
        seg_arr = np.asarray(tbl["segment"].to_pylist())
        out = []
        i_part, n_part = part
        for seg in np.unique(seg_arr):
            if seg % n_part != i_part:
                continue
            post = {}
            for i in np.flatnonzero(seg_arr == seg).tolist():
                t = tbl["term"][i].as_py()
                d, tf, dl = self._decode_cached(t, int(seg), tbl["blob"][i])
                pos, offs = self._pos_cached(t, int(seg), tbl["pos_blob"][i], tf)
                _put_unique(post, t, (d, dl, pos, offs))
            if exp is not None:
                present = [post[v] for v in exp if v in post]
                if not present:
                    continue
                post[_PFX_SLOT] = _merge_posting_variants(present)
            if not all(t in post for t in phrase_t):
                continue
            common = reduce(
                lambda a, b: np.intersect1d(a, b, assume_unique=True),
                (post[t][0] for t in dict.fromkeys(phrase_t)),
            )
            dead = self._deletes.get(int(seg))
            if dead is not None and dead.size:
                common = common[~np.isin(common, dead, assume_unique=True)]
            d0, dl0, _, _ = post[phrase_t[0]]
            tfs = _phrase_match_counts(post, phrase_t, common, int(slop))
            hit = tfs > 0
            out.append((common[hit], tfs[hit], dl0[np.searchsorted(d0, common[hit])]))
        return _concat_rows(out)

    def _span_first_rows(self, term: str, end: int, part: tuple[int, int] = (0, 1)):
        """(docs, tfs, dls) of the live docs in ``part`` holding ``term``
        before position ``end``, tf = the count of such positions."""
        tbl = self._term_rows([term], ["segment", "blob", "pos_blob"])
        out = []
        for i, seg in enumerate(tbl["segment"].to_pylist()):
            if seg % part[1] != part[0]:
                continue
            d, tf, dl = self._decode_cached(term, seg, tbl["blob"][i])
            if not d.size:
                continue
            pos, offs = self._pos_cached(term, seg, tbl["pos_blob"][i], tf)
            # positions ascend within each doc's slice and every posted
            # doc has >= 1 position, so reduceat counts per slice
            counts = np.add.reduceat((pos < end).astype(np.int64), offs[:-1])
            hit = counts > 0
            dead = self._deletes.get(seg)
            if dead is not None and dead.size:
                hit &= ~np.isin(d, dead, assume_unique=True)
            out.append((d[hit], counts[hit], dl[hit]))
        return _concat_rows(out)


def _concat_rows(parts: list[tuple]) -> tuple:
    """Concatenate per-segment (docs, tfs, dls) triples as int64."""
    if not parts:
        return tuple(np.array([], np.int64) for _ in range(3))
    return tuple(np.concatenate(c).astype(np.int64, copy=False) for c in zip(*parts))


# (pin, searcher): the LocalSearcher this Python worker keeps between
# tasks of IndexSearcher._tasks.  One snapshot per worker, whatever
# index dirs its tasks serve, so a worker's memory stays within one
# searcher's byte caps; a task for another index dir or generation
# replaces it.  Tasks reach it through the module-level run_partition,
# by reference; a cache captured in a task closure would be pickled with
# it and start empty every task.
_PINNED: "tuple[tuple, LocalSearcher] | None" = None


def pinned_searcher(index_dir: str, manifest: dict) -> LocalSearcher:
    """This process's searcher over ``index_dir``, pinned to
    ``manifest``: the kept one while both are the same, else a new one
    that replaces it."""
    global _PINNED
    pin = (index_dir, manifest)
    if _PINNED is not None and _PINNED[0] == pin:
        return _PINNED[1]
    _PINNED = None  # the old snapshot goes before the new one loads
    s = LocalSearcher.__new__(LocalSearcher)
    s.index_dir = index_dir
    s._load_snapshot(manifest)
    _PINNED = (pin, s)
    return s


def run_partition(index_dir: str, manifest: dict, method: str, args: tuple, n: int, i: int):
    """Task ``i`` of ``n`` of a distributed query: partial kernel
    ``method`` over the segments with seg % n == i, on the worker's
    pinned searcher (its caches are not keyed by part: tasks are not
    sticky to workers)."""
    return getattr(pinned_searcher(index_dir, manifest), method)(*args, part=(i, n))
