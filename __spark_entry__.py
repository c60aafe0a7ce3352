"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: build the inverted index over the sf0.001
documents table and answer a BM25 top-k query from the index.

`queries()` / `oracle_sql()` — one entry per implemented operator from
SURVEY.md §2, each with its DuckDB-ANSI-SQL twin where the semantics
are SQL-expressible.  Float-valued outputs are emitted as
``floor(x * 1e6 + 0.5)`` micro-ints in BOTH engines so the driver's
value-hash is insensitive to sub-1e-6 accumulation-order noise.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hail_elasticsearch_pipelines_spark.functions import text_quality as tq
from hail_elasticsearch_pipelines_spark.functions.tokenize import (
    token_count_col,
    tokenize_col,
)
from hail_elasticsearch_pipelines_spark.operators import dedup as dd
from hail_elasticsearch_pipelines_spark.operators import multimodal as mm
from hail_elasticsearch_pipelines_spark.operators import similarity as sim
from hail_elasticsearch_pipelines_spark.operators.bm25 import (
    IndexSearcher,
    bm25_exhaustive_df,
)
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index

# ---------------------------------------------------------------- helpers

OR_TERMS = ["fast", "key", "table"]
AND_TERMS = ["dup", "join", "window"]
INDEX_ROOT = "/tmp/spark_graft_entry_indexes"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _micro(col) -> F.Column:
    """floor(x*1e6 + 0.5) as bigint — the float-stable output encoding."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")


# deterministic per-doc titles (doc_id % 5) — the second analyzed field
# for fielded search; varying lengths (2-4 tokens) exercise the
# per-field BM25F length norm, and the SQL oracle rebuilds the same
# list with DuckDB 1-based list indexing
TITLES = [
    "fast query guide",
    "table scan",
    "key value store notes",
    "merge report",
    "spark batch intro",
]


def _docs_as_pages(docs: DataFrame) -> DataFrame:
    """Adapt the documents table (doc_id,text,...) to the engine's page
    schema.  Zero-padded url preserves doc_id order so the engine's dense
    url-ordered ids coincide with the table's own (dense) doc_id.

    warc_ts varies deterministically with doc_id (doc_id % 840 hours ≈
    a 5-week crawl window) so date-range filters, recency sorts, and
    date_histogram buckets are non-degenerate; ``source`` and
    ``n_chars`` ride as stored metadata → doc values in doclens."""
    return docs.select(
        F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
        (
            F.to_timestamp(F.lit("2025-01-14 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") % 840).cast("int"))
        ).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.element_at(
            F.array(*[F.lit(t) for t in TITLES]),
            ((F.col("doc_id") % 5) + 1).cast("int"),
        ).alias("title"),
        F.lit("en").alias("lang"),
        F.col("source"),
        F.col("n_chars"),
        # nullable stored field: every 7th doc "lost" its fetch timing —
        # exercises ES missing-field semantics (missing agg, NULL-skip
        # in sorts/aggs) end-to-end
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .otherwise((F.col("doc_id") * 37) % 500 + 20)
        .cast("long")
        .alias("fetch_ms"),
        # small per-doc requirement count for the ES terms_set query
        (F.col("doc_id") % 3 + 1).cast("long").alias("req_m"),
        # multi-valued stored field (ES keyword array — page tags);
        # every 11th doc is untagged (empty array == missing per ES)
        F.when(
            F.col("doc_id") % 11 == 0, F.array().cast("array<string>")
        )
        .otherwise(
            F.array(
                F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string")),
                F.concat(F.lit("c"), (F.col("doc_id") % 6).cast("string")),
            )
        )
        .alias("tags"),
        # nested field (ES "type": "nested" — array-of-struct; the
        # reference's mapping derivation emits nested for exactly this
        # shape): page links with anchor + rel.  obj0 = (a<id%5>,
        # r<id%3>), obj1 = (a<(id+1)%5>, ext); every 13th doc has none.
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit(None).cast("array<struct<anchor:string,rel:string>>"),
        )
        .otherwise(
            F.array(
                F.struct(
                    F.concat(
                        F.lit("a"), (F.col("doc_id") % 5).cast("string")
                    ).alias("anchor"),
                    F.concat(
                        F.lit("r"), (F.col("doc_id") % 3).cast("string")
                    ).alias("rel"),
                ),
                F.struct(
                    F.concat(
                        F.lit("a"), ((F.col("doc_id") + 1) % 5).cast("string")
                    ).alias("anchor"),
                    F.lit("ext").alias("rel"),
                ),
            )
        )
        .alias("links"),
    )


def _searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Build (or reuse — the pipeline's per-stage markers make re-entry
    cheap) the index over sf_dir's documents table."""
    import json
    import shutil

    from hail_elasticsearch_pipelines_spark.layout import INDEX_FORMAT_VERSION

    out = os.path.join(INDEX_ROOT, os.path.basename(os.path.normpath(sf_dir)))
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        params = m.get("params", {})
        if (
            m.get("format_version") != INDEX_FORMAT_VERSION
            or params.get("text_fields") != ["title"]
            or not {"source", "n_chars", "fetch_ms", "tags", "req_m"}
            <= set(params.get("stored_fields") or ())
            or not (params.get("fields") or {}).get("links", {}).get("nested")
        ):
            shutil.rmtree(out, ignore_errors=True)
    if not os.path.exists(os.path.join(out, "_INDEX_PUBLISHED")):
        shutil.rmtree(out, ignore_errors=True)
        pages = _docs_as_pages(_read(spark, sf_dir, "documents"))
        build_index(
            spark, pages, out, n_term_buckets=8, text_fields=("title",)
        )
    return IndexSearcher(spark, out)


def _half_indexes(spark: SparkSession, sf_dir: str) -> list[str]:
    """Two half-indexes over the documents table split by doc_id
    parity — the federated-search fixtures.  Zero-padded urls make each
    half's dense url-ordered ids equal doc_id // 2, so the original id
    reconstructs as 2·local + index_id."""
    import shutil

    base = os.path.join(INDEX_ROOT, os.path.basename(os.path.normpath(sf_dir)))
    dirs = []
    for i in (0, 1):
        out = f"{base}__half{i}"
        if not os.path.exists(os.path.join(out, "_INDEX_PUBLISHED")):
            shutil.rmtree(out, ignore_errors=True)
            pages = _docs_as_pages(
                _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == i)
            )
            build_index(spark, pages, out, n_term_buckets=8)
        dirs.append(out)
    return dirs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: index the sf0.001 documents table, BM25 OR top-10."""
    s = _searcher(spark, "/root/testdata/sf0.001")
    return s.search(OR_TERMS, mode="OR", k=10, algo="bmw").select(
        "doc_id", _micro(F.col("score")).alias("score_micro")
    )


# ---------------------------------------------------------------- queries

def _q_token_count(spark, sf):
    return (
        _read(spark, sf, "documents")
        .select("doc_id", token_count_col("text").cast("long").alias("n_tokens"))
    )


def _q_text_quality(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_col("text").cast("long").alias("n_tokens"),
        _micro(tq.mean_token_len("text")).alias("mean_tok_len_micro"),
        _micro(tq.alnum_ratio("text")).alias("alnum_micro"),
        _micro(tq.stopword_ratio("text")).alias("stopword_micro"),
        _micro(tq.quality_score("text")).alias("quality_micro"),
    )


def _q_lang_id(spark, sf):
    return _read(spark, sf, "documents").select(
        "doc_id", tq.lang_id("text").alias("lang_pred")
    )


def _q_fingerprint(spark, sf):
    return _read(spark, sf, "documents").select(
        "doc_id", tq.token_fingerprint("text").alias("fp")
    )


def _q_dedup_exact(spark, sf):
    d = _read(spark, sf, "documents")
    return dd.dedup_exact(d).select("doc_id", "group_size")


def _q_ngram_jaccard(spark, sf):
    d = _read(spark, sf, "documents")
    pairs = dd.ngram_jaccard_pairs(d, threshold=0.8, n=3, max_shingle_df=None)
    return pairs.select("id_a", "id_b", _micro(F.col("jaccard")).alias("jaccard_micro"))


def _q_minhash_dedup(spark, sf):
    d = _read(spark, sf, "documents")
    pairs = dd.minhash_dedup_pairs(d, threshold=0.8)
    return pairs.select("id_a", "id_b", _micro(F.col("jaccard")).alias("jaccard_micro"))


def _q_simhash_pairs(spark, sf):
    """SimHash near-dup pairs with the SQL-expressible polynomial token
    hash, so the DuckDB oracle replicates the fingerprint bit-for-bit."""
    d = _read(spark, sf, "documents")
    r = dd.simhash_near_pairs(d, max_hamming=3, token_hash="poly")
    return r.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _q_bm25_or(spark, sf):
    d = _read(spark, sf, "documents").select("doc_id", tokenize_col("text").alias("toks"))
    r = bm25_exhaustive_df(d, OR_TERMS, mode="OR", k=20, tokens_col="toks")
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bm25_and(spark, sf):
    d = _read(spark, sf, "documents").select("doc_id", tokenize_col("text").alias("toks"))
    r = bm25_exhaustive_df(d, AND_TERMS, mode="AND", k=20, tokens_col="toks")
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bm25_index_or(spark, sf):
    r = _searcher(spark, sf).search(OR_TERMS, mode="OR", k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bm25_index_and(spark, sf):
    r = _searcher(spark, sf).search(AND_TERMS, mode="AND", k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bm25_index_bmw(spark, sf):
    r = _searcher(spark, sf).search(OR_TERMS, mode="OR", k=20, algo="bmw")
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bm25_index_segprune(spark, sf):
    """Cross-segment pruning (r4): each scatter task skips segments
    whose bound can't reach its running k-th score — must stay
    value-identical to the exhaustive SQL oracle."""
    r = _searcher(spark, sf).search(OR_TERMS, mode="OR", k=20, algo="auto")
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bm25_page2(spark, sf):
    """search_after keyset pagination (r4): page 2 fetched via the
    (score, doc_id) cursor of page 1's last hit must equal the oracle's
    rows 11..20 of the full ranking."""
    s = _searcher(spark, sf)
    page1 = s.search(OR_TERMS, mode="OR", k=10, algo="exhaustive").collect()
    last = page1[-1]
    r = s.search_page(
        OR_TERMS, mode="OR", k=10, after=(float(last["score"]), int(last["doc_id"]))
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_facet_counts(spark, sf):
    """ES terms-aggregation analog (r4): per-facet-value doc counts over
    ALL docs matching the OR query — lang (constant 'en' for this
    corpus adapter) and the power-of-two dlen bucket pseudo-field."""
    return _searcher(spark, sf).search_facets(OR_TERMS, ["lang", "dlen"], "OR")


def _q_search_count(spark, sf):
    """ES _count API (r4): total live docs matching the OR query."""
    return _searcher(spark, sf).search_count(OR_TERMS, "OR")


def _q_explain_top1(spark, sf):
    """ES _explain API (r4): per-term BM25 breakdown of the top-1 OR
    hit; sum of contribs reproduces the doc's score bit-identically."""
    s = _searcher(spark, sf)
    top = s.search(OR_TERMS, mode="OR", k=1, algo="exhaustive").collect()[0]
    r = s.explain(int(top["doc_id"]), OR_TERMS)
    return r.select(
        "term", "tf", "df", "doc_len",
        _micro(F.col("idf")).alias("idf_micro"),
        _micro(F.col("contrib")).alias("contrib_micro"),
    )


def _q_match_positions(spark, sf):
    """Highlighting primitive (r4): every position of each OR term in
    the top-3 hits, from positional postings — the oracle re-derives
    the positions by enumerating the tokenized text."""
    s = _searcher(spark, sf)
    top = s.search(OR_TERMS, mode="OR", k=3, algo="exhaustive").collect()
    ids = [int(r["doc_id"]) for r in top]
    return s.match_positions(ids, OR_TERMS)


def _q_url_canon(spark, sf):
    """URL canonicalization (r4) — the pre-dedupe Common-Crawl staple:
    messy urls synthesized deterministically per doc (upper-case
    scheme/host, default port, tracking params, unsorted query,
    fragment, trailing slash on even ids) are normalized JVM-side; the
    oracle constructs the expected canonical string directly."""
    from hail_elasticsearch_pipelines_spark.functions import urls

    d = _read(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    messy = F.concat(
        F.lit("HTTPS://WWW.Site"), (did % 7).cast("string"),
        F.lit(".Example:443/Dir/Page"), (did % 5).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z="), (did % 3).cast("string"),
        F.lit("&a=1&fbclid=XYZ#frag"),
    )
    return d.select(
        "doc_id", urls.canonicalize_url_col(messy).alias("canon_url")
    )


PHRASE = ["row", "scan"]
BOOL_QUERY = "fast AND (key OR table) AND NOT dup"


def _q_bool_search(spark, sf):
    r = _searcher(spark, sf).search_bool(BOOL_QUERY, k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_phrase_search(spark, sf):
    r = _searcher(spark, sf).search_phrase(PHRASE, k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_exists_search(spark, sf):
    """ES `_exists_:field` query_string atom: matches restricted to
    docs holding a value for the nullable fetch_ms doc-value field
    (filter context — surviving scores unchanged)."""
    r = _searcher(spark, sf).search_bool(
        "(fast OR key OR table) AND _exists_:fetch_ms", k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_bucket_metrics(spark, sf):
    """ES date_histogram + stats sub-aggregation: per crawl-day match
    volume with min/sum/avg/max of n_chars."""
    r = _searcher(spark, sf).search_bucket_metrics(
        OR_TERMS, "warc_ts", "day", "n_chars"
    )
    return r.select(
        F.col("bucket").cast("long").alias("bucket_epoch"),
        "doc_count",
        "min_v",
        "sum_v",
        _micro(F.col("avg_v")).alias("avg_micro"),
        "max_v",
    )


def _q_filters_agg(spark, sf):
    """ES filters aggregation: named boolean filters, one live count
    each (boolean strings exercise AND/OR/NOT and _exists_)."""
    r = _searcher(spark, sf).search_filters(
        {
            "all_three": "fast AND key AND table",
            "fast_only": "fast AND NOT (key OR table)",
            "valued": "(fast OR key OR table) AND _exists_:fetch_ms",
        }
    )
    return r


def _q_sig_text(spark, sf):
    """ES significant_text: terms over-represented in the re-analyzed
    text of the top-50 hits vs the whole corpus, by frequency lift."""
    docs = _read(spark, sf, "documents").select("doc_id", "text")
    r = _searcher(spark, sf).significant_text(
        docs, OR_TERMS, size=10, sample_size=50, min_doc_count=3
    )
    return r.select(
        "term", "fg_count", "bg_count", _micro(F.col("lift")).alias("lift_micro")
    )


def _q_dv_eq_search(spark, sf):
    """ES term query on a doc-value-only field: `source:src3` resolves
    against the doc-value store (source is stored but not indexed as a
    facet) — filter context, scores unchanged."""
    r = _searcher(spark, sf).search_bool(
        "(fast OR key OR table) AND source:src3", k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_tags_terms(spark, sf):
    """ES terms agg over a multi-valued keyword field: each matching
    doc counts once per distinct tag it holds; untagged (empty-array)
    docs are invisible to the aggregation."""
    return _searcher(spark, sf).search_value_terms(
        OR_TERMS, "tags", size=20
    )


def _q_tags_missing(spark, sf):
    """ES missing agg on the multi-valued field: empty array counts as
    missing (ES semantics)."""
    return _searcher(spark, sf).search_missing(OR_TERMS, "tags")


def _q_rescore_phrase(spark, sf):
    """ES rescore API (score_mode total): the OR query's top-60 window
    re-ranked by the exact phrase 'row scan' at weight 2."""
    r = _searcher(spark, sf).search_rescore(
        OR_TERMS, PHRASE, k=15, window_size=60,
        query_weight=1.0, rescore_weight=2.0,
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_adjacency(spark, sf):
    """ES adjacency_matrix aggregation: named filters + every
    non-empty pairwise intersection count."""
    return _searcher(spark, sf).search_adjacency(
        {"f": "fast", "k": "key", "t": "table AND NOT dup"}
    )


def _q_percolate(spark, sf):
    """ES percolator (reverse search): three stored queries — boolean,
    quoted phrase, range+term — matched against every incoming doc in
    one narrow mapInPandas pass."""
    from hail_elasticsearch_pipelines_spark.operators.percolate import (
        percolate,
    )

    docs = _read(spark, sf, "documents").select("doc_id", "text", "n_chars")
    return percolate(
        docs,
        {
            "pa": "fast AND key",
            "pb": '"row scan"',
            "pc": "n_chars:[300 TO *] AND table",
        },
    )


def _q_bool_phrase(spark, sf):
    """Quoted-phrase atom in the boolean query language (ES
    query_string match_phrase clause, filter context): OR terms
    restricted to docs containing the exact phrase 'row scan'."""
    r = _searcher(spark, sf).search_bool(
        '(fast OR key OR table) AND "row scan"', k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_boost_search(spark, sf):
    """ES query_string clause boosting: fast^3 OR key OR table^0.5 —
    boosts fold into idf (linear), so pruned paths stay exact."""
    r = _searcher(spark, sf).search_bool("fast^3 OR key OR table^0.5", k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_phrase_slop(spark, sf):
    """ES match_phrase with slop=2 (in-order window): 'row … scan'
    within a 2-position stretch — more matches than the exact phrase,
    each scored as one pseudo-term with the windowed tf."""
    r = _searcher(spark, sf).search_phrase(PHRASE, k=20, slop=2)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_phrase_prefix(spark, sf):
    """ES match_phrase_prefix (autocomplete-as-you-type): 'row s' —
    'row' followed by any indexed s* expansion; the expansions merge
    into one pseudo-term posting, scored like a phrase."""
    r = _searcher(spark, sf).search_phrase_prefix(["row", "s"], k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_mlt_doc0(spark, sf):
    """ES more_like_this (r5): doc 0's text as the `like` input — top
    tf-idf terms (df >= 2 floor, ties term-asc) run as a BM25 OR; the
    oracle replicates the selection and the scoring in SQL."""
    s = _searcher(spark, sf)
    like = (
        _read(spark, sf, "documents")
        .filter(F.col("doc_id") == 0)
        .select("text")
        .head()[0]
    )
    r = s.more_like_this(like, k=20, max_query_terms=10, min_doc_freq=2)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_min_should_match2(spark, sf):
    """ES minimum_should_match (r5): docs holding >=2 of the 3 OR
    terms, scored by the standard disjunctive sum over the terms each
    doc has."""
    r = _searcher(spark, sf).search(OR_TERMS, "OR", k=20, min_should_match=2)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_stats_agg(spark, sf):
    """ES stats aggregation (r5): (count, min, max, sum, avg) of doc
    length over the docs matching the OR query — derived from the
    postings' embedded dl streams, no doclens read."""
    r = _searcher(spark, sf).search_stats(OR_TERMS, "OR")
    return r.select(
        "n_hits", "min_dl", "max_dl", "sum_dl",
        _micro(F.col("avg_dl")).alias("avg_dl_micro"),
    )


def _q_dlen_histogram(spark, sf):
    """ES histogram aggregation (r5): fixed-width doc-length buckets
    (interval 64) over the OR query's matches."""
    return _searcher(spark, sf).search_histogram(OR_TERMS, interval=64)


def _q_suggest_s(spark, sf):
    """ES term suggester (r5): prefix 's' candidates ranked by global
    df — termdict-only, never touches posting blobs."""
    return _searcher(spark, sf).suggest_terms("s", size=10)


def _q_fuzzy_search(spark, sf):
    """Fuzzy query (r5): 'ine'~2 expands via classic Levenshtein over
    the termdict (→ {line, the} in this vocabulary) and scores as a
    scoring-boolean OR; the oracle replicates the expansion with
    DuckDB's levenshtein()."""
    r = _searcher(spark, sf).search_fuzzy("ine", k=20, max_edits=2)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_highlight_top3(spark, sf):
    """ES highlight analog (r5): full-window snippets of the top-3 OR
    hits — every matched term tag-wrapped in the original text; the
    oracle reproduces the splice with regexp_replace and counts the
    matching tokens."""
    from hail_elasticsearch_pipelines_spark.operators.bm25 import (
        IndexSearcher as _IS,
    )

    s = _searcher(spark, sf)
    top = s.search(OR_TERMS, mode="OR", k=3, algo="exhaustive").collect()
    ids = [int(r["doc_id"]) for r in top]
    docs = _read(spark, sf, "documents").select("doc_id", "text")
    return _IS.highlight(docs, ids, OR_TERMS, window_chars=1 << 30)


def _q_fielded_search_and(spark, sf):
    """ES multi_match operator=and (r5): every token must match in at
    least one field (cross-field OR per token, AND across tokens);
    scoring stays weighted most_fields."""
    r = _searcher(spark, sf).search_fielded(
        FIELDED_TERMS, fields=FIELDED_WEIGHTS, k=20, mode="AND"
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


_GOPHER_THRESH = dict(
    min_tokens=30, max_mean_token_len=5.0,
    max_dup_gram_frac=0.10, max_top_gram_frac=0.08,
)


def _q_multi_terms(spark, sf):
    """ES multi_terms: compound (source, fetch_ms) buckets over the OR
    match set; docs with a NULL fetch_ms are skipped (every key source
    must produce a value)."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_multi_terms,
    )

    return search_multi_terms(
        _searcher(spark, sf), OR_TERMS, ["source", "fetch_ms"], size=20
    )


def _q_top_metrics(spark, sf):
    """ES top_metrics: n_chars + fetch_ms of the 5 most recent matches
    (sort on warc_ts desc); NULL metrics sentinel-encoded."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_top_metrics,
    )

    r = search_top_metrics(
        _searcher(spark, sf), OR_TERMS, "warc_ts",
        ["n_chars", "fetch_ms"], size=5,
    )
    return r.select(
        "doc_id",
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        "n_chars",
        F.coalesce(F.col("fetch_ms"), F.lit(-1)).cast("long").alias("fetch_l"),
    )


def _q_span_first(spark, sf):
    """ES span_first: 'row' within the first 10 token positions,
    scored as one pseudo-term (tf = qualifying occurrences)."""
    r = _searcher(spark, sf).search_span_first("row", 10, k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_rare_terms(spark, sf):
    """ES rare_terms: the long-tail n_chars values (doc_count <= 1)
    among OR matches — exact, (count asc, value asc)."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_rare_terms,
    )

    return search_rare_terms(
        _searcher(spark, sf), OR_TERMS, "n_chars", max_doc_count=1, size=50
    )


def _q_gopher_filter(spark, sf):
    """Composite Gopher-style quality gate: keep/reject per doc with
    the pinned-order comma-joined failure reasons (token bounds, word
    shape, symbol ratio, stopword floor, line + n-gram repetition) —
    thresholds tuned so the corpus splits."""
    from hail_elasticsearch_pipelines_spark.operators.quality import (
        gopher_filter,
    )

    d = _read(spark, sf, "documents").select("doc_id", "text")
    return gopher_filter(d, **_GOPHER_THRESH)


def _q_terms_set(spark, sf):
    """ES terms_set: per-doc required count from the req_m doc value
    (1 + doc_id % 3) — a doc matches when it holds at least that many
    of the three query terms, scored by the disjunctive sum."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_terms_set,
    )

    r = search_terms_set(_searcher(spark, sf), OR_TERMS, "req_m", k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_weighted_avg(spark, sf):
    """ES weighted_avg aggregation: n_chars weighted by fetch_ms over
    the OR match set; docs with a NULL weight are skipped (ES missing
    semantics)."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_weighted_avg,
    )

    r = search_weighted_avg(_searcher(spark, sf), OR_TERMS, "n_chars", "fetch_ms")
    return r.select(
        "n",
        F.col("weight_sum").cast("long").alias("weight_sum_l"),
        _micro(F.col("wavg")).alias("wavg_micro"),
    )


def _q_matrix_stats(spark, sf):
    """ES matrix_stats for the (n_chars, fetch_ms) pair: population
    moments + correlation from one raw-sums pass."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_matrix_stats,
    )

    r = search_matrix_stats(_searcher(spark, sf), OR_TERMS, "n_chars", "fetch_ms")
    return r.select(
        "n",
        _micro(F.col("mean_x")).alias("mean_x_micro"),
        _micro(F.col("mean_y")).alias("mean_y_micro"),
        _micro(F.col("var_x")).alias("var_x_micro"),
        _micro(F.col("var_y")).alias("var_y_micro"),
        _micro(F.col("cov")).alias("cov_micro"),
        _micro(F.col("corr")).alias("corr_micro"),
    )


def _q_fed_dfs_search(spark, sf):
    """ES dfs_query_then_fetch across two index generations: the corpus
    split by doc parity into two indexes, searched with COMBINED
    statistics — scores bit-identical to one merged index, so the
    oracle is the plain single-corpus BM25 twin (original doc_id
    reconstructs as 2·local + index_id)."""
    from hail_elasticsearch_pipelines_spark.operators.federate import (
        search_indices,
    )

    halves = _half_indexes(spark, sf)
    r = search_indices(spark, halves, OR_TERMS, mode="OR", k=20, dfs=True)
    return r.select(
        (F.col("doc_id") * 2 + F.col("index_id")).alias("doc_id"),
        _micro(F.col("score")).alias("score_micro"),
    )


def _q_fvf_boost(spark, sf):
    """ES function_score field_value_factor (popularity boost):
    BM25 × sqrt(0.01 × n_chars) — longer docs boosted, multiplicative,
    sqrt is correctly-rounded so both engines agree bit-for-bit."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_field_value_factor,
    )

    r = search_field_value_factor(
        _searcher(spark, sf), OR_TERMS, "n_chars",
        factor=0.01, modifier="sqrt", k=20,
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_random_score(spark, sf):
    """ES function_score random_score (seeded, reproducible shuffle):
    BM25 × minstd-hash(doc_id, seed=7) ∈ [0,1) — the deterministic
    sampling/result-diversification shape."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        search_random_score,
    )

    r = search_random_score(_searcher(spark, sf), OR_TERMS, seed=7, k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_repetition_stats(spark, sf):
    """Gopher-style repetition quality metrics: per doc, the fraction
    of bigram occurrences belonging to duplicated bigrams and the top
    bigram's share — the 'repetitive page' pre-training filter."""
    from hail_elasticsearch_pipelines_spark.operators.quality import (
        repetition_stats,
    )

    d = _read(spark, sf, "documents").select("doc_id", "text")
    r = repetition_stats(d, n=2)
    return r.select(
        "doc_id",
        "n_grams",
        _micro(F.col("dup_gram_frac")).alias("dup_micro"),
        _micro(F.col("top_gram_frac")).alias("top_micro"),
    )


def _q_decontam_overlap(spark, sf):
    """Benchmark decontamination (n=13 token grams): overlap of each
    doc's distinct 13-grams with a 'benchmark' set synthesized from
    every 37th document — the dirty-document test before training."""
    from hail_elasticsearch_pipelines_spark.operators.quality import (
        ngram_overlap,
    )

    d = _read(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    r = ngram_overlap(d, bench, n=13)
    return r.select(
        "doc_id", "n_grams", "n_overlap",
        _micro(F.col("overlap_frac")).alias("overlap_micro"),
    )


def _q_dis_max_search(spark, sf):
    """ES dis_max / multi_match best_fields: each field's own BM25 sum,
    the doc scored by its best field plus 0.3 × the others."""
    r = _searcher(spark, sf).search_fielded(
        FIELDED_TERMS, fields=FIELDED_WEIGHTS, k=20, mode="BEST",
        tie_breaker=0.3,
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_prefix_search(spark, sf):
    """Prefix/wildcard query (r5): termdict range expansion of 's*'
    (scan slow small sort spark stream) → bounded scoring-boolean OR;
    oracle scores every token LIKE 's%' with its own idf."""
    r = _searcher(spark, sf).search_prefix("s", k=20)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


FIELDED_TERMS = ["fast", "table"]
FIELDED_WEIGHTS = {"text": 1.0, "title": 2.0}


def _q_fielded_search(spark, sf):
    """Multi-field BM25F-lite (r5): body + boosted title field, each
    with its own df and length norm — the ES multi_match most_fields
    analog over the per-field postings the build wrote for
    text_fields=('title',)."""
    r = _searcher(spark, sf).search_fielded(
        FIELDED_TERMS, fields=FIELDED_WEIGHTS, k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _query_vec(spark, sf) -> list[float]:
    row = (
        _read(spark, sf, "embeddings").filter(F.col("vec_id") == 0).select("embedding").head()
    )
    return [float(x) for x in row[0]]


def _q_hybrid_rrf(spark, sf):
    """Hybrid retrieval: BM25 top-40 ⊕ cosine top-40, Reciprocal Rank
    Fusion (rank_constant 60) — the ES rrf retriever; embedding ids
    align with the index's dense doc ids."""
    from hail_elasticsearch_pipelines_spark.operators.hybrid import (
        hybrid_rrf_search,
    )

    r = hybrid_rrf_search(
        _searcher(spark, sf), OR_TERMS, _read(spark, sf, "embeddings"),
        _query_vec(spark, sf), k=15, window=40,
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_pinned_search(spark, sf):
    """ES pinned query: ids [7, 999999, 3] promoted in order (the dead
    id is skipped), organic OR matches follow without duplicates."""
    from hail_elasticsearch_pipelines_spark.operators.hybrid import (
        search_pinned,
    )

    return search_pinned(
        _searcher(spark, sf), [7, 999999, 3], OR_TERMS, k=15
    )


def _q_mget(spark, sf):
    """ES _mget: stored fields for requested ids, request order, dead
    ids report found=false with NULL fields."""
    r = _searcher(spark, sf).mget([7, 999999, 3, 42])
    return r.select(
        "doc_id", "found", "source", "n_chars",
        F.when(F.col("found"), F.coalesce(F.col("fetch_ms"), F.lit(-1)))
        .cast("long").alias("fetch_l"),
    )


def _q_cosine_topk(spark, sf):
    e = _read(spark, sf, "embeddings")
    r = sim.cosine_topk(e, _query_vec(spark, sf), k=20)
    return r.select(
        F.col("id").alias("vec_id"), _micro(F.col("cosine")).alias("cosine_micro")
    )


def _q_ivf_topk(spark, sf):
    """IVF ANN (FAISS IVF-flat layout on parquet): deterministic
    spherical k-means coarse quantizer, embeddings partitioned by
    centroid id, query probes the top-nprobe partitions.  At full
    probe the result is EXACTLY brute-force cosine_topk (same JVM
    expression), so the oracle is the cosine SQL twin."""
    import os

    path = os.path.join(
        INDEX_ROOT, os.path.basename(os.path.normpath(sf)) + "__ivf"
    )
    if not os.path.exists(os.path.join(path, "_centroids.json")):
        sim.write_ivf_partitioned(
            _read(spark, sf, "embeddings"), path, n_centroids=8, n_iters=3
        )
    r = sim.ann_ivf_topk(spark, path, _query_vec(spark, sf), k=20, nprobe=8)
    return r.select(
        F.col("id").alias("vec_id"), _micro(F.col("cosine")).alias("cosine_micro")
    )


def _q_ann_lsh_topk(spark, sf):
    """ANN with LCG-generated hyperplanes: bucket membership (and thus
    the exact candidate set) is reproducible in the DuckDB oracle, so
    this approximate operator still gets a full value-hash gate."""
    e = _read(spark, sf, "embeddings")
    r = sim.ann_lsh_topk(
        e, _query_vec(spark, sf), k=10, n_planes=8, multiprobe=2, plane_gen="lcg"
    )
    return r.select(
        F.col("id").alias("vec_id"), _micro(F.col("cosine")).alias("cosine_micro")
    )


PERT_OFFSET = 1000000


def _aug_embeddings(spark, sf):
    """Embeddings + deterministic planted near-duplicates: a copy of
    every vector with per-index scaling 1 + 1e-4*(i mod 5) (cosine vs
    the original ≈ 1-1e-8, far above any natural pair's ~0.6)."""
    e = _read(spark, sf, "embeddings")
    orig = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = e.select(
        (F.col("vec_id") + F.lit(PERT_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            * (F.lit(1.0) + F.lit(0.0001) * (i % 5).cast("double")),
        ).alias("embedding"),
    )
    return orig.unionByName(pert)


def _q_embedding_pairs(spark, sf):
    aug = _aug_embeddings(spark, sf)
    r = sim.embedding_cosine_pairs(
        aug, threshold=0.9, id_col="vec_id", n_bands=4, planes_per_band=8
    )
    return r.select("id_a", "id_b", _micro(F.col("cosine")).alias("cosine_micro"))


def _q_media_meta(spark, sf):
    d = _read(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    m = mm.media_metadata(d)
    return m.select(
        "doc_id",
        F.col("media_meta.size_bytes").alias("size_bytes"),
        F.col("media_meta.sha256").alias("sha_hex"),
        F.col("media_meta.mime_guess").alias("mime_guess"),
    )


def _q_frame_sample(spark, sf):
    d = _read(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return mm.frame_sample_stub(d, every_n=30)


def _q_image_resize(spark, sf):
    d = _read(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return mm.image_resize_stub(d, target=224)


def _q_image_resize_real(spark, sf):
    """REAL image decode end to end (r4): a deterministic uniform-gray
    PNG is synthesized per doc (w = 16 + doc_id % 50, h = 16 +
    doc_id % 37), resize_images decodes it with the stdlib PNG codec
    (operators/multimodal.py + functions/png.py) and aspect-fits.  The
    oracle recomputes the dims arithmetic directly — a wrong decode
    cannot produce the right src dims, so the decode path itself is
    value-checked (the resized PNG bytes are pytest-verified; DuckDB
    cannot decode PNG)."""
    import numpy as np
    import pandas as pd

    from hail_elasticsearch_pipelines_spark.functions import png as _png

    d = _read(spark, sf, "documents").select(F.col("doc_id").alias("media_id"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                w, h = 16 + int(mid) % 50, 16 + int(mid) % 37
                arr = np.full((h, w), int(mid) % 256, np.uint8)
                rows.append((int(mid), _png.encode_png(arr)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    pay = d.mapInPandas(gen, schema="media_id long, payload binary")
    return mm.resize_images(pay, target=224).select(
        "media_id", "src_w", "src_h", "out_w", "out_h", "decoded"
    )


def _q_pricing_summary(spark, sf):
    li = _read(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            _micro(F.sum("l_extendedprice") / F.lit(1000.0)).alias("sum_base_milli"),
            _micro(F.avg("l_discount")).alias("avg_disc_micro"),
            F.count("*").alias("count_order"),
        )
    )


def _q_top_customers(spark, sf):
    o = _read(spark, sf, "orders")
    c = _read(spark, sf, "customer")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    return (
        rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            _micro(F.col("revenue") / F.lit(1000.0)).alias("revenue_milli"),
        )
        .orderBy(F.desc("revenue_milli"), F.asc("c_custkey"))
        .limit(10)
    )


def _q_customers_no_orders(spark, sf):
    o = _read(spark, sf, "orders")
    c = _read(spark, sf, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def _q_nations_with_customers(spark, sf):
    n = _read(spark, sf, "nation")
    c = _read(spark, sf, "customer")
    return n.join(c, n.n_nationkey == c.c_nationkey, "left_semi").select(
        "n_nationkey", "n_name"
    )


def _q_union_nationkeys(spark, sf):
    c = _read(spark, sf, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = _read(spark, sf, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.unionByName(s).distinct()


def _q_top_event_per_user(spark, sf):
    from pyspark.sql import Window

    e = _read(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", _micro(F.col("value") / F.lit(1000.0)).alias("value_milli"))
    )


def _q_hourly_events(spark, sf):
    e = _read(spark, sf, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        _micro(F.sum("value") / F.lit(1000.0)).alias("sum_value_milli"),
    )


def _q_order_values_sorted(spark, sf):
    """W1/W2 analog: per-customer array of order totals sorted desc,
    emitted as a joined string so the value-hash is format-stable."""
    o = _read(spark, sf, "orders")
    arr = F.array_sort(
        F.collect_list(F.floor("o_totalprice").cast("long")),
        lambda a, b: F.when(a > b, -1).when(a < b, 1).otherwise(0),
    )
    return (
        o.groupBy("o_custkey")
        .agg(F.array_join(F.transform(arr, lambda x: x.cast("string")), ",").alias("totals_desc"))
        .select(F.col("o_custkey").alias("custkey"), "totals_desc")
    )


def _q_nation_counts_full_outer(spark, sf):
    """J2 analog: full-outer join of per-nation customer and supplier
    counts (unmatched sides surface as nulls → coalesce to 0)."""
    c = _read(spark, sf, "customer").groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    s = _read(spark, sf, "supplier").groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    j = c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
    return j.select(
        F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).cast("long").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def _q_json_props(spark, sf):
    e = _read(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k")
    )


# r5 doc-value queries: range filter, recency sort, date_histogram,
# cardinality, significant_terms — all over the doclens doc-value store
# (warc_ts derives from doc_id, source/n_chars ride as stored fields)

def _q_sort_recent(spark, sf):
    """ES sort-by-field: docs matching any OR term ordered by crawl
    timestamp (recency), doc_id asc tiebreak."""
    r = _searcher(spark, sf).search_sorted(
        OR_TERMS, "warc_ts", ascending=False, k=20
    )
    return r.select(
        "doc_id", F.col("warc_ts").cast("long").alias("ts_epoch")
    )


def _q_range_search(spark, sf):
    """BM25 top-k with an ES filter-context range clause on the
    n_chars doc value — scores identical to the unfiltered ranking."""
    r = _searcher(spark, sf).search_range(
        OR_TERMS, "n_chars", lo=150, hi=400, k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_date_histogram(spark, sf):
    """ES date_histogram: matching docs bucketed by crawl day."""
    r = _searcher(spark, sf).search_value_histogram(OR_TERMS, "warc_ts", "day")
    return r.select(
        F.col("bucket").cast("long").alias("bucket_epoch"), "doc_count"
    )


def _q_histo_pipeline_day(spark, sf):
    """ES pipeline aggregations over a date_histogram parent:
    derivative (day-over-day change) + a trailing 3-bucket moving
    average, computed over the aggregated bucket series (the window is
    bounded by bucket cardinality, never corpus size).  The NULL
    first-bucket derivative is sentinel-encoded for the value hash."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        histogram_pipeline,
    )

    r = histogram_pipeline(
        _searcher(spark, sf), OR_TERMS, "warc_ts", "day",
        derivative=True, moving_avg=3,
    )
    return r.select(
        F.col("bucket").cast("long").alias("bucket_epoch"),
        "doc_count",
        F.coalesce(F.col("derivative"), F.lit(-1e9)).cast("long").alias("deriv_l"),
        _micro(F.col("moving_avg")).alias("moving_micro"),
    )


def _q_max_bucket_day(spark, sf):
    """ES max_bucket sibling pipeline agg: the day bucket(s) with the
    highest match count (every tying key, per ES)."""
    from hail_elasticsearch_pipelines_spark.operators.docvalues import (
        bucket_stat,
    )

    r = bucket_stat(_searcher(spark, sf), OR_TERMS, "warc_ts", "day", "max")
    return r.select(
        F.col("bucket").cast("long").alias("bucket_epoch"),
        F.col("value").cast("long").alias("doc_count"),
    )


def _q_cardinality_src(spark, sf):
    """ES cardinality aggregation (exact mode for the oracle; the
    HLL++ approx mode is the 10^12-doc path)."""
    return _searcher(spark, sf).search_cardinality(OR_TERMS, "source")


def _q_sig_terms_src(spark, sf):
    """ES significant_terms: sources over-represented in the match set
    vs the whole live index, by relative-frequency lift."""
    r = _searcher(spark, sf).significant_terms(OR_TERMS, "source", size=10)
    return r.select(
        "value", "fg_count", "bg_count", _micro(F.col("lift")).alias("lift_micro")
    )


def _q_bool_range(spark, sf):
    """Range atom in the boolean query language (ES query_string
    range syntax, filter context, exclusive lower bound):
    ``(fast OR key OR table) AND n_chars:{150 TO 400]``."""
    r = _searcher(spark, sf).search_bool(
        "(fast OR key OR table) AND n_chars:{150 TO 400]", k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_filtered_histogram(spark, sf):
    """ES bool query + aggregations combo: daily date_histogram of
    docs matching the OR terms AND an n_chars range atom."""
    r = _searcher(spark, sf).search_value_histogram(
        "(fast OR key OR table) AND n_chars:[150 TO 400]",
        "warc_ts",
        "day",
        mode="BOOL",
    )
    return r.select(
        F.col("bucket").cast("long").alias("bucket_epoch"), "doc_count"
    )


def _q_stats_nchars(spark, sf):
    """ES stats aggregation on the n_chars doc value over the match
    set (exact integer aggregates)."""
    r = _searcher(spark, sf).search_field_stats(OR_TERMS, "n_chars")
    return r.select(
        "n_hits",
        F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
        F.col("sum_v").cast("long").alias("sum_v"),
        _micro(F.col("avg_v")).alias("avg_micro"),
    )


def _q_tophits_src(spark, sf):
    """ES terms agg + top_hits sub-agg: top-5 sources by best BM25
    hit, each with its 3 best hits."""
    r = _searcher(spark, sf).search_grouped_tophits(
        OR_TERMS, "source", n_buckets=5, per_bucket=3
    )
    return r.select(
        "value", "rank", "doc_id", _micro(F.col("score")).alias("score_micro")
    )


def _q_collapse_src(spark, sf):
    """ES field collapsing: BM25 top-10 with at most one (best) hit
    per source — one result per site in web search."""
    r = _searcher(spark, sf).search_collapse(OR_TERMS, "source", k=10)
    return r.select(
        "value", "doc_id", _micro(F.col("score")).alias("score_micro")
    )


def _q_percentiles_nchars(spark, sf):
    """ES percentiles aggregation on the n_chars doc value (exact
    interpolated; ES's t-digest approximates this statistic)."""
    r = _searcher(spark, sf).search_percentiles(
        OR_TERMS, "n_chars", (0.25, 0.5, 0.9)
    )
    return r.select("pct", _micro(F.col("value")).alias("value_micro"))


def _q_range_buckets_nchars(spark, sf):
    """ES range aggregation: explicit [from, to) n_chars buckets over
    the match set, empty buckets included."""
    return _searcher(spark, sf).search_range_buckets(
        OR_TERMS,
        "n_chars",
        [("lt200", None, 200), ("mid", 200, 400), ("ge400", 400, None)],
    )


def _q_sort_page2(spark, sf):
    """ES search_after pagination on a recency sort: the page strictly
    after the (2025-02-01, doc 0) cursor."""
    r = _searcher(spark, sf).search_sorted(
        OR_TERMS, "warc_ts", False, 20,
        after=(datetime.datetime(2025, 2, 1), 0),
    )
    return r.select(
        "doc_id", F.col("warc_ts").cast("long").alias("ts_epoch")
    )


def _q_date_histogram_cum(spark, sf):
    """ES cumulative_sum pipeline agg over the daily date_histogram."""
    r = _searcher(spark, sf).search_value_histogram(
        OR_TERMS, "warc_ts", "day", cumulative=True
    )
    return r.select(
        F.col("bucket").cast("long").alias("bucket_epoch"), "doc_count"
    )


def _q_decay_recency(spark, sf):
    """ES function_score gauss decay: BM25 × recency factor around an
    origin just past the crawl window (score halves every 7 days of
    age — the standard freshness boost)."""
    r = _searcher(spark, sf).search_decay(
        OR_TERMS,
        "warc_ts",
        origin="2025-02-18 00:00:00",
        scale=7 * 86400.0,
        decay=0.5,
        fn="gauss",
        k=20,
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_decay_filtered(spark, sf):
    """function_score decay over a BOOLEAN query — filtered recency
    boost: gauss-decayed BM25 restricted to an n_chars range atom."""
    r = _searcher(spark, sf).search_decay(
        "(fast OR key OR table) AND n_chars:[150 TO 400]",
        "warc_ts",
        origin="2025-02-18 00:00:00",
        scale=7 * 86400.0,
        decay=0.5,
        fn="gauss",
        mode="BOOL",
        k=20,
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_regexp_search(spark, sf):
    """ES regexp query: anchored-pattern termdict expansion →
    scoring_boolean BM25 (matches {scan, slow, small, sort})."""
    r = _searcher(spark, sf).search_regexp("s(low|mall|can)|.*ort", k=15)
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_missing_fetch(spark, sf):
    """ES missing aggregation: matching docs with no fetch_ms value."""
    return _searcher(spark, sf).search_missing(OR_TERMS, "fetch_ms")


def _q_terms_after_src(spark, sf):
    """ES composite aggregation (one terms source): source buckets in
    ascending order, paged strictly after the 'src2' key."""
    return _searcher(spark, sf).search_value_terms(
        OR_TERMS, "source", size=8, after="src2"
    )


def _q_nested_filter(spark, sf):
    """ES nested query (same-object semantics): BM25 over the OR terms
    restricted to docs having ≥1 links object with anchor=a1 AND
    rel=r0 in the SAME object — resolved via the exploded nested
    sidecar's (doc_id, obj) join."""
    r = _searcher(spark, sf).search_nested(
        OR_TERMS, "links", {"anchor": "a1", "rel": "r0"}, k=20
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_suggest_phrase(spark, sf):
    """ES phrase suggester: multi-term did-you-mean over the termdict
    ('fasr key' → 'fast key' and friends), unigram-LM ranked, ≤1
    changed token."""
    r = _searcher(spark, sf).suggest_phrase("fasr kei", size=5)
    return r.select("suggestion", _micro(F.col("score")).alias("score_micro"))


def _q_termvectors(spark, sf):
    """ES _termvectors (on-the-fly): per-term tf/df/first-position of
    doc 0's analyzed text, df joined from the termdict."""
    r = _searcher(spark, sf).termvectors(_read(spark, sf, "documents"), 0)
    return r.select(
        "term", "tf", "df",
        F.element_at("positions", 1).alias("first_pos"),
    )


def _q_synonym_search(spark, sf):
    """ES synonym_graph at search time: 'fast AND table' with
    fast → {query} scores as '(fast OR query) AND table'."""
    r = _searcher(spark, sf).search_bool(
        "fast AND table", k=20, synonyms={"fast": ["query"]}
    )
    return r.select("doc_id", _micro(F.col("score")).alias("score_micro"))


def _q_nested_terms(spark, sf):
    """ES nested terms aggregation: top links.anchor values across the
    matching docs' nested objects (distinct parent docs per value —
    the nested + reverse_nested shape)."""
    return _searcher(spark, sf).search_nested_terms(
        OR_TERMS, "links", "anchor", size=10
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver gate verifies the FIRST 50 entries only.
    # Rotation policy (round 6, this session): the 14 r5 rows the driver
    # had never verified stay first (VERDICT ask #1), then rows whose
    # implementation files changed in round 6, then the operators NEW
    # this round (no driver record exists yet), then rows over the
    # dedup/similarity/fielded/phrase code touched late in the round,
    # then the oldest-record rows that still fit.  Every entry past 50
    # has a prior green driver record on unchanged code AND a fresh
    # gate-replica run (scripts/check_oracles.py) recorded this round.
    return {
        "collapse_src": _q_collapse_src,
        "tophits_src": _q_tophits_src,
        "stats_nchars": _q_stats_nchars,
        "percentiles_nchars": _q_percentiles_nchars,
        "range_buckets_nchars": _q_range_buckets_nchars,
        "sort_page2": _q_sort_page2,
        "date_histogram_cum": _q_date_histogram_cum,
        "decay_recency": _q_decay_recency,
        "decay_filtered": _q_decay_filtered,
        "regexp_search": _q_regexp_search,
        "missing_fetch": _q_missing_fetch,
        "terms_after_src": _q_terms_after_src,
        "suggest_s": _q_suggest_s,
        "mlt_doc0": _q_mlt_doc0,
        "percolate_hits": _q_percolate,
        "phrase_slop": _q_phrase_slop,
        "bool_phrase_search": _q_bool_phrase,
        "filters_agg": _q_filters_agg,
        "adjacency_matrix": _q_adjacency,
        "bm25_index_or": _q_bm25_index_or,
        "bm25_index_and": _q_bm25_index_and,
        "bm25_index_bmw": _q_bm25_index_bmw,
        "bm25_index_segprune": _q_bm25_index_segprune,
        "nested_filter": _q_nested_filter,
        "suggest_phrase": _q_suggest_phrase,
        "termvectors_doc0": _q_termvectors,
        "synonym_search": _q_synonym_search,
        "nested_terms_anchor": _q_nested_terms,
        "histo_pipeline_day": _q_histo_pipeline_day,
        "max_bucket_day": _q_max_bucket_day,
        "phrase_prefix_search": _q_phrase_prefix,
        "dis_max_search": _q_dis_max_search,
        "repetition_stats": _q_repetition_stats,
        "gopher_filter": _q_gopher_filter,
        "span_first_search": _q_span_first,
        "multi_terms_pair": _q_multi_terms,
        "top_metrics_recent": _q_top_metrics,
        "ivf_topk": _q_ivf_topk,
        "hybrid_rrf": _q_hybrid_rrf,
        "pinned_search": _q_pinned_search,
        "mget_docs": _q_mget,
        "terms_set_search": _q_terms_set,
        "rare_terms_fetch": _q_rare_terms,
        "decontam_overlap": _q_decontam_overlap,
        "fvf_boost": _q_fvf_boost,
        "random_score_search": _q_random_score,
        "weighted_avg_nchars": _q_weighted_avg,
        "matrix_stats_pair": _q_matrix_stats,
        "fed_dfs_search": _q_fed_dfs_search,
        "minhash_dedup": _q_minhash_dedup,
        "fielded_search": _q_fielded_search,
        "phrase_search": _q_phrase_search,
        "fielded_search_and": _q_fielded_search_and,
        "rescore_phrase": _q_rescore_phrase,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ngram_jaccard": _q_ngram_jaccard,
        "simhash_pairs": _q_simhash_pairs,
        "embedding_pairs": _q_embedding_pairs,
        "image_resize_real": _q_image_resize_real,
        # ---- entries below rank past the driver's 50-row cap ----------
        "media_meta": _q_media_meta,
        "frame_sample": _q_frame_sample,
        "image_resize": _q_image_resize,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "customers_no_orders": _q_customers_no_orders,
        "nations_with_customers": _q_nations_with_customers,
        "union_nationkeys": _q_union_nationkeys,
        "order_values_sorted": _q_order_values_sorted,
        "nation_counts_full_outer": _q_nation_counts_full_outer,
        "top_event_per_user": _q_top_event_per_user,
        "hourly_events": _q_hourly_events,
        "json_props": _q_json_props,
        "bool_search": _q_bool_search,
        "facet_counts": _q_facet_counts,
        "search_count": _q_search_count,
        "range_search": _q_range_search,
        "sort_recent": _q_sort_recent,
        "highlight_top3": _q_highlight_top3,
        "min_should_match2": _q_min_should_match2,
        "token_count": _q_token_count,
        "text_quality": _q_text_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "bm25_or": _q_bm25_or,
        "bm25_and": _q_bm25_and,
        "bm25_page2": _q_bm25_page2,
        "explain_top1": _q_explain_top1,
        "match_positions": _q_match_positions,
        "url_canon": _q_url_canon,
        "boost_search": _q_boost_search,
        "exists_search": _q_exists_search,
        "bucket_metrics_day": _q_bucket_metrics,
        "tags_terms": _q_tags_terms,
        "dv_eq_search": _q_dv_eq_search,
        "sig_text": _q_sig_text,
        "tags_missing": _q_tags_missing,
        "prefix_search": _q_prefix_search,
        "fuzzy_search": _q_fuzzy_search,
        "stats_agg": _q_stats_agg,
        "dlen_histogram": _q_dlen_histogram,
        "date_histogram": _q_date_histogram,
        "cardinality_src": _q_cardinality_src,
        "sig_terms_src": _q_sig_terms_src,
        "bool_range_search": _q_bool_range,
        "filtered_histogram": _q_filtered_histogram,
    }


# ------------------------------------------------------------- oracle SQL

TOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
SW = ", ".join(f"'{w}'" for w in tq.EN_STOPWORDS)


def _micro_sql(expr: str) -> str:
    return f"CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT)"


def _bm25_sql(
    terms: list[str], mode: str, k: int, offset: int = 0, msm: int = 1
) -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    n_terms = len(set(terms))
    having = f"HAVING count(*) = {n_terms}" if mode == "AND" else (
        f"HAVING count(*) >= {msm}" if msm > 1 else ""
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl FROM tok
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({tlist})
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id {having}
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT {k} OFFSET {offset}
"""


_NGRAM_JACCARD_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, {TOK} AS toks FROM documents
), sh AS (
  SELECT id,
    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                             for i in range(1, len(toks) - 2 + 1)])
    END AS shs
  FROM tok
), e AS (
  SELECT id, unnest(shs) AS s FROM sh
), c AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS common
  FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
), sz AS (
  SELECT id, len(shs)::BIGINT AS sz FROM sh
)
SELECT id_a, id_b,
       {_micro_sql('common / (sa.sz + sb.sz - common)')} AS jaccard_micro
FROM c JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
WHERE common / (sa.sz + sb.sz - common) >= 0.8
"""

_QUALITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, {TOK} AS toks FROM documents
), base AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN list_sum([length(t) for t in toks]) / len(toks) ELSE 0.0 END AS mtl,
    CASE WHEN length(lower(text)) > 0
         THEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) / length(lower(text))
         ELSE 0.0 END AS alnum,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, t -> t IN ({SW}))) / len(toks) ELSE 0.0 END AS sw
  FROM tok
)
SELECT doc_id, n_tokens,
  {_micro_sql('mtl')} AS mean_tok_len_micro,
  {_micro_sql('alnum')} AS alnum_micro,
  {_micro_sql('sw')} AS stopword_micro,
  {_micro_sql(
      "0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * alnum"
      " + 0.2 * greatest(0.0, 1.0 - abs(mtl - 5.0) / 10.0)"
      " + 0.1 * least(sw * 5.0, 1.0)"
  )} AS quality_micro
FROM base
"""


def _lang_sql() -> str:
    ratio = {
        lang: (
            f"CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> t IN "
            f"({', '.join(repr(w) for w in words)}))) / len(toks) ELSE 0.0 END"
        )
        for lang, words in tq.LANG_MARKERS.items()
    }
    cols = ", ".join(f"({v}) AS r_{k}" for k, v in ratio.items())
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
r AS (SELECT doc_id, {cols} FROM tok),
b AS (SELECT *, greatest(r_en, r_de, r_es, r_fr) AS best FROM r)
SELECT doc_id,
  CASE WHEN best > 0 AND r_en >= best THEN 'en'
       WHEN best > 0 AND r_de >= best THEN 'de'
       WHEN best > 0 AND r_es >= best THEN 'es'
       WHEN best > 0 AND r_fr >= best THEN 'fr'
       ELSE 'unknown' END AS lang_pred
FROM b
"""


_FINGERPRINT_SQL = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents)
SELECT doc_id,
  CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
    list_sum([
      (i * list_reduce(
            list_prepend(0::BIGINT,
              [ascii(c)::BIGINT for c in list_filter(string_split(toks[i], ''), c -> c <> '')]),
            (a, b) -> (a * 131 + b) % 2147483647))
      for i in range(1, len(toks) + 1)
    ]) % 2147483647
  END AS BIGINT) AS fp
FROM tok
"""

def _phrase_sql(
    phrase: list[str], k: int, slop: int = 0, last_prefix: str | None = None
) -> str:
    """BM25 of the phrase as one pseudo-term: tf via an adjacency
    (slop=0) or in-order-window (slop>0) self-join over (token,
    position).  With slop, tf counts DISTINCT start positions — the
    greedy-chain count of the engine kernel (existence of any chain ==
    greedy success: all constraints are upper bounds on an increasing
    chain).  ``last_prefix`` appends a final match_phrase_prefix slot:
    any token carrying the prefix completes the chain (LIKE condition;
    DISTINCT starts, since several expansions may complete one start)."""
    terms = list(phrase) + ([None] if last_prefix is not None else [])
    joins, conds = [], [f"p0.term = '{terms[0]}'"]
    for i in range(1, len(terms)):
        if slop == 0:
            on = f"p{i}.doc_id = p0.doc_id AND p{i}.i = p0.i + {i}"
        else:
            on = (
                f"p{i}.doc_id = p0.doc_id AND p{i}.i > p{i - 1}.i "
                f"AND p{i}.i <= p0.i + {i} + {slop}"
            )
        joins.append(f"JOIN pos p{i} ON {on}")
        if terms[i] is None:
            conds.append(f"p{i}.term LIKE '{last_prefix}%'")
        else:
            conds.append(f"p{i}.term = '{terms[i]}'")
    tf_expr = (
        "count(*)" if slop == 0 and last_prefix is None
        else "count(DISTINCT p0.i)"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
pos AS (
  SELECT doc_id, u.t AS term, u.i AS i
  FROM tok, UNNEST(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(t := toks[i], i := i))) AS x(u)
),
m AS (
  SELECT p0.doc_id, {tf_expr}::BIGINT AS tf
  FROM pos p0 {' '.join(joins)}
  WHERE {' AND '.join(conds)}
  GROUP BY p0.doc_id
),
scored AS (
  SELECT m.doc_id,
    ln(1.0 + (stats.n_docs - (SELECT count(*) FROM m) + 0.5)
           / ((SELECT count(*) FROM m) + 0.5))
    * (2.2 * m.tf) / (m.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS score
  FROM m JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# --- simhash oracle: the 'poly' token hash (31-bit polynomial char
# hash, identical to the fingerprint oracle's tv) makes the whole
# simhash SQL-expressible: per-(doc, token) tf + hash → 32 bit votes →
# fingerprint → banded pairs by hamming <= 3.
_TOKEN_TV_SQL = (
    "list_reduce(list_prepend(0::BIGINT, "
    "[ascii(c)::BIGINT for c in list_filter(string_split(t, ''), c -> c <> '')]), "
    "(a, b) -> (a * 131 + b) % 2147483647)"
)


def _simhash_sql(max_hamming: int = 3) -> str:
    votes = ", ".join(
        f"sum(tf * (CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS v{j}"
        for j in range(32)
    )
    fp = " + ".join(f"(CASE WHEN v{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)" for j in range(32))
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
inst AS (SELECT doc_id, unnest(toks) AS t FROM tok),
tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM inst GROUP BY doc_id, t),
hv AS (SELECT doc_id, tf, {_TOKEN_TV_SQL} AS h FROM tf),
votes AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id),
fp0 AS (SELECT doc_id, ({fp}) AS sh FROM votes),
fp AS (
  SELECT d.doc_id, coalesce(fp0.sh, 0)::BIGINT AS sh
  FROM documents d LEFT JOIN fp0 ON d.doc_id = fp0.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


# --- ann oracle: LCG hyperplanes w(p,i) are pure integer arithmetic,
# so per-vector buckets (sign bits of projections) are computed in SQL;
# the probe set 'hamming(bucket, query_bucket) <= multiprobe' matches
# the engine's multiprobe enumeration exactly.
def _ann_lcg_sql(dim: int, n_planes: int, seed: int, multiprobe: int, k: int) -> str:
    proj = lambda p: (
        "list_sum(list_transform(range(1, "
        f"{dim + 1}), i -> vv[i] * (((1103515245 * ((({p} * {dim}) + (i - 1)) + {seed}) "
        "+ 12345) % 2147483648) - 1073741824) / 1073741824.0))"
    )
    bucket = " + ".join(
        f"(CASE WHEN ({proj(p)}) > 0 THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS vv FROM embeddings
), b AS (
  SELECT vec_id, vv, ({bucket}) AS bucket FROM v
), q AS (
  SELECT vv AS qv, bucket AS qb FROM b WHERE vec_id = 0
), cand AS (
  SELECT b.vec_id, b.vv, q.qv FROM b, q
  WHERE bit_count(xor(b.bucket, q.qb)) <= {multiprobe}
), s AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, {dim + 1}), i -> vv[i] * qv[i]))
    / (sqrt(list_sum([x * x for x in vv])) * sqrt(list_sum([x * x for x in qv])))
    AS cosine
  FROM cand
)
SELECT vec_id, {_micro_sql('cosine')} AS cosine_micro
FROM s ORDER BY cosine DESC, vec_id ASC LIMIT {k}
"""


# --- embedding_pairs oracle: the planted near-duplicates make the
# expected output exact — LSH banding only affects recall, and the
# planted pairs' recall-miss probability is ~1e-9 (documented in
# operators/similarity.py); everything else is exact cosine.
_AUG_SQL = """
aug AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS vv FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, len(embedding) + 1),
                        i -> embedding[i]::DOUBLE * (1.0 + 0.0001 * ((i - 1) % 5)))
  FROM embeddings
)
"""

_EMB_PAIRS_SQL = f"""
WITH {_AUG_SQL},
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(range(1, len(a.vv) + 1), i -> a.vv[i] * b.vv[i]))
    / (sqrt(list_sum([x * x for x in a.vv])) * sqrt(list_sum([x * x for x in b.vv])))
    AS cosine
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, {{micro}} AS cosine_micro FROM p WHERE cosine >= 0.9
""".format(micro=_micro_sql("cosine"))


_COSINE_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
      i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
    / (sqrt(list_sum([ (x::DOUBLE) * (x::DOUBLE) for x in e.embedding]))
       * sqrt(list_sum([ (x::DOUBLE) * (x::DOUBLE) for x in q.qv]))) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, {micro} AS cosine_micro
FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 20
""".format(micro=_micro_sql("cosine"))


def _frame_sample_sql(every_n: int = 30) -> str:
    """DuckDB twin of multimodal.frame_sample_stub: the stub's fake
    frame chain is a hex-STRING sha256 chain (h := sha256(h || ':' ||
    idx) over ASCII text) precisely so it is expressible here —
    unrolled over the stub's bounded 1..7 frame count."""
    ctes = [
        "base AS (SELECT doc_id AS media_id, "
        "1 + octet_length(encode(text)) % 7 AS n_frames, "
        "sha256(text) AS h0 FROM documents)"
    ]
    for j in range(7):
        src = "base" if j == 0 else f"c{j}"
        ctes.append(
            f"c{j + 1} AS (SELECT *, sha256(h{j} || ':{every_n * j}') "
            f"AS h{j + 1} FROM {src})"
        )
    sels = [
        f"SELECT media_id, {every_n * j} AS frame_idx, h{j + 1} AS frame_sha "
        f"FROM c7 WHERE n_frames > {j}"
        for j in range(7)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(sels)


_IMAGE_RESIZE_SQL = """
WITH base AS (
  SELECT doc_id AS media_id, sha256(text) AS hx FROM documents
), dims AS (
  SELECT media_id, hx,
    16 + (('0x' || substr(hx, 1, 2))::INT % 1024) AS src_w,
    16 + (('0x' || substr(hx, 3, 2))::INT % 1024) AS src_h
  FROM base
), fit AS (
  SELECT *, greatest(1, (src_w * 224) // greatest(src_w, src_h)) AS out_w,
            greatest(1, (src_h * 224) // greatest(src_w, src_h)) AS out_h
  FROM dims
)
SELECT media_id, src_w, src_h, out_w, out_h,
       sha256(hx || ':' || out_w || 'x' || out_h) AS resized_sha
FROM fit
"""


_BM25_CTES = f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl FROM tok
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('fast', 'key', 'table')
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
"""

# function_score field_value_factor (sqrt modifier: IEEE
# correctly-rounded on both engines, so scores stay bit-identical)
_FVF_SQL = (
    _BM25_CTES
    + f"""
, rs AS (
  SELECT agg.doc_id, agg.score * sqrt(0.01 * d.n_chars::DOUBLE) AS score
  FROM agg JOIN documents d USING (doc_id)
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM rs ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

# function_score random_score: two minstd rounds over (doc_id mod p +
# seed), every intermediate < 2^48 — exact BIGINT arithmetic
_RANDOM_SCORE_SQL = (
    _BM25_CTES
    + f"""
, rs AS (
  SELECT doc_id,
         agg.score * ((((doc_id % 2147483647 + 7) % 2147483647)
                       * 48271 % 2147483647)
                      * 48271 % 2147483647) / 2147483647.0 AS score
  FROM agg
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM rs ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

_SEARCH_COUNT_SQL = f"""
SELECT count(*)::BIGINT AS n_hits
FROM (SELECT doc_id, {TOK} AS toks FROM documents)
WHERE len(list_intersect(toks, ['fast', 'key', 'table'])) > 0
"""

_EXPLAIN_SQL = (
    _BM25_CTES
    + """
, top1 AS (SELECT doc_id FROM agg ORDER BY score DESC, doc_id ASC LIMIT 1)
SELECT tf.term, tf.tf, dfs.df, dl.dl AS doc_len,
       {mi_idf} AS idf_micro,
       {mi_contrib} AS contrib_micro
FROM tf
JOIN top1 USING (doc_id) JOIN dfs USING (term) JOIN dl USING (doc_id)
CROSS JOIN stats
ORDER BY tf.term
""".format(
        mi_idf=_micro_sql(
            "ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))"
        ),
        mi_contrib=_micro_sql(
            "ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))"
            " * (2.2 * tf.tf)"
            " / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))"
        ),
    )
)

_MATCH_POSITIONS_SQL = (
    _BM25_CTES
    + """
, top3 AS (SELECT doc_id FROM agg ORDER BY score DESC, doc_id ASC LIMIT 3)
SELECT t.doc_id, u.term, u.pos
FROM (SELECT tok.doc_id, tok.toks FROM tok JOIN top3 USING (doc_id)) t,
LATERAL (
  SELECT unnest(t.toks) AS term,
         (generate_subscripts(t.toks, 1) - 1)::BIGINT AS pos
) u
WHERE u.term IN ('fast', 'key', 'table')
ORDER BY t.doc_id, u.term, u.pos
"""
)


_TITLES_SQL = "[" + ", ".join(f"'{t}'" for t in TITLES) + "]"

# BM25F-lite most_fields: per-(field, term) df + per-field length norm,
# title contributions boosted 2x — the SQL twin of search_fielded
_FIELDED_SQL = f"""
WITH titled AS (
  SELECT doc_id, text,
         ({_TITLES_SQL})[(doc_id % 5) + 1] AS title
  FROM documents
), tok AS (
  SELECT doc_id, {TOK} AS toks,
         list_filter(string_split_regex(lower(title), '[^a-z0-9]+'), t -> t <> '') AS ttoks
  FROM titled
), dl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl, len(ttoks)::BIGINT AS tdl FROM tok
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl, avg(tdl) AS tavgdl FROM dl
), tf AS (
  SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, 'text' AS field, unnest(toks) AS term FROM tok
    UNION ALL
    SELECT doc_id, 'title' AS field, unnest(ttoks) AS term FROM tok
  )
  WHERE term IN ('fast', 'table')
  GROUP BY doc_id, field, term
), dfs AS (
  SELECT field, term, count(*)::BIGINT AS df FROM tf GROUP BY field, term
), scored AS (
  SELECT tf.doc_id,
         (CASE WHEN tf.field = 'title' THEN 2.0 ELSE 1.0 END)
         * ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
         * (2.2 * tf.tf)
         / (tf.tf + 1.2 * (0.25 + 0.75
            * (CASE WHEN tf.field = 'title' THEN dl.tdl ELSE dl.dl END)
            / (CASE WHEN tf.field = 'title' THEN stats.tavgdl ELSE stats.avgdl END)))
         AS contrib
  FROM tf JOIN dfs USING (field, term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
SELECT doc_id, {_micro_sql("score")} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20
"""

# operator=and variant: same CTE chain, matches restricted to docs
# holding EVERY query token in >=1 field (count of distinct matched
# tokens across fields == number of query tokens)
_FIELDED_AND_SQL = _FIELDED_SQL.replace(
    "SELECT doc_id, " + _micro_sql("score") + " AS score_micro\nFROM agg ",
    """SELECT agg.doc_id, """
    + _micro_sql("score")
    + """ AS score_micro
FROM agg JOIN (
  SELECT doc_id FROM tf GROUP BY doc_id HAVING count(DISTINCT term) = 2
) matched USING (doc_id)
""",
)
assert _FIELDED_AND_SQL != _FIELDED_SQL

# dis_max / best_fields variant: per-field BM25 sums, max + 0.3 × rest
# (scored additionally carries the field so fagg can group by it)
_FIELDED_BEST_SQL = _FIELDED_SQL.replace(
    "SELECT tf.doc_id,\n", "SELECT tf.doc_id, tf.field,\n"
).replace(
    """), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)""",
    """), fagg AS (
  SELECT doc_id, field, sum(contrib) AS fscore
  FROM scored GROUP BY doc_id, field
), agg AS (
  SELECT doc_id,
         max(fscore) + 0.3 * (sum(fscore) - max(fscore)) AS score
  FROM fagg GROUP BY doc_id
)""",
)
assert _FIELDED_BEST_SQL != _FIELDED_SQL

# Gopher bigram-repetition metrics: one (doc, gram) count, two fractions
_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM tok WHERE len(toks) >= 2
), c AS (
  SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM grams GROUP BY 1, 2
), p AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_grams, max(cnt) AS top_cnt,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
  FROM c GROUP BY 1
)
SELECT d.doc_id, coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       {_micro_sql('coalesce(dup_cnt / n_grams, 0.0)')} AS dup_micro,
       {_micro_sql('coalesce(top_cnt / n_grams, 0.0)')} AS top_micro
FROM documents d LEFT JOIN p USING (doc_id)
"""

# hybrid RRF: BM25 top-40 ⊕ cosine top-40, 1/(60+rank) fusion — ranks
# from the exact (score desc, id asc) orderings both engines share
_HYBRID_RRF_SQL = (
    _BM25_CTES
    + """
, qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0)
, cos AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
      i -> e.embedding[i]::DOUBLE * qv.v[i]::DOUBLE))
    / (sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) for x in e.embedding]))
       * sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) for x in qv.v]))) AS cosine
  FROM embeddings e CROSS JOIN qv
)
, b AS (
  SELECT doc_id, rn FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM agg) WHERE rn <= 40
)
, v AS (
  SELECT vec_id, rn FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM cos) WHERE rn <= 40
)
, f AS (
  SELECT coalesce(b.doc_id, v.vec_id) AS doc_id,
         coalesce(1.0 / (60 + b.rn), 0.0)
         + coalesce(1.0 / (60 + v.rn), 0.0) AS score
  FROM b FULL OUTER JOIN v ON b.doc_id = v.vec_id
)
SELECT doc_id, {micro} AS score_micro
FROM f ORDER BY score DESC, doc_id ASC LIMIT 15
""".format(micro=_micro_sql("score"))
)

# pinned query: live promoted ids first in order, organic after
_PINNED_SQL = (
    _BM25_CTES
    + """
, org AS (
  SELECT doc_id, rn FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM agg) WHERE rn <= 17 AND doc_id NOT IN (7, 3)
)
, seq AS (
  SELECT 7::BIGINT AS doc_id, 0 AS grp, 1 AS ord, TRUE AS pinned
  UNION ALL
  SELECT 3::BIGINT, 0, 2, TRUE
  UNION ALL
  SELECT doc_id, 1, rn, FALSE FROM org
)
SELECT doc_id, row_number() OVER (ORDER BY grp, ord) AS rank, pinned
FROM seq ORDER BY rank LIMIT 15
"""
)

# _mget: request ids vs the documents table (NULL fields when missing)
_MGET_SQL = """
WITH req(doc_id) AS (VALUES (7), (999999), (3), (42))
SELECT r.doc_id, d.doc_id IS NOT NULL AS found, d.source, d.n_chars,
       CASE WHEN d.doc_id IS NULL THEN NULL
            WHEN d.doc_id % 7 = 0 THEN -1
            ELSE (d.doc_id * 37) % 500 + 20 END::BIGINT AS fetch_l
FROM req r LEFT JOIN documents d USING (doc_id)
"""


# terms_set: per-doc HAVING count >= 1 + doc_id % 3 over the OR scoring
_TERMS_SET_SQL = _bm25_sql(["fast", "key", "table"], "OR", 20).replace(
    "SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id ",
    "SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id "
    "HAVING count(*) >= 1 + doc_id % 3",
)
assert "HAVING count(*) >= 1 + doc_id % 3" in _TERMS_SET_SQL


# span_first: 'row' within the first 10 positions (engine positions are
# 0-based p < 10; the pos CTE is 1-based, so i <= 10)
_SPAN_FIRST_SQL = f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
pos AS (
  SELECT doc_id, u.t AS term, u.i AS i
  FROM tok, UNNEST(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(t := toks[i], i := i))) AS x(u)
),
m AS (
  SELECT doc_id, count(*)::BIGINT AS tf
  FROM pos WHERE term = 'row' AND i <= 10 GROUP BY doc_id
),
scored AS (
  SELECT m.doc_id,
    ln(1.0 + (stats.n_docs - (SELECT count(*) FROM m) + 0.5)
           / ((SELECT count(*) FROM m) + 0.5))
    * (2.2 * m.tf) / (m.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS score
  FROM m JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""

# composite Gopher gate: every rule recomputed in SQL with the exact
# integer-ratio arithmetic the engine uses, reasons joined in the
# pinned GOPHER_RULES order (booleans/strings compare directly — no
# float encoding needed because every ratio is an int/int division
# identical in both engines)
_GOPHER_SQL = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM tok WHERE len(toks) >= 2
), c AS (
  SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM grams GROUP BY 1, 2
), rep AS (
  SELECT doc_id, sum(cnt)::BIGINT AS tot, max(cnt) AS top,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
  FROM c GROUP BY 1
), m AS (
  SELECT t.doc_id,
    len(toks)::BIGINT AS n,
    CASE WHEN len(toks) > 0 THEN
      list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE
        / len(toks) ELSE 0.0 END AS mtl,
    CASE WHEN length(lower(d.text)) > 0 THEN
      length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g'))::DOUBLE
        / length(lower(d.text)) ELSE 0.0 END AS alnum,
    len(list_intersect(list_distinct(toks), [{SW}]))::BIGINT AS sw,
    CASE WHEN len(list_filter(list_transform(string_split(d.text, chr(10)),
                 x -> trim(x)), x -> x <> '')) > 0 THEN
      1.0 - len(list_distinct(list_filter(list_transform(
              string_split(d.text, chr(10)), x -> trim(x)), x -> x <> '')))
        / len(list_filter(list_transform(string_split(d.text, chr(10)),
              x -> trim(x)), x -> x <> ''))::DOUBLE
      ELSE 0.0 END AS dlf,
    coalesce(dup / tot::DOUBLE, 0.0) AS dupf,
    coalesce(top / tot::DOUBLE, 0.0) AS topf
  FROM tok t JOIN documents d USING (doc_id) LEFT JOIN rep USING (doc_id)
), flags AS (
  SELECT doc_id,
    [CASE WHEN n < 30 THEN 'too_few_tokens' END,
     CASE WHEN n > 100000 THEN 'too_many_tokens' END,
     CASE WHEN mtl < 3.0 THEN 'mean_token_len_low' END,
     CASE WHEN mtl > 5.0 THEN 'mean_token_len_high' END,
     CASE WHEN alnum < 0.6 THEN 'too_symbolic' END,
     CASE WHEN sw < 2 THEN 'too_few_stopwords' END,
     CASE WHEN dlf > 0.30 THEN 'dup_lines' END,
     CASE WHEN dupf > 0.10 THEN 'dup_ngrams' END,
     CASE WHEN topf > 0.08 THEN 'top_ngram_dominates' END] AS fl
  FROM m
)
SELECT doc_id,
       len(list_filter(fl, x -> x IS NOT NULL)) = 0 AS keep,
       len(list_filter(fl, x -> x IS NOT NULL))::BIGINT AS n_failed,
       coalesce(array_to_string(list_filter(fl, x -> x IS NOT NULL), ','), '') AS reasons
FROM flags
"""

# decontamination: distinct 13-grams per doc vs the doc_id%37 benchmark
_GRAM13 = (
    "list_distinct(list_transform(range(1, len(toks) - 11), "
    "i -> array_to_string(toks[i : i + 12], ' ')))"
)
_DECONTAM_SQL = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
dg AS (
  SELECT doc_id, unnest({_GRAM13}) AS gram
  FROM tok WHERE len(toks) >= 13
), bg AS (
  SELECT DISTINCT unnest({_GRAM13}) AS gram
  FROM tok WHERE doc_id % 37 = 0 AND len(toks) >= 13
), tot AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM dg GROUP BY 1
), ov AS (
  SELECT doc_id, count(*)::BIGINT AS n_overlap
  FROM dg JOIN bg USING (gram) GROUP BY 1
)
SELECT d.doc_id, coalesce(tot.n_grams, 0)::BIGINT AS n_grams,
       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
       {_micro_sql('coalesce(ov.n_overlap / tot.n_grams, 0.0)')} AS overlap_micro
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN ov USING (doc_id)
"""


_FACET_COUNTS_SQL = f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), hits AS (
  SELECT len(toks)::BIGINT AS dlen FROM tok
  WHERE len(list_intersect(toks, ['fast', 'key', 'table'])) > 0
)
SELECT * FROM (
  SELECT 'dlen' AS field,
         CAST(CAST(pow(2, CAST(floor(log2(greatest(dlen, 1))) AS INT)) AS BIGINT) AS VARCHAR) AS value,
         COUNT(*)::BIGINT AS doc_count
  FROM hits GROUP BY 2
  UNION ALL
  SELECT 'lang' AS field, 'en' AS value, COUNT(*)::BIGINT AS doc_count FROM hits
)
ORDER BY field, doc_count DESC, value
"""


_IMAGE_RESIZE_REAL_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         (16 + (doc_id % 50))::INT AS src_w,
         (16 + (doc_id % 37))::INT AS src_h
  FROM documents
)
SELECT media_id, src_w, src_h,
       greatest(1, (src_w * 224) // greatest(src_w, src_h))::INT AS out_w,
       greatest(1, (src_h * 224) // greatest(src_w, src_h))::INT AS out_h,
       TRUE AS decoded
FROM dims
"""


# r5 doc-value oracles: the crawl timestamp is a pure function of
# doc_id (doc_id % 840 hours past 2025-01-14, see _docs_as_pages), so
# the SQL twins derive it instead of joining a timestamp column
_DV_TS = "(TIMESTAMP '2025-01-14 00:00:00' + (doc_id % 840) * INTERVAL 1 HOUR)"

_DV_MATCH_CTE = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
m AS (
  SELECT doc_id FROM tok
  WHERE len(list_intersect(toks, ['fast', 'key', 'table'])) > 0
)
"""

# gauss decay twin: same float64 formula as docvalues.decay_factors —
# sigma² = scale² / (2·ln(1/decay)); d² spelled abs(x)*abs(x) to mirror
# numpy's |v−o| then d*d op order bit-for-bit
_DECAY_D = f"abs(dv.ts - epoch(TIMESTAMP '2025-02-18 00:00:00')::DOUBLE)"
_DECAY_SQL = (
    _BM25_CTES
    + f"""
, dv AS (SELECT doc_id, epoch({_DV_TS})::DOUBLE AS ts FROM documents)
, dec AS (
  SELECT agg.doc_id,
         agg.score * exp(-({_DECAY_D} * {_DECAY_D})
           / (2.0 * (604800.0 * 604800.0 / (2.0 * ln(2.0))))) AS score
  FROM agg JOIN dv USING (doc_id)
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM dec ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

_DECAY_FILTERED_SQL = (
    _BM25_CTES
    + f"""
, dv AS (SELECT doc_id, epoch({_DV_TS})::DOUBLE AS ts FROM documents)
, dec AS (
  SELECT agg.doc_id,
         agg.score * exp(-({_DECAY_D} * {_DECAY_D})
           / (2.0 * (604800.0 * 604800.0 / (2.0 * ln(2.0))))) AS score
  FROM agg JOIN dv USING (doc_id) JOIN documents d ON d.doc_id = agg.doc_id
  WHERE d.n_chars BETWEEN 150 AND 400
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM dec ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

# regexp query twin: the same anchored pattern selects the scoring
# terms from the corpus vocabulary (RE2 and the engine's Java/Python
# regex agree on the safe dialect)
_REGEXP_SQL = (
    _BM25_CTES.replace(
        "WHERE term IN ('fast', 'key', 'table')",
        "WHERE regexp_matches(term, '^(?:s(low|mall|can)|.*ort)$')",
    )
    + f"""
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 15
"""
)

_MISSING_SQL = (
    _DV_MATCH_CTE
    + """
SELECT count(*)::BIGINT AS missing_count FROM m WHERE doc_id % 7 = 0
"""
)

_TERMS_AFTER_SQL = (
    _DV_MATCH_CTE
    + """
SELECT d.source AS value, count(*)::BIGINT AS doc_count
FROM documents d JOIN m USING (doc_id)
WHERE d.source > 'src2'
GROUP BY 1 ORDER BY 1 LIMIT 8
"""
)

_EXISTS_SQL = (
    _BM25_CTES
    + f"""
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg WHERE doc_id % 7 <> 0
ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

_BUCKET_METRICS_SQL = (
    _DV_MATCH_CTE
    + f"""
SELECT epoch(date_trunc('day', {_DV_TS}))::BIGINT AS bucket_epoch,
       count(*)::BIGINT AS doc_count,
       min(d.n_chars)::BIGINT AS min_v,
       sum(d.n_chars)::BIGINT AS sum_v,
       {_micro_sql('avg(d.n_chars)')} AS avg_micro,
       max(d.n_chars)::BIGINT AS max_v
FROM documents d JOIN m USING (doc_id)
GROUP BY 1 ORDER BY 1
"""
)

_FILTERS_AGG_SQL = """
WITH tok AS (SELECT doc_id, {tok} AS toks FROM documents)
SELECT * FROM (
  SELECT 'all_three' AS name, count(*)::BIGINT AS doc_count FROM tok
  WHERE list_contains(toks, 'fast') AND list_contains(toks, 'key')
    AND list_contains(toks, 'table')
  UNION ALL
  SELECT 'fast_only' AS name, count(*)::BIGINT AS doc_count FROM tok
  WHERE list_contains(toks, 'fast')
    AND NOT (list_contains(toks, 'key') OR list_contains(toks, 'table'))
  UNION ALL
  SELECT 'valued' AS name, count(*)::BIGINT AS doc_count FROM tok
  WHERE (list_contains(toks, 'fast') OR list_contains(toks, 'key')
         OR list_contains(toks, 'table')) AND doc_id % 7 <> 0
) ORDER BY name
""".format(tok=TOK)


_RESCORE_SQL = (
    _BM25_CTES
    + f"""
, win AS (
  SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id ASC LIMIT 60
), pos AS (
  SELECT doc_id, u.t AS term, u.i AS i
  FROM tok, UNNEST(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(t := toks[i], i := i))) AS x(u)
), pm AS (
  SELECT p0.doc_id, count(*)::BIGINT AS ptf
  FROM pos p0 JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.i = p0.i + 1
  WHERE p0.term = '{PHRASE[0]}' AND p1.term = '{PHRASE[1]}'
  GROUP BY p0.doc_id
), phdf AS (SELECT count(*)::BIGINT AS n FROM pm
), ph AS (
  SELECT pm.doc_id,
         ln(1.0 + (stats.n_docs - phdf.n + 0.5) / (phdf.n + 0.5))
           * (2.2 * pm.ptf)
           / (pm.ptf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS ps
  FROM pm JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN phdf
), fin AS (
  SELECT win.doc_id,
         1.0 * win.score + 2.0 * coalesce(ph.ps, 0.0) AS score
  FROM win LEFT JOIN ph USING (doc_id)
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM fin ORDER BY score DESC, doc_id ASC LIMIT 15
"""
)

_SIG_TEXT_SQL = (
    _BM25_CTES
    + f"""
, win AS (SELECT doc_id FROM agg ORDER BY score DESC, doc_id ASC LIMIT 50)
, wn AS (SELECT count(*)::BIGINT AS n FROM win)
, fg AS (
  SELECT u.term, count(*)::BIGINT AS fg_count
  FROM win w JOIN tok t USING (doc_id),
       UNNEST(list_distinct(t.toks)) AS u(term)
  GROUP BY u.term HAVING count(*) >= 3
)
, bg AS (
  SELECT term, count(*)::BIGINT AS bg_count
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
  GROUP BY term
)
SELECT fg.term, fg.fg_count, bg.bg_count,
       {_micro_sql('(fg.fg_count / (SELECT n FROM wn)::DOUBLE) / (bg.bg_count / (SELECT count(*)::DOUBLE FROM documents))')} AS lift_micro
FROM fg JOIN bg USING (term)
ORDER BY (fg.fg_count / (SELECT n FROM wn)::DOUBLE)
         / (bg.bg_count / (SELECT count(*)::DOUBLE FROM documents)) DESC,
         fg.term ASC
LIMIT 10
"""
)

_ADJACENCY_SQL = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
m AS (
  SELECT doc_id,
         list_contains(toks, 'fast') AS f,
         list_contains(toks, 'key') AS k,
         (list_contains(toks, 'table') AND NOT list_contains(toks, 'dup')) AS t
  FROM tok
)
SELECT * FROM (
  SELECT 'f' AS key, count(*) FILTER (f)::BIGINT AS doc_count FROM m
  UNION ALL SELECT 'f&k', count(*) FILTER (f AND k)::BIGINT FROM m
  UNION ALL SELECT 'f&t', count(*) FILTER (f AND t)::BIGINT FROM m
  UNION ALL SELECT 'k', count(*) FILTER (k)::BIGINT FROM m
  UNION ALL SELECT 'k&t', count(*) FILTER (k AND t)::BIGINT FROM m
  UNION ALL SELECT 't', count(*) FILTER (t)::BIGINT FROM m
) WHERE doc_count > 0 OR key NOT LIKE '%&%'
ORDER BY key
"""

_PERCOLATE_SQL = f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
pos AS (
  SELECT doc_id, u.t AS term, u.i AS i
  FROM tok, UNNEST(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(t := toks[i], i := i))) AS x(u)
)
SELECT * FROM (
  SELECT doc_id, 'pa' AS query_id FROM tok
  WHERE list_contains(toks, 'fast') AND list_contains(toks, 'key')
  UNION ALL
  SELECT DISTINCT p0.doc_id, 'pb' AS query_id
  FROM pos p0 JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.i = p0.i + 1
  WHERE p0.term = '{PHRASE[0]}' AND p1.term = '{PHRASE[1]}'
  UNION ALL
  SELECT t.doc_id, 'pc' AS query_id
  FROM tok t JOIN documents d USING (doc_id)
  WHERE d.n_chars >= 300 AND list_contains(t.toks, 'table')
) ORDER BY doc_id, query_id
"""

_BOOL_PHRASE_SQL = (
    _BM25_CTES
    + f"""
, pos AS (
  SELECT doc_id, u.t AS term, u.i AS i
  FROM tok, UNNEST(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(t := toks[i], i := i))) AS x(u)
), pm AS (
  SELECT DISTINCT p0.doc_id
  FROM pos p0 JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.i = p0.i + 1
  WHERE p0.term = '{PHRASE[0]}' AND p1.term = '{PHRASE[1]}'
)
SELECT agg.doc_id, {_micro_sql('agg.score')} AS score_micro
FROM agg JOIN pm USING (doc_id)
ORDER BY agg.score DESC, agg.doc_id ASC LIMIT 20
"""
)

_DV_EQ_SQL = (
    _BM25_CTES
    + f"""
SELECT agg.doc_id, {_micro_sql('agg.score')} AS score_micro
FROM agg JOIN documents d ON d.doc_id = agg.doc_id
WHERE d.source = 'src3'
ORDER BY agg.score DESC, agg.doc_id ASC LIMIT 20
"""
)

_TAGS_TERMS_SQL = (
    _DV_MATCH_CTE
    + """
, tags AS (
  SELECT doc_id,
         ['s' || (doc_id % 4)::VARCHAR, 'c' || (doc_id % 6)::VARCHAR] AS ts
  FROM documents WHERE doc_id % 11 <> 0
)
SELECT u.t AS value, count(*)::BIGINT AS doc_count
FROM m JOIN tags USING (doc_id), UNNEST(tags.ts) AS u(t)
GROUP BY 1 ORDER BY 1 LIMIT 20
"""
)

_TAGS_MISSING_SQL = (
    _DV_MATCH_CTE
    + """
SELECT count(*)::BIGINT AS missing_count FROM m WHERE doc_id % 11 = 0
"""
)

_SORT_RECENT_SQL = (
    _DV_MATCH_CTE
    + f"""
SELECT doc_id, epoch({_DV_TS})::BIGINT AS ts_epoch
FROM m ORDER BY ts_epoch DESC, doc_id ASC LIMIT 20
"""
)

_RANGE_SEARCH_SQL = (
    _BM25_CTES
    + f"""
, flt AS (
  SELECT agg.doc_id, agg.score
  FROM agg JOIN documents USING (doc_id)
  WHERE n_chars BETWEEN 150 AND 400
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM flt ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

_SUGGEST_PHRASE_SQL = f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), stats AS (
  SELECT count(*)::BIGINT AS n_docs FROM tok
), vocab AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
), c0 AS (  -- expand_fuzzy('fasr', 1): length ±1 + levenshtein ≤ 1
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
  FROM vocab
  WHERE length(term) BETWEEN 3 AND 5 AND levenshtein(term, 'fasr') <= 1
), p0 AS (  -- per_term=5 by (df desc, term asc), original always present
  SELECT term, df FROM c0 WHERE rn <= 5
  UNION
  SELECT 'fasr', coalesce((SELECT df FROM vocab WHERE term = 'fasr'), 0)
), c1 AS (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
  FROM vocab
  WHERE length(term) BETWEEN 2 AND 4 AND levenshtein(term, 'kei') <= 1
), p1 AS (
  SELECT term, df FROM c1 WHERE rn <= 5
  UNION
  SELECT 'kei', coalesce((SELECT df FROM vocab WHERE term = 'kei'), 0)
), inp AS (  -- the input phrase's own unigram-LM score
  SELECT ln((coalesce((SELECT df FROM vocab WHERE term = 'fasr'), 0) + 0.5)
            / (stats.n_docs + 1.0))
       + ln((coalesce((SELECT df FROM vocab WHERE term = 'kei'), 0) + 0.5)
            / (stats.n_docs + 1.0)) AS s
  FROM stats
), sugg AS (  -- ≤ 1 changed position, identity excluded
  SELECT p0.term || ' ' || p1.term AS suggestion,
         ln((p0.df + 0.5) / (stats.n_docs + 1.0))
         + ln((p1.df + 0.5) / (stats.n_docs + 1.0)) AS score
  FROM p0 CROSS JOIN p1 CROSS JOIN stats
  WHERE (CASE WHEN p0.term <> 'fasr' THEN 1 ELSE 0 END
         + CASE WHEN p1.term <> 'kei' THEN 1 ELSE 0 END) = 1
)
SELECT suggestion, {_micro_sql('score')} AS score_micro
FROM sugg WHERE score > (SELECT s FROM inp)
ORDER BY score DESC, suggestion ASC LIMIT 5
"""

_SYNONYM_SEARCH_SQL = f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('fast', 'query', 'table')
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), flags AS (
  SELECT doc_id,
    bool_or(term = 'fast') AS has_fast,
    bool_or(term = 'query') AS has_query,
    bool_or(term = 'table') AS has_table
  FROM tf GROUP BY doc_id
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
SELECT agg.doc_id, {_micro_sql('score')} AS score_micro
FROM agg JOIN flags USING (doc_id)
WHERE (has_fast OR has_query) AND has_table
ORDER BY score DESC, agg.doc_id ASC LIMIT 20
"""

_TERMVECTORS_SQL = f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), vocab AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
), d0 AS (
  SELECT unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM tok WHERE doc_id = 0
), tv AS (
  SELECT term, count(*)::BIGINT AS tf, min(pos) AS first_pos
  FROM d0 GROUP BY term
)
SELECT tv.term, tv.tf, vocab.df, tv.first_pos::INT AS first_pos
FROM tv JOIN vocab USING (term) ORDER BY term
"""

_NESTED_TERMS_SQL = (
    _DV_MATCH_CTE
    + """
, anchors AS (
  -- distinct (doc, anchor) pairs rebuilt from doc_id: obj0 anchor =
  -- a<id%5>, obj1 anchor = a<(id+1)%5>; every 13th doc has no links
  SELECT doc_id, 'a' || (doc_id % 5)::VARCHAR AS value
  FROM documents WHERE doc_id % 13 <> 0
  UNION
  SELECT doc_id, 'a' || ((doc_id + 1) % 5)::VARCHAR
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT value, count(DISTINCT doc_id)::BIGINT AS doc_count
FROM anchors JOIN m USING (doc_id)
GROUP BY value ORDER BY doc_count DESC, value ASC LIMIT 10
"""
)

_NESTED_FILTER_SQL = (
    _BM25_CTES
    + f"""
, nest AS (
  -- links objects rebuilt from doc_id: obj0 = (a<id%5>, r<id%3>),
  -- obj1 = (a<(id+1)%5>, 'ext'); every 13th doc has none.  The
  -- same-object condition anchor='a1' AND rel='r0' is evaluated per
  -- object, mirroring the engine's (doc_id, obj) sidecar join.
  SELECT doc_id FROM documents
  WHERE doc_id % 13 <> 0 AND (
    ('a' || (doc_id % 5)::VARCHAR = 'a1'
     AND 'r' || (doc_id % 3)::VARCHAR = 'r0')
    OR ('a' || ((doc_id + 1) % 5)::VARCHAR = 'a1' AND 'ext' = 'r0')
  )
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg JOIN nest USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

# multi_terms: compound (source, fetch_ms) buckets; NULL fetch skipped
_MULTI_TERMS_SQL = (
    _DV_MATCH_CTE
    + """
, fv AS (
  SELECT m.doc_id, d.source,
         CASE WHEN d.doc_id % 7 = 0 THEN NULL
              ELSE (d.doc_id * 37) % 500 + 20 END AS fetch_ms
  FROM m JOIN documents d USING (doc_id)
)
SELECT source, fetch_ms::BIGINT AS fetch_ms, count(*)::BIGINT AS doc_count
FROM fv WHERE fetch_ms IS NOT NULL AND source IS NOT NULL
GROUP BY 1, 2 ORDER BY doc_count DESC, source ASC, fetch_ms ASC LIMIT 20
"""
)

# top_metrics: metrics of the 5 most recent matches
_TOP_METRICS_SQL = (
    _DV_MATCH_CTE
    + f"""
SELECT d.doc_id, epoch({_DV_TS})::BIGINT AS ts_epoch, d.n_chars,
       coalesce(CASE WHEN d.doc_id % 7 = 0 THEN NULL
                     ELSE (d.doc_id * 37) % 500 + 20 END, -1)::BIGINT AS fetch_l
FROM m JOIN documents d USING (doc_id)
ORDER BY ts_epoch DESC, d.doc_id ASC LIMIT 5
"""
)

# rare_terms: exact long tail of n_chars among OR matches
_RARE_TERMS_SQL = (
    _DV_MATCH_CTE
    + """
SELECT d.n_chars AS value, count(*)::BIGINT AS doc_count
FROM m JOIN documents d USING (doc_id)
GROUP BY 1 HAVING count(*) <= 1
ORDER BY doc_count ASC, value ASC LIMIT 50
"""
)


# two-field metric aggregations over the OR match set (fetch_ms is the
# derived nullable stored field: NULL when doc_id % 7 == 0)
_TWO_FIELD_CTE = (
    _DV_MATCH_CTE
    + """
, fv AS (
  SELECT m.doc_id, d.n_chars::DOUBLE AS v,
         (CASE WHEN d.doc_id % 7 = 0 THEN NULL
               ELSE (d.doc_id * 37) % 500 + 20 END)::DOUBLE AS w
  FROM m JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL AND d.doc_id % 7 <> 0
)
"""
)

_WEIGHTED_AVG_SQL = (
    _TWO_FIELD_CTE
    + f"""
SELECT count(*)::BIGINT AS n,
       CAST(sum(w) AS BIGINT) AS weight_sum_l,
       {_micro_sql('sum(v * w) / sum(w)')} AS wavg_micro
FROM fv
"""
)

# population moments from raw sums — formulas spelled exactly as the
# engine computes them (sxx/n − mean², cov/sqrt(var·var))
_MATRIX_STATS_SQL = (
    _TWO_FIELD_CTE
    + f"""
, s AS (
  SELECT count(*)::DOUBLE AS n, sum(v) AS sx, sum(w) AS sy,
         sum(v * v) AS sxx, sum(w * w) AS syy, sum(v * w) AS sxy
  FROM fv
)
SELECT CAST(n AS BIGINT) AS n,
       {_micro_sql('sx / n')} AS mean_x_micro,
       {_micro_sql('sy / n')} AS mean_y_micro,
       {_micro_sql('sxx / n - (sx / n) * (sx / n)')} AS var_x_micro,
       {_micro_sql('syy / n - (sy / n) * (sy / n)')} AS var_y_micro,
       {_micro_sql('sxy / n - (sx / n) * (sy / n)')} AS cov_micro,
       {_micro_sql('(sxy / n - (sx / n) * (sy / n)) / sqrt((sxx / n - (sx / n) * (sx / n)) * (syy / n - (sy / n) * (sy / n)))')} AS corr_micro
FROM s
"""
)


_DATE_HISTOGRAM_SQL = (
    _DV_MATCH_CTE
    + f"""
SELECT epoch(date_trunc('day', {_DV_TS}))::BIGINT AS bucket_epoch,
       count(*)::BIGINT AS doc_count
FROM m GROUP BY 1 ORDER BY 1
"""
)

# pipeline aggregations over the day histogram: derivative = lag diff
# (first bucket NULL → the same -1e9 sentinel the Spark row uses),
# moving avg = trailing 3-bucket window; both windows run over the
# aggregated bucket series
_HISTO_PIPELINE_SQL = (
    _DV_MATCH_CTE
    + f"""
, h AS (
  SELECT date_trunc('day', {_DV_TS}) AS b, count(*)::BIGINT AS doc_count
  FROM m GROUP BY 1
)
SELECT epoch(b)::BIGINT AS bucket_epoch, doc_count,
       CAST(coalesce(
         (doc_count - lag(doc_count) OVER (ORDER BY b))::DOUBLE,
         -1000000000.0) AS BIGINT) AS deriv_l,
       {_micro_sql('avg(doc_count) OVER (ORDER BY b ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)')} AS moving_micro
FROM h ORDER BY bucket_epoch
"""
)

_MAX_BUCKET_SQL = (
    _DV_MATCH_CTE
    + f"""
, h AS (
  SELECT date_trunc('day', {_DV_TS}) AS b, count(*)::BIGINT AS doc_count
  FROM m GROUP BY 1
)
SELECT epoch(b)::BIGINT AS bucket_epoch, doc_count
FROM h WHERE doc_count = (SELECT max(doc_count) FROM h)
ORDER BY bucket_epoch
"""
)

_CARDINALITY_SQL = (
    _DV_MATCH_CTE
    + """
SELECT count(DISTINCT d.source)::BIGINT AS n_values
FROM documents d JOIN m USING (doc_id)
"""
)

_SIG_TERMS_SQL = (
    _DV_MATCH_CTE
    + f"""
, fg AS (
  SELECT source AS value, count(*)::BIGINT AS fg_count
  FROM documents JOIN m USING (doc_id) GROUP BY 1
), bg AS (
  SELECT source AS value, count(*)::BIGINT AS bg_count
  FROM documents GROUP BY 1
), t AS (
  SELECT (SELECT sum(fg_count) FROM fg) AS fgt,
         (SELECT sum(bg_count) FROM bg) AS bgt
)
SELECT value, fg_count, bg_count,
       {_micro_sql('(fg_count / t.fgt) / (bg_count / t.bgt)')} AS lift_micro
FROM fg JOIN bg USING (value) CROSS JOIN t
ORDER BY (fg_count / t.fgt) / (bg_count / t.bgt) DESC, value ASC
LIMIT 10
"""
)


_BOOL_RANGE_SQL = (
    _BM25_CTES
    + f"""
, flt AS (
  SELECT agg.doc_id, agg.score
  FROM agg JOIN documents USING (doc_id)
  WHERE n_chars > 150 AND n_chars <= 400
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM flt ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)

_FILTERED_HISTOGRAM_SQL = (
    _DV_MATCH_CTE
    + f"""
, f AS (
  SELECT m.doc_id FROM m JOIN documents USING (doc_id)
  WHERE n_chars BETWEEN 150 AND 400
)
SELECT epoch(date_trunc('day', {_DV_TS}))::BIGINT AS bucket_epoch,
       count(*)::BIGINT AS doc_count
FROM f GROUP BY 1 ORDER BY 1
"""
)

_STATS_NCHARS_SQL = (
    _DV_MATCH_CTE
    + f"""
, v AS (SELECT n_chars FROM documents JOIN m USING (doc_id))
SELECT count(*)::BIGINT AS n_hits,
       min(n_chars)::BIGINT AS min_v,
       max(n_chars)::BIGINT AS max_v,
       sum(n_chars)::BIGINT AS sum_v,
       {_micro_sql('sum(n_chars) / count(*)')} AS avg_micro
FROM v
"""
)

_TOPHITS_SQL = (
    _BM25_CTES
    + f"""
, hits AS (
  SELECT d.source AS value, agg.doc_id, agg.score,
         row_number() OVER (
           PARTITION BY d.source ORDER BY agg.score DESC, agg.doc_id ASC
         ) AS rank
  FROM agg JOIN documents d USING (doc_id)
), hh AS (SELECT * FROM hits WHERE rank <= 3),
best AS (
  SELECT value, max(score) AS best FROM hh GROUP BY value
  ORDER BY best DESC, value ASC LIMIT 5
)
SELECT hh.value, hh.rank, hh.doc_id, {_micro_sql('hh.score')} AS score_micro
FROM hh JOIN best USING (value)
ORDER BY best.best DESC, hh.value ASC, hh.rank ASC
"""
)

_COLLAPSE_SQL = (
    _BM25_CTES
    + f"""
, best AS (
  SELECT d.source AS value, agg.doc_id, agg.score,
         row_number() OVER (
           PARTITION BY d.source ORDER BY agg.score DESC, agg.doc_id ASC
         ) AS rn
  FROM agg JOIN documents d USING (doc_id)
)
SELECT value, doc_id, {_micro_sql('score')} AS score_micro
FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 10
"""
)

_PERCENTILES_SQL = (
    _DV_MATCH_CTE
    + f"""
, v AS (SELECT n_chars FROM documents JOIN m USING (doc_id)),
q AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.9]) AS qs FROM v)
SELECT unnest(CAST([0.25, 0.5, 0.9] AS DOUBLE[])) AS pct,
       {_micro_sql('unnest(qs)')} AS value_micro
FROM q ORDER BY pct
"""
)

_RANGE_BUCKETS_SQL = (
    _DV_MATCH_CTE
    + """
, v AS (SELECT n_chars FROM documents JOIN m USING (doc_id))
SELECT * FROM (
  SELECT 'lt200' AS key, count(*) FILTER (WHERE n_chars < 200)::BIGINT AS doc_count FROM v
  UNION ALL
  SELECT 'mid', count(*) FILTER (WHERE n_chars >= 200 AND n_chars < 400)::BIGINT FROM v
  UNION ALL
  SELECT 'ge400', count(*) FILTER (WHERE n_chars >= 400)::BIGINT FROM v
) ORDER BY key
"""
)

_SORT_PAGE2_SQL = (
    _DV_MATCH_CTE
    + f"""
, s AS (SELECT doc_id, {_DV_TS} AS ts FROM m)
SELECT doc_id, epoch(ts)::BIGINT AS ts_epoch
FROM s
WHERE ts < TIMESTAMP '2025-02-01 00:00:00'
   OR (ts = TIMESTAMP '2025-02-01 00:00:00' AND doc_id > 0)
ORDER BY ts DESC, doc_id ASC LIMIT 20
"""
)

_DATE_HISTOGRAM_CUM_SQL = (
    _DV_MATCH_CTE
    + f"""
, h AS (
  SELECT epoch(date_trunc('day', {_DV_TS}))::BIGINT AS bucket_epoch,
         count(*)::BIGINT AS doc_count
  FROM m GROUP BY 1
)
SELECT bucket_epoch,
       CAST(sum(doc_count) OVER (ORDER BY bucket_epoch) AS BIGINT) AS doc_count
FROM h ORDER BY bucket_epoch
"""
)


def oracle_sql() -> dict[str, str]:
    or_sql = _bm25_sql(OR_TERMS, "OR", 20)
    and_sql = _bm25_sql(AND_TERMS, "AND", 20)
    return {
        "token_count": f"SELECT doc_id, len({TOK})::BIGINT AS n_tokens FROM documents",
        "text_quality": _QUALITY_SQL,
        "lang_id": _lang_sql(),
        "fingerprint": _FINGERPRINT_SQL,
        "dedup_exact": (
            "SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS group_size "
            "FROM documents GROUP BY text"
        ),
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "minhash_dedup": _NGRAM_JACCARD_SQL,
        "simhash_pairs": _simhash_sql(3),
        "ann_lsh_topk": _ann_lcg_sql(dim=64, n_planes=8, seed=11, multiprobe=2, k=10),
        "embedding_pairs": _EMB_PAIRS_SQL,
        # frame decode is a declared stub (multimodal libs absent), but
        # the PLUMBING — row fan-out, every_n arithmetic, hash chain —
        # is value-checked via the SQL twin of the stub chain.
        "frame_sample": _frame_sample_sql(30),
        "image_resize": _IMAGE_RESIZE_SQL,
        "image_resize_real": _IMAGE_RESIZE_REAL_SQL,
        "bm25_or": or_sql,
        "bm25_and": and_sql,
        "bm25_index_or": or_sql,
        "bm25_index_and": and_sql,
        "bm25_index_bmw": or_sql,
        "bm25_index_segprune": or_sql,
        "bm25_page2": _bm25_sql(OR_TERMS, "OR", 10, offset=10),
        "min_should_match2": _bm25_sql(OR_TERMS, "OR", 20, msm=2),
        "facet_counts": _FACET_COUNTS_SQL,
        "search_count": _SEARCH_COUNT_SQL,
        "explain_top1": _EXPLAIN_SQL,
        "match_positions": _MATCH_POSITIONS_SQL,
        "url_canon": (
            "SELECT doc_id, 'https://www.site' || (doc_id % 7) ||"
            " '.example/Dir/Page' || (doc_id % 5) || '?a=1&z=' ||"
            " (doc_id % 3) AS canon_url FROM documents"
        ),
        "fielded_search": _FIELDED_SQL,
        "fielded_search_and": _FIELDED_AND_SQL,
        "dis_max_search": _FIELDED_BEST_SQL,
        "repetition_stats": _REPETITION_SQL,
        "gopher_filter": _GOPHER_SQL,
        "span_first_search": _SPAN_FIRST_SQL,
        "hybrid_rrf": _HYBRID_RRF_SQL,
        "pinned_search": _PINNED_SQL,
        "mget_docs": _MGET_SQL,
        "terms_set_search": _TERMS_SET_SQL,
        "multi_terms_pair": _MULTI_TERMS_SQL,
        "top_metrics_recent": _TOP_METRICS_SQL,
        "rare_terms_fetch": _RARE_TERMS_SQL,
        "decontam_overlap": _DECONTAM_SQL,
        "weighted_avg_nchars": _WEIGHTED_AVG_SQL,
        "matrix_stats_pair": _MATRIX_STATS_SQL,
        "fed_dfs_search": _bm25_sql(["fast", "key", "table"], "OR", 20),
        "fvf_boost": _FVF_SQL,
        "random_score_search": _RANDOM_SCORE_SQL,
        "sort_recent": _SORT_RECENT_SQL,
        "range_search": _RANGE_SEARCH_SQL,
        "nested_filter": _NESTED_FILTER_SQL,
        "suggest_phrase": _SUGGEST_PHRASE_SQL,
        "termvectors_doc0": _TERMVECTORS_SQL,
        "synonym_search": _SYNONYM_SEARCH_SQL,
        "nested_terms_anchor": _NESTED_TERMS_SQL,
        "date_histogram": _DATE_HISTOGRAM_SQL,
        "histo_pipeline_day": _HISTO_PIPELINE_SQL,
        "max_bucket_day": _MAX_BUCKET_SQL,
        "cardinality_src": _CARDINALITY_SQL,
        "sig_terms_src": _SIG_TERMS_SQL,
        "bool_range_search": _BOOL_RANGE_SQL,
        "filtered_histogram": _FILTERED_HISTOGRAM_SQL,
        "collapse_src": _COLLAPSE_SQL,
        "tophits_src": _TOPHITS_SQL,
        "stats_nchars": _STATS_NCHARS_SQL,
        "percentiles_nchars": _PERCENTILES_SQL,
        "range_buckets_nchars": _RANGE_BUCKETS_SQL,
        "sort_page2": _SORT_PAGE2_SQL,
        "date_histogram_cum": _DATE_HISTOGRAM_CUM_SQL,
        "decay_recency": _DECAY_SQL,
        "decay_filtered": _DECAY_FILTERED_SQL,
        "exists_search": _EXISTS_SQL,
        "bucket_metrics_day": _BUCKET_METRICS_SQL,
        "filters_agg": _FILTERS_AGG_SQL,
        "rescore_phrase": _RESCORE_SQL,
        "tags_terms": _TAGS_TERMS_SQL,
        "dv_eq_search": _DV_EQ_SQL,
        "sig_text": _SIG_TEXT_SQL,
        "tags_missing": _TAGS_MISSING_SQL,
        "regexp_search": _REGEXP_SQL,
        "missing_fetch": _MISSING_SQL,
        "terms_after_src": _TERMS_AFTER_SQL,
        "highlight_top3": _BM25_CTES
        + r"""
, top3 AS (SELECT doc_id FROM agg ORDER BY score DESC, doc_id ASC LIMIT 3)
SELECT t.doc_id,
       regexp_replace(d.text, '\b(fast|key|table)\b', '<em>\1</em>', 'g')
         AS snippet,
       len(list_filter(t.toks, x -> x IN ('fast', 'key', 'table')))::BIGINT
         AS n_matches
FROM tok t JOIN top3 USING (doc_id) JOIN documents d ON d.doc_id = t.doc_id
ORDER BY t.doc_id
""",
        "prefix_search": f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl FROM tok
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term LIKE 's%'
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20
""",
        "mlt_doc0": f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl FROM tok
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
), flat AS (
  SELECT doc_id, unnest(toks) AS term FROM tok
), qtf AS (
  SELECT term, count(*)::BIGINT AS qtf FROM flat WHERE doc_id = 0 GROUP BY term
), cdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM flat GROUP BY term
), sel AS (
  SELECT q.term, c.df
  FROM qtf q JOIN cdf c USING (term) CROSS JOIN stats
  WHERE c.df >= 2
  ORDER BY q.qtf * ln(1.0 + (stats.n_docs - c.df + 0.5) / (c.df + 0.5)) DESC,
           q.term ASC
  LIMIT 10
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM flat
  WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - sel.df + 0.5) / (sel.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN sel USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20
""",
        "stats_agg": f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), hits AS (
  SELECT len(toks)::BIGINT AS dl FROM tok
  WHERE len(list_intersect(toks, ['fast', 'key', 'table'])) > 0
)
SELECT count(*)::BIGINT AS n_hits, min(dl) AS min_dl, max(dl) AS max_dl,
       sum(dl)::BIGINT AS sum_dl,
       {_micro_sql('sum(dl) * 1.0 / count(*)')} AS avg_dl_micro
FROM hits
""",
        "dlen_histogram": f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), hits AS (
  SELECT len(toks)::BIGINT AS dl FROM tok
  WHERE len(list_intersect(toks, ['fast', 'key', 'table'])) > 0
)
SELECT (dl // 64 * 64)::BIGINT AS bucket, count(*)::BIGINT AS doc_count
FROM hits GROUP BY 1 ORDER BY 1
""",
        "suggest_s": f"""
SELECT term, count(DISTINCT doc_id)::BIGINT AS df
FROM (SELECT doc_id, unnest({TOK}) AS term FROM documents)
WHERE term LIKE 's%'
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
""",
        "fuzzy_search": f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks)::BIGINT AS dl FROM tok
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE levenshtein(term, 'ine') <= 2
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20
""",
        "phrase_search": _phrase_sql(PHRASE, 20),
        "phrase_slop": _phrase_sql(PHRASE, 20, slop=2),
        "phrase_prefix_search": _phrase_sql(["row"], 20, last_prefix="s"),
        "bool_phrase_search": _BOOL_PHRASE_SQL,
        "percolate_hits": _PERCOLATE_SQL,
        "adjacency_matrix": _ADJACENCY_SQL,
        "boost_search": _BM25_CTES.replace(
            "ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))",
            "(ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) "
            "* (CASE tf.term WHEN 'fast' THEN 3.0 WHEN 'table' THEN 0.5 "
            "ELSE 1.0 END))",
        )
        + f"""
SELECT doc_id, {_micro_sql('score')} AS score_micro
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20
""",
        "bool_search": f"""
WITH tok AS (
  SELECT doc_id, {TOK} AS toks FROM documents
), dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('fast', 'key', 'table', 'dup')
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), flags AS (
  SELECT doc_id,
    bool_or(term = 'fast') AS has_fast,
    bool_or(term = 'key') AS has_key,
    bool_or(term = 'table') AS has_table,
    bool_or(term = 'dup') AS has_dup
  FROM tf GROUP BY doc_id
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (2.2 * tf.tf) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           AS contrib
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  WHERE tf.term <> 'dup'
), agg AS (
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
SELECT agg.doc_id, {_micro_sql('score')} AS score_micro
FROM agg JOIN flags USING (doc_id)
WHERE has_fast AND (has_key OR has_table) AND NOT has_dup
ORDER BY score DESC, agg.doc_id ASC LIMIT 20
""",
        "cosine_topk": _COSINE_SQL,
        "ivf_topk": _COSINE_SQL,
        "media_meta": (
            "SELECT doc_id, octet_length(encode(text))::BIGINT AS size_bytes, "
            "sha256(text) AS sha_hex, CAST(NULL AS VARCHAR) AS mime_guess "
            "FROM documents"
        ),
        "pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
  {_micro_sql('sum(l_extendedprice) / 1000.0')} AS sum_base_milli,
  {_micro_sql('avg(l_discount)')} AS avg_disc_micro,
  count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2002-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "top_customers": f"""
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS revenue FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, {_micro_sql('revenue / 1000.0')} AS revenue_milli
FROM rev JOIN customer ON o_custkey = c_custkey
ORDER BY revenue_milli DESC, c_custkey ASC LIMIT 10
""",
        "customers_no_orders": (
            "SELECT c_custkey FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "nations_with_customers": (
            "SELECT n_nationkey, n_name FROM nation "
            "WHERE n_nationkey IN (SELECT c_nationkey FROM customer)"
        ),
        "union_nationkeys": (
            "SELECT c_nationkey::BIGINT AS nationkey FROM customer "
            "UNION SELECT s_nationkey::BIGINT FROM supplier"
        ),
        "order_values_sorted": (
            "SELECT o_custkey AS custkey, "
            "array_to_string(list(CAST(floor(o_totalprice) AS BIGINT) "
            "ORDER BY CAST(floor(o_totalprice) AS BIGINT) DESC), ',') AS totals_desc "
            "FROM orders GROUP BY o_custkey"
        ),
        "nation_counts_full_outer": """
WITH c AS (SELECT c_nationkey, count(*)::BIGINT AS n_cust FROM customer GROUP BY c_nationkey),
s AS (SELECT s_nationkey, count(*)::BIGINT AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT coalesce(c.c_nationkey, s.s_nationkey)::BIGINT AS nationkey,
       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
""",
        "top_event_per_user": f"""
SELECT user_id, event_id, event_type, {_micro_sql('value / 1000.0')} AS value_milli
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
""",
        "hourly_events": f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*)::BIGINT AS n_events, {_micro_sql('sum(value) / 1000.0')} AS sum_value_milli
FROM events GROUP BY 1, 2
""",
        "json_props": (
            "SELECT event_type, "
            "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k "
            "FROM events GROUP BY event_type"
        ),
    }
