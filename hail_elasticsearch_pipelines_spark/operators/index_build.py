"""Distributed inverted-index build: the graft of the reference's
annotate → aggregate-entries → export-to-Elasticsearch flow
(luigi_pipeline/seqr_loading.py:64-90 → hail_scripts/v02/utils/
elasticsearch_client.py:26-214), built natively on Spark.

Dataflow (all stages resumable via plans/pipeline.py):

  normalize   dedupe by url (latest warc_ts wins) + extract text from
              html where null (Arrow UDF) — reference's split/validate
              ingest stage
  docs        deterministic dense doc_id by url order + doc_len;
              globals N/avgdl (reference: count_rows + shard sizing,
              hail_tasks.py:247-251)
  partial     range-partition by doc_id → per-partition inverted index
              built inside mapInPandas (vectorized factorize/unique, no
              per-row Python) → (term, segment, compressed blob) rows.
              The analog of per-row genotype aggregation
              (seqr_mt_schema.py:255-305) with the axis INVERTED.
  merge       shuffle-merge partials by (term, segment_group): because
              doc ranges are disjoint+ordered across partials, merging
              is O(bytes) concatenation (codecs.merge_encoded) — the
              scatter/gather of batch_seqr_loader/vqsr.py:393-471.
              The segment dimension is the SALT: a high-DF stopword's
              postings never hit one reducer; they stay split across
              num_segments keys (explicit skew handling per north rule).
  publish     parquet/Iceberg tables partitioned by term_bucket (term
              lookups prune to 1/N of files) + manifest JSON with
              globals and metrics (docs indexed, postings emitted,
              bytes compressed) — the ES index-create/forcemerge analog
              (elasticsearch_client_v7.py:84-107).
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codecs
from ..functions.extract import extracted_text_col
from ..functions.tokenize import (
    TOKEN_SPLIT_PATTERN,
    py_tokenize,
    token_count_col,
    tokenize_col,
)
from ..sources.readers import assign_dense_ids, dedupe_latest

BM25_K1 = 1.2
BM25_B = 0.75

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("part", T.IntegerType(), False),
        T.StructField("segment", T.IntegerType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tf", T.ArrayType(T.IntegerType()), False),
        # min doc length per block: the block's BM25 upper bound is
        # derived at QUERY time as weight(max_tf, min_dl, current avgdl)
        # — unlike a baked max score, this stays a valid bound after
        # incremental appends shift the corpus avgdl.
        T.StructField("block_min_dl", T.ArrayType(T.LongType()), False),
        T.StructField("block_off", T.ArrayType(T.IntegerType()), False),
        # per-(doc) token-position lists (delta + PFor stream) — decoded
        # only by phrase queries; empty when positions are disabled
        T.StructField("pos_blob", T.BinaryType(), False),
        # blob size as a plain column so lineage/metrics aggregate with
        # parquet column pruning instead of re-reading every blob
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

POSTINGS_SCHEMA = T.StructType([f for f in PARTIAL_SCHEMA.fields if f.name != "part"])


def bm25_idf(n_docs: int, df: int) -> float:
    """Lucene-style BM25 idf: ln(1 + (N - df + .5)/(df + .5))."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_weight(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """(k1+1)*tf / (tf + k1*(1 - b + b*dl/avgdl)) — float64 throughout."""
    tf = tf.astype(np.float64)
    norm = BM25_K1 * (1.0 - BM25_B + BM25_B * dl.astype(np.float64) / avgdl)
    return (BM25_K1 + 1.0) * tf / (tf + norm)


def term_bucket(term: str, n_buckets: int) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def extract_pages(
    pages: DataFrame,
    lang_filter: list[str] | None = None,
    meta_cols: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Extraction half of normalize (pre-dedupe): fill missing text from
    html.  Extraction runs BEFORE any shuffle so `html` bytes never
    leave the scan stage (the UDF input is null-guarded — only the ~3%
    null-text rows cross the Arrow boundary).  lang filter first →
    pushed into the parquet scan.

    `meta_cols`: metadata columns carried through (facet/stored fields
    per the index field manifest); defaults to ('lang',) if present."""
    df = pages
    if lang_filter:
        df = df.filter(F.col("lang").isin(lang_filter))
    if meta_cols is None:
        meta_cols = [c for c in DEFAULT_FACET_FIELDS if c in df.columns]
    return df.select(
        "url",
        extracted_text_col("text", "html").alias("text"),
        *meta_cols,
        "warc_ts",
    )


def normalize_pages(
    pages: DataFrame,
    lang_filter: list[str] | None = None,
    meta_cols: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Dedupe to latest crawl per url, fill missing text from html.
    The dedupe shuffles text only (extraction already dropped html)."""
    if meta_cols is None:
        meta_cols = [c for c in DEFAULT_FACET_FIELDS if c in pages.columns]
    extracted = extract_pages(pages, lang_filter, meta_cols)
    return dedupe_latest(extracted, key="url", ts="warc_ts", tiebreak="text").select(
        "url", "text", *meta_cols, "warc_ts"
    )


DEFAULT_FACET_FIELDS = ("lang",)

# columns that are the engine's own, never metadata fields
CORE_COLUMNS = frozenset({"url", "warc_ts", "html", "text", "doc_id", "doc_len"})


def derive_index_fields(
    schema: T.StructType,
    overrides: dict[str, dict] | None = None,
    default_facets: tuple[str, ...] = DEFAULT_FACET_FIELDS,
) -> dict[str, dict]:
    """Field manifest derived mechanically from the table schema — the
    analog of the reference's ES-mapping-from-dtype with per-field
    overrides (hail_scripts/v02/utils/elasticsearch_utils.py:38-77,
    elasticsearch_client.py:166-177).

    Every non-core column gets {dtype, facet, stored}:
      facet  — indexed as a __field_value__ filter token (string columns
               only; overriding facet=True on a non-string raises, the
               reference's unsupported-type NotImplementedError analog)
      stored — persisted in the doc-store sidecar (doclens) and returned
               by with_source
    `overrides`: {field_name_or_fnmatch_pattern: {facet:, stored:}}.

    Array-of-struct columns take the NESTED role (the reference's
    mapping derivation emits ``"type": "nested"`` for struct-element
    arrays, hail_scripts/v02/utils/elasticsearch_utils.py:22-28): the
    spec carries ``nested = {leaf: dtype}`` for the struct's SCALAR
    leaves (queryable via ``field.leaf:value`` atoms and
    ``search_nested``, resolved against the exploded nested sidecar).
    Nested columns are never facets and never stored in doclens —
    overriding either raises with the sidecar/flatten recipe."""
    import fnmatch

    overrides = overrides or {}
    specs: dict[str, dict] = {}
    for f in schema.fields:
        if f.name in CORE_COLUMNS:
            continue
        is_str = isinstance(f.dataType, T.StringType)
        is_nested = isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StructType
        )
        spec = {
            "dtype": f.dataType.simpleString(),
            "facet": bool(is_str and f.name in default_facets),
            "stored": not is_nested,
        }
        if is_nested:
            spec["nested"] = {
                sf.name: sf.dataType.simpleString()
                for sf in f.dataType.elementType.fields
                if isinstance(
                    sf.dataType,
                    (
                        T.StringType,
                        T.IntegerType,
                        T.LongType,
                        T.ShortType,
                        T.ByteType,
                        T.FloatType,
                        T.DoubleType,
                        T.BooleanType,
                    ),
                )
            }
        for pat, ov in overrides.items():
            if f.name == pat or fnmatch.fnmatch(f.name, pat):
                spec.update({k: v for k, v in ov.items() if k in ("facet", "stored")})
        if is_nested and spec["facet"]:
            raise TypeError(
                f"field {f.name!r} is nested (array-of-struct, "
                f"{spec['dtype']}) — it cannot be a facet; query its "
                "leaves via 'field.leaf:value' atoms or flatten the "
                "array to a string column before indexing"
            )
        if is_nested and spec["stored"]:
            raise TypeError(
                f"field {f.name!r} is nested (array-of-struct, "
                f"{spec['dtype']}) — the doc-value store holds scalars "
                "and string arrays only; nested leaves live in the "
                "exploded nested sidecar (query via 'field.leaf:value' "
                "/ search_nested), or flatten to scalar columns before "
                "indexing"
            )
        if spec["facet"] and not is_str:
            raise TypeError(
                f"facet field {f.name!r} has non-string type "
                f"{spec['dtype']} — cast it to string before indexing"
            )
        specs[f.name] = spec
    return specs


def py_facet_value(value: str | None) -> str:
    """Pinned facet-value normalization: the value's tokens (same
    tokenizer as the query parser) joined by '_' — 'pt-BR' → 'pt_br',
    'EN' → 'en'.  Idempotent.  Empty/None normalizes to ''."""
    return "_".join(py_tokenize(value))


def facet_value_col(col: Column) -> Column:
    """JVM twin of :func:`py_facet_value`; NULL/empty → 'unknown'."""
    toks = F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_PATTERN), lambda t: t != ""
    )
    joined = F.coalesce(F.array_join(toks, "_"), F.lit(""))
    return F.when(joined == "", F.lit("unknown")).otherwise(joined)


def facet_token(field: str, value: str | None) -> str:
    """Synthetic index token for a metadata facet.  Contains underscores
    so it can never collide with output of the pinned tokenizer.  The
    value is normalized with the SAME rule the query parser applies, so
    every indexed facet is queryable (round-2 advice: raw values like
    'EN' or 'pt-BR' used to index under tokens no query could produce)."""
    return f"__{field}_{py_facet_value(value) or 'unknown'}__"


def nested_leaf_value_col(col: Column) -> Column:
    """Match-value normalization for a nested leaf: the value's string
    form run through the SAME rule as facet values and the query
    parser (lowercase tokens joined by '_'), so every stored leaf is
    queryable by construction.  NULL / empty normalizes to NULL — a
    missing leaf emits no sidecar row (ES missing-field semantics),
    unlike facets where NULL indexes as 'unknown'."""
    toks = F.filter(
        F.split(F.lower(col.cast("string")), TOKEN_SPLIT_PATTERN),
        lambda t: t != "",
    )
    joined = F.array_join(toks, "_")
    return F.when(
        col.isNull() | (joined == ""), F.lit(None).cast("string")
    ).otherwise(joined)


def nested_rows(docs: DataFrame, fields: "dict[str, list[str]]") -> DataFrame:
    """Exploded nested-sidecar projection — the analog of ES's hidden
    nested sub-documents (one Lucene doc per array element; the
    reference's mapping derivation marks these columns ``nested``,
    hail_scripts/v02/utils/elasticsearch_utils.py:22-28).

    One long row per (doc, array position, scalar leaf with a value):
    (field, doc_id, obj, leaf, value).  ``obj`` is the element's
    position — the object identity that lets ``search_nested`` demand
    several conditions hold within the SAME object (the whole point of
    ES ``nested`` vs ``object`` mappings).  Values are normalized by
    :func:`nested_leaf_value_col`; NULL leaves emit nothing.

    Scale: O(total nested objects × leaves) rows of 5 small columns —
    a pure per-partition projection (posexplode + melt, no shuffle
    here; the publisher sorts within partitions by (leaf, value) so
    parquet min/max stats prune query scans to the matching row
    groups)."""
    parts = []
    for field, leaves in sorted(fields.items()):
        ex = docs.select(
            "doc_id", F.posexplode(F.col(field)).alias("obj", "_o")
        )
        melted = ex.select(
            F.lit(field).alias("field"),
            "doc_id",
            F.col("obj").cast("int").alias("obj"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(leaf).alias("leaf"),
                            nested_leaf_value_col(F.col("_o")[leaf]).alias(
                                "value"
                            ),
                        )
                        for leaf in sorted(leaves)
                    ]
                )
            ).alias("lv"),
        ).select(
            "field",
            "doc_id",
            "obj",
            F.col("lv.leaf").alias("leaf"),
            F.col("lv.value").alias("value"),
        )
        parts.append(melted.filter(F.col("value").isNotNull()))
    if not parts:
        raise ValueError("nested_rows needs at least one nested field")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def py_dlen_bucket(doc_len: int) -> int:
    """Power-of-two doc-length bucket (lower bound): 180 → 128."""
    return 1 << (max(int(doc_len), 1).bit_length() - 1)


def dlen_bucket_token_col(dl_col: Column) -> Column:
    """Per-document bucketed filter token ``__dlen_{2^k}__`` — the exact
    analog of the reference's bucketed set-valued fields
    (seqr_mt_schema.py:260-305: per-bucket sample-id sets per row); here
    the bucket is a per-doc filter token, so ``dlen:128`` in the boolean
    query language selects docs whose length falls in [128, 256)."""
    bucket = F.pow(
        F.lit(2.0), F.floor(F.log2(F.greatest(dl_col, F.lit(1))))
    ).cast("long")
    return F.concat(F.lit("__dlen_"), bucket.cast("string"), F.lit("__"))


def docs_with_ids(
    normalized: DataFrame,
    num_partitions: int | None = None,
    meta_cols: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Dense doc_id in url order + doc_len (BM25 `dl`).  Carries the
    field manifest's metadata columns (facet + stored) through, plus
    ``warc_ts`` (the crawl timestamp becomes a doc value in doclens —
    the ES ``date``-field analog for range filters / recency sorts)."""
    if meta_cols is None:
        meta_cols = [f for f in DEFAULT_FACET_FIELDS if f in normalized.columns]
    keep = ["url", "text"] + [
        c
        for c in [*meta_cols, "warc_ts"]
        if c in normalized.columns and c not in ("url", "text")
    ]
    return assign_dense_ids(
        normalized.select(*keep), key="url", num_partitions=num_partitions
    ).withColumn("doc_len", token_count_col("text"))


def docs_with_ids_fused(
    extracted: DataFrame,
    num_partitions: int | None = None,
    meta_cols: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Fused dedupe + dense-id assignment over ONE full-corpus shuffle
    (readers.dedupe_and_assign_ids) — row-identical output to
    normalize_pages → docs_with_ids, which exchange the corpus twice."""
    from ..sources.readers import dedupe_and_assign_ids

    if meta_cols is None:
        meta_cols = [f for f in DEFAULT_FACET_FIELDS if f in extracted.columns]
    ided = dedupe_and_assign_ids(
        extracted, key="url", ts="warc_ts", tiebreak="text",
        num_partitions=num_partitions,
    )
    keep = ["doc_id", "url", "text"] + [
        c
        for c in [*meta_cols, "warc_ts"]
        if c in ided.columns and c not in ("doc_id", "url", "text")
    ]
    return ided.select(*keep).withColumn("doc_len", token_count_col("text"))


def corpus_stats_aggs(tf_cols: list[str]) -> list:
    """The corpus-globals aggregate expressions — shared by the
    standalone corpus_stats job and the Observation that rides the
    docs-stage WRITE (same expressions → same values, one less full
    corpus scan per build)."""
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_len").alias("total_tokens"),
        F.sum(
            F.when(F.coalesce(F.col("doc_len"), F.lit(0)) <= 0, 1).otherwise(0)
        ).alias("n_empty_docs"),
        F.approx_count_distinct(F.xxhash64("text")).alias("n_uniq_texts"),
        *[
            F.sum(
                F.greatest(token_count_col(F.col(f)), F.lit(0))
            ).alias(f"__ft_{f}")
            for f in tf_cols
        ],
    ]


def corpus_stats_from_row(row, tf_cols: list[str]) -> dict:
    n = int(row["n_docs"])
    total = int(row["total_tokens"] or 0)
    out = {
        "n_docs": n,
        "total_tokens": total,
        "avgdl": (total / n) if n else 0.0,
        "n_empty_docs": int(row["n_empty_docs"] or 0),
        "n_uniq_texts": int(row["n_uniq_texts"] or 0),
    }
    if tf_cols:
        out["field_stats"] = {
            f: {"total_tokens": int(row[f"__ft_{f}"] or 0)} for f in tf_cols
        }
    return out


def corpus_stats(
    docs: DataFrame, text_fields: tuple[str, ...] | list[str] = ()
) -> dict:
    """Corpus globals in ONE aggregation job — includes the validation
    gate's inputs (empty-doc count, approx distinct texts) so the
    pre-publish checks cost no extra scan.  ``text_fields``: extra
    analyzed fields whose per-field token totals ride the same pass
    (``field_stats`` — the per-field avgdl source for BM25F scoring)."""
    tf_cols = [f for f in text_fields if f in docs.columns]
    row = docs.agg(*corpus_stats_aggs(tf_cols)).collect()[0]
    return corpus_stats_from_row(row, tf_cols)


def _build_partial_index(
    pdf: pd.DataFrame, seg_group: int, with_positions: bool = True
) -> pd.DataFrame:
    """Inverted index for one doc-range part: vectorized (factorize /
    unique / reduceat), no per-row Python.

    `part` is a deterministic function of doc_id (doc_id // width), NOT
    a task/partition id — the index content is therefore byte-identical
    under any physical partitioning (merge-determinism contract)."""
    empty = pd.DataFrame({f.name: pd.Series(dtype=object) for f in PARTIAL_SCHEMA})
    if pdf.empty:
        return empty
    pdf = pdf.sort_values("doc_id")
    part = int(pdf["part"].iloc[0])
    toks = pdf["tokens"]
    lens = toks.map(len).to_numpy(dtype=np.int64)
    if lens.sum() == 0:
        return empty
    terms = np.concatenate([np.asarray(t, dtype=object) for t in toks])
    docs = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
    dls = np.repeat(pdf["doc_len"].to_numpy(np.int64), lens)
    # token position within its doc (phrase-query support)
    pos_all = np.arange(lens.sum(), dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )

    tcodes, uniq_terms = pd.factorize(terms, sort=True)
    dcodes, uniq_docs = pd.factorize(docs, sort=False)  # appearance==ascending
    uniq_docs = np.asarray(uniq_docs, dtype=np.int64)

    n_docs_local = len(uniq_docs)
    key = tcodes.astype(np.int64) * n_docs_local + dcodes
    # stable sort keeps positions ascending within each (term, doc)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    pos_sorted = pos_all[order] if with_positions else None
    ukey, counts = np.unique(skey, return_counts=True)
    u_d = (ukey % n_docs_local).astype(np.int64)
    u_t = (ukey // n_docs_local).astype(np.int64)
    bounds = np.searchsorted(u_t, np.arange(len(uniq_terms) + 1))
    inst_offsets = np.concatenate(([0], np.cumsum(counts)))

    # batched encode: ALL terms' blobs in a handful of whole-array numpy
    # passes (codecs.encode_postings_batch — byte-identical to the
    # per-term scalar encoder, which dominated the build profile)
    docs_flat = uniq_docs[u_d]
    tf_flat = counts.astype(np.int64)
    # dl per (term, doc) group = the doc_len of the ROW its instances
    # came from (first instance after the stable sort).  For body text
    # this is the doc's dl as before; extra analyzed fields arrive as a
    # SECOND row per doc carrying the FIELD length as doc_len, and
    # because their terms are field-prefixed (disjoint from body terms)
    # each group's instances all come from one row — so field postings
    # bake the field norm (BM25F per-field length) with no format change
    dl_flat = dls[order][inst_offsets[:-1]]
    batch = codecs.encode_postings_batch(docs_flat, tf_flat, dl_flat, bounds)
    if with_positions:
        pos_blobs = codecs.encode_position_lists_batch(
            pos_sorted, tf_flat, inst_offsets[bounds], bounds
        )
    cfs = np.add.reduceat(tf_flat, bounds[:-1]) if len(tf_flat) else np.zeros(0, np.int64)
    seg = part // seg_group
    rows = []
    for ti in range(len(uniq_terms)):
        lo, hi = int(bounds[ti]), int(bounds[ti + 1])
        if lo == hi:
            continue
        blob, blast, bmaxtf, boff, bmin_dl = batch[ti]
        pos_blob = pos_blobs[ti] if with_positions else b""
        rows.append(
            (
                str(uniq_terms[ti]),
                part,
                seg,
                int(docs_flat[lo]),
                hi - lo,
                int(cfs[ti]),
                blob,
                blast.tolist(),
                bmaxtf.tolist(),
                bmin_dl.tolist(),
                boff.tolist(),
                pos_blob,
                len(blob) + len(pos_blob),
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in PARTIAL_SCHEMA])


def field_term_col(field: str, tokens: Column) -> Column:
    """Field-prefixed index terms for an extra analyzed field
    (``title:foo``): the ES multi-field mapping analog
    (hail_scripts/v02/utils/elasticsearch_utils.py:38-77 derives
    per-field ES mappings; seqr queries individual fields).  ':' never
    appears in tokenizer output, so prefixed terms can't collide with
    body terms, and facet tokens (``__f_v__``) differ in shape."""
    return F.transform(tokens, lambda t: F.concat(F.lit(field + ":"), t))


def build_partials(
    docs: DataFrame,
    docs_per_part: int,
    seg_group: int,
    num_partitions: int | None = None,
    with_positions: bool = True,
    facet_fields: tuple[str, ...] | list[str] | None = None,
    dlen_buckets: bool = True,
    text_fields: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Stage `partial`: assign each doc to a fixed-width doc-id range
    (`part = doc_id // docs_per_part` — deterministic, dense ids make it
    balanced with NO sampling-dependent boundaries) and build each
    part's inverted index in an Arrow stream.

    Shuffle discipline: rows are exchanged as TEXT (repartition on
    `part`), and tokenization happens JVM-side AFTER the exchange — the
    token arrays (~3x the text bytes) only cross the executor-local
    Arrow boundary, never the network shuffle.  `mapInPandas` streams
    the sorted partition and flushes on part boundaries, so each part is
    still built as one whole unit — the index bytes stay identical under
    any physical partitioning (merge-determinism contract, tested).

    This is the UDAF shape the reference never needed (SURVEY §2.9 U5):
    doc range → (term, postings blob) rows."""
    spark = docs.sparkSession
    if num_partitions is None or num_partitions <= 0:
        num_partitions = spark.sparkContext.defaultParallelism
    if facet_fields is None:
        facet_fields = DEFAULT_FACET_FIELDS
    facet_cols = [f for f in facet_fields if f in docs.columns]
    text_field_cols = [f for f in text_fields if f in docs.columns]
    part_col = (F.col("doc_id") / F.lit(docs_per_part)).cast("int").alias("part")
    toks = tokenize_col("text")
    # facet tokens index metadata as filterable terms (ES filter
    # context); they are appended AFTER doc_len is computed, so they
    # never perturb BM25 length normalization
    facet_exprs = [
        F.concat(F.lit(f"__{f}_"), facet_value_col(F.col(f)), F.lit("__"))
        for f in facet_cols
    ]
    if dlen_buckets:
        # A2 analog: per-doc bucketed filter token (dlen:128 queries)
        facet_exprs.append(dlen_bucket_token_col(F.col("doc_len")))
    if facet_exprs:
        toks = F.concat(toks, F.array(*facet_exprs))
    if not text_field_cols:
        # the exchange carries TEXT; tokenization happens AFTER it (the
        # projection sits above the shuffle), so the token arrays (~3×
        # the text bytes) never cross the network — r6's plan had the
        # tokenize below the exchange, shuffling the expanded arrays
        pre = (
            docs.select("doc_id", "doc_len", "text", *facet_cols, part_col)
            .repartition(num_partitions, "part")
            .sortWithinPartitions("doc_id")
        )
        tokenized = pre.select(
            "doc_id", "doc_len", toks.alias("tokens"), "part"
        )
    else:
        # extra analyzed fields (ES multi-field mapping): each
        # contributes a SECOND row per doc whose doc_len is the FIELD's
        # token count and whose tokens are field-prefixed —
        # _build_partial_index bakes that per-row length into the field
        # terms' blobs, giving every field its own BM25 length norm
        # while body postings stay byte-identical.  The union's
        # branches need homogeneous schemas, so this path tokenizes
        # before the exchange (token arrays ride the shuffle).
        tokenized = docs.select(
            "doc_id", "doc_len", toks.alias("tokens"), part_col
        )
        for f in text_field_cols:
            ftoks = F.coalesce(
                field_term_col(f, tokenize_col(F.col(f))),
                F.array().cast("array<string>"),
            )
            tokenized = tokenized.unionByName(
                docs.select("doc_id", ftoks.alias("tokens"), part_col).select(
                    "doc_id",
                    F.size("tokens").cast("int").alias("doc_len"),
                    "tokens",
                    "part",
                )
            )
        tokenized = tokenized.repartition(
            num_partitions, "part"
        ).sortWithinPartitions("doc_id")

    def gen(batches):
        buf: list[pd.DataFrame] = []
        cur = None
        for pdf in batches:
            if pdf.empty:
                continue
            for part, grp in pdf.groupby("part", sort=True):
                if cur is not None and part != cur:
                    out = _build_partial_index(
                        pd.concat(buf, ignore_index=True), seg_group, with_positions
                    )
                    if len(out):
                        yield out
                    buf = []
                cur = part
                buf.append(grp)
        if buf:
            out = _build_partial_index(
                pd.concat(buf, ignore_index=True), seg_group, with_positions
            )
            if len(out):
                yield out

    return tokenized.mapInPandas(gen, schema=PARTIAL_SCHEMA)


def _merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge all (term, segment) groups of one merge bucket.  Grouping
    happens in-pandas (sort + boundary scan): one Arrow round-trip per
    BUCKET, not per term — per-group applyInPandas costs ~0.4ms of
    pandas construction overhead each, which at millions of terms
    dominates the whole merge stage."""
    if pdf.empty:
        return pd.DataFrame({f.name: pd.Series(dtype=object) for f in POSTINGS_SCHEMA})
    pdf = pdf.sort_values(["term", "segment", "min_doc"], kind="stable")
    terms = pdf["term"].to_numpy()
    segs = pdf["segment"].to_numpy()
    new_grp = np.empty(len(pdf), dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (terms[1:] != terms[:-1]) | (segs[1:] != segs[:-1])
    starts = np.flatnonzero(new_grp)
    ends = np.append(starts[1:], len(pdf))
    blobs = pdf["blob"].to_numpy()
    blasts = pdf["block_last"].to_numpy()
    bmaxtfs = pdf["block_max_tf"].to_numpy()
    bmindls = pdf["block_min_dl"].to_numpy()
    boffs = pdf["block_off"].to_numpy()
    pos_blobs = pdf["pos_blob"].to_numpy()
    min_docs = pdf["min_doc"].to_numpy()
    dfs = pdf["df"].to_numpy()
    cfs = pdf["cf"].to_numpy()
    rows = []
    for lo, hi in zip(starts, ends):
        parts = [
            (
                blobs[i],
                np.asarray(blasts[i], dtype=np.int64),
                np.asarray(bmaxtfs[i], dtype=np.int32),
                np.asarray(boffs[i], dtype=np.int32),
            )
            for i in range(lo, hi)
        ]
        blob, blast, bmaxtf, boff = codecs.merge_encoded(parts)
        bmin_dl = np.concatenate(
            [np.asarray(bmindls[i], dtype=np.int64) for i in range(lo, hi)]
        )
        pos_blob = codecs.merge_streams(
            [bytes(pos_blobs[i]) for i in range(lo, hi)]
        )
        rows.append(
            (
                terms[lo],
                int(segs[lo]),
                int(min_docs[lo:hi].min()),
                int(dfs[lo:hi].sum()),
                int(cfs[lo:hi].sum()),
                blob,
                blast.tolist(),
                bmaxtf.tolist(),
                bmin_dl.tolist(),
                boff.tolist(),
                pos_blob,
                len(blob) + len(pos_blob),
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in POSTINGS_SCHEMA])


def merge_partials(partials: DataFrame, num_buckets: int | None = None) -> DataFrame:
    """Stage `merge`: shuffle partials by hash(term, segment) into coarse
    merge buckets and concat-merge each (term, segment) group inside its
    bucket.  The segment dimension is the SALT: segment = part //
    seg_group keeps every term's postings split across ~num_parts/
    seg_group keys, so a high-DF stopword never serializes on one
    reducer (north rule) and the largest single row stays bounded at
    10^12 docs.  num_buckets bounds per-task memory: a bucket holds
    ~total_index_bytes / num_buckets."""
    spark = partials.sparkSession
    if num_buckets is None:
        num_buckets = max(spark.sparkContext.defaultParallelism * 4, 16)
    bucketed = partials.withColumn(
        "merge_bucket",
        F.pmod(F.hash("term", "segment"), F.lit(num_buckets)),
    )
    return (
        bucketed.groupBy("merge_bucket")
        .applyInPandas(
            lambda pdf: _merge_bucket(pdf.drop(columns=["merge_bucket"])),
            schema=POSTINGS_SCHEMA,
        )
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    docs_per_part: int | None = None,
    seg_group: int = 4,
    n_term_buckets: int = 16,
    lang_filter: list[str] | None = None,
    n_chunks: int = 1,
    with_positions: bool = True,
    field_overrides: dict[str, dict] | None = None,
    validation="default",
    checkpoint_normalize: bool = True,
    dlen_buckets: bool = True,
    text_fields: tuple[str, ...] | list[str] = (),
) -> dict:
    """One-shot build via the resumable staged pipeline
    (plans/pipeline.py).  Returns the manifest dict.

    ``text_fields``: extra ANALYZED string columns (ES multi-field
    mapping analog) indexed as field-prefixed terms with their own BM25
    length norm — query with ``search_fielded`` / ``field:term`` atoms."""
    from ..plans.pipeline import IndexBuildPipeline

    pipe = IndexBuildPipeline(
        spark,
        out_dir,
        docs_per_part=docs_per_part,
        seg_group=seg_group,
        n_term_buckets=n_term_buckets,
        lang_filter=lang_filter,
        n_chunks=n_chunks,
        with_positions=with_positions,
        field_overrides=field_overrides,
        validation=validation,
        checkpoint_normalize=checkpoint_normalize,
        dlen_buckets=dlen_buckets,
        text_fields=text_fields,
    )
    return pipe.run(pages)
