"""Resumable staged index-build pipeline.

Reference analogs, re-expressed:
  * Luigi task graph with marker-file `complete()` checks — `_SUCCESS`
    (luigi_pipeline/lib/hail_tasks.py:66-70) and `_EXPORTED_TO_ES`
    (seqr_loading.py:174,198-211) → per-stage `_SUCCESS` +
    `_INDEX_PUBLISHED` markers
  * `can_reuse(path)` skip-if-complete (batch_seqr_loader/seqr_loader/
    utils.py:81-94) → `can_reuse()` with an input-fingerprint check
  * deterministic artifact identity `samples_hash = sha256(sorted ids)`
    (batch_workflow.py:417-418, utils.py:97-105) → stage fingerprints =
    sha256 of (params, upstream fingerprint)
  * per-interval scatter with per-unit skip-or-schedule
    (batch_workflow.py:318-406) → doc-range CHUNKS: the partial-index
    stage runs as n_chunks independent Spark jobs over disjoint doc-id
    ranges, each with its own marker — kill the build mid-way and the
    re-run skips completed chunks (per-partition checkpoint resume,
    north rule)
  * metrics into the index `_meta` (elasticsearch_client.py:183-187) →
    manifest.json: docs indexed, postings emitted, bytes compressed +
    per-chunk lineage rows (FIXTURES.md F6 schema)

Layout under out_dir/:
    stages/normalize/        url,text,lang,warc_ts parquet
    stages/docs/             doc_id,url,text,doc_len parquet + globals
    stages/partials/chunk=K/ partial postings parquet per chunk
    lineage/                 per-chunk/per-part metric rows (F6)
    postings/                final index, partitioned by term_bucket
    doclens/                 doc_id,url,doc_len
    manifest.json            globals + metrics + lineage summary
    _INDEX_PUBLISHED         publish marker
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import layout
from ..operators import index_build as ib
from . import sizing


def _write_termdict(
    spark: SparkSession,
    out_dir: str,
    postings_path: str | None = None,
    dest_path: str | None = None,
) -> None:
    """Term dictionary: (term_bucket, term, df, cf, n_rows) aggregated
    over the postings table.  The ES mapping/field-caps analog — query-
    side idf lookups scan THIS small table (partition-pruned by
    term_bucket) instead of touching posting blobs.

    Default paths serve the initial build (plain names, staged swap —
    no readers exist yet).  Maintenance ops pass explicit paths: the
    postings GENERATION they just wrote and a fresh termdict generation
    dir, published later by the op's single atomic manifest flip."""
    postings = spark.read.parquet(
        postings_path or os.path.join(out_dir, "postings")
    )
    td = postings.groupBy("term_bucket", "term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.count("*").alias("n_rows"),
    )
    plan = td.repartition("term_bucket").sortWithinPartitions("term")
    if dest_path is not None:
        plan.write.mode("overwrite").partitionBy("term_bucket").parquet(dest_path)
        return
    staging = os.path.join(out_dir, "termdict__staging")
    plan.write.mode("overwrite").partitionBy("term_bucket").parquet(staging)
    _swap_dir(staging, os.path.join(out_dir, "termdict"))


def _update_termdict(
    spark: SparkSession,
    new_postings: DataFrame,
    src_path: str,
    dest_path: str,
) -> None:
    """Incremental termdict maintenance for appends: aggregate ONLY the
    new batch's rows and fold them into the termdict at ``src_path`` —
    touches O(batch) + O(termdict), never the full postings table
    (which _write_termdict re-scans).  ``new_postings`` must carry
    term_bucket/term/df/cf and should be persisted by the caller (it is
    consumed once here and once by the postings append).

    The combined termdict is written into the fresh generation dir
    ``dest_path``, published by the caller's atomic manifest flip —
    concurrent readers keep the old termdict until then."""
    new_td = new_postings.groupBy("term_bucket", "term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.count("*").alias("n_rows"),
    )
    combined = (
        spark.read.parquet(src_path)
        .unionByName(new_td)
        .groupBy("term_bucket", "term")
        .agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.sum("n_rows").alias("n_rows"),
        )
    )
    plan = combined.repartition("term_bucket").sortWithinPartitions("term")
    plan.write.mode("overwrite").partitionBy("term_bucket").parquet(dest_path)


def _swap_dir(staging: str, final: str) -> None:
    """Crash-safe directory swap: the live dir is renamed aside BEFORE the
    staging dir moves in, so every intermediate state keeps one complete
    copy on disk (either at ``final`` or at ``final__old``) — a crash
    mid-swap never leaves a published index with no postings."""
    old = final + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(final):
        os.replace(final, old)
    os.replace(staging, final)
    if os.path.exists(old):
        shutil.rmtree(old)


def _fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:32]


def can_reuse(path: str, fingerprint: str) -> bool:
    """Stage output is reusable iff its completion marker exists AND it
    was produced from the same inputs/params (fingerprint match)."""
    fp_file = os.path.join(path, "_FINGERPRINT")
    if not (os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(fp_file)):
        return False
    with open(fp_file) as f:
        return f.read().strip() == fingerprint


def mark_complete(path: str, fingerprint: str) -> None:
    with open(os.path.join(path, "_FINGERPRINT"), "w") as f:
        f.write(fingerprint)


class IndexBuildPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        docs_per_part: int | None = None,
        seg_group: int = 4,
        n_term_buckets: int = 16,
        lang_filter: list[str] | None = None,
        n_chunks: int = 1,
        input_fingerprint: str | None = None,
        with_positions: bool = True,
        field_overrides: dict[str, dict] | None = None,
        validation: "ValidationThresholds | None | str" = "default",
        checkpoint_normalize: bool = True,
        dlen_buckets: bool = True,
        text_fields: tuple[str, ...] | list[str] = (),
    ):
        self.spark = spark
        self.out = out_dir
        self.docs_per_part = docs_per_part
        self.seg_group = seg_group
        self.n_term_buckets = n_term_buckets
        self.lang_filter = lang_filter
        self.n_chunks = max(1, n_chunks)
        self.with_positions = with_positions
        self.field_overrides = field_overrides
        # checkpoint_normalize=False fuses normalize+docs into one stage:
        # the corpus text is materialized ONCE (stages/docs) instead of
        # twice, halving stage-IO bytes — the reference's checkpoints are
        # likewise opt-in (--make-checkpoints, make_annotated_mt.py:89).
        # Resume granularity is unchanged where it matters: the docs
        # stage and every partials chunk keep their markers.
        self.checkpoint_normalize = checkpoint_normalize
        self.dlen_buckets = dlen_buckets
        self.text_fields = tuple(text_fields)
        from .validate import ValidationThresholds

        self.validation = (
            ValidationThresholds() if validation == "default" else validation
        )
        self._validation_report: dict | None = None
        # resolved from the input schema at run() (ES mapping-from-dtype)
        self.field_specs: dict[str, dict] = {}
        self.facet_fields: tuple[str, ...] = ()
        self.stored_fields: tuple[str, ...] = ()
        self.input_fingerprint = input_fingerprint or "unfingerprinted-input"
        self.params_fp = _fingerprint(
            {
                "docs_per_part": docs_per_part,
                "seg_group": seg_group,
                "n_term_buckets": n_term_buckets,
                "lang_filter": lang_filter,
                "n_chunks": n_chunks,
                "with_positions": with_positions,
                "field_overrides": field_overrides,
                "checkpoint_normalize": checkpoint_normalize,
                "dlen_buckets": dlen_buckets,
                "text_fields": sorted(self.text_fields),
                "input": self.input_fingerprint,
            }
        )

    # -- paths ---------------------------------------------------------
    def _p(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)

    # -- stages --------------------------------------------------------
    def run(self, pages: DataFrame) -> dict:
        os.makedirs(self.out, exist_ok=True)
        # field manifest derived from the input schema + overrides
        # (elasticsearch_utils.py:38-77 analog)
        self.field_specs = ib.derive_index_fields(pages.schema, self.field_overrides)
        self.facet_fields = tuple(
            n for n, s in self.field_specs.items() if s["facet"]
        )
        self.stored_fields = tuple(
            n for n, s in self.field_specs.items() if s["stored"]
        )
        # extra analyzed fields must be string columns of the input AND
        # stored (doclens carries the raw string, so maintenance ops can
        # recompute exact per-field token totals after kills/compaction)
        for f in self.text_fields:
            spec = self.field_specs.get(f)
            if spec is None:
                raise ValueError(
                    f"text_field {f!r} is not a column of the input"
                )
            if spec["dtype"] != "string":
                raise TypeError(
                    f"text_field {f!r} has non-string type {spec['dtype']}"
                )
            spec["stored"] = True
            spec["analyzed"] = True
        self.stored_fields = tuple(
            dict.fromkeys(self.stored_fields + self.text_fields)
        )
        # nested (array-of-struct) columns ride the docs stage so the
        # publish step can project the exploded sidecar; they are never
        # doclens columns (stored=False enforced in derive_index_fields)
        self.nested_fields = tuple(
            n for n, s in self.field_specs.items() if s.get("nested")
        )
        self.meta_cols = tuple(
            dict.fromkeys(
                self.facet_fields + self.stored_fields + self.nested_fields
            )
        )
        if self.checkpoint_normalize:
            self._stage_normalize(pages)
        globals_ = self._stage_docs(pages)
        self._stage_validate(globals_)
        self._stage_partials(globals_)
        manifest = self._stage_publish(globals_)
        return manifest

    def _stage_validate(self, globals_: dict) -> None:
        """Pre-publish sanity gate (plans/validate.py — the reference's
        thresholded-match-ratio validation stage).  Zero extra Spark
        jobs: its inputs ride in corpus_stats' aggregation.  Skipped
        when validation=None."""
        if self.validation is None:
            return
        from .validate import validate_globals

        self._validation_report = validate_globals(globals_, self.validation)

    def _stage_normalize(self, pages: DataFrame) -> None:
        path = self._p("stages", "normalize")
        fp = _fingerprint(["normalize", self.params_fp, sorted(self.meta_cols)])
        if can_reuse(path, fp):
            return
        ib.normalize_pages(
            pages, self.lang_filter, meta_cols=self.meta_cols
        ).write.mode("overwrite").parquet(path)
        mark_complete(path, fp)

    def _stage_docs(self, pages: DataFrame) -> dict:
        path = self._p("stages", "docs")
        fp = _fingerprint(["docs", self.params_fp, sorted(self.meta_cols)])
        gpath = self._p("stages", "docs", "_GLOBALS.json")
        if can_reuse(path, fp):
            with open(gpath) as f:
                return json.load(f)
        if self.checkpoint_normalize:
            normalized = self.spark.read.parquet(self._p("stages", "normalize"))
            docs = ib.docs_with_ids(normalized, meta_cols=self.meta_cols)
        else:
            # fused: extract → ONE shuffle doing dedupe + id assignment
            extracted = ib.extract_pages(
                pages, self.lang_filter, meta_cols=self.meta_cols
            )
            docs = ib.docs_with_ids_fused(extracted, meta_cols=self.meta_cols)
        # corpus globals ride the WRITE job as observation metrics
        # (same aggregate expressions as corpus_stats → same values),
        # saving the separate full-corpus stats scan per build
        from pyspark.sql import Observation

        tf_cols = [f for f in self.text_fields if f in docs.columns]
        obs = Observation("corpus_stats")
        docs.observe(obs, *ib.corpus_stats_aggs(tf_cols)).write.mode(
            "overwrite"
        ).parquet(path)
        globals_ = ib.corpus_stats_from_row(obs.get, tf_cols)
        self.spark.catalog.clearCache()  # free assign_dense_ids' persist
        if self.docs_per_part is None:
            self.docs_per_part = max(
                1,
                min(
                    sizing.TARGET_DOCS_PER_BUILD_PARTITION,
                    math.ceil(
                        globals_["n_docs"]
                        / max(self.spark.sparkContext.defaultParallelism, 1)
                    ),
                ),
            )
        globals_["docs_per_part"] = self.docs_per_part
        globals_["n_parts"] = math.ceil(globals_["n_docs"] / self.docs_per_part) if globals_["n_docs"] else 0
        # doc ids are dense from 0: readers pin a snapshot to the rows
        # below this bound (bm25.snapshot_bounds)
        globals_["doc_id_end"] = globals_["n_docs"]
        with open(gpath, "w") as f:
            json.dump(globals_, f)
        mark_complete(path, fp)
        return globals_

    def _chunk_ranges(self, n_docs: int) -> list[tuple[int, int, int]]:
        """(chunk_id, lo_doc, hi_doc) — disjoint doc-id ranges aligned to
        part boundaries so a chunk re-run regenerates whole parts."""
        parts_total = math.ceil(n_docs / self.docs_per_part) if n_docs else 0
        per_chunk = math.ceil(parts_total / self.n_chunks) if parts_total else 0
        out = []
        for c in range(self.n_chunks):
            lo_part = c * per_chunk
            hi_part = min((c + 1) * per_chunk, parts_total)
            if lo_part >= hi_part:
                continue
            out.append((c, lo_part * self.docs_per_part, hi_part * self.docs_per_part))
        return out

    def _stage_partials(self, globals_: dict) -> None:
        self.docs_per_part = globals_["docs_per_part"]
        docs = self.spark.read.parquet(self._p("stages", "docs"))
        # shuffle-partition count for the partial build: hashing ~1.5×
        # as many part keys as partitions lands 2-3 parts on some tasks
        # and 1 on others (synthetic-key skew, guide §2.5) — the 2-3×
        # stragglers gate the stage.  One part per partition up to 4×
        # the core count spreads them evenly; a 10^6-part corpus caps
        # at 4× parallelism (each task then merges many parts, which
        # the part-boundary flush in build_partials handles).
        par = self.spark.sparkContext.defaultParallelism
        n_parts_total = int(globals_.get("n_parts") or 0)
        build_partitions = (
            min(n_parts_total, max(par * 4, 16)) if n_parts_total else None
        )
        for chunk_id, lo, hi in self._chunk_ranges(globals_["n_docs"]):
            cpath = self._p("stages", "partials", f"chunk={chunk_id}")
            fp = _fingerprint(["partials", self.params_fp, chunk_id, lo, hi])
            if can_reuse(cpath, fp):
                continue
            chunk_docs = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            partials = ib.build_partials(
                chunk_docs, self.docs_per_part, self.seg_group,
                num_partitions=build_partitions,
                with_positions=self.with_positions,
                facet_fields=self.facet_fields,
                dlen_buckets=self.dlen_buckets,
                text_fields=self.text_fields,
            )
            partials.write.mode("overwrite").parquet(cpath)
            # per-part lineage + metrics (FIXTURES.md F6)
            lineage = (
                self.spark.read.parquet(cpath)
                .groupBy("part")
                .agg(
                    F.sum("df").alias("postings_emitted"),
                    F.sum("n_bytes").alias("bytes_compressed"),
                )
                .withColumn("stage", F.lit("partial_index"))
                .withColumn("chunk", F.lit(chunk_id))
                .withColumn("input_fingerprint", F.lit(fp))
                .withColumnRenamed("part", "partition_id")
            )
            docs_per = chunk_docs.groupBy(
                (F.col("doc_id") / F.lit(self.docs_per_part)).cast("int").alias("partition_id")
            ).agg(F.count("*").alias("docs_indexed"))
            lineage = lineage.join(docs_per, "partition_id", "left")
            lineage.write.mode("overwrite").parquet(
                self._p("lineage", f"stage=partial_index", f"chunk={chunk_id}")
            )
            mark_complete(cpath, fp)

    def _stage_publish(self, globals_: dict) -> dict:
        marker = self._p("_INDEX_PUBLISHED")
        fp = _fingerprint(["publish", self.params_fp, globals_])
        manifest_path = self._p("manifest.json")
        if os.path.exists(marker) and os.path.exists(manifest_path):
            try:
                m = layout.load_manifest(self.out)
            except layout.IndexFormatError:
                m = {}  # an index in another format: republish over it
            if m.get("fingerprint") == fp:
                return m
        partials = self.spark.read.parquet(self._p("stages", "partials"))
        merged = ib.merge_partials(partials).withColumn(
            "term_bucket",
            F.crc32(F.col("term").cast("binary")) % F.lit(self.n_term_buckets),
        )
        # staging-then-swap: the ES "loading nodes then hand-off" analog.
        # Hash-partition on (term_bucket, term) → write parallelism is
        # the cluster's, not n_term_buckets, with no range-sampling job;
        # sortWithinPartitions keeps each file term-sorted so parquet
        # min/max row-group stats prune term lookups at query time.
        n_out = max(self.spark.sparkContext.defaultParallelism, self.n_term_buckets)
        staging = self._p("postings__staging")
        (
            merged.repartition(n_out, "term_bucket", "term")
            .sortWithinPartitions("term_bucket", "term", "segment")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(staging)
        )
        final = self._p("postings")
        _swap_dir(staging, final)

        docs = self.spark.read.parquet(self._p("stages", "docs"))
        stored = [c for c in self.stored_fields if c in docs.columns]
        # warc_ts rides doclens as a doc value (ES date-field analog):
        # range filters and recency sorts read it columnar with parquet
        # min/max row-group pruning — the BKD-tree role
        dv = ["warc_ts"] if "warc_ts" in docs.columns else []
        docs.select("doc_id", "url", "doc_len", *stored, *dv).write.mode(
            "overwrite"
        ).parquet(self._p("doclens"))

        # nested sidecar (ES hidden nested sub-documents): exploded
        # (field, doc_id, obj, leaf, value) rows, partitioned by field
        # and sorted by (leaf, value) within files so equality lookups
        # prune to the matching row groups via parquet min/max stats
        nested_cols = [f for f in self.nested_fields if f in docs.columns]
        if nested_cols:
            (
                ib.nested_rows(
                    docs,
                    {
                        f: list(self.field_specs[f]["nested"])
                        for f in nested_cols
                    },
                )
                .repartition("field", "leaf")
                .sortWithinPartitions("leaf", "value", "doc_id")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(self._p("nested"))
            )

        postings = self.spark.read.parquet(final)
        _write_termdict(self.spark, self.out)
        # n_terms comes from the termdict just written (one row per
        # (term_bucket, term); the bucket is a function of the term, so
        # row count == distinct terms) — a metadata-only parquet count
        # instead of a countDistinct over the postings' term strings.
        # The remaining aggregate reads only (df, n_bytes, segment):
        # column pruning keeps term/blob bytes out of the metrics scan.
        n_terms = self.spark.read.parquet(
            os.path.join(self.out, "termdict")
        ).count()
        metrics_row = postings.agg(
            F.sum("df").alias("postings_emitted"),
            F.sum("n_bytes").alias("bytes_compressed"),
            F.count("*").alias("posting_rows"),
            F.countDistinct("segment").alias("n_segments"),
        ).collect()[0]
        manifest = {
            "format_version": layout.INDEX_FORMAT_VERSION,
            "fingerprint": fp,
            # generation-pointer layout (layout.py): the initial build
            # publishes plain table dirs at generation 0; maintenance
            # ops rewrite tables into <name>-g<G> dirs and flip these
            # pointers with one atomic manifest replace
            "generation": 0,
            "tables": {n: n for n in layout.TABLES},
            "params": {
                "docs_per_part": self.docs_per_part,
                "seg_group": self.seg_group,
                "n_term_buckets": self.n_term_buckets,
                "lang_filter": self.lang_filter,
                "n_chunks": self.n_chunks,
                "with_positions": self.with_positions,
                "facet_fields": list(self.facet_fields),
                "stored_fields": list(self.stored_fields),
                "dlen_buckets": self.dlen_buckets,
                "text_fields": list(self.text_fields),
                "fields": self.field_specs,
            },
            "globals": globals_,
            "metrics": {
                "docs_indexed": globals_["n_docs"],
                "postings_emitted": int(metrics_row["postings_emitted"] or 0),
                "bytes_compressed": int(metrics_row["bytes_compressed"] or 0),
                "posting_rows": int(metrics_row["posting_rows"]),
                "n_terms": int(n_terms),
                "n_segments": int(metrics_row["n_segments"]),
            },
            "bm25": {"k1": ib.BM25_K1, "b": ib.BM25_B},
            "validation": self._validation_report,
        }
        layout.save_manifest_atomic(self.out, manifest)
        with open(marker, "w") as f:
            f.write(fp)
        return manifest
