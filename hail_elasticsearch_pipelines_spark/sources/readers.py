"""Table readers + ingest-side operators.

Reference analogs:
  * `hl.import_vcf` / `hl.read_table` with explicit schemas and
    min_partitions (luigi_pipeline/lib/hail_tasks.py:77-89,
    hail_scripts/v02/utils/hail_utils.py:9-32) → `read_pages` /
    `import_typed_tsv`
  * path-existence fail-fast (luigi_pipeline/seqr_loading.py:16-18,46-56)
    → `check_inputs_exist`
  * `distinct()` before join (write_combined_reference_data_ht.py:278) →
    `dedupe_latest` (latest warc_ts wins, per BASELINE.json)
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


def check_inputs_exist(paths: list[str]) -> None:
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(f"input paths do not exist: {missing}")


# per-core byte threshold for spread_small_scan: inputs estimated under
# target_parallelism × this many bytes are repartitioned.  4 MiB/core is
# far below any at-scale corpus (32 cores → 128 MiB) but far above the
# shuffle cost of redistributing such a small input.
SPREAD_BYTES_PER_CORE = 4 * 1024 * 1024


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive input-skew guard (optimization guide §2.5): a
    compute-heavy operator fed by an unsplittable input (one parquet
    file with one row group — the sandbox testdata shape) gets a 1-task
    scan stage, serializing tokenize/n-gram/hash work on one core no
    matter the cluster size.  Repartition ONLY when the catalyst size
    estimate says the whole input is tiny (under a few MiB per core);
    a real at-scale corpus is untouched, so this never adds a shuffle
    where the data is already spread.  The probe reads the optimized
    plan's statistics — no job, no RDD conversion (df.rdd costs close
    to a second of plan translation per call)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        # private-API probe (py4j into the optimized plan): if a Spark
        # version moves it, skip the spread rather than fail the caller
        log.debug("spread_small_scan: size probe failed, input left as is", exc_info=True)
        return df
    if size >= target * SPREAD_BYTES_PER_CORE:
        return df
    return df.repartition(target)


def read_pages(spark: SparkSession, source: str, min_partitions: int | None = None) -> DataFrame:
    """Read the pages corpus from an Iceberg table name or a parquet path.

    Iceberg is used when the session has a catalog with the table
    (production path per BASELINE.json); parquet is the sandbox
    fallback — same DataFrame either way, Catalyst handles pushdown for
    both."""
    if os.path.exists(source) or source.startswith(("file:", "hdfs:", "s3:")):
        df = spark.read.parquet(source)
    else:
        df = spark.read.table(source)
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def write_pages_partitioned(
    df: DataFrame, path: str, partition_col: str = "crawl_date"
) -> None:
    """Persist a pages corpus hive-partitioned by crawl date — the
    interval-keyed layout behind P9 on the time axis (the reference's
    `hl.filter_intervals`, download_and_create_reference_datasets/v02/
    hail_scripts/write_splice_ai_ht.py:54): a date-bounded read prunes
    whole partition directories, never touching other days' html/text
    bytes.  At crawl scale this is the difference between re-indexing
    one day and scanning the archive."""
    (
        df.withColumn(partition_col, F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_pages_interval(
    spark: SparkSession,
    source: str,
    start_date: str | None = None,
    end_date: str | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """`read_pages` restricted to a crawl-date interval.  On a corpus
    written by write_pages_partitioned the bounds become
    PartitionFilters (directory-level pruning, verified in
    tests/test_extract.py); on an unpartitioned corpus they degrade to
    a row filter on warc_ts — same rows either way."""
    df = read_pages(spark, source, min_partitions=min_partitions)
    date_col = (
        F.col("crawl_date")
        if "crawl_date" in df.columns
        else F.to_date("warc_ts")
    )
    if start_date is not None:
        df = df.filter(date_col >= F.lit(start_date))
    if end_date is not None:
        df = df.filter(date_col < F.lit(end_date))
    return df


def import_typed_tsv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    comment: str = "#",
    null_value: str = ".",
    min_partitions: int | None = None,
) -> DataFrame:
    """`hl.import_table` analog: typed TSV with comment/missing handling."""
    reader = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("comment", comment)
        .option("nullValue", null_value)
    )
    df = reader.csv(path, schema=schema) if schema is not None else reader.option("inferSchema", "true").csv(path)
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def export_tsv(
    df: DataFrame,
    path: str,
    null_value: str = ".",
    header: bool = True,
) -> None:
    """`ht.export` analog (S9): write a TSV with header
    (luigi_pipeline/tests/test_hail_tasks.py:106,116).  Flat columns
    only — flatten structs first (the reference exports flat tables)."""
    (
        df.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", str(header).lower())
        .option("nullValue", null_value)
        .option("emptyValue", "")
        .csv(path)
    )


def seeded_sample(df: DataFrame, fraction: float, seed: int) -> DataFrame:
    """`ht.sample(frac, seed)` analog (A7): seeded Bernoulli sample —
    deterministic for a fixed input partitioning
    (luigi_pipeline/tests/test_hail_tasks.py:67-69)."""
    return df.sample(fraction=fraction, seed=seed)


def dedupe_latest(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    tiebreak: str = "html",
) -> DataFrame:
    """Keep the newest crawl row per key (latest `warc_ts` wins).

    Implemented as `max_by` aggregation (partial-agg/combiner friendly —
    one shuffle, no sort, no window) rather than a row_number window:
    at 10^12 rows the map-side combine collapses duplicate urls before
    the shuffle.  Exact-ts ties break deterministically by
    (length(tiebreak), tiebreak bytes)."""
    payload = F.struct(*[c for c in df.columns if c != key])
    order = F.struct(
        F.col(ts), F.length(tiebreak).alias("_sz"), F.col(tiebreak).alias("_tb")
    )
    out = df.groupBy(key).agg(F.max_by(payload, order).alias("_row"))
    return out.select(key, "_row.*")


def dedupe_and_assign_ids(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    tiebreak: str = "text",
    num_partitions: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fused dedupe_latest + assign_dense_ids over ONE full-corpus
    shuffle: range-partitioning by `key` satisfies the groupBy's
    clustering requirement, so the max_by dedupe aggregates WITHOUT a
    second exchange and ids are assigned in the same partitions.  Output
    is row-identical to dedupe_latest → assign_dense_ids (tested), which
    move the corpus text across the network twice."""
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(num_partitions, key)
    payload = F.struct(*[c for c in df.columns if c != key])
    order = F.struct(
        F.col(ts), F.length(tiebreak).alias("_sz"), F.col(tiebreak).alias("_tb")
    )
    deduped = (
        ranged.groupBy(key)
        .agg(F.max_by(payload, order).alias("_row"))
        .select(key, "_row.*")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    return _offset_ids(deduped, key, id_col)


def _offset_ids(with_pid: DataFrame, key: str, id_col: str) -> DataFrame:
    """Second pass of dense-id assignment: per-partition counts (a
    P-row collect) → global offsets, then id = offset + local row index.

    The local index comes from monotonically_increasing_id AFTER a
    sortWithinPartitions — its low 33 bits are exactly the row position
    within the partition.  This keeps the pass exchange-free: the
    row_number()-over-Window formulation used previously forced a
    hashpartitioning(_pid) exchange — a full-corpus shuffle that moved
    every byte once more for nothing."""
    spark = with_pid.sparkSession
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], schema="_pid int, _offset long")
    )
    mid = F.monotonically_increasing_id()
    return (
        with_pid.sortWithinPartitions(key)
        .withColumn("_local", mid.bitwiseAND(F.lit((1 << 33) - 1)))
        .join(off_df, "_pid")
        .withColumn(id_col, (F.col("_offset") + F.col("_local")).cast("long"))
        .drop("_pid", "_offset", "_local")
    )


def assign_dense_ids(
    df: DataFrame,
    key: str = "url",
    num_partitions: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic dense 0..N-1 ids in global `key` order, without any
    single-partition bottleneck or driver collect of data rows.

    Two-pass scheme (the scalable zipWithIndex): range-partition by key,
    count rows per range partition (a P-row driver collect), then
    id = partition_offset + (row_number within partition ordered by key).
    Range partitions are ordered by key, so the result is the global
    rank regardless of where the sampled range boundaries fall.

    Reference analog: docId assignment at export
    (luigi_pipeline/lib/model/seqr_mt_schema.py:71-73) — but theirs is a
    content-derived string; ours must be dense ints for delta-encoded
    posting lists."""
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(num_partitions, key)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # NOTE: `ranged` stays persisted until the caller materializes the
    # output (callers checkpoint to parquet immediately); unpersisting
    # earlier would re-trigger range sampling for the second pass.
    # Blocks are freed by the caller's session-level cache cleanup.
    return _offset_ids(ranged, key, id_col)
