"""spark-submit entry point for the index build (north rule: runs via
``spark-submit --py-files`` on a multi-executor cluster).

Package the library once:
    (cd /root/repo && zip -qr /tmp/engine.zip hail_elasticsearch_pipelines_spark)

Then on a cluster (or local[N] on one machine):
    spark-submit \
        --py-files /tmp/engine.zip,hail_elasticsearch_pipelines_spark/worker/pyspark_fastworker.py \
        --conf spark.python.worker.module=pyspark_fastworker \
        scripts/build_index_job.py \
        --input <parquet path or Iceberg table> --out <index dir> \
        [--lang en] [--chunks 8] [--term-buckets 64] [--extend]

The worker module spares every Python task pyspark's re-read of the zips
on its path (100-250 ms a task on Python 3.11).  --py-files puts it in
each executor's working directory, where the Python daemon finds it; in
local mode add --conf spark.executorEnv.PYTHONPATH=<checkout>/hail_elasticsearch_pipelines_spark/worker.
Without the two extra options pyspark's default worker runs (README,
"Running on a cluster").

The driver process only composes the plan; all heavy work is executor-
side (Arrow UDF partial builds, bucketed shuffle merge).  Re-running
after a failure resumes from per-chunk checkpoints; --extend appends a
new crawl batch to an existing index instead of rebuilding.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or Iceberg table of pages")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--lang", action="append", default=None, help="keep only these langs")
    ap.add_argument("--chunks", type=int, default=1, help="resumable doc-range chunks")
    ap.add_argument("--term-buckets", type=int, default=16)
    ap.add_argument("--seg-group", type=int, default=4)
    ap.add_argument("--docs-per-part", type=int, default=None)
    ap.add_argument("--extend", action="store_true", help="append to an existing index")
    ap.add_argument("--compact", type=int, default=None, metavar="FACTOR")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("fulltext-index-build").getOrCreate()
    from hail_elasticsearch_pipelines_spark.sources.readers import read_pages

    pages = read_pages(spark, args.input)

    if args.compact:
        from hail_elasticsearch_pipelines_spark.plans.maintenance import compact_index

        manifest = compact_index(spark, args.out, factor=args.compact)
    elif args.extend:
        from hail_elasticsearch_pipelines_spark.plans.maintenance import extend_index

        manifest = extend_index(spark, args.out, pages)
    else:
        from hail_elasticsearch_pipelines_spark.operators.index_build import build_index

        manifest = build_index(
            spark,
            pages,
            args.out,
            docs_per_part=args.docs_per_part,
            seg_group=args.seg_group,
            n_term_buckets=args.term_buckets,
            lang_filter=args.lang,
            n_chunks=args.chunks,
        )
    print(json.dumps(manifest["metrics"]))


if __name__ == "__main__":
    main()
