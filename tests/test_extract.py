"""Byte-identical HTML→text extraction (BASELINE.json per-row invariant).

Reference analog: deterministic dummy-annotator tests
(tests/model/test_seqr_mt_schema.py against VEP_DATA)."""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from hail_elasticsearch_pipelines_spark.functions.extract import (
    extract_text_udf,
    extracted_text_col,
    py_extract_text,
)

RULE_CASES = [
    ("<p>hello</p>", "hello"),
    ("<html><body>a  b</body></html>", "a b"),
    ("<script>var x = '<p>not text</p>';</script>visible", "visible"),
    ("<style>p { color: red }</style>styled", "styled"),
    ("<!-- comment -->after", "after"),
    ("a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end", "a&b <tag> \"q\" 's' end"),
    ("&amp;lt;stays-encoded&amp;gt;", "&lt;stays-encoded&gt;"),
    ("<div><span>nested</span> <b>tags</b></div>", "nested tags"),
    ("", ""),
    ("no tags at all", "no tags at all"),
    ("<p>multi\n\nline\twhitespace</p>", "multi line whitespace"),
    ("<SCRIPT>UPPER.case()</SCRIPT>kept", "kept"),
]


def test_extraction_rules():
    for html, expected in RULE_CASES:
        assert py_extract_text(html) == expected, html
        assert py_extract_text(html.encode("utf-8")) == expected


def test_none_and_bytes():
    assert py_extract_text(None) == ""
    assert py_extract_text(b"<p>bytes</p>") == "bytes"


def test_udf_matches_pure_function(spark, small_pages_pdf):
    # key by (url, sha256(html)): recrawled urls appear twice with
    # different html, and each row must extract byte-identically
    df = spark.createDataFrame(small_pages_pdf[["url", "html"]])
    got = {
        (r["url"], hashlib.sha256(bytes(r["html"])).hexdigest()): r["t"]
        for r in df.select("url", "html", extract_text_udf("html").alias("t")).collect()
    }
    # byte-identical per url (sha256, FIXTURES.md F5)
    for _, row in small_pages_pdf.iterrows():
        expected = py_extract_text(row["html"])
        key = (row["url"], hashlib.sha256(bytes(row["html"])).hexdigest())
        assert got[key] == expected
        assert (
            hashlib.sha256(got[key].encode()).hexdigest()
            == hashlib.sha256(expected.encode()).hexdigest()
        )


def test_null_text_fallback(spark, small_pages_pdf):
    df = spark.createDataFrame(small_pages_pdf)
    nulls = small_pages_pdf[small_pages_pdf["text"].isna()]
    assert len(nulls) > 0, "fixture must contain null-text rows"
    got = {
        (r["url"], hashlib.sha256(bytes(r["html"])).hexdigest()): r["t"]
        for r in df.select("url", "html", extracted_text_col("text", "html").alias("t")).collect()
    }
    for _, row in nulls.iterrows():
        key = (row["url"], hashlib.sha256(bytes(row["html"])).hexdigest())
        assert got[key] == py_extract_text(row["html"])
    assert not any(v is None for v in got.values())


def test_export_tsv_roundtrip(spark, tmp_path):
    """S9: ht.export analog — TSV with header round-trips through the
    typed importer (test_hail_tasks.py:106,116 analog)."""
    from pyspark.sql import types as T

    from hail_elasticsearch_pipelines_spark.sources.readers import (
        export_tsv,
        import_typed_tsv,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = [(1, "alpha", 0.5), (2, None, 2.25), (3, "gamma", None)]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "out_tsv")
    export_tsv(df, path)
    back = import_typed_tsv(spark, path, schema=schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_seeded_sample_deterministic(spark):
    """A7: seeded Bernoulli sample is reproducible for a fixed input."""
    from hail_elasticsearch_pipelines_spark.sources.readers import seeded_sample

    df = spark.range(0, 2000, numPartitions=4)
    a = sorted(r["id"] for r in seeded_sample(df, 0.25, seed=5).collect())
    b = sorted(r["id"] for r in seeded_sample(df, 0.25, seed=5).collect())
    c = sorted(r["id"] for r in seeded_sample(df, 0.25, seed=6).collect())
    assert a == b
    assert 300 < len(a) < 700
    assert a != c


def test_partitioned_corpus_read_prunes_by_crawl_date(spark, tmp_path):
    """P9 on the time axis: a crawl_date-bounded read of a
    date-partitioned corpus must prune at the PARTITION level (the
    explain plan carries non-empty PartitionFilters and only the
    matching date directories' files are read) — the reference's
    hl.filter_intervals analog (write_splice_ai_ht.py:54)."""
    import io
    from contextlib import redirect_stdout

    from hail_elasticsearch_pipelines_spark.sources.corpus import pages_df
    from hail_elasticsearch_pipelines_spark.sources.readers import (
        read_pages_interval,
        write_pages_partitioned,
    )

    path = str(tmp_path / "pages_by_date")
    # 137 s per doc index → ~5 distinct crawl dates over 3000 docs
    write_pages_partitioned(pages_df(spark, 3000, 4), path)
    all_df = read_pages_interval(spark, path)
    dates = sorted(
        r["crawl_date"].isoformat()
        for r in all_df.select("crawl_date").distinct().collect()
    )
    assert len(dates) >= 3
    lo, hi = dates[1], dates[2]
    pruned = read_pages_interval(spark, path, start_date=lo, end_date=hi)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "crawl_date" in pf and ">=" in pf  # non-empty, carries bounds
    # the date bounds were consumed ENTIRELY at the partition level:
    # no residual per-row DataFilters remain in the scan
    exec_plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in exec_plan.splitlines() if "DataFilters" in ln][0]
    assert "DataFilters: []" in scan
    # and the rows are exactly the interval
    got = pruned.select("crawl_date").distinct().collect()
    assert [r["crawl_date"].isoformat() for r in got] == [lo]


def test_spread_small_scan_logs_failed_size_probe(spark, monkeypatch, caplog):
    """The size probe goes through Spark's private plan API; when it
    raises, the input comes back unchanged and the failure is logged
    at debug level instead of vanishing."""
    import logging

    from hail_elasticsearch_pipelines_spark.sources import readers

    df = spark.range(3)

    class _BrokenJdf:
        def queryExecution(self):
            raise RuntimeError("plan API moved")

    monkeypatch.setattr(df, "_jdf", _BrokenJdf())
    with caplog.at_level(logging.DEBUG, logger=readers.__name__):
        assert readers.spread_small_scan(df) is df
    (rec,) = [r for r in caplog.records if r.name == readers.__name__]
    assert rec.levelno == logging.DEBUG and "size probe failed" in rec.getMessage()
    assert "plan API moved" in str(rec.exc_info[1])
