"""Distributed query plan shape: Spark jobs per call, and the driver-side
termdict reads those counts rest on (global df, term expansion and facet
vocabulary come from the searcher's pinned termdict, never from a Spark
scan).  Every query is one plan-only job of worker tasks
(IndexSearcher._tasks): lazy for scoring calls and matched_ids, run at
call time and reduced on the driver for the others."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest

from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import term_bucket


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    index_dir, _ = small_index
    return IndexSearcher(spark, index_dir)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "query job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Upper bounds per call; test_scoring_jobs_per_call pins the scoring
# calls (search_many included) at their scatter counts and
# test_reduced_jobs_per_call pins the reduced calls (search_facets
# included) at their one gather job.
@pytest.mark.parametrize(
    "name, call, max_jobs",
    [
        ("or", lambda s: s.search(["the", "term0042"], "OR", 10).collect(), 2),
        ("and", lambda s: s.search(["the", "of"], "AND", 10).collect(), 2),
        ("bool", lambda s: s.search_bool("the AND (of OR term0042)", k=10).collect(), 2),
        (
            "many",
            lambda s: s.search_many(
                [
                    {"query_id": "a", "terms": ["the", "term0042"], "mode": "OR", "k": 5},
                    {"query_id": "b", "mode": "BOOL", "query": "the AND of", "k": 5},
                ]
            ).collect(),
            3,
        ),
        ("range", lambda s: s.search_range(["the"], "doc_len", 50, 500, k=7).collect(), 4),
        ("page", lambda s: s.search_page(["the", "of"], "OR", 5, after=(1.0, 3)).collect(), 2),
        ("fielded", lambda s: s.search_fielded(["the", "of"], k=5, mode="BEST").collect(), 2),
        (
            "bool_range",
            lambda s: s.search_bool(
                "the AND warc_ts:[2025-01-20T00:00:00 TO *]", k=10
            ).collect(),
            4,
        ),
        ("global_dfs", lambda s: s.global_dfs(["the", "of", "term0042"]), 0),
        # term expansion, facet vocabulary and suggest ranking are
        # driver-side termdict reads: only the scoring jobs remain
        (
            "expand",
            lambda s: (
                s.expand_prefix("term004"),
                s.expand_fuzzy("term0042"),
                s.expand_regexp("term00[0-4]."),
            ),
            0,
        ),
        ("prefix", lambda s: s.search_prefix("term004", k=10).collect(), 2),
        ("fuzzy", lambda s: s.search_fuzzy("term0042", k=10).collect(), 2),
        ("regexp", lambda s: s.search_regexp("term004.", k=10).collect(), 2),
        ("bool_wildcard", lambda s: s.search_bool("the AND term004*", k=10).collect(), 2),
        ("suggest", lambda s: s.suggest_terms("term00", size=5).collect(), 1),
        ("facets", lambda s: s.search_facets(["the", "of"], ["lang"]).collect(), 5),
    ],
)
def test_jobs_per_call(spark, searcher, name, call, max_jobs):
    call(searcher)  # warm: first calls may plan extra jobs (schema reads)
    n = _jobs(spark, f"qjobs_{name}", lambda: call(searcher))
    assert n <= max_jobs, f"{name}: {n} Spark jobs > {max_jobs}"


# Scoring calls: one scatter job (a batch is one gather job).
SCORING_CALLS = {
    "or": (lambda s: s.search(["the", "term0042"], "OR", 10).collect(), 1),
    "and": (lambda s: s.search(["the", "of"], "AND", 10).collect(), 1),
    "bool": (lambda s: s.search_bool("the AND (of OR term0042)", k=10).collect(), 1),
    "page": (lambda s: s.search_page(["the", "of"], "OR", 5, after=(1.0, 3)).collect(), 1),
    "fielded": (lambda s: s.search_fielded(["the", "of"], k=5, mode="BEST").collect(), 1),
    "prefix": (lambda s: s.search_prefix("term004", k=10).collect(), 1),
    "fuzzy": (lambda s: s.search_fuzzy("term0042", k=10).collect(), 1),
    "regexp": (lambda s: s.search_regexp("term004.", k=10).collect(), 1),
    "bool_wildcard": (lambda s: s.search_bool("the AND term004*", k=10).collect(), 1),
    "bool_range": (
        lambda s: s.search_bool("the AND warc_ts:[2025-01-20T00:00:00 TO *]", k=10).collect(),
        1,
    ),
    "many": (
        lambda s: s.search_many(
            [
                {"query_id": "a", "terms": ["the", "term0042"], "mode": "OR", "k": 5},
                {"query_id": "b", "mode": "BOOL", "query": "the AND of", "k": 5},
                {
                    "query_id": "c", "mode": "BOOL", "k": 5,
                    "query": "the AND warc_ts:[2025-01-20T00:00:00 TO *]",
                },
            ]
        ).collect(),
        1,
    ),
}


@pytest.mark.parametrize("name", sorted(SCORING_CALLS))
def test_scoring_jobs_per_call(spark, searcher, name):
    call, max_jobs = SCORING_CALLS[name]
    call(searcher)
    n = _jobs(spark, f"scoring_{name}", lambda: call(searcher))
    assert n <= max_jobs, f"{name}: {n} Spark jobs > {max_jobs}"


RANGE = "the AND doc_len:[1 TO 300]"

# Reduced calls: one gather job of worker tasks (IndexSearcher._gather),
# reduced on the driver into a DataFrame over a local relation, whose
# collect runs no job; matched_ids stays a lazy scatter of id rows, so
# its count is the scatter plus the count's own aggregation.
REDUCED_CALLS = {
    "phrase": (lambda s: s.search_phrase(["of", "the"], k=10).collect(), 1),
    "phrase_prefix": (lambda s: s.search_phrase_prefix(["the", "term004"], k=10).collect(), 1),
    "span_first": (lambda s: s.search_span_first("the", 5, k=10).collect(), 1),
    "rescore": (lambda s: s.search_rescore(["the"], ["of", "the"], 10, 40).collect(), 1),
    "many_phrase": (
        lambda s: s.search_many(
            [
                {"query_id": "a", "terms": ["the", "term0042"], "mode": "OR", "k": 5},
                {"query_id": "b", "mode": "BOOL", "query": RANGE, "k": 5},
                {"query_id": "p", "mode": "PHRASE", "phrase": ["of", "the"], "k": 5},
            ]
        ).collect(),
        1,
    ),
    "count": (lambda s: s.search_count(["the", "of"], "OR").collect(), 1),
    "count_range": (lambda s: s.search_count(RANGE, "BOOL").collect(), 1),
    "stats": (lambda s: s.search_stats(["the", "of"], "OR").collect(), 1),
    "histogram": (lambda s: s.search_histogram(["the", "of"], 32, "OR").collect(), 1),
    "facets": (lambda s: s.search_facets(["the", "of"], ["lang"]).collect(), 1),
    "filters": (lambda s: s.search_filters({"a": "the AND of", "r": RANGE}).collect(), 1),
    "adjacency": (
        lambda s: s.search_adjacency({"a": "the AND of", "b": "term0042"}).collect(),
        1,
    ),
    "matched_ids_range": (lambda s: s.matched_ids(RANGE, "BOOL").count(), 2),
}


@pytest.mark.parametrize("name", sorted(REDUCED_CALLS))
def test_reduced_jobs_per_call(spark, searcher, name):
    call, max_jobs = REDUCED_CALLS[name]
    call(searcher)
    n = _jobs(spark, f"reduced_{name}", lambda: call(searcher))
    assert n <= max_jobs, f"{name}: {n} Spark jobs > {max_jobs}"


# Answers built on the driver from termdict reads are local relations:
# building and collecting them runs no Spark job.
LOCAL_ANSWERS = {
    "suggest_terms": lambda s: s.suggest_terms("term00", size=5).collect(),
    "suggest_phrase": lambda s: s.suggest_phrase("teh term0042", size=3).collect(),
    "prefix_empty": lambda s: s.search_prefix("zzzznothing", k=10).collect(),
}


@pytest.mark.parametrize("name", sorted(LOCAL_ANSWERS))
def test_local_answers_run_no_job(spark, searcher, name):
    call = LOCAL_ANSWERS[name]
    call(searcher)
    n = _jobs(spark, f"local_{name}", lambda: call(searcher))
    assert n == 0, f"{name}: {n} Spark jobs"


def test_search_collect_is_one_stage_without_shuffle(spark, searcher):
    """A search collect is one job of one stage over no scanned data:
    the plan has no Exchange and no file scan, only the scatter's rows."""
    sc = spark.sparkContext
    df = searcher.search(["the", "term0042"], "OR", 10)
    df.collect()
    sc.setJobGroup("one_stage", "scatter shape probe")
    try:
        df.collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("one_stage")
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "FileScan" not in plan, plan


@pytest.fixture(scope="module")
def corrupt_index(small_index, tmp_path_factory):
    """A copy of the small index whose termdict lost the row of a term
    that still has postings rows."""
    src, _ = small_index
    out = str(tmp_path_factory.mktemp("corrupt") / "idx")
    shutil.copytree(src, out)
    victim = "term0042"
    manifest = load_manifest(out)
    bucket_dir = os.path.join(
        table_path(out, "termdict", manifest),
        f"term_bucket={term_bucket(victim, manifest['params']['n_term_buckets'])}",
    )
    rewritten = 0
    for f in glob.glob(os.path.join(bucket_dir, "*.parquet")):
        tbl = pq.read_table(f)
        keep = [t != victim for t in tbl.column("term").to_pylist()]
        rewritten += len(keep) - sum(keep)
        pq.write_table(tbl.filter(keep), f)
        crc = os.path.join(bucket_dir, f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):  # Hadoop's checksum of the old bytes
            os.remove(crc)
    assert rewritten == 1
    return out, victim


def _corrupt_calls(victim):
    """Queries touching the term: OR, exhaustive, AND, the term alone,
    bool and range-filtered."""
    return (
        lambda s: s.search([victim, "the"], "OR", 10),
        lambda s: s.search([victim, "the"], "OR", 10, algo="exhaustive"),
        lambda s: s.search([victim, "the"], "AND", 10),
        lambda s: s.search([victim], "OR", 10),
        lambda s: s.search_bool(f"the OR {victim}", k=10),
        lambda s: s.search_range([victim], "doc_len", 0, 10**6, k=5),
    )


def test_postings_term_without_termdict_row_raises(spark, corrupt_index):
    """A postings row whose term has no termdict row is a corrupt index:
    the query must fail naming the term, not drop that term's docs or
    score it with df 0."""
    out, victim = corrupt_index
    s = IndexSearcher(spark, out)
    assert victim not in s.global_dfs([victim, "the"])
    for run in _corrupt_calls(victim):
        with pytest.raises(Exception, match=f"corrupt index.*{victim}"):
            run(s).collect()


def test_postings_term_without_termdict_row_raises_local(corrupt_index):
    """The same corrupt index fails the same way on LocalSearcher (which
    runs every distributed scoring task), whatever the query would
    otherwise return."""
    from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher

    out, victim = corrupt_index
    s = LocalSearcher(out)
    for run in _corrupt_calls(victim):
        with pytest.raises(ValueError, match=f"corrupt index.*{victim}"):
            run(s)
