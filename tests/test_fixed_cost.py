"""Per-call fixed cost of the query paths on a small base index: the
number of Spark jobs a call starts (counted through a statusTracker job
group) and the absence of Python-RDD sources (``Scan ExistingRDD``) in
its executed plan. A Spark job or an idle Python task costs the same
whether it reads one block or none (CLAUDE.md, fixed costs), so these
counts bound the latency floor of every small query."""

import uuid

import pandas as pd
import pytest

from org_rdkit_lucene_spark.operators import query as query_mod
from org_rdkit_lucene_spark.operators.query import (
    search,
    search_auto,
    search_multi_field,
)
from org_rdkit_lucene_spark.operators.wand import search_wand

ONE_TERM = [(1, "merg", 5)]
UNSEEN = [(1, "zzqqxxunseen", 5)]
EMPTY = [(1, "   ", 5)]


def _call(spark, fn):
    """Build and collect ``fn()`` inside a fresh job group; returns
    (jobs started, rows, executed plan). The group covers plan building
    too, so driver-side work that starts jobs is counted."""
    sc = spark.sparkContext
    group = f"cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = fn()
        rows = df.toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows, plan


def _warm(spark, fn):
    _call(spark, fn)  # first call in the session pays one-off set-up
    return _call(spark, fn)


def test_one_term_search_jobs(spark, small_index):
    jobs, rows, plan = _warm(spark, lambda: search(small_index, ONE_TERM))
    assert len(rows) == 5
    assert jobs <= 3, jobs
    assert "ExistingRDD" not in plan


def test_search_wand_jobs(spark, small_index):
    jobs, rows, plan = _warm(spark, lambda: search_wand(small_index, ONE_TERM))
    assert len(rows) == 5
    assert jobs <= 5, jobs
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("route", ["dataframe", "wand"])
def test_search_auto_jobs_no_more_than_its_route(
    spark, small_index, monkeypatch, route
):
    if route == "wand":
        monkeypatch.setattr(query_mod, "WAND_ROUTE_MIN_CANDIDATES", 0)
    path = search if route == "dataframe" else search_wand
    q = [(1, "getIndexValue merg scorer", 5)]
    want_jobs, want, _ = _warm(spark, lambda: path(small_index, q))
    jobs, got, plan = _warm(spark, lambda: search_auto(small_index, q))
    assert jobs <= want_jobs, (jobs, want_jobs)
    assert "ExistingRDD" not in plan
    pd.testing.assert_frame_equal(
        got.sort_values("rank").reset_index(drop=True),
        want.sort_values("rank").reset_index(drop=True),
    )


def test_unseen_term_search_jobs(spark, small_index):
    jobs, rows, plan = _warm(spark, lambda: search(small_index, UNSEEN))
    assert len(rows) == 0
    assert jobs <= 1, jobs
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("queries", [UNSEEN, EMPTY], ids=["unseen", "no_tokens"])
@pytest.mark.parametrize("fn", [search, search_wand, search_auto])
def test_empty_results_have_no_python_rdd(spark, small_index, fn, queries):
    _, rows, plan = _call(spark, lambda: fn(small_index, queries))
    assert len(rows) == 0
    assert list(rows.columns) == ["query_id", "rank", "doc_id", "score_q"]
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("queries", [UNSEEN, EMPTY], ids=["unseen", "no_tokens"])
def test_multi_field_empty_results(spark, small_index, queries):
    """No field yields a scored part (no tokens) or none scores a doc
    (unseen term): an empty result frame either way."""
    _, rows, plan = _call(
        spark, lambda: search_multi_field([(small_index, 1.0)], queries)
    )
    assert len(rows) == 0
    assert list(rows.columns) == ["query_id", "rank", "doc_id", "score_q"]
    assert "ExistingRDD" not in plan
