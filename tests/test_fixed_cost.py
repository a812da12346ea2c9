"""Per-call fixed cost of the query paths on a small base index, and of
the upsert path (segment and delete writers, queries on a segmented
view): the number of Spark jobs a call starts (counted through a
statusTracker job group) and the absence of Python-RDD sources
(``Scan ExistingRDD``) in its executed plan. A Spark job or an idle
Python task costs the same whether it reads one block or none
(CLAUDE.md, fixed costs), so these counts bound the latency floor of
every small query and write."""

import os
import shutil
import uuid

import pandas as pd
import pytest

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.operators import query as query_mod
from org_rdkit_lucene_spark.operators.build import build_index
from org_rdkit_lucene_spark.operators.query import (
    search,
    search_auto,
    search_multi_field,
)
from org_rdkit_lucene_spark.operators.wand import search_wand
from org_rdkit_lucene_spark.sources.fixtures import make_corpus_pdf
from org_rdkit_lucene_spark.streaming.incremental import (
    SegmentedIndex,
    build_segment,
    delete_docs,
    segments_root,
)

ONE_TERM = [(1, "merg", 5)]
UNSEEN = [(1, "zzqqxxunseen", 5)]
EMPTY = [(1, "   ", 5)]


def _jobs(spark, fn):
    """(jobs started, result) of ``fn()`` run inside a fresh job group."""
    sc = spark.sparkContext
    group = f"cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _call(spark, fn):
    """Build and collect ``fn()`` inside a fresh job group; returns
    (jobs started, rows, executed plan). The group covers plan building
    too, so driver-side work that starts jobs is counted."""
    def build_and_collect():
        df = fn()
        return df, df.toPandas()

    jobs, (df, rows) = _jobs(spark, build_and_collect)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return jobs, rows, plan


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


# -- upsert path ---------------------------------------------------------

SEG_QUERY = [(1, "merg scorer", 5)]


@pytest.fixture(scope="module")
def upsert_dirs(spark, tmp_path_factory):
    """One base index, copied twice: ``append`` gains a segment of new
    docs only (no tombstones); ``tomb`` gains an upsert segment (its
    tombstones kill the old versions) and a pure delete, and is then
    copied to ``writes`` for the writer tests. The writers run once each
    here, so the counted calls are warm."""
    tmp = tmp_path_factory.mktemp("cost_upsert")
    pdf = make_corpus_pdf(n_docs=160, seed=13)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=2)
    base = str(tmp / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base, id_col="ext_id")
    dirs = {k: str(tmp / k) for k in ("append", "tomb")}
    for d in dirs.values():
        shutil.copytree(base, d)
    new = pdf.iloc[:10].assign(
        ext_id=range(1000, 1010), path=pdf["path"].iloc[:10] + ".new"
    )
    build_segment(
        spark, spark.createDataFrame(new),
        os.path.join(segments_root(dirs["append"]), "seg-00000000"), cfg,
    )
    upd = pdf.iloc[:10].assign(content=pdf["content"].iloc[:10] + " costmarker")
    build_segment(
        spark, spark.createDataFrame(upd),
        os.path.join(segments_root(dirs["tomb"]), "seg-00000000"), cfg,
    )
    delete_docs(spark, dirs["tomb"], [20, 21], cfg)
    dirs["writes"] = str(tmp / "writes")
    shutil.copytree(dirs["tomb"], dirs["writes"])
    return {"cfg": cfg, "pdf": pdf, **dirs}


def test_build_segment_jobs(spark, upsert_dirs):
    """Segment stats and the uniqueness check ride Observations on the
    docmeta and deletes writes, and the lexicon and postings writes read
    the term-partitioned flat cache without a shuffle (21 jobs before on
    this view, with two aggregation collects and a persist)."""
    cfg, pdf = upsert_dirs["cfg"], upsert_dirs["pdf"]
    upd = pdf.iloc[30:40].assign(content=pdf["content"].iloc[30:40] + " costmarker2")
    seg = os.path.join(segments_root(upsert_dirs["writes"]), "seg-00000001")
    jobs, _ = _jobs(
        spark, lambda: build_segment(spark, spark.createDataFrame(upd), seg, cfg)
    )
    assert jobs <= 12, jobs


def test_delete_docs_jobs(spark, upsert_dirs):
    """One write job for the tombstones, its stats observed on it (6
    jobs before: a persist, an aggregation collect, the write)."""
    jobs, _ = _jobs(
        spark, lambda: delete_docs(spark, upsert_dirs["writes"], [50, 51], upsert_dirs["cfg"])
    )
    assert jobs <= 3, jobs


@pytest.mark.parametrize("which", ["append", "tomb"])
def test_segmented_lexicon_slice_jobs(spark, upsert_dirs, which):
    """Driver-side merge: no job on an append-only view; with tombstones
    one shuffle-free scan of the dead flat rows plus the broadcast of
    the local kill map (5 jobs before, one per AQE query stage)."""
    view = SegmentedIndex.load(spark, upsert_dirs[which], upsert_dirs["cfg"])
    assert view.has_deletes == (which == "tomb")
    terms = ["merg", "scorer", "costmarker", "zzqqxxunseen"]
    view.lexicon_slice(terms)
    jobs, lex = _jobs(spark, lambda: view.lexicon_slice(terms))
    assert "merg" in set(lex["term"])
    assert jobs <= (0 if which == "append" else 2), jobs
    # unseen terms only: nothing to correct, so no job either way
    jobs, lex = _jobs(spark, lambda: view.lexicon_slice(["zzqqxxunseen"]))
    assert len(lex) == 0 and jobs == 0, jobs


@pytest.mark.parametrize("fn, bound", [(search, 5), (search_wand, 7)])
def test_segmented_search_jobs(spark, upsert_dirs, fn, bound):
    """A view with one add segment and tombstones (8 and 10 jobs before
    for ``search`` and ``search_wand``)."""
    view = SegmentedIndex.load(spark, upsert_dirs["tomb"], upsert_dirs["cfg"])
    assert view.has_deletes
    jobs, rows, plan = _warm(spark, lambda: fn(view, SEG_QUERY))
    assert len(rows) == 5
    assert jobs <= bound, jobs
    assert "ExistingRDD" not in plan
