"""CheckIndex analog: a freshly built index passes every invariant
(shallow + deep decode pass); a tampered stats.json is caught."""

import json
import os
import shutil

import pytest

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.operators.build import InvertedIndex, build_index
from org_rdkit_lucene_spark.operators.check import check_index
from org_rdkit_lucene_spark.sources.fixtures import make_corpus_pdf


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chk_idx"))
    corpus = spark.createDataFrame(make_corpus_pdf(n_docs=250, seed=3))
    return build_index(spark, corpus, IndexConfig(build_partitions=4), d)


def test_fresh_index_passes_all_checks(small_index):
    out = check_index(small_index, deep=True)
    failed = out[~out.passed]
    assert failed.empty, failed.to_string()
    # deep mode ran: decode-backed invariants present
    assert {"deep_cf_matches", "deep_docs_monotonic"} <= set(out.check)


def test_tampered_stats_detected(spark, small_index, tmp_path):
    d = str(tmp_path / "tampered")
    shutil.copytree(small_index.index_dir, d)
    p = os.path.join(d, "stats.json")
    stats = json.load(open(p))
    stats["n_docs"] += 7
    stats["total_dl"] += 13
    json.dump(stats, open(p, "w"))
    idx = InvertedIndex.load(spark, d)
    out = check_index(idx).set_index("check")
    assert not out.loc["doc_count", "passed"]
    assert not out.loc["total_dl", "passed"]
    # untampered invariants still pass
    assert out.loc["blocks_ordered", "passed"]


def test_empty_index_reports_instead_of_crashing(spark, small_index, tmp_path):
    """ADVICE r03: zero docmeta rows made min/max aggregate to None and
    the range check raised TypeError — an empty index must yield a
    report, with doc_id_range judged against the stats' emptiness."""
    d = str(tmp_path / "emptied")
    shutil.copytree(small_index.index_dir, d)
    meta = InvertedIndex.load(spark, d).docmeta
    spark.createDataFrame([], meta.schema).write.mode("overwrite").parquet(
        os.path.join(d, "docmeta.parquet")
    )
    p = os.path.join(d, "stats.json")
    stats = json.load(open(p))
    stats.update(n_docs=0, total_dl=0, avgdl=0.0, max_doc_id=-1)
    json.dump(stats, open(p, "w"))
    idx = InvertedIndex.load(spark, d)
    out = check_index(idx).set_index("check")  # must not raise
    assert bool(out.loc["doc_id_range", "passed"])
    # stale docmap/postings vs empty stats: caught, not crashed
    assert not bool(out.loc["doc_count", "passed"])


def test_check_segmented_green_and_detects_tamper(spark, tmp_path):
    """CheckIndex over a segmented view: base pass + per-segment blocks
    + merged invariants (stat arithmetic, one-live-version, tombstone
    reachability, tombstone-corrected lexicon) all pass on a healthy
    upserted index; tampering a segment's stats is caught in that
    segment's block AND in the merged arithmetic."""
    import pandas as pd

    from org_rdkit_lucene_spark.operators.check import check_segmented
    from org_rdkit_lucene_spark.sources.fixtures import make_corpus_pdf
    from org_rdkit_lucene_spark.streaming.incremental import (
        SegmentedIndex,
        build_segment,
        delete_docs,
        segments_root,
    )

    pdf = make_corpus_pdf(n_docs=120, seed=17)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")
    upd = pdf[pdf.ext_id % 15 == 0].copy()
    upd["content"] = upd["content"] + " checkseg probe"
    build_segment(
        spark, spark.createDataFrame(upd),
        os.path.join(segments_root(base_dir), "seg-00000000"), cfg, id_col="ext_id",
    )
    delete_docs(spark, base_dir, [3, 15], cfg)
    seg = SegmentedIndex.load(spark, base_dir, cfg)
    out = check_segmented(seg, deep=True)
    failed = out[~out.passed]
    assert failed.empty, failed.to_string()
    assert any(c.startswith("seg0:") for c in out.check)
    assert any(c.startswith("seg1:") for c in out.check)  # the delete segment
    assert {"merged:one_live_version", "merged:tombstones_reachable",
            "merged:lexicon_matches_live_flat"} <= set(out.check)

    # tamper: inflate the upsert segment's recorded doc count
    segdir = os.path.join(segments_root(base_dir), "seg-00000000")
    p = os.path.join(segdir, "stats.json")
    st = json.load(open(p))
    st["n_docs"] += 3
    json.dump(st, open(p, "w"))
    bad = check_segmented(SegmentedIndex.load(spark, base_dir, cfg)).set_index("check")
    assert not bad.loc["seg0:seg-00000000:doc_count", "passed"]
    assert not bad.loc["merged:doc_count", "passed"]


def test_check_segmented_tombstone_only_segment(spark, tmp_path):
    """A pure delete's segment holds only tombstones and stats: the
    checker gives it the tombstone-count check alone and the merged
    view stays green."""
    from org_rdkit_lucene_spark.operators.check import check_segmented
    from org_rdkit_lucene_spark.streaming.incremental import (
        SegmentedIndex,
        delete_docs,
    )

    pdf = make_corpus_pdf(n_docs=60, seed=19)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=2, hot_term_df=60, n_salts=2)
    base_dir = str(tmp_path / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")
    seg_dir = delete_docs(spark, base_dir, [4, 9, 30], cfg)
    out = check_segmented(SegmentedIndex.load(spark, base_dir, cfg))
    failed = out[~out.passed]
    assert failed.empty, failed.to_string()
    seg_rows = [c for c in out.check if c.startswith("seg0:")]
    assert seg_rows == [f"seg0:{os.path.basename(seg_dir)}:tombstone_count"]
    assert {"merged:doc_count", "merged:tombstones_reachable"} <= set(out.check)


def test_positions_checks_pass_and_detect_tamper(spark, tmp_path):
    """CheckIndex's .prx cross-check analog: a fresh positions artifact
    passes pair/coverage/ascending invariants; a corrupted artifact
    (dropped pair, shuffled list) fails the right rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from org_rdkit_lucene_spark.config import IndexConfig
    from org_rdkit_lucene_spark.operators.build import build_index
    from org_rdkit_lucene_spark.operators.check import check_index
    from org_rdkit_lucene_spark.operators.positions import build_positions
    from org_rdkit_lucene_spark.sources.fixtures import make_corpus_pdf

    pdf = make_corpus_pdf(n_docs=120, seed=11)
    d = str(tmp_path / "pidx")
    cfg = IndexConfig(build_partitions=4, hot_term_df=50, n_salts=2)
    idx = build_index(spark, spark.createDataFrame(pdf), cfg, d)
    build_positions(
        spark, spark.createDataFrame(pdf).withColumn(
            "doc_id", F.monotonically_increasing_id()
        ), d,
    )
    # fresh build: doc ids in build are assigned internally — rebuild
    # positions from the INDEX's own docmap pairing instead
    import shutil

    shutil.rmtree(f"{d}/positions.parquet")
    corpus_ids = spark.createDataFrame(pdf).join(
        idx.docmap, ["repo", "path", "commit"]
    )
    build_positions(spark, corpus_ids, d, content_col="content", id_col="doc_id")
    rep = check_index(idx).set_index("check")
    for c in ("positions_match_flat_tf", "positions_cover_stream",
              "positions_lists_ascending"):
        assert rep.loc[c, "passed"], rep.to_string()

    # tamper: drop one pair and reverse another's list
    pos_dir = f"{d}/positions.parquet"
    rows = [
        (r.term, int(r.doc_id), [int(x) for x in r.poss])
        for r in spark.read.parquet(pos_dir).collect()
    ][1:]  # drop a pair -> tf/coverage break
    for i, (t, did, ps) in enumerate(rows):
        if len(ps) > 1:
            rows[i] = (t, did, list(reversed(ps)))  # break ascending law
            break
    shutil.rmtree(pos_dir)
    spark.createDataFrame(
        rows, "term string, doc_id long, poss array<long>"
    ).write.parquet(pos_dir)
    bad = check_index(idx).set_index("check")
    assert not bad.loc["positions_match_flat_tf", "passed"]
    assert not bad.loc["positions_cover_stream", "passed"]
    assert not bad.loc["positions_lists_ascending", "passed"]
