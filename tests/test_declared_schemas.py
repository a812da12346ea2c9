"""Declared table schemas (``build.TABLE_SCHEMAS``): every reader passes
them to ``spark.read.schema``, so a writer that drifts from its declared
schema would read NULLs instead of failing. These tests pin each
writer's output — build_index, build_segment (add and tombstone-only),
compact and add_indexes — to the dict, pin the lexicon's sorted
row-group layout, and pin the driver-side ``lexicon_slice`` (base
index and segmented views) to the Spark lexicon it replaces."""

import glob
import os

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.operators import build as build_mod
from org_rdkit_lucene_spark.operators.build import (
    TABLE_SCHEMAS,
    build_index,
    flat_run_dirs,
)
from org_rdkit_lucene_spark.sources.fixtures import make_corpus_pdf
from org_rdkit_lucene_spark.streaming.incremental import (
    SegmentedIndex,
    add_indexes,
    build_segment,
    compact,
    delete_docs,
    list_segments,
    segments_root,
)

INDEX_TABLES = ("docmap", "docmeta", "lexicon", "postings")


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("schemas")
    pdf = make_corpus_pdf(n_docs=120, seed=5)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=2, hot_term_df=40, n_salts=2)
    base_dir = str(tmp / "base")
    # two terms that only versions killed below carry: "alldeadterm"
    # (docs 11-12, deleted) and "olddeadterm" (docs 0-2, whose updated
    # versions drop it)
    base_pdf = pdf.copy()
    base_pdf.loc[[11, 12], "content"] += " alldeadterm"
    base_pdf.loc[[0, 1, 2], "content"] += " olddeadterm"
    build_index(spark, spark.createDataFrame(base_pdf), cfg, base_dir, id_col="ext_id")
    upd = pdf.iloc[:10].copy()
    upd["content"] = upd["content"] + " schemamarker"
    build_segment(
        spark, spark.createDataFrame(upd),
        os.path.join(segments_root(base_dir), "seg-00000000"), cfg,
    )
    delete_docs(spark, base_dir, [11, 12], cfg)
    view = SegmentedIndex.load(spark, base_dir, cfg)
    compact_dir = str(tmp / "compact")
    compact(spark, base_dir, cfg, compact_dir)
    halves = []
    for i, part in enumerate((pdf.iloc[:60], pdf.iloc[60:])):
        d = str(tmp / f"half{i}")
        build_index(spark, spark.createDataFrame(part), cfg, d, id_col="ext_id")
        halves.append(d)
    merged_dir = str(tmp / "merged")
    add_indexes(spark, halves, cfg, merged_dir)
    # an append-only view: new ids only, so no tombstones
    new = pdf.iloc[60:70].copy()
    new["content"] = new["content"] + " appendonlyterm"
    build_segment(
        spark, spark.createDataFrame(new),
        os.path.join(segments_root(halves[0]), "seg-00000000"), cfg,
    )
    add_seg, del_seg = list_segments(base_dir)
    return {
        "base": base_dir, "add_seg": add_seg, "del_seg": del_seg,
        "compact": compact_dir, "merged": merged_dir, "view": view,
        "append_view": SegmentedIndex.load(spark, halves[0], cfg),
    }


def _fields(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _assert_declared(spark, path: str, table: str, prefix: bool = False):
    """The inferred parquet schema of ``path`` equals the declared one
    (names, order and types). ``prefix``: flat runs carry bookkeeping
    columns (build_part, poss_vb) after the declared flat columns."""
    got = _fields(spark.read.parquet(path).schema)
    want = _fields(StructType.fromDDL(TABLE_SCHEMAS[table]))
    if prefix:
        got = got[: len(want)]
    assert got == want, f"{path}: {got} != declared {table} {want}"


@pytest.mark.parametrize("which", ["base", "compact", "merged"])
def test_index_writers_match_declared_schemas(spark, written, which):
    d = written[which]
    for table in INDEX_TABLES:
        _assert_declared(spark, os.path.join(d, f"{table}.parquet"), table)
    for run in flat_run_dirs(d):
        _assert_declared(spark, run, "flat", prefix=True)
    if which == "base":
        _assert_declared(spark, os.path.join(d, "metrics.parquet"), "metrics")


def test_segment_writers_match_declared_schemas(spark, written):
    seg = written["add_seg"]
    for name, table in [
        ("docmeta", "docmeta"), ("lexicon", "segment_lexicon"),
        ("flat", "flat"), ("postings", "postings"), ("deletes", "deletes"),
    ]:
        _assert_declared(spark, os.path.join(seg, f"{name}.parquet"), table)
    # a tombstone-only segment writes its tombstones and nothing else
    assert sorted(os.listdir(written["del_seg"])) == ["deletes.parquet", "stats.json"]
    _assert_declared(
        spark, os.path.join(written["del_seg"], "deletes.parquet"), "deletes"
    )


@pytest.mark.parametrize("which", ["base", "view", "append_view"])
def test_lexicon_slice_equals_spark_lexicon(spark, written, which):
    """``lexicon_slice`` == the Spark lexicon's rows, idf bit for bit, on
    a base index, a view with tombstones and an append-only view; terms
    cover every merge case: live in base and segments, segment-only,
    every version dead (the row is dropped), unseen."""
    from org_rdkit_lucene_spark.operators.build import InvertedIndex

    index = (
        InvertedIndex.load(spark, written["base"]) if which == "base"
        else written[which]
    )
    if which != "base":
        assert index.segment_dirs and index.has_deletes == (which == "view")
    dead = {"alldeadterm", "olddeadterm"}
    only_seg = {"view": "schemamarker", "append_view": "appendonlyterm"}
    terms = [
        "schemamarker", "appendonlyterm", "merg", "scorer", "index", "absentterm",
        "data", *sorted(dead),
    ]
    for cols in [("term", "df", "cf", "idf"), ("term", "idf")]:
        got = index.lexicon_slice(terms, cols)
        want = (
            index.lexicon.filter(F.col("term").isin(terms))
            .select(*cols)
            .toPandas()
        )
        assert len(got) > 0
        assert "absentterm" not in set(got["term"])
        if which == "base":
            assert dead <= set(got["term"])
        else:
            assert only_seg[which] in set(got["term"])
        if which == "view":
            assert not dead & set(got["term"])
        pd.testing.assert_frame_equal(
            got.sort_values("term").reset_index(drop=True),
            want.sort_values("term").reset_index(drop=True),
            check_exact=True,
        )
    assert len(index.lexicon_slice([], ("term", "df"))) == 0
    assert len(index.lexicon_slice(["absentterm"], ("term", "df"))) == 0


def _term_ranges(index_dir: str) -> list[tuple[str, str]]:
    """(min, max) term of every lexicon row group, from the footers."""
    out = []
    for f in glob.glob(os.path.join(index_dir, "lexicon.parquet", "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        col = meta.schema.names.index("term")
        for i in range(meta.num_row_groups):
            st = meta.row_group(i).column(col).statistics
            out.append((st.min, st.max))
    return sorted(out)


@pytest.mark.parametrize("which", ["base", "compact", "merged"])
def test_lexicon_written_sorted_by_term(written, which):
    """Every lexicon writer sorts by term: row groups cover disjoint
    term ranges, the layout ``lexicon_slice`` prunes on."""
    ranges = _term_ranges(written[which])
    assert ranges
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges


def test_lexicon_slice_reads_only_hit_row_groups(spark, tmp_path, monkeypatch):
    from org_rdkit_lucene_spark.operators.build import InvertedIndex

    monkeypatch.setattr(build_mod, "LEXICON_ROW_GROUP_BYTES", 4096)
    d = str(tmp_path / "idx")
    cfg = IndexConfig(build_partitions=2)
    build_index(spark, spark.createDataFrame(make_corpus_pdf(n_docs=150, seed=7)), cfg, d)
    index = InvertedIndex.load(spark, d, cfg)
    ranges = _term_ranges(d)
    assert len(ranges) > 4, ranges
    read = []
    real = ds.FileSystemDataset

    def spy(groups, *args):
        read.append(len(groups))
        return real(groups, *args)

    monkeypatch.setattr(ds, "FileSystemDataset", spy)
    terms = [ranges[0][0], ranges[-1][1], ranges[len(ranges) // 2][0], "zzabsent"]
    got = index.lexicon_slice(terms)
    assert read == [3]
    want = index.lexicon.filter(F.col("term").isin(terms)).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("term").reset_index(drop=True),
        want.sort_values("term").reset_index(drop=True),
    )
