"""B1 upsert parity (delete-then-add, ChemicalIndex.java:801): a
streamed segment that UPDATES existing docs and a pure-delete segment
must leave the segmented view rank- AND score-identical to a
from-scratch rebuild over the updated corpus, on both query paths;
compaction must fold segments + tombstones into an index byte-identical
to that rebuild."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.operators.build import build_index
from org_rdkit_lucene_spark.operators.query import hit_counts, search
from org_rdkit_lucene_spark.operators.wand import search_wand
from org_rdkit_lucene_spark.sources.fixtures import make_corpus_pdf
from org_rdkit_lucene_spark.streaming.incremental import (
    SegmentedIndex,
    build_segment,
    compact,
    delete_docs,
    list_segments,
    segments_root,
)

QUERIES = [
    (1, "getIndexValue merg scorer", 10),
    (2, "token pars hash", 10),
    (3, "upsertmarker probe", 10),
    (4, "main data", 7),
]

UPDATED_IDS = list(range(0, 200, 10))  # 20 of the 200 base docs
NEW_IDS = list(range(400, 420))
DELETED_IDS = [5, 17, 400]  # two base docs + one streamed-in doc


@pytest.fixture(scope="module")
def upsert_setup(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("upsert")
    pdf = make_corpus_pdf(n_docs=200, seed=11)
    pdf.insert(0, "ext_id", range(len(pdf)))

    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    base = build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")
    assert base is not None

    # batch 0: update 20 existing docs (same ids, new content) + add 20 new
    upd = pdf[pdf.ext_id.isin(UPDATED_IDS)].copy()
    upd["content"] = upd["content"] + " upsertmarker probe"
    new = pdf.iloc[:20].copy()
    new["ext_id"] = NEW_IDS
    new["path"] = new["path"] + ".new"
    new["content"] = new["content"] + " upsertmarker fresh"
    batch = pd.concat([upd, new], ignore_index=True)
    seg0 = os.path.join(segments_root(base_dir), "seg-00000000")
    build_segment(spark, spark.createDataFrame(batch), seg0, cfg, id_col="ext_id")

    # pure delete on top
    delete_docs(spark, base_dir, DELETED_IDS, cfg)

    seg = SegmentedIndex.load(spark, base_dir, cfg)

    # the truth: rebuild from scratch over the updated corpus
    final = pd.concat(
        [pdf[~pdf.ext_id.isin(UPDATED_IDS)], upd, new], ignore_index=True
    )
    final = final[~final.ext_id.isin(DELETED_IDS)]
    full = build_index(
        spark, spark.createDataFrame(final), cfg, str(tmp / "full"), id_col="ext_id"
    )
    return {"seg": seg, "full": full, "base_dir": base_dir, "cfg": cfg,
            "tmp": tmp, "spark": spark, "final_pdf": final}


def _sorted(df) -> pd.DataFrame:
    p = df.toPandas()
    return p.sort_values(list(p.columns)).reset_index(drop=True)


def test_merged_stats_exact(upsert_setup):
    seg, full = upsert_setup["seg"], upsert_setup["full"]
    assert seg.has_deletes
    assert seg.n_docs == full.n_docs
    assert seg.total_dl == full.total_dl
    assert seg.avgdl == full.avgdl  # bit-exact: both are total_dl / n


def test_docmeta_live_view(upsert_setup):
    seg, full = upsert_setup["seg"], upsert_setup["full"]
    a = _sorted(seg.docmeta.select("doc_id", "sha256", "doc_len"))
    b = _sorted(full.docmeta.select("doc_id", "sha256", "doc_len"))
    pd.testing.assert_frame_equal(a, b)
    # deleted ids gone; updated ids carry the NEW content hash
    live_ids = set(a["doc_id"])
    assert not live_ids & set(DELETED_IDS)
    assert set(NEW_IDS) - set(DELETED_IDS) <= live_ids


def test_lexicon_tombstone_correction(upsert_setup):
    """df/cf must subtract the dead versions' contributions — unlike
    Lucene's stale-until-merge docFreq, the merged stats are exact."""
    seg, full = upsert_setup["seg"], upsert_setup["full"]
    a = _sorted(seg.lexicon.select("term", "df", "cf", "idf"))
    b = _sorted(full.lexicon.select("term", "df", "cf", "idf"))
    pd.testing.assert_frame_equal(a, b)


def test_search_rank_identical_to_rebuild(upsert_setup):
    seg, full = upsert_setup["seg"], upsert_setup["full"]
    a = _sorted(search(seg, QUERIES, mode="disjunctive"))
    b = _sorted(search(full, QUERIES, mode="disjunctive"))
    pd.testing.assert_frame_equal(a, b)
    ac = _sorted(search(seg, QUERIES[:3], mode="conjunctive"))
    bc = _sorted(search(full, QUERIES[:3], mode="conjunctive"))
    pd.testing.assert_frame_equal(ac, bc)


def test_wand_rank_identical_to_rebuild(upsert_setup):
    seg, full = upsert_setup["seg"], upsert_setup["full"]
    a = _sorted(search_wand(seg, QUERIES, mode="disjunctive"))
    b = _sorted(search_wand(full, QUERIES, mode="disjunctive"))
    pd.testing.assert_frame_equal(a, b)
    c = _sorted(search(seg, QUERIES, mode="disjunctive"))
    pd.testing.assert_frame_equal(a, c)


def test_hit_counts_exclude_dead_versions(upsert_setup):
    seg, full = upsert_setup["seg"], upsert_setup["full"]
    pd.testing.assert_frame_equal(
        _sorted(hit_counts(seg, QUERIES)), _sorted(hit_counts(full, QUERIES))
    )


def test_updated_doc_found_under_new_content_only(upsert_setup):
    """The requery contract: after the upsert, the marker query returns
    the updated docs; a doc's OLD version never surfaces twice."""
    seg = upsert_setup["seg"]
    res = search(seg, [(9, "upsertmarker", 100)]).toPandas()
    expect = (set(UPDATED_IDS) | set(NEW_IDS)) - set(DELETED_IDS)
    assert set(res["doc_id"]) == expect
    assert res["doc_id"].is_unique


def test_dead_versions_law():
    """The one kill law both decode kernels share, against a per-posting
    loop: a tombstone from ordinal j kills versions with ordinal < j."""
    import numpy as np

    from org_rdkit_lucene_spark.operators.query import dead_versions

    rng = np.random.default_rng(5)
    kill_ids = np.unique(rng.integers(0, 60, 25))
    kill = (kill_ids, rng.integers(1, 4, len(kill_ids)))
    docs = rng.integers(0, 70, 400)
    ords = rng.integers(0, 4, 400)
    ko = dict(zip(kill[0].tolist(), kill[1].tolist()))
    want = [d in ko and o < ko[d] for d, o in zip(docs.tolist(), ords.tolist())]
    assert dead_versions(kill, docs, ords).tolist() == want
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    assert not dead_versions(empty, docs, ords).any()


def _table_sources(df, base_dir: str) -> set[tuple[str, ...]]:
    """(owner, table) of every file a DataFrame scans: owner is "base"
    or a segment dir name."""
    out = set()
    for f in df.inputFiles():
        rel = os.path.relpath(f.removeprefix("file:"), base_dir).split(os.sep)
        out.add(tuple(rel[1:3]) if rel[0] == "segments" else ("base", rel[0]))
    return out


def test_pure_delete_segment_is_tombstone_only(upsert_setup):
    """A pure delete writes only its tombstones and stats; the merged
    tables scan the base plus the add-carrying segments and nothing of
    the delete segment; the view reads deletes.parquet once, so a second
    query runs with the tombstone files gone."""
    spark, cfg, base_dir = (
        upsert_setup["spark"], upsert_setup["cfg"], upsert_setup["base_dir"]
    )
    add_seg, del_seg = list_segments(base_dir)
    assert sorted(os.listdir(del_seg)) == ["deletes.parquet", "stats.json"]

    view = SegmentedIndex.load(spark, base_dir, cfg)
    add_name, del_name = os.path.basename(add_seg), os.path.basename(del_seg)
    for table in ("postings", "docmeta", "lexicon"):
        src = _table_sources(getattr(view, table), base_dir)
        assert {o for o, t in src if t == f"{table}.parquet"} == {"base", add_name}
        assert all(o != del_name for o, _ in src)

    first = _sorted(search(view, QUERIES, mode="disjunctive"))
    moved = []
    try:
        for d in (add_seg, del_seg):
            src = os.path.join(d, "deletes.parquet")
            os.rename(src, src + ".away")
            moved.append(src)
        second = _sorted(search(view, QUERIES, mode="disjunctive"))
    finally:
        for src in moved:
            os.rename(src + ".away", src)
    pd.testing.assert_frame_equal(first, second)


def test_segment_replay_idempotent(upsert_setup):
    """Re-running build_segment for the same seg dir (crash-replay of a
    foreachBatch) must not change the live view."""
    spark, cfg = upsert_setup["spark"], upsert_setup["cfg"]
    seg = upsert_setup["seg"]
    before = _sorted(search(seg, QUERIES, mode="disjunctive"))
    pdf = make_corpus_pdf(n_docs=200, seed=11)
    pdf.insert(0, "ext_id", range(len(pdf)))
    upd = pdf[pdf.ext_id.isin(UPDATED_IDS)].copy()
    upd["content"] = upd["content"] + " upsertmarker probe"
    new = pdf.iloc[:20].copy()
    new["ext_id"] = NEW_IDS
    new["path"] = new["path"] + ".new"
    new["content"] = new["content"] + " upsertmarker fresh"
    batch = pd.concat([upd, new], ignore_index=True)
    seg0 = os.path.join(segments_root(upsert_setup["base_dir"]), "seg-00000000")
    build_segment(spark, spark.createDataFrame(batch), seg0, cfg, id_col="ext_id")
    seg2 = SegmentedIndex.load(spark, upsert_setup["base_dir"], cfg)
    after = _sorted(search(seg2, QUERIES, mode="disjunctive"))
    pd.testing.assert_frame_equal(before, after)


def test_duplicate_ids_within_batch_rejected(upsert_setup):
    spark, cfg = upsert_setup["spark"], upsert_setup["cfg"]
    pdf = make_corpus_pdf(n_docs=4, seed=3)
    pdf.insert(0, "ext_id", [900, 900, 901, 902])
    with pytest.raises(ValueError, match="not unique"):
        build_segment(
            spark,
            spark.createDataFrame(pdf),
            str(upsert_setup["tmp"] / "segdup"),
            cfg,
            id_col="ext_id",
            base_index_dir=upsert_setup["base_dir"],
        )


def test_compaction_byte_identical_to_rebuild(upsert_setup):
    """compact() folds segments + tombstones into a monolithic index
    whose postings/lexicon/docmeta are BYTE-identical to the
    from-scratch rebuild (live_flat reproduces the rebuild's flat rows;
    stage 3/4 encoding is deterministic)."""
    spark, cfg = upsert_setup["spark"], upsert_setup["cfg"]
    full = upsert_setup["full"]
    out = str(upsert_setup["tmp"] / "compacted")
    comp = compact(spark, upsert_setup["base_dir"], cfg, out)
    assert (comp.n_docs, comp.total_dl, comp.max_doc_id) == (
        full.n_docs, full.total_dl, full.max_doc_id
    )
    a = comp.postings.toPandas().sort_values(["term", "block_id"]).reset_index(drop=True)
    b = full.postings.toPandas().sort_values(["term", "block_id"]).reset_index(drop=True)
    for c in ("doc_bytes", "tf_bytes", "dl_bytes"):
        a[c] = a[c].map(bytes)
        b[c] = b[c].map(bytes)
    pd.testing.assert_frame_equal(a, b)
    la = _sorted(comp.lexicon.select("term", "df", "cf", "idf"))
    lb = _sorted(full.lexicon.select("term", "df", "cf", "idf"))
    pd.testing.assert_frame_equal(la, lb)
    ra = _sorted(search(comp, QUERIES, mode="disjunctive"))
    rb = _sorted(search(full, QUERIES, mode="disjunctive"))
    pd.testing.assert_frame_equal(ra, rb)


def test_natural_key_upsert_resolves_ids(spark, tmp_path_factory):
    """id_col=None: the batch carries NO external id; known
    (repo, path, commit) keys keep their doc_id (update), unseen keys
    get fresh deterministic ids above max_doc_id; rank identity with a
    rebuild over the updated corpus using the engine-assigned ids."""
    tmp = tmp_path_factory.mktemp("nk_upsert")
    pdf = make_corpus_pdf(n_docs=100, seed=19)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    base = build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")
    assert base is not None

    upd = pdf[pdf.ext_id < 10].copy()
    upd["content"] = upd["content"] + " nkmarker probe"
    new = pdf.iloc[:5].copy()
    new["path"] = new["path"] + ".brandnew"
    new["content"] = new["content"] + " nkmarker fresh"
    batch = pd.concat([upd, new], ignore_index=True).drop(columns=["ext_id"])
    seg0 = os.path.join(segments_root(base_dir), "seg-00000000")
    build_segment(spark, spark.createDataFrame(batch), seg0, cfg, id_col=None)

    seg = SegmentedIndex.load(spark, base_dir, cfg)
    dm = seg.docmeta.select("doc_id", "path").toPandas()
    # updated keys kept their original ids
    upd_ids = dm[dm["path"].isin(upd["path"])].set_index("path")["doc_id"]
    for _, r in upd.iterrows():
        assert int(upd_ids.loc[r["path"]]) == int(r["ext_id"])
    # new keys got fresh ids above the prior max
    new_ids = dm[dm["path"].isin(new["path"])]["doc_id"]
    assert len(new_ids) == 5 and (new_ids > 99).all() and new_ids.is_unique

    # rank identity vs a rebuild over the updated corpus with the
    # engine-assigned ids
    assigned = dm.merge(
        pd.concat([pdf[pdf.ext_id >= 10], upd, new], ignore_index=True).drop(
            columns=["ext_id"]
        ),
        on="path",
    )
    assigned = assigned.rename(columns={"doc_id": "ext_id"})[
        ["ext_id", "repo", "path", "commit", "lang", "content"]
    ]
    full = build_index(
        spark, spark.createDataFrame(assigned), cfg, str(tmp / "full"), id_col="ext_id"
    )
    qs = [(1, "nkmarker probe", 20), (2, "token pars hash", 10)]
    pd.testing.assert_frame_equal(
        _sorted(search(seg, qs, mode="disjunctive")),
        _sorted(search(full, qs, mode="disjunctive")),
    )

    # duplicate natural keys within one batch are rejected
    dup = pd.concat([batch.iloc[:2], batch.iloc[:2]], ignore_index=True)
    with pytest.raises(ValueError, match="not unique"):
        build_segment(
            spark, spark.createDataFrame(dup), str(tmp / "segdup"), cfg,
            id_col=None, base_index_dir=base_dir,
        )


def test_maybe_compact_enforces_tombstone_bound(spark, tmp_path_factory):
    """The auto-compaction policy: update batches accumulate tombstones
    until tombstone_frac crosses the threshold, maybe_compact folds the
    view, and rank identity holds across the switch-over."""
    tmp = tmp_path_factory.mktemp("autocompact")
    pdf = make_corpus_pdf(n_docs=50, seed=23)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")

    compacted = None
    fracs = []
    for i in range(3):
        upd = pdf[pdf.ext_id % 5 == i].copy()
        upd["content"] = upd["content"] + f" compactprobe{i}"
        seg_dir = os.path.join(segments_root(base_dir), f"seg-{i:08d}")
        build_segment(spark, spark.createDataFrame(upd), seg_dir, cfg, id_col="ext_id")
        seg = SegmentedIndex.load(spark, base_dir, cfg)
        fracs.append(seg.tombstone_frac())
        compacted = seg.maybe_compact(str(tmp / f"compact{i}"), max_tombstone_frac=0.3)
        if compacted is not None:
            break
    # each batch tombstones 10 of 50 docs: fracs 0.2, 0.4 → triggers on
    # the second batch
    assert compacted is not None and len(fracs) == 2
    assert fracs[0] <= 0.3 < fracs[1]
    assert compacted.n_docs == seg.n_docs

    qs = [(1, "compactprobe0 compactprobe1", 20), (2, "token pars hash", 10)]
    pd.testing.assert_frame_equal(
        _sorted(search(seg, qs, mode="disjunctive")),
        _sorted(search(compacted, qs, mode="disjunctive")),
    )


def test_delete_then_resume_stream_readd(spark, tmp_path_factory):
    """Ordering law across stream restarts: a delete issued BETWEEN two
    stream runs must sort BETWEEN the last flushed batch and the resumed
    stream's next batch id. Regression: the delete segment used to take
    name seg-{max+1}-del, which sorts AFTER the resumed run's
    seg-{max+1} — its tombstone then (wrongly) killed docs the later
    batch legitimately re-added. Ordinals are now persisted in
    stats.json (delete = midpoint, e.g. 0.5 between batches 0 and 1)."""
    from pyspark.sql import types as T

    from org_rdkit_lucene_spark.streaming.incremental import (
        index_stream,
        list_segments,
        seg_ordinal,
    )

    tmp = tmp_path_factory.mktemp("del_resume")
    pdf = make_corpus_pdf(n_docs=80, seed=17)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    base = build_index(
        spark, spark.createDataFrame(pdf.iloc[:60]), cfg, base_dir, id_col="ext_id"
    )
    assert base is not None

    schema = T.StructType([
        T.StructField("ext_id", T.LongType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    src = tmp / "incoming"
    src.mkdir()
    pdf.iloc[60:].to_parquet(src / "b1.parquet", index=False)
    stream = spark.readStream.schema(schema).parquet(str(src))
    index_stream(stream, base_dir, cfg, str(tmp / "ckpt")).awaitTermination(timeout=300)

    # stream stopped → pure delete of one base doc + one streamed doc
    delete_docs(spark, base_dir, [5, 70], cfg)

    # resume the SAME stream (same checkpoint → next batch id = 1),
    # legitimately re-adding doc 5 with new content
    readd = pdf[pdf.ext_id == 5].copy()
    readd["content"] = readd["content"] + " readdmarker probe"
    readd.to_parquet(src / "b2.parquet", index=False)
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    index_stream(stream2, base_dir, cfg, str(tmp / "ckpt")).awaitTermination(timeout=300)

    seg = SegmentedIndex.load(spark, base_dir, cfg)
    ords = {os.path.basename(d): seg_ordinal(d) for d in list_segments(base_dir)}
    delete_ord = [v for k, v in ords.items() if "-del" in k][0]
    assert ords["seg-00000000"] < delete_ord < ords["seg-00000001"]

    live = {r["doc_id"] for r in seg.docmeta.select("doc_id").collect()}
    assert 5 in live and 70 not in live
    hits = search(seg, [(1, "readdmarker", 10)]).toPandas()
    assert set(hits["doc_id"]) == {5}

    # rank identity vs a rebuild over the final corpus
    final = pd.concat(
        [pdf[~pdf.ext_id.isin([5, 70])], readd], ignore_index=True
    )
    full = build_index(
        spark, spark.createDataFrame(final), cfg, str(tmp / "full"), id_col="ext_id"
    )
    qs = [(1, "readdmarker probe", 10), (2, "token pars hash", 10)]
    pd.testing.assert_frame_equal(
        _sorted(search(seg, qs, mode="disjunctive")),
        _sorted(search(full, qs, mode="disjunctive")),
    )


def test_stream_upsert_end_to_end(spark, tmp_path_factory):
    """Updates flowing through a REAL readStream → index_stream:
    batch 1 adds docs, batch 2 RE-SENDS three of them with changed
    content; the live view must equal a rebuild over the final corpus."""
    from pyspark.sql import types as T

    from org_rdkit_lucene_spark.streaming.incremental import index_stream

    tmp = tmp_path_factory.mktemp("stream_upsert")
    pdf = make_corpus_pdf(n_docs=150, seed=13)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    base = build_index(
        spark, spark.createDataFrame(pdf.iloc[:100]), cfg, base_dir, id_col="ext_id"
    )
    assert base is not None

    src = tmp / "incoming"
    src.mkdir()
    adds = pdf.iloc[100:].copy()
    adds.to_parquet(src / "b1.parquet", index=False)
    upd = pdf[pdf.ext_id.isin([10, 50, 120])].copy()
    upd["content"] = upd["content"] + " streamed upsertmarker"
    upd.to_parquet(src / "b2.parquet", index=False)

    schema = T.StructType([
        T.StructField("ext_id", T.LongType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = index_stream(stream, base_dir, cfg, str(tmp / "ckpt"))
    q.awaitTermination(timeout=300)

    seg = SegmentedIndex.load(spark, base_dir, cfg)
    final = pd.concat([pdf[~pdf.ext_id.isin([10, 50, 120])], upd], ignore_index=True)
    full = build_index(
        spark, spark.createDataFrame(final), cfg, str(tmp / "full"), id_col="ext_id"
    )
    assert seg.n_docs == full.n_docs and seg.avgdl == full.avgdl
    qs = [(1, "streamed upsertmarker", 20), (2, "token pars hash", 10)]
    pd.testing.assert_frame_equal(
        _sorted(search(seg, qs, mode="disjunctive")),
        _sorted(search(full, qs, mode="disjunctive")),
    )
    hits = search(seg, [(3, "upsertmarker", 50)]).toPandas()
    assert set(hits["doc_id"]) == {10, 50, 120}


def test_natural_key_delete(spark, tmp_path_factory):
    """delete_docs_by_key: (repo, path, commit) keys resolve to live
    doc_ids and tombstone them; unknown keys are ignored; rank identity
    with a rebuild over the remaining corpus."""
    from org_rdkit_lucene_spark.streaming.incremental import delete_docs_by_key

    tmp = tmp_path_factory.mktemp("nk_delete")
    pdf = make_corpus_pdf(n_docs=80, seed=23)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    assert build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")

    victims = pdf.iloc[:4]
    keys = [(r.repo, r.path, r.commit) for r in victims.itertuples(index=False)]
    keys.append(("no-such-repo", "nope", "dead"))  # unknown key: ignored
    delete_docs_by_key(spark, base_dir, keys, cfg)

    seg = SegmentedIndex.load(spark, base_dir, cfg)
    live = set(seg.docmeta.select("doc_id").toPandas()["doc_id"])
    assert live == set(range(4, len(pdf)))

    rest = pdf[pdf.ext_id >= 4]
    full = build_index(
        spark, spark.createDataFrame(rest), cfg, str(tmp / "full"), id_col="ext_id"
    )
    qs = [(1, "merg scorer", 15), (2, "token pars hash", 10)]
    pd.testing.assert_frame_equal(
        _sorted(search(seg, qs, mode="disjunctive")),
        _sorted(search(full, qs, mode="disjunctive")),
    )


def test_segment_positions_rank_identity(spark, tmp_path_factory):
    """Per-segment positional postings (the per-segment .prx analog,
    ChemicalIndex.java:847): base positions + an upsert segment's
    positions + a pure delete, kill-filtered, must rank phrase queries
    identically to positions rebuilt over the UPDATED corpus — and the
    merged view must survive compaction unchanged."""
    from org_rdkit_lucene_spark.operators.positions import (
        build_positions,
        search_phrase_positions,
        search_slop_positions,
    )

    tmp = tmp_path_factory.mktemp("segpos")
    pdf = make_corpus_pdf(n_docs=120, seed=31)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")
    build_positions(
        spark, spark.createDataFrame(pdf), base_dir,
        content_col="content", id_col="ext_id",
    )

    upd = pdf[pdf.ext_id % 10 == 0].copy()
    upd["content"] = upd["content"] + " segpos probe marker"
    seg0 = os.path.join(segments_root(base_dir), "seg-00000000")
    # with_positions=None auto-detects from the base artifact
    build_segment(spark, spark.createDataFrame(upd), seg0, cfg, id_col="ext_id")
    deleted = [3, 10, 20]  # 10/20 are updated docs: tombstone ON a re-add
    delete_docs(spark, base_dir, deleted, cfg)
    seg = SegmentedIndex.load(spark, base_dir, cfg)

    final = pd.concat([pdf[~(pdf.ext_id % 10 == 0)], upd], ignore_index=True)
    final = final[~final.ext_id.isin(deleted)]
    truth_dir = str(tmp / "truth")
    build_index(spark, spark.createDataFrame(final), cfg, truth_dir, id_col="ext_id")
    truth_pos = build_positions(
        spark, spark.createDataFrame(final), truth_dir,
        content_col="content", id_col="ext_id",
    )

    phrase_qs = [(1, "segpos probe marker", 8), (2, "returns the", 8), (3, "value data", 8)]
    got = _sorted(search_phrase_positions(seg.positions, phrase_qs))
    want = _sorted(search_phrase_positions(truth_pos, phrase_qs))
    pd.testing.assert_frame_equal(got, want)
    assert (got.query_id == 1).sum() > 0  # the marker phrase really hits

    slop_qs = [(4, "probe marker", 1, 8), (5, "returns loggersplitor", 2, 8)]
    pd.testing.assert_frame_equal(
        _sorted(search_slop_positions(seg.positions, slop_qs)),
        _sorted(search_slop_positions(truth_pos, slop_qs)),
    )

    # CheckIndex walks the merged positions too: kill-filtered union ==
    # live analyzed stream (pair/coverage/ascending invariants)
    from org_rdkit_lucene_spark.operators.check import check_segmented

    rep = check_segmented(seg)
    assert rep[~rep.passed].empty, rep[~rep.passed].to_string()
    assert {"merged:positions_match_flat_tf", "merged:positions_cover_stream",
            "merged:positions_lists_ascending"} <= set(rep.check)

    # compaction carries the merged positions (set-equal to the rebuild)
    compacted = compact(spark, base_dir, cfg, str(tmp / "compacted"))
    pd.testing.assert_frame_equal(
        _sorted(search_phrase_positions(compacted.positions, phrase_qs)), want
    )


def test_segment_without_positions_raises(spark, tmp_path_factory):
    """A non-empty segment built before positions existed must fail
    loudly from .positions — silently skipping it would return wrong
    phrase results."""
    from org_rdkit_lucene_spark.operators.positions import build_positions

    tmp = tmp_path_factory.mktemp("segpos_missing")
    pdf = make_corpus_pdf(n_docs=40, seed=7)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=2, hot_term_df=60, n_salts=2)
    base_dir = str(tmp / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")

    upd = pdf.iloc[:4].copy()
    upd["content"] = upd["content"] + " nopos probe"
    seg0 = os.path.join(segments_root(base_dir), "seg-00000000")
    # base has no positions yet -> auto-detect writes none
    build_segment(spark, spark.createDataFrame(upd), seg0, cfg, id_col="ext_id")
    # positions added to the base AFTER the segment was flushed
    build_positions(
        spark, spark.createDataFrame(pdf), base_dir,
        content_col="content", id_col="ext_id",
    )
    seg = SegmentedIndex.load(spark, base_dir, cfg)
    with pytest.raises(FileNotFoundError, match="without positions"):
        seg.positions  # noqa: B018


def test_kill_pairs_budget_enforced(spark, tmp_path_factory, monkeypatch):
    """The driver-side kill map is STRUCTURALLY bounded: past
    MAX_KILL_PAIRS tombstones kill_pairs() — and with it search and
    search_wand — raises with a compact() directive instead of shipping
    an OOM-sized map, while compact() itself still runs; past the
    default policy fraction it warns."""
    import org_rdkit_lucene_spark.streaming.incremental as inc

    tmp = tmp_path_factory.mktemp("killbudget")
    pdf = make_corpus_pdf(n_docs=40, seed=13)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=2, hot_term_df=60, n_salts=2)
    base_dir = str(tmp / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")
    upd = pdf[pdf.ext_id < 20].copy()  # tombstones 20 of 40 -> frac 0.5
    upd["content"] = upd["content"] + " budget probe"
    seg0 = os.path.join(segments_root(base_dir), "seg-00000000")
    build_segment(spark, spark.createDataFrame(upd), seg0, cfg, id_col="ext_id")
    seg = SegmentedIndex.load(spark, base_dir, cfg)

    with pytest.warns(RuntimeWarning, match="tombstone fraction"):
        assert seg.kill_pairs() is not None

    monkeypatch.setattr(inc, "MAX_KILL_PAIRS", 5)
    seg2 = SegmentedIndex.load(spark, base_dir, cfg)
    with pytest.raises(RuntimeError, match="kill-map budget"):
        seg2.kill_pairs()
    # both query paths read the same bounded kill pairs
    qs = [(1, "budget probe", 5)]
    with pytest.raises(RuntimeError, match="kill-map budget"):
        search_wand(seg2, qs)
    with pytest.raises(RuntimeError, match="kill-map budget"):
        search(seg2, qs)
    # compaction is the remedy, so it reads the kill map without the bound
    comp = compact(spark, base_dir, cfg, str(tmp / "compacted"))
    assert comp.n_docs == len(pdf)
    assert len(search(comp, qs).toPandas()) == 5


def test_delete_by_query(spark, tmp_path_factory):
    """deleteDocuments(Query) analog: conjunctive containment resolves
    matches index-side and tombstones them; the live view is
    rank-identical to a rebuild over the surviving docs, an
    empty-analyzing query deletes nothing, and the op is idempotent."""
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text, tokenize_texts
    from org_rdkit_lucene_spark.streaming.incremental import delete_docs_by_query

    tmp = tmp_path_factory.mktemp("delq")
    pdf = make_corpus_pdf(n_docs=150, seed=29)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=4, hot_term_df=60, n_salts=4)
    base_dir = str(tmp / "base")
    build_index(spark, spark.createDataFrame(pdf), cfg, base_dir, id_col="ext_id")

    qtext = "merg"
    words = set(tokenize_text(qtext))
    matches = {
        int(e) for e, toks in zip(pdf.ext_id, tokenize_texts(pdf.content))
        if words <= set(toks)
    }
    assert matches  # the fixture must actually exercise a non-empty delete

    delete_docs_by_query(spark, base_dir, qtext, cfg)
    seg = SegmentedIndex.load(spark, base_dir, cfg)
    assert seg.n_docs == len(pdf) - len(matches)
    assert set(seg.docmeta.select("doc_id").toPandas().doc_id).isdisjoint(matches)

    survivors = pdf[~pdf.ext_id.isin(matches)]
    truth = build_index(
        spark, spark.createDataFrame(survivors), cfg, str(tmp / "truth"),
        id_col="ext_id",
    )
    qs = [(1, "merg scorer token", 10), (2, "main data", 10)]
    pd.testing.assert_frame_equal(
        _sorted(search(seg, qs, mode="disjunctive")),
        _sorted(search(truth, qs, mode="disjunctive")),
    )

    # empty-analyzing query: no-op tombstone segment
    delete_docs_by_query(spark, base_dir, "!!!", cfg)
    seg2 = SegmentedIndex.load(spark, base_dir, cfg)
    assert seg2.n_docs == seg.n_docs
    # idempotence: re-deleting the same query tombstones nothing new
    delete_docs_by_query(spark, base_dir, qtext, cfg)
    seg3 = SegmentedIndex.load(spark, base_dir, cfg)
    assert seg3.n_docs == seg.n_docs
    pd.testing.assert_frame_equal(
        _sorted(search(seg3, qs, mode="disjunctive")),
        _sorted(search(truth, qs, mode="disjunctive")),
    )
