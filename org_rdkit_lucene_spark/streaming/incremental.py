"""Structured Streaming incremental indexing — segment-based deltas
with delete-then-add upsert (tombstones) and compaction.

Reference analog: Lucene's buffered-docs → flushed-segment model that
the reference delegates to ``IndexWriter`` (call sites
``ChemicalIndex.java:864-876``) and its delete-then-add upsert per PK
(``ChemicalIndex.java:801``: ``deleteDocuments(term)`` +
``addDocument``). Spark-first re-expression:

- the batch-built index (:mod:`operators.build`) is the BASE segment
  (version ordinal 0);
- a stream of documents (``readStream``) produces one DELTA segment
  per micro-batch via ``foreachBatch`` (ordinal = position + 1) —
  per-segment postings, docmeta, lexicon (df/cf only), flat rows,
  TOMBSTONES (``deletes.parquet``: the batch ids that were live in the
  prior view — delete-then-add), and exact stats. Written under
  ``<base>/segments/seg-<batch>``, idempotent per batch id;
- :class:`SegmentedIndex` presents base+deltas through the SAME
  surface as :class:`InvertedIndex`; every query path — DataFrame
  BM25, block-max WAND, two-phase verify, pagination — works over the
  merged view unchanged, with tombstoned versions filtered out.

Versioning law: a tombstone written by segment ordinal *j* kills every
version of that doc_id with ordinal < *j*. Delete-then-add puts the
tombstone and the re-add in the SAME segment, so the re-added version
(ordinal *j*) survives; a pure delete (:func:`delete_docs`) writes a
TOMBSTONE-ONLY segment — ``deletes.parquet`` and ``stats.json``
(``n_docs == 0``), no add-side tables — like a remove-only commit.
The view's unions skip every segment with ``n_docs == 0`` (older
delete segments that hold empty tables included), while ordinals stay
position + 1 over ALL segments. After filtering, each live doc_id
appears in exactly one segment's postings.

One kill law, resolved once per view: the view reads every
``deletes.parquet`` once into sorted ``(doc_ids, kill_ords)`` arrays
(:meth:`SegmentedIndex.kill_pairs`). Both query kernels — the
DataFrame path's decode batch and the WAND kernel — drop dead versions
inside their Arrow batch with the same ``searchsorted`` test
(:func:`operators.query.dead_versions`); the ``kill_map`` DataFrame
that the docmeta/lexicon/flat/positions views join is built once from
the same arrays and cached on the view.

Rank identity with a full rebuild over the UPDATED corpus is exact:

- ``N`` / ``total_dl`` / ``avgdl`` arithmetic subtracts each
  segment's recorded stats of the docs it tombstoned (integer-exact,
  so the merged avgdl is bit-identical to a rebuild's);
- per-term ``df``/``cf`` merge additively, then subtract the dead
  versions' contributions computed from the retained flat tables
  (term-prunable: a query's lexicon lookup pushes its term filter
  into the flat scan); ``idf`` is recomputed under the merged ``N``
  — unlike Lucene, whose docFreq counts deleted docs until merge,
  the merged stats here are exact at all times;
- block-max metadata stays a SAFE upper bound (removing docs can only
  lower a block's true max), re-derived for the merged avgdl from the
  stored ``(max_tf, min_dl)``.

Scale note: tombstone volume is bounded by stream volume since the
last :func:`compact`. The kill pairs live on the driver (16 bytes a
pair) and ship inside both kernels' closures; the query paths refuse a
map past ``MAX_KILL_PAIRS`` (writers and :func:`compact` read it
unbounded — compaction is the remedy). Compaction folds segments +
tombstones into a fresh monolithic base — the analog of Lucene's
background segment merge.

Tested: ``tests/test_streaming_incremental.py`` (append-only rank
identity + restart idempotence) and ``tests/test_upsert.py`` (update/
delete rank identity vs rebuild over the updated corpus, compaction
byte-equivalence).
"""

from __future__ import annotations

import functools
import json
import os
import re
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.lock import LockHeldError, write_lock  # noqa: F401
from org_rdkit_lucene_spark.operators.build import (
    POSTINGS_SCHEMA,
    InvertedIndex,
    _make_cold_encoder,
    _make_spimi_fn,
    _write_manifest,
    encode_postings,
)
from org_rdkit_lucene_spark.operators.positions import (
    POSITIONS_NAME,
    _as_packed as _as_packed_cols,
    packed_positions_df,
    write_packed_positions,
)

FLAT_COLS = ["doc_id", "term", "tf", "dl"]
# hard budget for the driver-side kill map (16 bytes/pair ≈ 160 MB at
# the cap — comfortably under driver/broadcast limits); the
# maybe_compact(max_tombstone_frac) policy should fire long before this
MAX_KILL_PAIRS = 10_000_000


def _base_has_positions(base_dir: str) -> bool:
    return os.path.exists(os.path.join(base_dir, POSITIONS_NAME, "_SUCCESS"))


def segments_root(index_dir: str) -> str:
    return os.path.join(index_dir, "segments")


def seg_ordinal(seg_dir: str) -> float:
    """A segment's LOGICAL version ordinal — the total order the
    tombstone law runs over. Persisted in ``stats.json`` (authoritative:
    deriving order from directory-name sort breaks when a delete
    segment written between stream runs must sort BETWEEN the last
    flushed batch and the resumed stream's next batch id). Fallback for
    segments whose stats are not yet written (in-progress) or legacy
    segments: parse the batch number from the name; a legacy ``-del``
    suffix sorts just after its number."""
    stats = os.path.join(seg_dir, "stats.json")
    if os.path.exists(stats):
        with open(stats) as f:
            s = json.load(f)
        if "ordinal" in s:
            return float(s["ordinal"])
    name = os.path.basename(seg_dir)
    m = re.match(r"seg-(\d+)", name)
    num = float(m.group(1)) if m else 0.0
    return num + 0.5 if "-del" in name else num


def list_segments(index_dir: str) -> list[str]:
    root = segments_root(index_dir)
    if not os.path.isdir(root):
        return []
    return sorted(
        (
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("seg-")
            and os.path.exists(os.path.join(root, d, "stats.json"))
        ),
        key=lambda d: (seg_ordinal(d), os.path.basename(d)),
    )


def _commit_stats(d: str, stats: dict) -> None:
    """Write ``stats.json`` — every writer's commit record — LAST and
    atomically (tmp + ``os.replace``): a directory without it is never
    read as complete (:func:`list_segments`, ``InvertedIndex.load``)."""
    tmp = os.path.join(d, "stats.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, os.path.join(d, "stats.json"))


def _prior_view(
    spark: SparkSession, base_dir: str, ordinal: float, cfg: IndexConfig
) -> "SegmentedIndex":
    """The live view of everything strictly BEFORE logical ``ordinal`` —
    what a replayed batch must diff against (idempotence: a crash
    between the segment write and the checkpoint commit replays the
    batch; the prior view excludes the half-written segment, whose
    ordinal equals the replayed one)."""
    base = InvertedIndex.load(spark, base_dir, cfg)
    prior = [d for d in list_segments(base_dir) if seg_ordinal(d) < ordinal]
    return SegmentedIndex(spark, base, prior)


def build_segment(
    spark: SparkSession,
    batch: DataFrame,
    seg_dir: str,
    cfg: IndexConfig,
    id_col: str | None = "ext_id",
    base_index_dir: str | None = None,
    with_positions: bool | None = None,
) -> None:
    """Encode one micro-batch of docs as a self-contained delta segment
    with delete-then-add upsert semantics (``ChemicalIndex.java:801``).

    ``with_positions``: also write this segment's positional postings
    (``positions.parquet``, same analyzed-stream law as
    :func:`operators.positions.build_positions`) — the per-segment .prx
    analog every Lucene segment carries (``ChemicalIndex.java:847``
    delegates to ``IndexWriter.addDocument``, which writes positions
    per flushed segment). Default ``None`` auto-detects: segments keep
    positions current whenever the BASE index has a committed positions
    artifact, so phrase/slop queries over a streamed or upserted index
    stay index-only instead of falling back to stored-body scans.

    ``batch`` carries the corpus shape plus either an externally-
    supplied unique integer id (``id_col`` — the reference's
    data-supplied ``pkField`` configuration,
    ``LuceneBenchmark.java:745-755``) or, with ``id_col=None``, NO id:
    doc_ids are then resolved from the NATURAL KEY ``(repo, path,
    commit)`` — the reference's default pkField is likewise a natural
    record property (``LuceneBenchmark.java:752``). A key already live
    in the prior view keeps its doc_id (an UPDATE: the old version is
    tombstoned, the new content indexed under the same id); unseen keys
    get fresh ids above the prior view's ``max_doc_id``, assigned
    deterministically in key order (streaming arrival order is not
    deterministic, so ids must never depend on it). Written atomically:
    parquet outputs first, ``stats.json`` last (a segment without
    stats is ignored by :func:`list_segments`).
    """
    from pyspark.sql import Window

    n_parts = max(1, min(cfg.build_partitions, 8))
    base_dir = base_index_dir or os.path.dirname(os.path.dirname(seg_dir))
    with write_lock(base_dir):
        return _build_segment_locked(
            spark, batch, seg_dir, cfg, id_col, base_dir, with_positions,
            Window, n_parts,
        )


def _build_segment_locked(
    spark, batch, seg_dir, cfg, id_col, base_dir, with_positions, Window, n_parts
):
    """Body of :func:`build_segment`, run under the index write lock
    (two writers reading the same prior view would assign colliding
    doc_ids/ordinals — Lucene serializes writers the same way)."""
    m = re.match(r"seg-(\d+)", os.path.basename(seg_dir))
    ordinal = float(m.group(1)) if m else seg_ordinal(seg_dir)
    prior = _prior_view(spark, base_dir, ordinal, cfg)
    if id_col is None:
        # natural-key resolution: one broadcast join of the SMALL batch
        # against the metadata-scale docmeta; new keys numbered by a
        # row_number over the (micro-batch-sized) batch in key order —
        # a single-task window, bounded by micro-batch size by design
        known = prior.docmeta.select("doc_id", "repo", "path", "commit")
        joined = batch.select("repo", "path", "commit", "lang", "content").join(
            known, ["repo", "path", "commit"], "left"
        )
        w_new = Window.orderBy("repo", "path", "commit")
        ids = joined.withColumn(
            "doc_id",
            F.coalesce(
                F.col("doc_id"),
                F.lit(prior.max_doc_id) + F.row_number().over(w_new),
            ),
        ).select("doc_id", "repo", "path", "commit", "lang", "content").persist()
        # persisted: the id-resolution join + window would otherwise
        # recompute for every downstream consumer (flat, stats, docmeta)
        pk_expr = F.concat_ws("\x1f", "repo", "path", "commit")
    else:
        ids = batch.select(
            F.col(id_col).cast("long").alias("doc_id"),
            "repo", "path", "commit", "lang", "content",
        )
        pk_expr = F.col("doc_id").cast("string")
    # micro-batches are small: one SPIMI pass, one term-sorted encode
    flat = (
        ids.select("doc_id", "content", F.lit(0).cast("int").alias("build_part"))
        .repartition(n_parts)
        .mapInPandas(
            _make_spimi_fn(cfg),
            schema="doc_id long, term string, tf int, dl int, build_part int",
        )
        .drop("build_part")
        .persist()
    )
    stats_row = ids.join(
        flat.groupBy("doc_id").agg(F.first("dl").alias("doc_len")), "doc_id", "left"
    ).agg(
        F.count("*").alias("n"),
        F.least(
            F.countDistinct("doc_id"), F.countDistinct(pk_expr)
        ).alias("n_distinct"),
        F.sum(F.coalesce(F.col("doc_len"), F.lit(0))).alias("total_dl"),
        F.max("doc_id").alias("max_id"),
    ).collect()[0]
    n, total_dl = int(stats_row["n"]), int(stats_row["total_dl"] or 0)
    # a duplicated id/key within one batch silently inflates df and
    # emits duplicate doc_ids in results — the streaming analog of the
    # batch build's validate_pk (ids overlapping EARLIER segments/base
    # are fine: that's an upsert, handled by the tombstone below).
    # With natural keys, two NEW rows sharing a key would get distinct
    # fresh doc_ids, so the key column itself is checked too.
    if int(stats_row["n_distinct"]) != n:
        raise ValueError(
            f"batch ids not unique: {n} rows, {int(stats_row['n_distinct'])} "
            f"distinct {id_col or '(repo, path, commit)'}"
        )
    seg_avgdl = (total_dl / n) if n else 1.0

    # delete-then-add: batch ids already live in the prior view are
    # tombstoned; their (count, Σ doc_len) is recorded so the merged
    # stats arithmetic stays integer-exact. One metadata-scale semi-
    # join per batch (docmeta, not postings).
    deld = (
        prior.docmeta.join(F.broadcast(ids.select("doc_id")), "doc_id", "left_semi")
        .select("doc_id", "doc_len")
        .persist()
    )
    drow = deld.agg(
        F.count("*").alias("dn"), F.sum("doc_len").alias("ddl")
    ).collect()[0]
    del_n, del_dl = int(drow["dn"]), int(drow["ddl"] or 0)
    deld.select("doc_id").write.mode("overwrite").parquet(
        os.path.join(seg_dir, "deletes.parquet")
    )
    deld.unpersist()

    docmeta = ids.join(
        flat.groupBy("doc_id").agg(F.first("dl").alias("doc_len")), "doc_id", "left"
    ).select(
        "doc_id", "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("sha256"),
        F.coalesce(F.col("doc_len"), F.lit(0)).alias("doc_len"),
    )
    docmeta.write.mode("overwrite").parquet(os.path.join(seg_dir, "docmeta.parquet"))

    lex = flat.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    lex.write.mode("overwrite").parquet(os.path.join(seg_dir, "lexicon.parquet"))

    # the flat rows are retained per segment (like the base build's
    # flat runs) so a LATER tombstone can subtract this segment's
    # df/cf contributions exactly
    flat.select(*FLAT_COLS).write.mode("overwrite").parquet(
        os.path.join(seg_dir, "flat.parquet")
    )

    blocks = (
        flat.repartition(n_parts, "term")
        .sortWithinPartitions("term", "doc_id")
        .mapInPandas(_make_cold_encoder(cfg, seg_avgdl or 1.0), schema=POSTINGS_SCHEMA)
    )
    blocks.write.mode("overwrite").parquet(os.path.join(seg_dir, "postings.parquet"))
    flat.unpersist()

    # per-segment positional postings (the .prx analog): one extra
    # tokenize pass over the micro-batch content, written BEFORE the
    # stats.json commit so a half-written segment is never visible
    if with_positions is None:
        with_positions = _base_has_positions(base_dir)
    if with_positions:
        # packed + term-clustered like the base artifact
        # (build_positions): the pushed `term = w` predicate must skip
        # row groups in every segment the union scans
        # 4x-task-slot partition floor, same sizing as build_positions:
        # slot-count partitions made reducer sorts spill super-linearly
        # at ~510k docs (round-4 advice — a large segment or compact
        # re-clusters the same-scale packed table)
        write_packed_positions(
            packed_positions_df(
                ids, content_col="content", id_col="doc_id",
                profile=cfg.tokenizer,
            ),
            os.path.join(seg_dir, POSITIONS_NAME),
            min_parts=n_parts,
        )

    _commit_stats(seg_dir, {
        "n_docs": n,
        "total_dl": total_dl,
        "avgdl": seg_avgdl,
        "max_doc_id": int(stats_row["max_id"] if stats_row["max_id"] is not None else -1),
        "del_n_docs": del_n,
        "del_total_dl": del_dl,
        "ordinal": ordinal,
    })
    if id_col is None:
        ids.unpersist()


def delete_docs(
    spark: SparkSession,
    base_index_dir: str,
    doc_ids: list[int],
    cfg: IndexConfig,
    seg_name: str | None = None,
) -> str:
    """Pure delete: write a tombstone-only segment removing ``doc_ids``
    from the live view (no re-add). Returns the segment dir. The
    reference's standalone ``deleteDocuments`` half of the upsert.

    Ordering safety with a resumable stream: the delete's persisted
    ordinal is the MIDPOINT between the current max segment ordinal and
    the next integer batch id — so a stream that later resumes with
    batch ``max+1`` (writing ``seg-{max+1:08d}``, ordinal ``max+1``)
    sorts strictly AFTER this delete, and a doc it legitimately
    re-adds is NOT killed by the earlier tombstone (the versioning law:
    a tombstone from ordinal j kills only ordinals < j). Consecutive
    deletes nest midpoints (j+0.5, j+0.75, ...), always below ``j+1``.
    Still unsafe while a stream is ACTIVE (a concurrently-committing
    batch could interleave with the prior-view read)."""
    ids = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long")
    return _delete_ids_df(spark, base_index_dir, ids, cfg, seg_name)


def _delete_ids_df(
    spark: SparkSession,
    base_index_dir: str,
    ids: DataFrame,
    cfg: IndexConfig,
    seg_name: str | None = None,
) -> str:
    """Tombstone-only segment from a DISTRIBUTED id set — the shared
    core of :func:`delete_docs` (driver list) and
    :func:`delete_docs_by_query` (index-resolved matches, which may be
    corpus-scale: the ids never collect to the driver; the tombstone
    parquet is written straight from the semi-join). Runs under the
    index write lock."""
    with write_lock(base_index_dir):
        return _delete_ids_df_locked(spark, base_index_dir, ids, cfg, seg_name)


def _delete_ids_df_locked(spark, base_index_dir, ids, cfg, seg_name):
    import math as _math

    existing = list_segments(base_index_dir)
    ords = [seg_ordinal(d) for d in existing]
    max_ord = max(ords) if ords else -1.0
    ordinal = (max_ord + _math.floor(max_ord) + 1.0) / 2.0
    if seg_name is None:
        nums = [
            int(m.group(1))
            for d in existing
            if (m := re.fullmatch(r"seg-(\d+)", os.path.basename(d)))
        ]
        base_num = max(nums) if nums else 0
        n_sib = sum(
            1
            for d in existing
            if os.path.basename(d).startswith(f"seg-{base_num:08d}-del")
        )
        seg_name = f"seg-{base_num:08d}-del{n_sib}"
    seg_dir = os.path.join(segments_root(base_index_dir), seg_name)
    prior = _prior_view(spark, base_index_dir, ordinal, cfg)
    deld = (
        prior.docmeta.join(ids, "doc_id", "left_semi")
        .select("doc_id", "doc_len")
        .persist()
    )
    drow = deld.agg(F.count("*").alias("dn"), F.sum("doc_len").alias("ddl")).collect()[0]
    del_n, del_dl = int(drow["dn"]), int(drow["ddl"] or 0)
    deld.select("doc_id").write.mode("overwrite").parquet(
        os.path.join(seg_dir, "deletes.parquet")
    )
    deld.unpersist()
    # a tombstone-only segment: no add-side tables (stats n_docs == 0
    # is what SegmentedIndex keys on to leave it out of every union)
    _commit_stats(seg_dir, {
        "n_docs": 0, "total_dl": 0, "avgdl": 0.0, "max_doc_id": -1,
        "del_n_docs": del_n, "del_total_dl": del_dl, "ordinal": ordinal,
    })
    return seg_dir


def index_stream(
    stream: DataFrame,
    base_index_dir: str,
    cfg: IndexConfig,
    checkpoint_dir: str,
    id_col: str | None = "ext_id",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Attach a document stream to an index: every micro-batch becomes a
    delta segment (adds + upserts — an id already indexed is tombstoned
    and re-added). ``id_col=None`` upserts on the natural key
    ``(repo, path, commit)`` with engine-assigned doc_ids (see
    :func:`build_segment`). ``foreachBatch`` + per-batch-id directories
    + last-write-of-stats atomicity make replays idempotent, composing
    with the stream checkpoint for effective exactly-once."""
    spark = stream.sparkSession

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        seg = os.path.join(segments_root(base_index_dir), f"seg-{batch_id:08d}")
        build_segment(spark, batch, seg, cfg, id_col=id_col,
                      base_index_dir=base_index_dir)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass
class SegmentedIndex:
    """Base index + delta segments (with tombstones) behind the
    :class:`InvertedIndex` query surface — ``search``/``search_wand``/
    ``hit_counts``/``search_two_phase`` work unchanged over the merged
    view; dead (tombstoned) versions are filtered everywhere.

    A segment's version ordinal is its position + 1 over ALL segments;
    only segments that carry adds (``stats.json`` ``n_docs > 0``) enter
    the table unions, so a tombstone-only segment costs no scan."""

    spark: SparkSession
    base: InvertedIndex
    segment_dirs: list[str]
    n_docs: int = field(init=False)
    total_dl: int = field(init=False)
    avgdl: float = field(init=False)
    max_doc_id: int = field(init=False)
    has_deletes: bool = field(init=False)
    n_tombstones: int = field(init=False)

    def __post_init__(self) -> None:
        n, dl, mx = self.base.n_docs, self.base.total_dl, self.base.max_doc_id
        tomb = 0
        # (ordinal, dir) of the segments holding adds / tombstones
        self._add_segs: list[tuple[int, str]] = []
        self._del_segs: list[tuple[int, str]] = []
        for i, d in enumerate(self.segment_dirs):
            with open(os.path.join(d, "stats.json")) as f:
                s = json.load(f)
            n += s["n_docs"] - s.get("del_n_docs", 0)
            dl += s["total_dl"] - s.get("del_total_dl", 0)
            mx = max(mx, s["max_doc_id"])
            tomb += s.get("del_n_docs", 0)
            if s["n_docs"] > 0:
                self._add_segs.append((i + 1, d))
            if s.get("del_n_docs", 0) > 0:
                self._del_segs.append((i + 1, d))
        self.n_docs, self.total_dl, self.max_doc_id = n, dl, mx
        self.n_tombstones = tomb
        self.has_deletes = bool(self._del_segs)
        self.avgdl = (dl / n) if n else 0.0
        self._kill_arrays: tuple[np.ndarray, np.ndarray] | None = None
        self._kill_map: DataFrame | None = None

    def tombstone_frac(self) -> float:
        """Tombstoned versions as a fraction of live docs — the metric
        the auto-compaction policy watches. Driver-side arithmetic over
        the per-segment stats (no Spark job)."""
        return self.n_tombstones / max(self.n_docs, 1)

    def maybe_compact(
        self, out_dir: str, max_tombstone_frac: float = 0.2
    ) -> "InvertedIndex | None":
        """ENFORCE the kill-map bound: the driver-side kill pairs (and
        every query's broadcast kill map) grow with tombstone volume
        since the last compaction — Lucene's background merge is what
        bounds the reference's deleted-doc overhead, and this is its
        policy hook. Compacts into ``out_dir`` when tombstones exceed
        ``max_tombstone_frac`` of live docs; returns the fresh
        monolithic index (caller switches over), else None."""
        if self.tombstone_frac() <= max_tombstone_frac:
            return None
        return compact(self.spark, self.index_dir, self.cfg, out_dir)

    @property
    def cfg(self) -> IndexConfig:
        return self.base.cfg

    @property
    def codec(self) -> str:
        return getattr(self.base, "codec", "varbyte")

    @property
    def index_dir(self) -> str:
        return self.base.index_dir

    @classmethod
    def load(
        cls, spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None
    ) -> "SegmentedIndex":
        base = InvertedIndex.load(spark, index_dir, cfg)
        return cls(spark, base, list_segments(index_dir))

    # -- version ordinals & tombstones ------------------------------------

    def _union(self, name: str, with_ord: bool = False) -> DataFrame:
        """The base table plus every add-carrying segment's, optionally
        tagged with its version ordinal ``seg_ord`` (base = 0)."""
        df = getattr(self.base, name)
        if with_ord:
            df = df.withColumn("seg_ord", F.lit(0))
        for o, d in self._add_segs:
            s = self.spark.read.parquet(os.path.join(d, f"{name}.parquet"))
            if with_ord:
                s = s.withColumn("seg_ord", F.lit(o))
            df = df.unionByName(s, allowMissingColumns=True)
        return df

    def _kill_pairs_unbounded(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc_ids, kill_ords), read ONCE per view: every
        tombstone-carrying segment's ``deletes.parquet`` is read on the
        driver (pyarrow, no Spark job) and a doc tombstoned by several
        segments keeps its highest ordinal. Writers and compaction use
        this directly — compaction is the remedy for an over-budget
        map, so it must not be refused one."""
        if self._kill_arrays is None:
            import pyarrow.parquet as pq

            ids_l, ords_l = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
            for o, d in self._del_segs:
                ids = pq.read_table(
                    os.path.join(d, "deletes.parquet"), columns=["doc_id"]
                ).column("doc_id").to_numpy()
                ids_l.append(ids.astype(np.int64))
                ords_l.append(np.full(len(ids), o, dtype=np.int64))
            ids, ords = np.concatenate(ids_l), np.concatenate(ords_l)
            o = np.lexsort((ords, ids))
            ids, ords = ids[o], ords[o]
            last = np.append(ids[1:] != ids[:-1], True)
            self._kill_arrays = (ids[last], ords[last])
        return self._kill_arrays

    @property
    def kill_map(self) -> DataFrame | None:
        """(doc_id, kill_ord): a tombstone from segment ordinal j kills
        every version with ordinal < j. Built once per view from the
        driver-side kill pairs (a local relation — no parquet scan or
        aggregation per access). None when no segment deletes anything
        (the append-only fast path — zero overhead)."""
        if not self.has_deletes:
            return None
        if self._kill_map is None:
            ids, ords = self._kill_pairs_unbounded()
            self._kill_map = self.spark.createDataFrame(
                pd.DataFrame({"doc_id": ids, "kill_ord": ords}),
                "doc_id long, kill_ord long",
            )
        return self._kill_map

    def kill_pairs(self) -> tuple[np.ndarray, np.ndarray] | None:
        """Driver-side (sorted doc_ids, kill_ords) that both query
        kernels filter with (:func:`operators.query.dead_versions`).
        Tombstone volume is bounded by stream volume since the last
        compaction — and STRUCTURALLY enforced on the query paths, not
        just by policy: past ``MAX_KILL_PAIRS`` tombstones this raises
        with a compact() directive instead of shipping a
        driver-OOM-sized map, and past the default ``maybe_compact``
        fraction it warns that compaction is overdue."""
        if not self.has_deletes:
            return None
        if self.n_tombstones > MAX_KILL_PAIRS:
            raise RuntimeError(
                f"{self.n_tombstones} tombstones exceed the driver-side "
                f"kill-map budget ({MAX_KILL_PAIRS}); run compact() (or "
                "maybe_compact()) before querying this view"
            )
        if self.tombstone_frac() > 0.2:
            import warnings

            warnings.warn(
                f"tombstone fraction {self.tombstone_frac():.2f} exceeds the "
                "default compaction policy (0.2) — query-time kill maps are "
                "growing; schedule compact()",
                RuntimeWarning,
                stacklevel=2,
            )
        return self._kill_pairs_unbounded()

    def _live(self, df: DataFrame) -> DataFrame:
        """Drop the dead versions of a ``seg_ord``-tagged table (and the
        tag)."""
        kill = self.kill_map
        if kill is not None:
            df = df.join(F.broadcast(kill), "doc_id", "left").filter(
                F.col("kill_ord").isNull() | (F.col("seg_ord") >= F.col("kill_ord"))
            ).drop("kill_ord")
        return df.drop("seg_ord")

    def live_flat(self) -> DataFrame:
        """Kill-filtered flat (doc_id, term, tf, dl) — exactly the rows
        a monolithic rebuild over the updated corpus would produce.
        Feeds compaction."""
        return self._live(self._union("flat", with_ord=True)).select(*FLAT_COLS)

    # -- merged tables -----------------------------------------------------

    @property
    def docmeta(self) -> DataFrame:
        return self._live(self._union("docmeta", with_ord=True))

    @property
    def postings(self) -> DataFrame:
        """Union of all segments' blocks (tagged with ``seg_ord`` so the
        decode kernels can drop tombstoned versions) with the block-max
        bound re-derived for the MERGED avgdl from stored
        (max_tf, min_dl) — the stored max_tf_norm was computed under
        each segment's own avgdl and is not a valid bound once stats
        drift. Tombstones only REMOVE docs from a block, so the
        re-derived bound remains safe."""
        p = self.cfg.bm25
        raw = self._union("postings", with_ord=True)
        safe = (
            F.col("max_tf").cast("double")
            * F.lit(p.k1 + 1.0)
            / (
                F.col("max_tf")
                + F.lit(p.k1)
                * (F.lit(1.0 - p.b) + F.lit(p.b) * F.col("min_dl") / F.lit(self.avgdl))
            )
        )
        return raw.withColumn("max_tf_norm", safe)

    @property
    def has_positions(self) -> bool:
        return _base_has_positions(self.index_dir)

    @property
    def positions(self) -> DataFrame:
        """Kill-filtered union of the base and per-segment positional
        postings, PACKED ``(term, doc_id, poss)`` — the merged .prx
        view (legacy flat segments are packed on read). Feeds
        :func:`operators.positions.search_phrase_positions` /
        ``search_slop_positions`` and :func:`operators.query.
        search_syntax`'s indexed phrase path unchanged, so phrase/slop
        queries over a streamed/upserted index never read stored
        bodies. A doc updated in segment *j* contributes only its
        ordinal-*j* positions (the tombstone filter, same law as
        docmeta). Raises when the base or any add-carrying segment was
        built without positions — silently dropping a segment would
        return wrong phrase results, and the fix (rebuild the segment
        or compact) is a caller decision."""
        if not self.has_positions:
            raise FileNotFoundError(
                f"no positions artifact at {self.index_dir}; run "
                "build_positions() on the base index first"
            )
        df = _as_packed_cols(
            self.spark.read.parquet(os.path.join(self.index_dir, POSITIONS_NAME))
        ).withColumn("seg_ord", F.lit(0))
        for o, d in self._add_segs:
            p = os.path.join(d, POSITIONS_NAME)
            if not os.path.isdir(p):
                raise FileNotFoundError(
                    f"segment {d} was built without positions; "
                    "re-index it with with_positions=True or compact()"
                )
            df = df.unionByName(
                _as_packed_cols(self.spark.read.parquet(p)).withColumn(
                    "seg_ord", F.lit(o)
                )
            )
        return self._live(df)

    @property
    def lexicon(self) -> DataFrame:
        """Merged per-term stats: df/cf sum across segments, MINUS the
        tombstoned versions' contributions (computed from the retained
        flat tables — a query's term filter pushes into that scan);
        idf recomputed under the merged live N. Matches a full rebuild
        over the updated corpus exactly."""
        merged = (
            self._union("lexicon")
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        kill = self.kill_map
        if kill is not None:
            dead = (
                self._union("flat", with_ord=True)
                .join(F.broadcast(kill), "doc_id")
                .filter(F.col("seg_ord") < F.col("kill_ord"))
                .groupBy("term")
                .agg(F.count("*").alias("ddf"), F.sum("tf").alias("dcf"))
            )
            merged = (
                merged.join(dead, "term", "left")
                .select(
                    "term",
                    (F.col("df") - F.coalesce(F.col("ddf"), F.lit(0))).alias("df"),
                    (F.col("cf") - F.coalesce(F.col("dcf"), F.lit(0))).alias("cf"),
                )
                .filter(F.col("df") > 0)
            )
        return merged.withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(self.n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )


def _write_flat_run(
    spark: SparkSession, flat: DataFrame, cfg: IndexConfig, out_dir: str, run_name: str
) -> DataFrame:
    """Stage 1 analog of a fold: ONE flat run, re-bucketed by the OUT
    config's partition count and recorded in the manifest (a later
    resume/compaction sees a coherent layout). Returns the run read
    back, persisted for stages 3/4."""
    flat_path = os.path.join(out_dir, "flat", run_name)
    flat.withColumn(
        "build_part",
        F.pmod(F.xxhash64("doc_id"), F.lit(cfg.build_partitions)).cast("int"),
    ).write.mode("overwrite").parquet(flat_path)
    _write_manifest(
        out_dir,
        {
            "completed_parts": list(range(cfg.build_partitions)),
            "part_lineage": {
                str(i): {"run_dir": run_name} for i in range(cfg.build_partitions)
            },
            "n_parts": cfg.build_partitions,
            "finalized": True,
        },
    )
    return spark.read.parquet(flat_path).select(*FLAT_COLS).persist()


def _write_lexicon_postings(
    flat: DataFrame, cfg: IndexConfig, out_dir: str, n_docs: int, avgdl: float,
    max_doc_id: int,
) -> None:
    """Stages 3 and 4 of a fold with the batch build's expressions: the
    lexicon (idf under ``n_docs``), then the postings (identical
    hot/cold policy). Unpersists ``flat``."""
    import pyarrow.parquet as pq

    lexicon_path = os.path.join(out_dir, "lexicon.parquet")
    lex = flat.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    lex = lex.withColumn(
        "idf",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
    )
    lex.write.mode("overwrite").parquet(lexicon_path)
    hot_tbl = pq.read_table(
        lexicon_path, columns=["term"], filters=[("df", ">=", cfg.hot_term_df)]
    )
    blocks = encode_postings(
        flat, cfg, avgdl, max_doc_id, hot_tbl.column("term").to_pylist()
    )
    blocks.write.mode("overwrite").parquet(os.path.join(out_dir, "postings.parquet"))
    flat.unpersist()


def _commit_index(
    spark: SparkSession, out_dir: str, cfg: IndexConfig, n_docs: int,
    total_dl: int, avgdl: float, max_doc_id: int,
) -> InvertedIndex:
    """Commit a folded index (stats.json LAST: a crash mid-fold never
    leaves a dir that ``InvertedIndex.load`` accepts as complete)."""
    _commit_stats(out_dir, {
        "n_docs": n_docs,
        "total_dl": total_dl,
        "avgdl": avgdl,
        "max_doc_id": max_doc_id,
        "codec": cfg.codec,
    })
    return InvertedIndex(
        spark, out_dir, n_docs, avgdl, cfg,
        total_dl=total_dl, max_doc_id=max_doc_id, codec=cfg.codec,
    )


def compact(
    spark: SparkSession, index_dir: str, cfg: IndexConfig, out_dir: str
) -> InvertedIndex:
    """Fold base + segments + tombstones into a fresh monolithic index
    at ``out_dir`` — the analog of Lucene's background segment merge
    (which is where deleted docs and their stats actually disappear in
    the reference's engine). The result is byte-identical to a
    from-scratch batch build over the updated corpus: live_flat()
    reproduces the rebuild's flat rows exactly, and stage 3/4 encoding
    is deterministic given (flat, cfg, avgdl)."""
    with ExitStack() as _locks:
        # lock the SOURCE (no segment may land mid-fold: the fold's
        # live view must be a consistent snapshot) and the destination
        _locks.enter_context(write_lock(index_dir))
        if os.path.abspath(out_dir) != os.path.abspath(index_dir):
            _locks.enter_context(write_lock(out_dir))
        return _compact_locked(spark, index_dir, cfg, out_dir)


def _compact_locked(spark, index_dir, cfg, out_dir):
    seg = SegmentedIndex.load(spark, index_dir, cfg)
    os.makedirs(out_dir, exist_ok=True)
    flat = _write_flat_run(spark, seg.live_flat(), cfg, out_dir, "run-compact")

    # docmap + docmeta from the live view (sha256 preserved — content
    # is not needed for compaction)
    dm = seg.docmeta.select(
        "doc_id", "repo", "path", "commit", "lang", "sha256", "doc_len"
    ).persist()
    dm.select("repo", "path", "commit", "doc_id").write.mode("overwrite").parquet(
        os.path.join(out_dir, "docmap.parquet")
    )
    dm.write.mode("overwrite").parquet(os.path.join(out_dir, "docmeta.parquet"))
    dm.unpersist()

    _write_lexicon_postings(flat, cfg, out_dir, seg.n_docs, seg.avgdl, seg.max_doc_id)

    # positional postings survive compaction when the source index has
    # them: the kill-filtered union IS the rebuild's positions row set
    # (positions.parquet is outside the byte-equivalence contract —
    # only set equality matters, and every consumer joins on it)
    if seg.has_positions:
        # the kill-filtered union is already packed (one row per live
        # (term, doc) with its ascending position list) — re-cluster
        # by term and write, same physical shape as a fresh build
        # 4x-task-slot floor (build_positions' spill lesson): a large
        # compact re-clusters a full-corpus-scale packed table, so
        # cfg.build_partitions alone can hit the same reducer-sort
        # spill wall the base builder moved off of
        pos_parts = max(
            4 * seg.spark.sparkContext.defaultParallelism, cfg.build_partitions
        )
        seg.positions.repartition(
            pos_parts, "term"
        ).sortWithinPartitions("term", "doc_id").write.mode(
            "overwrite"
        ).option("parquet.block.size", 8 * 1024 * 1024).parquet(
            os.path.join(out_dir, POSITIONS_NAME)
        )

    return _commit_index(
        spark, out_dir, cfg, seg.n_docs, seg.total_dl, seg.avgdl, seg.max_doc_id
    )


def add_indexes(
    spark: SparkSession, index_dirs: list[str], cfg: IndexConfig, out_dir: str
) -> InvertedIndex:
    """Merge complete on-disk indexes into one monolithic index WITHOUT
    re-tokenizing — the ``IndexWriter.addIndexes(Directory...)`` analog
    (the reference writes its index through exactly that writer
    surface; Lucene bulk-adopts foreign segments). Unlike Lucene there
    is NO doc renumbering: this engine's doc_ids are external keys, so
    inputs must be disjoint — both doc_id sets and natural keys are
    checked exactly, and a collision raises instead of silently
    merging versions (that is the upsert path's job).

    The result is byte-identical to a from-scratch batch build over
    the concatenated corpus (tested): flat rows are unioned from the
    inputs' manifest-referenced runs, merged stats use the EXACT
    integer totals (Σtotal_dl / Σn — the same arithmetic law segment
    merges obey), and stage 3/4 encoding is deterministic given
    (flat, cfg, avgdl).

    Scale shape: skips the stage a rebuild pays for — tokenize + SPIMI
    runs over the full corpus. What runs is one flat-union write, one
    lexicon groupBy, and the postings encode (the same two shuffles a
    resumed build pays); docmeta/docmap unions are scan+write with no
    shuffle. stats.json commits LAST (os.replace) so a crash mid-merge
    never leaves a dir that loads as a complete index."""
    with write_lock(out_dir):
        return _add_indexes_locked(spark, index_dirs, cfg, out_dir)


def _add_indexes_locked(spark, index_dirs, cfg, out_dir):
    if len(index_dirs) < 2:
        raise ValueError("add_indexes needs at least two source indexes")
    idxs = [InvertedIndex.load(spark, d, cfg) for d in index_dirs]
    codecs = {ix.codec for ix in idxs}
    if codecs != {cfg.codec}:
        raise ValueError(f"codec mismatch: sources {sorted(codecs)} vs cfg {cfg.codec!r}")

    n_sum = sum(ix.n_docs for ix in idxs)
    union_map = functools.reduce(
        DataFrame.unionByName, [ix.docmap for ix in idxs]
    )
    agg = union_map.agg(
        F.count_distinct("doc_id").alias("n_ids"),
        F.count_distinct("repo", "path", "commit").alias("n_keys"),
    ).collect()[0]
    if int(agg["n_ids"]) != n_sum or int(agg["n_keys"]) != n_sum:
        raise ValueError(
            f"source indexes overlap: {n_sum} docs but {agg['n_ids']} distinct "
            f"doc_ids / {agg['n_keys']} distinct keys — add_indexes does not "
            "merge versions (use the upsert/segment path for that)"
        )

    os.makedirs(out_dir, exist_ok=True)
    flat = _write_flat_run(
        spark,
        functools.reduce(
            DataFrame.unionByName, [ix.flat.select(*FLAT_COLS) for ix in idxs]
        ),
        cfg, out_dir, "run-merge",
    )

    # docmap + docmeta unions (per-doc rows are already final)
    union_map.write.mode("overwrite").parquet(os.path.join(out_dir, "docmap.parquet"))
    functools.reduce(
        DataFrame.unionByName,
        [
            ix.docmeta.select(
                "doc_id", "repo", "path", "commit", "lang", "sha256", "doc_len"
            )
            for ix in idxs
        ],
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "docmeta.parquet"))

    # exact merged stats — identical floats to a full rebuild
    total_dl = sum(ix.total_dl for ix in idxs)
    avgdl = (total_dl / n_sum) if n_sum else 0.0
    max_doc_id = max(ix.max_doc_id for ix in idxs)
    _write_lexicon_postings(flat, cfg, out_dir, n_sum, avgdl, max_doc_id)
    return _commit_index(spark, out_dir, cfg, n_sum, total_dl, avgdl, max_doc_id)


def delete_docs_by_query(
    spark: SparkSession,
    base_index_dir: str,
    query_text: str,
    cfg: IndexConfig,
    seg_name: str | None = None,
) -> str:
    """``IndexWriter.deleteDocuments(Query)`` analog (the reference's
    writer surface exposes it alongside the per-term delete its upsert
    uses, ``ChemicalIndex.java:801``): tombstone every LIVE doc whose
    analyzed content contains ALL of the query's tokens — the
    conjunctive containment law, the same match semantics as the
    engine's A1/Q5 conjunctive paths. A query that analyzes to zero
    tokens deletes nothing (an empty tombstone segment, idempotent).

    Scale shape: matches resolve INDEX-SIDE — pushed decoded-postings
    scan over the live view for just the query's terms, a
    countDistinct(term) == n filter, then the tombstone parquet is
    written straight from the distributed id set
    (:func:`_delete_ids_df`): a delete matching a billion docs never
    collects ids to the driver. The kill map that queries ship
    afterwards DOES grow with the match count — the
    ``MAX_KILL_PAIRS`` bound + ``maybe_compact`` policy apply (to the
    match resolution too: it decodes through the query path), so a
    corpus-scale delete should be followed by ``compact()``."""
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text
    from org_rdkit_lucene_spark.operators.query import decoded_postings

    prior = SegmentedIndex.load(spark, base_index_dir, cfg)
    words = sorted(set(tokenize_text(query_text, cfg.tokenizer)))
    if not words:
        ids = spark.createDataFrame([], "doc_id long")
    else:
        ids = (
            decoded_postings(prior, words)
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_hit"))
            .filter(F.col("n_hit") == len(words))
            .select("doc_id")
        )
    return _delete_ids_df(spark, base_index_dir, ids, cfg, seg_name)


def delete_docs_by_key(
    spark: SparkSession,
    base_index_dir: str,
    keys: list[tuple[str, str, str]],
    cfg: IndexConfig,
    seg_name: str | None = None,
) -> str:
    """Natural-key pure delete — ``deleteDocuments(pkField)`` without a
    pre-assigned integer id, the deletion twin of the natural-key
    upsert (``build_segment(id_col=None)``): resolve each
    ``(repo, path, commit)`` key against the LIVE view's docmeta (one
    broadcast join of the driver-sized key list against metadata-scale
    docmeta) and write the tombstone-only segment via
    :func:`delete_docs` (midpoint-ordinal safety law included).
    Unknown keys resolve to nothing — deletes are idempotent. Returns
    the segment dir."""
    prior = SegmentedIndex.load(spark, base_index_dir, cfg)
    kdf = F.broadcast(
        spark.createDataFrame(
            [(str(r), str(p), str(c)) for r, p, c in keys],
            "repo string, path string, commit string",
        )
    )
    ids = sorted(
        int(r["doc_id"])
        for r in prior.docmeta.join(kdf, ["repo", "path", "commit"], "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    )
    return delete_docs(spark, base_index_dir, ids, cfg, seg_name)
