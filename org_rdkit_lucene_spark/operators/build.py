"""Index build pipeline — SPIMI runs, salted term merge, block encoding.

Reference analog: the reference delegates posting construction to
Lucene's ``IndexWriter`` (buffered docs → flushed sorted segments →
background merge; call sites ``ChemicalIndex.java:864-876``, flush on
``close(true)`` at ``:344``). This module provides the same capability
as a Spark job graph:

  stage 0  docmap          deterministic dense doc_id per (repo,path,commit)
  stage 1  flat runs       mapInPandas SPIMI: tokenize + per-doc tf — written
                           per build-partition, checkpoint-resumable (analog
                           of resume-from-PK, ``ChemicalIndex.java:248-270``)
  stage 2  docmeta/stats   doc_len, sha256(content) invariant, N, avgdl
  stage 3  lexicon         per-term df/cf/idf
  stage 4  postings        cold terms: single shuffle-by-term encode;
                           hot terms: salted (term, doc_id-range) runs merged
                           in a second pass — byte-identical output either way

All heavy paths are Arrow-batched pandas kernels or built-in Catalyst
expressions; no per-row Python.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.functions.codecs import encode_blocks
from org_rdkit_lucene_spark.functions.tokenizer import (
    batch_is_ascii,
    tokenize_flat_arrow_ascii,
    tokenize_texts,
)

FLAT_SCHEMA = "doc_id long, term string, tf int, dl int"
POSTINGS_SCHEMA = (
    "term string, block_id int, first_doc long, last_doc long, n int, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, max_tf_norm double, "
    "max_tf int, min_dl int"
)
# Every index table's schema as its writers produce it. Readers declare
# it (read_table): a bare ``spark.read.parquet`` starts one
# schema-inference Spark job per call. tests/test_declared_schemas.py
# checks the writers against this dict. positions.parquet is absent on
# purpose: legacy flat artifacts (pos, not poss) still need inference
# (positions._as_packed).
TABLE_SCHEMAS = {
    "docmap": "repo string, path string, commit string, doc_id long",
    "docmeta": (
        "doc_id long, repo string, path string, commit string, lang string, "
        "sha256 string, doc_len int"
    ),
    "lexicon": "term string, df long, cf long, idf double",
    "postings": POSTINGS_SCHEMA,
    "flat": FLAT_SCHEMA,
    "metrics": "stage string, detail int, seconds double",
    # segment-only tables: a segment lexicon has no idf (the view
    # derives it under the merged N); deletes are its tombstones
    "segment_lexicon": "term string, df long, cf long",
    "deletes": "doc_id long",
}
LEXICON_COLS = ("term", "df", "cf", "idf")


def read_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Read an index table under its declared schema — no inference job."""
    return spark.read.schema(TABLE_SCHEMAS[table]).parquet(path)


def empty_df(spark: SparkSession, schema: str) -> DataFrame:
    """An empty table of ``schema`` from a JVM-side ``range(0)``. An
    empty list or pandas frame would become a Python RDD, whose tasks
    each pay a Python worker's start-up cost (CLAUDE.md, fixed costs)."""
    fields = StructType.fromDDL(schema).fields
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
    )


def driver_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A driver-built table (tuples, or a pandas frame with ``schema``'s
    columns) as a LocalTableScan: non-empty pandas goes through Arrow
    into a local relation, so neither building nor scanning it starts a
    Python task. Empty input is :func:`empty_df`."""
    if len(rows) == 0:
        return empty_df(spark, schema)
    st = StructType.fromDDL(schema)
    if not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame(list(rows), columns=st.names)
    return spark.createDataFrame(rows, st)


# ---------------------------------------------------------------------------
# stage 0 — deterministic doc ids


def assign_doc_ids(corpus: DataFrame, partitions: int = 32) -> DataFrame:
    """Dense deterministic doc_id = global rank of (repo, path, commit).

    Scalable zipWithIndex: range-repartition on the natural key, sort
    within partitions, then add per-partition offsets computed from
    partition counts. The resulting rank is a pure function of the key
    set — independent of partition count or boundary sampling — which is
    what checkpoint-restart determinism requires (SURVEY §7.3: no
    ``monotonically_increasing_id`` in the index path).

    Reference analog: the stored unique ``pk`` field
    (``ChemicalIndex.java:95,814``); uniqueness enforced there by
    delete-then-add upsert (``:801``), here by a validation count.
    """
    keys = corpus.select("repo", "path", "commit")
    k2 = (
        keys.repartitionByRange(partitions, "repo", "path", "commit")
        .sortWithinPartitions("repo", "path", "commit")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["count"] for r in k2.groupBy("_pid").count().collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counter = -1
        for pdf in it:
            if len(pdf) == 0:
                continue
            if counter < 0:
                counter = offsets[int(pdf["_pid"].iloc[0])]
            out = pdf[["repo", "path", "commit"]].copy()
            out["doc_id"] = np.arange(counter, counter + len(pdf), dtype=np.int64)
            counter += len(pdf)
            yield out

    docmap = k2.mapInPandas(add_ids, schema="repo string, path string, commit string, doc_id long")
    return docmap


# ---------------------------------------------------------------------------
# stage 1 — SPIMI flat runs (tokenize + per-doc tf), checkpoint-resumable


def _make_spimi_fn(cfg: IndexConfig, with_positions: bool = False):
    """``with_positions``: the SAME tokenize pass also emits each
    (doc, term)'s ascending position list (the packed-positions law,
    ``operators/positions.py::_make_packed_fn``) as a delta+VByte
    ``poss_vb`` binary column on the flat rows — positions.parquet is then derived from the
    committed runs instead of re-tokenizing the corpus (round-4
    verdict #6: the separate positions build re-paid ~0.8× the index
    build's tokenize cost). ``read_flat`` projects the classic columns,
    so every downstream stage and the postings/lexicon/docmeta
    byte-equivalence contract are untouched."""
    profile = cfg.tokenizer
    max_consec = cfg.max_consecutive_errors

    def spimi(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        consecutive_errors = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            # fast path: ASCII batches tokenize entirely in Arrow C++
            # kernels (no per-token Python objects — the allocation
            # churn that throttles multi-worker scaling); byte-identical
            # to the canonical pipeline for ASCII input (tested).
            # Non-ASCII batches and non-default analyzer profiles take
            # the canonical pandas path.
            if profile.arrow_fast_path_ok:
                try:
                    if batch_is_ascii(pdf["content"]):
                        out = _flat_arrow(pdf, profile, with_positions)
                        if out is not None:
                            yield out
                        consecutive_errors = 0
                        continue
                except Exception:
                    pass  # fall through to the canonical path
            try:
                toks = tokenize_texts(pdf["content"], profile)
                consecutive_errors = 0
            except Exception:
                # error-tolerant map (ChemicalIndex.java:280-292): retry
                # row-at-a-time, null out bad rows, abort past the budget
                vals = []
                for v in pdf["content"]:
                    try:
                        vals.append(tokenize_texts(pd.Series([v]), profile).iloc[0])
                        consecutive_errors = 0
                    except Exception:
                        vals.append([])
                        consecutive_errors += 1
                        if consecutive_errors > max_consec:
                            raise RuntimeError(
                                f"aborting: >{max_consec} consecutive tokenize failures"
                            )
                toks = pd.Series(vals, index=pdf.index)
            lens = toks.map(len).to_numpy(np.int64)
            n_tok = int(lens.sum())
            if n_tok == 0:
                continue
            # per-(doc, term) tf via factorize + np.unique on a composite
            # int key — ~10x faster than a multi-key object-dtype
            # groupby, and int sorts stay cache-friendly under 32-way
            # process parallelism where object-comparison sorts collapse
            # (measured: 9.2s -> 1.0s per 4k-doc batch). dl and
            # build_part are functions of the doc, mapped back after.
            doc_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            terms = np.concatenate([np.asarray(t, dtype=object) for t in toks if len(t)])
            codes, uniques = pd.factorize(terms)
            key = doc_idx * np.int64(len(uniques)) + codes
            if with_positions:
                uk, tf, poss = _group_positions(key, lens, doc_idx)
            else:
                uk, tf = np.unique(key, return_counts=True)
                poss = None
            g_doc = (uk // len(uniques)).astype(np.int64)
            g_code = (uk % len(uniques)).astype(np.int64)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(np.int64)[g_doc],
                    "term": uniques[g_code],
                    "tf": tf.astype(np.int32),
                    "dl": lens.astype(np.int32)[g_doc],
                    "build_part": pdf["build_part"].to_numpy(np.int32)[g_doc],
                }
            )
            if poss is not None:
                out["poss_vb"] = poss
            yield out

    return spimi


def _group_positions(
    key: np.ndarray, lens: np.ndarray, doc_idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray, pd.Series]:
    """Per-(doc, term) ascending position lists over the 0-based
    post-analysis stream — the packed-positions law (stable sort on the
    composite key keeps each list ascending, identical to
    ``positions._make_packed_fn``). Returns (sorted unique keys, tf
    counts, poss_vb bytes series aligned to the keys): each list is
    delta + VByte encoded (first value absolute) — the run-file
    representation. An ``array<long>`` poss column measured 715 MB of
    run files at 204k docs (vs ~250 MB without positions) and the
    np.split into per-row object arrays dominated the map stage;
    segmented VByte + zero-copy Arrow binary assembly cuts both."""
    import pyarrow as pa

    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    pos = np.arange(len(doc_idx), dtype=np.int64) - offs[doc_idx]
    order = np.argsort(key, kind="stable")
    sk = key[order]
    bounds = np.flatnonzero(np.diff(sk)) + 1
    starts = np.concatenate(([0], bounds))
    uk = sk[starts]
    tf = np.diff(np.concatenate((starts, [len(sk)])))
    from org_rdkit_lucene_spark.operators.positions import (
        vb_encode_positions,
    )

    arr = vb_encode_positions(pos[order], tf)
    # ArrowDtype keeps the column an Arrow buffer end-to-end — the
    # pandas->Arrow hop in mapInPandas would otherwise materialize one
    # Python bytes object per (doc, term) row
    return uk, tf, pd.Series(arr, dtype=pd.ArrowDtype(pa.binary()))


def spark_parallelism(df: DataFrame) -> int:
    """Current session's target task parallelism (defaultParallelism =
    total cores in local mode / executor slots on a cluster)."""
    return int(df.sparkSession.sparkContext.defaultParallelism)


def _flat_arrow(
    pdf: pd.DataFrame, profile, with_positions: bool = False
) -> pd.DataFrame | None:
    """Arrow-native flat aggregation for one ASCII batch: tokenize in
    C++ kernels, dictionary-encode terms, tf via np.unique on the
    (doc, term-code) composite key. Same output as the pandas path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_idx, flat, counts = tokenize_flat_arrow_ascii(pdf["content"], profile)
    if len(doc_idx) == 0:
        return None
    denc = pc.dictionary_encode(flat)
    codes = denc.indices.to_numpy().astype(np.int64)
    uniq = denc.dictionary
    key = doc_idx * np.int64(len(uniq)) + codes
    if with_positions:
        uk, tf, poss = _group_positions(key, counts, doc_idx)
    else:
        uk, tf = np.unique(key, return_counts=True)
        poss = None
    g_doc = (uk // len(uniq)).astype(np.int64)
    g_code = (uk % len(uniq)).astype(np.int64)
    out = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(np.int64)[g_doc],
            "term": uniq.take(pa.array(g_code)).to_pandas().to_numpy(object),
            "tf": tf.astype(np.int32),
            "dl": counts.astype(np.int32)[g_doc],
            "build_part": pdf["build_part"].to_numpy(np.int32)[g_doc],
        }
    )
    if poss is not None:
        out["poss_vb"] = poss
    return out


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def _read_manifest(index_dir: str) -> dict:
    p = _manifest_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"completed_parts": [], "part_lineage": {}, "finalized": False}


def _write_manifest(index_dir: str, manifest: dict) -> None:
    tmp = _manifest_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(index_dir))


def flat_run_dirs(index_dir: str, manifest: dict | None = None) -> list[str]:
    """Flat run directories REFERENCED BY THE MANIFEST — the only runs
    that may be read. A run dir on disk but absent from the manifest's
    ``part_lineage`` (e.g. a write that committed ``_SUCCESS`` right
    before a crash that lost the manifest update) is an orphan: reading
    it would double-count its parts after a resume rebuilds them into a
    new run. Orphans are deleted by :func:`build_flat_runs` cleanup."""
    manifest = manifest if manifest is not None else _read_manifest(index_dir)
    runs = sorted(
        {v["run_dir"] for v in manifest["part_lineage"].values() if v.get("run_dir")}
    )
    return [os.path.join(index_dir, "flat", r) for r in runs]


def read_flat(spark: SparkSession, index_dir: str, manifest: dict | None = None) -> DataFrame:
    """Read the flat (doc_id, term, tf, dl) table from exactly the
    manifest-recorded run dirs (see :func:`flat_run_dirs`)."""
    dirs = flat_run_dirs(index_dir, manifest)
    reader = spark.read.schema(FLAT_SCHEMA)
    if not dirs:  # legacy manifest without run_dir lineage
        return reader.option("recursiveFileLookup", "true").parquet(
            os.path.join(index_dir, "flat")
        )
    return reader.parquet(*dirs)


def build_flat_runs(
    corpus_ids: DataFrame,
    cfg: IndexConfig,
    index_dir: str,
    only_parts: list[int] | None = None,
    with_positions: bool = False,
) -> dict:
    """Stage 1: write per-build-partition flat (doc_id, term, tf, dl) runs.

    ``build_part = pmod(xxhash64(key), P)`` is a pure function of the
    row, so any subset of partitions can be built, the job can die, and a
    resume completes only the missing partitions — the final index is
    byte-identical to an uninterrupted build (P1 analog,
    ``ChemicalIndex.java:248-270``). Lineage (rows, seconds) is recorded
    per partition in the manifest.
    """
    flat_dir = os.path.join(index_dir, "flat")
    manifest = _read_manifest(index_dir)
    done = set(manifest["completed_parts"])
    p = cfg.build_partitions
    todo = sorted((set(range(p)) - done) if only_parts is None else (set(only_parts) - done))
    if not todo:
        return manifest
    # one plain parquet RUN directory per invocation (build_part stays a
    # data column): a dynamic `partitionBy` write would force a per-task
    # sort + up-to-P concurrent writers per task, which dominated build
    # time at high parallelism. Commit model: parquet run write first,
    # manifest update (completed_parts + per-part run_dir lineage) last.
    # Crash cleanup therefore removes every run dir the manifest does
    # NOT reference — that covers both uncommitted writes (_SUCCESS
    # missing) and the nastier window where _SUCCESS landed but the
    # crash lost the manifest update: such a run's parts are still
    # "todo", a resume rebuilds them into a new run, and keeping the
    # orphan would double-count its postings. Downstream stages read
    # only manifest-referenced runs (read_flat), so resume stays
    # byte-exact at any only_parts grouping.
    recorded = {
        v.get("run_dir") for v in manifest["part_lineage"].values() if v.get("run_dir")
    }
    if os.path.isdir(flat_dir):
        for d in os.listdir(flat_dir):
            full = os.path.join(flat_dir, d)
            if d.startswith("run-") and d not in recorded:
                shutil.rmtree(full)
    import hashlib

    run_dir = os.path.join(
        flat_dir, "run-" + hashlib.sha1("-".join(map(str, todo)).encode()).hexdigest()[:10]
    )
    t0 = time.time()
    df = corpus_ids.withColumn(
        "build_part", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(p)).cast("int")
    )
    df = df.filter(F.col("build_part").isin([int(x) for x in todo]))
    # explicit ROUND-ROBIN repartition before the Python kernel:
    # (a) AQE would otherwise coalesce the post-join exchange by JVM
    # byte size and strangle tokenizer parallelism (rows are cheap in
    # bytes, heavy in Python work); (b) round-robin gives every task an
    # equal row count — hash-partitioning on the small-integer
    # build_part key would collide (balls-in-bins: ~1/e of tasks empty,
    # others doubled) and create stragglers. Mixing parts within a task
    # is safe: all todo parts land in ONE run dir whose visibility is
    # governed by the manifest update after the write — a retry deletes
    # any unreferenced run wholesale and rebuilds every todo part, so
    # per-task part mixing never splits resume granularity.
    n_tasks = max(len(todo), spark_parallelism(df))
    src = df.select("doc_id", "content", "build_part")
    # repartition ONLY when the scan doesn't already provide enough
    # partitions: shuffling the heavy content column costs more than it
    # balances when the source is many similar-size files (the normal
    # cluster case — maxPartitionBytes keeps scan partitions byte-
    # balanced, a good proxy for tokenizer work). Single-file/skewed
    # sources still get the even round-robin spread.
    if src.rdd.getNumPartitions() < n_tasks:
        src = src.repartition(n_tasks)
    run_schema = FLAT_SCHEMA + ", build_part int"
    if with_positions:
        # the run files carry the packed position lists alongside the
        # flat rows (read_flat projects them away); positions.parquet
        # derives from the runs with no second tokenize pass
        run_schema += ", poss_vb binary"
    flat = src.mapInPandas(_make_spimi_fn(cfg, with_positions), schema=run_schema)
    flat.write.mode("overwrite").parquet(run_dir)
    elapsed = time.time() - t0
    # per-partition lineage (north_star): rows + distinct docs per
    # build_part from the just-written run — a metadata-scale agg
    part_rows = {
        int(r["build_part"]): (int(r["rows"]), int(r["docs"]))
        for r in corpus_ids.sparkSession.read.schema(run_schema)
        .parquet(run_dir)
        .groupBy("build_part")
        .agg(F.count("*").alias("rows"), F.countDistinct("doc_id").alias("docs"))
        .collect()
    }
    manifest = _read_manifest(index_dir)
    manifest["completed_parts"] = sorted(set(manifest["completed_parts"]) | set(todo))
    for part in todo:
        rows, docs = part_rows.get(int(part), (0, 0))
        manifest["part_lineage"][str(part)] = {
            "seconds": round(elapsed / len(todo), 3),
            "flat_rows": rows,
            "docs": docs,
            "run_dir": os.path.basename(run_dir),
        }
    manifest["n_parts"] = p
    _write_manifest(index_dir, manifest)
    return manifest


# ---------------------------------------------------------------------------
# stage 4 — block encoding kernels


def _encode_term_arrays(
    term: str,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    cfg: IndexConfig,
    avgdl: float,
) -> list[tuple]:
    """Chunk one term's full sorted postings into independently-decodable
    blocks. Block-max metadata (``max_tf_norm``) replaces Lucene skip
    lists for WAND skipping (SURVEY §2.4 B3). ``max_tf``/``min_dl`` are
    also stored so a *safe* bound can be recomputed under a different
    corpus ``avgdl`` (incremental segments shift global stats; tf_norm
    is increasing in tf and decreasing in dl, so f(max_tf, min_dl)
    upper-bounds every member for any avgdl). The block layout is
    :func:`~..functions.codecs.encode_blocks`'s."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    tf_norm = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    cols = encode_blocks(docs, tfs, dls, tf_norm, cfg.block_size, cfg.codec)
    nb = len(cols["n"])
    return list(zip([term] * nb, range(nb), *cols.values()))


def _make_cold_encoder_arrow(cfg: IndexConfig, avgdl: float):
    """mapInArrow encoder over a term-partitioned, (term, doc_id)-sorted
    stream, consumed as raw Arrow batches — the term column never
    becomes Python objects (term boundaries are found on dictionary
    codes; one string materializes per term, not per row). Carries the
    trailing term across batches so a term spanning batches is encoded
    exactly once from its full list."""
    from pyspark.sql.pandas.types import to_arrow_schema

    # resolved on the driver: DDL parsing needs the JVM
    schema = to_arrow_schema(StructType.fromDDL(POSTINGS_SCHEMA))

    def _rows_to_rb(rows: list[tuple]):
        import pyarrow as pa

        cols = list(zip(*rows))
        return pa.record_batch(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
        )

    def encode(batches) -> Iterator:
        import pyarrow.compute as pc

        carry: tuple | None = None  # (term, docs, tfs, dls)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            gi = rb.schema.get_field_index
            terms = rb.column(gi("term"))
            denc = pc.dictionary_encode(terms)
            idx = denc.indices.to_numpy()
            dictv = denc.dictionary
            docs = rb.column(gi("doc_id")).to_numpy()
            tfs = rb.column(gi("tf")).to_numpy().astype(np.float64)
            dls = rb.column(gi("dl")).to_numpy().astype(np.float64)
            bounds = np.flatnonzero(idx[1:] != idx[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(idx)]))
            out_rows: list[tuple] = []
            for s, e in zip(starts, ends):
                term = dictv[idx[s]].as_py()
                run = (docs[s:e], tfs[s:e], dls[s:e])
                if carry is not None and carry[0] == term:
                    run = tuple(np.concatenate(p) for p in zip(carry[1:], run))
                elif carry is not None:
                    out_rows.extend(_encode_term_arrays(*carry, cfg, avgdl))
                carry = (term, *run)
            if out_rows:
                yield _rows_to_rb(out_rows)
        if carry is not None:
            yield _rows_to_rb(_encode_term_arrays(*carry, cfg, avgdl))

    return encode


def _make_run_builder():
    """applyInPandas phase 1 for hot terms: one (term, salt) group →
    one compact raw run (sorted doc/tf/dl arrays as binary)."""

    def build_run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        return pd.DataFrame(
            {
                "term": [pdf["term"].iloc[0]],
                "salt": [int(pdf["salt"].iloc[0])],
                "n": [len(pdf)],
                "docs_raw": [pdf["doc_id"].to_numpy(np.int64).tobytes()],
                "tfs_raw": [pdf["tf"].to_numpy(np.int32).tobytes()],
                "dls_raw": [pdf["dl"].to_numpy(np.int32).tobytes()],
            }
        )

    return build_run


def _make_hot_encoder(cfg: IndexConfig, avgdl: float):
    """applyInPandas phase 2 for hot terms: concatenate per-salt runs in
    salt order (salts are doc_id ranges ⇒ concatenation is globally
    sorted) and block-encode — byte-identical to an unsalted build."""
    cols = StructType.fromDDL(POSTINGS_SCHEMA).names

    def merge_runs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("salt")
        docs = np.concatenate([np.frombuffer(x, dtype=np.int64) for x in pdf["docs_raw"]])
        tfs = np.concatenate([np.frombuffer(x, dtype=np.int32) for x in pdf["tfs_raw"]]).astype(np.float64)
        dls = np.concatenate([np.frombuffer(x, dtype=np.int32) for x in pdf["dls_raw"]]).astype(np.float64)
        rows = _encode_term_arrays(pdf["term"].iloc[0], docs, tfs, dls, cfg, avgdl)
        return pd.DataFrame(rows, columns=cols)

    return merge_runs


# Sorted by term, a lexicon row group covers one term range: a one-term
# slice of a 10^7-term lexicon (81 groups) reads 22 ms, not 290 ms.
LEXICON_ROW_GROUP_BYTES = 2 << 20


def write_lexicon(flat: DataFrame, n_docs: int, path: str) -> None:
    """Stage 3: per-term df/cf from the flat rows, idf under ``n_docs``
    (:func:`idf_col`), written sorted by term in small row groups — the
    layout :meth:`InvertedIndex.lexicon_slice` prunes on (Lucene's
    sorted terms dictionary)."""
    lex = flat.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    lex.withColumn("idf", idf_col(n_docs)).orderBy("term").write.option(
        "parquet.block.size", LEXICON_ROW_GROUP_BYTES
    ).mode("overwrite").parquet(path)


def read_hot_terms(lexicon_path: str, cfg: IndexConfig) -> list[str]:
    """Terms with df ≥ ``cfg.hot_term_df``, read with pyarrow on the
    driver (the hot set is tiny by construction; no Spark job)."""
    import pyarrow.parquet as pq

    return pq.read_table(
        lexicon_path, columns=["term"], filters=[("df", ">=", cfg.hot_term_df)]
    ).column("term").to_pylist()


def idf_col(n_docs: int):
    """BM25 idf of the ``df`` column over ``n_docs`` docs — the one idf
    law every lexicon (build, fold, segmented view) is written with."""
    df = F.col("df")
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df + F.lit(0.5)) / (df + F.lit(0.5)))


def encode_postings(
    flat: DataFrame,
    cfg: IndexConfig,
    avgdl: float,
    max_doc_id: int,
    hot_terms: list[str],
) -> DataFrame:
    """Stage-4 block encoding as a reusable plan: cold terms via one
    term-shuffle + mapInArrow encode; hot terms via the salted two-pass
    (doc_id-range salts concatenate in order ⇒ byte-identical to an
    unsalted build). Used by the batch build and by compaction."""
    p = cfg.build_partitions
    hot_df = None
    if hot_terms and len(hot_terms) > cfg.hot_broadcast_threshold:
        # past the literal-list threshold an `isin` would inline
        # thousands of literals into the plan (bloating analysis and
        # losing nothing by switching): broadcast-join the hot-term set
        # instead — same rows, plan stays O(1) in hot-set size.
        hot_df = F.broadcast(
            driver_df(flat.sparkSession, [(t,) for t in hot_terms], "term string")
        )
        cold = flat.join(hot_df, "term", "left_anti")
    elif hot_terms:
        cold = flat.filter(~F.col("term").isin(hot_terms))
    else:
        cold = flat
    cold_blocks = (
        cold.repartition(p, "term")
        .sortWithinPartitions("term", "doc_id")
        .mapInArrow(_make_cold_encoder_arrow(cfg, avgdl), schema=POSTINGS_SCHEMA)
    )
    if not hot_terms:
        return cold_blocks
    # salt = doc_id range bucket → per-salt runs concatenate in order
    bucket = max(1, math.ceil((max_doc_id + 1) / cfg.n_salts))
    if hot_df is not None:
        hot_src = flat.join(hot_df, "term", "left_semi")
    else:
        hot_src = flat.filter(F.col("term").isin(hot_terms))
    hot = hot_src.withColumn("salt", (F.col("doc_id") / F.lit(bucket)).cast("int"))
    runs = hot.groupBy("term", "salt").applyInPandas(
        _make_run_builder(),
        schema="term string, salt int, n long, docs_raw binary, tfs_raw binary, dls_raw binary",
    )
    hot_blocks = runs.groupBy("term").applyInPandas(
        _make_hot_encoder(cfg, avgdl), schema=POSTINGS_SCHEMA
    )
    return cold_blocks.unionByName(hot_blocks)


# ---------------------------------------------------------------------------
# the index handle


@dataclass
class InvertedIndex:
    spark: SparkSession
    index_dir: str
    n_docs: int
    avgdl: float
    cfg: IndexConfig
    total_dl: int = 0
    max_doc_id: int = -1
    codec: str = "varbyte"

    def _table(self, table: str) -> DataFrame:
        return read_table(
            self.spark, os.path.join(self.index_dir, f"{table}.parquet"), table
        )

    @property
    def docmap(self) -> DataFrame:
        return self._table("docmap")

    @property
    def docmeta(self) -> DataFrame:
        return self._table("docmeta")

    @property
    def lexicon(self) -> DataFrame:
        return self._table("lexicon")

    @property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @property
    def metrics(self) -> DataFrame:
        return self._table("metrics")

    def lexicon_slice(self, terms, cols=LEXICON_COLS) -> pd.DataFrame:
        """The lexicon rows of ``terms`` (``cols`` only), read on the
        driver with pyarrow: no Spark job, and the stored idf bytes as
        written. Only the row groups whose [min, max] term range holds
        a wanted term are read (pyarrow does not prune on ``isin``), so
        on a :func:`write_lexicon` layout the work grows with the
        query's terms, not with the vocabulary."""
        import bisect

        import pyarrow as pa
        import pyarrow.dataset as ds

        wanted = sorted(set(terms))

        def holds_wanted(st):  # a group without statistics is read
            return not st or bisect.bisect_right(
                wanted, st["max"]
            ) > bisect.bisect_left(wanted, st["min"])

        lex = ds.dataset(os.path.join(self.index_dir, "lexicon.parquet"))
        groups = [
            frag.subset(row_group_ids=[g.id])
            for frag in lex.get_fragments() for g in frag.row_groups
            if holds_wanted(g.statistics.get("term"))
        ]
        return ds.FileSystemDataset(
            groups, lex.schema, lex.format, lex.filesystem
        ).to_table(
            columns=list(cols),
            filter=ds.field("term").isin(pa.array(wanted, pa.string())),
        ).to_pandas()

    @property
    def has_positions(self) -> bool:
        return os.path.exists(
            os.path.join(self.index_dir, "positions.parquet", "_SUCCESS")
        )

    @property
    def positions(self) -> DataFrame:
        """The OPTIONAL positional-postings artifact (term, doc_id, pos)
        written by :func:`operators.positions.build_positions` — the
        .prx analog, deliberately outside the postings/lexicon/docmeta
        byte-equivalence contract. Same surface as
        :attr:`SegmentedIndex.positions` so phrase paths are
        polymorphic over monolithic and segmented indexes. PACKED
        (term, doc_id, poss) — every search path accepts it;
        row-view consumers apply ``positions.positions_view``."""
        return self.spark.read.parquet(
            os.path.join(self.index_dir, "positions.parquet")
        )

    @property
    def flat(self) -> DataFrame:
        """The flat (doc_id, term, tf, dl) table this index was encoded
        from — manifest-referenced run dirs only. Kept after the build;
        consumed by the segmented view's exact df/cf correction for
        tombstoned docs and by compaction."""
        return read_flat(self.spark, self.index_dir)

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None) -> "InvertedIndex":
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        return cls(
            spark,
            index_dir,
            stats["n_docs"],
            stats["avgdl"],
            cfg or IndexConfig(),
            total_dl=stats.get("total_dl", int(stats["avgdl"] * stats["n_docs"] + 0.5)),
            max_doc_id=stats.get("max_doc_id", stats["n_docs"] - 1),
            codec=stats.get("codec", "varbyte"),
        )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: IndexConfig,
    index_dir: str,
    only_parts: list[int] | None = None,
    validate_pk: bool = True,
    id_col: str | None = None,
    with_positions: bool = False,
) -> InvertedIndex | None:
    """Run the full build. With ``only_parts`` set, runs stage 1 for just
    those build partitions and returns None (partial build — call again
    without it to resume and finalize). Idempotent per stage.

    ``id_col``: optional column holding an externally-supplied unique
    integer doc id (analog of the reference's data-supplied ``pkField``,
    ``LuceneBenchmark.java:745-755``); when absent, dense ids are
    assigned deterministically by natural-key rank.

    ``with_positions``: also write the positional-postings artifact
    (``positions.parquet``) from the SAME tokenize pass as the flat
    runs — one corpus scan serves both (a separate
    :func:`operators.positions.build_positions` call re-tokenizes the
    whole corpus, ~0.8× the build cost again at sf0.1). The artifact
    stays OUTSIDE the postings/lexicon/docmeta byte-equivalence
    contract, same as a separately-built one.

    Runs under the index ``write.lock`` (Lucene's single-writer law):
    two concurrent builds into one directory would race the idempotent
    stage checkpoints; partial/resume calls are sequential acquires."""
    from org_rdkit_lucene_spark.lock import write_lock

    with write_lock(index_dir):
        return _build_index_locked(
            spark, corpus, cfg, index_dir, only_parts, validate_pk, id_col,
            with_positions,
        )


def _build_index_locked(
    spark, corpus, cfg, index_dir, only_parts, validate_pk, id_col,
    with_positions=False,
):
    os.makedirs(index_dir, exist_ok=True)
    metrics_rows: list[tuple] = []

    # -- stage 0: docmap (checkpointed: built exactly once)
    docmap_path = os.path.join(index_dir, "docmap.parquet")
    if not os.path.exists(os.path.join(docmap_path, "_SUCCESS")):
        t0 = time.time()
        if validate_pk:
            # ONE column-pruned aggregation job (count + distinct-count
            # together) instead of two corpus scans
            key = [id_col] if id_col else ["repo", "path", "commit"]
            # countDistinct over a STRUCT, not the bare columns: bare
            # countDistinct silently DROPS rows where any key column is
            # NULL, which made unique-but-NULL-keyed corpora fail the
            # uniqueness check with a misleading message. NULL keys are
            # rejected EXPLICITLY instead: every downstream natural-key
            # join (docmap attachment, upsert resolution) uses
            # null-unsafe equality, so a NULL-keyed row would silently
            # vanish from the index — failing loud here is the contract.
            row = corpus.select(*key).agg(
                F.count(F.lit(1)).alias("total"),
                F.countDistinct(F.struct(*key)).alias("distinct"),
                F.sum(
                    F.when(
                        functools.reduce(
                            lambda a, b: a | b, [F.col(c).isNull() for c in key]
                        ),
                        1,
                    ).otherwise(0)
                ).alias("n_null"),
            ).collect()[0]
            total, distinct = int(row["total"]), int(row["distinct"])
            if int(row["n_null"] or 0) > 0:
                raise ValueError(
                    f"primary key {key} contains NULLs in {row['n_null']} rows; "
                    "natural-key joins are null-unsafe, so NULL-keyed docs "
                    "cannot be indexed — filter or coalesce them first"
                )
            if total != distinct:
                raise ValueError(
                    f"primary key {key} not unique: {total} rows, {distinct} keys"
                )
        if id_col:
            docmap_df = corpus.select(
                "repo", "path", "commit", F.col(id_col).cast("long").alias("doc_id")
            )
        else:
            docmap_df = assign_doc_ids(corpus, cfg.build_partitions)
        docmap_df.write.mode("overwrite").parquet(docmap_path)
        metrics_rows.append(("docmap", -1, time.time() - t0))
    docmap = read_table(spark, docmap_path, "docmap")
    # consumed by both stage 1 (flat runs) and stage 2 (docmeta): persist
    # so the id attachment runs once. With a data-supplied id column the
    # id IS the row — no join needed (shuffling the full content column
    # on the natural key was pure overhead); only assigned-rank ids
    # require the corpus⨝docmap shuffle.
    # sha256(content) is computed HERE (the P4 invariant column) so it
    # materializes during the stage-1 pass that already reads every
    # content byte and lands in the persisted rows — stage 2 (docmeta)
    # then never re-reads the corpus or re-hashes.
    if id_col:
        corpus_ids = corpus.withColumn("doc_id", F.col(id_col).cast("long"))
        if id_col != "doc_id":  # don't drop the column we just created
            corpus_ids = corpus_ids.drop(id_col)
        corpus_ids = corpus_ids.withColumn(
            "sha256", F.sha2(F.col("content"), 256)
        ).persist()
    else:
        corpus_ids = (
            corpus.join(docmap, ["repo", "path", "commit"])
            .withColumn("sha256", F.sha2(F.col("content"), 256))
            .persist()
        )

    # -- stage 1: SPIMI flat runs (resumable)
    t0 = time.time()
    manifest = build_flat_runs(
        corpus_ids, cfg, index_dir, only_parts, with_positions=with_positions
    )
    metrics_rows.append(("flat_runs", len(manifest["completed_parts"]), time.time() - t0))
    if len(manifest["completed_parts"]) < cfg.build_partitions:
        corpus_ids.unpersist()
        return None  # partial build; resume later

    # -- stage 1b: positions artifact from the committed runs (shared
    # tokenize pass — no second corpus scan). Idempotent like every
    # stage; a resume whose earlier runs were written WITHOUT poss_vb
    # falls back to the standalone re-tokenizing builder rather than
    # failing the build.
    if with_positions:
        pos_path = os.path.join(index_dir, "positions.parquet")
        if not os.path.exists(os.path.join(pos_path, "_SUCCESS")):
            t0 = time.time()
            run_dirs = flat_run_dirs(index_dir, manifest)
            have_poss = bool(run_dirs) and all(
                "poss_vb" in spark.read.parquet(d).columns for d in run_dirs
            )
            if have_poss:
                pos = spark.read.parquet(*run_dirs).select(
                    "term", "doc_id", "poss_vb"
                )
                # 4x-task-slot partitions + term clustering + 8 MB row
                # groups — the exact physical shape build_positions
                # writes (its spill + pruning lessons). The VByte blobs
                # ride the shuffle (~6x fewer bytes than array<long>
                # rows); the decode to the packed array<long> artifact
                # runs AFTER the sort, order-preserving, so the term
                # clustering reaches the row groups.
                n_pos_parts = max(
                    4 * spark.sparkContext.defaultParallelism, 8
                )
                from org_rdkit_lucene_spark.operators.positions import (
                    vb_decode_fn,
                )

                pos.repartition(n_pos_parts, "term").sortWithinPartitions(
                    "term", "doc_id"
                ).mapInArrow(
                    vb_decode_fn(),
                    schema="term string, doc_id long, poss array<long>",
                ).write.mode("overwrite").option(
                    "parquet.block.size", 8 * 1024 * 1024
                ).parquet(pos_path)
            else:
                from org_rdkit_lucene_spark.operators.positions import (
                    build_positions,
                )

                build_positions(
                    spark, corpus_ids, index_dir, profile=cfg.tokenizer
                )
            metrics_rows.append(("positions", -1, time.time() - t0))

    # flat feeds three downstream stages (docmeta dl, lexicon, postings):
    # persist to avoid three parquet re-reads of the widest table.
    # Read ONLY manifest-referenced run dirs — never orphans (read_flat).
    flat = read_flat(spark, index_dir, manifest).persist()

    # -- stage 2: docmeta + stats (sha256 invariant via JVM-side sha2).
    # Corpus stats ride the SAME job via df.observe() — no separate
    # aggregation job, and scale-correct at any corpus size (the
    # observation is computed by the write job's tasks).
    docmeta_path = os.path.join(index_dir, "docmeta.parquet")
    stats_path = os.path.join(index_dir, "stats.json")
    if not os.path.exists(os.path.join(docmeta_path, "_SUCCESS")) or not os.path.exists(
        stats_path
    ):
        from pyspark.sql import Observation

        t0 = time.time()
        dl = flat.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
        obs = Observation("corpus_stats")
        docmeta = (
            corpus_ids.select(
                "doc_id", "repo", "path", "commit", "lang", "sha256"
            )
            .join(dl, "doc_id", "left")
            .withColumn("doc_len", F.coalesce(F.col("doc_len"), F.lit(0)))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").alias("total_dl"),
                F.max("doc_id").alias("max_id"),
            )
        )
        docmeta.write.mode("overwrite").parquet(docmeta_path)
        got = obs.get
        n = int(got["n"])
        total_dl = int(got["total_dl"] or 0)
        with open(stats_path, "w") as f:
            json.dump(
                {
                    "n_docs": n,
                    # avgdl from the EXACT integer token total: a merged
                    # multi-segment index recomputes the identical float
                    # (sum of per-segment total_dl / sum of n), keeping
                    # BM25 scores bit-identical to a full rebuild
                    "total_dl": total_dl,
                    "avgdl": (total_dl / n) if n else 0.0,
                    "max_doc_id": int(got["max_id"] if got["max_id"] is not None else -1),
                    "codec": cfg.codec,
                },
                f,
            )
        metrics_rows.append(("docmeta", -1, time.time() - t0))
    with open(stats_path) as f:
        stats = json.load(f)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    max_doc_id = stats.get("max_doc_id", n_docs - 1)

    # -- stage 3: lexicon with BM25 idf
    lexicon_path = os.path.join(index_dir, "lexicon.parquet")
    if not os.path.exists(os.path.join(lexicon_path, "_SUCCESS")):
        t0 = time.time()
        write_lexicon(flat, n_docs, lexicon_path)
        metrics_rows.append(("lexicon", -1, time.time() - t0))

    # -- stage 4: postings (cold: one shuffle; hot: salted two-pass)
    postings_path = os.path.join(index_dir, "postings.parquet")
    if not os.path.exists(os.path.join(postings_path, "_SUCCESS")):
        t0 = time.time()
        hot_terms = read_hot_terms(lexicon_path, cfg)
        blocks = encode_postings(flat, cfg, avgdl, max_doc_id, hot_terms)
        blocks.write.mode("overwrite").parquet(postings_path)
        metrics_rows.append(("postings", len(hot_terms), time.time() - t0))

    # -- metrics table (B6 analog: per-stage progress/lineage). Always
    # driver-sized (one row per stage) → written directly with pyarrow
    # instead of paying a Spark job for a five-row table.
    metrics_path = os.path.join(index_dir, "metrics.parquet")
    if metrics_rows:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(metrics_path, exist_ok=True)
        tbl = pa.table(
            {
                "stage": pa.array([s for s, _, _ in metrics_rows], pa.string()),
                "detail": pa.array([int(x) for _, x, _ in metrics_rows], pa.int32()),
                "seconds": pa.array([float(sec) for _, _, sec in metrics_rows], pa.float64()),
            }
        )
        pq.write_table(tbl, os.path.join(metrics_path, f"part-{uuid.uuid4().hex}.parquet"))

    corpus_ids.unpersist()
    flat.unpersist()
    manifest["finalized"] = True
    _write_manifest(index_dir, manifest)
    return InvertedIndex(
        spark, index_dir, n_docs, avgdl, cfg,
        total_dl=stats.get("total_dl", 0), max_doc_id=max_doc_id,
        codec=stats.get("codec", cfg.codec),
    )
