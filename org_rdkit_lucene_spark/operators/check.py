"""Index integrity checking — Lucene ``CheckIndex`` analog.

The reference ships Lucene 3.6.1, whose ``CheckIndex`` tool walks an
index's segments validating doc counts, postings monotonicity and
per-term statistics; the engine's equivalent validates the on-disk
layout this package writes (stats.json / lexicon / postings / docmeta /
docmap) against the same class of invariants.

All checks are distributed aggregations over the index tables — only
per-check scalars reach the driver. ``deep=True`` additionally decodes
every posting block (the thorough mode, like CheckIndex without
``-fast``): doc ids must be strictly increasing inside each block and
inside the block's declared [first_doc, last_doc] envelope, and the
decoded tf sums must reproduce the lexicon's collection frequencies.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from org_rdkit_lucene_spark.functions.codecs import decode_blocks
from org_rdkit_lucene_spark.operators.build import read_table


def _deep_kernel(codec: str):
    """Per block: decoded Σtf and whether its payload counts match n;
    per batch: doc ids strictly increase inside every block and end at
    its ``last_doc`` (blocks whose counts fail are judged by that flag
    alone)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            docs, tfs, _, ok = decode_blocks(
                pdf["first_doc"], pdf["n"], pdf["doc_bytes"], pdf["tf_bytes"],
                pdf["dl_bytes"], codec,
            )
            n = pdf["n"].to_numpy(np.int64)[ok]
            ends = np.cumsum(n)
            rising = np.diff(docs) > 0
            rising[ends[:-1] - 1] = True  # steps across a block boundary
            block_tf = np.zeros(len(pdf), dtype=np.int64)
            block_tf[ok] = np.add.reduceat(tfs, ends - n)
            yield pd.DataFrame(
                {
                    "term": pdf["term"],
                    "block_tf": block_tf,
                    "counts_ok": ok,
                    "monotonic_ok": bool(rising.all()),
                    "range_ok": bool(
                        (docs[ends - 1] == pdf["last_doc"].to_numpy(np.int64)[ok]).all()
                    ),
                }
            )

    return kernel


def check_index(index, deep: bool = False) -> pd.DataFrame:
    """Validate an :class:`InvertedIndex`'s on-disk invariants
    (``CheckIndex`` analog). Returns a driver-sized pandas DataFrame
    ``(check, passed, detail)`` — one row per invariant; ``passed``
    all-True means the index is internally consistent.

    Shallow checks (metadata aggregations only):

    - stats.n_docs == |docmeta| == |docmap|; doc_ids distinct, in
      [0, stats.max_doc_id]
    - stats.total_dl == Σ docmeta.doc_len and avgdl = total_dl/N
    - lexicon/postings term sets identical; per-term Σ block n == df
    - per-term blocks non-overlapping and ordered (prev last_doc <
      next first_doc in block_id order); first_doc <= last_doc, n >= 1
    - idf reproduces ln(1 + (N - df + .5)/(df + .5)) bit-for-bit

    ``deep=True`` adds the decode pass: per-block gap/tf/dl payload
    counts match n, doc ids strictly increase into exactly [first_doc,
    last_doc], and per-term decoded Σtf == lexicon cf.
    """
    rows: list[tuple[str, bool, str]] = []

    def add(name: str, passed: bool, detail: str = "") -> None:
        rows.append((name, bool(passed), detail))

    n_meta, max_id, n_distinct, min_id, sum_dl = (
        index.docmeta.agg(
            F.count("*"),
            F.max("doc_id"),
            F.countDistinct("doc_id"),
            F.min("doc_id"),
            F.sum("doc_len"),
        ).collect()[0]
    )
    n_map = index.docmap.count()
    add("doc_count", n_meta == index.n_docs == n_map,
        f"stats={index.n_docs} docmeta={n_meta} docmap={n_map}")
    add("doc_ids_distinct", n_distinct == n_meta, f"distinct={n_distinct}")
    # empty index: min/max aggregate to None — an empty index passes the
    # range check iff its stats agree nothing was indexed
    add("doc_id_range",
        (min_id >= 0 and max_id == index.max_doc_id) if n_meta
        else index.max_doc_id < 0,
        f"min={min_id} max={max_id} stats_max={index.max_doc_id}")
    add("total_dl", int(sum_dl or 0) == index.total_dl
        and (n_meta == 0 or index.avgdl == index.total_dl / n_meta),
        f"sum_dl={sum_dl} stats_total_dl={index.total_dl} avgdl={index.avgdl}")

    agg = (
        index.postings.groupBy("term")
        .agg(F.sum("n").alias("sum_n"))
        .join(index.lexicon.select("term", "df", "cf", "idf"), "term", "full")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(F.when(F.col("sum_n").isNull() | F.col("df").isNull(), 1)
                  .otherwise(0)).alias("orphans"),
            F.sum(F.when(F.col("sum_n") != F.col("df"), 1).otherwise(0)).alias("df_bad"),
        )
        .collect()[0]
    )
    add("term_sets_match", agg["orphans"] == 0, f"orphans={agg['orphans']}")
    add("df_matches_blocks", (agg["df_bad"] or 0) == 0, f"bad={agg['df_bad']}")

    w = Window.partitionBy("term").orderBy("block_id")
    blk = (
        index.postings.select("term", "block_id", "first_doc", "last_doc", "n")
        .withColumn("prev_last", F.lag("last_doc").over(w))
        .agg(
            F.sum(F.when(F.col("first_doc") > F.col("last_doc"), 1).otherwise(0)).alias("bad_env"),
            F.sum(F.when(F.col("n") < 1, 1).otherwise(0)).alias("bad_n"),
            F.sum(F.when(F.col("prev_last") >= F.col("first_doc"), 1).otherwise(0)).alias("overlap"),
        )
        .collect()[0]
    )
    add("block_envelopes", (blk["bad_env"] or 0) == 0 and (blk["bad_n"] or 0) == 0,
        f"bad_env={blk['bad_env']} bad_n={blk['bad_n']}")
    add("blocks_ordered", (blk["overlap"] or 0) == 0, f"overlap={blk['overlap']}")

    n = index.n_docs
    idf_bad = (
        index.lexicon.withColumn(
            "idf_expect",
            F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + F.lit(0.5))
                  / (F.col("df") + F.lit(0.5))),
        )
        .filter(F.col("idf") != F.col("idf_expect"))
        .count()
    )
    add("idf_law", idf_bad == 0, f"bad={idf_bad}")

    if getattr(index, "has_positions", False):
        _check_positions(index.positions, index.flat, index.docmeta, add)

    if deep:
        codec = getattr(index, "codec", "varbyte")
        dec = index.postings.select(
            "term", "n", "first_doc", "last_doc", "doc_bytes", "tf_bytes", "dl_bytes"
        ).mapInPandas(
            _deep_kernel(codec),
            schema="term string, block_tf long, counts_ok boolean, "
                   "monotonic_ok boolean, range_ok boolean",
        )
        deep_agg = (
            dec.groupBy("term")
            .agg(
                F.sum("block_tf").alias("sum_tf"),
                F.min("counts_ok").alias("counts_ok"),
                F.min("monotonic_ok").alias("monotonic_ok"),
                F.min("range_ok").alias("range_ok"),
            )
            .join(index.lexicon.select("term", "cf"), "term")
            .agg(
                F.sum(F.when(F.col("sum_tf") != F.col("cf"), 1).otherwise(0)).alias("cf_bad"),
                F.min("counts_ok").alias("counts_ok"),
                F.min("monotonic_ok").alias("monotonic_ok"),
                F.min("range_ok").alias("range_ok"),
            )
            .collect()[0]
        )
        add("deep_payload_counts", bool(deep_agg["counts_ok"]), "")
        add("deep_docs_monotonic", bool(deep_agg["monotonic_ok"]), "")
        add("deep_block_ranges", bool(deep_agg["range_ok"]), "")
        add("deep_cf_matches", (deep_agg["cf_bad"] or 0) == 0,
            f"bad={deep_agg['cf_bad']}")

    return pd.DataFrame(rows, columns=["check", "passed", "detail"])


def _check_positions(positions, flat, docmeta, add) -> None:
    """Positional-postings invariants (the .prx cross-check CheckIndex
    runs when an index stores positions): the packed artifact must hold
    EXACTLY one position per analyzed token —

    - pair/tf parity: (term, doc, |poss|) == the flat table's
      (term, doc, tf), full-outer, zero mismatches;
    - per-doc coverage: Σ|poss| over a doc's pairs == dl, and the
      positions span exactly [0, dl) (min 0 via the first element of
      some pair, max dl-1);
    - each list strictly ascending (sorted + duplicate-free).

    All pair-volume aggregations; only scalars reach the driver."""
    from org_rdkit_lucene_spark.operators.positions import _as_packed

    packed = _as_packed(positions)
    pair_bad = (
        packed.select("term", "doc_id", F.size("poss").alias("np"))
        .join(flat.select("term", "doc_id", "tf"), ["term", "doc_id"], "full")
        .filter(
            F.col("np").isNull() | F.col("tf").isNull()
            | (F.col("np") != F.col("tf"))
        )
        .count()
    )
    add("positions_match_flat_tf", pair_bad == 0, f"bad_pairs={pair_bad}")

    dl = docmeta.select("doc_id", F.col("doc_len").cast("long").alias("dl"))
    doc_agg = (
        packed.groupBy("doc_id")
        .agg(
            F.sum(F.size("poss")).alias("n_pos"),
            F.min(F.element_at("poss", 1)).alias("min_pos"),
            F.max(F.element_at("poss", -1)).alias("max_pos"),
        )
        .join(dl, "doc_id", "full")
        .agg(
            # zero-token docs are VALID: docmeta keeps them with
            # doc_len=0 and they correctly have no positions rows, so
            # absent positions count as 0 and the span checks
            # (min=0, max=dl-1) gate on dl > 0 — without the gate a
            # corpus containing one empty-tokenizing doc reads as
            # corrupt (round-4 advice)
            F.sum(
                F.when(
                    F.col("dl").isNull()
                    | (F.coalesce(F.col("n_pos"), F.lit(0))
                       != F.coalesce(F.col("dl"), F.lit(-1)))
                    | (
                        (F.col("dl") > 0)
                        & ((F.col("min_pos") != 0)
                           | (F.col("max_pos") != F.col("dl") - 1))
                    ),
                    1,
                ).otherwise(0)
            ).alias("bad")
        )
        .collect()[0]
    )
    add("positions_cover_stream", (doc_agg["bad"] or 0) == 0,
        f"bad_docs={doc_agg['bad']}")

    unsorted = packed.filter(
        F.array_sort(F.array_distinct("poss")) != F.col("poss")
    ).count()
    add("positions_lists_ascending", unsorted == 0, f"bad_pairs={unsorted}")


def check_segmented(seg, deep: bool = False) -> pd.DataFrame:
    """``CheckIndex`` over a :class:`SegmentedIndex` — Lucene's checker
    walks every segment (its per-segment loop) and this does the same:
    the BASE index gets the full :func:`check_index` pass (rows
    prefixed ``base:``), every delta segment gets its own consistency
    block (``seg<i>:`` rows), and the MERGED live view gets the
    cross-segment invariants no single segment can express:

    - merged stats arithmetic: N == base.N + Σ(seg.n - seg.del_n), same
      for total_dl, and avgdl == total_dl/N;
    - exactly-one-live-version: after kill filtering every doc_id
      appears ONCE in the merged docmeta (the tombstone law's purpose);
    - tombstone reachability: every kill-map entry kills at least one
      version at an ordinal below it (a tombstone that kills nothing
      means the delete recorded a doc that never existed);
    - merged lexicon == live flat: per-term df/cf recomputed from the
      kill-filtered flat rows match the tombstone-corrected lexicon
      exactly (zero mismatching terms via a full outer comparison).

    Per segment (delta-scale, so a sequential loop like Lucene's): the
    tombstone file's row count vs stats.json; then, for segments that
    carry adds (a tombstone-only segment, ``n_docs == 0``, holds no
    add-side tables), stats.json vs docmeta count/Σdoc_len, lexicon
    df/cf vs the retained flat rows, and postings block sums vs
    lexicon df."""
    import json as _json
    import os as _os

    rows: list[tuple[str, bool, str]] = []

    def add(name: str, passed: bool, detail: str = "") -> None:
        rows.append((name, bool(passed), detail))

    base_report = check_index(seg.base, deep=deep)
    for r in base_report.itertuples(index=False):
        add(f"base:{r.check}", r.passed, r.detail)

    spark = seg.spark
    for i, d in enumerate(seg.segment_dirs):
        tag = f"seg{i}:{_os.path.basename(d)}"
        with open(_os.path.join(d, "stats.json")) as f:
            st = _json.load(f)
        dl_ids = _os.path.join(d, "deletes.parquet")
        if _os.path.isdir(dl_ids):
            ndel = read_table(spark, dl_ids, "deletes").count()
            add(f"{tag}:tombstone_count", ndel == st.get("del_n_docs", 0),
                f"file={ndel} stats={st.get('del_n_docs', 0)}")
        if st["n_docs"] == 0:
            continue  # tombstone-only segment: no add-side tables
        dm = read_table(spark, _os.path.join(d, "docmeta.parquet"), "docmeta")
        drow = dm.agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
            F.sum("doc_len").alias("dl"),
        ).collect()[0]
        add(f"{tag}:doc_count",
            int(drow["n"]) == st["n_docs"] == int(drow["nd"]),
            f"stats={st['n_docs']} docmeta={drow['n']} distinct={drow['nd']}")
        add(f"{tag}:total_dl", int(drow["dl"] or 0) == st["total_dl"],
            f"sum={drow['dl']} stats={st['total_dl']}")
        flat = read_table(spark, _os.path.join(d, "flat.parquet"), "flat")
        lex = read_table(
            spark, _os.path.join(d, "lexicon.parquet"), "segment_lexicon"
        )
        bad_lex = (
            flat.groupBy("term")
            .agg(F.count("*").alias("fdf"), F.sum("tf").alias("fcf"))
            .join(lex, "term", "full")
            .filter(
                F.col("fdf").isNull() | F.col("df").isNull()
                | (F.col("fdf") != F.col("df")) | (F.col("fcf") != F.col("cf"))
            ).count()
        )
        add(f"{tag}:lexicon_matches_flat", bad_lex == 0, f"bad_terms={bad_lex}")
        post = read_table(spark, _os.path.join(d, "postings.parquet"), "postings")
        bad_blocks = (
            post.groupBy("term").agg(F.sum("n").alias("bn"))
            .join(lex.select("term", "df"), "term", "full")
            .filter(
                F.col("bn").isNull() | F.col("df").isNull()
                | (F.col("bn") != F.col("df"))
            ).count()
        )
        add(f"{tag}:blocks_match_df", bad_blocks == 0, f"bad_terms={bad_blocks}")

    # merged stats arithmetic (driver ints vs the recomputed live view)
    live = seg.docmeta.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.sum("doc_len").alias("dl"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    add("merged:doc_count", int(live["n"]) == seg.n_docs,
        f"live={live['n']} stats={seg.n_docs}")
    add("merged:one_live_version", int(live["nd"]) == int(live["n"]),
        f"distinct={live['nd']} rows={live['n']}")
    add("merged:total_dl",
        int(live["dl"] or 0) == seg.total_dl
        and (seg.n_docs == 0 or seg.avgdl == seg.total_dl / seg.n_docs),
        f"sum={live['dl']} stats={seg.total_dl} avgdl={seg.avgdl}")
    add("merged:max_doc_id",
        (int(live["mx"]) <= seg.max_doc_id) if seg.n_docs else True,
        f"live_max={live['mx']} stats_max={seg.max_doc_id}")

    kill = seg.kill_map
    if kill is not None:
        versions = seg._union("docmeta", with_ord=True).select("doc_id", "seg_ord")
        unreachable = (
            kill.join(versions, "doc_id", "left")
            .groupBy("doc_id", "kill_ord")
            .agg(F.min("seg_ord").alias("min_ord"))
            .filter(F.col("min_ord").isNull() | (F.col("min_ord") >= F.col("kill_ord")))
            .count()
        )
        add("merged:tombstones_reachable", unreachable == 0,
            f"unreachable={unreachable}")

    bad_merged = (
        seg.live_flat()
        .groupBy("term")
        .agg(F.count("*").alias("fdf"), F.sum("tf").alias("fcf"))
        .join(seg.lexicon.select("term", "df", "cf"), "term", "full")
        .filter(
            F.col("fdf").isNull() | F.col("df").isNull()
            | (F.col("fdf") != F.col("df")) | (F.col("fcf") != F.col("cf"))
        ).count()
    )
    add("merged:lexicon_matches_live_flat", bad_merged == 0,
        f"bad_terms={bad_merged}")

    # merged positions: the kill-filtered packed union must hold exactly
    # the live corpus's analyzed stream (same law as the base check, but
    # against the tombstone-corrected flat/docmeta views)
    if seg.has_positions:
        _check_positions(
            seg.positions,
            seg.live_flat(),
            seg.docmeta,
            lambda n, p, d="": add(f"merged:{n}", p, d),
        )

    return pd.DataFrame(rows, columns=["check", "passed", "detail"])
