"""Block-max WAND top-k kernel over compressed postings.

Replaces the reference's delegated Lucene top-k collector
(``TopScoreDocCollector`` call sites ``ChemicalIndex.java:486,631``;
bounded-heap + tie-break law in ``SubstructureHitQueue.java:98-118``
and the short-circuit "can't beat current k-th score" rule in
``SubstructureScoreDocCollector.java:76-84``).

Algorithm — batch-oriented block-max pruning (score-at-a-time variant
of block-max WAND, suited to Spark's shared-nothing execution):

1. The doc-id space is split into contiguous SHARDS. Every posting
   block is routed to each shard its [first_doc, last_doc] range
   overlaps; inside a shard only docs within the shard range are
   scored, so each doc is scored completely in exactly one shard (its
   postings for all query terms land there) and shard-local top-k is
   globally safe.
2. Per (query, shard) group the kernel sweeps block boundaries
   into elementary SEGMENTS. Each segment's upper bound is the sum of
   covering blocks' ``idf*qtf*max_tf_norm`` (the block-max metadata
   written at build time) — computable with NO block decoding.
3. Segments are processed in descending upper-bound order in BATCHES
   (vectorization unit: one decode+mask numpy pass per touched block
   per batch, not per segment — per-segment tiny-numpy-call overhead
   dominated batch-query latency), decoding each covering block at
   most once (cached), scoring docs exactly, and maintaining the
   running top-k threshold θ. A batch whose max quantized upper bound
   is strictly below the quantized θ cannot contribute — it and all
   remaining segments (sorted) are skipped wholesale. This is the
   WAND skip: hot-term blocks dominated by θ are never decoded.
   Batch-granular pruning is conservative, so results stay
   bit-identical to the per-segment sweep: admitted below-θ segments
   only add candidates the exact final top-k removes.
4. Shard-local top-k results merge globally with the K2 tie-break
   (score_q DESC, doc_id ASC).

Results are identical to the pure-DataFrame path (tested) — rank AND
quantized score. All kernel math is numpy over Arrow batches.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from org_rdkit_lucene_spark.functions.codecs import decode_blocks
from org_rdkit_lucene_spark.operators.build import InvertedIndex, empty_df
from org_rdkit_lucene_spark.operators.query import (
    RESULT_SCHEMA,
    dead_versions,
    tokenize_queries,
)


def _make_kernel(
    k1: float,
    b: float,
    avgdl: float,
    quant: int,
    conjunctive: bool,
    codec: str = "varbyte",
    kill: tuple[np.ndarray, np.ndarray] | None = None,
    after: dict[int, tuple[int, int]] | None = None,
):
    def shard_kernel(spdf: pd.DataFrame) -> pd.DataFrame:
        """One SHARD group holding every query's block rows: queries
        share a raw-decode cache (docs + query-independent tf_norm per
        physical block). Grouping is per (query, shard) — each group
        holds one query — fine groups balance better; the cache
        structure still pays off when one query's segments revisit a
        block."""
        raw_cache: dict[tuple, tuple] = {}

        outs = []
        for _, pdf in spdf.groupby("query_id", sort=False):
            out = query_kernel(pdf.reset_index(drop=True), raw_cache)
            if len(out):
                outs.append(out)
        if not outs:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int32"),
                 "doc_id": pd.Series(dtype="int64"),
                 "score_q": pd.Series(dtype="int64")}
            )
        return pd.concat(outs, ignore_index=True)

    def query_kernel(pdf: pd.DataFrame, raw_cache: dict) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        k = int(pdf["k"].iloc[0])
        n_terms = int(pdf["n_terms"].iloc[0])
        shard_lo = int(pdf["shard_lo"].iloc[0])
        shard_hi = int(pdf["shard_hi"].iloc[0])  # exclusive
        seg_ords = (
            pdf["seg_ord"].to_numpy(np.int64)
            if "seg_ord" in pdf.columns
            else np.zeros(len(pdf), dtype=np.int64)
        )

        # block table (clip ranges to shard)
        firsts = pdf["first_doc"].to_numpy(np.int64)
        lasts = pdf["last_doc"].to_numpy(np.int64)
        los = np.maximum(firsts, shard_lo)
        his = np.minimum(lasts + 1, shard_hi)  # exclusive
        ubs = (pdf["idf"].to_numpy(np.float64) * pdf["qtf"].to_numpy(np.float64)
               * pdf["max_tf_norm"].to_numpy(np.float64))
        term_codes = pd.factorize(pdf["term"])[0]

        # elementary segments from block boundaries
        bounds = np.unique(np.concatenate([los, his]))
        if len(bounds) < 2:
            return pd.DataFrame(columns=["query_id", "doc_id", "score_q"])
        seg_lo, seg_hi = bounds[:-1], bounds[1:]
        n_seg = len(seg_lo)
        # coverage via interval sweep: for each block add ub on [lo, hi)
        start_idx = np.searchsorted(bounds, los)
        end_idx = np.searchsorted(bounds, his)
        seg_ub = np.zeros(n_seg + 1)
        np.add.at(seg_ub, start_idx, ubs)
        np.add.at(seg_ub, end_idx, -ubs)
        seg_ub = np.cumsum(seg_ub[:-1])
        if conjunctive:
            # a segment not covered by all query terms can't produce a hit
            cover = np.zeros((n_seg + 1,), dtype=np.int64)
            per_term_cover = np.zeros(n_seg, dtype=np.int64)
            for t in range(term_codes.max() + 1):
                m = term_codes == t
                cnt = np.zeros(n_seg + 1, dtype=np.int64)
                np.add.at(cnt, start_idx[m], 1)
                np.add.at(cnt, end_idx[m], -1)
                per_term_cover += np.cumsum(cnt[:-1]) > 0
            seg_ok = per_term_cover == n_terms
        else:
            seg_ok = seg_ub > 0

        order = np.argsort(-seg_ub, kind="stable")
        order = order[seg_ok[order]]

        decoded: dict[int, tuple] = {}
        idfs = pdf["idf"].to_numpy(np.float64)
        qtfs = pdf["qtf"].to_numpy(np.float64)
        terms_arr = pdf["term"].to_numpy()
        block_ids = pdf["block_id"].to_numpy(np.int64)
        doc_bytes_arr = pdf["doc_bytes"].to_numpy()
        tf_bytes_arr = pdf["tf_bytes"].to_numpy()
        dl_bytes_arr = pdf["dl_bytes"].to_numpy()
        ns_arr = pdf["n"].to_numpy(np.int64)

        def ensure_decoded(bis: np.ndarray) -> None:
            """Decode every not-yet-decoded block of a sweep batch in
            ONE :func:`~..functions.codecs.decode_blocks` call —
            per-block decode calls were the kernel's dominant cost
            (~45µs numpy fixed overhead + pandas row access × 10⁵
            blocks). Kill filtering rides the same flat arrays."""
            to_decode = []
            for bi in bis:
                bi = int(bi)
                if bi in decoded:
                    continue
                key = (terms_arr[bi], int(block_ids[bi]), int(seg_ords[bi]))
                hit = raw_cache.get(key)
                if hit is None:
                    to_decode.append(bi)
                else:
                    decoded[bi] = (hit[0], qtfs[bi] * idfs[bi] * hit[1])
            if not to_decode:
                return
            idx = np.asarray(to_decode, dtype=np.int64)
            n_per = ns_arr[idx]
            docs_all, tfs, dls, ok = decode_blocks(
                firsts[idx], n_per, doc_bytes_arr[idx], tf_bytes_arr[idx],
                dl_bytes_arr[idx], codec,
            )
            if not ok.all():
                raise ValueError("postings block payload counts disagree with n")
            tfs, dls = tfs.astype(np.float64), dls.astype(np.float64)
            n_kept = n_per
            if kill is not None:
                # drop tombstoned versions (one kill law, shared with
                # the DataFrame path's decode batch)
                dead = dead_versions(kill, docs_all, np.repeat(seg_ords[idx], n_per))
                if dead.any():
                    keep = ~dead
                    block_of_el = np.repeat(np.arange(len(idx)), n_per)[keep]
                    docs_all, tfs, dls = docs_all[keep], tfs[keep], dls[keep]
                    n_kept = np.bincount(block_of_el, minlength=len(idx))
            tf_norm_all = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
            bnd = np.concatenate(([0], np.cumsum(n_kept)))
            for j, bi in enumerate(to_decode):
                d = docs_all[bnd[j] : bnd[j + 1]]
                t = tf_norm_all[bnd[j] : bnd[j + 1]]
                key = (terms_arr[bi], int(block_ids[bi]), int(seg_ords[bi]))
                raw_cache[key] = (d, t)
                decoded[bi] = (d, qtfs[bi] * idfs[bi] * t)

        # Segment sweep runs in BATCHES of descending-ub segments.
        # θ-pruning at batch granularity is strictly conservative: a
        # batch whose MAX ub is below θ is skipped wholesale (every
        # segment in it is below θ too, since batches follow the ub
        # order); a batch admitted because its head beats θ may score
        # tail segments the per-segment sweep would have skipped — but
        # those docs score below θ and the exact final top-k removes
        # them, so results are bit-identical while the Python loop
        # count drops ~B×. (The per-segment sweep's tiny-numpy-call
        # overhead, ~30µs/segment, dominated batch-query latency:
        # 40-query disjunctive batch 19s → the decode itself is ms.)
        # block b covers segments start_idx[b] .. end_idx[b]-1; build
        # flat (block, segment) pair arrays once (vectorized arange).
        pair_counts = end_idx - start_idx
        block_of_pair = np.repeat(np.arange(len(los)), pair_counts)
        cum = np.concatenate([[0], np.cumsum(pair_counts)[:-1]])
        seg_of_pair = (
            np.arange(int(pair_counts.sum())) - np.repeat(cum, pair_counts)
        ) + np.repeat(start_idx, pair_counts)

        top_docs = np.empty(0, dtype=np.int64)
        top_scores = np.empty(0, dtype=np.int64)
        theta_q = None
        # Exponential batch ramp ("galloping"): early batches stay
        # small so θ rises while pruning can still skip most of the
        # sweep; if pruning hasn't fired, each batch doubles, so the
        # no-skip worst case (uniform ubs, k ≈ candidate count) costs
        # O(log n_seg) python iterations instead of O(n_seg / B).
        batch_size = 64
        in_batch = np.zeros(n_seg, dtype=bool)
        pos = 0
        while pos < len(order):
            batch = order[pos : pos + batch_size]
            pos += batch_size
            batch_size = min(batch_size * 2, 65536)
            ub_q = math.floor(seg_ub[batch[0]] * quant + 0.5)
            if theta_q is not None and ub_q < theta_q:
                break  # order is ub-desc: all remaining segments pruned
            in_batch[:] = False
            in_batch[batch] = True
            needed = np.unique(block_of_pair[in_batch[seg_of_pair]])
            ensure_decoded(needed)
            parts = [decoded[int(bi)] for bi in needed]
            lens = np.fromiter((len(p[0]) for p in parts), np.int64, count=len(parts))
            if not lens.sum():
                continue
            dd_all = np.concatenate([p[0] for p in parts])
            cc_all = np.concatenate([p[1] for p in parts])
            tt_all = np.repeat(term_codes[needed], lens)
            segidx = np.searchsorted(bounds, dd_all, side="right") - 1
            valid = (segidx >= 0) & (segidx < n_seg)
            m = valid & in_batch[np.clip(segidx, 0, n_seg - 1)]
            if not m.any():
                continue
            dd = dd_all[m]
            cc = cc_all[m]
            tt = tt_all[m]
            uniq, inv = np.unique(dd, return_inverse=True)
            sums = np.zeros(len(uniq))
            np.add.at(sums, inv, cc)
            if conjunctive:
                nmatch = np.zeros(len(uniq), dtype=np.int64)
                # distinct terms per doc: (doc, term) pairs unique then count
                pair = inv.astype(np.int64) * (term_codes.max() + 1) + tt
                upair = np.unique(pair)
                np.add.at(nmatch, (upair // (term_codes.max() + 1)).astype(np.int64), 1)
                keep = nmatch == n_terms
                uniq, sums = uniq[keep], sums[keep]
            if len(uniq) == 0:
                continue
            sq = np.floor(sums * quant + 0.5).astype(np.int64)
            # keyset pagination (searchAfter, K5): admit only hits
            # STRICTLY after the cursor in the K2 total order BEFORE
            # heap insertion, so θ rises over page-N candidates and the
            # shard-local top-k is exact for the page (post-filtering
            # the finished heap would be unsound — page-1 docs would
            # occupy the k slots). Paging is query-agnostic, like the
            # reference collectors (SubstructureScoreDocCollector
            # .java:97-160).
            if after is not None and qid in after:
                a_sq, a_did = after[qid]
                keep_a = (sq < a_sq) | ((sq == a_sq) & (uniq > a_did))
                if not keep_a.all():
                    uniq, sq = uniq[keep_a], sq[keep_a]
                if len(uniq) == 0:
                    continue
            top_docs = np.concatenate([top_docs, uniq])
            top_scores = np.concatenate([top_scores, sq])
            # AMORTIZED truncation for large k: an exact (score desc,
            # doc asc) lexsort per segment is O(k log k) per segment —
            # at reference-scale k (10⁵-10⁶, LuceneBenchmark.java:358-364)
            # that dominates. Instead let the pool grow to 2k, truncate
            # exactly then (amortized O(log k)/candidate), and maintain
            # θ each segment via an O(n) partition — θ only needs the
            # k-th best SCORE (pruning is strict <, so score ties at θ
            # are still admitted and resolved by the final truncation).
            if len(top_docs) > 2 * k:
                sel = np.lexsort((top_docs, -top_scores))[:k]
                top_docs, top_scores = top_docs[sel], top_scores[sel]
            if len(top_docs) >= k:
                theta_q = int(np.partition(top_scores, -k)[-k])
        if len(top_docs) == 0:
            return pd.DataFrame(columns=["query_id", "doc_id", "score_q"])
        if len(top_docs) > k:  # exact shard-local top-k for the merge
            sel = np.lexsort((top_docs, -top_scores))[:k]
            top_docs, top_scores = top_docs[sel], top_scores[sel]
        return pd.DataFrame({"query_id": qid, "doc_id": top_docs, "score_q": top_scores})

    return shard_kernel


def search_wand(
    index: InvertedIndex,
    queries: list[tuple[int, str, int]],
    mode: str = "disjunctive",
    n_shards: int | None = None,
    after: dict[int, tuple[int, int]] | None = None,
) -> DataFrame:
    """Block-max WAND top-k; result-identical to :func:`query.search`.

    Queries' term blocks are broadcast-joined, routed to doc-range
    shards (parallelism without cross-shard score splitting), processed
    by the numpy kernel per (query, shard), then globally merged.

    ``after`` = {query_id: (after_score_q, after_doc_id)} — keyset
    pagination (searchAfter, K5): the kernel admits only hits strictly
    after the cursor in the K2 order, so page N is exact and θ-pruning
    still applies. Result-identical to ``search_after`` on the same
    workload (tested).

    The terms' idf merges into the broadcast query table on the driver
    (no lexicon join in the plan)."""
    if mode not in ("disjunctive", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    spark = index.spark
    qterms = tokenize_queries(queries, index.cfg.tokenizer)
    lex = index.lexicon_slice(qterms["term"].unique(), ("term", "idf"))
    qw = qterms.merge(lex, on="term")
    if len(qw) == 0:
        return empty_df(spark, RESULT_SCHEMA)
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    max_doc_id = index.max_doc_id if index.max_doc_id >= 0 else index.n_docs - 1
    shard_size = max(1, math.ceil((max_doc_id + 1) / n_shards))

    blocks = index.postings.filter(
        F.col("term").isin(qw["term"].unique().tolist())
    ).join(F.broadcast(spark.createDataFrame(qw)), "term")
    # route each block to every shard its doc range overlaps
    blocks = blocks.withColumn(
        "shard",
        F.explode(
            F.sequence(
                (F.col("first_doc") / F.lit(shard_size)).cast("int"),
                (F.col("last_doc") / F.lit(shard_size)).cast("int"),
            )
        ),
    ).withColumn("shard_lo", F.col("shard").cast("long") * F.lit(shard_size)).withColumn(
        "shard_hi", (F.col("shard").cast("long") + 1) * F.lit(shard_size)
    )

    p = index.cfg.bm25
    # segmented views expose delta-scale tombstones; broadcast them
    # into the kernel so dead versions never occupy top-k slots
    kill = index.kill_pairs() if hasattr(index, "kill_pairs") else None
    kernel = _make_kernel(
        p.k1, p.b, index.avgdl, 10**p.score_decimals, mode == "conjunctive",
        codec=getattr(index, "codec", "varbyte"), kill=kill, after=after,
    )
    # per-(query, shard) groups: measured faster than one-group-per-
    # shard with an internal query loop — the per-query segment sweep
    # (not block decode) dominates, and fine-grained groups let the
    # scheduler balance heavy (hot-term) queries across cores
    local = blocks.groupBy("query_id", "shard").applyInPandas(
        kernel, schema="query_id int, doc_id long, score_q long"
    )
    kmap = F.broadcast(
        spark.createDataFrame(qw[["query_id", "k"]].drop_duplicates("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        local.join(kmap, "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score_q")
    )
