"""Positional postings — the indexed ``PhraseQuery`` path.

Lucene 3.6 stores term positions in the .prx file and PhraseQuery
walks them (the reference's phrase surface goes through
``MultiFieldQueryParser`` / the standard analyzer's positional field,
``ChemicalIndex.java:482-485``); the engine's two-phase path instead
verifies phrases by substring against STORED bodies
(``operators/query.py::search_two_phase``). This module adds the true
index-side alternative: a ``positions.parquet`` artifact written from
the analyzed token stream — PACKED ``(term, doc_id, poss)``, one row
per (term, doc) with the ascending position list, the .prx
posting-list shape — and a phrase search that never touches document
content:

    phrase w1..wn matches doc d at p  ⇔  (wi, d, p + i - 1) ∈ positions
                                      ⇔  p ∈ ⋂i (positions(wi, d) − i)

evaluated for a WHOLE query batch as one pushed ``term IN (...)``
scan + shifted ``array_intersect`` folds (JVM higher-order
functions). Ranking is the deterministic integer law (phrase
occurrence count DESC, doc_id ASC) — Lucene's PhraseQuery scores by
phrase freq; occurrence count is its exact integer core, so the
DuckDB twin agrees without float laws.

Scale shape: the packed table is (term, doc)-pair-sized (~15x under
token volume on the code corpus) and term-clustered with 8 MB row
groups, so a phrase batch reads only its words' row-group slices and
shuffles df-volume packed rows; hot words never explode into
occurrence rows. No stored bodies are read — at 100 TB the content
column never moves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text
from org_rdkit_lucene_spark.operators.build import driver_df, empty_df

POSITIONS_NAME = "positions.parquet"

# On-disk layout is PACKED — one row per (term, doc) with the ascending
# position list, the .prx posting-list shape. Every query-side consumer
# sees the EXPLODED (term, doc_id, pos) view via positions_view(); the
# packing is purely physical: the corpus averages ~15x more tokens than
# distinct (term, doc) pairs (measured 10.3M -> 0.70M rows at 5k docs),
# so packing shrinks the build shuffle and the artifact by that factor
# and stops repeating the term string per occurrence.
PACKED_SCHEMA = "term string, doc_id long, poss array<long>"


def positions_view(df: DataFrame) -> DataFrame:
    """Normalize a positions artifact to the (term, doc_id, pos) row
    view every search path consumes. Packed artifacts explode lazily —
    a pushed ``term = w`` predicate still reaches the parquet scan
    (the filter references only non-generated columns, so Catalyst
    pushes it below the Generate). Legacy flat artifacts pass through."""
    if "poss" not in df.columns:
        return df
    others = [c for c in df.columns if c != "poss"]
    return df.select(*others, F.explode("poss").alias("pos"))


PACKED_VB_SCHEMA = "term string, doc_id long, poss_vb binary"


def vb_encode_positions(ps_sorted, counts):
    """Zero-copy Arrow binary array of per-segment delta+VByte encoded
    position lists. ``ps_sorted`` concatenates every (doc, term)'s
    ascending positions; ``counts[i]`` is list i's length. First value
    absolute, then gaps — non-negative and VByte-small since lists
    ascend. Inverse: :func:`vb_decode_fn`."""
    import numpy as np
    import pyarrow as pa

    from org_rdkit_lucene_spark.functions.codecs import (
        varbyte_encode_segmented,
    )

    seg_starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=seg_starts[1:]) if len(counts) > 1 else None
    d = np.empty_like(ps_sorted)
    d[1:] = ps_sorted[1:] - ps_sorted[:-1]
    d[seg_starts] = ps_sorted[seg_starts]
    buf, boffs = varbyte_encode_segmented(d, counts)
    return pa.Array.from_buffers(
        pa.binary(),
        len(counts),
        [None, pa.py_buffer(boffs.astype(np.int32)), pa.py_buffer(buf)],
    )


def vb_decode_fn():
    """mapInArrow decoder: (term, doc_id, poss_vb) batches -> packed
    (term, doc_id, poss) batches. One vectorized VByte pass per batch
    (:func:`codecs.varbyte_decode_many`) + :func:`codecs.segmented_cumsum`
    to undo the per-list deltas + zero-copy ListArray assembly. Order-preserving,
    so an upstream term-clustering sort survives to the parquet row
    groups — this is why writers shuffle the COMPACT vb rows and decode
    after the sort (~6x fewer shuffle bytes than array<long> rows)."""

    def dec(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from org_rdkit_lucene_spark.functions.codecs import (
            segmented_cumsum,
            varbyte_decode_many,
        )

        out_schema = pa.schema(
            [
                pa.field("term", pa.string()),
                pa.field("doc_id", pa.int64()),
                pa.field("poss", pa.list_(pa.int64())),
            ]
        )
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            vb = rb.column(names.index("poss_vb"))
            deltas, counts = varbyte_decode_many(vb.to_pylist())
            offsets = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            absv = segmented_cumsum(deltas, counts)
            la = pa.LargeListArray.from_arrays(
                offsets, pa.array(absv, type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(rb.column(names.index("term")), pa.string()),
                    pc.cast(rb.column(names.index("doc_id")), pa.int64()),
                    pc.cast(la, pa.list_(pa.int64())),
                ],
                schema=out_schema,
            )

    return dec


def _make_packed_fn(profile, vb: bool = False):
    """mapInArrow producer: (doc_id, content) record batches -> packed
    (term, doc_id, poss) batches. ASCII batches tokenize entirely in
    Arrow C++ kernels (the build kernel's fast path — no per-token
    Python objects) straight off the record-batch column; non-ASCII
    and non-default profiles take the canonical pandas pipeline. The
    output list column is assembled ZERO-COPY via
    ``ListArray.from_arrays(offsets, values)`` — the earlier
    mapInPandas variant np.split into ~0.7M tiny object arrays per
    51k docs and paid pandas→Arrow conversion per list (measured 22s
    → 12s map-side). Positions are 0-based ordinals over the
    POST-analysis stream (the slop-law stream), grouped per
    (doc, term) with a stable sort so each list ascends.

    ``vb=True`` emits the lists as delta+VByte binary instead
    (:func:`vb_encode_positions`, schema :data:`PACKED_VB_SCHEMA`) —
    the writers' shuffle representation; :func:`vb_decode_fn` restores
    the packed law exactly."""
    import numpy as np
    import pandas as pd

    from org_rdkit_lucene_spark.functions.tokenizer import (
        batch_is_ascii,
        tokenize_flat_arrow_ascii,
        tokenize_texts,
    )

    def pack(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.schema(
            [
                pa.field("term", pa.string()),
                pa.field("doc_id", pa.int64()),
                pa.field("poss_vb", pa.binary())
                if vb
                else pa.field("poss", pa.list_(pa.int64())),
            ]
        )
        for rb in batches:
            if rb.num_rows == 0:
                continue
            content = rb.column(rb.schema.names.index("content"))
            doc_ids = (
                rb.column(rb.schema.names.index("doc_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if profile.arrow_fast_path_ok and batch_is_ascii(content):
                doc_idx, flat, counts = tokenize_flat_arrow_ascii(
                    content, profile
                )
                if len(doc_idx) == 0:
                    continue
                denc = pc.dictionary_encode(flat)
                codes = denc.indices.to_numpy().astype(np.int64)
                uniq = denc.dictionary
                n_uniq = len(uniq)
                take_terms = lambda g: pc.cast(uniq.take(pa.array(g)), pa.string())  # noqa: E731
            else:
                toks = tokenize_texts(content.to_pandas(), profile)
                lens = toks.map(len).to_numpy(np.int64)
                if int(lens.sum()) == 0:
                    continue
                doc_idx = np.repeat(
                    np.arange(rb.num_rows, dtype=np.int64), lens
                )
                counts = lens
                terms = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks if len(t)]
                )
                codes_, uniques = pd.factorize(terms)
                codes = codes_.astype(np.int64)
                n_uniq = len(uniques)
                take_terms = lambda g: pa.array(uniques[g], type=pa.string())  # noqa: E731
            offs = np.zeros(rb.num_rows + 1, dtype=np.int64)
            np.cumsum(counts, out=offs[1:])
            pos = np.arange(len(doc_idx), dtype=np.int64) - offs[doc_idx]
            key = doc_idx * np.int64(n_uniq) + codes
            order = np.argsort(key, kind="stable")  # stable => lists ascend
            sk = key[order]
            bounds = np.flatnonzero(np.diff(sk)) + 1
            starts = np.concatenate(([0], bounds))
            uk = sk[starts]
            g_doc = (uk // n_uniq).astype(np.int64)
            g_code = (uk % n_uniq).astype(np.int64)
            list_offsets = np.concatenate((starts, [len(sk)])).astype(np.int64)
            if vb:
                poss_col = vb_encode_positions(
                    pos[order], np.diff(list_offsets)
                )
            else:
                poss_arr = pa.LargeListArray.from_arrays(
                    list_offsets, pa.array(pos[order], type=pa.int64())
                )
                poss_col = pc.cast(poss_arr, pa.list_(pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [
                    take_terms(g_code),
                    pa.array(doc_ids[g_doc], type=pa.int64()),
                    poss_col,
                ],
                schema=out_schema,
            )

    return pack


def packed_positions_df(
    corpus: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    profile=None,
) -> DataFrame:
    """The packed positions DataFrame for a corpus (no layout, no
    write) — shared by the base build and the per-segment writer."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    src = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(content_col).cast("string").alias("content"),
    )
    return src.mapInArrow(_make_packed_fn(prof), schema=PACKED_SCHEMA)


def packed_vb_df(
    corpus: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    profile=None,
) -> DataFrame:
    """The VByte form of :func:`packed_positions_df` — same rows, lists
    encoded per :func:`vb_encode_positions`. Writers shuffle THIS frame
    and decode after the term-clustering sort (:func:`vb_decode_fn`),
    so the shuffle moves the compact blobs, not array<long> rows."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    src = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(content_col).cast("string").alias("content"),
    )
    return src.mapInArrow(_make_packed_fn(prof, vb=True), schema=PACKED_VB_SCHEMA)


def write_packed_positions(
    pos_df: DataFrame, out_path: str, min_parts: int = 8
) -> None:
    """The shared positions-artifact writer: term-clustered layout
    (repartition + sortWithinPartitions on term — parquet row-group
    min/max is the pruning unit), 4x-task-slot partition floor (the
    SPIMI wave-smoothing + reducer-spill lessons: slot-count
    partitions made reducer sorts spill super-linearly, 79s @204k ->
    392s @510k), 8 MB row groups.

    Accepts either the packed list form (``poss`` — written straight
    from the JVM sorter) or the VByte form (``poss_vb`` — decoded
    AFTER the sort via an order-preserving mapInArrow). The producers
    choose: tokenizing builders emit lists (an interleaved A/B at 204k
    measured the list pipeline 51s vs 72-91s for vb+decode — on one
    box the reduce-side Python round trip of the decoded table costs
    more than the local shuffle saves; on a real cluster with NETWORK
    shuffle the ~6x byte reduction of :func:`packed_vb_df` is the
    lever, which is why both forms stay supported); the one-pass index
    build derives from run files that already carry vb."""
    n_parts = max(
        4 * pos_df.sparkSession.sparkContext.defaultParallelism, min_parts
    )
    clustered = pos_df.repartition(n_parts, "term").sortWithinPartitions(
        "term", "doc_id"
    )
    if "poss_vb" in pos_df.columns:
        clustered = clustered.mapInArrow(vb_decode_fn(), schema=PACKED_SCHEMA)
    (
        clustered.write.mode("overwrite")
        .option("parquet.block.size", 8 * 1024 * 1024)
        .parquet(out_path)
    )


def build_positions(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    profile=None,
) -> DataFrame:
    """Write the positional postings artifact from the SAME analyzed
    token stream the index uses (0-based positions over the
    post-analysis stream — the slop-law stream). Idempotent: skips
    when already committed. Returns the PACKED frame (every search
    path here accepts it; row-view consumers use positions_view)."""
    out = os.path.join(index_dir, POSITIONS_NAME)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        # TERM-CLUSTERED layout (same law as postings): written in
        # corpus order every row group would span most of the
        # vocabulary and the pushed `term = w` predicate could never
        # skip a row group — each phrase word would re-read the whole
        # table. Repartition+sort by term makes the parquet min/max
        # stats selective, so a phrase query reads only its words'
        # slices at any corpus size.
        write_packed_positions(
            packed_positions_df(corpus, content_col, id_col, profile), out
        )
    return spark.read.parquet(out)


def load_positions(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, POSITIONS_NAME))


def search_phrase_positions(
    positions: DataFrame,
    queries: list[tuple[int, str, int]],
    profile=None,
) -> DataFrame:
    """Indexed PhraseQuery: top-k docs per query containing the exact
    analyzed phrase, ranked by occurrence count DESC then doc_id ASC
    (quantization-free — counts are exact integers). Queries whose
    phrase tokenizes empty return no rows; single-token phrases
    degenerate to term-occurrence counting.

    Plan for the WHOLE batch (not per query): the census-routed
    :func:`_phrase_occurrences` core —

        phrase w1..wn starts at p  ⇔  ∀i: (wi, d, p+i-1) ∈ positions
        ⇔  p ∈ ⋂i (positions(wi, d) - i)

    — pushed ``term IN`` scans of the PACKED table, the shifted
    ``array_intersect`` fold per (query, doc), and selectivity-driven
    shortcuts (absent-word drop, single-word fast path, rare-word
    doc-set prefilter). Hot phrase words never explode into occurrence
    rows. A legacy FLAT artifact (term, doc_id, pos) is packed on the
    fly (one extra shuffle)."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    spark = positions.sparkSession
    word_rows: list[tuple[int, str, int]] = []
    meta_rows: list[tuple[int, int, int]] = []
    for qid, text, k in queries:
        words = tokenize_text(text, prof)
        if not words:
            continue
        meta_rows.append((int(qid), len(words), int(k)))
        word_rows.extend((int(qid), w, i) for i, w in enumerate(words))
    if not meta_rows:
        return empty_df(spark, "query_id int, rank int, doc_id long, n_occ long")
    meta = F.broadcast(
        driver_df(
            spark, [(q, k) for q, _n, k in meta_rows], "query_id int, k int"
        )
    )
    occ = _phrase_occurrences(positions, word_rows).withColumnRenamed(
        "group_id", "query_id"
    ).join(meta, "query_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        occ.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", F.col("n_occ").cast("long").alias("n_occ"))
    )


# rarest-word doc-set prefilter cap: the broadcast semi-join only pays
# when the rarest word's doc set is genuinely SELECTIVE — on the dense
# code corpus (every sub-word in most docs) a ~200k-doc-set prefilter
# measured slower than the plain fold (broadcast collect + semi-join
# overhead, near-zero pruning). 100k ids ~ 1 MB broadcast, strong
# pruning whenever it applies.
MAX_PREFILTER_PAIRS = 100_000


def _phrase_occurrences(
    positions: DataFrame,
    word_rows: list[tuple[int, str, int]],
    max_prefilter_pairs: int = MAX_PREFILTER_PAIRS,
) -> DataFrame:
    """Shared exact-phrase core: ``word_rows`` =
    [(group_id, word, slot_idx)] -> (group_id, doc_id, n_occ) for docs
    holding the group's full phrase (n_occ >= 1 = number of start
    positions). Routing comes from an EXACT per-word census (one
    pushed aggregation over the packed slices):

    - a group with a zero-occurrence word matches nothing — dropped
      driver-side (Lucene's empty-term PhraseQuery);
    - single-word groups: n_occ = |poss| straight off the pair row;
    - multi-word groups run the shifted-``array_intersect`` fold
      (:func:`_phrase_fold`), pre-filtered by a broadcast semi-join on
      the RAREST word's doc set when that set is small enough
      (df-volume ids, never positions): only docs that can possibly
      match shuffle their position arrays. A broadcast-VERIFY variant
      (explode rarest starts, check others via array_contains) was
      measured WORSE on hot sub-word phrases — array_contains is a
      linear scan per candidate, so verify cost is candidates x
      |poss|, while the fold's hash-set intersects stay linear in the
      moved positions.

    Accepts the packed artifact directly; a legacy flat
    (term, doc_id, pos) frame is packed first."""
    spark = positions.sparkSession
    packed = _as_packed(positions)
    all_words = sorted({r[1] for r in word_rows})
    # exact census: (pairs, occurrences) per phrase word (pushed scan)
    census = {
        r["term"]: (int(r["pairs"]), int(r["np"]))
        for r in packed.filter(F.col("term").isin(all_words))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("pairs"), F.sum(F.size("poss")).alias("np"))
        .collect()
    }
    slots: dict[int, list[tuple[str, int]]] = {}
    for g, w, i in word_rows:
        slots.setdefault(g, []).append((w, i))

    single_rows: list[tuple[int, str]] = []
    pre_groups: list[tuple[int, str]] = []   # (group, rarest word)
    pre_words: list[tuple[int, str, int]] = []
    pre_n: list[tuple[int, int]] = []
    plain_words: list[tuple[int, str, int]] = []
    plain_n: list[tuple[int, int]] = []
    for g, ws in sorted(slots.items()):
        if any(census.get(w, (0, 0))[0] == 0 for w, _ in ws):
            continue  # a missing word -> the phrase matches nothing
        if len(ws) == 1:
            single_rows.append((g, ws[0][0]))
            continue
        rare_w = min((w for w, _ in ws), key=lambda w: census[w][0])
        if census[rare_w][0] <= max_prefilter_pairs:
            pre_groups.append((g, rare_w))
            pre_words.extend((g, w, i) for w, i in ws)
            pre_n.append((g, len(ws)))
        else:
            plain_words.extend((g, w, i) for w, i in ws)
            plain_n.append((g, len(ws)))

    parts: list[DataFrame] = []
    if single_rows:
        st = F.broadcast(
            driver_df(spark, single_rows, "group_id int, term string")
        )
        parts.append(
            packed.filter(F.col("term").isin(sorted({w for _, w in single_rows})))
            .join(st, "term")
            .select(
                "group_id", "doc_id", F.size("poss").cast("long").alias("n_occ")
            )
        )
    if pre_words:
        pt = F.broadcast(
            driver_df(spark, pre_groups, "group_id int, term string")
        )
        pre = F.broadcast(
            packed.filter(
                F.col("term").isin(sorted({w for _, w in pre_groups}))
            )
            .join(pt, "term")
            .select("group_id", "doc_id")
        )
        parts.append(_phrase_fold(packed, pre_words, pre_n, prefilter=pre))
    if plain_words:
        parts.append(_phrase_fold(packed, plain_words, plain_n))
    if not parts:
        return empty_df(spark, "group_id int, doc_id long, n_occ long")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def _phrase_fold(
    packed: DataFrame,
    word_rows: list[tuple[int, str, int]],
    n_rows: list[tuple[int, int]],
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """The shifted-``array_intersect`` fold: group each doc's shifted
    position arrays per (group, doc), filter to full slot coverage
    BEFORE folding (most docs match only some words), count the fold's
    surviving starts. Shifted positions travel as array<int> (document
    positions fit easily; halves the shuffle bytes of hot-word
    batches). ``prefilter`` (group_id, doc_id — the rarest word's doc
    set, broadcast) prunes the shuffle to docs that can match."""
    spark = packed.sparkSession
    wt = F.broadcast(
        driver_df(spark, word_rows, "group_id int, term string, idx int")
    )
    nw = F.broadcast(driver_df(spark, n_rows, "group_id int, n_words int"))
    all_words = sorted({r[1] for r in word_rows})
    shifted = (
        packed.filter(F.col("term").isin(all_words))
        .join(wt, "term")
        .select(
            "group_id",
            "doc_id",
            F.transform(
                "poss", lambda p: (p - F.col("idx")).cast("int")
            ).alias("sh"),
        )
    )
    if prefilter is not None:
        shifted = shifted.join(prefilter, ["group_id", "doc_id"], "semi")
    g = (
        shifted.groupBy("group_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_idx"),
            F.collect_list("sh").alias("arrs"),
        )
        .join(nw, "group_id")
        .filter(F.col("n_idx") == F.col("n_words"))
    )
    starts = F.aggregate(
        F.slice(F.col("arrs"), 2, F.greatest(F.size("arrs") - 1, F.lit(0))),
        F.element_at(F.col("arrs"), 1),
        lambda acc, x: F.array_intersect(acc, x),
    )
    return g.select(
        "group_id", "doc_id", F.size(starts).cast("long").alias("n_occ")
    ).filter(F.col("n_occ") > 0)


def _as_packed(positions: DataFrame) -> DataFrame:
    """Packed (term, doc_id, poss) form of a positions frame; legacy
    flat artifacts pay one pack shuffle."""
    if "poss" in positions.columns:
        return positions
    return positions.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("poss")
    )


def search_phrase_bm25(
    index,
    positions: DataFrame,
    queries: list[tuple[int, str, int]],
    profile=None,
) -> DataFrame:
    """Lucene PhraseQuery SCORING analog: top-k ranked by BM25 over the
    PHRASE frequency — the reference's PhraseQuery scores
    ``tf(phraseFreq) · Σ idf(term_i) · norm`` (Lucene 3.6
    PhraseScorer / DefaultSimilarity; reached via the parser,
    ``ChemicalIndex.java:482-485``) — re-expressed under the engine's
    Okapi law: ``score = Σ idf_wi · phrase_tf_norm`` with
    ``phrase_tf_norm = f·(k1+1) / (f + k1·(1-b + b·dl/avgdl))`` where
    ``f`` is the exact adjacency occurrence count. ``search_phrase_
    positions`` is the count-ranked primitive; this is the
    relevance-ranked surface. Same quantized-score + tie-break law as
    every BM25 path (score_q DESC, doc_id ASC).

    Plan: per-phrase pushed positions joins (term-clustered scans) →
    occurrence counts, one broadcast of the (query, idf_sum, k) table
    (idf comes from the index lexicon via a pushed term filter —
    driver-side map, same pattern as the scoring stream), one join to
    metadata-scale docmeta for dl, one bounded rank window. No content
    column moves."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    spark = positions.sparkSession
    p = index.cfg.bm25
    words_by_q = {qid: tokenize_text(text, prof) for qid, text, _ in queries}
    all_words = sorted({w for ws in words_by_q.values() for w in ws})
    lex = index.lexicon_slice(all_words, ("term", "idf"))
    idf_map = dict(zip(lex["term"], lex["idf"].astype(float)))
    occ = search_phrase_positions(
        positions, [(qid, text, 2**31 - 1) for qid, text, _ in queries], prof
    ).select("query_id", "doc_id", "n_occ")
    meta = F.broadcast(
        driver_df(
            spark,
            [
                (qid, sum(idf_map.get(w, 0.0) for w in words_by_q[qid]), int(k))
                for qid, _, k in queries
                if words_by_q[qid]
            ],
            "query_id int, idf_sum double, k int",
        )
    )
    dl = index.docmeta.select("doc_id", F.col("doc_len").cast("double").alias("dl"))
    scored = (
        occ.join(meta, "query_id")
        .join(dl, "doc_id")
        .withColumn(
            "score_raw",
            F.col("idf_sum")
            * (F.col("n_occ") * F.lit(p.k1 + 1.0))
            / (
                F.col("n_occ")
                + F.lit(p.k1)
                * (F.lit(1.0 - p.b) + F.lit(p.b) * F.col("dl") / F.lit(index.avgdl))
            ),
        )
        .withColumn(
            "score_q",
            F.floor(F.col("score_raw") * F.lit(10.0 ** p.score_decimals) + F.lit(0.5))
            .cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score_q")
    )


def phrase_ok_counts(
    positions: DataFrame,
    rows: list[tuple[int, str, int]],
    profile=None,
) -> DataFrame:
    """Per-candidate phrase-clause satisfaction counts over the
    positional postings — the verify stage :func:`operators.query.
    search_syntax` uses when an index carries positions (Lucene's
    parser runs PhraseQuery against the index, ``ChemicalIndex.java:
    482-485``; stored bodies never move). ``rows`` =
    ``[(query_id, phrase_text, slop)]``; returns ``(query_id, doc_id,
    n_ok)`` where ``n_ok`` counts the query's phrase clauses the doc
    satisfies under the analyzed-stream law: words in order at
    positions ``p1 < … < pn`` with ``pn - p1 <= n-1+slop`` (``slop=0``
    = exact adjacency, evaluated with the cheaper equality join). A
    clause whose text analyzes to zero tokens is INERT — the parser
    analog of Lucene dropping an empty PhraseQuery — so callers must
    size their required counts over non-empty clauses only.

    Plan: ALL slop-0 clauses share ONE pushed ``term IN (...)`` scan +
    broadcast (clause, word, idx) join + start-position coverage
    aggregation (the :func:`search_phrase_positions` batch law);
    slop>0 clauses evaluate as per-clause ordered-position join chains
    (the gap law has no shared-start form). Clause plans union and one
    groupBy counts satisfied clauses per doc."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    spark = positions.sparkSession
    flat = positions_view(positions)  # slop chains need row-per-position
    parts = []
    word_rows: list[tuple[int, int, str, int]] = []
    clause_n: list[tuple[int, int, int]] = []
    for i, (qid, text, slop) in enumerate(rows):
        words = tokenize_text(text, prof)
        if not words:
            continue
        if int(slop) <= 0:
            clause_n.append((int(qid), i, len(words)))
            word_rows.extend((int(qid), i, w, j) for j, w in enumerate(words))
            continue
        else:
            bound = len(words) - 1 + int(slop)
            base = flat.filter(F.col("term") == words[0]).select(
                "doc_id", F.col("pos").alias("p1"), F.col("pos").alias("prev")
            )
            for w in words[1:]:
                nxt = flat.filter(F.col("term") == w).select(
                    F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
                )
                base = base.join(
                    nxt,
                    (F.col("doc_id") == F.col("d2"))
                    & (F.col("p2") > F.col("prev"))
                    & (F.col("p2") - F.col("p1") <= F.lit(bound)),
                ).select("doc_id", "p1", F.col("p2").alias("prev"))
        parts.append(
            base.select("doc_id").distinct().select(
                F.lit(qid).cast("int").alias("query_id"),
                "doc_id",
                F.lit(i).cast("int").alias("ph"),
            )
        )
    if word_rows:
        # one packed-intersection pass for ALL slop-0 clauses: encode
        # (query, clause) into a single group id for the shared core
        gid_of = {(q, ph): gi for gi, (q, ph) in enumerate(
            sorted({(q, ph) for q, ph, _, _ in word_rows})
        )}
        core_rows = [(gid_of[(q, ph)], w, j) for q, ph, w, j in word_rows]
        nt = F.broadcast(
            driver_df(
                spark, [(gid_of[(q, ph)], q, ph) for q, ph, _n in clause_n],
                "group_id int, qid int, ph int",
            )
        )
        parts.append(
            _phrase_occurrences(positions, core_rows)
            .join(nt, "group_id")
            .select(F.col("qid").alias("query_id"), "doc_id", "ph")
        )
    if not parts:
        return empty_df(spark, "query_id int, doc_id long, n_ok long")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("query_id", "doc_id").agg(
        F.countDistinct("ph").cast("long").alias("n_ok")
    )


def search_slop_positions(
    positions: DataFrame,
    queries: list[tuple[int, str, int, int]],
    profile=None,
) -> DataFrame:
    """Indexed SLOPPY phrase (PhraseQuery.setSlop / span-near analog)
    over the positional postings: queries = [(query_id, text, slop,
    k)]; doc d matches when its analyzed stream holds the phrase words
    IN ORDER at positions p1 < … < pn with span (pn - p1) <= n-1+slop
    — the engine's existing ``_slop_match`` law, evaluated index-side
    with no stored bodies. ``n_spans`` counts ALL qualifying ordered
    position tuples (a deterministic integer; overlaps count), ranked
    DESC then doc_id ASC, bounded by k.

    Plan per query: pushed per-term scans joined on doc_id with the
    order and span inequalities as join filters — the span bound is
    applied at EVERY step (p_i - p1 <= bound), not just the last, so
    intermediate tuple growth stays bounded by the window size."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    spark = positions.sparkSession
    flat = positions_view(positions)
    parts = []
    for qid, text, slop, k in queries:
        words = tokenize_text(text, prof)
        if not words:
            continue
        bound = len(words) - 1 + max(0, int(slop))
        base = flat.filter(F.col("term") == words[0]).select(
            "doc_id", F.col("pos").alias("p1"), F.col("pos").alias("prev")
        )
        for w in words[1:]:
            nxt = flat.filter(F.col("term") == w).select(
                F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
            )
            base = base.join(
                nxt,
                (F.col("doc_id") == F.col("d2"))
                & (F.col("p2") > F.col("prev"))
                & (F.col("p2") - F.col("p1") <= F.lit(bound)),
            ).select("doc_id", "p1", F.col("p2").alias("prev"))
        parts.append(
            base.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_spans"))
            .select(
                F.lit(qid).cast("int").alias("query_id"),
                "doc_id",
                "n_spans",
                F.lit(k).cast("int").alias("k"),
            )
        )
    if not parts:
        return empty_df(spark, "query_id int, rank int, doc_id long, n_spans long")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(F.desc("n_spans"), F.asc("doc_id"))
    return (
        u.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select(
            "query_id", "rank", "doc_id", F.col("n_spans").cast("long").alias("n_spans")
        )
    )


def analyze_phrase_slots(
    slots: list[list[str]], profile=None
) -> list[list[str]] | None:
    """The MultiPhraseQuery slot-analysis law, shared verbatim by the
    engine and the DuckDB twin (parity by construction): every
    alternative string runs through the analyzer profile and EACH
    produced token becomes an alternative for its slot (a multi-token
    alternative contributes all its tokens — deterministic, documented
    deviation from Lucene's Term-typed API, which cannot receive
    unanalyzed text); duplicates collapse and alternatives sort for a
    stable plan. Returns None when any slot analyzes empty — the
    zero-token-phrase inert law (``parse_query``'s phrase law;
    Lucene's MultiPhraseQuery.add would throw instead, but the query
    surface here is text-typed).

    ``profile`` must be the analyzer the positions artifact was built
    with. ``None`` assumes DEFAULT_PROFILE, the default build's: an
    artifact built under another profile needs its profile passed here
    (and to :func:`search_multi_phrase`), or the query's slot tokens
    and the indexed tokens follow different laws."""
    from org_rdkit_lucene_spark.functions.tokenizer import DEFAULT_PROFILE

    prof = profile or DEFAULT_PROFILE
    out: list[list[str]] = []
    for alts in slots:
        terms = sorted({w for a in alts for w in tokenize_text(a, prof)})
        if not terms:
            return None
        out.append(terms)
    return out


def search_multi_phrase(
    positions: DataFrame,
    queries: list[tuple[int, list[list[str]], int]],
    profile=None,
    max_prefilter_pairs: int = MAX_PREFILTER_PAIRS,
) -> DataFrame:
    """Indexed MultiPhraseQuery — Lucene core's phrase-with-
    alternatives (MultiPhraseQuery; the analyzer-synonym phrase path):
    ``queries`` = [(query_id, slots, k)] where each slot is a list of
    alternative strings, and

        phrase starts at p  ⇔  ∀ slot i: ∃ t ∈ alts_i with
                               (t, d, p + i) ∈ positions.

    n_occ counts distinct start positions; a token-stream position
    holds exactly ONE term, so alternatives within a slot can never
    double-count a start (the reason the DuckDB twin needs no
    DISTINCT). Ranking is the indexed-phrase integer law (n_occ DESC,
    doc_id ASC, row_number ≤ k) with the search_phrase_positions
    output schema. Singleton slots collapse the operator to the exact
    PhraseQuery — identity-tested. ``profile``: the analyzer the
    artifact was built with (None = DEFAULT_PROFILE, see
    :func:`analyze_phrase_slots`).

    Plan (whole batch, not per query): the exact per-term census
    routes queries exactly like :func:`_phrase_occurrences` — a slot
    whose alternatives are ALL absent matches nothing (dropped
    driver-side); single-slot queries read n_occ = Σ|poss| over the
    slot's matched alternatives straight off the packed pair rows; and
    multi-slot queries run a slot-union generalization of the shifted
    ``array_intersect`` fold: per (query, doc, slot) the matched
    alternatives' shifted position arrays FLATTEN into one array
    (disjoint by the one-term-per-position argument — no dedup
    needed), coverage filters to docs holding every slot BEFORE the
    fold, and the fold intersects one array per slot. The rarest SLOT
    (min Σ pairs over its alternatives) drives the broadcast doc-set
    prefilter under the same MAX_PREFILTER_PAIRS selectivity cap.
    Everything is pushed ``term IN`` scans of the packed artifact +
    JVM higher-order functions — no stored bodies, no Python
    evaluators, and hot words never explode into occurrence rows."""
    spark = positions.sparkSession
    packed = _as_packed(positions)

    slot_rows: list[tuple[int, str, int]] = []   # (qid, term, slot_idx)
    k_by_q: dict[int, int] = {}
    for qid, slots, k in queries:
        analyzed = analyze_phrase_slots(slots, profile)
        if analyzed is None:
            continue  # inert (a slot tokenized empty)
        k_by_q[int(qid)] = int(k)
        for i, alts in enumerate(analyzed):
            slot_rows.extend((int(qid), t, i) for t in alts)
    empty = empty_df(spark, "query_id int, rank int, doc_id long, n_occ long")
    if not slot_rows:
        return empty

    all_terms = sorted({t for _, t, _ in slot_rows})
    census = {
        r["term"]: int(r["pairs"])
        for r in packed.filter(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("pairs"))
        .collect()
    }

    # route per query off the census: drop queries with an all-absent
    # slot; split singles from multi-slot folds; pick the rarest slot
    by_q: dict[int, dict[int, list[str]]] = {}
    for qid, t, i in slot_rows:
        by_q.setdefault(qid, {}).setdefault(i, []).append(t)
    single_rows: list[tuple[int, str]] = []
    fold_rows: list[tuple[int, str, int]] = []
    fold_n: list[tuple[int, int]] = []
    pre_rows: list[tuple[int, str]] = []   # (qid, rarest-slot alt term)
    for qid, slots_d in sorted(by_q.items()):
        live = {
            i: [t for t in alts if census.get(t, 0) > 0]
            for i, alts in slots_d.items()
        }
        if any(not alts for alts in live.values()):
            continue  # some slot has no indexed alternative -> no match
        if len(live) == 1:
            single_rows.extend((qid, t) for t in live[0])
            continue
        fold_rows.extend(
            (qid, t, i) for i, alts in live.items() for t in alts
        )
        fold_n.append((qid, len(live)))
        rare_i = min(live, key=lambda i: sum(census[t] for t in live[i]))
        if sum(census[t] for t in live[rare_i]) <= max_prefilter_pairs:
            pre_rows.extend((qid, t) for t in live[rare_i])

    parts: list[DataFrame] = []
    if single_rows:
        st = F.broadcast(
            driver_df(spark, single_rows, "query_id int, term string")
        )
        parts.append(
            packed.filter(F.col("term").isin(sorted({t for _, t in single_rows})))
            .join(st, "term")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.size("poss")).cast("long").alias("n_occ"))
        )
    if fold_rows:
        wt = F.broadcast(
            driver_df(spark, fold_rows, "query_id int, term string, idx int")
        )
        nw = F.broadcast(
            driver_df(spark, fold_n, "query_id int, n_slots int")
        )
        shifted = (
            packed.filter(
                F.col("term").isin(sorted({t for _, t, _ in fold_rows}))
            )
            .join(wt, "term")
            .select(
                "query_id",
                "doc_id",
                "idx",
                F.transform(
                    "poss", lambda p: (p - F.col("idx")).cast("int")
                ).alias("sh"),
            )
        )
        if pre_rows:
            pt = F.broadcast(
                driver_df(spark, pre_rows, "query_id int, term string")
            )
            pre = F.broadcast(
                packed.filter(
                    F.col("term").isin(sorted({t for _, t in pre_rows}))
                )
                .join(pt, "term")
                .select("query_id", "doc_id")
                .distinct()
            )
            # semi-join keeps docs that hold the rarest slot; queries
            # WITHOUT a prefilter row must pass through untouched, so
            # the prune applies only to prefiltered query ids
            pre_q = sorted({q for q, _ in pre_rows})
            pruned = shifted.filter(F.col("query_id").isin(pre_q)).join(
                pre, ["query_id", "doc_id"], "semi"
            )
            rest = shifted.filter(~F.col("query_id").isin(pre_q))
            shifted = pruned.unionByName(rest)
        slot_union = shifted.groupBy("query_id", "doc_id", "idx").agg(
            F.flatten(F.collect_list("sh")).alias("su")
        )
        g = (
            slot_union.groupBy("query_id", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_idx"),
                F.collect_list("su").alias("arrs"),
            )
            .join(nw, "query_id")
            .filter(F.col("n_idx") == F.col("n_slots"))
        )
        starts = F.aggregate(
            F.slice(F.col("arrs"), 2, F.greatest(F.size("arrs") - 1, F.lit(0))),
            F.element_at(F.col("arrs"), 1),
            lambda acc, x: F.array_intersect(acc, x),
        )
        parts.append(
            g.select(
                "query_id", "doc_id", F.size(starts).cast("long").alias("n_occ")
            ).filter(F.col("n_occ") > 0)
        )
    if not parts:
        return empty
    occ = parts[0]
    for p in parts[1:]:
        occ = occ.unionByName(p)
    meta = F.broadcast(
        driver_df(
            spark, [(q, k_by_q[q]) for q in sorted(k_by_q)], "query_id int, k int"
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        occ.join(meta, "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select(
            "query_id", "rank", "doc_id", F.col("n_occ").cast("long").alias("n_occ")
        )
    )
