"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All are per-row column programs over built-in Catalyst expressions —
whole-stage-codegen'd JVM execution, no Python in the hot path, and
each has an exact DuckDB SQL twin in ``oracle/sqlgen.py`` (same
arithmetic, same quantization) for the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from org_rdkit_lucene_spark.functions.tokenizer import bind_array, tokens_column

# deterministic per-language stopword marker sets (heuristic n-gram/
# stopword language ID — the mechanism, not a trained model)
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "los", "las", "una", "y", "es", "que"],
    "fr": ["le", "les", "et", "est", "une", "dans", "pour"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "he2", "wo3"],
}
LANGS = sorted(STOPWORDS)


def _stop_count(toks: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(df: DataFrame, id_col: str = "doc_id", content_col: str = "text") -> DataFrame:
    """Predict language by max stopword hits; ties break lang-name ASC.
    Returns (doc_id, pred_lang, best_hits)."""
    toks = tokens_column(content_col)
    out = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    for lang in LANGS:
        out = out.withColumn(f"c_{lang}", _stop_count(F.col("_toks"), lang))
    counts = [F.col(f"c_{lang}") for lang in LANGS]
    # CASE chain: first lang (asc) whose count >= all later langs' counts
    chain = F.lit(LANGS[-1])
    for i in range(len(LANGS) - 2, -1, -1):
        lang = LANGS[i]
        cond = None
        for j in range(i + 1, len(LANGS)):
            c = F.col(f"c_{lang}") >= F.col(f"c_{LANGS[j]}")
            cond = c if cond is None else (cond & c)
        chain = F.when(cond, F.lit(lang)).otherwise(chain)
    return out.select(
        "doc_id",
        chain.alias("pred_lang"),
        F.greatest(*counts).cast("long").alias("best_hits"),
    )


def token_counts(df: DataFrame, id_col: str = "doc_id", content_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_ws_tokens, n_distinct_tokens): code-aware
    tokenizer count, plain whitespace count (BPE-ish pre-count), and
    distinct-term count."""
    toks = tokens_column(content_col)
    ws = F.split(F.trim(F.col(content_col)), r"\s+")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(F.length(F.trim(F.col(content_col))) == 0, F.lit(0))
        .otherwise(F.size(ws))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id", content_col: str = "text") -> DataFrame:
    """Deterministic quality heuristic (length / punctuation / stopword
    ratios), quantized to 1e-6:

      q = 0.3*min(1, n_tokens/100) + 0.4*(1 - punct_ratio) + 0.3*stop_ratio
    """
    c = F.col(content_col)
    toks = tokens_column(content_col)
    n_chars = F.length(c)
    n_alnum = F.length(F.regexp_replace(c, "[^a-zA-Z0-9]", ""))
    n_space = F.length(c) - F.length(F.regexp_replace(c, r"\s", ""))
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        (n_chars - n_alnum - n_space).cast("double") / n_chars
    )
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    n_toks = F.size(toks)
    stop_ratio = F.when(n_toks == 0, F.lit(0.0)).otherwise(n_stop.cast("double") / n_toks)
    q = (
        F.lit(0.3) * F.least(F.lit(1.0), n_toks.cast("double") / F.lit(100.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * stop_ratio
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_toks.cast("long").alias("n_tokens"),
        F.floor(punct_ratio * 1_000_000 + F.lit(0.5)).cast("long").alias("punct_ratio_q"),
        F.floor(stop_ratio * 1_000_000 + F.lit(0.5)).cast("long").alias("stop_ratio_q"),
        F.floor(q * 1_000_000 + F.lit(0.5)).cast("long").alias("quality_q"),
    )


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id", content_col: str = "text",
                     shingle_n: int = 5) -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over n-gram token
    shingles (a deterministic rolling-hash-style content signature;
    md5 makes it reproducible in the SQL oracle)."""
    from org_rdkit_lucene_spark.operators.dedup import shingles_column

    sh = shingles_column(content_col, shingle_n)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("fingerprint"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the rolling-hash fingerprint scheme): per-token 60-bit hashes from
    md5, then the minimum hash of every length-``window`` rolling
    window; the distinct selected hashes are the document's
    fingerprint set. Winnowing guarantees any shared token run of
    length >= window produces at least one shared fingerprint between
    two documents — the local, position-independent dedup signal.

    Pure Catalyst (no Python): per doc emits the set SIZE, the minimum
    member, and the xor-fold of the set — scalar digests that are
    engine-portable (the driver's value-hash comparison needs scalar
    columns) while pinning the exact set contents. Docs with fewer
    than ``window`` tokens fingerprint their full token list (one
    window over everything they have); token-less docs emit (0, 0, 0).
    """
    toks = tokens_column(content_col)
    # 60-bit signed-safe token hash: first 15 hex chars of md5
    hashed = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )

    # hash array BOUND once (bind_array): slicing an unbound hash
    # expression inside the per-window transform re-hashes every token
    # per window position — quadratic per doc
    def _mins(hs: Column) -> Column:
        n = F.size(hs)
        w = F.least(F.lit(window), n)
        return F.when(n <= 0, F.array()).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - w + 1),
                lambda i: F.array_min(F.slice(hs, i, window)),
            )
        )

    fps = F.array_distinct(bind_array(hashed, _mins))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.coalesce(F.array_min(fps), F.lit(0)).cast("long").alias("fp_min"),
        F.coalesce(
            F.aggregate(fps, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x)),
            F.lit(0),
        ).alias("fp_xor"),
    )


def _lang_pred_chain() -> Column:
    """The lang-ID decision CASE chain over pre-computed ``c_<lang>``
    columns — factored so :func:`lang_id` and :func:`curate_corpus`
    share ONE law (ties break lang-name ASC)."""
    chain = F.lit(LANGS[-1])
    for i in range(len(LANGS) - 2, -1, -1):
        lang = LANGS[i]
        cond = None
        for j in range(i + 1, len(LANGS)):
            c = F.col(f"c_{lang}") >= F.col(f"c_{LANGS[j]}")
            cond = c if cond is None else (cond & c)
        chain = F.when(cond, F.lit(lang)).otherwise(chain)
    return chain


def _quality_q_expr(content_col: str) -> Column:
    """quality_q as ONE inlinable expression (identical arithmetic and
    1e-6 quantization to :func:`quality_scores` — shared-law tested)."""
    c = F.col(content_col)
    toks = tokens_column(content_col)
    n_chars = F.length(c)
    n_alnum = F.length(F.regexp_replace(c, "[^a-zA-Z0-9]", ""))
    n_space = F.length(c) - F.length(F.regexp_replace(c, r"\s", ""))
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        (n_chars - n_alnum - n_space).cast("double") / n_chars
    )
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    n_toks = F.size(toks)
    stop_ratio = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / n_toks
    )
    q = (
        F.lit(0.3) * F.least(F.lit(1.0), n_toks.cast("double") / F.lit(100.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * stop_ratio
    )
    return F.floor(q * 1_000_000 + F.lit(0.5)).cast("long")


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    min_quality_q: int = 600_000,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """The composed per-document CURATION DECISION of a pretraining
    pipeline — exact-dedup, language allowlist, quality threshold —
    fused into ``(doc_id, keep, reason)`` with a fixed precedence:

      1. ``dup``     — not the keeper of its sha256(content) group
      2. ``lang``    — predicted language not in ``langs``
      3. ``quality`` — quality_q below ``min_quality_q``
      else ``keep`` (keep = 1).

    Scale shape: everything is computed in ONE pass over ONE scan —
    the lang counts, quality expression, and content hash are sibling
    column programs (whole-stage codegen), and the only shuffle is the
    dedup keeper window partitioned by the uniform sha256 digest.
    Running the three standalone operators and joining them would cost
    three scans plus three doc_id shuffles; the fusion is
    equality-tested against exactly that composition."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(content_col), 256).alias("content_hash"),
        _quality_q_expr(content_col).alias("quality_q"),
        tokens_column(content_col).alias("_toks"),
    )
    for lang in LANGS:
        base = base.withColumn(f"c_{lang}", _stop_count(F.col("_toks"), lang))
    w = Window.partitionBy("content_hash")
    base = base.withColumn("pred_lang", _lang_pred_chain()).withColumn(
        "is_dup", F.col("doc_id") != F.min("doc_id").over(w)
    )
    reason = (
        F.when(F.col("is_dup"), F.lit("dup"))
        .when(~F.col("pred_lang").isin(*langs), F.lit("lang"))
        .when(F.col("quality_q") < F.lit(int(min_quality_q)), F.lit("quality"))
        .otherwise(F.lit("keep"))
    )
    return base.select(
        "doc_id",
        (reason == F.lit("keep")).cast("int").alias("keep"),
        reason.alias("reason"),
    )


def repetition_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_char_frac: float = 0.20,
) -> DataFrame:
    """Intra-document repetition scoring — the Gopher/RefinedWeb
    repetition-removal signal (Rae et al. 2021 §A1.1): documents built
    from copy-pasted lines (boilerplate, templated pages, log spam)
    carry low training value even when no OTHER document duplicates
    them, so the pipeline needs a within-doc signal next to the
    corpus-level dedup family.

    The shared law (engine + DuckDB twin, same arithmetic):

    - content lines = trimmed non-empty pieces of ``split(text, '\\n')``
    - ``dup_line_frac`` = (n_lines - n_distinct_lines) / n_lines —
      occurrences beyond each value's first
    - ``dup_char_frac`` = chars in ALL occurrences of line values that
      appear more than once / total content-line chars (the RefinedWeb
      "characters in duplicated lines" convention)
    - ``repetitive`` = dup_line_frac > ``max_dup_line_frac`` OR
      dup_char_frac > ``max_dup_char_frac`` (Gopher's 0.30 / 0.20),
      compared on the QUANTIZED values so both engines flag
      identically
    - fractions quantized to 1e-6 (``floor(f·10⁶ + 0.5)``); line-less
      docs emit (0, 0, 0, not-repetitive)

    Scale shape: a pure per-row Catalyst column program — one scan,
    ZERO shuffles, embarrassingly parallel at any corpus size. The
    duplicate-char sum avoids the O(n²) member-count form by sorting
    the line array once (any sort groups equal values adjacently, so
    collation differences between engines cannot matter — only
    neighbor EQUALITY is consumed) and flagging positions whose
    neighbor matches: O(n log n) per doc.

    Returns (doc_id, n_lines, dup_line_frac_q, dup_char_frac_q,
    repetitive).
    """
    c = F.col(content_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda t: F.trim(t)),
        lambda x: F.length(x) > 0,
    )
    s = F.array_sort(lines)
    n = F.size(s)
    d = F.size(F.array_distinct(s))
    # sorted array BOUND once (bind_array): element_at over an unbound
    # sort expression re-sorts per position — quadratic per doc
    dup_chars = F.aggregate(
        bind_array(
            s,
            lambda sb: F.transform(
                F.when(F.size(sb) > 0, F.sequence(F.lit(1), F.size(sb))).otherwise(
                    F.array().cast("array<int>")
                ),
                lambda i: F.when(
                    ((i > 1) & (F.element_at(sb, i) == F.element_at(sb, i - 1)))
                    | (
                        (i < F.size(sb))
                        & (F.element_at(sb, i) == F.element_at(sb, i + 1))
                    ),
                    F.length(F.element_at(sb, i)).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    total_chars = F.aggregate(
        F.transform(s, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dup_line_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - d).cast("double") / n
    )
    dup_char_frac = F.when(total_chars == 0, F.lit(0.0)).otherwise(
        dup_chars.cast("double") / total_chars
    )
    line_q = F.floor(dup_line_frac * 1_000_000 + F.lit(0.5)).cast("long")
    char_q = F.floor(dup_char_frac * 1_000_000 + F.lit(0.5)).cast("long")
    line_thr = int(max_dup_line_frac * 1_000_000 + 0.5)
    char_thr = int(max_dup_char_frac * 1_000_000 + 0.5)
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_lines"),
        line_q.alias("dup_line_frac_q"),
        char_q.alias("dup_char_frac_q"),
        ((line_q > line_thr) | (char_q > char_thr)).cast("int").alias("repetitive"),
    )


# Deterministic PII patterns (RE2-safe subset shared verbatim with the
# DuckDB twin): emails, IPv4 addresses, long digit runs (phone/account
# numbers). Order matters — patterns apply in this sequence.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{9,}\b", "<NUM>"),
]


def redact_pii(df: DataFrame, id_col: str = "doc_id", content_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: replace emails / IPv4s /
    long digit runs with typed placeholders, applied in the fixed
    :data:`PII_PATTERNS` order → (doc_id, redacted, n_redactions).
    Pure Catalyst ``regexp_replace`` chain (whole-stage codegen, no
    Python); n_redactions counts replaced spans via the length of the
    match-split minus one, per pattern, BEFORE that pattern's
    replacement — the same counting law the SQL twin uses."""
    c = F.col(content_col)
    n = F.lit(0).cast("long")
    red = c
    for pat, rep in PII_PATTERNS:
        n = n + F.size(F.split(red, pat, -1)) - 1
        red = F.regexp_replace(red, pat, rep)
    return df.select(
        F.col(id_col).alias("doc_id"),
        red.alias("redacted"),
        n.alias("n_redactions"),
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    content_col: str = "text",
    bench_content_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection — the pretraining hygiene op:
    flag corpus docs sharing ≥ ``min_hits`` DISTINCT ``n``-gram token
    shingles with ANY benchmark document →
    (doc_id, n_hits, is_contaminated).

    Scale shape: the benchmark side is small by definition (an eval
    set), so its DISTINCT shingle set broadcasts; the corpus side
    streams shingles out of one scan and the only aggregation is the
    per-doc hit count (map-side partials). No self-join, no skew
    surface — corpus shingles are probed against a broadcast hash set."""
    from org_rdkit_lucene_spark.operators.dedup import shingles_column

    bsh = (
        benchmark.select(
            F.explode(shingles_column(bench_content_col, n)).alias("s")
        ).distinct()
    )
    dsh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_column(content_col, n)).alias("s"),
    ).distinct()
    hits = (
        dsh.join(F.broadcast(bsh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .withColumn("is_contaminated", (F.col("n_hits") >= min_hits).cast("int"))
    )


IMPORTANCE_N_BUCKETS = 4096
IMPORTANCE_NGRAM_N = 2
# per-bucket log-ratio quantum: components are quantized to int64
# BEFORE the per-doc sum, so Spark partition sums and the oracle's
# sequential sums agree exactly (the k-means exact-int centroid law)
IMPORTANCE_QUANT = 1_000_000_000


def importance_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    target_langs: tuple = ("en",),
    n: int = IMPORTANCE_NGRAM_N,
    n_buckets: int = IMPORTANCE_N_BUCKETS,
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hashed n-gram bucket counts estimate a target distribution (docs
    whose ``lang`` is in ``target_langs``) and the raw distribution
    (all docs); each doc's weight is the sum over its n-grams of the
    bucket log-likelihood ratio ln(p_target / p_raw) with add-one
    smoothing → ``(doc_id, n_grams, weight_q)``. High weight = looks
    like the target slice; the resampling step keeps top weights.

    Determinism law: the per-bucket log-ratio is quantized to int64 at
    1e-9 BEFORE the per-doc sum (order-independent integer addition →
    Spark partition sums == DuckDB sequential sums, the same law as
    the k-means centroid means). Buckets hash via the engine-portable
    md5-hex-prefix idiom shared with SimHash/ANN-LSH.

    Scale shape — the honest two-pass DSIR design: pass 1 aggregates
    the exploded n-gram stream into ``n_buckets`` rows (map-side
    partials; a 4096-row table no matter the corpus size), pass 2
    re-streams the n-grams against the BROADCAST bucket-weight table
    and groupBys doc_id. No self-join, no skew (buckets are uniform by
    construction), both shuffles are on natural keys."""
    from org_rdkit_lucene_spark.operators.dedup import shingles_column

    tgt = F.col("lang").isin(*target_langs)
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        tgt.alias("is_tgt"),
        F.explode(shingles_column(content_col, n)).alias("g"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets),
    )
    bt = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.count_if(F.col("is_tgt")).alias("tgt_cnt"),
    )
    tot = bt.agg(
        F.sum("raw_cnt").alias("raw_total"), F.sum("tgt_cnt").alias("tgt_total")
    )
    bw = bt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("tgt_cnt") + F.lit(1.0)) / (F.col("tgt_total") + F.lit(float(n_buckets))))
                / ((F.col("raw_cnt") + F.lit(1.0)) / (F.col("raw_total") + F.lit(float(n_buckets))))
            )
            * F.lit(float(IMPORTANCE_QUANT))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w_q"),
    )
    dw = (
        grams.join(F.broadcast(bw), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.sum("w_q").alias("weight_q"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(dw, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("weight_q", F.lit(0)).cast("long").alias("weight_q"),
        )
    )


def lm_perplexity_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 filter
    corpora by LM perplexity; here the LM is a self-trained add-one
    bigram model, the deterministic mechanism rather than a shipped
    KenLM binary): per doc, the summed log-likelihood of its bigrams
    under P(w2|w1) = (c2(w1 w2) + 1) / (c1(w1) + V) with corpus-wide
    counts and vocabulary size V → ``(doc_id, n_bigrams, nll_q)``
    where nll_q = Σ -ln P per bigram occurrence, each term quantized
    to int64 at 1e-9 BEFORE the sum (order-independent — the k-means /
    DSIR exact-sum law). Low nll_q per bigram ≈ fluent under the
    corpus distribution; filters typically drop the high-perplexity
    tail.

    Scale shape: counts are two natural-key groupBys (unigram, bigram
    — uniform-ish keys with a hot head); the scoring join streams the
    per-doc bigram multiset (pre-aggregated per (doc, bigram), a
    UNIFORM composite key) against the count tables on their natural
    keys — hot-token skew on those joins is AQE skew-join territory,
    and both count tables shrink to the distinct-gram scale. No
    broadcast of anything corpus-sized, no self-join."""
    from org_rdkit_lucene_spark.operators.dedup import shingles_column

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_column(content_col)).alias("w"),
    )
    c1 = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("v"))
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_column(content_col, 2)).alias("g"),
    )
    c2 = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    dg = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n_occ"))
    scored = (
        dg.join(c2, "g")
        .withColumn("w1", F.split(F.col("g"), " ").getItem(0))
        .join(c1, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll_q",
            F.floor(
                -F.log(
                    (F.col("c2") + F.lit(1.0))
                    / (F.col("c1") + F.col("v").cast("double"))
                )
                * F.lit(1.0e9)
                + F.lit(0.5)
            ).cast("long")
            * F.col("n_occ"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            F.sum("nll_q").alias("nll_q"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("nll_q", F.lit(0)).cast("long").alias("nll_q"),
        )
    )


def token_budget_mix(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    id_col: str = "doc_id",
    content_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic token-budget data mixing — the "assemble a
    training mix" step after curation: stratum s (language / source /
    domain) gets ``budget_s = floor(budget_tokens * weights[s])``
    tokens; within a stratum docs are taken in (md5(text), doc_id)
    order (a content-derived deterministic shuffle — NOT corpus order,
    which would bias the mix toward whatever sorted first) while the
    INCLUSIVE running token total stays <= budget_s. Strata missing
    from ``weights`` get budget 0.

    Returns ``(doc_id, stratum, n_tokens, cum_tokens, kept)`` for
    EVERY input doc (kept = made the budget), so downstream can audit
    what the mix dropped.

    Scale shape: one window per stratum (strata are few — the
    partition is as skewed as the mix itself; at 100 TB a per-stratum
    window is a range-partitioned sort on (h, doc_id), Spark's
    standard distributed sort, not a single-task funnel); the budget
    table is driver-sized and broadcast. No self-joins, no collects."""
    from pyspark.sql import Window

    from org_rdkit_lucene_spark.operators.build import driver_df

    spark = docs.sparkSession
    budgets = driver_df(
        spark,
        [(s, int(budget_tokens * w)) for s, w in sorted(weights.items())],
        "stratum string, budget long",
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(stratum_col).alias("stratum"),
        F.size(tokens_column(content_col)).cast("long").alias("n_tokens"),
        F.md5(F.col(content_col)).alias("h"),
    )
    w = Window.partitionBy("stratum").orderBy("h", "doc_id")
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .join(F.broadcast(budgets), "stratum", "left")
        .select(
            "doc_id",
            "stratum",
            "n_tokens",
            "cum_tokens",
            (F.col("cum_tokens") <= F.coalesce("budget", F.lit(0))).alias("kept"),
        )
    )


def length_quantiles(
    docs: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    id_col: str = "doc_id",
    content_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """EXACT per-stratum token-length quantiles under the nearest-rank
    law: quantile q = the value at 0-based rank floor(q·(n-1)) in
    (n_tokens, doc_id) order — deterministic and cross-engine (unlike
    ``percentile_approx``, whose sketch is engine-specific). The
    pipeline use: pick corpus-wide length-filter thresholds per
    language/source before curation.

    Returns ``(stratum, n_docs, p<q*100>...)``. Scale shape: one
    window sort per stratum (range-partitioned distributed sort) and
    one groupBy — strata are few; no collects."""
    from pyspark.sql import Window

    base = docs.select(
        F.col(stratum_col).alias("stratum"),
        F.size(tokens_column(content_col)).cast("long").alias("n_tokens"),
        F.col(id_col).alias("doc_id"),
    )
    w = Window.partitionBy("stratum").orderBy("n_tokens", "doc_id")
    r = base.select(
        "stratum",
        "n_tokens",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count("*").over(Window.partitionBy("stratum")).alias("cnt"),
    )
    aggs = [F.max("cnt").cast("long").alias("n_docs")]
    for q in qs:
        aggs.append(
            F.max(
                F.when(
                    F.col("rn") == F.floor(F.lit(q) * (F.col("cnt") - 1)),
                    F.col("n_tokens"),
                )
            ).cast("long").alias(f"p{int(round(q * 100))}")
        )
    return r.groupBy("stratum").agg(*aggs)


def training_mix_pipeline(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    langs: tuple[str, ...] = ("en",),
    min_quality_q: int = 600_000,
    id_col: str = "doc_id",
    content_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """The COMPOSED end-to-end training-set assembly a pretraining
    pipeline actually runs, as one DataFrame program: curation
    (exact-dedup > language allowlist > quality threshold,
    :func:`curate_corpus`) followed by the per-stratum token-budget
    mix (:func:`token_budget_mix`) over the curation survivors.
    Per-doc verdict with the full precedence chain:

        dup > lang > quality > budget > keep

    → ``(doc_id, kept, reason, n_tokens)``; kept = 1 iff the doc
    survives curation AND fits its stratum's budget.

    Scale shape: curation is the fused one-scan program + one digest
    shuffle; the mix adds one per-stratum window over SURVIVORS only;
    the final assembly is two doc_id joins (uniform key). No stage
    re-reads content more than the fused operators already do."""
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(content_col).alias("text"),
        F.col(stratum_col).alias("stratum"),
    )
    cur = curate_corpus(base, "doc_id", "text", min_quality_q, langs)
    surv = base.join(cur.filter(F.col("keep") == 1).select("doc_id"), "doc_id")
    mix = token_budget_mix(
        surv, weights, budget_tokens,
        id_col="doc_id", content_col="text", stratum_col="stratum",
    )
    ntok = base.select(
        "doc_id", F.size(tokens_column("text")).cast("long").alias("n_tokens")
    )
    out = (
        cur.join(mix.select("doc_id", F.col("kept").alias("_budget_ok")), "doc_id", "left")
        .join(ntok, "doc_id")
        .withColumn(
            "reason2",
            F.when(F.col("reason") != "keep", F.col("reason")).otherwise(
                F.when(F.col("_budget_ok"), F.lit("keep")).otherwise(F.lit("budget"))
            ),
        )
    )
    return out.select(
        "doc_id",
        (F.col("reason2") == "keep").cast("int").alias("kept"),
        F.col("reason2").alias("reason"),
        "n_tokens",
    )
