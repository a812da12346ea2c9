"""DuckDB SQL generators mirroring the engine's query semantics.

Used by ``__spark_entry__.oracle_sql()``: for each engine query the
driver runs this SQL on the same parquet tables and compares row
counts, schemas, and value hashes. The SQL reimplements the engine's
EXACT semantics — same tokenizer (via :func:`duckdb_tokens_sql`), same
BM25 (k1=1.2, b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)), avgdl over all
docs), same score quantization (floor(score*10^4+0.5) as BIGINT), same
tie-break (score_q DESC, doc_id ASC — SubstructureHitQueue.java:113-118).
"""

from __future__ import annotations

from org_rdkit_lucene_spark.config import BM25Params, TokenizerProfile, candidate_cap
from org_rdkit_lucene_spark.functions.tokenizer import (
    DEFAULT_PROFILE,
    duckdb_tokens_sql,
    tokenize_text,
)

P = BM25Params()
_QUANT = 10**P.score_decimals


def _values_qterms(
    queries: list[tuple[int, str, int]], profile: TokenizerProfile = DEFAULT_PROFILE
) -> str:
    """(query_id, term, qtf, n_terms, k) VALUES rows from the canonical
    tokenizer — the oracle consumes pre-tokenized queries exactly like
    the engine's driver-side query tokenization."""
    rows = []
    for qid, text, k in queries:
        toks = tokenize_text(text, profile)
        if not toks:
            continue
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for term, qtf in counts.items():
            esc = term.replace("'", "''")
            rows.append(f"({qid}, '{esc}', {qtf}, {len(counts)}, {k})")
    if not rows:
        rows = ["(NULL, NULL, NULL, NULL, NULL)"]
    return ",\n    ".join(rows)


def _bm25_ctes(
    queries: list[tuple[int, str, int]],
    table: str = "documents",
    extra_cte: str = "",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    toks = duckdb_tokens_sql("text", profile)
    pre = f"{extra_cte},\n" if extra_cte else ""
    return f"""
WITH {pre}tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term, qtf, n_terms, k) AS (
  VALUES
    {_values_qterms(queries, profile)}
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + ((SELECT n FROM nstat) - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * {P.k1 + 1.0}
             / (tf.tf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw,
         count(*) AS n_matched,
         max(q.n_terms) AS n_terms,
         max(q.k) AS k
  FROM tf
  JOIN q USING (term)
  JOIN dfs USING (term)
  JOIN dl USING (doc_id)
  GROUP BY 1, 2
)"""


def _ranked(conjunctive: bool) -> str:
    flt = "WHERE n_matched = n_terms" if conjunctive else ""
    return f""",
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM scored {flt}
)"""


def upsert_docs_cte(
    mod: int, marker: str, deleted_ids: list[int], table: str = "documents"
) -> str:
    """The UPDATED corpus as a CTE — the oracle's view of delete-then-
    add upserts applied by the engine's segment path: every doc_id
    divisible by ``mod`` has ``marker`` appended to its body (the
    streamed new version), and ``deleted_ids`` are gone entirely."""
    ids = ", ".join(str(i) for i in deleted_ids) or "-1"
    esc = marker.replace("'", "''")
    # source/lang pass through so the syntax twin's field-clause CTE
    # (which maps repo -> source, path -> source/doc/doc_id, lang ->
    # lang) compiles over the updated view too
    return f"""upsert_documents AS (
  SELECT doc_id, source, lang,
         CASE WHEN doc_id % {mod} = 0 THEN text || '{esc}' ELSE text END AS text
  FROM {table} WHERE doc_id NOT IN ({ids})
)"""


def delete_by_query_cte(query_text: str, table: str = "documents") -> str:
    """The corpus after ``delete_docs_by_query``: docs whose analyzed
    token set contains ALL the query's tokens are gone (conjunctive
    containment — the engine law)."""
    words = sorted(set(tokenize_text(query_text)))
    toks = duckdb_tokens_sql("text")
    if not words:
        return f"delq_documents AS (SELECT * FROM {table})"
    in_list = ", ".join("'{}'".format(w.replace("'", "''")) for w in words)
    return f"""delq_documents AS (
  SELECT d.* FROM {table} d WHERE d.doc_id NOT IN (
    SELECT doc_id
    FROM (SELECT doc_id, unnest({toks}) AS term FROM {table})
    WHERE term IN ({in_list})
    GROUP BY doc_id HAVING count(DISTINCT term) = {len(words)}
  )
)"""


def bm25_topk_sql(
    queries: list[tuple[int, str, int]],
    mode: str = "disjunctive",
    table: str = "documents",
    extra_cte: str = "",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    conj = mode == "conjunctive"
    return (
        _bm25_ctes(queries, table=table, extra_cte=extra_cte, profile=profile)
        + _ranked(conj)
        + """
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""
    )


def similarity_topk_sql(
    queries: list[tuple[int, str, int]],
    similarity: str,
    mode: str = "disjunctive",
    table: str = "documents",
    profile: TokenizerProfile = DEFAULT_PROFILE,
    mu: float = 2000.0,
) -> str:
    """Oracle twin of ``search(..., similarity=...)`` — recomputes the
    pluggable-similarity laws (functions/similarity.py) from the raw
    corpus: classic TF-IDF (idf_c² · √tf / √dl), LMDirichlet with the
    per-term clamp at 0 and collection model cf/total, boolean (qtf
    sum). Shares the ranked/K2 tail with the BM25 twin."""
    toks = duckdb_tokens_sql("text", profile)
    if similarity == "classic":
        contrib = (
            "q.qtf * pow(1.0 + ln(((SELECT n FROM nstat) + 1.0) / (dfs.df + 1.0)), 2)"
            " * sqrt(tf.tf) / sqrt(dl.dl)"
        )
    elif similarity == "lmdirichlet":
        contrib = (
            f"q.qtf * greatest(0.0,"
            f" ln(1.0 + tf.tf / ({mu} * cfs.cf / (SELECT total FROM totstat)))"
            f" + ln({mu} / (dl.dl + {mu})))"
        )
    elif similarity == "boolean":
        contrib = "q.qtf * 1.0"
    else:
        raise ValueError(f"unknown similarity {similarity!r}")
    cf_join = "\n  JOIN cfs USING (term)" if similarity == "lmdirichlet" else ""
    conj = mode == "conjunctive"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
totstat AS (SELECT sum(dl)::DOUBLE AS total FROM dl),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
cfs AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY 1),
q(query_id, term, qtf, n_terms, k) AS (
  VALUES
    {_values_qterms(queries, profile)}
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum({contrib}) AS score_raw,
         count(*) AS n_matched,
         max(q.n_terms) AS n_terms,
         max(q.k) AS k
  FROM tf
  JOIN q USING (term)
  JOIN dfs USING (term){cf_join}
  JOIN dl USING (doc_id)
  GROUP BY 1, 2
)""" + _ranked(conj) + """
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def synonym_topk_sql(
    queries: list[tuple[int, str, int]],
    synonyms: dict[str, list[str]],
    mode: str = "disjunctive",
    table: str = "documents",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    """Twin of ``search_synonyms`` — the SynonymQuery law recomputed
    from the raw corpus: per (query token) group, tf_group = Σ member
    tf, df_group = max member df, idf from df_group, qtf weights the
    group, n_terms counts groups."""
    from org_rdkit_lucene_spark.operators.query import _norm_synonym

    syn = {
        _norm_synonym(kw, profile): sorted(
            {_norm_synonym(a, profile) for a in alts}
        )
        for kw, alts in synonyms.items()
    }
    gq_rows, syn_rows, gid = [], [], 0
    for qid, text, k in queries:
        toks = tokenize_text(text, profile)
        if not toks:
            continue
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for term, qtf in counts.items():
            gq_rows.append(f"({qid}, {gid}, {qtf}, {len(counts)}, {k})")
            for m in dict.fromkeys([term, *syn.get(term, [])]):
                esc = m.replace("'", "''")
                syn_rows.append(f"({gid}, '{esc}')")
            gid += 1
    toks_sql = duckdb_tokens_sql("text", profile)
    conj = mode == "conjunctive"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks_sql}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
gq(query_id, gid, qtf, n_terms, k) AS (
  VALUES
    {", ".join(gq_rows)}
),
syn(gid, term) AS (
  VALUES
    {", ".join(syn_rows)}
),
gdf AS (
  SELECT s.gid, max(dfs.df) AS df
  FROM syn s JOIN dfs USING (term)
  GROUP BY 1
),
gtf AS (
  SELECT s.gid, tf.doc_id, sum(tf.tf) AS gtf
  FROM tf JOIN syn s USING (term)
  GROUP BY 1, 2
),
scored AS (
  SELECT q.query_id, g.doc_id,
         sum(q.qtf * ln(1.0 + ((SELECT n FROM nstat) - d.df + 0.5) / (d.df + 0.5))
             * g.gtf * {P.k1 + 1.0}
             / (g.gtf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw,
         count(*) AS n_matched,
         max(q.n_terms) AS n_terms,
         max(q.k) AS k
  FROM gtf g
  JOIN gq q USING (gid)
  JOIN gdf d USING (gid)
  JOIN dl USING (doc_id)
  GROUP BY 1, 2
)""" + _ranked(conj) + """
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def percolate_sql(
    queries: list[tuple[int, str, int]],
    mode: str = "conjunctive",
    min_should_match: int = 1,
    table: str = "documents",
) -> str:
    """Twin of ``streaming.percolate.percolate`` over the index's own
    corpus: reverse search == forward search on the same table, so the
    twin is the BM25 scored set (frozen idf/avgdl = the same table's
    stats) with the coverage filter and NO ranking — one row per
    (doc, query) match."""
    if mode == "conjunctive":
        flt = "WHERE s.n_matched = s.n_terms"
    else:
        flt = f"WHERE s.n_matched >= {int(min_should_match)}"
    return (
        _bm25_ctes(queries, table=table)
        + f"""
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(s.query_id AS INTEGER) AS query_id,
       CAST(floor(s.score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q,
       CAST(s.n_matched AS INTEGER) AS n_matched
FROM scored s {flt}
ORDER BY 1, 2"""
    )


def percolate_syntax_sql(
    queries: list[tuple[int, str, int]],
    table: str = "documents",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    """Twin of ``streaming.percolate.percolate_syntax`` over the
    index's own corpus: weights from the SHARED
    ``syntax_scoring_weights`` law (must-pinning, boost sums), MUST
    coverage via a distinct-count join, MUST_NOT via NOT EXISTS over
    the token stream; scored set == the forward ``search_syntax``
    term law with frozen idf/avgdl = the same table's stats.
    ``profile``: the index's analyzer (``cfg.tokenizer``), used for the
    query terms and the token stream alike."""
    from org_rdkit_lucene_spark.operators.query import (
        parse_query,
        syntax_scoring_weights,
    )

    def _q(s: str) -> str:
        return s.replace("'", "''")

    from org_rdkit_lucene_spark.streaming.percolate import (
        _SYNTAX_UNSUPPORTED,
    )

    q_rows, must_rows, need_rows, excl_rows = [], [], [], []
    for qid, text, _k in queries:
        p = parse_query(text)
        bad = [k for k in _SYNTAX_UNSUPPORTED if p[k]]
        if bad:
            # mirror the engine's loud rejection — a silent bag-of-words
            # oracle for a phrase/field/expansion query would be a
            # WRONG-LAW twin, not a permissive one
            raise ValueError(
                f"percolate_syntax supports term clauses only; query "
                f"{qid} uses {bad}"
            )
        counts, must = syntax_scoring_weights(p, profile)
        if not counts:
            continue
        for term, w in sorted(counts.items()):
            q_rows.append(f"({qid}, '{_q(term)}', {float(w)!r})")
        for t in sorted(must):
            must_rows.append(f"({qid}, '{_q(t)}')")
        need_rows.append(f"({qid}, {len(must)})")
        excl = sorted(
            {t for w in p["excluded"] for t in tokenize_text(w, profile)}
        )
        for t in excl:
            excl_rows.append(f"({qid}, '{_q(t)}')")

    def vals(rows, types=("INTEGER", "VARCHAR")):
        # typed NULLs: DuckDB infers a bare NULL column as INT32, and a
        # later VARCHAR comparison would cast the STRING side (a
        # conversion error on real terms) — so the empty marker row
        # must carry the true column types
        empty = "(" + ", ".join(f"CAST(NULL AS {t})" for t in types) + ")"
        return ",\n    ".join(rows) if rows else empty

    toks = duckdb_tokens_sql("text", profile)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term, w) AS (VALUES
    {vals(q_rows, ("INTEGER", "VARCHAR", "DOUBLE"))}
),
mreq(query_id, term) AS (VALUES
    {vals(must_rows)}
),
mneed(query_id, n_must) AS (VALUES
    {vals(need_rows, ("INTEGER", "INTEGER"))}
),
excl(query_id, term) AS (VALUES
    {vals(excl_rows)}
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.w * ln(1.0 + ((SELECT n FROM nstat) - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * {P.k1 + 1.0}
             / (tf.tf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw,
         count(*) AS n_matched
  FROM tf JOIN q USING (term) JOIN dfs USING (term) JOIN dl USING (doc_id)
  GROUP BY 1, 2
),
mhit AS (
  SELECT m.query_id, tf.doc_id, count(DISTINCT tf.term) AS nm
  FROM tf JOIN mreq m USING (term)
  GROUP BY 1, 2
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(s.query_id AS INTEGER) AS query_id,
       CAST(floor(s.score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q,
       CAST(s.n_matched AS INTEGER) AS n_matched
FROM scored s
JOIN mneed n ON n.query_id = s.query_id
LEFT JOIN mhit h ON h.query_id = s.query_id AND h.doc_id = s.doc_id
WHERE coalesce(h.nm, 0) = n.n_must
  AND NOT EXISTS (
    SELECT 1 FROM tok x JOIN excl e
      ON e.query_id = s.query_id AND e.term = x.term
    WHERE x.doc_id = s.doc_id
  )
ORDER BY 1, 2"""


def collection_statistics_sql(table: str = "documents") -> str:
    """Twin of ``query.collection_statistics``: every stat recomputed
    from the raw corpus through the shared tokenizer — n_docs,
    total token count (== sumTotalTermFreq == the lexicon cf total),
    distinct-term count, and quantized avgdl."""
    toks = duckdb_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
tot AS (SELECT count(*)::BIGINT AS n_tok FROM tok),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM {table})
SELECT (SELECT n_docs FROM nd) AS n_docs,
       (SELECT n_tok FROM tot) AS total_dl,
       (SELECT count(DISTINCT term) FROM tok)::BIGINT AS n_terms,
       (SELECT n_tok FROM tot) AS sum_cf,
       CAST(floor((SELECT n_tok FROM tot)::DOUBLE
                  / (SELECT n_docs FROM nd) * {_QUANT} + 0.5) AS BIGINT)
         AS avgdl_q"""


def term_statistics_sql(terms: list[str], table: str = "documents") -> str:
    """Twin of ``query.term_statistics``: df/cf per requested term from
    the tokenized corpus; absent terms emit no row."""
    inlist = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(terms))
    )
    toks = duckdb_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM tok WHERE term IN ({inlist})
GROUP BY term ORDER BY term"""


def hit_counts_sql(queries: list[tuple[int, str, int]], mode: str = "disjunctive") -> str:
    flt = "WHERE n_matched = n_terms" if mode == "conjunctive" else ""
    return (
        _bm25_ctes(queries)
        + f"""
SELECT CAST(query_id AS INTEGER) AS query_id, count(*)::BIGINT AS total_hits
FROM scored {flt}
GROUP BY 1 ORDER BY 1"""
    )


def max_scores_sql(queries: list[tuple[int, str, int]], mode: str = "disjunctive") -> str:
    """Twin of query.max_scores (K6 maxScore analog)."""
    flt = "WHERE n_matched = n_terms" if mode == "conjunctive" else ""
    return (
        _bm25_ctes(queries)
        + f"""
SELECT CAST(query_id AS INTEGER) AS query_id,
       max(CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT)) AS max_score_q
FROM scored {flt} GROUP BY 1 ORDER BY 1"""
    )


def explain_sql(
    queries: list[tuple[int, str, int]], mode: str = "disjunctive"
) -> str:
    """Twin of query.explain_scores (IndexSearcher.explain analog):
    per-term quantized BM25 contributions for the top-k hits. The
    contribution expression parenthesizes exactly like the engine
    ((qtf·idf) · (tf·(k1+1)) / denom) so the doubles agree
    bit-for-bit before quantization."""
    conj = mode == "conjunctive"
    return (
        _bm25_ctes(queries)
        + _ranked(conj)
        + f""",
hits AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= k),
contrib AS (
  SELECT q.query_id, tf.doc_id, q.term, tf.tf,
         (q.qtf * ln(1.0 + ((SELECT n FROM nstat) - dfs.df + 0.5) / (dfs.df + 0.5)))
           * (tf.tf * {P.k1 + 1.0})
           / (tf.tf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat))) AS c
  FROM tf
  JOIN q USING (term)
  JOIN dfs USING (term)
  JOIN dl USING (doc_id)
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS INTEGER) AS tf,
       CAST(floor(c * {_QUANT} + 0.5) AS BIGINT) AS contrib_q
FROM contrib JOIN hits USING (query_id, doc_id)
ORDER BY query_id, rank, term"""
    )


def sorted_search_sql(
    queries: list[tuple[int, str, int]], mode: str = "disjunctive"
) -> str:
    """Twin of query.search_sorted (Sort/SortField analog): matching
    docs ranked by token doc-length (the engine's docmeta.doc_len ==
    the dl CTE) DESC, doc_id ASC."""
    flt = "WHERE n_matched = n_terms" if mode == "conjunctive" else ""
    return (
        _bm25_ctes(queries)
        + f""",
srt AS (
  SELECT query_id, scored.doc_id, CAST(dl.dl AS BIGINT) AS sort_key, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dl.dl AS BIGINT) DESC, scored.doc_id ASC
         ) AS rnk
  FROM scored JOIN dl USING (doc_id) {flt}
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, sort_key
FROM srt WHERE rnk <= k ORDER BY query_id, rank"""
    )


def two_phase_sql(queries: list[tuple[int, str, int]]) -> str:
    """Q6 analog: conjunctive candidates capped at min(10k, 1e5), verify
    raw query text as substring of the stored body, keep phase-A score,
    re-rank to k (ChemicalIndex.java:657-727)."""
    capped = [(qid, text, candidate_cap(k)) for qid, text, k in queries]
    qtext_rows = ",\n    ".join(
        "({}, '{}', {})".format(qid, text.replace("'", "''"), k) for qid, text, k in queries
    )
    return (
        _bm25_ctes(capped)
        + _ranked(True)
        + f""",
qtext(query_id, qtext, final_k) AS (
  VALUES
    {qtext_rows}
),
verified AS (
  SELECT r.query_id, r.doc_id, r.score_q, qt.final_k,
         row_number() OVER (
           PARTITION BY r.query_id ORDER BY r.score_q DESC, r.doc_id ASC
         ) AS rnk2
  FROM ranked r
  JOIN qtext qt USING (query_id)
  JOIN documents d ON d.doc_id = r.doc_id
  WHERE r.rnk <= r.k AND contains(d.text, qt.qtext)
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk2 AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM verified WHERE rnk2 <= final_k
ORDER BY query_id, rank"""
    )


def query_syntax_sql(
    queries: list[tuple[int, str, int]],
    table: str = "documents",
    indexed_phrases: bool = False,
    extra_cte: str = "",
) -> str:
    """Twin of operators/query.search_syntax (Q1 MultiFieldQueryParser
    analog): +term required, -term excluded, "a b" phrase (substring-
    verified, score unchanged), bare terms optional, field:value over
    {repo, path, lang} as SHOULD clauses adding FIELD_BOOST per match
    (the documents-derived corpus maps repo → source, path →
    source || '/doc/' || doc_id, lang → lang), field:"a b"(~n)
    field-scoped phrases via an n-way join over the per-field token
    position stream (fposi CTE — the engine's span law as an existence
    join, one FIELD_BOOST per matched clause), and term* prefix
    clauses expanded IN SQL to the top-PREFIX_EXPANSION_LIMIT matching
    terms by (df DESC, term ASC) — the same expansion the engine
    resolves against its lexicon — each adding one SHOULD occurrence.
    term~ / term~N fuzzy clauses expand identically via levenshtein
    (top-FUZZY_EXPANSION_LIMIT). Wildcard clauses (te?m / mi*dle)
    expand via regexp_matches on the SHARED anchored
    ``wildcard_regex`` (top-WILDCARD_EXPANSION_LIMIT). [a TO b] /
    {a TO b} range clauses expand via lexicographic comparisons with
    per-range inclusivity flags (top-RANGE_EXPANSION_LIMIT). term^N
    boosts flow through the SHARED syntax_scoring_weights law (engine
    parity by construction). "a b"~N sloppy phrases filter via an
    n-way self-join over token positions — the same existence law as
    the engine's _slop_match (in-order, span <= n-1+slop, analyzed
    stream).

    ``indexed_phrases=True`` is the twin of the engine's positions
    backend (search_syntax(..., positions=...)): exact phrases verify
    as slop-0 entries of the SAME positions-join law (analyzed
    adjacency; zero-token phrases inert) instead of verbatim
    ``contains`` against the stored body."""
    from org_rdkit_lucene_spark.operators.query import (
        FIELD_BOOST,
        FUZZY_EXPANSION_LIMIT,
        PREFIX_EXPANSION_LIMIT,
        RANGE_EXPANSION_LIMIT,
        REGEXP_EXPANSION_LIMIT,
        WILDCARD_EXPANSION_LIMIT,
        _clause_weights,
        _field_phrase_words,
        parse_query,
        regexp_regex,
        syntax_scoring_weights,
        wildcard_regex,
    )

    q_rows, must_rows, mreq_rows, ex_rows, ph_rows, phn_rows = [], [], [], [], [], []
    fld_rows, k_rows, pref_rows, fz_rows, wc_rows, rg_rows = [], [], [], [], [], []
    rx_rows: list[str] = []
    fexp_rows: list[str] = []  # field-scoped prefix/wildcard/regexp (anchored rx)
    ffz_rows: list[str] = []  # field-scoped fuzzy (word, dist)
    frg_rows: list[str] = []  # field-scoped range (lo, hi, incl flags)
    fexp_cid = 0
    sp_blocks: list[str] = []
    spn_rows: list[str] = []
    sp_id = 0
    fp_blocks: list[str] = []

    def _sqlq(s: str) -> str:
        return s.replace("'", "''")

    for qid, text, k in queries:
        p = parse_query(text)
        k_rows.append(f"({qid}, {k})")
        # sloppy phrases: one n-way positions join per phrase — the
        # same existence law as the engine's _slop_match (positions
        # p1 < ... < pn, span <= n-1+slop over the ANALYZED stream)
        n_sp = 0
        sp_clauses = list(sorted(set(p["slop_phrases"])))
        if indexed_phrases:
            # exact phrases join the positions machinery as slop-0
            # clauses (duplicates kept — the engine counts each
            # occurrence as its own clause)
            sp_clauses = [(ph, 0) for ph in p["phrases"]] + sp_clauses
        for ph, slop in sp_clauses:
            words = tokenize_text(ph)
            if not words:
                continue  # zero-token slop phrase is inert
            n_sp += 1
            sp_id += 1
            if len(words) == 1:
                sp_blocks.append(
                    f"SELECT DISTINCT {qid} AS query_id, doc_id, {sp_id} AS ph\n"
                    f"  FROM posi WHERE term = '{_sqlq(words[0])}'"
                )
            else:
                joins = " ".join(
                    f"JOIN posi t{i} ON t{i}.doc_id = t1.doc_id "
                    f"AND t{i}.term = '{_sqlq(words[i - 1])}' AND t{i}.p > t{i - 1}.p"
                    for i in range(2, len(words) + 1)
                )
                bound = len(words) - 1 + slop
                sp_blocks.append(
                    f"SELECT DISTINCT {qid} AS query_id, t1.doc_id AS doc_id, "
                    f"{sp_id} AS ph\n  FROM posi t1 {joins}\n"
                    f"  WHERE t1.term = '{_sqlq(words[0])}' "
                    f"AND t{len(words)}.p - t1.p <= {bound}"
                )
        spn_rows.append(f"({qid}, {n_sp})")
        for (fld, val), fb in zip(p["fields"], p["field_boosts"]):
            fld_rows.append(
                "({}, '{}', '{}', {!r})".format(
                    qid, fld, val.replace("'", "''"), float(fb)
                )
            )
        # field-scoped phrases (field:"a b"(~n)): one n-way join per
        # clause over the FIELD token-position stream — the engine's
        # span law (_field_span_cond) as an existence join; each
        # matched clause contributes ONE fhit row (DISTINCT) carrying
        # its clause boost
        for (fld, val, slop), fb in zip(
            p["field_phrases"], p["field_phrase_boosts"]
        ):
            words = _field_phrase_words(val)
            if not words:
                continue
            if len(words) == 1:
                fp_blocks.append(
                    f"SELECT DISTINCT {qid} AS query_id, doc_id, "
                    f"{float(fb)!r} AS w FROM fposi "
                    f"WHERE fld = '{fld}' AND term = '{_sqlq(words[0])}'"
                )
            else:
                joins = " ".join(
                    f"JOIN fposi g{i} ON g{i}.doc_id = g1.doc_id "
                    f"AND g{i}.fld = '{fld}' "
                    f"AND g{i}.term = '{_sqlq(words[i - 1])}' AND g{i}.p > g{i - 1}.p"
                    for i in range(2, len(words) + 1)
                )
                bound = len(words) - 1 + int(slop)
                fp_blocks.append(
                    f"SELECT DISTINCT {qid} AS query_id, g1.doc_id AS doc_id, "
                    f"{float(fb)!r} AS w\n"
                    f"  FROM fposi g1 {joins}\n"
                    f"  WHERE g1.fld = '{fld}' AND g1.term = '{_sqlq(words[0])}' "
                    f"AND g{len(words)}.p - g1.p <= {bound}"
                )
        # field-scoped expansion clauses (field:util* / field:u?il /
        # field:pyth~N): per-clause DISTINCT over the fposi stream —
        # same anchored wildcard_regex / levenshtein laws as the
        # engine's _field_hits, one fhit row (× clause boost) per
        # matched clause
        for (fld, pfx), fb in zip(p["field_prefixes"], p["field_prefix_boosts"]):
            fexp_cid += 1
            fexp_rows.append(
                "({}, '{}', '{}', {}, {!r})".format(
                    qid, fld, _sqlq(wildcard_regex(pfx + "*")), fexp_cid, float(fb)
                )
            )
        for (fld, pat), fb in zip(
            p["field_wildcards"], p["field_wildcard_boosts"]
        ):
            fexp_cid += 1
            fexp_rows.append(
                "({}, '{}', '{}', {}, {!r})".format(
                    qid, fld, _sqlq(wildcard_regex(pat)), fexp_cid, float(fb)
                )
            )
        for (fld, pat), fb in zip(p["field_regexps"], p["field_regexp_boosts"]):
            fexp_cid += 1
            fexp_rows.append(
                "({}, '{}', '{}', {}, {!r})".format(
                    qid, fld, _sqlq(regexp_regex(pat)), fexp_cid, float(fb)
                )
            )
        for (fld, w, d), fb in zip(p["field_fuzzies"], p["field_fuzzy_boosts"]):
            fexp_cid += 1
            ffz_rows.append(
                "({}, '{}', '{}', {}, {}, {!r})".format(
                    qid, fld, _sqlq(w), d, fexp_cid, float(fb)
                )
            )
        # field:[a TO b] — lexicographic bounds over the fposi stream
        # (TermRangeQuery on the field; field tokens are [a-z0-9]+ so
        # code-point order agrees between Spark and DuckDB)
        for (fld, lo, hi, lo_i, hi_i), fb in zip(
            p["field_ranges"], p["field_range_boosts"]
        ):
            fexp_cid += 1
            sql_lo = "NULL" if lo is None else f"'{_sqlq(lo)}'"
            sql_hi = "NULL" if hi is None else f"'{_sqlq(hi)}'"
            frg_rows.append(
                f"({qid}, '{fld}', {sql_lo}, {sql_hi}, {str(lo_i).upper()}, "
                f"{str(hi_i).upper()}, {fexp_cid}, {float(fb)!r})"
            )
        # distinct clause → SUMMED boost (the engine's _clause_weights
        # law — duplicate clauses' contributions sum, 1.0 unboosted)
        for pfx, cw in sorted(
            _clause_weights(p["prefixes"], p["prefix_boosts"]).items()
        ):
            pref_rows.append(
                "({}, '{}', {!r})".format(qid, pfx.replace("'", "''"), float(cw))
            )
        for (w, d), cw in sorted(
            _clause_weights(p["fuzzies"], p["fuzzy_boosts"]).items()
        ):
            fz_rows.append(
                "({}, '{}', {}, {!r})".format(
                    qid, w.replace("'", "''"), d, float(cw)
                )
            )
        for wc, cw in sorted(
            _clause_weights(p["wildcards"], p["wildcard_boosts"]).items()
        ):
            wc_rows.append(
                "({}, '{}', {!r})".format(
                    qid, wildcard_regex(wc).replace("'", "''"), float(cw)
                )
            )
        for rp, cw in sorted(
            _clause_weights(p["regexps"], p["regexp_boosts"]).items()
        ):
            rx_rows.append(
                "({}, '{}', {!r})".format(
                    qid, regexp_regex(rp).replace("'", "''"), float(cw)
                )
            )
        for (lo, hi, lo_i, hi_i), cw in sorted(
            _clause_weights(p["ranges"], p["range_boosts"]).items(),
            key=lambda kv: (kv[0][0] or "", kv[0][1] or "", kv[0][2], kv[0][3]),
        ):
            sql_lo = "NULL" if lo is None else "'{}'".format(lo.replace("'", "''"))
            sql_hi = "NULL" if hi is None else "'{}'".format(hi.replace("'", "''"))
            rg_rows.append(
                f"({qid}, {sql_lo}, {sql_hi}, {str(lo_i).upper()}, "
                f"{str(hi_i).upper()}, {float(cw)!r})"
            )
        counts, must_terms = syntax_scoring_weights(p, DEFAULT_PROFILE)
        for term, qtf in counts.items():
            esc = term.replace("'", "''")
            q_rows.append(f"({qid}, '{esc}', {float(qtf)!r}, {len(counts)}, {k})")
        mreq_rows.append(f"({qid}, {len(must_terms)})")
        for t in sorted(must_terms):
            must_rows.append(f"({qid}, '{t.replace(chr(39), chr(39)*2)}')")
        for w in p["excluded"]:
            for t in tokenize_text(w):
                ex_rows.append(f"({qid}, '{t.replace(chr(39), chr(39)*2)}')")
        if indexed_phrases:
            phn_rows.append(f"({qid}, 0)")  # contains-law disabled
        else:
            for ph in p["phrases"]:
                ph_rows.append(f"({qid}, '{ph.replace(chr(39), chr(39)*2)}')")
            phn_rows.append(f"({qid}, {len(p['phrases'])})")

    def vals(rows, arity):
        return ",\n    ".join(rows) if rows else "(" + ", ".join(["NULL"] * arity) + ")"

    toks = duckdb_tokens_sql("text")
    spok_body = "\n  UNION ALL\n  ".join(sp_blocks) or (
        "SELECT NULL::INT AS query_id, NULL::BIGINT AS doc_id, "
        "NULL::INT AS ph WHERE FALSE"
    )
    fp_union = (
        "UNION ALL\n    " + "\n    UNION ALL\n    ".join(fp_blocks)
        if fp_blocks
        else ""
    )
    fexp_union = ""
    if fexp_rows:
        fexp_union += (
            "UNION ALL\n    SELECT query_id, doc_id, w FROM (\n"
            "      SELECT DISTINCT e.query_id, p.doc_id, e.cid, e.w\n"
            "      FROM fexpv e JOIN fposi p ON e.query_id IS NOT NULL\n"
            "       AND p.fld = e.fld AND regexp_matches(p.term, e.pat))\n    "
        )
    if ffz_rows:
        fexp_union += (
            "UNION ALL\n    SELECT query_id, doc_id, w FROM (\n"
            "      SELECT DISTINCT z.query_id, p.doc_id, z.cid, z.w\n"
            "      FROM ffzv z JOIN fposi p ON z.query_id IS NOT NULL\n"
            "       AND p.fld = z.fld AND levenshtein(p.term, z.word) <= z.dist)\n    "
        )
    if frg_rows:
        fexp_union += (
            "UNION ALL\n    SELECT query_id, doc_id, w FROM (\n"
            "      SELECT DISTINCT r.query_id, p.doc_id, r.cid, r.w\n"
            "      FROM frgv r JOIN fposi p ON r.query_id IS NOT NULL\n"
            "       AND p.fld = r.fld\n"
            "       AND (r.lo IS NULL OR p.term > r.lo OR (r.lo_i AND p.term = r.lo))\n"
            "       AND (r.hi IS NULL OR p.term < r.hi OR (r.hi_i AND p.term = r.hi)))\n    "
        )
    head = f"WITH {extra_cte},\ntok AS" if extra_cte else "WITH tok AS"
    return f"""
{head} (SELECT doc_id, unnest({toks}) AS term FROM {table}),
posi AS (SELECT doc_id, unnest({toks}) AS term,
                generate_subscripts({toks}, 1) AS p FROM {table}),
spok AS (
  {spok_body}
),
spc AS (SELECT query_id, doc_id, count(DISTINCT ph) AS c FROM spok GROUP BY 1, 2),
spn(query_id, n_sp) AS (VALUES
    {vals(spn_rows, 2)}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term, qtf, n_terms, k) AS (VALUES
    {vals(q_rows, 5)}),
pref(query_id, prefix, w) AS (VALUES
    {vals(pref_rows, 3)}),
pref_exp AS (
  SELECT p.query_id, d.term, p.w,
         row_number() OVER (PARTITION BY p.query_id, p.prefix
                            ORDER BY d.df DESC, d.term ASC) AS rn
  FROM pref p JOIN dfs d ON starts_with(d.term, p.prefix)
  WHERE p.query_id IS NOT NULL
),
fz(query_id, fterm, dist, w) AS (VALUES
    {vals(fz_rows, 4)}),
fz_exp AS (
  SELECT f.query_id, d.term, f.w,
         row_number() OVER (PARTITION BY f.query_id, f.fterm, f.dist
                            ORDER BY d.df DESC, d.term ASC) AS rn
  FROM fz f JOIN dfs d ON levenshtein(d.term, f.fterm) <= f.dist
  WHERE f.query_id IS NOT NULL
),
wc(query_id, pat, w) AS (VALUES
    {vals(wc_rows, 3)}),
wc_exp AS (
  SELECT w.query_id, d.term, w.w,
         row_number() OVER (PARTITION BY w.query_id, w.pat
                            ORDER BY d.df DESC, d.term ASC) AS rn
  FROM wc w JOIN dfs d ON regexp_matches(d.term, w.pat)
  WHERE w.query_id IS NOT NULL
),
rx(query_id, pat, w) AS (VALUES
    {vals(rx_rows, 3)}),
rx_exp AS (
  SELECT r.query_id, d.term, r.w,
         row_number() OVER (PARTITION BY r.query_id, r.pat
                            ORDER BY d.df DESC, d.term ASC) AS rn
  FROM rx r JOIN dfs d ON regexp_matches(d.term, r.pat)
  WHERE r.query_id IS NOT NULL
),
rg(query_id, lo, hi, lo_i, hi_i, w) AS (VALUES
    {vals(rg_rows, 6)}),
rg_exp AS (
  SELECT r.query_id, d.term, r.w,
         row_number() OVER (PARTITION BY r.query_id, r.lo, r.hi, r.lo_i, r.hi_i
                            ORDER BY d.df DESC, d.term ASC) AS rn
  FROM rg r JOIN dfs d
    ON r.query_id IS NOT NULL
   AND (r.lo IS NULL OR d.term > r.lo OR (r.lo_i AND d.term = r.lo))
   AND (r.hi IS NULL OR d.term < r.hi OR (r.hi_i AND d.term = r.hi))
),
qm AS (
  SELECT query_id, term, sum(qtf)::DOUBLE AS qtf FROM (
    SELECT query_id, term, qtf FROM q WHERE query_id IS NOT NULL
    UNION ALL
    SELECT query_id, term, w AS qtf FROM pref_exp WHERE rn <= {PREFIX_EXPANSION_LIMIT}
    UNION ALL
    SELECT query_id, term, w AS qtf FROM fz_exp WHERE rn <= {FUZZY_EXPANSION_LIMIT}
    UNION ALL
    SELECT query_id, term, w AS qtf FROM wc_exp WHERE rn <= {WILDCARD_EXPANSION_LIMIT}
    UNION ALL
    SELECT query_id, term, w AS qtf FROM rg_exp WHERE rn <= {RANGE_EXPANSION_LIMIT}
    UNION ALL
    SELECT query_id, term, w AS qtf FROM rx_exp WHERE rn <= {REGEXP_EXPANSION_LIMIT}
  ) GROUP BY 1, 2
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + ((SELECT n FROM nstat) - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * {P.k1 + 1.0}
             / (tf.tf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw
  FROM tf JOIN qm q USING (term) JOIN dfs USING (term) JOIN dl USING (doc_id)
  WHERE q.query_id IS NOT NULL
  GROUP BY 1, 2
),
kq(query_id, k) AS (VALUES
    {vals(k_rows, 2)}),
fieldc(query_id, fld, val, w) AS (VALUES
    {vals(fld_rows, 4)}),
fexpv(query_id, fld, pat, cid, w) AS (VALUES
    {vals(fexp_rows, 5)}),
ffzv(query_id, fld, word, dist, cid, w) AS (VALUES
    {vals(ffz_rows, 6)}),
frgv(query_id, fld, lo, hi, lo_i, hi_i, cid, w) AS (VALUES
    {vals(frg_rows, 8)}),
fposi AS (
  SELECT doc_id, 'path' AS fld, unnest(arr) AS term, generate_subscripts(arr, 1) AS p
  FROM (SELECT doc_id, regexp_split_to_array(
          lower(source || '/doc/' || doc_id), '[^a-z0-9]+') AS arr FROM {table})
  UNION ALL
  SELECT doc_id, 'repo', unnest(arr), generate_subscripts(arr, 1)
  FROM (SELECT doc_id, regexp_split_to_array(lower(source), '[^a-z0-9]+') AS arr FROM {table})
  UNION ALL
  SELECT doc_id, 'lang', unnest(arr), generate_subscripts(arr, 1)
  FROM (SELECT doc_id, regexp_split_to_array(lower(lang), '[^a-z0-9]+') AS arr FROM {table})
),
fhit AS (
  SELECT query_id, doc_id, sum(w) AS nf FROM (
    SELECT f.query_id, d.doc_id, f.w
    FROM fieldc f JOIN {table} d ON f.query_id IS NOT NULL AND (
         (f.fld = 'path' AND list_contains(
            regexp_split_to_array(lower(d.source || '/doc/' || d.doc_id), '[^a-z0-9]+'), f.val))
      OR (f.fld = 'repo' AND list_contains(
            regexp_split_to_array(lower(d.source), '[^a-z0-9]+'), f.val))
      OR (f.fld = 'lang' AND lower(d.lang) = f.val))
    {fp_union}
    {fexp_union}
  ) GROUP BY 1, 2
),
cand AS (
  SELECT coalesce(s.query_id, f.query_id) AS query_id,
         coalesce(s.doc_id, f.doc_id) AS doc_id,
         coalesce(s.score_raw, 0) + coalesce(f.nf, 0) * {FIELD_BOOST} AS score_raw
  FROM scored s FULL JOIN fhit f ON s.query_id = f.query_id AND s.doc_id = f.doc_id
),
must(query_id, term) AS (VALUES
    {vals(must_rows, 2)}),
mreq(query_id, n_must) AS (VALUES
    {vals(mreq_rows, 2)}),
mhit AS (
  SELECT m.query_id, tf.doc_id, count(DISTINCT tf.term) AS c
  FROM tf JOIN must m ON m.term = tf.term
  WHERE m.query_id IS NOT NULL GROUP BY 1, 2
),
ex(query_id, term) AS (VALUES
    {vals(ex_rows, 2)}),
exdocs AS (
  SELECT DISTINCT e.query_id, tf.doc_id
  FROM tf JOIN ex e ON e.term = tf.term WHERE e.query_id IS NOT NULL
),
ph(query_id, phrase) AS (VALUES
    {vals(ph_rows, 2)}),
phn(query_id, n_ph) AS (VALUES
    {vals(phn_rows, 2)}),
phok AS (
  SELECT p.query_id, d.doc_id, count(*) AS c
  FROM ph p JOIN {table} d ON contains(d.text, p.phrase)
  WHERE p.query_id IS NOT NULL GROUP BY 1, 2
),
filtered AS (
  SELECT s.query_id, s.doc_id, s.score_raw, kq.k
  FROM cand s
  JOIN kq ON kq.query_id = s.query_id
  JOIN mreq ON mreq.query_id = s.query_id
  LEFT JOIN mhit ON mhit.query_id = s.query_id AND mhit.doc_id = s.doc_id
  LEFT JOIN exdocs x ON x.query_id = s.query_id AND x.doc_id = s.doc_id
  LEFT JOIN phn ON phn.query_id = s.query_id
  LEFT JOIN phok ON phok.query_id = s.query_id AND phok.doc_id = s.doc_id
  LEFT JOIN spn ON spn.query_id = s.query_id
  LEFT JOIN spc ON spc.query_id = s.query_id AND spc.doc_id = s.doc_id
  WHERE coalesce(mhit.c, 0) = mreq.n_must
    AND x.doc_id IS NULL
    AND coalesce(phok.c, 0) = coalesce(phn.n_ph, 0)
    AND coalesce(spc.c, 0) = coalesce(spn.n_sp, 0)
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM filtered
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def boolean_search_sql(
    queries: list[tuple[int, str, int]], table: str = "documents"
) -> str:
    """Twin of operators/query.search_boolean: one scored pass over the
    union of leaf terms, each doc's matched-term set collected, the
    boolean tree evaluated per query as a CASE over list_contains —
    identical scoring law (BM25 over all matched leaf terms, qtf=1,
    tree only filters). NOT shares the engine's parse/resolve/normalize
    (Lucene MUST_NOT law), so the trees are identical by construction;
    negated leaves are fetched for the mt set but contribute 0 score
    to survivors."""
    from org_rdkit_lucene_spark.operators.query import (
        boolean_leaf_terms,
        normalize_boolean,
        parse_boolean,
        resolve_boolean,
    )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    def tree_sql(tree) -> str:
        if tree[0] == "term":
            return f"list_contains(mt, '{esc(tree[1])}')"
        if tree[0] == "not":
            return f"(NOT {tree_sql(tree[1])})"
        op = " AND " if tree[0] == "and" else " OR "
        return "(" + op.join(tree_sql(c) for c in tree[1]) + ")"

    q_rows, whens, k_rows = [], [], []
    for qid, text, k in queries:
        tree = normalize_boolean(resolve_boolean(parse_boolean(text), DEFAULT_PROFILE))
        k_rows.append(f"({qid}, {k})")
        if tree is None:
            continue
        terms = boolean_leaf_terms(tree)
        for t in terms:
            q_rows.append(f"({qid}, '{esc(t)}')")
        whens.append(f"WHEN {qid} THEN {tree_sql(tree)}")
    qvals = ",\n    ".join(q_rows) if q_rows else "(NULL, NULL)"
    kvals = ",\n    ".join(k_rows)
    case = "CASE query_id " + " ".join(whens) + " ELSE FALSE END" if whens else "FALSE"
    toks = duckdb_tokens_sql("text")
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM {table}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term) AS (VALUES
    {qvals}),
kq(query_id, k) AS (VALUES
    {kvals}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1.0 + ((SELECT n FROM nstat) - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * {P.k1 + 1.0}
             / (tf.tf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw,
         list(DISTINCT tf.term) AS mt
  FROM tf JOIN q USING (term) JOIN dfs USING (term) JOIN dl USING (doc_id)
  WHERE q.query_id IS NOT NULL
  GROUP BY 1, 2
),
filtered AS (
  SELECT s.query_id, s.doc_id, s.score_raw, kq.k
  FROM scored s JOIN kq USING (query_id)
  WHERE {case}
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM filtered
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def lexicon_sql(limit: int = 30, profile: TokenizerProfile = DEFAULT_PROFILE) -> str:
    """Top terms by document frequency — checks the whole SPIMI+merge
    +lexicon pipeline against a direct SQL tokenization."""
    toks = duckdb_tokens_sql("text", profile)
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf GROUP BY term
ORDER BY df DESC, term ASC LIMIT {limit}"""


def docmeta_sql() -> str:
    """doc_len + sha256 invariant vs a direct SQL computation."""
    toks = duckdb_tokens_sql("text")
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       len({toks})::BIGINT AS doc_len,
       sha256(text) AS sha256
FROM documents ORDER BY doc_id"""


def point_lookup_sql(doc_id: int) -> str:
    return f"""
SELECT doc_id::BIGINT AS doc_id, lang, sha256(text) AS sha256
FROM documents WHERE doc_id = {doc_id}"""


def exact_match_sql(anchor_doc_id: int) -> str:
    """Q4 analog: all docs whose body hash equals the anchor doc's."""
    return f"""
SELECT doc_id::BIGINT AS doc_id, sha256(text) AS sha256
FROM documents
WHERE sha256(text) = (SELECT sha256(text) FROM documents WHERE doc_id = {anchor_doc_id})
ORDER BY doc_id"""


def blocklist_sql(blocked: list[int]) -> str:
    """P2 analog (setIgnorePKs, ChemicalIndex.java:258): anti-join."""
    ids = ", ".join(str(i) for i in blocked)
    return f"""
SELECT doc_id::BIGINT AS doc_id FROM documents
WHERE doc_id NOT IN ({ids}) ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# training-data ops (dedup / text analysis / ANN / multimodal) — exact
# SQL twins of the Spark operators in operators/dedup.py, functions/
# text.py, operators/ann.py, operators/multimodal.py


def _shingles(n: int) -> str:
    toks = duckdb_tokens_sql("text")
    return (
        f"CASE WHEN len({toks}) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) END"
    )


def dedup_exact_sql() -> str:
    return """
SELECT doc_id::BIGINT AS doc_id,
       sha256(text) AS content_hash,
       (doc_id != min(doc_id) OVER (PARTITION BY sha256(text)))::INT AS is_duplicate
FROM documents ORDER BY doc_id"""


def minhash_signatures_sql(n_hashes: int = 8) -> str:
    mins = ",\n       ".join(
        f"min(md5('{i}#' || s)) AS h{i}" for i in range(n_hashes)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingles(3)}) AS s FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
       {mins}
FROM sh GROUP BY doc_id ORDER BY doc_id"""


def dup_docs_cte(table: str = "documents") -> str:
    """Derived view with engineered exact duplicates: the upper half of
    the id space re-uses the lower half's text (doc_id % (N//2)). Both
    the Spark wrapper and this SQL derive it identically, giving the
    pair-producing dedup operators a non-empty, deterministic answer on
    a corpus that has no natural duplicates."""
    return f"""dup_documents AS (
  SELECT d.doc_id, b.text
  FROM {table} d
  JOIN {table} b ON b.doc_id = d.doc_id % (SELECT count(*) // 2 FROM {table})
)"""


def minhash_lsh_pairs_sql(n_hashes: int = 8, n_bands: int = 4, table: str = "documents",
                          extra_cte: str = "") -> str:
    rows_per_band = n_hashes // n_bands
    band_rows = []
    for bi in range(n_bands):
        cols = " || '|' || ".join(
            f"h{bi * rows_per_band + j}" for j in range(rows_per_band)
        )
        band_rows.append(f"SELECT doc_id, {bi} AS band, {cols} AS band_val FROM sig")
    bands = "\nUNION ALL\n".join(band_rows)
    pre = f"{extra_cte}," if extra_cte else ""
    return f"""
WITH {pre}
sh AS (
  SELECT doc_id, unnest({_shingles(3)}) AS s FROM {table}
),
sig AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{i}#' || s)) AS h{i}" for i in range(n_hashes))}
  FROM sh GROUP BY doc_id
),
bands AS (
{bands}
)
SELECT DISTINCT a.doc_id::BIGINT AS doc1, b.doc_id::BIGINT AS doc2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
ORDER BY doc1, doc2"""


def ngram_jaccard_sql(n: int = 3, threshold: float = 0.8, max_shingle_df: int = 1000,
                      table: str = "documents", extra_cte: str = "") -> str:
    pre = f"{extra_cte}," if extra_cte else ""
    return f"""
WITH {pre}
sh0 AS (
  SELECT DISTINCT doc_id, unnest({_shingles(n)}) AS s FROM {table}
),
rare AS (
  SELECT sh0.* FROM sh0
  JOIN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {max_shingle_df}) r USING (s)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2,
       CAST(floor(inter * 1.0 / (s1.sz + s2.sz - inter) * 1000000 + 0.5) AS BIGINT) AS jacc_q
FROM inter
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= {threshold}
ORDER BY doc1, doc2"""


def lang_id_sql() -> str:
    from org_rdkit_lucene_spark.functions.text import LANGS, STOPWORDS

    toks = duckdb_tokens_sql("text")
    counts = []
    for lang in LANGS:
        arr = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
        counts.append(
            f"len(list_filter({toks}, t -> list_contains({arr}, t))) AS c_{lang}"
        )
    chain = f"'{LANGS[-1]}'"
    for i in range(len(LANGS) - 2, -1, -1):
        lang = LANGS[i]
        cond = " AND ".join(f"c_{lang} >= c_{LANGS[j]}" for j in range(i + 1, len(LANGS)))
        chain = f"CASE WHEN {cond} THEN '{lang}' ELSE {chain} END"
    greatest = "greatest(" + ", ".join(f"c_{lang}" for lang in LANGS) + ")"
    return f"""
WITH c AS (
  SELECT doc_id, {", ".join(counts)} FROM documents
)
SELECT doc_id::BIGINT AS doc_id, {chain} AS pred_lang,
       {greatest}::BIGINT AS best_hits
FROM c ORDER BY doc_id"""


def token_counts_sql() -> str:
    toks = duckdb_tokens_sql("text")
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       len({toks})::BIGINT AS n_tokens,
       CASE WHEN len(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_ws_tokens,
       len(list_distinct({toks}))::BIGINT AS n_distinct_tokens
FROM documents ORDER BY doc_id"""


def quality_scores_sql() -> str:
    from org_rdkit_lucene_spark.functions.text import STOPWORDS

    toks = duckdb_tokens_sql("text")
    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    return f"""
WITH m AS (
  SELECT doc_id,
         len({toks}) AS n_toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS n_alnum,
         length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
         len(list_filter({toks}, t -> list_contains({en}, t))) AS n_stop
  FROM documents
),
r AS (
  SELECT doc_id, n_toks,
         CASE WHEN n_chars = 0 THEN 0.0
              ELSE (n_chars - n_alnum - n_space) * 1.0 / n_chars END AS punct_ratio,
         CASE WHEN n_toks = 0 THEN 0.0 ELSE n_stop * 1.0 / n_toks END AS stop_ratio
  FROM m
)
SELECT doc_id::BIGINT AS doc_id, n_toks::BIGINT AS n_tokens,
       CAST(floor(punct_ratio * 1000000 + 0.5) AS BIGINT) AS punct_ratio_q,
       CAST(floor(stop_ratio * 1000000 + 0.5) AS BIGINT) AS stop_ratio_q,
       CAST(floor((0.3 * least(1.0, n_toks / 100.0) + 0.4 * (1.0 - punct_ratio)
                   + 0.3 * stop_ratio) * 1000000 + 0.5) AS BIGINT) AS quality_q
FROM r ORDER BY doc_id"""


def doc_fingerprints_sql(shingle_n: int = 5) -> str:
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       list_min(list_transform({_shingles(shingle_n)}, s -> md5(s))) AS fingerprint
FROM documents ORDER BY doc_id"""


def winnow_fingerprints_sql(window: int = 4) -> str:
    """Twin of functions/text.winnow_fingerprints: 60-bit md5 token
    hashes, rolling-window minima, distinct set digested as
    (size, min, xor-fold)."""
    toks = duckdb_tokens_sql("text")
    return f"""
WITH hs AS (
  SELECT doc_id,
         list_transform({toks}, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
  FROM documents
),
mins AS (
  SELECT doc_id,
         CASE WHEN len(hs) <= 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(
                     range(1, len(hs) - least({window}, len(hs)) + 2),
                     i -> list_min(hs[i:i+{window - 1}]))
         END AS mins
  FROM hs
),
fps AS (SELECT doc_id, list_distinct(mins) AS fps FROM mins)
SELECT doc_id::BIGINT AS doc_id,
       len(fps)::BIGINT AS n_fingerprints,
       coalesce(list_min(fps), 0)::BIGINT AS fp_min,
       CASE WHEN len(fps) = 0 THEN 0
            ELSE list_reduce(fps, (a, b) -> xor(a, b)) END::BIGINT AS fp_xor
FROM fps ORDER BY doc_id"""


def rep_docs_cte(table: str = "documents") -> str:
    """Derived view with engineered intra-doc repetition: doc_id % 3
    == 0 triples its text across newlines (fully repetitive), % 3 == 1
    appends one distinct tail line (non-repetitive two-liner), % 3 ==
    2 stays as-is. Mirrored exactly by the Spark wrapper so the
    repetition operator has a non-trivial deterministic answer on a
    corpus whose natural docs are single-line."""
    return f"""rep_documents AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
                THEN text || chr(10) || text || chr(10) || text
              WHEN doc_id % 3 = 1
                THEN text || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM {table}
)"""


def repetition_scores_sql(
    max_dup_line_frac: float = 0.30,
    max_dup_char_frac: float = 0.20,
    table: str = "documents",
    extra_cte: str = "",
) -> str:
    """Twin of functions/text.repetition_scores: trimmed non-empty
    lines, sorted once so duplicate values sit adjacent (only neighbor
    EQUALITY is consumed, so collation differences cannot matter),
    dup-line / dup-char fractions quantized to 1e-6, Gopher thresholds
    compared on the quantized values."""
    line_thr = int(max_dup_line_frac * 1_000_000 + 0.5)
    char_thr = int(max_dup_char_frac * 1_000_000 + 0.5)
    extra = f"{extra_cte}," if extra_cte else ""
    return f"""
WITH {extra}
ls AS (
  SELECT doc_id,
         list_sort(list_filter(
           list_transform(string_split(text, chr(10)), t -> trim(t)),
           x -> length(x) > 0)) AS s
  FROM {table}
),
m AS (
  SELECT doc_id, len(s) AS n, len(list_distinct(s)) AS d,
         coalesce(list_sum(list_transform(range(1, len(s) + 1),
           i -> CASE WHEN (i > 1 AND s[i] = s[i-1])
                       OR (i < len(s) AND s[i] = s[i+1])
                     THEN length(s[i]) ELSE 0 END)), 0) AS dup_chars,
         coalesce(list_sum(list_transform(s, x -> length(x))), 0) AS total_chars
  FROM ls
),
r AS (
  SELECT doc_id, n,
         CASE WHEN n = 0 THEN 0.0
              ELSE (n - d) * 1.0 / n END AS dup_line_frac,
         CASE WHEN total_chars = 0 THEN 0.0
              ELSE dup_chars * 1.0 / total_chars END AS dup_char_frac
  FROM m
)
SELECT doc_id::BIGINT AS doc_id, n::BIGINT AS n_lines,
       CAST(floor(dup_line_frac * 1000000 + 0.5) AS BIGINT) AS dup_line_frac_q,
       CAST(floor(dup_char_frac * 1000000 + 0.5) AS BIGINT) AS dup_char_frac_q,
       CAST(CASE WHEN floor(dup_line_frac * 1000000 + 0.5) > {line_thr}
                   OR floor(dup_char_frac * 1000000 + 0.5) > {char_thr}
                 THEN 1 ELSE 0 END AS INT) AS repetitive
FROM r ORDER BY doc_id"""


def ann_cosine_topk_sql(query_vec_ids: list[int], k: int = 10) -> str:
    ids = ", ".join(str(i) for i in query_vec_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id IN ({ids})
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
scored AS (
  SELECT q.query_id, e.vec_id,
         CAST(floor(
           list_dot_product(list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev))),
                            list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))))
           * 1000000 + 0.5) AS BIGINT) AS cos_q
  FROM q CROSS JOIN e
),
ranked AS (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id::BIGINT AS query_id, CAST(rnk AS INTEGER) AS rank,
       vec_id::BIGINT AS vec_id, cos_q
FROM ranked WHERE rnk <= {k} ORDER BY query_id, rank"""


_INT64_MIN = "(-9223372036854775807 - 1)"


def _simhash_ctes(table: str, extra_cte: str) -> str:
    """Shared CTE chain computing fp(doc_id, simhash) — the 64-bit
    tf-weighted SimHash from the MSB-first bits of md5(term)[:8],
    stored offset by 2^63 into signed int64. Token-less docs hash to
    the all-zero fingerprint (-2^63), matching the Arrow kernel."""
    toks = duckdb_tokens_sql("text")
    pre = f"{extra_cte},\n" if extra_cte else ""
    return f"""{pre}tok AS (SELECT doc_id, unnest({toks}) AS term FROM {table}),
tfx AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
th AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 16))::UBIGINT AS h FROM tfx),
bits AS (
  SELECT doc_id, j,
         sum(tf * (CASE WHEN (h >> (63 - j)::INT) & 1 = 1 THEN 1.0 ELSE -1.0 END)) AS acc
  FROM th CROSS JOIN range(64) r(j) GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN j = 0 THEN (CASE WHEN acc > 0 THEN 0 ELSE {_INT64_MIN} END)
                  WHEN acc > 0 THEN CAST(1 AS BIGINT) << (63 - j)::INT
                  ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1
),
fp AS (
  SELECT d.doc_id, coalesce(sh.simhash, {_INT64_MIN})::BIGINT AS simhash
  FROM {table} d LEFT JOIN sh ON sh.doc_id = d.doc_id
)"""


def simhash_sql(table: str = "documents", extra_cte: str = "") -> str:
    """Exact SQL twin of operators/dedup.simhash_fingerprints."""
    return f"""
WITH {_simhash_ctes(table, extra_cte)}
SELECT doc_id::BIGINT AS doc_id, simhash FROM fp ORDER BY doc_id"""


def simhash_pairs_sql(max_hamming: int = 3, table: str = "documents", extra_cte: str = "") -> str:
    """Twin of simhash_near_pairs. The Spark side generates candidates
    by 4x16-bit banding then verifies by popcount; hamming <= 3 with 4
    chunks guarantees a shared chunk (pigeonhole), so the banded result
    equals this direct all-pairs popcount filter."""
    return f"""
WITH {_simhash_ctes(table, extra_cte)}
SELECT a.doc_id::BIGINT AS doc1, b.doc_id::BIGINT AS doc2,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc1, doc2"""


def _plane_matrix(dim: int, n_planes: int, seed: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes))


def _bucket_expr(vec_sql: str, planes) -> str:
    """Sign-LSH bucket as a SQL expression: sum over planes of
    (dot(v, plane_i) > 0) << i, with the seeded plane matrix embedded
    as full-precision literals (repr round-trips float64)."""
    terms = []
    for i in range(planes.shape[1]):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[:, i]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_sql}, {lit}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + "\n         + ".join(terms) + ")"


def ann_lsh_topk_sql(
    query_vec_ids: list[int], k: int = 10, dim: int = 64, n_planes: int = 12,
    seed: int = 42, probe_hamming: int = 0,
) -> str:
    """Twin of operators/ann.lsh_cosine_topk with corpus vectors as
    queries: exact cosine re-rank within the query's LSH bucket
    NEIGHBORHOOD (multiprobe: the shared ``probe_masks`` XOR-mask law
    expands each query bucket to every bucket within
    ``probe_hamming``)."""
    from org_rdkit_lucene_spark.operators.ann import probe_masks

    planes = _plane_matrix(dim, n_planes, seed)
    ids = ", ".join(str(i) for i in query_vec_ids)
    masks = ", ".join(f"({m})" for m in probe_masks(n_planes, probe_hamming))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
b AS (
  SELECT vec_id, ev,
         {_bucket_expr("ev", planes)} AS bucket
  FROM e
),
masks(m) AS (VALUES {masks}),
q0 AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM b WHERE vec_id IN ({ids})),
q AS (SELECT query_id, qv, xor(bucket, m) AS bucket FROM q0 CROSS JOIN masks),
cand AS (SELECT q.query_id, q.qv, b.vec_id, b.ev FROM q JOIN b USING (bucket)),
scored AS (
  SELECT query_id, vec_id,
         CAST(floor(
           list_dot_product(list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev))),
                            list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))))
           * 1000000 + 0.5) AS BIGINT) AS cos_q
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id::BIGINT AS query_id, CAST(rnk AS INTEGER) AS rank,
       vec_id::BIGINT AS vec_id, cos_q
FROM ranked WHERE rnk <= {k} ORDER BY query_id, rank"""


_NCOS = (
    "list_dot_product(list_transform({a}, x -> x / sqrt(list_dot_product({a}, {a}))), "
    "list_transform({b}, x -> x / sqrt(list_dot_product({b}, {b}))))"
)


def _cos_q_sql(a: str, b: str) -> str:
    return f"CAST(floor({_NCOS.format(a=a, b=b)} * 1000000 + 0.5) AS BIGINT)"


def ann_ivf_topk_sql(
    query_vec_ids: list[int], k: int = 10, n_centroids: int = 16, nprobe: int = 4
) -> str:
    """Twin of operators/ann.ivf_cosine_topk: fixed-subset codebook
    (vec_id < n_centroids), nearest-centroid assignment (quantized
    cosine, ties → lowest cid), nprobe-cell probe, exact re-rank."""
    ids = ", ".join(str(i) for i in query_vec_ids)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
cent AS (SELECT vec_id AS cid, ev AS cv FROM e WHERE vec_id < {n_centroids}),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_q_sql("e.ev", "c.cv")} DESC, c.cid ASC
           ) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id IN ({ids})),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_cos_q_sql("q.qv", "c.cv")} DESC, c.cid ASC
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {_cos_q_sql("qq.qv", "ee.ev")} AS cos_q
  FROM probe p
  JOIN asg a USING (cid)
  JOIN q qq ON qq.query_id = p.query_id
  JOIN e ee ON ee.vec_id = a.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id::BIGINT AS query_id, CAST(rnk AS INTEGER) AS rank,
       vec_id::BIGINT AS vec_id, cos_q
FROM ranked WHERE rnk <= {k} ORDER BY query_id, rank"""


def cosine_dup_pairs_sql(threshold: float = 0.999, dim: int = 64, n_planes: int = 8,
                         seed: int = 42) -> str:
    """Twin of operators/ann.cosine_pairs over a derived embeddings view
    with engineered duplicates (vec_id % (N//2) re-uses the base
    vector), so the near-dup pair set is non-empty and deterministic."""
    planes = _plane_matrix(dim, n_planes, seed)
    q = int(threshold * 1_000_000)
    return f"""
WITH dup_emb AS (
  SELECT d.vec_id, b.embedding
  FROM embeddings d
  JOIN embeddings b ON b.vec_id = d.vec_id % (SELECT count(*) // 2 FROM embeddings)
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM dup_emb
),
b AS (
  SELECT vec_id, ev,
         {_bucket_expr("ev", planes)} AS bucket
  FROM e
),
scored AS (
  SELECT a.vec_id AS vec1, c.vec_id AS vec2,
         CAST(floor(
           list_dot_product(list_transform(a.ev, x -> x / sqrt(list_dot_product(a.ev, a.ev))),
                            list_transform(c.ev, x -> x / sqrt(list_dot_product(c.ev, c.ev))))
           * 1000000 + 0.5) AS BIGINT) AS cos_q
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT vec1::BIGINT AS vec1, vec2::BIGINT AS vec2, cos_q
FROM scored WHERE cos_q >= {q} ORDER BY vec1, vec2"""


def media_embed_topk_sql(anchor_doc_ids: list[int], k: int = 10) -> str:
    """Twin of the multimodal pipeline attach_fake_media →
    embed_media_stub → ann.cosine_topk: dim-16 embedding from the md5
    digest bytes of the blob ((byte - 127.5)/127.5 in float64), exact
    cosine top-k against the anchor docs' own embeddings."""
    comps = ", ".join(
        f"(('0x' || substr(md5(text), {2 * i + 1}, 2))::INT - 127.5) / 127.5"
        for i in range(16)
    )
    ids = ", ".join(str(i) for i in anchor_doc_ids)
    return f"""
WITH e AS (
  SELECT doc_id, [{comps}] AS ev FROM documents
),
q AS (SELECT doc_id AS query_id, ev AS qv FROM e WHERE doc_id IN ({ids})),
scored AS (
  SELECT q.query_id, e.doc_id AS vec_id,
         CAST(floor(
           list_dot_product(list_transform(e.ev, x -> x / sqrt(list_dot_product(e.ev, e.ev))),
                            list_transform(q.qv, x -> x / sqrt(list_dot_product(q.qv, q.qv))))
           * 1000000 + 0.5) AS BIGINT) AS cos_q
  FROM q CROSS JOIN e
),
ranked AS (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id::BIGINT AS query_id, CAST(rnk AS INTEGER) AS rank,
       vec_id::BIGINT AS vec_id, cos_q
FROM ranked WHERE rnk <= {k} ORDER BY query_id, rank"""


def frame_sample_sql(every_ms: int = 50_000) -> str:
    """Twin of operators/multimodal.frame_sample_plan over
    attach_fake_media: one row per sampled frame timestamp of each
    video doc (duration from the deterministic fake decode)."""
    h = "('0x' || substr(md5(text), 1, 8))::UBIGINT"
    return f"""
WITH vids AS (
  SELECT doc_id, ({h} % 600000)::BIGINT AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id::BIGINT AS doc_id,
       unnest(generate_series(0, duration_ms, {every_ms}))::BIGINT AS frame_ts_ms
FROM vids ORDER BY doc_id, frame_ts_ms"""


def name_search_sql(query: str, k: int) -> str:
    """Twin of query.search_name_or_key (Q3 analog,
    ChemicalIndex.java:538-554) over the documents-derived corpus whose
    path is source || '/doc/' || doc_id and commit is 'synthetic'."""
    esc = query.replace("'", "''")
    lower_esc = query.lower().replace("'", "''")
    return f"""
WITH m AS (
  SELECT doc_id,
         (list_contains(
            regexp_split_to_array(lower(source || '/doc/' || doc_id), '[^a-z0-9]+'),
            '{lower_esc}')::INT
          + ('synthetic' = '{esc}')::INT)::BIGINT AS score_q
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, score_q FROM m
WHERE score_q > 0
ORDER BY score_q DESC, doc_id ASC LIMIT {k}"""


def windowed_events_sql(window: str = "1 hour") -> str:
    """Twin of streaming/events.windowed_event_counts (run by the entry
    as a REAL availableNow stream): tumbling windows align to the unix
    epoch in both engines (Spark F.window / DuckDB time_bucket)."""
    return f"""
SELECT time_bucket(INTERVAL '{window}', ts) AS window_start, event_type,
       count(*)::BIGINT AS n_events,
       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_value_q
FROM events GROUP BY 1, 2 ORDER BY 1, 2"""


def dedup_events_sql() -> str:
    """Twin of streaming/events.stream_dedup_events: deduping the
    duplicated stream by event_id recovers exactly the original event
    set (event_id is the table's key)."""
    return """
SELECT event_id::BIGINT AS event_id, ts, user_id::BIGINT AS user_id, event_type,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_q
FROM events ORDER BY event_id"""


def running_totals_sql() -> str:
    """Twin of streaming/events.stream_running_user_totals' final
    emissions: a monotone running total's last value per key over
    bounded input equals the plain aggregate."""
    return """
SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS n_events,
       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_value_q
FROM events GROUP BY 1 ORDER BY 1"""


def sessionize_sql(gap_minutes: int = 30) -> str:
    """Twin of streaming/events.sessionize (native session_window):
    a session breaks when consecutive events are >= gap apart —
    reproduced relationally with lag + running sum of breaks."""
    return f"""
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM events
),
m AS (
  SELECT *, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL {gap_minutes} MINUTE
                 THEN 1 ELSE 0 END AS brk
  FROM o
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id::BIGINT AS user_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events,
       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_value_q
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start"""


def media_features_sql() -> str:
    """Twin of multimodal.extract_media_features over attach_fake_media
    (deterministic md5-derived fake decode)."""
    h = "('0x' || substr(md5(text), 1, 8))::UBIGINT"
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
       octet_length(encode(text))::BIGINT AS n_bytes,
       substr(md5(text), 1, 16) AS sig,
       CASE WHEN doc_id % 3 = 0 THEN 64 + {h} % 1024 ELSE 0 END::INT AS width,
       CASE WHEN doc_id % 3 = 0 THEN 64 + ({h} // 1024) % 1024 ELSE 0 END::INT AS height,
       CASE WHEN doc_id % 3 IN (1, 2) THEN {h} % 600000 ELSE 0 END::BIGINT AS duration_ms,
       CASE WHEN doc_id % 3 = 2 THEN {h} % 3000 ELSE 0 END::INT AS n_frames
FROM documents ORDER BY doc_id"""


def dedup_clusters_sql(n_hashes: int = 8, n_bands: int = 4,
                       table: str = "documents", extra_cte: str = "") -> str:
    """Connected components over the MinHash-LSH pair graph: cluster_id
    = min doc_id reachable through candidate-pair edges (transitive
    closure via a recursive CTE — the exact same component law the
    engine's star-contraction computes in O(log² n) shuffle rounds)."""
    rows_per_band = n_hashes // n_bands
    band_rows = []
    for bi in range(n_bands):
        cols = " || '|' || ".join(
            f"h{bi * rows_per_band + j}" for j in range(rows_per_band)
        )
        band_rows.append(f"SELECT doc_id, {bi} AS band, {cols} AS band_val FROM sig")
    bands = "\nUNION ALL\n".join(band_rows)
    pre = f"{extra_cte}," if extra_cte else ""
    return f"""
WITH RECURSIVE {pre}
sh AS (
  SELECT doc_id, unnest({_shingles(3)}) AS s FROM {table}
),
sig AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{i}#' || s)) AS h{i}" for i in range(n_hashes))}
  FROM sh GROUP BY doc_id
),
bands AS (
{bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
und AS (
  SELECT doc1 AS u, doc2 AS v FROM pairs
  UNION SELECT doc2, doc1 FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, w.v FROM reach r JOIN und w ON r.v = w.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(c.cluster_id, d.doc_id)::BIGINT AS cluster_id,
       (coalesce(c.cluster_id, d.doc_id) <> d.doc_id)::INT AS is_duplicate
FROM {table} d LEFT JOIN comp c ON c.doc_id = d.doc_id
ORDER BY doc_id"""


def more_like_this_sql(requests: list[tuple[int, int, int]],
                       max_terms: int = 10, table: str = "documents",
                       profile: TokenizerProfile = DEFAULT_PROFILE) -> str:
    """MoreLikeThis twin: identical term-selection law (anchor tf · idf,
    quantized iq = floor(tf·idf·10⁴+0.5), top max_terms by iq DESC then
    term ASC), then one disjunctive BM25 pass (qtf=1) excluding the
    anchor — the engine's :func:`more_like_this` verbatim in SQL."""
    toks = duckdb_tokens_sql("text", profile)
    req = ",\n    ".join(f"({qid}, {a}, {k})" for qid, a, k in requests)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
idfs AS (
  SELECT term, df,
         ln(1.0 + ((SELECT n FROM nstat) - df + 0.5) / (df + 0.5)) AS idf
  FROM dfs
),
req(query_id, anchor, k) AS (VALUES
    {req}),
interest AS (
  SELECT r.query_id, r.anchor, r.k, t.term, i.idf,
         CAST(floor(t.tf * i.idf * {_QUANT} + 0.5) AS BIGINT) AS iq
  FROM req r
  JOIN tf t ON t.doc_id = r.anchor
  JOIN idfs i ON i.term = t.term
),
sel AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY iq DESC, term ASC) AS rn
    FROM interest)
  WHERE rn <= {max_terms}
),
scored AS (
  SELECT s.query_id, t.doc_id,
         sum(s.idf * t.tf * {P.k1 + 1.0}
             / (t.tf + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw,
         max(s.k) AS k
  FROM sel s
  JOIN tf t ON t.term = s.term AND t.doc_id <> s.anchor
  JOIN dl ON dl.doc_id = t.doc_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM scored
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def facet_counts_sql(queries: list[tuple[int, str, int]],
                     facet_col: str = "lang", mode: str = "disjunctive",
                     table: str = "documents") -> str:
    """Faceted hit-count twin: matching docs per (query, facet value)
    over the same scored candidate set as :func:`bm25_topk_sql`."""
    flt = "WHERE s.n_matched = s.n_terms" if mode == "conjunctive" else ""
    return (
        _bm25_ctes(queries, table=table)
        + f"""
SELECT CAST(s.query_id AS INTEGER) AS query_id,
       CAST(d.{facet_col} AS VARCHAR) AS facet,
       count(*) AS n_docs
FROM scored s JOIN {table} d ON d.doc_id = s.doc_id
{flt}
GROUP BY 1, 2
ORDER BY query_id, facet"""
    )


def range_facet_counts_sql(
    queries: list[tuple[int, str, int]],
    ranges: list[tuple[str, int, int]],
    mode: str = "disjunctive",
    table: str = "documents",
) -> str:
    """Range-facet twin of ``range_facet_counts`` (facet_col=doc_len):
    matching docs per (query, [lo, hi) bucket) over the same scored
    candidate set; buckets may overlap, empty buckets emit 0."""
    flt = "AND s.n_matched = s.n_terms" if mode == "conjunctive" else ""
    rng_rows = ",\n    ".join(
        "('{}', {}, {})".format(str(lbl).replace("'", "''"), int(lo), int(hi))
        for lbl, lo, hi in ranges
    )
    qid_rows = ", ".join(f"({qid})" for qid in sorted({q for q, _, _ in queries}))
    return (
        _bm25_ctes(queries, table=table)
        + f""",
rng(facet, lo, hi) AS (
  VALUES
    {rng_rows}
),
qids(query_id) AS (VALUES {qid_rows}),
counted AS (
  SELECT s.query_id, r.facet, count(*)::BIGINT AS n_docs
  FROM scored s
  JOIN dl ON dl.doc_id = s.doc_id
  JOIN rng r ON dl.dl >= r.lo AND dl.dl < r.hi
  WHERE TRUE {flt}
  GROUP BY 1, 2
)
SELECT CAST(q.query_id AS INTEGER) AS query_id, r.facet AS facet,
       coalesce(c.n_docs, 0)::BIGINT AS n_docs
FROM qids q CROSS JOIN rng r
LEFT JOIN counted c ON c.query_id = q.query_id AND c.facet = r.facet
ORDER BY 1, 2"""
    )


def taxonomy_facet_counts_sql(
    queries: list[tuple[int, str, int]],
    depth: int = 2,
    top_n: int = 10,
    mode: str = "disjunctive",
    table: str = "documents",
    path_expr: str | None = None,
    under: str | None = None,
) -> str:
    """Taxonomy-facet twin of ``taxonomy_facet_counts``: the engine's
    docmeta ``path`` is reconstructed from the documents table the
    same way ``documents_as_corpus`` builds it
    (source || '/doc/' || doc_id) unless ``path_expr`` overrides it;
    prefixes via string_split + list_slice per level, counts per
    (query, level, prefix), row_number top-N by (n_docs DESC,
    path ASC)."""
    flt = "WHERE s.n_matched = s.n_terms" if mode == "conjunctive" else ""
    pe = path_expr or "d.source || '/doc/' || d.doc_id"
    if under is not None:
        u_parts = [p for p in under.split("/") if p != ""]
        u = len(u_parts)
        upfx = "/".join(u_parts).replace("'", "''")
        cond = f"starts_with({pe}, '{upfx}/')"
        flt2 = flt + (" AND " if flt else "WHERE ") + cond
        return (
            _bm25_ctes(queries, table=table)
            + f""",
paths AS (
  SELECT s.query_id, string_split({pe}, '/') AS parts
  FROM scored s JOIN {table} d ON d.doc_id = s.doc_id
  {flt2}
),
counted AS (
  SELECT query_id,
         array_to_string(list_slice(parts, 1, {u + 1}), '/') AS facet_path,
         count(*)::BIGINT AS n_docs
  FROM paths GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, facet_path, n_docs,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_docs DESC, facet_path ASC
         ) AS rnk
  FROM counted
)
SELECT CAST(query_id AS INTEGER) AS query_id,
       CAST({u + 1} AS INTEGER) AS level,
       CAST(rnk AS INTEGER) AS rank, facet_path, n_docs
FROM ranked WHERE rnk <= {int(top_n)}
ORDER BY query_id, rank"""
        )
    return (
        _bm25_ctes(queries, table=table)
        + f""",
paths AS (
  SELECT s.query_id, string_split({pe}, '/') AS parts
  FROM scored s JOIN {table} d ON d.doc_id = s.doc_id
  {flt}
),
pref AS (
  SELECT query_id, parts,
         unnest(generate_series(1, least(len(parts), {int(depth)}))) AS lvl
  FROM paths
),
counted AS (
  SELECT query_id, lvl AS level,
         array_to_string(list_slice(parts, 1, lvl), '/') AS facet_path,
         count(*)::BIGINT AS n_docs
  FROM pref GROUP BY 1, 2, 3
),
ranked AS (
  SELECT query_id, level, facet_path, n_docs,
         row_number() OVER (
           PARTITION BY query_id, level
           ORDER BY n_docs DESC, facet_path ASC
         ) AS rnk
  FROM counted
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(level AS INTEGER) AS level,
       CAST(rnk AS INTEGER) AS rank, facet_path, n_docs
FROM ranked WHERE rnk <= {int(top_n)}
ORDER BY query_id, level, rank"""
    )


def _drill_cond(colmap: dict[str, str], dim: str, val: str) -> str:
    col = colmap.get(dim, dim)
    return "CAST(d.{} AS VARCHAR) = '{}'".format(col, str(val).replace("'", "''"))


def drill_down_topk_sql(
    queries: list[tuple[int, str, int]],
    drill_down: dict[str, str],
    colmap: dict[str, str],
    mode: str = "disjunctive",
    table: str = "documents",
) -> str:
    """Twin of ``search_drill_down``: BM25 ranked top-k over the scored
    candidates restricted to docs satisfying every facet constraint
    (exact equality on the stored value). ``colmap`` maps engine
    docmeta dims to ``table`` columns (repo → source, lang → lang)."""
    conj = "AND s.n_matched = s.n_terms" if mode == "conjunctive" else ""
    cond = " AND ".join(_drill_cond(colmap, d, v) for d, v in drill_down.items())
    return (
        _bm25_ctes(queries, table=table)
        + f""",
dd AS (
  SELECT s.query_id, s.doc_id, s.score_raw, s.k
  FROM scored s JOIN {table} d ON d.doc_id = s.doc_id
  WHERE {cond} {conj}
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM dd
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""
    )


def drill_sideways_sql(
    queries: list[tuple[int, str, int]],
    drill_down: dict[str, str],
    dims: list[str],
    colmap: dict[str, str],
    mode: str = "disjunctive",
    table: str = "documents",
) -> str:
    """Twin of ``drill_sideways_counts``: per (query, dim, value)
    matching-doc counts where a constrained dim is counted under every
    OTHER constraint (sideways) and an unconstrained dim under ALL of
    them — one UNION ALL branch per requested dim over the shared
    scored-candidates × ``table`` join."""
    conj = "WHERE s.n_matched = s.n_terms" if mode == "conjunctive" else ""
    hits = f"""
hits AS (
  SELECT s.query_id, d.*
  FROM scored s JOIN {table} d ON d.doc_id = s.doc_id
  {conj}
)"""
    branches = []
    for dim in dims:
        # a constrained dim drops ITS OWN constraint; an unconstrained
        # dim keeps all of them
        others = [
            _drill_cond(colmap, cd, cv)
            for cd, cv in drill_down.items()
            if cd != dim
        ]
        flt = ("WHERE " + " AND ".join(others)) if others else ""
        col = colmap.get(dim, dim)
        branches.append(
            f"""SELECT CAST(d.query_id AS INTEGER) AS query_id, '{dim}' AS dim,
       CAST(d.{col} AS VARCHAR) AS facet, count(*)::BIGINT AS n_docs
FROM hits d {flt}
GROUP BY 1, 2, 3"""
        )
    return (
        _bm25_ctes(queries, table=table)
        + ","
        + hits
        + "\n"
        + "\nUNION ALL\n".join(branches)
        + "\nORDER BY 1, 2, 3"
    )


def _curate_ctes(min_quality_q: int, langs: tuple, table: str) -> str:
    """The curation-decision CTE chain ending in ``cur(doc_id, keep,
    reason)`` — shared by :func:`curate_corpus_sql` and the composed
    :func:`training_mix_pipeline_sql`."""
    from org_rdkit_lucene_spark.functions.text import LANGS, STOPWORDS

    toks = duckdb_tokens_sql("text")
    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    counts = []
    for lang in LANGS:
        arr = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
        counts.append(
            f"len(list_filter({toks}, t -> list_contains({arr}, t))) AS c_{lang}"
        )
    chain = f"'{LANGS[-1]}'"
    for i in range(len(LANGS) - 2, -1, -1):
        lang = LANGS[i]
        cond = " AND ".join(f"c_{lang} >= c_{LANGS[j]}" for j in range(i + 1, len(LANGS)))
        chain = f"CASE WHEN {cond} THEN '{lang}' ELSE {chain} END"
    allow = ", ".join(f"'{l}'" for l in langs)
    return f"""m AS (
  SELECT doc_id,
         sha256(text) AS content_hash,
         len({toks}) AS n_toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS n_alnum,
         length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
         len(list_filter({toks}, t -> list_contains({en}, t))) AS n_stop,
         {", ".join(counts)}
  FROM {table}
),
r AS (
  SELECT doc_id, content_hash,
         CASE WHEN n_chars = 0 THEN 0.0
              ELSE (n_chars - n_alnum - n_space) * 1.0 / n_chars END AS punct_ratio,
         CASE WHEN n_toks = 0 THEN 0.0 ELSE n_stop * 1.0 / n_toks END AS stop_ratio,
         n_toks, {chain} AS pred_lang,
         (doc_id != min(doc_id) OVER (PARTITION BY content_hash)) AS is_dup
  FROM m
),
dec AS (
  SELECT doc_id, is_dup, pred_lang,
         CAST(floor((0.3 * least(1.0, n_toks / 100.0) + 0.4 * (1.0 - punct_ratio)
                     + 0.3 * stop_ratio) * 1000000 + 0.5) AS BIGINT) AS quality_q
  FROM r
),
cur AS (
  SELECT doc_id::BIGINT AS doc_id,
         (CASE WHEN is_dup THEN 0
               WHEN pred_lang NOT IN ({allow}) THEN 0
               WHEN quality_q < {int(min_quality_q)} THEN 0 ELSE 1 END)::INT AS keep,
         CASE WHEN is_dup THEN 'dup'
              WHEN pred_lang NOT IN ({allow}) THEN 'lang'
              WHEN quality_q < {int(min_quality_q)} THEN 'quality'
              ELSE 'keep' END AS reason
  FROM dec
)"""


def curate_corpus_sql(min_quality_q: int = 600_000, langs: tuple = ("en",),
                      table: str = "documents", extra_cte: str = "") -> str:
    """Fused curation-decision twin: same dedup-keeper window, lang
    CASE chain, quality arithmetic, and reason precedence as
    :func:`curate_corpus` (dup > lang > quality > keep)."""
    pre = f"{extra_cte}," if extra_cte else ""
    return f"""
WITH {pre}
{_curate_ctes(min_quality_q, langs, table)}
SELECT doc_id, keep, reason FROM cur ORDER BY doc_id"""


def snippets_sql(queries: list[tuple[int, str, int]], radius: int = 40,
                 table: str = "documents") -> str:
    """Snippet twin: identical first-occurrence law — p =
    strpos(lower(text), term) over the analyzed query terms, minimum
    (p ASC, term ASC) among p > 0, window substr(text, max(1, p-radius),
    2·radius+len(term)); head-of-doc fallback when nothing matches."""
    r = int(radius)
    return (
        _bm25_ctes(queries, table=table)
        + _ranked(False)
        + f""",
hits AS (
  SELECT query_id, rnk, doc_id, score_q, ranked.k FROM ranked WHERE rnk <= ranked.k
),
pos AS (
  SELECT h.query_id, h.doc_id, q.term,
         strpos(lower(d.text), q.term) AS p
  FROM hits h
  JOIN {table} d ON d.doc_id = h.doc_id
  JOIN q ON q.query_id = h.query_id
  WHERE strpos(lower(d.text), q.term) > 0
),
best AS (
  SELECT query_id, doc_id, p, term FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id, doc_id ORDER BY p ASC, term ASC) AS rn
    FROM pos) WHERE rn = 1
)
SELECT CAST(h.query_id AS INTEGER) AS query_id, CAST(h.rnk AS INTEGER) AS rank,
       CAST(h.doc_id AS BIGINT) AS doc_id, h.score_q,
       CASE WHEN b.p IS NOT NULL
            THEN substr(d.text, greatest(1, b.p - {r}), {2 * r} + length(b.term))
            ELSE substr(d.text, 1, {2 * r}) END AS snippet
FROM hits h
JOIN {table} d ON d.doc_id = h.doc_id
LEFT JOIN best b ON b.query_id = h.query_id AND b.doc_id = h.doc_id
ORDER BY query_id, rank"""
    )


def _kmeans_ctes(n_clusters: int, n_iters: int, table: str,
                 prefix: str = "") -> tuple[list[str], str]:
    """The unrolled k-means CTE chain shared by kmeans_sql,
    semdedup_sql and the IVF-PQ twin — returns (ctes,
    final_assignment_cte_name). ``prefix`` namespaces every CTE name
    so several chains (one per PQ subspace) coexist in one statement."""
    p = prefix
    ctes = [f"""{p}e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM {table}
)""", f"""{p}qv AS (
  SELECT vec_id, pos, CAST(floor(u * 1000000000 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT vec_id,
           unnest(list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev)))) AS u,
           generate_subscripts(ev, 1) AS pos
    FROM {p}e)
)""", f"""{p}cent0 AS (
  SELECT vec_id AS cid, ev AS cv FROM {p}e WHERE vec_id < {n_clusters}
)"""]

    def asg_cte(i: int, cent: str) -> str:
        return f"""{p}asg{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_q_sql("e.ev", "c.cv")} DESC, c.cid ASC
           ) AS rn
    FROM {p}e e CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

    for i in range(n_iters):
        ctes.append(asg_cte(i, f"{p}cent{i}"))
        ctes.append(f"""{p}sums{i} AS (
  SELECT cid, pos, sum(q) AS s, count(*) AS n
  FROM {p}asg{i} JOIN {p}qv USING (vec_id) GROUP BY 1, 2
)""")
        ctes.append(f"""{p}cent{i + 1} AS (
  SELECT cid, list((s / 1000000000.0) / n ORDER BY pos) AS cv
  FROM {p}sums{i} GROUP BY cid
  UNION ALL
  SELECT c.cid, c.cv FROM {p}cent{i} c
  WHERE c.cid NOT IN (SELECT cid FROM {p}sums{i})
)""")
    ctes.append(asg_cte(n_iters, f"{p}cent{n_iters}"))
    return ctes, f"{p}asg{n_iters}"


def kmeans_sql(n_clusters: int = 8, n_iters: int = 2,
               table: str = "embeddings") -> str:
    """Twin of operators/ann.kmeans_embeddings: same init (raw vectors
    with vec_id < k), same quantized-cosine argmax assignment, same
    exact-int64 1e-9 centroid-mean law, unrolled ``n_iters`` rounds."""
    ctes, final = _kmeans_ctes(n_clusters, n_iters, table)
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT vec_id::BIGINT AS vec_id, cid::BIGINT AS cid
FROM {final} ORDER BY vec_id"""


def semdedup_sql(
    n_clusters: int = 8,
    n_iters: int = 2,
    threshold: float = 0.95,
    max_cluster_size: int | None = 10_000,
    table: str = "embeddings",
    extra_cte: str = "",
) -> str:
    """Twin of operators/ann.semdedup: the shared k-means assignment
    chain, then within-cluster pairs (clusters above
    ``max_cluster_size`` excluded from pairing, like the engine's
    ``_cap_buckets``) with quantized cosine ≥ threshold; a vector is a
    semantic duplicate iff a lower-id same-cluster vector clears the
    threshold."""
    thr_q = int(threshold * 1_000_000)
    ctes, final = _kmeans_ctes(n_clusters, n_iters, table)
    if extra_cte:
        ctes.insert(0, extra_cte)
    cap_pred = (
        ""
        if max_cluster_size is None
        else f"WHERE a.cid NOT IN (SELECT cid FROM big)"
    )
    big_cte = (
        "big AS (SELECT NULL::BIGINT AS cid WHERE FALSE)"
        if max_cluster_size is None
        else f"big AS (SELECT cid FROM {final} GROUP BY cid "
        f"HAVING count(*) > {max_cluster_size})"
    )
    ctes.append(big_cte)
    ctes.append(f"""dups AS (
  SELECT DISTINCT b.vec_id
  FROM {final} a
  JOIN {final} b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  {cap_pred}
    {"AND" if cap_pred else "WHERE"} {_cos_q_sql("ea.ev", "eb.ev")} >= {thr_q}
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT s.vec_id::BIGINT AS vec_id, s.cid::BIGINT AS cid,
       CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_semdup
FROM {final} s LEFT JOIN dups d ON d.vec_id = s.vec_id
ORDER BY s.vec_id"""


def interval_join_sql(horizon: str = "1 hour") -> str:
    """Twin of streaming/events.stream_attribution_join (run by the
    entry as a REAL watermarked stream-stream join): the plain interval
    self-join — purchases matched to the same user's signup at most
    ``horizon`` later, delta in exact microseconds."""
    return f"""
SELECT s.event_id::BIGINT AS signup_id, p.event_id::BIGINT AS purchase_id,
       s.user_id::BIGINT AS user_id,
       (epoch_us(p.ts) - epoch_us(s.ts))::BIGINT AS delta_us
FROM events s JOIN events p
  ON p.user_id = s.user_id
 AND s.event_type = 'signup' AND p.event_type = 'purchase'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '{horizon}'
ORDER BY signup_id, purchase_id"""


def redact_pii_sql(table: str = "documents", extra_cte: str = "") -> str:
    """Twin of functions/text.redact_pii: same RE2-safe patterns in the
    same order, counting spans before each replacement ('g' flag — the
    engine's regexp_replace is replace-all)."""
    from org_rdkit_lucene_spark.functions.text import PII_PATTERNS

    def esc(p: str) -> str:
        return p.replace("'", "''")

    prev = "r0"
    ctes = ([extra_cte] if extra_cte else []) + [
        f"r0 AS (SELECT doc_id, text AS t, 0::BIGINT AS n FROM {table})"
    ]
    for i, (pat, rep) in enumerate(PII_PATTERNS, start=1):
        ctes.append(
            f"r{i} AS (SELECT doc_id, "
            f"regexp_replace(t, '{esc(pat)}', '{rep}', 'g') AS t, "
            f"n + len(regexp_split_to_array(t, '{esc(pat)}')) - 1 AS n FROM {prev})"
        )
        prev = f"r{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT doc_id::BIGINT AS doc_id, t AS redacted, n::BIGINT AS n_redactions
FROM {prev} ORDER BY doc_id"""


def contamination_sql(n: int = 8, min_hits: int = 1, bench_mod: int = 97,
                      table: str = "documents") -> str:
    """Twin of functions/text.contamination_check with the benchmark
    derived as every ``bench_mod``-th doc of the same table."""
    return f"""
WITH bsh AS (
  SELECT DISTINCT unnest({_shingles(n)}) AS s FROM {table} WHERE doc_id % {bench_mod} = 0
),
dsh AS (
  SELECT DISTINCT doc_id, unnest({_shingles(n)}) AS s FROM {table}
),
hits AS (
  SELECT doc_id, count(*) AS n_hits FROM dsh JOIN bsh USING (s) GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) >= {min_hits})::INT AS is_contaminated
FROM {table} d LEFT JOIN hits h ON h.doc_id = d.doc_id
ORDER BY doc_id"""


def pii_docs_cte(mod: int = 7, table: str = "documents") -> str:
    """Derived view seeding deterministic PII into every ``mod``-th doc
    (email + IPv4 + long number) so the redaction operator has a
    non-trivial, reproducible answer on a synthetic corpus."""
    return f"""pii_documents AS (
  SELECT doc_id,
         CASE WHEN doc_id % {mod} = 0
              THEN text || ' contact user' || doc_id ||
                   '@example.com at 10.0.' || (doc_id % 200) ||
                   '.1 acct 90210' || (1000000 + doc_id)
              ELSE text END AS text
  FROM {table}
)"""


def importance_weights_sql(
    target_langs: tuple = ("en",),
    n: int = 2,
    n_buckets: int = 4096,
    quant: int = 10**9,
) -> str:
    """Twin of text.importance_weights (DSIR hashed n-gram importance
    resampling weights): identical bucket hash (md5-hex-prefix), an
    identically-parenthesized smoothed log-ratio, and the
    quantize-before-sum law (int64 bucket weights summed per doc)."""
    langs = ", ".join(f"'{l}'" for l in target_langs)
    fb = float(n_buckets)
    return f"""
WITH grams AS (
  SELECT doc_id, lang IN ({langs}) AS is_tgt, unnest({_shingles(n)}) AS g
  FROM documents
),
b AS (
  SELECT doc_id, is_tgt,
         CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % {n_buckets} AS BIGINT) AS bucket
  FROM grams
),
bt AS (
  SELECT bucket, count(*)::BIGINT AS raw_cnt,
         (count(*) FILTER (WHERE is_tgt))::BIGINT AS tgt_cnt
  FROM b GROUP BY 1
),
tot AS (
  SELECT sum(raw_cnt)::BIGINT AS raw_total, sum(tgt_cnt)::BIGINT AS tgt_total
  FROM bt
),
bw AS (
  SELECT bucket,
         CAST(floor(ln(((tgt_cnt + 1.0) / (tgt_total + {fb}))
                       / ((raw_cnt + 1.0) / (raw_total + {fb})))
                    * {float(quant)} + 0.5) AS BIGINT) AS w_q
  FROM bt, tot
),
dw AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_grams, sum(w_q)::BIGINT AS weight_q
  FROM b JOIN bw USING (bucket) GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_grams, 0)::BIGINT AS n_grams,
       coalesce(weight_q, 0)::BIGINT AS weight_q
FROM documents d LEFT JOIN dw USING (doc_id) ORDER BY doc_id"""


def lm_perplexity_sql(quant: int = 10**9) -> str:
    """Twin of text.lm_perplexity_scores (self-trained add-one bigram
    LM): same token/shingle laws, same -ln((c2+1)/(c1+V)) shape, and
    the quantize-per-distinct-bigram-then-multiply-by-occurrences law
    (exact int64 arithmetic after the single ln)."""
    toks = duckdb_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS w FROM documents
),
c1 AS (SELECT w, count(*)::BIGINT AS c1 FROM tok GROUP BY 1),
vocab AS (SELECT count(*)::BIGINT AS v FROM c1),
grams AS (
  SELECT doc_id, unnest({_shingles(2)}) AS g FROM documents
),
c2 AS (SELECT g, count(*)::BIGINT AS c2 FROM grams GROUP BY 1),
dg AS (SELECT doc_id, g, count(*)::BIGINT AS n_occ FROM grams GROUP BY 1, 2),
sc AS (
  SELECT dg.doc_id,
         CAST(floor(-ln((c2 + 1.0) / (c1.c1 + (SELECT v FROM vocab)::DOUBLE))
                    * {float(quant)} + 0.5) AS BIGINT) * n_occ AS nll_q,
         n_occ
  FROM dg
  JOIN c2 USING (g)
  JOIN c1 ON split_part(dg.g, ' ', 1) = c1.w
),
dw AS (
  SELECT doc_id, sum(n_occ)::BIGINT AS n_bigrams, sum(nll_q)::BIGINT AS nll_q
  FROM sc GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(nll_q, 0)::BIGINT AS nll_q
FROM documents d LEFT JOIN dw USING (doc_id) ORDER BY doc_id"""


def dup_spans_sql(k: int = 8, min_df: int = 2) -> str:
    """Twin of dedup.duplicate_spans (ExactSubstr-style duplicate-span
    detection): same tokenizer/shingle laws, same md5 gram digest, and
    the identical island-merge law — a duplicate window [pos, pos+k)
    starts a new span iff pos > running max(pos + k) over the doc's
    earlier duplicate windows (0-based positions, span_end exclusive)."""
    sh = _shingles(k)
    return f"""
WITH g0 AS (
  SELECT doc_id, unnest({sh}) AS g,
         generate_subscripts({sh}, 1) - 1 AS pos
  FROM documents
),
g AS (SELECT doc_id, pos, md5(g) AS gh FROM g0),
dup AS (SELECT gh FROM g GROUP BY 1 HAVING count(*) >= {min_df}),
hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(
             max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS new_isl
  FROM hits
),
i AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
)
SELECT doc_id::BIGINT AS doc_id,
       min(pos)::BIGINT AS span_start,
       (max(pos) + {k})::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM i GROUP BY doc_id, island
ORDER BY doc_id, span_start"""


def token_budget_mix_sql(weights: dict[str, float], budget_tokens: int,
                         stratum_col: str = "lang") -> str:
    """Twin of text.token_budget_mix: same tokenizer length, md5 order
    law, inclusive running-total budget cut, missing-stratum budget 0."""
    toks = duckdb_tokens_sql("text")
    rows = ", ".join(
        f"""('{s.replace("'", "''")}', {int(budget_tokens * w)})"""
        for s, w in sorted(weights.items())
    )
    return f"""
WITH budgets(stratum, budget) AS (VALUES {rows}),
base AS (
  SELECT doc_id::BIGINT AS doc_id, {stratum_col} AS stratum,
         len({toks})::BIGINT AS n_tokens, md5(text) AS h
  FROM documents
),
c AS (
  SELECT doc_id, stratum, n_tokens,
         sum(n_tokens) OVER (PARTITION BY stratum ORDER BY h, doc_id)::BIGINT
           AS cum_tokens
  FROM base
)
SELECT doc_id, stratum, n_tokens, cum_tokens,
       cum_tokens <= coalesce(budget, 0) AS kept
FROM c LEFT JOIN budgets USING (stratum)
ORDER BY doc_id"""


def length_quantiles_sql(qs: tuple[float, ...] = (0.5, 0.9, 0.99),
                         stratum_col: str = "lang") -> str:
    """Twin of text.length_quantiles: the identical nearest-rank law
    (rank floor(q*(n-1)) in (n_tokens, doc_id) order) — exact, no
    sketch, so both engines agree to the integer."""
    toks = duckdb_tokens_sql("text")
    cols = ",\n       ".join(
        f"max(CASE WHEN rn = floor({q} * (cnt - 1)) THEN n_tokens END)::BIGINT"
        f" AS p{int(round(q * 100))}"
        for q in qs
    )
    return f"""
WITH base AS (
  SELECT {stratum_col} AS stratum, len({toks})::BIGINT AS n_tokens, doc_id
  FROM documents
),
r AS (
  SELECT stratum, n_tokens,
         row_number() OVER (PARTITION BY stratum ORDER BY n_tokens, doc_id) - 1 AS rn,
         count(*) OVER (PARTITION BY stratum) AS cnt
  FROM base
)
SELECT stratum, max(cnt)::BIGINT AS n_docs,
       {cols}
FROM r GROUP BY stratum ORDER BY stratum"""


def multi_field_bm25_sql(
    queries: list[tuple[int, str, int]],
    fields: list[tuple[str, float]],
) -> str:
    """Twin of operators/query.search_multi_field: one full BM25 CTE
    chain per field (its OWN df/idf/avgdl statistics over the derived
    (doc_id, text) view), each field's per-doc sum scaled by its boost
    AFTER the sum (engine order), cross-field SHOULD union summed per
    (query, doc), K2 rank + quantization. ``fields`` =
    [(text_expr_sql, boost)] where text_expr is selected from
    documents as the field body (e.g. "text", "source")."""
    toks_of = duckdb_tokens_sql("text")
    chains, unions = [], []
    for i, (expr, boost) in enumerate(fields):
        p = f"f{i}"
        chains.append(f"""{p}docs AS (SELECT doc_id, {expr} AS text FROM documents),
{p}tok AS (SELECT doc_id, unnest({toks_of}) AS term FROM {p}docs),
{p}tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM {p}tok GROUP BY 1, 2),
{p}dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM {p}tok GROUP BY 1),
{p}n AS (SELECT count(*)::DOUBLE AS n FROM {p}docs),
{p}avg AS (
  SELECT sum(coalesce({p}dl.dl, 0)) / (SELECT n FROM {p}n) AS avgdl
  FROM {p}docs LEFT JOIN {p}dl USING (doc_id)
),
{p}df AS (SELECT term, count(*)::DOUBLE AS df FROM {p}tf GROUP BY 1),
{p}scored AS (
  SELECT q.query_id, {p}tf.doc_id,
         sum(q.qtf * ln(1.0 + ((SELECT n FROM {p}n) - {p}df.df + 0.5) / ({p}df.df + 0.5))
             * {p}tf.tf * {P.k1 + 1.0}
             / ({p}tf.tf + {P.k1} * (1.0 - {P.b} + {P.b} * {p}dl.dl / (SELECT avgdl FROM {p}avg)))
         ) * {float(boost)} AS score_raw,
         max(q.k) AS k
  FROM {p}tf
  JOIN q USING (term)
  JOIN {p}df USING (term)
  JOIN {p}dl USING (doc_id)
  GROUP BY 1, 2
)""")
        unions.append(f"SELECT * FROM {p}scored")
    chain_sql = ",\n".join(chains)
    union_sql = " UNION ALL ".join(unions)
    return f"""
WITH q(query_id, term, qtf, n_terms, k) AS (
  VALUES
    {_values_qterms(queries)}
),
{chain_sql},
allsc AS ({union_sql}),
comb AS (
  SELECT query_id, doc_id, sum(score_raw) AS score_raw, max(k) AS k
  FROM allsc GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM comb
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def remove_dup_spans_sql(k: int = 8, min_df: int = 2) -> str:
    """Twin of dedup.remove_duplicate_spans: the dup_spans CTE chain,
    covered positions expanded per span, token positions anti-joined,
    surviving tokens re-joined in order and sha256'd ('' hash when
    nothing survives) — identical token / shingle / digest laws."""
    sh = _shingles(k)
    toks = duckdb_tokens_sql("text")
    return f"""
WITH g0 AS (
  SELECT doc_id, unnest({sh}) AS g,
         generate_subscripts({sh}, 1) - 1 AS pos
  FROM documents
),
g AS (SELECT doc_id, pos, md5(g) AS gh FROM g0),
dup AS (SELECT gh FROM g GROUP BY 1 HAVING count(*) >= {min_df}),
hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(
             max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS new_isl
  FROM hits
),
i AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {k} AS e
  FROM i GROUP BY doc_id, island
),
cov AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM spans),
tokp AS (
  SELECT doc_id, unnest({toks}) AS w,
         generate_subscripts({toks}, 1) - 1 AS pos
  FROM documents
),
kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM tokp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens_kept,
         string_agg(w, ' ' ORDER BY pos) AS kept_text
  FROM kept GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       len({toks})::BIGINT AS n_tokens,
       coalesce(n_tokens_kept, 0)::BIGINT AS n_tokens_kept,
       sha256(coalesce(kept_text, '')) AS kept_sha256
FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""


def phrase_positions_sql(
    queries: list[tuple[int, str, int]],
    table: str = "documents",
    extra_cte: str = "",
) -> str:
    """Twin of positions.search_phrase_positions (indexed PhraseQuery):
    the analyzed position stream as a CTE, one n-way positions join per
    phrase (t_{i}.p = t_1.p + i-1 over the SAME token law), occurrence
    counts, rank by (n_occ DESC, doc_id ASC) bounded by k — exact
    integers end to end. ``table``/``extra_cte`` let the twin run over
    a derived corpus (e.g. ``upsert_docs_cte`` for the segmented
    engine path)."""
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text

    toks = duckdb_tokens_sql("text")
    blocks = []
    for qid, text, k in queries:
        words = tokenize_text(text)
        if not words:
            continue

        def _q(s: str) -> str:
            return s.replace("'", "''")

        joins = " ".join(
            f"JOIN posi t{i + 1} ON t{i + 1}.doc_id = t1.doc_id "
            f"AND t{i + 1}.p = t1.p + {i} AND t{i + 1}.term = '{_q(w)}'"
            for i, w in enumerate(words[1:], start=1)
        )
        blocks.append(
            f"SELECT {qid} AS query_id, t1.doc_id, count(*)::BIGINT AS n_occ, "
            f"{k} AS k FROM posi t1 {joins} "
            f"WHERE t1.term = '{_q(words[0])}' GROUP BY 1, 2"
        )
    union = " UNION ALL ".join(blocks) if blocks else (
        "SELECT 0 AS query_id, 0 AS doc_id, 0::BIGINT AS n_occ, 0 AS k WHERE 1=0"
    )
    head = f"WITH {extra_cte},\nposi AS (" if extra_cte else "WITH posi AS ("
    return f"""
{head}
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS p
  FROM {table}
),
occ AS ({union}),
ranked AS (
  SELECT query_id, doc_id, n_occ, k,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_occ DESC, doc_id ASC
         ) AS rnk
  FROM occ
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, n_occ
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def multi_phrase_sql(
    queries: list[tuple[int, list[list[str]], int]],
    table: str = "documents",
    extra_cte: str = "",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    """Twin of positions.search_multi_phrase (indexed MultiPhraseQuery,
    the phrase-with-alternatives law): slots analyzed by the SHARED
    analyze_phrase_slots law (parity by construction), one n-way
    positions join per query with ``t_i.term IN (slot alternatives)``
    per slot, plain ``count(*)`` occurrence counts (a token-stream
    position holds exactly one term, so slot alternatives cannot
    double-count a start — no DISTINCT needed), rank by
    (n_occ DESC, doc_id ASC) bounded by k. ``profile``: the analyzer
    the engine's positions artifact was built with (slots and token
    stream alike)."""
    from org_rdkit_lucene_spark.operators.positions import analyze_phrase_slots

    toks = duckdb_tokens_sql("text", profile)

    def _q(s: str) -> str:
        return s.replace("'", "''")

    def _inlist(alts: list[str]) -> str:
        return "(" + ", ".join(f"'{_q(t)}'" for t in alts) + ")"

    blocks = []
    for qid, slots, k in queries:
        analyzed = analyze_phrase_slots(slots, profile)
        if analyzed is None:
            continue  # inert slot -> the query emits no rows
        joins = " ".join(
            f"JOIN posi t{i + 1} ON t{i + 1}.doc_id = t1.doc_id "
            f"AND t{i + 1}.p = t1.p + {i} AND t{i + 1}.term IN {_inlist(alts)}"
            for i, alts in enumerate(analyzed[1:], start=1)
        )
        blocks.append(
            f"SELECT {qid} AS query_id, t1.doc_id, count(*)::BIGINT AS n_occ, "
            f"{k} AS k FROM posi t1 {joins} "
            f"WHERE t1.term IN {_inlist(analyzed[0])} GROUP BY 1, 2"
        )
    union = " UNION ALL ".join(blocks) if blocks else (
        "SELECT 0 AS query_id, 0 AS doc_id, 0::BIGINT AS n_occ, 0 AS k WHERE 1=0"
    )
    head = f"WITH {extra_cte},\nposi AS (" if extra_cte else "WITH posi AS ("
    return f"""
{head}
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS p
  FROM {table}
),
occ AS ({union}),
ranked AS (
  SELECT query_id, doc_id, n_occ, k,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_occ DESC, doc_id ASC
         ) AS rnk
  FROM occ
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, n_occ
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def phrase_bm25_sql(
    queries: list[tuple[int, str, int]],
    table: str = "documents",
    extra_cte: str = "",
) -> str:
    """Twin of positions.search_phrase_bm25 (PhraseQuery SCORING
    analog): per-phrase adjacency occurrence counts from the positions
    CTE, idf_sum = Σ idf(word) with multiplicity under the engine's
    BM25 idf law, score = idf_sum · f·(k1+1)/(f + k1·(1-b+b·dl/avgdl)),
    quantized + (score_q DESC, doc_id ASC) rank bounded by k."""
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text

    toks = duckdb_tokens_sql("text")

    def _q(s: str) -> str:
        return s.replace("'", "''")

    blocks, qw_rows, k_rows = [], [], []
    for qid, text, k in queries:
        words = tokenize_text(text)
        if not words:
            continue
        k_rows.append(f"({qid}, {int(k)})")
        for w in words:
            qw_rows.append(f"({qid}, '{_q(w)}')")
        joins = " ".join(
            f"JOIN posi t{i + 1} ON t{i + 1}.doc_id = t1.doc_id "
            f"AND t{i + 1}.p = t1.p + {i} AND t{i + 1}.term = '{_q(w)}'"
            for i, w in enumerate(words[1:], start=1)
        )
        blocks.append(
            f"SELECT {qid} AS query_id, t1.doc_id, count(*)::DOUBLE AS f "
            f"FROM posi t1 {joins} "
            f"WHERE t1.term = '{_q(words[0])}' GROUP BY 1, 2"
        )
    union = " UNION ALL ".join(blocks) if blocks else (
        "SELECT 0 AS query_id, 0 AS doc_id, 0::DOUBLE AS f WHERE 1=0"
    )
    qw = ",\n    ".join(qw_rows) or "(NULL, NULL)"
    kq = ",\n    ".join(k_rows) or "(NULL, NULL)"
    head = f"WITH {extra_cte},\nposi AS (" if extra_cte else "WITH posi AS ("
    return f"""
{head}
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS p
  FROM {table}
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM posi GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM {table}),
dlstat AS (
  SELECT sum(coalesce(dl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
  FROM {table} LEFT JOIN dl USING (doc_id)
),
dfs AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM posi GROUP BY 1),
qw(query_id, term) AS (VALUES
    {qw}),
qidf AS (
  SELECT q.query_id,
         sum(ln(1.0 + ((SELECT n FROM nstat) - d.df + 0.5) / (d.df + 0.5))) AS idf_sum
  FROM qw q JOIN dfs d USING (term)
  WHERE q.query_id IS NOT NULL GROUP BY 1
),
kq(query_id, k) AS (VALUES
    {kq}),
occ AS ({union}),
scored AS (
  SELECT o.query_id, o.doc_id,
         qidf.idf_sum * (o.f * {P.k1 + 1.0})
           / (o.f + {P.k1} * (1.0 - {P.b} + {P.b} * dl.dl / (SELECT avgdl FROM dlstat)))
         AS score_raw,
         kq.k
  FROM occ o JOIN qidf USING (query_id) JOIN dl USING (doc_id)
  JOIN kq ON kq.query_id = o.query_id
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q, k,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(floor(score_raw * {_QUANT} + 0.5) AS BIGINT) DESC, doc_id ASC
         ) AS rnk
  FROM scored
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def positions_packed_stats_sql(top_n: int = 25, table: str = "documents") -> str:
    """Twin of the PACKED positions artifact's per-term statistics
    (entry ``b_positions_packed``): recompute the analyzed position
    stream from the corpus, group to (term, doc) pairs — the packed
    row unit — and aggregate per term: pair count, occurrence count,
    position sum and max position. Pins that the artifact's packed
    rows hold EXACTLY the analyzed token stream (counts + position
    arithmetic), top ``top_n`` terms by occurrences (term ASC
    tie-break — a total order since term is the group key)."""
    toks = duckdb_tokens_sql("text")
    return f"""
WITH posi AS (
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS p
  FROM {table}
),
pairs AS (
  SELECT term, doc_id, count(*)::BIGINT AS c,
         sum(p)::BIGINT AS sp, max(p)::BIGINT AS mp
  FROM posi GROUP BY 1, 2
),
agg AS (
  SELECT term, count(*)::BIGINT AS n_pairs, sum(c)::BIGINT AS n_occ,
         sum(sp)::BIGINT AS sum_pos, max(mp)::BIGINT AS max_pos
  FROM pairs GROUP BY 1
)
SELECT term, n_pairs, n_occ, sum_pos, max_pos
FROM agg ORDER BY n_occ DESC, term ASC LIMIT {int(top_n)}"""


def slop_positions_sql(queries: list[tuple[int, str, int, int]]) -> str:
    """Twin of positions.search_slop_positions: per query an n-way
    positions join with the order (p_i > p_{i-1}) and span
    (p_i - p1 <= n-1+slop) inequalities, qualifying-tuple counts,
    rank (n_spans DESC, doc_id ASC) bounded by k."""
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text

    toks = duckdb_tokens_sql("text")
    blocks = []
    for qid, text, slop, k in queries:
        words = tokenize_text(text)
        if not words:
            continue

        def _q(s: str) -> str:
            return s.replace("'", "''")

        bound = len(words) - 1 + max(0, int(slop))
        joins = " ".join(
            f"JOIN posi t{i + 1} ON t{i + 1}.doc_id = t1.doc_id "
            f"AND t{i + 1}.term = '{_q(w)}' AND t{i + 1}.p > t{i}.p "
            f"AND t{i + 1}.p - t1.p <= {bound}"
            for i, w in enumerate(words[1:], start=1)
        )
        blocks.append(
            f"SELECT {qid} AS query_id, t1.doc_id, count(*)::BIGINT AS n_spans, "
            f"{k} AS k FROM posi t1 {joins} "
            f"WHERE t1.term = '{_q(words[0])}' GROUP BY 1, 2"
        )
    union = " UNION ALL ".join(blocks) if blocks else (
        "SELECT 0 AS query_id, 0 AS doc_id, 0::BIGINT AS n_spans, 0 AS k WHERE 1=0"
    )
    return f"""
WITH posi AS (
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS p
  FROM documents
),
occ AS ({union}),
ranked AS (
  SELECT query_id, doc_id, n_spans, k,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_spans DESC, doc_id ASC
         ) AS rnk
  FROM occ
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, n_spans
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""


def term_vectors_sql(doc_ids: list[int]) -> str:
    """Twin of query.term_vectors (getTermFreqVector analog): per-doc
    (term, tf) with corpus df — same tokenizer, exact integers."""
    toks = duckdb_tokens_sql("text")
    ids = ", ".join(str(int(d)) for d in doc_ids)
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT doc_id::BIGINT AS doc_id, term, tf, df
FROM tf JOIN dfs USING (term)
WHERE doc_id IN ({ids})
ORDER BY doc_id, term"""


def training_mix_pipeline_sql(
    weights: dict[str, float],
    budget_tokens: int,
    langs: tuple = ("en",),
    min_quality_q: int = 600_000,
    stratum_col: str = "lang",
) -> str:
    """Twin of text.training_mix_pipeline (the composed pipeline):
    the shared curation CTE chain, the token-budget mix run over the
    curation SURVIVORS only, and the full precedence law
    dup > lang > quality > budget > keep."""
    toks = duckdb_tokens_sql("text")
    rows = ", ".join(
        f"""('{s.replace("'", "''")}', {int(budget_tokens * w)})"""
        for s, w in sorted(weights.items())
    )
    return f"""
WITH {_curate_ctes(min_quality_q, langs, "documents")},
surv AS (SELECT d.* FROM documents d JOIN cur USING (doc_id) WHERE cur.keep = 1),
budgets(stratum, budget) AS (VALUES {rows}),
mixbase AS (
  SELECT doc_id, {stratum_col} AS stratum,
         len({toks})::BIGINT AS n_tokens, md5(text) AS h
  FROM surv
),
mixc AS (
  SELECT doc_id, stratum, n_tokens,
         sum(n_tokens) OVER (PARTITION BY stratum ORDER BY h, doc_id)::BIGINT
           AS cum_tokens
  FROM mixbase
),
mix AS (
  SELECT doc_id, cum_tokens <= coalesce(budget, 0) AS budget_ok
  FROM mixc LEFT JOIN budgets USING (stratum)
),
ntok AS (SELECT doc_id::BIGINT AS doc_id, len({toks})::BIGINT AS n_tokens
         FROM documents)
SELECT cur.doc_id,
       (CASE WHEN cur.reason != 'keep' THEN 0
             WHEN mix.budget_ok THEN 1 ELSE 0 END)::INT AS kept,
       CASE WHEN cur.reason != 'keep' THEN cur.reason
            WHEN mix.budget_ok THEN 'keep' ELSE 'budget' END AS reason,
       ntok.n_tokens
FROM cur LEFT JOIN mix USING (doc_id) JOIN ntok USING (doc_id)
ORDER BY cur.doc_id"""


def ann_ivfpq_topk_sql(
    query_vec_ids: list[int],
    k: int = 10,
    m: int = 4,
    n_centroids: int = 8,
    n_iters: int = 2,
    n_candidates: int = 64,
    dim: int = 64,
) -> str:
    """Twin of operators/ann.ivfpq_cosine_topk (IVF-PQ / ADC): one
    prefixed k-means CTE chain per subspace (the shared exact-int
    centroid law), PQ codes = each chain's final assignment, approx =
    Σ over subspaces of the quantized subspace cosine between the
    query's subvector and the code's centroid, top-``n_candidates``
    by (approx DESC, vec_id ASC), exact full-vector re-rank."""
    ids = ", ".join(str(int(q)) for q in query_vec_ids)
    bounds = [round(j * dim / m) for j in range(m + 1)]
    ctes: list[str] = []
    sim_selects = []
    for j in range(m):
        a, b = bounds[j], bounds[j + 1]
        sub_tbl = f"(SELECT vec_id, embedding[{a + 1}:{b}] AS embedding FROM embeddings)"
        chain, final = _kmeans_ctes(n_centroids, n_iters, sub_tbl, prefix=f"s{j}")
        ctes.extend(chain)
        ctes.append(
            f"qs{j} AS (SELECT vec_id AS query_id, "
            f"list_transform(embedding[{a + 1}:{b}], x -> CAST(x AS DOUBLE)) AS qv "
            f"FROM embeddings WHERE vec_id IN ({ids}))"
        )
        sim_selects.append(
            f"SELECT q.query_id, a.vec_id, {_cos_q_sql('q.qv', 'c.cv')} AS simq "
            f"FROM {final} a JOIN s{j}cent{n_iters} c ON c.cid = a.cid "
            f"CROSS JOIN qs{j} q"
        )
    ctes.append("sims AS (" + " UNION ALL ".join(sim_selects) + ")")
    ctes.append(
        """apx AS (
  SELECT query_id, vec_id, sum(simq) AS approx
  FROM sims GROUP BY 1, 2
)"""
    )
    ctes.append(
        f"""cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY approx DESC, vec_id ASC
           ) AS crn
    FROM apx
  ) WHERE crn <= {int(n_candidates)}
)"""
    )
    ctes.append(
        "fe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "AS ev FROM embeddings)"
    )
    ctes.append(
        f"qf AS (SELECT vec_id AS query_id, list_transform(embedding, "
        f"x -> CAST(x AS DOUBLE)) AS qv FROM embeddings WHERE vec_id IN ({ids}))"
    )
    ctes.append(
        f"""exact AS (
  SELECT c.query_id, c.vec_id, {_cos_q_sql("q.qv", "f.ev")} AS cos_q
  FROM cand c JOIN fe f USING (vec_id) JOIN qf q USING (query_id)
)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
ranked AS (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id ASC) AS rnk
  FROM exact
)
SELECT query_id::BIGINT AS query_id, CAST(rnk AS INTEGER) AS rank,
       vec_id::BIGINT AS vec_id, cos_q
FROM ranked WHERE rnk <= {int(k)} ORDER BY query_id, rank"""


# docmeta group columns as the documents-table expressions the entry
# index is built over (repo <- source, path <- source/doc/doc_id,
# lang <- lang — the same mapping the field-clause CTEs use)
_GROUP_EXPRS = {
    "lang": "lower(d.lang)",
    "repo": "lower(d.source)",
}


def grouped_topk_sql(
    queries: list[tuple[int, str, int]],
    group_field: str = "lang",
    group_limit: int = 3,
    mode: str = "disjunctive",
    table: str = "documents",
) -> str:
    """Twin of ``query.search_grouped`` (Lucene grouping-module
    analog): k counts GROUPS, groups rank by their head doc's score_q
    (ties: group value ASC), docs within a group by the K2 law."""
    expr = _GROUP_EXPRS[group_field]
    flt = "WHERE n_matched = n_terms" if mode == "conjunctive" else ""
    return (
        _bm25_ctes(queries, table=table)
        + f""",
gsc AS (
  SELECT s.query_id, s.doc_id, s.k,
         CAST(floor(s.score_raw * {_QUANT} + 0.5) AS BIGINT) AS score_q,
         {expr} AS grp
  FROM (SELECT * FROM scored {flt}) s JOIN {table} d USING (doc_id)
),
ghits AS (
  SELECT query_id, doc_id, k, score_q, grp,
         row_number() OVER (PARTITION BY query_id, grp
                            ORDER BY score_q DESC, doc_id ASC) AS hit_rank
  FROM gsc
),
gheads AS (
  SELECT query_id, grp, k,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, grp ASC) AS group_rank
  FROM ghits WHERE hit_rank = 1
)
SELECT CAST(g.query_id AS INTEGER) AS query_id,
       CAST(h.group_rank AS INTEGER) AS group_rank,
       g.grp AS grp,
       CAST(g.hit_rank AS INTEGER) AS hit_rank,
       CAST(g.doc_id AS BIGINT) AS doc_id,
       g.score_q AS score_q
FROM ghits g
JOIN gheads h ON g.query_id = h.query_id AND g.grp = h.grp
WHERE h.group_rank <= h.k AND g.hit_rank <= {int(group_limit)}
ORDER BY query_id, group_rank, hit_rank"""
    )


# The SQL side of query._block_join_agg — the ONE score-mode law for
# block/query-time join twins (avg is INTEGER division `//`, mirroring
# the engine's `div`; change both together or rank identity breaks).
_BJ_AGG_SQL = {
    "max": "max(cq)",
    "min": "min(cq)",
    "total": "sum(cq)",
    "avg": "CAST(sum(cq) // count(*) AS BIGINT)",
    "count": "count(*)",
}


def block_join_sql(
    queries: list[tuple[int, str, int]],
    parent_field: str = "repo",
    score_mode: str = "max",
    mode: str = "disjunctive",
    table: str = "documents",
) -> str:
    """Twin of ``query.search_block_join`` (ToParentBlockJoinQuery
    analog): children carry their quantized score_q; the parent
    aggregate is the same integer law (max/min/Σ/floor-avg/count);
    parents rank by (score_agg DESC, parent ASC) bounded by k."""
    expr = _GROUP_EXPRS[parent_field]
    flt = "WHERE n_matched = n_terms" if mode == "conjunctive" else ""
    agg = _BJ_AGG_SQL[score_mode]
    return (
        _bm25_ctes(queries, table=table)
        + f""",
child AS (
  SELECT s.query_id, s.k,
         CAST(floor(s.score_raw * {_QUANT} + 0.5) AS BIGINT) AS cq,
         {expr} AS parent
  FROM (SELECT * FROM scored {flt}) s JOIN {table} d USING (doc_id)
),
par AS (
  SELECT query_id, parent,
         CAST({agg} AS BIGINT) AS score_q,
         count(*)::BIGINT AS n_children,
         max(k) AS k
  FROM child GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, parent, score_q, n_children, k,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_q DESC, parent ASC
         ) AS rnk
  FROM par
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       parent, score_q, n_children
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""
    )


def join_search_sql(
    queries: list[tuple[int, str, int]],
    from_field: str = "repo",
    to_field: str = "repo",
    score_mode: str = "max",
    mode: str = "disjunctive",
    table: str = "documents",
) -> str:
    """Twin of ``query.search_join`` (JoinUtil.createJoinQuery analog):
    from-docs' quantized scores aggregate per join value under the
    integer law; to-docs inherit their value's score and rank by
    (score_q DESC, doc_id ASC) bounded by k."""
    fexpr = _GROUP_EXPRS[from_field]
    texpr = _GROUP_EXPRS[to_field]
    flt = "WHERE n_matched = n_terms" if mode == "conjunctive" else ""
    agg = _BJ_AGG_SQL[score_mode]
    return (
        _bm25_ctes(queries, table=table)
        + f""",
child AS (
  SELECT s.query_id, s.k,
         CAST(floor(s.score_raw * {_QUANT} + 0.5) AS BIGINT) AS cq,
         {fexpr} AS jval
  FROM (SELECT * FROM scored {flt}) s JOIN {table} d USING (doc_id)
),
vals AS (
  SELECT query_id, jval, CAST({agg} AS BIGINT) AS score_q, max(k) AS k
  FROM child GROUP BY 1, 2
),
hits AS (
  SELECT v.query_id, d.doc_id, v.score_q, v.k
  FROM {table} d JOIN vals v ON {texpr} = v.jval
),
ranked AS (
  SELECT query_id, doc_id, score_q, k,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_q DESC, doc_id ASC
         ) AS rnk
  FROM hits
)
SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score_q
FROM ranked WHERE rnk <= k
ORDER BY query_id, rank"""
    )


def suggest_sql(
    words: list[tuple[str, int]],
    max_dist: int = 2,
    table: str = "documents",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    """Twin of ``query.suggest_terms`` (Lucene DirectSpellChecker
    analog): per word, top-k dictionary terms within ``max_dist``
    edits (the word itself excluded), by (dist ASC, df DESC, term
    ASC) — all-integer ordering, no float law needed."""
    toks = duckdb_tokens_sql("text", profile)
    uniq = sorted({(w.lower(), int(k)) for w, k in words if w})
    rows = [
        "('{}', {})".format(w.replace("'", "''"), k) for w, k in uniq
    ] or ["(NULL, NULL)"]
    vals = ",\n    ".join(rows)
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM {table}),
tf AS (SELECT doc_id, term FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
w(word, k) AS (VALUES
    {vals}),
cand AS (
  SELECT w.word, d.term, levenshtein(d.term, w.word) AS dist, d.df, w.k,
         row_number() OVER (PARTITION BY w.word
                            ORDER BY levenshtein(d.term, w.word) ASC,
                                     d.df DESC, d.term ASC) AS rnk
  FROM w JOIN dfs d
    ON w.word IS NOT NULL
   AND abs(length(d.term) - length(w.word)) <= {int(max_dist)}
   AND d.term <> w.word
   AND levenshtein(d.term, w.word) <= {int(max_dist)}
)
SELECT word, CAST(rnk AS INTEGER) AS rank, term,
       CAST(dist AS INTEGER) AS dist, df
FROM cand WHERE rnk <= k ORDER BY word, rank"""


def suggest_completions_sql(
    prefixes: list[tuple[str, int]],
    table: str = "documents",
    profile: TokenizerProfile = DEFAULT_PROFILE,
) -> str:
    """Twin of ``query.suggest_completions`` (Lucene AnalyzingSuggester
    analog): per prefix, top-k dictionary terms starting with the
    prefix, by (df DESC, term ASC) — the prefix itself is a legal
    completion when it is a term."""
    toks = duckdb_tokens_sql("text", profile)
    uniq = sorted({(p.lower(), int(k)) for p, k in prefixes if p})
    rows = [
        "('{}', {})".format(p.replace("'", "''"), k) for p, k in uniq
    ] or ["(NULL, NULL)"]
    vals = ",\n    ".join(rows)
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM {table}),
tf AS (SELECT doc_id, term FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
w(prefix, k) AS (VALUES
    {vals}),
cand AS (
  SELECT w.prefix, d.term, d.df, w.k,
         row_number() OVER (PARTITION BY w.prefix
                            ORDER BY d.df DESC, d.term ASC) AS rnk
  FROM w JOIN dfs d
    ON w.prefix IS NOT NULL
   AND starts_with(d.term, w.prefix)
)
SELECT prefix, CAST(rnk AS INTEGER) AS rank, term, df
FROM cand WHERE rnk <= k ORDER BY prefix, rank"""
