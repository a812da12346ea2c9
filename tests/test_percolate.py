"""Percolator (streaming/percolate.py): reverse search must be
IDENTICAL to the forward search on the same corpus — percolating the
index's own corpus yields exactly the (query, doc, score_q) set the
conjunctive/disjunctive search produces (tokenizer parity + frozen
index stats make the two directions the same law) — and the streaming
wrapper must equal the batch operator."""

import pandas as pd
import pytest

from org_rdkit_lucene_spark.operators.query import search
from org_rdkit_lucene_spark.streaming.percolate import (
    MAX_QUERIES,
    percolate,
    percolate_stream,
)

QUERIES = [
    (1, "merg join spark", 10),
    (2, "hash tabl", 10),
    (3, "zzzmissing merg", 10),  # unseen term: conjunctive can't match
]


def _forward(small_index, mode, n_docs=10_000):
    big = [(qid, text, n_docs) for qid, text, _ in QUERIES]
    return (
        search(small_index, big, mode=mode)
        .toPandas()[["query_id", "doc_id", "score_q"]]
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def corpus_with_ids(small_index, small_pdf):
    """The index's own corpus keyed by ITS doc ids (via docmap), so
    reverse and forward results are directly comparable."""
    docmap = small_index.docmap.toPandas()
    src = small_pdf.merge(docmap, on=["repo", "path", "commit"])
    return small_index.spark.createDataFrame(
        src[["doc_id", "content"]]
    )


def test_percolate_equals_conjunctive_search(small_index, corpus_with_ids):
    got = (
        percolate(small_index, corpus_with_ids, QUERIES, mode="conjunctive")
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    want = _forward(small_index, "conjunctive")
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id", "score_q"]].astype("int64"),
        want.astype("int64"),
    )
    # the unseen-term query can never match conjunctively
    assert (got.query_id == 3).sum() == 0


def test_percolate_equals_disjunctive_search(small_index, corpus_with_ids):
    got = (
        percolate(
            small_index,
            corpus_with_ids,
            QUERIES,
            mode="disjunctive",
            min_should_match=1,
        )
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    want = _forward(small_index, "disjunctive")
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id", "score_q"]].astype("int64"),
        want.astype("int64"),
    )
    # disjunctive hits for query 3 exist (the present term matches)
    # but never with full coverage
    q3 = got[got.query_id == 3]
    assert len(q3) > 0 and (q3.n_matched < 2).all()


def test_min_should_match(small_index, corpus_with_ids):
    all_hits = _forward(small_index, "disjunctive")
    got2 = (
        percolate(
            small_index,
            corpus_with_ids,
            QUERIES,
            mode="disjunctive",
            min_should_match=2,
        )
        .toPandas()
    )
    assert (got2.n_matched >= 2).all()
    assert len(got2) < len(all_hits)


def test_percolate_stream_matches_batch(
    small_index, corpus_with_ids, tmp_path
):
    d = str(tmp_path / "stream_docs")
    corpus_with_ids.selectExpr(
        "CAST(doc_id AS LONG) AS doc_id", "content"
    ).write.parquet(d)
    got = (
        percolate_stream(
            small_index,
            small_index.spark,
            d,
            "doc_id long, content string",
            QUERIES,
            mode="conjunctive",
            query_name="perc_test",
        )
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    want = (
        percolate(small_index, corpus_with_ids, QUERIES, mode="conjunctive")
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_percolate_validation(small_index, corpus_with_ids):
    with pytest.raises(ValueError):
        percolate(small_index, corpus_with_ids, QUERIES, mode="fuzzy")
    with pytest.raises(ValueError):
        percolate(
            small_index, corpus_with_ids, QUERIES, min_should_match=0
        )
    with pytest.raises(ValueError):
        percolate(
            small_index,
            corpus_with_ids,
            [(i, "x", 1) for i in range(MAX_QUERIES + 1)],
        )
    # all-unseen query set -> empty frame with the contract schema
    empty = percolate(
        small_index, corpus_with_ids, [(9, "zzz qqq", 5)]
    ).toPandas()
    assert len(empty) == 0
    assert list(empty.columns) == ["doc_id", "query_id", "score_q", "n_matched"]


SYNTAX_QUERIES = [
    (11, "+merg join -spark", 10),
    (12, "hash tabl^2 +scan", 10),
    (13, "merg scorer", 10),
    (14, "-merg join", 10),
    (15, "+zzzmissing merg", 10),   # unseen MUST -> unmatchable
]


def test_percolate_syntax_equals_forward_search_syntax(
    small_index, corpus_with_ids
):
    """Reverse boolean-lite == forward search_syntax with k = corpus
    size, on (query, doc, score_q) — MUST/MUST_NOT/boost laws shared."""
    from org_rdkit_lucene_spark.operators.query import search_syntax
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    got = (
        percolate_syntax(small_index, corpus_with_ids, SYNTAX_QUERIES)
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    big = [(qid, text, 10_000) for qid, text, _ in SYNTAX_QUERIES]
    want = (
        search_syntax(small_index, corpus_with_ids, big)
        .toPandas()[["query_id", "doc_id", "score_q"]]
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id", "score_q"]].astype("int64"),
        want.astype("int64"),
    )
    assert (got.query_id == 15).sum() == 0  # unseen MUST never matches


def test_percolate_syntax_rejects_non_term_clauses(small_index, corpus_with_ids):
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    for bad in ('"a b"', "path:core", "pre*", "word~", "[a TO b]"):
        with pytest.raises(ValueError, match="term clauses only"):
            percolate_syntax(
                small_index, corpus_with_ids, [(1, f"merg {bad}", 10)]
            )


def test_percolate_syntax_excludes_unseen_terms_text_level(
    small_index, corpus_with_ids, spark
):
    """A MUST_NOT term the base lexicon has never seen still excludes
    an arriving doc that contains it (membership needs no idf)."""
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10_001, 10_002],
                "content": [
                    "merg zzznovel stream",   # contains the unseen term
                    "merg stream",            # does not
                ],
            }
        )
    )
    out = percolate_syntax(
        small_index, extra, [(1, "merg -zzznovel", 10)]
    ).toPandas()
    assert list(out.doc_id) == [10_002]


def test_percolate_syntax_oracle_parity(small_index, corpus_with_ids):
    """Engine == DuckDB twin on the index's own corpus (the gate law)."""
    import duckdb

    from org_rdkit_lucene_spark.oracle.sqlgen import percolate_syntax_sql
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    got = (
        percolate_syntax(small_index, corpus_with_ids, SYNTAX_QUERIES)
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    pdf = corpus_with_ids.toPandas().rename(columns={"content": "text"})
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (
        con.execute(percolate_syntax_sql(SYNTAX_QUERIES))
        .df()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    cols = ["doc_id", "query_id", "score_q", "n_matched"]
    pd.testing.assert_frame_equal(
        got[cols].astype("int64"), want[cols].astype("int64")
    )


def test_percolate_syntax_oracle_parity_non_default_profile(
    spark, small_pdf, tmp_path
):
    """The twin takes the index's analyzer: under the trigram profile,
    engine == ``percolate_syntax_sql(profile=...)``, while the
    default-profile twin answers a different law."""
    import duckdb

    from org_rdkit_lucene_spark.config import ANALYZERS, IndexConfig
    from org_rdkit_lucene_spark.operators.build import build_index
    from org_rdkit_lucene_spark.oracle.sqlgen import percolate_syntax_sql
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    prof = ANALYZERS["trigram"]
    pdf = small_pdf.iloc[:120].reset_index(drop=True)
    pdf.insert(0, "ext_id", range(len(pdf)))
    cfg = IndexConfig(build_partitions=2, tokenizer=prof)
    index = build_index(
        spark, spark.createDataFrame(pdf), cfg, str(tmp_path / "tri"), id_col="ext_id"
    )
    docs = spark.createDataFrame(
        pdf.rename(columns={"ext_id": "doc_id"})[["doc_id", "content"]]
    )
    cols = ["doc_id", "query_id", "score_q", "n_matched"]
    got = (
        percolate_syntax(index, docs, SYNTAX_QUERIES)
        .toPandas()[cols]
        .astype("int64")
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf.rename(columns={"ext_id": "doc_id", "content": "text"}))

    def twin(**kw):
        return (
            con.execute(percolate_syntax_sql(SYNTAX_QUERIES, **kw))
            .df()[cols]
            .astype("int64")
            .sort_values(["query_id", "doc_id"])
            .reset_index(drop=True)
        )

    assert len(got) > 0
    pd.testing.assert_frame_equal(got, twin(profile=prof))
    assert not got.equals(twin())


def test_percolate_syntax_stream_matches_batch(
    small_index, corpus_with_ids, tmp_path
):
    """Streaming boolean-lite percolation == batch (stateless operator,
    append mode)."""
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    d = str(tmp_path / "stream_docs_syn")
    corpus_with_ids.selectExpr(
        "CAST(doc_id AS LONG) AS doc_id", "content"
    ).write.parquet(d)
    got = (
        percolate_stream(
            small_index,
            small_index.spark,
            d,
            "doc_id long, content string",
            SYNTAX_QUERIES,
            query_name="perc_syn_test",
            syntax=True,
        )
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    want = (
        percolate_syntax(small_index, corpus_with_ids, SYNTAX_QUERIES)
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_percolate_syntax_sql_rejects_non_term_clauses():
    """The twin mirrors the engine's loud rejection — a bag-of-words
    oracle for a phrase query would be a wrong-law twin."""
    from org_rdkit_lucene_spark.oracle.sqlgen import percolate_syntax_sql

    with pytest.raises(ValueError, match="term clauses only"):
        percolate_syntax_sql([(1, '"hash table" scan', 10)])


def test_percolate_syntax_query_cap(small_index, corpus_with_ids):
    """MAX_QUERIES bounds the broadcast structurally on the syntax
    surface too (the sharding directive, same as percolate)."""
    from org_rdkit_lucene_spark.streaming.percolate import percolate_syntax

    too_many = [(i, "merg", 5) for i in range(MAX_QUERIES + 1)]
    with pytest.raises(ValueError, match="shard the query set"):
        percolate_syntax(small_index, corpus_with_ids, too_many)
