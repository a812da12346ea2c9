"""Lucene grouping-module and suggest-module analogs:
``search_grouped`` (TopGroupsCollector law — groups ranked by their
head doc, K2 law inside a group) and ``suggest_terms``
(DirectSpellChecker.suggestSimilar law — dist ASC, df DESC, term ASC,
the word itself excluded). Engine == DuckDB twin on both."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.operators.build import build_index
from org_rdkit_lucene_spark.operators.query import (
    search,
    search_grouped,
    suggest_completions,
    suggest_terms,
)
from org_rdkit_lucene_spark.oracle import sqlgen

DOCS = pd.DataFrame(
    {
        "doc_id": range(8),
        "text": [
            "merge sort quick", "binary search tree", "merge conflict",
            "hash map util", "sorted list merge", "tree walk",
            "merge merge tree", "hash tree scan",
        ],
        "source": [
            "github", "gitlab", "github", "internal",
            "webcrawl", "github", "gitlab", "internal",
        ],
        "lang": ["python", "java", "python", "go", "rust", "java", "go", "python"],
    }
)


@pytest.fixture(scope="module")
def gs_index(spark, tmp_path_factory):
    corpus = spark.createDataFrame(DOCS).select(
        F.col("source").alias("repo"),
        F.concat_ws("/", "source", F.lit("doc"), "doc_id").alias("path"),
        F.col("doc_id").cast("string").alias("commit"),
        "lang",
        F.col("text").alias("content"),
        F.col("doc_id").alias("ext_id"),
    )
    return build_index(
        spark,
        corpus,
        IndexConfig(build_partitions=2, hot_term_df=50, n_salts=2),
        str(tmp_path_factory.mktemp("gsidx")),
        id_col="ext_id",
    )


def test_grouped_topk_law(gs_index):
    out = (
        search_grouped(gs_index, [(1, "merge tree", 3)], "lang", group_limit=2)
        .toPandas()
    )
    # groups rank by their head doc's score; docs inside a group by
    # (score_q DESC, doc_id ASC); no group exceeds group_limit rows
    assert out.groupby("grp").size().max() <= 2
    heads = out[out.hit_rank == 1].sort_values("group_rank")
    assert list(heads.score_q) == sorted(heads.score_q, reverse=True)
    for _, g in out.groupby("grp"):
        gg = g.sort_values("hit_rank")
        assert list(gg.score_q) == sorted(gg.score_q, reverse=True)
    # k bounds the number of GROUPS, not docs
    assert out.group_rank.max() <= 3
    # every returned doc actually matches the disjunctive query (same
    # candidate set as plain search with a large k)
    full = search(gs_index, [(1, "merge tree", 100)]).toPandas()
    assert set(out.doc_id) <= set(full.doc_id)


def test_grouped_topk_oracle_parity(gs_index):
    queries = [(1, "merge tree", 2), (2, "hash scan", 3), (3, "absentterm", 2)]
    got = search_grouped(gs_index, queries, "lang", group_limit=2).toPandas()
    con = duckdb.connect()
    con.register("documents", DOCS)
    want = con.execute(sqlgen.grouped_topk_sql(queries, "lang", 2)).df()
    assert got.values.tolist() == want.values.tolist()
    assert len(got) > 0
    # repo grouping rides the same law
    got = search_grouped(gs_index, queries[:2], "repo", group_limit=1).toPandas()
    want = con.execute(sqlgen.grouped_topk_sql(queries[:2], "repo", 1)).df()
    assert got.values.tolist() == want.values.tolist()


def test_suggest_law(gs_index):
    out = suggest_terms(gs_index, [("mrge", 5), ("tre", 4)]).toPandas()
    # closest-first: dist is non-decreasing down each word's ranking,
    # df breaks distance ties descending, the input word never appears
    for w, g in out.groupby("word"):
        gg = g.sort_values("rank")
        assert list(gg.dist) == sorted(gg.dist)
        assert w not in set(gg.term)
    assert ("mrge", "merge") in set(zip(out.word, out.term))
    # k caps per-word suggestions
    assert out[out.word == "tre"].shape[0] <= 4
    # unknown word with nothing within max_dist yields no rows
    empty = suggest_terms(gs_index, [("zzzzzzzz", 5)]).toPandas()
    assert len(empty) == 0


def test_suggest_oracle_parity(gs_index):
    words = [("mrge", 5), ("scann", 3), ("tre", 4), ("hsah", 2)]
    got = suggest_terms(gs_index, words).toPandas()
    con = duckdb.connect()
    con.register("documents", DOCS)
    want = con.execute(sqlgen.suggest_sql(words)).df()
    assert got.values.tolist() == want.values.tolist()
    assert len(got) > 0


def test_completion_law_and_parity(gs_index):
    prefixes = [("s", 3), ("me", 2), ("tr", 4), ("zzz", 3)]
    got = suggest_completions(gs_index, prefixes).toPandas()
    # every completion starts with its prefix; df non-increasing down
    # each ranking (term ASC breaks df ties); k caps per-prefix rows
    for p, g in got.groupby("prefix"):
        gg = g.sort_values("rank")
        assert all(t.startswith(p) for t in gg.term)
        assert list(gg.df) == sorted(gg.df, reverse=True)
    assert got[got.prefix == "s"].shape[0] <= 3
    assert "zzz" not in set(got.prefix)
    # a term that IS the prefix is a legal completion
    exact = suggest_completions(gs_index, [("merge", 1)]).toPandas()
    assert list(exact.term) == ["merge"]
    con = duckdb.connect()
    con.register("documents", DOCS)
    want = con.execute(sqlgen.suggest_completions_sql(prefixes)).df()
    assert got.values.tolist() == want.values.tolist()
    assert len(got) > 0


BJ_QUERIES = [(1, "merge tree", 3), (2, "hash scan", 2)]


def _bj_brute(gs_index, score_mode):
    """Brute force: full ranked child list → quantized per-doc scores →
    integer aggregate per parent → (score DESC, parent ASC) top-k."""
    full = search(
        gs_index, [(qid, t, 100) for qid, t, _ in BJ_QUERIES]
    ).toPandas()
    parents = DOCS.set_index("doc_id")["source"].str.lower()
    rows = []
    for qid, _t, k in BJ_QUERIES:
        sub = full[full.query_id == qid]
        agg = {}
        for r in sub.itertuples():
            agg.setdefault(parents[int(r.doc_id)], []).append(int(r.score_q))
        law = {
            "max": max, "min": min, "total": sum,
            "avg": lambda v: sum(v) // len(v), "count": len,
        }[score_mode]
        ranked = sorted(
            ((law(v), p, len(v)) for p, v in agg.items()),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for i, (s, p, n) in enumerate(ranked, start=1):
            rows.append((qid, i, p, s, n))
    return pd.DataFrame(
        rows, columns=["query_id", "rank", "parent", "score_q", "n_children"]
    )


@pytest.mark.parametrize("score_mode", ["max", "min", "total", "avg", "count"])
def test_block_join_law(gs_index, score_mode):
    from org_rdkit_lucene_spark.operators.query import search_block_join

    got = (
        search_block_join(gs_index, BJ_QUERIES, "repo", score_mode)
        .toPandas()
        .reset_index(drop=True)
    )
    want = _bj_brute(gs_index, score_mode)
    pd.testing.assert_frame_equal(
        got.astype({"query_id": "int64", "rank": "int64",
                    "score_q": "int64", "n_children": "int64"}),
        want.astype({"query_id": "int64", "rank": "int64",
                     "score_q": "int64", "n_children": "int64"}),
        check_dtype=False,
    )


@pytest.mark.parametrize("score_mode", ["max", "total", "avg"])
def test_block_join_oracle_parity(gs_index, score_mode):
    from org_rdkit_lucene_spark.operators.query import search_block_join

    got = (
        search_block_join(gs_index, BJ_QUERIES, "repo", score_mode)
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", DOCS)
    want = con.execute(
        sqlgen.block_join_sql(BJ_QUERIES, "repo", score_mode)
    ).df()
    cols = ["query_id", "rank", "parent", "score_q", "n_children"]
    pd.testing.assert_frame_equal(
        got[cols].astype({"query_id": "int64", "rank": "int64",
                          "score_q": "int64", "n_children": "int64"}),
        want[cols].astype({"query_id": "int64", "rank": "int64",
                           "score_q": "int64", "n_children": "int64"}),
        check_dtype=False,
    )


def test_block_join_validation(gs_index):
    from org_rdkit_lucene_spark.operators.query import search_block_join

    with pytest.raises(ValueError, match="score_mode"):
        search_block_join(gs_index, BJ_QUERIES, score_mode="geometric")


@pytest.mark.parametrize("score_mode", ["max", "total", "count"])
def test_join_search_law(gs_index, score_mode):
    """Query-time join == brute force: from-docs' quantized scores
    aggregate per join value; every to-doc with that value is a hit
    inheriting the value's score; rank (score DESC, doc ASC) top-k."""
    from org_rdkit_lucene_spark.operators.query import search_join

    got = (
        search_join(gs_index, BJ_QUERIES, "repo", "repo", score_mode)
        .toPandas()
        .reset_index(drop=True)
    )
    full = search(
        gs_index, [(qid, t, 100) for qid, t, _ in BJ_QUERIES]
    ).toPandas()
    parents = DOCS.set_index("doc_id")["source"].str.lower()
    rows = []
    for qid, _t, k in BJ_QUERIES:
        sub = full[full.query_id == qid]
        agg = {}
        for r in sub.itertuples():
            agg.setdefault(parents[int(r.doc_id)], []).append(int(r.score_q))
        law = {"max": max, "total": sum, "count": len}[score_mode]
        vals = {p: law(v) for p, v in agg.items()}
        hits = sorted(
            ((vals[parents[d]], d) for d in DOCS.doc_id if parents[d] in vals),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for i, (s, d) in enumerate(hits, start=1):
            rows.append((qid, i, d, s))
    want = pd.DataFrame(rows, columns=["query_id", "rank", "doc_id", "score_q"])
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_dtype=False
    )


def test_join_search_oracle_parity(gs_index):
    from org_rdkit_lucene_spark.operators.query import search_join

    got = (
        search_join(gs_index, BJ_QUERIES, "repo", "repo", "total")
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", DOCS)
    want = con.execute(
        sqlgen.join_search_sql(BJ_QUERIES, "repo", "repo", "total")
    ).df()
    pd.testing.assert_frame_equal(
        got.astype("int64"),
        want[["query_id", "rank", "doc_id", "score_q"]].astype("int64"),
        check_dtype=False,
    )


def test_block_join_search_after_pages_exactly(gs_index):
    """Keyset paging over the parent ranking: page1 + page2 == top-2k
    (the query-agnostic searchAfter law on the block-join surface)."""
    from org_rdkit_lucene_spark.operators.query import search_block_join

    q = [(1, "merge tree", 2)]
    full = search_block_join(
        gs_index, [(1, "merge tree", 4)], "repo", "total"
    ).toPandas()
    page1 = search_block_join(gs_index, q, "repo", "total").toPandas()
    last = page1.iloc[-1]
    page2 = search_block_join(
        gs_index, q, "repo", "total",
        after={1: (int(last.score_q), str(last.parent))},
    ).toPandas()
    paged = pd.concat([page1, page2], ignore_index=True)
    paged["rank"] = range(1, len(paged) + 1)
    pd.testing.assert_frame_equal(
        paged.reset_index(drop=True).astype({"score_q": "int64"}),
        full.reset_index(drop=True).astype({"score_q": "int64"}),
        check_dtype=False,
    )


def test_block_join_paging_with_null_parents(spark, tmp_path):
    """Parents whose key is NULL rank last on score ties (NULLS LAST)
    and still page exactly: page1 + page2 == top-2k at every k,
    including a cursor that sits on the NULL parent."""
    from org_rdkit_lucene_spark.operators.query import search_block_join

    langs = [None, "java", None, "go", "rust", "java", "go", "python"]
    corpus = spark.createDataFrame(
        DOCS.assign(lang=langs),
        "doc_id long, text string, source string, lang string",
    ).select(
        F.col("source").alias("repo"),
        F.concat_ws("/", "source", F.lit("doc"), "doc_id").alias("path"),
        F.col("doc_id").cast("string").alias("commit"),
        "lang",
        F.col("text").alias("content"),
        F.col("doc_id").alias("ext_id"),
    )
    idx = build_index(
        spark, corpus, IndexConfig(build_partitions=2, hot_term_df=50, n_salts=2),
        str(tmp_path / "nullidx"), id_col="ext_id",
    )
    q = "merge tree"
    full = search_block_join(idx, [(1, q, 6)], "lang", "count").toPandas()
    assert full["parent"].isna().any()
    for k in (1, 2, 3):
        page1 = search_block_join(idx, [(1, q, k)], "lang", "count").toPandas()
        last = page1.iloc[-1]
        parent = None if pd.isna(last.parent) else str(last.parent)
        page2 = search_block_join(
            idx, [(1, q, k)], "lang", "count",
            after={1: (int(last.score_q), parent)},
        ).toPandas()
        paged = pd.concat([page1, page2], ignore_index=True)
        paged["rank"] = range(1, len(paged) + 1)
        want = full.head(2 * k).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            paged.astype({"score_q": "int64"}),
            want.astype({"score_q": "int64"}),
            check_dtype=False,
        )
