"""Indexed MultiPhraseQuery laws (positions.search_multi_phrase).

Lucene core's MultiPhraseQuery (phrase-with-alternatives — the
analyzer-synonym phrase path): each slot holds a set of alternative
terms; a start position matches when every slot i has SOME alternative
at p+i. The engine evaluates it over the packed positions artifact
with the slot-union generalization of the shifted-array_intersect
fold; the DuckDB twin is an n-way positions join with per-slot IN
lists over the same token law."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest


ROWS = [
    (0, "alpha beta gamma alpha delta gamma"),
    (1, "beta alpha beta gamma"),
    (2, "alpha gamma beta epsilon"),
    (3, "echo echo echo alpha beta"),
    (4, "delta gamma alpha"),
]


@pytest.fixture(scope="module")
def mp_positions(spark, tmp_path_factory):
    from org_rdkit_lucene_spark.operators.positions import build_positions

    docs = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "content"])
    )
    d = str(tmp_path_factory.mktemp("mpidx"))
    return build_positions(spark, docs, d)


def _brute(slots, k):
    """Driver-side oracle: scan every doc's token stream directly."""
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_text
    from org_rdkit_lucene_spark.operators.positions import (
        analyze_phrase_slots,
    )

    analyzed = analyze_phrase_slots(slots)
    if analyzed is None:
        return []
    hits = []
    for doc_id, text in ROWS:
        toks = tokenize_text(text)
        n = 0
        for p in range(len(toks) - len(analyzed) + 1):
            if all(toks[p + i] in alts for i, alts in enumerate(analyzed)):
                n += 1
        if n:
            hits.append((doc_id, n))
    hits.sort(key=lambda t: (-t[1], t[0]))
    return hits[:k]


@pytest.mark.parametrize(
    "slots",
    [
        [["alpha", "beta"], ["gamma"]],
        [["alpha"], ["beta", "delta"]],
        [["echo"], ["echo"]],
        [["gamma"], ["alpha", "beta", "epsilon"]],
        [["alpha"]],
        [["alpha", "delta"]],
        [["beta"], ["gamma"], ["alpha", "echo"]],
    ],
)
def test_multi_phrase_law_vs_brute_force(mp_positions, slots):
    from org_rdkit_lucene_spark.operators.positions import search_multi_phrase

    got = (
        search_multi_phrase(mp_positions, [(1, slots, 10)])
        .toPandas()
        .sort_values("rank")
    )
    assert list(zip(got.doc_id, got.n_occ)) == _brute(slots, 10)


def test_multi_phrase_absent_and_inert_slots(mp_positions):
    from org_rdkit_lucene_spark.operators.positions import search_multi_phrase

    out = search_multi_phrase(
        mp_positions,
        [
            (1, [["zzz", "qqq"], ["alpha"]], 10),  # all-absent slot
            (2, [[""], ["alpha"]], 10),            # inert (tokenizes empty)
            (3, [["alpha"], ["beta"]], 10),        # control: matches
        ],
    ).toPandas()
    assert set(out.query_id) == {3}


def test_multi_phrase_singleton_slots_collapse_to_phrase(mp_positions):
    """Singleton alternatives == the exact PhraseQuery (identity)."""
    from org_rdkit_lucene_spark.operators.positions import (
        search_multi_phrase,
        search_phrase_positions,
    )

    mp = (
        search_multi_phrase(mp_positions, [(7, [["alpha"], ["beta"]], 10)])
        .toPandas()
        .reset_index(drop=True)
    )
    ph = (
        search_phrase_positions(mp_positions, [(7, "alpha beta", 10)])
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(mp, ph, check_dtype=False)


def test_multi_phrase_multi_token_alternative_law(mp_positions):
    """A multi-token alternative contributes ALL its analyzed tokens as
    slot alternatives (the documented analyze_phrase_slots law)."""
    from org_rdkit_lucene_spark.operators.positions import search_multi_phrase

    a = search_multi_phrase(
        mp_positions, [(1, [["alpha beta"], ["gamma"]], 10)]
    ).toPandas()
    b = search_multi_phrase(
        mp_positions, [(1, [["alpha", "beta"], ["gamma"]], 10)]
    ).toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), check_dtype=False
    )


def test_multi_phrase_oracle_parity(mp_positions):
    """Engine == DuckDB twin (rank, doc, n_occ) on mixed slot shapes,
    including the no-prefilter path (max_prefilter_pairs=0)."""
    from org_rdkit_lucene_spark.operators.positions import search_multi_phrase
    from org_rdkit_lucene_spark.oracle.sqlgen import multi_phrase_sql

    queries = [
        (1, [["alpha", "beta"], ["gamma"]], 10),
        (2, [["alpha"], ["beta", "delta"]], 2),
        (3, [["echo"], ["echo"]], 10),
        (4, [["delta", "epsilon"]], 10),
        (5, [["beta"], ["gamma"], ["alpha", "echo"]], 10),
    ]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(ROWS, columns=["doc_id", "text"]),
    )
    want = con.execute(multi_phrase_sql(queries)).df()
    for cap in (100_000, 0):
        got = (
            search_multi_phrase(mp_positions, queries, max_prefilter_pairs=cap)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got.astype({"doc_id": "int64", "n_occ": "int64"}),
            want.astype({"doc_id": "int64", "n_occ": "int64"}),
            check_dtype=False,
        )


def test_multi_phrase_oracle_parity_non_default_profile(spark, tmp_path):
    """Positions built under the trigram profile: engine (profile
    passed) == ``multi_phrase_sql(profile=...)``, while the
    default-profile twin answers a different law."""
    from org_rdkit_lucene_spark.config import ANALYZERS
    from org_rdkit_lucene_spark.operators.positions import (
        build_positions,
        search_multi_phrase,
    )
    from org_rdkit_lucene_spark.oracle.sqlgen import multi_phrase_sql

    prof = ANALYZERS["trigram"]
    docs = spark.createDataFrame(pd.DataFrame(ROWS, columns=["doc_id", "content"]))
    positions = build_positions(spark, docs, str(tmp_path / "tri"), profile=prof)
    queries = [
        (1, [["alpha", "beta"], ["gamma"]], 10),
        (2, [["echo"], ["alpha"]], 10),
        (3, [["pha"], ["bet", "gam"]], 10),
    ]
    got = (
        search_multi_phrase(positions, queries, profile=prof)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
        .astype({"doc_id": "int64", "n_occ": "int64"})
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(ROWS, columns=["doc_id", "text"]))

    def twin(**kw):
        return (
            con.execute(multi_phrase_sql(queries, **kw))
            .df()
            .astype({"doc_id": "int64", "n_occ": "int64"})
        )

    assert len(got) > 0
    pd.testing.assert_frame_equal(got, twin(profile=prof), check_dtype=False)
    assert not got.equals(twin().astype(got.dtypes.to_dict()))
