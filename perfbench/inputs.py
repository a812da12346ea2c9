"""Seeded inputs for the benchmark: a code-like corpus and its queries.

Everything here is a pure function of ``(seed, n_docs, n_pool)``; the engine
only ever sees the generated rows and query strings. The generator is
the benchmark's own, so edits to the engine's test fixtures cannot move
the workloads.

The shape of a document follows the documented shape of the engine's
code-search test corpus (``sources/fixtures.py``; the parameters are
copied here, not imported):

- 20-400 lines, uniformly (about 12.6 KB of content on average);
- three identifiers per line, drawn with Zipf skew (s = 1.1) from a
  vocabulary of 2,000 identifiers. Each identifier joins two of 39 root
  words with one of 9 suffixes, in camelCase, snake_case or UPPER_CASE
  with a two-digit number, so the tokenizer sees a small set of roots in
  most documents and a longer tail of numbered terms;
- one of five hot terms appended to 35% of lines (terms in most
  documents);
- every seventh line a comment, every seventh from the fourth an
  assignment, the rest calls, each led by a keyword of the document's
  language (seven languages, fixed shares);
- 2% near-duplicates: every fiftieth document repeats an earlier one
  plus one line, so BM25 ties are common.

Query classes:

- keyword: 1, 3 and 6 identifiers (the last with a hot term),
  disjunctive (k = 1, 1000 and 10), 2 identifiers, conjunctive (k = 10),
  and one term that occurs nowhere;
- batch: 24 keyword queries of 1-6 identifiers sent in one call;
- snippet: the first lines of a corpus document. Its summed document
  frequency is above the engine's WAND routing threshold, so
  ``search_auto`` sends it to block-max WAND.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ("py", "java", "scala", "js", "go", "rs", "sql")
LANG_SHARES = np.array([0.30, 0.20, 0.10, 0.15, 0.10, 0.08, 0.07])
KEYWORDS = {
    "py": ("def", "return", "import", "class", "self", "None", "lambda"),
    "java": ("public", "static", "void", "class", "extends", "return", "new"),
    "scala": ("val", "def", "object", "case", "match", "implicit"),
    "js": ("function", "const", "let", "return", "async", "await"),
    "go": ("func", "package", "return", "defer", "struct", "interface"),
    "rs": ("fn", "let", "mut", "impl", "match", "pub", "crate"),
    "sql": ("select", "from", "where", "group", "order", "join"),
}
ROOTS = (
    "parse", "token", "merge", "score", "post", "lex", "shard", "batch", "fetch",
    "cache", "hash", "rank", "query", "build", "flush", "split", "encode",
    "decode", "stream", "block", "chunk", "node", "graph", "tree", "heap",
    "queue", "stack", "buffer", "cursor", "handle", "widget", "config",
    "metric", "logger", "worker", "driver", "executor", "planner", "filter",
)
SUFFIXES = ("er", "or", "ing", "ed", "Factory", "Manager", "Impl", "Util", "Helper")
HOT_TERMS = ("get", "index", "main", "value", "data")
MODULES = ("core", "util", "io", "net", "index", "query", "codec", "bench", "api")
VOCAB_SIZE = 2000
# The vocabulary and its Zipf ranks are the same for every seed, so that
# seeds differ only in how documents and queries sample it: with a
# vocabulary per seed, index size per content byte varied by 10%
# between seeds.
VOCAB_SEED = 0
ZIPF_S = 1.1
BODY_LINES = (20, 401)
IDENTS_PER_LINE = 3
HOT_LINE_SHARE = 0.35
# every NEAR_DUP_EVERY-th document repeats an earlier one plus a line
NEAR_DUP_EVERY = 50
# lines of a document that a snippet query takes
SNIPPET_LINES = 120
UNSEEN_TERM = "qqzzunseenterm"

BATCH_QUERIES = 24


def make_vocab(rng: np.random.Generator) -> list[str]:
    """VOCAB_SIZE identifiers of two roots and a suffix, in one of
    three styles."""
    n = VOCAB_SIZE
    styles = rng.integers(0, 3, size=n)
    r1 = rng.integers(0, len(ROOTS), size=n)
    r2 = rng.integers(0, len(ROOTS), size=n)
    sfx = rng.integers(0, len(SUFFIXES), size=n)
    num = rng.integers(0, 100, size=n)
    out = []
    for st, a, b, s, k in zip(styles, r1, r2, sfx, num):
        a, b, s = ROOTS[a], ROOTS[b], SUFFIXES[s]
        if st == 0:
            out.append(f"{a}{b.capitalize()}{s.capitalize()}")
        elif st == 1:
            out.append(f"{a}_{b}_{s.lower()}")
        else:
            out.append(f"{a.upper()}_{b.upper()}{k}")
    return out


class Inputs:
    """The corpus, a pool of further documents for upserts to add, and
    the query lists."""

    def __init__(self, seed: int, n_docs: int, n_pool: int = 0):
        self.seed = seed
        self.n_docs = n_docs
        rng = np.random.default_rng(seed)
        self.vocab = make_vocab(np.random.default_rng(VOCAB_SEED))
        w = np.cumsum(1.0 / np.power(np.arange(1, VOCAB_SIZE + 1), ZIPF_S))
        self._vocab_cdf = w[:-1] / w[-1]
        rows: list[tuple] = []
        for i in range(n_docs + n_pool):
            rows.append(self._doc(i, rows))
        docs = pd.DataFrame(rows, columns=["ext_id", "repo", "path", "commit", "lang", "content"])
        self.corpus = docs.iloc[:n_docs]
        self.pool = docs.iloc[n_docs:].reset_index(drop=True)
        self.keyword = self._keyword_queries(rng)
        self.snippet = self._snippet_queries(rng)
        self.batch = self._batch_queries(rng)

    # -- corpus ------------------------------------------------------------

    def _doc(self, i: int, earlier: list[tuple]) -> tuple:
        rng = np.random.default_rng((self.seed, i))
        lang = LANGS[int(np.searchsorted(np.cumsum(LANG_SHARES)[:-1], rng.random(), "right"))]
        repo = f"org{i % 7}/repo{i % 53}"
        path = f"src/{MODULES[i % len(MODULES)]}/file_{i}.{lang}"
        commit = hashlib.sha1(f"{repo}|{path}|{self.seed}".encode()).hexdigest()[:12]
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            src = earlier[int(rng.integers(i))]
            return (i, repo, path, commit, src[4], src[5] + f"\n# clone {i}")
        n_lines = int(rng.integers(*BODY_LINES))
        draws = np.searchsorted(
            self._vocab_cdf, rng.random(n_lines * IDENTS_PER_LINE), side="right"
        )
        idents = [self.vocab[x] for x in draws.tolist()]
        hot = rng.random(n_lines) < HOT_LINE_SHARE
        kws = KEYWORDS[lang]
        lines = []
        for ln in range(n_lines):
            a, b, c = idents[ln * 3 : ln * 3 + 3]
            k = kws[ln % len(kws)]
            h = f" {HOT_TERMS[ln % len(HOT_TERMS)]}" if hot[ln] else ""
            if ln % 7 == 0:
                lines.append(f"# {a} returns the {b} for{h} {c}")
            elif ln % 7 == 3:
                lines.append(f'{k} {a} = "{b}:{c}"{h}')
            else:
                lines.append(f"{k} {a}({b}, {c}){h} {{")
        return (i, repo, path, commit, lang, "\n".join(lines))

    # -- queries -----------------------------------------------------------

    def _keyword_text(self, rng: np.random.Generator, n_idents: int, hot: bool = False) -> str:
        """``n_idents`` identifiers drawn uniformly from the vocabulary;
        with ``hot``, the last is a hot term instead."""
        parts = [self.vocab[int(v)] for v in rng.integers(0, VOCAB_SIZE, size=n_idents)]
        if hot:
            parts[-1] = HOT_TERMS[int(rng.integers(len(HOT_TERMS)))]
        return " ".join(parts)

    def _keyword_queries(self, rng: np.random.Generator) -> list[tuple]:
        """(query_id, text, k, mode) of the single keyword queries; the
        last one is the unseen term."""
        return [
            (100, self._keyword_text(rng, 1), 1, "disjunctive"),
            (101, self._keyword_text(rng, 3), 1000, "disjunctive"),
            (102, self._keyword_text(rng, 6, hot=True), 10, "disjunctive"),
            (103, self._keyword_text(rng, 2), 10, "conjunctive"),
            (104, UNSEEN_TERM, 10, "disjunctive"),
        ]

    def _snippet_queries(self, rng: np.random.Generator) -> list[tuple]:
        """The first SNIPPET_LINES lines of a random document that has
        that many."""
        n_lines = self.corpus["content"].str.count("\n").to_numpy() + 1
        d = int(rng.choice(np.flatnonzero(n_lines >= SNIPPET_LINES)))
        lines = self.corpus.at[d, "content"].split("\n")
        return [(200, "\n".join(lines[:SNIPPET_LINES]), 10, "disjunctive")]

    def _batch_queries(self, rng: np.random.Generator) -> list[tuple]:
        return [
            (300 + j, self._keyword_text(rng, 1 + j % 6, hot=j % 4 == 3), 10, "disjunctive")
            for j in range(BATCH_QUERIES)
        ]
