"""The two workloads, their correctness checks and the layer probes.

Both are closed loops: one client, one operation in flight, on a
``local[CORES]`` session. A run sets up (session start, base-index
build), then runs whole rounds of a fixed operation list until
``seconds`` of round time have passed.
Every answer is checked against ``oracle/bm25_oracle.py`` over the raw
corpus, computed outside the timed parts; a failed check counts its
operation as failed and the run goes on.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import UNSEEN_TERM, Inputs
from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.oracle.bm25_oracle import BM25Oracle
from procstat import cpu_seconds
from spans import Tracer

CORES = 2
DRIVER_MEMORY = "2g"
SEARCH_DOCS = 4000
UPSERT_DOCS = 1000
UPDATES_PER_ROUND = 20
ADDS_PER_ROUND = 20
DELETES_PER_ROUND = 5
MAX_UPSERT_ROUNDS = 4
RESULT_COLS = ["rank", "doc_id", "score_q"]

# per-layer metric -> the span whose median duration it reports
SPAN_LAYERS = {
    "query.search_p50_s": "query.search",
    "query.search_conjunctive_p50_s": "query.search_conjunctive",
    "query.search_auto_p50_s": "query.search_auto",
    "wand.search_wand_p50_s": "wand.search_wand",
    "wand.search_wand_segmented_p50_s": "wand.search_wand_segmented",
    "query.batch_search_s": "query.batch_search",
    "wand.batch_search_wand_s": "wand.batch_search_wand",
    "query.search_segmented_p50_s": "query.search_segmented",
    "incremental.build_segment_s": "incremental.build_segment",
    "incremental.delete_docs_s": "incremental.delete_docs",
    "incremental.segmented_load_s": "incremental.segmented_load",
    "incremental.kill_pairs_s": "incremental.kill_pairs",
    "incremental.compact_s": "incremental.compact",
}


@dataclass
class Counts:
    """Operations attempted and failed. An operation fails when it
    raises or when its answer is wrong; only a wrong answer makes the
    run incorrect."""

    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.wrong += 1
            self.errors.append(f"{name}: {detail}")

    def raised(self, name: str, e: Exception) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{name}: raised {type(e).__name__}: {e}")


@dataclass
class Run:
    """State and measurements of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    cache_dir: str | None = None
    counts: Counts = field(default_factory=Counts)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    spark: object = None

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)


def spark_conf() -> dict[str, str]:
    """Session settings on top of ``get_spark``'s: no console progress
    bars, and a driver heap of fixed size (its resident size then does
    not depend on when the collector chose to grow it) whose temp files
    stay in the run's scratch directory. The JIT compiler threads all
    start with the JVM and never exit, so ``procstat.cpu_seconds`` can
    leave out all of their CPU time."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={tempfile.gettempdir()}"
        ),
    }


def index_config() -> IndexConfig:
    return IndexConfig(build_partitions=CORES)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def content_bytes(corpus: pd.DataFrame) -> int:
    return int(corpus["content"].str.len().sum())


# -- oracle answers and checks ---------------------------------------------


ORACLE_SOURCES = ("oracle/bm25_oracle.py", "functions/tokenizer.py", "config.py")


def oracle_answers(
    corpus: pd.DataFrame, queries: list[tuple], cache_dir: str | None = None
) -> dict[int, pd.DataFrame]:
    """query_id -> the brute-force top-k (rank, doc_id, score_q).

    The oracle runs in a child process, so its memory does not count in
    ``peak_rss_mb`` and a cached answer measures the same as a computed
    one. With ``cache_dir``, answers are kept in a file keyed by
    everything they depend on: the oracle, tokenizer and config sources,
    the corpus and the queries. Deleting the directory recomputes them."""
    import org_rdkit_lucene_spark as pkg

    path = None
    if cache_dir is not None:
        h = hashlib.sha256()
        for src in ORACLE_SOURCES:
            with open(os.path.join(os.path.dirname(pkg.__file__), src), "rb") as f:
                h.update(f.read())
        for i, c in zip(corpus["ext_id"], corpus["content"]):
            h.update(f"{i}\0{c}\0".encode())
        h.update(repr(queries).encode())
        path = os.path.join(cache_dir, h.hexdigest() + ".json")
    if path is not None and os.path.exists(path):
        with open(path) as f:
            rows = json.load(f)
    else:
        docs = corpus.rename(columns={"ext_id": "doc_id"})[["doc_id", "content"]]
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            input=pickle.dumps((docs, queries)),
            stdout=subprocess.PIPE,
            check=True,
        )
        rows = json.loads(child.stdout)
        if path is not None:
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(rows, f)
            os.replace(tmp, path)
    return {int(q): pd.DataFrame(r, columns=RESULT_COLS) for q, r in rows.items()}


def _oracle_child() -> None:
    """The child side of :func:`oracle_answers`: (docs, queries) pickled
    on stdin, the answer rows as JSON on stdout."""
    docs, queries = pickle.load(sys.stdin.buffer)
    oracle = BM25Oracle(docs)
    rows = {qid: _rows(oracle.search(text, k, mode)) for qid, text, k, mode in queries}
    json.dump(rows, sys.stdout)


def _rows(df: pd.DataFrame) -> list[tuple]:
    return [tuple(int(x) for x in r) for r in df[RESULT_COLS].itertuples(index=False)]


def same_topk(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return _rows(got.sort_values("rank")) == _rows(want)


def check_index_laws(counts: Counts, index_dir: str, corpus: pd.DataFrame) -> None:
    """docmeta sha256 == hashlib over the raw corpus, and
    sum(cf) == sum(doc_len) == total_dl."""
    meta = pq.read_table(
        os.path.join(index_dir, "docmeta.parquet"), columns=["doc_id", "sha256", "doc_len"]
    ).to_pandas()
    cf = pq.read_table(os.path.join(index_dir, "lexicon.parquet"), columns=["cf"]).column("cf")
    with open(os.path.join(index_dir, "stats.json")) as f:
        total_dl = int(json.load(f)["total_dl"])
    want = {
        int(i): hashlib.sha256(c.encode("utf-8")).hexdigest()
        for i, c in zip(corpus["ext_id"], corpus["content"])
    }
    got = dict(zip(meta["doc_id"].astype(int), meta["sha256"]))
    counts.check("docmeta.sha256", got == want, f"{index_dir}: sha256 differs from hashlib")
    sum_cf, sum_dl = int(cf.to_numpy().sum()), int(meta["doc_len"].sum())
    counts.check(
        "stats.laws",
        sum_cf == sum_dl == total_dl,
        f"sum cf {sum_cf}, sum doc_len {sum_dl}, total_dl {total_dl}",
    )


def check_same(counts: Counts, name: str, a: pd.DataFrame | None, b: pd.DataFrame | None) -> None:
    """The DataFrame path and WAND must give identical answers."""
    key = ["query_id", "rank"]
    counts.check(
        name,
        a is not None and b is not None and _rows(a.sort_values(key)) == _rows(b.sort_values(key)),
        "WAND and DataFrame answers differ",
    )


class Client:
    """Sends one call at a time, times it in a span and checks its
    answer. A call that raises counts as failed; a wrong answer also
    makes the run incorrect."""

    def __init__(self, run: Run, want: dict[int, pd.DataFrame]):
        self.run = run
        self.want = want

    def _call(self, span: str, fn, index, qs: list[tuple], **kw) -> tuple[pd.DataFrame, float]:
        with self.run.tracer.span(span) as t:
            try:
                got = fn(index, [(q, text, k) for q, text, k, _ in qs], **kw).toPandas()
            except Exception as e:  # noqa: BLE001 - counted, and the run goes on
                got = None
                self.run.counts.raised(span, e)
        if got is not None:
            bad = [q for q, *_ in qs if not same_topk(got[got["query_id"] == q], self.want[q])]
            self.run.counts.check(span, not bad, f"queries {bad} differ from the oracle")
        return got, t.seconds

    def one(self, span: str, fn, index, q: tuple) -> tuple[pd.DataFrame, float]:
        return self._call(span, fn, index, [q], mode=q[3])

    def batch(self, span: str, fn, index, qs: list[tuple]) -> tuple[pd.DataFrame, float]:
        return self._call(span, fn, index, qs)


# -- set-up and rounds -----------------------------------------------------


def set_up(run: Run, corpus: pd.DataFrame):
    """Session start and base-index build (the first Spark work of the
    session, so it also pays the one-time warm-up); records setup_s and
    the build figures, then checks the built index."""
    from org_rdkit_lucene_spark.operators.build import build_index
    from org_rdkit_lucene_spark.session import get_spark

    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("session.get_spark") as t_session:
        run.spark = get_spark(
            f"perfbench-{run.workload}",
            cores=CORES,
            shuffle_partitions=CORES,
            extra_conf=spark_conf(),
        )
    spark = run.spark
    base_dir = os.path.join(run.work_dir, "base")
    with tr.span("build.build_index") as t_build:
        index = build_index(
            spark, spark.createDataFrame(corpus), index_config(), base_dir, id_col="ext_id"
        )
    run.put("setup_s", time.perf_counter() - t0, "s")
    run.put("build_docs_per_s", len(corpus) / t_build.seconds, "docs/s")

    run.layer("session.get_spark_s", t_session.seconds, "s")
    stages = pq.read_table(os.path.join(base_dir, "metrics.parquet")).to_pandas()
    for stage in ("docmap", "flat_runs", "docmeta", "lexicon", "postings"):
        secs = stages.loc[stages["stage"] == stage, "seconds"].sum()
        run.layer(f"build.{stage}_s", secs, "s")
    run.layer("build.lexicon_terms", _parquet_rows(base_dir, "lexicon"), "count")
    run.layer("build.postings_blocks", _parquet_rows(base_dir, "postings"), "count")
    run.layer("build.index_bytes", dir_bytes(base_dir), "bytes")
    check_index_laws(run.counts, base_dir, corpus)
    return index


def _parquet_rows(index_dir: str, table: str) -> int:
    return pq.ParquetDataset(os.path.join(index_dir, f"{table}.parquet")).read(columns=[]).num_rows


def run_rounds(run: Run, one_round, prepare=None, max_rounds: int | None = None) -> None:
    """Whole rounds until ``run.seconds`` of round time have passed;
    records ``round_cpu_s``, the median CPU seconds a round costs the
    process tree. ``prepare(r)`` runs before round r, outside the timed
    span."""
    spent: list[float] = []
    cpu: list[float] = []
    while not spent or sum(spent) < run.seconds:
        r = len(spent)
        if max_rounds is not None and r >= max_rounds:
            break
        state = prepare(r) if prepare else None
        cpu0 = cpu_seconds()
        with run.tracer.span("round") as t:
            one_round(r, state)
        cpu.append(cpu_seconds() - cpu0)
        spent.append(t.seconds)
    run.put("round_cpu_s", statistics.median(cpu), "s")


# -- layer probes (traced runs only) ---------------------------------------


def _seconds_per_call(fn, min_seconds: float = 0.3) -> float:
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= min_seconds:
            return el / n


def probe_codecs(run: Run, index_dir: str, codec: str, max_blocks: int = 2000) -> None:
    """Codec kernels on the index's own postings blocks."""
    from org_rdkit_lucene_spark.functions import codecs

    tbl = pq.ParquetDataset(os.path.join(index_dir, "postings.parquet")).read(
        columns=["first_doc", "n", "doc_bytes", "tf_bytes"]
    ).slice(0, max_blocks)
    firsts = tbl.column("first_doc").to_pylist()
    ns = tbl.column("n").to_pylist()
    doc_bufs = tbl.column("doc_bytes").to_pylist()
    tf_bufs = tbl.column("tf_bytes").to_pylist()
    arrays = [codecs.decode_ints(b, codec) for b in tf_bufs]
    n_vals = sum(len(a) for a in arrays)
    with run.tracer.span("codecs.decode_ints_many"):
        per = _seconds_per_call(lambda: codecs.decode_ints_many(tf_bufs, codec))
    run.layer("codecs.decode_ints_many_mvals_per_s", n_vals / per / 1e6, "Mvals/s")
    with run.tracer.span("codecs.delta_decode"):
        per = _seconds_per_call(
            lambda: [codecs.delta_decode(f, b, n, codec) for f, b, n in zip(firsts, doc_bufs, ns)]
        )
    run.layer("codecs.delta_decode_us_per_block", per / len(ns) * 1e6, "us")
    with run.tracer.span("codecs.varbyte_encode"):
        per = _seconds_per_call(lambda: [codecs.varbyte_encode(a) for a in arrays])
    run.layer("codecs.varbyte_encode_mvals_per_s", n_vals / per / 1e6, "Mvals/s")


def probe_tokenizer(run: Run, corpus: pd.DataFrame, queries: list[tuple]) -> None:
    from org_rdkit_lucene_spark.functions.tokenizer import tokenize_texts
    from org_rdkit_lucene_spark.operators.query import tokenize_queries

    sample = corpus["content"].iloc[:500]
    profile = index_config().tokenizer
    with run.tracer.span("tokenizer.tokenize_texts"):
        per = _seconds_per_call(lambda: tokenize_texts(sample, profile))
    mb = sample.str.len().sum() / 1e6
    run.layer("tokenizer.tokenize_texts_mb_per_s", mb / per, "MB/s")
    qs = [(q, t, k) for q, t, k, _ in queries]
    with run.tracer.span("tokenizer.tokenize_queries"):
        per = _seconds_per_call(lambda: tokenize_queries(qs, profile))
    run.layer("tokenizer.tokenize_queries_ms", per * 1e3, "ms")


def probe_lexicon(run: Run, index, queries: list[tuple], snippets: list[tuple]) -> None:
    """The driver-side lexicon slice each query pays, and the exact
    work counts it implies: candidates (sum of df), postings blocks, and
    the share of snippet queries whose sum of df reaches the WAND route."""
    from pyspark.sql import functions as F

    from org_rdkit_lucene_spark.operators.query import (
        WAND_ROUTE_MIN_CANDIDATES,
        tokenize_queries,
    )

    profile, bs = index.cfg.tokenizer, index.cfg.block_size

    def df_slice(q: tuple) -> pd.Series:
        qid, text, k, _ = q
        terms = tokenize_queries([(qid, text, k)], profile)["term"].unique().tolist()
        with run.tracer.span("query.lexicon_slice") as t:
            lex = index.lexicon.filter(F.col("term").isin(terms)).select("term", "df").toPandas()
        return lex["df"], t.seconds

    cands, blocks, secs = [], [], []
    for q in queries:
        df, s = df_slice(q)
        secs.append(s)
        cands.append(int(df.sum()))
        blocks.append(sum(math.ceil(d / bs) for d in df))
    run.layer("query.lexicon_slice_s", statistics.median(secs), "s")
    run.layer("query.candidates_per_query", statistics.fmean(cands), "count")
    run.layer("query.blocks_per_query", statistics.fmean(blocks), "count")
    routed = [int(df_slice(q)[0].sum()) >= WAND_ROUTE_MIN_CANDIDATES for q in snippets]
    run.layer("query.wand_route_share", statistics.fmean(routed) if routed else 0.0, "share")


def probe_layers(run: Run, client: Client, index, corpus, keyword, snippet) -> None:
    """Calls and kernels that the workload's rounds do not time: the
    snippet query straight through ``search_wand``, the codec and
    tokenizer kernels, and the lexicon slices."""
    from org_rdkit_lucene_spark.operators.wand import search_wand

    client.one("wand.search_wand", search_wand, index, snippet[0])
    probe_codecs(run, index.index_dir, index.codec)
    probe_tokenizer(run, corpus, keyword)
    probe_lexicon(run, index, keyword, snippet)


@dataclass
class Tally:
    """What the rounds measured, beside the spans."""

    batch_queries: int = 0
    batch_s: float = 0.0
    sizes: list[float] = field(default_factory=list)
    upsert_rate: list[float] = field(default_factory=list)
    compact_rate: list[float] = field(default_factory=list)
    segments: list[int] = field(default_factory=list)
    tombstones: list[int] = field(default_factory=list)


def report_layers(run: Run, tally: Tally) -> None:
    for name, span in SPAN_LAYERS.items():
        run.layer(name, statistics.median(run.tracer.durations(span)), "s")
    run.layer("query.batch_queries_per_s", tally.batch_queries / tally.batch_s, "queries/s")
    run.layer("incremental.upsert_docs_per_s", statistics.median(tally.upsert_rate), "docs/s")
    run.layer("incremental.compact_docs_per_s", statistics.median(tally.compact_rate), "docs/s")
    run.layer("incremental.segments", statistics.median(tally.segments), "count")
    run.layer("incremental.tombstones", statistics.median(tally.tombstones), "count")


# -- search ----------------------------------------------------------------


def search_round(run: Run, client: Client, index, inp: Inputs, tally: Tally) -> None:
    """The keyword queries one by one through ``search``, with the
    snippet query through ``search_auto`` (routed to WAND) among them,
    then one batch through each of ``search`` and ``search_wand``, which
    must agree."""
    from org_rdkit_lucene_spark.operators.query import search, search_auto
    from org_rdkit_lucene_spark.operators.wand import search_wand

    keyword, snippet, batch = inp.keyword, inp.snippet, inp.batch
    for i, q in enumerate(keyword):
        if q[1] == UNSEEN_TERM:  # no postings work: kept out of the query.search median
            span = "query.search_unseen"
        elif q[3] == "conjunctive":
            span = "query.search_conjunctive"
        else:
            span = "query.search"
        client.one(span, search, index, q)
        if i == len(keyword) // 2:
            client.one("query.search_auto", search_auto, index, snippet[0])
    got_df, s1 = client.batch("query.batch_search", search, index, batch)
    got_w, s2 = client.batch("wand.batch_search_wand", search_wand, index, batch)
    check_same(run.counts, "wand==dataframe", got_df, got_w)
    tally.batch_queries += 2 * len(batch)
    tally.batch_s += s1 + s2


def search_workload(run: Run, n_docs: int | None) -> None:
    """Read-only rounds on the base index (see :func:`search_round`).
    A traced run then probes what the rounds do not call (see
    :func:`probe_layers`) and the write layers, with one upsert round on
    the same index, so every per-layer figure is measured."""
    inp = Inputs(run.seed, n_docs or SEARCH_DOCS, n_pool=ADDS_PER_ROUND)
    queries = inp.keyword + inp.snippet + inp.batch
    client = Client(run, oracle_answers(inp.corpus, queries, run.cache_dir))
    index = set_up(run, inp.corpus)
    size = dir_bytes(index.index_dir) / content_bytes(inp.corpus)
    run.put("index_bytes_per_content_byte", size, "ratio")
    tally = Tally()
    run_rounds(run, lambda r, _: search_round(run, client, index, inp, tally))
    if run.tracer.enabled:
        probe_layers(run, client, index, inp.corpus, inp.keyword, inp.snippet)
        plan = UpsertPlan(inp, run.cache_dir)
        with run.tracer.span("probe.upsert_round"):
            upsert_round(run, {"base_dir": index.index_dir}, 0, plan.prepare(0), tally)
        report_layers(run, tally)


# -- upsert ----------------------------------------------------------------


class UpsertPlan:
    """The writes of every round, fixed by the seed: which live keys are
    updated (each gains a fresh marker token), which keys from the pool
    are added and which ids are deleted; the queries that check the
    round, and their oracle answers over the corpus the round leaves."""

    def __init__(self, inp: Inputs, cache_dir: str | None):
        self.cache_dir = cache_dir
        self.rng = np.random.default_rng((inp.seed, 7))
        self.seed = inp.seed
        self.pool = inp.pool
        self.live = inp.corpus.reset_index(drop=True)
        self.keyword = [q for q in inp.keyword if q[3] == "disjunctive" and q[1] != UNSEEN_TERM]
        self.next_new = 0

    def prepare(self, r: int) -> tuple:
        ids = self.live["ext_id"].to_numpy()
        pick = self.rng.choice(len(ids), UPDATES_PER_ROUND + DELETES_PER_ROUND, replace=False)
        upd_ids = [int(i) for i in ids[pick[:UPDATES_PER_ROUND]]]
        del_ids = [int(i) for i in ids[pick[UPDATES_PER_ROUND:]]]
        markers = {i: f"mk{self.seed}r{r}d{i}" for i in upd_ids}
        upd = self.live[self.live["ext_id"].isin(upd_ids)].copy()
        upd["content"] = [
            c + f"\n// {markers[int(i)]}" for i, c in zip(upd["ext_id"], upd["content"])
        ]
        new = self.pool.iloc[self.next_new : self.next_new + ADDS_PER_ROUND]
        self.next_new += ADDS_PER_ROUND
        batch = pd.concat([upd, new], ignore_index=True)
        keep = self.live[~self.live["ext_id"].isin(upd_ids + del_ids)]
        self.live = pd.concat([keep, batch]).sort_values("ext_id").reset_index(drop=True)
        marker_id = min(markers)
        marker_q = (400 + r, markers[marker_id], 10, "disjunctive")
        n_kw = len(self.keyword)
        kw_q = (500 + r, self.keyword[r % n_kw][1], 1000, "disjunctive")
        kw_q2 = (600 + r, self.keyword[(r + 1) % n_kw][1], 10, "disjunctive")
        queries = [marker_q, kw_q, kw_q2]
        want = oracle_answers(self.live, queries, self.cache_dir)
        return batch, del_ids, marker_id, queries, self.live, want


def upsert_round(run: Run, state: dict, r: int, prepared: tuple, tally: Tally) -> None:
    """Upsert one batch with ``build_segment``, delete ids with
    ``delete_docs``, reopen ``SegmentedIndex`` and query the fresh view
    (a marker query and two keyword queries, sent together through
    ``search`` and again through ``search_wand``); then ``compact``, check
    the compacted index and send the same queries to it through
    ``search``. The compacted index becomes ``state["base_dir"]`` for the
    next round."""
    from org_rdkit_lucene_spark.operators.query import search
    from org_rdkit_lucene_spark.operators.wand import search_wand
    from org_rdkit_lucene_spark.streaming.incremental import (
        SegmentedIndex,
        build_segment,
        compact,
        delete_docs,
        segments_root,
    )

    batch, del_ids, marker_id, queries, live, want = prepared
    marker_q = queries[0]
    spark, tr, counts, cfg = run.spark, run.tracer, run.counts, index_config()
    client = Client(run, want)
    base_dir = state["base_dir"]
    seg_dir = os.path.join(segments_root(base_dir), f"seg-{r:08d}")
    with tr.span("incremental.build_segment") as t_seg:
        build_segment(spark, spark.createDataFrame(batch), seg_dir, cfg, id_col="ext_id")
    with tr.span("incremental.delete_docs") as t_del:
        delete_docs(spark, base_dir, del_ids, cfg)
    written = len(batch) + len(del_ids)
    tally.upsert_rate.append(written / (t_seg.seconds + t_del.seconds))
    tally.sizes.append(dir_bytes(base_dir) / content_bytes(live))
    with tr.span("incremental.segmented_load"):
        view = SegmentedIndex.load(spark, base_dir, cfg)
    tally.segments.append(len(view.segment_dirs))
    tally.tombstones.append(view.n_tombstones)
    with tr.span("incremental.kill_pairs"):
        view.kill_pairs()

    answers = []
    for span, fn in (
        ("query.search_segmented", search),
        ("wand.search_wand_segmented", search_wand),
    ):
        got, _ = client.batch(span, fn, view, queries)
        answers.append(got)
        if got is None:
            continue
        found = got.loc[got["query_id"] == marker_q[0], "doc_id"].tolist()
        counts.check(
            "upsert.marker",
            found == [marker_id],
            f"marker query returned {found}, want [{marker_id}]",
        )
        dead = sorted(set(got["doc_id"]) & set(del_ids))
        counts.check("upsert.deleted", not dead, f"deleted ids {dead} returned")
    check_same(counts, "segmented wand==dataframe", *answers)

    out_dir = os.path.join(run.work_dir, f"compact-{r}")
    with tr.span("incremental.compact") as t:
        compacted = compact(spark, base_dir, cfg, out_dir)
    tally.compact_rate.append(compacted.n_docs / t.seconds)
    check_index_laws(counts, out_dir, live)
    client.batch("query.search_compacted", search, compacted, queries)
    state["base_dir"] = out_dir


def upsert_workload(run: Run, n_docs: int | None) -> None:
    """Writes beside reads (see :func:`upsert_round`). Every round starts
    from the index the previous round compacted, so every round meets
    the same index shape. A traced run then probes the batch and
    conjunctive query paths with one search round on the last compacted
    index, so every per-layer figure is measured."""
    from org_rdkit_lucene_spark.operators.build import InvertedIndex

    inp = Inputs(run.seed, n_docs or UPSERT_DOCS, n_pool=MAX_UPSERT_ROUNDS * ADDS_PER_ROUND)
    plan = UpsertPlan(inp, run.cache_dir)
    first = plan.prepare(0)
    index = set_up(run, inp.corpus)
    state = {"base_dir": index.index_dir}
    tally = Tally()
    run_rounds(
        run,
        lambda r, prepared: upsert_round(run, state, r, prepared, tally),
        lambda r: first if r == 0 else plan.prepare(r),
        MAX_UPSERT_ROUNDS,
    )
    run.put("index_bytes_per_content_byte", statistics.median(tally.sizes), "ratio")
    if run.tracer.enabled:
        final = InvertedIndex.load(run.spark, state["base_dir"], index_config())
        queries = inp.keyword + inp.snippet + inp.batch
        client = Client(run, oracle_answers(plan.live, queries, run.cache_dir))
        with run.tracer.span("probe.search_round"):
            search_round(run, client, final, inp, tally)
        probe_layers(run, client, final, plan.live, inp.keyword, inp.snippet)
        report_layers(run, tally)


WORKLOADS = {"search": search_workload, "upsert": upsert_workload}


if __name__ == "__main__":
    _oracle_child()
