"""The query and ingest workloads.

Both are closed loops with one client: callers of this library API
wait for each answer. Every engine call goes through the run's
:class:`~perfbench.checks.Ledger`; answers are checked outside the
timed calls.

Sizes are set by the run budget: each workload runs ~22 times per
benchmark pass, which must end within 57 minutes on a 4-core host, so
a run gets about a minute with set-up. The larger-than-cache points
stay with ``tools/bench_stress.py``.
"""

from __future__ import annotations

import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench.checks import Ledger, by_query, live_topk, ranked
from perfbench.queries import BATCH_SIZE, CLASS_CYCLE, QueryGen, df_bands
from perfbench.tracing import Tracer

#: docs of the query workload's index, built in set-up
QUERY_DOCS = 4000
#: tiny build before the measured ones: starts the Python workers and
#: warms the JVM, so build_docs_per_s is not a cold-JVM figure
WARMUP_DOCS = 200
#: measured builds of the query index; build_docs_per_s takes the median
QUERY_BUILDS = 2
#: ingest keeps merge short: merge costs ~6 ms per chunk, and chunks
#: grow with the vocabulary, so the ingest corpus draws from 600 words.
#: One append round: each add_documents costs ~7 s of Spark jobs.
INGEST_BASE_DOCS = 600
INGEST_BATCH_DOCS = 150
INGEST_ROUNDS = 1
INGEST_VOCAB = 600
DELETE_SHARE = 0.01
#: distributed queries compared with their serve answer, per ingest
#: burst: the burst's first queries, so every run checks the same shape
SEARCH_CHECKS = 5
ORACLE_CHECKS = 1
#: untimed serve and search calls before timing: the driver's
#: createDataFrame/collect path speeds up by ~25% over its first few
#: hundred calls as the JVM compiles it, which would otherwise make a
#: run's median depend on how far that warm-up had got
WARM_SERVE_S = 2.0
WARM_SEARCHES = 3
#: query workload schedule, one cycle of 100 serve slots with the
#: searches spread evenly; the first search, the facet and the batch
#: pair come early, so even a short run has one of each
QUERY_CYCLE = 100
QUERY_CYCLE_SEARCH = 6


@dataclass
class Context:
    spark: object
    work: Path
    seed: int
    seconds: float
    scale: float
    tracer: Tracer
    ledger: Ledger
    started: float = 0.0
    setup: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    setup_done: float = 0.0
    measure_end: float = 0.0

    def docs(self, n: int) -> int:
        return max(50, int(n * self.scale))

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])


def _timed(ctx: Context, part: str, fn):
    t0 = time.perf_counter()
    out = fn()
    ctx.setup[part] = ctx.setup.get(part, 0.0) + time.perf_counter() - t0
    return out


def _corpus(ctx: Context, name: str, n: int, seed: int, **kw):
    """Seeded stress corpus with NULL html (the build reads only
    doc_id and text). Returns the docs DataFrame and the vocab size."""
    from tlhop_library_spark.corpus import write_corpus_parquet_fast

    path = str(ctx.work / name)
    info = _timed(ctx, "corpus", lambda: write_corpus_parquet_fast(
        path, n, seed=seed, include_html=False, **kw))
    return ctx.spark.read.parquet(path), info["vocab_size"]


def _must(ok_value):
    ok, value = ok_value
    if not ok:
        raise RuntimeError("set-up operation failed; see the traceback above")
    return value


def _open(ctx: Context, index_dir: Path, cache: bool = False):
    from tlhop_library_spark.index import IndexReader

    open_reader = ctx.tracer.entry(IndexReader)

    def op():
        reader = ctx.tracer.wrap_reader(open_reader(ctx.spark, str(index_dir)))
        return reader.cache() if cache else reader

    return ctx.ledger.call("reader_open", op)


def _build(ctx: Context, kind: str, docs, index_dir: Path, **kw):
    from tlhop_library_spark.index import build_index

    shutil.rmtree(index_dir, ignore_errors=True)
    build = ctx.tracer.entry(build_index)
    return ctx.ledger.call(
        kind, lambda: build(ctx.spark, docs, str(index_dir)), **kw)


def _serve(reader, q: str, k: int) -> list[tuple]:
    return ranked(reader.search_serve(q, k).collect())


def _search(reader, q: str, k: int) -> list[tuple]:
    return ranked(reader.search(q, k).collect())


def _annotate_rows(ctx: Context, answer) -> None:
    ctx.tracer.annotate(rows=len(answer))


def _serve_op(ctx: Context, reader, q: str, k: int):
    """One timed serve call; a traced run traces every other one."""
    ok, ans = ctx.ledger.call("serve", lambda: _serve(reader, q, k),
                              traced=_serve_traced(ctx))
    if ok:
        _annotate_rows(ctx, ans)
    return ok, ans


def _check_search(ctx: Context, reader, q: str, k: int, served, what: str):
    """Distributed route, timed, compared with the serve answer."""
    ok, ans = ctx.ledger.call("search", lambda: _search(reader, q, k))
    if ok:
        _annotate_rows(ctx, ans)
        ctx.ledger.same(f"{what} serve≡search {q!r} k={k}", served, ans)


def _bytes_per_posting(ctx: Context, reader) -> float:
    rows = _must(ctx.ledger.call(
        "build_metrics", lambda: reader.build_metrics().collect(),
        timed=False))
    postings = sum(int(r["postings_written"]) for r in rows)
    ctx.layers["build.postings_written"] = postings
    ctx.layers["build.bytes_written"] = sum(
        int(r["bytes_written"]) for r in rows)
    ctx.layers["build.n_chunks"] = sum(int(r["n_chunks"]) for r in rows)
    ctx.layers["build.skew_ratio_max"] = max(
        float(r["skew_ratio"]) for r in rows)
    return ctx.layers["build.bytes_written"] / postings


def _bands(ctx: Context, reader, vocab_size: int, n_docs: int) -> dict:
    from tlhop_library_spark.corpus import build_vocab

    return df_bands(reader, build_vocab(vocab_size), n_docs, ctx.seed)


def _oracle(ctx: Context, docs, served: list, n: int, what: str,
            deleted: set[int] | None = None) -> None:
    """``score_exhaustive`` on a seeded sample of served queries."""
    from tlhop_library_spark.index import score_exhaustive

    score_exhaustive = ctx.tracer.entry(score_exhaustive)
    rng = ctx.rng(99)
    picks = rng.choice(len(served), size=min(n, len(served)), replace=False)
    for i in sorted(int(p) for p in picks):
        q, k, ans = served[i]
        extra = len(deleted) if deleted else 0
        ok, rows = ctx.ledger.call(
            "check.oracle",
            lambda: ranked(score_exhaustive(docs, q, k + extra).collect()),
            timed=False)
        if ok:
            want = live_topk(rows, deleted, k) if deleted else rows
            ctx.ledger.same(f"{what} oracle≡serve {q!r} k={k}", want, ans)


def _warm(ctx: Context, reader, gen: QueryGen) -> None:
    """Untimed serve calls for WARM_SERVE_S, then WARM_SEARCHES searches."""
    end = time.perf_counter() + WARM_SERVE_S
    while time.perf_counter() < end:
        q, k = gen.query()
        _must(ctx.ledger.call("setup.warm", lambda: _serve(reader, q, k),
                              timed=False))
    for _ in range(WARM_SEARCHES):
        q, k = gen.query()
        _must(ctx.ledger.call("setup.warm", lambda: _search(reader, q, k),
                              timed=False))


def _serve_traced(ctx: Context) -> bool:
    """In a traced run, alternate traced and untraced serve ops so the
    run measures its own tracing overhead (``trace.overhead_ratio``).
    The parity flips every stream cycle, so both halves see every
    query class."""
    led = ctx.ledger
    n = len(led.samples["serve"]) + len(led.traced_samples["serve"])
    return (n + n // len(CLASS_CYCLE)) % 2 == 0


def _build_phases(ctx: Context, stats_list: list[dict]) -> None:
    for phase in ("tokenize_doc_lengths", "stats", "term_names",
                  "segments", "manifest", "dictionary"):
        vals = [sum(v for p, v in st["phases"].items()
                    if p == phase or p.startswith(f"{phase}_g"))
                for st in stats_list]
        ctx.layers[f"build.{phase}_s"] = statistics.median(vals)


# ---------------------------------------------------------------------
def run_query(ctx: Context) -> None:
    """A seeded mixed stream against a warm cached reader."""
    from pyspark.sql import functions as F

    n = ctx.docs(QUERY_DOCS)
    docs, vocab = _corpus(ctx, "corpus.parquet", n, ctx.seed)
    warm = docs.where(F.col("doc_id") < ctx.docs(WARMUP_DOCS))
    idx = ctx.work / "idx"

    def build():
        _must(_build(ctx, "setup.build", warm, idx, timed=False))
        return [_must(_build(ctx, "build", docs, idx))
                for _ in range(QUERY_BUILDS)]

    builds = _timed(ctx, "index", build)
    reader = _must(_open(ctx, idx, cache=True))
    bands = _bands(ctx, reader, vocab, n)
    gen = QueryGen(bands, ctx.rng(1))
    # searches follow their own copy of the stream's shape: a run has
    # only a few, and they should be the same few classes every run
    search_gen = QueryGen(bands, ctx.rng(3))
    facet_docs = docs.select(
        "doc_id", F.length("text").cast("double").alias("n_chars"))
    _warm(ctx, reader, QueryGen(bands, ctx.rng(4)))
    ctx.setup_done = time.perf_counter()

    schedule = _query_schedule()
    end = time.perf_counter() + ctx.seconds
    served, slot = [], 0
    while time.perf_counter() < end:
        kind = schedule[slot % len(schedule)]
        slot += 1
        if kind == "serve":
            q, k = gen.query()
            ok, ans = _serve_op(ctx, reader, q, k)
            if ok:
                served.append((q, k, ans))
        elif kind == "search":
            q, k = search_gen.query()
            ok, ans = ctx.ledger.call("check.serve",
                                      lambda: _serve(reader, q, k),
                                      timed=False)
            if ok:
                _check_search(ctx, reader, q, k, ans, "query")
        elif kind == "facet":
            term = gen.facet_term()
            ok, rows = ctx.ledger.call("facet", lambda: reader.facet_stats(
                term, facet_docs, "n_chars").collect())
            if ok:
                ctx.ledger.check(
                    f"facet cnt≡df {term!r}",
                    len(rows) == 1 and rows[0]["cnt"] == bands["df"][term],
                    f"rows={rows} df={bands['df'][term]}")
        else:
            batch = gen.batch()
            answers = {}
            for bkind, method in (("serve_batch", reader.search_many_local),
                                  ("search_batch", reader.search_many)):
                ok, rows = ctx.ledger.call(
                    bkind, lambda: by_query(method(batch).collect()))
                if ok:
                    answers[bkind] = rows
            if len(answers) == 2:
                ctx.ledger.same("batch serve≡search", answers["serve_batch"],
                                answers["search_batch"])
    ctx.measure_end = time.perf_counter()

    _oracle(ctx, docs, served, ORACLE_CHECKS, "query")
    ctx.e2e["build_docs_per_s"] = n / statistics.median(
        ctx.ledger.all_samples("build"))
    ctx.e2e["index_bytes_per_posting"] = _bytes_per_posting(ctx, reader)
    for route in ("serve", "search"):
        secs = ctx.ledger.all_samples(f"{route}_batch")
        if secs:
            ctx.e2e[f"{route}_batch_qps"] = BATCH_SIZE * len(secs) / sum(secs)
    _build_phases(ctx, builds)


def _query_schedule() -> list[str]:
    cycle = ["serve"] * QUERY_CYCLE
    step = QUERY_CYCLE // QUERY_CYCLE_SEARCH
    for i in reversed(range(QUERY_CYCLE_SEARCH)):
        cycle.insert(1 + i * step, "search")
    cycle.insert(8, "batch")
    cycle.insert(4, "facet")
    return cycle


# ---------------------------------------------------------------------
def run_ingest(ctx: Context) -> None:
    """Append and serve rounds on a small base index, then verify,
    merge and serve the same queries on the merged index, then delete
    from the merged index and serve them again.

    Deletes come after the merge: ``merge_index_ranges`` does not carry
    tombstones over (see perfbench/README.md), so deleting first would
    make every merged answer that held a deleted doc fail its check."""
    from pyspark.sql import functions as F
    from tlhop_library_spark.index import (
        add_documents,
        delete_documents,
        merge_index_ranges,
        verify_index,
    )

    spark = ctx.spark
    add, delete, fsck, merge = (ctx.tracer.entry(f) for f in (
        add_documents, delete_documents, verify_index, merge_index_ranges))
    n_base, n_batch = ctx.docs(INGEST_BASE_DOCS), ctx.docs(INGEST_BATCH_DOCS)
    shape = {"vocab_size": INGEST_VOCAB}
    base, _ = _corpus(ctx, "base.parquet", n_base, ctx.seed, **shape)
    batches = []
    for r in range(INGEST_ROUNDS):
        batch, _ = _corpus(ctx, f"batch{r}.parquet", n_batch,
                           ctx.seed * 1000 + r + 1, **shape)
        offset = n_base + r * n_batch
        batches.append(batch.withColumn("doc_id", F.col("doc_id") + offset))
    idx = ctx.work / "idx"
    st = _timed(ctx, "index", lambda: _must(_build(ctx, "build", base, idx)))
    reader = _must(_open(ctx, idx))
    bands = _bands(ctx, reader, INGEST_VOCAB, n_base)
    gen = QueryGen(bands, ctx.rng(1))
    queries = [gen.query() for _ in range(2000)]
    _warm(ctx, reader, QueryGen(bands, ctx.rng(4)))
    ctx.setup_done = time.perf_counter()

    rng = ctx.rng(2)
    # the bursts share half of --seconds, ~70 serve calls each: the
    # writes, fsck and merge already fill the rest of the run
    burst_s = ctx.seconds / 2 / (INGEST_ROUNDS + 2)
    n_docs = n_base
    appended = []
    for batch in batches:
        ok, _ = ctx.ledger.call(
            "append", lambda: add(spark, str(idx), batch))
        if ok:
            appended.append(batch)
            n_docs += n_batch
        reader = _must(_open(ctx, idx))
        last = _burst(ctx, reader, queries, burst_s)
        _check_searches(ctx, reader, queries, last, "ingest")

    chunks_in = _count_chunks(idx)
    ctx.e2e["index_bytes_per_posting"] = _bytes_per_posting(ctx, reader)
    postings = ctx.layers["build.postings_written"]
    ctx.ledger.call("fsck", lambda: fsck(
        spark, str(idx), raise_on_error=True).collect(), timed=False)
    live_idx = idx
    merged = ctx.work / "merged"
    ok, _ = ctx.ledger.call(
        "merge", lambda: merge(spark, str(idx), str(merged)))
    if ok:
        live_idx = merged
        ctx.e2e["merge_postings_per_s"] = (
            postings / ctx.ledger.all_samples("merge")[-1])
        ctx.layers["merge.chunks_in"] = chunks_in
        ctx.layers["merge.chunks_out"] = _count_chunks(merged)
        mreader = _must(_open(ctx, merged))
        after = _burst(ctx, mreader, queries, burst_s)
        for i in sorted(set(after) & set(last)):
            q, k = queries[i]
            ctx.ledger.same(f"merged≡pre-merge {q!r} k={k}",
                            last[i], after[i])
        _check_searches(ctx, mreader, queries, after, "merged")

    deleted: set[int] = set()
    ids = rng.choice(n_docs, size=max(1, int(DELETE_SHARE * n_docs)),
                     replace=False)
    ids = sorted(int(i) for i in ids)
    ok, _ = ctx.ledger.call(
        "delete", lambda: delete(spark, str(live_idx), ids))
    if ok:
        deleted.update(ids)
    dreader = _must(_open(ctx, live_idx))
    final = _burst(ctx, dreader, queries, burst_s)
    _check_searches(ctx, dreader, queries, final, "deleted")
    ctx.measure_end = time.perf_counter()

    every = base
    for b in appended:
        every = every.unionByName(b)
    served = [(*queries[i], final[i]) for i in sorted(final)]
    _oracle(ctx, every, served, ORACLE_CHECKS, "ingest", deleted)
    appends = ctx.ledger.all_samples("append")
    ctx.e2e["append_docs_per_s"] = (
        n_batch / statistics.median(appends) if appends else None)
    ctx.e2e["build_docs_per_s"] = n_base / ctx.ledger.all_samples("build")[0]
    _build_phases(ctx, [st])


def _check_searches(ctx: Context, reader, queries, answers: dict,
                    what: str) -> None:
    """Distributed route on the first answered queries of a burst."""
    for i in sorted(answers)[:SEARCH_CHECKS]:
        q, k = queries[i]
        _check_search(ctx, reader, q, k, answers[i], what)


def _burst(ctx: Context, reader, queries, seconds: float) -> dict:
    """search_serve over the query list, in order, for ``seconds``."""
    out = {}
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end and i < len(queries):
        q, k = queries[i]
        ok, ans = _serve_op(ctx, reader, q, k)
        if ok:
            out[i] = ans
        i += 1
    return out


def _count_chunks(index_dir: Path) -> int:
    import pyarrow.dataset as pads

    return pads.dataset(str(index_dir / "segments"), format="parquet",
                        partitioning="hive").count_rows()


WORKLOADS = {"query": run_query, "ingest": run_ingest}
