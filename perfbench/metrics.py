"""Metric catalog and the computation of each metric from one run.

``END_TO_END`` and ``PER_LAYER`` are the metrics every workload
measures; they are the ones ``BENCHMARK.json`` lists. ``REPORTED`` and
``LAYER_REPORTED`` are measured only by the workloads that run the
operation; they are printed by name (null where a workload does not run
them) but cannot be gated per workload.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from perfbench import launch
from perfbench.workloads import Context

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_posting": "B",
    "serve_p50_ms": "ms",
    "search_p50_ms": "ms",
}
REPORTED = {
    "serve_p90_ms": "ms",
    "search_p90_ms": "ms",
    "serve_batch_qps": "q/s",
    "search_batch_qps": "q/s",
    "facet_p50_ms": "ms",
    "append_docs_per_s": "docs/s",
    "merge_postings_per_s": "postings/s",
    "failed_ratio": "ratio",
}
PER_LAYER = {
    "setup.spark_s": "s",
    "setup.corpus_s": "s",
    "setup.index_s": "s",
    "build.tokenize_doc_lengths_s": "s",
    "build.stats_s": "s",
    "build.term_names_s": "s",
    "build.segments_s": "s",
    "build.manifest_s": "s",
    "build.dictionary_s": "s",
    "build.postings_written": "count",
    "build.bytes_written": "B",
    "build.n_chunks": "count",
    "build.skew_ratio_max": "ratio",
    "build.spark_jobs": "count",
    "build.spark_tasks": "count",
    "build.spark_tasks_failed": "count",
    "reader.open_s": "s",
    "resolve.ms": "ms",
    "resolve.terms_per_query": "count",
    "serve.read_ms": "ms",
    "serve.bytes_read_per_query": "B",
    "serve.fragments_per_query": "count",
    "serve.kernel_ms": "ms",
    "query.postings_per_result": "ratio",
    "serve.wrap_ms": "ms",
    "serve.collect_ms": "ms",
    "serve.spark_jobs_per_query": "count",
    "search.plan_ms": "ms",
    "search.exec_ms": "ms",
    "search.spark_jobs_per_query": "count",
    "search.spark_tasks_per_query": "count",
    "mem.driver_rss_peak_mb": "MB",
    "mem.jvm_rss_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
}
LAYER_REPORTED = {
    "facet.spark_jobs_per_query": "count",
    "append.s_per_batch": "s",
    "delete.s_per_batch": "s",
    "fsck.s": "s",
    "merge.s": "s",
    "merge.chunks_in": "count",
    "merge.chunks_out": "count",
}


def _median(xs) -> float | None:
    xs = list(xs)
    return statistics.median(xs) if xs else None


def _mean(xs) -> float | None:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else None


def _p90(xs) -> float | None:
    return float(np.percentile(xs, 90)) if xs else None


def _ms(x):
    return None if x is None else x * 1e3


def end_to_end(ctx: Context, traced: bool) -> dict:
    """Every end-to-end metric of the run; None where not measured."""
    led = ctx.ledger

    def lat(kind):
        return led.all_samples(kind) if traced else led.samples.get(kind, [])

    out = dict.fromkeys(list(END_TO_END) + list(REPORTED))
    out.update({k: v for k, v in ctx.e2e.items() if k in out})
    out["setup_s"] = ctx.setup_done - ctx.started
    for kind in ("serve", "search"):
        out[f"{kind}_p50_ms"] = _ms(_median(lat(kind)))
        out[f"{kind}_p90_ms"] = _ms(_p90(lat(kind)))
    out["facet_p50_ms"] = _ms(_median(lat("facet")))
    out["failed_ratio"] = led.failed_ratio
    return out


def samples(ctx: Context) -> dict:
    """Sample count behind each timing."""
    led = ctx.ledger
    return {kind: len(led.all_samples(kind))
            for kind in sorted(set(led.samples) | set(led.traced_samples))}


def per_layer(ctx: Context) -> dict:
    """Every per-layer metric of a traced run; None where not measured."""
    tr, led = ctx.tracer, ctx.ledger
    out = dict.fromkeys(list(PER_LAYER) + list(LAYER_REPORTED))
    out.update({k: v for k, v in ctx.layers.items() if k in out})
    out["setup.spark_s"] = ctx.setup["spark"]
    out["setup.corpus_s"] = ctx.setup["corpus"]
    out["setup.index_s"] = ctx.setup["index"]

    def jobs(ops, key="spark_jobs", agg=_mean):
        return agg(o["attrs"][key] for o in ops)

    builds = tr.ops("build")
    out["build.spark_jobs"] = jobs(builds, agg=_median)
    out["build.spark_tasks"] = jobs(builds, "spark_tasks", _median)
    out["build.spark_tasks_failed"] = jobs(builds, "spark_tasks_failed", sum)
    out["reader.open_s"] = _median(o["wall"] for o in tr.ops("reader_open"))

    def self_ms(ops, name):
        return _ms(_median(o["self"].get(name, 0.0) for o in ops))

    def scans(o, attr):
        return sum(sp.attrs.get(attr, 0) for sp in o["spans"]
                   if sp.name == "pyarrow.scan")

    def resolved(o, attr):
        return max((sp.attrs.get(attr, 0) for sp in o["spans"]
                    if sp.name == "reader.lookup_terms"), default=0)

    def outer_collect_ms(o):
        return 1e3 * sum(sp.dur for sp in o["root_children"]
                         if sp.name == "spark.collect")

    serve = tr.ops("serve")
    out["resolve.ms"] = self_ms(serve, "reader.lookup_terms")
    out["resolve.terms_per_query"] = _mean(resolved(o, "terms") for o in serve)
    out["serve.read_ms"] = self_ms(serve, "pyarrow.scan")
    out["serve.bytes_read_per_query"] = _mean(scans(o, "bytes") for o in serve)
    out["serve.fragments_per_query"] = _mean(scans(o, "files") for o in serve)
    out["serve.kernel_ms"] = self_ms(serve, "reader.search_serve")
    out["serve.wrap_ms"] = self_ms(serve, "spark.createDataFrame")
    out["serve.collect_ms"] = _median(outer_collect_ms(o) for o in serve)
    out["serve.spark_jobs_per_query"] = jobs(serve)
    rows = sum(o["attrs"].get("rows", 0) for o in serve)
    if rows:
        out["query.postings_per_result"] = sum(
            resolved(o, "df_sum") for o in serve) / rows

    search = tr.ops("search")
    out["search.plan_ms"] = _ms(_median(
        o["total"].get("reader.search", 0.0) for o in search))
    out["search.exec_ms"] = _median(outer_collect_ms(o) for o in search)
    out["search.spark_jobs_per_query"] = jobs(search)
    out["search.spark_tasks_per_query"] = jobs(search, "spark_tasks")
    out["facet.spark_jobs_per_query"] = jobs(tr.ops("facet"))
    for kind, name in (("append", "append.s_per_batch"),
                       ("delete", "delete.s_per_batch"),
                       ("fsck", "fsck.s"), ("merge", "merge.s")):
        out[name] = _median(o["wall"] for o in tr.ops(kind))

    out["mem.driver_rss_peak_mb"] = launch.rss_peak_mb(os.getpid())
    out["mem.jvm_rss_peak_mb"] = launch.rss_peak_mb(launch.jvm_pid(ctx.spark))
    traced = _median(led.traced_samples.get("serve", []))
    untraced = _median(led.samples.get("serve", []))
    if traced and untraced:
        out["trace.overhead_ratio"] = traced / untraced
    return out
