#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Workloads: ``query`` and ``ingest`` (see perfbench/README.md).
``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is the separate traced pass that gives the per-layer
metrics and writes its spans to ``.perfbench_out/``.

Prints a ``{"report": ...}`` line with every metric by name and unit,
sample counts and the launch settings, then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``. Exits
non-zero without a result when the engine is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply corpus sizes (the self-tests use 0.1)")
    return ap.parse_args(argv)


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "tlhop_library_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import launch, metrics
    from perfbench.checks import Ledger
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Context

    traced = args.trace == 1
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    load_before = os.getloadavg()[0]
    started = time.perf_counter()
    spark = tracer = None
    try:
        spark, settings = launch.start(ROOT, work)
        tracer = Tracer(spark, traced)
        tracer.install()
        ctx = Context(spark, work, args.seed, args.seconds, args.scale,
                      tracer, Ledger(tracer), started=started)
        ctx.setup["spark"] = time.perf_counter() - started
        WORKLOADS[args.workload](ctx)
        e2e = metrics.end_to_end(ctx, traced)
        layers = metrics.per_layer(ctx) if traced else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            launch.stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "commit": launch.git_commit(ROOT),
        "load1_before": load_before,
        "load1_after": os.getloadavg()[0],
        "settings": settings,
        "setup_parts_s": ctx.setup,
        "measure_s": ctx.measure_end - ctx.setup_done,
        "samples": metrics.samples(ctx),
        "end_to_end": _with_units(e2e, {**metrics.END_TO_END,
                                        **metrics.REPORTED}),
        "attempted": ctx.ledger.attempted,
        "failed": ctx.ledger.failed,
        "failures": ctx.ledger.failures,
    }
    if traced:
        report["per_layer"] = _with_units(
            layers, {**metrics.PER_LAYER, **metrics.LAYER_REPORTED})
        report["closure"] = tracer.closure()
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        trace_file = out / f"trace-{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps(
            {"report": report, "spans": tracer.dump()}))
        report["trace_file"] = str(trace_file.relative_to(ROOT))
    print(json.dumps({"report": report}))

    values, units = (layers, metrics.PER_LAYER) if traced else (
        e2e, metrics.END_TO_END)
    missing = [k for k in units if values[k] is None]
    if missing:
        print(f"perfbench: not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": ctx.ledger.failed == 0,
        "attempted": ctx.ledger.attempted,
        "failed": ctx.ledger.failed,
        "metrics": _with_units(values, units),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
