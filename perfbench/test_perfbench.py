"""Self-tests of the benchmark: run with ``python3 -m pytest perfbench -q``.

The tiny runs start Spark; together they take a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.checks import Ledger, live_topk
from perfbench.tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _ledger() -> Ledger:
    return Ledger(Tracer(None, enabled=False))


def test_corrupted_answer_drives_failed_ratio_above_zero():
    led = _ledger()
    ok, answer = led.call("serve", lambda: [(1, 7, 2.5), (2, 3, 1.25)])
    assert ok and led.failed_ratio == 0
    corrupted = [answer[0], (2, 3, 1.2501)]
    assert not led.same("serve≡search", answer, corrupted)
    assert led.failed == 1 and led.failed_ratio > 0
    assert led.same("serve≡search", answer, list(answer))
    assert led.failed == 1


def test_raising_operation_counts_as_failed_and_is_not_timed():
    led = _ledger()
    ok, value = led.call("search", lambda: 1 / 0)
    assert (ok, value) == (False, None)
    assert (led.attempted, led.failed) == (1, 1)
    assert led.all_samples("search") == []


def test_live_topk_drops_tombstones_after_ranking():
    oracle = [(1, 10, 3.0), (2, 11, 2.0), (3, 12, 1.0)]
    assert live_topk(oracle, {11}, 2) == [(1, 10, 3.0), (2, 12, 1.0)]
    assert live_topk(oracle, set(), 5) == oracle


def test_spec_matches_the_metric_catalog():
    from perfbench import metrics
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == (
        metrics.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == (
        metrics.PER_LAYER)


def _run(cwd: Path, workload: str, trace: int, timeout: int = 600):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "2", "--trace", str(trace),
                             "--scale", "0.1"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)), m["name"]
    report = json.loads(lines[-2])["report"]
    assert result["correct"] and result["failed"] == 0, report["failures"]
    # every end-to-end metric, gated or not, is printed with its unit
    assert all("unit" in v for v in report["end_to_end"].values())
    if trace:
        for kind, row in report["closure"].items():
            assert row["sum_s"] == pytest.approx(row["wall_s"], abs=1e-6), kind


def test_without_the_engine_it_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "query", 0, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout



# Deletes a query's hits, merges, and prints the deleted docs the
# merged index still returns for that query.
_MERGE_AFTER_DELETE = """
import sys
from pathlib import Path
root, work = Path(sys.argv[1]), Path(sys.argv[2])
sys.path.insert(0, str(root))
from perfbench import launch
from tlhop_library_spark.corpus import build_vocab, write_corpus_parquet_fast
from tlhop_library_spark.index import (
    IndexReader, build_index, delete_documents, merge_index_ranges)
spark, _ = launch.start(root, work)
try:
    docs = str(work / "docs.parquet")
    write_corpus_parquet_fast(docs, 200, seed=3, include_html=False,
                              vocab_size=100)
    idx, merged = str(work / "idx"), str(work / "merged")
    build_index(spark, spark.read.parquet(docs), idx)
    q = " ".join(build_vocab(100)[:20])
    gone = [int(r["doc_id"])
            for r in IndexReader(spark, idx).search_serve(q, 10).collect()]
    delete_documents(spark, idx, gone)
    merge_index_ranges(spark, idx, merged)
    back = [int(r["doc_id"])
            for r in IndexReader(spark, merged).search_serve(q, 10).collect()]
    print("deleted", gone, "returned", sorted(set(gone) & set(back)))
finally:
    launch.stop(spark)
"""


@pytest.mark.xfail(strict=True, reason=(
    "seed defect: merge_index_ranges does not copy tombstones/, so "
    "deleted docs come back; ingest deletes after its merge for this"))
def test_merge_keeps_deletes(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _MERGE_AFTER_DELETE, str(ROOT),
         str(tmp_path)], capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    deleted_line = proc.stdout.strip().splitlines()[-1]
    assert deleted_line.startswith("deleted [")
    assert deleted_line.endswith("returned []"), deleted_line
