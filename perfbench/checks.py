"""Answer checks and the attempted/failed ledger.

Every engine call a run makes goes through :meth:`Ledger.call`, which
counts it as attempted, times it and counts it as failed if it raises.
A check that rejects an answer counts the checked operation as failed.
Checks run outside the timed calls.
"""

from __future__ import annotations

import sys
import time
import traceback
from collections import defaultdict

from perfbench.tracing import Tracer


def ranked(rows) -> list[tuple]:
    """(rank, doc_id, score) tuples of a ranked top-k answer."""
    return [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in rows]


def by_query(rows) -> dict[int, list[tuple]]:
    """Batch answer (query_id, rank, doc_id, score) → per-query top-k."""
    out: dict[int, list[tuple]] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[int(r["query_id"])].append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return dict(out)


def live_topk(oracle: list[tuple], deleted: set[int], k: int) -> list[tuple]:
    """Oracle answer over every ingested doc with tombstoned ids dropped
    after ranking, re-ranked 1..k. The index keeps n_docs, avgdl and df
    stale until expunge, so the oracle must rank over deleted docs too."""
    live = [(d, s) for _, d, s in oracle if d not in deleted][:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(live)]


class Ledger:
    """Attempted/failed counts and latency samples of one run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def call(self, kind: str, fn, timed: bool = True, traced: bool = True):
        """Run one engine operation. Returns (ok, value)."""
        self.attempted += 1
        try:
            with self.tracer.op(kind, traced) as root:
                t0 = time.perf_counter()
                value = fn()
                dt = time.perf_counter() - t0
        except Exception as exc:  # the run must go on; the op counts as failed
            self.failed += 1
            self.failures.append(f"{kind}: raised {exc!r}"[:300])
            traceback.print_exc(file=sys.stderr)
            return False, None
        if timed:
            (self.traced_samples if root is not None
             else self.samples)[kind].append(dt)
        return True, value

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record one answer check; a rejected answer is a failed op."""
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:300])
            print(f"check failed: {what}: {detail}"[:2000], file=sys.stderr)
        return ok

    def same(self, what: str, expected, got) -> bool:
        if expected == got:
            return self.check(what, True)
        return self.check(what, False, f"expected {expected[:5]}... got "
                                       f"{got[:5]}... ({len(expected)} vs "
                                       f"{len(got)} rows)")

    def all_samples(self, kind: str) -> list[float]:
        return self.samples.get(kind, []) + self.traced_samples.get(kind, [])

    @property
    def failed_ratio(self) -> float:
        return self.failed / max(self.attempted, 1)
