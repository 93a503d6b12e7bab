"""Seeded query streams drawn by measured df band.

Bands follow ``tools/bench_stress.py``: terms are placed by their df in
the built index (not by vocabulary rank), so each band pins the regime
a query exercises. Absent terms exercise the zero-match path.
"""

from __future__ import annotations

import numpy as np

#: the stream's query classes in a fixed order: tail 35%, mid 25%,
#: mixed 15%, hapax 10%, absent 5%, and 10% head queries (a stopword
#: or a torso term beside tail/mid terms). The shape of the stream
#: (class, term count, k) is the same for every seed, so a run's median
#: moves with the engine, not with the mix a seed happened to draw;
#: the seed picks the terms.
CLASS_CYCLE = ("tail", "mid", "mixed", "tail", "hapax", "mid", "stop",
               "tail", "mid", "mixed", "tail", "absent", "mid", "tail",
               "torso", "mixed", "tail", "mid", "hapax", "tail")
#: one query in four asks for k=100, the rest for k=10
K100_EVERY = 4
BATCH_SIZE = 8


def df_bands(reader, vocab: list[str], n_docs: int, seed: int) -> dict:
    """Dictionary terms of the corpus vocabulary, by df band."""
    info = reader.lookup_terms(vocab)
    n = n_docs

    def pick(lo: float, hi: float) -> list[str]:
        return sorted(t for t, (df, _, _) in info.items() if lo <= df <= hi)

    bands = {
        "stop": pick(0.30 * n, n),
        "torso": pick(0.02 * n, 0.10 * n),
        "mid": pick(0.001 * n, 0.004 * n),
        "tail": pick(10, 200),
        "hapax": pick(1, 1),
        # letters no vocabulary syllable uses: never in the dictionary
        "absent": [f"wxy{seed}q{i}" for i in range(64)],
    }
    # a tiny corpus (self-tests) can leave a band empty
    fallback = bands["tail"] or sorted(info)
    for name in ("stop", "torso", "mid", "tail", "hapax"):
        bands[name] = bands[name] or fallback
    bands["df"] = {t: df for t, (df, _, _) in info.items()}
    return bands


class QueryGen:
    def __init__(self, bands: dict, rng: np.random.Generator):
        self.bands = bands
        self.rng = rng
        self.n = 0

    def _terms(self, pool: list[str], n: int) -> list[str]:
        n = min(n, len(pool))
        return list(self.rng.choice(pool, size=n, replace=False))

    def query(self) -> tuple[str, int]:
        """The stream's next query: 1-3 terms, k ∈ {10, 100}."""
        b, i = self.bands, self.n
        self.n += 1
        cls = CLASS_CYCLE[i % len(CLASS_CYCLE)]
        n = 1 + i % 3
        if cls in ("stop", "torso"):
            terms = self._terms(b[cls], 1) + self._terms(
                b["tail"] + b["mid"], n - 1)
        elif cls == "mixed":
            terms = self._terms(b["mid"] + b["tail"] + b["hapax"], n)
        else:
            terms = self._terms(b[cls], n)
        k = 100 if i % K100_EVERY == K100_EVERY - 1 else 10
        return " ".join(dict.fromkeys(terms)), k

    def batch(self) -> list[tuple[int, str, int]]:
        """BATCH_SIZE queries; about half share a term with an earlier one."""
        out: list[tuple[int, str, int]] = []
        for qid in range(BATCH_SIZE):
            text, k = self.query()
            if out and self.rng.random() < 0.5:
                earlier = out[int(self.rng.integers(len(out)))][1].split()
                text = " ".join(dict.fromkeys(
                    text.split() + [str(self.rng.choice(earlier))]))
            out.append((qid, text, k))
        return out

    def facet_term(self) -> str:
        """A single present term, so the matching set's size is its df."""
        b = self.bands
        return str(self.rng.choice(b["mid"] + b["torso"] + b["tail"]))
