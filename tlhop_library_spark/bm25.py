"""BM25 scoring math — the ONE shared definition (SURVEY.md §7.4).

Frozen spec (matches the reference query-set semantics demanded by the
north rule; constants k1=1.2, b=0.75):

- ``N``      = number of documents with non-NULL text (dl=0 docs count).
- ``dl``     = number of v1 analyzer tokens in the doc.
- ``avgdl``  = mean dl over the N docs.
- ``df(t)``  = number of docs containing t at least once.
- ``idf(t)`` = ln(1 + (N - df + 0.5) / (df + 0.5))          (float64)
- ``w(t,d)`` = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
- ``score(q,d)`` = Σ_{t ∈ unique(q) ∩ d} idf(t) * w(t,d)
- top-k ordering: ``round(score, ROUND_DIGITS) DESC, doc_id ASC`` —
  rounding makes the ordering stable across engines whose float64 sums
  may differ in the last bits (addition-order nondeterminism).

Every scorer in the engine (exhaustive DataFrame path, indexed block-max
path, numpy oracle, DuckDB oracle SQL) derives from these definitions.
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75
ROUND_DIGITS = 4


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_weight_np(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """float64 per-posting weight w(t,d); idf excluded (query-time factor)."""
    tf = tf.astype(np.float64)
    denom = tf + K1 * (1.0 - B + B * (dl.astype(np.float64) / avgdl))
    return tf * (K1 + 1.0) / denom


def idf_sql(n_expr: str, df_expr: str) -> str:
    """ANSI/DuckDB SQL fragment for idf."""
    return f"ln(1 + ({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))"
