"""Byte-pair-encoding tokenizer training over the corpus — the
missing piece between "count whitespace tokens" and a real
pretraining token budget.

Shape (and why it scales): every practical BPE trainer (Sennrich et
al. 2016's reference implementation, fastBPE, HF tokenizers) first
REDUCES the corpus to a word-frequency table and then learns merges
from that table alone — pair statistics are Σ over word types
weighted by counts, so the corpus is never re-scanned per merge.
This module keeps exactly that split:

- :func:`word_counts` — the distributed part: ONE hash groupBy over
  the v1 token stream (same shuffle shape as `term_topk_freq`),
  optionally capped to the ``max_words`` most frequent types via
  `ranked_topk` (per-partition heaps). At 10^12 docs the full type
  table is ~10^8-10^9 rows; the cap is the documented approximation
  every at-scale trainer applies (rare types contribute negligible
  pair mass — their total count is bounded by the Zipf tail).
- :func:`learn_bpe` — the driver part: classic greedy
  most-frequent-pair merging over the BOUNDED word table. O(merges ×
  affected-types) with incremental pair-count maintenance;
  deterministic tie-break (count desc, pair lexicographic asc) so
  the learned table is reproducible anywhere.
- :func:`bpe_token_count` — distributed application: Arrow-batched
  pandas UDF with a per-batch word→length memo (token streams are
  Zipf: the memo hit-rate approaches 1, so the Python cost is per
  word TYPE per batch, not per token). This is the engine's one
  deliberate Python scoring path outside the index kernels, and the
  docstring contract says why: merge application is an inherently
  sequential rewrite per word with no JVM-expressible form.

Not SQL-expressible (iterative greedy merges), so there is no DuckDB
gate; parity is pinned by pytest against an independent step-by-step
reference implementation and algebraic invariants.

Reference basis: the reference library has no tokenizer training;
spec follows Sennrich et al. (arXiv:1508.07909) §3.2.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tlhop_library_spark.analyzer import tokens_col
from tlhop_library_spark.operators.relational import ranked_topk

END = "</w>"


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
) -> DataFrame:
    """(word, n) frequency table of v1 tokens; ``max_words`` keeps the
    most frequent types (ties broken word-ascending) via per-partition
    heaps — never a global window."""
    counts = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    if max_words is None:
        return counts
    return ranked_topk(
        counts, [F.desc("n"), F.asc("word")], max_words
    ).drop("rank")


def _pair_stats(vocab: dict[tuple[str, ...], int]) -> dict:
    pairs: dict[tuple[str, str], int] = {}
    for syms, n in vocab.items():
        for a, b in zip(syms, syms[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + n
    return pairs


def _merge_word(
    syms: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    out = []
    i = 0
    while i < len(syms):
        if (
            i < len(syms) - 1
            and syms[i] == pair[0]
            and syms[i + 1] == pair[1]
        ):
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def learn_bpe_from_counts(
    wc: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Greedy BPE merges from a (word, count) list — pure python,
    deterministic (pair count desc, pair lexicographic asc). Stops
    early when no pair occurs twice."""
    vocab = {
        tuple(list(w) + [END]): n for w, n in wc if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = _pair_stats(vocab)
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        pair = best[0]
        merges.append(pair)
        vocab = {
            _merge_word(syms, pair): n for syms, n in vocab.items()
        }
    return merges


def learn_bpe(
    docs: DataFrame,
    n_merges: int = 100,
    max_words: int | None = 50_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train a BPE merge table on the corpus: distributed word-count
    reduction, then driver-side greedy merging over the bounded type
    table (module docstring has the scale argument)."""
    wc = [
        (r["word"], r["n"])
        for r in word_counts(docs, text_col, max_words).collect()
    ]
    wc.sort(key=lambda x: (-x[1], x[0]))
    return learn_bpe_from_counts(wc, n_merges)


def apply_bpe_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Segment one word with a learned merge table (rank order —
    lowest-rank applicable merge first, the standard BPE applier)."""
    syms = tuple(list(word) + [END])
    while len(syms) > 1:
        cands = [
            (ranks[p], i)
            for i, p in enumerate(zip(syms, syms[1:]))
            if p in ranks
        ]
        if not cands:
            break
        rank, _ = min(cands)
        pair_list = list(
            p for p in zip(syms, syms[1:]) if ranks.get(p) == rank
        )
        syms = _merge_word(syms, pair_list[0])
    return list(syms)


def bpe_token_count(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens) per doc under the learned merge
    table — the real token budget a loader bills against. The merge
    table is broadcast via closure; segmentation memoizes per word
    TYPE per Arrow batch (Zipf hit-rate ≈ 1)."""
    ranks = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf("long")
    def bpe_len(words: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def one(ws):
            if ws is None:
                return 0
            total = 0
            for w in ws:
                c = memo.get(w)
                if c is None:
                    c = memo[w] = len(apply_bpe_word(w, ranks))
                total += c
            return total

        return words.map(one)

    toks = tokens_col(F.col(text_col))
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_words"),
            bpe_len(toks).alias("n_bpe_tokens"),
        )
    )
