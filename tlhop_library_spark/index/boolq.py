"""Boolean (AND / OR / NOT) retrieval over the inverted index.

The reference library composes only flat conjunctive filter chains
(``/root/reference/tlhop/library.py`` filter helpers, e.g.
``filter_by_lang`` / ``filter_by_status`` stacking ``.filter`` calls);
this module is the full-text analogue a search user actually types:
an arbitrarily nested boolean expression over analyzed terms, ranked
by BM25.

Grammar (Lucene-flavored, OR-default)::

    expr     := or_expr
    or_expr  := and_expr (OR and_expr)*
    and_expr := unary (AND unary)*
    unary    := NOT unary | atom
    atom     := '(' expr ')' | word

- Operator keywords are UPPERCASE (``AND`` / ``OR`` / ``NOT``); any
  other word is analyzed with the frozen v1 analyzer, so ``and`` in
  lowercase is just a term.
- Adjacent atoms with no operator are OR'd — the same disjunctive
  default as ``IndexReader.search``.
- A word the analyzer splits into several tokens ("state-of-the-art")
  becomes the AND of those tokens; a word it drops entirely (too
  short) becomes a never-matching atom.

Semantics: matching is exact set-boolean over term presence; scoring
is the BM25 sum over the POSITIVE atoms present in each matching doc
(negated atoms never contribute — Lucene ``MUST_NOT``). Queries whose
match set is not bounded by their positive atoms (``NOT the``,
``foo OR NOT bar``) raise ``ValueError`` exactly as Lucene rejects
pure-negative boolean queries: their result set could only be
enumerated by scanning the whole doc space.

Execution is one pass over the pruned segment scan: the per-range
kernel decodes each query term's postings once, builds presence masks
over the sorted union of the positive terms' docs (the bounded
guarantee makes that union a superset of every match), evaluates the
negation-normal-form tree with numpy boolean ops, and BM25-scores the
survivors — per-range top-k, merged by ``TakeOrderedAndProject``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tlhop_library_spark import bm25
from tlhop_library_spark.analyzer import py_tokens
from tlhop_library_spark.index.postings import (
    empty_scores,
    term_postings,
    topk_frame,
)
from tlhop_library_spark.operators.relational import ranked_topk

# ---------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------
_OPS = {"AND", "OR", "NOT", "(", ")"}


def _lex(query: str) -> list[str]:
    out: list[str] = []
    for raw in query.replace("(", " ( ").replace(")", " ) ").split():
        out.append(raw)
    return out


def parse_query(query: str):
    """Parse into an AST of ``("term", t) | ("and", [...]) |
    ("or", [...]) | ("not", node) | ("true",) | ("false",)``."""
    toks = _lex(query)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def atom():
        t = peek()
        if t is None or t in {")", "AND", "OR"}:
            raise ValueError(f"expected a term at token {pos} in {query!r}")
        if t == "(":
            take()
            node = or_expr()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in {query!r}")
            take()
            return node
        if t == "NOT":
            take()
            return ("not", atom())
        take()
        terms = py_tokens(t)
        if not terms:
            return ("false",)
        if len(terms) == 1:
            return ("term", terms[0])
        return ("and", [("term", x) for x in terms])

    def and_expr():
        nodes = [atom()]
        while peek() == "AND":
            take()
            nodes.append(atom())
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def or_expr():
        nodes = [and_expr()]
        while peek() is not None and peek() != ")":
            if peek() == "OR":
                take()
            nodes.append(and_expr())
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    node = or_expr()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in {query!r}")
    return node


def to_nnf(node, negated: bool = False):
    """Push NOT to the leaves (De Morgan). Leaves become ``("term", t)``
    or ``("notterm", t)``; constants flip under negation."""
    kind = node[0]
    if kind == "term":
        return ("notterm", node[1]) if negated else node
    if kind == "true":
        return ("false",) if negated else node
    if kind == "false":
        return ("true",) if negated else node
    if kind == "not":
        return to_nnf(node[1], not negated)
    children = [to_nnf(c, negated) for c in node[1]]
    if kind == "and":
        return ("or", children) if negated else ("and", children)
    return ("and", children) if negated else ("or", children)


def is_bounded(nnf) -> bool:
    """True iff the match set is contained in the union of the positive
    atoms' posting lists: term → yes; notterm/true → no; AND needs any
    bounded child; OR needs all children bounded."""
    kind = nnf[0]
    if kind == "term":
        return True
    if kind in ("notterm", "true", "false"):
        # "false" matches nothing — vacuously bounded
        return kind == "false"
    if kind == "and":
        return any(is_bounded(c) for c in nnf[1])
    return all(is_bounded(c) for c in nnf[1])


def collect_terms(nnf) -> tuple[set[str], set[str]]:
    """(all terms, positive terms) appearing in an NNF tree."""
    all_t: set[str] = set()
    pos_t: set[str] = set()

    def walk(n):
        if n[0] == "term":
            all_t.add(n[1])
            pos_t.add(n[1])
        elif n[0] == "notterm":
            all_t.add(n[1])
        elif n[0] in ("and", "or"):
            for c in n[1]:
                walk(c)

    walk(nnf)
    return all_t, pos_t


def compile_query(query: str):
    """parse → NNF → validate. Returns (nnf, all_terms, pos_terms)."""
    nnf = to_nnf(parse_query(query))
    if not is_bounded(nnf):
        raise ValueError(
            "pure-negative boolean query (match set not bounded by any "
            f"positive term): {query!r}"
        )
    all_t, pos_t = collect_terms(nnf)
    return nnf, sorted(all_t), sorted(pos_t)


def subst_tids(nnf, tid_of: dict[str, int]):
    """Rewrite term leaves to dictionary tids. A positive term absent
    from the dictionary can never match (→ false); an absent negated
    term excludes nothing (→ true)."""
    kind = nnf[0]
    if kind == "term":
        t = tid_of.get(nnf[1])
        return ("tid", t) if t is not None else ("false",)
    if kind == "notterm":
        t = tid_of.get(nnf[1])
        return ("nottid", t) if t is not None else ("true",)
    if kind in ("and", "or"):
        return (kind, [subst_tids(c, tid_of) for c in nnf[1]])
    return nnf


def _eval_mask(node, masks: dict, n: int) -> np.ndarray:
    kind = node[0]
    if kind == "tid":
        m = masks.get(node[1])
        return m if m is not None else np.zeros(n, dtype=bool)
    if kind == "nottid":
        m = masks.get(node[1])
        return ~m if m is not None else np.ones(n, dtype=bool)
    if kind == "true":
        return np.ones(n, dtype=bool)
    if kind == "false":
        return np.zeros(n, dtype=bool)
    parts = [_eval_mask(c, masks, n) for c in node[1]]
    out = parts[0].copy()
    for p in parts[1:]:
        if kind == "and":
            out &= p
        else:
            out |= p
    return out


# ---------------------------------------------------------------------
# indexed per-range kernel
# ---------------------------------------------------------------------
def boolean_range_scorer(
    nnf_tid,
    pos_tids: list[int],
    idf_map: dict[int, float],
    avgdl: float,
    k: int,
    deleted: "np.ndarray | None" = None,
):
    """applyInPandas kernel for ONE doc range: decode every query
    term's chunks once (multi-chunk terms merged in doc order), build
    presence masks over the sorted union of the positive terms' docs,
    evaluate the NNF tree, BM25-score the matches over the positive
    terms, and emit the local top-k."""
    pos_set = set(pos_tids)

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        per_term = term_postings(pdf, deleted)
        pos_docs = [
            per_term[t][0] for t in pos_tids if t in per_term
        ]
        if not pos_docs:
            return empty_scores()
        universe = np.unique(np.concatenate(pos_docs))
        if universe.size == 0:
            return empty_scores()
        scores = np.zeros(universe.size, dtype=np.float64)
        masks: dict[int, np.ndarray] = {}
        for tid, (docs_, tfs_, dls_) in per_term.items():
            idx = np.searchsorted(universe, docs_)
            np.minimum(idx, universe.size - 1, out=idx)
            valid = universe[idx] == docs_
            iv = idx[valid]
            m = np.zeros(universe.size, dtype=bool)
            m[iv] = True
            masks[tid] = m
            if tid in pos_set and iv.size:
                w = (
                    bm25.tf_weight_np(tfs_[valid], dls_[valid], avgdl)
                    * idf_map[tid]
                )
                scores[iv] += w  # docs unique per (term, range)
        match = _eval_mask(nnf_tid, masks, universe.size)
        return topk_frame(universe[match], scores[match], k)

    return score_range


# ---------------------------------------------------------------------
# declarative exhaustive path (no index required)
# ---------------------------------------------------------------------
def boolean_exhaustive(docs, query_text: str, k: int = 10,
                       doc_col: str = "doc_id"):
    """Boolean-matched BM25 top-k via pure DataFrame ops, same plan
    shape as ``score_exhaustive``: per-term tf as a JVM array filter,
    one stats aggregation folded in as literals, the boolean tree as a
    whole-stage-codegen predicate, ``orderBy().limit(k)`` top-k."""
    from pyspark.sql import functions as F

    from tlhop_library_spark.analyzer import tokens_col
    from tlhop_library_spark.index.query import _RANKED_SCHEMA, _local_frame
    nnf, all_terms, pos_terms = compile_query(query_text)
    if not pos_terms:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)
    ti = {t: i for i, t in enumerate(all_terms)}
    base = docs.where(F.col("text").isNotNull()).select(
        F.col(doc_col).cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("tokens"),
    )
    tf_cols = [
        F.size(F.filter("tokens", lambda x: x == F.lit(t))).alias(f"tf_{i}")
        for t, i in ti.items()
    ]
    proj = base.select("doc_id", F.size("tokens").alias("dl"), *tf_cols)
    stats = proj.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count_if(F.col(f"tf_{ti[t]}") > 0).alias(f"df_{ti[t]}")
            for t in pos_terms
        ],
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if n_docs == 0:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)

    def pred(node):
        kind = node[0]
        if kind == "term":
            return F.col(f"tf_{ti[node[1]]}") > 0
        if kind == "notterm":
            return ~(F.col(f"tf_{ti[node[1]]}") > 0)
        if kind == "true":
            return F.lit(True)
        if kind == "false":
            return F.lit(False)
        parts = [pred(c) for c in node[1]]
        out = parts[0]
        for p in parts[1:]:
            out = (out & p) if kind == "and" else (out | p)
        return out

    score = F.lit(0.0)
    for t in pos_terms:
        df_t = int(stats[f"df_{ti[t]}"])
        if df_t == 0:
            continue
        tf = F.col(f"tf_{ti[t]}")
        w = (tf * (bm25.K1 + 1.0)) / (
            tf + bm25.K1 * (1.0 - bm25.B + bm25.B * (F.col("dl") / F.lit(avgdl)))
        )
        score = score + F.lit(bm25.idf(n_docs, df_t)) * w
    scored = proj.where(pred(nnf)).select(
        "doc_id", F.round(score, bm25.ROUND_DIGITS).alias("score")
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


# ---------------------------------------------------------------------
# DuckDB oracle
# ---------------------------------------------------------------------
def oracle_sql_boolean(query_text: str, k: int = 10, table: str = "documents",
                       doc_col: str = "doc_id") -> str:
    """DuckDB SQL implementing the identical boolean+BM25 spec."""
    nnf, all_terms, pos_terms = compile_query(query_text)
    pcol = {t: f"p_{i}" for i, t in enumerate(all_terms)}

    def sql_expr(node):
        kind = node[0]
        if kind == "term":
            return pcol[node[1]]
        if kind == "notterm":
            return f"(NOT {pcol[node[1]]})"
        if kind == "true":
            return "TRUE"
        if kind == "false":
            return "FALSE"
        op = " AND " if kind == "and" else " OR "
        return "(" + op.join(sql_expr(c) for c in node[1]) + ")"

    def q(t):
        return "'" + t.replace("'", "''") + "'"

    all_list = ", ".join(q(t) for t in all_terms)
    pos_list = ", ".join(q(t) for t in pos_terms)
    presence = ",\n         ".join(
        f"bool_or(tf.term = {q(t)}) AS {pcol[t]}" for t in all_terms
    )
    return f"""
WITH base AS (
  SELECT {doc_col} AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     t -> length(t) >= 3) AS tokens
  FROM {table} WHERE text IS NOT NULL
), base_dl AS (
  SELECT doc_id, len(tokens) AS dl, tokens FROM base
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM base_dl
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN ({all_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), per_doc AS (
  SELECT tf.doc_id,
         round(sum(CASE WHEN tf.term IN ({pos_list}) THEN
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
            ELSE 0 END), {bm25.ROUND_DIGITS}) AS score,
         {presence}
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM per_doc WHERE {sql_expr(nnf)}
QUALIFY rank <= {k}
ORDER BY rank
"""
