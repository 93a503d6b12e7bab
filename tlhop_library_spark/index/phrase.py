"""Phrase + proximity queries over POSITIONAL indexes.

A positional index (``IndexBuilder(..., positions=True)``) stores, per
posting, the in-document token positions of the term (delta-gapped
varints, first-absolute per posting — ``build.POS_SEGMENT_SCHEMA``).
This module adds the two classic operators those positions enable:

- **phrase**: documents whose v1 token stream contains the query terms
  at consecutive positions, in order ("exact phrase"). Matching docs
  are BM25-ranked over the phrase's distinct terms with the SAME frozen
  spec as plain search (idf from corpus-wide df, rounding + doc_id
  tie-break), so phrase results are rank-identical between the indexed
  kernel, the declarative DataFrame path, and the DuckDB oracle.
- **proximity**: documents where every distinct query term occurs
  within SOME window of ``window`` consecutive token positions.
  Semantics are anchor-normalized (see ``_min_cover``): a window
  exists iff one exists anchored at an occurrence of one of the terms
  — which is what makes the operator expressible in ANSI SQL for the
  oracle.

Scale shape — identical to the plain indexed path (query.py): chunk
scan is pruned to (bucket, tid) by parquet pushdown, each doc-range is
scored independently inside one ``applyInPandas`` task (ranges
partition the doc-id space — no cross-range talk), and only k rows per
range leave an executor. The positional intersection is a C-speed
hash join (``pandas.merge``) on (doc, adjusted position) — never a
per-row Python loop over postings.

Reference basis: the reference has no positional retrieval (its
queries are substring ``contains`` scans —
/root/reference/tlhop/shodan_library.py:179-204); this is the
from-scratch fulltext replacement demanded by the brief, not a port.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tlhop_library_spark import bm25
from tlhop_library_spark.analyzer import py_tokens, tokens_col
from tlhop_library_spark.index.postings import (
    empty_scores,
    score_docs,
    sum_by_doc,
    term_postings,
    topk_frame,
)
from tlhop_library_spark.operators.relational import ranked_topk

# ---------------------------------------------------------------------
# range kernels
# ---------------------------------------------------------------------
def _decode_terms(pdf: pd.DataFrame, tids: list[int], deleted=None):
    """tid → (docs, tfs, dls, inst_docs, inst_pos) for the range's
    chunks of ``tids``: :func:`postings.term_postings` plus each
    position's doc id (``inst_docs``, aligned with ``inst_pos``)."""
    return {
        tid: (docs, tfs, dls, np.repeat(docs, tfs.astype(np.int64)), pos)
        for tid, (docs, tfs, dls, pos) in term_postings(
            pdf, deleted, tids
        ).items()
    }


def _intersect_docs(per_term: dict, tids: list[int]) -> np.ndarray:
    """Docs containing every tid — rarest-first sorted intersection."""
    lists = sorted((per_term[t][0] for t in tids), key=len)
    common = lists[0]
    for arr in lists[1:]:
        if common.size == 0:
            break
        common = common[np.isin(common, arr, assume_unique=True)]
    return common


def phrase_range_scorer(phrase_tids: list[int], idf_map: dict,
                        avgdl: float, k: int, deleted=None):
    """applyInPandas kernel: phrase match + score for ONE doc range.

    ``phrase_tids`` is the tid per phrase SLOT (duplicates preserved,
    order = phrase order); scoring runs over the distinct tids."""
    distinct = sorted(set(phrase_tids))

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        present = set(int(t) for t in pdf["tid"])
        if not all(t in present for t in distinct):
            return empty_scores()  # a range missing any term has no match
        per_term = _decode_terms(pdf, distinct, deleted)
        common = _intersect_docs(per_term, distinct)
        if common.size == 0:
            return empty_scores()
        # positional alignment: a phrase at anchor p needs slot i's term
        # at p+i, so slot i contributes candidate anchors (doc, pos-i);
        # the running inner-join keeps anchors satisfying every slot.
        cand = None
        for i, tid in enumerate(phrase_tids):
            _, _, _, inst_docs, inst_pos = per_term[tid]
            sel = np.isin(inst_docs, common)
            adj = inst_pos[sel] - i
            frame = pd.DataFrame(
                {"doc": inst_docs[sel], "p": adj}
            )
            if i > 0:
                frame = frame[frame["p"] >= 0]
            cand = (
                frame
                if cand is None
                else cand.merge(frame, on=["doc", "p"], how="inner")
            )
            if cand.empty:
                return empty_scores()
        matched = np.unique(cand["doc"].to_numpy(dtype=np.int64))
        return score_docs(per_term, distinct, idf_map, matched, avgdl, k)

    return score_range


def _min_cover(term_pos: list[np.ndarray], window: int) -> bool:
    """True iff every term has an occurrence inside [a, a+window-1] for
    some anchor ``a`` drawn from the union of occurrences.

    Anchor-normalized cover: if all terms fit in ANY width-``window``
    interval, they also fit in the one anchored at the smallest
    occurring position inside it — so anchoring at occurrences loses
    nothing and keeps the operator SQL-expressible for the oracle."""
    anchors = np.unique(np.concatenate(term_pos))
    ok = np.ones(anchors.size, dtype=bool)
    for pos in term_pos:
        # exists an occurrence of this term in [a, a+window-1] ⟺ the
        # first pos ≥ a is < a + window
        nxt = np.searchsorted(pos, anchors, side="left")
        has = nxt < pos.size
        ok &= has & np.where(
            has, pos[np.minimum(nxt, pos.size - 1)] < anchors + window, False
        )
        if not ok.any():
            return False
    return True


def proximity_range_scorer(tids: list[int], idf_map: dict, avgdl: float,
                           window: int, k: int, deleted=None):
    """applyInPandas kernel: all distinct terms within a ``window``-token
    span, for ONE doc range."""
    distinct = sorted(set(tids))

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        present = set(int(t) for t in pdf["tid"])
        if not all(t in present for t in distinct):
            return empty_scores()
        per_term = _decode_terms(pdf, distinct, deleted)
        common = _intersect_docs(per_term, distinct)
        if common.size == 0:
            return empty_scores()
        # per-candidate-doc position lists (python loop over the ALREADY
        # intersected candidates — bounded by docs containing all terms
        # in this range, with numpy searchsorted inside)
        matched = []
        per_doc = []
        for tid in distinct:
            _, _, _, inst_docs, inst_pos = per_term[tid]
            sel = np.isin(inst_docs, common)
            d, p = inst_docs[sel], inst_pos[sel]
            starts = np.searchsorted(d, common, side="left")
            ends = np.searchsorted(d, common, side="right")
            per_doc.append((p, starts, ends))
        for ci, doc in enumerate(common):
            lists = [p[s[ci]:e[ci]] for p, s, e in per_doc]
            if _min_cover(lists, window):
                matched.append(int(doc))
        if not matched:
            return empty_scores()
        return score_docs(
            per_term, distinct, idf_map,
            np.asarray(matched, dtype=np.int64),
            avgdl, k,
        )

    return score_range


def phrase_prefix_range_scorer(slot_tids: list[int], last_tids: list[int],
                               idf_map: dict, avgdl: float,
                               group_idf: float, k: int, deleted=None):
    """applyInPandas kernel for match-phrase-prefix (the Elasticsearch
    ``match_phrase_prefix`` shape) over ONE doc range: the exact slots
    must occur consecutively, immediately followed by ANY of the
    ``last_tids`` completion terms (the dictionary expansion of the
    query's trailing prefix). Scoring: frozen BM25 over the DISTINCT
    exact-slot terms plus ONE SynonymQuery-style group for the
    completion position — tf summed across matched completions per
    doc, idf = ``group_idf`` (max candidate df corpus-wide, Lucene's
    blended docFreq). ``slot_tids`` may be empty (bare-prefix query):
    every doc containing a candidate matches and only the group
    scores."""
    distinct_exact = sorted(set(slot_tids))
    last_set = sorted(set(last_tids))

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        present = set(int(t) for t in pdf["tid"])
        if not all(t in present for t in distinct_exact):
            return empty_scores()
        cand_tids = [t for t in last_set if t in present]
        if not cand_tids:
            return empty_scores()
        per_term = _decode_terms(
            pdf, sorted(set(distinct_exact) | set(cand_tids)), deleted
        )
        cand_tids = [t for t in cand_tids if t in per_term]
        if not cand_tids or not all(
            t in per_term for t in distinct_exact
        ):
            return empty_scores()  # tombstones can empty a decoded term
        # anchor join over the exact slots (phrase_range_scorer shape)
        cand = None
        for i, tid in enumerate(slot_tids):
            _, _, _, inst_docs, inst_pos = per_term[tid]
            frame = pd.DataFrame(
                {"doc": inst_docs, "p": inst_pos - i}
            )
            if i > 0:
                frame = frame[frame["p"] >= 0]
            cand = (
                frame
                if cand is None
                else cand.merge(frame, on=["doc", "p"], how="inner")
            )
            if cand.empty:
                return empty_scores()
        # completion position = anchor + len(slot_tids)
        comp_docs = np.concatenate([per_term[t][3] for t in cand_tids])
        comp_pos = np.concatenate([per_term[t][4] for t in cand_tids])
        frame = pd.DataFrame(
            {"doc": comp_docs, "p": comp_pos - len(slot_tids)}
        )
        if slot_tids:
            frame = frame[frame["p"] >= 0]
        cand = (
            frame
            if cand is None
            else cand.merge(frame, on=["doc", "p"], how="inner")
        )
        if cand.empty:
            return empty_scores()
        matched = np.unique(cand["doc"].to_numpy(dtype=np.int64))
        scores = np.zeros(len(matched), dtype=np.float64)
        for tid in distinct_exact:
            docs, tfs, dls, _, _ = per_term[tid]
            sel = np.isin(docs, matched, assume_unique=True)
            idx = np.searchsorted(matched, docs[sel])
            scores[idx] += idf_map[tid] * bm25.tf_weight_np(
                tfs[sel], dls[sel], avgdl
            )
        gd = np.concatenate([per_term[t][0] for t in cand_tids])
        gtf = np.concatenate(
            [per_term[t][1] for t in cand_tids]
        ).astype(np.float64)
        gdl = np.concatenate(
            [per_term[t][2] for t in cand_tids]
        ).astype(np.float64)
        sel = np.isin(gd, matched)
        uniq, tf_sum, inv = sum_by_doc(gd[sel], gtf[sel])
        dl_u = np.zeros(len(uniq), dtype=np.float64)
        dl_u[inv] = gdl[sel]
        idx = np.searchsorted(matched, uniq)
        scores[idx] += group_idf * bm25.tf_weight_np(tf_sum, dl_u, avgdl)
        return topk_frame(matched, scores, k)

    return score_range


def _ordered_span_chains(
    lists: list[np.ndarray], slop: int
) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the MINIMAL ordered chain for every start
    position of the first clause, filtered to span width ≤ slop.

    For a fixed start, taking the smallest valid position at each
    later clause minimizes the chain end (the only constraint is
    strict increase, so shrinking a link never invalidates a later
    one) — so each surviving (start, end) is the tightest span that
    start can produce, and a doc has ANY qualifying span iff one of
    these minimal chains qualifies. Only (start, end) matter
    downstream: span-not rejection windows grow monotonically with
    the end, so a clean minimal chain certifies the start and a dirty
    minimal chain damns every longer chain from the same start."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if any(pos.size == 0 for pos in lists):
        return empty
    starts = lists[0].astype(np.int64)
    ends = starts.copy()
    for pos in lists[1:]:
        idx = np.searchsorted(pos, ends, side="right")
        ok = idx < pos.size
        if not ok.any():
            return empty
        starts, ends = starts[ok], pos[idx[ok]].astype(np.int64)
    keep = (ends - starts) - (len(lists) - 1) <= slop
    return starts[keep], ends[keep]


def _ordered_span(lists: list[np.ndarray], slop: int) -> bool:
    """True iff there exist positions p₀ < p₁ < … < pₙ₋₁, one per
    clause IN CLAUSE ORDER, with span width
    ``pₙ₋₁ − p₀ − (n−1) ≤ slop`` (Lucene ``SpanNearQuery``
    ``inOrder=true`` with single-term clauses).

    Greedy successor chain: for every start p₀, taking the SMALLEST
    valid position at each later clause minimizes the chain end (the
    only constraint is strict increase, so shrinking any link never
    invalidates a later one) — the doc matches iff some start's
    minimal chain fits in the slop."""
    if any(pos.size == 0 for pos in lists):
        return False
    starts = lists[0].astype(np.int64)
    ends = starts.copy()
    for pos in lists[1:]:
        idx = np.searchsorted(pos, ends, side="right")
        ok = idx < pos.size
        if not ok.any():
            return False
        starts, ends = starts[ok], pos[idx[ok]].astype(np.int64)
    return bool(((ends - starts) - (len(lists) - 1) <= slop).any())


def span_near_range_scorer(clause_tids: list[int], idf_map: dict,
                           avgdl: float, slop: int, k: int, deleted=None):
    """applyInPandas kernel for ordered span-near (Lucene
    ``SpanNearQuery(inOrder=true)``) over ONE doc range: the clause
    terms must occur left-to-right in query order within ``slop``
    intervening positions; matching docs are BM25-scored on the
    clauses' distinct terms (same scoring shell as phrase/proximity).
    A repeated clause term needs that many DISTINCT, increasing
    positions (Lucene's non-overlapping ordered spans)."""
    distinct = sorted(set(clause_tids))

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        present = set(int(t) for t in pdf["tid"])
        if not all(t in present for t in distinct):
            return empty_scores()
        per_term = _decode_terms(pdf, distinct, deleted)
        common = _intersect_docs(per_term, distinct)
        if common.size == 0:
            return empty_scores()
        per_doc = []
        for tid in clause_tids:
            _, _, _, inst_docs, inst_pos = per_term[tid]
            sel = np.isin(inst_docs, common)
            d, p = inst_docs[sel], inst_pos[sel]
            starts = np.searchsorted(d, common, side="left")
            ends = np.searchsorted(d, common, side="right")
            per_doc.append((p, starts, ends))
        matched = [
            int(doc)
            for ci, doc in enumerate(common)
            if _ordered_span(
                [p[s[ci]:e[ci]] for p, s, e in per_doc], slop
            )
        ]
        if not matched:
            return empty_scores()
        return score_docs(
            per_term, distinct, idf_map,
            np.asarray(matched, dtype=np.int64),
            avgdl, k,
        )

    return score_range


# ---------------------------------------------------------------------
# declarative (index-free) phrase path + oracle SQL
# ---------------------------------------------------------------------
def span_not_range_scorer(clause_tids: list[int], excl_tid: "int | None",
                          idf_map: dict, avgdl: float, slop: int, pre: int,
                          post: int, k: int, deleted=None):
    """applyInPandas kernel for Lucene ``SpanNotQuery`` with an
    ordered span-near include and a single-term exclude: a doc
    matches iff SOME include span (clause terms left-to-right within
    ``slop``) has NO exclude occurrence in
    ``[span_start − pre, span_end + post]`` (Lucene's pre/post slack;
    pre=post=0 is plain overlap rejection). Matching docs are
    BM25-scored on the distinct include terms; the exclude term never
    contributes to the score (Lucene semantics).

    Per start position only the MINIMAL chain needs checking
    (:func:`_ordered_span_chains`): the rejection window grows with
    the end, so minimal-clean ⇔ some-chain-clean.
    ``excl_tid=None`` (term absent from the corpus) degenerates to
    span-near."""
    distinct = sorted(set(clause_tids))

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        present = set(int(t) for t in pdf["tid"])
        if not all(t in present for t in distinct):
            return empty_scores()
        want = distinct + (
            [excl_tid] if excl_tid is not None and excl_tid in present
            else []
        )
        per_term = _decode_terms(pdf, want, deleted)
        common = _intersect_docs(per_term, distinct)
        if common.size == 0:
            return empty_scores()
        per_doc = []
        for tid in clause_tids:
            _, _, _, inst_docs, inst_pos = per_term[tid]
            sel = np.isin(inst_docs, common)
            d, p = inst_docs[sel], inst_pos[sel]
            starts = np.searchsorted(d, common, side="left")
            ends = np.searchsorted(d, common, side="right")
            per_doc.append((p, starts, ends))
        if excl_tid is not None and excl_tid in per_term:
            _, _, _, x_docs, x_pos = per_term[excl_tid]
            xs = np.searchsorted(x_docs, common, side="left")
            xe = np.searchsorted(x_docs, common, side="right")
        else:
            x_pos, xs, xe = None, None, None
        matched = []
        for ci, doc in enumerate(common):
            starts, ends = _ordered_span_chains(
                [p[s[ci]:e[ci]] for p, s, e in per_doc], slop
            )
            if not starts.size:
                continue
            if x_pos is not None and xe[ci] > xs[ci]:
                q = np.sort(x_pos[xs[ci]:xe[ci]])
                lo = np.searchsorted(q, starts - pre, side="left")
                hi = np.searchsorted(q, ends + post, side="right")
                if not (hi == lo).any():
                    continue  # every span overlaps an exclusion
            matched.append(int(doc))
        if not matched:
            return empty_scores()
        return score_docs(
            per_term, distinct, idf_map,
            np.asarray(matched, dtype=np.int64),
            avgdl, k,
        )

    return score_range


def phrase_exhaustive(
    docs: DataFrame, phrase_text: str, k: int = 10, doc_col: str = "doc_id"
) -> DataFrame:
    """Phrase match + BM25 top-k via pure DataFrame ops (no index).

    The phrase test runs JVM-side on the joined token string: tokens
    cannot contain spaces (the v1 analyzer splits on every non-word
    char), so `' '||array_join(tokens,' ')||' '` CONTAINS
    `' t0 t1 … '` ⟺ the phrase occurs at consecutive token positions.
    Corpus stats and per-term df are corpus-wide (one agg pass), same
    as ``score_exhaustive`` — phrase filtering restricts only the
    scored set, not the statistics."""
    from tlhop_library_spark.index.query import _RANKED_SCHEMA, _local_frame

    slots = py_tokens(phrase_text)
    terms = sorted(set(slots))
    spark = docs.sparkSession
    if not slots:
        return _local_frame(spark, _RANKED_SCHEMA)
    needle = " " + " ".join(slots) + " "
    base = docs.where(F.col("text").isNotNull()).select(
        F.col(doc_col).cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("tokens"),
    )
    tf_cols = [
        F.size(F.filter("tokens", lambda t: t == F.lit(term))).alias(f"tf_{i}")
        for i, term in enumerate(terms)
    ]
    hay = F.concat(F.lit(" "), F.array_join("tokens", " "), F.lit(" "))
    proj = base.select(
        "doc_id",
        F.size("tokens").alias("dl"),
        hay.contains(needle).alias("hit"),
        *tf_cols,
    )
    stats = proj.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    score = F.lit(0.0)
    for i in range(len(terms)):
        df_i = int(stats[f"df_{i}"])
        if df_i == 0:
            return _local_frame(spark, _RANKED_SCHEMA)
        tf = F.col(f"tf_{i}")
        w_i = (tf * (bm25.K1 + 1.0)) / (
            tf
            + bm25.K1 * (1.0 - bm25.B + bm25.B * (F.col("dl") / F.lit(avgdl)))
        )
        score = score + F.lit(bm25.idf(n_docs, df_i)) * w_i
    scored = proj.where("hit").select(
        "doc_id", F.round(score, bm25.ROUND_DIGITS).alias("score")
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


def span_first_range_scorer(tid: int, idf_map: dict, avgdl: float,
                            end: int, k: int, deleted=None):
    """applyInPandas kernel for SpanFirstQuery over ONE doc range:
    docs whose FIRST occurrence of the term sits within the first
    ``end`` tokens (0-based position < end, i.e. Lucene
    ``span.end() <= end`` for a single-term span), BM25-scored on the
    term over the matching docs."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if int(tid) not in set(int(t) for t in pdf["tid"]):
            return empty_scores()
        per_term = _decode_terms(pdf, [tid], deleted)
        docs, _tfs, _dls, inst_docs, inst_pos = per_term[tid]
        if docs.size == 0:
            return empty_scores()
        # first instance index per doc: inst_docs ascends by doc and
        # positions ascend within a doc, so unique's first hit is the
        # doc's first occurrence
        _, first_idx = np.unique(inst_docs, return_index=True)
        matched = inst_docs[first_idx][inst_pos[first_idx] < end]
        if matched.size == 0:
            return empty_scores()
        return score_docs(per_term, [tid], idf_map, matched, avgdl, k)

    return score_range


def oracle_sql_span_first(term_text: str, end: int, k: int = 10,
                          table: str = "documents",
                          doc_col: str = "doc_id") -> str:
    """DuckDB SQL implementing the identical SpanFirst spec
    (``list_position`` is 1-based; position < end ⟺ list_position
    ≤ end)."""
    (term,) = py_tokens(term_text)
    t = term.replace("'", "''")
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
), hits AS (
  SELECT doc_id FROM base_dl
  WHERE list_position(tokens, '{t}') IS NOT NULL
    AND list_position(tokens, '{t}') <= {end}
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term = '{t}' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tf, dfreq, stats
  WHERE tf.term = dfreq.term
    AND tf.doc_id IN (SELECT doc_id FROM hits)
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_phrase(phrase_text: str, k: int = 10, table: str = "documents",
                      doc_col: str = "doc_id") -> str:
    """DuckDB SQL implementing the identical phrase spec."""
    slots = py_tokens(phrase_text)
    terms = sorted(set(slots))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    needle = (" " + " ".join(slots) + " ").replace("'", "''")
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
), hits AS (
  SELECT doc_id FROM base_dl
  WHERE strpos(' ' || array_to_string(tokens, ' ') || ' ', '{needle}') > 0
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tf, dfreq, stats
  WHERE tf.term = dfreq.term
    AND tf.doc_id IN (SELECT doc_id FROM hits)
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_proximity(query_text: str, window: int, k: int = 10,
                         table: str = "documents",
                         doc_col: str = "doc_id") -> str:
    """DuckDB SQL for the anchor-normalized proximity spec (any number
    of terms): a doc matches iff some occurrence position ``a`` of any
    query term has every distinct term occurring in [a, a+window-1]."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    m = len(terms)
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
), pos0 AS (
  SELECT doc_id, unnest(tokens) AS term,
         generate_subscripts(tokens, 1) - 1 AS p
  FROM base_dl
), pos AS (
  SELECT doc_id, term, CAST(p AS BIGINT) AS p FROM pos0
  WHERE term IN ({terms_list})
), hits AS (
  SELECT DISTINCT a.doc_id
  FROM pos a
  WHERE (
    SELECT count(DISTINCT b.term) FROM pos b
    WHERE b.doc_id = a.doc_id AND b.p BETWEEN a.p AND a.p + {window} - 1
  ) = {m}
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tf, dfreq, stats
  WHERE tf.term = dfreq.term
    AND tf.doc_id IN (SELECT doc_id FROM hits)
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_span_near(query_text: str, slop: int, k: int = 10,
                         table: str = "documents",
                         doc_col: str = "doc_id") -> str:
    """DuckDB SQL for the ordered span-near spec: a doc matches iff
    there exist positions p₀ < p₁ < … < pₙ₋₁, one per clause in query
    order, with pₙ₋₁ − p₀ − (n−1) ≤ slop. The EXISTS-over-all-ordered-
    tuples formulation is equivalent to the kernel's greedy minimal
    chain (the chain only tightens the same constraint set). Scoring
    shell identical to the proximity oracle (BM25 over the distinct
    clause terms, corpus-wide stats)."""
    clauses = py_tokens(query_text)
    terms = sorted(set(clauses))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    n = len(clauses)
    joins, conds = [], []
    for i in range(1, n):
        w = clauses[i].replace("'", "''")
        joins.append(
            f"  JOIN pos t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.term = '{w}' AND t{i}.p > t{i-1}.p"
        )
        conds.append("")
    w0 = clauses[0].replace("'", "''")
    where = f"t0.term = '{w0}'"
    if n > 1:
        where += f" AND t{n-1}.p - t0.p - {n - 1} <= {slop}"
    hits = (
        "  SELECT DISTINCT t0.doc_id\n  FROM pos t0\n"
        + ("\n".join(joins) + "\n" if joins else "")
        + f"  WHERE {where}"
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
), pos0 AS (
  SELECT doc_id, unnest(tokens) AS term,
         generate_subscripts(tokens, 1) - 1 AS p
  FROM base_dl
), pos AS (
  SELECT doc_id, term, CAST(p AS BIGINT) AS p FROM pos0
  WHERE term IN ({terms_list})
), hits AS (
{hits}
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tf, dfreq, stats
  WHERE tf.term = dfreq.term
    AND tf.doc_id IN (SELECT doc_id FROM hits)
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_span_not(include_text: str, exclude_term: str,
                        slop: int = 0, pre: int = 0, post: int = 0,
                        k: int = 10, table: str = "documents",
                        doc_col: str = "doc_id") -> str:
    """DuckDB SQL for the span-not spec: EXISTS an ordered include
    tuple (width ≤ slop) with NOT EXISTS an exclude occurrence inside
    ``[p₀ − pre, pₙ₋₁ + post]``. Quantifying over ALL tuples is
    equivalent to the kernel's per-start minimal chains: a qualifying
    tuple's window contains the same-start minimal chain's window, so
    clean-tuple ⇔ clean-minimal-chain (phrase.py kernel docstring)."""
    clauses = py_tokens(include_text)
    excl = py_tokens(exclude_term)
    if len(excl) != 1:
        raise ValueError("exclude must analyze to exactly one term")
    ex = excl[0].replace("'", "''")
    terms = sorted(set(clauses))
    all_terms = sorted(set(clauses) | {excl[0]})
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    all_list = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in all_terms
    )
    n = len(clauses)
    joins = []
    for i in range(1, n):
        w = clauses[i].replace("'", "''")
        joins.append(
            f"  JOIN pos t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.term = '{w}' AND t{i}.p > t{i-1}.p"
        )
    w0 = clauses[0].replace("'", "''")
    last = f"t{n-1}" if n > 1 else "t0"
    where = f"t0.term = '{w0}'"
    if n > 1:
        where += f" AND {last}.p - t0.p - {n - 1} <= {slop}"
    where += (
        f"\n    AND NOT EXISTS (SELECT 1 FROM pos q"
        f" WHERE q.doc_id = t0.doc_id AND q.term = '{ex}'"
        f" AND q.p >= t0.p - {pre} AND q.p <= {last}.p + {post})"
    )
    hits = (
        "  SELECT DISTINCT t0.doc_id\n  FROM pos t0\n"
        + ("\n".join(joins) + "\n" if joins else "")
        + f"  WHERE {where}"
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
), pos0 AS (
  SELECT doc_id, unnest(tokens) AS term,
         generate_subscripts(tokens, 1) - 1 AS p
  FROM base_dl
), pos AS (
  SELECT doc_id, term, CAST(p AS BIGINT) AS p FROM pos0
  WHERE term IN ({all_list})
), hits AS (
{hits}
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tf, dfreq, stats
  WHERE tf.term = dfreq.term
    AND tf.doc_id IN (SELECT doc_id FROM hits)
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_phrase_prefix(query_text: str, k: int = 10,
                             table: str = "documents",
                             doc_col: str = "doc_id") -> str:
    """DuckDB SQL for the match-phrase-prefix spec: exact leading
    terms consecutive, immediately followed by any term starting with
    the trailing prefix; score = BM25 over the distinct exact terms +
    one synonym-group over the prefix completions (tf summed per doc,
    idf from the max completion df). The LIKE expansion is unguarded —
    gates must use prefixes whose expansion stays under the engine's
    ``max_expansions`` so both sides see the same candidate set."""
    import re as _re

    raw = [
        t
        for t in _re.split(r"[^\w]+", query_text.lower().replace("_", " "))
        if t
    ]
    prefix, exact = raw[-1], raw[:-1]
    like = prefix.replace("'", "''") + "%"
    terms = sorted(set(exact))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    term_filter = (
        f"(term IN ({in_list}) OR term LIKE '{like}')"
        if terms
        else f"term LIKE '{like}'"
    )
    m = len(exact)
    if exact:
        joins = []
        for i in range(1, m):
            w = exact[i].replace("'", "''")
            joins.append(
                f"  JOIN pos t{i} ON t{i}.doc_id = t0.doc_id "
                f"AND t{i}.term = '{w}' AND t{i}.p = t0.p + {i}"
            )
        joins.append(
            f"  JOIN pos c ON c.doc_id = t0.doc_id "
            f"AND c.term LIKE '{like}' AND c.p = t0.p + {m}"
        )
        w0 = exact[0].replace("'", "''")
        hits = (
            "  SELECT DISTINCT t0.doc_id\n  FROM pos t0\n"
            + "\n".join(joins)
            + f"\n  WHERE t0.term = '{w0}'"
        )
        ex_cte = f""", ex AS (
  SELECT tf.doc_id,
         sum(
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ) AS s
  FROM tf, dfreq, stats
  WHERE tf.term = dfreq.term AND tf.term IN ({in_list})
  GROUP BY tf.doc_id
)"""
        ex_join = "JOIN ex ON ex.doc_id = h.doc_id"
        ex_expr = "ex.s"
    else:
        hits = f"  SELECT DISTINCT doc_id FROM pos WHERE term LIKE '{like}'"
        ex_cte = ""
        ex_join = ""
        ex_expr = "0.0"
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
), pos0 AS (
  SELECT doc_id, unnest(tokens) AS term,
         generate_subscripts(tokens, 1) - 1 AS p
  FROM base_dl
), pos AS (
  SELECT doc_id, term, CAST(p AS BIGINT) AS p FROM pos0
  WHERE {term_filter}
), hits AS (
{hits}
), tok AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE {term_filter} GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), gmax AS (
  SELECT max(df) AS df FROM dfreq WHERE term LIKE '{like}'
), g AS (
  SELECT doc_id, sum(tf) AS tf, max(dl) AS dl
  FROM tf WHERE term LIKE '{like}' GROUP BY doc_id
){ex_cte}, scored AS (
  SELECT h.doc_id,
         round({ex_expr} +
            ln(1 + (stats.n - gmax.df + 0.5) / (gmax.df + 0.5))
            * (g.tf * ({bm25.K1} + 1)) /
              (g.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (g.dl / stats.avgdl))),
            {bm25.ROUND_DIGITS}) AS score
  FROM hits h
  JOIN g ON g.doc_id = h.doc_id
  {ex_join}, gmax, stats
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""
