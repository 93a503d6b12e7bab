"""BM25 top-k query engine.

Two paths, asserted rank-identical by tests:

1. ``score_exhaustive`` — pure declarative DataFrame plan over the raw
   docs table (tokenize → explode → df/idf join → group-sum → window
   top-k). This is the always-correct baseline and the shape the DuckDB
   oracle replicates; Catalyst handles pushdown/partial-agg/AQE.

2. ``IndexReader.search`` — over the built segments: dictionary lookup
   (parquet filter pushdown on (bucket, term)) → per-doc-range scoring
   with ``applyInPandas`` → global ``orderBy().limit(k)``. Only k rows
   per range ever leave an executor, and only k reach the driver —
   never a collect-then-finish (the reference's scale cliff at
   /root/reference/tlhop/shodan_library.py:277-284 is deliberately NOT
   reproduced).

   Range-local scoring has two modes:
   - ``exhaustive``: decode all blocks, vectorized numpy aggregation.
   - ``bmw`` (default): block-max pruning — doc-space-aligned chunk
     ranges let us compute, per block region, an upper bound
     Σ_t idf_t · block_max_w; regions are processed in descending UB
     order and the scan stops (exactly) once UB < the running k-th
     score. Skipped blocks are never varint-decoded.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    _create_row,
)
from pyspark.sql.window import Window

from tlhop_library_spark import bm25
from tlhop_library_spark.analyzer import py_tokens, tokens_col
from tlhop_library_spark.codecs import varint_decode
from tlhop_library_spark.index.boolq import (
    boolean_range_scorer,
    compile_query,
    subst_tids,
)
from tlhop_library_spark.index import layout
from tlhop_library_spark.index.layout import POS_SEGMENT_SCHEMA, SEGMENT_SCHEMA
from tlhop_library_spark.index.delete import load_tombstones
from tlhop_library_spark.index.phrase import (
    phrase_prefix_range_scorer,
    phrase_range_scorer,
    proximity_range_scorer,
    span_first_range_scorer,
    span_near_range_scorer,
    span_not_range_scorer,
)
from tlhop_library_spark.index.postings import (
    BlockReader,
    _cum_reset,
    empty_scores,
    iter_chunks,
    score_docs,
    sum_by_doc,
    term_postings,
    topk_frame,
)
from tlhop_library_spark.operators.relational import ranked_topk

#: two rounding ulps — see the block-max margin in _range_scorer
_EPS = 2.0 * 10.0 ** (-bm25.ROUND_DIGITS)

_SCORE_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)


#: every (rank, doc_id, score) answer, all fields nullable
_RANKED_SCHEMA = StructType(
    [
        StructField("rank", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)
_BATCH_RANKED_SCHEMA = StructType(
    [StructField("query_id", LongType())] + _RANKED_SCHEMA.fields
)
_FACET_SCHEMA = StructType(
    [StructField("facet", StringType()), StructField("n_docs", LongType())]
)
_TERM_VECTOR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("term", StringType()),
        StructField("tf", LongType()),
        StructField("dl", LongType()),
    ]
)
_SUGGEST_SCHEMA = StructType(
    [
        StructField("rank", IntegerType()),
        StructField("suggestion", StringType()),
        StructField("score", DoubleType()),
    ]
)
_SIG_TERMS_SCHEMA = StructType(
    [
        StructField("rank", IntegerType()),
        StructField("term", StringType()),
        StructField("fg_df", LongType()),
        StructField("bg_df", LongType()),
        StructField("score", DoubleType()),
    ]
)


class _LocalAnswer(ClassicDataFrame):
    """The DataFrame :func:`_local_frame` returns: a driver-held
    ``pyarrow.Table`` whose JVM relation is built on first ``_jdf``
    read."""

    def __new__(cls, *args):
        # the classic __new__ would run __init__ with (jdf, session)
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, schema: StructType, table):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._answer_schema = schema
        self._table = table
        self._built = None

    @property
    def _jdf(self):
        if self._built is None:
            try:
                self._built = self._session.createDataFrame(
                    self._table, self._answer_schema
                )._jdf
            except AttributeError as e:
                # an AttributeError out of a property falls through to
                # DataFrame.__getattr__, which would hide it
                raise RuntimeError(f"building the local relation: {e}") from e
        return self._built

    @property
    def schema(self) -> StructType:
        return self._answer_schema

    def collect(self) -> list:
        return self._rows(self._table)

    def take(self, num: int) -> list:
        # head() and first() go through take(); a negative num keeps
        # Spark's own error
        if num < 0:
            return super().take(num)
        return self._rows(self._table.slice(0, num))

    def _rows(self, table) -> list:
        names = self._answer_schema.names
        cols = [c.to_pylist() for c in table.columns]
        return [_create_row(names, vals) for vals in zip(*cols)]

    def count(self) -> int:
        return self._table.num_rows

    def toArrow(self):
        return self._table


@functools.lru_cache(maxsize=None)
def _arrow_schema(schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def _local_frame(
    spark: SparkSession, schema: StructType, columns: list | None = None
) -> DataFrame:
    """Driver-held ``columns`` (one array per ``schema`` field; none →
    zero rows) as a DataFrame over an Arrow table kept on the driver.

    ``collect``, ``take`` (so ``head`` and ``first``), ``count``,
    ``schema`` and ``toArrow`` answer from the table: no Py4J call, no
    Spark job. Every other call (``where``,
    ``join``, ``select``, ``orderBy``, ``toPandas``, ``write``,
    ``_jdf``...) first builds the Arrow local relation, once per
    answer. The optimizer sees an empty one is empty, so a plan over a
    zero-match hit stream collapses to an empty local scan instead of
    shuffling the other side of its joins. ``createDataFrame([], ddl)``
    is an RDD scan of unknown size: ~70 Py4J round trips to build and a
    real Spark job to collect. Answer schemas hold only int, long,
    double and string fields, which ``to_pylist`` turns into the same
    Python values Spark's ``collect`` gives."""
    import pyarrow as pa

    arrow = _arrow_schema(schema)
    if columns is None:
        table = arrow.empty_table()
    else:
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
            schema=arrow,
        )
    return _LocalAnswer(spark, schema, table)


def _merge_topk(parts: list, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, score) of the top ``k`` over per-range kernel outputs,
    merged exactly like the distributed ranked_topk: scores rounded,
    ordered by (score desc, doc_id asc)."""
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    r = np.round(
        np.concatenate([p["score"].to_numpy(np.float64) for p in parts]),
        bm25.ROUND_DIGITS,
    )
    d = np.concatenate([p["doc_id"].to_numpy(np.int64) for p in parts])
    order = np.lexsort((d, -r))[:k]
    return d[order], r[order]


def _ranges_apply(seg: DataFrame, scorer,
                  schema: "StructType | str" = _SCORE_SCHEMA) -> DataFrame:
    """Run a per-range kernel over a (pruned) segment frame: one
    ``applyInPandas`` group per doc range, output ``schema``."""
    return seg.groupBy("range_id").applyInPandas(
        lambda key, pdf: scorer(key, pdf), schema=schema
    )


def _rank(local: DataFrame, k: int) -> DataFrame:
    """Global top-k of per-range winners as (rank, doc_id, score):
    TakeOrderedAndProject over the ≤ k·n_ranges local winners (k per
    range leave the executors; kernels emit rounded scores), then rank
    the ≤ k survivors."""
    return ranked_topk(
        local, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


# ---------------------------------------------------------------------
# Path 1: exhaustive declarative scorer (no index required)
# ---------------------------------------------------------------------
def score_exhaustive(
    docs: DataFrame, query_text: str, k: int = 10, doc_col: str = "doc_id"
) -> DataFrame:
    """BM25 top-k via pure DataFrame ops. Returns (rank, doc_id, score).

    Plan shape (round 2 — no shuffle before the top-k, no global
    window): per-doc tf of each query term is computed JVM-side as
    ``size(filter(tokens, t -> t = term))`` — one narrow projection per
    doc instead of explode→shuffle→groupBy. Corpus stats (n, avgdl) and
    per-term df come from ONE aggregation over that projection,
    collected eagerly (a single small row) and folded into the scoring
    expression as literals. The final top-k is ``orderBy().limit(k)``
    (TakeOrderedAndProject: per-partition heaps, k rows per executor)
    + rank over the ≤k survivors — never a single-partition window over
    every scored doc.

    Costs two narrow scans of the corpus (stats pass + scoring pass),
    both pure scan→project with no exchange; the round-1 shape cost two
    scans PLUS an exploded-token shuffle plus the window's
    single-partition exchange.
    """
    terms = sorted(set(py_tokens(query_text)))
    if not terms:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)
    base = docs.where(F.col("text").isNotNull()).select(
        F.col(doc_col).cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("tokens"),
    )
    tf_cols = [
        F.size(F.filter("tokens", lambda t: t == F.lit(term))).alias(f"tf_{i}")
        for i, term in enumerate(terms)
    ]
    proj = base.select(
        "doc_id", F.size("tokens").alias("dl"), *tf_cols
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
            continue
        tf = F.col(f"tf_{i}")
        w_i = (tf * (bm25.K1 + 1.0)) / (
            tf
            + bm25.K1 * (1.0 - bm25.B + bm25.B * (F.col("dl") / F.lit(avgdl)))
        )
        score = score + F.lit(bm25.idf(n_docs, df_i)) * w_i
    any_hit = None
    for i in range(len(terms)):
        c = F.col(f"tf_{i}") > 0
        any_hit = c if any_hit is None else (any_hit | c)
    scored = proj.where(any_hit).select(
        "doc_id", F.round(score, bm25.ROUND_DIGITS).alias("score")
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


def snippet_col(text_col, terms: list[str], before: int = 40,
                width: int = 100):
    """Deterministic first-match snippet window: locate the first query
    term (in sorted-term order) present in the lowercased text, then
    take ``width`` chars starting ``before`` chars earlier (clamped to
    the text start); docs matching no term fall back to the prefix.
    Pure JVM expression (locate/substring are char-based, matching
    DuckDB strpos/substr for the oracle) — no UDF, so snippets ride
    the same whole-stage-codegen projection as the hit join."""
    pos = F.coalesce(
        *[
            F.nullif(F.locate(t, F.lower(text_col)), F.lit(0))
            for t in terms
        ],
        F.lit(1),
    )
    return F.substring(
        text_col, F.greatest(F.lit(1), pos - F.lit(before)), F.lit(width)
    )


def snippet_sql(text_expr: str, terms: list[str], before: int = 40,
                width: int = 100) -> str:
    """DuckDB replica of snippet_col (strpos/substr are char-based)."""
    firsts = ", ".join(
        f"nullif(strpos(lower({text_expr}), '{t}'), 0)" for t in terms
    )
    return (
        f"substr({text_expr}, greatest(1, coalesce({firsts}, 1) - "
        f"{before}), {width})"
    )


def _bm25_scored_cte(query_text: str, table: str, doc_col: str,
                     boosts: dict[str, float] | None = None) -> str:
    """Shared DuckDB CTE prefix ending in ``scored(doc_id, score)`` —
    every matching doc's OR-semantics BM25 score (optionally with
    per-term query boosts). Suffixed by the per-oracle final SELECT."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    boost_expr = ""
    if boosts and any(b != 1.0 for b in boosts.values()):
        cases = " ".join(
            f"WHEN '{t}' THEN {b!r}" for t, b in sorted(boosts.items())
        )
        boost_expr = f"(CASE tf.term {cases} ELSE 1.0 END) * "
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
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum({boost_expr}
            ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
  GROUP BY tf.doc_id
)"""


def oracle_sql_bm25(query_text: str, k: int = 10, table: str = "documents",
                    doc_col: str = "doc_id") -> str:
    """DuckDB SQL implementing the identical spec (oracle for the gate)."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
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
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_conjunctive(
    query_text: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """AND-semantics BM25 oracle: same scoring SQL, restricted to docs
    containing every query term."""
    terms = sorted(set(py_tokens(query_text)))
    base = oracle_sql_bm25(query_text, k, table, doc_col)
    return base.replace(
        "  GROUP BY tf.doc_id",
        f"  GROUP BY tf.doc_id\n  HAVING count(*) = {len(terms)}",
    )



def msm_range_scorer(tids: list[int], idf_map: dict, avgdl: float, k: int,
                     min_match: int,
                     deleted: "np.ndarray | None" = None):
    """applyInPandas kernel for minimum-should-match retrieval over
    ONE doc range (Lucene ``BooleanQuery.setMinimumNumberShouldMatch``
    semantics): a doc qualifies iff it contains at least ``min_match``
    DISTINCT query terms; qualifying docs are BM25-scored over every
    query term they contain. ``min_match == len(tids)`` is AND
    retrieval (:meth:`IndexReader.search_and`); ``min_match == 1``
    plain OR retrieval. Doc-space range partitioning makes the
    per-range count exact — a doc's postings live in exactly one
    range."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        per_term = term_postings(pdf, deleted, tids)
        # unlike AND, a range missing some terms can still qualify —
        # only fewer present terms than min_match makes it empty
        if len(per_term) < min_match:
            return empty_scores()
        present = sorted(per_term)
        # per-doc distinct-term count: each term's doc list is unique,
        # so concatenating and counting multiplicities counts terms
        alld = np.concatenate([per_term[t][0] for t in present])
        uniq, cnt = np.unique(alld, return_counts=True)
        return score_docs(
            per_term, present, idf_map, uniq[cnt >= min_match], avgdl, k
        )

    return score_range


def similarity_range_scorer(weight_of: dict, k: "int | None",
                            deleted: "np.ndarray | None" = None,
                            after: "tuple[float, int] | None" = None):
    """applyInPandas kernel for pluggable-similarity retrieval over ONE
    doc range: decode every chunk of the query terms (OR semantics),
    apply the per-tid vectorized weight closure from
    ``similarities.weight_fns``, accumulate per doc. Block-max bounds
    are BM25-specific, so this kernel always scans exhaustively within
    the range — the same work BM25 ``mode='exhaustive'`` does, with the
    same ≤ k rows leaving the range.

    ``after=(score, doc_id)``: cursor predicate applied INSIDE the
    kernel (keep docs strictly after the cursor in the
    (score DESC, doc_id ASC) total order) — per-range heaps stay size
    k at ANY paging depth, unlike offset paging whose heaps grow with
    the offset."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts_d, parts_s = [], []
        for tid, docs, tfs, dls in iter_chunks(pdf, deleted, weight_of):
            parts_d.append(docs)
            parts_s.append(weight_of[tid](tfs, dls))
        if not parts_d:
            return empty_scores()
        uniq, sums, _ = sum_by_doc(
            np.concatenate(parts_d), np.concatenate(parts_s)
        )
        if after is not None:
            r = np.round(sums, bm25.ROUND_DIGITS)
            a_s, a_d = float(after[0]), int(after[1])
            keep = (r < a_s) | ((r == a_s) & (uniq > a_d))
            uniq, sums = uniq[keep], sums[keep]
        return topk_frame(uniq, sums, k)

    return score_range


def dismax_range_scorer(weight_of: dict, k: int, tie_breaker: float,
                        deleted: "np.ndarray | None" = None):
    """applyInPandas kernel for DisjunctionMaxQuery retrieval over ONE
    doc range (Lucene ``DisMaxQuery``): per doc,
    ``score = max_t w_t + tie_breaker · (Σ_t w_t − max_t w_t)``.

    A (term, range) may arrive as several CHUNK rows after appends,
    but chunks are doc-DISJOINT (append.py:14 — each append batch owns
    a fresh doc-id range), so concatenating the decoded chunks yields
    exactly one posting per (doc, term) and the per-term unique/sum
    pass is a structural no-op that only canonicalizes ordering. It
    must never be asked to merge a same-doc split: for nonlinear BM25
    weights, weight(tf₁)+weight(tf₂) ≠ weight(tf₁+tf₂) — disjointness
    is the invariant that makes per-chunk weighting exact."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        td, tw = [], []
        for tid, (docs, tfs, dls) in term_postings(
            pdf, deleted, weight_of
        ).items():
            ud, uw, _ = sum_by_doc(docs, weight_of[tid](tfs, dls))
            td.append(ud)
            tw.append(uw)
        if not td:
            return empty_scores()
        allw = np.concatenate(tw)
        uniq, ssum, inv = sum_by_doc(np.concatenate(td), allw)
        smax = np.full(len(uniq), -np.inf, dtype=np.float64)
        np.maximum.at(smax, inv, allw)
        return topk_frame(uniq, smax + tie_breaker * (ssum - smax), k)

    return score_range

_BOOST_RE = None


def parse_boosted_query(query_text: str) -> dict[str, float]:
    """Lucene ``term^2.5`` query-boost syntax → analyzed term → boost.
    Clauses without ``^`` get boost 1.0; a clause whose term part
    analyzes to several tokens applies its boost to each; duplicate
    terms keep the LAST boost (Lucene parser behavior)."""
    import re

    global _BOOST_RE
    if _BOOST_RE is None:
        _BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$")
    boosts: dict[str, float] = {}
    for clause in query_text.split():
        m = _BOOST_RE.match(clause)
        raw, boost = (m.group(1), float(m.group(2))) if m else (clause, 1.0)
        for t in py_tokens(raw):
            boosts[t] = boost
    return boosts


def oracle_sql_bm25_boosted(
    boosted_query: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for per-term query boosts (``term^2.5`` syntax)."""
    boosts = parse_boosted_query(boosted_query)
    plain = " ".join(sorted(boosts))
    cte = _bm25_scored_cte(plain, table, doc_col, boosts=boosts)
    return f"""{cte}
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_after(
    query_text: str, cursor_rank: int, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for cursor paging: the cursor is the rank-
    ``cursor_rank`` row of the full ranking; the page is the next k
    rows strictly after it in (score DESC, doc_id ASC) order."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
), cur AS (
  SELECT score AS cs, doc_id AS cd FROM ranked WHERE rnk = {cursor_rank}
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored, cur
WHERE score < cur.cs OR (score = cur.cs AND doc_id > cur.cd)
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_dismax(
    query_text: str, k: int = 10, tie_breaker: float = 0.0,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for DisjunctionMax retrieval:
    score = max_t w_t + tie · (Σ_t w_t − max_t w_t)."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
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
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), termw AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * ({bm25.K1} + 1)) /
           (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         AS w
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
), scored AS (
  SELECT doc_id,
         round(max(w) + {tie_breaker!r} * (sum(w) - max(w)),
               {bm25.ROUND_DIGITS}) AS score
  FROM termw GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_sorted_by(
    query_text: str, field: str, k: int = 10, ascending: bool = True,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for field-sorted retrieval (Lucene Sort(SortField)):
    ALL matching docs, top-k by the metadata field, score carried."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    direction = "ASC" if ascending else "DESC"
    return f"""{cte}
SELECT CAST(row_number() OVER (
           ORDER BY d.{field} {direction}, s.doc_id ASC) AS INT) AS rank,
       s.doc_id, CAST(d.{field} AS BIGINT) AS {field}, s.score
FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_collapse(
    query_text: str, group_field: str, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for collapse/grouping retrieval (Lucene grouping module):
    best-scoring doc per group, top-k groups by that doc's score."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, joined AS (
  SELECT s.doc_id, s.score, d.{group_field} AS grp
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
), best AS (
  SELECT * FROM joined
  QUALIFY row_number() OVER (
      PARTITION BY grp ORDER BY score DESC, doc_id ASC) = 1
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       grp AS {group_field}, doc_id, score
FROM best
QUALIFY rank <= {k}
ORDER BY rank
"""


def decay_rank_hits(
    hits: DataFrame, docs: DataFrame, field: str, origin: float,
    scale: float, k: int, decay: float, offset: float, fn: str,
) -> DataFrame:
    """Shared decay re-ranking over a (doc_id, score) hit stream —
    used by :meth:`IndexReader.search_decay` and its sharded
    federation (the hit stream is the only index-dependent part)."""
    import math

    if fn not in ("gauss", "exp", "linear"):
        raise ValueError(f"unknown decay fn {fn!r}")
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    j = hits.join(
        docs.select(
            "doc_id", F.col(field).cast("double").alias("__x")
        ),
        "doc_id",
    )
    d = F.greatest(
        F.lit(0.0),
        F.abs(F.col("__x") - F.lit(float(origin))) - F.lit(float(offset)),
    )
    if fn == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * math.log(decay))
        factor = F.exp(-(d * d) / F.lit(2.0 * sigma2))
    elif fn == "exp":
        lam = math.log(decay) / float(scale)
        factor = F.exp(d * F.lit(lam))
    else:
        s = float(scale) / (1.0 - decay)
        factor = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
    factor = F.coalesce(factor, F.lit(1.0))  # NULL field → no decay
    scored = j.select(
        "doc_id",
        F.round(F.col("score") * factor, bm25.ROUND_DIGITS).alias("score"),
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


def group_topk_hits(
    hits: DataFrame, docs: DataFrame, group_field: str,
    n_groups: int, per_group: int,
) -> DataFrame:
    """Shared top_hits grouping over a (doc_id, score) hit stream —
    used by :meth:`IndexReader.search_group_topk` and its sharded
    federation (a group may span shards; the post-union window
    handles it exactly). NULL group keys form no bucket."""
    j = hits.join(
        docs.select("doc_id", group_field).where(
            F.col(group_field).isNotNull()
        ),
        "doc_id",
    )
    w = Window.partitionBy(group_field).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = j.withColumn(
        "hit_rank", F.row_number().over(w)
    ).where(F.col("hit_rank") <= per_group)
    top_groups = ranked_topk(
        ranked.where(F.col("hit_rank") == 1),
        [F.desc("score"), F.asc("doc_id")],
        n_groups,
    ).select(F.col("rank").alias("group_rank"), group_field)
    return (
        ranked.join(F.broadcast(top_groups), group_field)
        .select(
            "group_rank", group_field, "hit_rank", "doc_id", "score"
        )
        .orderBy("group_rank", "hit_rank")
    )


def counted_range_scorer(weight_of: dict,
                         deleted: "np.ndarray | None" = None):
    """applyInPandas kernel emitting ``(doc_id, score, n_matched)``
    for EVERY doc in one range matching any query term — the
    :func:`similarity_range_scorer` accumulation plus a per-doc
    DISTINCT-matched-term count (each term's doc list within a range
    is unique, so multiplicity over the concatenation counts terms).
    Feeds ``terms_set`` retrieval, where the k-cut can only happen
    AFTER the per-doc minimum-should-match join."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts_d, parts_s = [np.empty(0, np.int64)], [np.empty(0)]
        for tid, docs, tfs, dls in iter_chunks(pdf, deleted, weight_of):
            parts_d.append(docs)
            parts_s.append(weight_of[tid](tfs, dls))
        uniq, sums, inv = sum_by_doc(
            np.concatenate(parts_d), np.concatenate(parts_s)
        )
        return pd.DataFrame({
            "doc_id": uniq.astype(np.int64),
            "score": np.round(sums, bm25.ROUND_DIGITS),
            "n_matched": np.bincount(inv, minlength=len(uniq)).astype(
                np.int32
            ),
        })

    return score_range

def term_groups_range_scorer(tid_group: dict[int, int],
                             group_idf: dict[int, float], avgdl: float,
                             k: int, deleted: "np.ndarray | None" = None):
    """applyInPandas kernel for SynonymQuery-style groups over ONE
    doc range: ``tid_group`` maps each member tid to its group; per
    doc a group's members' tfs are SUMMED into one pseudo-term tf,
    weighted once with the group's idf (``group_idf``), and the
    groups' weights add up to the doc's score."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        per_group: dict[int, list] = {}
        for tid, docs, tfs, dls in iter_chunks(pdf, deleted, tid_group):
            per_group.setdefault(tid_group[tid], []).append((docs, tfs, dls))
        parts_d, parts_s = [], []
        for gi, chunks in per_group.items():
            docs, tfs, dls = (np.concatenate(c) for c in zip(*chunks))
            # SUM tf per doc across the group's members (a doc's dl is
            # identical in every member's posting)
            uniq, tf_sum, inv = sum_by_doc(docs, tfs.astype(np.float64))
            dl_u = np.zeros(len(uniq), dtype=np.float64)
            dl_u[inv] = dls.astype(np.float64)
            parts_d.append(uniq)
            parts_s.append(
                group_idf[gi] * bm25.tf_weight_np(tf_sum, dl_u, avgdl)
            )
        if not parts_d:
            return empty_scores()
        uniq, sums, _ = sum_by_doc(
            np.concatenate(parts_d), np.concatenate(parts_s)
        )
        return topk_frame(uniq, sums, k)

    return score_range


_DOC_POSTINGS_DDL = "doc_id long, tid long, tf long, dl long"


def _doc_postings(ids: np.ndarray):
    """applyInPandas kernel: one (doc_id, tid, tf, dl) row per posting
    of the range whose doc is in the sorted array ``ids`` — the decode
    half of term vectors, explain and more-like-this."""

    def emit(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [[np.empty(0, np.int64)] for _ in range(4)]
        for tid, docs, tfs, dls in iter_chunks(pdf):
            m = np.isin(docs, ids, assume_unique=True)
            hit = (docs[m], np.full(int(m.sum()), tid), tfs[m], dls[m])
            for out, v in zip(cols, hit):
                out.append(v.astype(np.int64))
        return pd.DataFrame({
            name: np.concatenate(v)
            for name, v in zip(("doc_id", "tid", "tf", "dl"), cols)
        })

    return emit


_COUNTED_SCHEMA = StructType(
    _SCORE_SCHEMA.fields + [StructField("n_matched", IntegerType())]
)


def boosting_rank_hits(
    pos: DataFrame, neg: DataFrame, k: int, negative_boost: float,
) -> DataFrame:
    """Shared ES ``boosting`` query re-rank over hit streams: docs
    matching the positive query keep their BM25 score, demoted by
    ``negative_boost`` iff they ALSO match the negative query (ES
    semantics: the negative clause never filters, only demotes). The
    join carries only the two matching sets; the k-cut is
    ``ranked_topk`` (TakeOrderedAndProject)."""
    if not (0.0 <= negative_boost <= 1.0):
        raise ValueError("negative_boost must be in [0, 1]")
    flags = neg.select("doc_id").distinct().withColumn("__neg", F.lit(1))
    demoted = pos.join(flags, "doc_id", "left").select(
        "doc_id",
        F.round(
            F.when(
                F.col("__neg").isNotNull(),
                F.col("score") * F.lit(float(negative_boost)),
            ).otherwise(F.col("score")),
            bm25.ROUND_DIGITS,
        ).alias("score"),
    )
    return ranked_topk(
        demoted, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


#: LCG constants for the deterministic random_score hash (public
#: glibc rand() multiplier/increment; two mixing rounds decorrelate
#: the score from doc_id order). NOT cryptographic — ES
#: ``random_score`` only promises a seeded, uniform-ish, stable
#: per-doc value, which this is, and unlike HLL-register or
#: xxhash-based choices it is exactly reproducible in ANSI SQL.
_RND_A = 1103515245
_RND_C = 12345
_RND_M = 2147483648


def random_rank_hits(hits: DataFrame, k: int, seed: int) -> DataFrame:
    """Shared ES ``function_score.random_score`` re-rank: each
    matching doc gets a seeded deterministic uniform score in [0, 1)
    (two LCG mixing rounds over (doc_id, seed), BIGINT-exact in both
    engines), top-k by (score DESC, doc_id ASC). Pure JVM column
    arithmetic — no shuffle beyond the ranked_topk reduce.

    doc_id is reduced mod 2^31 BEFORE the first multiply so every
    intermediate stays < 2^62: a raw ``doc_id * _RND_A`` overflows
    int64 for doc_id > ~8.36e9, where non-ANSI Spark wraps silently
    while the DuckDB oracle errors — at the advertised 10^12-doc
    scale the engines would diverge (round-3 ADVICE). The score is a
    pure function of (doc_id, seed), so shard layout cannot change
    it."""
    h0 = F.pmod(F.col("doc_id"), F.lit(_RND_M))
    h1 = F.pmod(
        h0 * F.lit(_RND_A) + F.lit(int(seed)),
        F.lit(_RND_M),
    )
    h2 = F.pmod(h1 * F.lit(_RND_A) + F.lit(_RND_C), F.lit(_RND_M))
    scored = hits.select(
        "doc_id",
        F.round(h2.cast("double") / F.lit(float(_RND_M)), 6).alias(
            "score"
        ),
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


def terms_set_rank_hits(
    counted: DataFrame, docs: DataFrame, msm_field: str, k: int,
) -> DataFrame:
    """Shared ES ``terms_set`` retrieval over a counted hit stream
    ``(doc_id, score, n_matched)``: a doc qualifies iff its DISTINCT
    matched-term count ≥ its OWN ``msm_field`` value
    (``minimum_should_match_field`` semantics; NULL field → never
    matches, ES contract). The k-cut happens only after the per-doc
    threshold join — the join carries the matching set, never the
    corpus."""
    req = docs.select(
        "doc_id", F.col(msm_field).cast("int").alias("__req")
    ).where(F.col("__req").isNotNull())
    kept = (
        counted.join(req, "doc_id")
        .where(F.col("n_matched") >= F.col("__req"))
        .select("doc_id", "score")
    )
    return ranked_topk(
        kept, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


def oracle_sql_bm25_boosting(
    positive: str, negative: str, k: int = 10,
    negative_boost: float = 0.5, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for the ES boosting query: positive BM25 scores,
    demoted (never filtered) where any analyzed negative term
    matches."""
    cte = _bm25_scored_cte(positive, table, doc_col)
    neg_terms = sorted(set(py_tokens(negative)))
    neg_list = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in neg_terms
    )
    return f"""{cte}, neg AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({neg_list})
), boosted AS (
  SELECT s.doc_id,
         round(s.score * CASE WHEN n.doc_id IS NOT NULL
                              THEN {negative_boost!r} ELSE 1.0 END,
               {bm25.ROUND_DIGITS}) AS score
  FROM scored s LEFT JOIN neg n ON n.doc_id = s.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank, doc_id, score
FROM boosted
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_random(
    query_text: str, k: int = 10, seed: int = 42,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for seeded random_score — identical LCG arithmetic
    (BIGINT-exact in both engines; doc_id pre-reduced mod 2^31 to
    keep every intermediate < 2^62, mirroring random_rank_hits)."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, rnd AS (
  SELECT doc_id,
         round(
           CAST(((((doc_id % {_RND_M}) * {_RND_A} + {seed}) % {_RND_M})
                  * {_RND_A} + {_RND_C}) % {_RND_M} AS DOUBLE)
           / {_RND_M}.0, 6) AS score
  FROM scored
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank, doc_id, score
FROM rnd
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_terms_set(
    query_text: str, msm_expr: str, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for terms_set: per-doc distinct matched-term count from
    the tf CTE vs a per-doc minimum expressed in SQL over the docs
    table (``msm_expr`` references columns as ``d.<col>``)."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, mc AS (
  SELECT doc_id, count(*) AS n_matched FROM tf GROUP BY doc_id
), kept AS (
  SELECT s.doc_id, s.score
  FROM scored s
  JOIN mc ON mc.doc_id = s.doc_id
  JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE ({msm_expr}) IS NOT NULL AND mc.n_matched >= ({msm_expr})
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank, doc_id, score
FROM kept
QUALIFY rank <= {k}
ORDER BY rank
"""


def diversified_rank_hits(
    hits: DataFrame, docs: DataFrame, field: str, max_per_key: int,
    k: int,
) -> DataFrame:
    """Shared ES ``diversified_sampler`` retrieval over a hit stream:
    top-k by BM25 with AT MOST ``max_per_key`` docs per distinct
    ``field`` value (result diversity — e.g. ≤2 hits per domain).
    Docs whose field is NULL are never capped (ES contract: docs
    without the de-duplication value are not de-duplicated).

    Unlike ES — whose sampler is per-shard and therefore
    layout-dependent — the cap here is GLOBAL and deterministic:
    the per-key window ranks by (score DESC, doc_id ASC), so results
    are reproducible under any partitioning. Scale shape: one window
    shuffle partitioned BY THE KEY over the matching set only (never
    the corpus), then the usual ``ranked_topk``
    (TakeOrderedAndProject) k-cut."""
    if max_per_key < 1:
        raise ValueError("max_per_key must be >= 1")
    keyed = hits.join(
        docs.select("doc_id", F.col(field).alias("__key")),
        "doc_id", "left",
    )
    w = Window.partitionBy("__key").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    kept = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(
            F.col("__key").isNull()
            | (F.col("__rn") <= F.lit(int(max_per_key)))
        )
        .select("doc_id", "score")
    )
    return ranked_topk(
        kept, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


def rank_feature_rank_hits(
    hits: DataFrame, docs: DataFrame, field: str, k: int,
    function: str = "saturation", pivot: float = 1.0,
    boost: float = 1.0,
) -> DataFrame:
    """Shared ES ``rank_feature`` query combined with the BM25 text
    score (the standard ES ``bool: [match, rank_feature]`` shape):
    ``final = round(bm25 + boost · f(feature), 4)`` where ``f`` is

    - ``saturation``: ``feature / (feature + pivot)`` (ES default;
      pivot must be given explicitly — ES's implicit geometric-mean
      pivot is index-statistics-dependent and would not be
      engine-reproducible), or
    - ``log``: ``ln(1 + feature)`` (ES ``log`` with
      ``scaling_factor=1``).

    Docs whose feature is NULL or negative contribute 0 for the
    feature clause (ES: missing feature → clause does not match).
    Pure JVM column arithmetic over the matching set; the k-cut is
    ``ranked_topk``."""
    if function not in ("saturation", "log"):
        raise ValueError("function must be 'saturation' or 'log'")
    if function == "saturation" and not pivot > 0:
        raise ValueError("saturation needs pivot > 0")
    feat = docs.select(
        "doc_id", F.col(field).cast("double").alias("__f")
    )
    j = hits.join(feat, "doc_id", "left")
    f = F.when(
        F.col("__f").isNotNull() & (F.col("__f") >= 0), F.col("__f")
    )
    if function == "saturation":
        clause = f / (f + F.lit(float(pivot)))
    else:
        clause = F.log(F.lit(1.0) + f)
    scored = j.select(
        "doc_id",
        F.round(
            F.col("score")
            + F.coalesce(
                F.lit(float(boost)) * clause, F.lit(0.0)
            ),
            bm25.ROUND_DIGITS,
        ).alias("score"),
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "score")


#: Sentinel base for pinned-hit scores — mirrors ES's
#: ``PinnedQueryBuilder`` giving promoted docs scores far above any
#: organic BM25 score, decreasing along the pinned list so the list
#: order IS the score order.
_PINNED_BASE = 1.0e9


def pinned_rank_hits(
    hits: DataFrame, docs: DataFrame, pinned_ids: list[int], k: int,
) -> DataFrame:
    """Shared ES ``pinned`` query: the docs in ``pinned_ids`` rank
    first IN LIST ORDER (provided they exist in ``docs`` — missing
    ids are skipped silently, ES contract), followed by the organic
    BM25 ranking with the pinned docs removed. Pinned docs score
    ``1e9 − position`` (the ES huge-sentinel shape, engine-exact in
    doubles); organic scores are untouched.

    The pinned list is a query parameter (human-curated, tens of
    ids) — it ships as a broadcast literal frame; the organic stream
    is never collected. One anti-join + union + ``ranked_topk``."""
    if not pinned_ids:
        return ranked_topk(
            hits.select("doc_id", "score"),
            [F.desc("score"), F.asc("doc_id")], k,
        ).select("rank", "doc_id", "score")
    if len(set(pinned_ids)) != len(pinned_ids):
        raise ValueError("pinned_ids must be distinct")
    spark = hits.sparkSession
    pin = spark.createDataFrame(
        [(int(d), i) for i, d in enumerate(pinned_ids)],
        "doc_id long, __pos int",
    )
    live_pins = (
        pin.join(docs.select("doc_id"), "doc_id", "left_semi")
        .select(
            "doc_id",
            F.round(
                F.lit(_PINNED_BASE) - F.col("__pos").cast("double"),
                bm25.ROUND_DIGITS,
            ).alias("score"),
        )
    )
    organic = hits.join(
        F.broadcast(pin.select("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", "score")
    return ranked_topk(
        live_pins.unionByName(organic),
        [F.desc("score"), F.asc("doc_id")], k,
    ).select("rank", "doc_id", "score")


def multi_terms_agg_hits(
    hits: DataFrame, docs: DataFrame, fields: list[str], size: int,
) -> DataFrame:
    """Shared ES ``multi_terms`` aggregation: top-``size`` buckets of
    the COMPOSITE key ``fields`` (two or more metadata columns) over
    the matching set, ordered by (doc_count DESC, key ASC) — the ES
    default ordering. Docs missing ANY key field form no bucket (ES
    contract).

    One semi-join (matching set only) + one hash agg on the composite
    key + a ``ranked_topk`` bucket cut — never materializes more than
    the bucket list."""
    if len(fields) < 2:
        raise ValueError("multi_terms needs >= 2 fields")
    j = docs.join(hits.select("doc_id"), "doc_id", "left_semi")
    for f_ in fields:
        j = j.where(F.col(f_).isNotNull())
    agg = j.groupBy(*fields).agg(
        F.count("*").cast("long").alias("doc_count")
    )
    return ranked_topk(
        agg,
        [F.desc("doc_count")] + [F.asc(f_) for f_ in fields],
        size,
    ).select("rank", *fields, "doc_count")


def adjacency_matrix_hits(
    streams: dict[str, DataFrame],
) -> DataFrame:
    """Shared ES ``adjacency_matrix`` aggregation: given named
    matching sets (filter name → (doc_id, …) hit stream), one row per
    non-empty bucket — the singleton buckets (``key1 = key2``: docs
    matching that filter) and every pairwise intersection
    (``key1 < key2``: docs matching both), with ES's
    lexicographically-ordered pair keys. Empty intersections emit no
    row (ES contract).

    Scale shape: the labeled streams union (each already corpus-
    pruned), one self-equi-join ON doc_id (never a cross product —
    the join key is the doc), one hash agg on the pair key. With
    ``n`` filters a doc matching ``m`` of them contributes
    ``m·(m+1)/2`` pair rows — bounded by the filter count, not the
    corpus."""
    if not streams:
        raise ValueError("adjacency_matrix needs >= 1 named filter")
    labeled = None
    for name in sorted(streams):
        s = streams[name].select(
            F.lit(name).alias("key"), "doc_id"
        ).distinct()
        labeled = s if labeled is None else labeled.unionByName(s)
    left = labeled.select(
        F.col("key").alias("key1"), "doc_id"
    )
    right = labeled.select(
        F.col("key").alias("key2"), "doc_id"
    )
    pairs = left.join(right, "doc_id").where(
        F.col("key1") <= F.col("key2")
    )
    return (
        pairs.groupBy("key1", "key2")
        .agg(F.count("*").cast("long").alias("doc_count"))
    )


def histogram_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str, interval: float,
) -> DataFrame:
    """Shared ES ``histogram`` aggregation over a hit stream:
    fixed-``interval`` numeric buckets of the matching docs' field,
    key = ``floor(v / interval) * interval`` (ES's bucket rule,
    offset 0), emitted key-ascending. Only NON-EMPTY buckets are
    emitted (ES ``min_doc_count: 1`` — the empty-bucket fill of
    ``min_doc_count: 0`` is presentation, not aggregation, and is
    left to the caller). NULL fields are ignored (ES missing-value
    semantics).

    One semi-join + one hash agg on the derived key; bucket
    cardinality is bounded by the value range / interval, never the
    corpus. ``floor`` is computed identically in Spark and the
    oracle (BIGINT quotient × interval) so keys are engine-exact."""
    if not interval > 0:
        raise ValueError("interval must be > 0")
    v = F.col(field).cast("double")
    keyed = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull())
        .select(
            (F.floor(v / F.lit(float(interval)))
             * F.lit(float(interval))).alias("bucket_key")
        )
    )
    return (
        keyed.groupBy("bucket_key")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("bucket_key")
    )


def terms_stats_agg_hits(
    hits: DataFrame, docs: DataFrame, key_field: str,
    metric_field: str, size: int,
) -> DataFrame:
    """Shared ES ``terms`` aggregation with a ``stats`` sub-agg: the
    top-``size`` buckets of ``key_field`` over the matching set
    ((doc_count DESC, key ASC) — the ES default bucket order), each
    row carrying the bucket's metric stats (cnt/min/max/sum/avg over
    NON-NULL metric values; ES stats sub-agg ignores docs missing
    the metric, but they still count in doc_count). NULL keys form
    no bucket (ES contract).

    One semi-join + ONE hash agg computing buckets and sub-agg
    partials together (no second pass), then the ``ranked_topk``
    bucket cut — the ES sub-agg tree collapses into a single
    distributed aggregation."""
    m = F.col(metric_field).cast("double")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(key_field).isNotNull())
    )
    agg = j.groupBy(key_field).agg(
        F.count("*").cast("long").alias("doc_count"),
        F.count(m).cast("long").alias("cnt"),
        F.min(m).alias("min_v"),
        F.max(m).alias("max_v"),
        F.sum(m).alias("sum_v"),
        F.round(F.sum(m) / F.count(m), 4).alias("avg_v"),
    )
    return ranked_topk(
        agg, [F.desc("doc_count"), F.asc(key_field)], size
    ).select(
        "rank", key_field, "doc_count", "cnt", "min_v", "max_v",
        "sum_v", "avg_v",
    )


def weighted_avg_agg_hits(
    hits: DataFrame, docs: DataFrame, value_field: str,
    weight_field: str,
) -> DataFrame:
    """Shared ES ``weighted_avg`` aggregation over the matching set:
    ``Σ(value·weight) / Σ(weight)`` over docs where BOTH fields are
    non-NULL (ES skips docs missing either), rounded to 4 digits,
    plus the contributing-doc count. One row; exact double partials
    reduce order-independently for integer-valued fields. All-NULL
    or zero-total-weight matching sets yield a NULL average (SQL
    division semantics in both engines — no sentinel invented)."""
    v = F.col(value_field).cast("double")
    w = F.col(weight_field).cast("double")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull() & w.isNotNull())
    )
    return j.agg(
        F.round(F.sum(v * w) / F.sum(w), 4).alias("weighted_avg"),
        F.count("*").cast("long").alias("n_used"),
    )


def percentiles_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
    percentiles: "list[float] | None" = None,
    approx: bool = False, accuracy: int = 10000,
) -> DataFrame:
    """Shared ES ``percentiles`` aggregation over the matching set.
    NULLs ignored. One row, a ``p<pct>`` column per requested
    percentile, rounded to 4 digits.

    Scale contract — two paths:

    - ``approx=False`` (oracle path): EXACT ``F.percentile`` (linear
      interpolation ≡ DuckDB ``quantile_cont``), engine-reproducible
      and layout-independent — but Spark's exact Percentile partial
      buffer is a value→count map of ALL DISTINCT values of the
      matching set. Fine for bounded-int fields (n_chars); for a
      continuous/high-cardinality field under a stopword query at
      10^12 docs the buffer is corpus-sized — OOM, not slow.
    - ``approx=True`` (the at-scale default for continuous fields):
      ``F.approx_percentile`` — Spark's bounded, mergeable
      Greenwald-Khanna summary (the same reason ES serves this agg
      from TDigest). Memory is O(accuracy · log n) per partial
      regardless of cardinality; guaranteed rank error ≤
      1/accuracy. All requested percentiles share ONE sketch, whose
      partials merge across shards like any other partial agg."""
    ps = [0.25, 0.5, 0.75] if percentiles is None else list(percentiles)
    if not ps or not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError("percentiles must be within [0, 1]")
    v = F.col(field).cast("double")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull())
    )
    names = ["p" + str(int(round(p * 100))) for p in ps]
    if approx:
        sketch = F.approx_percentile(
            v,
            F.array(*[F.lit(float(p)) for p in ps]),
            F.lit(int(accuracy)),
        )
        return j.agg(sketch.alias("_ps")).select(
            *[
                F.round(F.element_at("_ps", i + 1), 4).alias(n)
                for i, n in enumerate(names)
            ]
        )
    cols = [
        F.round(F.percentile(v, F.lit(float(p))), 4).alias(n)
        for p, n in zip(ps, names)
    ]
    return j.agg(*cols)


def percentile_ranks_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
    values: list[float],
) -> DataFrame:
    """ES ``percentile_ranks`` aggregation — the inverse of
    ``percentiles``: for each requested value, the percentage of the
    matching set's non-NULL field values that are <= it. EXACT (a
    count_if per requested value over one pass — ES serves this from
    the same TDigest as percentiles; exactness is what makes the
    result engine-reproducible), rendered relationally as one row per
    distinct requested value, ascending: (value, pct), pct rounded
    to 4 — repeated values collapse to one row, and an empty matching
    set gives NULL pct, as in the SQL oracle.

    One semi-join + ONE single-row aggregation computing every
    requested value's count simultaneously — |values| is the only
    growth axis, never the corpus."""
    if not values:
        raise ValueError("values must be non-empty")
    vs = sorted({float(x) for x in values})
    v = F.col(field).cast("double")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull())
    )
    agg = j.agg(
        F.count("*").alias("_n"),
        *[
            F.count_if(v <= F.lit(x)).alias(f"_c{i}")
            for i, x in enumerate(vs)
        ],
    )
    spark = docs.sparkSession
    rows = spark.createDataFrame(
        [(i, x) for i, x in enumerate(vs)], "i int, value double"
    )
    cases = F.lit(None).cast("long")
    for i in range(len(vs)):
        cases = F.when(F.col("i") == i, F.col(f"_c{i}")).otherwise(cases)
    return (
        rows.crossJoin(F.broadcast(agg))
        .select(
            "value",
            F.round(F.try_divide(cases * 100.0, F.col("_n")), 4)
            .alias("pct"),
        )
        .orderBy("value")
    )


def mad_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
) -> DataFrame:
    """ES ``median_absolute_deviation`` aggregation — EXACT:
    median(|v − median(v)|) with linear-interpolated medians
    (``F.percentile`` ≡ DuckDB ``quantile_cont``; ES approximates
    both medians with TDigest). One row (mad, n_used), rounded to 4.

    Two passes over the matching values (median, then deviations) —
    the exact two-phase algorithm; each pass is one shuffle of the
    matching set's values. The exact-percentile scale ceiling of
    :func:`percentiles_agg_hits` applies — for continuous fields at
    10^12 docs use ``approx_percentile`` percentiles instead.

    The first median is collected EAGERLY (one Spark job at call
    time, before the returned frame is used). An empty matching set
    gives one row (mad NULL, n_used 0), like the SQL oracle. Both
    medians run over the whole (for a federation: unioned) matching
    set — exactness, not TDigest, is what makes a federated MAD equal
    the single-index one."""
    v = F.col(field).cast("double")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull())
        .select(v.alias("v"))
    )
    med_row = j.agg(F.percentile("v", F.lit(0.5)).alias("m")).collect()[0]
    if med_row["m"] is None:
        return j.agg(
            F.lit(None).cast("double").alias("mad"),
            F.count("*").cast("long").alias("n_used"),
        )
    med = float(med_row["m"])
    return j.select(F.abs(F.col("v") - F.lit(med)).alias("d")).agg(
        F.round(F.percentile("d", F.lit(0.5)), 4).alias("mad"),
        F.count("*").cast("long").alias("n_used"),
    )


def boxplot_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
) -> DataFrame:
    """ES ``boxplot`` aggregation — EXACT (ES uses TDigest): min, q1,
    median, q3, max of the matching set's non-NULL field values in
    one aggregation pass (the three quartiles share the exact
    Percentile buffer). One row, rounded to 4. Inherits the
    exact-percentile scale ceiling documented on
    :func:`percentiles_agg_hits`."""
    v = F.col(field).cast("double")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull())
    )
    return j.agg(
        F.round(F.min(v), 4).alias("min_v"),
        F.round(F.percentile(v, F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile(v, F.lit(0.5)), 4).alias("q2"),
        F.round(F.percentile(v, F.lit(0.75)), 4).alias("q3"),
        F.round(F.max(v), 4).alias("max_v"),
        F.count("*").cast("long").alias("n_used"),
    )


def string_stats_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
) -> DataFrame:
    """ES ``string_stats`` aggregation: count, min/max/avg length,
    and the Shannon entropy (bits) of the CHARACTER distribution
    across every non-NULL value of the matching set. One row.

    Scale shape: lengths reduce in one agg over the semi-joined scan;
    the entropy pass explodes characters and aggregates per distinct
    character — the shuffle is |alphabet|-sized (the per-partition
    partial agg collapses each partition to its distinct characters
    first), never corpus-sized. Per-character p·log2(p) terms sum in
    double precision (relative error ~1e-15 against the 4-decimal
    round, so summation order cannot flip the result across
    engines). The character counts reduce over the whole (for a
    federation: unioned) matching set BEFORE the entropy sum — a
    per-shard entropy would not merge."""
    j = docs.join(hits.select("doc_id"), "doc_id", "left_semi").where(
        F.col(field).isNotNull()
    )
    lengths = j.agg(
        F.count("*").cast("long").alias("cnt"),
        F.min(F.length(field)).cast("long").alias("min_length"),
        F.max(F.length(field)).cast("long").alias("max_length"),
        F.round(F.avg(F.length(field)), 4).alias("avg_length"),
    )
    chars = (
        j.select(F.explode(F.split(F.col(field), "")).alias("c"))
        .groupBy("c")
        .agg(F.count("*").alias("n"))
    )
    log2 = F.log(F.lit(2.0))
    total = chars.agg(F.sum("n").cast("double").alias("tot"))
    p = F.col("n") / F.col("tot")
    ent = (
        chars.crossJoin(F.broadcast(total))
        .select((p * (F.log(p) / log2)).alias("term"))
        .agg(F.round(-F.sum("term"), 4).alias("entropy"))
    )
    return lengths.crossJoin(F.broadcast(ent))


def top_metrics_agg_hits(
    hits: DataFrame, docs: DataFrame, sort_field: str,
    metric_field: str, size: int = 1, asc: bool = False,
) -> DataFrame:
    """ES ``top_metrics`` aggregation: the metric values of the
    ``size`` docs with the largest (or smallest) ``sort_field`` in
    the matching set — (rank, sort_value, metric, doc_id), doc_id
    ascending tiebreak. A ``ranked_topk`` cut
    (TakeOrderedAndProject), never a global sort."""
    if size < 1:
        raise ValueError("size must be >= 1")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(sort_field).isNotNull())
        .select(
            "doc_id",
            F.col(sort_field).cast("double").alias("sort_value"),
            F.col(metric_field).cast("double").alias("metric"),
        )
    )
    order = [
        F.asc("sort_value") if asc else F.desc("sort_value"),
        F.asc("doc_id"),
    ]
    return ranked_topk(j, order, size).select(
        "rank", "doc_id", "sort_value", "metric"
    )


def t_test_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str, group_field: str,
) -> DataFrame:
    """ES ``t_test`` aggregation (heteroscedastic / Welch): the
    t-statistic between the matching docs where ``group_field`` is
    true (group a) and false (group b). Returns one row
    (t_stat, n_a, n_b, mean_a, mean_b), rounded to 4.

    Deviation from ES, documented: ES renders a p-value (Student-t
    CDF), which is not reproducible in portable SQL; the statistic
    itself comes from one aggregation pass (n, mean and ``var_samp``
    per group: centered moments, so values far from zero keep their
    spread, where Σx² − (Σx)²/n cancels), and a client converts it to
    a p-value with any t-distribution table. NULL field or NULL group
    rows are ignored."""
    v = F.col(field).cast("double")
    g = F.col(group_field).cast("boolean")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(v.isNotNull() & g.isNotNull())
        .select(v.alias("v"), g.alias("g"))
    )
    a = F.when(F.col("g"), F.col("v"))
    b = F.when(~F.col("g"), F.col("v"))
    agg = j.agg(
        F.count_if(F.col("g")).cast("long").alias("n_a"),
        F.count_if(~F.col("g")).cast("long").alias("n_b"),
        F.avg(a).alias("mean_a"),
        F.avg(b).alias("mean_b"),
        F.var_samp(a).alias("var_a"),
        F.var_samp(b).alias("var_b"),
    )
    mean_a, mean_b = F.col("mean_a"), F.col("mean_b")
    var_a, var_b = F.col("var_a"), F.col("var_b")
    denom = F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return agg.select(
        F.round((mean_a - mean_b) / denom, 4).alias("t_stat"),
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
    )


def oracle_sql_boxplot(
    query_text: str, field: str,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, vals AS (
  SELECT CAST(d.{field} AS DOUBLE) AS v
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL
)
SELECT round(min(v), 4) AS min_v,
       round(quantile_cont(v, 0.25), 4) AS q1,
       round(quantile_cont(v, 0.5), 4) AS q2,
       round(quantile_cont(v, 0.75), 4) AS q3,
       round(max(v), 4) AS max_v,
       CAST(count(*) AS BIGINT) AS n_used
FROM vals
"""


def oracle_sql_string_stats(
    query_text: str, field: str,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, vals AS (
  SELECT d.{field} AS t
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL
), lens AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         CAST(min(length(t)) AS BIGINT) AS min_length,
         CAST(max(length(t)) AS BIGINT) AS max_length,
         round(avg(length(t)), 4) AS avg_length
  FROM vals
), chars AS (
  SELECT c, CAST(count(*) AS DOUBLE) AS n
  FROM (SELECT unnest(string_split(t, '')) AS c FROM vals)
  GROUP BY c
), ent AS (
  SELECT round(-sum((n / tot) * (ln(n / tot) / ln(2.0))), 4)
           AS entropy
  FROM (SELECT c, n, sum(n) OVER () AS tot FROM chars)
)
SELECT lens.*, ent.entropy FROM lens, ent
"""


def oracle_sql_top_metrics(
    query_text: str, sort_field: str, metric_field: str,
    size: int = 1, asc: bool = False,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    cte = _bm25_scored_cte(query_text, table, doc_col)
    direction = "ASC" if asc else "DESC"
    return f"""{cte}, vals AS (
  SELECT d.{doc_col} AS doc_id,
         CAST(d.{sort_field} AS DOUBLE) AS sort_value,
         CAST(d.{metric_field} AS DOUBLE) AS metric
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{sort_field} IS NOT NULL
)
SELECT CAST(row_number() OVER (
         ORDER BY sort_value {direction}, doc_id ASC) AS INT) AS rank,
       doc_id, sort_value, metric
FROM vals
QUALIFY rank <= {int(size)}
ORDER BY rank
"""


def oracle_sql_t_test(
    query_text: str, field: str, group_expr: str,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """``group_expr`` is a boolean SQL expression over alias ``d``
    replicating the Spark side's group column."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, vals AS (
  SELECT CAST(d.{field} AS DOUBLE) AS v, ({group_expr}) AS g
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL AND ({group_expr}) IS NOT NULL
), agg AS (
  SELECT CAST(count(*) FILTER (g) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (NOT g) AS BIGINT) AS n_b,
         sum(v) FILTER (g) AS s_a,
         sum(v) FILTER (NOT g) AS s_b,
         sum(v*v) FILTER (g) AS ss_a,
         sum(v*v) FILTER (NOT g) AS ss_b
  FROM vals
)
SELECT round((s_a/n_a - s_b/n_b) / sqrt(
         ((ss_a - s_a*s_a/n_a) / (n_a - 1)) / n_a
         + ((ss_b - s_b*s_b/n_b) / (n_b - 1)) / n_b), 4) AS t_stat,
       n_a, n_b,
       round(s_a/n_a, 4) AS mean_a,
       round(s_b/n_b, 4) AS mean_b
FROM agg
"""


def oracle_sql_percentile_ranks(
    query_text: str, field: str, values: list[float],
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`percentile_ranks_agg_hits`."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    vals = ", ".join(f"({float(x)!r})" for x in sorted(set(values)))
    return f"""{cte}, vals AS (
  SELECT CAST(d.{field} AS DOUBLE) AS v
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL
), req(value) AS (VALUES {vals})
SELECT r.value,
       round(100.0 * (SELECT count(*) FROM vals WHERE v <= r.value)
             / (SELECT count(*) FROM vals), 4) AS pct
FROM req r
ORDER BY r.value
"""


def oracle_sql_mad(
    query_text: str, field: str,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`mad_agg_hits` — quantile_cont twice,
    identical interpolation."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, vals AS (
  SELECT CAST(d.{field} AS DOUBLE) AS v
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL
), med AS (SELECT quantile_cont(v, 0.5) AS m FROM vals)
SELECT round(quantile_cont(abs(v - (SELECT m FROM med)), 0.5), 4)
         AS mad,
       CAST(count(*) AS BIGINT) AS n_used
FROM vals
"""


def missing_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
) -> DataFrame:
    """Shared ES ``missing`` aggregation: how many matching docs have
    no value for ``field``. One semi-join + one-row agg."""
    j = docs.join(hits.select("doc_id"), "doc_id", "left_semi")
    return j.agg(
        F.count(F.when(F.col(field).isNull(), 1))
        .cast("long")
        .alias("missing_count")
    )


def rare_terms_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str,
    max_doc_count: int = 1, max_buckets: int = 1000,
) -> DataFrame:
    """Shared ES ``rare_terms`` aggregation: the long-tail buckets —
    field values appearing in at most ``max_doc_count`` matching
    docs, ordered (doc_count ASC, key ASC). ES bounds the result
    with a CuckooFilter approximation; this is EXACT but cut to
    ``max_buckets`` via ``ranked_topk`` (per-partition heaps) — at
    web scale the rare tail of a high-cardinality field is
    corpus-sized, so an explicit bucket budget replaces ES's
    probabilistic one. NULL keys form no bucket."""
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(field).isNotNull())
    )
    agg = (
        j.groupBy(field)
        .agg(F.count("*").cast("long").alias("doc_count"))
        .where(F.col("doc_count") <= int(max_doc_count))
    )
    return ranked_topk(
        agg, [F.asc("doc_count"), F.asc(field)], max_buckets
    ).select("rank", field, "doc_count")


def oracle_sql_facet_percentiles(
    query_text: str, field: str,
    percentiles: "list[float] | None" = None,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the exact percentiles agg — ``quantile_cont`` is
    the same linear-interpolation definition as ``F.percentile``."""
    ps = [0.25, 0.5, 0.75] if percentiles is None else list(percentiles)
    cte = _bm25_scored_cte(query_text, table, doc_col)
    cols = ", ".join(
        f"round(quantile_cont(CAST(d.{field} AS DOUBLE), {float(p)!r}), 4)"
        f" AS p{int(round(p * 100))}"
        for p in ps
    )
    return f"""{cte}
SELECT {cols}
FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
WHERE d.{field} IS NOT NULL
"""


def oracle_sql_facet_missing(
    query_text: str, field: str, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for the missing agg."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}
SELECT CAST(count(CASE WHEN d.{field} IS NULL THEN 1 END) AS BIGINT)
         AS missing_count
FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
"""


def oracle_sql_facet_rare_terms(
    query_text: str, field: str, max_doc_count: int = 1,
    max_buckets: int = 1000, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for rare_terms — exact tail buckets, same cut."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, buckets AS (
  SELECT d.{field}, CAST(count(*) AS BIGINT) AS doc_count
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL
  GROUP BY d.{field}
  HAVING count(*) <= {int(max_doc_count)}
)
SELECT CAST(row_number() OVER (ORDER BY doc_count ASC,
                               {field} ASC) AS INT) AS rank,
       {field}, doc_count
FROM buckets
QUALIFY rank <= {int(max_buckets)}
ORDER BY rank
"""


def oracle_sql_facet_histogram(
    query_text: str, field: str, interval: float,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the histogram aggregation — identical BIGINT
    floor-quotient bucket keys."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    iv = float(interval)
    return f"""{cte}
SELECT CAST(floor(CAST(d.{field} AS DOUBLE)
                  / CAST({iv!r} AS DOUBLE)) AS BIGINT)
         * CAST({iv!r} AS DOUBLE) AS bucket_key,
       CAST(count(*) AS BIGINT) AS doc_count
FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
WHERE d.{field} IS NOT NULL
GROUP BY bucket_key
ORDER BY bucket_key
"""


def oracle_sql_facet_terms_stats(
    query_text: str, key_field: str, metric_field: str, size: int,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for terms+stats — sub-agg partials recomputed per
    bucket with the identical NULL rules."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, buckets AS (
  SELECT d.{key_field},
         CAST(count(*) AS BIGINT) AS doc_count,
         CAST(count(CAST(d.{metric_field} AS DOUBLE)) AS BIGINT) AS cnt,
         min(CAST(d.{metric_field} AS DOUBLE)) AS min_v,
         max(CAST(d.{metric_field} AS DOUBLE)) AS max_v,
         sum(CAST(d.{metric_field} AS DOUBLE)) AS sum_v,
         round(sum(CAST(d.{metric_field} AS DOUBLE))
               / count(CAST(d.{metric_field} AS DOUBLE)), 4) AS avg_v
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{key_field} IS NOT NULL
  GROUP BY d.{key_field}
)
SELECT CAST(row_number() OVER (ORDER BY doc_count DESC,
                               {key_field} ASC) AS INT) AS rank,
       {key_field}, doc_count, cnt, min_v, max_v, sum_v, avg_v
FROM buckets
QUALIFY rank <= {size}
ORDER BY rank
"""


def oracle_sql_facet_weighted_avg(
    query_text: str, value_field: str, weight_field: str,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for weighted_avg — identical both-non-NULL filter and
    rounding."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}
SELECT round(sum(CAST(d.{value_field} AS DOUBLE)
                 * CAST(d.{weight_field} AS DOUBLE))
             / sum(CAST(d.{weight_field} AS DOUBLE)), 4)
         AS weighted_avg,
       CAST(count(*) AS BIGINT) AS n_used
FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
WHERE d.{value_field} IS NOT NULL AND d.{weight_field} IS NOT NULL
"""


def filters_agg_hits(
    streams: dict[str, DataFrame], docs: "DataFrame | None" = None,
) -> DataFrame:
    """Shared ES ``filters`` aggregation: one row per named filter
    with its matching-doc count; when ``docs`` is given, an
    ``__other__`` row counts context docs (non-NULL text) matching
    NO filter (ES ``other_bucket: true``). Fully declarative — the
    per-name counts are one-row aggs over the already-pruned hit
    streams, and the other-bucket is one anti-join + count; nothing
    is collected at build time.

    With tombstones, pass the index's own live-docs view (e.g.
    ``reader.stored_docs()``) as ``docs`` — the hit streams are
    already tombstone-masked, but an external docs table is not."""
    if not streams:
        raise ValueError("filters agg needs >= 1 named filter")
    out = None
    union_ids = None
    for name in sorted(streams):
        ids = streams[name].select("doc_id").distinct()
        row = ids.agg(
            F.lit(name).alias("key"),
            F.count("*").cast("long").alias("doc_count"),
        ).select("key", "doc_count")
        out = row if out is None else out.unionByName(row)
        union_ids = (
            ids if union_ids is None else union_ids.unionByName(ids)
        )
    if docs is not None:
        ctx = docs.where(F.col("text").isNotNull()).select("doc_id")
        other = ctx.join(
            union_ids.distinct(), "doc_id", "left_anti"
        ).agg(
            F.lit("__other__").alias("key"),
            F.count("*").cast("long").alias("doc_count"),
        ).select("key", "doc_count")
        out = out.unionByName(other)
    return out


def oracle_sql_facet_filters(
    named_queries: dict[str, str], other_bucket: bool = False,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the filters aggregation — per-name matching sets
    from the shared token CTE (OR semantics), plus a NOT-EXISTS
    other-bucket over the non-NULL-text context."""
    all_terms = sorted(
        {t for q in named_queries.values() for t in py_tokens(q)}
    )
    # a can't-match dummy keeps the tf CTE's IN-list valid when every
    # filter analyzes to zero terms (counts still all come out 0)
    cte = _bm25_scored_cte(
        " ".join(all_terms) or "zzzznomatchplaceholder", table, doc_col
    )
    selects = []
    for name in sorted(named_queries):
        terms = sorted(set(py_tokens(named_queries[name])))
        if not terms:  # unanalyzable filter — counts 0 via finals
            continue
        tl = ", ".join(
            "'" + t.replace("'", "''") + "'" for t in terms
        )
        nm = name.replace("'", "''")
        selects.append(
            f"SELECT '{nm}' AS key, doc_id FROM tf "
            f"WHERE term IN ({tl}) GROUP BY doc_id"
        )
    if not selects:  # every filter analyzed to zero terms
        selects = [
            "SELECT CAST(NULL AS VARCHAR) AS key, "
            "CAST(NULL AS BIGINT) AS doc_id WHERE false"
        ]
    union = "\n  UNION ALL\n  ".join(selects)
    # one GLOBAL agg per name (always yields a row — a filter whose
    # terms are absent from the corpus counts 0, matching the engine
    # and ES, where GROUP BY would silently drop the bucket)
    finals = [
        f"SELECT '{name.replace(chr(39), chr(39) * 2)}' AS key, "
        "CAST(count(*) AS BIGINT) AS doc_count FROM labeled "
        f"WHERE key = '{name.replace(chr(39), chr(39) * 2)}'"
        for name in sorted(named_queries)
    ]
    if other_bucket:
        finals.append(
            f"""SELECT '__other__' AS key,
       CAST(count(*) AS BIGINT) AS doc_count
FROM {table} d
WHERE d.text IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM labeled l WHERE l.doc_id = d.{doc_col})"""
        )
    body = "\nUNION ALL\n".join(finals)
    return f"""{cte}, labeled AS (
  {union}
)
{body}
"""


def oracle_sql_bm25_diversified(
    query_text: str, field: str, max_per_key: int, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for diversified_sampler: per-key row_number cap over
    the scored matching set, NULL keys uncapped."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, keyed AS (
  SELECT s.doc_id, s.score, d.{field} AS key
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
), capped AS (
  SELECT doc_id, score,
         row_number() OVER (PARTITION BY key
                            ORDER BY score DESC, doc_id ASC) AS rn,
         key
  FROM keyed
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank, doc_id, score
FROM capped
WHERE key IS NULL OR rn <= {max_per_key}
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_rank_feature(
    query_text: str, field: str, k: int = 10,
    function: str = "saturation", pivot: float = 1.0,
    boost: float = 1.0, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for rank_feature ⊕ BM25 — identical clause arithmetic
    (saturation or ln(1+f)), NULL/negative feature → 0."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    if function == "saturation":
        clause = f"CAST(d.{field} AS DOUBLE) / (CAST(d.{field} AS DOUBLE) + {float(pivot)!r})"
    else:
        clause = f"ln(1.0 + CAST(d.{field} AS DOUBLE))"
    return f"""{cte}, feat AS (
  SELECT s.doc_id,
         round(s.score + coalesce(
             CASE WHEN d.{field} IS NOT NULL AND d.{field} >= 0
                  THEN {float(boost)!r} * ({clause}) END, 0.0),
           {bm25.ROUND_DIGITS}) AS score
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank, doc_id, score
FROM feat
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_pinned(
    query_text: str, pinned_ids: list[int], k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the pinned query: VALUES-list pins scored
    ``1e9 − position`` (existing docs only), organic scores with the
    pins anti-joined out, one ranking."""
    if pinned_ids:
        vals = ", ".join(
            f"({int(d)}, {i})" for i, d in enumerate(pinned_ids)
        )
        pin_cte = f"""pins(doc_id, pos) AS (VALUES {vals}),
live_pins AS (
  SELECT p.doc_id,
         round({_PINNED_BASE!r} - CAST(p.pos AS DOUBLE),
               {bm25.ROUND_DIGITS}) AS score
  FROM pins p WHERE EXISTS (
    SELECT 1 FROM {table} d WHERE d.{doc_col} = p.doc_id)
), unioned AS (
  SELECT doc_id, score FROM live_pins
  UNION ALL
  SELECT s.doc_id, s.score FROM scored s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM pins)
)"""
    else:
        pin_cte = "unioned AS (SELECT doc_id, score FROM scored)"
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, {pin_cte}
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank, doc_id, score
FROM unioned
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_multi_terms(
    query_text: str, fields: list[str], size: int,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for multi_terms: composite-key buckets over the
    matching set, (doc_count DESC, key ASC) bucket cut."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    cols = ", ".join(f"d.{f_}" for f_ in fields)
    notnull = " AND ".join(f"d.{f_} IS NOT NULL" for f_ in fields)
    order = ", ".join(f"d.{f_} ASC" for f_ in fields)
    return f"""{cte}, buckets AS (
  SELECT {cols}, CAST(count(*) AS BIGINT) AS doc_count
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE {notnull}
  GROUP BY {cols}
)
SELECT CAST(row_number() OVER (ORDER BY doc_count DESC,
                               {", ".join(f"{f_} ASC" for f_ in fields)})
        AS INT) AS rank, {", ".join(fields)}, doc_count
FROM buckets
QUALIFY rank <= {size}
ORDER BY rank
"""


def oracle_sql_adjacency_matrix(
    named_queries: dict[str, str], table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for adjacency_matrix: per-name matching sets from the
    shared token CTE (OR semantics — any analyzed term), self-join on
    doc_id, pair-key agg. Names are embedded sorted so the labeled
    union is deterministic."""
    all_terms = sorted(
        {t for q in named_queries.values() for t in py_tokens(q)}
    )
    cte = _bm25_scored_cte(" ".join(all_terms), table, doc_col)
    selects = []
    for name in sorted(named_queries):
        terms = sorted(set(py_tokens(named_queries[name])))
        tl = ", ".join(
            "'" + t.replace("'", "''") + "'" for t in terms
        )
        nm = name.replace("'", "''")
        selects.append(
            f"SELECT '{nm}' AS key, doc_id FROM tf "
            f"WHERE term IN ({tl}) GROUP BY doc_id"
        )
    union = "\n  UNION ALL\n  ".join(selects)
    return f"""{cte}, labeled AS (
  {union}
)
SELECT l.key AS key1, r.key AS key2,
       CAST(count(*) AS BIGINT) AS doc_count
FROM labeled l JOIN labeled r ON l.doc_id = r.doc_id
WHERE l.key <= r.key
GROUP BY l.key, r.key
ORDER BY key1, key2
"""


def stats_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str, extended: bool = False,
) -> DataFrame:
    """Shared ES ``stats`` / ``extended_stats`` aggregation over a
    (doc_id, …) hit stream — used by :meth:`IndexReader.facet_stats`
    and its sharded federation (the hit stream is the only
    index-dependent part; shard-disjoint streams union into the
    global matching set, so the same one-pass agg federates exactly).

    NULL field values are ignored (ES missing-value semantics). All
    derived values (avg, variance, std_deviation) are computed from
    the exact partials ``(count, sum, sum_sq)`` with the SAME
    arithmetic the DuckDB oracle uses, then rounded to 4 digits —
    for integer-valued fields whose Σv² < 2^53 the partials are
    order-independent exact doubles, so the result is deterministic
    under any partitioning. Variance is POPULATION variance (ES
    ``extended_stats`` semantics); ``greatest(0, ·)`` guards the
    sqrt against negative-epsilon cancellation.

    One row; the only shuffle is the final single-row agg reduce —
    the matching set never funnels through the driver."""
    vals = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .select(F.col(field).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    agg = vals.agg(
        F.count("*").cast("long").alias("cnt"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.sum("v").alias("sum_v"),
        F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
    )
    mean = F.col("sum_v") / F.col("cnt")
    var_raw = F.col("sum_sq") / F.col("cnt") - mean * mean
    cols = [
        "cnt", "min_v", "max_v", "sum_v",
        F.round(mean, 4).alias("avg_v"),
    ]
    if extended:
        cols += [
            "sum_sq",
            F.round(var_raw, 4).alias("variance"),
            F.round(
                F.sqrt(F.greatest(var_raw, F.lit(0.0))), 4
            ).alias("std_dev"),
        ]
    return agg.select(*cols)


def composite_agg_hits(
    hits: DataFrame, docs: DataFrame, field: str, size: int,
    after: "str | None" = None,
) -> DataFrame:
    """Shared ES ``composite`` aggregation (paginated terms buckets)
    over a hit stream — used by :meth:`IndexReader.facet_composite`
    and its sharded federation (a bucket may span shards; the
    post-union groupBy merges it exactly).

    Buckets of ``field`` among matching docs, key-ordered ascending,
    strictly AFTER the resume key, first ``size`` buckets — ES
    composite-agg ``after`` pagination. The resume predicate
    ``field > after`` is applied BEFORE the aggregation (sargable:
    it reaches the docs parquet scan as a PushedFilter), so a deep
    page never aggregates the buckets it skips — the property that
    makes composite pagination O(page) instead of O(all buckets) at
    scale. The bucket cut is ``ranked_topk`` (TakeOrderedAndProject:
    per-partition size-bounded heaps, no global-window cliff)."""
    b = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(field).isNotNull())
    )
    if after is not None:
        b = b.where(F.col(field) > F.lit(after))
    counts = b.groupBy(F.col(field).alias("key")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return ranked_topk(counts, [F.asc("key")], size).select(
        "rank", "key", "n_docs"
    )


def date_histogram_hits(
    hits: DataFrame, docs: DataFrame, ts_col: str,
    interval: str = "day",
) -> DataFrame:
    """Shared ES ``date_histogram`` aggregation (calendar_interval)
    over a hit stream — used by :meth:`IndexReader.facet_date_histogram`
    and its sharded federation (shard-disjoint hit streams union into
    the global matching set, so the per-bucket counts federate by the
    same groupBy).

    Buckets are ``date_trunc(interval)`` boundaries of the matching
    docs' ``ts_col``, keyed as EPOCH MILLIS (``key`` — ES's wire
    format for date buckets) plus ``key_as_string``; only non-empty
    buckets are returned (ES ``min_doc_count=1`` shape), ascending.
    NULL timestamps are ignored (ES missing-value semantics).

    Scale shape: left-semi join of the docs scan against the hit
    stream (only doc_id crosses the shuffle), then a groupBy on the
    truncated key — bucket cardinality is bounded by the time range /
    interval, never by corpus size. Pure JVM expressions throughout;
    the session timezone (UTC in this engine) defines the calendar."""
    allowed = {"hour", "day", "week", "month", "quarter", "year"}
    if interval not in allowed:
        raise ValueError(f"interval must be one of {sorted(allowed)}")
    b = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(ts_col).isNotNull())
        .select(F.date_trunc(interval, F.col(ts_col)).alias("b"))
    )
    return (
        b.groupBy("b")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            (F.unix_timestamp("b") * 1000).cast("long").alias("key"),
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias(
                "key_as_string"
            ),
            "n_docs",
        )
        .orderBy("key")
    )


def pipeline_aggs_hits(
    hits: DataFrame, docs: DataFrame, ts_col: str,
    interval: str = "day", metric_field: "str | None" = None,
    window: int = 3, min_metric: "float | None" = None,
    sort_by_metric: bool = False, size: "int | None" = None,
) -> DataFrame:
    """ES *pipeline aggregations* over a date_histogram parent: one
    row per non-empty bucket carrying the parent metric plus

    - ``cumulative_sum``  — running Σ of the metric (ES
      ``cumulative_sum``),
    - ``derivative``      — metric − previous bucket's metric, NULL
      for the first bucket (ES ``derivative``),
    - ``moving_avg``      — mean of the trailing ``window`` buckets
      INCLUDING the current one (``MovingFunctions.unweightedAvg``).
      Deviation from ES, documented: ES ``moving_fn`` at its default
      ``shift=0`` averages the ``window`` buckets BEFORE the current
      one; this column equals ``moving_fn`` with ``shift=1``, and the
      SQL oracle computes the same window,
    - ``per_doc``         — metric / doc_count (an ES
      ``bucket_script`` over two sub-metrics).

    ``min_metric`` applies an ES ``bucket_selector`` (buckets whose
    metric is below it are dropped AFTER the pipeline columns are
    computed, matching ES's execution order — a dropped bucket still
    contributes to its successors' cumulative/moving values);
    ``sort_by_metric``/``size`` apply an ES ``bucket_sort`` (metric
    DESC, key ASC tiebreak, optional truncation).

    The metric is ``Σ metric_field`` over the bucket (``doc_count``
    itself when ``metric_field`` is None — ES ``_count``).

    Scale shape: the parent reduction is the same semi-join + groupBy
    as :func:`date_histogram_hits`; the pipeline windows then run over
    the BUCKET LIST, whose cardinality is time-range/interval — a
    single-partition window over that list is the same bounded
    coordinator-side reduction ES performs, never corpus-sized. For a
    federation the parent buckets merge across shards BEFORE the
    window pass — a per-shard cumulative sum would be wrong for any
    bucket spanning shards."""
    allowed = {"hour", "day", "week", "month", "quarter", "year"}
    if interval not in allowed:
        raise ValueError(f"interval must be one of {sorted(allowed)}")
    if window < 1:
        raise ValueError("window must be >= 1")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(ts_col).isNotNull())
    )
    metric = (
        F.lit(1.0)
        if metric_field is None
        else F.col(metric_field).cast("double")
    )
    base = (
        j.select(
            F.date_trunc(interval, F.col(ts_col)).alias("b"),
            metric.alias("m"),
        )
        .groupBy("b")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.sum("m"), 4).alias("metric"),
        )
        .select(
            (F.unix_timestamp("b") * 1000).cast("long").alias("key"),
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias(
                "key_as_string"
            ),
            "n_docs",
            "metric",
        )
    )
    from pyspark.sql.window import Window as W

    w_cum = W.orderBy("key").rowsBetween(W.unboundedPreceding, 0)
    w_mov = W.orderBy("key").rowsBetween(-(window - 1), 0)
    out = base.select(
        "key",
        "key_as_string",
        "n_docs",
        "metric",
        F.round(F.sum("metric").over(w_cum), 4).alias(
            "cumulative_sum"
        ),
        F.round(
            F.col("metric") - F.lag("metric").over(W.orderBy("key")), 4
        ).alias("derivative"),
        F.round(F.avg("metric").over(w_mov), 4).alias("moving_avg"),
        F.round(F.col("metric") / F.col("n_docs"), 4).alias("per_doc"),
    )
    if min_metric is not None:
        out = out.where(F.col("metric") >= float(min_metric))
    if sort_by_metric:
        out = out.orderBy(F.desc("metric"), F.asc("key"))
        if size is not None:
            out = out.limit(int(size))
    else:
        out = out.orderBy("key")
    return out


_AUTO_HIST_LADDER = ("hour", "day", "week", "month", "quarter", "year")


def auto_date_histogram_hits(
    hits: DataFrame, docs: DataFrame, ts_col: str,
    max_buckets: int = 20,
) -> DataFrame:
    """ES ``auto_date_histogram``: pick the FINEST calendar interval
    from the ladder (hour → day → week → month → quarter → year)
    whose non-empty bucket count fits ``max_buckets``, then return
    that interval's date_histogram with the chosen interval tagged on
    every row (ES reports it in the agg metadata; a column is the
    relational rendering). Falls back to ``year`` if nothing fits.

    Scale shape: ONE aggregation computes every ladder rung's
    distinct-bucket count simultaneously (6 countDistincts over the
    semi-joined scan — a single pass); the choice itself is a
    driver-side scalar, then the parent histogram runs at the chosen
    interval exactly as :func:`date_histogram_hits`. The ladder runs
    on the merged (for a federation: cross-shard) bucket counts —
    per-shard choices could disagree."""
    if max_buckets < 1:
        raise ValueError("max_buckets must be >= 1")
    j = (
        docs.join(hits.select("doc_id"), "doc_id", "left_semi")
        .where(F.col(ts_col).isNotNull())
    )
    counts = j.agg(
        *[
            F.countDistinct(F.date_trunc(i, F.col(ts_col))).alias(i)
            for i in _AUTO_HIST_LADDER
        ]
    ).collect()[0]
    chosen = _AUTO_HIST_LADDER[-1]
    for i in _AUTO_HIST_LADDER:
        if int(counts[i]) <= max_buckets:
            chosen = i
            break
    return date_histogram_hits(hits, docs, ts_col, chosen).select(
        F.lit(chosen).alias("interval"), "key", "key_as_string",
        "n_docs",
    )


def oracle_sql_auto_date_histogram(
    query_text: str, ts_col: str, max_buckets: int = 20,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`auto_date_histogram_hits`: the ladder
    choice is re-derived in SQL (distinct-bucket count per rung, the
    finest fitting rung wins) and selects the matching tagged
    histogram from a union over the ladder."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    rungs = ", ".join(
        f"count(DISTINCT date_trunc('{i}', d.{ts_col})) AS c_{i}"
        for i in _AUTO_HIST_LADDER
    )
    case = "CASE "
    for i in _AUTO_HIST_LADDER[:-1]:
        case += f"WHEN c_{i} <= {int(max_buckets)} THEN '{i}' "
    case += f"ELSE '{_AUTO_HIST_LADDER[-1]}' END"
    hists = "\nUNION ALL\n".join(
        f"""  SELECT '{i}' AS interval,
         CAST(epoch_ms(CAST(date_trunc('{i}', d.{ts_col})
           AS TIMESTAMP)) AS BIGINT) AS key,
         strftime(CAST(date_trunc('{i}', d.{ts_col}) AS TIMESTAMP),
           '%Y-%m-%d %H:%M:%S') AS key_as_string,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{ts_col} IS NOT NULL
  GROUP BY 1, 2, 3"""
        for i in _AUTO_HIST_LADDER
    )
    return f"""{cte}, rungs AS (
  SELECT {rungs}
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{ts_col} IS NOT NULL
), choice AS (SELECT {case} AS interval FROM rungs),
hists AS (
{hists}
)
SELECT h.interval, h.key, h.key_as_string, h.n_docs
FROM hists h JOIN choice c ON c.interval = h.interval
ORDER BY h.key
"""


def oracle_sql_pipeline_aggs(
    query_text: str, ts_col: str, interval: str = "day",
    metric_field: "str | None" = None, window: int = 3,
    min_metric: "float | None" = None,
    sort_by_metric: bool = False, size: "int | None" = None,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`pipeline_aggs_hits` — identical
    bucket calendar, metric arithmetic, window frames, selector
    ordering (pipeline BEFORE selector), and bucket_sort."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    m = "1.0" if metric_field is None else f"CAST(d.{metric_field} AS DOUBLE)"
    sel = (
        f"WHERE metric >= {float(min_metric)!r}"
        if min_metric is not None
        else ""
    )
    if sort_by_metric:
        order = "ORDER BY metric DESC, key ASC"
        lim = f"LIMIT {int(size)}" if size is not None else ""
    else:
        order, lim = "ORDER BY key", ""
    return f"""{cte}, buckets AS (
  SELECT date_trunc('{interval}', d.{ts_col}) AS b,
         CAST(count(*) AS BIGINT) AS n_docs,
         round(sum({m}), 4) AS metric
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{ts_col} IS NOT NULL
  GROUP BY 1
), piped AS (
  SELECT CAST(epoch_ms(CAST(b AS TIMESTAMP)) AS BIGINT) AS key,
         strftime(CAST(b AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
           AS key_as_string,
         n_docs,
         CAST(metric AS DOUBLE) AS metric,
         CAST(round(sum(metric) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS DOUBLE) AS cumulative_sum,
         CAST(round(metric - lag(metric) OVER (ORDER BY b), 4)
           AS DOUBLE) AS derivative,
         CAST(round(avg(metric) OVER (ORDER BY b
               ROWS BETWEEN {int(window) - 1} PRECEDING AND CURRENT ROW), 4)
           AS DOUBLE) AS moving_avg,
         CAST(round(metric / n_docs, 4) AS DOUBLE) AS per_doc
  FROM buckets
)
SELECT * FROM piped
{sel}
{order}
{lim}
"""


def oracle_sql_date_histogram(
    query_text: str, ts_col: str, interval: str = "day",
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the date_histogram aggregation: identical
    date_trunc calendar (both engines truncate wall-clock UTC; weeks
    start Monday in both Spark and DuckDB), epoch-millis keys."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, buckets AS (
  SELECT date_trunc('{interval}', d.{ts_col}) AS b,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{ts_col} IS NOT NULL
  GROUP BY 1
)
SELECT CAST(epoch_ms(CAST(b AS TIMESTAMP)) AS BIGINT) AS key,
       strftime(CAST(b AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
         AS key_as_string,
       n_docs
FROM buckets
ORDER BY key
"""


def oracle_sql_facet_stats(
    query_text: str, field: str, extended: bool = False,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the stats / extended_stats aggregation: identical
    exact-partials arithmetic (sum, sum_sq as order-independent exact
    doubles for integer fields), population variance, round 4."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    ext = ""
    if extended:
        ext = """,
       sum(v*v) AS sum_sq,
       round(sum(v*v)/count(*) - (sum(v)/count(*))*(sum(v)/count(*)), 4)
         AS variance,
       round(sqrt(greatest(
         sum(v*v)/count(*) - (sum(v)/count(*))*(sum(v)/count(*)), 0.0)), 4)
         AS std_dev"""
    return f"""{cte}, vals AS (
  SELECT CAST(d.{field} AS DOUBLE) AS v
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS cnt,
       min(v) AS min_v, max(v) AS max_v, sum(v) AS sum_v,
       round(sum(v)/count(*), 4) AS avg_v{ext}
FROM vals
"""


def oracle_sql_facet_composite(
    query_text: str, field: str, size: int, after: "str | None" = None,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for the composite (paginated terms) aggregation."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    after_pred = ""
    if after is not None:
        after_pred = " AND d." + field + " > '" + after.replace("'", "''") + "'"
    return f"""{cte}, buckets AS (
  SELECT d.{field} AS key, CAST(count(*) AS BIGINT) AS n_docs
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{field} IS NOT NULL{after_pred}
  GROUP BY d.{field}
)
SELECT CAST(row_number() OVER (ORDER BY key ASC) AS INT) AS rank,
       key, n_docs
FROM buckets
QUALIFY rank <= {size}
ORDER BY rank
"""


def oracle_sql_bm25_decay(
    query_text: str, field: str, origin: float, scale: float,
    k: int = 10, decay: float = 0.5, offset: float = 0.0,
    fn: str = "gauss", table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for function_score decay retrieval: BM25 × the decay
    factor, identical closed-form constants inlined on both sides."""
    import math

    cte = _bm25_scored_cte(query_text, table, doc_col)
    d_expr = (
        f"greatest(0.0, abs(CAST(d.{field} AS DOUBLE) - {float(origin)!r})"
        f" - {float(offset)!r})"
    )
    if fn == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * math.log(decay))
        f_expr = f"exp(-(({d_expr}) * ({d_expr})) / {2.0 * sigma2!r})"
    elif fn == "exp":
        lam = math.log(decay) / float(scale)
        f_expr = f"exp(({d_expr}) * {lam!r})"
    else:
        s = float(scale) / (1.0 - decay)
        f_expr = f"greatest(0.0, ({s!r} - ({d_expr})) / {s!r})"
    return f"""{cte}, decayed AS (
  SELECT s.doc_id,
         round(s.score * coalesce({f_expr}, 1.0),
               {bm25.ROUND_DIGITS}) AS score
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM decayed
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_group_topk(
    query_text: str, group_field: str, n_groups: int = 5,
    per_group: int = 3, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for grouped retrieval with per-group hits (ES top_hits):
    groups ranked by best-doc score, each with its top per_group
    docs; NULL group keys form no bucket (ES terms-agg semantics)."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}, joined AS (
  SELECT s.doc_id, s.score, d.{group_field} AS grp
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
  WHERE d.{group_field} IS NOT NULL
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY grp ORDER BY score DESC, doc_id ASC) AS INT
  ) AS hit_rank
  FROM joined
), topg AS (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
             AS group_rank,
         grp
  FROM ranked WHERE hit_rank = 1
  QUALIFY group_rank <= {n_groups}
)
SELECT t.group_rank, r.grp AS {group_field}, r.hit_rank, r.doc_id, r.score
FROM ranked r JOIN topg t ON t.grp = r.grp
WHERE r.hit_rank <= {per_group}
ORDER BY t.group_rank, r.hit_rank
"""


def oracle_sql_facet_cardinality(
    query_text: str, field: str, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """Oracle for the exact cardinality aggregation: distinct field
    values among matching docs (NULLs ignored)."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    return f"""{cte}
SELECT CAST(count(DISTINCT d.{field}) AS BIGINT) AS cardinality
FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
"""


def oracle_sql_facet_ranges(
    query_text: str, field: str, bounds: list[float],
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Oracle for numeric range facets over the matching set:
    half-open buckets [b_i, b_{i+1}) labeled 'lo-hi'."""
    cte = _bm25_scored_cte(query_text, table, doc_col)
    cases = " ".join(
        f"WHEN d.{field} >= {lo!r} AND d.{field} < {hi!r} "
        f"THEN '{lo:g}-{hi:g}'"
        for lo, hi in zip(bounds, bounds[1:])
    )
    return f"""{cte}, bucketed AS (
  SELECT CASE {cases} ELSE NULL END AS bucket
  FROM scored s JOIN {table} d ON d.{doc_col} = s.doc_id
)
SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
FROM bucketed WHERE bucket IS NOT NULL
GROUP BY bucket ORDER BY bucket
"""


def oracle_sql_bm25_msm(
    query_text: str, min_match: int, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """Minimum-should-match BM25 oracle: same scoring SQL, restricted
    to docs containing ≥ ``min_match`` distinct query terms."""
    base = oracle_sql_bm25(query_text, k, table, doc_col)
    return base.replace(
        "  GROUP BY tf.doc_id",
        f"  GROUP BY tf.doc_id\n  HAVING count(*) >= {min_match}",
    )


def oracle_sql_bm25_filtered(
    query_text: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id", where_sql: str = "TRUE",
) -> str:
    """Metadata-filtered BM25 oracle: corpus-wide stats (n, avgdl, df
    — matching the index, which is built once over the whole corpus),
    ranking restricted to docs satisfying ``where_sql``."""
    base = oracle_sql_bm25(query_text, k, table, doc_col)
    return base.replace(
        "  FROM tf, dfreq, stats WHERE tf.term = dfreq.term\n"
        "  GROUP BY tf.doc_id",
        "  FROM tf, dfreq, stats WHERE tf.term = dfreq.term\n"
        f"    AND tf.doc_id IN (SELECT {doc_col} FROM {table} "
        f"WHERE {where_sql})\n"
        "  GROUP BY tf.doc_id",
    )


def fuzzy_exhaustive(
    docs: DataFrame, query_text: str, k: int = 10, max_edits: int = 1,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Declarative twin of :meth:`IndexReader.search_fuzzy`: expand the
    query terms against the DISTINCT corpus tokens (≡ the index
    dictionary) by Levenshtein ≤ max_edits, then run the standard
    exhaustive BM25 over the expanded term set."""
    terms = sorted(set(py_tokens(query_text)))
    if not terms:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)
    vocab = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .distinct()
    )
    cond = None
    for q in terms:
        c = (
            F.abs(F.length("term") - F.lit(len(q))) <= max_edits
        ) & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
        cond = c if cond is None else (cond | c)
    expanded = sorted(r["term"] for r in vocab.where(cond).collect())
    if not expanded:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)
    return score_exhaustive(docs, " ".join(expanded), k, doc_col)


def oracle_sql_bm25_fuzzy(
    query_text: str, k: int = 10, max_edits: int = 1,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for fuzzy BM25: same expansion spec (Levenshtein
    over the distinct-token vocabulary), same scoring as the plain
    oracle over the expanded set."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    pred = " OR ".join(
        f"levenshtein(term, '{t.replace(chr(39), chr(39) * 2)}') "
        f"<= {max_edits}"
        for t in terms
    )
    base = oracle_sql_bm25(query_text, k, table, doc_col)
    base = base.replace(
        "), tf AS (",
        "), expanded AS (\n"
        f"  SELECT DISTINCT term FROM tok WHERE {pred}\n"
        "), tf AS (",
    )
    return base.replace(
        f"WHERE term IN ({terms_list})",
        "WHERE term IN (SELECT term FROM expanded)",
    )


def parse_wildcard_query(query_text: str) -> tuple[list[str], list[str]]:
    """Split a wildcard query into (exact_terms, prefixes). A
    whitespace word ending in ``*`` is a prefix atom — its stem must
    analyze to exactly one token (≥ 2 chars); any other word is
    analyzed normally (and may contribute several exact terms)."""
    exact: list[str] = []
    prefixes: list[str] = []
    for w in query_text.split():
        if w.endswith("*") and len(w) > 1:
            stem = py_tokens(w[:-1])
            if len(stem) != 1:
                raise ValueError(
                    f"wildcard stem {w!r} must analyze to one token; "
                    f"got {stem}"
                )
            # ≥ 3 keeps stems inside the analyzer's min token length
            # (so the oracle's seed tokens survive) and bounds fan-out
            if len(stem[0]) < 3:
                raise ValueError(f"wildcard stem {w!r} too short")
            prefixes.append(stem[0])
        else:
            exact.extend(py_tokens(w))
    return sorted(set(exact)), sorted(set(prefixes))


def wildcard_exhaustive(
    docs: DataFrame, query_text: str, k: int = 10,
    doc_col: str = "doc_id", max_expansions: int = 1000,
) -> DataFrame:
    """Declarative twin of :meth:`IndexReader.search_wildcard`:
    expand prefixes against the distinct corpus tokens, then standard
    exhaustive BM25 over the expanded ∪ exact term set."""
    exact, prefixes = parse_wildcard_query(query_text)
    if not exact and not prefixes:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)
    expanded = set(exact)
    if prefixes:
        vocab = (
            docs.where(F.col("text").isNotNull())
            .select(F.explode(tokens_col(F.col("text"))).alias("term"))
            .distinct()
        )
        cond = None
        for p in prefixes:
            c = F.col("term").startswith(p)
            cond = c if cond is None else (cond | c)
        hits = [r["term"] for r in vocab.where(cond).collect()]
        if len(hits) > max_expansions:
            raise ValueError(
                f"wildcard expands to {len(hits)} terms "
                f"(> {max_expansions})"
            )
        expanded.update(hits)
    if not expanded:
        return _local_frame(docs.sparkSession, _RANKED_SCHEMA)
    return score_exhaustive(docs, " ".join(sorted(expanded)), k, doc_col)


def oracle_sql_bm25_wildcard(
    query_text: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for wildcard BM25: prefixes expand via LIKE over
    the distinct-token vocabulary, then plain-oracle scoring."""
    exact, prefixes = parse_wildcard_query(query_text)
    preds = []
    if exact:
        lst = ", ".join("'" + t.replace("'", "''") + "'" for t in exact)
        preds.append(f"term IN ({lst})")
    preds += [
        "term LIKE '" + p.replace("'", "''") + "%'" for p in prefixes
    ]
    pred = " OR ".join(preds)
    # reuse the plain template: its term list is only a placeholder
    # for the tf filter, which we swap for the expansion subquery
    seed = sorted(set(exact) | set(prefixes))
    base = oracle_sql_bm25(" ".join(seed), k, table, doc_col)
    terms = sorted(set(py_tokens(" ".join(seed))))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    base = base.replace(
        "), tf AS (",
        "), expanded AS (\n"
        f"  SELECT DISTINCT term FROM tok WHERE {pred}\n"
        "), tf AS (",
    )
    return base.replace(
        f"WHERE term IN ({terms_list})",
        "WHERE term IN (SELECT term FROM expanded)",
    )


def facet_exhaustive(
    docs: DataFrame, query_text: str, facet_col: str = "lang",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Declarative twin of :meth:`IndexReader.facet_counts`: count docs
    whose token array overlaps the query terms, per facet value."""
    terms = sorted(set(py_tokens(query_text)))
    if not terms:
        return _local_frame(docs.sparkSession, _FACET_SCHEMA)
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            F.col(facet_col).alias("facet"),
            tokens_col(F.col("text")).alias("tokens"),
        )
        .where(
            F.arrays_overlap(
                "tokens", F.array(*[F.lit(t) for t in terms])
            )
        )
        .groupBy("facet")
        .agg(F.count("*").alias("n_docs"))
    )


def oracle_sql_facets(
    query_text: str, facet_col: str = "lang", table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for facet counts over matching docs."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH base AS (
  SELECT {doc_col} AS doc_id, {facet_col} AS facet,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     t -> length(t) >= 3) AS tokens
  FROM {table} WHERE text IS NOT NULL
)
SELECT facet, CAST(count(*) AS BIGINT) AS n_docs
FROM base
WHERE len(list_intersect(tokens, [{terms_list}])) > 0
GROUP BY facet
"""


def oracle_sql_bm25_regexp(
    pattern: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for regexp retrieval: the pattern expands against
    the distinct-token vocabulary (full match), then plain scoring."""
    esc = pattern.replace("'", "''")
    rd = bm25.ROUND_DIGITS
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
), expanded AS (
  SELECT DISTINCT term FROM tok WHERE regexp_full_match(term, '{esc}')
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN (SELECT term FROM expanded)
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            {bm25.idf_sql("stats.n", "dfreq.df")}
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {rd}) AS score
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_more_like_this(
    doc_sql: str, k: int = 10, max_terms: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`IndexReader.more_like_this`.
    ``doc_sql``: a scalar SQL expression for the source doc id (e.g.
    a literal, or ``(SELECT min(doc_id) FROM documents WHERE text IS
    NOT NULL)``)."""
    rd = bm25.ROUND_DIGITS
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
), src AS (
  SELECT {doc_sql} AS doc_id
), dtf AS (
  SELECT term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE doc_id = (SELECT doc_id FROM src) GROUP BY term
), alldf AS (
  SELECT tok.term, count(DISTINCT tok.doc_id) AS df
  FROM tok WHERE tok.term IN (SELECT term FROM dtf)
  GROUP BY tok.term
), wtab AS (
  SELECT dtf.term,
         (CAST(dtf.tf AS DOUBLE) / dtf.dl)
           * {bm25.idf_sql("stats.n", "alldf.df")} AS w
  FROM dtf JOIN alldf ON dtf.term = alldf.term CROSS JOIN stats
), picked AS (
  SELECT term FROM wtab ORDER BY round(w, {rd}) DESC, term ASC
  LIMIT {max_terms}
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN (SELECT term FROM picked)
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
            {bm25.idf_sql("stats.n", "dfreq.df")}
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         ), {rd}) AS score
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
  GROUP BY tf.doc_id
), others AS (
  SELECT doc_id, score FROM scored
  WHERE doc_id != (SELECT doc_id FROM src)
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM others
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_synonyms(
    query_text: str, synonyms: dict[str, list[str]], k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`IndexReader.search_synonyms` — the
    SynonymQuery semantics recomputed from raw text: members mapped to
    groups with the engine's assignment rule, tf summed per (doc,
    group), idf from the max assigned-member df."""
    qterms = sorted(set(py_tokens(query_text)))
    groups: list[list[str]] = []
    for t in qterms:
        member_tokens = set([t])
        for s in synonyms.get(t, []):
            member_tokens.update(py_tokens(s))
        groups.append(sorted(member_tokens))
    term_group: dict[str, int] = {}
    for gi, members in enumerate(groups):
        for m in members:
            term_group[m] = gi
    mapping_vals = ", ".join(
        f"('{m.replace(chr(39), chr(39) * 2)}', {gi})"
        for m, gi in sorted(term_group.items())
    )
    all_list = ", ".join(
        "'" + m.replace("'", "''") + "'" for m in sorted(term_group)
    )
    rd = bm25.ROUND_DIGITS
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
), mapping(term, gid) AS (
  VALUES {mapping_vals}
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), gdf AS (
  SELECT mapping.gid, max(dfreq.df) AS df
  FROM dfreq JOIN mapping ON dfreq.term = mapping.term
  GROUP BY mapping.gid
), gtf AS (
  SELECT tf.doc_id, mapping.gid, sum(tf.tf) AS tf, max(tf.dl) AS dl
  FROM tf JOIN mapping ON tf.term = mapping.term
  GROUP BY tf.doc_id, mapping.gid
), scored AS (
  SELECT gtf.doc_id,
         round(sum(
            {bm25.idf_sql("stats.n", "gdf.df")}
            * (gtf.tf * ({bm25.K1} + 1)) /
              (gtf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (gtf.dl / stats.avgdl)))
         ), {rd}) AS score
  FROM gtf JOIN gdf ON gtf.gid = gdf.gid CROSS JOIN stats
  GROUP BY gtf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_bool_prefix(
    query_text: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`IndexReader.search_bool_prefix` —
    match_bool_prefix replayed from raw text: the trailing prefix's
    completion set is derived with ``LIKE 'prefix%'`` over the
    corpus token stream (≡ the engine's dictionary expansion — the
    dictionary IS the distinct token set), completions score as ONE
    group (summed tf, max-df idf), exact terms as their own groups;
    an exact term matching the prefix lands in the completion group
    (the engine's last-group assignment rule)."""
    from tlhop_library_spark.analyzer import _PY_NON_WORD_RE

    raw = [
        t
        for t in _PY_NON_WORD_RE.split(
            query_text.lower().replace("_", " ")
        )
        if t
    ]
    prefix, exact = raw[-1], sorted(set(raw[:-1]))
    pfx = prefix.replace("'", "''")
    g_exp = len(exact)
    if exact:
        head_vals = ", ".join(
            f"('{t.replace(chr(39), chr(39) * 2)}', {gi})"
            for gi, t in enumerate(exact)
        )
        head_list = ", ".join(
            "'" + t.replace("'", "''") + "'" for t in exact
        )
        tf_where = f"term IN ({head_list}) OR term LIKE '{pfx}%'"
        mapping = f"""(
  SELECT term, gid FROM (VALUES {head_vals}) AS h(term, gid)
  WHERE term NOT LIKE '{pfx}%'
  UNION ALL
  SELECT DISTINCT term, {g_exp} AS gid FROM tok
  WHERE term LIKE '{pfx}%'
)"""
    else:
        tf_where = f"term LIKE '{pfx}%'"
        mapping = f"""(
  SELECT DISTINCT term, {g_exp} AS gid FROM tok
  WHERE term LIKE '{pfx}%'
)"""
    rd = bm25.ROUND_DIGITS
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
  FROM tok WHERE {tf_where} GROUP BY doc_id, term
), mapping AS {mapping}, dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), gdf AS (
  SELECT mapping.gid, max(dfreq.df) AS df
  FROM dfreq JOIN mapping ON dfreq.term = mapping.term
  GROUP BY mapping.gid
), gtf AS (
  SELECT tf.doc_id, mapping.gid, sum(tf.tf) AS tf, max(tf.dl) AS dl
  FROM tf JOIN mapping ON tf.term = mapping.term
  GROUP BY tf.doc_id, mapping.gid
), scored AS (
  SELECT gtf.doc_id,
         round(sum(
            {bm25.idf_sql("stats.n", "gdf.df")}
            * (gtf.tf * ({bm25.K1} + 1)) /
              (gtf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (gtf.dl / stats.avgdl)))
         ), {rd}) AS score
  FROM gtf JOIN gdf ON gtf.gid = gdf.gid CROSS JOIN stats
  GROUP BY gtf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def oracle_sql_bm25_expanded(
    query_text: str, k: int = 10, fb_docs: int = 5, fb_terms: int = 3,
    expansion_weight: float = 0.5, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`IndexReader.search_expanded` — the full
    two-pass RM3 pipeline recomputed from raw text: stage-1 top
    ``fb_docs``, relevance-model expansion weights Σ tf/dl over ALL
    feedback-doc terms, (round(w) desc, term asc) top-``fb_terms``
    excluding the query terms, then the weighted union rescore."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    terms_vals = ", ".join(
        "('" + t.replace("'", "''") + "')" for t in terms
    )
    rd = bm25.ROUND_DIGITS
    idf = bm25.idf_sql("stats.n", "qdf.df")
    idf2 = bm25.idf_sql("stats.n", "fdf.df")
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
), qtf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), qdf AS (
  SELECT term, count(*) AS df FROM qtf GROUP BY term
), s1 AS (
  SELECT qtf.doc_id,
         round(sum({idf}
            * (qtf.tf * ({bm25.K1} + 1)) /
              (qtf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (qtf.dl / stats.avgdl)))
         ), {rd}) AS score
  FROM qtf, qdf, stats WHERE qtf.term = qdf.term
  GROUP BY qtf.doc_id
), topn AS (
  SELECT doc_id FROM s1 ORDER BY score DESC, doc_id ASC LIMIT {fb_docs}
), fbtf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE doc_id IN (SELECT doc_id FROM topn)
  GROUP BY doc_id, term
), fbw AS (
  SELECT term, sum(CAST(tf AS DOUBLE) / dl) AS w
  FROM fbtf GROUP BY term
), picked AS (
  SELECT term, CAST({expansion_weight} AS DOUBLE) AS wt
  FROM fbw WHERE term NOT IN ({terms_list})
  ORDER BY round(w, {rd}) DESC, term ASC LIMIT {fb_terms}
), allterms AS (
  SELECT term, 1.0 AS wt FROM (VALUES {terms_vals}) v(term)
  UNION ALL
  SELECT term, wt FROM picked
), ftf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok WHERE term IN (SELECT term FROM allterms)
  GROUP BY doc_id, term
), fdf AS (
  SELECT term, count(*) AS df FROM ftf GROUP BY term
), scored AS (
  SELECT ftf.doc_id,
         round(sum(allterms.wt * {idf2}
            * (ftf.tf * ({bm25.K1} + 1)) /
              (ftf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (ftf.dl / stats.avgdl)))
         ), {rd}) AS score
  FROM ftf
  JOIN fdf ON ftf.term = fdf.term
  JOIN allterms ON ftf.term = allterms.term
  CROSS JOIN stats
  GROUP BY ftf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


_EXPLAIN_SCHEMA = StructType(
    _RANKED_SCHEMA.fields[:2]
    + [
        StructField("term", StringType()),
        StructField("tf", LongType()),
        StructField("dl", LongType()),
        StructField("idf", DoubleType()),
        StructField("weight", DoubleType()),
        StructField("score", DoubleType()),
    ]
)


def _attach_explain(
    spark: SparkSession, labeled: DataFrame, topk: list, avgdl: float
) -> DataFrame:
    """Finish an explain(): join the (doc_id, term, tf, dl, idf)
    component rows to the ≤ k (rank, doc_id, score) winners and
    compute the per-term BM25 weight JVM-side with the caller's
    avgdl (corpus or federation-global)."""
    ranks = _local_frame(
        spark, _RANKED_SCHEMA,
        [[r[c] for r in topk] for c in _RANKED_SCHEMA.names],
    )
    k1, b = bm25.K1, bm25.B
    w = (
        F.col("idf") * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    return (
        labeled.join(F.broadcast(ranks), "doc_id")
        .select(
            "rank", "doc_id", "term", "tf", "dl",
            F.round("idf", bm25.ROUND_DIGITS).alias("idf"),
            F.round(w, bm25.ROUND_DIGITS).alias("weight"),
            "score",
        )
        .orderBy("rank", "term")
    )


def oracle_sql_count_matches(
    query_text: str, match: str = "any", table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`IndexReader.count_matches`."""
    terms = sorted(set(py_tokens(query_text)))
    if not terms:
        return "SELECT CAST(0 AS BIGINT) AS n_docs"
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    pred = (
        f"len(list_intersect(tokens, [{terms_list}])) > 0"
        if match == "any"
        else f"len(list_intersect(tokens, [{terms_list}])) = {len(terms)}"
    )
    return f"""
WITH base AS (
  SELECT {doc_col} AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     t -> length(t) >= 3) AS tokens
  FROM {table} WHERE text IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_docs
FROM base WHERE {pred}
"""


def oracle_sql_bm25_explain(
    query_text: str, k: int = 10, table: str = "documents",
    doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`IndexReader.explain` — the per-term
    BM25 component rows of the top-k docs (same CTE chain as
    :func:`oracle_sql_bm25`, kept un-aggregated)."""
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    rd = bm25.ROUND_DIGITS
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
  FROM tok WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf, CAST(tf.dl AS BIGINT) AS dl,
         ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS idf_raw,
         ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * ({bm25.K1} + 1)) /
              (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf.dl / stats.avgdl)))
         AS w_raw
  FROM tf, dfreq, stats WHERE tf.term = dfreq.term
), scored AS (
  SELECT doc_id, round(sum(w_raw), {rd}) AS score FROM contrib
  GROUP BY doc_id
), topk AS (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
           AS rank,
         doc_id, score
  FROM scored
  QUALIFY rank <= {k}
)
SELECT topk.rank, topk.doc_id, contrib.term, contrib.tf, contrib.dl,
       round(contrib.idf_raw, {rd}) AS idf,
       round(contrib.w_raw, {rd}) AS weight,
       topk.score
FROM topk JOIN contrib ON topk.doc_id = contrib.doc_id
ORDER BY topk.rank, contrib.term
"""


def filtered_range_scorer(idf_map: dict[int, float], avgdl: float, k: int,
                          deleted: "np.ndarray | None" = None):
    """Cogrouped kernel for ONE doc range: (segment chunks, allowed
    doc_ids) → local top-k among the allowed set. The allow-list never
    leaves the executors — each range sees only its own slice."""

    def score_range(key, seg_pdf: pd.DataFrame,
                    allow_pdf: pd.DataFrame) -> pd.DataFrame:
        if seg_pdf.empty or allow_pdf.empty:
            return empty_scores()
        allowed = np.unique(allow_pdf["doc_id"].to_numpy(np.int64))
        parts_d, parts_s = [], []
        for tid, docs, tfs, dls in iter_chunks(seg_pdf, deleted):
            sel = np.isin(docs, allowed)
            parts_d.append(docs[sel])
            parts_s.append(
                bm25.tf_weight_np(tfs[sel], dls[sel], avgdl) * idf_map[tid]
            )
        uniq, sums, _ = sum_by_doc(
            np.concatenate(parts_d), np.concatenate(parts_s)
        )
        return topk_frame(uniq, sums, k)

    return score_range

def oracle_sql_bm25_snippets(
    query_text: str, k: int = 10, table: str = "documents",
    before: int = 40, width: int = 100,
) -> str:
    """BM25 top-k + first-match snippet, as one DuckDB statement."""
    terms = sorted(set(py_tokens(query_text)))
    inner = oracle_sql_bm25(query_text, k, table)
    snip = snippet_sql("d.text", terms, before, width)
    return f"""
SELECT h.rank, h.doc_id, h.score, {snip} AS snippet
FROM ({inner}) h JOIN {table} d ON h.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------
# Path 2: indexed reader
# ---------------------------------------------------------------------
def _range_scorer(idf_map: dict[int, float], k: int, mode: str,
                  avgdl: float, bound_scale: float = 1.0,
                  deleted: "np.ndarray | None" = None,
                  acc_decoded=None, acc_total=None):
    """applyInPandas kernel: all chunks of the query terms for ONE
    doc-range → local top-k (doc_id, score).

    Optional accumulators count decoded vs total blocks — the BMW
    pruning-effectiveness metric surfaced in bench/tests.

    ``bound_scale`` ≥ 1 inflates every block upper bound: after an
    incremental append shifts avgdl above a chunk's encode-time avgdl,
    the stored block_max_w can under-state the current tf weights by
    at most avgdl_now/avgdl_encode (tf/(tf+K) is increasing in avgdl;
    the ratio's supremum over dl is avgdl_now/avgdl_encode), so scaled
    bounds remain true upper bounds and BMW stays exact
    (index/append.py). Scores are unaffected — they are recomputed
    from the tf/dl streams with current avgdl either way."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tids = pdf["tid"].tolist()
        # gather per-block tasks: (ub, chunk_row_idx, block_idx)
        blocks = []
        for ri, bmax in enumerate(pdf["block_max_w"].tolist()):
            idf = idf_map[tids[ri]]
            for bi in range(len(bmax)):
                blocks.append((idf * float(bmax[bi]) * bound_scale, ri, bi))
        if acc_total is not None:
            acc_total.add(len(blocks))

        # auto: block-max pruning only pays when the range is deep
        # enough that skipping beats the vectorized full scan
        local_mode = mode
        if mode == "auto":
            local_mode = "bmw" if len(blocks) >= 64 else "exhaustive"

        if local_mode == "exhaustive":
            # exhaustive decodes EVERY block, so decode whole chunks —
            # one varint call per stream for all the range's chunks
            # instead of three per 128-posting block (the per-call
            # fixed overhead was the kernel's hottest line in profiles)
            if acc_decoded is not None:
                acc_decoded.add(len(blocks))
            parts_d, parts_s = [], []
            for tid, docs, tfs, dls in iter_chunks(pdf, deleted):
                parts_d.append(docs)
                parts_s.append(bm25.tf_weight_np(tfs, dls, avgdl) * idf_map[tid])
            if not parts_d:
                return empty_scores()
            uniq, sums, _ = sum_by_doc(
                np.concatenate(parts_d), np.concatenate(parts_s)
            )
            return topk_frame(uniq, sums, k)

        # --- bmw mode: exact prune-then-verify block-max scan ---------
        # Within one doc range a term has exactly one chunk whose blocks
        # partition its docs, so a doc appears in ≤ 1 block per term.
        #
        # Phase A (prune): consume blocks in descending UB = idf·block_max
        # order, accumulating partial scores, until the k-th partial score
        # θ ≥ ub_remaining, where ub_remaining = Σ_t (that term's best
        # unprocessed block UB). Then any doc never seen has final score
        # ≤ ub_remaining ≤ θ ≤ that doc's final k-th competitor — it
        # cannot enter the top-k.
        #
        # Phase B (verify): candidates C = {seen d : acc(d) + ub_remaining
        # ≥ θ} may still be missing contributions from skipped blocks of
        # other terms; decode ONLY the skipped blocks whose [first_doc,
        # last_doc] intersects C and add the contributions of C-members.
        # Scores of C are then exact, and every non-candidate is provably
        # below the final k-th score → exact top-k with exact scores.
        # Phase A is fully vectorized: blocks are consumed in chunks of
        # PRUNE_CHUNK (UB order preserved), each chunk's postings are
        # concatenated and merged into a sorted numpy accumulator with
        # one np.unique + np.add.at, and θ is recomputed once per chunk
        # (np.partition). Checking the stop rule per chunk instead of
        # per block can only decode ≤ PRUNE_CHUNK-1 extra blocks — the
        # result is still exact, and the per-posting Python dict loop
        # (round-1 shape) is gone.
        PRUNE_CHUNK = 16
        blocks.sort(key=lambda x: -x[0])
        reader = BlockReader(pdf)
        remaining: dict[int, list[float]] = {}
        for ub, ri, bi in blocks:
            remaining.setdefault(tids[ri], []).append(ub)
        rem_best = {t: v[0] for t, v in remaining.items()}
        consumed = {t: 0 for t in remaining}

        acc_docs = np.empty(0, dtype=np.int64)   # sorted doc ids
        acc_scores = np.empty(0, dtype=np.float64)
        # pending decoded-but-unmerged postings: merging into the
        # sorted accumulator after EVERY 16-block chunk is O(chunks ×
        # |acc|) — quadratic-ish for unprunable stopword queries where
        # |acc| grows toward the range's doc count. Buffer pending
        # parts and merge geometrically (when pending ≥ max(one
        # chunk's postings, |acc|/2)) → amortized O(N log N) total,
        # while prunable queries (small |acc|) still merge every chunk
        # and keep today's ≤ PRUNE_CHUNK-1 extra-decode bound. The
        # stop rule is only checked at merge points (pending empty) —
        # checking less often can only decode extra blocks, never
        # change the result.
        pend_d: list[np.ndarray] = []
        pend_s: list[np.ndarray] = []
        pend_n = 0
        processed = set()
        pos = 0

        def _merge_pending():
            nonlocal acc_docs, acc_scores, pend_d, pend_s, pend_n
            acc_docs, acc_scores, _ = sum_by_doc(
                np.concatenate([acc_docs] + pend_d),
                np.concatenate([acc_scores] + pend_s),
            )
            pend_d, pend_s, pend_n = [], [], 0

        while pos < len(blocks):
            if pend_n == 0 and len(acc_docs) >= k:
                theta = float(
                    np.partition(acc_scores, len(acc_scores) - k)[
                        len(acc_scores) - k
                    ]
                )
                # margin of 2 rounding ulps: a doc excluded here must
                # round strictly below the k-th score, so rounding +
                # doc_id tie-breaks can never resurrect it
                if theta >= sum(rem_best.values()) + _EPS:
                    break
            chunk = blocks[pos : pos + PRUNE_CHUNK]
            # batched decode: one varint call per stream for the whole
            # 16-block chunk, ~16× fewer fixed-overhead numpy decode
            # calls than a call per block
            idfs = np.empty(len(chunk), dtype=np.float64)
            for ci, (ub, ri, bi) in enumerate(chunk):
                term = tids[ri]
                idfs[ci] = idf_map[term]
                processed.add((ri, bi))
                consumed[term] += 1
                tb = remaining[term]
                rem_best[term] = (
                    tb[consumed[term]] if consumed[term] < len(tb) else 0.0
                )
            if acc_decoded is not None:
                acc_decoded.add(len(chunk))
            docs_f, tfs_f, dls_f, owner = reader.decode(
                [(ri, bi) for _, ri, bi in chunk], deleted
            )
            pend_d.append(docs_f)
            pend_s.append(
                bm25.tf_weight_np(tfs_f, dls_f, avgdl) * idfs[owner]
            )
            pend_n += len(docs_f)
            pos += len(chunk)
            if pend_n >= max(PRUNE_CHUNK * 128, len(acc_docs) // 2):
                _merge_pending()
        if pend_n:
            _merge_pending()

        if len(acc_docs) == 0:
            return empty_scores()

        ub_remaining = sum(rem_best.values())
        # Single-term ranges skip phase B outright: a doc appears in
        # ≤ 1 block per term, so every SEEN doc's score is already
        # exact, and the phase-A stop rule guarantees every unseen doc
        # is ≤ ub_remaining ≤ θ — decoding skipped blocks could only
        # rediscover docs provably outside the top-k.
        if ub_remaining > 0.0 and len(remaining) > 1:
            theta = (
                float(
                    np.partition(acc_scores, len(acc_scores) - k)[
                        len(acc_scores) - k
                    ]
                )
                if len(acc_docs) >= k
                else 0.0
            )
            keep = acc_scores + ub_remaining >= theta - _EPS
            cand_arr = acc_docs[keep]           # sorted (slice of sorted)
            cand_scores = acc_scores[keep].copy()
            first_docs = pdf["block_first_docs"].tolist()
            last_docs = pdf["block_last_docs"].tolist()
            picks = []
            for ub, ri, bi in blocks:
                if (ri, bi) in processed or not len(cand_arr):
                    continue
                # exact span test against the SORTED candidate set
                # (not a [min,max] envelope: when a rare term's
                # docs set θ, candidates are spread over the whole
                # doc space and an envelope excludes nothing — the
                # round-4 stress showed phase B decoding every
                # skipped stopword block just to find isin empty):
                # some candidate lies in [first_doc, last_doc] iff
                # the first candidate ≥ first_doc is ≤ last_doc
                j = int(np.searchsorted(cand_arr, int(first_docs[ri][bi])))
                if j < len(cand_arr) and int(cand_arr[j]) <= int(
                    last_docs[ri][bi]
                ):
                    picks.append((ri, bi))
            if picks:
                # the surviving blocks decode in one batch; a doc is in
                # ≤ 1 block per term but may be in blocks of several
                # terms, so contributions add with np.add.at, in block
                # order
                if acc_decoded is not None:
                    acc_decoded.add(len(picks))
                docs, tfs, dls, owner = reader.decode(picks, deleted)
                sel = np.isin(docs, cand_arr)
                idf_p = np.array([idf_map[tids[ri]] for ri, _ in picks])
                w = (
                    bm25.tf_weight_np(tfs[sel], dls[sel], avgdl)
                    * idf_p[owner[sel]]
                )
                np.add.at(
                    cand_scores, np.searchsorted(cand_arr, docs[sel]), w
                )
            # restrict output to candidates (non-candidates may have
            # inexact partials; they are provably out of the top-k)
            acc_docs, acc_scores = cand_arr, cand_scores
            if len(acc_docs) == 0:
                return empty_scores()

        return topk_frame(acc_docs, acc_scores, k)

    return score_range

class HitStreamModes:
    """Every mode that consumes the matching set as a hit stream —
    facets/aggregations and hit-stream re-rankers — defined once for
    :class:`IndexReader` and the federated
    :class:`~tlhop_library_spark.index.sharded.ShardedIndexReader`.

    A reader supplies two primitives, both with global statistics and
    both returning a typed empty frame (never ``None``) on zero
    matches, so each mode's zero-match result carries the non-empty
    path's schema by construction:

    - ``_matching_scores(query_text)`` → ``(doc_id long, score
      double)`` for every doc matching the OR query;
    - ``_counted_matching(query_text)`` → ``(doc_id, score,
      n_matched)``, the counted stream ``terms_set`` consumes.

    Shards hold disjoint doc_id spaces, so the federated stream is the
    union index's stream and every mode here is shard-layout-
    independent."""

    def _empty(self) -> DataFrame:
        """The zero-match ranked answer ``(rank, doc_id, score)``."""
        return _local_frame(self.spark, _RANKED_SCHEMA)

    def facet_cardinality(
        self, query_text: str, docs: DataFrame, field: str,
        k: "int | None" = None,
    ) -> DataFrame:
        """Cardinality aggregation over the matching set (ES
        ``cardinality``): the number of distinct ``field`` values among
        docs matching any query term (NULLs ignored, ES missing-value
        semantics). One row ``(cardinality bigint)``.

        ``k=None`` → exact ``countDistinct`` (one shuffle of distinct
        values; fine up to huge-but-bounded cardinalities). ``k=int``
        → the KMV sketch (``corpus_stats.kmv_distinct`` — mergeable,
        O(k·partitions) reduce regardless of cardinality, exactly
        reproducible across engines unlike HLL++ registers; the k
        smallest hashes merge across shards exactly like across
        partitions); returns its ``(kmv_estimate, k_used)`` row
        instead."""
        hits = self._matching_scores(query_text).select("doc_id")
        # NULLs ignored up front (ES missing-value semantics) — also
        # keeps the KMV path from hashing NULL into a phantom value
        j = (
            docs.join(hits, "doc_id", "left_semi")
            .select(field)
            .where(F.col(field).isNotNull())
        )
        if k is None:
            return j.agg(
                F.countDistinct(field).cast("long").alias("cardinality")
            )
        from tlhop_library_spark.operators.corpus_stats import (
            kmv_distinct,
        )

        return kmv_distinct(j, field, k=k)

    def search_boosting(
        self, positive: str, negative: str, k: int = 10,
        negative_boost: float = 0.5,
    ) -> DataFrame:
        """ES ``boosting`` query: positive-query BM25 ranking with
        docs also matching the negative query demoted by
        ``negative_boost`` (never filtered). Semantics + scale shape
        in :func:`boosting_rank_hits`."""
        pos = self._matching_scores(positive)
        neg = self._matching_scores(negative)
        return boosting_rank_hits(pos, neg, k, negative_boost)

    def search_random(
        self, query_text: str, k: int = 10, seed: int = 42,
    ) -> DataFrame:
        """ES ``function_score.random_score``: seeded deterministic
        uniform re-ranking of the matching set (reproducible sampling
        of matches — e.g. eyeballing a random page of hits at 10^12
        docs without a global sort by anything data-dependent).
        Semantics in :func:`random_rank_hits`."""
        return random_rank_hits(
            self._matching_scores(query_text), k, seed
        )

    def search_terms_set(
        self, query_text: str, docs: DataFrame, msm_field: str,
        k: int = 10,
    ) -> DataFrame:
        """ES ``terms_set`` query: docs qualify iff their DISTINCT
        matched-term count ≥ their own ``msm_field`` value
        (``minimum_should_match_field``). Semantics + scale shape in
        :func:`terms_set_rank_hits`."""
        return terms_set_rank_hits(
            self._counted_matching(query_text), docs, msm_field, k
        )

    def facet_stats(
        self, query_text: str, docs: DataFrame, field: str,
        extended: bool = False,
    ) -> DataFrame:
        """ES ``stats`` / ``extended_stats`` aggregation over the
        matching set: one row of (cnt, min_v, max_v, sum_v, avg_v
        [, sum_sq, variance, std_dev]) for a numeric metadata field
        of docs matching any query term. Semantics + scale shape in
        :func:`stats_agg_hits`."""
        hits = self._matching_scores(query_text).select("doc_id")
        return stats_agg_hits(hits, docs, field, extended=extended)

    def facet_composite(
        self, query_text: str, docs: DataFrame, field: str,
        size: int = 10, after: "str | None" = None,
    ) -> DataFrame:
        """ES ``composite`` aggregation — paginated terms buckets over
        the matching set, key-ascending, resuming strictly after the
        ``after`` key. Semantics + the sargable-resume scale shape in
        :func:`composite_agg_hits`."""
        hits = self._matching_scores(query_text).select("doc_id")
        return composite_agg_hits(hits, docs, field, size, after=after)

    def search_diversified(
        self, query_text: str, docs: DataFrame, field: str,
        max_per_key: int = 1, k: int = 10,
    ) -> DataFrame:
        """ES ``diversified_sampler``-style retrieval: BM25 top-k
        with at most ``max_per_key`` hits per distinct ``field``
        value (e.g. ≤1 hit per domain). Semantics + the global-
        determinism difference from ES's per-shard sampler in
        :func:`diversified_rank_hits`."""
        return diversified_rank_hits(
            self._matching_scores(query_text), docs, field,
            max_per_key, k,
        )

    def search_rank_feature(
        self, query_text: str, docs: DataFrame, field: str,
        k: int = 10, function: str = "saturation",
        pivot: float = 1.0, boost: float = 1.0,
    ) -> DataFrame:
        """ES ``rank_feature`` clause combined with the BM25 text
        score (static doc-quality boosting — pagerank, freshness,
        length priors). Semantics in :func:`rank_feature_rank_hits`."""
        return rank_feature_rank_hits(
            self._matching_scores(query_text), docs, field, k,
            function=function, pivot=pivot, boost=boost,
        )

    def search_pinned(
        self, query_text: str, docs: DataFrame,
        pinned_ids: list[int], k: int = 10,
    ) -> DataFrame:
        """ES ``pinned`` query: curated docs first in list order,
        then the organic BM25 ranking with pins removed. Semantics in
        :func:`pinned_rank_hits`."""
        return pinned_rank_hits(
            self._matching_scores(query_text), docs, pinned_ids, k,
        )

    def facet_multi_terms(
        self, query_text: str, docs: DataFrame, fields: list[str],
        size: int = 10,
    ) -> DataFrame:
        """ES ``multi_terms`` aggregation: top-``size`` composite-key
        buckets over the matching set, (doc_count DESC, key ASC).
        Semantics in :func:`multi_terms_agg_hits`."""
        return multi_terms_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, fields, size,
        )

    def facet_adjacency_matrix(
        self, named_queries: dict[str, str],
    ) -> DataFrame:
        """ES ``adjacency_matrix`` aggregation: singleton and
        pairwise-intersection doc counts of the named filters'
        matching sets. Semantics + scale shape in
        :func:`adjacency_matrix_hits`; a filter with no matching doc
        contributes no rows."""
        return adjacency_matrix_hits({
            name: self._matching_scores(q)
            for name, q in named_queries.items()
        })

    def facet_filters(
        self, named_queries: dict[str, str],
        docs: "DataFrame | None" = None,
    ) -> DataFrame:
        """ES ``filters`` aggregation: per-named-filter matching-doc
        counts, with an ``__other__`` bucket (docs matching no
        filter) when a context ``docs`` table is given. Semantics in
        :func:`filters_agg_hits`; a filter with no matching doc
        counts 0."""
        return filters_agg_hits({
            name: self._matching_scores(q)
            for name, q in named_queries.items()
        }, docs)

    def facet_histogram(
        self, query_text: str, docs: DataFrame, field: str,
        interval: float,
    ) -> DataFrame:
        """ES ``histogram`` aggregation: fixed-interval numeric
        buckets of the matching docs' field. Semantics in
        :func:`histogram_agg_hits`."""
        return histogram_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field, interval,
        )

    def facet_terms_stats(
        self, query_text: str, docs: DataFrame, key_field: str,
        metric_field: str, size: int = 10,
    ) -> DataFrame:
        """ES ``terms`` aggregation with a ``stats`` sub-agg: top
        buckets by doc_count, each with the bucket's metric stats.
        Semantics in :func:`terms_stats_agg_hits`."""
        return terms_stats_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, key_field, metric_field, size,
        )

    def facet_weighted_avg(
        self, query_text: str, docs: DataFrame, value_field: str,
        weight_field: str,
    ) -> DataFrame:
        """ES ``weighted_avg`` aggregation over the matching set.
        Semantics in :func:`weighted_avg_agg_hits`."""
        return weighted_avg_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, value_field, weight_field,
        )

    def facet_percentiles(
        self, query_text: str, docs: DataFrame, field: str,
        percentiles: "list[float] | None" = None,
        approx: bool = False, accuracy: int = 10000,
    ) -> DataFrame:
        """ES ``percentiles`` aggregation over the matching set.
        ``approx=True`` switches the exact (oracle-reproducible)
        percentile to the bounded-memory mergeable sketch — the
        documented default for continuous/high-cardinality fields at
        scale. Semantics + scale contract in
        :func:`percentiles_agg_hits`."""
        return percentiles_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field, percentiles, approx=approx, accuracy=accuracy,
        )

    def facet_missing(
        self, query_text: str, docs: DataFrame, field: str,
    ) -> DataFrame:
        """ES ``missing`` aggregation over the matching set.
        Semantics in :func:`missing_agg_hits`."""
        return missing_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field,
        )

    def facet_percentile_ranks(
        self, query_text: str, docs: DataFrame, field: str,
        values: list[float],
    ) -> DataFrame:
        """ES ``percentile_ranks`` over the matching set — exact
        inverse percentiles. Semantics in
        :func:`percentile_ranks_agg_hits`."""
        return percentile_ranks_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field, values,
        )

    def facet_mad(
        self, query_text: str, docs: DataFrame, field: str,
    ) -> DataFrame:
        """ES ``median_absolute_deviation`` over the matching set —
        exact two-phase. Semantics in :func:`mad_agg_hits`."""
        return mad_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field,
        )

    def facet_boxplot(
        self, query_text: str, docs: DataFrame, field: str,
    ) -> DataFrame:
        """ES ``boxplot`` over the matching set — exact quartiles.
        Semantics in :func:`boxplot_agg_hits`."""
        return boxplot_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field,
        )

    def facet_string_stats(
        self, query_text: str, docs: DataFrame, field: str,
    ) -> DataFrame:
        """ES ``string_stats`` over the matching set (lengths +
        character entropy). Semantics in
        :func:`string_stats_agg_hits`."""
        return string_stats_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field,
        )

    def facet_top_metrics(
        self, query_text: str, docs: DataFrame, sort_field: str,
        metric_field: str, size: int = 1, asc: bool = False,
    ) -> DataFrame:
        """ES ``top_metrics`` over the matching set. Semantics in
        :func:`top_metrics_agg_hits`."""
        return top_metrics_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, sort_field, metric_field, size, asc,
        )

    def facet_t_test(
        self, query_text: str, docs: DataFrame, field: str,
        group_field: str,
    ) -> DataFrame:
        """ES ``t_test`` (Welch) over the matching set — returns the
        exact statistic (see deviation note in
        :func:`t_test_agg_hits`)."""
        return t_test_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field, group_field,
        )

    def facet_rare_terms(
        self, query_text: str, docs: DataFrame, field: str,
        max_doc_count: int = 1, max_buckets: int = 1000,
    ) -> DataFrame:
        """ES ``rare_terms`` aggregation over the matching set —
        exact long-tail buckets with an explicit bucket budget.
        Semantics in :func:`rare_terms_agg_hits`."""
        return rare_terms_agg_hits(
            self._matching_scores(query_text).select("doc_id"),
            docs, field, max_doc_count, max_buckets,
        )

    def search_scan(
        self, query_text: str, slice_id: int = 0, n_slices: int = 1,
    ) -> DataFrame:
        """Scroll/scan retrieval (ES sliced scroll over a QUERY, not
        just a table): EVERY matching doc with its BM25 score —
        (doc_id, score), unranked and unlimited — optionally cut to
        deterministic slice ``slice_id`` of ``n_slices`` with the
        same md5 rule as :func:`operators.corpus_stats.slice_scan`
        (disjoint, exactly tiling, layout-independent). The shape a
        parallel reindex/export of a query's result set uses: each
        worker pulls its slice with no coordination, no global sort,
        no top-k heap — the hit stream stays distributed end to end.
        The slice rule is a pure function of doc_id, so slices agree
        with any sharding."""
        from tlhop_library_spark.operators.corpus_stats import slice_scan

        hits = self._matching_scores(query_text)
        if n_slices <= 1:
            if n_slices != 1 or slice_id != 0:
                raise ValueError("need 0 <= slice_id < n_slices")
            return hits
        return slice_scan(hits, slice_id, n_slices)

    def facet_date_histogram(
        self, query_text: str, docs: DataFrame, ts_col: str,
        interval: str = "day",
    ) -> DataFrame:
        """ES ``date_histogram`` (calendar_interval) over the matching
        set: non-empty ``date_trunc(interval)`` buckets of ``ts_col``
        with per-bucket doc counts, keyed as epoch millis + a rendered
        ``key_as_string``, ascending. Semantics + scale shape in
        :func:`date_histogram_hits`."""
        hits = self._matching_scores(query_text).select("doc_id")
        return date_histogram_hits(hits, docs, ts_col, interval)

    def facet_pipeline(
        self, query_text: str, docs: DataFrame, ts_col: str,
        interval: str = "day", metric_field: "str | None" = None,
        window: int = 3, min_metric: "float | None" = None,
        sort_by_metric: bool = False, size: "int | None" = None,
    ) -> DataFrame:
        """ES pipeline aggregations (cumulative_sum / derivative /
        moving_fn avg / bucket_script / bucket_selector /
        bucket_sort) over a date_histogram of the matching set.
        Semantics + scale shape in :func:`pipeline_aggs_hits`."""
        hits = self._matching_scores(query_text).select("doc_id")
        return pipeline_aggs_hits(
            hits, docs, ts_col, interval, metric_field, window,
            min_metric, sort_by_metric, size,
        )

    def facet_auto_date_histogram(
        self, query_text: str, docs: DataFrame, ts_col: str,
        max_buckets: int = 20,
    ) -> DataFrame:
        """ES ``auto_date_histogram`` over the matching set —
        interval auto-chosen from the calendar ladder. Semantics in
        :func:`auto_date_histogram_hits`."""
        hits = self._matching_scores(query_text).select("doc_id")
        return auto_date_histogram_hits(hits, docs, ts_col, max_buckets)

    def search_decay(
        self, query_text: str, docs: DataFrame, field: str,
        origin: float, scale: float, k: int = 10, decay: float = 0.5,
        offset: float = 0.0, fn: str = "gauss",
    ) -> DataFrame:
        """function_score decay retrieval (Elasticsearch
        ``function_score`` with a ``gauss``/``exp``/``linear`` decay
        over a numeric field, multiply boost mode): every matching
        doc's BM25 score is multiplied by a factor in (0, 1] that
        decays with the field's distance from ``origin`` — factor
        ``decay`` exactly at distance ``scale`` (past ``offset``).
        The canonical recency/geo re-ranker (e.g. field =
        epoch-seconds of ``warc_ts``).

            d = max(0, |x − origin| − offset)
            gauss:  exp(−d² / (2σ²)),  σ² = −scale² / (2·ln decay)
            exp:    exp(d · ln(decay) / scale)
            linear: max(0, (s − d) / s),  s = scale / (1 − decay)

        A NULL field scores as factor 1 (ES semantics: docs missing
        the field are not decayed). Shape: hit stream equi-joined to
        the docs scan, decay factor as a pure JVM column expression,
        ``ranked_topk`` — fully distributed, no Python in the hot
        path. Returns (rank, doc_id, score)."""
        return decay_rank_hits(
            self._matching_scores(query_text), docs, field,
            origin, scale, k, decay, offset, fn,
        )

    def search_group_topk(
        self, query_text: str, docs: DataFrame, group_field: str,
        n_groups: int = 5, per_group: int = 3,
    ) -> DataFrame:
        """Grouped retrieval with hits per group (Elasticsearch
        ``top_hits`` aggregation / Lucene grouping with
        ``groupDocsLimit``): the top ``n_groups`` groups ranked by
        their best matching doc's score, each carrying its own top
        ``per_group`` docs. :meth:`search_collapse` is the
        ``per_group=1`` projection of this.

        Docs with a NULL group key are excluded (ES terms-aggregation
        semantics: missing keys form no bucket — unlike
        :meth:`search_collapse`, which keeps NULL as a group).

        Shape: hit stream joined to the docs scan, ONE window
        partitioned by the group field (distributed — group
        cardinality is the parallelism, never a single partition),
        ``ranked_topk`` over the one-best-per-group survivors to pick
        the groups, then a broadcast-sized join back to the ≤
        per_group rows. Returns (group_rank, <group_field>, hit_rank,
        doc_id, score) ordered by (group_rank, hit_rank)."""
        return group_topk_hits(
            self._matching_scores(query_text), docs, group_field,
            n_groups, per_group,
        )


class IndexReader(HitStreamModes):
    def __init__(
        self, spark: SparkSession, index_dir: str,
        preload_dictionary: int | None = 2_000_000,
    ):
        """``preload_dictionary``: pull the dictionary into driver
        memory when it has at most this many terms (one parquet read
        replaces a Spark job per query — at 1e8+-term scale pass None
        and lookups stay pushdown-filtered Spark jobs)."""
        self.spark = spark
        self.index_dir = index_dir
        self.stats = layout.read_stats(index_dir)
        # known schemas: a schema-less read starts a footer-reading
        # inference job per table on every reader open
        self._dict = layout.DICTIONARY.read(spark, index_dir)
        self._segments = layout.read_segments(
            spark, index_dir, bool(self.stats.get("positions"))
        )
        # live-docs mask (delete.py): sorted tombstone ids or None;
        # rides into every scoring kernel's closure
        self._deleted = load_tombstones(index_dir)
        self._dict_mem: dict[str, tuple[int, int, int]] | None = None
        if preload_dictionary:
            try:
                import pyarrow.dataset as ds

                tbl = ds.dataset(
                    layout.DICTIONARY.path(index_dir), format="parquet"
                ).to_table(columns=["term", "df", "bucket", "tid"])
                if tbl.num_rows <= preload_dictionary:
                    cols = [c.to_pylist() for c in tbl.columns]
                    self._dict_mem = {
                        t: (d, b, i)
                        for t, d, b, i in zip(*cols)
                    }
            except Exception:
                self._dict_mem = None

    def _bound_scale(self, avgdl: "float | None" = None) -> float:
        """Pruning-bound inflation for scoring at ``avgdl`` (default the
        index's own): stored block_max_w were computed with each group's
        encode-time avgdl; max(1, avgdl/min_encode_avgdl) keeps them
        true upper bounds for ANY query-time avgdl (tf_weight is
        monotone in avgdl) — after incremental appends (see
        index/append.py) and under federation-global stats alike.
        Exactly 1.0 for a cold build scored with its own stats."""
        if avgdl is None:
            avgdl = float(self.stats["avgdl"])
        enc = float(self.stats.get("min_encode_avgdl", avgdl) or avgdl)
        return max(1.0, avgdl / enc) if enc > 0 else 1.0

    def _idfs(self, info) -> dict[int, float]:
        """tid → BM25 idf for resolved term info (term → (df, ...,
        tid)), from this index's own n_docs."""
        n_docs = self.stats["n_docs"]
        return {v[-1]: bm25.idf(n_docs, v[0]) for v in info.values()}

    def lookup_terms(self, terms: list[str]) -> dict[str, tuple[int, int, int]]:
        """term → (df, bucket, tid); driver-memory map when preloaded,
        else a parquet read with filter pushdown on term."""
        if self._dict_mem is not None:
            return {
                t: self._dict_mem[t] for t in terms if t in self._dict_mem
            }
        rows = (
            self._dict.where(F.col("term").isin(terms))
            .select("term", "df", "bucket", "tid")
            .collect()
        )
        return {r["term"]: (r["df"], r["bucket"], r["tid"]) for r in rows}

    def lookup_terms_regexp(
        self, pattern: str, max_expansions: int = 1000
    ) -> dict[str, tuple[int, int, int]]:
        """Dictionary terms fully matching ``pattern`` (Lucene
        RegexpQuery semantics: the whole term must match). One
        distributed dictionary scan; raises past ``max_expansions``
        like the wildcard guard."""
        anchored = f"^(?:{pattern})$"
        rows = (
            self._dict.where(F.col("term").rlike(anchored))
            .select("term", "df", "bucket", "tid")
            .limit(max_expansions + 1)
            .collect()
        )
        if len(rows) > max_expansions:
            raise ValueError(
                f"regexp expands to more than {max_expansions} terms"
            )
        return {r["term"]: (r["df"], r["bucket"], r["tid"]) for r in rows}

    def search_regexp(
        self, pattern: str, k: int = 10, mode: str = "auto",
        max_expansions: int = 1000,
    ) -> DataFrame:
        """Regexp retrieval: the pattern expands against the
        dictionary (full-term match), the expanded set scores as a
        plain OR — same shape as wildcard/fuzzy expansion."""
        info = self.lookup_terms_regexp(pattern, max_expansions)
        return self._search_with_info(info, k, mode)

    def more_like_this(
        self, doc_id: int, k: int = 10, max_terms: int = 10,
        mode: str = "auto",
    ) -> DataFrame:
        """Lucene MoreLikeThis: rank the source doc's terms by
        (tf/dl)·idf (rounded; ties term-asc), take the top
        ``max_terms`` as the query, score as plain OR BM25, and drop
        the source doc from the results.

        Scale shape: the term-vector read decodes only the source
        doc's RANGE (one doc-space slice — range_id pushdown), masks
        to the single doc id, and ships one (tid, weight) row per
        distinct term of that doc; everything after is a standard
        pruned search."""
        range_size = int(self.stats["range_size"])
        seg = self._segments.where(
            F.col("range_id") == int(doc_id) // range_size
        ).select(*[f.name for f in SEGMENT_SCHEMA.fields])
        n_docs = self.stats["n_docs"]
        cand = (
            _ranges_apply(
                seg, _doc_postings(np.array([int(doc_id)], dtype=np.int64)),
                _DOC_POSTINGS_DDL,
            )
            .groupBy("tid")
            .agg(
                F.sum(
                    F.col("tf").cast("double") / F.col("dl").cast("double")
                ).alias("w")
            )
            .join(self._dict.select("tid", "term", "df", "bucket"), "tid")
            .withColumn(
                "w",
                F.col("w") * F.expr(bm25.idf_sql(str(n_docs), "df")),
            )
            .orderBy(
                F.round("w", bm25.ROUND_DIGITS).desc(), F.asc("term")
            )
            .limit(max_terms)
            .collect()
        )
        if not cand:
            return self._empty()
        info = {
            r["term"]: (r["df"], r["bucket"], r["tid"]) for r in cand
        }
        local = self._local_winners(
            info, self._idfs(info), float(self.stats["avgdl"]), k + 1, mode
        ).where(F.col("doc_id") != int(doc_id))
        return _rank(local, k)

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """Lucene TermVectors API: (doc_id, term, tf, dl) for every
        distinct term of the given documents, straight from the index
        (no raw-text access).

        Scale shape: decodes only the docs' RANGES (range_id pushdown
        — one doc-space slice per distinct range), masks to the
        requested ids inside the kernel, ships one row per (doc,
        term); the term names attach via a dictionary join. Tombstoned
        docs are excluded."""
        ids = np.unique(np.array([int(d) for d in doc_ids], dtype=np.int64))
        if self._deleted is not None and self._deleted.size:
            ids = ids[~np.isin(ids, self._deleted)]
        if not ids.size:
            return _local_frame(self.spark, _TERM_VECTOR_SCHEMA)
        range_size = int(self.stats["range_size"])
        ranges = sorted({int(d) // range_size for d in ids})
        seg = self._segments.where(
            F.col("range_id").isin(ranges)
        ).select(*[f.name for f in SEGMENT_SCHEMA.fields])
        raw = _ranges_apply(seg, _doc_postings(ids), _DOC_POSTINGS_DDL)
        # a (doc, term)'s postings may span append-boundary chunks
        summed = raw.groupBy("doc_id", "tid").agg(
            F.sum("tf").alias("tf"), F.max("dl").alias("dl")
        )
        return summed.join(
            self._dict.select("tid", "term"), "tid"
        ).select("doc_id", "term", "tf", "dl")

    def search_synonyms(
        self, query_text: str, synonyms: dict[str, list[str]],
        k: int = 10,
    ) -> DataFrame:
        """Lucene ``SynonymQuery`` semantics: each query term and its
        synonyms form ONE scoring group — term frequencies are SUMMED
        across the group's members per document, and the group idf
        uses the MAX member df (Lucene's blended docFreq) — so a doc
        saying "car" twice and "automobile" once scores exactly like a
        doc saying "car" three times, instead of the double-counted
        idf a plain OR over the synonyms would give.

        ``synonyms``: query term → list of equivalent terms. Terms of
        the query absent from the dict score as their own group.

        Scale shape: identical to a plain search over the union term
        set — (bucket, tid)-pruned chunk scan, per-range kernels,
        k winners per range; the group merge is a per-range numpy
        sum over the members' already-decoded postings."""
        qterms = sorted(set(py_tokens(query_text)))
        if not qterms:
            return self._empty()
        # group id = position of the query term; members analyzed too
        groups: list[list[str]] = []
        for t in qterms:
            member_tokens = set([t])
            for s in synonyms.get(t, []):
                member_tokens.update(py_tokens(s))
            groups.append(sorted(member_tokens))
        return self._search_term_groups(groups, k)

    def _search_term_groups(
        self, groups: list[list[str]], k: int
    ) -> DataFrame:
        """Shared SynonymQuery-group scoring: each group of member
        terms scores as ONE pseudo-term (tf summed across the group's
        members per doc, idf from the max ASSIGNED-member df); a term
        named in several groups lands in the LAST one. Used by
        :meth:`search_synonyms` (explicit synonym groups) and
        :meth:`search_bool_prefix` (prefix-expansion group)."""
        all_terms = sorted({m for g in groups for m in g})
        info = self.lookup_terms(all_terms)
        if not info:
            return self._empty()
        n_docs = self.stats["n_docs"]
        # term → group assignment first (a term named in several
        # groups lands in the LAST one), then idf from the max df of
        # the ASSIGNED members — mirrored exactly by the SQL oracle
        term_group: dict[str, int] = {}
        for gi, members in enumerate(groups):
            for m in members:
                term_group[m] = gi
        tid_group: dict[int, int] = {}
        group_dfs: dict[int, list[int]] = {}
        for m, gi in term_group.items():
            if m in info:
                tid_group[info[m][2]] = gi
                group_dfs.setdefault(gi, []).append(info[m][0])
        group_idf = {
            gi: bm25.idf(n_docs, max(dfs))
            for gi, dfs in group_dfs.items()
        }
        if not group_idf:
            return self._empty()
        scorer = term_groups_range_scorer(
            tid_group, group_idf, float(self.stats["avgdl"]), k,
            self._deleted,
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def search_page(
        self, query_text: str, page_size: int = 10, offset: int = 0,
        mode: str = "auto",
    ) -> DataFrame:
        """Paged retrieval: rows ranked offset+1 … offset+page_size.
        Implemented as a k = offset+page_size search then a rank
        filter — exactly Lucene's from+size mechanics, with the same
        deep-paging cost caveat (per-range heaps grow with the page
        depth; for cursor-style deep paging batch the offsets)."""
        full = self.search(query_text, offset + page_size, mode)
        return full.where(F.col("rank") > offset)

    def search_constant_score(
        self, query_text: str, k: int = 10, boost: float = 1.0
    ) -> DataFrame:
        """ConstantScoreQuery (Lucene filter context): every doc
        matching the OR query scores exactly ``boost``; ties broken —
        hence ranking fully determined — by doc_id ASC. Scoring work
        is skipped entirely (zero weight closures: the kernel decodes
        doc ids, never computes tf weights); ≤ k ids per range leave
        the executors. Returns (rank, doc_id, score)."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return self._empty()

        def zero(tfs, dls):
            return np.zeros(len(tfs), dtype=np.float64)

        weight_of = {tid: zero for (_df, _cf, _b, tid) in info.values()}
        scorer = similarity_range_scorer(
            weight_of, k, deleted=self._deleted
        )
        local = _ranges_apply(self._pruned_segments(info), scorer)
        return ranked_topk(
            local.select("doc_id"), [F.asc("doc_id")], k
        ).select(
            "rank", "doc_id",
            F.lit(float(boost)).alias("score"),
        )

    def search_after(
        self, query_text: str, after: tuple[float, int], k: int = 10
    ) -> DataFrame:
        """Cursor-based deep paging (Lucene ``searchAfter``): top-k
        docs strictly AFTER ``after=(score, doc_id)`` in the
        (score DESC, doc_id ASC) total order. The cursor predicate is
        evaluated inside the per-range kernel, so per-range heaps stay
        size k at any depth — the scalable alternative to
        :meth:`search_page`, whose heaps grow with the offset.
        Returns (rank, doc_id, score); rank restarts at 1 per page.

        Cursor contract: ``after`` must be a (score, doc_id) taken
        from a PRIOR ``search_after``/``search`` page of the same
        reader. Scores are compared on the ROUND_DIGITS-rounded grid
        with exact equality; the exhaustive and block-max kernels sum
        per-term contributions in the same ascending-tid order, so a
        page-boundary score rounds identically across the two paths —
        but a cursor fabricated from a differently-rounded source
        (e.g. an external float) may skip or duplicate boundary-tied
        docs."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return self._empty()
        scorer = similarity_range_scorer(
            self._bm25_weight_fns(info), k, deleted=self._deleted,
            after=(float(after[0]), int(after[1])),
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def search_expanded(
        self, query_text: str, k: int = 10, fb_docs: int = 5,
        fb_terms: int = 3, expansion_weight: float = 0.5,
        mode: str = "auto",
    ) -> DataFrame:
        """Pseudo-relevance feedback (RM3-style two-pass retrieval):

        1. retrieve the top ``fb_docs`` docs for the plain query;
        2. rank every term occurring in those docs by the relevance-
           model weight  w(t) = Σ_{d∈fb} tf(t,d)/dl(d)  (rounded to
           ROUND_DIGITS; ties broken term-asc), drop the original
           query terms, keep the top ``fb_terms`` as expansion terms;
        3. re-score with the union term set, original terms weighted
           1.0 and expansion terms ``expansion_weight`` — the weight
           folds into the per-term idf (score = Σ_t w_t·idf_t·tfnorm),
           so block-max bounds stay exact upper bounds and the normal
           pruned search machinery runs unchanged.

        Scale shape: step 2 scans ONLY the segment chunks of the
        feedback docs' ranges (range_id pushdown — a handful of doc-
        space slices regardless of corpus size) whose
        [first_doc, last_doc] window covers some feedback id (a
        parquet-pushable OR over ≤ fb_docs point predicates), decodes
        them MAP-SIDE at scan parallelism (mapInPandas — no shuffle,
        no per-range task cap), masks the decoded postings to the
        ≤ fb_docs ids riding in the kernel closure, and ships one
        (tid, weight) row per distinct feedback-doc term; expansion
        selection is a distributed (weight, term) top-m via the
        dictionary join — no driver-side vocabulary scan."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        if not info:
            return self._empty()
        # weight 0 ⇒ expansion terms cannot contribute: skip the
        # feedback pass entirely (same contract as a zero field boost
        # in multifield.py — zero-weighted work is never scanned)
        if expansion_weight == 0.0:
            return self._search_with_info(info, k, mode)
        top = self.search(query_text, fb_docs, mode).collect()
        if not top:
            return self._empty()
        fb_ids = np.sort(
            np.array([r["doc_id"] for r in top], dtype=np.int64)
        )
        range_size = int(self.stats["range_size"])
        ranges = sorted({int(d) // range_size for d in fb_ids})
        # chunk-window pruning: a chunk can only contribute if its
        # [first_doc, last_doc] span covers SOME feedback id — one
        # parquet-pushable OR over the ≤ fb_docs ids (row-group stats
        # on first_doc/last_doc skip non-covering chunks at scan time)
        window = functools.reduce(
            operator.or_,
            [
                (F.col("first_doc") <= int(d))
                & (F.col("last_doc") >= int(d))
                for d in fb_ids
            ],
        )
        seg = self._segments.where(
            F.col("range_id").isin(ranges) & window
        ).select(*[f.name for f in SEGMENT_SCHEMA.fields])

        def fb_weights(it) -> "pd.DataFrame":
            for pdf in it:
                yield _fb_weights_one(pdf)

        def _fb_weights_one(pdf: pd.DataFrame) -> pd.DataFrame:
            # BLOCK-level, fully vectorized decode. The chunk-window
            # filter above cannot prune wide-window (head-term)
            # chunks, and of the chunks that DO span a feedback id
            # only ~|fb| × types-per-doc actually contain one — so the
            # kernel must spend O(1) python per batch, not per chunk:
            #   1. flatten every chunk's block directory and mask the
            #      blocks covering some feedback id (|fb| vectorized
            #      passes over the flat directory);
            #   2. gather the selected blocks' doc-gap slices, decode
            #      them in ONE varint_decode call (LEB128 streams
            #      concatenate losslessly), cumsum-reset per block;
            #   3. isin against the feedback ids; tf/dl streams are
            #      decoded only for the blocks with actual hits.
            empty_out = pd.DataFrame(
                {"tid": pd.Series([], dtype="int64"),
                 "w": pd.Series([], dtype="float64")}
            )
            nrows = len(pdf)
            if nrows == 0:
                return empty_out
            bf_l = pdf["block_first_docs"].tolist()
            bl_l = pdf["block_last_docs"].tolist()
            nb = np.fromiter((len(x) for x in bf_l), dtype=np.int64,
                             count=nrows)
            flat_bf = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in bf_l]
            )
            flat_bl = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in bl_l]
            )
            cover = np.zeros(flat_bf.shape, dtype=bool)
            for d in fb_ids:
                cover |= (flat_bf <= d) & (flat_bl >= d)
            sel = np.nonzero(cover)[0]
            if sel.size == 0:
                return empty_out
            row_of_blk = np.repeat(np.arange(nrows), nb)
            blk_starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
            sel_row = row_of_blk[sel]
            sel_bi = sel - blk_starts[sel_row]

            cnt_l = pdf["block_counts"].tolist()
            od_l = pdf["block_doc_offsets"].tolist()
            db_l = pdf["doc_bytes"].tolist()
            doc_parts, cnts_sel = [], np.empty(sel.size, dtype=np.int64)
            for i in range(sel.size):
                ri, bi = int(sel_row[i]), int(sel_bi[i])
                od, db = od_l[ri], db_l[ri]
                end = od[bi + 1] if bi + 1 < len(od) else len(db)
                doc_parts.append(bytes(db[od[bi]:end]))
                cnts_sel[i] = cnt_l[ri][bi]
            gaps = varint_decode(b"".join(doc_parts),
                                 int(cnts_sel.sum())).astype(np.int64)
            docs_flat = _cum_reset(gaps, cnts_sel)
            hits = np.isin(docs_flat, fb_ids, assume_unique=True)
            if not hits.any():
                return empty_out
            pstart = np.concatenate(([0], np.cumsum(cnts_sel)))
            blk_of_post = np.repeat(np.arange(sel.size), cnts_sel)
            hit_blocks = np.unique(blk_of_post[hits])

            ot_l = pdf["block_tf_offsets"].tolist()
            ol_l = pdf["block_dl_offsets"].tolist()
            tb_l = pdf["tf_bytes"].tolist()
            lb_l = pdf["dl_bytes"].tolist()
            tf_parts, dl_parts, m_parts = [], [], []
            for b in hit_blocks:
                ri, bi = int(sel_row[b]), int(sel_bi[b])
                ot, ol = ot_l[ri], ol_l[ri]
                tb, lb = tb_l[ri], lb_l[ri]
                t_end = ot[bi + 1] if bi + 1 < len(ot) else len(tb)
                l_end = ol[bi + 1] if bi + 1 < len(ol) else len(lb)
                tf_parts.append(bytes(tb[ot[bi]:t_end]))
                dl_parts.append(bytes(lb[ol[bi]:l_end]))
                m_parts.append(hits[pstart[b]:pstart[b + 1]])
            n2 = int(cnts_sel[hit_blocks].sum())
            tfs2 = varint_decode(b"".join(tf_parts), n2)
            dls2 = varint_decode(b"".join(dl_parts), n2)
            m2 = np.concatenate(m_parts)
            contrib = (tfs2[m2].astype(np.float64)
                       / dls2[m2].astype(np.float64))
            row_per_hit = np.repeat(sel_row[hit_blocks],
                                    cnts_sel[hit_blocks])[m2]
            w_rows = np.zeros(nrows, dtype=np.float64)
            np.add.at(w_rows, row_per_hit, contrib)
            nz = np.nonzero(w_rows)[0]
            return pd.DataFrame(
                {"tid": pdf["tid"].to_numpy()[nz].astype("int64"),
                 "w": w_rows[nz]}
            )

        # mapInPandas, NOT groupBy(range_id).applyInPandas: the kernel
        # is per-chunk (the group key was never used), grouping forced
        # a shuffle AND capped parallelism at len(ranges) — a handful
        # of tasks regardless of cluster size, and at sf0.1 exactly
        # ONE task decoding every chunk. Map-side it runs at scan
        # parallelism with no shuffle before the tiny (tid, w) agg.
        cand = (
            seg.mapInPandas(fb_weights, schema="tid long, w double")
            .groupBy("tid")
            .agg(F.sum("w").alias("w"))
        )
        picked = (
            cand.join(
                self._dict.select("tid", "term", "df", "bucket"), "tid"
            )
            .where(~F.col("term").isin(terms))
            .orderBy(
                F.round("w", bm25.ROUND_DIGITS).desc(), F.asc("term")
            )
            .limit(fb_terms)
            .collect()
        )
        n_docs = self.stats["n_docs"]
        new_info = dict(info)
        weights = {t: 1.0 for t in info}
        for r in picked:
            new_info[r["term"]] = (r["df"], r["bucket"], r["tid"])
            weights[r["term"]] = float(expansion_weight)
        idf_map = {
            tid: weights[t] * bm25.idf(n_docs, df)
            for t, (df, _, tid) in new_info.items()
        }
        local = self._local_winners(
            new_info, idf_map, float(self.stats["avgdl"]), k, mode
        )
        return _rank(local, k)

    def term_stats(self, terms: list[str] | None = None) -> DataFrame:
        """Per-term corpus statistics straight from the dictionary —
        (term, df, cf, idf) — no posting stream is ever read (df/cf
        are maintained by build/append; stale-by-design under
        tombstones, like every df in the index). ``terms=None``
        returns the full vocabulary (a vocabulary-sized scan);
        otherwise a pushdown-filtered probe."""
        d = self._dict.select("term", "df", "cf")
        if terms is not None:
            d = d.where(F.col("term").isin(list(terms)))
        n = int(self.stats["n_docs"])
        return d.select(
            "term", "df", "cf",
            F.round(
                F.expr(bm25.idf_sql(str(n), "df")), bm25.ROUND_DIGITS
            ).alias("idf"),
        )

    def search(
        self, query_text: str, k: int = 10, mode: str = "auto",
        with_pruning_stats: bool = False,
    ) -> DataFrame:
        """Returns (rank int, doc_id long, score double), rank ≤ k.

        ``with_pruning_stats=True`` attaches accumulators; after the
        query is collected, read ``reader.last_pruning_stats()``."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        return self._search_with_info(info, k, mode, with_pruning_stats)

    def explain(
        self, query_text: str, k: int = 10, mode: str = "auto"
    ) -> DataFrame:
        """Lucene-`explain`-style scoring breakdown: one row per
        (top-k doc, query term occurring in it) with every BM25
        component — (rank, doc_id, term, tf, dl, idf, weight, score)
        where ``weight`` is that term's contribution
        idf·(tf·(k1+1))/(tf + k1·(1−b+b·dl/avgdl)) and ``score`` the
        doc's (rounded) total, identical to :meth:`search`.

        Shape at scale: the top-k ids (≤ k rows) ride into the decode
        kernel's closure; the chunk scan is (bucket, tid)-pruned
        exactly like a search, and only the ≤ k·n_terms component rows
        leave the executors — no full-corpus rescore."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        topk = self.search(query_text, k, mode).collect() if info else []
        if not topk:
            return _local_frame(self.spark, _EXPLAIN_SCHEMA)
        keep = np.sort(
            np.array([r["doc_id"] for r in topk], dtype=np.int64)
        )
        n_docs = self.stats["n_docs"]
        idf_by_term = {
            t: bm25.idf(n_docs, df) for t, (df, _, _) in info.items()
        }
        labeled = self._component_rows(info, keep, idf_by_term)
        return _attach_explain(
            self.spark, labeled, topk, float(self.stats["avgdl"])
        )

    def _component_rows(
        self, info: dict[str, tuple[int, int, int]],
        keep: "np.ndarray", idf_by_term: dict[str, float],
    ) -> DataFrame:
        """(doc_id, term, tf, dl, idf) posting-component rows for
        ``info``'s terms restricted to doc_ids in the sorted array
        ``keep`` — the decode half of :meth:`explain`, shared with
        :class:`ShardedIndexReader` (which passes federation-global
        idf values)."""
        rows = _ranges_apply(
            self._pruned_segments(info), _doc_postings(keep),
            _DOC_POSTINGS_DDL,
        )
        lut = self.spark.createDataFrame(
            [
                (tid, t, idf_by_term[t])
                for t, (_, _, tid) in info.items()
            ],
            "tid long, term string, idf double",
        )
        return rows.join(F.broadcast(lut), "tid")

    def count_matches(
        self, query_text: str, match: str = "any"
    ) -> DataFrame:
        """Exact total-hits count (Lucene ``totalHits`` parity):
        one row (n_docs long). ``match='any'`` counts docs containing
        ≥ 1 query term, ``'all'`` docs containing every term.

        Per-range kernels count locally (ranges partition the doc
        space, so the per-range counts sum exactly); only ONE long per
        range leaves the executors. Tombstoned docs are excluded."""
        if match not in ("any", "all"):
            raise ValueError("match must be 'any' or 'all'")
        zero = self.spark.createDataFrame([(0,)], "n_docs long")
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        if not info or (match == "all" and len(info) < len(terms)):
            return zero
        deleted = self._deleted
        n_terms = len(info)

        def count_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
            lists = sorted(
                (v[0] for v in term_postings(pdf, deleted).values()),
                key=len,
            )
            if not lists or (match == "all" and len(lists) < n_terms):
                n = 0
            elif match == "any":
                n = np.unique(np.concatenate(lists)).size
            else:
                hits = lists[0]
                for arr in lists[1:]:
                    hits = hits[np.isin(hits, arr)]
                n = hits.size
            return pd.DataFrame({"n": pd.Series([n], dtype="int64")})

        counts = _ranges_apply(
            self._pruned_segments(info), count_range, "n long"
        )
        return counts.agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_docs")
        )

    def _search_with_info(
        self, info: dict[str, tuple[int, int, int]], k: int = 10,
        mode: str = "auto", with_pruning_stats: bool = False,
    ) -> DataFrame:
        """Scoring back-half of :meth:`search` over pre-resolved term
        info (term → (df, bucket, tid)) — shared by plain search, fuzzy
        expansion, and any caller that rewrites terms before scoring."""
        if not info:
            return self._empty()
        return _rank(self._local_winners(
            info, self._idfs(info), float(self.stats["avgdl"]), k, mode,
            with_pruning_stats,
        ), k)

    def _local_winners(
        self, info: dict[str, tuple[int, int, int]],
        idf_map: dict[int, float], avgdl: float, k: int,
        mode: str = "auto", with_pruning_stats: bool = False,
    ) -> DataFrame:
        """Per-range local top-k winners (doc_id, score) for a resolved
        term set, scored with the CALLER's idf_map/avgdl — the corpus
        stats for a plain search, or the federation-global stats when
        called from :class:`ShardedIndexReader` (index/sharded.py);
        :meth:`_bound_scale` keeps block-max pruning exact for either."""
        acc_d = acc_t = None
        if with_pruning_stats:
            sc = self.spark.sparkContext
            acc_d, acc_t = sc.accumulator(0), sc.accumulator(0)
            self._acc = (acc_d, acc_t)
        scorer = _range_scorer(
            idf_map, k, mode, avgdl, self._bound_scale(avgdl),
            self._deleted, acc_d, acc_t,
        )
        return _ranges_apply(self._pruned_segments(info), scorer)

    def _pa_segments(self):
        """Memoized pyarrow dataset over the segment tree (hive
        partitioning on bucket_group covers base + delta groups)."""
        if getattr(self, "_pa_ds", None) is None:
            import pyarrow.dataset as ds

            self._pa_ds = ds.dataset(
                layout.SEGMENTS.path(self.index_dir),
                format="parquet",
                partitioning="hive",
            )
        return self._pa_ds

    def _avg_bytes_per_posting(self) -> float:
        """From the build manifest (per-group lineage metrics): total
        segment bytes / total postings; conservative 8.0 fallback."""
        if getattr(self, "_bpp", None) is None:
            try:
                import pyarrow.dataset as ds

                t = ds.dataset(
                    layout.MANIFEST.path(self.index_dir),
                    format="parquet",
                ).to_table(columns=["postings_written", "bytes_written"])
                n = sum(t.column("postings_written").to_pylist())
                b = sum(t.column("bytes_written").to_pylist())
                self._bpp = (b / n) if n else 8.0
            except Exception:
                self._bpp = 8.0
        return self._bpp

    def build_metrics(self) -> DataFrame:
        """The per-PARTITION build metrics table: one row per
        (segment_group, bucket) with n_chunks, n_terms,
        postings_written, bytes_written, and the in-bucket skew ratio
        (north-star contract; written by the builder beside the
        per-group manifest). The hot-bucket health signal — a skewed
        term shows up here before it shows up as a straggler."""
        return layout.METRICS.read(self.spark, self.index_dir)

    def _local_parts(self, info, scorer,
                     fields=SEGMENT_SCHEMA.fields) -> list:
        """Driver-side per-range kernel outputs for a resolved term
        set: a pyarrow scan pruned to the terms' (bucket, tid) sets,
        then ``scorer`` per range — no Spark job."""
        import pyarrow.dataset as ds

        if not info:
            return []
        buckets = sorted({v[-2] for v in info.values()})
        tids = sorted({v[-1] for v in info.values()})
        tbl = self._pa_segments().to_table(
            columns=[f.name for f in fields],
            filter=ds.field("bucket").isin(buckets)
            & ds.field("tid").isin(tids),
        )
        return [
            scorer((rid,), g)
            for rid, g in tbl.to_pandas().groupby("range_id", sort=False)
        ]

    def _merge_local_topk(self, parts: list, k: int) -> DataFrame:
        """Merge per-range kernel outputs exactly like the distributed
        ranked_topk into a (rank, doc_id, score) local answer."""
        d, r = _merge_topk(parts, k)
        rank = np.arange(1, len(d) + 1, dtype=np.int32)
        return _local_frame(self.spark, _RANKED_SCHEMA, [rank, d, r])

    def _serve_local(self, info, scorer, fields, k: int) -> DataFrame:
        """The driver-served answer of a per-range kernel over the
        terms ``info`` resolves: :meth:`_local_parts` merged by
        :meth:`_merge_local_topk`."""
        return self._merge_local_topk(
            self._local_parts(info, scorer, fields), k
        )

    def search_local(
        self, query_text: str, k: int = 10, mode: str = "auto"
    ) -> DataFrame:
        """Low-latency SERVING path: answer the query on the driver by
        reading ONLY the query terms' segment chunks via a pyarrow
        dataset scan (partition pruning on bucket_group, row-group
        stats pruning on bucket/tid — chunks are written tid-sorted),
        then running the SAME per-range numpy kernel as the
        distributed path and merging the per-range top-k. No Spark job
        is launched, so per-query latency is parquet-read + numpy
        (~tens of ms) instead of job-scheduling overhead.

        Rank-and-score identical to :meth:`search` (same kernel, same
        rounding, same tie order). Intended for tail/torso terms whose
        postings are small; for head terms use :meth:`search_serve`,
        which routes by estimated posting bytes — a 10^12-doc "the"
        must stay on the distributed scan."""
        info = self.lookup_terms(sorted(set(py_tokens(query_text))))
        scorer = _range_scorer(
            self._idfs(info), k, mode, float(self.stats["avgdl"]),
            self._bound_scale(), self._deleted,
        )
        return self._serve_local(info, scorer, SEGMENT_SCHEMA.fields, k)

    def search_phrase_local(
        self, phrase_text: str, k: int = 10
    ) -> DataFrame:
        """Serving-path twin of :meth:`search_phrase`: the positional
        chunks of the phrase's terms are read driver-side and the SAME
        phrase kernel runs per range — rank-identical, no Spark job."""
        slots = py_tokens(phrase_text)
        info = self._positional_info(slots)
        scorer = phrase_range_scorer(
            [info[t][2] for t in slots if t in info], self._idfs(info),
            float(self.stats["avgdl"]), k, self._deleted,
        )
        return self._serve_local(info, scorer, POS_SEGMENT_SCHEMA.fields, k)

    def search_proximity_local(
        self, query_text: str, window: int, k: int = 10
    ) -> DataFrame:
        """Serving-path twin of :meth:`search_proximity`."""
        info = self._positional_info(sorted(set(py_tokens(query_text))))
        scorer = proximity_range_scorer(
            sorted(v[2] for v in info.values()), self._idfs(info),
            float(self.stats["avgdl"]), window, k, self._deleted,
        )
        return self._serve_local(info, scorer, POS_SEGMENT_SCHEMA.fields, k)

    def search_serve(
        self, query_text: str, k: int = 10, mode: str = "auto",
        max_local_bytes: int = 8 << 20,
    ) -> DataFrame:
        """Auto-routed search: estimate the query's posting volume as
        Σ df(term) × avg-bytes-per-posting (df from the dictionary,
        bytes/posting from the build manifest) and serve driver-side
        (:meth:`search_local`) when it fits under ``max_local_bytes``,
        else run the distributed scan (:meth:`search`). Both paths are
        rank-identical; the knob only trades latency vs driver IO.

        Default 8 MB is the measured 10M-doc breakeven
        (tools/bench_serve_10m.py over the kept stress index, r5):
        the driver kernel decodes+scores ~7 MB/s single-threaded
        while the distributed path floors at ~1-1.5 s regardless of
        df, so an 8 MB posting volume is where the two cross —
        tail/torso queries serve at 0.48-0.76 s driver-side and head
        terms (tens of MB) correctly fall back. The round-4 64 MB
        default routed 41 MB stopword queries local at 5-6 s.

        A driver-served answer (the driver route, and every query with
        no dictionary term) is a DataFrame over an Arrow table held on
        the driver. ``collect()``, ``take()``/``head()``/``first()``,
        ``count()``, ``schema`` and ``toArrow()`` stay on the driver:
        no Py4J call, no Spark job,
        zero matches included. Any other DataFrame call (``where``,
        ``join``, ``orderBy``, ``toPandas``, ``write``...) first builds
        the answer's Arrow local relation in the JVM, once, and then
        behaves as on any DataFrame. The distributed route returns an
        ordinary Spark-computed frame."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        if not info:
            return self._empty()
        est = sum(df for (df, _, _) in info.values()) * (
            self._avg_bytes_per_posting()
        )
        if est <= max_local_bytes:
            return self.search_local(query_text, k, mode)
        return self.search(query_text, k, mode)

    def lookup_terms_fuzzy(
        self, terms: list[str], max_edits: int = 1
    ) -> dict[str, tuple[int, int, int]]:
        """Expand query terms to every dictionary term within
        Levenshtein distance ``max_edits`` of ANY of them (distance 0 —
        the exact terms — included). One distributed scan of the
        dictionary parquet with a cheap length pre-filter
        (``|len(t) − len(q)| ≤ e`` is necessary for distance ≤ e)
        ahead of the exact ``levenshtein`` — the dictionary is tiny
        next to the postings (≈ one row per distinct corpus token), so
        a per-query dictionary scan is the scale-correct shape; only
        the matched handful of rows is collected."""
        cond = None
        for q in terms:
            c = (
                F.abs(F.length("term") - F.lit(len(q))) <= max_edits
            ) & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
            cond = c if cond is None else (cond | c)
        if cond is None:
            return {}
        rows = (
            self._dict.where(cond)
            .select("term", "df", "bucket", "tid")
            .collect()
        )
        return {r["term"]: (r["df"], r["bucket"], r["tid"]) for r in rows}

    def suggest_df(
        self, term: str, max_edits: int = 2, n: int = 5
    ) -> DataFrame:
        """Did-you-mean as a DataFrame: the ``n`` dictionary terms
        closest to ``term`` as (term, dist, df) rows ranked by
        (edit distance asc, df desc, term asc) — a total order, so
        the limit is deterministic. One length-pruned distributed
        dictionary scan; ``orderBy().limit(n)`` is a
        TakeOrderedAndProject (per-partition heaps, no global sort).
        An exact vocabulary hit ranks first (distance 0)."""
        toks = py_tokens(term)
        if len(toks) != 1:
            raise ValueError(
                "suggest() takes a single analyzable term; got "
                f"{term!r} -> {toks}"
            )
        q = toks[0]
        return (
            self._dict.where(
                (F.abs(F.length("term") - F.lit(len(q))) <= max_edits)
                & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
            )
            .select(
                "term",
                F.levenshtein(F.col("term"), F.lit(q))
                .cast("int")
                .alias("dist"),
                "df",
            )
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def suggest(
        self, term: str, max_edits: int = 2, n: int = 5
    ) -> list[tuple[str, int, int]]:
        """Did-you-mean: :meth:`suggest_df` collected to
        [(term, distance, df)] — the collect is ≤ n rows."""
        rows = self.suggest_df(term, max_edits, n).collect()
        return [(r["term"], r["dist"], r["df"]) for r in rows]

    def describe(self) -> dict:
        """Operational index statistics (the Lucene ``SegmentInfos``
        / ``IndexWriter.numDocs`` visibility surface): corpus stats
        from stats.json plus three distributed aggregates — vocabulary
        size, total postings (Σ df), and chunk/segment-group counts —
        and the pending-tombstone count. One column-pruned dictionary
        scan + one manifest read; returns a plain dict (a handful of
        scalars — this is a report, not a data path)."""
        d = {
            "n_docs": int(self.stats["n_docs"]),
            "avgdl": float(self.stats["avgdl"]),
            "max_doc": int(self.stats["max_doc"]),
            "n_ranges": int(self.stats["n_ranges"]),
            "n_buckets": int(self.stats["n_buckets"]),
            "positions": bool(self.stats.get("positions", False)),
            "stored_fields": list(self.stats.get("stored_fields") or []),
            "delta_groups": list(self.stats.get("delta_groups") or []),
            "analyzer": self.stats.get("analyzer"),
        }
        row = self._dict.agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("cf").alias("n_tokens"),
        ).collect()[0]
        d["n_terms"] = int(row["n_terms"])
        d["n_postings"] = int(row["n_postings"])
        d["n_tokens"] = int(row["n_tokens"])
        d["n_chunks"] = self._segments.count()
        d["n_deleted"] = (
            int(self._deleted.size) if self._deleted is not None else 0
        )
        d["n_segment_groups"] = (
            layout.MANIFEST.read(self.spark, self.index_dir).count()
            if layout.MANIFEST.exists(self.index_dir)
            else 0
        )
        return d

    def stored_docs(self) -> DataFrame:
        """Stored-fields table (the Lucene DocValues analogue): the
        metadata columns captured at build time with
        ``IndexBuilder(..., stored_fields=[...])``, keyed by doc_id —
        so :meth:`search_sorted_by` / :meth:`search_collapse` /
        :meth:`facet_counts` / :meth:`facet_ranges` run WITHOUT any
        external docs table (pass this as their ``docs`` argument).
        Union of the base build and every appended delta batch (one
        parquet dir per batch, mirroring ``doc_lengths_batches``).
        Tombstoned docs are not filtered here: the collector
        operators intersect with the hit stream, which masks deletes
        (Lucene live-docs semantics)."""
        flds = self.stats.get("stored_fields") or []
        if not flds:
            raise ValueError(
                "index was built without stored_fields — rebuild with "
                "IndexBuilder(..., stored_fields=[...]) or pass an "
                "external docs table"
            )
        return layout.read_with_batches(
            self.spark, self.index_dir, layout.STORED
        )

    def suggest_phrase(
        self, query_text: str, docs: DataFrame, n: int = 3,
        max_edits: int = 1, per_token: int = 3, add_k: float = 0.5,
    ) -> DataFrame:
        """Multi-word did-you-mean (the Elasticsearch phrase-suggester
        shape): each query token generates up to ``per_token``
        dictionary candidates within ``max_edits`` Levenshtein edits
        (the :meth:`suggest_df` ranking — dist asc, df desc, term
        asc), and every candidate SEQUENCE is ranked by its add-k
        bigram-LM log-probability under the corpus LM
        (``corpus_stats.train_bigram_lm`` frozen spec, trained on
        ``docs``):  ``score = round(Σ_adjacent log2 P(w2|w1), 4)``
        with ``P(w2|w1) = (c12+k)/(c1+k·V)``. Returns
        (rank, suggestion, score), ranked (score desc, suggestion
        asc) — a total order. 2–4 analyzable tokens (the combination
        count is ``per_token^T``; the cap keeps it ≤ 81).

        Scale shape: candidate generation is ``T`` length-pruned
        distributed dictionary scans collecting ≤ ``per_token`` rows
        each (bounded, Lucene-suggester-style); the LM train is the
        gated one-shuffle bigram pass; the corpus-side bigram/context
        tables are FILTERED to the candidate vocabulary (the isin
        filter pushes through the aggregate to the scan) so the tiny
        combo pair table joins two tiny broadcast sides — nothing
        corpus-sized moves for scoring."""
        import itertools

        toks = py_tokens(query_text)
        if len(toks) < 2 or len(toks) > 4:
            raise ValueError(
                "suggest_phrase takes 2-4 analyzable tokens; got "
                f"{query_text!r} -> {toks}"
            )
        cands: list[list[str]] = []
        for t in toks:
            rows = self.suggest_df(t, max_edits, per_token).collect()
            if not rows:
                # no candidate within reach ⇒ no phrase
                return _local_frame(self.spark, _SUGGEST_SCHEMA)
            cands.append([r["term"] for r in rows])
        pair_rows = []
        for combo in itertools.product(*cands):
            sug = " ".join(combo)
            for a, b in zip(combo, combo[1:]):
                pair_rows.append((sug, a, b))
        pairs = self.spark.createDataFrame(
            pair_rows, "suggestion string, w1 string, w2 string"
        )
        from tlhop_library_spark.operators.corpus_stats import (
            train_bigram_lm,
        )

        allc = sorted({c for cs in cands for c in cs})
        big, ctx, vocab = train_bigram_lm(docs)
        big_f = big.where(
            F.col("w1").isin(allc) & F.col("w2").isin(allc)
        )
        ctx_f = ctx.where(F.col("w1").isin(allc))
        logp = F.log2(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
            / (
                F.coalesce(F.col("c1"), F.lit(0))
                + F.lit(add_k) * F.col("v")
            )
        )
        scored = (
            pairs.join(F.broadcast(big_f), ["w1", "w2"], "left")
            .join(F.broadcast(ctx_f), "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .select("suggestion", logp.alias("logp"))
        )
        agg = scored.groupBy("suggestion").agg(
            F.round(F.sum("logp"), 4).alias("score")
        )
        return ranked_topk(
            agg, [F.desc("score"), F.asc("suggestion")], n
        ).select("rank", "suggestion", "score")

    def autocomplete(self, prefix: str, n: int = 10) -> DataFrame:
        """Prefix autocomplete (the Lucene ``AnalyzingSuggester``
        shape): the ``n`` dictionary terms starting with the analyzed
        prefix, ranked by collection frequency desc (popularity
        weight), df desc, term asc — a total order, so the limit is
        deterministic. Returns (term, cf, df).

        One column-pruned dictionary scan: the ``startsWith`` filter
        pushes to parquet as a ``StringStartsWith`` predicate and the
        dictionary files are term-sorted within segments, so row
        groups outside the prefix range skip on min/max stats. The
        ``orderBy().limit(n)`` is TakeOrderedAndProject. At serving
        scale the same ranking would sit in a dedicated prefix table;
        this is the batch/analytics form over the live dictionary."""
        import re

        q = prefix.lower()
        # single-token contract (the analyzer's token alphabet); the
        # prefix may be SHORTER than the analyzer's min token length,
        # so validate the alphabet directly rather than via py_tokens
        if not q or not re.fullmatch(r"[^\W_]+", q):
            raise ValueError(
                f"autocomplete() takes a single-token prefix; got "
                f"{prefix!r}"
            )
        return (
            self._dict.where(F.col("term").startswith(q))
            .select("term", "cf", "df")
            .orderBy(F.desc("cf"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def significant_terms(
        self, query_text: str, m: int = 10, min_fg_df: int = 2
    ) -> DataFrame:
        """Elasticsearch ``significant_terms`` aggregation: the terms
        most over-represented in the docs matching the OR query
        (foreground) relative to the whole corpus (background), scored
        with the JLH heuristic
        ``(fg% − bg%) · (fg% / bg%)`` where ``fg% = fg_df / n_hits``
        and ``bg% = df / n_docs``. Returns
        (rank, term, fg_df, bg_df, score) — score rounded to 6
        digits, ranked (score desc, term asc), terms with
        ``fg% ≤ bg%`` or ``fg_df < min_fg_df`` dropped (ES semantics:
        only positively significant terms surface).

        Scale shape: the hit stream (no k-cut, sized by the matching
        set) yields its distinct range_ids, which semi-join-prune the
        FULL segment scan — only doc-ranges containing a hit are
        decoded. A cogroup on ``range_id`` (the doc-space salt) hands
        each kernel its range's hit ids; the kernel emits ONE
        (tid, fg_partial) row per (term, range) — chunk rows of a
        (term, range) are doc-disjoint, so partial counts sum
        exactly. Background df comes straight from the dictionary
        (stale after deletes until compaction, like every index
        stat — Lucene live-docs semantics). The n_hits scalar rides a
        broadcast 1-row cross join; nothing corpus-sized is
        collected."""
        if not self.lookup_terms(sorted(set(py_tokens(query_text)))):
            return _local_frame(self.spark, _SIG_TERMS_SCHEMA)
        partial, hits = self._sig_fg_partials(query_text)
        bg_n = float(self.stats["n_docs"])
        fg = partial.groupBy("tid").agg(F.sum("fg").alias("fg_df"))
        n_hits = hits.agg(F.count("*").alias("fg_n"))
        scored = (
            fg.join(self._dict.select("tid", "term", "df"), "tid")
            .crossJoin(F.broadcast(n_hits))
            .where(F.col("fg_n") > 0)
            .withColumn(
                "fg_pct", F.col("fg_df") / F.col("fg_n").cast("double")
            )
            .withColumn("bg_pct", F.col("df") / F.lit(bg_n))
            .where(
                (F.col("fg_pct") > F.col("bg_pct"))
                & (F.col("fg_df") >= F.lit(int(min_fg_df)))
            )
            .withColumn(
                "score",
                F.round(
                    (F.col("fg_pct") - F.col("bg_pct"))
                    * (F.col("fg_pct") / F.col("bg_pct")),
                    6,
                ),
            )
        )
        return ranked_topk(
            scored, [F.desc("score"), F.asc("term")], m
        ).select(
            "rank", "term", F.col("fg_df").cast("long").alias("fg_df"),
            F.col("df").cast("long").alias("bg_df"), "score",
        )

    def _sig_fg_partials(self, query_text: str):
        """(fg_partial, hits) building blocks of significant_terms —
        shared with the sharded federation. ``fg_partial`` is a
        (tid, fg) DataFrame with ONE row per (term, doc-range)
        counting hit docs containing the term (chunk rows of a
        (term, range) are doc-disjoint, so partials sum exactly);
        ``hits`` is the matching doc_id stream. The full segment scan
        is broadcast-semi-join-pruned to ranges containing a hit."""
        hits = self._matching_scores(query_text).select("doc_id")
        range_size = int(self.stats["range_size"])
        hits_r = hits.select(
            "doc_id",
            F.floor(F.col("doc_id") / F.lit(range_size))
            .cast("int")
            .alias("range_id"),
        )
        hit_ranges = hits_r.select("range_id").distinct()
        seg = self._segments.select(
            *[f.name for f in SEGMENT_SCHEMA.fields]
        ).join(F.broadcast(hit_ranges), "range_id", "left_semi")

        def fg_kernel(key, seg_pdf: pd.DataFrame, hit_pdf: pd.DataFrame):
            tids, fgs = [], []
            if len(seg_pdf) and len(hit_pdf):
                ids = np.unique(hit_pdf["doc_id"].to_numpy(np.int64))
                for tid, docs, _, _ in iter_chunks(seg_pdf):
                    n = int(np.isin(docs, ids, assume_unique=True).sum())
                    if n:
                        tids.append(tid)
                        fgs.append(n)
            return pd.DataFrame(
                {"tid": np.array(tids, dtype=np.int64),
                 "fg": np.array(fgs, dtype=np.int64)}
            )

        partial = (
            seg.groupBy("range_id")
            .cogroup(hits_r.groupBy("range_id"))
            .applyInPandas(fg_kernel, schema="tid long, fg long")
        )
        return partial, hits

    def search_fuzzy(
        self, query_text: str, k: int = 10, max_edits: int = 1,
        mode: str = "auto",
    ) -> DataFrame:
        """Typo-tolerant top-k: each query term matches every indexed
        term within ``max_edits`` Levenshtein edits, and the expanded
        term set is BM25-scored as a plain OR query (each variant
        contributes its own df/idf — same spec as the DuckDB oracle in
        :func:`oracle_sql_bm25_fuzzy`). Returns (rank, doc_id, score).
        Scale shape = dictionary scan for expansion + the standard
        pruned segment scan of :meth:`search`."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_fuzzy(terms, max_edits)
        return self._search_with_info(info, k, mode)

    def lookup_terms_prefix(
        self, prefixes: list[str], max_expansions: int = 1000
    ) -> dict[str, tuple[int, int, int]]:
        """Dictionary terms starting with any of ``prefixes`` — one
        distributed dictionary scan (startswith is sargable against
        the term-sorted row groups). Raises when the expansion
        exceeds ``max_expansions`` (Lucene-style guard: an unbounded
        head-prefix like 'a*' would OR thousands of posting lists)."""
        cond = None
        for p in prefixes:
            c = F.col("term").startswith(p)
            cond = c if cond is None else (cond | c)
        if cond is None:
            return {}
        rows = (
            self._dict.where(cond)
            .select("term", "df", "bucket", "tid")
            .limit(max_expansions + 1)
            .collect()
        )
        if len(rows) > max_expansions:
            raise ValueError(
                f"wildcard expands to more than {max_expansions} terms"
            )
        return {r["term"]: (r["df"], r["bucket"], r["tid"]) for r in rows}

    def search_wildcard(
        self, query_text: str, k: int = 10, mode: str = "auto",
        max_expansions: int = 1000,
    ) -> DataFrame:
        """Prefix/wildcard top-k: words ending in ``*`` expand to
        every dictionary term with that prefix; the expanded ∪ exact
        set is BM25-scored as a plain OR query (per-variant df/idf —
        same spec as :func:`oracle_sql_bm25_wildcard`). Returns
        (rank, doc_id, score)."""
        exact, prefixes = parse_wildcard_query(query_text)
        info = dict(self.lookup_terms(exact))
        if prefixes:
            info.update(
                self.lookup_terms_prefix(prefixes, max_expansions)
            )
        return self._search_with_info(info, k, mode)

    def _counted_matching(self, query_text: str) -> DataFrame:
        """(doc_id, score, n_matched) for every matching doc — the
        counted hit stream terms_set consumes."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return _local_frame(self.spark, _COUNTED_SCHEMA)
        scorer = counted_range_scorer(
            self._bm25_weight_fns(info), deleted=self._deleted
        )
        return _ranges_apply(
            self._pruned_segments(info), scorer, _COUNTED_SCHEMA
        )

    def facet_counts(
        self, query_text: str, docs: DataFrame, facet_col: str = "lang"
    ) -> DataFrame:
        """Facet histogram over ALL docs matching any query term:
        (facet, n_docs). The per-range kernel emits each matching
        doc_id once (ranges partition the doc space, so range-local
        dedup is global dedup); the hit list then equi-joins the docs
        table on doc_id and aggregates per facet value — matching docs
        never funnel through the driver, and the join/agg shuffles
        only (doc_id) / (facet) pairs."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        if not info:
            return _local_frame(self.spark, _FACET_SCHEMA)
        deleted = self._deleted

        def matching_docs(key, pdf: pd.DataFrame) -> pd.DataFrame:
            docs = [np.empty(0, np.int64)]
            docs += [c[1] for c in iter_chunks(pdf, deleted)]
            return pd.DataFrame({"doc_id": np.unique(np.concatenate(docs))})

        hits = _ranges_apply(
            self._pruned_segments(info), matching_docs, "doc_id long"
        )
        meta = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(facet_col).alias("facet"),
        )
        return hits.join(meta, "doc_id").groupBy("facet").agg(
            F.count("*").alias("n_docs")
        )

    def search_and(
        self, query_text: str, k: int = 10
    ) -> DataFrame:
        """AND-semantics top-k: only docs containing EVERY query term,
        BM25-ranked. (rank, doc_id, score). Minimum-should-match with
        the threshold at the number of distinct query terms
        (:meth:`search_msm`): an absent term matches nothing, and a
        doc qualifies only when it holds every term."""
        return self.search_msm(query_text, k, len(set(py_tokens(query_text))))

    def lookup_terms_full(
        self, terms: list[str]
    ) -> dict[str, tuple[int, int, int, int]]:
        """term → (df, cf, bucket, tid) — like :meth:`lookup_terms`
        but carrying the collection frequency (language-model
        similarities need p(t|C) = cf / total_tokens)."""
        rows = (
            self._dict.where(F.col("term").isin(terms))
            .select("term", "df", "cf", "bucket", "tid")
            .collect()
        )
        return {
            r["term"]: (r["df"], r["cf"], r["bucket"], r["tid"])
            for r in rows
        }

    def search_sim(
        self, query_text: str, k: int = 10, similarity: str = "classic"
    ) -> DataFrame:
        """Top-k under a pluggable similarity (Lucene's per-field
        ``Similarity``): ``'classic'`` (TF-IDF), ``'lmdirichlet'``
        (μ=2000) or ``'lmjelinekmercer'`` (λ=0.1). One index serves
        every ranking model — the raw
        (tf, dl) streams are similarity-agnostic; only the query-time
        weight function changes (tlhop_library_spark/similarities.py,
        the frozen spec shared with the DuckDB oracles). Returns
        (rank, doc_id, score). For BM25 use :meth:`search`, which
        additionally exploits the BM25-specific block-max metadata."""
        from tlhop_library_spark import similarities

        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return self._empty()
        weight_of = similarities.weight_fns(
            similarity, info, self.stats["n_docs"],
            int(self.stats["sum_dl"]),
        )
        scorer = similarity_range_scorer(
            weight_of, k, deleted=self._deleted
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def search_rescore(
        self, query_text: str, k: int = 10, window: int = 50,
        similarity: str = "lmdirichlet", query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ) -> DataFrame:
        """Two-pass rescoring (the Elasticsearch ``rescore`` API):
        first-pass BM25 retrieves the top-``window`` docs (block-max
        kernels), then ONLY those docs are re-ranked by
        ``round(query_weight·bm25 + rescore_weight·sim, 4)`` where
        ``sim`` is a pluggable second similarity
        (:meth:`search_sim` models). Docs outside the window can
        never enter the result — ES window semantics, so a cheap
        first pass bounds the expensive model's candidate set.
        Returns (rank, doc_id, score).

        Scale shape: the ≤window first-pass rows BROADCAST into an
        inner join against the secondary similarity's hit stream
        (same (bucket, tid)-pruned scan as any query; the stream is
        filtered map-side at the join — no shuffle, no driver
        funnel), then ``ranked_topk`` over ≤window combined rows."""
        from tlhop_library_spark import similarities

        first = self.search(query_text, window)
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return self._empty()
        weight_of = similarities.weight_fns(
            similarity, info, self.stats["n_docs"],
            int(self.stats["sum_dl"]),
        )
        scorer = similarity_range_scorer(
            weight_of, None, deleted=self._deleted
        )
        sec = _ranges_apply(self._pruned_segments(info), scorer)
        combined = (
            sec.select("doc_id", F.col("score").alias("__s2"))
            .join(
                F.broadcast(
                    first.select(
                        "doc_id", F.col("score").alias("__s1")
                    )
                ),
                "doc_id",
            )
            .select(
                "doc_id",
                F.round(
                    F.lit(float(query_weight)) * F.col("__s1")
                    + F.lit(float(rescore_weight)) * F.col("__s2"),
                    bm25.ROUND_DIGITS,
                ).alias("score"),
            )
        )
        return ranked_topk(
            combined, [F.desc("score"), F.asc("doc_id")], k
        ).select("rank", "doc_id", "score")

    def _bm25_weight_fns(self, info, boosts=None):
        """term-closures for the frozen BM25 weights (optionally
        query-boosted) — shared by the boosted/dismax/field-sort/
        collapse/facet-range paths."""
        from tlhop_library_spark import similarities

        return similarities.weight_fns(
            "bm25", info, self.stats["n_docs"],
            int(self.stats["sum_dl"]), avgdl=float(self.stats["avgdl"]),
            boosts=boosts,
        )

    def _pruned_segments(self, info, schema: StructType = SEGMENT_SCHEMA):
        """(bucket, tid)-pruned segment scan for a resolved query,
        column-pruned to ``schema``: a POSITIONAL index carries
        pos_bytes / block_pos_offsets, which plain BM25 must never read
        (or ship to Python)."""
        buckets = sorted({v[-2] for v in info.values()})
        tids = sorted({v[-1] for v in info.values()})
        return self._segments.where(
            F.col("bucket").isin(buckets) & F.col("tid").isin(tids)
        ).select(*[f.name for f in schema.fields])

    def search_boosted(self, boosted_query: str, k: int = 10) -> DataFrame:
        """Top-k under per-term query boosts — Lucene ``term^2.5``
        syntax (``parse_boosted_query``). Scale shape = plain indexed
        search: pruned segment scan, per-range kernels, ≤ k rows per
        range leave the executors. Returns (rank, doc_id, score)."""
        boosts = parse_boosted_query(boosted_query)
        info = self.lookup_terms_full(sorted(boosts))
        if not info:
            return self._empty()
        scorer = similarity_range_scorer(
            self._bm25_weight_fns(info, boosts), k, deleted=self._deleted
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def search_dismax(
        self, query_text: str, k: int = 10, tie_breaker: float = 0.0
    ) -> DataFrame:
        """DisjunctionMax top-k (Lucene ``DisMaxQuery``): per doc,
        ``score = max_t w_t + tie_breaker·(Σ_t w_t − max_t w_t)``.
        ``tie_breaker=1.0`` degenerates to plain OR search. Returns
        (rank, doc_id, score); scale shape = plain indexed search."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return self._empty()
        scorer = dismax_range_scorer(
            self._bm25_weight_fns(info), k, float(tie_breaker),
            deleted=self._deleted,
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def _matching_scores(self, query_text: str) -> DataFrame:
        """(doc_id, score) for EVERY doc matching the OR query — the
        hit stream Lucene's collectors consume. No k-cut: downstream
        field-sort/collapse/facet operators decide what survives, so
        the shuffle is sized by the matching set (as in Lucene), not
        the corpus; the segment scan is still (bucket, tid)-pruned."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms_full(terms)
        if not info:
            return _local_frame(self.spark, _SCORE_SCHEMA)
        scorer = similarity_range_scorer(
            self._bm25_weight_fns(info), None, deleted=self._deleted
        )
        return _ranges_apply(self._pruned_segments(info), scorer)

    def search_sorted_by(
        self, query_text: str, docs: DataFrame, field: str, k: int = 10,
        ascending: bool = True,
    ) -> DataFrame:
        """Field-sorted retrieval (Lucene ``Sort(SortField)``): among
        ALL docs matching the OR query, the top-k by a metadata column
        of ``docs`` (BM25 score carried along, not used for ordering).
        Integer fields only (result casts the field to long). Shape:
        hit stream equi-joined to the docs scan on doc_id, then
        ``ranked_topk`` (TakeOrderedAndProject) on (field, doc_id) —
        only k rows reach the driver.

        NULL placement matches the SQL oracle (DuckDB ≥0.8 default,
        verified against duckdb 1.0): NULLS LAST in BOTH directions —
        Spark's bare asc() would put them FIRST instead and a matching
        doc with a NULL sort field would top the ascending result
        (round-2 ADVICE); bare desc() already matches but is written
        explicitly so the contract survives a Spark default change."""
        hits = self._matching_scores(query_text)
        j = hits.join(
            docs.select("doc_id", F.col(field).cast("long").alias(field)),
            "doc_id",
        )
        order = (
            F.asc_nulls_last(field) if ascending
            else F.desc_nulls_last(field)
        )
        return ranked_topk(j, [order, F.asc("doc_id")], k).select(
            "rank", "doc_id", field, "score"
        )

    def search_highlight(
        self, query_text: str, docs: DataFrame, k: int = 10,
        fragment_size: int = 8, n_fragments: int = 1,
    ) -> DataFrame:
        """Top-k retrieval with plain-highlighter snippets (Lucene/ES
        ``highlight`` parity): the regular BM25 page, each hit carrying
        a ``fragment`` of its text with query-term occurrences wrapped
        in ``<em>`` tags. The fragment is computed by RE-ANALYZING the
        k hit docs' stored text (broadcast hit page → docs join, pure
        JVM higher-order functions — see ``index/highlight.py`` for
        the frozen v1 fragment spec and the cost argument: O(k) texts
        analyzed regardless of corpus size).
        Returns (rank, doc_id, score, fragment)."""
        from tlhop_library_spark.index.highlight import highlight_hits

        hits = self.search(query_text, k=k)
        return highlight_hits(
            hits, docs, query_text, fragment_size, n_fragments
        ).select("rank", "doc_id", "score", "fragment")

    def search_collapse(
        self, query_text: str, docs: DataFrame, group_field: str,
        k: int = 10,
    ) -> DataFrame:
        """Collapse/grouping retrieval (Lucene grouping module): the
        best-scoring matching doc per ``group_field`` value, top-k
        groups ranked by that doc's score. Shape: hit stream joined to
        docs, window PARTITIONED BY the group field (distributed — no
        global window), then ``ranked_topk`` over the one-per-group
        survivors. Returns (rank, group_field, doc_id, score)."""
        hits = self._matching_scores(query_text)
        j = hits.join(docs.select("doc_id", group_field), "doc_id")
        w = Window.partitionBy(group_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        best = (
            j.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return ranked_topk(
            best, [F.desc("score"), F.asc("doc_id")], k
        ).select("rank", group_field, "doc_id", "score")

    def facet_ranges(
        self, query_text: str, docs: DataFrame, field: str,
        bounds: list[float],
    ) -> DataFrame:
        """Numeric range facets over the matching set (Lucene
        ``LongRangeFacetCounts``): half-open buckets [b_i, b_{i+1})
        labeled 'lo-hi'. Shape: hit ids semi-joined to the docs scan,
        when/otherwise bucket expression (pure JVM), groupBy count.
        Returns (bucket string, cnt long) ordered by bucket."""
        hits = self._matching_scores(query_text).select("doc_id")
        j = docs.join(hits, "doc_id", "left_semi").select(field)
        expr = F.lit(None).cast("string")
        for lo, hi in zip(bounds, bounds[1:]):
            expr = F.when(
                (F.col(field) >= F.lit(lo)) & (F.col(field) < F.lit(hi)),
                F.lit(f"{lo:g}-{hi:g}"),
            ).otherwise(expr)
        return (
            j.withColumn("bucket", expr)
            .where(F.col("bucket").isNotNull())
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"))
            .orderBy("bucket")
        )

    def search_msm(
        self, query_text: str, k: int = 10, min_should_match: int = 1
    ) -> DataFrame:
        """Minimum-should-match top-k (Lucene
        ``minimumNumberShouldMatch``): docs containing at least
        ``min_should_match`` distinct query terms, BM25-ranked over
        the terms they contain. ``min_should_match=1`` ≡ plain OR
        search; ``= n_terms`` ≡ :meth:`search_and`. Returns
        (rank, doc_id, score). Scale shape = plain indexed search:
        one (bucket, tid)-pruned segment scan, per-range kernels,
        ≤ k rows per range leave the executors."""
        terms = sorted(set(py_tokens(query_text)))
        m = max(1, int(min_should_match))
        info = self.lookup_terms(terms)
        # absent terms can never match; fewer present terms than m
        # means no doc can reach the threshold (Lucene semantics: the
        # threshold counts the query's clauses, not the resolvable ones)
        if not info or len(info) < m:
            return self._empty()
        idf_map = self._idfs(info)
        scorer = msm_range_scorer(
            sorted(idf_map), idf_map, float(self.stats["avgdl"]), k, m,
            deleted=self._deleted,
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def search_boolean(self, query_text: str, k: int = 10) -> DataFrame:
        """Boolean-matched BM25 top-k over a Lucene-flavored
        AND/OR/NOT query (see index/boolq.py for grammar + semantics).
        Returns (rank, doc_id, score). Pure-negative queries raise
        ValueError. Scale shape = plain indexed search: one pruned
        segment scan, per-range kernels, k rows per range leave the
        executors."""
        nnf, all_terms, pos_terms = compile_query(query_text)
        info = self.lookup_terms(all_terms)
        tid_of = {t: tid for t, (_, _, tid) in info.items()}
        nnf_tid = subst_tids(nnf, tid_of)
        pos_tids = sorted(
            tid_of[t] for t in pos_terms if t in tid_of
        )
        if not pos_tids:
            return self._empty()
        scorer = boolean_range_scorer(
            nnf_tid, pos_tids, self._idfs(info), float(self.stats["avgdl"]),
            k, deleted=self._deleted,
        )
        return _rank(_ranges_apply(self._pruned_segments(info), scorer), k)

    def search_filtered(
        self, query_text: str, allowed: DataFrame, k: int = 10
    ) -> DataFrame:
        """Top-k restricted to an allowed doc set (metadata filter —
        e.g. ``docs.where(lang == 'pt').select('doc_id')``). Returns
        (rank, doc_id, score); scores use corpus-wide stats (df,
        avgdl), exactly like filtering the full ranking, but docs
        outside the filter can never displace an allowed one.

        The allow-list is cogrouped with the segment scan on
        ``range_id`` (the doc-space salt), so each scoring kernel sees
        only its own range's slice — the filter is never collected,
        broadcast, or shuffled as a whole."""
        terms = sorted(set(py_tokens(query_text)))
        info = self.lookup_terms(terms)
        if not info:
            return self._empty()
        range_size = int(self.stats["range_size"])
        allow = allowed.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.floor(F.col("doc_id").cast("long") / F.lit(range_size))
            .cast("int")
            .alias("range_id"),
        )
        scorer = filtered_range_scorer(
            self._idfs(info), float(self.stats["avgdl"]), k,
            deleted=self._deleted,
        )
        local = (
            self._pruned_segments(info).groupBy("range_id")
            .cogroup(allow.groupBy("range_id"))
            .applyInPandas(
                lambda key, left, right: scorer(key, left, right),
                schema=_SCORE_SCHEMA,
            )
        )
        return _rank(local, k)

    def search_snippets(
        self, query_text: str, docs: DataFrame, k: int = 10,
        mode: str = "auto", before: int = 40, width: int = 100,
    ) -> DataFrame:
        """Top-k hits with display snippets: (rank, doc_id, score,
        snippet). The index stores no raw text, so hits join back to
        ``docs`` — the ≤k-row hit side is broadcast, making the join a
        map-side probe of the docs scan (no shuffle of the corpus)."""
        terms = sorted(set(py_tokens(query_text)))
        hits = self.search(query_text, k, mode=mode)
        return (
            docs.where(F.col("text").isNotNull())
            .join(F.broadcast(hits), "doc_id")
            .select(
                "rank",
                "doc_id",
                "score",
                snippet_col(F.col("text"), terms, before, width).alias(
                    "snippet"
                ),
            )
        )

    def _positional_info(self, terms: list[str],
                         optional: "frozenset[str]" = frozenset()):
        """Dictionary info of a positional-operator query's ``terms``,
        or ``{}`` when a REQUIRED term is absent (no doc can match).
        Terms in ``optional`` (e.g. a span-not exclude) may be absent.
        Raises on an index built without positions."""
        if not self.stats.get("positions"):
            raise ValueError(
                "phrase/proximity queries need a positional index — "
                "build with IndexBuilder(..., positions=True)"
            )
        info = self.lookup_terms(sorted(set(terms))) if terms else {}
        if any(t not in info for t in terms if t not in optional):
            return {}
        return info

    def _positional_rank(self, info, scorer, k: int) -> DataFrame:
        """Distributed answer of a positional kernel: the pruned scan
        WITH the position streams, per-range kernels, global top-k."""
        return _rank(_ranges_apply(
            self._pruned_segments(info, POS_SEGMENT_SCHEMA), scorer
        ), k)

    def search_phrase(self, phrase_text: str, k: int = 10) -> DataFrame:
        """Exact-phrase top-k: docs whose token stream contains the
        query terms at consecutive positions, BM25-ranked over the
        phrase's distinct terms. Returns (rank, doc_id, score).

        Rank-identical to ``phrase.phrase_exhaustive`` and the DuckDB
        oracle (same frozen spec). Scale shape = plain indexed search:
        per-range kernels, k rows per range leave the executors."""
        slots = py_tokens(phrase_text)
        if not slots:
            return self._empty()
        info = self._positional_info(slots)
        if not info:
            return self._empty()
        scorer = phrase_range_scorer(
            [info[t][2] for t in slots], self._idfs(info),
            float(self.stats["avgdl"]), k, self._deleted,
        )
        return self._positional_rank(info, scorer, k)

    def search_proximity(
        self, query_text: str, window: int, k: int = 10
    ) -> DataFrame:
        """Top-k over docs where every distinct query term occurs
        within SOME ``window``-token span (anchor-normalized cover —
        see phrase._min_cover). Returns (rank, doc_id, score)."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        info = self._positional_info(terms)
        if not info:
            return self._empty()
        scorer = proximity_range_scorer(
            [info[t][2] for t in terms], self._idfs(info),
            float(self.stats["avgdl"]), window, k, self._deleted,
        )
        return self._positional_rank(info, scorer, k)

    def search_span_near(
        self, query_text: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """Ordered span-near (Lucene ``SpanNearQuery`` with
        ``inOrder=true`` and single-term clauses): docs where the
        query terms occur left-to-right IN QUERY ORDER with at most
        ``slop`` intervening token positions (span width
        ``p_last − p_first − (n−1) ≤ slop``); matching docs are
        BM25-ranked over the distinct clause terms. ``slop=0`` on
        distinct terms ≡ :meth:`search_phrase`;
        :meth:`search_proximity` is the unordered counterpart. Needs
        a positional index. Returns (rank, doc_id, score); scale
        shape = plain indexed search (pruned positional chunk scan,
        per-range kernels, ≤ k rows per range leave the
        executors)."""
        clauses = py_tokens(query_text)
        if not clauses:
            return self._empty()
        info = self._positional_info(clauses)
        if not info:
            return self._empty()
        scorer = span_near_range_scorer(
            [info[t][2] for t in clauses], self._idfs(info),
            float(self.stats["avgdl"]), int(slop), k, self._deleted,
        )
        return self._positional_rank(info, scorer, k)

    def search_span_not(
        self, include_text: str, exclude_term: str, slop: int = 0,
        k: int = 10, pre: int = 0, post: int = 0,
    ) -> DataFrame:
        """Lucene ``SpanNotQuery``: ordered span-near include
        (:meth:`search_span_near` semantics) whose matches are
        rejected when the single-term exclude occurs within
        ``[span_start − pre, span_end + post]``. A doc matches iff
        SOME include span survives; scoring is BM25 over the distinct
        include terms only (the exclude never scores). An exclude
        term absent from the corpus degenerates to plain span-near
        (tested). Needs a positional index; scale shape = plain
        indexed search (pruned positional chunk scan, per-range
        kernels, ≤ k rows per range leave the executors)."""
        clauses = py_tokens(include_text)
        excl = py_tokens(exclude_term)
        if len(excl) != 1:
            raise ValueError(
                "exclude must analyze to exactly one term"
            )
        if not clauses:
            return self._empty()
        info = self._positional_info(
            sorted(set(clauses) | {excl[0]}), optional=frozenset(excl)
        )
        if not info:
            return self._empty()
        idf_map = self._idfs({t: info[t] for t in set(clauses)})
        excl_tid = info[excl[0]][2] if excl[0] in info else None
        scorer = span_not_range_scorer(
            [info[t][2] for t in clauses], excl_tid, idf_map,
            float(self.stats["avgdl"]), int(slop), int(pre), int(post), k,
            self._deleted,
        )
        return self._positional_rank(info, scorer, k)

    def search_phrase_prefix(
        self, query_text: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """Match-phrase-prefix (Elasticsearch ``match_phrase_prefix``,
        the search-as-you-type query): the leading tokens must occur
        as an exact consecutive phrase, immediately followed by any
        dictionary term starting with the query's TRAILING prefix
        (which may be shorter than the analyzer's minimum token
        length). Completion candidates come from one sargable
        ``startsWith`` dictionary scan, guarded by ``max_expansions``
        (Lucene-style: an unbounded head prefix would OR thousands of
        posting lists). Scoring: frozen BM25 over the distinct exact
        terms plus ONE SynonymQuery-style group for the completion
        position (tf summed across matched candidates, idf from the
        max candidate df — Lucene's blended docFreq). Returns
        (rank, doc_id, score); needs a positional index unless the
        query is a bare prefix. Scale shape = plain indexed search
        over the union term set."""
        from tlhop_library_spark.analyzer import (
            MIN_TOKEN_LEN,
            _PY_NON_WORD_RE,
        )
        raw = [
            t
            for t in _PY_NON_WORD_RE.split(
                query_text.lower().replace("_", " ")
            )
            if t
        ]
        if not raw:
            return self._empty()
        prefix, exact = raw[-1], raw[:-1]
        if any(len(t) < MIN_TOKEN_LEN for t in exact):
            raise ValueError(
                "every token before the trailing prefix must be an "
                f"analyzable term (≥ {MIN_TOKEN_LEN} chars); got "
                f"{exact!r}"
            )
        if not self.stats.get("positions"):
            raise ValueError(
                "match_phrase_prefix needs a positional index — "
                "build with IndexBuilder(..., positions=True)"
            )
        cand_info = self.lookup_terms_prefix([prefix], max_expansions)
        if not cand_info:
            return self._empty()
        info = self.lookup_terms(sorted(set(exact))) if exact else {}
        if len(info) < len(set(exact)):
            # a missing exact term ⇒ no doc can match
            return self._empty()
        group_idf = bm25.idf(
            self.stats["n_docs"],
            max(df for (df, _, _) in cand_info.values()),
        )
        scorer = phrase_prefix_range_scorer(
            [info[t][2] for t in exact],
            sorted(t for (_, _, t) in cand_info.values()),
            self._idfs(info), float(self.stats["avgdl"]), group_idf, k,
            self._deleted,
        )
        return self._positional_rank({**cand_info, **info}, scorer, k)

    def search_bool_prefix(
        self, query_text: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """ES ``match_bool_prefix`` (type-ahead over unordered
        terms): every token but the last matches as a plain OR term;
        the TRAILING token is a prefix (may be shorter than the
        analyzer's minimum token length) expanded against the
        dictionary with one sargable ``startsWith`` scan, guarded by
        ``max_expansions``. Unlike :meth:`search_phrase_prefix` there
        is no positional constraint — tokens may appear anywhere, in
        any order (ES contract: a bool SHOULD of term queries plus a
        prefix query).

        Scoring: frozen BM25 with each exact term its own group and
        ALL prefix completions as ONE SynonymQuery-style group (tf
        summed across candidates, idf from the max candidate df) —
        the same completion-scoring rule as ``search_phrase_prefix``
        (Lucene's blended docFreq; a plain OR would double-count
        idf across completions of the same typed prefix). An exact
        term that itself matches the prefix lands in the completion
        group (the group kernel's last-group rule — mirrored by the
        oracle). Works on plain AND positional indexes; scale shape
        = plain indexed search over the union term set."""
        from tlhop_library_spark.analyzer import (
            MIN_TOKEN_LEN,
            _PY_NON_WORD_RE,
        )

        raw = [
            t
            for t in _PY_NON_WORD_RE.split(
                query_text.lower().replace("_", " ")
            )
            if t
        ]
        if not raw:
            return self._empty()
        prefix, exact = raw[-1], raw[:-1]
        if any(len(t) < MIN_TOKEN_LEN for t in exact):
            raise ValueError(
                "every token before the trailing prefix must be an "
                f"analyzable term (≥ {MIN_TOKEN_LEN} chars); got "
                f"{exact!r}"
            )
        cand_info = self.lookup_terms_prefix([prefix], max_expansions)
        groups = [[t] for t in sorted(set(exact))]
        if cand_info:
            groups.append(sorted(cand_info))
        if not groups:
            return self._empty()
        return self._search_term_groups(groups, k)

    def search_span_first(
        self, term_text: str, end: int, k: int = 10
    ) -> DataFrame:
        """SpanFirstQuery (Lucene ``SpanFirstQuery``): docs whose
        FIRST occurrence of the term lies within the first ``end``
        tokens (0-based position < end), BM25-ranked on the term.
        Needs a positional index. Returns (rank, doc_id, score);
        scale shape = plain indexed search."""
        toks = py_tokens(term_text)
        if len(toks) != 1:
            raise ValueError("search_span_first takes exactly one term")
        info = self._positional_info(toks)
        if not info:
            return self._empty()
        scorer = span_first_range_scorer(
            info[toks[0]][2], self._idfs(info), float(self.stats["avgdl"]),
            int(end), k, self._deleted,
        )
        return self._positional_rank(info, scorer, k)

    def last_pruning_stats(self) -> dict:
        """(blocks decoded, total blocks) of the last stats-enabled
        search, after its action completed."""
        acc_d, acc_t = self._acc
        total = acc_t.value
        return {
            "blocks_decoded": acc_d.value,
            "blocks_total": total,
            "decode_fraction": acc_d.value / total if total else None,
        }

    def cache(self) -> "IndexReader":
        """Pin segments + dictionary in executor memory for a query
        session (cold parquet reads dominate repeated-query latency)."""
        self._segments = self._segments.persist()
        self._dict = self._dict.persist()
        return self

    def search_many(
        self, queries: list[tuple[int, str, int]], mode: str = "auto"
    ) -> DataFrame:
        """Batch search: [(query_id, query_text, k)] → one Spark job
        producing (query_id, rank, doc_id, score).

        All queries' chunks are scanned in one pass (filter pushed as a
        single term-set disjunction), scored per (query_id, range), then
        top-k'd per query — amortizing job/scan overhead across the set.
        """
        per_q = {}
        all_terms: set[str] = set()
        for qid, text, k in queries:
            terms = sorted(set(py_tokens(text)))
            per_q[qid] = (terms, k)
            all_terms.update(terms)
        info = self.lookup_terms(sorted(all_terms))
        if not info:
            return _local_frame(self.spark, _BATCH_RANKED_SCHEMA)
        seg = self._pruned_segments(info)
        # fan out chunks to the queries that want them
        q_of_tid: dict[int, list[int]] = {}
        for qid, (terms, _) in per_q.items():
            for t in terms:
                if t in info:
                    q_of_tid.setdefault(info[t][2], []).append(qid)
        mapping = F.map_from_arrays(
            F.array(*[F.lit(t) for t in q_of_tid]),
            F.array(
                *[
                    F.array(*[F.lit(q) for q in qs])
                    for qs in q_of_tid.values()
                ]
            ),
        )
        fanned = seg.withColumn(
            "query_id", F.explode(mapping.getItem(F.col("tid")))
        )
        k_max = max(k for _, (_, k) in per_q.items())
        scorer = _range_scorer(
            self._idfs(info), k_max, mode, float(self.stats["avgdl"]),
            self._bound_scale(), self._deleted,
        )
        local = fanned.groupBy("query_id", "range_id").applyInPandas(
            lambda key, pdf: scorer((key[1],), pdf).assign(query_id=key[0]),
            schema="doc_id long, score double, query_id long",
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = (
            local.withColumn("score", F.round("score", bm25.ROUND_DIGITS))
            .withColumn("rank", F.row_number().over(w).cast("int"))
        )
        k_map = F.map_from_arrays(
            F.array(*[F.lit(q) for q in per_q]),
            F.array(*[F.lit(k) for _, (_, k) in per_q.items()]),
        )
        return ranked.where(
            F.col("rank") <= k_map.getItem(F.col("query_id"))
        ).select("query_id", "rank", "doc_id", "score")

    def search_many_local(
        self, queries: list[tuple[int, str, int]], mode: str = "auto"
    ) -> DataFrame:
        """Serving-path twin of :meth:`search_many`: ONE pyarrow scan
        covering the union of all queries' (bucket, tid) chunks, then
        the per-range numpy kernel per query on the driver. Returns
        (query_id, rank, doc_id, score), rank ≤ that query's k —
        row-identical to :meth:`search_many`. Amortizes the chunk read
        across the batch; per-query marginal cost is pure numpy, so
        batch q/s is bounded by IO once, not a Spark job per query."""
        avgdl = float(self.stats["avgdl"])
        per_q = {}
        all_terms: set[str] = set()
        for qid, text, k in queries:
            terms = sorted(set(py_tokens(text)))
            per_q[qid] = (terms, k)
            all_terms.update(terms)
        info = self.lookup_terms(sorted(all_terms))
        if not info:
            return _local_frame(self.spark, _BATCH_RANKED_SCHEMA)
        import pyarrow.dataset as ds

        idf_all = self._idfs(info)
        buckets = sorted({b for _, b, _ in info.values()})
        cols = [f.name for f in SEGMENT_SCHEMA.fields]
        tbl = self._pa_segments().to_table(
            columns=cols,
            filter=ds.field("bucket").isin(buckets)
            & ds.field("tid").isin(sorted(idf_all)),
        )
        pdf = tbl.to_pandas()
        qids, ranks, docs, scores = [], [], [], []
        for qid, (terms, k) in per_q.items():
            tids = [info[t][2] for t in terms if t in info]
            if not tids:
                continue
            idf_map = {t: idf_all[t] for t in tids}
            sub = pdf[pdf["tid"].isin(tids)]
            if sub.empty:
                continue
            scorer = _range_scorer(
                idf_map, k, mode, avgdl, self._bound_scale(), self._deleted,
            )
            d, r = _merge_topk(
                [
                    scorer((rid,), g)
                    for rid, g in sub.groupby("range_id", sort=False)
                ],
                k,
            )
            qids.append(np.full(len(d), qid, np.int64))
            ranks.append(np.arange(1, len(d) + 1, dtype=np.int32))
            docs.append(d)
            scores.append(r)
        if not docs:
            return _local_frame(self.spark, _BATCH_RANKED_SCHEMA)
        return _local_frame(
            self.spark, _BATCH_RANKED_SCHEMA,
            [np.concatenate(c) for c in (qids, ranks, docs, scores)],
        )


def oracle_sql_suggest_phrase(
    query_text: str, n: int = 3, max_edits: int = 1,
    per_token: int = 3, add_k: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB SQL replaying the full phrase-suggester pipeline:
    per-token (dist, df desc, term) top-``per_token`` candidates from
    the distinct-term dictionary, the cross-product candidate
    sequences, and the add-k bigram-LM sequence score
    ``round(Σ log2((c12+k)/(c1+k·V)), 4)`` with unseen bigrams and
    contexts coalesced to 0 — the same frozen spec as
    :meth:`IndexReader.suggest_phrase`.

    Engine-parity boundary: DuckDB's ``levenshtein`` is BYTE-level
    (an accented substitution costs 2) while Spark's is
    character-level, so the replay is exact only when the query
    tokens and their dictionary candidates are ASCII — which is what
    the gate uses. The engine's own semantics are the char-level
    ones."""
    from tlhop_library_spark.analyzer import py_tokens as _pt

    toks = _pt(query_text)
    T = len(toks)
    cand_ctes = []
    for i, t in enumerate(toks):
        w = t.replace("'", "''")
        cand_ctes.append(f"""cand{i} AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (
      ORDER BY levenshtein(term, '{w}') ASC, df DESC, term ASC
    ) AS rn
    FROM dict
    WHERE abs(length(term) - {len(t)}) <= {max_edits}
      AND levenshtein(term, '{w}') <= {max_edits}
  ) WHERE rn <= {per_token}
)""")
    combo_cols = " || ' ' || ".join(f"c{i}.term" for i in range(T))
    combo_from = ", ".join(f"cand{i} c{i}" for i in range(T))
    combo_sel = ", ".join(f"c{i}.term AS s{i}" for i in range(T))
    cpair_selects = [
        f"SELECT suggestion, s{i} AS w1, s{i+1} AS w2 FROM combos"
        for i in range(T - 1)
    ]
    cpairs = "\n  UNION ALL ".join(cpair_selects)
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'), t -> length(t) >= 3) AS toks
  FROM {table} WHERE text IS NOT NULL
), tok AS (
  SELECT doc_id, unnest(toks) AS term FROM base
), tf AS (
  SELECT doc_id, term FROM tok GROUP BY doc_id, term
), dict AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), {", ".join(cand_ctes)},
combos AS (
  SELECT {combo_cols} AS suggestion, {combo_sel}
  FROM {combo_from}
), bpairs AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM base, unnest(range(1, len(toks))) AS t(i)
  WHERE len(toks) >= 2
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM bpairs GROUP BY w1, w2
), ctx AS (
  SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1
), vocab AS (
  SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tok
), cpairs AS (
  {cpairs}
), scored AS (
  SELECT cp.suggestion,
         log2((coalesce(big.c12, 0) + {add_k})
              / (coalesce(ctx.c1, 0) + {add_k} * vocab.v)) AS logp
  FROM cpairs cp
  LEFT JOIN big ON big.w1 = cp.w1 AND big.w2 = cp.w2
  LEFT JOIN ctx ON ctx.w1 = cp.w1
  CROSS JOIN vocab
), agg AS (
  SELECT suggestion, round(sum(logp), 4) AS score
  FROM scored GROUP BY suggestion
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, suggestion ASC) AS INT)
       AS rank,
       suggestion, score
FROM agg
QUALIFY rank <= {n}
ORDER BY rank
"""
