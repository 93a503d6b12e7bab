"""Corpus-statistics operators for a training-data pipeline:
TF-IDF keyword extraction, PMI collocations, benchmark-contamination
scoring, and deterministic stratified sampling.

All four are declarative DataFrame plans (pure JVM expressions, no
Python on the hot path), each with a line-for-line DuckDB oracle in
``__spark_entry__.oracle_sql()``. Frozen specs live in the docstrings
— the Spark plan, the oracle SQL, and the tests all derive from them.

Scale shapes:
- keywords: one explode → (doc_id, term) partial-agg → per-doc window
  (PARTITIONED — never a global window).
- collocations: one explode of adjacent-token pairs → two hash aggs
  (bigram, unigram) → broadcast-joined marginals → ranked_topk.
- contamination: shingle equi-join train×benchmark (the near-dup join
  shape — no cross product), per-doc ratio agg.
- stratified sample: stateless per-row hash predicate; no shuffle at
  all (a filter over the scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tlhop_library_spark.analyzer import tokens_col
from tlhop_library_spark.operators.relational import ranked_topk

ROUND = 4


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )


def tfidf_keywords(docs: DataFrame, m: int = 3) -> DataFrame:
    """Top-``m`` keywords per document by TF-IDF.

    Frozen spec: tf(d,t) = occurrences of t in d;
    idf(t) = ln((N + 1) / (df(t) + 1)) over the N docs with text;
    score = round(tf · idf, 4); per-doc order (score DESC, term ASC);
    rows with rank ≤ m as (doc_id, term, score, pos).

    The per-doc top-m window partitions by doc_id — distributed, never
    a single-partition exchange. The (N-row) stats side is a scalar
    broadcast join.
    """
    tok = _tokens(docs).select(
        "doc_id", F.explode("toks").alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = _tokens(docs).select(
        F.count("*").cast("double").alias("n")
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                ROUND,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("pos", F.row_number().over(w).cast("int"))
        .where(F.col("pos") <= m)
        .select("doc_id", "term", "score", "pos")
    )


def pmi_collocations(
    docs: DataFrame, min_count: int = 5, top: int = 20
) -> DataFrame:
    """Top-``top`` adjacent-token bigrams by pointwise mutual
    information.

    Frozen spec: over all adjacent token pairs (w1, w2) in the corpus
    (T pairs total) and all single tokens (U total),
    pmi = round(ln( (c12 / T) / ((c1 / U) · (c2 / U)) ), 4) for
    bigrams with c12 ≥ min_count; order (pmi DESC, w1 ASC, w2 ASC),
    top rows as (w1, w2, c12, pmi).
    """
    t = _tokens(docs)
    pairs = (
        t.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                    F.slice(
                        "toks", 2, F.size("toks") - 1
                    ).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    totals = pairs.select(F.count("*").cast("double").alias("t")).crossJoin(
        t.select(F.explode("toks").alias("w")).select(
            F.count("*").cast("double").alias("u")
        )
    )
    scored = (
        big.where(F.col("c12") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") / F.col("t"))
                    / ((F.col("c1") / F.col("u")) * (F.col("c2") / F.col("u")))
                ),
                ROUND,
            ).alias("pmi"),
        )
    )
    return ranked_topk(
        scored, [F.desc("pmi"), F.asc("w1"), F.asc("w2")], top,
        rank_col="rank",
    ).select("rank", "w1", "w2", "c12", "pmi")


def contamination_score(
    train: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark-contamination check: for each training document, the
    fraction of its distinct ``n``-gram token shingles that appear in
    ANY benchmark document.

    Frozen spec: shingles = distinct n-token windows (space-joined);
    contamination = round(|doc's shingles ∩ benchmark shingles|
    / |doc's shingles|, 4); docs with fewer than n tokens are absent.
    Returns (doc_id, n_shingles, n_contaminated, contamination).

    Shape: two shingle explodes + one equi-join on the shingle string
    (the near-dup join shape) — no cross product; the benchmark side
    is deduplicated before the join.
    """
    from tlhop_library_spark.operators.dedup import shingles

    tr = shingles(train, n)
    be = shingles(benchmark, n).select("shingle").distinct()
    hit = tr.join(
        be.withColumn("__hit", F.lit(1)), "shingle", "left"
    )
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_shingles"), ROUND
            ).alias("contamination"),
        )
    )


def _bigram_pairs(t: DataFrame, keep_doc: bool = False) -> DataFrame:
    """Adjacent-token pairs (w1, w2) from a (doc_id, toks) frame —
    the PMI/collocation explode shape, optionally keeping doc_id."""
    head = ["doc_id"] if keep_doc else []
    return (
        t.where(F.size("toks") >= 2)
        .select(
            *head,
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                    F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select(
            *head,
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
    )


def train_bigram_lm(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train an add-k-smoothed bigram language model over a corpus
    (the CCNet-style LM-quality-filter building block).

    Returns three lazy DataFrames:
    - bigram counts ``(w1, w2, c12)``,
    - context counts ``(w1, c1)`` where c1 = Σ_w2 c12 (aggregated from
      the already-reduced bigram table, NOT a second pass over the raw
      token stream),
    - vocabulary size ``(v)`` — ONE row, count of distinct tokens over
      every position of the training corpus.

    Scale shape: one explode + hash-agg over the token stream for the
    bigram counts (the one wide shuffle); context counts reduce the
    bigram table; the vocab row broadcasts. No Python on any path.
    """
    t = _tokens(docs)
    pairs = _bigram_pairs(t)
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        t.select(F.explode("toks").alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("v"))
    )
    return big, ctx, vocab


def lm_perplexity(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document bigram-LM perplexity — the CCNet-style quality
    signal (low perplexity ≈ fluent under the reference corpus, high ≈
    noise). Re-expresses the reference's per-row quality heuristics
    (``/root/reference/tlhop/library.py:62-97`` cleaning + scoring) as
    a distributed statistical filter.

    Frozen spec: with counts from ``model`` (default: train on
    ``docs`` itself) and k = ``add_k``,
    ``P(w2|w1) = (c12 + k) / (c1 + k·V)`` (unseen bigram/context ⇒
    counts 0, so an unknown context scores 1/V);
    ``logp = log2 P``; per doc over its adjacent pairs:
    ``avg_logp = round(avg(logp), 4)``,
    ``perplexity = round(2^(-avg(logp)), 4)``.
    Docs with fewer than 2 tokens are absent. Returns
    ``(doc_id, n_bigrams, avg_logp, perplexity)``.

    Scale shape: the doc-side explode joins the trained counts on
    (w1, w2) — a plain equi-join (AQE splits Zipf-head skew); the
    context join on w1 reuses the smaller reduced table; the 1-row
    vocab side is a broadcast. One hash-agg back to doc grain.
    """
    big, ctx, vocab = model if model is not None else train_bigram_lm(docs)
    pairs = _bigram_pairs(_tokens(docs), keep_doc=True)
    logp = F.log2(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(add_k) * F.col("v"))
    )
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp.alias("logp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("logp"), ROUND).alias("avg_logp"),
        F.round(F.pow(F.lit(2.0), -F.avg("logp")), ROUND).alias(
            "perplexity"
        ),
    )


def strata_hash(strata: Column, key: Column, salt: str = "v1") -> Column:
    """Deterministic per-row bucket in [0, 10000): the first 8 hex
    chars of md5('salt|strata|key') as an integer, mod 10000. The SAME
    formula is DuckDB-expressible, so sampling is oracle-checkable and
    reproducible across engines and runs (unlike ``df.sampleBy``,
    whose RNG is partition-layout-dependent)."""
    h = F.md5(
        F.concat_ws("|", F.lit(salt), strata.cast("string"),
                    key.cast("string"))
    )
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 10000
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic stratified sample: keep a row iff
    ``strata_hash < fractions[stratum] * 10000``. Strata absent from
    ``fractions`` are dropped. Pure filter over the scan — stateless,
    no shuffle, identical output on any cluster size or layout."""
    b = strata_hash(F.col(strata_col), F.col(key_col), salt)
    keep = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        keep = keep | (
            (F.col(strata_col) == F.lit(stratum))
            & (b < F.lit(int(round(frac * 10000))))
        )
    return docs.where(keep)


def sql_strata_hash(strata_expr: str, key_expr: str,
                    salt: str = "v1") -> str:
    """DuckDB replica of :func:`strata_hash` (oracle building block)."""
    return (
        f"(('0x' || substr(md5('{salt}' || '|' || {strata_expr} || '|' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % 10000)"
    )


def slice_scan(
    docs: DataFrame, slice_id: int, n_slices: int,
    key_col: str = "doc_id", salt: str = "v1",
) -> DataFrame:
    """ES sliced-scroll parity: deterministic slice ``slice_id`` of
    ``n_slices`` over a table — the shape parallel reindex/export
    workers use to split a scan WITHOUT coordination. Keep a row iff
    ``md5('salt|key') mod n_slices == slice_id``: slices are disjoint,
    tile the table exactly, and are identical on any cluster size or
    partition layout (unlike ``rdd.mapPartitionsWithIndex`` slicing,
    which is layout-dependent). Pure stateless filter over the scan —
    zero shuffle, and the same formula is DuckDB-expressible
    (:func:`sql_slice_pred`)."""
    if not (0 <= slice_id < n_slices):
        raise ValueError("slice_id must be in [0, n_slices)")
    h = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string"))
    )
    b = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_slices
    return docs.where(b == F.lit(int(slice_id)))


def sql_slice_pred(key_expr: str, slice_id: int, n_slices: int,
                   salt: str = "v1") -> str:
    """DuckDB replica of the :func:`slice_scan` predicate."""
    return (
        f"(('0x' || substr(md5('{salt}' || '|' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {n_slices}) "
        f"= {slice_id}"
    )


def kmv_hash(col: Column, salt: str = "v1") -> Column:
    """Uniform (0, 1] hash for the KMV sketch: the first 13 hex chars
    of md5('salt|value') — 52 bits, every integer exactly
    representable in a double, so the Spark and DuckDB replicas agree
    bit-for-bit (16^13 is a power of two: the final division is a pure
    exponent shift, no rounding)."""
    h = F.md5(F.concat_ws("|", F.lit(salt), col.cast("string")))
    return (
        F.conv(F.substring(h, 1, 13), 16, 10).cast("long").cast("double")
        / float(16 ** 13)
    )


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 64,
    salt: str = "v1",
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002):
    hash every value to (0,1], keep the k smallest DISTINCT hashes;
    if fewer than k distinct values exist the answer is exact, else
    estimate ``(k-1) / h_(k)``. One row:
    ``(kmv_estimate double, k_used bigint)``, estimate rounded to 4dp.

    This is the mergeable-sketch building block for web-scale
    vocabulary/cardinality profiling: per partition only k doubles
    survive (map-side ``limit`` heaps via ``ranked_topk``), so the
    reduce moves O(k·partitions) rows regardless of corpus size —
    the same communication shape a 1000-executor HLL union has, but
    exactly reproducible across engines (oracle-checkable, unlike
    approx_count_distinct whose HLL++ registers are
    implementation-defined).
    """
    hashes = (
        df.select(kmv_hash(F.col(col), salt).alias("h"))
        .where(F.col("h") > 0)
        .distinct()
    )
    smallest = ranked_topk(hashes, [F.asc("h")], k)
    return smallest.agg(
        F.when(F.count("*") < k, F.count("*").cast("double"))
        .otherwise(F.round((F.lit(k) - F.lit(1)) / F.max("h"), 4))
        .alias("kmv_estimate"),
        F.count("*").alias("k_used"),
    )


def sql_kmv_hash(value_expr: str, salt: str = "v1") -> str:
    """DuckDB replica of :func:`kmv_hash` (oracle building block)."""
    return (
        f"((('0x' || substr(md5('{salt}' || '|' || "
        f"CAST({value_expr} AS VARCHAR)), 1, 13))::BIGINT)::DOUBLE "
        f"/ power(2, 52))"
    )
