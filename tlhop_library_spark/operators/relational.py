"""Relational operator library — SURVEY.md §2 parity, Spark-first.

Each function is the idiomatic declarative re-expression of a
reference operator family (citations inline). All return DataFrames
(pure logical-plan building; Catalyst owns the physical strategy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ranked_topk(
    df: DataFrame,
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """O3 — distributed top-k WITH a rank column, no global-window cliff.

    ``orderBy(*order_by).limit(k)`` plans TakeOrderedAndProject —
    per-partition bounded heaps, only k rows leave each executor and
    only k reach the final merge. The row_number window then runs over
    those ≤k survivors (trivially single-partition), never over the
    full input. Replaces the `row_number().over(Window.orderBy(...))`-
    then-filter shape, whose Exchange SinglePartition funnels the WHOLE
    input through one task at scale.

    ``order_by`` must be a deterministic total order (include a
    tie-break column) so limit-then-rank equals rank-then-filter.
    """
    w = Window.orderBy(*order_by)
    return (
        df.orderBy(*order_by)
        .limit(k)
        .withColumn(rank_col, F.row_number().over(w).cast("int"))
    )


def frequency(df: DataFrame, col: str, top: int | None = None) -> DataFrame:
    """A1 — groupBy().count() ordered desc
    (ref /root/reference/tlhop/shodan_library.py:277-280). Deterministic
    tie-break on the key for stable top-N."""
    out = (
        df.groupBy(col)
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc(col))
    )
    return out.limit(top) if top else out


def top1_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, tie_col: str
) -> DataFrame:
    """W1 — row_number over (partitionBy group, orderBy desc) == 1
    (ref /root/reference/tlhop/algorithms/vulnerability_assessment.py:233-250)."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc(order_col), F.asc(tie_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdf_pdf(df: DataFrame, col: str) -> DataFrame:
    """A7 — distribution → PDF/CDF, fully distributed (the reference
    pulls to pandas and cumsums on the driver,
    /root/reference/tlhop/shodan_library.py:262-299 — the scale cliff
    this engine avoids): value counts + running-sum window over the
    count-ordered axis.

    CARDINALITY CONTRACT: the running-sum window is global (ordered,
    un-partitioned), so after the groupBy the WHOLE counts table —
    one row per distinct value of ``col`` — funnels through one task.
    Fine for the intended enum-like axes (priorities, languages,
    status codes: ≤ ~10^4 distinct); for high-cardinality axes use
    :func:`cdf_pdf_partitioned`, which computes the same result with
    a range-partitioned two-level prefix sum."""
    counts = df.groupBy(col).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    w = (
        Window.orderBy(F.asc(col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("pdf", F.round(F.col("n") / F.col("total"), 4))
        .withColumn(
            "cdf", F.round(F.sum("n").over(w) / F.col("total"), 4)
        )
        .select(col, "n", "pdf", "cdf")
    )


def cdf_pdf_partitioned(
    df: DataFrame, col: str, num_partitions: int = 64
) -> DataFrame:
    """A7 at high cardinality — same output as :func:`cdf_pdf`, but
    the running sum is a distributed two-level prefix sum, never a
    single-partition window over the full counts table:

    1. value counts are ``repartitionByRange(num_partitions, col)``
       (globally ordered ACROSS partitions; Spark's range partitioner
       samples with deterministic per-partition seeds, so the two plan
       branches below see identical boundaries);
    2. intra-partition running sums via a window PARTITIONED BY
       ``spark_partition_id()`` — each task cumsums only its slice;
    3. per-partition totals (``num_partitions`` rows) get their own
       cumulative offsets — the only global window runs over those
       ≤``num_partitions`` rows — and are broadcast-joined back.

    cdf(v) = intra-partition running sum + offset of all earlier
    partitions. Equivalence to ``cdf_pdf`` is asserted on a
    10^5-distinct column in tests/test_operators.py."""
    counts = df.groupBy(col).agg(F.count("*").alias("n"))
    parts = counts.repartitionByRange(
        num_partitions, F.asc(col)
    ).withColumn("__pid", F.spark_partition_id())
    totals = parts.groupBy("__pid").agg(F.sum("n").alias("__pn"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__pn").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    w_in = Window.partitionBy("__pid").orderBy(F.asc(col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = counts.agg(F.sum("n").alias("total"))
    return (
        parts.withColumn("__run", F.sum("n").over(w_in))
        .join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(total))
        .withColumn("pdf", F.round(F.col("n") / F.col("total"), 4))
        .withColumn(
            "cdf",
            F.round(
                (F.col("__run") + F.col("__off")) / F.col("total"), 4
            ),
        )
        .select(col, "n", "pdf", "cdf")
    )


def null_profile(df: DataFrame) -> DataFrame:
    """P13 — single-pass per-column non-null counts
    (ref /root/reference/tlhop/library.py:310-325)."""
    aggs = [
        F.sum(F.col(c).isNotNull().cast("long")).alias(c)
        for c in df.columns
    ]
    return df.agg(*aggs)


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """J7 — value BETWEEN lo AND hi against a small ranges dim
    (ref /root/reference/tlhop/crawlers/rdap.py:187-272's IntervalTree,
    re-expressed as a broadcast range join; for large dims, bucket both
    sides by floor(value/step) first)."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (
        F.col(value_col) <= F.col(hi_col)
    )
    return facts.join(F.broadcast(ranges), cond, "inner")


def semi_filter(df: DataFrame, keys_df: DataFrame, key: str) -> DataFrame:
    """J6 — join-for-filter as a proper left_semi
    (ref examples/tutorial_use_case_1.ipynb cell 14 uses inner)."""
    return df.join(keys_df, key, "left_semi")


def multi_distinct(df: DataFrame, group: str, cols: list[str]) -> DataFrame:
    """A2 — several countDistinct in one agg (ref
    /root/reference/tlhop/algorithms/vulnerability_assessment.py:195-200)."""
    return df.groupBy(group).agg(
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
        F.count("*").alias("n_rows"),
    )


def when_case_map(col: Column, mapping: list[tuple], default) -> Column:
    """P10 — multi-branch when/otherwise chain
    (ref /root/reference/tlhop/shodan_library.py:97-101)."""
    out = None
    for cond, val in mapping:
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out.otherwise(default)


def time_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Hypertable-style multi-granularity rollup: one pass produces
    (day, hour[, group]) aggregates plus the day-level and grand
    totals via ROLLUP — Catalyst expands the grouping sets, partial
    aggregation keeps it a single shuffle. (The reference computes
    each granularity as a separate job; SURVEY §2.4 notes it never
    uses rollup/cube.) NULL grouping columns on subtotal rows follow
    SQL semantics; `grain` disambiguates them from genuine NULLs."""
    day = F.date_format(F.date_trunc("day", ts_col), "yyyy-MM-dd").alias("day")
    hour = F.hour(ts_col).alias("hour")
    cols = [day, hour] + ([F.col(group_col)] if group_col else [])
    return (
        df.rollup(*cols)
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
            F.grouping_id().cast("int").alias("grain"),
        )
    )


def asof_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    dim_cols: list[str],
) -> DataFrame:
    """As-of join: each fact row gets the dim row with the greatest
    dim.ts ≤ fact.ts for the same key (no dim match → NULLs).

    Declarative composition (no range explosion, no per-row Python):
    union the tagged sources, sort within the key by time, and
    carry the last dim values forward with last(..., ignorenulls) over
    an unbounded-preceding window — one shuffle on the key, linear
    work, skew handled by AQE. (Spark lacks a native ASOF JOIN; DuckDB
    has one, which the oracle uses — a cross-engine check of this
    composition.) Ties on timestamp: the dim row sorts before the fact
    row, so a same-instant dim value IS visible to the fact.
    """
    f = facts.withColumn("__src", F.lit(1))
    d = dim.select(
        key, ts_col, *[F.col(c).alias(f"__d_{c}") for c in dim_cols]
    ).withColumn("__src", F.lit(0))
    unioned = f.unionByName(d, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.asc(ts_col), F.asc("__src"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned
    for c in dim_cols:
        carried = carried.withColumn(
            f"__d_{c}", F.last(f"__d_{c}", ignorenulls=True).over(w)
        )
    out = carried.where(F.col("__src") == 1).drop("__src")
    for c in dim_cols:
        out = out.withColumnRenamed(f"__d_{c}", c)
    return out


def prefix_match_join(
    facts: DataFrame,
    fact_key: str,
    patterns: DataFrame,
    pattern_col: str,
    sep: str = ":",
    max_depth: int = 6,
) -> DataFrame:
    """J9 — prefix-containment join without a theta join.

    The reference matches CPE identifiers by prefix containment inside
    a scalar UDF over a crossed array (/root/reference/tlhop/library.py:
    870-923). Scalable re-expression: explode each fact key into its
    `sep`-separated prefixes (bounded by max_depth) and equi-join the
    pattern table on the prefix — shuffle key = prefix, no cross
    product, AQE handles hot prefixes.

    Returns facts ⋈ patterns rows where `pattern_col` is a prefix of
    `fact_key` (on separator boundaries).
    """
    idx = F.sequence(F.lit(1), F.least(
        F.size(F.split(F.col(fact_key), sep)), F.lit(max_depth)
    ))
    prefixes = F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(F.split(F.col(fact_key), sep), 1, i), sep
        ),
    )
    exploded = facts.withColumn("__prefix", F.explode(prefixes))
    return (
        exploded.join(
            patterns, exploded["__prefix"] == patterns[pattern_col], "inner"
        )
        .drop("__prefix")
    )


def pivot_counts(
    df: DataFrame, row_key: Column, pivot_col: str, values: list[str]
) -> DataFrame:
    """A10 — groupBy().pivot().count() with an explicit value list
    (never let pivot scan for values at scale)."""
    return (
        df.groupBy(row_key.alias("row_key"))
        .pivot(pivot_col, values)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
