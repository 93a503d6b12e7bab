"""Physical-plan quality gates: the optimizations we rely on at 100 TB
must actually appear in the plan — pushdown, pruning, broadcast,
whole-stage codegen — not just be assumed.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("doc_id") > 100).select("doc_id", "lang")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in p


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.select("doc_id", "lang")
    p = plan_of(q)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in p
    assert "text" not in p.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_in_nation_revenue(spark):
    import __spark_entry__ as m

    q = m.queries()["nation_revenue"](spark, SF_DIR)
    p = plan_of(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bm25_exhaustive_plan_shape(spark):
    """Round-2 shape: tf-per-term computed JVM-side in one projection
    (no explode shuffle, no join at all — stats are folded in as
    literals) and the top-k is TakeOrderedAndProject (per-partition
    heaps), with the rank window running only over the ≤k survivors."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from tlhop_library_spark.index.query import score_exhaustive

    q = score_exhaustive(docs, "spark join", k=5)
    p = plan_of(q)
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    # the only Window is the rank over the limited set: it must sit
    # ABOVE the TakeOrderedAndProject (plan prints root-first)
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_topk_queries_have_no_global_window_cliff(spark):
    """term_topk_freq / topn_orders / cosine_topk must plan
    TakeOrderedAndProject below the rank window — never an Exchange
    SinglePartition funneling the FULL input into one task."""
    import __spark_entry__ as m

    qs = m.queries()
    for name in ["term_topk_freq", "topn_orders", "cosine_topk"]:
        p = plan_of(qs[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in p, name
        assert p.index("Window") < p.index("TakeOrderedAndProject"), name


def test_reports_top_terms_has_no_global_window_cliff(spark):
    """reports.top_terms must rank AFTER the per-partition-heap limit —
    round-2 verdict "What's wrong #2": the old shape row_numbered the
    entire vocabulary count table through one task."""
    from tlhop_library_spark.analyzer import tokens_col
    from tlhop_library_spark.reports import top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    p = plan_of(top_terms(base, 25))
    assert "TakeOrderedAndProject" in p
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_index_query_bucket_pruning(spark, index_dir):
    """Query-time segment read must push (bucket, term) filters to the
    parquet scan (row-group stats skip non-matching term runs)."""
    from tlhop_library_spark.index.query import IndexReader

    reader = IndexReader(spark, index_dir)
    terms = ["bace"]
    info = reader.lookup_terms(terms)
    assert info
    buckets = sorted({b for _, b, _ in info.values()})
    tids = sorted({t for _, _, t in info.values()})
    seg = reader._segments.where(
        F.col("bucket").isin(buckets) & F.col("tid").isin(tids)
    )
    p = plan_of(seg)
    assert "PushedFilters" in p
    assert "In(tid" in p or "EqualTo(tid" in p


def test_whole_stage_codegen_on_relational(spark):
    import __spark_entry__ as m

    q = m.queries()["q1_pricing_summary"](spark, SF_DIR)
    q.collect()  # AQE finalizes the physical plan only on execution
    p = plan_of(q)
    # codegen stages appear as "*(n) HashAggregate..." in the plan string
    assert "*(" in p and "HashAggregate" in p


def test_partial_aggregation_before_shuffle(spark):
    """groupBy must plan partial_ aggregates map-side (combine before
    exchange) — the property that absorbs head-term volume at scale."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from tlhop_library_spark.analyzer import tokens_col

    q = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .count()
    )
    p = plan_of(q)
    assert "partial_count" in p


def test_build_single_wide_shuffle(spark, corpus_df, tmp_path):
    """The build's segment job contains exactly ONE wide exchange (the
    salted repartition) — no hidden extra shuffles."""
    from pyspark.sql import functions as F

    from tlhop_library_spark.analyzer import tokens_col

    wt = corpus_df.where(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("tokens"),
    ).withColumn("dl", F.size("tokens"))
    exploded = wt.select(
        "doc_id", "dl", F.explode("tokens").alias("term")
    ).withColumn("tid", F.xxhash64("term"))
    bucket_expr = F.pmod(F.col("tid"), F.lit(8)).cast("int")
    range_expr = (F.col("doc_id") / F.lit(100)).cast("int")
    from tlhop_library_spark.index.build import SEGMENT_SCHEMA
    from tlhop_library_spark.index.encode_stream import make_stream_encoder

    seg = (
        exploded.select("tid", "doc_id", "dl")
        .repartition(16, bucket_expr, range_expr)
        .sortWithinPartitions(bucket_expr, range_expr, "tid", "doc_id")
        .mapInArrow(
            make_stream_encoder(
                100.0, SEGMENT_SCHEMA, n_buckets=8, range_size=100,
            ),
            schema=SEGMENT_SCHEMA,
        )
    )
    p = plan_of(seg)
    assert p.count("Exchange") == 1


def test_round24_collector_plans(spark, index_dir, corpus_df):
    """Field sort / dismax end in TakeOrderedAndProject (per-partition
    heaps, k rows out); collapse's and keyword-extraction's windows are
    PARTITIONED (hashpartitioning), never a full-input single-partition
    window."""
    from tlhop_library_spark.index import IndexReader
    from tlhop_library_spark.operators import corpus_stats

    r = IndexReader(spark, index_dir)
    docs = corpus_df.withColumn("n_chars", F.length("text"))
    q = "informação dados"
    assert "TakeOrderedAndProject" in plan_of(
        r.search_sorted_by(q, docs, "n_chars", 5)
    )
    assert "TakeOrderedAndProject" in plan_of(r.search_dismax(q, 5, 0.3))
    p_col = plan_of(r.search_collapse(q, docs, "lang", 5))
    assert "hashpartitioning(lang" in p_col
    p_kw = plan_of(corpus_stats.tfidf_keywords(docs, 3))
    assert "hashpartitioning(doc_id" in p_kw


def test_round45_mode_plans(spark, index_dir, corpus_df):
    """Round-4.5 operators keep the 100-TB plan contracts: every
    k-cut is TakeOrderedAndProject, the diversity cap's window is
    PARTITIONED by the key (never a full-input single-partition
    window), the pinned list rides a broadcast join, and the
    pair-count self-join is an equi-join — no CartesianProduct
    anywhere."""
    from tlhop_library_spark.index import IndexReader

    r = IndexReader(spark, index_dir)
    docs = corpus_df.withColumn("n_chars", F.length("text"))
    q = "informação dados"

    p_div = plan_of(r.search_diversified(q, docs, "lang", 2, k=5))
    assert "TakeOrderedAndProject" in p_div
    assert "hashpartitioning(__key" in p_div
    assert "CartesianProduct" not in p_div

    p_pin = plan_of(r.search_pinned(q, docs, [7, 3], k=5))
    assert "TakeOrderedAndProject" in p_pin
    assert "BroadcastHashJoin" in p_pin
    assert "CartesianProduct" not in p_pin

    p_rf = plan_of(
        r.search_rank_feature(q, docs, "n_chars", k=5, pivot=100.0)
    )
    assert "TakeOrderedAndProject" in p_rf
    assert "SortMergeJoin" not in p_rf

    for p in (
        plan_of(r.facet_adjacency_matrix({"a": "dados", "b": "lei"})),
        plan_of(r.facet_histogram(q, docs, "n_chars", 100.0)),
        plan_of(r.facet_terms_stats(q, docs, "lang", "n_chars", 5)),
        plan_of(r.facet_weighted_avg(q, docs, "n_chars", "n_chars")),
        plan_of(r.search_bool_prefix("dados inf", k=5)),
    ):
        assert "CartesianProduct" not in p
        assert "SortMergeJoin" not in p

    # the filters other-bucket anti-join deliberately carries NO
    # broadcast hint: a stopword filter's matching union can be
    # corpus-sized at 10^12 docs, so the scale-safe static plan is a
    # shuffled anti-join and AQE broadcast-converts it at runtime
    # when the union is actually small. Only the cross product is
    # forbidden.
    p_fl = plan_of(r.facet_filters({"a": "dados", "b": "lei"}, docs))
    assert "CartesianProduct" not in p_fl


def test_round5_mode_plans(spark, corpus_df, tmp_path):
    """Round-5 operators keep the 100-TB plan contracts: the PQ-store
    probe prunes parquet partitions, its k-cut is
    TakeOrderedAndProject, the LUT join is a broadcast, and the
    rank_eval pipeline contains no cartesian product and no
    single-partition window over corpus-sized input."""
    import numpy as np

    from tlhop_library_spark.operators.pq import (
        deterministic_codebooks,
    )
    from tlhop_library_spark.operators.pq_store import (
        PQStoreReader,
        write_pq_store,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = deterministic_codebooks(64, 4, 8, seed=7)
    coarse = np.random.default_rng(29).standard_normal((8, 64)).round(6)
    qv = np.random.default_rng(11).standard_normal(64).round(6)
    p = str(tmp_path / "pqs")
    write_pq_store(emb, p, cb, coarse)
    plan = plan_of(PQStoreReader(spark, p).topk(qv, k=5, n_probe=2))
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    from tlhop_library_spark.operators.rank_eval import rank_eval

    rk = spark.createDataFrame(
        [(1, 1, 1)], "query_id long, rank int, doc_id long"
    )
    jd = spark.createDataFrame(
        [(1, 1, 2.0)], "query_id long, doc_id long, grade double"
    )
    p_re = plan_of(rank_eval(rk, jd, 10))
    assert "CartesianProduct" not in p_re
    # the idcg window must partition by query_id, never a global
    # single-partition window
    assert "Window" in p_re
    assert "hashpartitioning(query_id" in p_re
