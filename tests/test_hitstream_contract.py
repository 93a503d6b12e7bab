"""Registry-driven contract for every hit-stream mode.

The case list walks the public methods of ``HitStreamModes``, so a mode
added without an entry here fails ``test_every_mode_has_a_case``. For
each mode, on both the single-index reader and a one-shard federation
of the same index, a zero-match call must carry the matching call's
schema. Only schemas are compared; the two eager modes,
``facet_mad`` (median) and ``facet_auto_date_histogram`` (ladder), are
the only modes that run a job at call time.
"""

from __future__ import annotations

import functools
import inspect

import pytest
from pyspark.sql import functions as F

from tlhop_library_spark.index.query import HitStreamModes

Q = "informação segurança"
NONE = "zzznope"

#: mode name -> call(reader, query, docs); ``query`` is the one text
#: that decides whether anything matches.
CASES = {
    "facet_adjacency_matrix": lambda r, q, d: r.facet_adjacency_matrix(
        {"a": q, "b": q}
    ),
    "facet_auto_date_histogram": lambda r, q, d:
        r.facet_auto_date_histogram(q, d, "warc_ts", max_buckets=5),
    "facet_boxplot": lambda r, q, d: r.facet_boxplot(q, d, "n_chars"),
    "facet_cardinality": lambda r, q, d: r.facet_cardinality(q, d, "lang"),
    "facet_composite": lambda r, q, d: r.facet_composite(
        q, d, "n_chars", size=3
    ),
    "facet_date_histogram": lambda r, q, d: r.facet_date_histogram(
        q, d, "warc_ts", "day"
    ),
    "facet_filters": lambda r, q, d: r.facet_filters({"a": q}, d),
    "facet_histogram": lambda r, q, d: r.facet_histogram(
        q, d, "n_chars", 100.0
    ),
    "facet_mad": lambda r, q, d: r.facet_mad(q, d, "n_chars"),
    "facet_missing": lambda r, q, d: r.facet_missing(q, d, "html"),
    "facet_multi_terms": lambda r, q, d: r.facet_multi_terms(
        q, d, ["lang", "n_chars"]
    ),
    "facet_percentile_ranks": lambda r, q, d: r.facet_percentile_ranks(
        q, d, "n_chars", [100.0, 500.0]
    ),
    "facet_percentiles": lambda r, q, d: r.facet_percentiles(
        q, d, "n_chars", [0.5]
    ),
    "facet_pipeline": lambda r, q, d: r.facet_pipeline(
        q, d, "warc_ts", "day", metric_field="n_chars"
    ),
    "facet_rare_terms": lambda r, q, d: r.facet_rare_terms(q, d, "lang"),
    "facet_stats": lambda r, q, d: r.facet_stats(
        q, d, "n_chars", extended=True
    ),
    "facet_string_stats": lambda r, q, d: r.facet_string_stats(
        q, d, "lang"
    ),
    "facet_t_test": lambda r, q, d: r.facet_t_test(
        q, d, "n_chars", "is_even"
    ),
    "facet_terms_stats": lambda r, q, d: r.facet_terms_stats(
        q, d, "lang", "n_chars"
    ),
    "facet_top_metrics": lambda r, q, d: r.facet_top_metrics(
        q, d, "doc_id", "n_chars", 2
    ),
    "facet_weighted_avg": lambda r, q, d: r.facet_weighted_avg(
        q, d, "n_chars", "req"
    ),
    "search_boosting": lambda r, q, d: r.search_boosting(q, q, k=5),
    "search_decay": lambda r, q, d: r.search_decay(
        q, d, "n_chars", origin=400.0, scale=250.0, k=5
    ),
    "search_diversified": lambda r, q, d: r.search_diversified(
        q, d, "lang", k=5
    ),
    "search_group_topk": lambda r, q, d: r.search_group_topk(
        q, d, "lang", n_groups=2, per_group=2
    ),
    "search_pinned": lambda r, q, d: r.search_pinned(q, d, [1, 2], k=5),
    "search_random": lambda r, q, d: r.search_random(q, k=5),
    "search_rank_feature": lambda r, q, d: r.search_rank_feature(
        q, d, "n_chars", k=5
    ),
    "search_scan": lambda r, q, d: r.search_scan(q),
    "search_terms_set": lambda r, q, d: r.search_terms_set(
        q, d, "req", k=5
    ),
}


def _modes() -> set[str]:
    return {
        n for n, _ in inspect.getmembers(HitStreamModes, inspect.isfunction)
        if not n.startswith("_")
    }


@pytest.fixture(scope="module")
def readers(spark, index_dir):
    """Both readers over the shared session index. Each reader's two
    primitives are memoized per query (their dictionary lookup is a
    Spark job), so a schema check analyses only the mode's own plan
    over the reader's real hit stream."""
    from tlhop_library_spark.index import IndexReader, ShardedIndexReader

    out = {
        "single": IndexReader(spark, index_dir),
        "sharded": ShardedIndexReader(spark, [index_dir]),
    }
    for r in out.values():
        r._matching_scores = functools.lru_cache(None)(r._matching_scores)
        r._counted_matching = functools.lru_cache(None)(r._counted_matching)
    return out


@pytest.fixture(scope="module")
def docs(corpus_df):
    return (
        corpus_df.withColumn("n_chars", F.length("text").cast("long"))
        .withColumn("is_even", F.col("doc_id") % 2 == 0)
        .withColumn("req", F.lit(1))
    )


def test_every_mode_has_a_case():
    assert set(CASES) == _modes()


@pytest.mark.parametrize("mode", sorted(_modes()))
def test_zero_match_schema_is_nonempty_schema(readers, docs, mode):
    call = CASES[mode]
    for name, r in readers.items():
        assert call(r, NONE, docs).schema == call(r, Q, docs).schema, name


@pytest.mark.parametrize("q", [Q, "bace cada"])
def test_matching_scores_single_equals_sharded(readers, q):
    got = {
        name: {
            x["doc_id"]: x["score"]
            for x in r._matching_scores(q).collect()
        }
        for name, r in readers.items()
    }
    assert got["single"], q
    assert got["single"] == got["sharded"]


def test_zero_match_rows(readers, docs):
    """Zero matches give the SQL oracles' rows: one (NULL, 0) MAD row,
    and a NULL pct per distinct percentile_ranks probe."""
    for r in readers.values():
        rows = r.facet_mad(NONE, docs, "n_chars").collect()
        assert [tuple(x) for x in rows] == [(None, 0)]
    rows = readers["single"].facet_percentile_ranks(
        NONE, docs, "n_chars", [500.0, 100.0, 500.0]
    ).collect()
    assert [tuple(x) for x in rows] == [(100.0, None), (500.0, None)]
