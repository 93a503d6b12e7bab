"""ES ``match_bool_prefix`` retrieval and the ``histogram`` /
``terms``+``stats`` / ``weighted_avg`` aggregations — matching-set
reconstruction, synonym-group scoring identity, brute-force agg
checks, guards, and sharded federation identity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tlhop_library_spark.analyzer import py_tokens

Q = "informação segurança"


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    from tlhop_library_spark.index.query import IndexReader

    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def docs(corpus_df):
    return corpus_df.withColumn(
        "n_chars", F.length("text").cast("long")
    )


@pytest.fixture(scope="module")
def hits_map(reader):
    m = {
        r["doc_id"]: r["score"]
        for r in reader._matching_scores(Q).collect()
    }
    assert len(m) > 30, "weak fixture: too few matches"
    return m


@pytest.fixture(scope="module")
def doc_tokens(corpus_df):
    rows = corpus_df.where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    ).collect()
    return {r["doc_id"]: py_tokens(r["text"]) for r in rows}


# ---------------------------------------------------------------------
# match_bool_prefix
# ---------------------------------------------------------------------
def test_bool_prefix_matching_set_is_or_union(reader, doc_tokens):
    got = {
        r["doc_id"]
        for r in reader.search_bool_prefix(
            "bace ca", k=10**6, max_expansions=1000
        ).collect()
    }
    want = {
        d
        for d, toks in doc_tokens.items()
        if "bace" in toks or any(t.startswith("ca") for t in toks)
    }
    assert got == want


def test_bool_prefix_scores_like_synonym_groups(reader):
    """The completion group must score EXACTLY like an explicit
    SynonymQuery over the same candidate set."""
    cand = sorted(
        reader.lookup_terms_prefix(["ca"], max_expansions=1000)
    )
    assert len(cand) > 1, "weak fixture: prefix expands to one term"
    anchor, rest = cand[0], cand[1:]
    bp = [
        (r["rank"], r["doc_id"], r["score"])
        for r in reader.search_bool_prefix(
            "bace ca", k=10, max_expansions=1000
        ).collect()
    ]
    syn = [
        (r["rank"], r["doc_id"], r["score"])
        for r in reader.search_synonyms(
            f"bace {anchor}", {anchor: rest}, k=10
        ).collect()
    ]
    assert bp == syn


def test_bool_prefix_single_candidate_is_plain_search(reader):
    # find an accented corpus term that is its own unique expansion
    term = None
    for t in ("informação", "segurança", "tecnologia"):
        if set(reader.lookup_terms_prefix([t], 50)) == {t}:
            term = t
            break
    assert term, "weak fixture: no unique-expansion term found"
    bp = [
        (r["rank"], r["doc_id"], r["score"])
        for r in reader.search_bool_prefix(term, k=10).collect()
    ]
    plain = [
        (r["rank"], r["doc_id"], r["score"])
        for r in reader.search(term, k=10).collect()
    ]
    assert bp == plain


def test_bool_prefix_guards_and_empty(reader):
    with pytest.raises(ValueError):
        reader.search_bool_prefix("ab cade", k=5)  # short exact term
    assert reader.search_bool_prefix("", k=5).count() == 0
    assert (
        reader.search_bool_prefix("zzzznope", k=5).count() == 0
    )  # prefix expands to nothing, no heads


# ---------------------------------------------------------------------
# histogram
# ---------------------------------------------------------------------
def _nchars(docs, ids):
    return [
        r["n_chars"]
        for r in docs.where(F.col("doc_id").isin(list(ids))).collect()
        if r["n_chars"] is not None
    ]


def test_histogram_matches_bruteforce(reader, docs, hits_map):
    iv = 150.0
    got = [
        (r["bucket_key"], r["doc_count"])
        for r in reader.facet_histogram(
            Q, docs, "n_chars", iv
        ).collect()
    ]
    counts: dict = {}
    for v in _nchars(docs, hits_map):
        key = math.floor(float(v) / iv) * iv
        counts[key] = counts.get(key, 0) + 1
    assert got == sorted(counts.items())
    assert sum(c for _, c in got) == len(_nchars(docs, hits_map))


def test_histogram_ignores_nulls_and_guards(reader, docs, hits_map):
    nulled = docs.withColumn(
        "n_chars", F.when(F.col("doc_id") % 2 == 0, F.col("n_chars"))
    )
    got = reader.facet_histogram(Q, nulled, "n_chars", 150.0).collect()
    n_even = len([d for d in hits_map if d % 2 == 0])
    assert sum(r["doc_count"] for r in got) == n_even
    with pytest.raises(ValueError):
        reader.facet_histogram(Q, docs, "n_chars", 0.0)


# ---------------------------------------------------------------------
# terms + stats sub-agg
# ---------------------------------------------------------------------
def test_terms_stats_matches_bruteforce(reader, docs, hits_map):
    got = [
        tuple(r)
        for r in reader.facet_terms_stats(
            Q, docs, "lang", "n_chars", size=4
        ).collect()
    ]
    meta = {
        r["doc_id"]: (r["lang"], r["n_chars"])
        for r in docs.collect()
    }
    buckets: dict = {}
    for d in hits_map:
        lang, v = meta[d]
        if lang is None:
            continue
        b = buckets.setdefault(lang, [0, []])
        b[0] += 1
        if v is not None:
            b[1].append(float(v))
    want = []
    for lang, (dc, vals) in sorted(
        buckets.items(), key=lambda t: (-t[1][0], t[0])
    )[:4]:
        want.append((
            len(want) + 1, lang, dc, len(vals), min(vals), max(vals),
            float(sum(vals)), round(sum(vals) / len(vals), 4),
        ))
    assert got == want


# ---------------------------------------------------------------------
# weighted_avg
# ---------------------------------------------------------------------
def test_weighted_avg_matches_bruteforce(reader, docs, hits_map):
    w = docs.withColumn(
        "w", (F.col("doc_id") % 5 + 1).cast("double")
    )
    row = reader.facet_weighted_avg(Q, w, "n_chars", "w").collect()[0]
    meta = {
        r["doc_id"]: r["n_chars"]
        for r in docs.collect()
        if r["n_chars"] is not None
    }
    num = den = cnt = 0.0
    for d in hits_map:
        if d in meta:
            wt = float(d % 5 + 1)
            num += float(meta[d]) * wt
            den += wt
            cnt += 1
    assert row["n_used"] == cnt
    assert row["weighted_avg"] == round(num / den, 4)
    # weighting must differ from the plain mean for the fixture to bite
    plain = round(
        sum(float(meta[d]) for d in hits_map if d in meta) / cnt, 4
    )
    assert row["weighted_avg"] != plain


# ---------------------------------------------------------------------
# percentiles / missing / rare_terms
# ---------------------------------------------------------------------
def test_percentiles_matches_numpy_linear(reader, docs, hits_map):
    import numpy as np

    row = reader.facet_percentiles(
        Q, docs, "n_chars", [0.25, 0.5, 0.9]
    ).collect()[0]
    vals = np.array(_nchars(docs, hits_map), dtype=float)
    for col, p in (("p25", 25), ("p50", 50), ("p90", 90)):
        assert row[col] == round(
            float(np.percentile(vals, p, method="linear")), 4
        )


def test_percentiles_guard(reader, docs):
    with pytest.raises(ValueError):
        reader.facet_percentiles(Q, docs, "n_chars", [1.5])


def test_missing_counts_null_fields(reader, docs, hits_map):
    nulled = docs.withColumn(
        "opt", F.when(F.col("doc_id") % 4 != 0, F.col("lang"))
    )
    got = reader.facet_missing(Q, nulled, "opt").collect()[0]
    # NULL where doc_id % 4 == 0 OR lang itself is NULL
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    want = sum(
        1 for d in hits_map if d % 4 == 0 or langs[d] is None
    )
    assert got["missing_count"] == want
    assert 0 < want < len(hits_map), "weak fixture"


def test_rare_terms_matches_bruteforce(reader, docs, hits_map):
    got = [
        (r["rank"], r["n_chars"], r["doc_count"])
        for r in reader.facet_rare_terms(
            Q, docs, "n_chars", max_doc_count=2, max_buckets=25
        ).collect()
    ]
    counts: dict = {}
    for v in _nchars(docs, hits_map):
        counts[v] = counts.get(v, 0) + 1
    tail = sorted(
        ((c, k) for k, c in counts.items() if c <= 2)
    )[:25]
    assert got == [
        (i + 1, k, c) for i, (c, k) in enumerate(tail)
    ]
    assert got, "weak fixture: no rare buckets"


# ---------------------------------------------------------------------
# filters aggregation
# ---------------------------------------------------------------------
def test_filters_agg_matches_bruteforce(reader, docs, doc_tokens):
    named = {
        "x": "informação",
        "y": "segurança análise",
        "ghost": "zzzzunseen",
    }
    got = {
        r["key"]: r["doc_count"]
        for r in reader.facet_filters(named, docs).collect()
    }
    sets = {
        n: {
            d
            for d, toks in doc_tokens.items()
            if set(py_tokens(q)) & set(toks)
        }
        for n, q in named.items()
    }
    want = {n: len(s) for n, s in sets.items()}
    want["__other__"] = len(doc_tokens) - len(
        set().union(*sets.values())
    )
    assert got == want
    assert got["ghost"] == 0  # absent filter still emits its bucket
    assert got["__other__"] > 0, "weak fixture: other bucket empty"


def test_filters_agg_without_context_has_no_other(reader):
    got = {
        r["key"]
        for r in reader.facet_filters({"x": "informação"}).collect()
    }
    assert got == {"x"}


# ---------------------------------------------------------------------
# sharded federation identity
# ---------------------------------------------------------------------
def test_sharded_aggs_identical_to_single(
    spark, corpus_df, docs, reader, tmp_path_factory
):
    from tlhop_library_spark.index import ShardedIndexReader
    from tlhop_library_spark.index.build import IndexBuilder

    base = tmp_path_factory.mktemp("hist_shards")
    dirs = []
    for i, (nb, nr) in enumerate([(4, 4), (8, 2)]):
        d = str(base / f"shard{i}")
        part = corpus_df.where(F.col("doc_id") % 2 == i)
        IndexBuilder(
            spark, d, n_buckets=nb, n_ranges=nr, n_jobs=2
        ).build(part)
        dirs.append(d)
    sharded = ShardedIndexReader(spark, dirs)

    wdocs = docs.withColumn(
        "w", (F.col("doc_id") % 5 + 1).cast("double")
    )
    pairs = [
        (
            reader.facet_histogram(Q, docs, "n_chars", 150.0),
            sharded.facet_histogram(Q, docs, "n_chars", 150.0),
        ),
        (
            reader.facet_terms_stats(Q, docs, "lang", "n_chars", 4),
            sharded.facet_terms_stats(Q, docs, "lang", "n_chars", 4),
        ),
        (
            reader.facet_weighted_avg(Q, wdocs, "n_chars", "w"),
            sharded.facet_weighted_avg(Q, wdocs, "n_chars", "w"),
        ),
        (
            reader.facet_filters(
                {"x": "informação", "y": "segurança"}, docs
            ).orderBy("key"),
            sharded.facet_filters(
                {"x": "informação", "y": "segurança"}, docs
            ).orderBy("key"),
        ),
        (
            reader.facet_percentiles(Q, docs, "n_chars", [0.5, 0.9]),
            sharded.facet_percentiles(Q, docs, "n_chars", [0.5, 0.9]),
        ),
        (
            reader.facet_missing(Q, docs, "lang"),
            sharded.facet_missing(Q, docs, "lang"),
        ),
        (
            reader.facet_rare_terms(Q, docs, "n_chars", 2, 25),
            sharded.facet_rare_terms(Q, docs, "n_chars", 2, 25),
        ),
    ]
    for single, fed in pairs:
        assert [tuple(r) for r in fed.collect()] == [
            tuple(r) for r in single.collect()
        ]


def test_percentiles_approx_within_rank_error(reader, docs, hits_map):
    """approx=True (bounded GK sketch, the at-scale path) must land
    within the guaranteed rank error of the exact percentile: the
    returned value is an actual field value whose rank is within
    n/accuracy (+1 interpolation slack) of the target rank."""
    acc = 100
    row = reader.facet_percentiles(
        Q, docs, "n_chars", [0.25, 0.5, 0.9], approx=True,
        accuracy=acc,
    ).collect()[0]
    vals = sorted(float(v) for v in _nchars(docs, hits_map))
    n = len(vals)
    tol = n / acc + 1
    for col, p in (("p25", 0.25), ("p50", 0.5), ("p90", 0.9)):
        got = row[col]
        assert got is not None
        # value must exist in the data (GK returns samples, no
        # interpolation) and sit near the target rank
        assert got in vals
        lo = min(i for i, v in enumerate(vals) if v == got)
        hi = max(i for i, v in enumerate(vals) if v == got)
        target = p * (n - 1)
        assert lo - tol <= target <= hi + tol, (col, got, target)


def test_percentiles_approx_sharded_bounded(
    spark, corpus_df, docs, reader, tmp_path_factory, hits_map
):
    """The GK partials merge across shards: the federated approx
    percentile obeys the same rank-error bound as the single-index
    one (bit-identity is NOT promised — merge order differs)."""
    from tlhop_library_spark.index import ShardedIndexReader
    from tlhop_library_spark.index.build import IndexBuilder

    base = tmp_path_factory.mktemp("pct_shards")
    dirs = []
    for i in range(2):
        d = str(base / f"shard{i}")
        part = corpus_df.where(F.col("doc_id") % 2 == i)
        IndexBuilder(spark, d, n_buckets=4, n_jobs=2).build(part)
        dirs.append(d)
    sharded = ShardedIndexReader(spark, dirs)
    acc = 100
    row = sharded.facet_percentiles(
        Q, docs, "n_chars", [0.5], approx=True, accuracy=acc
    ).collect()[0]
    vals = sorted(float(v) for v in _nchars(docs, hits_map))
    n = len(vals)
    got = row["p50"]
    assert got in vals
    lo = min(i for i, v in enumerate(vals) if v == got)
    hi = max(i for i, v in enumerate(vals) if v == got)
    assert lo - (n / acc + 1) <= 0.5 * (n - 1) <= hi + (n / acc + 1)


def test_sharded_zero_match_schemas_match_nonempty(
    spark, corpus_df, docs, reader, tmp_path_factory
):
    """Zero-match empty results must carry the SAME schema as the
    non-empty path when the caller's field is numeric (round-4
    advice: the empty path hard-coded string keys)."""
    from tlhop_library_spark.index import ShardedIndexReader
    from tlhop_library_spark.index.build import IndexBuilder

    base = tmp_path_factory.mktemp("schema_shards")
    d = str(base / "s0")
    IndexBuilder(spark, d, n_buckets=4, n_jobs=2).build(corpus_df)
    sharded = ShardedIndexReader(spark, [d])
    ndocs = docs.withColumn("n2", (F.col("n_chars") * 2).cast("long"))

    empty_mt = sharded.facet_multi_terms(
        "zzznope", ndocs, ["n_chars", "n2"]
    )
    full_mt = sharded.facet_multi_terms(Q, ndocs, ["n_chars", "n2"])
    assert empty_mt.schema == full_mt.schema
    assert empty_mt.count() == 0

    empty_ts = sharded.facet_terms_stats(
        "zzznope", ndocs, "n_chars", "n2"
    )
    full_ts = sharded.facet_terms_stats(Q, ndocs, "n_chars", "n2")
    assert empty_ts.schema == full_ts.schema
    assert empty_ts.count() == 0


def test_percentile_ranks_matches_numpy(reader, docs, hits_map):
    """Exact inverse percentiles: pct(v) = 100 * |vals <= v| / n."""
    vals = sorted(float(v) for v in _nchars(docs, hits_map))
    probes = [vals[0] - 1, vals[len(vals) // 2], vals[-1] + 1, vals[0] - 1]
    rows = reader.facet_percentile_ranks(
        Q, docs, "n_chars", probes
    ).collect()
    assert [r["value"] for r in rows] == sorted(set(probes))
    for r in rows:
        want = 100.0 * sum(1 for v in vals if v <= r["value"]) / len(vals)
        assert r["pct"] == round(want, 4)
    assert rows[0]["pct"] == 0.0 and rows[-1]["pct"] == 100.0


def test_mad_matches_numpy(reader, docs, hits_map):
    import numpy as np

    vals = np.array(sorted(float(v) for v in _nchars(docs, hits_map)))
    med = float(np.percentile(vals, 50, method="linear"))
    want = round(
        float(np.percentile(np.abs(vals - med), 50, method="linear")),
        4,
    )
    row = reader.facet_mad(Q, docs, "n_chars").collect()[0]
    assert row["mad"] == want
    assert row["n_used"] == len(vals)


def test_percentile_ranks_and_mad_federated(
    spark, corpus_df, docs, reader, tmp_path_factory
):
    from tlhop_library_spark.index import ShardedIndexReader
    from tlhop_library_spark.index.build import IndexBuilder

    base = tmp_path_factory.mktemp("pr_shards")
    dirs = []
    for i in range(2):
        p = str(base / f"s{i}")
        IndexBuilder(spark, p, n_buckets=4, n_jobs=2).build(
            corpus_df.where(F.col("doc_id") % 2 == i)
        )
        dirs.append(p)
    fed = ShardedIndexReader(spark, dirs)
    for single, sharded in (
        (
            reader.facet_percentile_ranks(Q, docs, "n_chars", [300.0, 700.0]),
            fed.facet_percentile_ranks(Q, docs, "n_chars", [300.0, 700.0]),
        ),
        (reader.facet_mad(Q, docs, "n_chars"), fed.facet_mad(Q, docs, "n_chars")),
    ):
        assert [tuple(r) for r in sharded.collect()] == [
            tuple(r) for r in single.collect()
        ]


def test_percentile_ranks_guard(reader, docs):
    from tlhop_library_spark.index.query import (
        percentile_ranks_agg_hits,
    )

    with pytest.raises(ValueError):
        percentile_ranks_agg_hits(
            docs.select("doc_id").limit(1), docs, "n_chars", []
        )


def test_boxplot_matches_numpy(reader, docs, hits_map):
    import numpy as np

    vals = np.array(sorted(float(v) for v in _nchars(docs, hits_map)))
    row = reader.facet_boxplot(Q, docs, "n_chars").collect()[0]
    assert row["min_v"] == round(float(vals.min()), 4)
    assert row["max_v"] == round(float(vals.max()), 4)
    for col, p in (("q1", 25), ("q2", 50), ("q3", 75)):
        assert row[col] == round(
            float(np.percentile(vals, p, method="linear")), 4
        )
    assert row["n_used"] == len(vals)


def test_string_stats_hand_computed(reader, docs, hits_map):
    import math
    from collections import Counter

    texts = [
        r["lang"]
        for r in docs.collect()
        if r["doc_id"] in hits_map and r["lang"] is not None
    ]
    row = reader.facet_string_stats(Q, docs, "lang").collect()[0]
    assert row["cnt"] == len(texts)
    lens = [len(t) for t in texts]
    assert row["min_length"] == min(lens)
    assert row["max_length"] == max(lens)
    assert row["avg_length"] == round(sum(lens) / len(lens), 4)
    chars = Counter("".join(texts))
    tot = sum(chars.values())
    ent = -sum(
        (n / tot) * math.log2(n / tot) for n in chars.values()
    )
    assert row["entropy"] == round(ent, 4)


def test_top_metrics_matches_bruteforce(reader, docs, hits_map):
    meta = {
        r["doc_id"]: float(r["n_chars"])
        for r in docs.collect()
        if r["doc_id"] in hits_map and r["n_chars"] is not None
    }
    want = sorted(meta, key=lambda d: (-d, d))[:3]
    rows = reader.facet_top_metrics(
        Q, docs, "doc_id", "n_chars", size=3
    ).collect()
    assert [r["doc_id"] for r in rows] == want
    assert all(r["metric"] == meta[r["doc_id"]] for r in rows)


def test_t_test_matches_scipy_formula(reader, docs, hits_map):
    """Welch t-statistic recomputed from first principles (sample
    variance, n-1)."""
    import statistics

    a, b = [], []
    for r in docs.collect():
        if r["doc_id"] in hits_map and r["n_chars"] is not None:
            (a if r["doc_id"] % 2 == 0 else b).append(float(r["n_chars"]))
    gdocs = docs.withColumn("is_even", F.col("doc_id") % 2 == 0)
    row = reader.facet_t_test(Q, gdocs, "n_chars", "is_even").collect()[0]
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    va, vb = statistics.variance(a), statistics.variance(b)
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    t = (ma - mb) / (va / len(a) + vb / len(b)) ** 0.5
    assert abs(row["t_stat"] - t) < 5e-4
    assert row["mean_a"] == round(ma, 4)
    assert row["mean_b"] == round(mb, 4)


def test_t_test_stable_on_shifted_values(spark):
    """Values ~1e9 with unit-scale noise: Σx² − (Σx)²/n loses the
    whole spread to rounding, so the statistic must come from
    centered moments to match numpy's Welch t."""
    import numpy as np
    import pandas as pd

    from tlhop_library_spark.index.query import t_test_agg_hits

    rng = np.random.default_rng(7)
    va = 1e9 + rng.normal(0.0, 1.0, 40)
    vb = 1e9 + rng.normal(0.6, 1.5, 40)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(80, dtype=np.int64),
            "v": np.concatenate([va, vb]),
            "g": [True] * 40 + [False] * 40,
        }
    )
    docs = spark.createDataFrame(pdf)
    row = t_test_agg_hits(docs.select("doc_id"), docs, "v", "g").collect()[0]
    t = (va.mean() - vb.mean()) / np.sqrt(
        va.var(ddof=1) / 40 + vb.var(ddof=1) / 40
    )
    assert (row["n_a"], row["n_b"]) == (40, 40)
    assert abs(row["t_stat"] - t) < 5e-4, (row["t_stat"], t)


def test_round5_metric_aggs_federated(
    spark, corpus_df, docs, reader, tmp_path_factory
):
    from tlhop_library_spark.index import ShardedIndexReader
    from tlhop_library_spark.index.build import IndexBuilder

    base = tmp_path_factory.mktemp("r5agg_shards")
    dirs = []
    for i in range(2):
        p = str(base / f"s{i}")
        IndexBuilder(spark, p, n_buckets=4, n_jobs=2).build(
            corpus_df.where(F.col("doc_id") % 2 == i)
        )
        dirs.append(p)
    fed = ShardedIndexReader(spark, dirs)
    gdocs = docs.withColumn("is_even", F.col("doc_id") % 2 == 0)
    pairs = [
        (
            reader.facet_boxplot(Q, docs, "n_chars"),
            fed.facet_boxplot(Q, docs, "n_chars"),
        ),
        (
            reader.facet_string_stats(Q, docs, "lang"),
            fed.facet_string_stats(Q, docs, "lang"),
        ),
        (
            reader.facet_top_metrics(Q, docs, "doc_id", "n_chars", 4),
            fed.facet_top_metrics(Q, docs, "doc_id", "n_chars", 4),
        ),
        (
            reader.facet_t_test(Q, gdocs, "n_chars", "is_even"),
            fed.facet_t_test(Q, gdocs, "n_chars", "is_even"),
        ),
    ]
    for single, sharded in pairs:
        assert [tuple(r) for r in sharded.collect()] == [
            tuple(r) for r in single.collect()
        ]
