"""Low-latency serving path (IndexReader.search_local / search_serve):
driver-side pyarrow chunk scan + the SAME numpy kernel must be
rank-AND-score identical to the distributed applyInPandas path — per
query, across modes, on appended indexes, and under tombstone deletes —
and search_serve must route by estimated posting bytes.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from tlhop_library_spark.index import (
    IndexBuilder,
    IndexReader,
    add_documents,
    delete_documents,
)

QUERIES = [
    ("bace", 10),
    ("bace cada", 10),
    ("informação segurança", 10),
    ("dadu cadi bace tesa", 15),
    ("zzznope", 5),
    ("", 5),
]


def _rows(df):
    return [
        (r["rank"], r["doc_id"], r["score"])
        for r in df.orderBy("rank").collect()
    ]


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def test_local_identical_to_distributed(reader):
    for q, k in QUERIES:
        for mode in ("auto", "bmw", "exhaustive"):
            assert _rows(reader.search_local(q, k, mode)) == _rows(
                reader.search(q, k, mode)
            ), (q, mode)


def test_serve_routes_and_matches(reader):
    for q, k in QUERIES:
        assert _rows(reader.search_serve(q, k)) == _rows(
            reader.search(q, k)
        ), q
    # force the distributed branch: zero byte budget
    assert _rows(
        reader.search_serve("bace cada", 10, max_local_bytes=0)
    ) == _rows(reader.search("bace cada", 10))


def test_bytes_estimate_from_manifest(reader):
    bpp = reader._avg_bytes_per_posting()
    # varint chunks: more than 1, fewer than 64 bytes per posting
    assert 1.0 < bpp < 64.0


def test_batch_local_identical_to_batch_distributed(reader):
    batch = [
        (0, "bace cada", 5),
        (1, "informação", 3),
        (2, "zzznope", 5),
        (3, "dadu cadi bace tesa", 10),
    ]
    key = ["query_id", "rank"]

    def rows(df):
        return [
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in df.orderBy(*key).collect()
        ]

    assert rows(reader.search_many_local(batch)) == rows(
        reader.search_many(batch)
    )


def test_local_path_never_touches_distributed_scan(spark, index_dir):
    """Poison the Spark-side segment DataFrame: the serving path must
    still answer (it reads chunks via pyarrow only), proving no Spark
    segment scan hides inside it."""
    r = IndexReader(spark, index_dir)
    r._segments = None
    assert _rows(r.search_local("bace cada", 5))
    got = r.search_many_local([(0, "bace", 5)]).count()
    assert got == r.search_local("bace", 5).count() > 0


def test_local_on_appended_index(spark, corpus_df, tmp_path):
    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, n_buckets=8, n_ranges=8, n_jobs=2).build(
        corpus_df.where(F.col("doc_id") < 500)
    )
    add_documents(spark, d, corpus_df.where(F.col("doc_id") >= 500))
    r = IndexReader(spark, d)
    for q, k in QUERIES[:4]:
        assert _rows(r.search_local(q, k)) == _rows(r.search(q, k)), q


def test_serve_routing_boundary_shift_on_append(spark, corpus_df, tmp_path):
    """Appends grow Σdf × bytes/posting; with max_local_bytes pinned
    BETWEEN the pre- and post-append estimates the router must flip
    local → distributed across the append, and both routes must stay
    rank-identical on the SAME index (round-2 verdict #8 — the router
    trusts manifest avg-bytes-per-posting, so the flip is exactly the
    untested estimate-crossing case)."""
    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, n_buckets=8, n_ranges=8, n_jobs=2).build(
        corpus_df.where(F.col("doc_id") < 400)
    )
    q = "bace cada"

    def estimate(r):
        info = r.lookup_terms(sorted(set(q.split())))
        return sum(df for (df, _, _) in info.values()) * (
            r._avg_bytes_per_posting()
        )

    def route_of(r, budget):
        calls = []
        orig_local, orig_dist = r.search_local, r.search
        r.search_local = lambda *a, **kw: (
            calls.append("local"), orig_local(*a, **kw)
        )[1]
        r.search = lambda *a, **kw: (
            calls.append("distributed"), orig_dist(*a, **kw)
        )[1]
        try:
            rows = _rows(r.search_serve(q, 10, max_local_bytes=budget))
        finally:
            r.search_local, r.search = orig_local, orig_dist
        assert len(calls) == 1
        return calls[0], rows

    before = IndexReader(spark, d)
    est_before = estimate(before)
    add_documents(spark, d, corpus_df.where(F.col("doc_id") >= 400))
    after = IndexReader(spark, d)
    est_after = estimate(after)
    assert est_after > est_before > 0  # appends really grew the estimate

    boundary = int((est_before + est_after) / 2)
    route_b, rows_b = route_of(before, boundary)
    route_a, rows_a = route_of(after, boundary)
    assert route_b == "local"  # pre-append fits under the boundary
    assert route_a == "distributed"  # post-append crosses it
    # identity must hold on BOTH sides of the flip
    assert rows_b == _rows(before.search(q, 10))
    assert rows_a == _rows(after.search(q, 10))
    # and forcing the other route on the appended index agrees too
    assert rows_a == _rows(after.search_local(q, 10))


def test_local_masks_deletes(spark, index_dir, tmp_path):
    d = str(tmp_path / "del")
    shutil.copytree(index_dir, d)
    full = IndexReader(spark, d)
    dead = [r["doc_id"] for r in full.search("bace", 3).collect()]
    delete_documents(spark, d, sorted(dead))
    r = IndexReader(spark, d)
    got = _rows(r.search_local("bace", 10))
    assert got == _rows(r.search("bace", 10))
    assert not ({doc for _, doc, _ in got} & set(dead))


def test_served_answers_start_no_spark_job(spark, reader, index_dir):
    """Driver-served answers come back as Arrow local relations:
    collecting one starts no Spark job, zero matches included, and a
    zero-match answer has the matching answer's schema."""
    from pyspark.sql.types import _parse_datatype_string

    from tlhop_library_spark.index import ShardedIndexReader

    ranked = _parse_datatype_string("rank int, doc_id long, score double")
    batch = _parse_datatype_string(
        "query_id long, rank int, doc_id long, score double"
    )
    sharded = ShardedIndexReader(spark, [index_dir])
    answers = {
        "serve": (lambda: reader.search_serve("bace cada", 10), ranked),
        "serve_absent": (lambda: reader.search_serve("zzznope", 5), ranked),
        "serve_empty": (lambda: reader.search_serve("", 5), ranked),
        "local": (lambda: reader.search_local("bace cada", 10), ranked),
        "many_local": (
            lambda: reader.search_many_local(
                [(0, "bace cada", 5), (1, "zzznope", 5)]
            ),
            batch,
        ),
        "many_local_absent": (
            lambda: reader.search_many_local([(0, "zzznope", 5)]), batch
        ),
        "sharded_local": (
            lambda: sharded.search_local("bace cada", 10), ranked
        ),
    }
    sc = spark.sparkContext
    n_rows = {}
    try:
        for name, (answer, schema) in answers.items():
            group = f"served-no-job-{name}"
            sc.setJobGroup(group, group)
            df = answer()
            n_rows[name] = len(df.collect())
            assert df.schema == schema, name
            assert sc.statusTracker().getJobIdsForGroup(group) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n_rows["serve"] == n_rows["local"] == n_rows["sharded_local"] > 0
    assert n_rows["serve_absent"] == n_rows["serve_empty"] == 0
    assert n_rows["many_local"] > n_rows["many_local_absent"] == 0
