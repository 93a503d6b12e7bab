"""Driver-served answers are lazy local frames: ``collect``, ``count``,
``schema`` and ``toArrow`` answer from the driver-held Arrow table
without touching the JVM, and every other DataFrame call sees the same
Arrow local relation that ``createDataFrame(table, schema)`` builds.
Each producer of such an answer, matching and zero-match, must give the
rows, Python types and schema of that JVM relation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

RANKED = ("rank", "doc_id", "score")


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    from tlhop_library_spark.index import IndexReader

    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def pos_reader(spark, corpus_df, tmp_path_factory):
    from tlhop_library_spark.index import IndexBuilder, IndexReader

    d = str(tmp_path_factory.mktemp("local_answer_pos") / "idx")
    IndexBuilder(
        spark, d, n_buckets=4, n_ranges=4, n_jobs=1, positions=True
    ).build(corpus_df)
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def docs(corpus_df):
    return corpus_df.select("doc_id", F.length("text").alias("n_chars"))


@pytest.fixture(scope="module")
def n_chars(docs):
    return {r["doc_id"]: r["n_chars"] for r in docs.collect()}


def _producers(spark, reader, pos_reader, index_dir, corpus_df):
    """name → (zero-arg answer builder, expect rows?)."""
    from tlhop_library_spark.index import ShardedIndexReader
    from tlhop_library_spark.index.query import score_exhaustive

    sharded = ShardedIndexReader(spark, [index_dir])
    out = {}
    for k in (10, 100):
        out[f"serve_k{k}"] = (lambda k=k: reader.search_serve("bace cada", k), True)
        out[f"local_k{k}"] = (lambda k=k: reader.search_local("bace", k), True)
        out[f"phrase_local_k{k}"] = (
            lambda k=k: pos_reader.search_phrase_local("coração ação", k),
            True,
        )
        out[f"proximity_local_k{k}"] = (
            lambda k=k: pos_reader.search_proximity_local(
                "análise tupere", 8, k
            ),
            True,
        )
        out[f"sharded_local_k{k}"] = (
            lambda k=k: sharded.search_local("bace cada", k), True
        )
    out["many_local"] = (
        lambda: reader.search_many_local(
            [(0, "bace cada", 10), (1, "informação segurança", 100),
             (2, "zzznope", 5)]
        ),
        True,
    )
    zero = {
        "serve_absent": lambda: reader.search_serve("zzznope", 10),
        "serve_blank": lambda: reader.search_serve("", 10),
        "local_absent": lambda: reader.search_local("zzznope", 100),
        "phrase_local_absent": (
            lambda: pos_reader.search_phrase_local("ação zzzunseen", 10)
        ),
        "proximity_local_absent": (
            lambda: pos_reader.search_proximity_local("zzznope", 5, 10)
        ),
        "sharded_local_absent": lambda: sharded.search_local("zzznope", 10),
        "many_local_absent": (
            lambda: reader.search_many_local([(0, "zzznope", 100)])
        ),
        "explain_absent": lambda: reader.explain("zzznope", 10),
        "sharded_explain_absent": lambda: sharded.explain("zzznope", 10),
        "exhaustive_blank": lambda: score_exhaustive(corpus_df, "", 10),
        "facet_absent": lambda: reader.facet_counts(
            "zzznope", corpus_df, "lang"
        ),
        "sig_terms_absent": lambda: reader.significant_terms("zzznope"),
    }
    out.update({name: (fn, False) for name, fn in zero.items()})
    return out


def _types(rows):
    return [tuple(type(v) for v in r) for r in rows]


def test_local_answers_match_their_jvm_relation(
    spark, reader, pos_reader, index_dir, corpus_df, docs, n_chars,
    monkeypatch,
):
    from tlhop_library_spark.index.query import _LocalAnswer

    session_cls = type(spark)
    real_create = session_cls.createDataFrame
    creates = []

    def counting_create(self, *args, **kwargs):
        creates.append(1)
        return real_create(self, *args, **kwargs)

    sc = spark.sparkContext
    producers = _producers(spark, reader, pos_reader, index_dir, corpus_df)
    for name, (answer, matching) in producers.items():
        df = answer()
        assert isinstance(df, _LocalAnswer), name
        group = f"local-answer-{name}"
        monkeypatch.setattr(session_cls, "createDataFrame", counting_create)
        sc.setJobGroup(group, group)
        try:
            rows, schema, n = df.collect(), df.schema, df.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            monkeypatch.setattr(session_cls, "createDataFrame", real_create)
        assert creates == [], name
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
        assert bool(rows) == matching, name
        assert n == len(rows), name

        jvm = df.select("*")
        jvm_rows = jvm.collect()
        assert rows == jvm_rows, name
        assert _types(rows) == _types(jvm_rows), name
        assert [r.asDict() for r in rows] == [r.asDict() for r in jvm_rows]
        assert schema == jvm.schema, name

        if set(RANKED) <= set(schema.names):
            # DataFrame operations over the lazy answer see the same rows
            assert df.where("rank <= 3").collect() == [
                r for r in rows if r["rank"] <= 3
            ], name
            by_doc = df.orderBy(F.desc("doc_id"), "rank").collect()
            assert by_doc == sorted(
                rows, key=lambda r: (-r["doc_id"], r["rank"])
            ), name
            joined = sorted(
                tuple(r) for r in df.join(docs, "doc_id")
                .select(*schema.names, "n_chars").collect()
            )
            assert joined == sorted(
                tuple(r) + (n_chars[r["doc_id"]],) for r in rows
            ), name


def test_local_frame_arrow_and_string_fields(spark):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tlhop_library_spark.index.query import _local_frame

    schema = StructType(
        [StructField("facet", StringType()), StructField("n", LongType())]
    )
    df = _local_frame(spark, schema, [["pt", None, "en"], [3, 2, None]])
    jvm = df.select("*")
    assert df.collect() == jvm.collect()
    assert _types(df.collect()) == _types(jvm.collect())
    assert df.toArrow().equals(jvm.toArrow())
    assert df.toArrow().schema == jvm.toArrow().schema
    assert df.count() == 3 and df.columns == ["facet", "n"]
    assert df.where(F.col("n") > 2).collect() == [df.collect()[0]]


def test_failed_relation_build_is_not_masked(spark, monkeypatch):
    """An AttributeError while building the JVM relation surfaces as
    itself, not as DataFrame.__getattr__'s unknown-column error."""
    from tlhop_library_spark.index.query import _RANKED_SCHEMA, _local_frame

    df = _local_frame(spark, _RANKED_SCHEMA)

    def broken(self, *args, **kwargs):
        raise AttributeError("no relation")

    monkeypatch.setattr(type(spark), "createDataFrame", broken)
    with pytest.raises(RuntimeError, match="no relation"):
        df.where("rank = 1")
    assert df.collect() == [] and df.count() == 0


def test_take_head_first_stay_on_the_driver(spark, reader):
    """``take`` slices the held table (``head`` and ``first`` call it):
    the rows equal ``collect()[:n]`` and no JVM relation or Spark job
    is made."""
    sc = spark.sparkContext
    for query in ("bace cada", "zzznope"):
        df = reader.search_serve(query, 10)
        rows = df.collect()
        group = f"local-take-{query}"
        sc.setJobGroup(group, group)
        try:
            for n in (0, 1, 3, 100):
                assert df.take(n) == rows[:n], (query, n)
            assert df.head(2) == rows[:2]
            assert df.head() == (rows[0] if rows else None)
            assert df.first() == (rows[0] if rows else None)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], query
        assert df._built is None, query
