"""verify_index (CheckIndex analogue): clean indexes pass every check
in every lifecycle state; planted corruption is detected."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F


def statuses(df):
    return {r["check"]: r["status"] for r in df.collect()}


def test_clean_build_passes(spark, index_dir):
    from tlhop_library_spark.index import verify_index

    st = statuses(verify_index(spark, index_dir))
    assert set(st) == {
        "chunk_decode", "block_metadata", "range_alignment",
        "blockmax_bounds", "dictionary_df", "stats_doclengths",
        "manifest_lineage", "artifacts",
    }
    assert all(v == "ok" for v in st.values()), st


def test_positional_and_appended_pass(spark, corpus_df, tmp_path_factory):
    from tlhop_library_spark.index import (
        add_documents,
        build_index,
        verify_index,
    )

    base = tmp_path_factory.mktemp("fsck")
    pidx = str(base / "pos")
    build_index(
        spark, corpus_df.where(F.col("doc_id") < 500), pidx,
        n_buckets=4, positions=True,
    )
    assert all(
        v == "ok" for v in statuses(verify_index(spark, pidx)).values()
    )
    add_documents(spark, pidx, corpus_df.where(F.col("doc_id") >= 500))
    st = statuses(verify_index(spark, pidx))
    assert all(v == "ok" for v in st.values()), st


def test_tombstones_do_not_fail_fsck(spark, index_dir, tmp_path_factory):
    from tlhop_library_spark.index import (
        IndexReader,
        delete_documents,
        verify_index,
    )

    cp = str(tmp_path_factory.mktemp("fsckdel") / "idx")
    shutil.copytree(index_dir, cp)
    hit = IndexReader(spark, cp).search("bace", k=1).collect()
    if not hit:
        pytest.skip("no hits")
    delete_documents(spark, cp, [hit[0]["doc_id"]])
    st = statuses(verify_index(spark, cp))
    # df stays stale by design (live-docs semantics) — still consistent
    # with the postings on disk, so every check passes
    assert all(v == "ok" for v in st.values()), st


def test_detects_stats_tampering(spark, index_dir, tmp_path_factory):
    from tlhop_library_spark.index import (
        IndexCorruption,
        verify_index,
    )

    cp = str(tmp_path_factory.mktemp("fscktamper") / "idx")
    shutil.copytree(index_dir, cp)
    sp = os.path.join(cp, "stats.json")
    with open(sp) as f:
        st = json.load(f)
    st["sum_dl"] += 7
    with open(sp, "w") as f:
        json.dump(st, f)
    got = statuses(verify_index(spark, cp))
    assert got["stats_doclengths"] == "CORRUPT"
    with pytest.raises(IndexCorruption, match="stats_doclengths"):
        verify_index(spark, cp, raise_on_error=True)


def test_detects_dictionary_tampering(spark, index_dir, tmp_path_factory):
    from tlhop_library_spark.index import verify_index

    cp = str(tmp_path_factory.mktemp("fsckdict") / "idx")
    shutil.copytree(index_dir, cp)
    dpath = os.path.join(cp, "dictionary")
    dic = spark.read.parquet(dpath).cache()
    dic.count()
    tampered = dic.withColumn(
        "df",
        F.when(F.col("tid") == dic.limit(1).collect()[0]["tid"],
               F.col("df") + 1).otherwise(F.col("df")),
    )
    tmp = dpath + ".tmp"
    tampered.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(dpath)
    os.rename(tmp, dpath)
    dic.unpersist()
    got = statuses(verify_index(spark, cp))
    assert got["dictionary_df"] == "CORRUPT"


def test_detects_posting_count_tampering(spark, index_dir,
                                         tmp_path_factory):
    """Inflate one chunk's n_postings: decode, block metadata, and the
    manifest lineage all disagree with the streams."""
    from tlhop_library_spark.index import verify_index

    cp = str(tmp_path_factory.mktemp("fsckseg") / "idx")
    shutil.copytree(index_dir, cp)
    spath = os.path.join(cp, "segments")
    seg = spark.read.parquet(spath).cache()
    seg.count()
    victim = seg.limit(1).collect()[0]
    tampered = seg.withColumn(
        "n_postings",
        F.when(
            (F.col("tid") == victim["tid"])
            & (F.col("range_id") == victim["range_id"]),
            F.col("n_postings") + 1,
        ).otherwise(F.col("n_postings")),
    )
    tmp = spath + ".tmp"
    tampered.write.mode("overwrite").partitionBy("bucket_group").parquet(
        tmp
    )
    shutil.rmtree(spath)
    os.rename(tmp, spath)
    seg.unpersist()
    got = statuses(verify_index(spark, cp))
    assert got["chunk_decode"] == "CORRUPT"
    assert got["manifest_lineage"] == "CORRUPT"


def test_describe_reports_consistent_stats(spark, index_dir, corpus_df):
    """describe() numbers must agree with the corpus ground truth:
    n_terms = distinct tokens, n_postings = Σ df, n_tokens = Σ tf."""
    from pyspark.sql import functions as F

    from tlhop_library_spark.analyzer import tokens_col
    from tlhop_library_spark.index import IndexReader

    d = IndexReader(spark, index_dir).describe()
    tok = corpus_df.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("t")
    )
    row = tok.agg(
        F.count_distinct("t").alias("v"),
        F.count("*").alias("cf"),
    ).collect()[0]
    n_postings = (
        tok.groupBy("doc_id", "t").count().count()
    )
    assert d["n_terms"] == row["v"]
    assert d["n_tokens"] == row["cf"]
    assert d["n_postings"] == n_postings
    assert d["n_docs"] == corpus_df.where(
        F.col("text").isNotNull()
    ).count()
    assert d["n_deleted"] == 0 and d["n_segment_groups"] >= 1
