"""Incremental index append: add a batch of new documents to an
existing index WITHOUT rebuilding old segments.

Why this is cheap here: term ids are content hashes (tid =
xxhash64(term), build.py), so the "dictionary" needs no global
renumbering pass when the vocabulary grows — a new batch's postings
encode independently and land in a new segment group, and the
vocabulary-sized tables (term_names, dictionary) are re-derived from
the union. ``range_size`` is FROZEN at original-build value so the
doc-space alignment that block skipping and ``merge_index_ranges``
rely on is preserved: new doc ids simply occupy new (higher) range
ids, except for the one boundary range the old build left partially
filled, which may now hold chunks from two groups (the query kernels
handle multiple chunks per (term, range); doc spaces are disjoint).

Exactness across appends: query-time SCORES are always recomputed
from the stored tf/dl streams with the CURRENT corpus stats
(query.py:_range_scorer), so BM25 results after an append are
rank-and-score identical to a full rebuild — asserted by
tests/test_index_append.py. The only stale artifact is the pruning
metadata: ``block_max_w`` bakes encode-time avgdl in, and avgdl moves
when docs are added. The reader inflates every pruning upper bound by
``max(1, avgdl_now / min_encode_avgdl)`` (tf_weight is increasing in
avgdl with supremum ratio avgdl_now/avgdl_encode over dl → the scaled
bound stays a true upper bound), so block-max pruning remains EXACT,
merely infinitesimally less tight, after any number of appends.

Crash safety / resume (same shape as build's group manifest): the
delta group name is a pure function of the batch (doc-id span +
count), segments encode into a staging dir and are atomically renamed
into ``segments/``, every finalize step is an idempotent overwrite,
and corpus stats are recomputed from the doc_lengths union rather
than accumulated arithmetically — re-running a crashed or completed
append is a no-op-or-completion, never a double-count.

Reference analogue: the ingest-new-dump MERGE flow of
/root/reference/tlhop/converters/shodan_dataset_manager.py:86-113
(append-only batches into a partitioned fact table); here the "fact
table" is the posting-list segment store itself.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark.analyzer import tokens_col
from tlhop_library_spark.index.build import DOCLEN_DDL, NAMES_DDL, IndexBuilder


def read_doc_lengths(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, dl) across the base build and every appended batch."""
    read = spark.read.schema(DOCLEN_DDL)
    base = read.parquet(os.path.join(index_dir, "doc_lengths"))
    batches_dir = os.path.join(index_dir, "doc_lengths_batches")
    if os.path.isdir(batches_dir):
        for name in sorted(os.listdir(batches_dir)):
            sub = os.path.join(batches_dir, name)
            if os.path.isdir(sub):
                base = base.unionByName(read.parquet(sub))
    return base


def add_documents(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    """Append ``new_docs`` (doc_id long, text string) to the index at
    ``index_dir`` in place. Returns the updated stats dict.

    Requires an append-only doc space: min(new doc_id) must exceed the
    index's current ``max_doc`` (the reference's batch-ingest contract
    — each dump strictly follows the previous one). Re-running with
    the same batch after a crash resumes; re-running after success is
    a no-op.
    """
    t0 = time.time()
    stats_path = os.path.join(index_dir, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    builder = IndexBuilder(
        spark,
        index_dir,
        n_buckets=int(stats["n_buckets"]),
        n_ranges=int(stats["n_ranges"]),
        n_jobs=int(stats.get("n_jobs", 1)),
        positions=bool(stats.get("positions", False)),
    )
    range_size = int(stats["range_size"])

    stored_fields = list(stats.get("stored_fields") or [])
    if stored_fields:
        missing = [c for c in stored_fields if c not in new_docs.columns]
        if missing:
            raise ValueError(
                f"index stores fields {stored_fields}; append batch is "
                f"missing {missing}"
            )
    src = new_docs
    docs = new_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).where(F.col("text").isNotNull())
    parallelism = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(2 * parallelism)
    with_tokens = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("dl", F.size("tokens"))
    with_tokens = with_tokens.persist()

    row = with_tokens.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]
    n_new, min_new, max_new = row["n"], row["min_doc"], row["max_doc"]
    if n_new == 0:
        with_tokens.unpersist()
        return stats
    gname = f"delta_{min_new}_{max_new}_{n_new}"
    if gname in stats.get("delta_groups", []):
        # this exact batch already fully appended — idempotent no-op
        with_tokens.unpersist()
        return stats
    if min_new <= int(stats["max_doc"]):
        with_tokens.unpersist()
        raise ValueError(
            f"append-only doc space: new min doc_id {min_new} must "
            f"exceed the index's max_doc {stats['max_doc']}"
        )

    # 1. delta doc_lengths batch (idempotent overwrite of its own dir);
    #    this write also materializes the token cache for the encode
    batch_dir = os.path.join(index_dir, "doc_lengths_batches", gname)
    with_tokens.select("doc_id", "dl").write.mode("overwrite").parquet(
        batch_dir
    )
    if stored_fields:
        # stored-fields delta batch, same idempotent-overwrite contract
        src.where(F.col("text").isNotNull()).select(
            F.col("doc_id").cast("long").alias("doc_id"), *stored_fields
        ).write.mode("overwrite").parquet(
            os.path.join(index_dir, "stored_batches", gname)
        )

    # 2. combined corpus stats from the doc_lengths UNION (crash-safe
    #    source of truth — never arithmetic accumulation on stats.json)
    combined = read_doc_lengths(spark, index_dir).agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sum_dl"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]
    n_docs, sum_dl, max_doc = (
        int(combined["n"]),
        int(combined["sum_dl"] or 0),
        int(combined["max_doc"] or 0),
    )
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0

    exploded = builder._exploded(with_tokens)

    # 3. encode the delta postings with the COMBINED avgdl (tightest
    #    valid bounds for the new chunks) into staging, atomic rename in
    completed = builder._completed_groups()
    gdir = os.path.join(builder.segments_path, f"bucket_group={gname}")
    if gname not in completed or not os.path.isdir(gdir):
        staging = os.path.join(index_dir, "segments_staging", gname)
        seg = builder._encode_group_df(exploded, avgdl, range_size)
        seg.write.mode("overwrite").parquet(staging)
        for cached in builder._pending_unpersist:
            cached.unpersist()
        builder._pending_unpersist.clear()
        os.makedirs(builder.segments_path, exist_ok=True)
        if os.path.isdir(gdir):
            shutil.rmtree(gdir)
        os.rename(staging, gdir)

    # 4. term_names: union-distinct rewrite via rename-aside swap
    #    (idempotent; one valid copy exists at every instant), then the
    #    64-bit-hash collision check over the UNION
    names_path = builder.names_path
    new_names = exploded.select("tid", "term").distinct()
    old_names = spark.read.schema(NAMES_DDL).parquet(names_path)
    tmp = names_path + ".tmp"
    old_names.unionByName(new_names).distinct().write.mode(
        "overwrite"
    ).parquet(tmp)
    old = names_path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(names_path, old)
    os.rename(tmp, names_path)
    shutil.rmtree(old, ignore_errors=True)
    names_back = spark.read.schema(NAMES_DDL).parquet(names_path)
    collisions = (
        names_back.groupBy("tid")
        .agg(F.countDistinct("term").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    if collisions:
        raise RuntimeError(
            f"{collisions} xxhash64 term collisions introduced by the "
            "appended batch — rebuild with a 128-bit term id"
        )

    # 5. dictionary re-derived over ALL segments (vocabulary-sized job;
    #    df/cf per term now cover old + new postings)
    seg_stats = (
        spark.read.schema(builder._segment_schema)
        .parquet(builder.segments_path)
        .groupBy("tid", "bucket")
        .agg(F.sum("n_postings").alias("df"), F.sum("sum_tf").alias("cf"))
    )
    names = spark.read.schema(NAMES_DDL).parquet(names_path)
    seg_stats.join(names, "tid").write.mode("overwrite").parquet(
        builder.dict_path
    )

    # 6. manifest lineage row for the delta group
    if gname not in completed:
        builder._append_manifest(gname, gdir)

    # 7. stats.json is the commit point
    stats.update(
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "sum_dl": sum_dl,
            "max_doc": max_doc,
            "min_encode_avgdl": min(
                float(stats.get("min_encode_avgdl", stats["avgdl"])), avgdl
            ),
            "delta_groups": stats.get("delta_groups", []) + [gname],
            "n_ranges": max(
                int(stats["n_ranges"]),
                int(math.floor(max_doc / range_size)) + 1,
            ),
            "last_append_sec": round(time.time() - t0, 3),
        }
    )
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=2)
    with_tokens.unpersist()
    return stats
