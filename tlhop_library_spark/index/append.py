"""Incremental index append: add a batch of new documents to an
existing index WITHOUT rebuilding old segments.

Why this is cheap here: term ids are content hashes (tid =
xxhash64(term), build.py), so the dictionary needs no global
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

import math
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark.index import layout
from tlhop_library_spark.index.build import (
    IndexBuilder,
    append_manifest,
    check_term_collisions,
    write_dictionary,
)


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
    stats = layout.read_stats(index_dir)
    builder = IndexBuilder(
        spark,
        index_dir,
        n_buckets=int(stats["n_buckets"]),
        n_ranges=int(stats["n_ranges"]),
        n_jobs=int(stats.get("n_jobs", 1)),
        positions=bool(stats.get("positions", False)),
        stored_fields=stats.get("stored_fields"),
    )
    range_size = int(stats["range_size"])
    builder._check_stored(new_docs)
    with_tokens = builder._tokenized(new_docs).persist()

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
    batch_dir = layout.DOC_LENGTHS_BATCHES.path(index_dir, gname)
    with_tokens.select("doc_id", "dl").write.mode("overwrite").parquet(
        batch_dir
    )
    builder._write_stored(
        new_docs, layout.STORED_BATCHES.path(index_dir, gname)
    )

    # 2. combined corpus stats from the doc_lengths UNION (crash-safe
    #    source of truth — never arithmetic accumulation on stats.json)
    combined = layout.read_doc_lengths(spark, index_dir).agg(
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
    gdir = layout.group_path(index_dir, gname)
    if gname not in completed or not os.path.isdir(gdir):
        staging = layout.SEGMENTS_STAGING.path(index_dir, gname)
        builder._write_group(exploded, avgdl, range_size, staging)
        os.makedirs(layout.SEGMENTS.path(index_dir), exist_ok=True)
        if os.path.isdir(gdir):
            shutil.rmtree(gdir)
        os.rename(staging, gdir)

    # 4. term_names: union-distinct rewrite via rename-aside swap
    #    (idempotent; one valid copy exists at every instant), then the
    #    64-bit-hash collision check over the UNION
    names_path = layout.TERM_NAMES.path(index_dir)
    new_names = exploded.select("tid", "term").distinct()
    old_names = layout.TERM_NAMES.read(spark, index_dir)
    tmp = names_path + ".tmp"
    old_names.unionByName(new_names).distinct().write.mode(
        "overwrite"
    ).parquet(tmp)
    old = names_path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(names_path, old)
    os.rename(tmp, names_path)
    shutil.rmtree(old, ignore_errors=True)
    check_term_collisions(spark, index_dir)

    # 5. dictionary re-derived over ALL segments (vocabulary-sized job;
    #    df/cf per term now cover old + new postings)
    write_dictionary(spark, index_dir, builder.positions)

    # 6. manifest lineage row for the delta group
    if gname not in completed:
        append_manifest(spark, index_dir, gname, gdir, builder.positions)

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
    layout.write_stats(index_dir, stats)
    with_tokens.unpersist()
    return stats
