"""Document deletes: tombstone masking + offline expunge compaction.

Lucene-style two-phase lifecycle, re-expressed for the segment store:

1. ``delete_documents`` is METADATA-ONLY — doc ids land in an
   append-only ``tombstones/`` table (one idempotent batch dir per
   call, same naming discipline as append.py's delta groups). Nothing
   in the posting files changes. Query kernels mask tombstoned docs
   immediately after block decode, BEFORE any top-k selection, so
   deleted docs can never displace live ones; corpus stats (n_docs,
   avgdl, per-term df) stay deliberately STALE until compaction —
   exactly Lucene's visible semantics (live-docs bitmap + unchanged
   df until merge). Block-max bounds were computed over a superset of
   the live postings, so they remain valid upper bounds and BMW
   pruning stays exact.

2. ``expunge_deletes`` is the compaction: an out-of-place rewrite
   (source index stays valid throughout, like merge_index_ranges)
   that decodes every chunk, drops tombstoned postings, and re-encodes
   with FRESHLY recomputed stats — afterwards the index is
   bit-for-bit semantically identical to a cold build of the surviving
   docs (asserted by tests/test_index_delete.py), and the tombstone
   table is gone.

At 10^12-doc scale the tombstone set rides into the scoring kernels
as a sorted int64 array in the task closure — the analogue of
Lucene's per-segment live-docs bitmap. That is the right shape while
deletes are ≲10^8 ids (800 MB broadcast); past that, compact.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark import bm25
from tlhop_library_spark.index.append import read_doc_lengths
from tlhop_library_spark.index.build import (
    DOCLEN_DDL,
    NAMES_DDL,
    POS_SEGMENT_SCHEMA,
    SEGMENT_SCHEMA,
    IndexBuilder,
    _encode_one,
)
from tlhop_library_spark.index.postings import iter_chunks


def delete_documents(
    spark: SparkSession, index_dir: str, doc_ids
) -> dict:
    """Tombstone ``doc_ids`` (an int list or a DataFrame with a
    ``doc_id`` column). Metadata-only; idempotent per batch; returns
    the updated stats dict."""
    if isinstance(doc_ids, DataFrame):
        ids_df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids_df = spark.createDataFrame(
            [(int(d),) for d in sorted(set(doc_ids))], "doc_id long"
        )
    row = ids_df.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    stats_path = os.path.join(index_dir, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    if not row["n"]:
        return stats
    bname = f"del_{row['lo']}_{row['hi']}_{row['n']}"
    if bname in stats.get("tombstone_batches", []):
        return stats
    ids_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "tombstones", bname)
    )
    stats["tombstone_batches"] = stats.get("tombstone_batches", []) + [
        bname
    ]
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=2)
    return stats


def delete_by_query(
    spark: SparkSession, index_dir: str, query_text: str
) -> dict:
    """ES ``_delete_by_query``: tombstone EVERY document matching the
    OR query (any v1 term present), not a top-k page. The matching set
    is computed distributed — the same pruned (bucket, tid) chunk scan
    the facet kernels use, each range emitting its matching doc_ids
    once — and handed to :func:`delete_documents` as a DataFrame, so
    the ids never round-trip through the driver beyond the single
    coalesced tombstone write. Idempotent like every tombstone batch;
    returns the updated stats dict (unchanged when nothing matches)."""
    from tlhop_library_spark.index.query import IndexReader

    reader = IndexReader(spark, index_dir)
    hits = reader._matching_scores(query_text).select("doc_id")
    return delete_documents(spark, index_dir, hits)


def load_tombstones(index_dir: str) -> np.ndarray | None:
    """Driver-side sorted-unique int64 tombstone ids (None if none) —
    read with pyarrow directly: the set must enter task closures as a
    numpy array anyway, and a Spark job per query would be overhead."""
    tdir = os.path.join(index_dir, "tombstones")
    if not os.path.isdir(tdir):
        return None
    import pyarrow.dataset as ds

    arr = (
        ds.dataset(tdir, format="parquet")
        .to_table(columns=["doc_id"])
        .column("doc_id")
        .to_numpy(zero_copy_only=False)
    )
    if arr.size == 0:
        return None
    return np.unique(arr.astype(np.int64))


def expunge_deletes(
    spark: SparkSession, index_dir: str, out_dir: str
) -> dict:
    """Rewrite ``index_dir`` into ``out_dir`` with every tombstoned
    posting physically removed and ALL stats recomputed (n_docs,
    avgdl, df, block maxima) — the result is indistinguishable from a
    cold build of the surviving documents. Out-of-place: the source
    index stays valid throughout."""
    t0 = time.time()
    # the rewrite only overwrites the directories it writes
    # (segments/bucket_group=0, dictionary, ...) — a stale delta group
    # or manifest from a PREVIOUS index at out_dir would survive and
    # corrupt the result, so replace a recognizable old index wholesale
    # and refuse anything else that's non-empty
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        if os.path.exists(os.path.join(out_dir, "stats.json")):
            shutil.rmtree(out_dir)
        else:
            raise ValueError(
                f"expunge target {out_dir!r} is non-empty and not an "
                "index (no stats.json) — refusing to overwrite"
            )
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    positions = bool(stats.get("positions"))
    schema = POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA
    deleted = load_tombstones(index_dir)
    range_size = int(stats["range_size"])

    # surviving doc_lengths → fresh corpus stats (anti-join against the
    # tombstone table — broadcast-sized by the compaction contract)
    dl = read_doc_lengths(spark, index_dir)
    if deleted is not None:
        tomb = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(index_dir, "tombstones"))
            .select("doc_id")
            .distinct()
        )
        dl = dl.join(F.broadcast(tomb), "doc_id", "left_anti")
    os.makedirs(out_dir, exist_ok=True)
    dl.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_lengths"))
    row = spark.read.schema(DOCLEN_DDL).parquet(
        os.path.join(out_dir, "doc_lengths")
    ).agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sum_dl"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]
    n_docs = int(row["n"])
    sum_dl = int(row["sum_dl"] or 0)
    max_doc = int(row["max_doc"] or 0)
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bucket = pdf["bucket"].to_numpy()
            range_id = pdf["range_id"].to_numpy()
            out = []
            for i, (tid, docs, tfs, dls, *pos) in enumerate(
                iter_chunks(pdf, deleted)
            ):
                if len(docs) == 0:
                    continue
                pos_gaps = None
                if pos:
                    # position deltas restart at every posting
                    p = pos[0].astype(np.uint64)
                    pos_gaps = np.empty_like(p)
                    if p.size:
                        pos_gaps[0] = p[0]
                        np.subtract(p[1:], p[:-1], out=pos_gaps[1:])
                        starts = np.concatenate(
                            ([0], np.cumsum(tfs.astype(np.int64))[:-1])
                        )
                        pos_gaps[starts] = p[starts]
                out.append(
                    _encode_one(
                        tid, int(bucket[i]), int(range_id[i]),
                        docs.astype(np.uint64),
                        tfs.astype(np.uint64),
                        dls.astype(np.uint64),
                        bm25.tf_weight_np(
                            tfs.astype(np.uint64), dls.astype(np.uint64),
                            avgdl,
                        ),
                        pos_gaps=pos_gaps,
                    )
                )
            if out:
                yield pd.DataFrame(out)

    seg = (
        spark.read.schema(schema)
        .parquet(os.path.join(index_dir, "segments"))
        .select(*[f.name for f in schema.fields])
        .mapInPandas(rewrite, schema=schema)
        .sortWithinPartitions("tid")
    )
    gdir = os.path.join(out_dir, "segments", "bucket_group=0")
    seg.write.mode("overwrite").parquet(gdir)

    # vocabulary tables: names copied, dictionary re-derived
    shutil.rmtree(os.path.join(out_dir, "term_names"), ignore_errors=True)
    shutil.copytree(
        os.path.join(index_dir, "term_names"),
        os.path.join(out_dir, "term_names"),
    )
    seg_stats = (
        spark.read.schema(schema)
        .parquet(os.path.join(out_dir, "segments"))
        .groupBy("tid", "bucket")
        .agg(F.sum("n_postings").alias("df"), F.sum("sum_tf").alias("cf"))
    )
    names = spark.read.schema(NAMES_DDL).parquet(
        os.path.join(out_dir, "term_names")
    )
    seg_stats.join(names, "tid").write.mode("overwrite").parquet(
        os.path.join(out_dir, "dictionary")
    )

    builder = IndexBuilder(
        spark, out_dir,
        n_buckets=int(stats["n_buckets"]),
        n_ranges=int(stats["n_ranges"]),
        positions=positions,
    )
    builder._append_manifest("expunge_0", gdir)

    new_stats = {
        k: v
        for k, v in stats.items()
        if k not in ("tombstone_batches", "delta_groups", "phases")
    }
    new_stats.update(
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "sum_dl": sum_dl,
            "max_doc": max_doc,
            "min_encode_avgdl": avgdl,
            "n_ranges": max(
                1, int(math.floor(max_doc / range_size)) + 1
            ),
            "expunged_from": index_dir,
            "build_sec": time.time() - t0,
        }
    )
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(new_stats, f, indent=2)
    return new_stats
