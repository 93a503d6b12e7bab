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

2. ``expunge_deletes`` is the compaction, the out-of-place
   ``merge.rewrite_index`` (source stays valid throughout): it
   re-derives the segments (every chunk decoded, tombstoned postings
   dropped, re-encoded with FRESHLY recomputed stats), the doc lengths
   and stored fields (base ∪ appended batches minus the deleted docs),
   the dictionary, manifest and metrics; drops the tombstones; carries
   the term names. The result is semantically identical to a cold
   build of the surviving docs (asserted by tests/test_index_delete.py).

At 10^12-doc scale the tombstone set rides into the scoring kernels
as a sorted int64 array in the task closure — the analogue of
Lucene's per-segment live-docs bitmap. That is the right shape while
deletes are ≲10^8 ids (800 MB broadcast); past that, compact.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark import bm25
from tlhop_library_spark.index import layout
from tlhop_library_spark.index.build import _encode_one
from tlhop_library_spark.index.merge import rewrite_index
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
    stats = layout.read_stats(index_dir)
    if not row["n"]:
        return stats
    bname = f"del_{row['lo']}_{row['hi']}_{row['n']}"
    if bname in stats.get("tombstone_batches", []):
        return stats
    ids_df.coalesce(1).write.mode("overwrite").parquet(
        layout.TOMBSTONES.path(index_dir, bname)
    )
    stats["tombstone_batches"] = stats.get("tombstone_batches", []) + [
        bname
    ]
    layout.write_stats(index_dir, stats)
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
    if not layout.TOMBSTONES.exists(index_dir):
        return None
    import pyarrow.dataset as ds

    arr = (
        ds.dataset(layout.TOMBSTONES.path(index_dir), format="parquet")
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
    stats = layout.read_stats(index_dir)
    positions = bool(stats.get("positions"))
    schema = layout.segment_schema(positions)
    deleted = load_tombstones(index_dir)
    range_size = int(stats["range_size"])

    # surviving doc lengths → fresh corpus stats
    dl = _drop_deleted(layout.read_doc_lengths(spark, index_dir), deleted)
    row = dl.agg(
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
        layout.read_segments(spark, index_dir, positions)
        .select(*[f.name for f in schema.fields])
        .mapInPandas(rewrite, schema=schema)
        .sortWithinPartitions("tid")
    )
    changes = {
        layout.DOC_LENGTHS: dl,
        layout.DOC_LENGTHS_BATCHES: None,
        layout.STORED_BATCHES: None,
        layout.TOMBSTONES: None,
    }
    if stats.get("stored_fields"):
        changes[layout.STORED] = _drop_deleted(
            layout.read_with_batches(spark, index_dir, layout.STORED),
            deleted,
        )
    new_stats = {
        k: v
        for k, v in stats.items()
        if k not in ("tombstone_batches", "delta_groups", "phases",
                     "build_sec")
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
        }
    )
    return rewrite_index(spark, index_dir, out_dir, seg, changes, new_stats)


def _drop_deleted(df: DataFrame, deleted: np.ndarray | None) -> DataFrame:
    """``df`` without the rows whose ``doc_id`` is tombstoned: the
    sorted id array rides in the task closure, as in the segment
    rewrite, so no second tombstone read is needed."""
    if deleted is None:
        return df
    import pyarrow as pa
    import pyarrow.compute as pc

    dead = pa.array(deleted)

    def live(batches):
        for b in batches:
            yield b.filter(
                pc.invert(pc.is_in(b.column("doc_id"), value_set=dead))
            )

    return df.mapInArrow(live, df.schema)
