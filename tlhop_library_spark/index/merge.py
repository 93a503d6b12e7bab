"""Offline index optimize: merge doc-space-adjacent chunks.

The build salts postings across ``n_ranges`` contiguous doc-id ranges
(the head-term skew defence). After the build, a query fans out one
task per touched range; for small-to-medium indexes (or after
time-partitioned incremental builds) that per-range overhead dominates
latency. ``merge_index_ranges`` coarsens the salt by ``factor``:
chunks of the same term in ``factor`` adjacent ranges are concatenated
— valid because ranges partition the doc-id space contiguously and
chunks are doc-id-sorted, so byte-level concatenation in range order
IS the merged sorted posting list. Per-block metadata carries over
untouched except for byte-offset shifts; block-max weights are
unchanged (tf/dl-derived, range-independent), so BMW pruning bounds
stay exact.

This is the reference's OPTIMIZE/compaction shape
(/root/reference/tlhop/converters/shodan_dataset_manager.py:115-146)
applied to the index's own segment files: an offline rewrite into a
NEW index directory (the source index stays valid throughout —
crash-safe by construction) through ``rewrite_index``, the one
rewrite merge and ``delete.expunge_deletes`` share. A merge re-derives
the segments, dictionary, manifest and metrics, and carries everything
else as is: the tombstones (deletes stay deleted, Lucene live-docs
semantics), the doc lengths, the stored fields and the stats, the
latter changed only in the coarser ranges.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark.index import layout
from tlhop_library_spark.index.build import append_manifest, write_dictionary

#: artifacts a rewrite never copies: it re-derives them from its new
#: segments (an append's staging dir is transient and not carried)
_NOT_CARRIED = (
    layout.SEGMENTS, layout.SEGMENTS_STAGING, layout.DICTIONARY,
    layout.MANIFEST, layout.METRICS,
)


def rewrite_index(
    spark: SparkSession, src: str, out: str, segments: DataFrame,
    changes: dict, stats: dict,
) -> dict:
    """Write the index at ``src`` into ``out`` with ``segments`` as its
    one segment group and ``stats`` as its stats. ``changes`` maps an
    artifact to the frame that replaces it (None drops it); the
    dictionary, manifest and metrics are re-derived from the new
    segments; every other artifact is copied as is. An artifact the
    layout does not declare raises, so none is dropped silently.
    ``stats.json`` is written last: it is the commit point."""
    if os.path.abspath(src) == os.path.abspath(out):
        raise ValueError("a rewrite needs a target other than its source")
    unknown = layout.undeclared(src)
    if unknown:
        raise ValueError(
            f"{src!r} holds {unknown}, which the index layout does not "
            "declare — refusing to rewrite it"
        )
    # the writes below only overwrite what they name: a stale group or
    # manifest of an older index at out would survive and corrupt the
    # result, so replace a recognizable old index wholesale and refuse
    # anything else that is non-empty
    if os.path.isdir(out) and os.listdir(out):
        if not layout.is_index(out):
            raise ValueError(
                f"rewrite target {out!r} is non-empty and not an index "
                "— refusing to overwrite"
            )
        shutil.rmtree(out)
    gdir = layout.group_path(out, 0)
    segments.write.parquet(gdir)
    for art in layout.ARTIFACTS:
        if art in changes:
            if changes[art] is not None:
                changes[art].write.parquet(art.path(out))
        elif art not in _NOT_CARRIED and art.exists(src):
            shutil.copytree(art.path(src), art.path(out))
    positions = bool(stats.get("positions"))
    write_dictionary(spark, out, positions)
    append_manifest(spark, out, "group_0", gdir, positions)
    layout.write_stats(out, stats)
    return stats


def merge_index_ranges(
    spark: SparkSession, index_dir: str, out_dir: str, factor: int = 4
) -> dict:
    """Rewrite ``index_dir`` into ``out_dir`` with ranges coarsened by
    ``factor``. Returns the new stats dict. Positional indexes merge
    their position streams the same way (the per-block pos varints of
    adjacent ranges concatenate — position delta chains restart per
    POSTING, so range order preserves every chain)."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    stats = layout.read_stats(index_dir)
    positions = bool(stats.get("positions"))
    schema = layout.segment_schema(positions)

    # drop the bucket_group partition column: the rewrite goes into a
    # single group dir and the kernel's schema is the segment schema exactly
    seg = layout.read_segments(spark, index_dir, positions).select(
        *[f.name for f in schema.fields]
    )

    # one JVM aggregate per (term, bucket, merged range): chunks sorted
    # by (range_id, first_doc) — an appended index can hold TWO chunks
    # of one (term, range), doc-disjoint batches, and byte-concat is
    # only the merged sorted list in doc order — then every stream is
    # concatenated and its block offsets shifted by the bytes of the
    # chunks before it
    streams = ["doc", "tf", "dl"] + (["pos"] if positions else [])
    blocks = ["block_first_docs", "block_last_docs", "block_counts",
              "block_max_w"]
    chunk = F.struct(
        "range_id", "first_doc", *blocks,
        *[c for s in streams for c in (f"{s}_bytes", f"block_{s}_offsets")],
    )
    merged = seg.groupBy(
        "tid", "bucket",
        F.floor(F.col("range_id") / factor).cast("int").alias("merged_range"),
    ).agg(
        F.sum("n_postings").alias("n_postings"),
        F.sum("sum_tf").alias("sum_tf"),
        F.min("first_doc").alias("first_doc"),
        F.max("last_doc").alias("last_doc"),
        F.max("max_w").alias("max_w"),
        F.sort_array(F.collect_list(chunk)).alias("c"),
    ).withColumnRenamed("merged_range", "range_id")
    cols = {b: F.expr(f"flatten(transform(c, x -> x.{b}))") for b in blocks}
    for s in streams:
        before = (f"aggregate(slice(c, 1, i), 0, "
                  f"(a, y) -> a + octet_length(y.{s}_bytes))")
        cols[f"{s}_bytes"] = F.expr(
            f"aggregate(c, cast('' as binary), (a, x) -> concat(a, x.{s}_bytes))"
        )
        cols[f"block_{s}_offsets"] = F.expr(
            f"flatten(transform(c, (x, i) -> transform("
            f"x.block_{s}_offsets, o -> o + {before})))"
        )
    merged = (
        merged.withColumns(cols)
        .select(*[f.name for f in schema.fields])
        .sortWithinPartitions("tid")
    )

    new_stats = dict(stats)
    new_stats["range_size"] = int(stats["range_size"]) * factor
    new_stats["n_ranges"] = math.ceil(int(stats["n_ranges"]) / factor)
    new_stats["merged_from"] = index_dir
    new_stats["merge_factor"] = factor
    return rewrite_index(spark, index_dir, out_dir, merged, {}, new_stats)
