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
crash-safe by construction), small tables copied, stats updated.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark.index.build import POS_SEGMENT_SCHEMA, SEGMENT_SCHEMA


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
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    positions = bool(stats.get("positions"))
    schema = POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA

    # drop the bucket_group partition column: the rewrite goes into a
    # single group dir and the kernel's schema is the segment schema exactly
    seg = spark.read.schema(schema).parquet(
        os.path.join(index_dir, "segments")
    ).select(
        *[f.name for f in schema.fields]
    )

    def merge_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # first_doc tiebreak: an appended index can hold TWO chunks of
        # one (term, range) — doc-disjoint batches; byte-concat is only
        # the merged sorted list if they concatenate in doc order
        pdf = pdf.sort_values(["range_id", "first_doc"])
        if len(pdf) == 1:
            row = pdf.iloc[0].to_dict()
            row["range_id"] = int(row["range_id"]) // factor
            return pd.DataFrame([row])
        doc_off = tf_off = dl_off = pos_off = 0
        b_first, b_last, b_counts = [], [], []
        b_doc, b_tf, b_dl, b_pos, b_max = [], [], [], [], []
        doc_parts, tf_parts, dl_parts, pos_parts = [], [], [], []
        for _, r in pdf.iterrows():
            b_doc.extend(int(x) + doc_off for x in r["block_doc_offsets"])
            b_tf.extend(int(x) + tf_off for x in r["block_tf_offsets"])
            b_dl.extend(int(x) + dl_off for x in r["block_dl_offsets"])
            b_first.extend(int(x) for x in r["block_first_docs"])
            b_last.extend(int(x) for x in r["block_last_docs"])
            b_counts.extend(int(x) for x in r["block_counts"])
            b_max.extend(float(x) for x in r["block_max_w"])
            doc_parts.append(bytes(r["doc_bytes"]))
            tf_parts.append(bytes(r["tf_bytes"]))
            dl_parts.append(bytes(r["dl_bytes"]))
            doc_off += len(doc_parts[-1])
            tf_off += len(tf_parts[-1])
            dl_off += len(dl_parts[-1])
            if positions:
                b_pos.extend(int(x) + pos_off for x in r["block_pos_offsets"])
                pos_parts.append(bytes(r["pos_bytes"]))
                pos_off += len(pos_parts[-1])
        first = pdf.iloc[0]
        return pd.DataFrame(
            [
                {
                    "tid": int(first["tid"]),
                    "bucket": int(first["bucket"]),
                    "range_id": int(first["range_id"]) // factor,
                    "n_postings": int(pdf["n_postings"].sum()),
                    "sum_tf": int(pdf["sum_tf"].sum()),
                    "first_doc": int(first["first_doc"]),
                    "last_doc": int(pdf.iloc[-1]["last_doc"]),
                    "doc_bytes": b"".join(doc_parts),
                    "tf_bytes": b"".join(tf_parts),
                    "dl_bytes": b"".join(dl_parts),
                    "block_first_docs": b_first,
                    "block_last_docs": b_last,
                    "block_counts": b_counts,
                    "block_doc_offsets": b_doc,
                    "block_tf_offsets": b_tf,
                    "block_dl_offsets": b_dl,
                    "block_max_w": b_max,
                    "max_w": float(pdf["max_w"].max()),
                    **(
                        {
                            "pos_bytes": b"".join(pos_parts),
                            "block_pos_offsets": b_pos,
                        }
                        if positions
                        else {}
                    ),
                }
            ]
        )

    merged = (
        seg.withColumn(
            "merged_range", F.floor(F.col("range_id") / factor).cast("int")
        )
        .groupBy("tid", "bucket", "merged_range")
        .applyInPandas(
            lambda key, pdf: merge_group(key, pdf.drop(columns=["merged_range"])),
            schema=schema,
        )
        .sortWithinPartitions("tid")
    )

    os.makedirs(out_dir, exist_ok=True)
    merged.write.mode("overwrite").parquet(
        os.path.join(out_dir, "segments", "bucket_group=0")
    )
    for small in (
        "dictionary",
        "doc_lengths",
        "doc_lengths_batches",
        "term_names",
        "manifest",
    ):
        src = os.path.join(index_dir, small)
        if os.path.exists(src):
            dst = os.path.join(out_dir, small)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)

    new_stats = dict(stats)
    new_stats["range_size"] = int(stats["range_size"]) * factor
    new_stats["n_ranges"] = math.ceil(int(stats["n_ranges"]) / factor)
    new_stats["merged_from"] = index_dir
    new_stats["merge_factor"] = factor
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(new_stats, f, indent=2)
    return new_stats
