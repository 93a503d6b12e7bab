"""The on-disk index layout, declared once: every artifact with its
fixed schema (where it has one) and whether it holds one sub-directory
per batch. Every module locates artifacts through these declarations,
so a rewrite can carry each artifact it does not change and refuse one
it does not know::

    index_dir/
      stats.json                 corpus stats + build params; the commit point
      doc_lengths/               (doc_id, dl) of the base build
      doc_lengths_batches/<g>/   (doc_id, dl) per appended delta group
      term_names/                (tid, term)
      dictionary/                (tid, bucket, df, cf, term)
      segments/bucket_group=<g>/ segment rows, one partition per group
      segments_staging/<g>/      an append's segments before their rename
      manifest/                  lineage + metrics, one row per group
      metrics/                   build metrics, one row per (group, bucket)
      stored/                    (doc_id, stored fields...) of the base build
      stored_batches/<g>/        stored fields per appended delta group
      tombstones/<b>/            deleted doc ids, one dir per delete batch

A declared schema skips the footer-reading Spark job of schema
inference; ``stored/`` infers, its columns being the user's fields.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DOCLEN_DDL = "doc_id long, dl int"
NAMES_DDL = "tid long, term string"
#: the dictionary: per-(tid, bucket) segment stats joined with the names
DICT_DDL = "tid long, bucket int, df long, cf long, term string"
#: what ``build.append_manifest`` writes, one row per segment group
MANIFEST_DDL = (
    "n_chunks long, n_terms long, postings_written long, "
    "bytes_written long, skew_ratio double, segment_group string, "
    "status string, checkpoint_ts timestamp, input_snapshot string"
)
#: what ``build.append_manifest`` writes, one row per (group, bucket)
METRICS_DDL = (
    "bucket int, n_chunks long, n_terms long, postings_written long, "
    "bytes_written long, skew_ratio double, segment_group string, "
    "checkpoint_ts timestamp"
)
TOMBSTONE_DDL = "doc_id long"

SEGMENT_SCHEMA = StructType(
    [
        StructField("tid", LongType()),
        StructField("bucket", IntegerType()),
        StructField("range_id", IntegerType()),
        StructField("n_postings", LongType()),
        StructField("sum_tf", LongType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
        StructField("doc_bytes", BinaryType()),
        StructField("tf_bytes", BinaryType()),
        StructField("dl_bytes", BinaryType()),
        StructField("block_first_docs", ArrayType(LongType())),
        StructField("block_last_docs", ArrayType(LongType())),
        StructField("block_counts", ArrayType(IntegerType())),
        StructField("block_doc_offsets", ArrayType(IntegerType())),
        StructField("block_tf_offsets", ArrayType(IntegerType())),
        StructField("block_dl_offsets", ArrayType(IntegerType())),
        StructField("block_max_w", ArrayType(DoubleType())),
        StructField("max_w", DoubleType()),
    ]
)

#: positional variant: per-posting in-document token positions, stored as
#: one varint stream per chunk (per posting: tf delta-gapped positions,
#: first absolute) with per-block restart offsets — the position count of
#: posting i IS tf_i, so no extra length stream is needed.
POS_SEGMENT_SCHEMA = StructType(
    SEGMENT_SCHEMA.fields
    + [
        StructField("pos_bytes", BinaryType()),
        StructField("block_pos_offsets", ArrayType(IntegerType())),
    ]
)


def segment_schema(positions: bool) -> StructType:
    return POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA


@dataclass(frozen=True)
class Artifact:
    name: str
    #: fixed schema (DDL string); None → inferred on read
    schema: str | None = None
    #: holds one sub-directory per batch: ``<name>/<batch>``
    batched: bool = False
    #: the per-batch artifact that extends this base table, if any
    batches: Artifact | None = None

    def path(self, index_dir: str, *parts: str) -> str:
        return os.path.join(index_dir, self.name, *parts)

    def exists(self, index_dir: str, *parts: str) -> bool:
        return os.path.exists(self.path(index_dir, *parts))

    def parts(self, index_dir: str) -> list[str]:
        """Batch sub-directory names, sorted (none when absent)."""
        assert self.batched, self.name
        d = self.path(index_dir)
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))
        )

    def read(
        self, spark: SparkSession, index_dir: str, *parts: str,
        schema=None,
    ) -> DataFrame:
        schema = schema or self.schema
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path(index_dir, *parts))


DOC_LENGTHS_BATCHES = Artifact("doc_lengths_batches", DOCLEN_DDL, True)
DOC_LENGTHS = Artifact("doc_lengths", DOCLEN_DDL, batches=DOC_LENGTHS_BATCHES)
TERM_NAMES = Artifact("term_names", NAMES_DDL)
DICTIONARY = Artifact("dictionary", DICT_DDL)
#: partitioned by ``bucket_group``; the schema depends on ``positions``
SEGMENTS = Artifact("segments")
SEGMENTS_STAGING = Artifact("segments_staging", batched=True)
MANIFEST = Artifact("manifest", MANIFEST_DDL)
METRICS = Artifact("metrics", METRICS_DDL)
STORED_BATCHES = Artifact("stored_batches", batched=True)
STORED = Artifact("stored", batches=STORED_BATCHES)
TOMBSTONES = Artifact("tombstones", TOMBSTONE_DDL, True)

ARTIFACTS = (
    DOC_LENGTHS, DOC_LENGTHS_BATCHES, TERM_NAMES, DICTIONARY, SEGMENTS,
    SEGMENTS_STAGING, MANIFEST, METRICS, STORED, STORED_BATCHES, TOMBSTONES,
)
STATS = "stats.json"


def group_path(index_dir: str, group) -> str:
    """One segment group's partition directory."""
    return SEGMENTS.path(index_dir, f"bucket_group={group}")


def read_segments(
    spark: SparkSession, index_dir: str, positions: bool
) -> DataFrame:
    """Every segment group, with ``bucket_group`` discovered from the
    partition directories."""
    return SEGMENTS.read(spark, index_dir, schema=segment_schema(positions))


def read_with_batches(
    spark: SparkSession, index_dir: str, art: Artifact
) -> DataFrame:
    """``art``'s base table unioned with every per-batch part."""
    df = art.read(spark, index_dir)
    for b in art.batches.parts(index_dir):
        df = df.unionByName(art.batches.read(spark, index_dir, b))
    return df


def read_doc_lengths(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, dl) across the base build and every appended batch."""
    return read_with_batches(spark, index_dir, DOC_LENGTHS)


def is_index(index_dir: str) -> bool:
    return os.path.isfile(os.path.join(index_dir, STATS))


def read_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, STATS)) as f:
        return json.load(f)


def write_stats(index_dir: str, stats: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    with open(os.path.join(index_dir, STATS), "w") as f:
        json.dump(stats, f, indent=2)


def undeclared(index_dir: str) -> list[str]:
    """Entries of ``index_dir`` that no declaration names."""
    known = {STATS} | {a.name for a in ARTIFACTS}
    return sorted(set(os.listdir(index_dir)) - known)


def implied_paths(index_dir: str, stats: dict) -> list[str]:
    """Every artifact path ``stats`` implies the index holds. Segment
    groups are checked against the manifest instead: a merged index
    keeps its ``delta_groups`` but has one segment group."""
    groups = stats.get("delta_groups") or []
    paths = [
        a.path(index_dir)
        for a in (DICTIONARY, DOC_LENGTHS, TERM_NAMES, SEGMENTS, MANIFEST,
                  METRICS)
    ]
    paths += [DOC_LENGTHS_BATCHES.path(index_dir, g) for g in groups]
    if stats.get("stored_fields"):
        paths.append(STORED.path(index_dir))
        paths += [STORED_BATCHES.path(index_dir, g) for g in groups]
    paths += [
        TOMBSTONES.path(index_dir, b)
        for b in stats.get("tombstone_batches") or []
    ]
    return paths
