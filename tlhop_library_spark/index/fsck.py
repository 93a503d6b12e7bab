"""Index integrity verification (fsck) — distributed, read-only.

At 10^12 documents an index is built, appended, compacted, and resumed
across many jobs and machine failures; `verify_index` is the audit
that the on-disk structure still upholds every invariant the query
engine relies on (Lucene analogue: `CheckIndex`). All heavy checks run
as a mapInPandas scan over the segment chunks — one pass, no shuffle
except the tiny per-tid aggregate for the dictionary cross-check; only
summary rows reach the driver.

Checks
------
chunk_decode      every chunk's varint/delta streams decode to exactly
                  n_postings strictly-increasing doc_ids inside
                  [first_doc, last_doc], with 1 ≤ tf ≤ dl
block_metadata    per-block first/last doc ids and counts match the
                  decoded streams (what block-max skipping seeks on)
range_alignment   doc_id // range_size == range_id for every posting
                  (the doc-space alignment appends/merges must keep)
blockmax_bounds   idf-free tf weight of every posting at the CURRENT
                  avgdl ≤ block_max_w · bound_scale — the exact
                  inequality BMW pruning assumes (see append.py)
dictionary_df     per-term df in the dictionary == Σ decoded postings
                  across that term's chunks (stale-by-design after
                  deletes: tombstones don't decrement df)
stats_doclengths  stats.json n_docs / sum_dl == the doc_lengths table
manifest_lineage  per-group postings_written / bytes_written in the
                  manifest == what the group's segment files contain
artifacts         every artifact stats.json implies exists (see
                  ``layout.implied_paths``): stored fields, appended
                  batches, tombstone batches, the metrics table
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark import bm25
from tlhop_library_spark.index import layout
from tlhop_library_spark.index.postings import decode_chunk

__all__ = ["verify_index", "IndexCorruption"]


class IndexCorruption(RuntimeError):
    """Raised by verify_index(raise_on_error=True) when a check fails."""


_CHUNK_SCHEMA = (
    "tid long, segment_group string, n_postings long, n_decoded long, "
    "n_bytes long, ok_decode boolean, ok_blocks boolean, "
    "ok_range boolean, ok_bounds boolean"
)


def _chunk_auditor(range_size: int, avgdl: float, bound_scale: float,
                   positions: bool):
    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "tid", "segment_group", "n_postings", "n_decoded",
                "n_bytes", "ok_decode", "ok_blocks", "ok_range",
                "ok_bounds",
            )}
            # chunk by chunk, not through the batched chunk reader: a
            # corrupt chunk must fail its own checks, never shift the
            # decode of the chunks after it
            for row in pdf.itertuples(index=False):
                n_meta = int(row.n_postings)
                nbytes = (
                    len(row.doc_bytes) + len(row.tf_bytes)
                    + len(row.dl_bytes)
                    + (len(row.pos_bytes) if positions else 0)
                )
                ok_dec = ok_blk = ok_rng = ok_bnd = False
                n_dec = 0
                try:
                    cnts = np.asarray(row.block_counts, dtype=np.int64)
                    docs, tfs, dls = decode_chunk(
                        row.doc_bytes, row.tf_bytes, row.dl_bytes, cnts
                    )
                    n_dec = int(len(docs))
                    ok_dec = (
                        n_dec == n_meta
                        and bool(np.all(np.diff(docs) > 0))
                        and int(docs[0]) == int(row.first_doc)
                        and int(docs[-1]) == int(row.last_doc)
                        and bool(np.all((tfs >= 1) & (tfs <= dls)))
                    )
                    ends = np.cumsum(cnts)
                    starts = ends - cnts
                    ok_blk = (
                        int(cnts.sum()) == n_dec
                        and bool(np.all(cnts > 0))
                        and bool(np.array_equal(
                            docs[starts],
                            np.asarray(row.block_first_docs,
                                       dtype=np.int64)))
                        and bool(np.array_equal(
                            docs[ends - 1],
                            np.asarray(row.block_last_docs,
                                       dtype=np.int64)))
                    )
                    ok_rng = bool(
                        np.all(docs // range_size == int(row.range_id))
                    )
                    w = bm25.tf_weight_np(
                        tfs.astype(np.float64), dls.astype(np.float64),
                        avgdl,
                    )
                    bmax = np.asarray(row.block_max_w, dtype=np.float64)
                    lim = np.repeat(bmax, cnts) * bound_scale + 1e-9
                    ok_bnd = bool(np.all(w <= lim)) and float(
                        row.max_w
                    ) + 1e-9 >= float(bmax.max())
                except Exception:
                    pass
                out["tid"].append(int(row.tid))
                out["segment_group"].append(str(row.segment_group))
                out["n_postings"].append(n_meta)
                out["n_decoded"].append(n_dec)
                out["n_bytes"].append(int(nbytes))
                out["ok_decode"].append(ok_dec)
                out["ok_blocks"].append(ok_blk)
                out["ok_range"].append(ok_rng)
                out["ok_bounds"].append(ok_bnd)
            yield pd.DataFrame(out)

    return audit


def verify_index(
    spark: SparkSession, index_dir: str, raise_on_error: bool = False
) -> DataFrame:
    """Audit an index directory; returns one row per check:
    (check string, bad long, total long, status string)."""
    stats = layout.read_stats(index_dir)
    positions = bool(stats.get("positions"))
    avgdl = float(stats["avgdl"])
    enc = float(stats.get("min_encode_avgdl", avgdl) or avgdl)
    bound_scale = max(1.0, avgdl / enc) if enc > 0 else 1.0

    seg = layout.read_segments(spark, index_dir, positions)
    cols = [
        "tid", "range_id", "n_postings", "first_doc", "last_doc",
        "doc_bytes", "tf_bytes", "dl_bytes", "block_counts",
        "block_first_docs", "block_last_docs", "block_max_w", "max_w",
        "segment_group",
    ] + (["pos_bytes"] if positions else [])
    # the hive partition value: "G" for cold groups, the delta name
    # for appended groups (manifest rows say "group_G" / delta name)
    seg = seg.withColumn(
        "segment_group", F.col("bucket_group").cast("string")
    ).select(*cols)
    audited = seg.mapInPandas(
        _chunk_auditor(
            int(stats["range_size"]), avgdl, bound_scale, positions
        ),
        schema=_CHUNK_SCHEMA,
    )
    audited.cache()
    try:
        rows = []
        agg = audited.agg(
            F.count("*").alias("total"),
            F.sum((~F.col("ok_decode")).cast("long")).alias("bad_dec"),
            F.sum((~F.col("ok_blocks")).cast("long")).alias("bad_blk"),
            F.sum((~F.col("ok_range")).cast("long")).alias("bad_rng"),
            F.sum((~F.col("ok_bounds")).cast("long")).alias("bad_bnd"),
        ).collect()[0]
        for check, bad in [
            ("chunk_decode", agg["bad_dec"]),
            ("block_metadata", agg["bad_blk"]),
            ("range_alignment", agg["bad_rng"]),
            ("blockmax_bounds", agg["bad_bnd"]),
        ]:
            rows.append((check, int(bad or 0), int(agg["total"])))

        # dictionary df ↔ decoded postings (per-tid aggregate, then an
        # outer join so orphans on EITHER side count as bad)
        per_tid = audited.groupBy("tid").agg(
            F.sum("n_decoded").alias("n_dec")
        )
        dic = layout.DICTIONARY.read(spark, index_dir).select("tid", "df")
        joined = per_tid.join(dic, "tid", "full_outer")
        dic_bad = joined.where(
            F.col("n_dec").isNull()
            | F.col("df").isNull()
            | (F.col("n_dec") != F.col("df"))
        ).count()
        dic_total = joined.count()
        rows.append(("dictionary_df", int(dic_bad), int(dic_total)))

        # stats ↔ doc_lengths (base ∪ appended batches)
        dl = layout.read_doc_lengths(spark, index_dir).agg(
            F.count("*").alias("n"), F.sum("dl").alias("s")
        ).collect()[0]
        stats_bad = int(
            not (
                int(dl["n"]) == int(stats["n_docs"])
                and int(dl["s"]) == int(stats["sum_dl"])
            )
        )
        rows.append(("stats_doclengths", stats_bad, 1))

        # manifest lineage ↔ segment contents, per group
        man = layout.MANIFEST.read(spark, index_dir)
        man_g = man.where(F.col("status") == "complete").select(
            F.regexp_replace("segment_group", r"^group_", "").alias("g"),
            "postings_written", "bytes_written",
        )
        seg_g = audited.groupBy("segment_group").agg(
            F.sum("n_postings").alias("p"), F.sum("n_bytes").alias("b")
        )
        mj = man_g.join(
            seg_g, man_g["g"] == seg_g["segment_group"], "full_outer"
        )
        man_bad = mj.where(
            F.col("p").isNull()
            | F.col("postings_written").isNull()
            | (F.col("p") != F.col("postings_written"))
            | (F.col("b") != F.col("bytes_written"))
        ).count()
        rows.append(("manifest_lineage", int(man_bad), int(mj.count())))

        implied = layout.implied_paths(index_dir, stats)
        missing = sum(not os.path.exists(p) for p in implied)
        rows.append(("artifacts", missing, len(implied)))
    finally:
        audited.unpersist()

    out = spark.createDataFrame(
        [
            (c, b, t, "ok" if b == 0 else "CORRUPT")
            for c, b, t in rows
        ],
        "check string, bad long, total long, status string",
    )
    if raise_on_error:
        bad = [c for c, b, _ in rows if b]
        if bad:
            raise IndexCorruption(
                f"index {index_dir} failed checks: {', '.join(bad)}"
            )
    return out
