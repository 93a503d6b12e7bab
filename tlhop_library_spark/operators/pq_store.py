"""Persisted (and sharded) residual-PQ code store — the IVFADC
serving layout.

``write_pq_store`` residual-encodes a vector table once and lands the
codes as parquet **partitioned by coarse cell** with a per-partition
lineage manifest; ``PQStoreReader`` answers ADC top-k queries reading
only the probed cells' code partitions (real parquet partition
pruning — a query touches ``n_probe/n_cells`` of an ~m-bytes/vector store and
zero float vectors); ``ShardedPQStoreReader`` federates N disjoint
stores the way ``ShardedIndexReader`` federates text shards: each
shard contributes its probed-cell ADC top-k partial, and the global
answer is the rank-k merge of the partials — exact, because a
vector's ADC distance depends only on its own (cell, codes) and the
query, never on which shard holds it.

This is the missing tier between a per-query ``pq_encode`` and the
10^12-scale story: encode once at ingest, append shards as the corpus
grows, query them federated. Shard compatibility is enforced by a
fingerprint of the codebooks + coarse centroids stored in each
shard's meta — mixing stores quantized under different codebooks
would silently produce garbage distances, so it raises instead.

Scale shape: the ONLY per-query work is a scan of the probed
partitions of each shard's code store (pruned at the parquet
partition level), one broadcast LUT join, a partial-aggregated sum
per vector, and a k-row-per-shard ``TakeOrderedAndProject`` — the
merge moves ``k × n_shards`` rows, never the corpus.

Reference basis: the reference library has no vector store; layout
follows the public faiss IVFADC design (Jégou et al., PAMI 2011) and
the segment-manifest pattern of this repo's own text index
(``index/build.py``).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark.operators.pq import (
    ivf_pq_topk_residual,
    pq_encode_residual,
)
from tlhop_library_spark.operators.relational import ranked_topk

__all__ = [
    "write_pq_store",
    "PQStoreReader",
    "ShardedPQStoreReader",
]

_META = "pq_meta.json"
_MANIFEST = "pq_manifest.json"
_CODES = "codes"


def _fingerprint(codebooks: np.ndarray, coarse: np.ndarray) -> str:
    h = hashlib.md5()
    h.update(np.ascontiguousarray(codebooks, dtype=np.float64).tobytes())
    h.update(np.ascontiguousarray(coarse, dtype=np.float64).tobytes())
    return h.hexdigest()


def write_pq_store(
    embeddings: DataFrame,
    path: str,
    codebooks: np.ndarray,
    coarse: np.ndarray,
    vec_col: str = "embedding",
) -> dict:
    """Residual-encode ``embeddings`` and persist the code store.

    Layout under ``path``:

    - ``codes/cell=<c>/*.parquet`` — (vec_id, codes) partitioned by
      coarse cell. The frame is ``repartition("cell")``-ed first so
      each cell's rows co-locate (one writer task per cell per
      shuffle partition) and a probe reads whole partitions.
    - ``pq_meta.json`` — m/k/dsub/n_cells/n_vectors + the codebooks
      and coarse centroids themselves (small: m·k·dsub floats) + the
      compatibility fingerprint.
    - ``pq_manifest.json`` — per-cell lineage: row count and on-disk
      bytes per partition (the skew/health signal — a hot cell shows
      up here before it shows up as a straggler).

    Returns the manifest dict."""
    codebooks = np.asarray(codebooks, dtype=np.float64)
    coarse = np.asarray(coarse, dtype=np.float64)
    m, k, dsub = codebooks.shape
    enc = pq_encode_residual(embeddings, codebooks, coarse, vec_col)
    codes_path = os.path.join(path, _CODES)
    (
        enc.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(codes_path)
    )
    spark = embeddings.sparkSession
    per_cell = {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(codes_path)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cell_bytes: dict[int, int] = {}
    for entry in os.listdir(codes_path):
        if not entry.startswith("cell="):
            continue
        c = int(entry.split("=", 1)[1])
        d = os.path.join(codes_path, entry)
        cell_bytes[c] = sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    n_vectors = sum(per_cell.values())
    counts = sorted(per_cell.values())
    manifest = {
        "n_vectors": n_vectors,
        "n_cells_used": len(per_cell),
        "cells": {
            str(c): {
                "rows": per_cell[c],
                "bytes": cell_bytes.get(c, 0),
            }
            for c in sorted(per_cell)
        },
        "skew_ratio": round(
            (counts[-1] / (n_vectors / len(counts))) if counts else 0.0,
            3,
        ),
    }
    meta = {
        "m": int(m),
        "k": int(k),
        "dsub": int(dsub),
        "dim": int(m * dsub),
        "n_cells": int(coarse.shape[0]),
        "n_vectors": n_vectors,
        "fingerprint": _fingerprint(codebooks, coarse),
        "codebooks": codebooks.tolist(),
        "coarse": coarse.tolist(),
    }
    with open(os.path.join(path, _META), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(path, _MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


class PQStoreReader:
    """Query one persisted code store (see :func:`write_pq_store`)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, _META)) as f:
            self.meta = json.load(f)
        self.codebooks = np.asarray(
            self.meta["codebooks"], dtype=np.float64
        )
        self.coarse = np.asarray(self.meta["coarse"], dtype=np.float64)

    def codes(self) -> DataFrame:
        """The stored (vec_id, cell, codes) frame — ``cell`` is a
        parquet partition column, so a ``cell IN (...)`` filter
        prunes at the scan."""
        return self.spark.read.parquet(
            os.path.join(self.path, _CODES)
        ).select(
            "vec_id", F.col("cell").cast("int").alias("cell"), "codes"
        )

    def topk(self, qvec, k: int = 10, n_probe: int = 8) -> DataFrame:
        """Residual IVFADC top-k over the stored codes — identical
        arithmetic to :func:`operators.pq.ivf_pq_topk_residual` over
        an in-memory encode (pinned by test)."""
        return ivf_pq_topk_residual(
            self.codes(), self.codebooks, self.coarse, qvec,
            k=k, n_probe=n_probe,
        )

    def manifest(self) -> dict:
        with open(os.path.join(self.path, _MANIFEST)) as f:
            return json.load(f)


class ShardedPQStoreReader:
    """Federate N disjoint PQ stores quantized under the SAME
    codebooks/centroids (fingerprint-checked at open).

    ``topk`` computes each shard's probed-cell ADC top-k partial
    (k rows per shard — ``TakeOrderedAndProject``, no shuffle of the
    scored set) and rank-merges the union: exact vs the single-store
    answer because ADC distance is shard-independent."""

    def __init__(self, spark: SparkSession, paths: list[str]):
        if not paths:
            raise ValueError("need at least one shard path")
        self.spark = spark
        self.shards = [PQStoreReader(spark, p) for p in paths]
        fps = {s.meta["fingerprint"] for s in self.shards}
        if len(fps) != 1:
            raise ValueError(
                "shards quantized under different codebooks/centroids: "
                f"{sorted(fps)}"
            )
        self.codebooks = self.shards[0].codebooks
        self.coarse = self.shards[0].coarse

    def topk(self, qvec, k: int = 10, n_probe: int = 8) -> DataFrame:
        parts = [
            s.topk(qvec, k=k, n_probe=n_probe).select(
                "vec_id", "adc_dist"
            )
            for s in self.shards
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return ranked_topk(
            u, [F.asc("adc_dist"), F.asc("vec_id")], k
        ).select("rank", "vec_id", "adc_dist")

    def manifest(self) -> dict:
        """Merged lineage across shards (per-shard manifests remain
        on disk)."""
        cells: dict[str, dict] = {}
        n = 0
        for s in self.shards:
            man = s.manifest()
            n += man["n_vectors"]
            for c, info in man["cells"].items():
                agg = cells.setdefault(c, {"rows": 0, "bytes": 0})
                agg["rows"] += info["rows"]
                agg["bytes"] += info["bytes"]
        return {
            "n_vectors": n,
            "n_shards": len(self.shards),
            "cells": dict(sorted(cells.items(), key=lambda kv: int(kv[0]))),
        }
