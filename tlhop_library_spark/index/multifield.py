"""Multi-field search: per-field BM25 with query-time boosts, summed.

Lucene's `MultiFieldQueryParser` semantics: every query term is scored
independently per field (that FIELD's df/docCount idf, that field's
length normalization/avgdl), the per-field scores are weighted by
query-time boosts and summed per document:

    score(d) = Σ_f boost_f · Σ_t idf_{f,t} · tfnorm(tf_{f,t,d}, dl_{f,d}, avgdl_f)

Index layout: ONE standard index per field over the SAME doc-id space
(``build_index(spark, docs.select("doc_id", col(field).alias("text")),
dir_f)``) — reusing the whole single-field lifecycle (append, delete,
merge, fsck) per field instead of inventing a composite format.
Because the builder derives ``range_size`` from (max_doc, n_ranges),
fields built over the same corpus with the same ``n_ranges`` are
range-ALIGNED: all of a document's postings, in every field, live in
the same range_id. That makes a per-range kernel complete — each
range group sees every contribution to each of its docs' totals, so
per-range top-k → global top-k is exact (the same two-level merge the
single-field engine uses; only k·n_ranges rows leave the executors).

The kernel unions the fields' (bucket, tid)-pruned chunk scans with a
``field_id`` tag and scores each chunk with ITS field's idf/avgdl/
boost — one groupBy(range_id), no cross-field shuffle of per-doc
partials. Terms share tids across fields (content-hash xxhash64), so
scoring is keyed by (field_id, tid).

Scale notes (100 TB): decode volume = the query terms' postings across
the queried fields only — identical pruning to a single-field search
per field; the extra cost of multi-field is exactly the extra fields'
postings, never a rescan. Per-field tombstones apply at the decode
boundary like everywhere else.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark import bm25
from tlhop_library_spark.analyzer import py_tokens
from tlhop_library_spark.index.layout import read_doc_lengths
from tlhop_library_spark.index.postings import (
    empty_scores,
    iter_chunks,
    sum_by_doc,
    topk_frame,
)
from tlhop_library_spark.index.query import (
    SEGMENT_SCHEMA,
    _RANKED_SCHEMA,
    _SCORE_SCHEMA,
    IndexReader,
    _local_frame,
    _rank,
    _ranges_apply,
)

__all__ = [
    "MultiFieldIndexReader",
    "ShardedMultiFieldIndexReader",
    "oracle_sql_bm25_multifield",
    "oracle_sql_bm25_best_fields",
    "oracle_sql_bm25_cross_fields",
    "oracle_sql_bm25_combined_fields",
]


def _multifield_range_scorer(params: dict[int, tuple], k: int):
    """most_fields kernel — params: field_id → (idf_by_tid, avgdl,
    boost, deleted); per doc, plain sum of every field contribution."""

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts_d, parts_s = [], []
        for _, _, docs_, w in _decode_field_rows(pdf, params):
            parts_d.append(docs_)
            parts_s.append(w)
        if not parts_d:
            return empty_scores()
        uniq, sums, _ = sum_by_doc(
            np.concatenate(parts_d), np.concatenate(parts_s)
        )
        return topk_frame(uniq, sums, k)

    return score_range


def _decode_field_rows(pdf: pd.DataFrame, params: dict[int, tuple]):
    """Shared chunk-decode loop: yields (field_id, tid, docs, weights)
    per chunk, applying the field's idf table, boost and tombstones.
    ``params``: field_id → (idf_by_tid, avgdl, boost, deleted)."""
    for fid, rows in pdf.groupby("field_id", sort=False):
        p = params.get(int(fid))
        if p is None:
            continue
        idf_by_tid, avgdl, boost, deleted = p
        for tid, docs_, tfs_, dls_ in iter_chunks(rows, deleted, idf_by_tid):
            yield int(fid), tid, docs_, boost * idf_by_tid[tid] * (
                bm25.tf_weight_np(tfs_, dls_, avgdl)
            )


def _combinedfields_range_scorer(
    params: dict[int, tuple], idf_by_tid: dict[int, float],
    tid_idx: dict[int, int], avgdl_c: float, k: int,
):
    """Cogrouped kernel for CombinedFieldQuery (simplified BM25F)
    over ONE doc range: ``params`` is field_id → (weight, deleted);
    per (term, doc) the weighted tfs are SUMMED into one combined
    pseudo-frequency, the doc's combined length comes from the
    cogrouped per-range slice of the weighted doc-length table, and
    one BM25 saturation is applied to the combined tf:

        score(d) = Σ_t idf_c(t) · tf̃·(k1+1) / (tf̃ + k1·(1−b+b·dl_c/avgdl_c))

    — Lucene ``CombinedFieldQuery`` semantics ("BM25F without
    per-field b", SIGIR'20), NOT a sum of per-field scores: a match
    spread across fields saturates ONCE, which is the property the
    per-field modes (most/best/cross) lack."""
    nt = len(tid_idx) or 1

    def score_range(seg_pdf: pd.DataFrame, dl_pdf: pd.DataFrame):
        parts_k, parts_s = [], []
        for fid, rows in seg_pdf.groupby("field_id", sort=False):
            p = params.get(int(fid))
            if p is None:
                continue
            weight, deleted = p
            for tid, docs_, tfs_, _ in iter_chunks(rows, deleted, tid_idx):
                parts_k.append(docs_.astype(np.int64) * nt + tid_idx[tid])
                parts_s.append(weight * tfs_.astype(np.float64))
        if not parts_k or not len(dl_pdf):
            return empty_scores()
        uk, tfc, _ = sum_by_doc(
            np.concatenate(parts_k), np.concatenate(parts_s)
        )
        # combined doc length lookup for this range's docs
        dl_docs = dl_pdf["doc_id"].to_numpy(np.int64)
        dl_vals = dl_pdf["dl_c"].to_numpy(np.float64)
        o = np.argsort(dl_docs)
        dl_docs, dl_vals = dl_docs[o], dl_vals[o]
        docs_of_uk = uk // nt
        pos = np.searchsorted(dl_docs, docs_of_uk)
        dlc = dl_vals[np.clip(pos, 0, len(dl_docs) - 1)]
        idf_arr = np.empty(len(uk))
        inv_tids = {j: t for t, j in tid_idx.items()}
        for j in range(nt):
            m = (uk % nt) == j
            if m.any():
                idf_arr[m] = idf_by_tid[inv_tids[j]]
        w = idf_arr * tfc * (bm25.K1 + 1) / (
            tfc + bm25.K1 * (1 - bm25.B + bm25.B * dlc / avgdl_c)
        )
        udocs, total, _ = sum_by_doc(docs_of_uk, w)
        return topk_frame(udocs, total, k)

    return score_range


def _dismax_groups(keys: "np.ndarray", vals: "np.ndarray",
                   tie_breaker: float):
    """Per unique key: max + tie_breaker · (sum − max). Returns
    (unique_keys, dismaxed_values)."""
    uniq, inv = np.unique(keys, return_inverse=True)
    mx = np.full(len(uniq), -np.inf)
    np.maximum.at(mx, inv, vals)
    if tie_breaker == 0.0:
        return uniq, mx
    sm = np.zeros(len(uniq))
    np.add.at(sm, inv, vals)
    return uniq, mx + tie_breaker * (sm - mx)


def _bestfields_range_scorer(params: dict[int, tuple], k: int,
                             tie_breaker: float):
    """applyInPandas kernel for best_fields over ONE doc range:
    aggregate per (field, doc) first (a field's full query score for
    the doc), then dismax across fields per doc. Composite key
    doc·NF+field keeps both passes as flat ufunc scatters."""
    nf = max(params) + 1 if params else 1

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts_k, parts_s = [], []
        for fid, _, docs_, w in _decode_field_rows(pdf, params):
            parts_k.append(docs_.astype(np.int64) * nf + fid)
            parts_s.append(w)
        if not parts_k:
            return empty_scores()
        uk, fsum, _ = sum_by_doc(
            np.concatenate(parts_k), np.concatenate(parts_s)
        )
        return topk_frame(*_dismax_groups(uk // nf, fsum, tie_breaker), k)

    return score_range


def _crossfields_range_scorer(params: dict[int, tuple],
                              tid_idx: dict[int, int], k: int,
                              tie_breaker: float):
    """applyInPandas kernel for cross_fields over ONE doc range:
    per (term, doc) dismax across fields (``params`` carries the
    BLENDED idf table, identical for every field), then sum per doc.
    Chunks are doc-disjoint within a field, so each (term, doc,
    field) weight arrives exactly once."""
    nt = len(tid_idx) or 1

    def score_range(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts_k, parts_s = [], []
        for _, tid, docs_, w in _decode_field_rows(pdf, params):
            j = tid_idx.get(tid)
            if j is None:
                continue
            parts_k.append(docs_.astype(np.int64) * nt + j)
            parts_s.append(w)
        if not parts_k:
            return empty_scores()
        uk, v = _dismax_groups(
            np.concatenate(parts_k), np.concatenate(parts_s), tie_breaker
        )
        udocs, total, _ = sum_by_doc(uk // nt, v)
        return topk_frame(udocs, total, k)

    return score_range


class MultiFieldIndexReader:
    """Reader over one index per field; see module docstring."""

    def __init__(
        self, spark: SparkSession, field_dirs: dict[str, str],
        preload_dictionary: int | None = 2_000_000,
    ):
        if not field_dirs:
            raise ValueError("need at least one field index")
        self.spark = spark
        self.readers = {
            f: IndexReader(spark, d, preload_dictionary)
            for f, d in field_dirs.items()
        }
        rs = list(self.readers.values())
        r0 = rs[0].stats
        for r in rs[1:]:
            for key in ("analyzer", "k1", "b"):
                if r.stats.get(key) != r0.get(key):
                    raise ValueError(f"field indexes disagree on {key!r}")
            if r.stats["range_size"] != r0["range_size"]:
                raise ValueError(
                    "field indexes are not range-aligned "
                    f"({r.stats['range_size']} vs {r0['range_size']}); "
                    "build every field over the same corpus with the "
                    "same n_ranges"
                )

    def _gather(
        self, terms: list[str], boosts: dict[str, float],
    ) -> tuple["DataFrame | None", dict[int, tuple]]:
        """Shared scan assembly for every multi-field mode: the
        (bucket, tid)-pruned chunk union tagged with ``field_id``,
        plus per-field lookup state ``field_id → (reader, info,
        boost)`` where ``info`` is term → (df, bucket, tid)."""
        segs = []
        fields: dict[int, tuple] = {}
        for i, (f, r) in enumerate(sorted(self.readers.items())):
            boost = float(boosts.get(f, 1.0))
            if boost == 0.0:
                continue
            info = r.lookup_terms(terms)
            if not info:
                continue
            fields[i] = (r, info, boost)
            buckets = sorted({b for _, b, _ in info.values()})
            tids = sorted({t for _, _, t in info.values()})
            segs.append(
                r._segments.where(
                    F.col("bucket").isin(buckets)
                    & F.col("tid").isin(tids)
                )
                .select(*[fld.name for fld in SEGMENT_SCHEMA.fields])
                .withColumn("field_id", F.lit(i))
            )
        if not segs:
            return None, fields
        return reduce(DataFrame.unionByName, segs), fields


    def _empty(self) -> DataFrame:
        return _local_frame(self.spark, _RANKED_SCHEMA)

    def search(
        self, query_text: str, k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Weighted-sum multi-field BM25 top-k (ES ``multi_match``
        type ``most_fields``).

        ``boosts``: field → query-time weight (default 1.0 each;
        fields absent from the dict get 1.0, fields with boost 0 are
        skipped entirely — their chunks are never scanned)."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        union, fields = self._gather(terms, boosts or {})
        if union is None:
            return self._empty()
        params: dict[int, tuple] = {}
        for i, (r, info, boost) in fields.items():
            n_docs = r.stats["n_docs"]
            idf_by_tid = {
                tid: bm25.idf(n_docs, df)
                for (df, _, tid) in info.values()
            }
            params[i] = (
                idf_by_tid, float(r.stats["avgdl"]), boost, r._deleted,
            )
        return _rank(
            _ranges_apply(union, _multifield_range_scorer(params, k)), k
        )

    def search_best_fields(
        self, query_text: str, k: int = 10,
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """ES ``multi_match`` type ``best_fields`` (Lucene
        DisjunctionMaxQuery over per-FIELD query scores): per doc,

            score = max_f S_f + tie_breaker · (Σ_f S_f − max_f S_f)

        where ``S_f`` is the field's full boost-weighted BM25 query
        score. ``tie_breaker=1.0`` degenerates to :meth:`search`
        (most_fields sum); ``0.0`` is the winning field alone.
        Same per-range completeness argument as :meth:`search` —
        range-aligned fields make each range group self-contained."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        union, fields = self._gather(terms, boosts or {})
        if union is None:
            return self._empty()
        params: dict[int, tuple] = {}
        for i, (r, info, boost) in fields.items():
            n_docs = r.stats["n_docs"]
            idf_by_tid = {
                tid: bm25.idf(n_docs, df)
                for (df, _, tid) in info.values()
            }
            params[i] = (
                idf_by_tid, float(r.stats["avgdl"]), boost, r._deleted,
            )
        scorer = _bestfields_range_scorer(params, k, float(tie_breaker))
        return _rank(_ranges_apply(union, scorer), k)

    def _combined_dl(
        self, weights: dict[str, float]
    ) -> tuple[DataFrame, float, int]:
        """(weighted combined doc-length table with range_id, exact
        avgdl_c, N) for a weight-set — the BM25F "norms file". Cached
        per weight-set on the reader: at scale this is materialized
        once per weight configuration, exactly like Lucene stores one
        norm per (field, doc) and CombinedFieldQuery merges them at
        read time. The table is (doc_id, dl_c, range_id) — one narrow
        groupBy over the per-field doc_lengths (base ∪ appended
        batches)."""
        key = tuple(sorted(
            (f, float(weights.get(f, 1.0))) for f in self.readers
        ))
        cache = getattr(self, "_dlc_cache", None)
        if cache is None:
            cache = self._dlc_cache = {}
        if key in cache:
            return cache[key]
        rs = sorted(self.readers.items())
        range_size = int(rs[0][1].stats["range_size"])
        parts = []
        for f, r in rs:
            w = float(weights.get(f, 1.0))
            if w == 0.0:
                continue
            dl = read_doc_lengths(self.spark, r.index_dir)
            parts.append(
                dl.select(
                    F.col("doc_id").cast("long").alias("doc_id"),
                    (F.col("dl").cast("double") * w).alias("wdl"),
                )
            )
        dlc = (
            reduce(DataFrame.unionByName, parts)
            .groupBy("doc_id")
            .agg(F.sum("wdl").alias("dl_c"))
            .withColumn(
                "range_id",
                F.floor(F.col("doc_id") / range_size).cast("int"),
            )
        )
        row = dlc.agg(
            F.sum("dl_c").alias("s"), F.count("*").alias("n")
        ).collect()[0]
        n = int(row["n"])
        avgdl_c = float(row["s"]) / n if n else 1.0
        dlc = dlc.localCheckpoint(eager=False)
        cache[key] = (dlc, avgdl_c, n)
        return cache[key]

    def search_combined_fields(
        self, query_text: str, k: int = 10,
        weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """Lucene ``CombinedFieldQuery`` — simplified BM25F (Robertson
        & Zaragoza's model with shared k1/b, per SIGIR'20 "BM25F as
        simple as possible"): fields are merged into ONE pseudo-field
        before saturation,

            tf~(t,d) = Σ_f w_f · tf_{f,t,d}
            dl_c(d)  = Σ_f w_f · dl_f(d),  avgdl_c = Σ_d dl_c / N
            df_c(t)  = max_f df_f(t)       (Lucene's pseudo TermStats)
            score(d) = Σ_t idf(df_c) · tf~·(k1+1)
                               / (tf~ + k1·(1−b+b·dl_c(d)/avgdl_c))

        so a term spread across fields saturates ONCE — the BM25F
        property none of the per-field modes (most/best/cross) have.
        With one field at weight 1 this degenerates to plain BM25
        (pinned by tests).

        Scale shape: the (bucket, tid)-pruned per-field chunk union is
        COGROUPED by range_id with the combined doc-length table
        (:meth:`_combined_dl` — ≤ range_size rows per group), so each
        range kernel has every posting AND every norm it needs and
        per-range top-k → global top-k stays exact; only k rows per
        range leave an executor. Norms-table construction is one
        narrow groupBy, cached per weight-set."""
        weights = weights or {}
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        union, fields = self._gather(terms, weights)
        if union is None:
            return self._empty()
        df_c: dict[int, int] = {}
        n_c = 0
        for _, (r, info, _) in fields.items():
            n_c = max(n_c, int(r.stats["n_docs"]))
            for df, _, tid in info.values():
                df_c[tid] = max(df_c.get(tid, 0), int(df))
        idf_by_tid = {
            tid: bm25.idf(n_c, df) for tid, df in df_c.items()
        }
        tid_idx = {tid: j for j, tid in enumerate(sorted(idf_by_tid))}
        params = {
            i: (boost, r._deleted)
            for i, (r, info, boost) in fields.items()
        }
        dlc, avgdl_c, _ = self._combined_dl(weights)
        scorer = _combinedfields_range_scorer(
            params, idf_by_tid, tid_idx, avgdl_c, k
        )
        local = (
            union.groupBy("range_id")
            .cogroup(dlc.groupBy("range_id"))
            .applyInPandas(
                lambda left, right: scorer(left, right),
                schema=_SCORE_SCHEMA,
            )
        )
        return _rank(local, k)

    def search_cross_fields(
        self, query_text: str, k: int = 10,
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """ES ``multi_match`` type ``cross_fields`` (Lucene
        BlendedTermQuery): term-centric — each term's document
        frequency is BLENDED across fields (df = max over fields, on
        the max field docCount), so a term that is rare overall but
        common in one narrow field isn't over-rewarded there; per
        (term, doc) the per-field weights are dis-maxed

            v(t, d) = max_f w_{f,t,d} + tie_breaker · (Σ_f w − max_f w)

        with ``w_{f,t,d} = boost_f · idf_blend(t) · tfnorm_f(tf, dl)``
        (the FIELD's length normalization, the BLENDED idf), and the
        doc score is ``Σ_t v(t, d)``. Fields over identical text with
        unit boosts degenerate to single-field BM25. Terms share
        content-hash tids across fields, so blending is keyed by tid
        with no extra lookup."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        union, fields = self._gather(terms, boosts or {})
        if union is None:
            return self._empty()
        # blended per-term stats: df = max_f df_f, n = max_f n_docs_f
        df_blend: dict[int, int] = {}
        n_blend = 0
        for _, (r, info, _) in fields.items():
            n_blend = max(n_blend, int(r.stats["n_docs"]))
            for df, _, tid in info.values():
                df_blend[tid] = max(df_blend.get(tid, 0), int(df))
        idf_blend = {
            tid: bm25.idf(n_blend, df) for tid, df in df_blend.items()
        }
        tid_idx = {tid: j for j, tid in enumerate(sorted(idf_blend))}
        params: dict[int, tuple] = {}
        for i, (r, info, boost) in fields.items():
            params[i] = (
                idf_blend, float(r.stats["avgdl"]), boost, r._deleted,
            )
        scorer = _crossfields_range_scorer(
            params, tid_idx, k, float(tie_breaker)
        )
        return _rank(_ranges_apply(union, scorer), k)


class ShardedMultiFieldIndexReader:
    """Federated multi-field search: one :class:`MultiFieldIndexReader`
    per shard (each shard owns a disjoint doc-id space and carries the
    SAME field set), rank- and score-identical to a single
    MultiFieldIndexReader whose field indexes were built over the
    union of the shards' corpora.

    Identity argument (the single-field federation's, per field —
    index/sharded.py): scoring depends on corpus-global statistics
    only through per-FIELD (n_docs, avgdl, df_t). Those are summed
    across shards here (Σ n, Σ sum_dl, Σ df — tiny driver-side
    stats.json reads + one dictionary probe per shard per field) and
    pushed into the SAME per-range kernels; because every doc lives
    wholly in one shard, each shard's per-range groups still see every
    contribution to their docs' totals in every field and every mode
    (most_fields sum, best_fields per-field dismax, cross_fields
    per-term dismax with df blended over the GLOBAL per-field dfs).
    Per-shard per-range winners (≤ k each) union into one global
    ``ranked_topk`` — only k·n_ranges·n_shards rows leave the
    executors, no cross-shard shuffle."""

    def __init__(
        self, spark: SparkSession,
        shard_field_dirs: list[dict[str, str]],
        preload_dictionary: int | None = 2_000_000,
    ):
        if not shard_field_dirs:
            raise ValueError("need at least one shard")
        self.spark = spark
        self.shards = [
            MultiFieldIndexReader(spark, d, preload_dictionary)
            for d in shard_field_dirs
        ]
        names0 = sorted(self.shards[0].readers)
        for sh in self.shards[1:]:
            if sorted(sh.readers) != names0:
                raise ValueError(
                    "shards disagree on the field set: "
                    f"{sorted(sh.readers)} vs {names0}"
                )
        #: field_id (the _gather enumerate index) → field name
        self.field_names = names0
        self.n_of: dict[str, int] = {}
        self.avgdl_of: dict[str, float] = {}
        for f in names0:
            n = sum(sh.readers[f].stats["n_docs"] for sh in self.shards)
            sdl = sum(
                sh.readers[f].stats["sum_dl"] for sh in self.shards
            )
            self.n_of[f] = n
            self.avgdl_of[f] = sdl / n if n else 0.0

    def _empty(self) -> DataFrame:
        return _local_frame(self.spark, _RANKED_SCHEMA)

    def _resolve(self, terms: list[str], boosts: dict[str, float]):
        """Per-shard gathers plus the federation-global per-(field_id,
        term) df (Σ across shards)."""
        per_shard = []
        gdf: dict[tuple[int, str], int] = {}
        for sh in self.shards:
            union, fields = sh._gather(terms, boosts)
            per_shard.append((union, fields))
            for fid, (_, info, _) in fields.items():
                for t, (df, _, _) in info.items():
                    gdf[(fid, t)] = gdf.get((fid, t), 0) + int(df)
        return per_shard, gdf

    def _run(self, per_shard, make_scorer, k: int) -> DataFrame:
        parts = []
        for union, fields in per_shard:
            if union is None:
                continue
            scorer = make_scorer(fields)
            parts.append(_ranges_apply(union, scorer))
        if not parts:
            return self._empty()
        return _rank(reduce(DataFrame.unionByName, parts), k)

    def _global_params(self, fields, gdf) -> dict[int, tuple]:
        """Per-shard kernel params with federation-global idf/avgdl
        (most_fields and best_fields share this shape)."""
        params: dict[int, tuple] = {}
        for fid, (r, info, boost) in fields.items():
            fname = self.field_names[fid]
            n = self.n_of[fname]
            idf_by_tid = {
                tid: bm25.idf(n, gdf[(fid, t)])
                for t, (_, _, tid) in info.items()
            }
            params[fid] = (
                idf_by_tid, self.avgdl_of[fname], boost, r._deleted,
            )
        return params

    def search(
        self, query_text: str, k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Federated most_fields ≡ MultiFieldIndexReader.search on
        union-built field indexes."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        per_shard, gdf = self._resolve(terms, boosts or {})
        return self._run(
            per_shard,
            lambda fields: _multifield_range_scorer(
                self._global_params(fields, gdf), k
            ),
            k,
        )

    def search_best_fields(
        self, query_text: str, k: int = 10,
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """Federated best_fields — per-field dismax is per-doc, docs
        live wholly in one shard, so per-shard kernels stay exact."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        per_shard, gdf = self._resolve(terms, boosts or {})
        return self._run(
            per_shard,
            lambda fields: _bestfields_range_scorer(
                self._global_params(fields, gdf), k, float(tie_breaker)
            ),
            k,
        )

    def search_cross_fields(
        self, query_text: str, k: int = 10,
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """Federated cross_fields — the blend (df = max over fields,
        docCount = max field n) is taken over the GLOBAL per-field
        stats, so every shard scores with the identical blended idf
        table (content-hash tids agree across shards and fields)."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return self._empty()
        per_shard, gdf = self._resolve(terms, boosts or {})
        # blended per-TERM stats over global per-field dfs
        df_blend: dict[str, int] = {}
        tid_of: dict[str, int] = {}
        for (_, t), df in gdf.items():
            df_blend[t] = max(df_blend.get(t, 0), df)
        for _, fields in per_shard:
            for _, (_, info, _) in fields.items():
                for t, (_, _, tid) in info.items():
                    tid_of[t] = tid
        n_blend = max(self.n_of.values())
        idf_blend = {
            tid_of[t]: bm25.idf(n_blend, df)
            for t, df in df_blend.items()
        }
        tid_idx = {tid: j for j, tid in enumerate(sorted(idf_blend))}

        def make_scorer(fields):
            params = {
                fid: (
                    idf_blend,
                    self.avgdl_of[self.field_names[fid]],
                    boost,
                    r._deleted,
                )
                for fid, (r, info, boost) in fields.items()
            }
            return _crossfields_range_scorer(
                params, tid_idx, k, float(tie_breaker)
            )

        return self._run(per_shard, make_scorer, k)


_TOPK_TAIL = """
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {k}
ORDER BY rank
"""


def _oracle_fields(
    query_text: str, field_exprs: dict[str, str],
    boosts: dict[str, float] | None, table: str, doc_col: str,
) -> tuple[list[tuple[str, float]], list[str]]:
    """Per-field CTE chain base → tf → dfreq (analyzer v1 replicated
    in DuckDB, same as the single-field oracles). Returns the kept
    (field, boost) pairs and their CTE blocks; each mode's oracle adds
    its own contrib CTEs on top."""
    boosts = boosts or {}
    terms = sorted(set(py_tokens(query_text)))
    terms_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    kept = []
    blocks = []
    for f, expr in sorted(field_exprs.items()):
        boost = float(boosts.get(f, 1.0))
        if boost == 0.0:
            continue
        kept.append((f, boost))
        blocks.append(f"""
base_{f} AS (
  SELECT {doc_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({expr}), '[^\\p{{L}}\\p{{N}}]+'),
                     t -> length(t) >= 3) AS tokens
  FROM {table} WHERE text IS NOT NULL
), base_dl_{f} AS (
  SELECT doc_id, len(tokens) AS dl, tokens FROM base_{f}
), stats_{f} AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM base_dl_{f}
), tok_{f} AS (
  SELECT doc_id, dl, unnest(tokens) AS term FROM base_dl_{f}
), tf_{f} AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM tok_{f} WHERE term IN ({terms_list}) GROUP BY doc_id, term
), dfreq_{f} AS (
  SELECT term, count(*) AS df FROM tf_{f} GROUP BY term
)""".strip())
    assert kept, "all fields zero-boosted"
    return kept, blocks


def _contrib_field_idf(f: str, boost: float) -> str:
    """contrib CTE scoring with the FIELD's own idf (most_fields /
    best_fields)."""
    return f"""
contrib_{f} AS (
  SELECT tf_{f}.doc_id, tf_{f}.term,
         {boost} * ln(1 + (stats_{f}.n - dfreq_{f}.df + 0.5) / (dfreq_{f}.df + 0.5))
            * (tf_{f}.tf * ({bm25.K1} + 1)) /
              (tf_{f}.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf_{f}.dl / stats_{f}.avgdl)))
         AS w
  FROM tf_{f}, dfreq_{f}, stats_{f} WHERE tf_{f}.term = dfreq_{f}.term
)""".strip()


def oracle_sql_bm25_multifield(
    query_text: str, field_exprs: dict[str, str],
    boosts: dict[str, float] | None = None, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`MultiFieldIndexReader.search`
    (most_fields): ``field_exprs`` maps field name → a SQL expression
    (over ``table``'s columns) producing that field's text; each field
    gets the full single-field BM25 CTE chain, contributions are
    boost-weighted and summed per doc."""
    kept, blocks = _oracle_fields(
        query_text, field_exprs, boosts, table, doc_col
    )
    blocks += [_contrib_field_idf(f, b) for f, b in kept]
    union = "\nUNION ALL\n".join(
        f"SELECT doc_id, w FROM contrib_{f}" for f, _ in kept
    )
    return f"""
WITH {", ".join(blocks)},
allc AS (
{union}
), scored AS (
  SELECT doc_id, round(sum(w), {bm25.ROUND_DIGITS}) AS score
  FROM allc GROUP BY doc_id
)""" + _TOPK_TAIL.format(k=k)


def oracle_sql_bm25_best_fields(
    query_text: str, field_exprs: dict[str, str],
    boosts: dict[str, float] | None = None, k: int = 10,
    tie_breaker: float = 0.0,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`search_best_fields`: per-field query
    totals, then per doc max + tie_breaker·(sum − max)."""
    kept, blocks = _oracle_fields(
        query_text, field_exprs, boosts, table, doc_col
    )
    blocks += [_contrib_field_idf(f, b) for f, b in kept]
    union = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{f}' AS fld, w FROM contrib_{f}"
        for f, _ in kept
    )
    return f"""
WITH {", ".join(blocks)},
allc AS (
{union}
), fieldsc AS (
  SELECT doc_id, fld, sum(w) AS s FROM allc GROUP BY doc_id, fld
), scored AS (
  SELECT doc_id,
         round(max(s) + {float(tie_breaker)} * (sum(s) - max(s)),
               {bm25.ROUND_DIGITS}) AS score
  FROM fieldsc GROUP BY doc_id
)""" + _TOPK_TAIL.format(k=k)


def oracle_sql_bm25_combined_fields(
    query_text: str, field_exprs: dict[str, str],
    weights: dict[str, float] | None = None, k: int = 10,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`search_combined_fields` (Lucene
    CombinedFieldQuery / simplified BM25F): weighted tfs summed into
    one pseudo-frequency per (term, doc), weighted doc lengths summed
    into one combined norm, df = max over fields, ONE saturation."""
    weights = weights or {}
    kept, blocks = _oracle_fields(
        query_text, field_exprs, weights, table, doc_col
    )
    df_union = "\nUNION ALL\n".join(
        f"SELECT term, df FROM dfreq_{f}" for f, _ in kept
    )
    n_union = "\nUNION ALL\n".join(
        f"SELECT n FROM stats_{f}" for f, _ in kept
    )
    tf_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, term, {w} * tf AS wtf FROM tf_{f}"
        for f, w in kept
    )
    dl_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {w} * dl AS wdl FROM base_dl_{f}"
        for f, w in kept
    )
    blocks.append(f"""
dfb AS (
  SELECT term, max(df) AS df FROM ({df_union}) GROUP BY term
), nb AS (
  SELECT max(n) AS n FROM ({n_union})
), tfc AS (
  SELECT doc_id, term, sum(wtf) AS tfc
  FROM ({tf_union}) GROUP BY doc_id, term
), dlc AS (
  SELECT doc_id, sum(wdl) AS dlc FROM ({dl_union}) GROUP BY doc_id
), avgc AS (
  SELECT sum(dlc) / count(*) AS avgdl FROM dlc
)""".strip())
    return f"""
WITH {", ".join(blocks)},
scored AS (
  SELECT t.doc_id,
         round(sum(
           ln(1 + (nb.n - dfb.df + 0.5) / (dfb.df + 0.5))
           * (t.tfc * ({bm25.K1} + 1)) /
             (t.tfc + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (d.dlc / avgc.avgdl)))
         ), {bm25.ROUND_DIGITS}) AS score
  FROM tfc t, dfb, nb, dlc d, avgc
  WHERE t.term = dfb.term AND d.doc_id = t.doc_id
  GROUP BY t.doc_id
)""" + _TOPK_TAIL.format(k=k)


def oracle_sql_bm25_cross_fields(
    query_text: str, field_exprs: dict[str, str],
    boosts: dict[str, float] | None = None, k: int = 10,
    tie_breaker: float = 0.0,
    table: str = "documents", doc_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :meth:`search_cross_fields`: per term the df
    is blended as max over fields (docCount likewise), per (term, doc)
    the per-field weights are dis-maxed, then summed per doc."""
    kept, blocks = _oracle_fields(
        query_text, field_exprs, boosts, table, doc_col
    )
    df_union = "\nUNION ALL\n".join(
        f"SELECT term, df FROM dfreq_{f}" for f, _ in kept
    )
    n_union = "\nUNION ALL\n".join(
        f"SELECT n FROM stats_{f}" for f, _ in kept
    )
    blocks.append(f"""
dfb AS (
  SELECT term, max(df) AS df FROM ({df_union}) GROUP BY term
), nb AS (
  SELECT max(n) AS n FROM ({n_union})
)""".strip())
    for f, boost in kept:
        blocks.append(f"""
contrib_{f} AS (
  SELECT tf_{f}.doc_id, tf_{f}.term,
         {boost} * ln(1 + (nb.n - dfb.df + 0.5) / (dfb.df + 0.5))
            * (tf_{f}.tf * ({bm25.K1} + 1)) /
              (tf_{f}.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * (tf_{f}.dl / stats_{f}.avgdl)))
         AS w
  FROM tf_{f}, dfb, nb, stats_{f} WHERE tf_{f}.term = dfb.term
)""".strip())
    union = "\nUNION ALL\n".join(
        f"SELECT doc_id, term, w FROM contrib_{f}" for f, _ in kept
    )
    return f"""
WITH {", ".join(blocks)},
allc AS (
{union}
), termsc AS (
  SELECT doc_id, term,
         max(w) + {float(tie_breaker)} * (sum(w) - max(w)) AS v
  FROM allc GROUP BY doc_id, term
), scored AS (
  SELECT doc_id, round(sum(v), {bm25.ROUND_DIGITS}) AS score
  FROM termsc GROUP BY doc_id
)""" + _TOPK_TAIL.format(k=k)
