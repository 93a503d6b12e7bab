"""Inverted-index build: docs → salted, block-max, varint segments.

Dataflow (all shuffles explicit and skew-aware; design point 10^12 docs):

  docs(doc_id, text)
    │  JVM-side tokenize (analyzer v1) + dl            [no shuffle]
    │  explode → (tid=xxhash64(term), doc_id, dl)      terms are
    │     dictionary-encoded to int64 BEFORE the wide shuffle: ~30%
    │     less shuffle volume and a fixed-width int sort instead of a
    │     string sort (the memory-bandwidth hot spot); the (tid→term)
    │     names table is vocabulary-sized, aggregated with map-side
    │     combine, and collision-checked
    ├─ range_id = doc_id // range_size  ← THE SALT: a head term's
    │     postings split across up to `n_ranges` groups, each a
    │     contiguous doc_id range, so chunks concatenate into a
    │     globally sorted posting list and block-max metadata stays
    │     doc-space aligned
    └─ THE ONE WIDE SHUFFLE: repartition(P, bucket, range_id) →
       sortWithinPartitions(bucket, range_id, tid, doc_id) [Tungsten]
       → mapInArrow streaming encoder, a batch at a time
       (index/encode_stream.py): every complete (term, range) run of
       an Arrow batch is encoded in one numpy pass — tf by run-length,
       per-block varint restart points, float64 block-max weights —
       into one output RecordBatch built straight from byte offsets
       → segment rows written as parquet partitioned by
         bucket = pmod(tid, n_buckets)  (query-time pruning),
         sortWithinPartitions(tid) for parquet min/max row-group
         skipping; queries prune on the int tid column.

Segment-level checkpoint/resume: buckets are written in `n_jobs` groups;
each completed group appends a manifest row (per-partition lineage +
metrics: postings, bytes, skew ratio). A restarted build anti-joins the
manifest and skips completed groups (reference analogue: RELEASE-file
checkpoints + idempotent MERGE, /root/reference/tlhop/crawlers/nist_nvd.py:83-89,
/root/reference/tlhop/converters/censys_dataset_manager.py:222-229).

Posting-list construction parallels the reference's explode→join→regroup
pattern (/root/reference/tlhop/algorithms/vulnerability_assessment.py:147-152)
but replaces collect_list (unbounded agg buffer) with the streaming
encoder over salted bounded groups: its Python cost is per Arrow batch,
not per run or per block, so short runs (tail terms, append deltas)
cost no more per posting than long ones.
"""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tlhop_library_spark import bm25
from tlhop_library_spark.analyzer import ANALYZER_VERSION, tokens_col
from tlhop_library_spark.index import layout
from tlhop_library_spark.index.layout import POS_SEGMENT_SCHEMA, SEGMENT_SCHEMA

#: postings per block inside a chunk (block = skippable scoring unit)
BLOCK_SIZE = 128

#: target docs per doc-range when ``n_ranges`` is not given. Sizing the
#: salt by CORPUS SIZE (not by shuffle partitions, the round-1 rule)
#: bounds both ends at any scale: a tail term produces ≤ df chunks
#: instead of splitting across every range (the round-4 stress at a
#: realistic 364k-term vocabulary showed 64 fixed ranges shredding 1M
#: docs into 11.4M chunks, p50 = 1 posting/chunk), while a torso term
#: (df ≈ 3% of docs) gets ≥ 8k postings per range — past the 64-block
#: auto threshold where block-max pruning starts paying. The encoder
#: memory bound is unchanged: the worst group (a stopword × one range)
#: is ≤ RANGE_DOCS postings ≈ a few MB decoded. At the 10^12-doc
#: design point this yields ~4M ranges (range_id stays far inside
#: int32); encode parallelism never depends on it — the wide shuffle
#: keys on (bucket, range_id) and n_buckets alone already fans out.
RANGE_DOCS = 262_144


def default_n_ranges(n_docs: int) -> int:
    """Doc-count-derived salt width: ceil(n_docs / RANGE_DOCS), clamped
    so range_id stays a small int at any conceivable corpus size."""
    return max(1, min(math.ceil(n_docs / RANGE_DOCS), 1 << 22))

def _encode_one(tid, bucket, range_id, doc_ids, tfs, dls, w,
                pos_gaps=None) -> dict:
    """Encode one (term, range) posting run (already doc_id-sorted) as
    a segment row dict: a one-run call of the batched
    ``encode_stream.encode_runs`` (arguments as documented there)."""
    from tlhop_library_spark.index.encode_stream import (
        _arrow_schema,
        encode_runs,
    )

    schema = POS_SEGMENT_SCHEMA if pos_gaps is not None else SEGMENT_SCHEMA
    return encode_runs(
        _arrow_schema(schema), np.zeros(1, dtype=np.int64),
        np.array([tid], dtype=np.int64), np.array([bucket]),
        np.array([range_id]), doc_ids, tfs, dls, w, pos_gaps,
    ).to_pylist()[0]


class IndexBuilder:
    """Builds (and resumes) an index at ``index_dir`` (layout:
    ``index/layout.py``).

    ``n_buckets`` controls query-time file pruning; ``n_ranges`` is the
    salt width (doc-space shards); ``n_jobs`` is the checkpoint
    granularity (bucket groups written + manifested independently).
    Tradeoff: each group job re-scans + re-tokenizes the corpus (cached
    when it fits) and keeps 1/n_jobs of the tokens, so n_jobs=J costs
    ~J× tokenize compute in exchange for J-way resume granularity.
    Default 1 (fastest cold build; resume skips the whole segments job
    when its manifest row exists).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_buckets: int = 32,
        n_ranges: int | None = None,
        n_jobs: int = 1,
        encode_parts: int | None = None,
        positions: bool = False,
        stored_fields: list[str] | None = None,
        serve_layout: bool = True,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.n_buckets = n_buckets
        #: range-repartition the ENCODED chunk rows by (bucket, tid)
        #: before the segment write so every file owns a disjoint tid
        #: span. Without it a file's tid min/max spans the whole hash
        #: range (hash shuffle + within-partition sort), so file/row-
        #: group statistics admit ~every file for a point lookup: at
        #: the 10M stress index the driver-side serving read cost
        #: 0.5-0.7 s/term (reading ~28% of a 5 GB store) vs ~1 file
        #: with the range layout. Costs one extra (smaller) shuffle of
        #: the compressed segment rows (~12% of the raw postings
        #: shuffle at 10M) + a short-lived cache so the range
        #: sampler does not re-run the encoder. Distributed queries
        #: get the same file-skipping benefit.
        self.serve_layout = serve_layout
        #: None → derived from the corpus doc count at build time via
        #: :func:`default_n_ranges` (docs-per-range target, see
        #: RANGE_DOCS); an explicit value is honored as-is (tests,
        #: multi-field co-alignment, append/delete rebuilds from stats)
        self.n_ranges = n_ranges
        self.n_jobs = n_jobs
        self.encode_parts = encode_parts
        #: store per-posting token positions (phrase/proximity queries).
        #: Costs one extra int column through the wide shuffle (~4 B/row)
        #: plus the pos_bytes stream in segments; plain BM25 queries on a
        #: positional index never read those columns (column pruning).
        self.positions = positions
        #: metadata columns captured at index time (Lucene DocValues
        #: analogue): written as a (doc_id, fields...) parquet beside the
        #: segments so sort/collapse/facet need no external docs table.
        #: One narrow projection of the input scan — never through the
        #: wide posting shuffle.
        self.stored_fields = list(stored_fields or [])
        #: encode caches awaiting release after the segment write
        self._pending_unpersist: list[DataFrame] = []

    # -- encode plan (shared by build and index.append) ------------------
    def _exploded(self, with_tokens: DataFrame) -> DataFrame:
        """(doc_id, dl, term, tid[, pos]) token instances, dictionary-
        encoded to int64 tid BEFORE the wide shuffle."""
        if self.positions:
            exploded = with_tokens.select(
                "doc_id", "dl", F.posexplode("tokens").alias("pos", "term")
            ).withColumn("tid", F.xxhash64("term"))
        else:
            exploded = with_tokens.select(
                "doc_id", "dl", F.explode("tokens").alias("term")
            ).withColumn("tid", F.xxhash64("term"))
        return exploded

    def _encode_group_df(
        self, part: DataFrame, avgdl: float, range_size: int,
        n_tokens: int | None = None,
    ) -> DataFrame:
        """The one-wide-shuffle encode plan for one postings subset:
        repartition pins (bucket, range_id) groups to partitions; the
        sort happens ONCE, JVM-side (Tungsten, spillable); the Arrow
        stream encoder never materializes term strings per row.
        bucket/range_id partition and sort as EXPRESSIONS but are never
        shuffled as columns (20 B/row vs 28 B — SCALE_DESIGN.md)."""
        from tlhop_library_spark.index.encode_stream import (
            make_stream_encoder,
        )

        bucket_expr = F.pmod(F.col("tid"), F.lit(self.n_buckets)).cast("int")
        range_expr = F.floor(F.col("doc_id") / F.lit(range_size)).cast("int")
        seg_schema = layout.segment_schema(self.positions)
        encoder = make_stream_encoder(
            avgdl, seg_schema,
            n_buckets=self.n_buckets, range_size=range_size,
            positions=self.positions,
        )
        # 4× the shuffle width is right for large inputs (measured at
        # 1M docs: 256 parts beat 87 — the extra fan-out overlaps the
        # Arrow producer with the Python encoder); for TINY inputs it
        # just schedules empty-ish tasks and writes confetti files, so
        # when the token count is known, cap partitions at one per
        # ~700k tokens (floored at the cluster's parallelism — at
        # sf0.1 this is 128 → 32 tasks, a 24% faster build).
        n_encode_parts = self.encode_parts or 4 * int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        if self.encode_parts is None and n_tokens is not None:
            parallelism = self.spark.sparkContext.defaultParallelism
            by_size = max(parallelism, -(-int(n_tokens) // 700_000))
            n_encode_parts = min(n_encode_parts, by_size)
        shuffle_cols = ["tid", "doc_id", "dl"] + (
            ["pos"] if self.positions else []
        )
        # positions sort LAST so each posting's position list arrives
        # ascending (Tungsten sort is not stable; posexplode order
        # would otherwise be lost across the shuffle)
        sort_keys = [bucket_expr, range_expr, "tid", "doc_id"] + (
            ["pos"] if self.positions else []
        )
        enc = (
            part.select(*shuffle_cols)
            .repartition(n_encode_parts, bucket_expr, range_expr)
            .sortWithinPartitions(*sort_keys)
            .mapInArrow(encoder, schema=seg_schema)
        )
        if not self.serve_layout:
            return enc.sortWithinPartitions("tid")
        # serve layout: contiguous (bucket, tid) spans per output file
        # (see __init__). The encoded frame is cached so the range
        # partitioner's sampling pass reads the cache instead of
        # re-running the whole encode; build() unpersists after the
        # segment write.
        enc = enc.persist(StorageLevel.MEMORY_AND_DISK)
        self._pending_unpersist.append(enc)
        return enc.repartitionByRange(
            n_encode_parts, "bucket", "tid"
        ).sortWithinPartitions("bucket", "tid")

    def _write_group(self, part, avgdl, range_size, path, n_tokens=None):
        """Encode ``part`` and write its segment rows to ``path``, then
        release the encode caches."""
        self._encode_group_df(part, avgdl, range_size, n_tokens).write.mode(
            "overwrite"
        ).parquet(path)
        for cached in self._pending_unpersist:
            cached.unpersist()
        self._pending_unpersist.clear()

    # -- input (shared by build and index.append) ------------------------
    def _tokenized(self, docs: DataFrame) -> DataFrame:
        """(doc_id, tokens, dl) of the docs with non-null text."""
        docs = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ).where(F.col("text").isNotNull())
        # scan-parallelism safety net: unsplittable inputs (one parquet
        # row group, gzip json, ...) would serialize tokenization into a
        # single task; one explicit up-front shuffle is far cheaper than
        # an unparallelized scan. No-op on properly-split inputs.
        parallelism = self.spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < parallelism:
            docs = docs.repartition(2 * parallelism)
        return docs.select(
            "doc_id", tokens_col(F.col("text")).alias("tokens")
        ).withColumn("dl", F.size("tokens"))

    def _check_stored(self, docs: DataFrame) -> None:
        missing = [c for c in self.stored_fields if c not in docs.columns]
        if missing:
            raise ValueError(
                f"stored_fields {missing} missing: not in the input "
                f"columns {docs.columns}"
            )

    def _write_stored(self, docs: DataFrame, path: str) -> None:
        """Stored fields of ``docs`` to ``path``: the same doc filter as
        the postings (null-text docs are not indexed); an idempotent
        overwrite keeps resume trivial."""
        if self.stored_fields:
            docs.where(F.col("text").isNotNull()).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                *self.stored_fields,
            ).write.mode("overwrite").parquet(path)

    # -- build ---------------------------------------------------------
    def build(self, docs: DataFrame, resume: bool = False) -> dict:
        """docs must carry (doc_id long, text string). Returns stats."""
        spark = self.spark
        t0 = time.time()
        phases: dict[str, float] = {}
        last = t0

        def mark(name: str) -> None:
            nonlocal last
            now = time.time()
            phases[name] = round(now - last, 3)
            last = now

        self._check_stored(docs)
        with_tokens = self._tokenized(docs)

        # DISK_ONLY, not the MEMORY_AND_DISK default: the token cache is
        # the largest intermediate of the whole build (every token of
        # every doc), and the default level unrolls each block through
        # the heap memory store WHILE the same 32 task threads hold
        # tokenizer + parquet-writer buffers — at 10M docs that unroll
        # OOMs a 16g heap. DISK_ONLY streams blocks straight to
        # spark.local.dir (tmpfs here, executor-local SSD on a real
        # cluster), keeping heap flat regardless of corpus size; the
        # cache is read back sequentially exactly twice (term_names,
        # segment encode), where decode cost is dwarfed by the shuffle.
        with_tokens = with_tokens.persist(StorageLevel.DISK_ONLY)
        completed = self._completed_groups() if resume else set()

        # The doc_lengths write is the FIRST action: it materializes
        # the token cache AND persists the (doc_id, dl) table in one
        # pass. Corpus stats then aggregate the written parquet (a
        # two-int-column table) instead of re-scanning the fat cached
        # token arrays — one fewer pass over the heavy data per build.
        with_tokens.select("doc_id", "dl").write.mode("overwrite").parquet(
            layout.DOC_LENGTHS.path(self.index_dir)
        )
        self._write_stored(docs, layout.STORED.path(self.index_dir))
        mark("tokenize_doc_lengths")
        row = layout.DOC_LENGTHS.read(spark, self.index_dir).agg(
            F.count("*").alias("n"),
            F.sum("dl").alias("sum_dl"),
            F.max("doc_id").alias("max_doc"),
        ).collect()[0]
        mark("stats")
        n_docs, sum_dl, max_doc = row["n"], row["sum_dl"] or 0, row["max_doc"] or 0
        avgdl = float(sum_dl) / n_docs if n_docs else 0.0
        if self.n_ranges is None:
            self.n_ranges = default_n_ranges(int(max_doc) + 1)
        range_size = max(1, math.ceil((int(max_doc) + 1) / self.n_ranges))

        # raw token instances, dictionary-encoded to int64 BEFORE the
        # wide shuffle (smaller rows, int sort) — tf is computed INSIDE
        # the encoder (run-length over the sorted group), so the whole
        # build has exactly ONE wide shuffle. bucket and range_id are
        # pure functions of (tid, doc_id): they partition and sort as
        # EXPRESSIONS but are never shuffled as columns (20 B/row vs
        # 28 B — the shuffle is the scale bottleneck, SCALE_DESIGN.md).
        exploded = self._exploded(with_tokens)
        bucket_expr = F.pmod(F.col("tid"), F.lit(self.n_buckets)).cast("int")
        # floor division to match the encoder's `doc_id // range_size`
        # (a plain /-then-cast truncates toward zero, which disagrees
        # with floor for negative doc_ids and would split a (term,
        # range) across chunks)
        range_expr = F.floor(F.col("doc_id") / F.lit(range_size)).cast("int")

        # (tid → term) names table: vocabulary-sized, map-side combined;
        # collision check makes the 64-bit hash safe to rely on
        names = exploded.select("tid", "term").distinct()
        names.write.mode("overwrite").parquet(
            layout.TERM_NAMES.path(self.index_dir)
        )
        check_term_collisions(spark, self.index_dir)
        mark(layout.TERM_NAMES.name)

        # segments per bucket group — the one shuffle, checkpointable.
        for g in range(self.n_jobs):
            gname = f"group_{g}"
            if gname in completed:
                continue
            part = exploded.where(
                F.pmod(bucket_expr, F.lit(self.n_jobs)) == g
            )
            gdir = layout.group_path(self.index_dir, g)
            self._write_group(
                part, avgdl, range_size, gdir,
                n_tokens=-(-int(sum_dl) // self.n_jobs),
            )
            mark(f"segments_g{g}")
            append_manifest(spark, self.index_dir, gname, gdir, self.positions)
            mark(f"manifest_g{g}")

        write_dictionary(spark, self.index_dir, self.positions)
        mark(layout.DICTIONARY.name)

        stats = {
            "analyzer": ANALYZER_VERSION,
            "k1": bm25.K1,
            "b": bm25.B,
            "n_docs": int(n_docs),
            "avgdl": avgdl,
            "sum_dl": int(sum_dl),
            # smallest avgdl any live segment group was ENCODED with —
            # block_max_w bounds bake encode-time avgdl in; the reader
            # inflates pruning bounds by max(1, avgdl/min_encode_avgdl)
            # so BMW stays exact after incremental appends shift avgdl
            # (query-time SCORES always recompute from the tf/dl streams
            # with current avgdl, so only bounds need the guard)
            "min_encode_avgdl": avgdl,
            "max_doc": int(max_doc),
            "range_size": int(range_size),
            "n_ranges": self.n_ranges,
            "n_buckets": self.n_buckets,
            "n_jobs": self.n_jobs,
            "positions": self.positions,
            "stored_fields": self.stored_fields,
            "block_size": BLOCK_SIZE,
            "build_sec": time.time() - t0,
            "phases": phases,
        }
        layout.write_stats(self.index_dir, stats)
        with_tokens.unpersist()
        return stats

    # -- resume --------------------------------------------------------
    def _completed_groups(self) -> set[str]:
        try:
            rows = (
                layout.MANIFEST.read(self.spark, self.index_dir)
                .where(F.col("status") == "complete")
                .select("segment_group")
                .collect()
            )
            return {r["segment_group"] for r in rows}
        except Exception:
            return set()


def check_term_collisions(spark: SparkSession, index_dir: str) -> None:
    """Fail when two terms share a 64-bit term id in ``term_names``:
    the collision check that makes ``tid = xxhash64(term)`` safe."""
    collisions = (
        layout.TERM_NAMES.read(spark, index_dir)
        .groupBy("tid")
        .agg(F.countDistinct("term").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    if collisions:
        raise RuntimeError(
            f"{collisions} xxhash64 term collisions — rebuild "
            "with a 128-bit term id (tid = xxhash64(term), "
            "xxhash64(reverse(term)))"
        )


def write_dictionary(
    spark: SparkSession, index_dir: str, positions: bool
) -> None:
    """The dictionary, derived from the written segments (column-pruned
    read of tid/bucket/n_postings/sum_tf) joined with the names table
    to restore term strings — both sides vocabulary-sized."""
    seg_stats = (
        layout.read_segments(spark, index_dir, positions)
        .groupBy("tid", "bucket")
        .agg(F.sum("n_postings").alias("df"), F.sum("sum_tf").alias("cf"))
    )
    names = layout.TERM_NAMES.read(spark, index_dir)
    seg_stats.join(names, "tid").write.mode("overwrite").parquet(
        layout.DICTIONARY.path(index_dir)
    )


def append_manifest(
    spark: SparkSession, index_dir: str, gname: str, gdir: str,
    positions: bool,
) -> None:
    """Append segment group ``gname``'s lineage row (the manifest) and
    its per-bucket rows (the metrics table), aggregated from the
    group's files at ``gdir``."""
    seg = spark.read.schema(layout.segment_schema(positions)).parquet(gdir)
    n_bytes = (
        F.octet_length("doc_bytes")
        + F.octet_length("tf_bytes")
        + F.octet_length("dl_bytes")
        + (F.octet_length("pos_bytes") if positions else F.lit(0))
    )
    aggs = [
        F.count("*").alias("n_chunks"),
        F.countDistinct("tid").alias("n_terms"),
        F.sum("n_postings").alias("postings_written"),
        F.sum(n_bytes).alias("bytes_written"),
        (F.max("n_postings") / F.avg("n_postings")).alias("skew_ratio"),
    ]
    m = seg.agg(*aggs).withColumns(
        {
            "segment_group": F.lit(gname),
            "status": F.lit("complete"),
            "checkpoint_ts": F.current_timestamp(),
            "input_snapshot": F.lit(index_dir),
        }
    )
    m.coalesce(1).write.mode("append").parquet(layout.MANIFEST.path(index_dir))
    # per-PARTITION metrics table (north-star contract: postings
    # written, bytes, skew ratio PER partition, not just per
    # checkpoint group): one row per bucket in this group,
    # appended to a parquet metrics table beside the manifest —
    # the Iceberg-ready hook (TableCatalog would target an
    # Iceberg table where the runtime jar is installed, see
    # COVERAGE.md). The hot-bucket / skewed-term health
    # signal lives here before it shows up as a straggler.
    per_bucket = seg.groupBy("bucket").agg(*aggs).withColumns(
        {
            "segment_group": F.lit(gname),
            "checkpoint_ts": F.current_timestamp(),
        }
    )
    per_bucket.coalesce(1).write.mode("append").parquet(
        layout.METRICS.path(index_dir)
    )


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str, **kw) -> dict:
    return IndexBuilder(spark, index_dir, **kw).build(docs)
