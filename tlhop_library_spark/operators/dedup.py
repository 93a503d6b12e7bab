"""Deduplication operators over a documents table.

Scale design: every op is a join/groupBy on a derived key (hash,
shingle, band bucket) — never a cross join. At 10^12 docs the
candidate generation is the standard shingle/LSH-band equi-join whose
shuffle key is the shingle/band hash; AQE skew-join splits hot
shingles (stopword-like shingles are pre-dropped by `max_shingle_df`).

All hashes derive from md5 (available identically in Spark and
DuckDB), so every op here is oracle-checkable in SQL.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from tlhop_library_spark.analyzer import tokens_col

MINHASH_PERMS = 16
LSH_BANDS = 4  # 4 rows/band × 4 bands = 16 perms

#: ``max_shingle_df="auto"`` rule: drop shingles with document
#: frequency above max(AUTO_DF_FLOOR, ceil(AUTO_DF_FRAC * n_docs)).
#: The fraction bounds join fan-out relative to corpus size (0.1% of
#: 10^12 docs still caps any one shingle's contribution at 10^9 rows
#: ≪ the 10^18 an uncapped boilerplate shingle would produce); the
#: floor keeps the cap inert on small corpora so low-SF correctness
#: gates are unaffected. Tests monkeypatch these to exercise the rule.
SHINGLE_DF_AUTO_FRAC = 0.001
SHINGLE_DF_AUTO_FLOOR = 100


def _tok(docs: DataFrame) -> DataFrame:
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """md5(text) groups with >1 member: (text_hash, n_docs, doc_ids)."""
    return (
        docs.where(F.col("text").isNotNull())
        .select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep the min-doc_id representative of each exact-text group."""
    return (
        docs.where(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text_hash")
    )


def shingles(
    docs: DataFrame, n: int = 3, max_shingle_df: int | str | None = None
) -> DataFrame:
    """(doc_id, shingle) — distinct n-gram token shingles per doc.

    ``max_shingle_df``: hot-key guard for the downstream self-joins —
    shingles appearing in more than this many docs (boilerplate like
    "terms of service") are dropped BEFORE candidate generation, since
    a shingle with df=D contributes D² join rows. The df agg is
    map-side combined and the drop-list is broadcast (it holds at most
    |shingle instances| / max_shingle_df entries). Trades a bounded
    amount of recall (pairs similar ONLY through boilerplate) for a
    per-shingle join fan-out cap — required at 10^12-doc scale.

    ``max_shingle_df="auto"`` derives the cap from corpus size
    LAZILY (no driver action): df > max(SHINGLE_DF_AUTO_FLOOR,
    ceil(SHINGLE_DF_AUTO_FRAC * n_docs)) where n_docs counts the docs
    that actually enter shingling (≥n tokens). The one-row count is
    cross-joined broadcast into the hot-shingle filter, so the whole
    thing stays a single declarative plan.
    """
    t = _tok(docs)
    idx = F.sequence(F.lit(0), F.size("toks") - n)
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice("toks", i + 1, n), " ")
    )
    eligible = t.where(F.size("toks") >= n)
    out = eligible.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )
    if max_shingle_df is not None:
        df_counts = out.groupBy("shingle").agg(F.count("*").alias("df"))
        if max_shingle_df == "auto":
            nd = eligible.agg(F.count("*").alias("__nd"))
            cap = F.greatest(
                F.lit(SHINGLE_DF_AUTO_FLOOR).cast("long"),
                F.ceil(F.col("__nd") * F.lit(SHINGLE_DF_AUTO_FRAC)),
            )
            hot = (
                df_counts.crossJoin(F.broadcast(nd))
                .where(F.col("df") > cap)
                .select("shingle")
            )
        else:
            hot = df_counts.where(
                F.col("df") > int(max_shingle_df)
            ).select("shingle")
        out = out.join(F.broadcast(hot), "shingle", "left_anti")
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | str | None = None,
    hashed_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle equi-join.

    (doc_a, doc_b, jaccard) for doc_a < doc_b with jaccard ≥ threshold.
    Scalable shape: |pairs sharing ≥1 shingle|, not |docs|².
    With ``max_shingle_df`` set, jaccard is computed over the surviving
    (non-boilerplate) shingle sets — sizes are measured after the drop,
    so the estimate stays a true Jaccard of the filtered sets.

    ``hashed_shingles``: shuffle/join on ``(xxhash64(shingle),
    xxhash64(reverse(shingle)))`` instead of the shingle string — a
    fixed 16 B/row join key vs ~20-40 B strings and an int sort, the
    at-scale choice (the same dictionary-encode-before-shuffle move the
    index build makes for terms). The 128-bit pair makes merge-by-
    collision vanishingly unlikely even at 10^14 distinct shingles
    (P ≈ 10^-11); results are identical to the string path (asserted in
    tests). Default off so the gated query matches its string-based
    DuckDB oracle literally.
    """
    sh = shingles(docs, n, max_shingle_df)
    if hashed_shingles:
        sh = sh.select(
            "doc_id",
            F.struct(
                F.xxhash64("shingle").alias("h1"),
                F.xxhash64(F.reverse(F.col("shingle"))).alias("h2"),
            ).alias("shingle"),
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_table(
    docs: DataFrame, n: int = 3, max_shingle_df: int | str | None = None
) -> DataFrame:
    """(doc_id, h0..h{MINHASH_PERMS-1}) — the full MinHash signature as
    MINHASH_PERMS aggregate columns over ONE groupBy(doc_id) pass.

    Permutation i's hash of a shingle is md5(i || '|' || shingle) —
    deterministic, engine-portable, uniformly distributed; the min over
    a doc's shingles is the classic MinHash estimator. Computing the
    mins as parallel agg columns (instead of exploding each shingle row
    ×MINHASH_PERMS before the shuffle) keeps shuffle volume at 1× the
    shingle set — and map-side partial mins shrink it to ~|docs| rows.
    """
    sh = shingles(docs, n, max_shingle_df)
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))
        ).alias(f"h{i}")
        for i in range(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    docs: DataFrame, n: int = 3, max_shingle_df: int | str | None = None
) -> DataFrame:
    """LSH banding: pairs sharing ≥1 band bucket (doc_a, doc_b, n_bands).

    Bands of MINHASH_PERMS/LSH_BANDS signature rows each; bucket key =
    md5 of the band's sorted "i:min_hash" strings (byte-identical to
    the pre-round-2 collect_list formulation, so the DuckDB oracle is
    unchanged). Candidate generation is an equi-join on (band, bucket)
    — the at-scale path whose output feeds exact jaccard verification.
    """
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    wide = minhash_table(docs, n, max_shingle_df)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.array(
                            *[
                                F.concat(F.lit(f"{i}:"), F.col(f"h{i}"))
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        )
                    ),
                    ",",
                )
            ).alias("bucket"),
        )
        for b in range(LSH_BANDS)
    ]
    buckets = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_bands"))
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | str | None = None,
) -> DataFrame:
    """The full near-dup pipeline: LSH banding candidates → exact
    jaccard verification restricted to candidates.

    (doc_a, doc_b, jaccard ≥ threshold). This is the at-scale flow:
    candidate generation touches only band-bucket collisions (never
    the |pairs sharing a shingle| set that `ngram_jaccard_pairs`
    scans), and the exact verification joins shingle SETS (one
    per-doc array row, size ≈ doc length) only for candidate pairs.
    Recall < 1 by banding design; candidates that verify are exact.
    """
    cands = minhash_lsh_candidates(docs, n, max_shingle_df).select(
        "doc_a", "doc_b"
    )
    # verification cost scales with CANDIDATE docs, not the corpus:
    # semi-join-prune the shingle-set aggregation to docs that appear
    # in at least one candidate pair before grouping (at 10^12 docs
    # the candidate set is orders of magnitude smaller than the corpus)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        shingles(docs, n, max_shingle_df)
        .join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("shingle")).alias("sh"))
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("__inter", inter)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("__inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("__inter")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over distinct tokens.

    Arrow-batched kernel (pandas_udf): per token a 64-bit hash (md5
    prefix), each bit votes ±1; the sign vector is the fingerprint.
    Near-dups then cluster by Hamming distance on `simhash` (bit-band
    join at scale). Deterministic but not SQL-portable → rows-only
    correctness check (no DuckDB oracle).
    """
    @F.pandas_udf(LongType())
    def _simhash(toks: pd.Series) -> pd.Series:
        out = np.zeros(len(toks), dtype=np.int64)
        for i, arr in enumerate(toks):
            if arr is None or len(arr) == 0:
                continue
            votes = np.zeros(64, dtype=np.int64)
            shifts = np.arange(64, dtype=np.uint64)
            for tok in set(arr):
                h = np.uint64(
                    int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                )
                bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
                votes += 2 * bits - 1
            sig = np.uint64(0)
            for j in range(64):
                if votes[j] > 0:
                    sig |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    t = _tok(docs)
    return t.select("doc_id", _simhash(F.col("toks")).alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming (exact).

    Candidate generation by band equi-join over ``max_hamming + 1``
    bands: a pair at distance ≤ max_hamming has its differing bits in
    at most max_hamming bands, so by pigeonhole at least one of the
    max_hamming+1 bands matches exactly — candidate recall is 1.0, and
    the popcount verification step makes the result exact (no cross
    product anywhere). Wider tolerances cost narrower bands: bands are
    ⌊64/(max_hamming+1)⌋ bits, so bucket collision rates (and join
    fan-out) grow with max_hamming; max_hamming ≤ 15 keeps bands ≥ 4
    bits.
    """
    n_bands = max_hamming + 1
    if n_bands > 64:
        raise ValueError("max_hamming must be < 64")
    width = 64 // n_bands
    # bit spans: n_bands-1 bands of `width` bits, last band gets the rest
    spans = [
        (i * width, width if i < n_bands - 1 else 64 - i * width)
        for i in range(n_bands)
    ]
    def _band_val(start: int, w: int):
        if w >= 64:  # single-band case: the whole hash is the key
            return F.col("simhash")
        return F.shiftrightunsigned("simhash", start).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    sig = simhash64(docs)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _band_val(start, w).alias("val"),
                    )
                    for i, (start, w) in enumerate(spans)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, component) for every node in the pair graph, where
    ``component`` is the minimum doc_id reachable from the node —
    cluster-level near-dup semantics (keep one representative per
    CLUSTER), vs the funnel's documented greedy per-pair drop.

    Iterative min-label propagation: each round every node takes
    ``min(own label, neighbors' labels)``; labels travel one hop per
    round, so rounds = graph diameter (near-dup clusters are
    shallow — a handful of rounds). Convergence detection is a cheap
    monotone invariant: labels only ever decrease, so the global
    ``sum(component)`` strictly decreases until fixpoint — one scalar
    agg per round, no old-vs-new join. Each round is one equi-join +
    one groupBy min — the standard scalable CC shape (no driver-side
    union-find, no quadratic closure). Each round's labels are
    ``localCheckpoint``-ed: without lineage truncation the logical
    plan doubles every round and Catalyst's re-optimization makes the
    loop quadratic in rounds (on a cluster with an HDFS checkpoint
    dir, ``checkpoint()`` gives the same truncation with
    fault-tolerant storage).

    Deterministic and SQL-expressible: the DuckDB oracle replays it as
    a recursive transitive closure with min aggregation.
    """
    edges = pairs.select(
        F.col(src).cast("long").alias("a"),
        F.col(dst).cast("long").alias("b"),
    )
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    und = und.localCheckpoint()
    labels = (
        und.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            und.join(
                labels.select(
                    F.col("doc_id").alias("b"),
                    F.col("component").alias("nl"),
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("nbr_min"))
            .withColumnRenamed("a", "doc_id")
        )
        new = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_min", F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        new_sum = new.agg(F.sum("component")).collect()[0][0]
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # labels-only-decrease means a silent early return here would
        # hand back PARTIALLY-converged components (a node that is a
        # local but not global minimum keeps its own id → cluster
        # dedup would keep two representatives) — round-2 ADVICE:
        # fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds max_iter); raise "
            "max_iter — labels would be only partially propagated"
        )
    return labels
