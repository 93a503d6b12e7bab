"""Product quantization (PQ) for the embedding store — the classic
IVFADC compression lever (Jégou, Douze, Schmid, "Product Quantization
for Nearest Neighbor Search", TPAMI 2011): split each d-dim vector
into ``m`` subvectors, vector-quantize each against its own
``k``-centroid codebook, and store one small code per subspace —
``m`` bytes per vector at k ≤ 256 versus ``4d`` bytes of float32
(64× compression at d=64, m=4), with query-time Asymmetric Distance
Computation (ADC) summing per-subspace lookup-table entries instead
of touching float vectors.

Scale shape:
- **Training** collects a DETERMINISTIC bounded sample to the driver
  (``orderBy(vec_id).limit(n)``) and runs seeded Lloyd k-means per
  subspace in numpy — the codebook is ``m·k·(d/m)`` floats, a
  broadcastable constant exactly like the BPE type table
  (``operators/bpe.py``) or the dictionary expansions; the corpus
  itself never funnels through the driver.
- **Encoding** is one Arrow-batched ``mapInPandas`` pass — per batch
  a single ``(batch, k, dsub)`` numpy distance computation per
  subspace, no per-row Python.
- **ADC top-k** is pure JVM: the query's ``m·k`` lookup table rides
  a broadcast literal table, codes ``posexplode`` to (vec_id, sub,
  code), one broadcast equi-join, one partial-aggregated sum, and a
  ``TakeOrderedAndProject`` k-cut — the float embeddings are never
  read at query time.

Determinism contract (what makes the oracle possible): distances are
rounded to 9 digits BEFORE the argmin, ties break toward the lowest
code, and ADC scores round to 6 — identical in numpy and the DuckDB
oracle, so codes and rankings are engine-exact for any fixed
codebook. Training is deterministic per (seed, sample) but not
SQL-expressible (iterative k-means); the gates therefore run encode +
ADC under FIXED deterministic codebooks and training is pinned by
pytest instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tlhop_library_spark.operators.relational import ranked_topk

__all__ = [
    "deterministic_codebooks",
    "train_pq",
    "pq_encode",
    "pq_topk",
    "ivf_pq_topk",
    "train_coarse",
    "train_pq_residual",
    "pq_encode_residual",
    "ivf_pq_topk_residual",
    "pq_topk_rerank",
    "rerank_exact",
    "oracle_sql_pq_encode",
    "oracle_sql_pq_encode_residual",
    "oracle_sql_pq_topk",
    "oracle_sql_ivf_pq_topk",
    "oracle_sql_ivf_pq_topk_residual",
]

_ROUND_D = 9   # distance rounding before argmin / lut sums
_ROUND_S = 6   # final ADC score rounding


def deterministic_codebooks(
    dim: int, m: int, k: int, seed: int = 7
) -> np.ndarray:
    """Seeded random codebooks (m, k, dim/m) — the fixed-codebook
    input of the oracle gates; also a sane k-means init."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    rng = np.random.default_rng(seed)
    return rng.standard_normal((m, k, dim // m)).round(6)


def _kmeans(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd k-means; empty clusters reseed deterministically
    from the points farthest from their centroid. The assignment step
    is chunked (same bound as :func:`_coarse_cells`) so the
    (batch, k, dim) distance intermediate stays ~16 MB regardless of
    sample_n/k — the unchunked tensor was O(n·k·dim) driver memory
    (~320 MB/iter at train_coarse defaults, OOM beyond)."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=len(X) < k)].copy()
    n = len(X)
    assign = np.empty(n, dtype=np.int64)
    dmin = np.empty(n, dtype=np.float64)
    step = max(1, 2_000_000 // max(1, k * X.shape[1]))
    for _ in range(iters):
        for lo in range(0, n, step):
            d = ((X[lo:lo + step, None, :] - C[None]) ** 2).sum(-1)
            a = np.argmin(d, axis=1)
            assign[lo:lo + step] = a
            dmin[lo:lo + step] = d[np.arange(len(a)), a]
        far = np.argsort(-dmin)
        fi = 0
        for c in range(k):
            mask = assign == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
            else:
                C[c] = X[far[fi % n]]
                fi += 1
    return C


def train_pq(
    embeddings: DataFrame, m: int = 4, k: int = 16, iters: int = 10,
    seed: int = 7, sample_n: int = 10000, vec_col: str = "embedding",
) -> np.ndarray:
    """Train per-subspace codebooks on a deterministic sample.

    The sample (``orderBy(vec_id).limit(sample_n)``) is the only
    driver-side data — bounded and layout-independent; k-means
    training cost is O(sample · k · iters) on the driver, the
    standard faiss/ScaNN shape where codebooks train on a slice and
    encode distributes."""
    rows = (
        embeddings.select("vec_id", vec_col)
        .orderBy("vec_id")
        .limit(int(sample_n))
        .collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError("dim must be divisible by m")
    dsub = dim // m
    return np.stack([
        _kmeans(X[:, s * dsub:(s + 1) * dsub], k, iters, seed + s)
        for s in range(m)
    ])


def pq_encode(
    embeddings: DataFrame, codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to (vec_id, codes array<int>) — one
    argmin per subspace against the broadcast codebooks, vectorized
    per Arrow batch. Codes are engine-exact under the determinism
    contract (round-9 distances, lowest-code ties)."""
    m, k, dsub = codebooks.shape
    cb = codebooks.astype(np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub:(s + 1) * dsub]
                d = ((Xs[:, None, :] - cb[s][None]) ** 2).sum(-1)
                out[:, s] = np.argmin(np.round(d, _ROUND_D), axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "codes": [
                        [int(c) for c in row] for row in out
                    ],
                }
            )

    return embeddings.select("vec_id", vec_col).mapInPandas(
        run, "vec_id long, codes array<int>"
    )


def pq_topk(
    encoded: DataFrame, codebooks: np.ndarray, qvec, topk: int = 10,
) -> DataFrame:
    """ADC top-k over PQ codes — NO float vectors touched: the
    query's (m·k) lookup table of squared subspace distances rides a
    broadcast literal frame; codes posexplode, one broadcast
    equi-join, a partial-aggregated per-vector sum, and a
    ``TakeOrderedAndProject`` cut by (adc_dist ASC, vec_id ASC).
    Returns (rank, vec_id, adc_dist)."""
    m, k, dsub = codebooks.shape
    q = np.asarray(qvec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError("query dim mismatch")
    lut = np.round(
        (
            (q.reshape(m, 1, dsub) - codebooks.astype(np.float64))
            ** 2
        ).sum(-1),
        _ROUND_D,
    )
    spark = encoded.sparkSession
    lut_df = spark.createDataFrame(
        [
            (s, c, float(lut[s, c]))
            for s in range(m)
            for c in range(k)
        ],
        "sub int, code int, d double",
    )
    exploded = encoded.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut_df), ["sub", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("d"), _ROUND_S).alias("adc_dist"))
    )
    return ranked_topk(
        scored, [F.asc("adc_dist"), F.asc("vec_id")], topk
    ).select("rank", "vec_id", "adc_dist")


def ivf_pq_topk(
    embeddings: DataFrame, codebooks: np.ndarray, query_vec,
    k: int = 10, n_centroids: int = 16, n_probe: int = 4,
    seed: int = 11, encoded: "DataFrame | None" = None,
    cells: "DataFrame | None" = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC — the full Jégou et al. pipeline: IVF cell pruning
    (probe the ``n_probe`` cells nearest the query, same fixed
    centroids as :func:`operators.similarity.ivf_topk`) followed by
    ADC re-ranking over the PQ codes of the probed cells only.

    At 10^9+ vectors with the cell as a partition key, a query reads
    ``n_probe/n_centroids`` of the CODE store (m bytes/vector) and
    zero float vectors — the two levers compose multiplicatively.
    Pass cached ``encoded`` (codes) and ``cells`` (ivf_assign output)
    frames to skip per-query re-derivation — the deployment shape:
    assign + encode once at ingest (cells becoming the partition
    key), query many."""
    from tlhop_library_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    q = np.asarray(query_vec, dtype=np.float64)
    C = ivf_centroids(n_centroids, q.shape[0], seed)
    probe = sorted(
        int(x) for x in np.argsort(-(C @ q), kind="stable")[:n_probe]
    )
    if cells is None:
        cells = ivf_assign(
            embeddings, n_centroids, q.shape[0], seed, "vec_id",
            vec_col,
        )
    cand_ids = cells.where(F.col("cell").isin(probe)).select("vec_id")
    enc = (
        encoded
        if encoded is not None
        else pq_encode(embeddings, codebooks, vec_col)
    )
    cand = enc.join(cand_ids, "vec_id", "left_semi")
    return pq_topk(cand, codebooks, query_vec, k)


def train_coarse(
    embeddings: DataFrame, n_centroids: int = 64, iters: int = 8,
    seed: int = 23, sample_n: int = 10000,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train the IVFADC coarse quantizer: full-dimension L2 k-means
    on the same bounded deterministic driver-side sample shape as
    :func:`train_pq` — unlike the fixed random-plane centroids of
    ``similarity.ivf_centroids`` (a cosine bucketer), a TRAINED
    coarse quantizer actually absorbs the corpus's cluster structure,
    which is what makes residual PQ codes small."""
    rows = (
        embeddings.select("vec_id", vec_col)
        .orderBy("vec_id")
        .limit(int(sample_n))
        .collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return _kmeans(X, n_centroids, iters, seed)


def _coarse_cells(X: np.ndarray, coarse: np.ndarray) -> np.ndarray:
    """Nearest coarse centroid by squared L2 — round-9 + lowest-cell
    ties, the PQ determinism contract. Chunked so the (batch, cells,
    dim) intermediate stays bounded."""
    out = np.empty(len(X), dtype=np.int64)
    step = max(1, 2_000_000 // max(1, coarse.shape[0] * X.shape[1]))
    for lo in range(0, len(X), step):
        d = (
            (X[lo:lo + step, None, :] - coarse[None]) ** 2
        ).sum(-1)
        out[lo:lo + step] = np.argmin(np.round(d, _ROUND_D), axis=1)
    return out


def train_pq_residual(
    embeddings: DataFrame, coarse: np.ndarray, m: int = 8,
    k: int = 256, iters: int = 6, seed: int = 7,
    sample_n: int = 10000, vec_col: str = "embedding",
) -> np.ndarray:
    """Residual-PQ training (the actual IVFADC of Jégou et al.):
    codebooks are trained on ``x − coarse_centroid(cell(x))`` rather
    than raw vectors, so the coarse quantizer absorbs the cluster
    structure and the product codebooks spend their bits on the
    residual — the distortion (and therefore ADC rank error) drops
    by roughly the cluster-spread-to-noise ratio. Same bounded
    driver-side sample shape as :func:`train_pq`."""
    rows = (
        embeddings.select("vec_id", vec_col)
        .orderBy("vec_id")
        .limit(int(sample_n))
        .collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError("dim must be divisible by m")
    R = X - coarse[_coarse_cells(X, coarse)]
    dsub = dim // m
    return np.stack([
        _kmeans(R[:, s * dsub:(s + 1) * dsub], k, iters, seed + s)
        for s in range(m)
    ])


def pq_encode_residual(
    embeddings: DataFrame, codebooks: np.ndarray,
    coarse: np.ndarray, vec_col: str = "embedding",
) -> DataFrame:
    """Encode to (vec_id, cell, codes): nearest coarse centroid by
    L2 (round-9, lowest-cell ties), then PQ codes of the RESIDUAL
    against the cell's centroid. One Arrow pass; at rest ``cell`` is
    the partition key of the code store."""
    m, k, dsub = codebooks.shape
    cb = codebooks.astype(np.float64)
    C = coarse.astype(np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            cell = _coarse_cells(X, C)
            R = X - C[cell]
            out = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Rs = R[:, s * dsub:(s + 1) * dsub]
                d = ((Rs[:, None, :] - cb[s][None]) ** 2).sum(-1)
                out[:, s] = np.argmin(np.round(d, _ROUND_D), axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cell": cell.astype("int32"),
                    "codes": [[int(c) for c in row] for row in out],
                }
            )

    return embeddings.select("vec_id", vec_col).mapInPandas(
        run, "vec_id long, cell int, codes array<int>"
    )


def ivf_pq_topk_residual(
    encoded: DataFrame, codebooks: np.ndarray, coarse: np.ndarray,
    qvec, k: int = 10, n_probe: int = 8,
) -> DataFrame:
    """Residual IVFADC query: probe the n_probe cells whose coarse
    centroids are L2-nearest the query, build ONE lookup table per
    probed cell from the query's residual against that cell
    (``n_probe·m·k`` rows — still a broadcast literal), and ADC-rank
    only rows whose ``cell`` is probed. The cell filter prunes the
    code-store scan (partition pruning when ``cell`` partitions the
    store); floats are never read."""
    m, k_codes, dsub = codebooks.shape
    q = np.asarray(qvec, dtype=np.float64)
    dim = m * dsub
    if q.shape[0] != dim:
        raise ValueError("query dim mismatch")
    C = coarse.astype(np.float64)
    qd = ((C - q[None]) ** 2).sum(-1)
    probe = sorted(
        int(x) for x in np.argsort(np.round(qd, _ROUND_D),
                                   kind="stable")[:n_probe]
    )
    rows = []
    for cell in probe:
        r = (q - C[cell]).reshape(m, 1, dsub)
        lut = np.round(
            ((r - codebooks.astype(np.float64)) ** 2).sum(-1),
            _ROUND_D,
        )
        rows.extend(
            (cell, s, c, float(lut[s, c]))
            for s in range(m)
            for c in range(k_codes)
        )
    spark = encoded.sparkSession
    lut_df = spark.createDataFrame(
        rows, "cell int, sub int, code int, d double"
    )
    exploded = encoded.where(F.col("cell").isin(probe)).select(
        "vec_id", "cell", F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut_df), ["cell", "sub", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("d"), _ROUND_S).alias("adc_dist"))
    )
    return ranked_topk(
        scored, [F.asc("adc_dist"), F.asc("vec_id")], k
    ).select("rank", "vec_id", "adc_dist")


def rerank_exact(
    embeddings: DataFrame, shortlist: DataFrame, qvec, k: int = 10,
    vec_col: str = "embedding", dim: "int | None" = None,
) -> DataFrame:
    """Exact squared-L2 re-rank of a shortlist — the second stage of
    every deployed PQ pipeline: ONLY the shortlist's float vectors
    are read (one semi-join, i.e. ``|shortlist|/n`` of the float
    store) and ranked JVM-side (``zip_with`` + ``aggregate`` — no
    Python). Returns (rank, vec_id, l2_dist). Recall is set by the
    shortlist depth: quantization error only costs recall when a
    true neighbor misses the shortlist, never rank precision inside
    it.

    The query dimension is validated against ``dim`` (pass it when
    known, e.g. from the codebooks) or, failing that, the first
    non-NULL stored vector's width (the query's own width when every
    vector is NULL): ``zip_with`` pads a length mismatch with
    NULLs, making every l2_dist NULL — and NULLs sort FIRST under
    ``F.asc``, so a wrong-dim query would silently return arbitrary
    docs instead of raising (mirrors pq_topk's guard)."""
    q = np.asarray(qvec, dtype=np.float64)
    if dim is None:
        probe = embeddings.where(F.col(vec_col).isNotNull()).select(
            F.size(F.col(vec_col)).alias("d")
        ).first()
        dim = len(q) if probe is None or probe["d"] is None else probe["d"]
    if q.shape[0] != int(dim):
        raise ValueError("query dim mismatch")
    cand = embeddings.join(
        shortlist.select("vec_id"), "vec_id", "left_semi"
    )
    qarr = F.array(*[F.lit(float(x)) for x in q])
    dist2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.select(
        "vec_id", F.round(dist2, _ROUND_S).alias("l2_dist")
    )
    return ranked_topk(
        scored, [F.asc("l2_dist"), F.asc("vec_id")], k
    ).select("rank", "vec_id", "l2_dist")


def pq_topk_rerank(
    embeddings: DataFrame, encoded: DataFrame,
    codebooks: np.ndarray, qvec, k: int = 10, shortlist: int = 100,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist (:func:`pq_topk`, codes only) + exact re-rank
    (:func:`rerank_exact`)."""
    if shortlist < k:
        raise ValueError("shortlist must be >= k")
    m, _, dsub = codebooks.shape
    sl = pq_topk(encoded, codebooks, qvec, shortlist)
    return rerank_exact(embeddings, sl, qvec, k, vec_col, dim=m * dsub)


def _cb_values(codebooks: np.ndarray) -> str:
    m, k, _ = codebooks.shape
    return ",\n         ".join(
        f"({s}, {c}, [{', '.join(repr(float(x)) for x in codebooks[s][c])}])"
        for s in range(m)
        for c in range(k)
    )


def _codes_cte(
    codebooks: np.ndarray, table: str, limit: "int | None",
    extra_ctes: str = "", where: "str | None" = None,
) -> str:
    m, k, dsub = codebooks.shape
    if where is None:
        where = f"WHERE e.vec_id < {int(limit)}" if limit else ""
    return f"""
WITH cb(sub, code, cvec) AS (VALUES {_cb_values(codebooks)}),{extra_ctes}
subv AS (
  SELECT e.vec_id, g.sub,
         e.embedding[g.sub*{dsub}+1 : (g.sub+1)*{dsub}] AS v
  FROM {table} e JOIN generate_series(0, {m - 1}) g(sub) ON true
  {where}
),
dist AS (
  SELECT s.vec_id, s.sub, cb.code,
         round(list_sum(list_transform(list_zip(s.v, cb.cvec),
               z -> power(CAST(z[1] AS DOUBLE) - z[2], 2))),
               {_ROUND_D}) AS d
  FROM subv s JOIN cb ON cb.sub = s.sub
),
codes AS (
  SELECT vec_id, sub, code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d, code) = 1
)"""


def oracle_sql_pq_encode(
    codebooks: np.ndarray, table: str = "embeddings",
    limit: "int | None" = None,
) -> str:
    """DuckDB oracle for :func:`pq_encode` under fixed codebooks —
    the identical round-9 argmin with lowest-code ties."""
    return f"""{_codes_cte(codebooks, table, limit)}
SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
FROM codes
ORDER BY vec_id, sub
"""


def oracle_sql_ivf_pq_topk(
    codebooks: np.ndarray, centroids: np.ndarray, qvec,
    n_probe: int = 4, topk: int = 10, table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`ivf_pq_topk` — IVF dot-product
    argmax assignment (greatest + first-match CASE, lowest-cell
    ties, exactly :func:`similarity.ivf_assign`) restricts the codes
    CTE to the probed cells; then the same ADC ranking as
    :func:`oracle_sql_pq_topk`."""
    m, k, dsub = codebooks.shape
    q = np.asarray(qvec, dtype=np.float64)
    nc = centroids.shape[0]
    probe = sorted(
        int(x)
        for x in np.argsort(-(centroids @ q), kind="stable")[:n_probe]
    )

    def arr(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    d_exprs = ", ".join(
        f"list_dot_product(fv, {arr(centroids[i])}) AS d{i}"
        for i in range(nc)
    )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(nc)) + ")"
    cell_case = (
        "CASE "
        + " ".join(f"WHEN d{i} = __best THEN {i}" for i in range(nc))
        + " END"
    )
    ivf_ctes = f"""
fvec AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS fv
  FROM {table}
),
dots AS (SELECT vec_id, {d_exprs} FROM fvec),
cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, {cell_case} AS cell
    FROM (SELECT *, {best} AS __best FROM dots)
  ) WHERE cell IN ({", ".join(map(str, probe))})
),"""
    codes = _codes_cte(
        codebooks, table, None, extra_ctes=ivf_ctes,
        where="WHERE e.vec_id IN (SELECT vec_id FROM cand)",
    )
    lut = np.round(
        ((q.reshape(m, 1, dsub) - codebooks.astype(np.float64)) ** 2)
        .sum(-1),
        _ROUND_D,
    )
    lut_vals = ",\n         ".join(
        f"({s}, {c}, {float(lut[s, c])!r})"
        for s in range(m)
        for c in range(k)
    )
    return f"""{codes},
lut(sub, code, d) AS (VALUES {lut_vals}),
adc AS (
  SELECT codes.vec_id,
         round(sum(lut.d), {_ROUND_S}) AS adc_dist
  FROM codes JOIN lut
    ON lut.sub = codes.sub AND lut.code = codes.code
  GROUP BY codes.vec_id
)
SELECT CAST(row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC)
        AS INT) AS rank, vec_id, adc_dist
FROM adc
QUALIFY rank <= {int(topk)}
ORDER BY rank
"""


def oracle_sql_pq_encode_residual(
    codebooks: np.ndarray, coarse: np.ndarray,
    table: str = "embeddings", limit: "int | None" = None,
) -> str:
    """DuckDB oracle for :func:`pq_encode_residual` under FIXED
    coarse centroids and codebooks: nearest-cell assignment (round-9
    squared L2, lowest-cell ties), residual subtraction, and
    per-subspace argmin all re-derived with list arithmetic."""
    m, k, dsub = codebooks.shape
    nc = coarse.shape[0]

    def arr(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    co_vals = ",\n         ".join(
        f"({i}, {arr(coarse[i])})" for i in range(nc)
    )
    cb_vals = ",\n         ".join(
        f"({s}, {c}, {arr(codebooks[s][c])})"
        for s in range(m)
        for c in range(k)
    )
    where = f"WHERE vec_id < {int(limit)}" if limit else ""
    return f"""
WITH co(cell, cvec) AS (VALUES {co_vals}),
cb(sub, code, bvec) AS (VALUES {cb_vals}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM {table} {where}
),
celld AS (
  SELECT v.vec_id, co.cell, v.e, co.cvec,
         round(list_sum(list_transform(list_zip(v.e, co.cvec),
               z -> power(z[1] - z[2], 2))), {_ROUND_D}) AS d
  FROM v JOIN co ON true
),
assigned AS (
  SELECT vec_id, cell, e, cvec
  FROM celld
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d, cell) = 1
),
resid AS (
  SELECT vec_id, cell,
         list_transform(list_zip(e, cvec), z -> z[1] - z[2]) AS r
  FROM assigned
),
subv AS (
  SELECT vec_id, cell, g.sub,
         r[g.sub*{dsub}+1 : (g.sub+1)*{dsub}] AS rv
  FROM resid JOIN generate_series(0, {m - 1}) g(sub) ON true
),
dist AS (
  SELECT s.vec_id, s.cell, s.sub, cb.code,
         round(list_sum(list_transform(list_zip(s.rv, cb.bvec),
               z -> power(z[1] - z[2], 2))), {_ROUND_D}) AS d
  FROM subv s JOIN cb ON cb.sub = s.sub
)
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(sub AS INT) AS sub,
       CAST(code AS INT) AS code
FROM dist
QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                           ORDER BY d, code) = 1
ORDER BY vec_id, sub
"""


def oracle_sql_pq_topk(
    codebooks: np.ndarray, qvec, topk: int = 10,
    table: str = "embeddings", limit: "int | None" = None,
) -> str:
    """DuckDB oracle for :func:`pq_topk` — codes re-derived, the
    query lookup table computed from the same literals, identical
    rounding and tie-break."""
    m, k, dsub = codebooks.shape
    q = np.asarray(qvec, dtype=np.float64)
    lut = np.round(
        ((q.reshape(m, 1, dsub) - codebooks.astype(np.float64)) ** 2)
        .sum(-1),
        _ROUND_D,
    )
    lut_vals = ",\n         ".join(
        f"({s}, {c}, {float(lut[s, c])!r})"
        for s in range(m)
        for c in range(k)
    )
    return f"""{_codes_cte(codebooks, table, limit)},
lut(sub, code, d) AS (VALUES {lut_vals}),
adc AS (
  SELECT codes.vec_id,
         round(sum(lut.d), {_ROUND_S}) AS adc_dist
  FROM codes JOIN lut
    ON lut.sub = codes.sub AND lut.code = codes.code
  GROUP BY codes.vec_id
)
SELECT CAST(row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC)
        AS INT) AS rank, vec_id, adc_dist
FROM adc
QUALIFY rank <= {int(topk)}
ORDER BY rank
"""


def oracle_sql_ivf_pq_topk_residual(
    codebooks: np.ndarray, coarse: np.ndarray, qvec,
    n_probe: int = 8, topk: int = 10, table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`ivf_pq_topk_residual` (and therefore
    for the persisted/sharded PQ store's ``topk``): the residual
    encode of :func:`oracle_sql_pq_encode_residual` restricted to the
    probed cells, joined against the per-probed-cell residual lookup
    tables (computed from the same literals, same round-9/round-6
    contract), summed per vector and rank-cut."""
    m, k, dsub = codebooks.shape
    nc = coarse.shape[0]
    q = np.asarray(qvec, dtype=np.float64)
    C = coarse.astype(np.float64)
    qd = ((C - q[None]) ** 2).sum(-1)
    probe = sorted(
        int(x) for x in np.argsort(np.round(qd, _ROUND_D),
                                   kind="stable")[:n_probe]
    )

    def arr(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    co_vals = ",\n         ".join(
        f"({i}, {arr(coarse[i])})" for i in range(nc)
    )
    cb_vals = ",\n         ".join(
        f"({s}, {c}, {arr(codebooks[s][c])})"
        for s in range(m)
        for c in range(k)
    )
    lut_rows = []
    for cell in probe:
        r = (q - C[cell]).reshape(m, 1, dsub)
        lut = np.round(
            ((r - codebooks.astype(np.float64)) ** 2).sum(-1),
            _ROUND_D,
        )
        lut_rows.extend(
            f"({cell}, {s}, {c}, {float(lut[s, c])!r})"
            for s in range(m)
            for c in range(k)
        )
    lut_vals = ",\n         ".join(lut_rows)
    probe_list = ", ".join(map(str, probe))
    return f"""
WITH co(cell, cvec) AS (VALUES {co_vals}),
cb(sub, code, bvec) AS (VALUES {cb_vals}),
lut(cell, sub, code, d) AS (VALUES {lut_vals}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM {table}
),
celld AS (
  SELECT v.vec_id, co.cell, v.e, co.cvec,
         round(list_sum(list_transform(list_zip(v.e, co.cvec),
               z -> power(z[1] - z[2], 2))), {_ROUND_D}) AS d
  FROM v JOIN co ON true
),
assigned AS (
  SELECT vec_id, cell, e, cvec
  FROM celld
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d, cell) = 1
),
probed AS (
  SELECT * FROM assigned WHERE cell IN ({probe_list})
),
resid AS (
  SELECT vec_id, cell,
         list_transform(list_zip(e, cvec), z -> z[1] - z[2]) AS r
  FROM probed
),
subv AS (
  SELECT vec_id, cell, g.sub,
         r[g.sub*{dsub}+1 : (g.sub+1)*{dsub}] AS rv
  FROM resid JOIN generate_series(0, {m - 1}) g(sub) ON true
),
dist AS (
  SELECT s.vec_id, s.cell, s.sub, cb.code,
         round(list_sum(list_transform(list_zip(s.rv, cb.bvec),
               z -> power(z[1] - z[2], 2))), {_ROUND_D}) AS d
  FROM subv s JOIN cb ON cb.sub = s.sub
),
codes AS (
  SELECT vec_id, cell, sub, code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d, code) = 1
),
adc AS (
  SELECT codes.vec_id,
         CAST(round(sum(lut.d), {_ROUND_S}) AS DOUBLE) AS adc_dist
  FROM codes JOIN lut
    ON lut.cell = codes.cell AND lut.sub = codes.sub
   AND lut.code = codes.code
  GROUP BY codes.vec_id
)
SELECT CAST(row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC)
        AS INT) AS rank, vec_id, adc_dist
FROM adc
QUALIFY rank <= {int(topk)}
ORDER BY rank
"""
