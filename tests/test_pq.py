"""Product quantization (operators/pq.py): deterministic training,
engine-exact encoding (numpy ≡ kernel, tie-break pinned), ADC ranking
sanity (self-query first, bounded recall vs exact), and guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tlhop_library_spark.operators.pq import (
    deterministic_codebooks,
    pq_encode,
    pq_topk,
    train_pq,
)

SF_EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(SF_EMB)


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.orderBy("vec_id").collect()
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    return E, ids


@pytest.fixture(scope="module")
def trained(emb):
    return train_pq(emb, m=4, k=16, iters=10, seed=7)


def test_training_is_deterministic(emb, trained):
    again = train_pq(emb, m=4, k=16, iters=10, seed=7)
    assert np.array_equal(trained, again)
    assert trained.shape == (4, 16, 16)
    other = train_pq(emb, m=4, k=16, iters=10, seed=8)
    assert not np.array_equal(trained, other)


def test_encode_matches_numpy(emb, emb_np, trained):
    E, ids = emb_np
    got = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, trained).collect()
    }
    m, k, dsub = trained.shape
    for s in range(m):
        d = (
            (E[:, s * dsub:(s + 1) * dsub][:, None, :]
             - trained[s][None]) ** 2
        ).sum(-1)
        want = np.argmin(np.round(d, 9), axis=1)
        for i, vid in enumerate(ids):
            assert got[vid][s] == want[i]


def test_encode_tie_breaks_to_lowest_code(spark):
    # two identical centroids → the argmin must pick the lower code
    cb = np.zeros((1, 2, 4))
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    codes = pq_encode(df, cb).collect()[0]["codes"]
    assert codes == [0]


def test_adc_self_query_ranks_itself_first(emb, emb_np, trained):
    E, ids = emb_np
    qv = E[123]
    got = pq_topk(pq_encode(emb, trained), trained, qv, 10).collect()
    assert got[0]["vec_id"] == ids[123]
    assert got[0]["rank"] == 1


def test_adc_recall_vs_exact(emb, emb_np, trained):
    E, ids = emb_np
    qv = np.random.default_rng(11).standard_normal(64).round(6)
    adc = [
        r["vec_id"]
        for r in pq_topk(pq_encode(emb, trained), trained, qv, 10)
        .collect()
    ]
    exact = ids[np.argsort(((E - qv[None]) ** 2).sum(-1))][:10]
    recall = len(set(adc) & set(exact.tolist())) / 10
    assert recall >= 0.2, f"ADC recall collapsed: {recall}"


def test_pq_guards(emb, trained):
    with pytest.raises(ValueError):
        deterministic_codebooks(63, 4, 8)
    with pytest.raises(ValueError):
        pq_topk(
            pq_encode(emb, trained), trained, np.zeros(32), 10
        )


def test_ivf_pq_restricts_to_probed_cells(emb, emb_np, trained):
    from tlhop_library_spark.operators.pq import ivf_pq_topk
    from tlhop_library_spark.operators.similarity import ivf_assign

    qv = np.random.default_rng(11).standard_normal(64).round(6)
    got = ivf_pq_topk(
        emb, trained, qv, k=20, n_centroids=16, n_probe=4, seed=11
    ).collect()
    assert got, "weak fixture: no probed candidates"
    probed_ids = {r["vec_id"] for r in got}
    cells = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, 16, 64, 11).collect()
    }
    from tlhop_library_spark.operators.similarity import ivf_centroids

    C = ivf_centroids(16, 64, seed=11)
    probe = set(
        int(x) for x in np.argsort(-(C @ qv), kind="stable")[:4]
    )
    assert all(cells[v] in probe for v in probed_ids)
    # pre-encoded reuse is identical (the encode-once deploy shape)
    from tlhop_library_spark.operators.pq import pq_encode

    enc = pq_encode(emb, trained)
    again = ivf_pq_topk(
        emb, trained, qv, k=20, n_centroids=16, n_probe=4, seed=11,
        encoded=enc,
    ).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def test_rerank_full_shortlist_is_exact_l2(emb, emb_np, trained):
    """rerank_exact over an all-vector shortlist must reproduce the
    exact L2 ranking — pins the JVM zip_with/aggregate distance."""
    from tlhop_library_spark.operators.pq import rerank_exact

    E, ids = emb_np
    qv = np.random.default_rng(5).standard_normal(64).round(6)
    sl = emb.select("vec_id")
    got = [
        (r["rank"], r["vec_id"], r["l2_dist"])
        for r in rerank_exact(emb, sl, qv, 10).collect()
    ]
    d2 = np.round(((E - qv[None]) ** 2).sum(axis=1), 6)
    order = np.lexsort((ids, d2))[:10]
    want = [
        (i + 1, int(ids[j]), float(d2[j]))
        for i, j in enumerate(order)
    ]
    assert got == want


def test_residual_pipeline(emb, emb_np):
    """Residual IVFADC: deterministic coarse training, cells match
    the brute-force nearest centroid, self-query ranks itself first,
    and the rerank stage is containment-consistent."""
    from tlhop_library_spark.operators.pq import (
        ivf_pq_topk_residual,
        pq_encode_residual,
        rerank_exact,
        train_coarse,
        train_pq_residual,
    )

    E, ids = emb_np
    coarse = train_coarse(emb, n_centroids=8, iters=5, seed=23)
    assert np.array_equal(
        coarse, train_coarse(emb, n_centroids=8, iters=5, seed=23)
    )
    rcb = train_pq_residual(emb, coarse, m=4, k=16, iters=5, seed=7)
    enc = pq_encode_residual(emb, rcb, coarse)
    rows = {r["vec_id"]: (r["cell"], r["codes"]) for r in enc.collect()}
    d = ((E[:, None, :] - coarse[None]) ** 2).sum(-1)
    want_cells = np.argmin(np.round(d, 9), axis=1)
    for i, vid in enumerate(ids):
        assert rows[vid][0] == want_cells[i]
    qv = E[77]
    got = ivf_pq_topk_residual(
        enc, rcb, coarse, qv, 10, n_probe=4
    ).collect()
    assert got[0]["vec_id"] == ids[77]
    # rerank stage returns k rows drawn from the shortlist
    sl = ivf_pq_topk_residual(enc, rcb, coarse, qv, 50, n_probe=4)
    rr = rerank_exact(emb, sl, qv, 10).collect()
    sl_ids = {r["vec_id"] for r in sl.collect()}
    assert {r["vec_id"] for r in rr} <= sl_ids
    assert rr[0]["vec_id"] == ids[77]  # exact stage finds the seed


def test_adc_plan_is_jvm_only(emb, trained):
    """The ADC read path never touches float vectors: broadcast lut
    join + partial agg + TakeOrderedAndProject, no pandas kernel
    past the (cacheable) encode."""
    enc = pq_encode(emb, trained)
    qv = np.zeros(64)
    plan = (
        pq_topk(enc, trained, qv, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rerank_exact_rejects_wrong_dim(spark, emb):
    """A wrong-dimension query must raise, not silently return
    arbitrary docs (zip_with pads the mismatch with NULLs and NULLs
    sort first under F.asc) — mirrors pq_topk's guard."""
    import pytest as _pytest

    from tlhop_library_spark.operators.pq import rerank_exact

    sl = emb.select("vec_id")
    with _pytest.raises(ValueError, match="dim mismatch"):
        rerank_exact(emb, sl, [0.0] * 3, 5).collect()


def test_rerank_exact_dim_probe_skips_null_vectors(spark):
    """The dim probe reads the first NON-NULL vector: a NULL vector
    ahead of it must neither raise TypeError nor hide a wrong-dim
    query; an all-NULL store falls back to the query's width."""
    from tlhop_library_spark.operators.pq import rerank_exact

    emb = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, [4.0, 6.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    sl = emb.where(F.col("vec_id") > 0).select("vec_id")
    got = [
        (r["rank"], r["vec_id"], r["l2_dist"])
        for r in rerank_exact(emb, sl, [1.0, 2.0], 2).collect()
    ]
    assert got == [(1, 1, 0.0), (2, 2, 25.0)]
    with pytest.raises(ValueError, match="dim mismatch"):
        rerank_exact(emb, sl, [1.0, 2.0, 3.0], 2)
    nulls = emb.where(F.col("vec_id") == 0)
    assert rerank_exact(nulls, nulls, [1.0, 2.0], 2).count() == 1


def test_kmeans_chunked_matches_unchunked():
    """The chunked assignment step must be bit-identical to the
    single-tensor formulation it replaced (driver-memory fix)."""
    import numpy as np

    from tlhop_library_spark.operators.pq import _kmeans

    rng = np.random.default_rng(11)
    X = rng.standard_normal((500, 12))

    def kmeans_ref(X, k, iters, seed):
        r = np.random.default_rng(seed)
        C = X[r.choice(len(X), size=k, replace=len(X) < k)].copy()
        for _ in range(iters):
            d = ((X[:, None, :] - C[None]) ** 2).sum(-1)
            assign = np.argmin(d, axis=1)
            far = np.argsort(-d[np.arange(len(X)), assign])
            fi = 0
            for c in range(k):
                mask = assign == c
                if mask.any():
                    C[c] = X[mask].mean(axis=0)
                else:
                    C[c] = X[far[fi % len(X)]]
                    fi += 1
        return C

    got = _kmeans(X, 7, 6, seed=3)
    want = kmeans_ref(X, 7, 6, seed=3)
    assert np.array_equal(got, want)
