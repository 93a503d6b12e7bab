"""Embedding near-dup LSH recall + stateful streaming sessionization."""

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """Vectors with planted near-dup pairs (cosine > 0.95)."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 64))
    rows = []
    vid = 0
    for i in range(40):
        rows.append((vid, [float(x) for x in base[i]], i))
        vid += 1
        if i % 4 == 0:  # planted near-duplicate
            pert = base[i] + 0.05 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in pert], i))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_embedding_near_dup_exact_finds_planted(spark, clustered_embeddings):
    from tlhop_library_spark.operators.similarity import (
        embedding_near_dup_exact,
    )

    pairs = embedding_near_dup_exact(
        clustered_embeddings, threshold=0.95
    ).collect()
    assert len(pairs) >= 10  # all planted pairs found
    assert all(r["cosine"] >= 0.95 for r in pairs)


def test_embedding_near_dup_lsh_recall(spark, clustered_embeddings):
    from tlhop_library_spark.operators.similarity import (
        embedding_near_dup_exact,
        embedding_near_dup_lsh,
    )

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_exact(
            clustered_embeddings, threshold=0.95
        ).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_lsh(
            clustered_embeddings, threshold=0.95, n_tables=6
        ).collect()
    }
    assert lsh <= exact  # verification step: no false positives
    recall = len(lsh & exact) / max(len(exact), 1)
    assert recall >= 0.8, f"LSH recall {recall}"


def test_sessionize_stateful_streaming(spark, tmp_path):
    """applyInPandasWithState on a real micro-batch stream."""
    from tlhop_library_spark.streaming.events import sessionize

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",
                    "2024-01-01 10:10:00",
                    "2024-01-01 12:00:00",
                    "2024-01-01 09:00:00",
                    "2024-01-01 09:05:00",
                ]
            ),
            "value": [1.0, 2.0, 3.0, 4.0, 1.5],
        }
    )
    src = str(tmp_path / "events_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src)
    q = (
        sessionize(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # a processing-time timeout keeps scheduling no-data batches, so an
    # availableNow query over this operator never terminates (and
    # processAllAvailable never returns): wait until the batches have
    # consumed every input row, then stop it rather than leak it
    try:
        deadline = time.monotonic() + 120
        while (
            sum(p["numInputRows"] for p in q.recentProgress) < len(pdf)
            and time.monotonic() < deadline
        ):
            q.awaitTermination(0.5)
    finally:
        q.stop()
    rows = spark.table("sessions_out").collect()
    # closed sessions emitted: user 1's first session (2 events) closed
    # by its third event; user 2's session stays open in state
    got = sorted((r["user_id"], r["n_events"], r["total_value"]) for r in rows)
    assert (1, 2, 3.0) in got
