"""Batched posting encoder ≡ the per-run, per-block reference encoder.

No Spark session: the mapInArrow function is fed Arrow batches directly.
The oracle below is the per-run encoder the batched core replaced — a
Python loop over runs and over 128-posting blocks, with its own scalar
LEB128 writer — so any byte, offset or float the batched core gets
wrong shows as a row mismatch.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from tlhop_library_spark import bm25
from tlhop_library_spark.codecs import varint_encode_lengths
from tlhop_library_spark.index.build import (
    BLOCK_SIZE,
    POS_SEGMENT_SCHEMA,
    SEGMENT_SCHEMA,
    _encode_one,
)
from tlhop_library_spark.index.encode_stream import make_stream_encoder

AVGDL = 37.5


def _leb128(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def _oracle_encode_one(tid, bucket, range_id, doc_ids, tfs, dls, w,
                       pos_gaps=None) -> dict:
    n = len(doc_ids)
    n_blocks = math.ceil(n / BLOCK_SIZE)
    doc_parts, tf_parts, dl_parts, pos_parts = [], [], [], []
    b_first, b_last, b_counts = [], [], []
    b_doc_off, b_tf_off, b_dl_off, b_pos_off, b_max = [], [], [], [], []
    doc_off = tf_off = dl_off = pos_off = 0
    tb = None
    if pos_gaps is not None:
        tb = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
    for bi in range(n_blocks):
        s, e = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, n)
        blk = [int(x) for x in doc_ids[s:e]]
        db = _leb128([blk[0]] + [b - a for a, b in zip(blk, blk[1:])])
        tb_ = _leb128(tfs[s:e])
        lb = _leb128(dls[s:e])
        b_doc_off.append(doc_off)
        b_tf_off.append(tf_off)
        b_dl_off.append(dl_off)
        b_first.append(int(doc_ids[s]))
        b_last.append(int(doc_ids[e - 1]))
        b_counts.append(e - s)
        b_max.append(float(w[s:e].max()))
        doc_parts.append(db)
        tf_parts.append(tb_)
        dl_parts.append(lb)
        doc_off += len(db)
        tf_off += len(tb_)
        dl_off += len(lb)
        if pos_gaps is not None:
            pb = _leb128(pos_gaps[tb[s]:tb[e]])
            b_pos_off.append(pos_off)
            pos_parts.append(pb)
            pos_off += len(pb)
    return {
        "tid": int(tid),
        "bucket": bucket,
        "range_id": range_id,
        "n_postings": n,
        "sum_tf": int(tfs.sum()),
        "first_doc": int(doc_ids[0]),
        "last_doc": int(doc_ids[-1]),
        "doc_bytes": b"".join(doc_parts),
        "tf_bytes": b"".join(tf_parts),
        "dl_bytes": b"".join(dl_parts),
        "block_first_docs": b_first,
        "block_last_docs": b_last,
        "block_counts": b_counts,
        "block_doc_offsets": b_doc_off,
        "block_tf_offsets": b_tf_off,
        "block_dl_offsets": b_dl_off,
        "block_max_w": b_max,
        "max_w": float(max(b_max)),
        **(
            {"pos_bytes": b"".join(pos_parts), "block_pos_offsets": b_pos_off}
            if pos_gaps is not None
            else {}
        ),
    }


def _oracle_rows(tok, n_buckets, range_size):
    """Per-run loop over a sorted token stream: one oracle call per run."""
    tid, d, dl = tok["tid"], tok["doc_id"], tok["dl"]
    pos = tok.get("pos")
    rows, s, n = [], 0, len(d)
    while s < n:
        e = s + 1
        while e < n and tid[e] == tid[s] and \
                d[e] // range_size == d[s] // range_size:
            e += 1
        docs, tfs, dls, gaps = [], [], [], []
        for i in range(s, e):
            if i > s and d[i] == d[i - 1]:
                tfs[-1] += 1
                if pos is not None:
                    gaps.append(int(pos[i]) - int(pos[i - 1]))
                continue
            docs.append(int(d[i]))
            tfs.append(1)
            dls.append(int(dl[i]))
            if pos is not None:
                gaps.append(int(pos[i]))
        docs = np.array(docs, dtype=np.uint64)
        tfs = np.array(tfs, dtype=np.uint64)
        dls = np.array(dls, dtype=np.uint64)
        w = bm25.tf_weight_np(tfs, dls, AVGDL)
        rows.append(_oracle_encode_one(
            int(tid[s]), int(tid[s]) % n_buckets, int(d[s] // range_size),
            docs, tfs, dls, w,
            np.array(gaps, dtype=np.uint64) if pos is not None else None,
        ))
        s = e
    return rows


def _sorted_stream(tid, doc, dl_of, n_buckets, range_size, pos=None):
    """Token columns in the planner's order: bucket, range, tid, doc, pos."""
    tid = np.asarray(tid, dtype=np.int64)
    doc = np.asarray(doc, dtype=np.int64)
    keys = [doc, tid, doc // range_size, tid % n_buckets]
    if pos is not None:
        keys.insert(0, np.asarray(pos, dtype=np.int32))
    order = np.lexsort(keys)
    tok = {
        "tid": tid[order],
        "doc_id": doc[order],
        "dl": np.array([dl_of[int(x)] for x in doc[order]], dtype=np.int32),
    }
    if pos is not None:
        tok["pos"] = np.asarray(pos, dtype=np.int32)[order]
    return tok


def _random_stream(seed, n_tokens, positions, n_buckets=8, range_size=300):
    rng = np.random.default_rng(seed)
    n_docs = 2_000
    # a Zipf-ish vocabulary with negative and positive 64-bit term ids
    vocab = rng.integers(-(2**63), 2**63 - 1, size=400, dtype=np.int64)
    tid = vocab[np.minimum(rng.zipf(1.3, n_tokens) - 1, vocab.size - 1)]
    doc = rng.integers(0, n_docs, n_tokens)
    dl_of = {i: int(x) for i, x in enumerate(rng.integers(1, 200, n_docs))}
    pos = np.arange(n_tokens) % 997 if positions else None
    return _sorted_stream(tid, doc, dl_of, n_buckets, range_size, pos)


def _edge_stream(positions, n_buckets=8):
    """Runs of exactly 1, 127, 128, 129 and 257 postings, tf > 1, doc
    gaps of 2^28 and 2^35 (5- and 6-byte varints), negative term ids."""
    tids, docs, poss = [], [], []
    for t, n_post in [(-7, 1), (11, 127), (-(2**62), 128), (2**62, 129),
                      (-1, 257), (5, 3)]:
        for i in range(n_post):
            tf = 1 + (i % 3)
            tids += [t] * tf
            docs += [i * 3 + 1] * tf
            poss += list(range(i % 5, i % 5 + 2 * tf, 2))
    big = [1, 1 + 2**28, 2 + 2**28 + 2**35, 3 + 2**28 + 2**36]
    for doc in big:
        tids += [99, 99]
        docs += [doc, doc]
        poss += [4, 2**20]
    dl_of = {d: 7 + d % 300 for d in set(docs)}
    return _sorted_stream(tids, docs, dl_of, n_buckets, 2**40,
                          poss if positions else None), 2**40


def _run_encoder(tok, batch_rows, n_buckets, range_size, positions):
    schema = POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA
    enc = make_stream_encoder(AVGDL, schema, n_buckets=n_buckets,
                              range_size=range_size, positions=positions)
    table = pa.table({k: pa.array(v) for k, v in tok.items()})
    out = list(enc(iter(table.to_batches(max_chunksize=batch_rows))))
    assert all(b.schema.equals(out[0].schema) for b in out)
    return [row for b in out for row in b.to_pylist()]


@pytest.mark.parametrize("positions", [False, True])
@pytest.mark.parametrize("batch_rows", [1, 7, 777, 10_000])
def test_stream_matches_per_run_oracle(positions, batch_rows):
    n_tokens = 600 if batch_rows == 1 else 6_000
    tok = _random_stream(batch_rows, n_tokens, positions)
    got = _run_encoder(tok, batch_rows, 8, 300, positions)
    assert got == _oracle_rows(tok, 8, 300)


@pytest.mark.parametrize("positions", [False, True])
@pytest.mark.parametrize("batch_rows", [1, 7, 777, 10_000])
def test_edge_runs_match_oracle(positions, batch_rows):
    tok, range_size = _edge_stream(positions)
    got = _run_encoder(tok, batch_rows, 8, range_size, positions)
    want = _oracle_rows(tok, 8, range_size)
    assert got == want
    by_tid = {r["tid"]: r for r in got}
    assert [by_tid[t]["n_postings"] for t in (-7, 11, -(2**62), 2**62, -1)] \
        == [1, 127, 128, 129, 257]
    assert by_tid[-1]["block_counts"] == [128, 128, 1]
    # 5- and 6-byte varints in the doc-gap stream
    lens = varint_encode_lengths(
        np.array([2**28, 2**35], dtype=np.uint64))[1]
    assert lens.tolist() == [5, 6]
    assert len(by_tid[99]["doc_bytes"]) == 1 + 5 + 6 + 6


def test_bucket_is_spark_pmod():
    tok, range_size = _edge_stream(False, n_buckets=5)
    for row in _run_encoder(tok, 7, 5, range_size, False):
        t = row["tid"]
        # Java/Spark pmod: ((a % n) + n) % n with a truncating %
        trunc = int(math.copysign(abs(t) % 5, t))
        assert row["bucket"] == (trunc + 5) % 5


@pytest.mark.parametrize("positions", [False, True])
def test_encode_one_is_one_run_of_the_core(positions):
    rng = np.random.default_rng(3)
    docs = np.cumsum(rng.integers(1, 1_000, 300)).astype(np.uint64)
    tfs = rng.integers(1, 4, 300).astype(np.uint64)
    dls = rng.integers(1, 90, 300).astype(np.uint64)
    w = bm25.tf_weight_np(tfs, dls, AVGDL)
    gaps = (
        rng.integers(0, 40, int(tfs.sum())).astype(np.uint64)
        if positions else None
    )
    assert _encode_one(-3, 5, 2, docs, tfs, dls, w, pos_gaps=gaps) == \
        _oracle_encode_one(-3, 5, 2, docs, tfs, dls, w, pos_gaps=gaps)


def test_varint_lengths_cut_the_stream():
    v = np.array([0, 127, 128, 2**14, 2**28, 2**35, 2**63, 2**64 - 1],
                 dtype=np.uint64)
    data, lens = varint_encode_lengths(v)
    assert data.tobytes() == _leb128(v)
    assert lens.tolist() == [len(_leb128([x])) for x in v]
