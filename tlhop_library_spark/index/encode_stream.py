"""Streaming Arrow posting encoder (mapInArrow), a batch at a time.

Contract with the planner::

    exploded.repartition(P, bucket_expr, range_expr)
            .sortWithinPartitions(bucket_expr, range_expr, "tid", "doc_id")
            .mapInArrow(make_stream_encoder(avgdl, SEGMENT_SCHEMA, ...),
                        SEGMENT_SCHEMA)

- terms arrive already dictionary-encoded as int64 ``tid`` (no Python
  string ever materializes here);
- the ONE sort happens JVM-side (Tungsten binary format, spillable) on
  fixed-width int keys, so each (term, range) run arrives contiguous
  and doc-sorted;
- every complete run of an input Arrow batch is encoded by ONE call of
  :func:`encode_runs`: tokens collapse to postings, the gap / tf / dl
  (and position) streams of the whole batch are LEB128-encoded with one
  call each, and the per-block and per-run byte offsets are cut from
  those streams with ``cumsum``. The output ``RecordBatch`` is built
  straight from the offsets — no per-run or per-block Python work, so
  the cost does not grow with the number of runs (short runs are the
  common case: tail terms, small ranges, every append delta);
- the run still open at the end of a batch is carried forward as a list
  of parts and encoded once it completes, so memory stays bounded by
  the largest single (term, range) run, itself bounded by range_size
  docs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from tlhop_library_spark import bm25
from tlhop_library_spark.codecs import varint_encode_lengths
from tlhop_library_spark.index.build import BLOCK_SIZE


def _arrow_schema(spark_schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def encode_runs(schema: pa.Schema, run_starts, tids, buckets, range_ids,
                docs, tfs, dls, w, pos_gaps=None) -> pa.RecordBatch:
    """Encode complete (term, range) posting runs: one segment row each.

    Posting-level inputs, each run doc-sorted and laid end to end:
    ``docs``/``tfs``/``dls`` (uint64) and ``w`` (float64 BM25 tf
    weights). ``run_starts[i]`` is the index of run i's first posting;
    ``tids``/``buckets``/``range_ids`` are per run. Blocks start every
    BLOCK_SIZE postings within a run; doc gaps restart at each block, so
    any block decodes on its own.

    ``pos_gaps`` (positional ``schema`` only): token-level, posting i
    owns the next ``tfs[i]`` values, its first position absolute and the
    rest delta-gapped.
    """
    n = docs.size
    n_runs = run_starts.size
    run_len = np.diff(np.append(run_starts, n))
    run_of = np.repeat(np.arange(n_runs), run_len)
    blk = np.flatnonzero((np.arange(n) - run_starts[run_of]) % BLOCK_SIZE == 0)
    blk_run = run_of[blk]
    run_blk = np.zeros(n_runs + 1, dtype=np.int64)
    np.cumsum(-(-run_len // BLOCK_SIZE), out=run_blk[1:])
    blk_end = np.append(blk[1:], n)
    run_at = np.append(run_starts, n)

    gaps = docs.copy()
    np.subtract(docs[1:], docs[:-1], out=gaps[1:])
    gaps[blk] = docs[blk]
    streams = [(gaps, run_at, blk), (tfs, run_at, blk), (dls, run_at, blk)]
    if pos_gaps is not None:
        tok = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=tok[1:])
        streams.append((pos_gaps, tok[run_at], tok[blk]))
    # one LEB128 call per stream; each stream's value index of every
    # run start (plus the end) and of every block start cuts it into
    # the per-run binary cells and the run-relative block offsets
    byte_cols, offset_cols = [], []
    for values, v_run_at, v_blk_at in streams:
        data, nbytes = varint_encode_lengths(values)
        cum = np.zeros(nbytes.size + 1, dtype=np.int64)
        np.cumsum(nbytes, out=cum[1:])
        run_off = cum[v_run_at]
        byte_cols.append(pa.BinaryArray.from_buffers(
            pa.binary(), n_runs,
            [None, pa.py_buffer(run_off.astype(np.int32)), pa.py_buffer(data)],
        ))
        offset_cols.append((cum[v_blk_at] - run_off[blk_run]).astype(np.int32))

    block_max_w = np.maximum.reduceat(w, blk)
    fields = {
        "tid": tids,
        "bucket": buckets,
        "range_id": range_ids,
        "n_postings": run_len,
        "sum_tf": np.add.reduceat(tfs, run_starts),
        "first_doc": docs[run_starts],
        "last_doc": docs[run_at[1:] - 1],
        "doc_bytes": byte_cols[0],
        "tf_bytes": byte_cols[1],
        "dl_bytes": byte_cols[2],
        "block_first_docs": docs[blk],
        "block_last_docs": docs[blk_end - 1],
        "block_counts": blk_end - blk,
        "block_doc_offsets": offset_cols[0],
        "block_tf_offsets": offset_cols[1],
        "block_dl_offsets": offset_cols[2],
        "block_max_w": block_max_w,
        "max_w": np.maximum.reduceat(block_max_w, run_blk[:-1]),
    }
    if pos_gaps is not None:
        fields["pos_bytes"] = byte_cols[3]
        fields["block_pos_offsets"] = offset_cols[3]
    list_offsets = pa.array(run_blk.astype(np.int32))
    cols = []
    for f in schema:
        v = fields[f.name]
        if isinstance(v, pa.Array):
            cols.append(v)
        elif pa.types.is_list(f.type):
            values = pa.array(v.astype(f.type.value_type.to_pandas_dtype()))
            cols.append(pa.ListArray.from_arrays(list_offsets, values,
                                                 type=f.type))
        else:
            cols.append(pa.array(v.astype(f.type.to_pandas_dtype())))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def make_stream_encoder(avgdl: float, spark_schema, n_buckets: int = 32,
                        range_size: int = 1, positions: bool = False):
    """Returns the mapInArrow function. bucket/range_id are DERIVED here
    from (tid, doc_id) — they partition and sort upstream as
    expressions but are never shuffled as columns (numpy `%` on int64
    matches Spark pmod for negative tids).

    ``positions=True``: the stream carries a ``pos`` column (in-document
    token index, ascending within each (tid, doc_id) run by the upstream
    sort); each posting's positions are delta-gapped, first absolute."""
    arrow_schema = _arrow_schema(spark_schema)
    cols = ("tid", "doc_id", "dl") + (("pos",) if positions else ())

    def encode_tokens(tid, d, dl, pos=None) -> pa.RecordBatch:
        # token stream of complete runs → postings → one encode_runs call
        n = d.size
        r = d // range_size
        run_start = np.empty(n, dtype=bool)
        run_start[0] = True
        run_start[1:] = (tid[1:] != tid[:-1]) | (r[1:] != r[:-1])
        # a posting is a (run, doc); the same doc repeated tf times
        new_post = run_start.copy()
        new_post[1:] |= d[1:] != d[:-1]
        ps = np.flatnonzero(new_post)
        tfs = np.diff(np.append(ps, n)).astype(np.uint64)
        docs = d[ps].astype(np.uint64)
        dls = dl[ps].astype(np.uint64)
        runs = np.flatnonzero(run_start[ps])
        run_tid = tid[ps[runs]]
        pos_gaps = None
        if pos is not None:
            p = pos.astype(np.uint64)
            pos_gaps = p.copy()
            np.subtract(p[1:], p[:-1], out=pos_gaps[1:])
            pos_gaps[ps] = p[ps]
        return encode_runs(
            arrow_schema, runs, run_tid, run_tid % n_buckets,
            r[ps[runs]], docs, tfs, dls,
            bm25.tf_weight_np(tfs, dls, avgdl), pos_gaps,
        )

    def joined(parts):
        return [np.concatenate(c) for c in zip(*parts)]

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # token-array parts of the run still open at the last batch's
        # end, and that run's (tid, range) key
        carry: list = []
        carry_key = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tok = [batch.column(c).to_numpy(zero_copy_only=False)
                   for c in cols]
            tid, d = tok[0], tok[1]
            r = d // range_size
            brk = np.flatnonzero((tid[1:] != tid[:-1]) | (r[1:] != r[:-1]))
            last = int(brk[-1]) + 1 if brk.size else 0
            head_key = (tid[0], r[0])
            tail_key = (tid[-1], r[-1])
            if last == 0 and (not carry or carry_key == head_key):
                carry.append(tok)
                carry_key = tail_key
                continue
            done = carry + [[a[:last] for a in tok]]
            carry = [[a[last:] for a in tok]]
            carry_key = tail_key
            yield encode_tokens(*joined(done))
        if carry:
            yield encode_tokens(*joined(carry))

    return encode
