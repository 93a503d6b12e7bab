"""Chunk reader: the one decode path of every per-range kernel.

A kernel gets the segment chunk rows of ONE doc range (a pandas frame
in the segment schema, ``build.SEGMENT_SCHEMA`` or its positional
variant). This module turns those rows into posting arrays and the
kernel's result back into a frame:

- :func:`iter_chunks` decodes every selected chunk of the frame and
  yields its (tid, docs, tfs, dls[, positions]), tombstones masked;
- :func:`term_postings` merges a term's chunks into one doc-sorted run;
- :class:`BlockReader` decodes single blocks (the block-max kernel's
  partial scan);
- :func:`sum_by_doc` accumulates per-posting weights per doc, and
  :func:`score_docs` BM25-scores a matched doc set;
- :func:`topk_frame` is the kernel's top-k cut and result frame.

Columns are read as arrays, never as one pandas row Series per chunk,
and each stream of all the chunks (or blocks) a call selects decodes
with ONE varint call: LEB128 streams concatenate losslessly, and doc
gaps restart at every block, so the concatenated streams decode to the
concatenated chunks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tlhop_library_spark import bm25
from tlhop_library_spark.codecs import varint_decode

#: (byte stream, per-block byte offsets) column pairs of a chunk row
_STREAMS = (
    ("doc_bytes", "block_doc_offsets"),
    ("tf_bytes", "block_tf_offsets"),
    ("dl_bytes", "block_dl_offsets"),
)


def _cum_reset(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Absolute values from a gap stream whose delta chains restart at
    segment boundaries given by ``counts`` (first of each segment is
    absolute). Fully vectorized: one cumsum + one repeat."""
    if gaps.size == 0:
        return gaps
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1].astype(np.int64)
    c = np.cumsum(gaps)
    base = c[starts] - gaps[starts]
    return c - np.repeat(base, counts.astype(np.int64))


def decode_chunk(doc_bytes: bytes, tf_bytes: bytes, dl_bytes: bytes,
                 counts: np.ndarray):
    """(docs int64, tfs uint64, dls uint64) of the byte streams of one
    or more whole blocks; ``counts`` holds each block's posting count.

    Doc gaps restart at every block (the builder delta-encodes per
    block), so the reset boundaries are the block counts."""
    n = int(counts.sum())
    docs = _cum_reset(varint_decode(doc_bytes, n).astype(np.int64), counts)
    return docs, varint_decode(tf_bytes, n), varint_decode(dl_bytes, n)


def decode_chunk_positions(pos_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
    """Token-instance-level absolute positions, aligned with
    ``np.repeat(docs, tfs)``. Position delta chains restart at every
    POSTING (count = that posting's tf)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    pgaps = varint_decode(pos_bytes, int(tfs.sum())).astype(np.int64)
    return _cum_reset(pgaps, tfs)


def mask_deleted(deleted, docs, tfs, *aligned, positions=None):
    """Drop tombstoned postings: ``docs``, ``tfs`` and every
    posting-aligned array in ``aligned`` are filtered per posting;
    ``positions`` (instance-level, len = sum(tfs)) loses the instances
    of dropped postings. Returns ``(docs, tfs, *aligned, positions)``.

    Masking at the decode boundary means every consumer (sums, BMW
    accumulate/verify, intersections, top-k) sees only live docs, and
    block upper bounds, computed over the pre-delete superset, stay
    valid upper bounds."""
    if deleted is None or not deleted.size:
        return (docs, tfs, *aligned, positions)
    keep = ~np.isin(docs, deleted)
    if keep.all():
        return (docs, tfs, *aligned, positions)
    if positions is not None:
        positions = positions[np.repeat(keep, tfs.astype(np.int64))]
    return (docs[keep], tfs[keep], *(a[keep] for a in aligned), positions)


def _decode_live(doc_b, tf_b, dl_b, counts, owner, deleted, pos_b=None):
    """Decode concatenated block streams and mask tombstones. ``owner``
    labels each posting with the chunk or block it came from. Returns
    (docs, tfs, dls, owner, positions or None)."""
    docs, tfs, dls = decode_chunk(doc_b, tf_b, dl_b, counts)
    pos = None if pos_b is None else decode_chunk_positions(pos_b, tfs)
    return mask_deleted(deleted, docs, tfs, dls, owner, positions=pos)


def iter_chunks(pdf: pd.DataFrame, deleted=None, tids=None):
    """Yield ``(tid, docs, tfs, dls)`` for every chunk row of ``pdf``
    (only rows whose tid is in ``tids``, when given), in frame order,
    with tombstoned postings (``deleted``: sorted doc ids) masked. When
    the frame carries ``pos_bytes`` each tuple also ends with the
    chunk's positions (:func:`decode_chunk_positions`)."""
    tid_col = pdf["tid"].to_numpy(np.int64)
    rows = (
        np.arange(len(tid_col)) if tids is None
        else np.flatnonzero(np.isin(tid_col, list(tids)))
    )
    if not rows.size:
        return
    take = {
        c: pdf[c].to_numpy()[rows]
        for c in ("doc_bytes", "tf_bytes", "dl_bytes", "block_counts")
    }
    counts = [np.asarray(c, dtype=np.int64) for c in take["block_counts"]]
    post_end = np.cumsum([int(c.sum()) for c in counts])
    owner = np.repeat(
        np.arange(rows.size), np.diff(post_end, prepend=0)
    )
    pos_b = (
        b"".join(pdf["pos_bytes"].to_numpy()[rows])
        if "pos_bytes" in pdf.columns else None
    )
    docs, tfs, dls, owner, pos = _decode_live(
        *(b"".join(take[c]) for c in ("doc_bytes", "tf_bytes", "dl_bytes")),
        np.concatenate(counts), owner, deleted, pos_b,
    )
    bounds = np.searchsorted(owner, np.arange(rows.size + 1))
    if pos is not None:
        inst = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))[bounds]
    for i, r in enumerate(rows):
        s, e = bounds[i], bounds[i + 1]
        chunk = (int(tid_col[r]), docs[s:e], tfs[s:e], dls[s:e])
        yield chunk if pos is None else chunk + (pos[inst[i]:inst[i + 1]],)


def term_postings(pdf: pd.DataFrame, deleted=None, tids=None) -> dict:
    """tid → (docs, tfs, dls[, positions]) over the range, one entry
    per term present in the frame (empty arrays when tombstones emptied
    it).

    A (tid, range) normally has ONE chunk, but an incrementally
    appended index (index/append.py) can leave the boundary range with
    one chunk per batch — doc-disjoint; concatenated in ascending
    first-doc order so the per-term doc arrays stay sorted (the
    intersection/scoring kernels rely on sorted-unique docs)."""
    parts: dict[int, list] = {}
    for tid, *arrays in iter_chunks(pdf, deleted, tids):
        parts.setdefault(tid, []).append(arrays)
    out = {}
    for tid, chunks in parts.items():
        if len(chunks) == 1:
            out[tid] = tuple(chunks[0])
            continue
        chunks.sort(key=lambda c: int(c[0][0]) if len(c[0]) else 0)
        out[tid] = tuple(np.concatenate(col) for col in zip(*chunks))
    return out


class BlockReader:
    """Single-block access to a chunk frame: the frame's block
    directories and streams read once as lists; :meth:`decode` takes
    any set of (chunk, block) picks through one varint call per
    stream."""

    def __init__(self, pdf: pd.DataFrame):
        self.counts = pdf["block_counts"].tolist()
        self.streams = [(pdf[b].tolist(), pdf[o].tolist()) for b, o in _STREAMS]

    def decode(self, picks: list, deleted=None):
        """(docs, tfs, dls, owner) of the picked blocks, ``picks`` a
        list of (chunk row, block index); ``owner[j]`` is the index in
        ``picks`` of posting j's block. Tombstones are masked."""
        parts = ([], [], [])
        cnts = np.empty(len(picks), dtype=np.int64)
        for i, (ri, bi) in enumerate(picks):
            cnts[i] = self.counts[ri][bi]
            for out, (data, offs) in zip(parts, self.streams):
                off, buf = offs[ri], data[ri]
                end = off[bi + 1] if bi + 1 < len(off) else len(buf)
                out.append(buf[off[bi]:end])
        owner = np.repeat(np.arange(len(picks)), cnts)
        return _decode_live(
            *(b"".join(p) for p in parts), cnts, owner, deleted
        )[:4]


def sum_by_doc(docs: np.ndarray, weights: np.ndarray):
    """(unique docs, per-doc sum of ``weights``, inverse index of each
    posting into the unique docs)."""
    uniq, inv = np.unique(docs, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(sums, inv, weights)
    return uniq, sums, inv


def topk_frame(docs: np.ndarray, scores: np.ndarray,
               k: "int | None") -> pd.DataFrame:
    """A kernel's result: the top ``k`` (all when None) of (docs,
    scores), selected by the SAME ordering the oracle uses —
    round(score, ROUND_DIGITS) desc, doc_id asc — as a typed
    (doc_id int64, score float64) frame."""
    r = np.round(scores, bm25.ROUND_DIGITS)
    order = np.lexsort((docs, -r))
    if k is not None:
        order = order[:k]
    return pd.DataFrame(
        {"doc_id": docs[order].astype(np.int64), "score": r[order]}
    )


def score_docs(per_term: dict, tids: list[int], idf_map: dict,
               matched: np.ndarray, avgdl: float, k: int) -> pd.DataFrame:
    """BM25 over ``tids`` restricted to the sorted doc ids ``matched``
    → top-k. ``per_term`` maps tid → (docs, tfs, dls, ...) as
    :func:`term_postings` gives it."""
    scores = np.zeros(len(matched), dtype=np.float64)
    for tid in tids:
        docs, tfs, dls = per_term[tid][:3]
        sel = np.isin(docs, matched, assume_unique=True)
        idx = np.searchsorted(matched, docs[sel])
        scores[idx] += idf_map[tid] * bm25.tf_weight_np(
            tfs[sel], dls[sel], avgdl
        )
    return topk_frame(matched, scores, k)


def empty_scores() -> pd.DataFrame:
    """The typed zero-row (doc_id int64, score float64) result."""
    return topk_frame(np.empty(0, np.int64), np.empty(0, np.float64), 0)
