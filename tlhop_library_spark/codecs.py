"""Vectorized numpy posting-list codecs: LEB128 varint + delta-gap.

These run inside Arrow kernels (``applyInPandas`` / ``mapInArrow``) on the
executors — never per-row Python. Encoding and decoding are both
vectorized across all values in a batch (the only Python loops are over
byte positions, bounded at 10 iterations for uint64).

Posting layout produced by the index builder (see index/build.py):
doc_ids are sorted ascending, stored as delta gaps (first value absolute)
varint-encoded; tf and dl are stored as parallel varint streams. Blocks
(doc-space aligned) carry byte offsets into each stream plus the first
absolute doc_id of the block, so any block decodes independently —
that is what makes block skipping possible at query time.
"""

from __future__ import annotations

import numpy as np


def varint_encode_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode an array of non-negative ints in one vectorized pass.

    Returns the concatenated stream (uint8) and each value's byte length
    (int64), so a caller that encodes many posting runs or blocks at
    once can cut the one stream at any value boundary with ``cumsum``.
    """
    v = np.asarray(values, dtype=np.uint64).ravel()
    # bytes needed per value: ceil(bitlength/7), min 1
    nbytes = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nbytes += rest > 0
        rest >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    out = np.empty(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    # byte j of value i lands at starts[i] + j
    starts = ends - nbytes
    rem = v.copy()
    for j in range(int(nbytes.max()) if v.size else 0):
        live = nbytes > j
        byte = (rem[live] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[live] > j + 1).astype(np.uint8) << 7
        out[starts[live] + j] = byte | cont
        rem >>= np.uint64(7)
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    return varint_encode_lengths(values)[0].tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 stream to uint64 (vectorized)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero(arr < 0x80)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    n = ends.size
    out = np.zeros(n, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        out[mask] |= (arr[starts[mask] + j] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * j)
    if count is not None and n != count:
        raise ValueError(f"varint stream decoded {n} values, expected {count}")
    return out


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Gap-encode a sorted ascending array (first value absolute)."""
    v = np.asarray(sorted_values, dtype=np.uint64)
    if v.size == 0:
        return v
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


def encode_postings(doc_ids: np.ndarray) -> bytes:
    """delta-gap + varint for a sorted doc_id run."""
    return varint_encode(delta_encode(doc_ids))


def decode_postings(buf: bytes, count: int | None = None) -> np.ndarray:
    return delta_decode(varint_decode(buf, count))
