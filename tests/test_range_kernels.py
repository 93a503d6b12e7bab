"""Per-range kernels over hand-built chunk frames, no Spark session.

Every kernel decodes through ``index/postings.py`` and cuts its top-k
with ``postings.topk_frame``. The frames here are encoded with the
builder's own ``_encode_one`` from a seeded token corpus, so the checks
are: (a) a term split into two doc-disjoint chunks (an append boundary)
and fed in reverse doc order scores exactly like one chunk; (b) a range
whose postings are all tombstoned gives zero typed rows; (c) the
block-max kernel, including its phase-B verify pass, equals the
exhaustive one; plus the exhaustive kernel against a brute-force BM25
over the tokens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from tlhop_library_spark import bm25, similarities
from tlhop_library_spark.index import postings
from tlhop_library_spark.index.boolq import boolean_range_scorer
from tlhop_library_spark.index.build import (
    POS_SEGMENT_SCHEMA,
    SEGMENT_SCHEMA,
    _encode_one,
)
from tlhop_library_spark.index.encode_stream import _arrow_schema
from tlhop_library_spark.index.multifield import (
    _bestfields_range_scorer,
    _combinedfields_range_scorer,
    _crossfields_range_scorer,
    _multifield_range_scorer,
)
from tlhop_library_spark.index.phrase import (
    phrase_prefix_range_scorer,
    phrase_range_scorer,
    proximity_range_scorer,
    span_first_range_scorer,
    span_near_range_scorer,
    span_not_range_scorer,
)
from tlhop_library_spark.index.query import (
    _range_scorer,
    counted_range_scorer,
    dismax_range_scorer,
    filtered_range_scorer,
    msm_range_scorer,
    similarity_range_scorer,
    term_groups_range_scorer,
)

N_DOCS = 6000
VOCAB = 60
TID0 = 1000  # tid of token t is TID0 + t
K = 10


def _corpus(seed: int, n_docs: int, lo: int, hi: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.3
    p /= p.sum()
    lens = rng.integers(lo, hi, n_docs)
    return [rng.choice(VOCAB, size=n, p=p) for n in lens]


BODY = _corpus(11, N_DOCS, 3, 40)
TITLE = _corpus(12, N_DOCS, 1, 8)


def _postings(docs: list[np.ndarray]) -> dict[int, tuple]:
    """tid → (doc ids, tfs, dls, positions) exactly as the builder
    derives them from token streams."""
    acc: dict[int, list] = {}
    for d, toks in enumerate(docs):
        for t in np.unique(toks):
            pos = np.flatnonzero(toks == t)
            acc.setdefault(TID0 + int(t), []).append(
                (d, len(pos), len(toks), pos)
            )
    return {
        tid: (
            np.array([r[0] for r in rows], dtype=np.uint64),
            np.array([r[1] for r in rows], dtype=np.uint64),
            np.array([r[2] for r in rows], dtype=np.uint64),
            [r[3] for r in rows],
        )
        for tid, rows in acc.items()
    }


def _avgdl(docs) -> float:
    return float(np.mean([len(t) for t in docs]))


POST = {"body": _postings(BODY), "title": _postings(TITLE)}
AVGDL = {"body": _avgdl(BODY), "title": _avgdl(TITLE)}


def _chunk(field: str, tid: int, sel=slice(None), positional=False):
    docs, tfs, dls, pos = POST[field][tid]
    docs, tfs, dls = docs[sel], tfs[sel], dls[sel]
    pos_gaps = None
    if positional:
        pos_gaps = np.concatenate(
            [np.diff(p, prepend=0) for p in pos[sel]]
        ).astype(np.uint64)
    w = bm25.tf_weight_np(tfs, dls, AVGDL[field])
    return _encode_one(tid, tid % 8, 0, docs, tfs, dls, w, pos_gaps=pos_gaps)


def _frame(rows: list[dict], positional: bool) -> pd.DataFrame:
    """Chunk rows as a kernel receives them (list cells as arrays)."""
    schema = POS_SEGMENT_SCHEMA if positional else SEGMENT_SCHEMA
    return pa.Table.from_pylist(rows, schema=_arrow_schema(schema)).to_pandas()


def _frames(tids, positional=False, field="body", split=None):
    """(one chunk per term, the same with ``split``'s postings cut at
    the median doc into two chunks, fed in reverse doc order)."""
    split = tids[0] if split is None else split
    whole = [_chunk(field, t, positional=positional) for t in tids]
    n = len(POST[field][split][0])
    parts = [_chunk(field, t, positional=positional) for t in tids if t != split]
    cut = [
        _chunk(field, split, slice(n // 2, None), positional),
        *parts,
        _chunk(field, split, slice(0, n // 2), positional),
    ]
    return _frame(whole, positional), _frame(cut, positional)


def _idf(field: str, tids) -> dict[int, float]:
    return {t: bm25.idf(N_DOCS, len(POST[field][t][0])) for t in tids}


def _weights(tids):
    info = {
        str(t): (len(POST["body"][t][0]), int(POST["body"][t][1].sum()),
                 t % 8, t)
        for t in tids
    }
    return similarities.weight_fns(
        "bm25", info, N_DOCS, int(sum(len(t) for t in BODY)),
        avgdl=AVGDL["body"],
    )


HEAD, MID, RARE, TAIL = TID0 + 0, TID0 + 3, TID0 + 8, TID0 + 55
Q = [HEAD, MID, RARE]
ALL_DOCS = np.arange(N_DOCS, dtype=np.int64)
ALLOW = pd.DataFrame({"doc_id": np.arange(0, N_DOCS, 3, dtype=np.int64)})


def _dl_pdf(weights):
    dl = np.zeros(N_DOCS)
    for f, w in weights.items():
        dl += w * np.array([len(t) for t in (BODY if f == 0 else TITLE)])
    return pd.DataFrame({"doc_id": ALL_DOCS, "dl_c": dl})


def _mf_frames(split_field: int):
    """(whole, cut) multi-field frames (field_id column), the split
    term cut in ``split_field`` only."""
    whole, cut = [], []
    for fid, field in enumerate(("body", "title")):
        w, c = _frames(Q, field=field)
        whole.append(w.assign(field_id=fid))
        cut.append((c if fid == split_field else w).assign(field_id=fid))
    return (pd.concat(whole, ignore_index=True),
            pd.concat(cut, ignore_index=True))


def _mf_params(deleted=None):
    return {
        fid: (_idf(field, Q), AVGDL[field], 1.0 + fid, deleted)
        for fid, field in enumerate(("body", "title"))
    }


def _blend():
    return {t: bm25.idf(N_DOCS, max(len(POST[f][t][0]) for f in POST))
            for t in Q}


# (name, kernel factory given the tombstones, positional frame?)
KERNELS = [
    ("range_exhaustive", lambda d: _range_scorer(
        _idf("body", Q), K, "exhaustive", AVGDL["body"], deleted=d), False),
    ("range_bmw", lambda d: _range_scorer(
        _idf("body", Q), K, "bmw", AVGDL["body"], deleted=d), False),
    ("msm", lambda d: msm_range_scorer(
        Q, _idf("body", Q), AVGDL["body"], K, 2, deleted=d), False),
    ("and", lambda d: msm_range_scorer(
        Q, _idf("body", Q), AVGDL["body"], K, 3, deleted=d), False),
    ("similarity", lambda d: similarity_range_scorer(
        _weights(Q), K, deleted=d), False),
    ("similarity_stream", lambda d: similarity_range_scorer(
        _weights(Q), None, deleted=d), False),
    ("similarity_after", lambda d: similarity_range_scorer(
        _weights(Q), K, deleted=d, after=(2.0, 100)), False),
    ("dismax", lambda d: dismax_range_scorer(
        _weights(Q), K, 0.3, deleted=d), False),
    ("counted", lambda d: counted_range_scorer(_weights(Q), deleted=d),
     False),
    ("term_groups", lambda d: term_groups_range_scorer(
        {HEAD: 0, MID: 1, RARE: 1}, {0: 1.5, 1: 2.5}, AVGDL["body"], K,
        deleted=d), False),
    ("boolean", lambda d: boolean_range_scorer(
        ("and", [("tid", HEAD), ("or", [("tid", MID), ("nottid", RARE)])]),
        [HEAD, MID], _idf("body", Q), AVGDL["body"], K, deleted=d), False),
    ("phrase", lambda d: phrase_range_scorer(
        [HEAD, MID], _idf("body", Q), AVGDL["body"], K, d), True),
    ("proximity", lambda d: proximity_range_scorer(
        [HEAD, MID], _idf("body", Q), AVGDL["body"], 4, K, d), True),
    ("phrase_prefix", lambda d: phrase_prefix_range_scorer(
        [HEAD], [MID, RARE], _idf("body", Q), AVGDL["body"], 1.7, K, d),
     True),
    ("span_near", lambda d: span_near_range_scorer(
        [HEAD, MID], _idf("body", Q), AVGDL["body"], 2, K, d), True),
    ("span_not", lambda d: span_not_range_scorer(
        [HEAD, MID], RARE, _idf("body", Q), AVGDL["body"], 2, 1, 1, K, d),
     True),
    ("span_first", lambda d: span_first_range_scorer(
        HEAD, _idf("body", Q), AVGDL["body"], 3, K, d), True),
]


KERNELS.append(("filtered", lambda d: (
    lambda key, pdf, s=filtered_range_scorer(
        _idf("body", Q), AVGDL["body"], K, deleted=d): s(key, pdf, ALLOW)
), False))


def _run(scorer, pdf):
    return scorer((0,), pdf)


MF_KERNELS = [
    ("most_fields", lambda d: _multifield_range_scorer(_mf_params(d), K)),
    ("best_fields", lambda d: _bestfields_range_scorer(
        _mf_params(d), K, 0.2)),
    ("cross_fields", lambda d: _crossfields_range_scorer(
        {fid: (_blend(), AVGDL[f], 1.0 + fid, d)
         for fid, f in enumerate(("body", "title"))},
        {t: j for j, t in enumerate(sorted(Q))}, K, 0.2)),
    ("combined_fields", lambda d: _combinedfields_range_scorer(
        {0: (1.0, d), 1: (2.0, d)}, _blend(),
        {t: j for j, t in enumerate(sorted(Q))},
        float(_dl_pdf({0: 1.0, 1: 2.0})["dl_c"].mean()), K)),
]


def _run_mf(name, scorer, pdf):
    if name == "combined_fields":
        return scorer(pdf, _dl_pdf({0: 1.0, 1: 2.0}))
    return scorer((0,), pdf)


def _typed_empty(out: pd.DataFrame, counted: bool = False):
    assert len(out) == 0
    assert out["doc_id"].dtype == np.int64
    assert out["score"].dtype == np.float64
    if counted:
        assert out["n_matched"].dtype == np.int32


TOMBS = np.sort(
    np.random.default_rng(5).choice(N_DOCS, 400, replace=False)
).astype(np.int64)


@pytest.mark.parametrize("name,make,positional", KERNELS,
                         ids=[k[0] for k in KERNELS])
def test_split_chunks_score_like_one(name, make, positional):
    whole, cut = _frames(Q, positional)
    for deleted in (None, TOMBS):
        a = _run(make(deleted), whole)
        b = _run(make(deleted), cut)
        assert len(a) > 0, name
        pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("name,make,positional", KERNELS,
                         ids=[k[0] for k in KERNELS])
def test_all_tombstoned_range_is_typed_empty(name, make, positional):
    whole, _ = _frames(Q, positional)
    _typed_empty(_run(make(ALL_DOCS), whole), counted=name == "counted")


@pytest.mark.parametrize("name,make", MF_KERNELS,
                         ids=[k[0] for k in MF_KERNELS])
def test_multifield_split_and_tombstoned(name, make):
    for split_field in (0, 1):
        whole, cut = _mf_frames(split_field)
        for deleted in (None, TOMBS):
            a = _run_mf(name, make(deleted), whole)
            b = _run_mf(name, make(deleted), cut)
            assert len(a) > 0
            pd.testing.assert_frame_equal(a, b)
    _typed_empty(_run_mf(name, make(ALL_DOCS), _mf_frames(0)[0]))


class _Count:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


@pytest.mark.parametrize("deleted", [None, TOMBS], ids=["live", "tombs"])
@pytest.mark.parametrize("scale", [1.0, 1.3])
def test_bmw_equals_exhaustive_with_phase_b(monkeypatch, deleted, scale):
    tids = [HEAD, TID0 + 1, MID, TAIL]
    pdf = _frames(tids)[1]
    idf = _idf("body", tids)
    bmax = pdf["block_max_w"].tolist()
    assert sum(len(b) for b in bmax) >= 64
    # the UB order phase A consumes blocks in
    order = sorted(
        ((idf[t] * float(b[bi]) * scale, ri, bi)
         for ri, (t, b) in enumerate(zip(pdf["tid"].tolist(), bmax))
         for bi in range(len(b))),
        key=lambda x: -x[0],
    )
    picked: list = []
    real = postings.BlockReader.decode

    def spy(self, picks, deleted=None):
        picked.extend(picks)
        return real(self, picks, deleted)

    monkeypatch.setattr(postings.BlockReader, "decode", spy)
    phase_b = False
    for k in (1, K, 100):
        picked.clear()
        decoded, total = _Count(), _Count()
        bmw = _range_scorer(idf, k, "bmw", AVGDL["body"], scale, deleted,
                            decoded, total)((0,), pdf)
        ex = _range_scorer(idf, k, "exhaustive", AVGDL["body"], scale,
                           deleted)((0,), pdf)
        pd.testing.assert_frame_equal(bmw, ex)
        assert decoded.value == len(picked) <= total.value == len(order)
        # phase B decodes blocks outside phase A's UB-order prefix
        prefix = {(ri, bi) for _, ri, bi in order[:len(picked)]}
        phase_b |= set(picked) != prefix
    assert phase_b


def test_exhaustive_matches_brute_force_bm25():
    pdf = _frames(Q)[1]
    idf = _idf("body", Q)
    out = _range_scorer(idf, 25, "exhaustive", AVGDL["body"],
                        deleted=TOMBS)((0,), pdf)
    scores = np.zeros(N_DOCS)
    for d, toks in enumerate(BODY):
        if d in set(TOMBS.tolist()):
            continue
        for t in Q:
            tf = int((toks == t - TID0).sum())
            if tf:
                scores[d] += idf[t] * float(bm25.tf_weight_np(
                    np.array([tf]), np.array([len(toks)]), AVGDL["body"]
                )[0])
    r = np.round(scores, bm25.ROUND_DIGITS)
    order = np.lexsort((np.arange(N_DOCS), -r))[:25]
    assert out["doc_id"].tolist() == order.tolist()
    np.testing.assert_array_equal(out["score"].to_numpy(), r[order])


def test_iter_chunks_masks_and_keeps_positions_aligned():
    whole, cut = _frames([HEAD, MID], positional=True)
    got = {}
    for tid, docs, tfs, dls, pos in postings.iter_chunks(cut, TOMBS):
        assert not np.isin(docs, TOMBS).any()
        assert len(pos) == int(tfs.sum())
        got.setdefault(tid, []).append(docs)
    for tid in (HEAD, MID):
        docs = np.sort(np.concatenate(got[tid]))
        live = POST["body"][tid][0].astype(np.int64)
        np.testing.assert_array_equal(docs, live[~np.isin(live, TOMBS)])
    merged = postings.term_postings(cut, TOMBS)
    for tid, (docs, tfs, dls, pos) in merged.items():
        assert np.all(np.diff(docs) > 0)
        # positions restart per posting and stay inside the doc
        inst_docs = np.repeat(docs, tfs.astype(np.int64))
        assert np.all(pos < dls.astype(np.int64)[
            np.searchsorted(docs, inst_docs)])
