"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extraction run as Arrow-batched kernels over
``mapInPandas`` so one batch holds many payloads and heavy decoders
amortize per batch. Decode has three tiers: PIL when importable (fast
path, compressed formats), the vendored pure-Python codec for
uncompressed PPM/BMP (``operators/imagecodec.py`` — always available,
so the real pixel path executes even in this no-PIL container), and a
typed ``NotImplementedError`` for compressed payloads without PIL.
``decode_image_stub``'s deterministic fake remains for payloads that
are opaque by design (audio/video, synthetic blobs).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tlhop_library_spark.operators import imagecodec

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload_sha", StringType()),
        StructField("payload_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)

def _probe_real_decode() -> bool:
    """True when a real image decoder (PIL) is importable — gates the
    real-decode feature path + its skip-if-unavailable test."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


REAL_DECODE = _probe_real_decode()


def _fake_feature(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in for a decoded-content feature vector."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "big") % (2**32)
    rng = np.random.default_rng(seed)
    return [round(float(x), 6) for x in rng.standard_normal(dim)]


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an HxWx3 uint8 array.

    PIL when importable (any format it knows); otherwise the vendored
    pure-Python codec decodes uncompressed PPM (P6) and 24-bit BMP.
    Compressed formats without PIL raise NotImplementedError — the
    caller-visible contract stays identical whenever the dependency
    appears."""
    payload = bytes(payload)
    if REAL_DECODE:
        import io

        import PIL.Image

        return np.asarray(PIL.Image.open(io.BytesIO(payload)).convert("RGB"))
    if imagecodec.sniff_format(payload) is not None:
        return imagecodec.decode_any(payload)
    raise NotImplementedError(
        "decoding this format requires PIL/ffmpeg — not available in "
        "this container (pure-Python fallback covers PPM/BMP only); "
        "use extract_features (deterministic fake) instead"
    )


#: kept under the round-1 name for API compatibility
decode_image_stub = decode_image


def _real_feature(payload: bytes, dim: int = 16) -> list[float]:
    """Feature vector from decoded pixels: per-channel means/stds over
    a dim//6-cell grid — only runs when REAL_DECODE is True."""
    img = decode_image(payload).astype(np.float64) / 255.0
    feats = [img.mean(), img.std()]
    for c in range(img.shape[2]):
        feats.extend([img[..., c].mean(), img[..., c].std()])
    feats = (feats * ((dim // len(feats)) + 1))[:dim]
    return [round(float(x), 6) for x in feats]


def extract_features(
    media: DataFrame, dim: int = 16, use_real_decode: bool | None = None
) -> DataFrame:
    """mapInPandas featurizer: real plumbing, pluggable decode.

    Batch shape: each pandas batch carries many payloads; the real
    decoder vectorizes across the batch exactly like the fake. With
    ``use_real_decode`` unset, the real path is used iff a decoder is
    importable on the workers (REAL_DECODE probe).
    """
    real = REAL_DECODE if use_real_decode is None else use_real_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        featurize = _real_feature if real else _fake_feature
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "payload_bytes": payloads.map(len).astype("int64"),
                    "feature": payloads.map(
                        lambda b: featurize(bytes(b), dim)
                    ),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    media: DataFrame,
    max_side: int = 256,
    use_real_decode: bool | None = None,
) -> DataFrame:
    """Resize image payloads so the longer side is ≤ max_side,
    preserving aspect ratio. (media_id, payload, width, height).

    Real path: decode → downscale → re-encode, vectorized across each
    Arrow batch. With PIL that is thumbnail + PNG re-encode for any
    format PIL reads; without PIL the vendored pure codec decodes
    PPM/BMP, resizes nearest-neighbor in numpy, and re-encodes PPM —
    real pixels either way. With ``use_real_decode=False`` (or for
    payloads neither tier can decode when unset) the payload passes
    through untouched and the declared metadata dims are clamped
    proportionally — the Spark-side plumbing (schema, batch shape,
    partitioning) is identical in every tier."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload, out_w, out_h = [], [], []
            for _, r in pdf.iterrows():
                w, h = r["width"], r["height"]
                payload = bytes(r["payload"])
                # unset → real pixels whenever some tier can decode this
                # payload; True forces decode (raises on failure); False
                # forces the metadata-clamp passthrough
                decodable = REAL_DECODE or (
                    imagecodec.sniff_format(payload) is not None
                )
                real = (
                    decodable if use_real_decode is None else use_real_decode
                )
                if real and REAL_DECODE:
                    import io

                    import PIL.Image

                    img = PIL.Image.open(io.BytesIO(payload)).convert("RGB")
                    img.thumbnail((max_side, max_side))
                    buf = io.BytesIO()
                    img.save(buf, format="PNG")
                    payload, (w, h) = buf.getvalue(), img.size
                elif real:
                    arr = imagecodec.resize_nearest(
                        imagecodec.decode_any(payload), max_side
                    )
                    payload = imagecodec.encode_ppm(arr)
                    h, w = arr.shape[:2]
                else:
                    w = int(w) if w is not None else max_side
                    h = int(h) if h is not None else max_side
                    scale = min(1.0, max_side / max(w, h, 1))
                    w, h = int(w * scale), int(h * scale)
                out_payload.append(payload)
                out_w.append(w)
                out_h.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payload,
                    "width": pd.array(out_w, dtype="int32"),
                    "height": pd.array(out_h, dtype="int32"),
                }
            )

    return (
        media.where(F.col("kind") == "image")
        .select("media_id", "payload", "width", "height")
        .mapInPandas(run, schema=RESIZE_SCHEMA)
    )


def synth_bmp_media(docs: DataFrame, limit: int = 200) -> DataFrame:
    """Deterministic BMP payloads derived from ``doc_id`` — the
    multimodal gate's input generator. Each doc with ``doc_id <
    limit`` becomes a 24-bit BMP of ``(doc_id % 13 + 1) ×
    (doc_id % 9 + 1)`` pixels whose row ``r`` holds the constant
    value ``(doc_id + r) % 251`` in every channel — a closed-form
    image whose decoded stats an SQL oracle can recompute exactly.
    Encoding runs executor-side through the vendored codec
    (``imagecodec.encode_bmp``) inside an Arrow batch — the same
    ``mapInPandas`` shape a real ingest-from-bytes pipeline uses."""
    base = docs.select(F.col("doc_id").cast("long").alias("media_id")).where(
        F.col("media_id") < int(limit)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["media_id"]:
                d = int(d)
                w, h = d % 13 + 1, d % 9 + 1
                rows_v = np.array(
                    [(d + r) % 251 for r in range(h)], dtype=np.uint8
                )
                arr = np.repeat(
                    np.repeat(rows_v[:, None, None], w, axis=1), 3, axis=2
                )
                payloads.append(imagecodec.encode_bmp(arr))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].astype("int64"),
                 "payload": payloads}
            )

    return base.mapInPandas(gen, "media_id long, payload binary")


def media_decode_stats(media: DataFrame) -> DataFrame:
    """Decode every payload through the REAL pixel path
    (:func:`decode_image` — PIL when importable, the vendored
    PPM/BMP codec otherwise) and emit integer-exact per-image stats:
    ``(doc_id, width, height, sum_px, top_px)`` where ``sum_px`` is
    the int64 sum of all channel values and ``top_px`` the top-left
    red channel (catches a decoder that forgets BMP's bottom-up row
    order — a sum alone is order-invariant). Arrow-batched
    ``mapInPandas``; only the stats rows leave the executors, never
    pixels."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w_, h_, s_, t_ = [], [], [], []
            for b in pdf["payload"]:
                img = decode_image(bytes(b))
                h, w = img.shape[:2]
                w_.append(w)
                h_.append(h)
                s_.append(int(img.astype(np.int64).sum()))
                t_.append(int(img[0, 0, 0]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["media_id"].astype("int64"),
                    "width": pd.array(w_, dtype="int64"),
                    "height": pd.array(h_, dtype="int64"),
                    "sum_px": pd.array(s_, dtype="int64"),
                    "top_px": pd.array(t_, dtype="int64"),
                }
            )

    return media.mapInPandas(
        run,
        "doc_id long, width long, height long, sum_px long, "
        "top_px long",
    )


def oracle_sql_media_decode(
    limit: int = 200, table: str = "documents",
) -> str:
    """DuckDB oracle for ``media_decode_stats(synth_bmp_media(docs))``
    — the closed-form pixel stats recomputed from ``doc_id`` alone
    (uncorrelated ``generate_series`` join; DuckDB does not support
    lateral column parameters in table functions)."""
    return f"""
WITH px AS (
  SELECT d.doc_id,
         CAST(d.doc_id % 13 + 1 AS BIGINT) AS width,
         CAST(d.doc_id % 9 + 1 AS BIGINT) AS height,
         sum((d.doc_id + r.r) % 251) AS row_sum
  FROM {table} d JOIN generate_series(0, 8) r(r)
    ON r.r <= d.doc_id % 9
  WHERE d.doc_id < {int(limit)}
  GROUP BY d.doc_id
)
SELECT doc_id, width, height,
       CAST(3 * width * row_sum AS BIGINT) AS sum_px,
       CAST(doc_id % 251 AS BIGINT) AS top_px
FROM px
ORDER BY doc_id
"""


def make_media_df(spark, n: int = 64, seed: int = 11) -> DataFrame:
    """Deterministic synthetic media table (binary payloads + metadata)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(64, 4096)), dtype=np.uint8).tobytes()
        rows.append(
            (
                i,
                kind,
                payload,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                int(rng.integers(16, 1920)) if kind == "image" else None,
                int(rng.integers(16, 1080)) if kind == "image" else None,
                int(rng.integers(1000, 60000)) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
