"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched mapInPandas.

Decode is behind an optional-dependency probe: with Pillow importable on
the workers, ``fake=False`` decodes real image payloads (PNG/JPEG/...) —
dimensions, frame count, banded gray-intensity features, LANCZOS resize.
Without it (this container), ``fake=False`` raises NotImplementedError and
``fake=True`` runs a deterministic fake decoder (content-hash -> synthetic
dimensions/features) that exercises the identical Spark plumbing — schema,
batch shape, partitioning.  Real audio/video decode stays out of scope
(no librosa/av anywhere); those kinds are image-filtered on the real path.
"""
from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
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

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Deterministically derive a fake binary media column from doc content
    (the payload is opaque to the engine; only the plumbing is real)."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    kind = F.element_at(kinds, (F.abs(F.xxhash64(F.col("doc_id"))) % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.substring(F.col("text"), 1, 64), "utf-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.length(F.encode(F.substring(F.col("text"), 1, 64), "utf-8")).cast("long").alias("n_bytes"),
    )


def _pil_image():
    """Optional-dependency probe: PIL.Image if Pillow is importable, else
    None.  Called lazily inside UDFs too, so the probe reflects the WORKER
    environment, not just the driver."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 — a deterministic batch
    stand-in for per-item RNG seeding."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _fake_decode_batch(payloads, kinds: np.ndarray, n_features: int):
    """Batch fake decoder: content digests -> deterministic dims + features.

    The sha256 per item is the only per-item step (a real decoder is per-item
    there too); dims and the feature matrix are pure NumPy over the stacked
    digest bytes, so a real vectorized featurizer drops into the same shape.
    """
    n = len(payloads)
    digests = np.frombuffer(
        b"".join(hashlib.sha256(bytes(p)).digest() for p in payloads), dtype=np.uint8
    ).reshape(n, 32)
    width = (16 + digests[:, 8] % 240).astype(np.int32)
    height = (16 + digests[:, 9] % 240).astype(np.int32)
    n_frames = np.where(kinds == "image", 1, 1 + digests[:, 10] % 32).astype(np.int32)
    seeds = digests[:, :8].copy().view(">u8").astype(np.uint64).reshape(n)
    ks = _mix64(seeds[:, None] + np.arange(n_features, dtype=np.uint64)[None, :])
    # uniform in [-1, 1) from the top 53 bits — deterministic fake "features"
    features = (ks >> np.uint64(11)).astype(np.float64) * 2.0**-52 - 1.0
    return width, height, n_frames, features


def extract_features(media: DataFrame, n_features: int = 8, fake: bool = True) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches; the
    batch-vectorized shape is what a real decoder harness would use).

    ``fake=False`` decodes real image payloads with Pillow when importable
    (dimensions, n_frames, per-vertical-band mean gray intensity as the
    feature vector) — image rows only; audio/video real decode is out of
    scope.  Raises NotImplementedError when Pillow is absent."""
    cols = [f.name for f in FEATURES_SCHEMA.fields]

    if not fake:
        if _pil_image() is None:
            raise NotImplementedError(
                "real image decode requires Pillow, not available in this container "
                "(audio/video real decode is out of scope regardless)"
            )

        def real_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io

            Image = _pil_image()
            for pdf in batches:
                if not len(pdf):
                    yield pd.DataFrame(columns=cols)
                    continue
                widths, heights, frames, feats = [], [], [], []
                for p in pdf["payload"]:
                    with Image.open(io.BytesIO(bytes(p))) as im:
                        widths.append(int(im.size[0]))
                        heights.append(int(im.size[1]))
                        frames.append(int(getattr(im, "n_frames", 1)))
                        gray = np.asarray(im.convert("L"), dtype=np.float64) / 255.0
                    bands = np.array_split(gray, n_features, axis=1)
                    feats.append([float(b.mean()) if b.size else 0.0 for b in bands])
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"].to_numpy(),
                        "kind": pdf["kind"].to_numpy(),
                        "width": np.asarray(widths, dtype=np.int32),
                        "height": np.asarray(heights, dtype=np.int32),
                        "n_frames": np.asarray(frames, dtype=np.int32),
                        "features": feats,
                    }
                )

        return media.filter(F.col("kind") == "image").mapInPandas(real_fn, FEATURES_SCHEMA)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=cols)
                continue
            kinds = pdf["kind"].to_numpy()
            w, h, nf, feats = _fake_decode_batch(pdf["payload"].to_numpy(), kinds, n_features)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": kinds,
                    "width": w,
                    "height": h,
                    "n_frames": nf,
                    "features": list(feats),
                }
            )

    return media.mapInPandas(fn, FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("resized", BinaryType()),
    ]
)


def resize_images(
    media: DataFrame, max_side: int = 64, fake: bool = True
) -> DataFrame:
    """Resize plumbing for image payloads: aspect-preserving fit into a
    ``max_side`` square.  The geometry math (scale factor, rounded output
    dims) is real; the fake path emits a deterministic digest-derived byte
    payload of exactly out_width*out_height bytes (one fake gray byte per
    pixel), so batch shape, memory profile and schema match a real resizer.
    ``fake=False`` runs a real Pillow LANCZOS resize (gray bytes out, same
    schema) when Pillow is importable, else raises NotImplementedError."""
    cols = [f.name for f in RESIZED_SCHEMA.fields]

    if not fake:
        if _pil_image() is None:
            raise NotImplementedError(
                "real image resize requires Pillow, not available in this container"
            )

        def real_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io

            Image = _pil_image()
            for pdf in batches:
                if not len(pdf):
                    yield pd.DataFrame(columns=cols)
                    continue
                w, h, ow, oh, payloads = [], [], [], [], []
                for p in pdf["payload"]:
                    with Image.open(io.BytesIO(bytes(p))) as im:
                        iw, ih = im.size
                        scale = min(1.0, max_side / float(max(iw, ih)))
                        tw = max(1, int(round(iw * scale)))
                        th = max(1, int(round(ih * scale)))
                        out = im.convert("L").resize((tw, th), Image.LANCZOS)
                    w.append(iw)
                    h.append(ih)
                    ow.append(tw)
                    oh.append(th)
                    payloads.append(out.tobytes())
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"].to_numpy(),
                        "kind": pdf["kind"].to_numpy(),
                        "width": np.asarray(w, dtype=np.int32),
                        "height": np.asarray(h, dtype=np.int32),
                        "out_width": np.asarray(ow, dtype=np.int32),
                        "out_height": np.asarray(oh, dtype=np.int32),
                        "resized": payloads,
                    }
                )

        return media.filter(F.col("kind") == "image").mapInPandas(real_fn, RESIZED_SCHEMA)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=cols)
                continue
            kinds = pdf["kind"].to_numpy()
            w, h, _, _ = _fake_decode_batch(pdf["payload"].to_numpy(), kinds, 1)
            scale = np.minimum(1.0, max_side / np.maximum(w, h).astype(np.float64))
            ow = np.maximum(1, np.rint(w * scale)).astype(np.int32)
            oh = np.maximum(1, np.rint(h * scale)).astype(np.int32)
            digests = [hashlib.sha256(bytes(p)).digest() for p in pdf["payload"]]
            resized = [
                bytes(np.resize(np.frombuffer(d, dtype=np.uint8), int(a) * int(b)))
                for d, a, b in zip(digests, ow, oh)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": kinds,
                    "width": w,
                    "height": h,
                    "out_width": ow,
                    "out_height": oh,
                    "resized": resized,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(fn, RESIZED_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits (media_id, frame_no)
    rows for frames 0, n, 2n... of the (fake-)decoded frame count."""
    feats = extract_features(media.filter(F.col("kind") == "video"))
    return feats.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_no"),
    )
