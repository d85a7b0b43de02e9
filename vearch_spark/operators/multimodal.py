"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery here is real and tested — schemas, batch
iteration, partition sizing, UDF signatures. The actual media decoding
is STUBBED behind ``register_decoder`` (the image/audio libs are not in
this container): the default decoder is a deterministic fake that
derives pseudo-pixels from the bytes, so the pipeline shape (decode →
feature-extract → downsample) runs end-to-end and is verifiable.

Scale design: media bytes dominate row size, so operators here
(1) never collect binaries to the driver, (2) process via mapInPandas
with bounded Arrow batches (spark.sql.execution.arrow.maxRecordsPerBatch
should be lowered for multi-MB blobs), and (3) emit fixed-size feature
vectors so downstream joins/aggs shuffle features, not media.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {}


def register_decoder(kind: str, fn: Callable[[bytes], np.ndarray]) -> None:
    """Plug a real decoder (e.g. PIL/libav) in environments that have
    one. ``fn(bytes) -> ndarray`` (H,W,C) for images, (samples,) audio."""
    _DECODERS[kind] = fn


def _fake_decode(content: bytes, n: int = 64) -> np.ndarray:
    """Deterministic stand-in for a media decoder: derives ``n`` floats
    in [0,1) from a sha256 stream of the bytes. NOT a decoder — a
    placeholder keeping the pipeline runnable and reproducible."""
    if content is None:
        raise NotImplementedError("no content and no registered decoder")
    out = np.empty(n, dtype=np.float64)
    h = content or b""
    for i in range(n):
        h = hashlib.sha256(h).digest()
        out[i] = int.from_bytes(h[:8], "big") / 2**64
    return out


def extract_features(
    df: DataFrame,
    kind: str = "image",
    content_col: str = "content",
    id_col: str = "media_id",
    feature_dim: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """decode → fixed-dim feature vector, Arrow-batched.

    Output: (id_col, feature: array<float>, *carry_cols) — the
    embedding column the rest of the engine (topk/dedup/IVF) consumes
    unchanged. NULL content (a failed fetch — the schema declares it
    nullable) yields a NULL feature row rather than raising inside the
    task: one bad blob must not abort a corpus-scale extraction job.

    ``carry_cols`` (r9, guide §3.4): grouping/metadata columns ride the
    Arrow batch unchanged, so a downstream per-source aggregation needs
    no join back to the input relation (the join was a shuffle whose
    only payload was columns the extraction already had in hand).
    """
    decoder = _DECODERS.get(kind)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            feats = []
            for content in pdf[content_col]:
                if content is None:
                    feats.append(None)
                    continue
                raw = (
                    decoder(content)
                    if decoder is not None
                    else _fake_decode(content, feature_dim)
                )
                vec = np.resize(np.asarray(raw, dtype=np.float64).ravel(), feature_dim)
                feats.append(vec.astype(np.float32))
            out = {id_col: pdf[id_col], "feature": feats}
            for c in carry_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("feature", T.ArrayType(T.FloatType()), True),
            *[df.schema[c] for c in carry_cols],
        ]
    )
    return df.mapInPandas(run, schema=schema)


def frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Video → frame timeline rows (media_id, frame_no, ts_ms), the
    explode step before per-frame decode. Pure JVM (sequence+explode),
    no Python; the per-frame decode then rides extract_features."""
    n_frames = (F.col(duration_col) / every_ms).cast("int")
    return (
        df.where(F.col(duration_col).isNotNull())
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias(
                "frame_no"
            ),
        )
        .withColumn("ts_ms", F.col("frame_no") * every_ms)
    )
