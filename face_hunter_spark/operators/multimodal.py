"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow-batched stages.

The real codec libraries (cv2/PIL/ffmpeg) are not in this container,
so the DECODE KERNEL is pluggable: ``codec='fake'`` is a deterministic
stand-in (features derived from the bytes' hash — stable, testable);
``codec='real'`` raises NotImplementedError at the exact seam where an
image library plugs in.  Everything Spark-owned — schemas, batch
shapes, partition behavior, UDF signatures — is real and tested.

Operators:
* ``decode_media``       binary -> (width, height, format, ok)
* ``extract_features``   binary -> fixed-dim float feature vector

Video frames are sampled by the link pipeline itself
(``spans.media_frames``), not here.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, FloatType, IntegerType, StringType,
    StructField, StructType,
)

MEDIA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),      # image|audio|video
    StructField("content", BinaryType(), True),
    StructField("mime", StringType(), True),
])

DECODED = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_bytes", IntegerType(), True),
    StructField("ok", BooleanType(), False),
])

FEATURES = StructType([
    StructField("media_id", StringType(), False),
    StructField("feature", ArrayType(FloatType()), True),
])

FEATURE_DIM = 32


def _fake_decode(content: bytes) -> tuple[int, int]:
    h = hashlib.md5(content).digest()
    return 160 + h[0] * 4, 90 + h[1] * 4  # deterministic WxH


def _fake_feature(content: bytes) -> np.ndarray:
    h = hashlib.md5(content).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
    return rng.standard_normal(FEATURE_DIM).astype(np.float32)


def _kernel(codec: str):
    if codec == "fake":
        return _fake_decode, _fake_feature
    raise NotImplementedError(
        "codec='real' requires an image/audio library (cv2/PIL/ffmpeg) "
        "not present in this container; plug decode+feature callables "
        "with the same (bytes)->tuple signatures here."
    )


def decode_media(media: DataFrame, codec: str = "fake") -> DataFrame:
    decode, _ = _kernel(codec)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w, h, nb, ok = [], [], [], []
            for content in pdf["content"]:
                if content is None or len(content) == 0:
                    w.append(None); h.append(None); nb.append(None); ok.append(False)
                else:
                    ww, hh = decode(bytes(content))
                    w.append(ww); h.append(hh); nb.append(len(content)); ok.append(True)
            yield pd.DataFrame({
                "media_id": pdf["media_id"], "kind": pdf["kind"],
                "mime": pdf["mime"],
                "width": pd.array(w, dtype="Int32"),
                "height": pd.array(h, dtype="Int32"),
                "n_bytes": pd.array(nb, dtype="Int32"),
                "ok": pd.array(ok, dtype="bool"),
            })

    return media.mapInPandas(fn, schema=DECODED)


def extract_features(media: DataFrame, codec: str = "fake") -> DataFrame:
    _, feat = _kernel(codec)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                feat(bytes(c)).tolist() if c is not None and len(c) else None
                for c in pdf["content"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "feature": pd.Series(feats, dtype=object)})

    return media.mapInPandas(fn, schema=FEATURES)


def synth_media_df(spark, n: int = 20):
    """Deterministic binary test fixture (no external data)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        content = hashlib.sha256(f"media/{i}".encode()).digest() * (4 + i % 7)
        rows.append({
            "media_id": f"m{i:04d}", "kind": kind,
            "content": bytearray(content),
            "mime": {"image": "image/jpeg", "audio": "audio/wav",
                     "video": "video/mp4"}[kind],
        })
    return spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA)
