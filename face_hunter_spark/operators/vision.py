"""Vision stage: media decode -> face detect -> align -> embed, as ONE
``mapInPandas`` stage over Arrow batches.

The reference runs this as cv2 decode + MTCNN batches of 128 frames +
a single flattened encoder.predict call (face_recognition.py:84-221).
The Spark analogue: the Arrow batch is the unit of vectorization
(spark.sql.execution.arrow.maxRecordsPerBatch plays the 128-frame
role); faces from all frames in a batch are flattened, embedded in one
vectorized call, and unflattened back to rows — the exact trick at
face_recognition.py:206-220, reimplemented batch-wise.

Real CNN weights are not available in this container, so the decoder is
the deterministic fake from ``fakevision`` (same function the test
oracle uses).  A production deployment swaps ``encoder='hash'`` for an
ONNX-backed encoder with the identical mapInPandas signature — the
Spark-side plumbing (schema, batching, per-executor singleton) is what
this module owns and tests.

Emits one row per detected face, PLUS one face_idx=NULL row per
frame with zero faces — the reference keeps empty frames in the
prediction sequence (they become scene-breaking sentinels,
graph_postprocessing.py:31-32), so frames must never be dropped here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import fakevision as fv
from ..schemas import FACES
from .align import align_crops_batch
from .linking import MATCHERS

EMBED_DIM = 512

# name -> zero-arg factory returning a batch encoder.  The CONTRACT a
# production (ONNX/TensorRT) encoder must satisfy — pinned by
# tests/test_encoder_contract.py:
#   * factory() is called lazily, AT MOST ONCE PER PYTHON WORKER
#     (per-executor singleton, like the reference's once-per-process
#     model build at api/flask_api.py:40-45);
#   * the instance has encode_batch(crops) with crops float32
#     (n, H, W, 3) aligned faces in [0,1) and returns float32
#     (n, 512) embeddings — the flatten-across-frames batch call of
#     face_recognition.py:206-220.
# The factory is captured in the mapInPandas closure at plan-build
# time (cloudpickle), so registration on the driver reaches every
# worker without relying on module-level state being replayed there.
_ENCODER_FACTORIES: dict = {}
_ENCODER_INSTANCES: dict = {}
_ENCODER_BUILD_COUNTS: dict = {}


def register_encoder(name: str, factory) -> None:
    """Register a production encoder factory under ``name`` (see the
    contract above).  ``encoder=name`` on the vision stages then builds
    it lazily once per Python worker."""
    _ENCODER_FACTORIES[name] = factory


def _resolve_encoder(name: str):
    """Driver-side resolution: None for the built-in deterministic
    'hash' path, else the registered factory (loud error otherwise)."""
    if name == "hash":
        return None
    factory = _ENCODER_FACTORIES.get(name)
    if factory is None:
        raise NotImplementedError(
            f"encoder '{name}' is not registered; production deployments "
            "register_encoder(name, factory) with an ONNX session exposing "
            "encode_batch((n,H,W,3) float32) -> (n,512) float32"
        )
    return factory


def _encoder_instance(name: str, factory):
    """Worker-side per-process singleton (contract: factory called at
    most once per Python worker)."""
    enc = _ENCODER_INSTANCES.get(name)
    if enc is None:
        enc = factory()
        _ENCODER_INSTANCES[name] = enc
        _ENCODER_BUILD_COUNTS[name] = _ENCODER_BUILD_COUNTS.get(name, 0) + 1
    return enc


def _encode_with(enc, seeds: np.ndarray) -> np.ndarray:
    """Decode raw crops for ``seeds``, run keypoint-based affine
    alignment to the ArcFace template (the reference's
    facial_preprocessing.py:7-60 step between detect and encode, here
    the batched numpy kernel in operators/align.py), then run the
    registered encoder, validating the output contract loudly."""
    crops = fv.face_crops_batch(seeds)
    # patch-local landmark pixels from the same deterministic draw the
    # FACES keypoints column uses (frame coords there, crop coords here)
    rel = fv.face_keypoints_rel_batch(seeds)
    h, w = crops.shape[1], crops.shape[2]
    kps = rel * np.array([w, h], dtype=np.float32)
    aligned = align_crops_batch(crops, kps)
    emb = np.asarray(enc.encode_batch(aligned))
    if emb.shape != (len(seeds), EMBED_DIM) or emb.dtype != np.float32:
        raise ValueError(
            f"encoder contract violated: expected float32 "
            f"({len(seeds)}, {EMBED_DIM}), got {emb.dtype} {emb.shape}"
        )
    return emb


def detect_embed_faces(
    media: DataFrame, n_entities: int = 54, encoder: str = "hash",
    one_face: bool = False,
) -> DataFrame:
    """(doc_id, frame_no, ts_ms, media_ref) -> FACES rows (with the
    reference's detection geometry: box [x,y,w,h] + confidence,
    face_recognition.py:176-192).

    ``one_face`` keeps only the largest face (max box HEIGHT) per
    frame — the reference's one_face selection at
    face_recognition.py:367-371; ties -> lowest face_idx (np.argmax
    first-occurrence).  One Python stage; numpy over the whole batch.
    """

    factory = _resolve_encoder(encoder)   # loud driver-side error

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = None if factory is None else _encoder_instance(encoder, factory)
        for pdf in batches:
            out_doc, out_frame, out_ts, out_idx = [], [], [], []
            out_box, out_conf, out_kp, out_emb = [], [], [], []
            pending: list[tuple[int, int]] = []  # (out row, face seed)
            for doc_id, frame_no, ts_ms in zip(
                pdf["doc_id"], pdf["frame_no"], pdf["ts_ms"]
            ):
                faces = fv.frame_faces(doc_id, int(frame_no), n_entities)
                if not faces:
                    out_doc.append(doc_id)
                    out_frame.append(frame_no)
                    out_ts.append(ts_ms)
                    out_idx.append(None)
                    out_box.append(None)
                    out_conf.append(None)
                    out_kp.append(None)
                    out_emb.append(None)
                    continue
                geoms = [
                    fv.face_geometry(doc_id, int(frame_no), j)
                    for j in range(len(faces))
                ]
                keep = range(len(faces))
                if one_face and len(faces) > 1:
                    keep = [int(np.argmax([g[0][3] for g in geoms]))]
                for j in keep:
                    kind, ent = faces[j]
                    box, conf = geoms[j]
                    kp = fv.face_keypoints(doc_id, int(frame_no), j)
                    out_doc.append(doc_id)
                    out_frame.append(frame_no)
                    out_ts.append(ts_ms)
                    out_idx.append(j)
                    out_box.append([float(x) for x in box])
                    out_conf.append(conf)
                    out_kp.append({
                        name: [float(x), float(y)]
                        for name, (x, y) in zip(fv.KEYPOINT_NAMES, kp)
                    })
                    if enc is None:
                        out_emb.append(
                            fv.face_embedding(
                                doc_id, int(frame_no), j, kind, ent,
                                n_entities,
                            ).astype(np.float32).tolist()
                        )
                    else:
                        pending.append(
                            (len(out_emb),
                             fv.face_seed(doc_id, int(frame_no), j))
                        )
                        out_emb.append(None)
            if pending:
                # ONE batched encoder call for all faces of the Arrow
                # batch — the reference's flatten-across-frames predict
                # (face_recognition.py:206-220)
                emb = _encode_with(
                    enc, np.array([s for _, s in pending], dtype=np.uint64)
                )
                for (pos, _), vec in zip(pending, emb):
                    out_emb[pos] = vec.tolist()
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "frame_no": pd.array(out_frame, dtype="int32"),
                    "ts_ms": pd.array(out_ts, dtype="float64"),
                    "face_idx": pd.array(out_idx, dtype="Int32"),
                    "box": out_box,
                    "confidence": pd.array(out_conf, dtype="Float32"),
                    "keypoints": out_kp,
                    "embedding": out_emb,
                }
            )

    return media.select("doc_id", "frame_no", "ts_ms").mapInPandas(
        fn, schema=FACES
    )


def detect_embed_link(
    media: DataFrame,
    gallery_arrays,
    distance_threshold: float = 0.6,
    n_entities: int = 54,
    encoder: str = "hash",
    matcher: str = "bruteforce",
    one_face: bool = False,
) -> DataFrame:
    """FUSED vision + linking in one Python stage: decode, embed
    (vectorized batch), and match against the broadcast gallery —
    embeddings never cross the Arrow boundary (SURVEY.md §4.5:
    collapsing adjacent mapInPandas stages beats a custom Catalyst
    rule).  Output rows carry only the label; empty frames keep one
    face_idx=NULL row with a NULL label.

    ``gallery_arrays`` is an sc.broadcast of
    ``linking.MATCHERS[matcher].build(linking._gallery_arrays(...))``
    — for the default 'bruteforce', the arrays triple itself.  Each
    partition runs the matcher's ``prepare`` once and its ``score``
    once per batch.
    """
    factory = _resolve_encoder(encoder)   # loud driver-side error
    prepare, score = MATCHERS[matcher].prepare, MATCHERS[matcher].score

    from pyspark.sql.types import (
        DoubleType, IntegerType, StringType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("ts_ms", DoubleType(), False),
        StructField("face_idx", IntegerType(), True),
        StructField("label", StringType(), True),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = None if factory is None else _encoder_instance(encoder, factory)
        state = prepare(gallery_arrays.value)
        rl_cache: dict[str, int] = {}
        for pdf in batches:
            docs_in = pdf["doc_id"].to_numpy()
            fnos = pdf["frame_no"].to_numpy()
            tss = pdf["ts_ms"].to_numpy()
            nrow = len(docs_in)
            if nrow == 0:
                continue
            # per-frame face sets: one cached lookup per frame (the md5
            # draws happen once per RUN via fv.run_faces), then all row
            # replication is numpy repeat — no per-row list appends
            face_lists = []
            counts = np.empty(nrow, dtype=np.int64)
            for i in range(nrow):
                d = docs_in[i]
                rl = rl_cache.get(d)
                if rl is None:
                    rl = fv.run_length(d)
                    rl_cache[d] = rl
                fl = fv.run_faces(d, int(fnos[i]) // rl, n_entities)
                face_lists.append(fl)
                counts[i] = len(fl)
            out_counts = np.maximum(counts, 1)  # empty frame -> sentinel row
            total = int(out_counts.sum())
            rep = np.repeat(np.arange(nrow), out_counts)
            offs = np.cumsum(out_counts) - out_counts
            within = np.arange(total, dtype=np.int64) - np.repeat(
                offs, out_counts
            )
            has_face = np.repeat(counts > 0, out_counts)
            # seeds/entities per face row: md5 per (doc, frame, face) is
            # the irreducible per-face work (the encoder key)
            seeds = np.zeros(total, dtype=np.uint64)
            ents = np.full(total, -2, dtype=np.int64)
            pos = 0
            for i in range(nrow):
                fl = face_lists[i]
                if not fl:
                    pos += 1
                    continue
                d = docs_in[i]
                f = int(fnos[i])
                for j, (kind, ent) in enumerate(fl):
                    seeds[pos] = fv.face_seed(d, f, j)
                    ents[pos] = -1 if kind == "unknown" else ent
                    pos += 1
            if one_face:
                # largest-face selection (reference one_face,
                # face_recognition.py:367-371): keep the max-box-height
                # face per frame BEFORE embedding; ties -> lowest
                # face_idx.  All segment math is numpy ufunc.at.
                boxes_all, _ = fv.face_geometry_batch(seeds)
                h = np.where(has_face, boxes_all[:, 3], -1.0)
                best_h = np.full(nrow, -np.inf, dtype=np.float64)
                np.maximum.at(best_h, rep, h)
                elig = has_face & (h >= best_h[rep])
                min_within = np.full(nrow, 1 << 30, dtype=np.int64)
                if elig.any():
                    np.minimum.at(min_within, rep[elig], within[elig])
                keep = ~has_face | (elig & (within == min_within[rep]))
                rep, within = rep[keep], within[keep]
                has_face = has_face[keep]
                seeds, ents = seeds[keep], ents[keep]
                total = len(rep)
            out_labels = np.full(total, None, dtype=object)
            if has_face.any():
                emb = (
                    fv.embed_faces_batch(
                        seeds[has_face], ents[has_face], n_entities
                    )
                    if enc is None
                    else _encode_with(enc, seeds[has_face])
                )
                out_labels[has_face], _ = score(
                    emb, state, distance_threshold
                )
            yield pd.DataFrame({
                "doc_id": pd.Series(docs_in[rep], dtype=object),
                "frame_no": pd.array(fnos[rep], dtype="int32"),
                "ts_ms": pd.array(tss[rep], dtype="float64"),
                "face_idx": pd.arrays.IntegerArray(
                    within.astype(np.int32), mask=~has_face
                ),
                "label": pd.Series(out_labels, dtype=object),
            })

    return media.select("doc_id", "frame_no", "ts_ms").mapInPandas(
        fn, schema=out_schema
    )
