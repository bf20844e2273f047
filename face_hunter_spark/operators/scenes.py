"""Scene extraction — the reference's signature sequence operator
(src/postprocessing/graph_postprocessing.py:8-59) re-expressed for
Spark.

One form per semantics:

1. ``extract_scenes_kernel`` — a faithful re-implementation of the
   reference semantics *including its quirks* (SURVEY.md §2.12.1-2),
   because they change scene boundaries and therefore emitted triples
   (the P/R >= 0.95 parity gate).  Verified bit-exact against the
   reference's golden tests (tests/test_scene_extraction.py:4-40).
   Quirks kept:
     * scene-continuation match is CARDINALITY-ONLY: the reference's
       ``len(pred) == len(names) or all(sort(pred) == names)`` short-
       circuits on equal length, and the numpy compare of unequal-
       length arrays is scalar False — so only length matters
       (graph_postprocessing.py:40-43).
     * the start skip-guard's ``(pred) == 0`` compares a list to 0 and
       is always False; only the length-mismatch arm is live
       (graph_postprocessing.py:49-51).
     * scene end is backdated to ``ts[frame - threshold + 1]``; an
       open scene at the last frame closes at ``ts[last]``; a scene
       that closes AND restarts on the last frame is dropped.
   ``extract_scenes_from_faces`` scales it out: the algorithm is
   sequential per video (loop-carried scene state), but videos are
   independent, so one shuffle packs each doc's face rows into a row
   and a ``mapInPandas`` stage runs the kernel over Arrow batches of
   whole docs.  This is the link pipeline's form.

2. ``scenes_gaps_and_islands`` — the idiomatic Spark-native variant
   (lag + change-flag + running-sum island id).  Pure built-in
   expressions (whole-stage codegen, no Python), but it implements the
   *intended* semantics (strict sorted-equality runs, no threshold
   smoothing), NOT the reference quirks — kept as the documented
   scalable alternative and used for SQL-oracle checks.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..schemas import SCENES


def clean_recognitions(labels_seq: Iterable[list[str]]) -> list[list[str]]:
    """Drop 'unknown'; an empty frame gets a unique positional sentinel
    [str(i)] (graph_postprocessing.py:24-33)."""
    out = []
    for i, labels in enumerate(labels_seq):
        kept = [x for x in labels if x != "unknown"]
        out.append(kept if kept else [str(i)])
    return out


def extract_scenes_kernel(
    labels_seq: list[list[str]],
    timestamps: list[float],
    frame_threshold: int = 3,
) -> list[tuple[list[str], float, float]]:
    """Faithful reference semantics.  Returns [(sorted_names, start, end)]."""
    if len(labels_seq) != len(timestamps):
        raise ValueError("recognitions do not fit timestamps")
    recs = clean_recognitions(labels_seq)
    n = len(recs)
    t = frame_threshold
    lens = [len(r) for r in recs]
    sorted_recs = [sorted(r) for r in recs]

    scenes: list[tuple[list[str], float, float]] = []
    active: list[str] | None = None  # sorted names of the open scene
    start_ts: float = 0.0

    for f in range(n):
        if f - (t - 1) < 0:
            continue
        lo = f - (t - 1)

        # close: none of the last t frames (lo..f) has the active
        # scene's cardinality  (quirk: length-only match)
        if active is not None and not any(
            lens[i] == len(active) for i in range(lo, f + 1)
        ):
            scenes.append((active, start_ts, timestamps[lo]))
            active = None

        # open scene reaching the final frame closes there
        if active is not None and f == n - 1:
            scenes.append((active, start_ts, timestamps[f]))
            # reference leaves the scene "active" but the loop ends;
            # a restart below on this frame would be dropped anyway,
            # and the start-guard below can't re-append it.

        # start skip-guard: any of the t-1 frames BEFORE f with a
        # different cardinality than the current frame blocks a start
        # (quirk: the ==0 arm is dead)
        if any(lens[i] != lens[f] for i in range(lo, f)):
            continue

        if active is None and all(
            sorted_recs[i] == sorted_recs[f] for i in range(lo, f)
        ):
            # NB: opening on the very last frame is a no-op (nothing is
            # emitted after the loop) — same as the reference, where a
            # scene (re)started on the final iteration is dropped.
            active = sorted_recs[f]
            start_ts = timestamps[lo]

    return scenes


def extract_scenes_from_faces(
    linked_faces: DataFrame, frame_threshold: int = 3
) -> DataFrame:
    """Frame assembly + scene extraction in one doc_id shuffle.  Input:
    linked face rows (doc_id, frame_no, ts_ms, face_idx, label) with
    NULL face_idx marking empty frames; output: SCENES.  Each frame's
    labels are ordered by face_idx (detector output order), frames by
    (ts_ms, frame_no), and every doc runs through
    :func:`extract_scenes_kernel`."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_ents, out_s, out_e = [], [], [], [], []
            for doc_id, rows in zip(pdf["doc_id"], pdf["rows"]):
                frames: dict[tuple, list] = {}
                for r in rows:  # struct(ts_ms, frame_no, face_idx, label)
                    key = (r["ts_ms"], r["frame_no"])
                    bucket = frames.setdefault(key, [])
                    if r["face_idx"] is not None:
                        bucket.append((r["face_idx"], r["label"]))
                keys = sorted(frames)
                labels_seq = [
                    [lab for _, lab in sorted(frames[k])] for k in keys
                ]
                ts_seq = [k[0] for k in keys]
                found = extract_scenes_kernel(
                    labels_seq, ts_seq, frame_threshold
                )
                for i, (names, s, e) in enumerate(found):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_ents.append(names)
                    out_s.append(s)
                    out_e.append(e)
            # explicit dtypes: an empty batch must not infer float64 for
            # the list<string> column
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype=object),
                    "scene_idx": pd.array(out_idx, dtype="int32"),
                    "entities": pd.Series(out_ents, dtype=object),
                    "start_ms": pd.array(out_s, dtype="float64"),
                    "end_ms": pd.array(out_e, dtype="float64"),
                }
            )

    from .util import ensure_parallelism

    # one JVM-side shuffle packs each doc into a single row; the Python
    # stage then streams Arrow batches of docs — no per-group pandas
    # machinery (applyInPandas pays ~ms per group; docs are tiny).
    # Explicit-count repartition after the agg: AQE would otherwise
    # coalesce the packed shuffle by bytes and serialize the Python
    # kernel onto a handful of cores at replica scale
    packed = (
        linked_faces.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct("ts_ms", "frame_no", "face_idx", "label")
            ).alias("rows")
        )
    )
    return ensure_parallelism(packed, factor=1).mapInPandas(fn, schema=SCENES)


def scenes_gaps_and_islands(frame_predictions: DataFrame) -> DataFrame:
    """Spark-native run-length variant: island = maximal run of frames
    with identical sorted entity sets (after 'unknown' removal; empty
    frames break runs).  100% built-in expressions — whole-stage
    codegen, no Python workers.  Intended semantics, not the quirky
    reference smoothing; see module docstring.
    """
    w = Window.partitionBy("doc_id").orderBy("ts_ms", "frame_no")
    cleaned = frame_predictions.withColumn(
        "ents", F.array_sort(F.filter("labels", lambda x: x != F.lit("unknown")))
    )
    flagged = cleaned.withColumn(
        "chg",
        F.when(
            F.lag("ents").over(w).isNull()
            | (F.lag("ents").over(w) != F.col("ents")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn("island", F.sum("chg").over(w))
    return (
        islands.where(F.size("ents") > 0)
        .groupBy("doc_id", "island", "ents")
        .agg(
            F.min("ts_ms").alias("start_ms"),
            F.max("ts_ms").alias("end_ms"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .select(
            "doc_id",
            F.col("island").cast("int").alias("scene_idx"),
            F.col("ents").alias("entities"),
            "start_ms",
            "end_ms",
            "n_frames",
        )
    )
