"""Evaluation harness — the reference's ``cli.py run_detection`` /
``evaluate_on_dataset`` path (src/models/evaluation.py:16-90) as a
distributed job.

Ground truth for the synthetic corpus comes from the same
deterministic fake-vision model the pipeline decodes with (the
analogue of information.csv manifests): per frame, the planted entity
set; per doc, the union.  Predictions come from the REAL pipeline
(explode -> decode/embed -> link -> per-frame labels), so the metrics
measure the linker end to end:

* frame-level accuracy / precision / recall / F1 (two-level average:
  frames within doc, then docs — evaluation.py:63-90)
* video-level accuracy (>10% of frames or >1 frame hit,
  evaluation.py:148-202)

With a clean gallery the linker should be near-perfect on entity
faces; 'unknown' faces are excluded from truth exactly like the
reference maps out-of-gallery entities to 'unknown' via
missing_entities (evaluation.py:125).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from . import fakevision as fv
from .operators import linking, metrics, spans, vision
from .operators.util import ensure_parallelism

TRUTH = StructType([
    StructField("doc_id", StringType(), False),
    StructField("frame_no", IntegerType(), False),
    StructField("ts_ms", DoubleType(), False),
    StructField("y_true", ArrayType(StringType()), False),
])


def frame_truth(media: DataFrame, n_entities: int) -> DataFrame:
    """Planted ground-truth entity labels per frame ('unknown' faces
    excluded — they are out-of-gallery by construction)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = fv.entity_names(n_entities)
        for pdf in batches:
            out = []
            for doc_id, frame_no, ts in zip(
                pdf["doc_id"], pdf["frame_no"], pdf["ts_ms"]
            ):
                faces = fv.frame_faces(doc_id, int(frame_no), n_entities)
                out.append(
                    [names[e] for kind, e in faces if kind == "entity"]
                )
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "frame_no": pdf["frame_no"].astype("int32"),
                "ts_ms": pdf["ts_ms"].astype("float64"),
                "y_true": pd.Series(out, dtype=object),
            })

    return media.select("doc_id", "frame_no", "ts_ms").mapInPandas(
        fn, schema=TRUTH
    )


def evaluate_linking(
    documents: DataFrame,
    gallery_pdf,
    n_entities: int,
    distance_threshold: float = 0.6,
) -> dict:
    """Run the real linking path and score it against the planted
    truth.  Returns {frame_metrics, video_accuracy} dicts.  The gallery
    broadcast is destroyed once the metrics are collected."""
    from pyspark.sql import SparkSession

    media = ensure_parallelism(spans.media_frames(documents), by="doc_id")
    bc = SparkSession.getActiveSession().sparkContext.broadcast(
        linking._gallery_arrays(gallery_pdf)
    )
    linked = vision.detect_embed_link(
        media, bc, distance_threshold, n_entities=n_entities
    )
    preds = linking.assemble_frame_predictions(linked).withColumn(
        "y_pred", F.array_sort(F.filter("labels", lambda x: x != F.lit("unknown")))
    )
    truth = frame_truth(media, n_entities).withColumn(
        "y_true", F.array_sort("y_true")
    )
    joined = preds.join(truth, ["doc_id", "frame_no", "ts_ms"]).where(
        # frames with no in-gallery truth are skipped, like the
        # reference skips frames with empty ground truth
        F.size("y_true") > 0
    )

    # ONE Spark job for both metric families (review r4: this used to
    # be two collects over a cached frame — two recomputes)
    try:
        r = metrics.evaluation_report(joined).collect()[0]
    finally:
        bc.destroy()
    return {
        "frame_metrics": {
            "accuracy": r.accuracy, "precision": r.precision,
            "recall": r.recall, "f1": r.f1,
        },
        "video_accuracy": r.video_accuracy,
        "n_videos": r.n_videos,
    }
