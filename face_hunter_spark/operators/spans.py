"""Span operators over the interleaved ``documents`` table.

The reference's scan side is cv2 frame sampling (face_recognition.py:
75-126): decode a video, keep ~1 frame/sec, synthesize timestamps
(+1000 ms per step).  Here documents already carry their media spans;
"sampling" is a filter on span position that runs BEFORE the expensive
decode/embed UDF — the analogue of the reference's seek-based sampling
pushdown (SURVEY.md §4).

explode_spans / reassemble_spans also carry the BASELINE.json per-row
invariant: exploding and re-assembling must preserve
(kind, text, media_ref, order) exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents -> one row per span, keeping the original position.

    posexplode keeps the array order as ``pos`` so downstream never
    depends on ``offset`` being dense; ``offset`` is still carried for
    the round-trip invariant.
    """
    return documents.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(exploded: DataFrame) -> DataFrame:
    """Inverse of explode_spans: group back to (doc_id, spans) with the
    original order.  sort_array on (pos, struct) keeps order without a
    window — one shuffle, map-side combine applies."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "kind", "text", "media_ref", "offset"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def media_frames(documents: DataFrame) -> DataFrame:
    """Media spans only, with frame_no parsed from media_ref and the
    reference's synthesized by-second timestamps (frame_no * 1000 ms,
    face_recognition.py:113-121)."""
    return (
        explode_spans(documents)
        .where(F.col("kind") == "media")
        .select(
            "doc_id",
            F.element_at(F.split(F.col("media_ref"), "/"), -1)
            .cast("int")
            .alias("frame_no"),
            "media_ref",
        )
        .withColumn("ts_ms", (F.col("frame_no") * 1000.0).cast("double"))
    )
