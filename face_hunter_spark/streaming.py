"""Structured Streaming surface.

The reference is batch-only — its single incremental behavior is the
``video_exists`` skip (hunter.py:141).  This module composes the same
engine with Spark Structured Streaming for the two streaming shapes a
KG-construction deployment needs:

1. ``stream_link_documents`` — incremental ingestion: a file stream of
   ``documents``-shaped parquet, processed with foreachBatch, where
   each micro-batch is one ``SparkHunter.link`` — the SAME idempotent
   link job (anti-join vs committed triples + one snapshot append) over
   the handle's prepared state.  Exactly-once at the doc level comes
   from the anti-join, not from sink-side state, so replays/restarts
   are safe by construction — the streaming analog of the reference's
   skip guard.  Every stage of link_documents is a
   stateless transform (scene extraction is per-doc-complete), so no
   watermark/state-store is needed on this path.

2. ``windowed_mention_counts`` — event-time analytics over a mention
   stream: watermarked sliding-window counts per entity, demonstrating
   late-data handling (the classic windowed-agg shape for monitoring
   the linker's output rates).

Triggers default to ``availableNow`` so the same code runs as an
incremental batch job in tests and as a continuous stream in
production.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .schemas import DOCUMENTS

if TYPE_CHECKING:
    from .hunter import SparkHunter


def stream_link_documents(
    hunter: SparkHunter,
    input_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and with available_now=True, drain) the ingestion stream:
    each micro-batch is one ``hunter.link``, so every batch reuses the
    handle's gallery, settings and cached canonical map.  Returns the
    StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        hunter.link(batch_df, run_id=f"stream-{batch_id:06d}")

    stream = (
        hunter.spark.readStream.schema(DOCUMENTS)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = stream.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return stream.trigger(processingTime="30 seconds").start()


def windowed_mention_counts(
    mentions: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed entity-mention counts with late-data
    tolerance.  ``mentions`` is a (streaming or batch) DataFrame with
    (ts timestamp, label string); output one row per (window, label).
    """
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "label",
            "n_mentions",
        )
    )
