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


def stream_dedup_documents(
    docs: DataFrame,
    watermark: str = "10 minutes",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop re-ingested duplicate documents with
    state-store-backed ``dropDuplicatesWithinWatermark`` keyed on the
    same 16-byte content fingerprint as the batch ``dedup_exact``
    (operators/dedup.py) — a crawler re-fetching the same page within
    the watermark horizon emits it once.

    ``docs`` is a *streaming* DataFrame carrying ``text_col`` and an
    event-time ``ts_col``; output is the input rows minus later
    duplicates, with the ``fingerprint`` column attached (so downstream
    batch dedup can pick up where the streaming horizon ends).

    Scale: state is keyed by fingerprint and BOUNDED by the watermark —
    entries older than the horizon are evicted, so state size tracks
    the duplicate-arrival window, not corpus size.  This is the
    streaming analogue of the batch exact-dedup groupBy: same
    fingerprint, same keep-first semantics, but O(horizon) state
    instead of an O(corpus) shuffle.  Cross-horizon duplicates are the
    batch job's responsibility (the catalog anti-join already skips
    re-linked docs — pipeline.py).

    Plain ``dropDuplicates`` on a stream would keep every fingerprint
    ever seen (unbounded state); the watermark variant is the only
    shape that survives an unbounded corpus.
    """
    from .operators.text import doc_fingerprint

    return (
        docs.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


# --------------------------------------------------------------------------
# custom stateful operator: incremental scene runs across micro-batches
# --------------------------------------------------------------------------

STREAM_SCENES = (
    "doc_id string, scene_idx int, entities string, "
    "start_ms double, end_ms double, n_frames int"
)
_SCENE_STATE = (
    "sig string, start_ms double, end_ms double, n_frames int, n_emitted int"
)


def streaming_scene_runs(
    frames: DataFrame,
    stale_gap_ms: int = 60_000,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Incremental gaps-and-islands scene smoothing as a custom
    stateful streaming operator (``applyInPandasWithState``).

    ``frames`` is a *streaming* DataFrame of per-frame predictions
    ``(doc_id string, frame_no int, ts_ms double, labels
    array<string>)`` arriving in frame order per doc (the shape the
    vision stage emits).  Per-doc state carries the open scene (run of
    identical sorted entity sets) across micro-batches; a scene is
    emitted when its run closes — because the signature changed, an
    empty frame arrived, or the doc went stale: no frames for
    ``stale_gap_ms`` of *event time*, enforced with an event-time
    timeout against the ``ts_ms``-derived watermark (processing-time
    timeouts would busy-loop no-data "state cleanup" micro-batches
    forever on an ASAP trigger; event-time timeouts only fire when the
    watermark actually advances).  Equivalent to
    ``operators.scenes.scenes_gaps_and_islands`` over the concatenated
    input, modulo the final still-open run of a doc whose watermark
    never passes it (intended semantics, not the reference's quirky
    smoothing — see operators/scenes.py module docstring).

    This is the streaming analogue the reference lacks entirely
    (SURVEY.md §2.11): state = O(1) per live doc (signature + 4
    numbers), so the state store stays tiny even at 10^12 docs/day —
    scale comes from key-partitioned state, not repeated reshuffles.
    """
    import pandas as pd  # noqa: F401  (pdf iterator contract)

    cols = ["doc_id", "scene_idx", "entities", "start_ms", "end_ms",
            "n_frames"]

    def fn(key, pdf_iter, state):
        doc_id = key[0]
        if state.hasTimedOut:
            sig, start_ms, end_ms, n_frames, n_emitted = state.get
            if sig:
                # flush the open scene but RETIRE the state in two
                # phases: keep the n_emitted counter for another
                # 10x gap so a doc that resumes continues its
                # scene_idx sequence instead of re-issuing index 0
                # (duplicate (doc_id, scene_idx) keys downstream);
                # a second quiet timeout removes it for good.
                state.update((None, 0.0, 0.0, 0, n_emitted + 1))
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + 10 * stale_gap_ms
                )
                yield pd.DataFrame(
                    [(doc_id, n_emitted, sig, start_ms, end_ms, n_frames)],
                    columns=cols,
                )
            else:
                state.remove()
            return
        if state.exists:
            sig, start_ms, end_ms, n_frames, n_emitted = state.get
        else:
            sig, start_ms, end_ms, n_frames, n_emitted = None, 0.0, 0.0, 0, 0
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_ms", "frame_no"])
            for ts, labels in zip(pdf["ts_ms"], pdf["labels"]):
                ents = sorted(x for x in labels if x != "unknown")
                cur = ",".join(ents)
                if not ents:
                    # empty frame closes any open run
                    if sig:
                        out.append((doc_id, n_emitted, sig, start_ms,
                                    end_ms, n_frames))
                        n_emitted += 1
                    sig = None
                    continue
                if sig == cur:
                    end_ms, n_frames = ts, n_frames + 1
                else:
                    if sig:
                        out.append((doc_id, n_emitted, sig, start_ms,
                                    end_ms, n_frames))
                        n_emitted += 1
                    sig, start_ms, end_ms, n_frames = cur, ts, ts, 1
        state.update((sig, start_ms, end_ms, n_frames, n_emitted))
        # flush when event time moves stale_gap_ms past the open run
        # (must stay strictly ahead of the current watermark)
        state.setTimeoutTimestamp(
            max(int(end_ms) + stale_gap_ms,
                state.getCurrentWatermarkMs() + 1)
        )
        if out:
            yield pd.DataFrame(out, columns=cols)

    from pyspark.sql.streaming.state import GroupStateTimeout

    with_wm = frames.withColumn(
        "event_time", F.timestamp_millis(F.col("ts_ms").cast("long"))
    ).withWatermark("event_time", watermark_delay)
    return with_wm.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=STREAM_SCENES,
        stateStructType=_SCENE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


STREAM_SCENES_KERNEL = (
    "doc_id string, scene_idx int, entities string, "
    "start_ms double, end_ms double"
)
# pos = frames consumed; win_* = the sliding t-frame window ending at
# the last frame (lens / comma-joined sorted sigs / timestamps);
# active = open scene signature (null = none); opened_at = frame index
# the open scene started at (the final-frame drop quirk needs it)
_KERNEL_STATE = (
    "pos int, win_lens array<int>, win_sigs array<string>, "
    "win_ts array<double>, active string, start_ts double, "
    "opened_at int, n_emitted int, last_ts double"
)


def streaming_scene_kernel(
    frames: DataFrame,
    frame_threshold: int = 3,
    stale_gap_ms: int = 60_000,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """The QUIRK-FAITHFUL scene kernel (operators/scenes.py
    extract_scenes_kernel — the reference's graph_postprocessing.py:8-59
    semantics, cardinality-only close check, backdated scene ends,
    positional empty-frame sentinels, final-frame drop quirk) as an
    incremental stateful streaming operator.

    Unlike ``streaming_scene_runs`` (gaps-and-islands, the *intended*
    semantics), this operator emits, for frames arriving in order per
    doc, EXACTLY the scenes the batch kernel emits on the concatenated
    input — verified side-by-side in tests/test_streaming_kernel.py.
    The batch kernel's end-of-sequence behavior (an open scene closes
    at the last frame; a scene opened ON the last frame is dropped)
    maps to the stale-doc event-time timeout: when the watermark moves
    ``stale_gap_ms`` past a doc's last frame, that frame IS the doc's
    final frame.

    State per live doc is O(frame_threshold): the t-frame sliding
    window (lengths, signatures, timestamps) + the open scene — so the
    state store scales with live docs, not corpus size, and the
    operator shuffles each frame exactly once (the doc_id state
    partitioning), same as the batch applyInPandas shape.
    """
    import pandas as pd

    t = int(frame_threshold)
    cols = ["doc_id", "scene_idx", "entities", "start_ms", "end_ms"]

    def fn(key, pdf_iter, state):
        doc_id = key[0]
        if state.hasTimedOut:
            (pos, _wl, _ws, _wt, active, start_ts, opened_at,
             n_emitted, last_ts) = state.get
            if active is not None and opened_at < pos - 1:
                # batch kernel: an open scene closes at the final
                # frame's timestamp; one opened ON the final frame is
                # dropped.  Two-phase retire keeps scene_idx continuity
                # for a doc that resumes (see streaming_scene_runs).
                state.update((0, [], [], [], None, 0.0, -1,
                              n_emitted + 1, 0.0))
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + 10 * stale_gap_ms
                )
                yield pd.DataFrame(
                    [(doc_id, n_emitted, active, start_ts, last_ts)],
                    columns=cols,
                )
            else:
                state.remove()
            return
        if state.exists:
            (pos, win_lens, win_sigs, win_ts, active, start_ts,
             opened_at, n_emitted, last_ts) = state.get
            win_lens, win_sigs, win_ts = (
                list(win_lens), list(win_sigs), list(win_ts)
            )
        else:
            pos, win_lens, win_sigs, win_ts = 0, [], [], []
            active, start_ts, opened_at, n_emitted = None, 0.0, -1, 0
            last_ts = 0.0
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_ms", "frame_no"])
            for ts, labels in zip(pdf["ts_ms"], pdf["labels"]):
                f = pos
                rec = sorted(x for x in labels if x != "unknown")
                if not rec:
                    rec = [str(f)]  # positional sentinel (:24-33)
                sig = ",".join(rec)
                ln = len(rec)
                win_lens.append(ln)
                win_sigs.append(sig)
                win_ts.append(float(ts))
                if len(win_lens) > t:
                    del win_lens[0], win_sigs[0], win_ts[0]
                last_ts = float(ts)
                pos += 1
                if f - (t - 1) < 0:
                    continue
                lo_ts = win_ts[0]
                if active is not None:
                    a_len = active.count(",") + 1
                    # close: cardinality-only match over lo..f (:40-43)
                    if not any(l == a_len for l in win_lens):
                        out.append((doc_id, n_emitted, active,
                                    start_ts, lo_ts))
                        n_emitted += 1
                        active = None
                # start skip-guard: prior t-1 frames' lengths (:49-51)
                if any(l != ln for l in win_lens[:-1]):
                    continue
                if active is None and all(
                    s == sig for s in win_sigs[:-1]
                ):
                    active, start_ts, opened_at = sig, lo_ts, f
        state.update((pos, win_lens, win_sigs, win_ts, active,
                      start_ts, opened_at, n_emitted, last_ts))
        state.setTimeoutTimestamp(
            max(int(last_ts) + stale_gap_ms,
                state.getCurrentWatermarkMs() + 1)
        )
        if out:
            yield pd.DataFrame(out, columns=cols)

    from pyspark.sql.streaming.state import GroupStateTimeout

    with_wm = frames.withColumn(
        "event_time", F.timestamp_millis(F.col("ts_ms").cast("long"))
    ).withWatermark("event_time", watermark_delay)
    return with_wm.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=STREAM_SCENES_KERNEL,
        stateStructType=_KERNEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_enrich(
    stream_df: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a (streaming) mention/event
    stream against a batch dimension table (entity attributes, the
    label->URI map, quality tiers).

    The static side is marked for BROADCAST, so each micro-batch plans
    a broadcast hash join — no stateful streaming join, no watermark,
    no shuffle of the stream.  The dim is re-resolved per micro-batch
    (Spark re-plans stream-static joins every batch), so a dim VIEW
    over a catalog table picks up new snapshots between batches —
    slow-changing-dimension refresh for free.

    Only 'inner' and 'left' joins are accepted: right/full outer
    stream-static joins are not supported by Structured Streaming
    (the static side would need result updates as the stream evolves).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "stream-static enrichment supports how='inner'|'left' only"
        )
    return stream_df.join(F.broadcast(dim), on, how)
