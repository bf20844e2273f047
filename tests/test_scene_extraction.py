"""Golden tests for scene extraction, values taken from the reference's
own test suite (reference tests/test_scene_extraction.py:4-40):
identical inputs, identical expected scene boundaries."""

import pandas as pd
import pytest

from face_hunter_spark.operators.scenes import (
    extract_scenes,
    extract_scenes_kernel,
    scenes_gaps_and_islands,
)

PREDICTIONS = [
    ["Ali", "Bo"], ["Ali", "Bo"], ["Bo", "Ali"], ["Bo", "Ali"],
    ["Bo", "Ali"], ["Bo"], ["Bo"], ["Bo"], ["Bo"],
]
TIMESTAMPS = [1, 2, 3, 4, 5, 6, 7, 8, 9]

PREDICTIONS_2 = [
    ["Ali", "Bo"], ["Ali", "Bo"], ["Bo", "Ali"], ["Bo", "Ali"],
    ["Bo", "Ali"], ["Bo"], ["Bo"], ["Bo", "Ali"], ["Bo", "Ali"],
]


def simple(scenes):
    return [(names, s, e) for names, s, e in scenes]


def test_default_threshold():
    assert simple(extract_scenes_kernel(PREDICTIONS, TIMESTAMPS)) == [
        (["Ali", "Bo"], 1, 6),
        (["Bo"], 6, 9),
    ]


def test_one_threshold():
    assert simple(extract_scenes_kernel(PREDICTIONS, TIMESTAMPS, 1)) == [
        (["Ali", "Bo"], 1, 6),
        (["Bo"], 6, 9),
    ]


def test_five_threshold():
    assert simple(extract_scenes_kernel(PREDICTIONS, TIMESTAMPS, 5)) == [
        (["Ali", "Bo"], 1, 9),
    ]


def test_three_threshold_with_false_predictions():
    assert simple(extract_scenes_kernel(PREDICTIONS_2, TIMESTAMPS, 3)) == [
        (["Ali", "Bo"], 1, 9),
    ]


def test_unknown_and_empty_cleaning():
    # 'unknown' dropped; empty frames become unique positional
    # sentinels, so they can CONTINUE a 1-entity scene (length-only
    # match quirk) but never START one at threshold >= 2.
    preds = [["Bo", "unknown"], ["Bo"], ["Bo"], [], ["Bo"], ["Bo"], ["X"], ["X"], ["X"]]
    ts = list(range(1, 10))
    out = extract_scenes_kernel(preds, ts, 3)
    assert out[0][0] == ["Bo"] and out[0][1] == 1
    # the scene survives the empty frame (len 1 sentinel) and even 'X'
    # frames (still len 1): length-only continuation — closes at end.
    assert out[0][2] == 9


@pytest.mark.spark
def test_applyinpandas_matches_kernel(spark):
    rows = []
    for doc, preds in [("vid_a", PREDICTIONS), ("vid_b", PREDICTIONS_2)]:
        for i, (labels, ts) in enumerate(zip(preds, TIMESTAMPS)):
            rows.append({"doc_id": doc, "frame_no": i, "ts_ms": float(ts),
                         "labels": labels})
    from face_hunter_spark.schemas import FRAME_PREDICTIONS

    df = spark.createDataFrame(pd.DataFrame(rows), schema=FRAME_PREDICTIONS)
    got = {
        (r.doc_id, r.scene_idx): (list(r.entities), r.start_ms, r.end_ms)
        for r in extract_scenes(df, 3).collect()
    }
    assert got == {
        ("vid_a", 0): (["Ali", "Bo"], 1.0, 6.0),
        ("vid_a", 1): (["Bo"], 6.0, 9.0),
        ("vid_b", 0): (["Ali", "Bo"], 1.0, 9.0),
    }


@pytest.mark.spark
def test_gaps_and_islands_variant(spark):
    rows = [
        {"doc_id": "d", "frame_no": i, "ts_ms": float(i + 1), "labels": labels}
        for i, labels in enumerate(PREDICTIONS)
    ]
    from face_hunter_spark.schemas import FRAME_PREDICTIONS

    df = spark.createDataFrame(pd.DataFrame(rows), schema=FRAME_PREDICTIONS)
    got = sorted(
        (list(r.entities), r.start_ms, r.end_ms, r.n_frames)
        for r in scenes_gaps_and_islands(df).collect()
    )
    # strict-equality runs: [Ali,Bo] x5 then [Bo] x4
    assert got == [(["Ali", "Bo"], 1.0, 5.0, 5), (["Bo"], 6.0, 9.0, 4)]


@pytest.mark.spark
def test_fused_faces_path_equals_two_stage(spark):
    """extract_scenes_from_faces == assemble_frame_predictions |>
    extract_scenes on a corpus with empty frames and multi-face rows."""
    import pyspark.sql.functions as F

    from face_hunter_spark import synth
    from face_hunter_spark.operators import linking, spans, vision
    from face_hunter_spark.operators.scenes import extract_scenes_from_faces

    docs = spark.createDataFrame(
        synth.make_documents_pdf(25, 8),
        schema=__import__("face_hunter_spark.schemas", fromlist=["DOCUMENTS"]).DOCUMENTS,
    )
    gal = synth.make_gallery_pdf(n_entities=8, thumbs_per_entity=5, distractors=2)
    media = spans.media_frames(docs)
    bc = spark.sparkContext.broadcast(linking._gallery_arrays(gal))
    linked = vision.detect_embed_link(media, bc, n_entities=8).cache()
    two_stage = extract_scenes(
        linking.assemble_frame_predictions(linked), 3
    )
    fused = extract_scenes_from_faces(linked, 3)
    key = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.scene_idx, tuple(r.entities), r.start_ms, r.end_ms)
        for r in df.collect()
    )
    assert key(two_stage) == key(fused)


def test_packed_variant_equals_apply_in_pandas(spark):
    """extract_scenes_packed is a physical rewrite only — identical
    output to extract_scenes on the same frame predictions."""
    import pandas as pd
    import pyspark.sql.functions as F
    from face_hunter_spark.operators.scenes import (
        extract_scenes, extract_scenes_packed,
    )

    rows = []
    for d in range(6):
        n = 5 + d
        for f in range(n):
            labels = (["A"] if f < n // 2 else ["A", "B"]) if d % 2 else (
                ["unknown"] if f == 2 else ["B"]
            )
            rows.append((f"doc{d}", f, f * 1000.0, labels))
    pdf = pd.DataFrame(rows, columns=["doc_id", "frame_no", "ts_ms", "labels"])
    preds = spark.createDataFrame(
        pdf, "doc_id string, frame_no int, ts_ms double, labels array<string>"
    )

    def norm(df):
        return sorted(
            (r.doc_id, r.scene_idx, tuple(r.entities), r.start_ms, r.end_ms)
            for r in df.collect()
        )

    for thr in (1, 2, 3):
        assert norm(extract_scenes_packed(preds, thr)) == norm(
            extract_scenes(preds, thr)
        ), f"threshold {thr}"
