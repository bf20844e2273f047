"""Golden tests for scene extraction, values taken from the reference's
own test suite (reference tests/test_scene_extraction.py:4-40):
identical inputs, identical expected scene boundaries."""

from collections import defaultdict

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from face_hunter_spark.operators.scenes import (
    extract_scenes_from_faces,
    extract_scenes_kernel,
    scenes_gaps_and_islands,
)

FACES = "doc_id string, frame_no int, ts_ms double, face_idx int, label string"

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


def face_rows(doc, frames, timestamps):
    """One row per face, in detector order; an empty frame is one row
    with NULL face_idx (the linked-faces contract)."""
    rows = []
    for f, (labels, ts) in enumerate(zip(frames, timestamps)):
        rows += [(doc, f, float(ts), i, lab) for i, lab in enumerate(labels)]
        if not labels:
            rows.append((doc, f, float(ts), None, None))
    return rows


def kernel_scenes(rows, frame_threshold):
    """Driver-side reference: collected face rows grouped per doc and
    frame, then :func:`extract_scenes_kernel` per doc."""
    docs = defaultdict(lambda: defaultdict(list))
    for doc, frame_no, ts, face_idx, label in rows:
        faces = docs[doc][(ts, frame_no)]
        if face_idx is not None:
            faces.append((face_idx, label))
    out = []
    for doc, frames in docs.items():
        keys = sorted(frames)
        found = extract_scenes_kernel(
            [[lab for _, lab in sorted(frames[k])] for k in keys],
            [k[0] for k in keys],
            frame_threshold,
        )
        out += [
            (doc, i, tuple(names), s, e)
            for i, (names, s, e) in enumerate(found)
        ]
    return sorted(out)


def scene_key(df):
    return sorted(
        (r.doc_id, r.scene_idx, tuple(r.entities), r.start_ms, r.end_ms)
        for r in df.collect()
    )


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
def test_from_faces_matches_kernel(spark):
    rows = face_rows("vid_a", PREDICTIONS, TIMESTAMPS) + face_rows(
        "vid_b", PREDICTIONS_2, TIMESTAMPS
    )
    df = spark.createDataFrame(rows, FACES)
    got = {
        (r.doc_id, r.scene_idx): (list(r.entities), r.start_ms, r.end_ms)
        for r in extract_scenes_from_faces(df, 3).collect()
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
    """extract_scenes_from_faces == frame assembly then the per-doc
    kernel, run on the driver over the collected linked rows, on a
    corpus with empty frames and multi-face rows."""
    from face_hunter_spark import synth
    from face_hunter_spark.operators import linking, spans, vision
    from face_hunter_spark.schemas import DOCUMENTS

    docs = spark.createDataFrame(synth.make_documents_pdf(25, 8), DOCUMENTS)
    gal = synth.make_gallery_pdf(n_entities=8, thumbs_per_entity=5, distractors=2)
    media = spans.media_frames(docs)
    bc = spark.sparkContext.broadcast(linking._gallery_arrays(gal))
    linked = vision.detect_embed_link(media, bc, n_entities=8).select(
        "doc_id", "frame_no", "ts_ms", "face_idx", "label"
    ).cache()
    rows = [tuple(r) for r in linked.collect()]
    assert any(r[3] is None for r in rows)  # empty frames
    assert any(r[3] is not None and r[3] > 0 for r in rows)  # multi-face
    want = kernel_scenes(rows, 3)
    assert want
    assert scene_key(extract_scenes_from_faces(linked, 3)) == want


LABELS = st.sampled_from(["A", "B", "C", "unknown"])
DOC = st.lists(st.lists(LABELS, max_size=3), min_size=1, max_size=12)


@pytest.mark.spark
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(docs=st.lists(DOC, min_size=1, max_size=4),
       threshold=st.integers(1, 5), rnd=st.randoms(use_true_random=False))
def test_from_faces_equals_kernel_property(spark, docs, threshold, rnd):
    """Random docs with empty frames, multi-face frames and 'unknown'
    labels, rows in random order: the Spark scene stage returns what
    the per-doc kernel returns, at every threshold.  One Spark job per
    example."""
    rows = []
    for d, frames in enumerate(docs):
        rows += face_rows(f"doc{d}", frames, [f * 1000 for f in range(len(frames))])
    rnd.shuffle(rows)
    got = scene_key(
        extract_scenes_from_faces(spark.createDataFrame(rows, FACES), threshold)
    )
    assert got == kernel_scenes(rows, threshold)
