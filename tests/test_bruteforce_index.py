"""The pivot-bound ``MATCHERS['bruteforce']`` kernel against the
whole-gallery formula it replaces: argmin of 1 - q.g over unit rows,
threshold else 'unknown', ties to the lowest gallery id.  Random
galleries mix tight and loose labels, exact duplicate rows under two
labels and NULL labels.  Pure numpy, no Spark session needed."""

import numpy as np
import pandas as pd
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from face_hunter_spark.operators import linking

BF = linking.MATCHERS["bruteforce"]
DIM = 24
#: float32 rounding of a unit-vector distance stays well inside this
CLOSE = 1e-6


def _arrays(labels, mat):
    return linking._gallery_arrays(pd.DataFrame({
        "gallery_id": np.arange(len(mat)),
        "label": pd.Series(labels, dtype=object),
        "embedding": list(mat.astype(np.float32)),
    }))


def _reference(q, labels, mat, norms, threshold):
    """The whole-gallery formula, each pair its own float64 dot product
    (equal rows, equal distances).  Returns (labels, distances, units,
    best rows)."""
    units = mat / norms[:, None]
    qn = q.astype(np.float64) / np.linalg.norm(q.astype(np.float64), axis=1,
                                               keepdims=True)
    d = 1.0 - (qn[:, None, :] * units.astype(np.float64)[None]).sum(-1)
    best = np.argmin(d, axis=1)
    bestd = d[np.arange(len(q)), best]
    lab = np.where(bestd < threshold, labels[best], linking.UNKNOWN)
    return lab, d, units, best


def _score(q, arrays, threshold):
    return BF.score(q, BF.prepare(BF.build(arrays)), threshold)


@st.composite
def galleries(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    rows, labels = [], []
    for k in range(draw(st.integers(1, 8))):
        # tight labels jitter a prototype; loose ones are random rows,
        # so their pivot says little about any other row
        spread = draw(st.sampled_from([0.05, 0.3, 2.0]))
        base = rng.standard_normal(DIM)
        for _ in range(draw(st.integers(1, 5))):
            rows.append(base + spread * rng.standard_normal(DIM))
            labels.append(None if k == 1 and draw(st.booleans()) else f"L{k}")
    order = rng.permutation(len(rows))  # labels interleave by gallery id
    mat = np.asarray(rows)[order]
    labels = np.asarray(labels, dtype=object)[order]
    if draw(st.booleans()):  # an exact duplicate row under another label
        i, j = rng.integers(0, len(mat), 2)
        mat = np.vstack([mat, mat[i]])
        labels = np.append(labels, f"dup{j}")
        perm = rng.permutation(len(mat))
        mat, labels = mat[perm], labels[perm]
    n_faces = draw(st.sampled_from([0, 1, 2, 7, 30]))
    src = rng.integers(0, len(mat), n_faces)
    jitter = draw(st.sampled_from([0.0, 0.01, 0.3]))
    q = mat[src] + jitter * rng.standard_normal((n_faces, DIM))
    noise = rng.random(n_faces) < 0.2  # out-of-gallery faces
    q[noise] = rng.standard_normal((int(noise.sum()), DIM))
    return labels, mat.astype(np.float32), q.astype(np.float32)


@settings(max_examples=300, deadline=None)
@given(g=galleries(), threshold=st.floats(0.05, 1.5))
def test_score_equals_whole_gallery_argmin(g, threshold):
    labels, mat, q = g
    arrays = _arrays(labels, mat)
    labels, mat, norms = arrays
    want, d, units, best = _reference(q, labels, mat, norms, threshold)
    for i in range(len(q)):
        b = best[i]
        # float32 rounding decides these; equal rows are never excluded
        assume(abs(d[i, b] - threshold) >= CLOSE)
        close = (np.abs(d[i] - d[i, b]) < CLOSE) & (labels != labels[b])
        assume(all((units[r] == units[b]).all()
                   for r in np.flatnonzero(close)))
    got, dist = _score(q, arrays, threshold)
    assert list(got) == list(want)
    hit = want != linking.UNKNOWN
    np.testing.assert_allclose(dist[hit], d[hit, best[hit]], atol=1e-5)
    assert np.isnan(dist[~hit]).all()


def test_duplicate_rows_go_to_the_lowest_gallery_id():
    """The same row under two labels: whichever label holds the lower
    gallery id wins, wherever the rows sit in their labels."""
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((40, DIM)).astype(np.float32)
    labels = np.array([f"L{i % 7}" for i in range(40)], dtype=object)
    for lo, hi in [(5, 30), (12, 13), (0, 39)]:
        m = mat.copy()
        m[hi] = m[lo]
        got, _ = _score(m[[lo]], _arrays(labels, m), 0.6)
        assert got[0] == labels[lo] != labels[hi]


def test_loose_label_is_still_searched():
    """A label whose pivot (its first row) points away from the face
    still wins through its other row."""
    rng = np.random.default_rng(5)
    face = rng.standard_normal(DIM)
    mat = np.vstack([-face, rng.standard_normal(DIM), face + 0.01]).astype(
        np.float32)
    labels = np.array(["loose", "other", "loose"], dtype=object)
    got, dist = _score(face[None].astype(np.float32), _arrays(labels, mat), 0.6)
    assert got[0] == "loose" and dist[0] < 1e-3


def test_prepare_accepts_a_bare_triple():
    rng = np.random.default_rng(9)
    mat = rng.standard_normal((30, DIM)).astype(np.float32)
    arrays = _arrays(np.array([f"L{i % 4}" for i in range(30)], dtype=object),
                     mat)
    q = mat[::3] + np.float32(0.01)
    bare = BF.score(q, BF.prepare(arrays), 0.6)
    built = BF.score(q, BF.prepare(BF.build(arrays)), 0.6)
    assert list(bare[0]) == list(built[0]) != ["unknown"] * len(q)
    np.testing.assert_array_equal(bare[1], built[1])


def test_null_label_is_its_own_group():
    """NULL labels group together, apart from every named label: the
    second NULL row is reached through the first one's pivot."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal(DIM)
    mat = np.vstack([
        rng.standard_normal(DIM), base, rng.standard_normal(DIM),
        base + 0.05 * rng.standard_normal(DIM),
    ]).astype(np.float32)
    labels = np.array(["a", None, "b", None], dtype=object)
    arrays = _arrays(labels, mat)
    payload = BF.build(arrays)
    codes, pivots = payload[3], payload[4]
    assert codes[1] == codes[3] and len(set(codes)) == 3
    assert list(pivots) == [0, 1, 2]
    got, _ = _score(mat[[3, 0]], arrays, 0.6)
    assert list(got) == [None, "a"]
