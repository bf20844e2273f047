"""Deterministic stand-in for the vision stack (MTCNN detect + ArcFace
embed) — the real models are not available offline, and the parity gate
is about *pipeline semantics*, not CNN accuracy (BASELINE.md notes).

Design: the content of a media span is fully determined by its
``media_ref`` string ('frame://{doc_id}/{frame_no}').  "Decoding" a
frame yields 0-2 faces; each face is either a gallery entity (base
vector + small per-frame jitter, cosine distance << threshold) or an
unknown person (independent random vector, distance >> threshold).
Consecutive frames share an entity set in runs of 3-8 frames so that
scene extraction (frame_threshold default 3) has real work to do.

Both the distributed Spark pipeline and the sequential pure-Python
oracle call these functions, so the parity comparison exercises the
*distributed* plumbing (explode, Arrow batching, joins, grouping,
scene assembly, triple emission), exactly like the reference's eval
harness feeds identical frames to its sequential code
(src/models/evaluation.py:16-90).

Everything is keyed by stable md5 hashes — independent of partitioning,
batch boundaries, and execution order.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

from .schemas import EMBED_DIM
UNKNOWN_FRACTION = 10  # 1-in-10 faces is an out-of-gallery person
JITTER_SIGMA = 0.04    # within-entity thumbnail/frame noise


def _h(s: str) -> int:
    """Stable 64-bit hash of a string (md5 prefix)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def _rng(s: str) -> np.random.Generator:
    return np.random.default_rng(_h(s))


@lru_cache(maxsize=64)
def entity_names(n_entities: int) -> list[str]:
    """Synthetic celebrity labels ('Entity 000'...), mirroring the
    reference gallery's 54 distinct entities (labels_cele.pickle)."""
    return [f"Entity {i:03d}" for i in range(n_entities)]


@lru_cache(maxsize=4096)
def base_vector(label: str) -> np.ndarray:
    """Per-entity prototype embedding.  Random 512-d gaussians are
    near-orthogonal, so distinct entities are trivially separable at
    cosine threshold 0.6 (reference default, config.yaml:16)."""
    v = _rng("base/" + label).standard_normal(EMBED_DIM)
    return (v / np.linalg.norm(v) * 4.6).astype(np.float32)  # ref norms ~4.6


@lru_cache(maxsize=65536)
def run_length(doc_id: str) -> int:
    return 3 + _h("runlen/" + doc_id) % 5  # 3..7 frames per scene run


# access is partition-local (all frames of a doc sit in one task), so a
# modest cache keeps the hit rate while bounding long-lived reused
# Python workers to a few MB
@lru_cache(maxsize=65_536)
def run_faces(doc_id: str, run_id: int, n_entities: int) -> tuple[tuple[str, int], ...]:
    """Faces of one run (see frame_faces).  Cached: every frame of a
    run shares its face set, so the md5 draws happen once per run, not
    once per frame — the vision stage loops over millions of frames."""
    r = _h(f"run/{doc_id}/{run_id}")
    n_faces = (0, 1, 1, 1, 2)[r % 5]
    faces = []
    for j in range(n_faces):
        rf = _h(f"face/{doc_id}/{run_id}/{j}")
        if rf % UNKNOWN_FRACTION == 0:
            faces.append(("unknown", -1))
        else:
            faces.append(("entity", rf % n_entities))
    return tuple(faces)


def frame_faces(doc_id: str, frame_no: int, n_entities: int) -> list[tuple[str, int]]:
    """True faces in a frame: list of (kind, entity_id) where kind is
    'entity' or 'unknown'.  Constant within a run of ``run_length``
    frames; deterministic in (doc_id, frame_no) alone."""
    return list(run_faces(doc_id, frame_no // run_length(doc_id), n_entities))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 mix function (public-domain constant set)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def noise_block(seeds: np.ndarray, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic standard-normal noise for a BATCH of seeds:
    (n,) uint64 -> (n, dim) float32.  Counter-based (SplitMix64 +
    Box-Muller) so it is fully numpy-vectorized and independent of
    batching/partition order — per-face Generator construction was the
    vision stage's hot spot.

    The whole transform runs in float32 (24-bit uniforms; the output is
    float32 anyway) and derives sin from cos via sqrt(1-c^2) with the
    half-period sign — one transcendental saved and half the memory
    traffic; this kernel is the single largest CPU cost of the vision
    stage at replica scale."""
    seeds = seeds.astype(np.uint64).reshape(-1, 1)
    half = (dim + 1) // 2
    ctr = np.arange(half, dtype=np.uint64).reshape(1, -1)
    a = _splitmix64(seeds + ctr * np.uint64(2))
    b = _splitmix64(seeds + ctr * np.uint64(2) + np.uint64(1))
    one = np.float32(1.0)
    # uniform in (0,1]; avoid log(0)
    u1 = (a >> np.uint64(40)).astype(np.float32) / np.float32(1 << 24)
    u1 += np.float32(1e-30)
    u2 = (b >> np.uint64(40)).astype(np.float32) / np.float32(1 << 24)
    r = np.sqrt(np.float32(-2.0) * np.log(u1))
    c = np.cos(np.float32(2.0 * np.pi) * u2)
    s = np.sqrt(np.maximum(np.float32(0.0), one - c * c))
    np.copysign(s, np.float32(0.5) - u2, out=s)  # sin(2*pi*u) >= 0 iff u <= 0.5
    out = np.empty((seeds.shape[0], half * 2), dtype=np.float32)
    out[:, 0::2] = r * c
    out[:, 1::2] = r * s
    return out[:, :dim]


def face_seed(doc_id: str, frame_no: int, face_idx: int) -> int:
    return _h(f"emb/{doc_id}/{frame_no}/{face_idx}")


# counter offset for geometry draws; noise_block consumes counters
# 0..2*ceil(dim/2), so geometry values live in a disjoint counter range
_GEOM_CTR = 1 << 20
# counter offset for crop pixels (disjoint from both ranges above)
_CROP_CTR = 1 << 21
# counter offset for keypoint draws (disjoint from all ranges above)
_KP_CTR = 1 << 22

# MTCNN landmark names in the reference's detection-dict order
# (face_recognition.py:176-192 'keypoints': left_eye, right_eye, nose,
# mouth_left, mouth_right)
KEYPOINT_NAMES = ("left_eye", "right_eye", "nose", "mouth_left", "mouth_right")

# box-relative landmark ranges: each landmark's (x, y) is drawn
# uniformly inside a canonical facial region so the synthetic keypoints
# have the real detector's rough anatomy (eyes above nose above mouth,
# left of right) — the alignment solve then does non-degenerate work
_KP_RANGES = np.array(
    [  # [x_lo, x_hi, y_lo, y_hi] fractions of the box
        [0.20, 0.40, 0.30, 0.45],  # left_eye
        [0.60, 0.80, 0.30, 0.45],  # right_eye
        [0.40, 0.60, 0.45, 0.62],  # nose
        [0.25, 0.45, 0.65, 0.82],  # mouth_left
        [0.55, 0.75, 0.65, 0.82],  # mouth_right
    ],
    dtype=np.float32,
)


def face_keypoints_rel_batch(seeds: np.ndarray) -> np.ndarray:
    """Deterministic box-RELATIVE 5-landmark positions for a BATCH of
    face seeds: (n,) uint64 -> (n, 5, 2) float32 fractions in [0,1)².
    Same SplitMix64 counter stream as the embeddings/geometry, on a
    disjoint counter range, so keypoints are reproducible anywhere the
    face is (Spark stage, sequential oracle, driver VALUES literal).

    Frame-coordinate keypoints = box[:2] + rel * box[2:4]; patch-local
    keypoints (for the alignment kernel) = rel * patch_size — both
    derive from this one draw, so the emitted FACES keypoints and the
    crops fed to the encoder are consistent by construction."""
    s = seeds.astype(np.uint64).reshape(-1, 1)
    c = (np.arange(10, dtype=np.uint64) + np.uint64(_KP_CTR)).reshape(1, -1)
    u = (_splitmix64(s + c) >> np.uint64(40)).astype(np.float32) \
        / np.float32(1 << 24)
    u = u.reshape(-1, 5, 2)
    lo = _KP_RANGES[:, [0, 2]]
    hi = _KP_RANGES[:, [1, 3]]
    return lo + u * (hi - lo)


def face_keypoints_batch(
    seeds: np.ndarray, boxes: np.ndarray
) -> np.ndarray:
    """FRAME-coordinate keypoints: (n,) seeds + (n, 4) [x,y,w,h] boxes
    -> (n, 5, 2) float32, mirroring the reference detector's absolute
    pixel landmarks (face_recognition.py:176-192)."""
    rel = face_keypoints_rel_batch(seeds)
    return (boxes[:, None, :2] + rel * boxes[:, None, 2:4]).astype(np.float32)


def face_keypoints(doc_id: str, frame_no: int, face_idx: int) -> np.ndarray:
    """Single-face frame-coordinate keypoints (oracle path): (5, 2)."""
    seed = np.array([face_seed(doc_id, frame_no, face_idx)], dtype=np.uint64)
    box, _ = face_geometry_batch(seed)
    return face_keypoints_batch(seed, box)[0]


def face_crops_batch(seeds: np.ndarray,
                     hw: tuple[int, int] = (112, 112)) -> np.ndarray:
    """Deterministic RAW detected-face patches for a BATCH of face
    seeds: (n,) uint64 -> (n, h, w, 3) float32 in [0,1).  Stands in
    for the decode+detect crop the real pipeline cuts out of the frame
    BEFORE alignment; the encoder seam then runs the keypoint-based
    affine alignment (operators/align.py, mirroring
    facial_preprocessing.py:7-60) and feeds the aligned 112x112x3
    result to the encoder.  Same SplitMix64 counter scheme as the
    embeddings, on a disjoint counter range."""
    h, w = hw
    dim = h * w * 3
    s = seeds.astype(np.uint64).reshape(-1, 1)
    c = np.arange(dim, dtype=np.uint64).reshape(1, -1) + np.uint64(_CROP_CTR)
    px = (_splitmix64(s + c) >> np.uint64(40)).astype(np.float32) \
        / np.float32(1 << 24)
    return px.reshape(len(s), h, w, 3)


def face_geometry_batch(seeds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic detector geometry for a BATCH of face seeds:
    (n,) uint64 -> (boxes (n, 4) float32 [x, y, w, h], confidence (n,)
    float32).  The reference's MTCNN output carries box + confidence
    per face (face_recognition.py:176-192) and uses box HEIGHT for
    largest-face selection in one_face mode (:367-371); the fake
    detector draws them from the same SplitMix64 counter stream as the
    embeddings so geometry is reproducible anywhere the face is
    (Spark stage, sequential oracle, driver VALUES literal).
    Frame coordinate space mirrors the img_width=500 resize
    (config.yaml:12): x in [0,400), y in [0,200), w,h in [40,160)."""
    s = seeds.astype(np.uint64).reshape(-1, 1)
    c = (np.arange(5, dtype=np.uint64) + np.uint64(_GEOM_CTR)).reshape(1, -1)
    u = (_splitmix64(s + c) >> np.uint64(40)).astype(np.float32) \
        / np.float32(1 << 24)
    boxes = np.empty((len(s), 4), dtype=np.float32)
    boxes[:, 0] = u[:, 0] * 400.0
    boxes[:, 1] = u[:, 1] * 200.0
    boxes[:, 2] = 40.0 + u[:, 2] * 120.0
    boxes[:, 3] = 40.0 + u[:, 3] * 120.0
    conf = (np.float32(0.90) + u[:, 4] * np.float32(0.0999)).astype(np.float32)
    return boxes, conf


def face_geometry(doc_id: str, frame_no: int,
                  face_idx: int) -> tuple[np.ndarray, float]:
    """Single-face wrapper over face_geometry_batch (oracle path)."""
    b, c = face_geometry_batch(
        np.array([face_seed(doc_id, frame_no, face_idx)], dtype=np.uint64)
    )
    return b[0], float(c[0])


def face_embedding(
    doc_id: str, frame_no: int, face_idx: int, kind: str, entity_id: int,
    n_entities: int,
) -> np.ndarray:
    """Embedding the 'encoder' would produce for this face.  Entity
    faces jitter around the entity prototype (new noise every frame so
    the kNN join does real per-mention work); unknown faces are fresh
    random vectors (cosine vs any prototype ≈ 0 → distance ≈ 1 > τ).
    Single-face wrapper over the vectorized batch path (the pipeline
    uses embed_faces_batch; the sequential oracle uses this)."""
    seed = np.array([face_seed(doc_id, frame_no, face_idx)], dtype=np.uint64)
    noise = noise_block(seed)[0]
    if kind == "unknown":
        return (noise / np.linalg.norm(noise) * 4.6).astype(np.float32)
    base = base_vector(entity_names(n_entities)[entity_id])
    return base + noise * JITTER_SIGMA


@lru_cache(maxsize=16)
def prototype_matrix(n_entities: int) -> np.ndarray:
    return np.stack([base_vector(n) for n in entity_names(n_entities)])


def embed_faces_batch(
    seeds: np.ndarray, entity_ids: np.ndarray, n_entities: int
) -> np.ndarray:
    """(n,) seeds + (n,) entity ids (-1 = unknown) -> (n, EMBED_DIM)
    float32, bit-identical to per-face face_embedding calls."""
    noise = noise_block(seeds)
    out = noise * JITTER_SIGMA
    unknown = entity_ids < 0
    if unknown.any():
        nv = noise[unknown]
        out[unknown] = (
            nv / np.linalg.norm(nv, axis=1, keepdims=True) * 4.6
        ).astype(np.float32)
    known = ~unknown
    if known.any():
        out[known] = (
            prototype_matrix(n_entities)[entity_ids[known]]
            + noise[known] * JITTER_SIGMA
        )
    return out.astype(np.float32)


def gallery_embedding(label: str, thumb_idx: int) -> np.ndarray:
    """Gallery thumbnail embedding: prototype + per-thumbnail jitter
    (the reference gallery has ~20 thumbnails per entity)."""
    base = base_vector(label)
    noise = (
        _rng(f"thumb/{label}/{thumb_idx}").standard_normal(EMBED_DIM).astype(np.float32)
        * JITTER_SIGMA
    )
    return base + noise


def parse_media_ref(media_ref: str) -> tuple[str, int]:
    """'frame://{doc_id}/{frame_no}' -> (doc_id, frame_no)."""
    body = media_ref[len("frame://"):]
    doc_id, frame_no = body.rsplit("/", 1)
    return doc_id, int(frame_no)


# -- scraped-thumbnail decode (gallery enrichment seam) ---------------------
# The reference's enrichment scrapes candidate photos per entity and
# keeps only those where its detector finds EXACTLY one face
# (enrich_with_photos.py:103-180: fetch -> single-face check -> embed
# -> extend gallery).  The fake analogue: a candidate thumbnail is
# fully determined by its 'thumb://{label}/{idx}' ref; ~2/3 decode to
# one face (valid), the rest to 0 or 2 faces (rejected), and a valid
# thumb's face embeds to gallery_embedding(label, idx) — the same
# distribution make_gallery_pdf seeds with.

def thumb_ref(label: str, idx: int) -> str:
    return f"thumb://{label}/{idx}"


def parse_thumb_ref(ref: str) -> tuple[str, int]:
    body = ref[len("thumb://"):]
    label, idx = body.rsplit("/", 1)
    return label, int(idx)


def thumb_face_count(label: str, idx: int) -> int:
    """Faces the detector finds in a scraped candidate photo: mostly 1
    (valid), sometimes 0 (no face) or 2 (group shot) -> rejected by
    the single-face check."""
    return (1, 1, 1, 0, 1, 2)[_h(f"thumbfaces/{label}/{idx}") % 6]


def thumb_seed(label: str, idx: int) -> int:
    """Counter seed for a candidate thumbnail's crop/encoder path."""
    return _h(f"thumbemb/{label}/{idx}")
