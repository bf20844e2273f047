"""Entity linking: face embedding -> gallery label (the reference's
'1nn' vs 'appr' switch, hunter.py:93).

Broadcast-gallery matchers live in ONE table, ``MATCHERS[strategy]``:
a driver-side ``build`` turns the gallery's (labels, matrix, norms)
arrays into a broadcastable payload once per gallery (cached across
jobs through ``index_store`` when ``cache_key`` names its parameters),
a worker-side ``prepare`` turns the payload into per-partition state,
and ``score`` labels one batch of embeddings.
``vision.detect_embed_link`` runs prepare + score inside the fused
decode+embed stage, so embeddings never cross the Arrow boundary.

* ``'bruteforce'`` — exact 1-NN cosine against the whole gallery
  (face_recognition.py:300-314 semantics: dist = 1 - cos, argmin,
  threshold else 'unknown', ties -> lowest gallery index), as a
  bound-pruned search.  The payload adds, per label, one pivot row and
  the radius max ||g - p|| of its unit rows around the pivot's; since
  q.g <= q.p + r, each batch runs ONE faces x labels BLAS matmul and
  computes exact distances only over the rows of labels whose bound
  can still reach the threshold (or the face's best distance so far).
  The answer equals the whole-gallery argmin; an unmatched face gets
  'unknown' and a NaN distance.
* ``'lsh'`` — random-hyperplane LSH band buckets prune candidates
  (CSR bucket index built on the driver), then one BLAS matmul per
  occupied bucket (:func:`lsh_score_batch`).
* ``'hnsw'`` — the reference's default ANN algorithm
  (approximate_k_nearest_neighbors.py:37-62), built on the driver side
  by ``hnsw.sharded_payload_spark`` (one graph below
  2 x ``hnsw.SHARD_ROWS`` rows, executor-parallel shards above);
  workers adopt the finished graph.

``link_lsh`` is the shuffle-side form for galleries beyond the
broadcast budget (``pipeline.link_documents`` routes to it by gallery
size): band signatures on both sides, a cogroup on the band bucket
running one GEMM per bucket, and one ``min(struct(distance,
gallery_id, label))`` per face — the reference's 1-NN lookup
(SURVEY §2.12.3: its vote always takes the first neighbour), with a
shuffle bounded because each mention lands in exactly ``bands``
buckets.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import EMBED_DIM
from . import hnsw

UNKNOWN = "unknown"

def _gallery_arrays(gallery_pdf: pd.DataFrame):
    """(labels, matrix, row_norms) sorted by gallery_id — argmin ties
    then resolve to the lowest gallery index, like np.argmin over the
    reference's list order."""
    g = gallery_pdf.sort_values("gallery_id")
    labels = g["label"].to_numpy()
    mat = np.stack(g["embedding"].to_numpy()).astype(np.float32, copy=False)
    norms = np.linalg.norm(mat, axis=1)
    return labels, mat, norms


# ---------------------------------------------------------------------------
# LSH-bucketed approximate kNN join
# ---------------------------------------------------------------------------


def _hyperplanes(n_bits: int, dim: int) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_bits, dim)).astype(np.float32)


def lsh_signature_udf(bands: int, rows_per_band: int):
    """pandas UDF: embedding -> array of band bucket keys.  Bucket key
    packs (band_id << 24) | band_bits so a single int column joins."""
    # the packing reserves 24 low bits for band_bits; more rows per
    # band would silently collide across bands
    assert rows_per_band <= 24, "bucket packing supports rows_per_band <= 24"
    planes = _hyperplanes(bands * rows_per_band, EMBED_DIM)

    @F.pandas_udf(ArrayType(IntegerType()))
    def sig(emb: pd.Series) -> pd.Series:
        out = []
        mask = emb.notna()
        mat = (
            np.vstack([np.asarray(e, dtype=np.float32) for e in emb[mask]])
            if mask.any()
            else np.zeros((0, EMBED_DIM), np.float32)
        )
        bits = (mat @ planes.T) > 0  # (B, bands*rows)
        keys = np.zeros((bits.shape[0], bands), dtype=np.int64)
        for b in range(bands):
            chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
            val = np.zeros(bits.shape[0], dtype=np.int64)
            for j in range(chunk.shape[1]):
                val = (val << 1) | chunk[:, j]
            keys[:, b] = (b << 24) | val
        it = iter(keys.astype(np.int32).tolist())
        for ok in mask:
            out.append(next(it) if ok else None)
        return pd.Series(out)

    return sig


_BUCKET_CAND = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("ts_ms", DoubleType(), False),
        StructField("face_idx", IntegerType(), True),
        StructField("gallery_id", LongType(), False),
        StructField("g_label", StringType(), False),
        StructField("distance", FloatType(), False),
    ]
)


def _bucket_gemm_candidates(mention: DataFrame, gal: DataFrame) -> DataFrame:
    """Per-bucket candidate generation as one GEMM per bucket group
    (cogroup on the band bucket): distances for every mention x
    gallery pair sharing the bucket computed in a single numpy matmul
    (float64, float32 result), cut to each mention's in-bucket nearest
    by (distance, gallery_id) before anything ships.

    Scale sizing: a bucket's gallery slice must fit the kernel's
    matrix (rows x 512 floats).  Bucket count per band is
    2^rows_per_band, so raise ``rows_per_band`` as the gallery grows
    to keep slices at ~10^4-10^5 rows (24 bits = 16M buckets covers a
    10^9-row gallery at ~60 rows each); recall follows bands, cost
    follows slice size."""

    def kernel(m_pdf: pd.DataFrame, g_pdf: pd.DataFrame) -> pd.DataFrame:
        if m_pdf.empty or g_pdf.empty:
            return pd.DataFrame(
                columns=[f.name for f in _BUCKET_CAND.fields]
            )
        # ascending gallery_id: argmin's first-occurrence rule then
        # breaks distance ties towards the lowest id
        g_pdf = g_pdf.sort_values("gallery_id")
        M = np.stack(m_pdf["embedding"].to_numpy()).astype(np.float64)
        G = np.stack(g_pdf["g_embedding"].to_numpy()).astype(np.float64)
        sims = M @ G.T
        dist = (
            1.0
            - sims
            / (
                np.linalg.norm(M, axis=1)[:, None]
                * np.linalg.norm(G, axis=1)[None, :]
            )
        ).astype(np.float32)
        # a NaN distance (zero-norm vector) ranks last, as in Spark's
        # ordering of the per-face minimum
        best = np.where(np.isnan(dist), np.inf, dist).argmin(axis=1)
        return pd.DataFrame({
            "doc_id": m_pdf["doc_id"].to_numpy(),
            "frame_no": m_pdf["frame_no"].to_numpy(),
            "ts_ms": m_pdf["ts_ms"].to_numpy(),
            "face_idx": m_pdf["face_idx"].to_numpy(),
            "gallery_id": g_pdf["gallery_id"].to_numpy()[best],
            "g_label": g_pdf["g_label"].to_numpy()[best],
            "distance": dist[np.arange(len(best)), best],
        })

    return (
        mention.groupBy("bucket")
        .cogroup(gal.groupBy("bucket"))
        .applyInPandas(kernel, _BUCKET_CAND)
    )


def link_lsh(
    faces: DataFrame,
    gallery: DataFrame,
    distance_threshold: float = 0.6,
    bands: int = 8,
    rows_per_band: int = 6,
) -> DataFrame:
    """Approximate 1-NN entity linking as a shuffle-side plan, for
    galleries too large to broadcast:

    mentions --sig--> explode(band buckets) --cogroup(bucket)--> gallery
    buckets --GEMM, in-bucket nearest--> min per face --threshold--> label.

    Both sides stream through one shuffle on the band bucket; nothing
    is collected or replicated, so a 10^8-row gallery costs one bounded
    shuffle of (bucket, id, embedding) rows.  Embeddings cross the wire
    once per band and only (face key, gallery_id, distance) scalars
    leave the GEMM stage.  A face's global nearest is the nearest
    inside every bucket holding it, so the per-face minimum over the
    in-bucket winners is exact over the candidate set; distance ties
    go to the lowest ``gallery_id``.
    """
    sig = lsh_signature_udf(bands, rows_per_band)

    # `faces` feeds BOTH the candidate side and the final left join —
    # without a lineage cut the whole upstream decode+detect+embed
    # Python stage executes twice in one job (measured 2x wall on the
    # shuffle route).  Materializing the face rows once is strictly
    # cheaper than recomputing the vision kernel at any scale.
    faces = faces.localCheckpoint(eager=False)

    mention = faces.where(F.col("face_idx").isNotNull()).select(
        "doc_id",
        "frame_no",
        "ts_ms",
        "face_idx",
        "embedding",
        F.explode(sig("embedding")).alias("bucket"),
    )
    gal = gallery.select(
        "gallery_id",
        F.col("label").alias("g_label"),
        F.col("embedding").alias("g_embedding"),
        F.explode(sig("embedding")).alias("bucket"),
    )
    key = ["doc_id", "frame_no", "ts_ms", "face_idx"]
    best = (
        _bucket_gemm_candidates(mention, gal)
        .groupBy(*key)
        .agg(F.min(F.struct("distance", "gallery_id", "g_label")).alias("nn"))
        .where(F.col("nn.distance") < distance_threshold)
        .select(*key, F.col("nn.g_label").alias("label"))
    )

    # faces with no surviving candidate -> 'unknown'; empty frames pass
    # through with NULL label (same contract as detect_embed_link)
    return (
        faces.select(*key).join(best, key, "left")
        .withColumn(
            "label",
            F.when(F.col("face_idx").isNull(), F.lit(None)).otherwise(
                F.coalesce("label", F.lit(UNKNOWN))
            ),
        )
    )


def assemble_frame_predictions(linked: DataFrame) -> DataFrame:
    """Face rows -> per-frame ordered label lists (the reference's
    list[list[str]] IR, face_recognition.py:134-136).  Order within a
    frame = detector output order (face_idx); empty frames produce [].
    Map-side combine applies (collect_list over pre-sorted structs)."""
    return (
        linked.groupBy("doc_id", "frame_no", "ts_ms")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("face_idx").isNotNull(),
                        F.struct("face_idx", "label"),
                    )
                )
            ).alias("ordered")
        )
        .select(
            "doc_id",
            "frame_no",
            "ts_ms",
            F.transform("ordered", lambda s: s["label"]).alias("labels"),
        )
    )


def lsh_payload_from_arrays(
    labels, mat, norms, bands: int = 8, rows_per_band: int = 6
):
    """Driver-side build of the broadcastable LSH gallery from its
    (labels, matrix, norms) arrays: (labels, matrix, norms,
    hyperplanes, CSR bucket index, bands, rows_per_band).  One tiny
    G x planes matmul.  The bucket index is a CSR triple (sorted
    unique bucket keys, member offsets, concatenated gallery indices)
    so the executor-side lookup is one vectorized searchsorted over a
    whole Arrow batch — no per-face dict probes."""
    assert rows_per_band <= 24, "bucket packing supports rows_per_band <= 24"
    planes = _hyperplanes(bands * rows_per_band, mat.shape[1])
    gbits = (mat @ planes.T) > 0
    all_keys = np.empty((gbits.shape[0], bands), dtype=np.int64)
    for b in range(bands):
        chunk = gbits[:, b * rows_per_band : (b + 1) * rows_per_band]
        val = np.zeros(gbits.shape[0], dtype=np.int64)
        for j in range(chunk.shape[1]):
            val = (val << 1) | chunk[:, j]
        all_keys[:, b] = (b << 24) | val
    # CSR: sort (key, gallery_idx) pairs, then unique keys + offsets
    flat_keys = all_keys.T.ravel()  # band-major; gallery idx repeats per band
    g_idx = np.tile(np.arange(gbits.shape[0], dtype=np.int64), bands)
    order = np.lexsort((g_idx, flat_keys))
    sorted_keys = flat_keys[order]
    members = g_idx[order]
    uniq_keys, starts = np.unique(sorted_keys, return_index=True)
    offsets = np.append(starts, len(sorted_keys)).astype(np.int64)
    return (
        labels, mat, norms, planes,
        (uniq_keys, offsets, members),
        bands, rows_per_band,
    )


def lsh_score_batch(q: np.ndarray, payload, distance_threshold: float):
    """Score one batch of query embeddings against the broadcast LSH
    gallery payload.  Returns (labels object array, float32 distances);
    faces with no surviving candidate get 'unknown'/NaN.  The
    ``MATCHERS['lsh']`` score kernel.

    The reference's 1-NN lookup as a BUCKETED GEMM: per band, sort
    faces by bucket key, then ONE BLAS matmul per occupied bucket
    (queries-in-bucket x bucket-members) with a scatter-min across
    bands.  The Python loop is bounded by the bucket space
    (bands * 2^rows_per_band), NOT the face count — a flattened
    gather/einsum over the candidate union is ~100x slower at batch
    scale because clustered galleries make candidate lists long and
    fancy-indexed row gathers dominate.  Ties resolve nearest-first
    then lowest gallery index (bucket members are stored ascending, so
    argmin's first-occurrence rule gives the in-bucket tie, and the
    scatter-min compares (distance, gallery) lexicographically)."""
    labels, mat, norms, planes, csr, bands_, rpb = payload
    uniq_keys, offsets, members = csr
    n = len(q)
    out_lab = np.full(n, UNKNOWN, dtype=object)
    out_dist = np.full(n, np.nan, dtype=np.float32)
    if n == 0 or not len(uniq_keys):
        return out_lab, out_dist
    qn = np.linalg.norm(q, axis=1)
    bits = (q @ planes.T) > 0
    # vectorized band keys: (n, bands*rpb) bits -> (n, bands) ints
    weights = (1 << np.arange(rpb - 1, -1, -1)).astype(np.int64)
    band_ids = (np.arange(bands_, dtype=np.int64) << 24).reshape(1, -1)
    keys = bits.reshape(n, bands_, rpb).astype(np.int64) @ weights
    keys = keys | band_ids
    qnorm = (q / qn[:, None]).astype(np.float32)
    matn = (mat / norms[:, None]).astype(np.float32)
    best_d = np.full(n, np.inf)
    best_g = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for b in range(bands_):
        kb = keys[:, b]
        order = np.argsort(kb, kind="stable")
        ks = kb[order]
        pos = np.searchsorted(uniq_keys, ks)
        pos_c = np.minimum(pos, len(uniq_keys) - 1)
        valid = uniq_keys[pos_c] == ks
        runs = np.flatnonzero(np.diff(ks, prepend=ks[0] - 1))
        for ri, start in enumerate(runs):
            if not valid[start]:
                continue
            end = runs[ri + 1] if ri + 1 < len(runs) else n
            p = pos_c[start]
            gsub = members[offsets[p]:offsets[p + 1]]
            faces = order[start:end]
            d = 1.0 - qnorm[faces] @ matn[gsub].T  # (m, g)
            loc = np.argmin(d, axis=1)  # first occurrence = lowest g
            ld = d[np.arange(len(faces)), loc]
            lg = gsub[loc]
            upd = (ld < best_d[faces]) | (
                (ld == best_d[faces]) & (lg < best_g[faces])
            )
            bf = faces[upd]
            best_d[bf] = ld[upd]
            best_g[bf] = lg[upd]
    keep = np.isfinite(best_d) & (best_d < distance_threshold)
    out_lab[keep] = labels[best_g[keep]]
    out_dist[keep] = best_d[keep].astype(np.float32)
    return out_lab, out_dist


# ---------------------------------------------------------------------------
# Broadcast-gallery matcher table
# ---------------------------------------------------------------------------


class Matcher(NamedTuple):
    """One broadcast-gallery matcher (see the module docstring).

    * ``build(arrays) -> payload`` — driver side, once per gallery;
      ``arrays`` is the :func:`_gallery_arrays` triple.
    * ``cache_key(arrays) -> dict | None`` — the ``index_store`` key
      parameters when the payload is worth caching across jobs.
    * ``prepare(payload) -> state`` — worker side, once per partition.
    * ``score(emb, state, threshold) -> (labels, distances)`` — once
      per batch; 'unknown' and a NaN distance where no neighbor is
      under ``threshold``.
    """

    build: Callable
    cache_key: Callable
    prepare: Callable
    score: Callable


def _no_cache(arrays) -> None:
    return None


def _identity(x):
    return x


#: slack on the pivot bound, far above the float32 rounding of q.p,
#: the radii and the exact distances (each ~1e-6 for unit vectors)
_BOUND_EPS = np.float32(1e-4)
#: gallery rows (build) or (face, row) pairs (score) per vectorized step
_CHUNK_ROWS = 4096


def _bruteforce_build(arrays):
    """The :func:`_gallery_arrays` triple plus the per-label index:
    ``(labels, mat, norms, codes, pivots, radii)`` with ``codes`` the
    row's label code (a NULL label is its own code), ``pivots`` the
    first row of each label and ``radii`` the largest distance from a
    label's unit rows to its pivot's, computed in row chunks."""
    labels, mat, norms = arrays
    codes = pd.factorize(labels, use_na_sentinel=False)[0].astype(np.int32)
    pivots = np.unique(codes, return_index=True)[1]
    radii = np.zeros(len(pivots), dtype=np.float32)
    for s in range(0, len(mat), _CHUNK_ROWS):
        c = codes[s:s + _CHUNK_ROWS]
        p = pivots[c]
        gap = np.linalg.norm(
            mat[s:s + _CHUNK_ROWS] / norms[s:s + _CHUNK_ROWS, None]
            - mat[p] / norms[p, None],
            axis=1,
        )
        np.fmax.at(radii, c, gap)
    return labels, mat, norms, codes, pivots, radii


def _bruteforce_prepare(payload):
    """Worker-side state: the rows grouped by label (ascending gallery
    id within a label) and the unit pivot rows.  A bare
    :func:`_gallery_arrays` triple is indexed here first."""
    if len(payload) == 3:
        payload = _bruteforce_build(payload)
    labels, mat, norms, codes, pivots, radii = payload
    by_label = np.argsort(codes, kind="stable")
    starts = np.searchsorted(codes[by_label], np.arange(len(pivots) + 1))
    units = mat[pivots] / norms[pivots, None]
    return labels, mat, norms, by_label, starts, units, radii


def _label_distances(qn, faces, labs, state):
    """Exact distances from unit faces ``qn[faces[i]]`` to every row of
    label ``labs[i]``: ``(face, row, distance)`` per pair.  Each pair is
    its own dot product, so equal rows get equal distances wherever
    they sit."""
    _, mat, norms, by_label, starts, _, _ = state
    counts = starts[labs + 1] - starts[labs]
    face = np.repeat(faces, counts)
    within = np.arange(len(face)) - np.repeat(np.cumsum(counts) - counts,
                                              counts)
    rows = by_label[np.repeat(starts[labs], counts) + within]
    dist = np.empty(len(rows), dtype=np.float32)
    for s in range(0, len(rows), _CHUNK_ROWS):
        r = rows[s:s + _CHUNK_ROWS]
        dist[s:s + _CHUNK_ROWS] = 1.0 - np.einsum(
            "ij,ij->i", qn[face[s:s + _CHUNK_ROWS]], mat[r] / norms[r, None]
        )
    return face, rows, dist


def _bruteforce_score(emb, state, distance_threshold):
    """Whole-gallery 1-NN through the pivot bound: ONE faces x labels
    GEMM gives ``reach = q.p + r``, an upper bound of q.g over each
    label's rows.  The face's highest-reaching label is scored exactly
    first; its best distance then tightens the cut, so only labels
    whose bound can still tie or beat it (and pass the threshold) are
    scored next.  The nearest scored row wins, ties to the lowest
    gallery id."""
    labels, _, _, _, _, units, radii = state
    n = len(emb)
    out_lab = np.full(n, UNKNOWN, dtype=object)
    out_dist = np.full(n, np.nan, dtype=np.float32)
    qn = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    reach = qn @ units.T + radii  # (B, labels)
    top = np.argmax(reach, axis=1)
    first = _label_distances(qn, np.arange(n), top, state)
    best = np.full(n, np.inf, dtype=np.float32)
    np.fmin.at(best, first[0], first[2])
    reach[np.arange(n), top] = -np.inf
    cut = 1 - _BOUND_EPS - np.minimum(best, np.float32(distance_threshold))
    rest = _label_distances(qn, *np.nonzero(reach >= cut[:, None]), state)
    face, rows, dist = (np.concatenate(x) for x in zip(first, rest))
    order = np.lexsort((rows, dist, face))
    order = order[np.diff(face[order], prepend=-1) != 0]  # first per face
    hit = order[dist[order] < distance_threshold]
    out_lab[face[hit]] = labels[rows[hit]]
    out_dist[face[hit]] = dist[hit]
    return out_lab, out_dist


def _lsh_build(arrays):
    return lsh_payload_from_arrays(*arrays)


def _lsh_key(arrays) -> dict:
    return {"bands": 8, "rows_per_band": 6}


def _hnsw_build(arrays):
    return hnsw.sharded_payload_spark(SparkSession.getActiveSession(), arrays)


def _hnsw_key(arrays) -> dict:
    n = hnsw.shard_count(SparkSession.getActiveSession(), len(arrays[1]))
    params = {"M": 15, "ef_construction": 100}
    return {**params, "shards": n} if n > 1 else params


def _hnsw_score(emb, state, distance_threshold):
    labels, idx = state
    return hnsw.hnsw_score_batch(emb, labels, idx, distance_threshold)


MATCHERS: dict[str, Matcher] = {
    "bruteforce": Matcher(_bruteforce_build, _no_cache, _bruteforce_prepare,
                          _bruteforce_score),
    "lsh": Matcher(_lsh_build, _lsh_key, _identity, lsh_score_batch),
    "hnsw": Matcher(_hnsw_build, _hnsw_key, hnsw.executor_index,
                    _hnsw_score),
}


def gallery_payload(strategy: str, arrays, index_catalog=None):
    """Driver side of ``MATCHERS[strategy]``: ``(payload, built)``.
    With an ``index_catalog`` a cacheable payload is loaded from the
    catalog by gallery content hash + build parameters (``built`` is
    False) or built and persisted, so the build is paid once per
    distinct gallery — and a gallery edit changes the key, fixing the
    reference's reload-stale-index-if-file-exists quirk
    (approximate_k_nearest_neighbors.py:51-62)."""
    if strategy not in MATCHERS:
        raise ValueError(strategy)
    m = MATCHERS[strategy]
    params = None if index_catalog is None else m.cache_key(arrays)
    if params is None:
        return m.build(arrays), True
    from .. import index_store

    key = index_store.payload_key(
        hnsw._gallery_fingerprint(arrays[0], arrays[1]), **params
    )
    return index_store.load_or_build(
        SparkSession.getActiveSession(), index_catalog, key, strategy,
        lambda: m.build(arrays),
    )
