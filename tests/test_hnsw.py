"""Pure-numpy HNSW matcher: recall vs exact brute force, determinism,
and end-to-end linking parity through the fused vision stage (the
reference's default 'appr' algorithm path,
approximate_k_nearest_neighbors.py:37-88)."""

import numpy as np
import pytest

from face_hunter_spark import synth
from face_hunter_spark.operators import linking
from face_hunter_spark.operators.hnsw import HNSWIndex, hnsw_score_batch


@pytest.fixture(scope="module")
def gallery():
    gal = synth.make_gallery_pdf(n_entities=12, thumbs_per_entity=6,
                                 distractors=2)
    return linking._gallery_arrays(gal)


def test_hnsw_recall_vs_bruteforce(gallery):
    labels, mat, norms = gallery
    idx = HNSWIndex(mat)
    rng = np.random.default_rng(7)
    pick = rng.integers(0, len(mat), 200)
    q = (mat[pick] + rng.standard_normal((200, mat.shape[1])).astype(
        np.float32) * 0.04)
    qn = np.linalg.norm(q, axis=1)
    d = 1.0 - (q / qn[:, None]) @ (mat / norms[:, None]).T
    brute = np.argmin(d, axis=1)
    ids, _ = idx.search_batch(q, k=1)
    # HNSW top-1 must agree with exact top-1 on nearly every query
    agree = (ids[:, 0] == brute).mean()
    assert agree >= 0.95, agree


def test_hnsw_random_data_recall():
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((500, 64)).astype(np.float32)
    idx = HNSWIndex(mat)
    q = rng.standard_normal((100, 64)).astype(np.float32)
    qn = np.linalg.norm(q, axis=1, keepdims=True)
    mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    d = 1.0 - (q / qn) @ mn.T
    exact_top3 = np.argsort(d, axis=1, kind="stable")[:, :3]
    ids, _ = idx.search_batch(q, k=3)
    hits = sum(
        len(set(ids[i]) & set(exact_top3[i])) for i in range(len(q))
    )
    assert hits / (3 * len(q)) >= 0.85


def test_hnsw_deterministic(gallery):
    labels, mat, _ = gallery
    q = mat[:20] * 1.01
    a = HNSWIndex(mat).search_batch(q, k=3)
    b = HNSWIndex(mat).search_batch(q, k=3)
    assert np.array_equal(a[0], b[0])
    assert np.array_equal(a[1], b[1])


def test_hnsw_score_batch_semantics(gallery):
    labels, mat, norms = gallery
    idx = HNSWIndex(mat)
    rng = np.random.default_rng(5)
    pick = rng.integers(0, len(mat), 100)
    q_match = mat[pick] + rng.standard_normal((100, mat.shape[1])).astype(
        np.float32) * 0.04
    q_noise = rng.standard_normal((30, mat.shape[1])).astype(np.float32)
    q = np.vstack([q_match, q_noise])
    lab, dist = hnsw_score_batch(q, labels, idx, 0.6)
    assert (lab[:100] == labels[pick]).mean() >= 0.95
    assert all(x == "unknown" for x in lab[100:])
    assert np.isnan(dist[100:]).all()


def test_hnsw_pipeline_strategy_parity(spark):
    """link_documents(strategy='hnsw') emits the same triples as the
    brute-force strategy on well-separated synthetic data."""
    import pyspark.sql.functions as F

    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = synth.documents_df(spark, 15, 10)
    gal = synth.make_gallery_pdf(n_entities=10, thumbs_per_entity=5,
                                 distractors=2)
    cat = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=10, distractors=2),
        ENTITY_CATALOG,
    )

    def tset(strategy):
        df = link_documents(docs, gal, cat, n_entities=10,
                            strategy=strategy)
        return {(r.subj, r.pred, r.obj)
                for r in df.select("subj", "pred", "obj").collect()}

    hnsw = tset("hnsw")
    brute = tset("bruteforce")
    inter = len(hnsw & brute)
    # P/R >= 0.95 (the BASELINE gate) — usually exactly equal on this
    # clean corpus
    assert inter / len(hnsw) >= 0.95
    assert inter / len(brute) >= 0.95


def test_prebuilt_payload_roundtrip(gallery):
    """to_payload/from_payload (the reference's saveIndex/loadIndex
    analogue): the reconstructed index answers every query identically
    to the original — the broadcast-prebuilt path for big galleries."""
    labels, mat, _ = gallery
    idx = HNSWIndex(mat)
    idx2 = HNSWIndex.from_payload(idx.to_payload())
    rng = np.random.default_rng(9)
    q = mat[rng.integers(0, len(mat), 50)] + rng.standard_normal(
        (50, mat.shape[1])).astype(np.float32) * 0.04
    a = idx.search_batch(q, k=3)
    b = idx2.search_batch(q, k=3)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    la, da = hnsw_score_batch(q, labels, idx2, 0.6)
    lb, db = hnsw_score_batch(q, labels, idx, 0.6)
    assert list(la) == list(lb)


def test_gallery_fingerprint_full_content(gallery):
    """The cache key must see EVERY row and EVERY label — a strided
    sample let a gallery differing only in unsampled rows or interior
    labels collide with the stale cached graph (ADVICE r3)."""
    from face_hunter_spark.operators.hnsw import _gallery_fingerprint

    labels, mat, _ = gallery
    labels = list(labels)
    base = _gallery_fingerprint(labels, mat)
    assert base == _gallery_fingerprint(labels, mat.copy())
    # interior embedding perturbation (a row a 64-stride sample skips)
    m2 = mat.copy()
    m2[len(m2) // 2 + 1, 0] += 1e-3
    assert _gallery_fingerprint(labels, m2) != base
    # interior label remap with unchanged embeddings
    l2 = list(labels)
    l2[len(l2) // 2 + 1] = "someone_else"
    assert _gallery_fingerprint(l2, mat.copy()) != base


def test_prebuilt_payload_ships_fingerprint(spark, gallery):
    from face_hunter_spark.operators import hnsw

    payload = hnsw.sharded_payload_spark(spark, gallery)
    assert not payload.get("sharded")  # small gallery: one graph
    assert payload["fingerprint"] == hnsw._gallery_fingerprint(
        payload["labels"], payload["index"]["mat"])


# ---------------------------------------------------------------------------
# sharded build (VERDICT r3 'Next round' #3: the >10^5-gallery path)
# ---------------------------------------------------------------------------

def test_sharded_search_matches_exact(gallery):
    """ShardedHNSW (all-probe contiguous mode) top-1 agrees with exact
    brute force at least as often as the monolithic graph (exact merge
    over per-shard approximate top-k), and global ids map to the right
    rows."""
    from face_hunter_spark.operators.hnsw import ShardedHNSW

    labels, mat, norms = gallery
    n = len(mat)
    bounds = np.linspace(0, n, 5).astype(np.int64)
    shards = [HNSWIndex(mat[lo:hi]) for lo, hi in zip(bounds[:-1], bounds[1:])]
    sidx = ShardedHNSW.from_offsets(shards, bounds[:-1], n)
    rng = np.random.default_rng(7)
    pick = rng.integers(0, n, 200)
    q = (mat[pick] + rng.standard_normal((200, mat.shape[1])).astype(
        np.float32) * 0.04)
    qn = np.linalg.norm(q, axis=1)
    mn = mat / norms[:, None]
    d = 1.0 - (q / qn[:, None]) @ mn.T
    brute = np.argmin(d, axis=1)
    ids, ds = sidx.search_batch(q, k=1)
    assert (ids[:, 0] == brute).mean() >= 0.95
    # returned distances equal the recomputed cosine distance of the
    # returned GLOBAL id — proves offset mapping is right
    got = 1.0 - np.einsum("ij,ij->i", q / qn[:, None], mn[ids[:, 0]])
    np.testing.assert_allclose(ds[:, 0], got, atol=1e-5)


def test_sharded_payload_roundtrip_and_score(gallery):
    from face_hunter_spark.operators.hnsw import ShardedHNSW

    labels, mat, _ = gallery
    n = len(mat)
    bounds = np.linspace(0, n, 4).astype(np.int64)
    shards = [HNSWIndex(mat[lo:hi]) for lo, hi in zip(bounds[:-1], bounds[1:])]
    sidx = ShardedHNSW.from_offsets(shards, bounds[:-1], n)
    s2 = ShardedHNSW.from_payload(sidx.to_payload())
    rng = np.random.default_rng(5)
    q = mat[rng.integers(0, n, 60)] * 1.01
    a, b = sidx.search_batch(q, k=3), s2.search_batch(q, k=3)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    la, _ = hnsw_score_batch(q, labels, s2, 0.6)
    lb, _ = hnsw_score_batch(q, labels, HNSWIndex(mat), 0.6)
    assert list(la) == list(lb)  # same labels as the monolithic graph


def test_sharded_payload_spark_build(spark, gallery, monkeypatch):
    """Executor-parallel build: sharded_payload_spark produces the
    same artifact a local shard-by-shard build does, and the pipeline
    on a gallery big enough for several shards emits the bruteforce
    strategy's triples."""
    from face_hunter_spark.operators import hnsw
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    labels, mat, _ = gallery
    p = hnsw.sharded_payload_spark(
        spark, gallery, n_shards=4, partitioner="contiguous"
    )
    assert p["sharded"] and len(p["shards"]) == 4
    assert p["fingerprint"] == hnsw._gallery_fingerprint(labels, mat)
    sidx = hnsw.ShardedHNSW.from_payload(p)
    n = len(mat)
    bounds = np.linspace(0, n, 5).astype(np.int64)
    local = hnsw.ShardedHNSW.from_offsets(
        [HNSWIndex(mat[lo:hi]) for lo, hi in zip(bounds[:-1], bounds[1:])],
        bounds[:-1], n,
    )
    q = mat[:40] * 1.01
    a, b = sidx.search_batch(q, k=2), local.search_batch(q, k=2)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    # routed (kmeans) build: same Spark-vs-local equality, plus the
    # routing must keep exact top-1 agreement on the clustered gallery
    pk = hnsw.sharded_payload_spark(spark, gallery, n_shards=4)
    assert pk["centroids"] is not None
    ridx = hnsw.ShardedHNSW.from_payload(pk)
    rng = np.random.default_rng(11)
    qq = (mat[rng.integers(0, n, 150)]
          + rng.standard_normal((150, mat.shape[1])).astype(np.float32)
          * 0.04)
    qqn = qq / np.linalg.norm(qq, axis=1, keepdims=True)
    mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    brute = np.argmin(1.0 - qqn @ mn.T, axis=1)
    rids, _ = ridx.search_batch(qq, k=1)
    assert (rids[:, 0] == brute).mean() >= 0.95

    docs = synth.documents_df(spark, 10, 8)
    gal = synth.make_gallery_pdf(n_entities=8, thumbs_per_entity=5,
                                 distractors=2)
    cat = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=8, distractors=2),
        ENTITY_CATALOG,
    )

    def tset(**kw):
        df = link_documents(docs, gal, cat, n_entities=8, **kw)
        return {(r.subj, r.pred, r.obj)
                for r in df.select("subj", "pred", "obj").collect()}

    # three shards at local[4]: lower the rows-per-shard rule
    monkeypatch.setattr(hnsw, "SHARD_ROWS", len(gal) // 3)
    assert hnsw.shard_count(spark, len(gal)) == 3
    assert tset(strategy="hnsw") == tset(strategy="bruteforce")


def test_sharded_payload_persists_through_index_store(spark, tmp_path):
    """A sharded payload through index_store: built once, reloaded
    (not rebuilt) on the second job."""
    from face_hunter_spark import index_store
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.operators import hnsw
    from face_hunter_spark.operators.linking import _gallery_arrays

    cat = ParquetCatalog(str(tmp_path / "kg"))
    gal = synth.make_gallery_pdf(n_entities=6, thumbs_per_entity=4)
    arrays = _gallery_arrays(gal)
    key = index_store.payload_key(
        hnsw._gallery_fingerprint(arrays[0], arrays[1]),
        M=15, ef_construction=100, shards=2,
    )
    builds = []

    def build():
        builds.append(1)
        return hnsw.sharded_payload_spark(spark, arrays, n_shards=2)

    p1, built1 = index_store.load_or_build(spark, cat, key, "hnsw", build)
    p2, built2 = index_store.load_or_build(spark, cat, key, "hnsw", build)
    assert built1 and not built2 and len(builds) == 1
    assert p2["sharded"] and len(p2["shards"]) == 2
    q = arrays[1][:10] * 1.01
    a = hnsw.ShardedHNSW.from_payload(p1).search_batch(q, k=1)
    b = hnsw.ShardedHNSW.from_payload(p2).search_batch(q, k=1)
    assert np.array_equal(a[0], b[0])
