"""Persisted ANN-index artifacts (index_store): the batch analogue of
the reference's saveIndex/loadIndex cache
(approximate_k_nearest_neighbors.py:51-62, models/index_cele.bin) —
build-once-per-distinct-gallery, with content-hash invalidation fixing
the reference's reload-stale-index-if-file-exists quirk."""

import tempfile

import numpy as np
import pytest

from face_hunter_spark import index_store, synth
from face_hunter_spark.catalog import ParquetCatalog
from face_hunter_spark.operators import hnsw, linking
from face_hunter_spark.pipeline import run_link_job


def _cat():
    return ParquetCatalog(tempfile.mkdtemp() + "/kg")


def _arrays(n_entities=8, seed=0):
    pdf = synth.make_gallery_pdf(
        n_entities=n_entities, thumbs_per_entity=3, distractors=1
    )
    return linking._gallery_arrays(pdf), pdf


def test_payload_roundtrip_hnsw(spark):
    cat = _cat()
    arrays, _ = _arrays()
    payload = hnsw.sharded_payload_spark(spark, arrays)
    key = index_store.payload_key(
        hnsw._gallery_fingerprint(arrays[0], arrays[1]),
        M=15, ef_construction=100,
    )
    index_store.save_payload(spark, cat, key, "hnsw", payload)
    back = index_store.load_payload(spark, cat, key, "hnsw")
    assert back is not None
    assert list(back["labels"]) == list(payload["labels"])
    assert back["fingerprint"] == payload["fingerprint"]
    np.testing.assert_array_equal(back["index"]["mat"], payload["index"]["mat"])
    for a, b in zip(back["index"]["adj"], payload["index"]["adj"]):
        np.testing.assert_array_equal(a, b)
    # the reloaded payload searches identically
    idx = hnsw.HNSWIndex.from_payload(back["index"])
    q = payload["index"]["mat"][:5]
    ids, _ = idx.search_batch(q, k=1)
    assert list(ids[:, 0]) == [0, 1, 2, 3, 4]


def test_payload_roundtrip_lsh_multichunk(spark):
    cat = _cat()
    arrays, _ = _arrays()
    payload = linking.lsh_payload_from_arrays(*arrays)
    key = index_store.payload_key("fp-lsh", bands=8, rows_per_band=6)
    # force multi-chunk storage
    index_store.save_payload(
        spark, cat, key, "lsh", payload, chunk_bytes=4096
    )
    n_chunks = cat.read(spark, "ann_index").count()
    assert n_chunks > 1
    back = index_store.load_payload(spark, cat, key, "lsh")
    import pickle

    assert pickle.dumps(back) == pickle.dumps(payload)


def test_load_miss_returns_none(spark):
    cat = _cat()
    assert index_store.load_payload(spark, cat, "nope", "hnsw") is None
    index_store.save_payload(spark, cat, "fp1", "hnsw", {"x": 1})
    assert index_store.load_payload(spark, cat, "fp1", "lsh") is None
    assert index_store.load_payload(spark, cat, "fp2", "hnsw") is None


def test_load_or_build_builds_once(spark):
    cat = _cat()
    calls = []

    def builder():
        calls.append(1)
        return {"arr": np.arange(5)}

    p1, built1 = index_store.load_or_build(spark, cat, "fpX", "hnsw", builder)
    p2, built2 = index_store.load_or_build(spark, cat, "fpX", "hnsw", builder)
    assert built1 and not built2
    assert len(calls) == 1
    np.testing.assert_array_equal(p1["arr"], p2["arr"])


def test_link_job_reuses_and_invalidates_index(spark, monkeypatch):
    """End-to-end through run_link_job(strategy='hnsw', cache_index):
    the graph build runs ONCE for a gallery across jobs (loadIndex
    fast path), and a gallery edit changes the content key so the
    stale artifact is NOT served (the reference reloads its .bin purely
    on file existence — the quirk this fixes)."""
    builds = []
    real = linking.MATCHERS["hnsw"]

    def counting(arrays):
        builds.append(1)
        return real.build(arrays)

    monkeypatch.setitem(
        linking.MATCHERS, "hnsw", real._replace(build=counting)
    )

    cat = _cat()
    gal = synth.make_gallery_pdf(
        n_entities=8, thumbs_per_entity=3, distractors=1
    )
    ecat = synth.entity_catalog_df(spark, n_entities=8, distractors=1)
    kw = dict(n_entities=8, strategy="hnsw", cache_index=True)

    docs1 = synth.documents_df(spark, 6, 8)
    s1 = run_link_job(spark, cat, docs1, gal, ecat, **kw)
    assert s1["n_triples"] > 0
    assert len(builds) == 1

    # second job, NEW docs, same gallery -> artifact served, no build
    docs2 = synth.documents_df(spark, 12, 8).join(
        docs1.select("doc_id"), "doc_id", "left_anti"
    )
    s2 = run_link_job(spark, cat, docs2, gal, ecat, **kw)
    assert s2["n_docs"] > 0
    assert len(builds) == 1

    # gallery edit (one interior label remap) -> new key, rebuild
    gal2 = gal.copy()
    mid = len(gal2) // 2
    gal2.loc[mid, "label"] = "renamed_entity"
    docs3 = synth.documents_df(spark, 15, 8).join(
        cat.read(spark, "triples").select("doc_id").distinct(),
        "doc_id", "left_anti",
    )
    run_link_job(spark, cat, docs3, gal2, ecat, **kw)
    assert len(builds) == 2

    # parity: cached-index job output matches a no-cache run bit-exact
    cat_nc = _cat()
    docs = synth.documents_df(spark, 6, 8)
    run_link_job(spark, cat_nc, docs, gal, ecat,
                 n_entities=8, strategy="hnsw")
    cat_c = _cat()
    run_link_job(spark, cat_c, docs, gal, ecat, **kw)
    a = sorted(
        (r.subj, r.pred, r.obj)
        for r in cat_nc.read(spark, "triples").collect()
    )
    b = sorted(
        (r.subj, r.pred, r.obj)
        for r in cat_c.read(spark, "triples").collect()
    )
    assert a == b


@pytest.mark.parametrize("shard_rows", [4096, 8])
def test_existing_hnsw_artifact_is_served(spark, monkeypatch, shard_rows):
    """An artifact persisted under the established hnsw keys —
    (M, ef_construction) for one graph, plus shards=n for a sharded
    build — is served from the catalog, not rebuilt."""
    monkeypatch.setattr(hnsw, "SHARD_ROWS", shard_rows)
    cat = _cat()
    arrays, _ = _arrays()
    n = hnsw.shard_count(spark, len(arrays[1]))
    assert (n > 1) == (shard_rows == 8)
    params = dict(M=15, ef_construction=100)
    if n > 1:
        params["shards"] = n
    payload = hnsw.sharded_payload_spark(spark, arrays, n_shards=n)
    key = index_store.payload_key(
        hnsw._gallery_fingerprint(arrays[0], arrays[1]), **params
    )
    index_store.save_payload(spark, cat, key, "hnsw", payload)
    got, built = linking.gallery_payload("hnsw", arrays, cat)
    assert built is False
    assert got["fingerprint"] == payload["fingerprint"]
    assert bool(got.get("sharded")) == (n > 1)


def test_torn_artifact_raises(spark):
    cat = _cat()
    index_store.save_payload(spark, cat, "fpT", "hnsw", {"x": np.arange(99)},
                             chunk_bytes=64)
    # simulate a torn write: claim more chunks than stored
    df = cat.read(spark, "ann_index")
    from pyspark.sql import functions as F

    bad = df.withColumn("n_chunks", F.col("n_chunks") + 1)
    cat2 = _cat()
    cat2.append("ann_index", bad.drop("snap"), "torn")
    with pytest.raises(RuntimeError, match="incomplete"):
        index_store.load_payload(spark, cat2, "fpT", "hnsw")
