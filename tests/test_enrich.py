"""Gallery-enrichment dataflow (VERDICT r3 'Next round' #5; reference
enrich_with_photos.py:103-180 + README.rst:36-40 accuracy lever):
append validated thumbnails to the catalog gallery, then re-link so a
previously-'unknown' doc flips to linked — idempotently, without
duplicating triples."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from face_hunter_spark import enrich, fakevision as fv, synth
from face_hunter_spark.catalog import ParquetCatalog
from face_hunter_spark.pipeline import run_lineage, run_link_job
from face_hunter_spark.schemas import DOCUMENTS, ENTITY_CATALOG, NS

N_DOC_ENTITIES = 6   # documents draw faces from entities 0..5
N_GAL_ENTITIES = 4   # bootstrap gallery covers only 0..3


@pytest.fixture()
def setup(spark, tmp_path):
    cat = ParquetCatalog(str(tmp_path / "kg"))
    docs = spark.createDataFrame(
        synth.make_documents_pdf(30, N_DOC_ENTITIES), DOCUMENTS
    )
    ecat = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=N_DOC_ENTITIES, distractors=0),
        ENTITY_CATALOG,
    )
    enrich.save_gallery(
        spark, cat,
        synth.make_gallery_pdf(
            n_entities=N_GAL_ENTITIES, thumbs_per_entity=6, distractors=0
        ),
    )
    stats = run_link_job(
        spark, cat, docs,
        enrich.load_gallery_pdf(spark, cat), ecat,
        n_entities=N_DOC_ENTITIES,
    )
    assert stats["n_triples"] > 0
    return cat, docs, ecat


def _depicted_labels(spark, cat):
    tr = cat.read(spark, "triples")
    return {
        r.obj.rsplit("/", 1)[-1].replace("_", " ")
        for r in tr.where(F.col("pred") == NS["foaf_depicts"])
        .select("obj").distinct().collect()
    }


def test_validate_candidates_single_face_filter(spark):
    cands = spark.createDataFrame(
        synth.make_enrich_candidates_pdf(["Entity 004", "Entity 005"], 12),
        enrich.CANDIDATES,
    )
    got = enrich.validate_candidates(cands).collect()
    refs = {r.thumb_ref for r in got}
    # exactly the single-face candidates survive
    for lab in ("Entity 004", "Entity 005"):
        for t in range(12):
            expect = fv.thumb_face_count(lab, t) == 1
            assert (fv.thumb_ref(lab, t) in refs) == expect
    assert 0 < len(got) < 24  # the reject path really fired
    # embedding matches the deterministic embed of that photo
    for r in got[:5]:
        lab, idx = fv.parse_thumb_ref(r.thumb_ref)
        np.testing.assert_array_equal(
            np.array(r.embedding, dtype=np.float32),
            fv.gallery_embedding(lab, idx),
        )


def test_enrich_flips_unknown_docs_idempotently(spark, setup):
    cat, docs, ecat = setup
    before = _depicted_labels(spark, cat)
    assert "Entity 004" not in before and "Entity 005" not in before
    n_before = cat.read(spark, "triples").count()

    # relink BEFORE enrichment: gallery unchanged -> zero delta
    st0 = enrich.run_relink_job(spark, cat, docs, ecat,
                                n_entities=N_DOC_ENTITIES)
    assert st0["n_triples"] == 0 and st0["snapshot"] is None

    # enrich with thumbnails for the two uncovered entities
    cands = spark.createDataFrame(
        synth.make_enrich_candidates_pdf(["Entity 004", "Entity 005"], 10),
        enrich.CANDIDATES,
    )
    est = enrich.run_enrich_job(spark, cat, cands)
    assert est["n_new_thumbs"] > 0
    assert est["n_valid"] == est["n_new_thumbs"]

    # rerun the same enrichment batch -> nothing new (thumb_ref key)
    est2 = enrich.run_enrich_job(spark, cat, cands)
    assert est2["n_new_thumbs"] == 0 and est2["snapshot"] is None
    assert est2["n_valid"] == est["n_valid"]

    # relink with the enriched gallery: unknown docs flip to linked
    st1 = enrich.run_relink_job(spark, cat, docs, ecat,
                                n_entities=N_DOC_ENTITIES)
    assert st1["n_triples"] > 0
    after = _depicted_labels(spark, cat)
    assert "Entity 004" in after or "Entity 005" in after
    assert before <= after

    # the delta append duplicates NOTHING that was already committed.
    # (A single link run can itself emit one triple twice — the quirk
    # kernel may produce two scenes with identical (start,end) and the
    # reference's rdflib SET store collapses those; our append-only
    # table is a bag with set semantics at read.  So the invariant is
    # per-row-identity counts not growing across appends, not global
    # distinctness.)
    tr = cat.read(spark, "triples")
    total = tr.count()
    assert total == n_before + st1["n_triples"]
    per_run = (
        tr.groupBy("doc_id", "subj", "pred", "obj", "run_id").count()
        .groupBy("doc_id", "subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n_runs"))
    )
    # every duplicated identity comes from ONE run (the quirk), never
    # from the relink re-appending a committed triple
    assert per_run.where(F.col("n_runs") > 1).count() == 0

    # second relink: idempotent (delta empty)
    st2 = enrich.run_relink_job(spark, cat, docs, ecat,
                                n_entities=N_DOC_ENTITIES)
    assert st2["n_triples"] == 0
    assert cat.read(spark, "triples").count() == total

    # lineage rows recorded for the relink append
    lin = run_lineage(cat.read(spark, "triples")).where(
        F.col("run_id") == st1["run_id"]
    )
    assert lin.count() > 0
    assert lin.agg(F.sum("n_triples")).collect()[0][0] == st1["n_triples"]


def test_relink_run_is_one_commit(spark, setup):
    """A non-empty relink run commits ONE triples snapshot (wall_ms in
    its summary) and touches no other table."""
    import os

    cat, docs, ecat = setup
    enrich.run_enrich_job(spark, cat, spark.createDataFrame(
        synth.make_enrich_candidates_pdf(["Entity 004", "Entity 005"], 10),
        enrich.CANDIDATES,
    ))

    def commits():
        return {t: len(cat.snapshots(t)) for t in os.listdir(cat.root)}

    before = commits()
    st = enrich.run_relink_job(spark, cat, docs, ecat,
                               n_entities=N_DOC_ENTITIES)
    assert st["n_triples"] > 0
    assert commits() == {**before, "triples": before["triples"] + 1}
    last = cat.snapshots("triples")[-1]
    assert last["id"] == st["snapshot"] and last["summary"]["wall_ms"] > 0


def test_enriched_gallery_changes_index_key(spark, setup):
    """A gallery append must change the content fingerprint that keys
    cached ANN payloads (index_store) — the artifact-level fix for the
    reference's reload-stale-index-if-file-exists quirk."""
    from face_hunter_spark.operators.hnsw import _gallery_fingerprint
    from face_hunter_spark.operators.linking import _gallery_arrays

    cat, docs, ecat = setup
    g0 = enrich.load_gallery_pdf(spark, cat)
    a0 = _gallery_arrays(g0)
    key0 = _gallery_fingerprint(a0[0], a0[1])
    cands = spark.createDataFrame(
        synth.make_enrich_candidates_pdf(["Entity 004"], 6),
        enrich.CANDIDATES,
    )
    assert enrich.run_enrich_job(spark, cat, cands)["n_new_thumbs"] > 0
    g1 = enrich.load_gallery_pdf(spark, cat)
    a1 = _gallery_arrays(g1)
    assert _gallery_fingerprint(a1[0], a1[1]) != key0
