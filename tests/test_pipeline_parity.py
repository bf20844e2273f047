"""End-to-end parity: the distributed Spark pipeline vs the sequential
pure-Python reference-semantics oracle on the same deterministic
synthetic corpus.  Gate: triple P/R >= 0.95 (BASELINE.json) — we
assert exact set equality, which is stronger."""

import pyspark.sql.functions as F
import pytest

from face_hunter_spark import synth
from face_hunter_spark.pipeline import link_documents, run_lineage, run_link_job
from face_hunter_spark.reference_oracle import oracle_triples, precision_recall
from face_hunter_spark.schemas import NS

N_DOCS = 60
N_ENTITIES = 20


@pytest.fixture(scope="module")
def corpus(spark):
    docs_pdf = synth.make_documents_pdf(N_DOCS, N_ENTITIES)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    catalog_pdf = synth.make_entity_catalog_pdf(
        n_entities=N_ENTITIES, distractors=3
    )
    from face_hunter_spark.schemas import DOCUMENTS, ENTITY_CATALOG, GALLERY

    return {
        "docs_pdf": docs_pdf,
        "gallery_pdf": gallery_pdf,
        "catalog_pdf": catalog_pdf,
        "docs": spark.createDataFrame(docs_pdf, DOCUMENTS),
        "gallery": spark.createDataFrame(gallery_pdf, GALLERY),
        "catalog": spark.createDataFrame(catalog_pdf, ENTITY_CATALOG),
    }


CORE_PREDS = {
    NS["rdf_type"], NS["dc_identifier"], NS["dc_title"],
    NS["video_scene_from"], NS["video_temporal_segment_of"],
    NS["temporal_has_start"], NS["temporal_duration"],
    NS["temporal_has_finish"], NS["foaf_depicts"],
}


def spark_triple_set(df):
    rows = df.select("subj", "pred", "obj").collect()
    return {(r.subj, r.pred, r.obj) for r in rows if r.pred in CORE_PREDS}


def test_bruteforce_parity(spark, corpus):
    got = spark_triple_set(
        link_documents(
            corpus["docs"], corpus["gallery_pdf"], corpus["catalog"],
            n_entities=N_ENTITIES,
        )
    )
    expected = oracle_triples(
        corpus["docs_pdf"], corpus["gallery_pdf"], corpus["catalog_pdf"],
        n_entities=N_ENTITIES,
    )
    p, r = precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, (p, r, len(got), len(expected))
    assert got == expected  # stronger: bit-exact triple set


def test_lsh_parity(spark, corpus):
    """Both LSH physical forms (the fused broadcast-gallery matcher and
    the shuffle-side join an over-budget Spark gallery routes to) must
    clear the P/R gate vs the reference oracle."""
    expected = oracle_triples(
        corpus["docs_pdf"], corpus["gallery_pdf"], corpus["catalog_pdf"],
        n_entities=N_ENTITIES,
    )
    # a pandas gallery always broadcasts; a Spark gallery over a zero
    # budget takes the shuffle-side join
    for form, gallery in (
        ("broadcast", corpus["gallery_pdf"]),
        ("shuffle", corpus["gallery"]),
    ):
        got = spark_triple_set(
            link_documents(
                corpus["docs"], gallery, corpus["catalog"],
                n_entities=N_ENTITIES, strategy="lsh",
                broadcast_budget_rows=0,
            )
        )
        p, r = precision_recall(got, expected)
        # LSH is approximate: the P/R >= 0.95 gate applies as-is
        assert p >= 0.95 and r >= 0.95, (form, p, r, len(got), len(expected))


@pytest.mark.parametrize("gallery", ["gallery_pdf", "gallery"])
@pytest.mark.parametrize("strategy", ["foo", "lsh_shuffle"])
def test_unknown_strategy_is_rejected_up_front(
    spark, corpus, monkeypatch, gallery, strategy
):
    """An unknown strategy raises ValueError naming the matchers before
    the gallery is routed, for a pandas and an over-budget Spark
    gallery alike (the latter would otherwise route to the shuffle
    join)."""
    import re

    from face_hunter_spark import pipeline
    from face_hunter_spark.operators import linking

    def _boom(*a, **k):
        raise AssertionError("gallery routed before strategy validation")

    monkeypatch.setattr(pipeline, "_route_gallery", _boom)
    with pytest.raises(
        ValueError, match=re.escape(str(sorted(linking.MATCHERS)))
    ):
        link_documents(
            corpus["docs"], corpus[gallery], corpus["catalog"],
            n_entities=N_ENTITIES, strategy=strategy,
            broadcast_budget_rows=0,
        )


def test_spark_gallery_under_budget_collects_and_matches(spark, corpus):
    """A Spark-DataFrame gallery at/under the broadcast budget behaves
    exactly like the classic pandas path (same ordered collect): the
    triple set is bit-identical to the bruteforce pandas run."""
    want = spark_triple_set(
        link_documents(
            corpus["docs"], corpus["gallery_pdf"], corpus["catalog"],
            n_entities=N_ENTITIES,
        )
    )
    got = spark_triple_set(
        link_documents(
            corpus["docs"], corpus["gallery"], corpus["catalog"],
            n_entities=N_ENTITIES,
        )
    )
    assert got == want


def test_spark_gallery_over_budget_routes_to_shuffle_join(
    spark, corpus, monkeypatch
):
    """VERDICT r4 #2 (the one scale-killer): a gallery LARGER than the
    broadcast budget must never materialize on the driver — linking
    auto-routes to the bucketed shuffle join.  Proven two ways: the
    pandas-collect helper is rigged to explode if touched, and the
    linked result still clears the P/R gate vs the reference oracle."""
    from face_hunter_spark import pipeline
    from face_hunter_spark.operators import linking

    def _boom(*a, **k):  # the driver-materialization choke point
        raise AssertionError(
            "over-budget gallery was collected to the driver"
        )

    monkeypatch.setattr(linking, "_gallery_arrays", _boom)
    monkeypatch.setattr(
        type(corpus["gallery"]), "toPandas", _boom, raising=True
    )
    out = link_documents(
        corpus["docs"], corpus["gallery"], corpus["catalog"],
        n_entities=N_ENTITIES, broadcast_budget_rows=10,
    )
    monkeypatch.undo()
    expected = oracle_triples(
        corpus["docs_pdf"], corpus["gallery_pdf"], corpus["catalog_pdf"],
        n_entities=N_ENTITIES,
    )
    p, r = precision_recall(spark_triple_set(out), expected)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_idempotent_rerun(spark, corpus, tmp_path):
    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))
    stats1 = run_link_job(
        spark, cat, corpus["docs"], corpus["gallery_pdf"], corpus["catalog"],
        n_entities=N_ENTITIES,
    )
    assert stats1["n_docs"] == N_DOCS and stats1["n_triples"] > 0
    # rerun over the same docs: everything anti-joined away
    stats2 = run_link_job(
        spark, cat, corpus["docs"], corpus["gallery_pdf"], corpus["catalog"],
        n_entities=N_ENTITIES,
    )
    assert stats2["n_triples"] == 0
    # resume: add new docs, only they are processed
    docs2 = synth.make_documents_pdf(N_DOCS + 10, N_ENTITIES)
    from face_hunter_spark.schemas import DOCUMENTS

    stats3 = run_link_job(
        spark, cat, spark.createDataFrame(docs2, DOCUMENTS),
        corpus["gallery_pdf"], corpus["catalog"], n_entities=N_ENTITIES,
    )
    assert stats3["n_docs"] == 10
    # committed table = union of both runs; triple set matches a fresh
    # one-shot run over all 70 docs
    all_docs = spark.createDataFrame(docs2, DOCUMENTS)
    fresh = spark_triple_set(
        link_documents(all_docs, corpus["gallery_pdf"], corpus["catalog"],
                       n_entities=N_ENTITIES)
    )
    stored = spark_triple_set(cat.read(spark, "triples"))
    assert stored == fresh
    # lineage recorded per bucket per run
    lineage = run_lineage(cat.read(spark, "triples"))
    assert lineage.where(F.col("run_id") == stats1["run_id"]).count() > 0
    assert lineage.where(F.col("run_id") == stats3["run_id"]).count() > 0


def test_link_job_destroys_its_gallery_broadcast(
    spark, corpus, tmp_path, monkeypatch
):
    """A committing link leaves no gallery broadcast file behind in the
    context's temp dir, whether it returns or raises, so a handle that
    links many times does not pile up one payload per link."""
    import os

    from face_hunter_spark import pipeline
    from face_hunter_spark.catalog import ParquetCatalog

    tmp = spark.sparkContext._temp_dir
    before = set(os.listdir(tmp))
    cat = ParquetCatalog(str(tmp_path / "kg"))
    docs = corpus["docs"].limit(6)

    def link():
        return run_link_job(spark, cat, docs, corpus["gallery_pdf"],
                            corpus["catalog"], n_entities=N_ENTITIES)

    assert link()["n_triples"] > 0
    assert not set(os.listdir(tmp)) - before

    def failing_commit(*args, **kwargs):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(pipeline, "commit_run", failing_commit)
    with pytest.raises(RuntimeError, match="commit failed"):
        link()
    assert not set(os.listdir(tmp)) - before


def test_titled_corpus_emits_real_titles(spark, corpus):
    """A documents table carrying a ``title`` column emits it as the
    dc:title literal (hunter.py:103 stores the downloaded title);
    corpora without one keep the doc_id fallback."""
    titled = corpus["docs"].withColumn(
        "title",
        F.when(
            F.col("doc_id") == "vid_00000", F.lit(None).cast("string")
        ).otherwise(F.concat(F.lit("Title of "), F.col("doc_id"))),
    )
    from face_hunter_spark.operators.triples import video_triples

    titles = {
        r.doc_id: r.obj
        for r in video_triples(titled)
        .where(F.col("pred") == NS["dc_title"]).collect()
    }
    assert titles["vid_00001"] == "Title of vid_00001"
    assert titles["vid_00000"] == "vid_00000"  # NULL -> doc_id fallback
    plain = {
        r.doc_id: r.obj
        for r in video_triples(corpus["docs"])
        .where(F.col("pred") == NS["dc_title"]).collect()
    }
    assert all(v == k for k, v in plain.items())


def test_span_roundtrip_invariant(spark, corpus):
    """BASELINE.json per-row invariant: explode -> reassemble preserves
    (kind, text, media_ref, order) per document exactly."""
    from face_hunter_spark.operators.spans import explode_spans, reassemble_spans

    docs = corpus["docs"]
    back = reassemble_spans(explode_spans(docs))
    orig = {r.doc_id: [(s.kind, s.text, s.media_ref) for s in r.spans]
            for r in docs.collect()}
    round_ = {r.doc_id: [(s.kind, s.text, s.media_ref) for s in r.spans]
              for r in back.collect()}
    assert orig == round_


def test_one_face_parity(spark, corpus):
    """one_face mode (largest box height per frame, reference
    face_recognition.py:367-371) is bit-exact vs the oracle's one_face
    path AND actually changes the emitted triples on multi-face
    frames."""
    got = spark_triple_set(
        link_documents(
            corpus["docs"], corpus["gallery_pdf"], corpus["catalog"],
            n_entities=N_ENTITIES, one_face=True,
        )
    )
    expected = oracle_triples(
        corpus["docs_pdf"], corpus["gallery_pdf"], corpus["catalog_pdf"],
        n_entities=N_ENTITIES, one_face=True,
    )
    p, r = precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, (p, r, len(got), len(expected))
    assert got == expected
    all_faces = oracle_triples(
        corpus["docs_pdf"], corpus["gallery_pdf"], corpus["catalog_pdf"],
        n_entities=N_ENTITIES,
    )
    # the corpus plants 2-face frames (fakevision run_faces), so
    # dropping the smaller face must change scene signatures somewhere
    assert got != all_faces


def test_face_geometry_columns(spark, corpus):
    """FACES rows carry the reference's detection geometry: box
    [x,y,w,h] + confidence (face_recognition.py:176-192), null on
    empty-frame sentinel rows; one_face keeps exactly one face per
    frame that has any."""
    from face_hunter_spark.operators.spans import media_frames
    from face_hunter_spark.operators.vision import detect_embed_faces

    media = media_frames(corpus["docs"])
    faces = detect_embed_faces(media, n_entities=N_ENTITIES).cache()
    try:
        real = faces.where(F.col("face_idx").isNotNull())
        assert real.where(
            F.col("box").isNull() | (F.size("box") != 4)
            | F.col("confidence").isNull()
        ).count() == 0
        assert real.where(
            (F.element_at("box", 4) < 40) | (F.element_at("box", 4) >= 160)
            | (F.col("confidence") < 0.9) | (F.col("confidence") > 1.0)
        ).count() == 0
        sentinel = faces.where(F.col("face_idx").isNull())
        assert sentinel.where(F.col("box").isNotNull()).count() == 0
        multi = (
            real.groupBy("doc_id", "frame_no")
            .count().where(F.col("count") > 1).count()
        )
        assert multi > 0  # corpus really has multi-face frames
    finally:
        faces.unpersist()
    one = detect_embed_faces(media, n_entities=N_ENTITIES, one_face=True)
    per_frame = (
        one.where(F.col("face_idx").isNotNull())
        .groupBy("doc_id", "frame_no").count()
    )
    assert per_frame.where(F.col("count") != 1).count() == 0


def test_scene_triples_set_semantics_on_duplicate_entities(spark):
    """A frame with two faces linked to the SAME entity yields ONE
    depicts triple per (scene, entity) — the reference's rdflib Graph /
    Virtuoso store are sets, so duplicates collapse there
    (memory_store.py:48-54); the triple table must match."""
    from face_hunter_spark.operators.triples import scene_triples
    from face_hunter_spark.schemas import NS

    scenes = spark.createDataFrame(
        [("vid_x", 0, 4000, ["Entity 001", "Entity 001", "Entity 002"])],
        "doc_id string, start_ms long, end_ms long, entities array<string>",
    )
    cat = spark.createDataFrame(
        [("Entity 001", "http://dbpedia.org/resource/Entity_001", "dbpedia"),
         ("Entity 002", "http://dbpedia.org/resource/Entity_002", "dbpedia")],
        "name string, entity string, source_kg string",
    )
    out = scene_triples(scenes, cat)
    dep = out.where(out.pred == NS["foaf_depicts"]).collect()
    assert sorted(r.obj for r in dep) == [
        "http://dbpedia.org/resource/Entity_001",
        "http://dbpedia.org/resource/Entity_002",
    ]
    # full output has zero duplicate (subj, pred, obj) rows
    assert (
        out.groupBy("subj", "pred", "obj").count().where("count > 1").count()
        == 0
    )
