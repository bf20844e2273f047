"""SparkHunter facade — API parity with the reference's Hunter class
(link / video_exists / search / scenes_of / query / evaluate)."""

import pyspark.sql.functions as F

from face_hunter_spark import synth
from face_hunter_spark.hunter import SparkHunter
from face_hunter_spark.schemas import NS
from tests.conftest import run_in_job_group

N_ENT = 10


def test_hunter_end_to_end(spark, tmp_path):
    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT,
                    gallery_pdf=synth.make_gallery_pdf(
                        n_entities=N_ENT, thumbs_per_entity=5, distractors=2),
                    entity_catalog=synth.entity_catalog_df(
                        spark, n_entities=N_ENT, distractors=2))
    docs = synth.documents_df(spark, 20, N_ENT)

    assert not h.video_exists("vid_00000")
    stats = h.link(docs)
    assert stats["n_docs"] == 20 and stats["n_triples"] > 0
    assert h.video_exists("vid_00000")

    # idempotent re-link (the reference's video_exists early exit)
    assert h.link(docs)["n_triples"] == 0

    # scenes_of: every returned scene belongs to the requested video
    sc = h.scenes_of("vid_00000").collect()
    assert sc and all("vid_00000#t=" in r.scene for r in sc)

    # search by label resolves through the catalog; by Wikidata URI
    # through the canonical map — both find the same scene set
    row = (
        h.search("Entity 001").select("link").distinct().collect()
        if h.search("Entity 001") is not None else []
    )
    assert row, "label search found no scenes"
    from face_hunter_spark.synth import wikidata_uri

    via_wd = h.search(wikidata_uri("Entity 001"))
    assert via_wd is not None
    assert {r.link for r in via_wd.select("link").distinct().collect()} == {
        r.link for r in row
    }

    # user-filter query over the scene view
    n = h.query("entity LIKE '%Entity_001'").count()
    assert n > 0

    # evaluation: near-perfect on the clean synthetic gallery
    ev = h.evaluate(docs.limit(8))
    assert ev["frame_metrics"]["precision"] > 0.9
    assert ev["video_accuracy"] > 0.9

    # n3 export (the reference's commit() artifact): round-trips to the
    # committed core triples
    from face_hunter_spark.operators import rdf
    from tests.test_n3_export import CORE_PREDS

    out = str(tmp_path / "graph.n3")
    n_blocks = h.export_n3(out)
    assert n_blocks > 20
    with open(out) as f:
        parsed = rdf.parse_n3(f.read())
    committed = h.catalog.read(spark, "triples")
    want = {
        (r.subj, r.pred, r.obj)
        for r in committed.where(F.col("pred").isin(*CORE_PREDS))
        .select("subj", "pred", "obj").distinct().collect()
    }
    assert parsed == want


def test_flat_n3_export_refuses_large_tables(spark, tmp_path, monkeypatch):
    """Above FLAT_N3_MAX_ROWS the driver-assembled export raises and
    names the sharded form; at the limit it still writes."""
    import pytest

    from face_hunter_spark import hunter

    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT)
    n_rows = h.link(synth.documents_df(spark, 4, N_ENT))["n_triples"]
    out = tmp_path / "graph.n3"
    monkeypatch.setattr(hunter, "FLAT_N3_MAX_ROWS", n_rows - 1)
    with pytest.raises(ValueError, match="sharded=True"):
        h.export_n3(str(out))
    assert not out.exists()
    monkeypatch.setattr(hunter, "FLAT_N3_MAX_ROWS", n_rows)
    assert h.export_n3(str(out)) > 0


def test_hunter_unknown_label_returns_none(spark, tmp_path):
    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT)
    h.link(synth.documents_df(spark, 4, N_ENT))
    assert h.search("No Such Person") is None


def test_raw_graph_pattern_sql(spark, tmp_path):
    """SparkHunter.sql: user-supplied SQL adding NEW triple patterns
    (the reference's /api/query raw-fragment path, graph.py:194-244) —
    here a join on the doc-level sdo:depicts predicate, which the
    scene_view does not expose."""
    from face_hunter_spark.schemas import NS

    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT,
                    gallery_pdf=synth.make_gallery_pdf(
                        n_entities=N_ENT, thumbs_per_entity=5, distractors=2),
                    entity_catalog=synth.entity_catalog_df(
                        spark, n_entities=N_ENT, distractors=2))
    assert h.sql("SELECT 1") is None  # guard before any commit
    docs = synth.documents_df(spark, 20, N_ENT)
    h.link(docs)

    got = h.sql(f"""
        SELECT DISTINCT sv.title, dd.obj AS doc_entity_qid
        FROM {{scene_view}} sv
        JOIN {{triples}} dd
          ON dd.subj = sv.video
         AND dd.pred = '{NS["sdo_depicts"]}'
        ORDER BY title, doc_entity_qid
    """).collect()
    assert got

    # equivalent DataFrame derivation from the committed table
    t = h.catalog.read(spark, "triples")
    videos = (
        t.where(F.col("pred") == NS["video_scene_from"])
        .select(F.col("obj").alias("video")).distinct()
    )
    want = (
        t.where(F.col("pred") == NS["sdo_depicts"])
        .join(videos, F.col("subj") == F.col("video"))
        .select(
            F.element_at(F.split("subj", "/"), -1).alias("title"),
            F.col("obj").alias("doc_entity_qid"),
        )
        .distinct().orderBy("title", "doc_entity_qid").collect()
    )
    assert [(r.title, r.doc_entity_qid) for r in got] == [
        (r.title, r.doc_entity_qid) for r in want
    ]


def test_construct_validate_stats_facade(spark, tmp_path):
    """Round-4 facade surfaces: CONSTRUCT materialization, the quality
    gate, and VoID stats on one handle (all None pre-commit)."""
    from face_hunter_spark import synth
    from face_hunter_spark.hunter import SparkHunter
    from face_hunter_spark.schemas import NS

    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=8)
    assert h.construct([("?v", NS["hunter_has_scene"], "?s")],
                       [("?s", "x:of", "?v")]) is None
    assert h.validate() is None
    assert h.stats() is None

    h.link(synth.documents_df(spark, 10, 8))
    derived = h.construct(
        [("?v", NS["hunter_has_scene"], "?s"),
         ("?s", NS["sdo_depicts"], "?e")],
        [("?e", "x:appearsIn", "?v")],
        exclude_asserted=True,
    )
    n = derived.count()
    assert n > 0 and derived.distinct().count() == n

    out = h.validate()
    assert out["conformant"] and h.catalog.exists("triples_quality_report")

    pp = {r.pred: r.n_triples for r in h.stats().collect()}
    assert pp[NS["hunter_has_scene"]] > 0
    assert sum(pp.values()) == h.catalog.read(spark, "triples").count()


_VIDEOS = (
    f"SELECT ?v WHERE {{ ?v <{NS['rdf_type']}> <{NS['mpeg7_video']}> }}"
)


def test_views_refresh_only_when_the_table_changes(spark, tmp_path):
    """A link does not re-read the table it wrote (no file-listing job),
    and a second read with no commit in between reuses the registered
    views: it runs only its own query job."""
    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT)
    # list every multi-path read in parallel, so a re-read of the
    # committed table shows up as a "Listing leaf files" job
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    try:
        stats, jobs = run_in_job_group(
            spark, lambda: h.link(synth.documents_df(spark, 8, N_ENT)))
        assert stats["n_docs"] == 8
        assert not [j for j in jobs
                    if j["description"].startswith("Listing leaf files")]
        first, _ = run_in_job_group(
            spark, lambda: h.sparql(_VIDEOS).collect())
        second, jobs = run_in_job_group(
            spark, lambda: h.sparql(_VIDEOS).collect())
    finally:
        spark.conf.unset(
            "spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert len(first) == 8 and sorted(second) == sorted(first)
    assert len(jobs) == 1, jobs


def test_views_see_every_writer(spark, tmp_path):
    """Views are keyed on the table's snapshot ids, so a read sees rows
    committed by another handle on the same root, by update() and by
    import_n3() — none of which registers this handle's views."""
    root = str(tmp_path / "kg")
    h = SparkHunter(spark, root, n_entities=N_ENT)
    h.link(synth.documents_df(spark, 6, N_ENT))
    assert h.sparql(_VIDEOS).count() == 6

    other = SparkHunter(spark, root, n_entities=N_ENT)
    assert other.link(synth.documents_df(spark, 9, N_ENT))["n_docs"] == 3
    assert h.sparql(_VIDEOS).count() == 9

    probe = "SELECT ?o WHERE { <http://e/s> <http://e/p> ?o }"
    assert h.sparql(probe).count() == 0
    h.update('INSERT DATA { <http://e/s> <http://e/p> "from-update" . }')
    assert {r.o for r in h.sparql(probe).collect()} == {"from-update"}
    n3 = tmp_path / "more.n3"
    n3.write_text('<http://e/s> <http://e/p> "from-import" .\n')
    assert h.import_n3(str(n3))["inserted"] == 1
    assert {r.o for r in h.sparql(probe).collect()} == {
        "from-update", "from-import"}

