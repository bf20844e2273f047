"""Text-mention entity linking (operators/mentions.py).

Strategy: crafted interleaved docs with single- and multi-word labels,
word-boundary semantics (no substring false hits), normalization
(case/punctuation), span counting, short-span whole-gram edge case,
the triple emission shape, and a plan audit (equi-joins only — the
label catalog must never become a nested-loop contains scan).  Driver
query `text_mentions` adds the bit-exact DuckDB replay.
"""

import pyspark.sql.functions as F

from face_hunter_spark.operators.mentions import (
    SDO_MENTIONS,
    link_text_mentions,
    mention_triples,
)


def _docs(spark):
    def doc(doc_id, *texts):
        spans = [
            (("text", t, None, i) if t else ("media", None, f"m://{i}", i))
            for i, t in enumerate(texts)
        ]
        return (doc_id, spans)

    rows = [
        doc("d1", "Ada Lovelace wrote the first program", None,
            "program notes mention ada lovelace again"),
        doc("d2", "lovelace alone is not the full two-word label"),
        doc("d3", "charles babbage built engines; ADA, Lovelace!"),
        doc("d4", "nothing relevant here"),
        doc("d5", "ada"),  # short span: whole-span gram must not match L=2
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _cat(spark):
    return spark.createDataFrame(
        [
            ("Ada Lovelace", "http://example.org/e/ada_lovelace"),
            ("Charles Babbage", "http://example.org/e/babbage"),
            ("ada", "http://example.org/e/ada_short"),
        ],
        "label string, uri string",
    )


def test_mentions_matching_and_counts(spark):
    out = {
        (r["doc_id"], r["entity_uri"]): r
        for r in link_text_mentions(_docs(spark), _cat(spark)).collect()
    }
    # d1: both text spans mention Ada Lovelace (case-insensitive)
    assert out[("d1", "http://example.org/e/ada_lovelace")]["n_spans"] == 2
    # 'ada' single-word label also hits d1 (both spans) and d3 and d5
    assert out[("d1", "http://example.org/e/ada_short")]["n_spans"] == 2
    # d3: punctuation-normalized 'ADA, Lovelace!' matches both labels
    assert ("d3", "http://example.org/e/ada_lovelace") in out
    assert ("d3", "http://example.org/e/babbage") in out
    # d2 has 'lovelace' but never the two-word phrase
    assert ("d2", "http://example.org/e/ada_lovelace") not in out
    # d5's one-word span matches the L=1 label, not the L=2 one
    assert ("d5", "http://example.org/e/ada_short") in out
    assert ("d5", "http://example.org/e/ada_lovelace") not in out
    assert ("d4", "http://example.org/e/ada_short") not in out


def test_mentions_empty_catalog(spark):
    empty = spark.createDataFrame([], "label string, uri string")
    out = link_text_mentions(_docs(spark), empty)
    assert out.count() == 0
    assert out.columns == ["doc_id", "entity_uri", "label", "n_spans"]


def test_mention_triples_shape(spark):
    m = link_text_mentions(_docs(spark), _cat(spark))
    t = mention_triples(m)
    rows = t.collect()
    assert all(r["pred"] == SDO_MENTIONS for r in rows)
    assert all(r["subj"].startswith("http://face-hunter.org/resource/d") for r in rows)
    assert all(not r["obj_is_literal"] for r in rows)
    assert t.count() == m.count()


def test_mentions_plan_equi_join_only(spark):
    plan = (
        link_text_mentions(_docs(spark), _cat(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mentions_partitioning_invariance(spark):
    def run(parts):
        return sorted(
            map(
                tuple,
                link_text_mentions(
                    _docs(spark).repartition(parts), _cat(spark)
                ).collect(),
            )
        )

    assert run(1) == run(5)


def test_pipeline_mention_labels_option(spark, tmp_path):
    """mention_labels unions sdo:mentions triples into the committed
    table; canonicalization touches only depicts rows; idempotent
    rerun still emits nothing."""
    from face_hunter_spark import synth
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.operators.canonical import canonical_map
    from face_hunter_spark.pipeline import run_link_job
    from face_hunter_spark.schemas import NS

    docs = synth.documents_df(spark, 6, 6)
    # labels drawn from the synthetic text spans' vocabulary; the last
    # one is an entity-catalog URI whose canonical id is a QID
    catalog_uri = synth.dbpedia_uri("Entity 002")
    labels = spark.createDataFrame(
        [("Entity 001", "http://example.org/e/1"),
         ("entity", "http://example.org/e/any"),
         ("Entity 002", catalog_uri)],
        "label string, uri string",
    )
    cat = ParquetCatalog(str(tmp_path / "kg"))
    gal = synth.make_gallery_pdf(n_entities=6)
    ecat = synth.entity_catalog_df(spark, n_entities=6)
    stats = run_link_job(
        spark, cat, docs, gal, ecat, n_entities=6, mention_labels=labels
    )
    trip = cat.read(spark, "triples")
    mentions = trip.filter(F.col("pred") == SDO_MENTIONS)
    n_mentions = mentions.count()
    assert n_mentions > 0
    assert stats["n_triples"] == trip.count()
    # text spans in the synth corpus mention 'Entity NNN' phrases
    assert mentions.filter(F.col("obj") == "http://example.org/e/any").count() > 0
    # mentions are not canonicalized, even when obj is a catalog URI
    canon = dict(map(tuple, canonical_map(ecat).collect()))
    assert canon[catalog_uri] != catalog_uri
    assert mentions.filter(F.col("obj") == catalog_uri).count() > 0
    assert mentions.filter(F.col("obj_canonical") != F.col("obj")).count() == 0
    # scene-level depicts rows (foaf: and sdo:) carry the catalog's QID
    is_scene = F.col("subj").contains("#t=")
    depicts = trip.filter(
        F.col("pred").isin(NS["foaf_depicts"], NS["sdo_depicts"]) & is_scene
    ).select("subj", "obj", "obj_canonical").collect()
    assert depicts
    for r in depicts:
        assert r.obj_canonical == canon[r.obj]
        assert r.obj_canonical.startswith("http://www.wikidata.org/")
    # doc-level rows: one per (doc, QID) the doc's scenes depict
    doc_rows = trip.filter(
        (F.col("pred") == NS["sdo_depicts"]) & ~is_scene
    ).select("subj", "obj", "obj_canonical").collect()
    pairs = [(r.subj, r.obj) for r in doc_rows]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == {
        (r.subj.split("#t=")[0], r.obj_canonical) for r in depicts
    }
    assert all(r.obj_canonical == r.obj for r in doc_rows)
    # idempotent rerun
    stats2 = run_link_job(
        spark, cat, docs, gal, ecat, n_entities=6, mention_labels=labels
    )
    assert stats2["n_triples"] == 0
