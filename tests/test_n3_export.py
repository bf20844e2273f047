"""n3 export: round-trip equality against the triple table and shape
parity against the reference's committed artifact
(/root/reference/models/example_graph, written by
memory_store.py:48-59 via rdflib format='n3')."""

import re

import pytest

import pyspark.sql.functions as F

from face_hunter_spark import synth
from face_hunter_spark.operators import rdf
from face_hunter_spark.pipeline import link_documents
from face_hunter_spark.schemas import ENTITY_CATALOG, NS
from tests.conftest import requires_reference

CORE_PREDS = {
    NS["rdf_type"], NS["video_scene_from"], NS["video_temporal_segment_of"],
    NS["temporal_duration"], NS["temporal_has_finish"],
    NS["temporal_has_start"], NS["foaf_depicts"], NS["dc_identifier"],
    NS["dc_title"],
}


@pytest.fixture(scope="module")
def triples(spark):
    docs = synth.documents_df(spark, 12, 8)
    gal = synth.make_gallery_pdf(n_entities=8, thumbs_per_entity=4,
                                 distractors=1)
    cat = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=8, distractors=1),
        ENTITY_CATALOG,
    )
    return link_documents(docs, gal, cat, n_entities=8).cache()


def test_n3_roundtrip_exact(spark, triples):
    text = rdf.n3_document(triples)[0]
    parsed = rdf.parse_n3(text)
    want = {
        (r.subj, r.pred, r.obj)
        for r in triples.where(F.col("pred").isin(*CORE_PREDS))
        .select("subj", "pred", "obj").distinct().collect()
    }
    assert parsed == want


def test_n3_block_shape(spark, triples):
    text = rdf.n3_document(triples)[0]
    blocks = [b for b in text.split("\n\n") if b and not b.startswith("@prefix")]
    assert blocks, "no blocks emitted"
    scene_seen = video_seen = False
    for b in blocks:
        lines = b.splitlines()
        assert lines[0].startswith("<") and lines[0].endswith(";"), lines[0]
        assert lines[-1].endswith(" ."), lines[-1]
        for mid in lines[1:]:
            assert mid.startswith("    "), mid
        if " a video:Scene ;" in lines[0]:
            scene_seen = True
            preds = [ln.strip().split()[0] for ln in lines[1:]]
            # reference predicate order (models/example_graph:8-15)
            want = [p for p in ["video:sceneFrom", "video:temporalSegmentOf",
                                "temporal:duration", "temporal:hasFinishTime",
                                "temporal:hasStartTime"]]
            assert preds[: len(want)] == want, preds
            assert all(p == "foaf:depicts" for p in preds[len(want):])
        if " a mpeg7:Video ;" in lines[0]:
            video_seen = True
            preds = [ln.strip().split()[0] for ln in lines[1:]]
            assert preds == ["dc:identifier", "dc:title"], preds
    assert scene_seen and video_seen
    # scene blocks come before video blocks, as in the example artifact
    kinds = ["v" if " a mpeg7:Video" in b else "s" for b in blocks]
    assert kinds == sorted(kinds, key=lambda k: k == "v")


def test_n3_literal_escaping_roundtrip(spark):
    """Real titles can carry quotes/backslashes/newlines; the writer
    must escape them (rdflib would reject the artifact otherwise) and
    the parser must invert the escaping exactly."""
    import pandas as pd

    from face_hunter_spark.operators.triples import video_triples

    nasty = [
        'He said "hello" ; and left.',
        "back\\slash and\nnewline\tand tab",
        'ends with a quote "',
        "caret^^caret must not read as a datatype marker",
        "plain title",
    ]
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"vid_{i:05d}" for i in range(len(nasty))],
        "spans": [[] for _ in nasty],
        "title": nasty,
    }), "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, title string")
    triples = video_triples(docs).withColumn(
        "obj_datatype", F.lit(None).cast("string")
    )
    text = rdf.n3_document(triples)[0]
    assert '\\"hello\\"' in text and "\\n" in text
    # no raw newline inside any quoted literal
    for ln in text.splitlines():
        if 'dc:title "' in ln:
            assert ln.count('"') >= 2 and not ln.endswith('\\')
    parsed = rdf.parse_n3(text)
    got_titles = {o for _, p, o in parsed if p == NS["dc_title"]}
    assert got_titles == set(nasty)


@requires_reference
def test_n3_header_matches_reference():
    with open("/root/reference/models/example_graph") as f:
        ref = f.read()
    ref_prefixes = {ln for ln in ref.splitlines() if ln.startswith("@prefix")}
    ours = {ln for ln in rdf.N3_PREFIXES.splitlines() if ln}
    assert ours == ref_prefixes


@requires_reference
def test_parse_reference_artifact():
    """Our reader consumes the reference's actual committed n3 file —
    every triple lands in the known vocabulary with the expected
    counts (12 videos with identifier+title, scene blocks complete)."""
    with open("/root/reference/models/example_graph") as f:
        parsed = rdf.parse_n3(f.read())
    preds = {p for _, p, _ in parsed}
    assert preds <= CORE_PREDS
    videos = {s for s, p, o in parsed
              if p == NS["rdf_type"] and o == NS["mpeg7_video"]}
    assert len(videos) == 12
    for v in videos:
        assert (v, NS["dc_identifier"],
                f"http://www.youtube.com/watch?v={v.rsplit('/', 1)[1]}") in parsed
    scenes = {s for s, p, o in parsed
              if p == NS["rdf_type"] and o == NS["video_scene"]}
    for s in scenes:
        have = {p for s2, p, _ in parsed if s2 == s}
        assert {NS["video_scene_from"], NS["temporal_has_start"],
                NS["temporal_has_finish"], NS["temporal_duration"]} <= have
    # scene URI shape: <video>#t=H:MM:SS,H:MM:SS
    assert all(re.search(r"#t=\d+:\d\d:\d\d,\d+:\d\d:\d\d$", s)
               for s in scenes)


def test_sharded_export_roundtrip(spark, triples, tmp_path):
    """export_n3_sharded (the 10^12-doc sink form): doc_bucket part
    files + shared header re-parse to exactly the triple set of the
    driver-assembled document."""
    from face_hunter_spark.operators import triples as T

    bucketed = T.with_partitioning(triples, run_id="n3test")
    out = str(tmp_path / "n3_shards")
    n = rdf.export_n3_sharded(bucketed, out)
    assert n > 0
    import os

    shards = [d for d in os.listdir(out) if d.startswith("doc_bucket=")]
    assert len(shards) >= 2, shards  # real sharding, not one bucket
    got = rdf.read_n3_sharded(out)
    want = rdf.parse_n3(rdf.n3_document(triples)[0])
    assert got == want


def test_parse_n3_generic_documents():
    """LOAD-path robustness (review finding): prefixed-name subjects
    and objects expand through the @prefix table, comments skip, a
    continuation-first or undeclared-prefix line raises instead of
    silently attributing triples to the previous subject."""
    import pytest

    from face_hunter_spark.operators.rdf import parse_n3

    doc = (
        "@prefix ex: <http://e/> .\n"
        "# comment\n"
        "ex:alice ex:knows ex:bob .\n"
        'ex:bob ex:name "Bobby" .\n'
        "<http://e/carol> <http://e/knows> ex:alice .\n"
        "ex:dave a ex:Person .\n"
    )
    assert parse_n3(doc) == {
        ("http://e/alice", "http://e/knows", "http://e/bob"),
        ("http://e/bob", "http://e/name", "Bobby"),
        ("http://e/carol", "http://e/knows", "http://e/alice"),
        ("http://e/dave",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://e/Person"),
    }
    # generic ';' continuations with absolute-IRI predicates: the
    # open block wins over the new-subject interpretation
    doc2 = (
        "<http://e/s1> <http://e/p> <http://e/o1> ;\n"
        '    <http://e/q> "lit" .\n'
        "<http://e/s2> <http://e/p> <http://e/o2> .\n"
    )
    assert parse_n3(doc2) == {
        ("http://e/s1", "http://e/p", "http://e/o1"),
        ("http://e/s1", "http://e/q", "lit"),
        ("http://e/s2", "http://e/p", "http://e/o2"),
    }
    with pytest.raises(ValueError, match="subject"):
        parse_n3('dangling "x" .')
    with pytest.raises(ValueError, match="subject"):
        parse_n3("zz:a <http://e/p> <http://e/o> .")


def test_parse_n3_single_token_lines():
    """Review hardening round 2: a subject on its own line and a lone
    '.' terminator line (both legal Turtle) parse; malformed
    single-token statements raise the designed message."""
    import pytest

    from face_hunter_spark.operators.rdf import parse_n3

    doc = (
        "@prefix ex: <http://e/> .\n"
        "ex:s\n"
        "    ex:p ex:o ;\n"
        '    ex:q "v"\n'
        ".\n"
        "<http://e/t>\n"
        "    <http://e/p> <http://e/u> .\n"
    )
    assert parse_n3(doc) == {
        ("http://e/s", "http://e/p", "http://e/o"),
        ("http://e/s", "http://e/q", "v"),
        ("http://e/t", "http://e/p", "http://e/u"),
    }
    with pytest.raises(ValueError, match="statement"):
        parse_n3(
            "@prefix ex: <http://e/> .\n"
            "ex:s ex:p ex:o ;\n    garbage .\n"
        )
