"""n3 IMPORT path (sources.import_n3): the data-migration half of
"switch engines, keep your queries AND your data" — export→import
round-trip with literal shapes, idempotent re-import, the reference's
own committed artifact loaded and queried, and the sharded
executor-parallel parse."""

import json

import pyspark.sql.functions as F
import pytest

from face_hunter_spark import synth
from face_hunter_spark.catalog import ParquetCatalog
from face_hunter_spark.hunter import SparkHunter
from face_hunter_spark.operators import rdf
from face_hunter_spark.schemas import HOME_URI, NS
from face_hunter_spark.sources import import_n3
from tests.conftest import requires_reference

REF = "/root/reference/models/example_graph"
OBAMA = "http://dbpedia.org/resource/Barack_Obama"


def _linked_hunter(spark, tmp_path, name):
    h = SparkHunter(spark, str(tmp_path / name), n_entities=6)
    h.link(synth.documents_df(spark, 10, 6))
    return h


def _n3_spo(df):
    return {
        (r.subj, r.pred, r.obj, r.obj_is_literal)
        for r in df.select(
            "subj", "pred", "obj", "obj_is_literal"
        ).collect()
    }


def test_export_import_roundtrip_with_shapes(spark, tmp_path):
    src = _linked_hunter(spark, tmp_path, "src")
    n3 = str(tmp_path / "g.n3")
    n_blocks = src.export_n3(n3)
    assert n_blocks > 0

    dst = SparkHunter(spark, str(tmp_path / "dst"), n_entities=6)
    stats = dst.import_n3(n3)
    assert stats["inserted"] == stats["parsed"] > 0

    # the n3-representable subset survives with literal shapes intact
    src_t = src.catalog.read(spark, "triples")
    dst_t = dst.catalog.read(spark, "triples")
    n3_preds = [r.pred for r in dst_t.select("pred").distinct().collect()]
    src_sub = src_t.where(F.col("pred").isin(n3_preds))
    assert _n3_spo(dst_t) == _n3_spo(src_sub)
    # doc_id recovered from HOME_URI subjects (scene + video collapse)
    docs = {r.doc_id for r in dst_t.select("doc_id").distinct().collect()}
    assert docs == {
        r.doc_id for r in src_t.select("doc_id").distinct().collect()
    }
    # idempotent: re-import inserts nothing, commits nothing
    n_snaps = len(dst.catalog.snapshots("triples"))
    again = dst.import_n3(n3)
    assert again["inserted"] == 0 and again["snapshot"] is None
    assert len(dst.catalog.snapshots("triples")) == n_snaps


def test_sharded_import_parses_on_executors(spark, tmp_path):
    src = _linked_hunter(spark, tmp_path, "src2")
    shard_dir = str(tmp_path / "shards")
    src.export_n3(shard_dir, sharded=True)

    flat = str(tmp_path / "flat.n3")
    src.export_n3(flat)
    cat_a = ParquetCatalog(str(tmp_path / "a"))
    cat_b = ParquetCatalog(str(tmp_path / "b"))
    sa = import_n3(spark, cat_a, flat)
    sb = import_n3(spark, cat_b, shard_dir, sharded=True)
    assert sa["parsed"] == sb["parsed"]
    exported = (
        src.catalog.read(spark, "triples")
        .where(F.col("pred").isin(NS["rdf_type"], *rdf._PRED_FORMAT))
        .select("subj", "pred", "obj")
        .distinct()
        .count()
    )
    assert sb["parsed"] == exported
    ta = cat_a.read(spark, "triples")
    tb = cat_b.read(spark, "triples")
    assert _n3_spo(ta) == _n3_spo(tb)


@requires_reference
def test_reference_artifact_import_and_query(spark, tmp_path):
    """Load the reference's own committed store file and answer its
    own query surface from the catalog-backed table."""
    h = SparkHunter(spark, str(tmp_path / "ref"), n_entities=4)
    stats = h.import_n3(REF)
    assert stats["inserted"] > 0
    # the reference's flagship read (get_scenes_with_entity shape)
    # over its own data, via the SPARQL TEXT surface
    rows = h.sparql(
        f"""SELECT DISTINCT ?title ?link ?start ?end WHERE {{
              ?scene a video:Scene ;
                     foaf:depicts <{OBAMA}> ;
                     temporal:hasStartTime ?start ;
                     temporal:hasFinishTime ?end ;
                     video:sceneFrom ?video .
              ?video dc:identifier ?link ; dc:title ?title .
            }} ORDER BY ?start"""
    ).collect()
    assert rows, "reference artifact should contain Obama scenes"
    assert all("youtube" in r.link for r in rows)
    # literal shapes: dc:identifier is a literal, depicts is a URI
    t = h.catalog.read(spark, "triples")
    ident = t.where(
        F.col("pred") == "http://purl.org/dc/elements/1.1/identifier"
    ).collect()
    assert ident and all(r.obj_is_literal for r in ident)
    dep = t.where(
        F.col("pred") == "http://xmlns.com/foaf/0.1/depicts"
    ).collect()
    assert dep and not any(r.obj_is_literal for r in dep)


def test_cli_entrypoint(spark, tmp_path, monkeypatch):
    import jobs.import_job as ij

    src = _linked_hunter(spark, tmp_path, "src3")
    n3 = str(tmp_path / "g3.n3")
    src.export_n3(n3)
    monkeypatch.setattr(
        "sys.argv",
        ["import_job.py", "--catalog-root", str(tmp_path / "cli"),
         "--n3", n3],
    )
    printed = []
    monkeypatch.setattr(
        "builtins.print", lambda s, **kw: printed.append(s)
    )
    assert ij.main() == 0
    stats = json.loads(printed[-1])
    assert stats["inserted"] > 0


# characters the writer must escape or the reader could mistake for
# syntax: escapes, statement / list separators, comment, datatype and
# language markers, and NUL (once the reader's stand-in for an escaped
# backslash)
_LIT_ALPHABET = [
    "a", "Z", "0", " ", "é", "\\", '"', "\n", "\r", "\t", ";", ",", ".",
    "#", "^^", "@", "'", "<", ">", ":", "\x00",
]


def _random_graph(rng, n_docs):
    """Writer-shaped (subj, pred, obj, obj_is_literal, obj_datatype)
    rows: a video block and 1-3 scene blocks per doc, literal objects
    drawn from _LIT_ALPHABET, each typed xsd:dateTime / xsd:duration
    or untyped."""
    def lit(s, p):
        text = "".join(
            rng.choice(_LIT_ALPHABET) for _ in range(rng.randint(0, 12))
        )
        dt = rng.choice([None, NS["xsd_datetime"], NS["xsd_duration"]])
        return (s, p, text, True, dt)

    def iri(s, p, o):
        return (s, p, o, False, None)

    rows = []
    for d in range(n_docs):
        v = f"{HOME_URI}vid_{d:05d}"
        rows += [
            iri(v, NS["rdf_type"], NS["mpeg7_video"]),
            lit(v, NS["dc_identifier"]),
            lit(v, NS["dc_title"]),
        ]
        for k in range(rng.randint(1, 3)):
            s = f"{v}#t=0:00:{k:02d},0:00:{k + 1:02d}"
            rows += [
                iri(s, NS["rdf_type"], NS["video_scene"]),
                iri(s, NS["video_scene_from"], v),
                iri(s, NS["video_temporal_segment_of"], v),
                lit(s, NS["temporal_has_start"]),
                lit(s, NS["temporal_duration"]),
                lit(s, NS["temporal_has_finish"]),
                iri(s, NS["foaf_depicts"],
                    f"http://dbpedia.org/resource/E_{rng.randint(0, 9)}"),
            ]
    return rows


def test_seeded_export_parse_import_roundtrip(spark, tmp_path):
    """Seeded round trip over random writer-shaped graphs in ONE
    DataFrame: n3_document -> parse_n3 gives back the triple set,
    and import_n3 commits the same rows with their literal shapes and
    the doc_id / doc_bucket the writer's subjects imply."""
    import random

    from face_hunter_spark.operators.triples import with_partitioning

    rows = _random_graph(random.Random(20261019), 60)
    assert len({r[:3] for r in rows}) == len(rows) >= 500
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_datatype string",
    )
    text = rdf.n3_document(df)[0]
    assert rdf.parse_n3(text) == {r[:3] for r in rows}

    n3 = tmp_path / "random.n3"
    n3.write_text(text)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    stats = import_n3(spark, cat, str(n3), run_id="rt")
    assert stats["parsed"] == stats["inserted"] == len(rows)
    cols = ["doc_id", "subj", "pred", "obj", "obj_is_literal",
            "obj_datatype", "doc_bucket"]
    want = with_partitioning(
        df.withColumn(
            "doc_id",
            F.regexp_extract("subj", r"/(vid_\d+)", 1),
        ),
        "rt",
    )
    got = cat.read(spark, "triples").select(*cols)
    assert got.exceptAll(want.select(*cols)).count() == 0
    assert got.count() == len(rows)


XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.mark.parametrize("doc, want", [
    ("@prefix : <http://e/> .\n:a :p :b .\n",
     ("http://e/a", "http://e/p", "http://e/b", False, None)),
    ("@prefix ex: <http://e/> .\nex:a ex:p true .\n",
     ("http://e/a", "http://e/p", "true", True, XSD + "boolean")),
    ("<http://e/a> <http://e/p> 1e5 .\n",
     ("http://e/a", "http://e/p", "1e5", True, XSD + "double")),
], ids=["empty_prefix", "boolean", "exponent"])
def test_import_turtle_terms(spark, tmp_path, doc, want):
    """Hand-written Turtle: the empty prefix, true/false and exponent
    numbers import with their Turtle datatypes."""
    n3 = tmp_path / "doc.ttl"
    n3.write_text(doc)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    assert import_n3(spark, cat, str(n3))["inserted"] == 1
    got = [
        tuple(r) for r in cat.read(spark, "triples").select(
            "subj", "pred", "obj", "obj_is_literal", "obj_datatype"
        ).collect()
    ]
    assert got == [want]
