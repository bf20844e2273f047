"""n3/Turtle export — the reference's interchange artifact
(src/knowledge_graph/memory_store.py:48-59 serializes the rdflib graph
as ``format='n3'``; models/example_graph is the committed example).

The writer is a distributed string-formatting plan (format_string /
collect_list — zero Python workers): one block per subject, scene
blocks first then video blocks, predicates in the reference
serializer's observed order, literals typed with ``^^xsd:...``.  The
final document assembly (prefix header + ordered blocks) necessarily
runs on the driver because an n3 file IS one text artifact; at 10^12
docs you write ``blocks`` partitioned by doc_bucket as sharded n3 part
files instead and concatenate lazily on read (each block is
self-contained after the shared header).

Only the reference's core vocabulary is exported (graph.py:70-117);
the additive alias predicates (hunter:hasScene, sdo:depicts) and
lineage columns stay in the parquet tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..schemas import NS
from .sparql_update import parse_turtle

N3_PREFIXES = """@prefix dc: <http://purl.org/dc/elements/1.1/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix mpeg7: <http://purl.org/ontology/mpeg7/> .
@prefix temporal: <http://swrl.stanford.edu/ontologies/builtins/3.3/temporal.owl> .
@prefix video: <http://purl.org/ontology/video/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
"""

# prefixed name + within-block position, mirroring the reference
# serializer's predicate order (models/example_graph:8-15, 624-626)
_PRED_FORMAT: dict[str, tuple[int, str]] = {
    NS["video_scene_from"]: (1, "video:sceneFrom"),
    NS["video_temporal_segment_of"]: (2, "video:temporalSegmentOf"),
    NS["temporal_duration"]: (3, "temporal:duration"),
    NS["temporal_has_finish"]: (4, "temporal:hasFinishTime"),
    NS["temporal_has_start"]: (5, "temporal:hasStartTime"),
    NS["foaf_depicts"]: (6, "foaf:depicts"),
    NS["dc_identifier"]: (1, "dc:identifier"),
    NS["dc_title"]: (2, "dc:title"),
}

_TYPE_PREFIXED = {
    NS["mpeg7_video"]: "mpeg7:Video",
    NS["video_scene"]: "video:Scene",
}

_DT_PREFIXED = {
    NS["xsd_datetime"]: "xsd:dateTime",
    NS["xsd_duration"]: "xsd:duration",
}


def _map_lit(mapping: dict[str, str]):
    m = [x for kv in mapping.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    return F.create_map(*m)


def n3_blocks(triples: DataFrame, keep_bucket: bool = False) -> DataFrame:
    """Triples -> one row per subject: (subj, is_video, block)
    (+ doc_bucket when ``keep_bucket`` — a subject's triples are
    doc-local so the bucket is constant per subject).  Pure built-in
    expressions; one shuffle on subj."""
    pred_rank = _map_lit({p: str(r) for p, (r, _) in _PRED_FORMAT.items()})
    pred_name = _map_lit({p: n for p, (_, n) in _PRED_FORMAT.items()})
    type_name = _map_lit(_TYPE_PREFIXED)
    dt_name = _map_lit(_DT_PREFIXED)

    core = triples.where(
        F.col("pred").isin(
            NS["rdf_type"], *list(_PRED_FORMAT)
        )
    ).select(
        "subj", "pred", "obj", "obj_is_literal", "obj_datatype",
        *(["doc_bucket"] if keep_bucket else []),
    )

    is_type = F.col("pred") == NS["rdf_type"]
    # Turtle string escaping (backslash first, then quote and control
    # chars) — real titles flow into dc:title, and an unescaped quote
    # would make the artifact unparseable by rdflib
    lit = F.col("obj")
    for raw, esc in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")]:
        lit = F.replace(lit, F.lit(raw), F.lit(esc))
    obj_fmt = F.when(
        is_type, type_name[F.col("obj")]
    ).when(
        F.col("obj_is_literal"),
        F.concat(
            F.lit('"'), lit, F.lit('"'),
            F.coalesce(
                F.concat(F.lit("^^"), dt_name[F.col("obj_datatype")]),
                F.lit(""),
            ),
        ),
    ).otherwise(F.format_string("<%s>", F.col("obj")))

    line = F.when(
        is_type, F.concat(F.lit("a "), obj_fmt)
    ).otherwise(F.format_string("%s %s", pred_name[F.col("pred")], obj_fmt))
    # sort key: 'a' first (rank 0), then the reference predicate order,
    # then the object for deterministic multi-depicts ordering
    rank = F.when(is_type, F.lit("0")).otherwise(pred_rank[F.col("pred")])

    grouped = (
        core.select(
            "subj",
            F.struct(
                rank.alias("rank"), F.col("obj").alias("o"), line.alias("line")
            ).alias("entry"),
            F.when(is_type & (F.col("obj") == NS["mpeg7_video"]), 1)
            .otherwise(0)
            .alias("vid_flag"),
            *(["doc_bucket"] if keep_bucket else []),
        )
        .groupBy("subj")
        .agg(
            F.array_sort(F.collect_set("entry")).alias("entries"),
            F.max("vid_flag").alias("is_video"),
            *([F.min("doc_bucket").alias("doc_bucket")]
              if keep_bucket else []),
        )
    )
    block = F.concat(
        F.format_string("<%s> ", F.col("subj")),
        F.array_join(
            F.transform("entries", lambda e: e["line"]), " ;\n    "
        ),
        F.lit(" ."),
    )
    return grouped.select(
        "subj", F.col("is_video").cast("boolean").alias("is_video"),
        block.alias("block"),
        *(["doc_bucket"] if keep_bucket else []),
    )


def n3_document(triples: DataFrame) -> tuple[str, int]:
    """Full n3 document + subject-block count: prefix header, scene
    blocks (sorted by subj), then video blocks (sorted by subj).
    Driver-side assembly — see the module docstring for the sharded
    form at scale."""
    rows = (
        n3_blocks(triples)
        .orderBy("is_video", "subj")
        .select("block")
        .collect()
    )
    text = N3_PREFIXES + "\n" + "\n\n".join(r.block for r in rows) + "\n\n"
    return text, len(rows)


def triples_to_n3(triples: DataFrame) -> str:
    return n3_document(triples)[0]


def export_n3_sharded(triples: DataFrame, path: str) -> int:
    """The 10^12-doc form of the n3 sink (module docstring): blocks are
    written as doc_bucket-partitioned text part files by the EXECUTORS
    — nothing ever assembles on the driver — plus one shared
    ``_prefixes.n3`` header the reader prepends.  Every block is
    self-contained after the header, so shards concatenate in any
    order into a valid document.  Input must carry ``doc_bucket``
    (i.e. the committed triples table).  Returns the subject-block
    count; ``read_n3_sharded`` is the lazy-concatenation reader."""
    import os

    blocks = n3_blocks(triples, keep_bucket=True).persist()
    try:
        n = blocks.count()
        (
            blocks
            # one task per bucket -> one part file per bucket dir;
            # within a shard keep the driver writer's order (scene
            # blocks then video blocks, each sorted by subj)
            .repartition("doc_bucket")
            .sortWithinPartitions("doc_bucket", "is_video", "subj")
            .select(
                "doc_bucket",
                F.concat(F.col("block"), F.lit("\n")).alias("value"),
            )
            .write.partitionBy("doc_bucket")
            .mode("overwrite")
            .text(path)
        )
    finally:
        blocks.unpersist()
    with open(os.path.join(path, "_prefixes.n3"), "w") as f:
        f.write(N3_PREFIXES)
    return n


def read_n3_sharded(path: str) -> set[tuple[str, str, str]]:
    """Reader for export_n3_sharded output: header + all bucket part
    files concatenated through parse_n3 (lazy local reader for
    tests/tools; at scale the shards are the unit of consumption)."""
    import os

    parts = [open(os.path.join(path, "_prefixes.n3")).read()]
    for root, _dirs, files in sorted(os.walk(path)):
        if "doc_bucket=" not in root:
            continue
        for fname in sorted(files):
            if fname.startswith("part-"):
                with open(os.path.join(root, fname)) as f:
                    parts.append(f.read())
    return parse_n3("\n".join(parts))


def parse_n3(text: str) -> set[tuple[str, str, str]]:
    """The (subj, pred_uri, obj) set of an n3/Turtle document, literals
    as their lexical form.  Parsed by ``sparql_update.parse_turtle``,
    the INSERT DATA grammar (see there for the subset read)."""
    return {(str(s), str(p), str(o)) for s, p, o in parse_turtle(text)}
