"""Triple materialization — the write path (graph.py:70-117).

Scenes + entity catalog -> (subj, pred, obj) rows, all in built-in
expressions (format_string / explode / broadcast join; zero Python).

Reference triple shapes (graph.py:79-114, models/example_graph):
  video: (v, rdf:type, mpeg7:Video), (v, dc:identifier, url literal),
         (v, dc:title, title literal)
  scene: (s, rdf:type, video:Scene), (s, video:sceneFrom, v),
         (s, video:temporalSegmentOf, v),
         (s, temporal:hasStartTime, 'H:MM:SS'^^xsd:dateTime),
         (s, temporal:duration,     'H:MM:SS'^^xsd:duration),
         (s, temporal:hasFinishTime,'H:MM:SS'^^xsd:dateTime),
         (s, foaf:depicts, <entity URI>)   per resolvable entity
  scene URI: '{HOME}{id}#t={start},{end}' with sub-seconds stripped
  (graph.py:94: str(timedelta).split('.')[0] -> 'H:MM:SS', hours
  unpadded).  DBpedia URI preferred over Wikidata (graph.py:111-114);
  unresolvable names (incl. empty-frame sentinels) emit no depicts row.

north_star additionally asks for the sdo:depicts / hunter:hasScene
vocabulary — emitted as extra rows behind the same mapping so P/R
against reference-style triples ignores them (they are additive).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..schemas import HOME_URI, NS

N_BUCKETS = 64  # doc_id hash buckets; the triple table partition key


def td_str(ms_col):
    """str(timedelta(milliseconds=ms)).split('.')[0] as a SQL expr:
    'H:MM:SS' (hours unpadded, may exceed 23 — timedelta prints total
    hours for < 1 day; docs are videos, < 1 day by construction)."""
    secs = F.floor(ms_col / 1000).cast("long")
    return F.format_string(
        "%d:%02d:%02d",
        (secs / 3600).cast("long"),
        ((secs % 3600) / 60).cast("long"),
        (secs % 60).cast("long"),
    )


def scene_uri(doc_id_col, start_ms_col, end_ms_col):
    return F.format_string(
        "%s%s#t=%s,%s",
        F.lit(HOME_URI),
        doc_id_col,
        td_str(start_ms_col),
        td_str(end_ms_col),
    )


def _t(subj, pred, obj, literal=False, datatype=None):
    return F.struct(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(literal).alias("obj_is_literal"),
        (F.lit(datatype) if datatype else F.lit(None).cast("string")).alias(
            "obj_datatype"
        ),
    )


def video_triples(documents: DataFrame) -> DataFrame:
    """3 triples per doc (insert_video, graph.py:70-82).  dc:title uses
    the documents table's ``title`` column when present (the reference
    stores the downloaded video title, hunter.py:103); corpora without
    one (or with NULL titles) fall back to the doc_id."""
    v = F.concat(F.lit(HOME_URI), F.col("doc_id"))
    url = F.format_string("http://www.youtube.com/watch?v=%s", F.col("doc_id"))
    title = (
        F.coalesce(F.col("title"), F.col("doc_id"))
        if "title" in documents.columns
        else F.col("doc_id")
    )
    return (
        documents.select(
            "doc_id",
            F.explode(
                F.array(
                    _t(v, NS["rdf_type"], F.lit(NS["mpeg7_video"])),
                    _t(v, NS["dc_identifier"], url, literal=True),
                    _t(v, NS["dc_title"], title, literal=True),
                )
            ).alias("t"),
        )
        .select("doc_id", "t.*")
    )


def resolve_entity_uris(entity_catalog: DataFrame) -> DataFrame:
    """name -> preferred URI (DBpedia over Wikidata, graph.py:108-114).
    One row per distinct name; broadcast side of the depicts join."""
    return (
        entity_catalog.groupBy("name")
        .agg(
            F.max(F.when(F.col("source_kg") == "dbpedia", F.col("entity"))).alias(
                "dbpedia_uri"
            ),
            F.max(F.when(F.col("source_kg") == "wikidata", F.col("entity"))).alias(
                "wikidata_uri"
            ),
        )
        .select(
            "name",
            F.coalesce("dbpedia_uri", "wikidata_uri").alias("entity_uri"),
        )
    )


def scene_triples(scenes: DataFrame, entity_catalog: DataFrame) -> DataFrame:
    """insert_scene (graph.py:84-117) as ONE single-pass plan.

    The naive shape — a base-triples branch UNION a depicts branch —
    references ``scenes`` twice, and since scenes sit at the end of
    the expensive vision->linking chain, Spark would execute that
    chain twice per action.  Instead: posexplode_outer the entity
    list (pos 0 / null row carries the per-scene base triples), one
    broadcast join resolves URIs, one final explode emits everything.
    """
    s = scene_uri(F.col("doc_id"), F.col("start_ms"), F.col("end_ms"))
    v = F.concat(F.lit(HOME_URI), F.col("doc_id"))

    exploded = scenes.select(
        "doc_id",
        s.alias("s_uri"),
        v.alias("v_uri"),
        td_str(F.col("start_ms")).alias("start_str"),
        td_str(F.col("end_ms") - F.col("start_ms")).alias("dur_str"),
        td_str(F.col("end_ms")).alias("finish_str"),
        # set semantics at the emission boundary: a frame with two faces
        # linked to the SAME entity must yield one depicts triple per
        # (scene, entity), not two — the reference inserts into an
        # rdflib Graph / Virtuoso store, both SETS, so duplicates
        # collapse there (memory_store.py:48-54); array_distinct is
        # exchange-free (segmentation upstream still sees the raw
        # per-frame lists, so scene boundaries are untouched)
        F.posexplode_outer(F.array_distinct("entities")).alias(
            "pos", "name"
        ),
    )
    uris = resolve_entity_uris(entity_catalog)
    joined = exploded.join(F.broadcast(uris), "name", "left")

    su, vu = F.col("s_uri"), F.col("v_uri")
    base_arr = F.array(
        _t(su, NS["rdf_type"], F.lit(NS["video_scene"])),
        _t(su, NS["video_scene_from"], vu),
        _t(su, NS["video_temporal_segment_of"], vu),
        _t(su, NS["temporal_has_start"], F.col("start_str"),
           literal=True, datatype=NS["xsd_datetime"]),
        _t(su, NS["temporal_duration"], F.col("dur_str"),
           literal=True, datatype=NS["xsd_duration"]),
        _t(su, NS["temporal_has_finish"], F.col("finish_str"),
           literal=True, datatype=NS["xsd_datetime"]),
        # north_star alias vocabulary (additive)
        _t(vu, NS["hunter_has_scene"], su),
    )
    depicts_arr = F.array(
        _t(su, NS["foaf_depicts"], F.col("entity_uri")),
        _t(su, NS["sdo_depicts"], F.col("entity_uri")),
    )
    triple_arr = F.concat(
        F.when(F.col("pos").isNull() | (F.col("pos") == 0), base_arr)
        .otherwise(F.slice(base_arr, 1, 0)),
        # unresolvable names (incl. empty-frame sentinels) emit nothing
        F.when(F.col("entity_uri").isNotNull(), depicts_arr)
        .otherwise(F.slice(depicts_arr, 1, 0)),
    )
    return joined.select(
        "doc_id", F.explode(triple_arr).alias("t")
    ).select("doc_id", "t.*")


def with_partitioning(triples: DataFrame, run_id: str) -> DataFrame:
    """Attach the bucket partition key + lineage run id.  doc_bucket =
    pmod(hash(doc_id)) keeps all of a doc's triples co-located — the
    read path's subject self-joins then shuffle within buckets only,
    and at 10^12 docs the table partition layout bounds shuffle volume
    (SURVEY.md §4.3)."""
    return triples.withColumn(
        "doc_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int")
    ).withColumn("run_id", F.lit(run_id))


def append_asserted(catalog, table: str, rows: DataFrame, run_id: str,
                    state: DataFrame | None) -> tuple[int, str | None]:
    """Commit hand-asserted rows (doc_id, subj, pred, obj,
    obj_is_literal, obj_datatype, obj_canonical) — INSERT DATA and n3
    imports — as one idempotent append: bucketed by ``doc_id``, minus
    the (subj, pred, obj) triples ``state`` (the committed table, None
    before the first commit) already holds, any other column of the
    table filled with a typed NULL.  Returns (rows appended, snapshot
    id or None when nothing was new)."""
    rows = with_partitioning(rows, run_id)
    if state is not None:
        cols = [(c, t) for c, t in state.dtypes if c != "snap"]
        rows = rows.join(
            state.select("subj", "pred", "obj"),
            ["subj", "pred", "obj"],
            "left_anti",
        ).select(*[
            F.col(c) if c in rows.columns else F.lit(None).cast(t).alias(c)
            for c, t in cols
        ])
    rows = rows.persist()
    try:
        n = rows.count()
        snap = (
            catalog.append(table, rows, run_id, partition_by=["doc_bucket"])
            if n else None
        )
    finally:
        rows.unpersist()
    return n, snap
