"""File-format sources beyond parquet (SURVEY.md §2.1): the gallery
thumbnail directory scan and the two CSV dimension scans the reference
reads at startup, re-expressed as Spark DataSource reads.

* ``read_gallery_binaries`` — the reference walks ``ID_Name/`` folders
  and regex-filters jpg/jpeg/png files one at a time
  (``create_embeddings`` src/models/face_recognition.py:223-266,
  ``image_files_in_folder`` src/utils/utils.py:63-72).  Here it is ONE
  distributed ``binaryFile`` scan: Spark lists and reads files in
  parallel across executors, the entity label falls out of the parent
  directory name, and the pathGlobFilter prunes non-images at the
  source (never shipped, never decoded).  At 100 TB of thumbnails the
  scan parallelizes by file; no driver-side directory walk.
* ``read_entity_catalog_csv`` — ``Thumbnails_links.csv``
  (``Graph.__init__`` src/knowledge_graph/graph.py:62-68; columns
  ``index, entity, img, name, norm_name, folder_name``) → the
  ``entities`` dim table, with the dbpedia/wikidata classification the
  reference derives from the URI prefix (get_uri_from_csv,
  src/data/knowledge_graphs.py:387-408).
* ``read_eval_manifest_csv`` — ``information.csv`` ground-truth
  manifest (src/models/evaluation.py:37-40, src/data/datasets.py:
  33-40): ``file`` + semicolon-packed ``entities`` → array column.

All three return small dim-table DataFrames meant to be broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .schemas import ENTITY_CATALOG

IMAGE_GLOB = "*.{jpg,jpeg,png,JPG,JPEG,PNG}"


def read_gallery_binaries(
    spark: SparkSession, root: str, glob: str = IMAGE_GLOB
) -> DataFrame:
    """Distributed scan of a ``<root>/<Entity_Name>/*.jpg`` thumbnail
    tree → (entity_name, path, content binary, length).  entity_name
    is the parent directory (the reference's ``ID_Name`` folder
    convention, underscores → spaces like its folder_name munging)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    parent_dir = F.element_at(F.split(F.col("path"), "/"), -2)
    return raw.select(
        F.regexp_replace(parent_dir, "_", " ").alias("entity_name"),
        F.col("path"),
        F.col("content"),
        F.col("length").cast("long").alias("length"),
    )


def gallery_from_binaries(
    spark: SparkSession, root: str, codec: str = "fake"
) -> DataFrame:
    """The reference's ``create_embeddings`` pipeline as a dataflow:
    binaryFile scan → feature extraction (Arrow-batched, pluggable
    codec — see operators/multimodal.py) → (label, embedding) gallery
    rows, the broadcast side of the kNN linker."""
    from .operators.multimodal import extract_features

    files = read_gallery_binaries(spark, root)
    media = files.select(
        F.col("path").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.lit("image/jpeg").alias("mime"),
    )
    feats = extract_features(media, codec=codec)
    labels = files.select(
        F.col("path").alias("media_id"), F.col("entity_name").alias("label")
    )
    return labels.join(feats, "media_id").select(
        "label", F.col("feature").alias("embedding")
    )


def read_entity_catalog_csv(
    spark: SparkSession, paths: str | list[str]
) -> DataFrame:
    """Thumbnails_links.csv (one or many — the reference concatenates
    the dbpedia and wikidata variants) → ENTITY_CATALOG rows.  The
    source_kg classification mirrors get_uri_from_csv's URI-prefix
    test; rows per (entity, thumbnail) are collapsed to one per
    entity URI."""
    df = spark.read.csv(paths, header=True, inferSchema=False)
    classified = df.select(
        F.col("entity"),
        F.col("name"),
        F.coalesce(F.col("norm_name"), F.col("name")).alias("norm_name"),
        F.when(
            F.col("entity").startswith("http://www.wikidata.org"), "wikidata"
        ).otherwise("dbpedia").alias("source_kg"),
    )
    return (
        classified.dropDuplicates(["entity"])
        .select([F.col(f.name).cast(f.dataType) for f in ENTITY_CATALOG.fields])
    )


def read_eval_manifest_csv(
    spark: SparkSession, path: str, sep: str = ";"
) -> DataFrame:
    """information.csv ground-truth manifest → (file, entities array).
    The reference packs multiple entities into one cell; the split
    produces the per-file truth set its evaluation joins against."""
    df = spark.read.csv(path, header=True)
    # \Q...\E: F.split takes a Java regex, so a literal separator like
    # '|' or '.' must be quoted or it shreds the cell per character
    sep_re = f"\\Q{sep}\\E"
    return df.select(
        F.col("file"),
        F.filter(
            # one-arg lambda: passing F.trim itself would be
            # introspected as a two-param (elem, index) HOF lambda
            F.transform(F.split(F.col("entities"), sep_re),
                        lambda e: F.trim(e)),
            lambda e: e != F.lit(""),
        ).alias("entities"),
    )


def read_interleaved_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL ingestion of the BASELINE.json interleaved-document shape
    (doc_id, spans array<struct<kind,text,media_ref,offset>>) — the
    crawl-dump format a training-data pipeline actually receives.

    The schema is EXPLICIT (``schemas.DOCUMENTS``): without it Spark's
    JSON reader runs a full inference pre-scan of the corpus — at
    100 TB that is a second read of everything before the first real
    byte is processed.  With the schema pinned, each line parses once,
    line-delimited JSON splits at newlines so a large file still fans
    out across executors, and malformed lines land in PERMISSIVE nulls
    rather than failing the job (count them downstream with a
    ``doc_id IS NULL`` filter if ingestion QA matters)."""
    from .schemas import DOCUMENTS

    return spark.read.schema(DOCUMENTS).json(path)


def import_n3(
    spark: SparkSession,
    catalog,
    path: str,
    table: str = "triples",
    run_id: str | None = None,
    sharded: bool = False,
) -> dict:
    """Migrate an n3 store artifact into the catalog-backed triple
    table — the "switch engines, keep your DATA" step: the reference
    persists its whole graph as one rdflib n3 file
    (memory_store.py:48-59, models/example_graph), and this loads such
    a file (ours or the reference's own) as one idempotent append.

    The document is read as an INSERT DATA body
    (``sparql_update.parse_turtle``): prefixes, ``;`` / ``,`` / ``a``
    lists, short and long strings, ``^^`` datatypes, numbers (as
    xsd:integer / xsd:decimal / xsd:double) and booleans are read; ``@lang`` tags are dropped
    (the table has no language column); blank nodes, collections,
    ``@base`` and relative IRIs raise ValueError.

    Rows are materialized into the full pipeline schema: literal
    shapes come from the parsed terms (quoted, ``^^datatype``),
    doc_id is recovered from HOME_URI-shaped subjects (scene fragments
    and the video URI both collapse to their doc, so an exported
    graph re-imports into its original buckets; foreign subjects
    anchor on themselves), and already-asserted triples are
    anti-joined away, so re-importing the same artifact commits
    nothing.

    ``sharded=True`` reads an export_n3_sharded directory: each
    doc_bucket part file is a self-contained block set, so the parts
    are parsed IN PARALLEL on executors (wholeTextFiles + the same
    parser) — the scale path for multi-GB exports.  A flat file is
    parsed on the driver (reference artifacts are single-node files
    by construction).

    Returns ``{"parsed", "inserted", "snapshot", "run_id"}``.
    """
    import uuid as _uuid

    from .operators.triples import append_asserted
    from .schemas import HOME_URI

    run_id = run_id or "n3-import-" + _uuid.uuid4().hex[:8]
    schema = (
        "subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string"
    )
    if sharded:
        import os

        with open(os.path.join(path, "_prefixes.n3")) as f:
            header = f.read()
        files = spark.sparkContext.wholeTextFiles(
            os.path.join(path, "doc_bucket=*", "part-*")
        )
        rows = files.flatMap(lambda kv: _n3_rows(header + "\n" + kv[1]))
    else:
        with open(path) as f:
            rows = _n3_rows(f.read())
    df = (
        spark.createDataFrame(rows, schema)
        .dropDuplicates(["subj", "pred", "obj"])
        .persist()
    )
    doc_id = F.when(
        F.col("subj").startswith(HOME_URI),
        F.split(
            F.expr(f"substring(subj, {len(HOME_URI) + 1})"), "#t="
        ).getItem(0),
    ).otherwise(F.col("subj"))
    try:
        n_parsed = df.count()
        n_ins, snap = append_asserted(
            catalog, table,
            df.select(
                doc_id.alias("doc_id"), "subj", "pred", "obj",
                "obj_is_literal", "obj_datatype",
                F.col("obj").alias("obj_canonical"),
            ),
            run_id,
            catalog.read(spark, table) if catalog.exists(table) else None,
        )
    finally:
        df.unpersist()
    return {
        "parsed": n_parsed,
        "inserted": n_ins,
        "snapshot": snap,
        "run_id": run_id,
    }


def _n3_rows(text: str) -> list[tuple]:
    """(subj, pred, obj, obj_is_literal, obj_datatype) rows of an n3
    document."""
    from .operators.sparql import Lit
    from .operators.sparql_update import parse_turtle

    return [
        (str(s), str(p), str(o), isinstance(o, Lit),
         o.datatype if isinstance(o, Lit) else None)
        for s, p, o in parse_turtle(text)
    ]
