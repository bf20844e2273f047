"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline over
interleaved documents derived from /root/testdata/sf0.001 and returns
the emitted triples.  ``queries()`` is one entry per implemented
operator from SURVEY.md §2 plus the training-data operator suite;
``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible entry (the rest are deliberately rows-only:
approximate ANN, the quirk-faithful sequential scene extraction, the
full vision pipeline, and multimodal decode).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from face_hunter_spark import driver_oracle as _DO  # noqa: E402
from face_hunter_spark import driver_queries as DQ  # noqa: E402


# --------------------------------------------------------------------------
# flagship: interleaved docs from the driver corpus -> KG triples
# --------------------------------------------------------------------------

def _interleaved_documents(
    spark: SparkSession, sf_dir: str, replicas: int = 1
) -> DataFrame:
    """Build the BASELINE.json input shape (doc_id, spans) from the
    driver's documents table: each doc contributes one text span (its
    real text) and a deterministic run of media spans.  ``replicas``
    multiplies the corpus via ONE broadcast crossJoin with a range
    (distinct doc ids per replica) — a k-way union would grow the plan
    and the scheduled task count k-fold."""
    # rename first: aliasing the formatted id back to "doc_id" in the
    # same select would make later expressions lateral-alias-resolve to
    # the NEW string column
    from face_hunter_spark.operators.util import ensure_parallelism

    # fan out the narrow scan BEFORE the per-row span construction —
    # a one-file parquet read otherwise runs the transform (and every
    # downstream stage until the first exchange) on one core
    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), factor=2
    ).withColumnRenamed("doc_id", "orig_id")
    if replicas > 1:
        docs = docs.crossJoin(
            F.broadcast(spark.range(replicas).select(F.col("id").alias("rep")))
        )
        doc_str = F.format_string(
            "r%d_vid_%05d", F.col("rep"), F.col("orig_id").cast("int")
        )
    else:
        doc_str = F.format_string("vid_%05d", F.col("orig_id").cast("int"))
    n_frames = (F.pmod(F.xxhash64(F.col("orig_id").cast("string")), F.lit(12)) + 4
                ).cast("int")
    frame_idx = F.sequence(F.lit(0), n_frames - 1)
    return docs.select(
        doc_str.alias("doc_id"),
        F.concat(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("text").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ),
            F.transform(
                frame_idx,
                lambda i: F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.format_string("frame://%s/%s", doc_str, i).alias("media_ref"),
                    (i + 1).cast("int").alias("offset"),
                ),
            ),
        ).alias("spans"),
    )


N_ENTITIES = 20


def _kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = _interleaved_documents(spark, sf_dir)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=N_ENTITIES, distractors=3),
        ENTITY_CATALOG,
    )
    return link_documents(
        docs, gallery_pdf, catalog, n_entities=N_ENTITIES
    ).select("subj", "pred", "obj", "obj_is_literal", "doc_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _kg_pipeline(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# rows-only entries (non-SQL-expressible: approximate / sequential / UDF)
# --------------------------------------------------------------------------

def _q_scene_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quirk-faithful sequential scene smoothing on frame predictions
    derived from the events table (deterministic), through the link
    pipeline's scene form: each frame's labels exploded to face rows
    (an empty frame becomes one row with NULL face_idx), then one
    collect_list shuffle + mapInPandas kernel pass per doc."""
    from face_hunter_spark.operators.scenes import extract_scenes_from_faces

    DQ.load_views(spark, sf_dir)
    preds = spark.sql("""
        SELECT cast(user_id AS string) AS doc_id,
               cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS int) - 1 AS frame_no,
               cast((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    - 1) * 1000.0 AS double) AS ts_ms,
               CASE WHEN value IS NULL THEN array()
                    ELSE array(event_type) END AS labels
        FROM events
    """)
    faces = preds.select(
        "doc_id", "frame_no", "ts_ms",
        F.posexplode_outer("labels").alias("face_idx", "label"),
    )
    return extract_scenes_from_faces(faces, frame_threshold=3).select(
        "doc_id", "scene_idx",
        F.concat_ws(",", "entities").alias("entities"),
        "start_ms", "end_ms",
    )


# Exact oracle for the quirk-faithful kernel ON THIS INPUT: every
# frame's cleaned label list has length 1 (a singleton event_type, or
# the unique positional sentinel for a NULL-value frame), so the
# kernel's close condition ("no frame in the window matches the open
# scene's cardinality") can never fire — the FIRST run of 3 equal
# consecutive labels opens the document's single scene, which closes at
# the last frame; a run completing on the last frame is dropped
# (operators/scenes.py:60-113).  That degenerate form is plain
# window-function SQL.  The kernel's full behavior (multi-face frames,
# real cardinality changes) is pytest-verified against the reference
# goldens (tests/test_scene_extraction.py).
ORACLE_SCENE_EXTRACTION = """
WITH frames AS (
  SELECT cast(user_id AS VARCHAR) AS doc_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS f,
         CASE WHEN value IS NULL THEN NULL ELSE event_type END AS lab
  FROM events),
ctx AS (
  SELECT doc_id, f, lab,
         lag(lab, 1) OVER w AS lab1,
         lag(lab, 2) OVER w AS lab2,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM frames
  WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
opens AS (
  SELECT doc_id, min(f) AS f_open,
         arg_min(lab, f) AS lab, any_value(n) AS n
  FROM ctx
  WHERE f >= 2 AND lab IS NOT NULL AND lab = lab1 AND lab = lab2
  GROUP BY doc_id)
SELECT doc_id, 0 AS scene_idx, lab AS entities,
       (f_open - 2) * 1000.0 AS start_ms,
       (n - 1) * 1000.0 AS end_ms
FROM opens WHERE f_open < n - 1
"""


def _oracle_multimodal() -> str:
    """The fake codec is deterministic pure hashing over a synthetic
    fixture (no sf dependence) — regenerate the expected rows with the
    same hashlib math and emit them as a VALUES literal."""
    import hashlib

    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(48):
        kind = kinds[i % 3]
        content = hashlib.sha256(f"media/{i}".encode()).digest() * (4 + i % 7)
        h = hashlib.md5(content).digest()
        rows.append(
            f"('m{i:04d}', '{kind}', {160 + h[0] * 4}, {90 + h[1] * 4}, "
            f"{len(content)}, true)"
        )
    values = ",\n  ".join(rows)
    return f"""
SELECT media_id, kind, width::INTEGER AS width, height::INTEGER AS height,
       n_bytes::INTEGER AS n_bytes, ok
FROM (VALUES
  {values}) t(media_id, kind, width, height, n_bytes, ok)
"""


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate LSH top-k in the EXPRESSION-SIGNATURE form
    (hyperplane literals + float64 HOF dots), which is bit-reproducible
    in DuckDB — so even the ANN query is exact-oracle-checked,
    bucketing included.  The numpy/GEMM forms (ann_lsh_topk,
    linking.lsh_score_batch) are the production path and carry pytest recall
    gates instead (float32 BLAS sign bits are not engine-portable)."""
    from face_hunter_spark.operators.similarity import ann_lsh_topk_expr

    DQ.load_views(spark, sf_dir)
    emb = spark.table("embeddings")
    qs = emb.where(F.col("label") >= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.where(F.col("label") < 5).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    return ann_lsh_topk_expr(
        qs, corpus, k=3, bands=24, rows_per_band=3, dim=64
    ).select(
        "q_id", "rank", "c_id", F.round("cosine", 6).alias("cosine")
    )


def _oracle_ann_lsh() -> str:
    from face_hunter_spark.operators.similarity import lsh_expr_oracle_sql

    return lsh_expr_oracle_sql(
        bands=24, rows_per_band=3, dim=64, k=3,
        q_filter="label >= 5", c_filter="label < 5",
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat in the expression form (md5-ordered sample centroids,
    HOF float64 cosines) — exactly reproduced by the DuckDB oracle,
    cell assignment included.  The pandas-UDF ivf_topk keeps the
    pytest recall gate as the production path."""
    from face_hunter_spark.operators.similarity import ivf_topk_expr

    DQ.load_views(spark, sf_dir)
    emb = spark.table("embeddings")
    qs = emb.where(F.col("label") >= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.where(F.col("label") < 5).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    return ivf_topk_expr(qs, corpus, k=3, n_cells=8, n_probe=3).select(
        "q_id", "rank", "c_id", F.round("cosine", 6).alias("cosine")
    )


def _oracle_ivf() -> str:
    from face_hunter_spark.operators.similarity import ivf_expr_oracle_sql

    return ivf_expr_oracle_sql(
        n_cells=8, n_probe=3, k=3,
        q_filter="label >= 5", c_filter="label < 5",
    )


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-min connected components over a deterministic edge set
    derived from the customer table (custkey -- nation hub graph)."""
    from face_hunter_spark.operators.canonical import connected_components

    DQ.load_views(spark, sf_dir)
    edges = spark.sql("""
        SELECT format_string('c%05d', c_custkey) AS uri_a,
               format_string('hub%02d', c_nationkey) AS uri_b
        FROM customer WHERE c_custkey < 500
    """)
    return connected_components(edges).orderBy("uri")


def _q_connected_components_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component labeling through the large-star/small-star
    contraction variant (the O(log^2 n) scale path for high-diameter
    graphs) — exact against the same recursive-CTE oracle."""
    from face_hunter_spark.operators.canonical import connected_components

    DQ.load_views(spark, sf_dir)
    edges = spark.sql("""
        SELECT format_string('c%05d', c_custkey) AS uri_a,
               format_string('hub%02d', c_nationkey) AS uri_b
        FROM customer WHERE c_custkey < 500
    """)
    return connected_components(edges, algorithm="bigstar").orderBy("uri")


def _q_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-batch component maintenance: a standing labeling built from
    the first slice of the edge set (c_custkey < 400) updated with the
    remaining edges (400-499) via incremental_components — the KG
    sameAs-merge maintenance path.  Exact against the SAME recursive-CTE
    oracle as the full recompute (the contraction argument in the
    operator docstring makes incremental == full bit-identical)."""
    from face_hunter_spark.operators.canonical import (
        connected_components,
        incremental_components,
    )

    DQ.load_views(spark, sf_dir)
    old = spark.sql("""
        SELECT format_string('c%05d', c_custkey) AS uri_a,
               format_string('hub%02d', c_nationkey) AS uri_b
        FROM customer WHERE c_custkey < 400
    """)
    delta = spark.sql("""
        SELECT format_string('c%05d', c_custkey) AS uri_a,
               format_string('hub%02d', c_nationkey) AS uri_b
        FROM customer WHERE c_custkey >= 400 AND c_custkey < 500
    """)
    labels = connected_components(old)
    return incremental_components(labels, delta).orderBy("uri")


ORACLE_CC = """
WITH RECURSIVE edges AS (
  SELECT printf('c%05d', c_custkey) AS a, printf('hub%02d', c_nationkey) AS b
  FROM customer WHERE c_custkey < 500),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
walk(node, comp) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, w.comp FROM sym s JOIN walk w ON s.b = w.node
)
SELECT node AS uri, min(comp) AS component FROM walk
GROUP BY node ORDER BY uri
"""


def _q_largest_face_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection geometry + one_face largest-face selection (reference
    face_recognition.py:176-192, :367-371) as a driver-checkable query:
    the kept (max-box-height) face per frame with milli-pixel height,
    micro confidence, and the keypoint-derived inter-ocular x distance
    (MTCNN landmarks, consumed by the affine alignment seam —
    facial_preprocessing.py:7-60 / operators/align.py) — exact VALUES
    oracle regenerated by driver_oracle.expected_face_geometry_rows."""
    from face_hunter_spark.operators.spans import media_frames
    from face_hunter_spark.operators.vision import detect_embed_faces

    media = media_frames(_interleaved_documents(spark, sf_dir))
    faces = detect_embed_faces(media, n_entities=N_ENTITIES, one_face=True)
    kp = F.col("keypoints")
    return (
        faces.where(F.col("face_idx").isNotNull())
        .select(
            "doc_id",
            "frame_no",
            "face_idx",
            F.floor(F.element_at("box", 4).cast("double") * 1000)
            .cast("long").alias("height_milli"),
            F.floor(F.col("confidence").cast("double") * 100000)
            .cast("long").alias("conf_micro"),
            F.floor(
                (
                    F.element_at(kp["right_eye"], 1).cast("double")
                    - F.element_at(kp["left_eye"], 1).cast("double")
                ) * 1000
            ).cast("long").alias("eye_dx_milli"),
        )
        .orderBy("doc_id", "frame_no")
    )


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from face_hunter_spark.operators import multimodal

    media = multimodal.synth_media_df(spark, 48)
    return multimodal.decode_media(media).select(
        "media_id", "kind", "width", "height", "n_bytes", "ok"
    )


def _q_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE.json per-row invariant as a query: explode +
    reassemble the interleaved docs and count mismatches (must be 0)."""
    from face_hunter_spark.operators.spans import explode_spans, reassemble_spans

    docs = _interleaved_documents(spark, sf_dir)
    back = reassemble_spans(explode_spans(docs))
    key = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.md5(F.to_json(F.col("spans"))).alias("spans_hash"),
    )
    orig, rt = key(docs), key(back)
    return (
        orig.alias("o")
        .join(rt.alias("r"), "doc_id", "full")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                # null-safe: a doc missing on either side of the full
                # join is a mismatch too, not a silently-skipped NULL
                F.when(
                    F.col("o.spans_hash").eqNullSafe(F.col("r.spans_hash")), 0
                ).otherwise(1)
            ).alias("n_mismatches"),
        )
    )


# exact oracle for the invariant: the round trip is the identity, so
# the full join pairs every original doc exactly once with zero
# mismatches; doc count = documents-table rows (one interleaved doc
# per source row at replicas=1).
ORACLE_SPAN_ROUNDTRIP = """
SELECT count(*) AS n_docs, 0 AS n_mismatches FROM documents
"""


def _q_jsonl_interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion path (sources.read_interleaved_jsonl): the
    deterministic escaping-hostile corpus written as line-delimited
    JSON, read back with the explicit DOCUMENTS schema (no inference
    pre-scan), and flattened with posexplode.  Oracle: the same corpus
    regenerated in pure Python as a VALUES literal."""
    import os
    import tempfile

    from face_hunter_spark import synth
    from face_hunter_spark.sources import read_interleaved_jsonl

    n = 64
    path = os.path.join(tempfile.gettempdir(), f"fhs_jsonl_{n}.jsonl")
    synth.write_interleaved_jsonl(path, n)  # atomic rename; idempotent
    docs = read_interleaved_jsonl(spark, path)
    return (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
        .select(
            "doc_id",
            "span_idx",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("span_offset"),
        )
        .orderBy("doc_id", "span_idx")
    )


def _q_bgp_scene_depicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basic-graph-pattern compiler (operators/bgp.py — the SPARQL
    analogue of graph.py:194-244) over the pipeline's triples:
    {?v hasScene ?s . ?s sdo:depicts ?e}.  Exact oracle: the same two
    patterns as SQL over the driver_oracle VALUES-mirrored scenes."""
    from face_hunter_spark.operators.bgp import graph_pattern
    from face_hunter_spark.schemas import NS

    triples = _kg_pipeline(spark, sf_dir)
    return graph_pattern(
        triples,
        [("?v", NS["hunter_has_scene"], "?s"),
         ("?s", NS["sdo_depicts"], "?e")],
        select=["v", "s", "e"],
        distinct=True,
    ).orderBy("v", "s", "e")


def _q_bgp_entity_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-anchored 3-pattern chain: {?s sdo:depicts <E> .
    ?s video:sceneFrom ?v . ?v dc:title ?t} — the compiled form of the
    reference's docstring SPARQL example (graph.py:224-236).  The
    anchor is Entity 001's preferred URI, derived from the synthetic
    catalog exactly as the pipeline derives it."""
    from face_hunter_spark import synth
    from face_hunter_spark.operators.bgp import graph_pattern
    from face_hunter_spark.schemas import NS

    cat = synth.make_entity_catalog_pdf(n_entities=N_ENTITIES, distractors=3)
    grp = cat[cat["name"] == "Entity 001"]
    db = grp[grp["source_kg"] == "dbpedia"]["entity"]
    anchor = db.iloc[0] if len(db) else grp[
        grp["source_kg"] == "wikidata"
    ]["entity"].iloc[0]

    triples = _kg_pipeline(spark, sf_dir)
    return graph_pattern(
        triples,
        [("?s", NS["sdo_depicts"], anchor),
         ("?s", NS["video_scene_from"], "?v"),
         ("?v", NS["dc_title"], "?t")],
        select=["s", "v", "t"],
        distinct=True,
    ).orderBy("s", "v", "t")


def _q_bgp_optional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL + FILTER through the BGP compiler (the reference's
    OPTIONAL{dbp:name}/FILTER(LANG) template shape,
    knowledge_graphs.py:103-104): entity-less scenes survive with a
    NULL ?e, then the filter keeps NULLs and dbpedia URIs only."""
    from face_hunter_spark.operators.bgp import graph_pattern
    from face_hunter_spark.schemas import NS

    triples = _kg_pipeline(spark, sf_dir)
    return graph_pattern(
        triples,
        [("?v", NS["hunter_has_scene"], "?s")],
        optional=[[("?s", NS["sdo_depicts"], "?e")]],
        filters=["e IS NULL OR e LIKE 'http://dbpedia.org/%'"],
        select=["v", "s", "e"],
        distinct=True,
    ).orderBy("v", "s", "e")


def _q_sparql_text_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL TEXT front-end (operators/sparql.py — the reference's
    /api/query surface, api/api.py:81-97): the OPTIONAL+FILTER query
    submitted as a verbatim query STRING (PREFIX block, ';' predicate
    list, OPTIONAL group, FILTER with bound/strstarts, ORDER BY) and
    parsed onto the same BGP plan as bgp_optional_filter — so the same
    exact oracle applies; any parser/translation drift hash-fails."""
    from face_hunter_spark.operators.sparql import execute

    triples = _kg_pipeline(spark, sf_dir)
    return execute(
        triples,
        """
        PREFIX hunter: <http://face-hunter.org/ontology/>
        PREFIX sdo: <https://schema.org/>
        SELECT DISTINCT ?v ?s ?e WHERE {
          ?v hunter:hasScene ?s .
          OPTIONAL { ?s sdo:depicts ?e }
          FILTER ( !bound(?e) || strstarts(str(?e), "http://dbpedia.org/") )
        }
        ORDER BY ?v ?s ?e
        """,
    )


def _q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT analogue (operators/bgp.py::construct): derive
    an inverse 'appearsIn' edge and a schema:about edge from the
    hasScene/depicts chain — CONSTRUCT's graph-set semantics (distinct,
    NULL-skipping) over the pipeline KG.  Exact oracle: the same two
    projections as a deduping UNION over the VALUES-mirrored scenes."""
    from face_hunter_spark.operators.bgp import construct
    from face_hunter_spark.schemas import NS

    triples = _kg_pipeline(spark, sf_dir)
    return construct(
        triples,
        [("?v", NS["hunter_has_scene"], "?s"),
         ("?s", NS["sdo_depicts"], "?e")],
        template=[
            ("?e", "http://face-hunter.org/ontology/appearsIn", "?v"),
            ("?v", "https://schema.org/about", "?e"),
        ],
    ).orderBy("subj", "pred", "obj")


def _q_sparql_union_bind_branch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BIND inside a UNION branch (operators/sparql.py — COMPLEX
    branches): the branch assembles as its own sub-group (BGP +
    BINDs via _group_bindings) and inner-joins the variant's plain
    part on the shared variable, so a computed column can be a
    branch's contribution to the union.  Query: per customer, urgent
    order ids from one branch and a BIND-computed nation tag from the
    other.  Oracle: the literal UNION ALL with the concat inline."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ck = F.col("c_custkey").cast("long")
    ok = F.col("o_custkey").cast("long")
    base = (
        customer.where(ck <= 150).select(
            F.concat(F.lit("C"), ck.cast("string")).alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            orders.where(
                (ok <= 150)
                & (F.col("o_orderpriority") == "1-URGENT")
            ).select(
                F.concat(F.lit("C"), ok.cast("string")).alias("subj"),
                F.lit("http://example.org/urgent").alias("pred"),
                F.concat(
                    F.lit("O"), F.col("o_orderkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            customer.where(ck <= 150).select(
                F.concat(F.lit("C"), ck.cast("string")).alias("subj"),
                F.lit("http://example.org/nation").alias("pred"),
                F.col("c_nationkey").cast("string").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?k WHERE {
          ?c ex:segment ?seg .
          { ?c ex:urgent ?k }
          UNION { ?c ex:nation ?n . BIND (concat("N-", ?n) AS ?k) }
        }
        ORDER BY ?c ?k
        """,
    )


ORACLE_SPARQL_UNION_BIND_BRANCH = """
SELECT c, k FROM (
  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS c,
         'O' || CAST(o_orderkey AS VARCHAR) AS k
  FROM orders WHERE o_custkey <= 150 AND o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT 'C' || CAST(c_custkey AS VARCHAR),
         'N-' || CAST(c_nationkey AS VARCHAR)
  FROM customer WHERE c_custkey <= 150
) t
ORDER BY c, k
"""


def _q_sparql_negation_values_bind(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VALUES and BIND inside negation groups (operators/sparql.py::
    _group_bindings): the group's VALUES table joins and its BINDs
    apply BEFORE the outer semi/anti join, so a BIND target can be
    the SHARED variable.  Query: customers excluding two listed
    segments (VALUES inside FILTER NOT EXISTS) and excluding big
    accounts via a MINUS whose shared ?c comes from a group BIND.
    Oracle: the equivalent NOT IN + NOT EXISTS predicates."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ck = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    base = (
        customer.select(
            ck.alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            customer.where(F.col("c_acctbal") > 9000).select(
                ck.alias("subj"),
                F.lit("http://example.org/bigacct").alias("pred"),
                F.lit("1").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg WHERE {
          ?c ex:segment ?seg .
          FILTER NOT EXISTS {
            ?c ex:segment ?x .
            VALUES ?x { "BUILDING" "MACHINERY" }
          }
          MINUS { ?k ex:bigacct "1" . BIND (str(?k) AS ?c) }
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_NEGATION_VALUES_BIND = """
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS seg
FROM customer
WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
  AND c_acctbal <= 9000
ORDER BY c
"""


def _q_sparql_uncorrelated_exists(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Uncorrelated FILTER [NOT] EXISTS (operators/sparql.py::
    _apply_negations): a group sharing NO variable with the outer
    patterns is constant over the solutions — evaluated as a LIMIT-1
    broadcast existence marker, never a driver collect.  Query:
    all customer segments, kept only because SOME automobile-segment
    customer exists and NO customer carries a nonexistent segment.
    Oracle: the same two uncorrelated EXISTS predicates in SQL."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
            "subj"
        ),
        F.lit("http://example.org/segment").alias("pred"),
        F.col("c_mktsegment").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg WHERE {
          ?c ex:segment ?seg .
          FILTER EXISTS { ?x ex:segment "AUTOMOBILE" }
          FILTER NOT EXISTS { ?y ex:segment "NOSUCHSEG" }
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_UNCORRELATED_EXISTS = """
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS seg
FROM customer
WHERE EXISTS (SELECT 1 FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_mktsegment = 'NOSUCHSEG')
ORDER BY c
"""


def _q_sparql_optional_bind_nested(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BIND and nested OPTIONAL inside an OPTIONAL group (the r5
    complex sub-group path, operators/sparql.py::_opt_entry →
    _group_bindings): the group assembles its own LeftJoin(P2, P3)
    plus BIND, then left-joins the outer patterns as a unit.  Query:
    every customer's segment, optionally extended with a big-account
    marker whose tag is computed by a group BIND, and a nested
    OPTIONAL gold flag only big accounts can carry.  Oracle: chained
    LEFT JOINs with the same computed column."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ck = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    base = (
        customer.select(
            ck.alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            customer.where(F.col("c_acctbal") > 9000).select(
                ck.alias("subj"),
                F.lit("http://example.org/bigacct").alias("pred"),
                F.lit("1").alias("obj"),
            )
        )
        .unionByName(
            customer.where(F.col("c_acctbal") > 9900).select(
                ck.alias("subj"),
                F.lit("http://example.org/goldacct").alias("pred"),
                F.lit("1").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg ?tag ?g WHERE {
          ?c ex:segment ?seg .
          OPTIONAL {
            ?c ex:bigacct ?b .
            OPTIONAL { ?c ex:goldacct ?g }
            BIND (CONCAT("big:", str(?c)) AS ?tag)
          }
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_OPTIONAL_BIND_NESTED = """
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS c,
       c_mktsegment AS seg,
       CASE WHEN c_acctbal > 9000
            THEN 'big:C' || CAST(c_custkey AS VARCHAR) END AS tag,
       CASE WHEN c_acctbal > 9900 THEN '1' END AS g
FROM customer
ORDER BY c
"""


def _q_sparql_nested_negation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nested negation (r5, operators/sparql.py::_group_bindings
    applies its own negation joins recursively): a MINUS inside a
    FILTER EXISTS group — customers having at least one order that is
    NOT urgent.  Each nesting level is its own semi/anti hash join.
    Oracle: EXISTS over the non-urgent order slice."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
    base = (
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
                "subj"
            ),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            orders.select(
                ok.alias("subj"),
                F.lit("http://example.org/by").alias("pred"),
                F.concat(
                    F.lit("C"), F.col("o_custkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            orders.where(
                F.col("o_orderpriority") == F.lit("1-URGENT")
            ).select(
                ok.alias("subj"),
                F.lit("http://example.org/urgent").alias("pred"),
                F.lit("1").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg WHERE {
          ?c ex:segment ?seg .
          FILTER EXISTS {
            ?o ex:by ?c .
            MINUS { ?o ex:urgent "1" }
          }
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_NESTED_NEGATION = """
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS seg
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
)
ORDER BY c
"""


def _q_sparql_group_scope_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A lone nested group (r5): ``{ A . FILTER(f) }`` inside a group
    evaluates as Join(outer, Group(A)) with f scoped to A's own
    bindings — previously a loud seam.  Query: customer segments
    joined with their nation through a braced group whose FILTER
    excludes one nation at group scope.  Oracle: the same join +
    predicate."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _kg_edge_graph(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?n WHERE {
          ?c ex:inNation ?n .
          { ?n ex:inRegion ?r . FILTER(?r != "ASIA") }
        }
        ORDER BY ?c ?n
        """,
    )


ORACLE_SPARQL_GROUP_SCOPE = """
SELECT c_name AS c, n_name AS n
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name <> 'ASIA'
ORDER BY c, n
"""


def _q_sparql_unanchored_star(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unanchored ``pred*`` (r5, operators/sparql.py::_expand_paths):
    with both ends variable the zero-length component contributes one
    reflexive pair per term IN THE GRAPH (SPARQL 1.1 §18.4
    ZeroLengthPath over G's subjects and objects), alongside the
    transitive closure — previously a loud seam.  Graph: the 25
    nation→region containment edges.  Oracle: the edge pairs UNION ALL
    one reflexive row per nation and per region."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = nation.join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        F.col("n_name").alias("subj"),
        F.lit("http://example.org/inRegion").alias("pred"),
        F.col("r_name").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?a ?b WHERE { ?a ex:inRegion* ?b }
        ORDER BY ?a ?b
        """,
    )


ORACLE_SPARQL_UNANCHORED_STAR = """
SELECT n_name AS a, r_name AS b
FROM nation JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT n_name AS a, n_name AS b FROM nation
UNION ALL
SELECT r_name AS a, r_name AS b FROM region
ORDER BY a, b
"""


def _q_sparql_select_expr_orderby(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Non-aggregate SELECT expressions + ORDER BY expression keys
    (operators/sparql.py::_parse_select / _parse_modifiers): a
    projection-scope Extend computing a display label over a group
    key and an aggregate alias, sorted by an expression.  Oracle: the
    same GROUP BY with the computed column spelled in SQL."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
            "subj"
        ),
        F.lit("http://example.org/segment").alias("pred"),
        F.col("c_mktsegment").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?seg (COUNT(?c) AS ?n)
               (CONCAT(LCASE(?seg), ":", STR(?n)) AS ?lbl)
        WHERE { ?c ex:segment ?seg }
        GROUP BY ?seg
        ORDER BY DESC(STRLEN(?lbl)) ?seg
        """,
    )


ORACLE_SPARQL_SELECT_EXPR = """
SELECT c_mktsegment AS seg,
       COUNT(*) AS n,
       LOWER(c_mktsegment) || ':' || CAST(COUNT(*) AS VARCHAR) AS lbl
FROM customer
GROUP BY c_mktsegment
ORDER BY LENGTH(lbl) DESC, seg
"""


def _q_sparql_subquery_optional_negation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Subqueries nested inside OPTIONAL and inside FILTER NOT EXISTS
    (operators/sparql.py sub-group subquery lists, r5): every customer
    with their nation, left-extended by an aggregating subquery in
    OPTIONAL (order count; NULL for order-less customers), minus — via
    a NOT EXISTS whose group is itself a HAVING-filtered aggregating
    subquery — the heavy customers with >= 25 orders.  The reference's
    users would script this as three round-trips against Virtuoso
    (graph.py:194-244); one SPARQL 1.1 text query does it here."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
            .alias("subj"),
            F.lit("http://example.org/byCustomer").alias("pred"),
            F.col("c_name").alias("obj"),
        )
        .unionByName(
            customer.join(
                nation, F.col("c_nationkey") == F.col("n_nationkey")
            ).select(
                F.col("c_name").alias("subj"),
                F.lit("http://example.org/inNation").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?nat ?n WHERE {
          ?c ex:inNation ?nat .
          OPTIONAL { { SELECT ?c (COUNT(?o) AS ?n)
                       WHERE { ?o ex:byCustomer ?c } GROUP BY ?c } }
          FILTER NOT EXISTS {
            { SELECT ?c (COUNT(?o) AS ?m)
              WHERE { ?o ex:byCustomer ?c }
              GROUP BY ?c HAVING (?m >= 25) }
          }
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_SUBQ_OPT_NEG = """
WITH cnt AS (
  SELECT c.c_name AS c, COUNT(*) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_name
)
SELECT cu.c_name AS c, na.n_name AS nat, CAST(cnt.n AS BIGINT) AS n
FROM customer cu
JOIN nation na ON cu.c_nationkey = na.n_nationkey
LEFT JOIN cnt ON cnt.c = cu.c_name
WHERE cu.c_name NOT IN (SELECT c FROM cnt WHERE n >= 25)
ORDER BY c
"""


def _q_sparql_subquery_union_branches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregating subqueries as BOTH branches of a UNION
    (operators/sparql.py ``__q__`` union-branch subqueries, r5): one
    branch counts suppliers per nation, the other counts customers per
    nation; the UNION is the bag-concat of the two grouped results.
    Exercises bottom-up subquery evaluation inside union assembly —
    neither branch shares variables with an outer pattern."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _sparql_path_base(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        SELECT ?nat ?k WHERE {
          { { SELECT ?nat (COUNT(?w) AS ?k)
              WHERE { ?w ex:suppNation ?nat } GROUP BY ?nat } }
          UNION
          { { SELECT ?nat (COUNT(?w) AS ?k)
              WHERE { ?w ex:inNation ?nat } GROUP BY ?nat } }
        }
        ORDER BY ?nat ?k
        """,
    )


ORACLE_SPARQL_SUBQ_UNION = """
SELECT nat, CAST(k AS BIGINT) AS k FROM (
  SELECT n.n_name AS nat, COUNT(*) AS k
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name
  UNION ALL
  SELECT n.n_name AS nat, COUNT(*) AS k
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
ORDER BY nat, k
"""


def _q_sparql_update_union_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Alternative path ('|') in a modify-form UPDATE WHERE
    (operators/sparql_update.py::_construct_where): the '|' spawns a
    UNION block the WHERE evaluates through the read path's variant
    machinery, then instantiates the insert template once per binding
    from EITHER branch.  Graph: customers and suppliers under two
    different nation predicates; the update copies both onto one
    unified ex:locatedIn predicate.  Oracle replays base ∪ inserted."""
    from face_hunter_spark.operators.sparql_update import updated_graph

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/custNation").alias("pred"),
            F.col("n_name").alias("obj"),
        )
        .unionByName(
            supplier.join(
                nation, F.col("s_nationkey") == F.col("n_nationkey")
            ).select(
                F.col("s_name").alias("subj"),
                F.lit("http://example.org/suppNation").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )
    out = updated_graph(
        base,
        """
        PREFIX ex: <http://example.org/>
        INSERT { ?x ex:locatedIn ?n }
        WHERE { ?x ex:custNation|ex:suppNation ?n }
        """,
    )
    return out.orderBy("subj", "pred", "obj")


ORACLE_SPARQL_UPDATE_UNION_WHERE = """
WITH base AS (
  SELECT c_name AS subj, 'http://example.org/custNation' AS pred,
         n_name AS obj
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT s_name, 'http://example.org/suppNation', n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM base
  UNION ALL
  SELECT DISTINCT subj, 'http://example.org/locatedIn' AS pred, obj
  FROM base
) t
ORDER BY subj, pred, obj
"""


def _q_sparql_update_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UPDATE state transition (operators/sparql_update.py —
    the write half of the reference's text surface,
    virtuoso_store.py:29-52): a customer→nation membership graph
    derived from TPC-H, then one DELETE{...}INSERT{...}WHERE{...}
    (predicate rename gated by a FILTER) applied via the pure
    (G \\ D) ∪ I operator.  The oracle replays the anti-join/union
    algebra in DuckDB over the identical base graph."""
    from face_hunter_spark.operators.sparql_update import updated_graph

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/inNation").alias("pred"),
            F.col("n_name").alias("obj"),
        )
        .unionByName(
            nation.select(
                F.col("n_name").alias("subj"),
                F.lit("http://example.org/kind").alias("pred"),
                F.lit("nation").alias("obj"),
            )
        )
    )
    out = updated_graph(
        base,
        """
        PREFIX ex: <http://example.org/>
        DELETE { ?c ex:inNation ?n }
        INSERT { ?c ex:memberOf ?n }
        WHERE { ?c ex:inNation ?n . FILTER (?n != "CHINA") }
        """,
    )
    return out.orderBy("subj", "pred", "obj")


ORACLE_SPARQL_UPDATE = """
WITH base AS (
  SELECT c_name AS subj, 'http://example.org/inNation' AS pred,
         n_name AS obj
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT n_name, 'http://example.org/kind', 'nation' FROM nation
),
dels AS (
  SELECT DISTINCT subj, pred, obj FROM base
  WHERE pred = 'http://example.org/inNation' AND obj <> 'CHINA'
),
ins AS (
  SELECT DISTINCT subj, 'http://example.org/memberOf' AS pred, obj
  FROM base
  WHERE pred = 'http://example.org/inNation' AND obj <> 'CHINA'
),
after_del AS (
  SELECT b.subj, b.pred, b.obj FROM base b
  ANTI JOIN dels d
    ON b.subj = d.subj AND b.pred = d.pred AND b.obj = d.obj
),
novel AS (
  SELECT i.subj, i.pred, i.obj FROM ins i
  ANTI JOIN after_del a
    ON i.subj = a.subj AND i.pred = a.pred AND i.obj = a.obj
)
SELECT subj, pred, obj FROM after_del
UNION ALL
SELECT subj, pred, obj FROM novel
ORDER BY subj, pred, obj
"""


def _q_sparql_update_full_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Modify-form UPDATE whose WHERE clause uses the read path's
    FULL group surface (operators/sparql_update.py: the WHERE routes
    through the same ``_group_bindings`` assembler as read
    sub-groups): VALUES restricts the nations, MINUS excludes
    customers carrying a 'high' account edge, and BIND computes the
    inserted object.  The oracle replays the anti-join/union algebra
    in DuckDB over the identical base graph."""
    from face_hunter_spark.operators.sparql_update import updated_graph

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/inNation").alias("pred"),
            F.col("n_name").alias("obj"),
        )
        .unionByName(
            customer.where(F.col("c_acctbal") > 5000.0).select(
                F.col("c_name").alias("subj"),
                F.lit("http://example.org/acct").alias("pred"),
                F.lit("high").alias("obj"),
            )
        )
    )
    out = updated_graph(
        base,
        """
        PREFIX ex: <http://example.org/>
        DELETE { ?c ex:inNation ?n }
        INSERT { ?c ex:memberOf ?t }
        WHERE {
          ?c ex:inNation ?n .
          VALUES ?n { "JAPAN" "INDIA" }
          MINUS { ?c ex:acct "high" }
          BIND(CONCAT("N:", ?n) AS ?t)
        }
        """,
    )
    return out.orderBy("subj", "pred", "obj")


ORACLE_SPARQL_UPDATE_FULL_WHERE = """
WITH base AS (
  SELECT c_name AS subj, 'http://example.org/inNation' AS pred,
         n_name AS obj
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT c_name, 'http://example.org/acct', 'high'
  FROM customer WHERE c_acctbal > 5000.0
),
sel AS (
  SELECT c_name, n_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('JAPAN', 'INDIA') AND c_acctbal <= 5000.0
),
dels AS (
  SELECT DISTINCT c_name AS subj,
         'http://example.org/inNation' AS pred, n_name AS obj
  FROM sel
),
ins AS (
  SELECT DISTINCT c_name AS subj,
         'http://example.org/memberOf' AS pred, 'N:' || n_name AS obj
  FROM sel
),
after_del AS (
  SELECT b.subj, b.pred, b.obj FROM base b
  ANTI JOIN dels d
    ON b.subj = d.subj AND b.pred = d.pred AND b.obj = d.obj
),
novel AS (
  SELECT i.subj, i.pred, i.obj FROM ins i
  ANTI JOIN after_del a
    ON i.subj = a.subj AND i.pred = a.pred AND i.obj = a.obj
)
SELECT subj, pred, obj FROM after_del
UNION ALL
SELECT subj, pred, obj FROM novel
ORDER BY subj, pred, obj
"""


def _q_sparql_service_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated-query analogue (operators/sparql.py SERVICE snapshot
    evaluation — the offline form of the reference's live DBpedia/
    Wikidata service{} blocks, graph.py:194-244): the local graph holds
    customer→nation edges; a REGISTERED SNAPSHOT of a 'remote regions
    endpoint' holds nation→region edges; one SPARQL text query joins
    across them through the shared ?n variable with a post-join FILTER
    on the service-bound ?r.  The oracle replays the equi-join chain."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    local = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    snapshot = nation.join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        F.col("n_name").alias("subj"),
        F.lit("http://example.org/inRegion").alias("pred"),
        F.col("r_name").alias("obj"),
    )
    out = execute(
        local,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?n ?r WHERE {
          ?c ex:inNation ?n .
          SERVICE <http://regions.example/sparql> { ?n ex:inRegion ?r }
          FILTER (?r != "ASIA")
        }
        """,
        services={"http://regions.example/sparql": snapshot},
    )
    return out.orderBy("c", "n", "r")


ORACLE_SPARQL_SERVICE = """
SELECT c_name AS c, n_name AS n, r_name AS r
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name <> 'ASIA'
ORDER BY c, n, r
"""


def _q_sparql_service_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full solution algebra INSIDE a SERVICE{} group (widened late
    r5 — operators/sparql.py _apply_services routes through
    _group_bindings): the remote group carries VALUES (region allow-
    list), BIND (a computed tag), FILTER NOT EXISTS (drop nations
    whose code triple is '3' — evaluated against the SNAPSHOT graph),
    and a plain FILTER over the BIND-bound var (defers past the bind).
    The oracle replays the joins + IN-list + anti-join + concat."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    local = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    snapshot = nation.join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        F.col("n_name").alias("subj"),
        F.lit("http://example.org/inRegion").alias("pred"),
        F.col("r_name").alias("obj"),
    ).unionByName(
        nation.select(
            F.col("n_name").alias("subj"),
            F.lit("http://example.org/code").alias("pred"),
            F.col("n_nationkey").cast("string").alias("obj"),
        )
    )
    out = execute(
        local,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?tag WHERE {
          ?c ex:inNation ?n .
          SERVICE <http://regions.example/sparql> {
            ?n ex:inRegion ?r
            VALUES ?r { "AFRICA" "ASIA" "EUROPE" }
            BIND(CONCAT(?r, ":", ?n) AS ?tag)
            FILTER NOT EXISTS { ?n ex:code "3" }
            FILTER(?tag != "ASIA:NATION_12")
          }
        }
        """,
        services={"http://regions.example/sparql": snapshot},
    )
    return out.orderBy("c", "tag")


ORACLE_SPARQL_SERVICE_ALGEBRA = """
SELECT c_name AS c, r_name || ':' || n_name AS tag
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('AFRICA', 'ASIA', 'EUROPE')
  AND n_nationkey <> 3
  AND r_name || ':' || n_name <> 'ASIA:NATION_12'
ORDER BY c, tag
"""


def _q_sparql_service_in_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVICE blocks nested inside OPTIONAL and inside MINUS
    (operators/sparql.py::_group_bindings service joins, r5): the
    'remote regions endpoint' snapshot left-extends each customer with
    their region through OPTIONAL{SERVICE{...FILTER}} — ASIA rows fail
    the service-group filter, so those customers survive NULL-padded —
    and a MINUS{SERVICE{...}} drops customers whose nation the
    endpoint places in AFRICA.  The reference hits DBpedia mid-query
    the same way (graph.py:194-244); here the endpoint is an offline
    snapshot and both nested forms are one Spark plan."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    local = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    snapshot = nation.join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        F.col("n_name").alias("subj"),
        F.lit("http://example.org/inRegion").alias("pred"),
        F.col("r_name").alias("obj"),
    )
    out = execute(
        local,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?nat ?reg WHERE {
          ?c ex:inNation ?nat .
          OPTIONAL { SERVICE <http://regions.example/sparql> {
            ?nat ex:inRegion ?reg FILTER (?reg != "ASIA") } }
          MINUS { SERVICE <http://regions.example/sparql> {
            ?nat ex:inRegion "AFRICA" } }
        }
        """,
        services={"http://regions.example/sparql": snapshot},
    )
    return out.orderBy("c", "nat", "reg")


ORACLE_SPARQL_SERVICE_GROUPS = """
SELECT c_name AS c, n_name AS nat,
       CASE WHEN r_name <> 'ASIA' THEN r_name END AS reg
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name <> 'AFRICA'
ORDER BY c, nat, reg
"""


def _q_sparql_optional_inner_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTER inside OPTIONAL — SPARQL LeftJoin(P1, P2, F) (the
    reference's OPTIONAL{dbp:name FILTER(LANG(?n)='en')} template
    shape, knowledge_graphs.py:103-104): the filter constrains the
    EXTENSION, not the left row, so a nation whose only region edge
    fails the filter SURVIVES unextended — the hoisted (post-join)
    form in sparql_text_select would drop it.  ASIA nations are the
    observable difference: 25 rows here, 20 hoisted.  NULL
    extensions project as '(none)' so the row order is
    NULL-convention-proof on both engines."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = nation.select(
        F.col("n_name").alias("subj"),
        F.lit("http://example.org/kind").alias("pred"),
        F.lit("nation").alias("obj"),
    ).unionByName(
        nation.join(
            region, F.col("n_regionkey") == F.col("r_regionkey")
        ).select(
            F.col("n_name").alias("subj"),
            F.lit("http://example.org/inRegion").alias("pred"),
            F.col("r_name").alias("obj"),
        )
    )
    out = execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?n ?r WHERE {
          ?n ex:kind "nation" .
          OPTIONAL { ?n ex:inRegion ?r FILTER (?r != "ASIA") }
        }
        """,
    )
    return out.select(
        "n", F.coalesce("r", F.lit("(none)")).alias("r")
    ).orderBy("n", "r")


ORACLE_SPARQL_OPTIONAL_INNER = """
SELECT n_name AS n,
       CASE WHEN r_name <> 'ASIA' THEN r_name ELSE '(none)' END AS r
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n, r
"""


def _q_sparql_path_zero_or_one(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Property path ``p?`` (zero-or-one, completing the ^ / seq / alt
    / + / * operator set): nodes within ZERO or ONE inRegion hop of
    "ASIA" — the five ASIA member nations (one hop) plus the anchor
    itself (the zero-length path).  No closure job: the path
    materializes as the plain edge slice + one anchored zero row."""
    from face_hunter_spark.operators.sparql import execute

    graph = _kg_edge_graph(spark, sf_dir)
    return execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x ex:inRegion? "ASIA" }
        ORDER BY ?x
        """,
    )


ORACLE_SPARQL_PATH_ZERO_OR_ONE = """
SELECT n_name AS x
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
UNION ALL
SELECT 'ASIA' AS x
ORDER BY x
"""


def _kg_edge_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base graph for the path-operator queries: customer→nation
    membership edges + nation→region containment edges."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/inNation").alias("pred"),
            F.col("n_name").alias("obj"),
        )
        .unionByName(
            nation.join(
                region, F.col("n_regionkey") == F.col("r_regionkey")
            ).select(
                F.col("n_name").alias("subj"),
                F.lit("http://example.org/inRegion").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )


def _q_sparql_path_seq_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence + inverse property paths (operators/sparql.py path
    rewrites): ?c inNation/inRegion ?r chains through a hidden join
    variable; ?n ^inNation ?c swaps subject/object.  Exact oracle:
    the customer⋈nation⋈region join spelled directly."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _kg_edge_graph(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?r ?n WHERE {
          ?c ex:inNation/ex:inRegion ?r .
          ?n ^ex:inNation ?c .
        }
        ORDER BY ?c ?r ?n
        """,
    )


ORACLE_SPARQL_PATH_SEQ = """
SELECT c_name AS c, r_name AS r, n_name AS n
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
ORDER BY c, r, n
"""


def _q_sparql_path_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternative property path: ?x inNation|inRegion ?y is the bag
    union of both edge sets (compiled to a UNION block, distributive
    evaluation).  Exact oracle: UNION ALL of the two edge lists."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _kg_edge_graph(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        SELECT ?x ?y WHERE { ?x ex:inNation|ex:inRegion ?y }
        ORDER BY ?x ?y
        """,
    )


ORACLE_SPARQL_PATH_ALT = """
SELECT x, y FROM (
  SELECT c_name AS x, n_name AS y
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT n_name, r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
ORDER BY x, y
"""


def _q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation community detection
    (operators/graph.py::label_propagation) on the bipartite
    customer↔nation membership graph: synchronous rounds, most-
    frequent neighbor label with min-label tie-break, fixed 3 rounds —
    a pure function of the edge set, so the oracle replays every
    round as one CTE stage."""
    from face_hunter_spark.operators.graph import label_propagation

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = customer.select(
        F.format_string("C%d", F.col("c_custkey")).alias("src"),
        F.format_string("N%d", F.col("c_nationkey")).alias("dst"),
    )
    return label_propagation(edges, n_iter=3).orderBy("id")


def _oracle_lpa() -> str:
    round_tpl = """
r{i} AS (
  SELECT s.a, l.community AS nl, COUNT(*) AS cnt
  FROM sym s JOIN l{prev} l ON s.b = l.id
  GROUP BY s.a, l.community
),
b{i} AS (SELECT a, MAX(cnt) AS cnt FROM r{i} GROUP BY a),
l{i} AS (
  SELECT r.a AS id, MIN(r.nl) AS community
  FROM r{i} r JOIN b{i} b ON r.a = b.a AND r.cnt = b.cnt
  GROUP BY r.a
)"""
    rounds = ",".join(
        round_tpl.format(i=i, prev=i - 1) for i in range(1, 4)
    )
    return f"""
WITH raw AS (
  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS src,
         'N' || CAST(c_nationkey AS VARCHAR) AS dst
  FROM customer
),
sym AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM raw
    UNION ALL
    SELECT dst, src FROM raw
  ) WHERE a <> b
),
l0 AS (SELECT DISTINCT a AS id, a AS community FROM sym),
{rounds}
SELECT id, community FROM l3 ORDER BY id
"""


def _q_common_neighbor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction
    (operators/graph.py::common_neighbors) over the supplier↔nation ∪
    nation↔region membership graph: suppliers of one nation pair up
    through their shared nation node, nations of one region through
    the region — non-adjacent candidates only, integer Jaccard
    num/den.  Oracle replays the wedge self-join + degree math."""
    from face_hunter_spark.operators.graph import common_neighbors

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    edges = (
        nation.select(
            F.format_string("N%d", F.col("n_nationkey")).alias("src"),
            F.format_string("R%d", F.col("n_regionkey")).alias("dst"),
        )
        .unionByName(
            supplier.select(
                F.format_string("S%d", F.col("s_suppkey")).alias("src"),
                F.format_string("N%d", F.col("s_nationkey")).alias("dst"),
            )
        )
    )
    return common_neighbors(edges, min_common=1).orderBy("u", "v")


ORACLE_COMMON_NEIGHBORS = """
WITH raw AS (
  SELECT 'N' || CAST(n_nationkey AS VARCHAR) AS src,
         'R' || CAST(n_regionkey AS VARCHAR) AS dst
  FROM nation
  UNION ALL
  SELECT 'S' || CAST(s_suppkey AS VARCHAR),
         'N' || CAST(s_nationkey AS VARCHAR)
  FROM supplier
),
sym AS (
  SELECT DISTINCT n, x FROM (
    SELECT src AS n, dst AS x FROM raw WHERE src <> dst
    UNION ALL
    SELECT dst, src FROM raw WHERE src <> dst
  )
),
deg AS (SELECT x, COUNT(*) AS deg FROM sym GROUP BY x),
pairs AS (
  SELECT e1.x AS u, e2.x AS v, COUNT(*) AS n_common
  FROM sym e1 JOIN sym e2 ON e1.n = e2.n AND e1.x < e2.x
  GROUP BY e1.x, e2.x
),
nonadj AS (
  SELECT p.* FROM pairs p
  ANTI JOIN sym s ON p.u = s.n AND p.v = s.x
)
SELECT
  a.u, a.v, a.n_common, du.deg AS deg_u, dv.deg AS deg_v,
  a.n_common AS jaccard_num,
  du.deg + dv.deg - a.n_common AS jaccard_den
FROM nonadj a
JOIN deg du ON a.u = du.x
JOIN deg dv ON a.v = dv.x
ORDER BY u, v
"""


def _q_bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distances (operators/graph.py::bfs_levels) from
    nation N0 over the undirected customer↔nation ∪ nation↔region
    membership graph — levels 0..4 (N0 → its customers/its region →
    sibling nations → their customers).  Oracle: a bounded recursive
    CTE taking MIN(level) per node."""
    from face_hunter_spark.operators.graph import bfs_levels

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    edges = (
        customer.select(
            F.format_string("C%d", F.col("c_custkey")).alias("src"),
            F.format_string("N%d", F.col("c_nationkey")).alias("dst"),
        )
        .unionByName(
            nation.select(
                F.format_string("N%d", F.col("n_nationkey")).alias("src"),
                F.format_string("R%d", F.col("n_regionkey")).alias("dst"),
            )
        )
    )
    return bfs_levels(edges, "N0", max_hops=4).orderBy("id")


ORACLE_BFS = """
WITH RECURSIVE sym AS (
  SELECT DISTINCT n, x FROM (
    SELECT src AS n, dst AS x FROM (
      SELECT 'C' || CAST(c_custkey AS VARCHAR) AS src,
             'N' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
      UNION ALL
      SELECT 'N' || CAST(n_nationkey AS VARCHAR),
             'R' || CAST(n_regionkey AS VARCHAR) FROM nation
    )
    UNION ALL
    SELECT dst, src FROM (
      SELECT 'C' || CAST(c_custkey AS VARCHAR) AS src,
             'N' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
      UNION ALL
      SELECT 'N' || CAST(n_nationkey AS VARCHAR),
             'R' || CAST(n_regionkey AS VARCHAR) FROM nation
    )
  ) WHERE n <> x
),
walk(id, lvl) AS (
  SELECT 'N0', 0
  UNION
  SELECT s.x, w.lvl + 1
  FROM walk w JOIN sym s ON s.n = w.id
  WHERE w.lvl < 4
)
SELECT id, CAST(MIN(lvl) AS INTEGER) AS level
FROM walk GROUP BY id ORDER BY id
"""


def _q_sparql_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL text aggregates (operators/sparql.py): COUNT / SUM / AVG
    / GROUP_CONCAT(DISTINCT; SEPARATOR) with GROUP BY over a 3-pattern
    join graph derived from TPC-H customer→nation→region.  Balances
    ride as integer cent strings so the double SUM/AVG are exact at
    any partitioning; GROUP_CONCAT sorts its values (the engine's
    determinism rule), mirrored by DuckDB's ORDER BY inside
    string_agg."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/inNation").alias("pred"),
            F.col("n_name").alias("obj"),
        )
        .unionByName(
            customer.select(
                F.col("c_name").alias("subj"),
                F.lit("http://example.org/balCents").alias("pred"),
                F.round(F.col("c_acctbal") * 100)
                .cast("long").cast("string").alias("obj"),
            )
        )
        .unionByName(
            nation.join(
                region, F.col("n_regionkey") == F.col("r_regionkey")
            ).select(
                F.col("n_name").alias("subj"),
                F.lit("http://example.org/inRegion").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?r (COUNT(?c) AS ?n_cust) (SUM(?b) AS ?bal_cents)
               (AVG(?b) AS ?avg_cents)
               (GROUP_CONCAT(DISTINCT ?n; SEPARATOR="|") AS ?nations)
        WHERE {
          ?c ex:inNation ?n .
          ?c ex:balCents ?b .
          ?n ex:inRegion ?r .
        }
        GROUP BY ?r
        ORDER BY ?r
        """,
    )


ORACLE_SPARQL_AGG = """
WITH g AS (
  SELECT c_name AS c, n_name AS n, r_name AS r,
         CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS b
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
SELECT
  r,
  COUNT(c) AS n_cust,
  SUM(CAST(b AS DOUBLE)) AS bal_cents,
  AVG(CAST(b AS DOUBLE)) AS avg_cents,
  string_agg(DISTINCT n, '|' ORDER BY n) AS nations
FROM g
GROUP BY r
ORDER BY r
"""


def _q_sparql_having_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over a raw aggregate call (operators/sparql.py
    _having_aggregate): the spec's canonical ``HAVING (COUNT(?c) > k)``
    form — the aggregate computes as a hidden column alongside the
    SELECT list and drops after the filter.  The WHERE clause also
    carries a single-quoted string literal (SPARQL 1.1 permits all
    four string forms; the tokenizer canonicalizes them)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?n (MIN(?c) AS ?first_cust)
        WHERE { ?c ex:inNation ?n FILTER(?n != 'NATION_2') }
        GROUP BY ?n
        HAVING (COUNT(?c) > 55)
        ORDER BY ?n
        """,
    )


ORACLE_SPARQL_HAVING = """
SELECT n_name AS n, MIN(c_name) AS first_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name <> 'NATION_2'
GROUP BY n_name
HAVING COUNT(c_name) > 55
ORDER BY n
"""


def _q_sparql_exists_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS in expression position (operators/sparql.py
    _apply_exists_binds): BIND(EXISTS { ?c ex:placedBig ?o } AS ?active)
    flags every customer by BIG-order activity (o_totalprice >
    450000) through a hidden left marker join — a ~64/36 true/false
    split on this corpus (the synthetic orders cover every customer,
    so the unrestricted EXISTS would be vacuous)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    ).unionByName(
        orders.where(F.col("o_totalprice") > 450000).join(
            customer, F.col("o_custkey") == F.col("c_custkey")
        ).select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/placedBig").alias("pred"),
            F.col("o_orderkey").cast("string").alias("obj"),
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?active
        WHERE {
          ?c ex:inNation ?n
          BIND(EXISTS { ?c ex:placedBig ?o } AS ?active)
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_EXISTS_BIND = """
SELECT c_name AS c,
       CASE WHEN EXISTS (
         SELECT 1 FROM orders
         WHERE o_custkey = c_custkey AND o_totalprice > 450000
       ) THEN 'true' ELSE 'false' END AS active
FROM customer
ORDER BY c
"""


def _q_sparql_filter_exists_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS inside a FILTER boolean expression (operators/sparql.py
    deferred-marker machinery): keep customers that either placed
    a big order (o_totalprice > 450000) OR sit in a named nation —
    ``FILTER(EXISTS { ?c ex:placedBig ?o } || ?n = 'NATION_2')`` — both
    sides of the disjunction are live on this corpus."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    ).unionByName(
        orders.where(F.col("o_totalprice") > 450000).join(
            customer, F.col("o_custkey") == F.col("c_custkey")
        ).select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/placedBig").alias("pred"),
            F.col("o_orderkey").cast("string").alias("obj"),
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?n
        WHERE {
          ?c ex:inNation ?n
          FILTER(EXISTS { ?c ex:placedBig ?o } || ?n = 'NATION_2')
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_FILTER_EXISTS = """
SELECT c_name AS c, n_name AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
   OR n_name = 'NATION_2'
ORDER BY c
"""


def _q_sparql_optional_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS inside an OPTIONAL group's FILTER — the LeftJoin(P1,P2,F)
    condition F carries a hidden EXISTS marker computed on the group's
    own bindings frame (operators/sparql.py _group_bindings keeps
    unconsumed markers; bgp.graph_pattern folds F into the join ON and
    drops the marker after).  Each customer keeps its big orders
    (o_totalprice > 450000) that are ALSO urgent (an ex:urgent triple
    exists for the order); a customer whose every big order fails
    EXISTS survives NULL-padded instead of dropping — the observable
    difference vs filtering after the join (1493/1500 customers have a
    big order but only 316 orders are urgent, so the padding branch is
    live)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = orders.where(F.col("o_totalprice") > 450000).join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    )
    base = customer.select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/isCustomer").alias("pred"),
        F.lit("true").alias("obj"),
    ).unionByName(
        big.select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/placedBig").alias("pred"),
            F.col("o_orderkey").cast("string").alias("obj"),
        )
    ).unionByName(
        orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_orderkey").cast("string").alias("subj"),
            F.lit("http://example.org/urgent").alias("pred"),
            F.col("o_orderpriority").alias("obj"),
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?o
        WHERE {
          ?c ex:isCustomer ?t .
          OPTIONAL { ?c ex:placedBig ?o
                     FILTER(EXISTS { ?o ex:urgent ?p }) }
        }
        ORDER BY ?c ?o
        """,
    )


ORACLE_SPARQL_OPTIONAL_EXISTS = """
SELECT cu.c_name AS c, b.o AS o
FROM customer cu
LEFT JOIN (
  SELECT c2.c_name AS cn, CAST(o1.o_orderkey AS VARCHAR) AS o
  FROM orders o1 JOIN customer c2 ON o1.o_custkey = c2.c_custkey
  WHERE o1.o_totalprice > 450000
    AND EXISTS (SELECT 1 FROM orders o2
                WHERE o2.o_orderkey = o1.o_orderkey
                  AND o2.o_orderpriority = '1-URGENT')
) b ON b.cn = cu.c_name
ORDER BY c, o
"""


def _q_sparql_order_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate calls as ORDER BY sort keys (operators/sparql.py):
    ``ORDER BY DESC(COUNT(?c)) ?n`` with LIMIT — the hidden aggregate
    survives projection for the sort and drops after, so the result
    schema is just (n, first_cust); LIMIT makes the sort semantics
    material to the row set (top-5 nations by customer count,
    name-tie-broken)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?n (MIN(?c) AS ?first_cust)
        WHERE { ?c ex:inNation ?n }
        GROUP BY ?n
        ORDER BY DESC(COUNT(?c)) ?n
        LIMIT 5
        """,
    )


ORACLE_SPARQL_ORDER_AGG = """
SELECT n_name AS n, MIN(c_name) AS first_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY COUNT(c_name) DESC, n
LIMIT 5
"""


def _q_sparql_distinct_agg_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SELECT DISTINCT with a hidden aggregate ORDER BY key
    (operators/sparql.py _finish_select): grouping is per (nation,
    region) but only ?r projects, so Distinct collapses each region's
    nations and keeps its FIRST occurrence's sort key — the max
    per-nation customer count under DESC — and LIMIT 3 makes the
    ordering material to the row SET (5 regions in the corpus).  The
    oracle replays group → per-region max → order/limit."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    ).unionByName(
        nation.join(
            region, F.col("n_regionkey") == F.col("r_regionkey")
        ).select(
            F.col("n_name").alias("subj"),
            F.lit("http://example.org/inRegion").alias("pred"),
            F.col("r_name").alias("obj"),
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT DISTINCT ?r WHERE {
          ?c ex:inNation ?n .
          ?n ex:inRegion ?r .
        }
        GROUP BY ?n ?r
        ORDER BY DESC(COUNT(?c)) ?r
        LIMIT 3
        """,
    )


ORACLE_SPARQL_DISTINCT_AGG_ORDER = """
WITH g AS (
  SELECT n_name, r_name, COUNT(c_name) AS cnt
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY n_name, r_name
)
SELECT r FROM (
  SELECT r_name AS r, MAX(cnt) AS k FROM g GROUP BY r_name
)
ORDER BY k DESC, r
LIMIT 3
"""


def _q_sparql_trailing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing VALUES clause (SPARQL 1.1 §10.2.2, operators/sparql.py
    _finish_select): per-nation customer counts joined — AFTER the
    aggregation, per §18.2.4.3 — with an inline allow-list of three
    nation names.  The oracle replays group-then-IN-list, which is
    only equivalent because the join happens post-aggregation (an
    in-group VALUES would change the counts' inputs, not filter the
    groups)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?n (COUNT(?c) AS ?cnt) WHERE {
          ?c ex:inNation ?n .
        }
        GROUP BY ?n
        ORDER BY ?n
        VALUES ?n { "NATION_2" "NATION_7" "NATION_11" }
        """,
    )


ORACLE_SPARQL_TRAILING_VALUES = """
SELECT n_name AS n, COUNT(c_name) AS cnt
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
HAVING n_name IN ('NATION_2', 'NATION_7', 'NATION_11')
ORDER BY n
"""


def _q_sparql_values_undef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNDEF wildcard cells in a VALUES table (operators/sparql.py
    _join_values — the §10.2.2 condition-join path): row 1 keeps every
    NATION_2 customer (?c is UNDEF = matches any), row 2 keeps one
    named customer in any nation (?n is UNDEF).  Customer#000000001
    sits in NATION_19, so the two rows never both match one solution
    and the bag stays duplicate-free — making the OR-of-two-filters
    oracle exact."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?n WHERE { ?c ex:inNation ?n }
        ORDER BY ?c
        VALUES (?n ?c) {
          ("NATION_2" UNDEF)
          (UNDEF "Customer#000000001")
        }
        """,
    )


ORACLE_SPARQL_VALUES_UNDEF = """
SELECT c_name AS c, n_name AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name = 'NATION_2' OR c_name = 'Customer#000000001'
ORDER BY c
"""


def _q_sparql_construct_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT WHERE { BGP } short form (SPARQL 1.1 §10.2.3,
    operators/sparql.py _parse_construct): the two-pattern WHERE
    doubles as the template; output is the set-deduplicated union of
    both instantiations."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = customer.join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_name").alias("subj"),
        F.lit("http://example.org/inNation").alias("pred"),
        F.col("n_name").alias("obj"),
    ).unionByName(
        nation.join(
            region, F.col("n_regionkey") == F.col("r_regionkey")
        ).select(
            F.col("n_name").alias("subj"),
            F.lit("http://example.org/inRegion").alias("pred"),
            F.col("r_name").alias("obj"),
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        CONSTRUCT WHERE { ?c ex:inNation ?n . ?n ex:inRegion ?r }
        """,
    )


ORACLE_SPARQL_CONSTRUCT_WHERE = """
WITH b AS (
  SELECT c_name AS c, n_name AS n, r_name AS r
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT c AS subj, 'http://example.org/inNation' AS pred, n AS obj FROM b
  UNION ALL
  SELECT n, 'http://example.org/inRegion', r FROM b
)
"""


def _q_sparql_expr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregates over full expressions (operators/sparql.py):
    SUM(?p * month(?d)) — an aggregate whose argument composes
    arithmetic with a date-accessor builtin — plus
    COUNT(DISTINCT month(?d)) and MAX(sha256(?o)) over the hash
    builtins, grouped on a BIND(year(?d)) variable (the engine's
    all-lexical model makes the bound year a string).  Prices ride as
    integer cent strings so every product is an exact integer below
    2^53 — the double SUM is then order-independent and matches
    DuckDB bit-for-bit at any partitioning.  Orders is the base (its
    key is unique, so the 2-pattern BGP self-join is 1:1)."""
    from face_hunter_spark.operators.sparql import execute

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    oid = F.concat(
        F.lit("O"), F.col("o_orderkey").cast("string")
    ).alias("subj")
    base = (
        orders.select(
            oid,
            F.lit("http://example.org/priceCents").alias("pred"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long").cast("string").alias("obj"),
        )
        .unionByName(
            orders.select(
                oid,
                F.lit("http://example.org/placed").alias("pred"),
                F.col("o_orderdate").cast("string").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?y (COUNT(?o) AS ?n_orders)
               (SUM(?p * month(?d)) AS ?weighted_cents)
               (COUNT(DISTINCT month(?d)) AS ?n_months)
               (MAX(sha256(?o)) AS ?max_digest)
        WHERE {
          ?o ex:priceCents ?p .
          ?o ex:placed ?d .
          BIND (year(?d) AS ?y)
        }
        GROUP BY ?y
        ORDER BY ?y
        """,
    )


ORACLE_SPARQL_EXPR_AGG = """
WITH g AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS o,
         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
             AS p,
         CAST(o_orderdate AS VARCHAR) AS d
  FROM orders
)
SELECT
  CAST(year(CAST(d AS TIMESTAMP)) AS VARCHAR) AS y,
  COUNT(o) AS n_orders,
  SUM(CAST(p AS DOUBLE) * month(CAST(d AS TIMESTAMP)))
      AS weighted_cents,
  COUNT(DISTINCT month(CAST(d AS TIMESTAMP))) AS n_months,
  MAX(sha256(o)) AS max_digest
FROM g
GROUP BY 1
ORDER BY 1
"""


def _q_sparql_path_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-relation property-path closure (operators/sparql.py
    _expand_paths): ``(p/q)+`` — the group's edge relation is an
    equi-join composition of the two predicate slices, materialized
    once and path-doubling-closed like a single predicate.  The graph
    is a 25-rung ladder built from nation keys (A_k -p-> B_k -q->
    A_{k+1}), so the composite relation is the successor chain and
    its closure is every ordered pair — deep enough to need real
    iteration (ceil(log2(24)) = 5 doubling rounds).  The oracle walks
    the same composition with a recursive CTE."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    base = (
        nation.select(
            F.concat(F.lit("A"), k.cast("string")).alias("subj"),
            F.lit("http://example.org/p").alias("pred"),
            F.concat(F.lit("B"), k.cast("string")).alias("obj"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("B"), k.cast("string")).alias("subj"),
                F.lit("http://example.org/q").alias("pred"),
                F.concat(F.lit("A"), (k + 1).cast("string")).alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?a ?b WHERE { ?a (ex:p/ex:q)+ ?b }
        ORDER BY ?a ?b
        """,
    )


ORACLE_SPARQL_PATH_COMPOSITE = """
WITH RECURSIVE comp AS (
  SELECT p.src AS src, q.dst AS dst
  FROM (SELECT 'A' || CAST(n_nationkey AS VARCHAR) AS src,
               'B' || CAST(n_nationkey AS VARCHAR) AS dst
        FROM nation) p
  JOIN (SELECT 'B' || CAST(n_nationkey AS VARCHAR) AS src,
               'A' || CAST(n_nationkey + 1 AS VARCHAR) AS dst
        FROM nation) q
  ON p.dst = q.src
),
walk(a, b) AS (
  SELECT src, dst FROM comp
  UNION
  SELECT w.a, c.dst FROM walk w JOIN comp c ON w.b = c.src
)
SELECT a, b FROM walk ORDER BY a, b
"""


def _q_sparql_negation_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNION inside a negation group (operators/sparql.py — the
    negation group evaluates through the shared _bindings assembler):
    customers (with their segment) that have NO order in status F or
    P, i.e. FILTER NOT EXISTS over a 2-branch UNION correlated on ?c.
    The oracle is the equivalent NOT EXISTS (... OR ...) anti-join.
    Non-trivial at sf0.01 (4 survivors out of 3000 customers)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = (
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
            .alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/placed").alias("pred"),
                F.concat(
                    F.lit("O"), F.col("o_orderkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/status").alias("pred"),
                F.col("o_orderstatus").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg WHERE {
          ?c ex:segment ?seg .
          FILTER NOT EXISTS {
            ?c ex:placed ?o .
            { ?o ex:status "F" } UNION { ?o ex:status "P" }
          }
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_NEGATION_UNION = """
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS c,
       c_mktsegment AS seg
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND (o_orderstatus = 'F' OR o_orderstatus = 'P')
  )
ORDER BY c
"""


def _q_sparql_union_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A UNION branch that JOINS patterns (and a FILTER) with a nested
    UNION block (operators/sparql.py::_parse_union_branch): the parser
    distributes {A . F . ({B} UNION {C})} into sibling flat branches
    A⋈B/σF and A⋈C/σF at parse time (bag-semantics identity
    σ_f(A ⋈ (B ∪ C)) = σ_f(A ⋈ B) ∪ σ_f(A ⋈ C)).  Graph: customer
    segment/nation + order status triples; answers 'non-BUILDING
    customers' F-or-P orders, plus every customer's nation' — the
    oracle is the literal three-way UNION ALL."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ckey = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    base = (
        customer.select(
            ckey.alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            customer.select(
                ckey.alias("subj"),
                F.lit("http://example.org/nation").alias("pred"),
                F.concat(
                    F.lit("N"), F.col("c_nationkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/placed").alias("pred"),
                F.concat(
                    F.lit("O"), F.col("o_orderkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/status").alias("pred"),
                F.col("o_orderstatus").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg ?x WHERE {
          ?c ex:segment ?seg .
          { ?c ex:placed ?x . FILTER(?seg != "BUILDING")
            { ?x ex:status "F" } UNION { ?x ex:status "P" } }
          UNION { ?c ex:nation ?x }
        }
        ORDER BY ?c ?x
        """,
    )


ORACLE_SPARQL_UNION_DISTRIBUTED = """
SELECT c, seg, x FROM (
  SELECT 'C' || CAST(c.c_custkey AS VARCHAR) AS c,
         c.c_mktsegment AS seg,
         'O' || CAST(o.o_orderkey AS VARCHAR) AS x
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment <> 'BUILDING' AND o.o_orderstatus = 'F'
  UNION ALL
  SELECT 'C' || CAST(c.c_custkey AS VARCHAR),
         c.c_mktsegment,
         'O' || CAST(o.o_orderkey AS VARCHAR)
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment <> 'BUILDING' AND o.o_orderstatus = 'P'
  UNION ALL
  SELECT 'C' || CAST(c_custkey AS VARCHAR),
         c_mktsegment,
         'N' || CAST(c_nationkey AS VARCHAR)
  FROM customer
) t
ORDER BY c, x
"""


def _q_sparql_graph_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GRAPH ?g { ... }`` (operators/sparql.py): the wrapper
    collapses into the enclosing group (single-graph store) and ?g
    binds to the store's configured graph URI in every solution — the
    single-graph-dataset reading of the spec's graph iteration.  The
    bound variable is projected AND filtered on, so the oracle pins
    both the constant and the deferred-filter path.  Graph is TPC-H
    nation→region as triples; answers 'nations in ASIA plus the graph
    they came from'."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
            .alias("subj"),
            F.lit("http://example.org/inRegion").alias("pred"),
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
            .alias("obj"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/name").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            region.select(
                F.concat(F.lit("R"), F.col("r_regionkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/name").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?name ?g WHERE {
          GRAPH ?g {
            ?n ex:inRegion ?r .
            ?r ex:name "ASIA" .
            ?n ex:name ?name .
          }
          FILTER ( contains(str(?g), "face-hunter") )
        }
        ORDER BY ?name
        """,
        graph_uri="http://face-hunter.org/graph",
    )


ORACLE_SPARQL_GRAPH_VAR = """
SELECT n_name AS name, 'http://face-hunter.org/graph' AS g
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
ORDER BY name
"""


def _q_sparql_graph_var_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``GRAPH ?g`` wrappers nested inside sub-groups
    (operators/sparql.py ``_inject_graph_binds`` recursion): inside
    OPTIONAL the wrapper's variable NULL-pads like any optional var
    (bound to the store URI only where the group matched), and inside
    MINUS the wrapper collapses without disturbing the anti-join's
    shared-variable set.  Graph is TPC-H nation→region as triples;
    answers 'non-African nations, tagged with the graph URI iff
    Asian'."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
            .alias("subj"),
            F.lit("http://example.org/inRegion").alias("pred"),
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
            .alias("obj"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/name").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            region.select(
                F.concat(F.lit("R"), F.col("r_regionkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/name").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?name (COALESCE(?g, "none") AS ?gtag) WHERE {
          ?n ex:name ?name .
          ?n ex:inRegion ?r .
          OPTIONAL { GRAPH ?g { ?r ex:name "ASIA" } }
          MINUS { GRAPH ?h { ?n ex:inRegion ?x . ?x ex:name "AFRICA" } }
        }
        ORDER BY ?name
        """,
        graph_uri="http://face-hunter.org/graph",
    )


ORACLE_SPARQL_GRAPH_VAR_GROUPS = """
SELECT n_name AS name,
       CASE WHEN r_name = 'ASIA'
            THEN 'http://face-hunter.org/graph' ELSE 'none' END AS gtag
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name <> 'AFRICA'
ORDER BY name
"""


def _q_sparql_alt_in_union_branch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``p1|p2`` alternative paths INSIDE a UNION branch
    (operators/sparql.py): the branch promotes to a complex sub-group
    at parse time and the alternative rewrites into the sub-group's
    OWN union list, so the branch's other patterns join each
    alternative before the outer bag-semantics union.  Graph is TPC-H
    nation→region as triples; answers 'each Asian nation's region id
    AND name edges, plus African nation names'."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
            .alias("subj"),
            F.lit("http://example.org/inRegion").alias("pred"),
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
            .alias("obj"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/name").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            region.select(
                F.concat(F.lit("R"), F.col("r_regionkey").cast("string"))
                .alias("subj"),
                F.lit("http://example.org/name").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?x ?y WHERE {
          { ?x ex:inRegion|ex:name ?y .
            ?x ex:inRegion ?r . ?r ex:name "ASIA" }
          UNION
          { ?x ex:name ?y .
            ?x ex:inRegion ?r2 . ?r2 ex:name "AFRICA" }
        }
        ORDER BY ?x ?y
        """,
    )


ORACLE_SPARQL_ALT_IN_UNION_BRANCH = """
WITH asia AS (
  SELECT n_nationkey AS k, n_name, n_regionkey
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
SELECT x, y FROM (
  SELECT 'N' || CAST(k AS VARCHAR) AS x,
         'R' || CAST(n_regionkey AS VARCHAR) AS y FROM asia
  UNION ALL
  SELECT 'N' || CAST(k AS VARCHAR), n_name FROM asia
  UNION ALL
  SELECT 'N' || CAST(n_nationkey AS VARCHAR), n_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'AFRICA'
) t
ORDER BY x, y
"""


def _q_sparql_negset_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property set with an inverse member (SPARQL 1.1 §9.1,
    operators/sparql.py): ``!(ex:next|^ex:label)`` is the union of
    forward edges whose predicate is not ``next`` (the label edges)
    and REVERSED edges whose predicate is not ``label`` (the chain
    edges, reversed).  Composed with an ``ex:next+`` closure in the
    same group, the query also pins the bgp guard that a hidden
    predicate variable never binds the closure's synthetic triples
    (operators/bgp.py PATH_SYNTH_SEP) — without it the reverse branch
    would leak one row per closure pair.  Graph: the 25-nation key
    chain plus a label edge per nation."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    base = (
        nation.where(k < 24).select(
            F.concat(F.lit("N"), k.cast("string")).alias("subj"),
            F.lit("http://example.org/next").alias("pred"),
            F.concat(F.lit("N"), (k + 1).cast("string")).alias("obj"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), k.cast("string")).alias("subj"),
                F.lit("http://example.org/label").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?a ?b ?x WHERE {
          ?a ex:next+ ?b .
          ?b !(ex:next|^ex:label) ?x .
        }
        ORDER BY ?a ?b ?x
        """,
    )


ORACLE_SPARQL_NEGSET_INVERSE = """
WITH RECURSIVE walk(a, b) AS (
  SELECT n_nationkey, n_nationkey + 1 FROM nation WHERE n_nationkey < 24
  UNION
  SELECT w.a, w.b + 1 FROM walk w WHERE w.b < 24
),
xs AS (
  SELECT w.a, w.b, n.n_name AS x
  FROM walk w JOIN nation n ON n.n_nationkey = w.b
  UNION ALL
  SELECT w.a, w.b, 'N' || CAST(w.b - 1 AS VARCHAR) AS x FROM walk w
)
SELECT 'N' || CAST(a AS VARCHAR) AS a,
       'N' || CAST(b AS VARCHAR) AS b, x
FROM xs ORDER BY a, b, x
"""


def _q_sparql_negset_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure over a negated property set (operators/sparql.py):
    ``!(ex:label|^ex:next)+`` builds the set's ONE union relation —
    forward non-label edges (the key chain) plus reversed non-next
    edges (label edges reversed, name -> node) — and path-doubling-
    closes it (closure of a union is not the union of closures, so
    the set rides the composite-closure materializer as a single
    atom).  Expected: every chain pair (N_a, N_b) a<b plus every
    (name_k, N_j) j>=k via the name->node hop into the chain."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    base = (
        nation.where(k < 24).select(
            F.concat(F.lit("N"), k.cast("string")).alias("subj"),
            F.lit("http://example.org/next").alias("pred"),
            F.concat(F.lit("N"), (k + 1).cast("string")).alias("obj"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), k.cast("string")).alias("subj"),
                F.lit("http://example.org/label").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?s ?o WHERE { ?s !(ex:label|^ex:next)+ ?o }
        ORDER BY ?s ?o
        """,
    )


ORACLE_SPARQL_NEGSET_CLOSURE = """
WITH RECURSIVE walk(a, b) AS (
  SELECT n_nationkey, n_nationkey + 1 FROM nation WHERE n_nationkey < 24
  UNION
  SELECT w.a, w.b + 1 FROM walk w WHERE w.b < 24
)
SELECT s, o FROM (
  SELECT 'N' || CAST(a AS VARCHAR) AS s,
         'N' || CAST(b AS VARCHAR) AS o
  FROM walk
  UNION ALL
  SELECT n.n_name AS s, 'N' || CAST(j.n_nationkey AS VARCHAR) AS o
  FROM nation n JOIN nation j ON j.n_nationkey >= n.n_nationkey
) ORDER BY s, o
"""


def _q_sparql_optional_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNION inside OPTIONAL (operators/sparql.py): LeftJoin(P1,
    B ∪ C, F) — the OPTIONAL group's two branches assemble as ONE
    binding set that left-joins onto the required patterns, with the
    group's FILTER as the join condition referencing an OUTER
    variable: non-BUILDING customers keep a NULL-padded row even when
    a branch would extend them (hoisting the filter would instead
    drop the extension rows only).  The oracle is the literal
    LEFT JOIN of the UNION ALL with the predicate in the ON clause."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ck = F.col("c_custkey").cast("long")
    ok = F.col("o_custkey").cast("long")
    base = (
        customer.where(ck <= 200).select(
            F.concat(F.lit("C"), ck.cast("string")).alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            orders.where(
                (ok <= 200)
                & (F.col("o_orderpriority") == "1-URGENT")
            ).select(
                F.concat(F.lit("C"), ok.cast("string")).alias("subj"),
                F.lit("http://example.org/urgent").alias("pred"),
                F.concat(
                    F.lit("O"), F.col("o_orderkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            orders.where(
                (ok <= 200) & (F.col("o_orderstatus") == "O")
            ).select(
                F.concat(F.lit("C"), ok.cast("string")).alias("subj"),
                F.lit("http://example.org/open").alias("pred"),
                F.concat(
                    F.lit("O"), F.col("o_orderkey").cast("string")
                ).alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?o WHERE {
          ?c ex:segment ?seg .
          OPTIONAL {
            { ?c ex:urgent ?o } UNION { ?c ex:open ?o }
            FILTER(strstarts(str(?seg), "BUILD"))
          }
        }
        ORDER BY ?c ?o
        """,
    )


ORACLE_SPARQL_OPTIONAL_UNION = """
WITH cust AS (
  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS c, c_mktsegment AS seg
  FROM customer WHERE c_custkey <= 200
), mem AS (
  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS c,
         'O' || CAST(o_orderkey AS VARCHAR) AS o
  FROM orders WHERE o_custkey <= 200 AND o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT 'C' || CAST(o_custkey AS VARCHAR),
         'O' || CAST(o_orderkey AS VARCHAR)
  FROM orders WHERE o_custkey <= 200 AND o_orderstatus = 'O'
)
SELECT cust.c AS c, mem.o AS o
FROM cust LEFT JOIN mem
  ON mem.c = cust.c AND cust.seg LIKE 'BUILD%'
ORDER BY c, o
"""


def _q_sparql_path_nested_closure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closure step INSIDE a closed group (operators/sparql.py):
    ``(ex:a/ex:b+)+`` makes ``b+`` a nested-closure atom — its inner
    relation path-doubles first, composes with ``a``'s slice into the
    group's relation R, and R closes again.  Graph: nation keys as a
    lattice with a = +1 hops and b = +2 hops, so R(i,j) iff j-i is
    odd and >= 3, and R+ adds every sum of such increments: j-i >= 3
    and j-i != 4 — a closed form the oracle states directly."""
    from face_hunter_spark.operators.sparql import execute

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    base = (
        nation.where(k < 24).select(
            F.concat(F.lit("N"), k.cast("string")).alias("subj"),
            F.lit("http://example.org/a").alias("pred"),
            F.concat(F.lit("N"), (k + 1).cast("string")).alias("obj"),
        )
        .unionByName(
            nation.where(k < 23).select(
                F.concat(F.lit("N"), k.cast("string")).alias("subj"),
                F.lit("http://example.org/b").alias("pred"),
                F.concat(F.lit("N"), (k + 2).cast("string"))
                .alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?s ?o WHERE { ?s (ex:a/ex:b+)+ ?o }
        ORDER BY ?s ?o
        """,
    )


ORACLE_SPARQL_PATH_NESTED_CLOSURE = """
SELECT 'N' || CAST(a.n_nationkey AS VARCHAR) AS s,
       'N' || CAST(b.n_nationkey AS VARCHAR) AS o
FROM nation a JOIN nation b
  ON b.n_nationkey - a.n_nationkey >= 3
 AND b.n_nationkey - a.n_nationkey <> 4
ORDER BY s, o
"""


def _q_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 subqueries (operators/sparql.py): a
    ``{ SELECT ... GROUP BY ... }`` group evaluated bottom-up and
    hash-joined onto the outer patterns on the shared variable, with
    an outer FILTER over the subquery-projected aggregate.  Graph is
    TPC-H orders→customer→nation re-expressed as triples; the query
    finds customers with ≥ 15 orders plus their nation — the
    reference's users would need two round-trips for this, a subquery
    does it in one (graph.py:194-244 accepts raw SPARQL 1.1)."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
            .alias("subj"),
            F.lit("http://example.org/byCustomer").alias("pred"),
            F.col("c_name").alias("obj"),
        )
        .unionByName(
            customer.join(
                nation, F.col("c_nationkey") == F.col("n_nationkey")
            ).select(
                F.col("c_name").alias("subj"),
                F.lit("http://example.org/inNation").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?nat ?n WHERE {
          ?c ex:inNation ?nat .
          { SELECT ?c (COUNT(?o) AS ?n)
            WHERE { ?o ex:byCustomer ?c } GROUP BY ?c }
          FILTER (?n >= 15)
        }
        ORDER BY ?c
        """,
    )


def _sparql_path_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared triple base for the grouped-path/negset driver queries:
    customer --inNation--> nation, supplier --suppNation--> nation,
    nation --inRegion--> region, all as lexical triples."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/inNation").alias("pred"),
            F.col("n_name").alias("obj"),
        )
        .unionByName(
            supplier.join(
                nation, F.col("s_nationkey") == F.col("n_nationkey")
            ).select(
                F.col("s_name").alias("subj"),
                F.lit("http://example.org/suppNation").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            nation.join(
                region, F.col("n_regionkey") == F.col("r_regionkey")
            ).select(
                F.col("n_name").alias("subj"),
                F.lit("http://example.org/inRegion").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )


def _q_sparql_path_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped property path ``(p1|p2)/p3`` (operators/sparql.py
    _path_alt/_path_seq): the parenthesized alternative distributes
    over the sequence into two UNION branches, each chaining through a
    hidden join variable — customers AND suppliers resolved to their
    region in one pattern."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _sparql_path_base(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        SELECT ?x ?r WHERE {
          ?x (ex:inNation|ex:suppNation)/ex:inRegion ?r .
        }
        ORDER BY ?x
        """,
    )


ORACLE_SPARQL_PATH_GROUPED = """
SELECT x, r FROM (
  SELECT c.c_name AS x, rg.r_name AS r
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region rg ON n.n_regionkey = rg.r_regionkey
  UNION ALL
  SELECT s.s_name AS x, rg.r_name AS r
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region rg ON n.n_regionkey = rg.r_regionkey
) ORDER BY x
"""


def _q_sparql_path_negset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property set inside a sequence step
    (operators/sparql.py _parse_negset): ``!(p1|p2)`` compiles to a
    hidden predicate variable plus a NOT IN filter Catalyst pushes to
    the scan — here it selects exactly the customer→nation edges, so
    the chained ``/ex:inRegion`` lands customers (not suppliers) in
    their region."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _sparql_path_base(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        SELECT ?x ?r WHERE {
          ?x !(ex:suppNation|ex:inRegion)/ex:inRegion ?r .
        }
        ORDER BY ?x
        """,
    )


ORACLE_SPARQL_PATH_NEGSET = """
SELECT c.c_name AS x, rg.r_name AS r
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region rg ON n.n_regionkey = rg.r_regionkey
ORDER BY x
"""


def _q_sparql_filter_functions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPARQL FILTER/BIND builtin surface (operators/sparql.py
    _function/_value_expr): arithmetic over lexical numerics, SUBSTR /
    STRLEN / UCASE / CONCAT / STRBEFORE, IF through BIND, and a
    variable-vs-NUMBER comparison that must try_cast (not ANSI-cast)
    the lexical side.  Over customer rows re-expressed as triples."""
    from face_hunter_spark.operators.sparql import execute

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = (
        customer.select(
            F.col("c_name").alias("subj"),
            F.lit("http://example.org/segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        )
        .unionByName(
            customer.select(
                F.col("c_name").alias("subj"),
                F.lit("http://example.org/balance").alias("pred"),
                F.col("c_acctbal").cast("string").alias("obj"),
            )
        )
    )
    return execute(
        base,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?seg ?tier WHERE {
          ?c ex:segment ?s .
          ?c ex:balance ?b .
          BIND ( concat(substr(?s, 1, 4), "-",
                        ucase(strbefore(?c, "#"))) AS ?seg )
          BIND ( if(?b * 2 >= 19000, "high", "low") AS ?tier )
          FILTER ( ?b >= 9000 && strlen(?s) > 8 )
        }
        ORDER BY ?c
        """,
    )


ORACLE_SPARQL_FILTER_FUNCTIONS = """
SELECT c, seg, tier FROM (
  SELECT
    c_name AS c,
    c_mktsegment AS s,
    CAST(c_acctbal AS VARCHAR) AS b,
    substr(c_mktsegment, 1, 4) || '-' ||
      upper(CASE WHEN instr(c_name, '#') > 0
            THEN substr(c_name, 1, instr(c_name, '#') - 1)
            ELSE '' END) AS seg,
    CASE WHEN TRY_CAST(CAST(c_acctbal AS VARCHAR) AS DOUBLE) * 2
              >= 19000
         THEN 'high' ELSE 'low' END AS tier
  FROM customer
)
WHERE TRY_CAST(b AS DOUBLE) >= 9000 AND length(s) > 8
ORDER BY c
"""


def _q_sparql_describe_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE ?v WHERE {...} (operators/sparql.py + bgp.describe_set):
    the node set binds through the solution algebra, then two left-semi
    joins pull each node's out/in star — no driver collect.  Describes
    every nation in one region over the path-base triple graph."""
    from face_hunter_spark.operators.sparql import execute

    return execute(
        _sparql_path_base(spark, sf_dir),
        """
        PREFIX ex: <http://example.org/>
        DESCRIBE ?n WHERE { ?n ex:inRegion "AMERICA" }
        """,
    ).orderBy("direction", "subj", "pred", "obj")


ORACLE_SPARQL_DESCRIBE_VAR = """
WITH t AS (
  SELECT c.c_name AS subj, 'http://example.org/inNation' AS pred,
         n.n_name AS obj
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT s.s_name, 'http://example.org/suppNation', n.n_name
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  UNION ALL
  SELECT n.n_name, 'http://example.org/inRegion', r.r_name
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
),
nodes AS (
  SELECT DISTINCT subj AS dn FROM t
  WHERE pred = 'http://example.org/inRegion' AND obj = 'AMERICA'
)
SELECT subj, pred, obj, direction FROM (
  SELECT t.subj, t.pred, t.obj, 'out' AS direction
  FROM t SEMI JOIN nodes ON t.subj = nodes.dn
  UNION ALL
  SELECT t.subj, t.pred, t.obj, 'in' AS direction
  FROM t SEMI JOIN nodes ON t.obj = nodes.dn
  WHERE t.subj <> t.obj
) ORDER BY direction, subj, pred, obj
"""


ORACLE_SPARQL_SUBQUERY = """
WITH cnt AS (
  SELECT c.c_name AS c, COUNT(*) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_name
)
SELECT cu.c_name AS c, na.n_name AS nat, CAST(cnt.n AS BIGINT) AS n
FROM customer cu
JOIN nation na ON cu.c_nationkey = na.n_nationkey
JOIN cnt ON cnt.c = cu.c_name
WHERE cnt.n >= 15
ORDER BY c
"""


def _q_kg_scene_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read path (SURVEY.md §2.8, graph.py:153-192): run the pipeline,
    register the scene_view, and search scenes depicting the busiest
    entity (deterministic pick = lexicographically smallest among the
    most-depicted).  Rows-only: the triples come from the Python-UDF
    vision stage, not SQL-expressible in DuckDB."""
    from face_hunter_spark import query as Q
    from face_hunter_spark.schemas import NS

    # persist: the target collect AND the scene_view self-joins would
    # otherwise each re-run the Python vision/link pipeline
    triples = _kg_pipeline(spark, sf_dir).persist()
    try:
        Q.register_views(spark, triples)
        target = (
            triples.where(F.col("pred") == NS["foaf_depicts"])
            .select("subj", "pred", "obj").distinct()
            .groupBy("obj")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "obj")
            .limit(1)
            .collect()[0]["obj"]
        )
        result = (
            Q.get_scenes_with_entity(spark, target)
            .select("title", "link", "co_entity", "start", "finish")
            .orderBy("link", "start", "co_entity")
        )
        # materialize while the pipeline output is cached, then free the
        # executor memory — repeated harness invocations in one session
        # must not accumulate cached partitions
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        triples.unpersist()


def _q_kg_videos_by_attribute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship user query (graph.py:194-244 docstring
    example): videos whose scenes depict entities filtered on
    attributes fetched via service{} federation — male, born before
    1970, wikidata-linked.  Batch analogue: the synth entity-attribute
    dim table broadcast-joined onto scene_view, the FILTER(...) as a
    SQL WHERE fragment."""
    from face_hunter_spark import query as Q, synth

    triples = _kg_pipeline(spark, sf_dir).persist()
    try:
        Q.register_views(spark, triples)
        attrs = spark.createDataFrame(
            synth.make_entity_attributes_pdf(n_entities=N_ENTITIES,
                                             distractors=3)
        )
        result = Q.get_videos_with_filters(
            spark,
            "wikidata_entity LIKE '%www.wikidata.org%' "
            "AND gender = 'male' AND birth_date < '1970-01-01'",
            attributes=attrs,
        ).orderBy("link", "start", "entity")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        triples.unpersist()


def _q_kg_entity_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Zipf-hot-entity rollup (north_rule: salted repartitioning +
    two-stage aggregation) over REAL pipeline output: distinct depicts
    triples -> salted per-entity scene counts.  Exact oracle from the
    driver_oracle expected scenes."""
    from face_hunter_spark.operators.skew import salted_agg
    from face_hunter_spark.schemas import NS

    depicts = (
        _kg_pipeline(spark, sf_dir)
        .where(F.col("pred") == NS["foaf_depicts"])
        .select("subj", "obj")
        .distinct()
    )
    return (
        salted_agg(
            depicts, keys=["obj"], aggs={"n_scenes": ("count", "subj")},
            salt_buckets=16,
        )
        .select(F.col("obj").alias("entity_uri"), "n_scenes")
        .orderBy(F.desc("n_scenes"), "entity_uri")
    )


def _q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline, distinct triples rolled up per predicate.  Exact
    oracle: driver_oracle regenerates the expected per-doc triple sets
    sequentially in pure Python (reference-semantics model, no shared
    operator code) and ships them to DuckDB as a VALUES join."""
    return (
        _kg_pipeline(spark, sf_dir)
        .select("subj", "pred", "obj")
        .distinct()
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred")
    )


def _q_enrich_candidate_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gallery-enrichment candidate validation (reference
    enrich_with_photos.py:118-151 single-face check) as a driver query:
    validate a fixed synthetic candidate batch distributed
    (enrich.validate_candidates mapInPandas) and roll up kept
    thumbnails per label.  Oracle: the same single-face filter
    regenerated in pure Python as a VALUES literal."""
    from face_hunter_spark import enrich, synth

    labels = [f"Entity {i:03d}" for i in range(6)]
    cands = spark.createDataFrame(
        synth.make_enrich_candidates_pdf(labels, 12), enrich.CANDIDATES
    )
    validated = enrich.validate_candidates(cands)
    return (
        validated.withColumn(
            "idx",
            F.element_at(F.split(F.col("thumb_ref"), "/"), -1).cast("int"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_valid"),
            F.concat_ws(",", F.array_sort(F.collect_list("idx")))
            .alias("kept_idxs"),
        )
        .orderBy("label")
    )


def _oracle_enrich_validation() -> str:
    from face_hunter_spark import fakevision as fv

    rows = []
    for i in range(6):
        label = f"Entity {i:03d}"
        kept = [t for t in range(12) if fv.thumb_face_count(label, t) == 1]
        rows.append(
            f"('{label}', {len(kept)}, "
            f"'{','.join(str(t) for t in kept)}')"
        )
    values = ",\n  ".join(rows)
    return f"""
SELECT label, n_valid::BIGINT AS n_valid, kept_idxs
FROM (VALUES
  {values}) t(label, n_valid, kept_idxs)
ORDER BY label
"""


def _q_aligned_crop_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keypoint-based affine alignment (operators/align.py; reference
    facial_preprocessing.py:7-60) as a driver query: per synthetic
    face, integer-quantized checksums of the RAW detector patch and the
    ALIGNED 112x112 crop, computed distributed in one mapInPandas
    stage.  float64 accumulation over fixed-shape arrays is
    bit-deterministic, so the pure-Python oracle regenerates the exact
    same longs (and raw != aligned proves the warp really ran)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from face_hunter_spark import fakevision as fv
        from face_hunter_spark.operators.align import align_crops_batch

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            seeds = np.array(
                [fv.face_seed("vid_align", int(i), 0) for i in ids],
                dtype=np.uint64,
            )
            raw = fv.face_crops_batch(seeds)
            rel = fv.face_keypoints_rel_batch(seeds)
            kps = rel * np.array([112, 112], dtype=np.float32)
            aligned = align_crops_batch(raw, kps)
            yield pd.DataFrame({
                "frame_no": ids.astype("int64"),
                "raw_milli": np.floor(
                    raw.sum(axis=(1, 2, 3), dtype=np.float64) * 1000.0
                ).astype("int64"),
                "aligned_milli": np.floor(
                    aligned.sum(axis=(1, 2, 3), dtype=np.float64) * 1000.0
                ).astype("int64"),
            })

    return (
        spark.range(40).repartition(8)
        .mapInPandas(fn, "frame_no long, raw_milli long, aligned_milli long")
        .orderBy("frame_no")
    )


def _oracle_aligned_checksums() -> str:
    import math

    import numpy as np

    from face_hunter_spark import fakevision as fv
    from face_hunter_spark.operators.align import align_crops_batch

    rows = []
    for i in range(40):
        seed = np.array([fv.face_seed("vid_align", i, 0)], dtype=np.uint64)
        raw = fv.face_crops_batch(seed)
        rel = fv.face_keypoints_rel_batch(seed)
        kps = rel * np.array([112, 112], dtype=np.float32)
        aligned = align_crops_batch(raw, kps)
        rows.append(
            f"({i}, "
            f"{math.floor(float(raw.sum(dtype=np.float64)) * 1000.0)}, "
            f"{math.floor(float(aligned.sum(dtype=np.float64)) * 1000.0)})"
        )
    values = ",\n  ".join(rows)
    return f"""
SELECT frame_no::BIGINT AS frame_no, raw_milli::BIGINT AS raw_milli,
       aligned_milli::BIGINT AS aligned_milli
FROM (VALUES
  {values}) t(frame_no, raw_milli, aligned_milli)
ORDER BY frame_no
"""


# --------------------------------------------------------------------------
# the contract
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (VERDICT r4 "Next round" #1): the driver
    # harness verifies roughly the FIRST 50 entries per round.  The
    # dict is therefore ordered in three blocks:
    #   (a) the 9 round-4 entries that have never been through the
    #       real driver window (judged green only via the local
    #       mirror) — they MUST land in CORRECTNESS_r05,
    #   (b) entries new this round,
    #   (c) a representative core of already-driver-green queries
    #       (the kg pipeline + one per operator family) filling the
    #       window, then the remaining driver-green ledger.
    # Every entry keeps its oracle regardless of position — the local
    # mirror (scripts/driver_check.py) still covers the full ledger.
    return {
        # -- (a) driver-evidence gap: never inside a 50-query window --
        "sparql_text_agg": _q_sparql_text_agg,
        "sparql_path_seq_inverse": _q_sparql_path_seq_inverse,
        "sparql_path_alt": _q_sparql_path_alt,
        "sparql_update_apply": _q_sparql_update_apply,
        "lpa_communities": _q_lpa_communities,
        "common_neighbor_links": _q_common_neighbor_links,
        "bfs_hop_distance": _q_bfs_hop_distance,
        "transe_epoch": DQ.q_transe_epoch,
        "transe_link_prediction": DQ.q_transe_link_prediction,
        # -- (b) new this round ---------------------------------------
        "sparql_service_join": _q_sparql_service_join,
        "sparql_service_algebra": _q_sparql_service_algebra,
        "sparql_optional_inner_filter": _q_sparql_optional_inner_filter,
        "sparql_path_zero_or_one": _q_sparql_path_zero_or_one,
        "sparql_subquery": _q_sparql_subquery,
        "sparql_path_grouped": _q_sparql_path_grouped,
        "sparql_path_negset": _q_sparql_path_negset,
        "sparql_filter_functions": _q_sparql_filter_functions,
        "sparql_describe_var": _q_sparql_describe_var,
        "sparql_expr_agg": _q_sparql_expr_agg,
        "sparql_path_composite": _q_sparql_path_composite,
        "sparql_negation_union": _q_sparql_negation_union,
        "sparql_graph_var": _q_sparql_graph_var,
        "sparql_graph_var_groups": _q_sparql_graph_var_groups,
        "sparql_alt_in_union_branch": _q_sparql_alt_in_union_branch,
        "sparql_update_full_where": _q_sparql_update_full_where,
        "sparql_negset_inverse": _q_sparql_negset_inverse,
        "sparql_negset_closure": _q_sparql_negset_closure,
        "sparql_union_distributed": _q_sparql_union_distributed,
        "sparql_path_nested_closure": _q_sparql_path_nested_closure,
        "sparql_optional_union": _q_sparql_optional_union,
        "sparql_update_union_where": _q_sparql_update_union_where,
        "sparql_negation_values_bind": _q_sparql_negation_values_bind,
        "sparql_union_bind_branch": _q_sparql_union_bind_branch,
        "sparql_uncorrelated_exists": _q_sparql_uncorrelated_exists,
        "sparql_optional_bind_nested": _q_sparql_optional_bind_nested,
        "sparql_nested_negation": _q_sparql_nested_negation,
        "sparql_group_scope_join": _q_sparql_group_scope_join,
        "sparql_unanchored_star": _q_sparql_unanchored_star,
        "sparql_select_expr_orderby": _q_sparql_select_expr_orderby,
        "sparql_subquery_optional_negation": (
            _q_sparql_subquery_optional_negation
        ),
        "sparql_subquery_union_branches": _q_sparql_subquery_union_branches,
        "sparql_service_in_groups": _q_sparql_service_in_groups,
        "sparql_having_agg": _q_sparql_having_agg,
        "sparql_construct_where": _q_sparql_construct_where,
        "sparql_order_agg": _q_sparql_order_agg,
        "sparql_distinct_agg_order": _q_sparql_distinct_agg_order,
        "sparql_trailing_values": _q_sparql_trailing_values,
        "sparql_values_undef": _q_sparql_values_undef,
        "sparql_exists_bind": _q_sparql_exists_bind,
        "sparql_filter_exists_expr": _q_sparql_filter_exists_expr,
        "sparql_optional_exists": _q_sparql_optional_exists,
        # -- (c) representative driver-green core ----------------------
        "kg_triples_by_pred": _q_kg_triples,
        "kg_scene_search": _q_kg_scene_search,
        "kg_videos_by_attribute": _q_kg_videos_by_attribute,
        "kg_entity_mentions": _q_kg_entity_mentions,
        "largest_face_geometry": _q_largest_face_geometry,
        "scene_extraction": _q_scene_extraction,
        "span_roundtrip": _q_span_roundtrip,
        "multimodal_decode": _q_multimodal_decode,
        "connected_components": _q_connected_components,
        "connected_components_bigstar": _q_connected_components_bigstar,
        "incremental_cc": _q_incremental_cc,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "knn_top1": DQ.q_knn_top1,
        "minhash_lsh_pairs": DQ.q_minhash_lsh_pairs,
        "minhash_dedup_survivors": DQ.q_minhash_dedup_survivors,
        "semantic_dedup_survivors": DQ.q_semantic_dedup_survivors,
        "simhash_fingerprints": DQ.q_simhash_fingerprints,
        "exact_dup_groups": DQ.q_exact_dup_groups,
        "duplicate_spans": DQ.q_duplicate_spans,
        "cut_duplicate_spans": DQ.q_cut_duplicate_spans,
        "eval_metrics": DQ.q_eval_metrics,
        "pricing_summary": DQ.q_pricing_summary,
        "enrich_candidate_validation": _q_enrich_candidate_validation,
        "aligned_crop_checksums": _q_aligned_crop_checksums,
        "bgp_scene_depicts": _q_bgp_scene_depicts,
        "bgp_entity_titles": _q_bgp_entity_titles,
        "bgp_optional_filter": _q_bgp_optional_filter,
        "sparql_text_select": _q_sparql_text_select,
        "sparql_construct": _q_sparql_construct,
        "describe_entity": DQ.q_describe_entity,
        "property_path_khop": DQ.q_property_path_khop,
        "rdfs_entailment": DQ.q_rdfs_entailment,
        "negative_samples": DQ.q_negative_samples,
        "shacl_violations": DQ.q_shacl_violations,
        "void_predicate_partitions": DQ.q_void_predicate_partitions,
        "jsonl_interleaved_spans": _q_jsonl_interleaved_spans,
        "kmeans_assignments": DQ.q_kmeans_assignments,
        "corpus_split_mixture": DQ.q_corpus_split_mixture,
        "quality_filter_survivors": DQ.q_quality_filter_survivors,
        # ---- below the ~50 window; still mirror-verified every round
        "sequence_packing": DQ.q_sequence_packing,
        "repetition_profile": DQ.q_repetition_profile,
        "pii_redaction": DQ.q_pii_redaction,
        "asof_last_purchase": DQ.q_asof_last_purchase,
        "range_join_session_hits": DQ.q_range_join_session_hits,
        "pagerank_suppliers": DQ.q_pagerank_suppliers,
        "bm25_ranking": DQ.q_bm25_ranking,
        "kmv_distinct_customers": DQ.q_kmv_distinct_customers,
        "hll_distinct_orders": DQ.q_hll_distinct_orders,
        "decontaminate_documents": DQ.q_decontaminate_documents,
        "cms_heavy_custkeys": DQ.q_cms_heavy_custkeys,
        "bloom_prefilter_orders": DQ.q_bloom_prefilter_orders,
        "triangle_count_graph": DQ.q_triangle_count_graph,
        "triangle_count_per_vertex": DQ.q_triangle_count_per_vertex,
        "profile_customer": DQ.q_profile_customer,
        "rollup_revenue": DQ.q_rollup_revenue,
        "window_rank_lead_lag": DQ.q_window_rank_lead_lag,
        "exact_percentiles": DQ.q_exact_percentiles,
        "tumbling_event_counts": DQ.q_tumbling_event_counts,
        "pivot_order_priorities": DQ.q_pivot_order_priorities,
        "hll_users_per_event_type": DQ.q_hll_users_per_event_type,
        "text_mentions": DQ.q_text_mentions,
        "weighted_sample_orders": DQ.q_weighted_sample_orders,
        "totalprice_histogram": DQ.q_totalprice_histogram,
        "event_funnel": DQ.q_event_funnel,
        "event_transitions": DQ.q_event_transitions,
        "kmv_corpus_overlap": DQ.q_kmv_corpus_overlap,
        # ---- remaining driver-green ledger (below the ~50 window;
        # ---- still mirror-verified every round) ----------------------
        "star_join_revenue": DQ.q_star_join_revenue,
        "orders_per_customer_histogram": DQ.q_orders_per_customer_histogram,
        "customers_without_orders": DQ.q_customers_without_orders,
        "nations_with_rich_suppliers": DQ.q_nations_with_rich_suppliers,
        "top3_orders_per_segment": DQ.q_top3_orders_per_segment,
        "running_spend": DQ.q_running_spend,
        "sessionize_events": DQ.q_sessionize_events,
        "majority_event_type": DQ.q_majority_event_type,
        "event_type_sets": DQ.q_event_type_sets,
        "sample_per_nation": DQ.q_sample_per_nation,
        "custkeys_open_minus_filled": DQ.q_custkeys_open_minus_filled,
        "custkeys_open_and_filled": DQ.q_custkeys_open_and_filled,
        "singleton_part_types": DQ.q_singleton_part_types,
        "json_props": DQ.q_json_props,
        "hourly_event_rollup": DQ.q_hourly_event_rollup,
        "token_stats": DQ.q_token_stats,
        "lang_id_distribution": DQ.q_lang_id_distribution,
        "fingerprint_profile": DQ.q_fingerprint_profile,
        "ngram_jaccard_pairs": DQ.q_ngram_jaccard_pairs,
        "salted_event_rollup": DQ.q_salted_event_rollup,
        "event_type_cooccurrence": DQ.q_event_type_cooccurrence,
        "rolling_fingerprints": DQ.q_rolling_fingerprints,
        "knn_top3": DQ.q_knn_top3,
        "embedding_near_dups": DQ.q_embedding_near_dups,
        "scene_islands": DQ.q_scene_islands,
        "n3_video_blocks": DQ.q_n3_video_blocks,
        "group_concat_brands": DQ.q_group_concat_brands,
        "argmax_event_per_user": DQ.q_argmax_event_per_user,
        "balanced_event_sample": DQ.q_balanced_event_sample,
        "union_name_catalog": DQ.q_union_name_catalog,
        "video_level_accuracy": DQ.q_video_level_accuracy,
        "threshold_sweep": DQ.q_threshold_sweep,
        "distance_tuning_dataset": DQ.q_distance_tuning_dataset,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": DQ.ORACLE_PRICING,
        "star_join_revenue": DQ.ORACLE_STAR,
        "orders_per_customer_histogram": DQ.ORACLE_HISTOGRAM,
        "customers_without_orders": DQ.ORACLE_ANTI,
        "nations_with_rich_suppliers": DQ.ORACLE_SEMI,
        "top3_orders_per_segment": DQ.ORACLE_TOP3,
        "running_spend": DQ.ORACLE_RUNNING,
        "sessionize_events": DQ.ORACLE_SESSIONIZE,
        "majority_event_type": DQ.ORACLE_MAJORITY,
        "event_type_sets": DQ.ORACLE_TYPE_SETS,
        "sample_per_nation": DQ.ORACLE_SAMPLE,
        "custkeys_open_minus_filled": DQ.ORACLE_EXCEPT,
        "custkeys_open_and_filled": DQ.ORACLE_INTERSECT,
        "singleton_part_types": DQ.ORACLE_SINGLETON,
        "json_props": DQ.ORACLE_JSON,
        "hourly_event_rollup": DQ.ORACLE_HOURLY,
        "token_stats": DQ.ORACLE_TOKEN_STATS,
        "lang_id_distribution": DQ._oracle_lang_id(),
        "fingerprint_profile": DQ.ORACLE_FINGERPRINT,
        "ngram_jaccard_pairs": DQ.ORACLE_JACCARD,
        "minhash_lsh_pairs": DQ._oracle_minhash(),
        "simhash_fingerprints": DQ._oracle_simhash(),
        "eval_metrics": DQ.ORACLE_EVAL,
        "salted_event_rollup": DQ.ORACLE_SALTED,
        "event_type_cooccurrence": DQ.ORACLE_COOCCUR,
        "rolling_fingerprints": DQ.ORACLE_ROLLING,
        "exact_dup_groups": DQ.ORACLE_DUP_GROUPS,
        "knn_top1": DQ.ORACLE_KNN1,
        "knn_top3": DQ.ORACLE_KNN3,
        "embedding_near_dups": DQ.ORACLE_NEAR_DUP,
        "connected_components": ORACLE_CC,
        "connected_components_bigstar": ORACLE_CC,
        "incremental_cc": ORACLE_CC,
        "minhash_dedup_survivors": DQ._oracle_minhash_dedup(),
        "scene_islands": DQ.ORACLE_ISLANDS,
        "n3_video_blocks": DQ.ORACLE_N3_VIDEO,
        "group_concat_brands": DQ.ORACLE_GROUP_CONCAT,
        "argmax_event_per_user": DQ.ORACLE_ARGMAX,
        "balanced_event_sample": DQ.ORACLE_BALANCED,
        "union_name_catalog": DQ.ORACLE_UNION,
        "video_level_accuracy": DQ.ORACLE_VIDEO_ACC,
        "threshold_sweep": DQ.ORACLE_THRESHOLD_SWEEP,
        "distance_tuning_dataset": DQ.ORACLE_DISTANCE_TUNING,
        "span_roundtrip": ORACLE_SPAN_ROUNDTRIP,
        "scene_extraction": ORACLE_SCENE_EXTRACTION,
        "multimodal_decode": _oracle_multimodal(),
        "bgp_scene_depicts": _DO.sql_bgp_scene_depicts(),
        "bgp_entity_titles": _DO.sql_bgp_entity_titles(),
        "bgp_optional_filter": _DO.sql_bgp_optional_filter(),
        # the TEXT front-end compiles to the same plan, so the same
        # exact oracle applies verbatim
        "sparql_text_select": _DO.sql_bgp_optional_filter(),
        "sparql_update_apply": ORACLE_SPARQL_UPDATE,
        "sparql_service_join": ORACLE_SPARQL_SERVICE,
        "sparql_service_algebra": ORACLE_SPARQL_SERVICE_ALGEBRA,
        "sparql_optional_inner_filter": ORACLE_SPARQL_OPTIONAL_INNER,
        "sparql_path_zero_or_one": ORACLE_SPARQL_PATH_ZERO_OR_ONE,
        "sparql_subquery": ORACLE_SPARQL_SUBQUERY,
        "sparql_path_grouped": ORACLE_SPARQL_PATH_GROUPED,
        "sparql_path_negset": ORACLE_SPARQL_PATH_NEGSET,
        "sparql_filter_functions": ORACLE_SPARQL_FILTER_FUNCTIONS,
        "sparql_describe_var": ORACLE_SPARQL_DESCRIBE_VAR,
        "sparql_expr_agg": ORACLE_SPARQL_EXPR_AGG,
        "sparql_path_composite": ORACLE_SPARQL_PATH_COMPOSITE,
        "sparql_negation_union": ORACLE_SPARQL_NEGATION_UNION,
        "sparql_graph_var": ORACLE_SPARQL_GRAPH_VAR,
        "sparql_graph_var_groups": ORACLE_SPARQL_GRAPH_VAR_GROUPS,
        "sparql_alt_in_union_branch": ORACLE_SPARQL_ALT_IN_UNION_BRANCH,
        "sparql_update_full_where": ORACLE_SPARQL_UPDATE_FULL_WHERE,
        "sparql_negset_inverse": ORACLE_SPARQL_NEGSET_INVERSE,
        "sparql_negset_closure": ORACLE_SPARQL_NEGSET_CLOSURE,
        "sparql_union_distributed": ORACLE_SPARQL_UNION_DISTRIBUTED,
        "sparql_path_nested_closure": ORACLE_SPARQL_PATH_NESTED_CLOSURE,
        "sparql_optional_union": ORACLE_SPARQL_OPTIONAL_UNION,
        "sparql_update_union_where": ORACLE_SPARQL_UPDATE_UNION_WHERE,
        "sparql_negation_values_bind": ORACLE_SPARQL_NEGATION_VALUES_BIND,
        "sparql_union_bind_branch": ORACLE_SPARQL_UNION_BIND_BRANCH,
        "sparql_uncorrelated_exists": ORACLE_SPARQL_UNCORRELATED_EXISTS,
        "sparql_optional_bind_nested": ORACLE_SPARQL_OPTIONAL_BIND_NESTED,
        "sparql_nested_negation": ORACLE_SPARQL_NESTED_NEGATION,
        "sparql_group_scope_join": ORACLE_SPARQL_GROUP_SCOPE,
        "sparql_unanchored_star": ORACLE_SPARQL_UNANCHORED_STAR,
        "sparql_select_expr_orderby": ORACLE_SPARQL_SELECT_EXPR,
        "sparql_subquery_optional_negation": ORACLE_SPARQL_SUBQ_OPT_NEG,
        "sparql_subquery_union_branches": ORACLE_SPARQL_SUBQ_UNION,
        "sparql_service_in_groups": ORACLE_SPARQL_SERVICE_GROUPS,
        "sparql_having_agg": ORACLE_SPARQL_HAVING,
        "sparql_construct_where": ORACLE_SPARQL_CONSTRUCT_WHERE,
        "sparql_order_agg": ORACLE_SPARQL_ORDER_AGG,
        "sparql_distinct_agg_order": ORACLE_SPARQL_DISTINCT_AGG_ORDER,
        "sparql_trailing_values": ORACLE_SPARQL_TRAILING_VALUES,
        "sparql_values_undef": ORACLE_SPARQL_VALUES_UNDEF,
        "sparql_exists_bind": ORACLE_SPARQL_EXISTS_BIND,
        "sparql_filter_exists_expr": ORACLE_SPARQL_FILTER_EXISTS,
        "sparql_optional_exists": ORACLE_SPARQL_OPTIONAL_EXISTS,
        "sparql_text_agg": ORACLE_SPARQL_AGG,
        "sparql_path_seq_inverse": ORACLE_SPARQL_PATH_SEQ,
        "sparql_path_alt": ORACLE_SPARQL_PATH_ALT,
        "lpa_communities": _oracle_lpa(),
        "common_neighbor_links": ORACLE_COMMON_NEIGHBORS,
        "bfs_hop_distance": ORACLE_BFS,
        "transe_epoch": DQ.ORACLE_TRANSE_EPOCH,
        "transe_link_prediction": DQ.ORACLE_TRANSE_LINK_PREDICTION,
        "rdfs_entailment": DQ.ORACLE_RDFS_ENTAILMENT,
        "negative_samples": DQ.ORACLE_NEGATIVE_SAMPLES,
        "sparql_construct": _DO.sql_sparql_construct(),
        "shacl_violations": DQ.ORACLE_SHACL_VIOLATIONS,
        "void_predicate_partitions": DQ.ORACLE_VOID_PARTITIONS,
        "duplicate_spans": DQ.ORACLE_DUPLICATE_SPANS,
        "cut_duplicate_spans": DQ.ORACLE_CUT_SPANS,
        "describe_entity": DQ.ORACLE_DESCRIBE_ENTITY,
        "property_path_khop": DQ.ORACLE_PROPERTY_PATH,
        "semantic_dedup_survivors": DQ._oracle_semantic_dedup(
            tau_num=7, tau_den=20
        ),
        "kg_triples_by_pred": _DO.sql_kg_triples_by_pred(),
        "largest_face_geometry": _DO.sql_largest_face_geometry(),
        "kg_scene_search": _DO.sql_kg_scene_search(),
        "kg_videos_by_attribute": _DO.sql_kg_videos_by_attribute(),
        "kg_entity_mentions": _DO.sql_kg_entity_mentions(),
        "ann_lsh_topk": _oracle_ann_lsh(),
        "ivf_topk": _oracle_ivf(),
        "jsonl_interleaved_spans": _DO.sql_jsonl_interleaved_spans(),
        "kmeans_assignments": DQ._oracle_kmeans(),
        "corpus_split_mixture": DQ._oracle_corpus_split(),
        "quality_filter_survivors": DQ._oracle_quality_filter(),
        "sequence_packing": DQ._oracle_sequence_packing(),
        "repetition_profile": DQ.ORACLE_REPETITION,
        "pii_redaction": DQ._oracle_pii(),
        "asof_last_purchase": DQ.ORACLE_ASOF,
        "range_join_session_hits": DQ.ORACLE_RANGE_JOIN,
        "pagerank_suppliers": DQ._oracle_pagerank(),
        "bm25_ranking": DQ._oracle_bm25(),
        "kmv_distinct_customers": DQ._oracle_kmv(),
        "hll_distinct_orders": DQ._oracle_hll(),
        "decontaminate_documents": DQ._oracle_decontam(),
        "cms_heavy_custkeys": DQ._oracle_cms(),
        "bloom_prefilter_orders": DQ._oracle_bloom(),
        "triangle_count_graph": DQ._oracle_triangles(),
        "triangle_count_per_vertex": DQ._oracle_triangles_per_vertex(),
        "profile_customer": DQ._oracle_profile(),
        "rollup_revenue": DQ.ORACLE_ROLLUP,
        "window_rank_lead_lag": DQ.ORACLE_WINDOW_RANK,
        "exact_percentiles": DQ.ORACLE_PERCENTILES,
        "tumbling_event_counts": DQ.ORACLE_TUMBLING,
        "pivot_order_priorities": DQ.ORACLE_PIVOT,
        "hll_users_per_event_type": DQ._oracle_hll_by(),
        "text_mentions": DQ._oracle_mentions(),
        "weighted_sample_orders": DQ._oracle_weighted_sample(),
        "totalprice_histogram": DQ.ORACLE_TOTALPRICE_HISTOGRAM,
        "event_funnel": DQ.ORACLE_FUNNEL,
        "event_transitions": DQ.ORACLE_TRANSITIONS,
        "kmv_corpus_overlap": DQ._oracle_kmv_overlap(),
        "enrich_candidate_validation": _oracle_enrich_validation(),
        "aligned_crop_checksums": _oracle_aligned_checksums(),
        # Every queries() entry has an exact oracle.  The pipeline
        # queries check against driver_oracle's Python-regenerated
        # expected output; the two ANN queries run in their
        # expression-signature forms, whose bucketing/centroid math is
        # bit-reproducible in DuckDB (the numpy/GEMM production forms
        # carry pytest recall gates instead).
    }
