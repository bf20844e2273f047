"""Explicit StructType schemas for every table/DataFrame in the engine.

The reference is schema-on-read (pickled python lists, pandas inferred
dtypes — SURVEY.md §1).  Here every boundary has a fixed schema so
Catalyst can prune columns and push filters into the parquet scans.

``DOCUMENTS`` is the contract from BASELINE.json input_hint:
    (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

EMBED_DIM = 512  # reference: ArcFace 512-d (embeddings_cele.pickle shape (1220, 512))

SPAN = StructType(
    [
        StructField("kind", StringType(), False),       # 'text' | 'media'
        StructField("text", StringType(), True),        # non-null iff kind='text'
        StructField("media_ref", StringType(), True),   # non-null iff kind='media'
        StructField("offset", IntegerType(), False),    # strictly increasing per doc
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN), False),
    ]
)

# Broadcast side of the kNN join.  Mirrors the reference's parallel
# labels/embeddings pickles (face_recognition.py:262-279): one row per
# thumbnail, labels repeat per entity.
GALLERY = StructType(
    [
        StructField("gallery_id", LongType(), False),
        StructField("label", StringType(), False),
        StructField("entity_uri", StringType(), True),
        StructField("embedding", ArrayType(FloatType()), False),
    ]
)

# Thumbnails_links.csv analogue (graph.py:62-68); dbpedia + wikidata
# rows share norm_name -> same_as edges for canonicalization.
ENTITY_CATALOG = StructType(
    [
        StructField("entity", StringType(), False),      # URI
        StructField("name", StringType(), False),
        StructField("norm_name", StringType(), False),
        StructField("source_kg", StringType(), False),   # 'dbpedia' | 'wikidata'
    ]
)

# One row per detected face (vision stage output).  face_idx is the
# within-frame face ordinal (reference keeps per-frame face lists
# ordered by detector output, face_recognition.py:176-192); box/
# confidence/keypoints mirror the reference's detection dict ({box,
# confidence, keypoints} at :176-192 — box = [x, y, w, h], height
# drives one_face largest-face selection at :367-371; keypoints are
# the 5 MTCNN landmarks name -> [x, y] in frame pixels, consumed by
# the affine alignment before encoding,
# facial_preprocessing.py:7-60 / operators/align.py).
FACES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("ts_ms", DoubleType(), False),
        StructField("face_idx", IntegerType(), True),    # null => empty frame marker
        StructField("box", ArrayType(FloatType()), True),  # [x, y, w, h]
        StructField("confidence", FloatType(), True),
        StructField(
            "keypoints", MapType(StringType(), ArrayType(FloatType())), True
        ),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)

# Per-frame predictions after linking (face_recognition.py:134-136).
FRAME_PREDICTIONS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("ts_ms", DoubleType(), False),
        StructField("labels", ArrayType(StringType()), False),
    ]
)

# Scene rows (graph_postprocessing.py Scene objects).
SCENES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("scene_idx", IntegerType(), False),
        StructField("entities", ArrayType(StringType()), False),  # sorted
        StructField("start_ms", DoubleType(), False),
        StructField("end_ms", DoubleType(), False),
    ]
)

# RDF vocabulary (graph.py:24-28 + north_star sdo:/hunter: aliases)
NS = {
    "rdf_type": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "mpeg7_video": "http://purl.org/ontology/mpeg7/Video",
    "video_scene": "http://purl.org/ontology/video/Scene",
    "video_scene_from": "http://purl.org/ontology/video/sceneFrom",
    "video_temporal_segment_of": "http://purl.org/ontology/video/temporalSegmentOf",
    "temporal_has_start": "http://swrl.stanford.edu/ontologies/builtins/3.3/temporal.owlhasStartTime",
    "temporal_duration": "http://swrl.stanford.edu/ontologies/builtins/3.3/temporal.owlduration",
    "temporal_has_finish": "http://swrl.stanford.edu/ontologies/builtins/3.3/temporal.owlhasFinishTime",
    "dc_identifier": "http://purl.org/dc/elements/1.1/identifier",
    "dc_title": "http://purl.org/dc/elements/1.1/title",
    "foaf_depicts": "http://xmlns.com/foaf/0.1/depicts",
    "sdo_depicts": "https://schema.org/depicts",
    "hunter_has_scene": "http://face-hunter.org/ontology/hasScene",
    "xsd_datetime": "http://www.w3.org/2001/XMLSchema#dateTime",
    "xsd_duration": "http://www.w3.org/2001/XMLSchema#duration",
}

HOME_URI = "http://face-hunter.org/resource/"
