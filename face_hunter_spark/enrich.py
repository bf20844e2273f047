"""Gallery enrichment + re-link — the batch analogue of the
reference's biggest accuracy lever (README.rst:36-40: 0.603 -> 0.85 by
appending scraped thumbnails to the gallery).

Reference dataflow (enrich_with_photos.py:103-180): per entity, fetch
candidate photos -> keep only those where the detector finds EXACTLY
one face -> embed that face -> extend the labels/embeddings pickles.
The scraper itself is out of scope (network); everything downstream is
implemented here, Spark-first:

* the gallery lives as a catalog table (``gallery``) with per-thumbnail
  provenance (``thumb_ref``), seeded once and appended to by enrichment
  runs — committed snapshots, so the gallery itself has time travel;
* candidate validation (single-face check + embed) runs distributed in
  ONE mapInPandas stage over the candidate set — at enrichment scale
  (millions of scraped photos) this is the expensive step, and it never
  touches the driver;
* appends are idempotent on ``thumb_ref`` (re-running an enrichment
  batch adds nothing);
* ``run_relink_job`` re-runs the link pipeline with the enriched
  gallery and appends only the DELTA triples (anti-join on the full
  triple identity against the committed table) — a doc whose 'unknown'
  face is now linkable gains exactly its new rows; unchanged docs add
  nothing, so the job is idempotent by construction.  Because payloads
  are keyed by gallery content hash (index_store), an enriched gallery
  automatically invalidates cached ANN indexes.

At 100 TB the relink input should be pre-filtered (a doc-bucket range,
an unknown-rate watermark, or the docs touched since a snapshot via
``catalog.read_incremental``) — the delta anti-join makes any
over-selection harmless, just wasted compute, mirroring how the
reference simply re-runs linking after enrichment.
"""

from __future__ import annotations

import uuid
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, FloatType, LongType, StringType, StructField, StructType,
)

from . import fakevision as fv
from .catalog import ParquetCatalog
from .pipeline import _link_and_commit

GALLERY_TABLE = "gallery"

# stored gallery schema: GALLERY (schemas.py) + per-thumbnail
# provenance.  Explicit on BOTH append paths — inferred pandas types
# (float64 embeddings) must never mix with the float32 contract across
# snapshots of one table.
GALLERY_STORED = StructType([
    StructField("gallery_id", LongType(), False),
    StructField("label", StringType(), False),
    StructField("entity_uri", StringType(), True),
    StructField("embedding", ArrayType(FloatType()), False),
    StructField("thumb_ref", StringType(), False),
])

CANDIDATES = StructType([
    StructField("label", StringType(), False),
    StructField("entity_uri", StringType(), True),
    StructField("media_ref", StringType(), False),  # thumb://{label}/{idx}
])

_VALIDATED = StructType([
    StructField("label", StringType(), False),
    StructField("entity_uri", StringType(), True),
    StructField("thumb_ref", StringType(), False),
    StructField("embedding", ArrayType(FloatType()), False),
])


def save_gallery(
    spark: SparkSession, catalog: ParquetCatalog, gallery_pdf: pd.DataFrame,
    run_id: str | None = None,
) -> str:
    """Seed the catalog's gallery table from the bootstrap gallery
    (the reference's labels/embeddings pickle pair).  Seed rows carry
    thumb_ref 'seed://{gallery_id}' so later enrichment appends stay
    idempotent against them too."""
    run_id = run_id or uuid.uuid4().hex[:12]
    pdf = gallery_pdf.copy()
    pdf["thumb_ref"] = ["seed://%d" % g for g in pdf["gallery_id"]]
    df = spark.createDataFrame(
        pdf[[f.name for f in GALLERY_STORED.fields]], GALLERY_STORED
    )
    return catalog.append(GALLERY_TABLE, df, run_id)


def load_gallery_df(spark: SparkSession, catalog: ParquetCatalog) -> DataFrame:
    """Committed gallery as a Spark DataFrame — NO driver
    materialization.  The scale-safe handle: pipeline.link_documents
    accepts it directly, counts it once, and either collects it (at or
    under the broadcast budget) or routes linking through the bucketed
    shuffle join, so a 10^8-row gallery never has to fit on the driver
    or in an executor replica."""
    return catalog.read(spark, GALLERY_TABLE).select(
        "gallery_id", "label", "entity_uri", "embedding"
    )


def validate_candidates(
    candidates: DataFrame, encoder: str = "hash"
) -> DataFrame:
    """Single-face check + embed, distributed: one mapInPandas stage.

    Mirrors enrich_with_photos.py:118-151 (detect; skip unless exactly
    one face; embed the face) batch-wise.  ``encoder`` names a
    registered production encoder (the same seam the vision stage
    uses, vision.register_encoder) — with it, kept candidates decode
    to raw crops, get keypoint-aligned, and run through encode_batch;
    the default hash path emits the deterministic fake embedding."""
    from .operators.vision import _encoder_instance, _resolve_encoder

    factory = _resolve_encoder(encoder)  # loud driver-side error

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = (None if factory is None
               else _encoder_instance(encoder, factory))
        for pdf in batches:
            keep_rows = []
            for label, uri, ref in zip(
                pdf["label"], pdf["entity_uri"], pdf["media_ref"]
            ):
                lab, idx = fv.parse_thumb_ref(ref)
                if fv.thumb_face_count(lab, idx) != 1:
                    continue  # reference skips 0- and multi-face photos
                keep_rows.append((label, uri, ref, lab, idx))
            if not keep_rows:
                continue
            if enc is None:
                embs = [
                    fv.gallery_embedding(lab, idx).tolist()
                    for _, _, _, lab, idx in keep_rows
                ]
            else:
                from .operators.vision import _encode_with

                seeds = np.array(
                    [fv.thumb_seed(lab, idx)
                     for _, _, _, lab, idx in keep_rows],
                    dtype=np.uint64,
                )
                embs = [v.tolist() for v in _encode_with(enc, seeds)]
            yield pd.DataFrame({
                "label": [r[0] for r in keep_rows],
                "entity_uri": [r[1] for r in keep_rows],
                "thumb_ref": [r[2] for r in keep_rows],
                "embedding": embs,
            })

    return candidates.mapInPandas(fn, schema=_VALIDATED)


def run_enrich_job(
    spark: SparkSession,
    catalog: ParquetCatalog,
    candidates: DataFrame,
    encoder: str = "hash",
    run_id: str | None = None,
) -> dict:
    """Validate candidate thumbnails and append the new ones to the
    gallery table.  Idempotent on thumb_ref; returns stats.  A non-zero
    append changes the gallery content hash, so cached ANN payloads
    (index_store) rebuild on the next link automatically."""
    run_id = run_id or uuid.uuid4().hex[:12]
    validated = validate_candidates(candidates, encoder=encoder).persist()
    try:
        n_valid = validated.count()
        fresh = validated
        if catalog.exists(GALLERY_TABLE):
            existing = catalog.read(spark, GALLERY_TABLE).select("thumb_ref")
            fresh = validated.join(existing, "thumb_ref", "left_anti")
        # content-derived stable id, disjoint from the small seed ids;
        # ties in the kNN argmin then resolve identically on every rerun
        new_rows = fresh.select(
            F.xxhash64("thumb_ref").bitwiseOR(F.lit(1 << 40))
            .alias("gallery_id"),
            "label", "entity_uri", "embedding", "thumb_ref",
        )
        n_new = new_rows.count()
        snap = catalog.append(GALLERY_TABLE, new_rows, run_id) if n_new else None
        return {
            "run_id": run_id,
            "n_valid": n_valid,
            "n_new_thumbs": n_new,
            "snapshot": snap,
        }
    finally:
        validated.unpersist()


def run_relink_job(
    spark: SparkSession,
    catalog: ParquetCatalog,
    documents: DataFrame,
    entity_catalog: DataFrame,
    run_id: str | None = None,
    canon: DataFrame | None = None,
    **kwargs,
) -> dict:
    """Re-link ``documents`` against the (enriched) catalog gallery and
    append only the triples that are NOT already committed.

    The delta anti-join on (doc_id, subj, pred, obj) is what makes a
    gallery append flip a previously-'unknown' doc to linked WITHOUT
    duplicating its unchanged triples: video/type rows and untouched
    scenes already exist and drop out; new depicts/doc-depicts (and any
    re-segmented scenes) survive.  Re-running with no gallery change
    appends nothing.  Superseded scene rows from before the enrichment
    stay in the append-only store — the same accumulation the reference
    exhibits when it re-runs linking over an extended gallery.  Like
    the link job, a non-empty relink is ONE commit (pipeline.commit_run);
    its lineage and metrics are pipeline.run_lineage / run_metrics."""

    def new_rows(rows: DataFrame) -> DataFrame:
        if not catalog.exists("triples"):
            return rows
        committed = catalog.read(spark, "triples").select(
            "doc_id", "subj", "pred", "obj"
        )
        return rows.join(
            committed, ["doc_id", "subj", "pred", "obj"], "left_anti"
        )

    # DataFrame handle: link_documents collects it only while it fits
    # the broadcast budget; an over-budget (post-enrichment) gallery
    # routes to the shuffle join with zero driver materialization
    return _link_and_commit(
        catalog, documents, load_gallery_df(spark, catalog), entity_catalog,
        run_id, canon, kwargs, new_docs=lambda docs: docs, new_rows=new_rows,
    )
