"""The end-to-end link job (the reference's ``cli.py link`` write path,
hunter.py:91-151) as one declarative Spark plan + one committed append.

    documents ──explode/sample──► media frames
        │                             │ mapInPandas (decode+detect+embed)
        │                             ▼
        │                        faces ──link (broadcast kNN)──► labels
        │                             │ groupBy frame (ordered collect)
        │                             ▼
        │                    frame predictions
        │                             │ applyInPandas per doc
        │                             ▼
        ├──video triples         scenes ──⋈ entity catalog──► triples
        ▼                                                        │
    anti-join vs existing triples (idempotent re-link) ──────────┤
                                                                 ▼
                 ONE bucketed snapshot append (wall_ms in its summary)

Checkpoint/resume: a run is one catalog commit.  A rerun anti-joins
incoming doc_ids against the committed triples table (the reference's
``video_exists`` guard, hunter.py:141, turned into a set-at-a-time
operator) and processes only new docs.  Lineage, run metrics and
entity counts are derived reads over the committed rows —
:func:`run_lineage`, :func:`run_metrics` and
``operators.skew.entity_mention_counts`` — not tables of their own, so
they cannot fall out of step with the triples.
"""

from __future__ import annotations

import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .catalog import ParquetCatalog
from .operators import linking, scenes, spans, triples as T
from .schemas import NS


#: Default gallery broadcast budget, in ROWS.  A 512-d float32
#: embedding row is ~2.2 KB driver/executor-side, so 500k rows is a
#: ~1 GB broadcast — comfortably inside one executor, far under
#: Spark's 8 GB broadcast hard cap, and already 5-50x the reference's
#: whole-gallery scale.  Above it the driver .toPandas() collect and
#: the per-executor replica both stop being sane, so linking routes to
#: the bucketed shuffle join instead (strategy='lsh_shuffle',
#: broadcast_gallery=False) without any driver materialization.
GALLERY_BROADCAST_BUDGET_ROWS = 500_000


def _route_gallery(gallery, strategy: str, budget_rows: int):
    """Gallery input normalization + size-based strategy routing.

    ``gallery`` may be the classic pandas frame (the reference's
    labels/embeddings pickles fit trivially) or a Spark DataFrame
    (catalog-backed galleries of any size).  A Spark gallery is
    COUNTED (one cheap dim-scan job) before anything is collected:
    at or under ``budget_rows`` it collects to the ordered pandas
    frame the broadcast strategies consume; over budget the strategy
    is overridden to the shuffle join and the gallery never touches
    the driver.  Returns (strategy, gallery_pdf, gallery_df,
    broadcast_gallery)."""
    if not isinstance(gallery, DataFrame):
        if strategy == "lsh_shuffle":
            # pandas gallery + explicit shuffle strategy (facade/CLI):
            # lift it to a DataFrame; small by definition, so the
            # broadcast hint stays on
            from pyspark.sql import SparkSession

            from .schemas import GALLERY

            spark = SparkSession.getActiveSession()
            cols = [f.name for f in GALLERY.fields]
            return strategy, None, spark.createDataFrame(
                gallery[cols], GALLERY
            ), True
        return strategy, gallery, None, True
    if strategy == "lsh_shuffle":
        return strategy, None, gallery, True
    n = gallery.count()
    if n > budget_rows:
        return "lsh_shuffle", None, gallery, False
    pdf = (
        gallery.select("gallery_id", "label", "entity_uri", "embedding")
        .orderBy("gallery_id")
        .toPandas()
    )
    return strategy, pdf, None, True


def link_documents(
    documents: DataFrame,
    gallery_pdf,
    entity_catalog: DataFrame,
    distance_threshold: float = 0.6,
    frame_threshold: int = 3,
    sample_every: int = 1,
    n_entities: int = 54,
    strategy: str = "bruteforce",
    gallery_df: DataFrame | None = None,
    one_face: bool = False,
    encoder: str = "hash",
    mention_labels: DataFrame | None = None,
    index_catalog=None,
    index_table: str = "ann_index",
    broadcast_budget_rows: int = GALLERY_BROADCAST_BUDGET_ROWS,
) -> DataFrame:
    """documents -> un-partitioned triples DataFrame (pure transform).

    ``one_face`` links only the largest detected face per frame (the
    reference's one_face mode, face_recognition.py:367-371); ``encoder``
    names a registered production encoder (vision.register_encoder),
    default the deterministic test encoder; ``mention_labels`` (a
    (label, uri) dim table) additionally links entity labels in the
    TEXT spans and unions (doc, sdo:mentions, entity) triples into the
    output (operators/mentions.py) — the interleaved corpus's text
    side, off by default for reference parity.

    ``gallery_pdf`` also accepts a Spark DataFrame: galleries at or
    under ``broadcast_budget_rows`` collect to the ordered pandas
    frame the broadcast strategies need; larger ones auto-route to the
    bucketed shuffle join (``strategy='lsh_shuffle'`` with no broadcast
    hint) so the gallery NEVER materializes on the driver or inside an
    executor replica — the 10^8-face-gallery path."""
    from .operators import vision
    from .operators.util import ensure_parallelism

    if strategy == "lsh_shuffle" and gallery_df is not None:
        # explicit classic API: caller supplied the shuffle-side frame
        bc_gal = True
    else:
        strategy, gallery_pdf, routed_df, bc_gal = _route_gallery(
            gallery_pdf, strategy, broadcast_budget_rows
        )
        if routed_df is not None:
            gallery_df = routed_df

    # fan the frame rows out BEFORE the Python stage: a narrow parquet
    # scan otherwise pins the decode/embed UDF to 1-2 tasks
    media = ensure_parallelism(
        spans.media_frames(documents, sample_every=sample_every), by="doc_id"
    )
    if strategy == "lsh_shuffle":
        # relational candidate join — the beyond-broadcast-gallery form
        assert gallery_df is not None
        faces = vision.detect_embed_faces(
            media, n_entities=n_entities, one_face=one_face,
            encoder=encoder,
        )
        linked = linking.link_lsh(
            faces, gallery_df, distance_threshold,
            broadcast_gallery=bc_gal,
        )
    else:
        # broadcast-gallery matcher (linking.MATCHERS): the payload is
        # built once on the driver side — or served from
        # ``index_catalog`` by gallery content hash — broadcast, and
        # matched inside the fused decode+embed stage (embeddings never
        # cross Arrow)
        payload, _ = linking.gallery_payload(
            strategy, linking._gallery_arrays(gallery_pdf), index_catalog,
            table=index_table,
        )
        linked = vision.detect_embed_link(
            media, SparkSession.getActiveSession().sparkContext.broadcast(
                payload),
            distance_threshold, n_entities=n_entities, matcher=strategy,
            one_face=one_face, encoder=encoder,
        )
    # fused path: frame assembly + scene smoothing in ONE doc_id
    # shuffle (equivalent to assemble_frame_predictions |>
    # extract_scenes — parity-tested)
    scn = scenes.extract_scenes_from_faces(linked, frame_threshold=frame_threshold)
    out = T.video_triples(documents).unionByName(
        T.scene_triples(scn, entity_catalog)
    )
    if mention_labels is not None:
        from .operators.mentions import link_text_mentions, mention_triples

        out = out.unionByName(
            mention_triples(link_text_mentions(documents, mention_labels))
        )
    return out


def canonicalized_triples(
    new_triples: DataFrame,
    entity_catalog: DataFrame,
    canon: DataFrame | None = None,
) -> DataFrame:
    """north_rule materialization shape, shared by the link and relink
    jobs: depicts rows gain obj_canonical (QID via connected components
    over catalog same-as edges) and the doc-level
    (doc, sdo:depicts, QID) rows are unioned in, distinct per
    (doc, entity)."""
    from .operators.canonical import canonical_map, canonicalize_depicts

    new_triples = canonicalize_depicts(
        new_triples,
        canon if canon is not None else canonical_map(entity_catalog),
    )
    doc_depicts = (
        new_triples.where(F.col("pred") == NS["foaf_depicts"])
        .select(
            F.split(F.col("subj"), "#t=").getItem(0).alias("subj"),
            F.lit(NS["sdo_depicts"]).alias("pred"),
            F.col("obj_canonical").alias("obj"),
            *[c for c in new_triples.columns
              if c not in ("subj", "pred", "obj")],
        )
        .withColumn("obj_canonical", F.col("obj"))
        .dropDuplicates(["subj", "obj"])
    )
    return new_triples.unionByName(doc_depicts)


def run_link_job(
    spark: SparkSession,
    catalog: ParquetCatalog,
    documents: DataFrame,
    gallery_pdf,
    entity_catalog: DataFrame,
    run_id: str | None = None,
    canon: DataFrame | None = None,
    **kwargs,
) -> dict:
    """Idempotent link job: skips docs already in the triple table and
    commits the rest as ONE snapshot (see :func:`commit_run`).
    Returns stats."""
    t_start = time.monotonic()
    run_id = run_id or uuid.uuid4().hex[:12]

    # cache_index=True persists/reuses ANN payloads (hnsw, lsh)
    # through THIS catalog, keyed by gallery content hash
    if kwargs.pop("cache_index", False):
        kwargs.setdefault("index_catalog", catalog)

    if catalog.exists("triples"):
        existing = (
            catalog.read(spark, "triples")
            .where(F.col("pred") == NS["rdf_type"])
            .where(F.col("obj") == NS["mpeg7_video"])
            .select("doc_id")
            .distinct()
        )
        documents = documents.join(existing, "doc_id", "left_anti")

    # north_rule: mentions canonicalize to QIDs IN the materialized
    # table (obj_canonical next to the DBpedia-preferred obj) + the
    # doc-level (doc, sdo:depicts, QID) rows.  canon is recomputable
    # from the catalog but involves an iterative CC loop; repeated
    # callers (facade, streaming foreachBatch) pass their cached map.
    new_triples = canonicalized_triples(
        T.with_partitioning(
            link_documents(documents, gallery_pdf, entity_catalog, **kwargs),
            run_id,
        ),
        entity_catalog,
        canon,
    )
    return commit_run(catalog, new_triples, run_id, t_start)


def commit_run(
    catalog: ParquetCatalog, triples: DataFrame, run_id: str, t_start: float
) -> dict:
    """A link or relink run's ONE catalog commit: ``triples`` is
    persisted, counted once and appended as a doc_bucket-partitioned
    snapshot.  ``wall_ms`` (time since ``t_start`` up to the commit) is
    the one run metric the rows cannot carry, so it rides in that
    snapshot's summary; lineage and the other metrics are read back
    from the rows (:func:`run_lineage`, :func:`run_metrics`).  There is
    no second commit to lose, so a crash leaves either the whole run or
    none of it.  An empty run commits nothing."""
    triples = triples.persist()
    try:
        n_rows, n_docs = triples.agg(
            F.count(F.lit(1)), F.countDistinct("doc_id")
        ).first()
        snap = None
        if n_rows:
            snap = catalog.append(
                "triples", triples, run_id, partition_by=["doc_bucket"],
                summary={"wall_ms": int((time.monotonic() - t_start) * 1000)},
            )
        return {"run_id": run_id, "n_triples": n_rows, "n_docs": n_docs,
                "snapshot": snap}
    finally:
        triples.unpersist()


def run_lineage(triples: DataFrame) -> DataFrame:
    """Per-run, per-bucket lineage of a triples table: (run_id,
    doc_bucket, n_docs, n_triples).  Every committed row carries its
    run_id and doc_bucket, so this is an aggregate, not a second table
    that could drift from the triples."""
    return triples.groupBy("run_id", "doc_bucket").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_triples"),
    )


def run_metrics(spark: SparkSession, catalog: ParquetCatalog) -> DataFrame:
    """One row per committed run: (run_id, n_docs, n_triples, n_scenes,
    n_entities_linked, wall_ms).  The counts aggregate the committed
    triples; ``wall_ms`` comes from the run's snapshot summary.  Runs
    folded by ``compact()`` (or replaced by an ``overwrite``) lose
    their snapshot entries — Iceberg's expire_snapshots behaviour — so
    their ``wall_ms`` reads null while their counts survive."""
    wall: dict[str, int] = {}
    for s in catalog.snapshots("triples"):
        ms = s.get("summary", {}).get("wall_ms")
        if ms is not None:
            wall[s["run_id"]] = wall.get(s["run_id"], 0) + int(ms)
    counts = catalog.read(spark, "triples").groupBy("run_id").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct(
            F.when(F.col("pred") == NS["video_scene_from"], F.col("subj"))
        ).alias("n_scenes"),
        F.countDistinct(
            F.when(F.col("pred") == NS["foaf_depicts"], F.col("obj"))
        ).alias("n_entities_linked"),
    )
    return counts.join(
        spark.createDataFrame(list(wall.items()),
                              "run_id string, wall_ms long"),
        "run_id", "left",
    )
