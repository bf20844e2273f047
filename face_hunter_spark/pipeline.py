"""The end-to-end link job (the reference's ``cli.py link`` write path,
hunter.py:91-151) as one declarative Spark plan + one committed append.

    documents ──anti-join vs committed doc_ids (idempotent re-link)
        │
        ├──explode/sample──► media frames
        │                        │ mapInPandas: decode+detect+embed+match
        │                        ▼ (broadcast gallery matcher)
        │                   linked faces
        │                        │ groupBy doc (collect_list), then
        │                        ▼ mapInPandas scene kernel
        ├──video triples    scenes ──⋈ entity catalog──► scene triples
        │                                                    │
        └──[mention triples]──────── ∪ ──────────────────────┘
                                     │ + doc_bucket, run_id
                                     ▼
           canonicalize depicts (one broadcast map join) ─► PERSISTED
                                     │
                                     ▼ ∪ doc-level (doc, sdo:depicts, QID)
                                     │   rows derived from that copy
                                     ▼
         ONE snapshot append, hash-repartitioned on doc_bucket into
         defaultParallelism write tasks: one parquet file per bucket
         (wall_ms in the snapshot summary)

The Python stages run once per commit: the persisted canonicalized
rows feed both the committed rows and the doc-level rows
(:func:`canonicalized_once`), and the cache is released when the
commit finishes.

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
from contextlib import contextmanager
from typing import Callable, Iterator

import pyspark.sql.functions as F
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

from .catalog import ParquetCatalog
from .operators import linking, scenes, spans, triples as T
from .schemas import NS


#: Default gallery broadcast budget, in ROWS.  A 512-d float32
#: embedding row is ~2.2 KB driver/executor-side, so 500k rows is a
#: ~1 GB broadcast — comfortably inside one executor, far under
#: Spark's 8 GB broadcast hard cap, and already 5-50x the reference's
#: whole-gallery scale.  Above it the driver .toPandas() collect and
#: the per-executor replica both stop being sane, so a Spark gallery
#: that large links through the shuffle-side ``linking.link_lsh``
#: instead, without any driver materialization.
GALLERY_BROADCAST_BUDGET_ROWS = 500_000


def _route_gallery(gallery, budget_rows: int):
    """Size-based gallery routing: ``(gallery_pdf, gallery_df)`` with
    exactly one of them set.

    ``gallery`` may be the classic pandas frame (the reference's
    labels/embeddings pickles fit trivially) or a Spark DataFrame
    (catalog-backed galleries of any size).  A Spark gallery is
    COUNTED (one cheap dim-scan job) before anything is collected: at
    or under ``budget_rows`` it collects to the ordered pandas frame
    the broadcast matchers consume; over budget it stays a DataFrame
    for the shuffle-side join and never touches the driver."""
    if not isinstance(gallery, DataFrame):
        return gallery, None
    if gallery.count() > budget_rows:
        return None, gallery
    pdf = (
        gallery.select("gallery_id", "label", "entity_uri", "embedding")
        .orderBy("gallery_id")
        .toPandas()
    )
    return pdf, None


def link_documents(
    documents: DataFrame, gallery_pdf, entity_catalog: DataFrame, **kwargs
) -> DataFrame:
    """documents -> un-partitioned triples DataFrame (pure transform).

    ``strategy`` names a broadcast matcher (``linking.MATCHERS``);
    anything else raises ``ValueError`` before any work.  ``one_face``
    links only the largest detected face per frame (the reference's
    one_face mode, face_recognition.py:367-371); ``encoder`` names a
    registered production encoder (vision.register_encoder), default
    the deterministic test encoder; ``mention_labels`` (a (label, uri)
    dim table) additionally links entity labels in the TEXT spans and
    unions (doc, sdo:mentions, entity) triples into the output
    (operators/mentions.py) — the interleaved corpus's text side, off
    by default for reference parity.

    ``gallery_pdf`` also accepts a Spark DataFrame: galleries at or
    under ``broadcast_budget_rows`` collect to the ordered pandas
    frame the broadcast matcher needs; larger ones link through the
    shuffle-side ``linking.link_lsh`` whatever ``strategy`` names, so
    the gallery NEVER materializes on the driver or inside an executor
    replica — the 10^8-face-gallery path.

    Keyword arguments and defaults are :func:`_link_plan`'s.  The
    gallery broadcast stays alive, since the result is lazy; the
    committing jobs (:func:`run_link_job`, ``enrich.run_relink_job``)
    release theirs when the commit ends."""
    return _link_plan(documents, gallery_pdf, entity_catalog, **kwargs)[0]


def _link_plan(
    documents: DataFrame,
    gallery_pdf,
    entity_catalog: DataFrame,
    distance_threshold: float = 0.6,
    frame_threshold: int = 3,
    n_entities: int = 54,
    strategy: str = "bruteforce",
    one_face: bool = False,
    encoder: str = "hash",
    mention_labels: DataFrame | None = None,
    index_catalog=None,
    broadcast_budget_rows: int = GALLERY_BROADCAST_BUDGET_ROWS,
) -> tuple[DataFrame, Broadcast | None]:
    """:func:`link_documents` and the gallery broadcast its plan reads
    (None on the shuffle-side route)."""
    from .operators import vision
    from .operators.util import ensure_parallelism

    if strategy not in linking.MATCHERS:
        raise ValueError(
            f"unknown strategy {strategy!r}; expected one of "
            f"{sorted(linking.MATCHERS)}"
        )
    gallery_pdf, gallery_df = _route_gallery(
        gallery_pdf, broadcast_budget_rows
    )

    # fan the frame rows out BEFORE the Python stage: a narrow parquet
    # scan otherwise pins the decode/embed UDF to 1-2 tasks
    media = ensure_parallelism(
        spans.media_frames(documents), by="doc_id"
    )
    if gallery_df is not None:
        # over-budget gallery: the shuffle-side LSH join
        faces = vision.detect_embed_faces(
            media, n_entities=n_entities, one_face=one_face,
            encoder=encoder,
        )
        linked = linking.link_lsh(faces, gallery_df, distance_threshold)
        gallery_bc = None
    else:
        # broadcast-gallery matcher (linking.MATCHERS): the payload is
        # built once on the driver side — or served from
        # ``index_catalog`` by gallery content hash — broadcast, and
        # matched inside the fused decode+embed stage (embeddings never
        # cross Arrow)
        payload, _ = linking.gallery_payload(
            strategy, linking._gallery_arrays(gallery_pdf), index_catalog
        )
        gallery_bc = SparkSession.getActiveSession().sparkContext.broadcast(
            payload)
        linked = vision.detect_embed_link(
            media, gallery_bc, distance_threshold, n_entities=n_entities,
            matcher=strategy, one_face=one_face, encoder=encoder,
        )
    # frame assembly + scene smoothing in ONE doc_id shuffle
    scn = scenes.extract_scenes_from_faces(linked, frame_threshold=frame_threshold)
    out = T.video_triples(documents).unionByName(
        T.scene_triples(scn, entity_catalog)
    )
    if mention_labels is not None:
        from .operators.mentions import link_text_mentions, mention_triples

        out = out.unionByName(
            mention_triples(link_text_mentions(documents, mention_labels))
        )
    return out, gallery_bc


def _canonical_rows(
    new_triples: DataFrame,
    entity_catalog: DataFrame,
    canon: DataFrame | None,
) -> DataFrame:
    from .operators.canonical import canonical_map, canonicalize_depicts

    return canonicalize_depicts(
        new_triples,
        canon if canon is not None else canonical_map(entity_catalog),
    )


def _with_doc_depicts(rows: DataFrame) -> DataFrame:
    """``rows`` plus the doc-level (doc, sdo:depicts, QID) rows derived
    from its foaf:depicts rows, distinct per (doc, entity)."""
    doc_depicts = (
        rows.where(F.col("pred") == NS["foaf_depicts"])
        .select(
            F.split(F.col("subj"), "#t=").getItem(0).alias("subj"),
            F.lit(NS["sdo_depicts"]).alias("pred"),
            F.col("obj_canonical").alias("obj"),
            *[c for c in rows.columns if c not in ("subj", "pred", "obj")],
        )
        .withColumn("obj_canonical", F.col("obj"))
        .dropDuplicates(["subj", "obj"])
    )
    return rows.unionByName(doc_depicts)


def canonicalized_triples(
    new_triples: DataFrame,
    entity_catalog: DataFrame,
    canon: DataFrame | None = None,
) -> DataFrame:
    """north_rule materialization shape of the link and relink jobs:
    depicts rows gain obj_canonical (QID via connected components over
    catalog same-as edges) and the doc-level (doc, sdo:depicts, QID)
    rows are unioned in, distinct per (doc, entity).

    The result reads the canonicalized rows twice (as themselves and
    as the doc-level rows' source), so an input that is not
    materialized is evaluated twice; the jobs commit through
    :func:`canonicalized_once`, which persists them."""
    return _with_doc_depicts(
        _canonical_rows(new_triples, entity_catalog, canon)
    )


@contextmanager
def canonicalized_once(
    new_triples: DataFrame,
    entity_catalog: DataFrame,
    canon: DataFrame | None = None,
) -> Iterator[DataFrame]:
    """:func:`canonicalized_triples` whose canonicalized rows are
    persisted, so the doc-level rows derive from that copy and one
    commit evaluates the link lineage (and its Python stages) once.
    The copy is released on exit.  Persisted, not localCheckpoint()ed:
    cached blocks lost with an executor are recomputed from lineage."""
    rows = _canonical_rows(new_triples, entity_catalog, canon).persist()
    try:
        yield _with_doc_depicts(rows)
    finally:
        rows.unpersist()


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

    def new_docs(docs: DataFrame) -> DataFrame:
        if not catalog.exists("triples"):
            return docs
        existing = (
            catalog.read(spark, "triples")
            .where(F.col("pred") == NS["rdf_type"])
            .where(F.col("obj") == NS["mpeg7_video"])
            .select("doc_id")
            .distinct()
        )
        return docs.join(existing, "doc_id", "left_anti")

    return _link_and_commit(
        catalog, documents, gallery_pdf, entity_catalog, run_id, canon,
        kwargs, new_docs=new_docs, new_rows=lambda rows: rows,
    )


def _link_and_commit(
    catalog: ParquetCatalog,
    documents: DataFrame,
    gallery,
    entity_catalog: DataFrame,
    run_id: str | None,
    canon: DataFrame | None,
    link_kwargs: dict,
    *,
    new_docs: Callable[[DataFrame], DataFrame],
    new_rows: Callable[[DataFrame], DataFrame],
) -> dict:
    """The run body the link and relink jobs share: link
    ``new_docs(documents)`` against ``gallery``, canonicalize once and
    commit ``new_rows`` of the result as ONE snapshot (:func:`commit_run`).
    The link job skips committed docs before linking; the relink job
    links every doc and keeps only the rows not yet committed.

    ``link_kwargs`` go to :func:`link_documents`; ``cache_index=True``
    in them persists/reuses ANN payloads (hnsw, lsh) through THIS
    catalog, keyed by gallery content hash.  The gallery broadcast is
    destroyed when the commit ends, whether it succeeded or raised, so
    a handle that links many times (a stream of micro-batches) holds
    at most one."""
    t_start = time.monotonic()
    run_id = run_id or uuid.uuid4().hex[:12]
    if link_kwargs.pop("cache_index", False):
        link_kwargs.setdefault("index_catalog", catalog)

    linked, gallery_bc = _link_plan(
        new_docs(documents), gallery, entity_catalog, **link_kwargs
    )
    try:
        # north_rule: mentions canonicalize to QIDs IN the materialized
        # table (obj_canonical next to the DBpedia-preferred obj) + the
        # doc-level (doc, sdo:depicts, QID) rows.  canon is recomputable
        # from the catalog but involves an iterative CC loop; the facade
        # (and the stream and job that link through it) pass its cached
        # map.
        with canonicalized_once(
            T.with_partitioning(linked, run_id), entity_catalog, canon
        ) as rows:
            return commit_run(catalog, new_rows(rows), run_id, t_start)
    finally:
        if gallery_bc is not None:
            gallery_bc.destroy()


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
