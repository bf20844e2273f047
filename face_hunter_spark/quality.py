"""KG quality gate: SHACL-lite validation + VoID statistics as a
catalog-committed job (jobs/validate_job.py is the spark-submit CLI).

The reference accepts any tuple into its store unchecked
(memory_store.py:48-54); a production KG pipeline needs the opposite:
every commit auditable against the intended vocabulary, with the
violation report and dataset statistics persisted NEXT TO the triples
(keyed by run_id, like the link job's snapshots).  A
conformant run appends an EMPTY report snapshot — the audit trail
records that the gate ran, not only that it failed.

Scale shape: validation is per-shape predicate-sliced scans + hash
joins (see operators/shacl.py); stats are one grouped pass
(operators/void_stats.py); with ``after=<snapshot>`` the gate reads
only the commit delta (read_incremental), so the steady-state cost is
proportional to the new data, not the table.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators import void_stats
from .operators.shacl import validate
from .schemas import NS

__all__ = ["default_shapes", "run_validate_job"]


def default_shapes(ns: dict | None = None) -> list[dict]:
    """The pipeline's intended vocabulary as shapes: every hasScene
    object is a typed Scene, every sceneFrom object a typed Video,
    every Scene has a video, every depicts object is a URI, at most
    one title per node."""
    n = ns or NS
    return [
        {"id": "scene-typed", "kind": "range",
         "pred": n["hunter_has_scene"], "cls": n["video_scene"]},
        {"id": "scenefrom-video", "kind": "range",
         "pred": n["video_scene_from"], "cls": n["mpeg7_video"]},
        {"id": "scene-has-video", "kind": "min_count",
         "pred": n["video_scene_from"], "cls": n["video_scene"], "n": 1},
        {"id": "depicts-uri", "kind": "pattern",
         "pred": n["sdo_depicts"], "pattern": "http%"},
        {"id": "one-title", "kind": "max_count",
         "pred": n["dc_title"], "n": 1},
    ]


def _void_table(tri: DataFrame) -> DataFrame:
    """Property partitions + class partitions in one schema-stable
    frame (class rows carry NULL pred/n_subjects/n_objects)."""
    return void_stats.predicate_partitions(tri).withColumn(
        "cls", F.lit(None).cast("string")
    ).unionByName(
        void_stats.class_partitions(tri).select(
            F.lit(None).cast("string").alias("pred"),
            F.col("n_instances").alias("n_triples"),
            F.lit(None).cast("long").alias("n_subjects"),
            F.lit(None).cast("long").alias("n_objects"),
            "cls",
        )
    )


def run_validate_job(
    spark: SparkSession,
    catalog,
    table: str = "triples",
    shapes: list[dict] | None = None,
    after: str | None = None,
    run_id: str | None = None,
    commit: bool = True,
) -> dict:
    """Validate the table (or its post-``after`` delta) against
    ``shapes`` (default: :func:`default_shapes`), append the violation
    report to ``<table>_quality_report`` and the VoID stats to
    ``<table>_void_stats``, and return the stats dict."""
    run_id = run_id or uuid.uuid4().hex[:12]
    if after:
        tri = catalog.read_incremental(spark, table, after=after)
    else:
        tri = catalog.read(spark, table)
    tri = tri.select("subj", "pred", "obj")
    shapes = shapes if shapes is not None else default_shapes()

    report = validate(tri, shapes).persist()
    by_shape = {
        r["shape_id"]: r["n"]
        for r in report.groupBy("shape_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_violations = sum(by_shape.values())
    summary_row = void_stats.summary(tri).collect()[0]
    if commit:
        catalog.append(f"{table}_quality_report", report, run_id=run_id)
        catalog.append(f"{table}_void_stats", _void_table(tri),
                       run_id=run_id)
    report.unpersist()
    return {
        "run_id": run_id,
        "table": table,
        "incremental_after": after,
        "n_shapes": len(shapes),
        "n_violations": n_violations,
        "violations_by_shape": by_shape,
        "conformant": n_violations == 0,
        "void": {
            "n_triples": summary_row["n_triples"],
            "n_subjects": summary_row["n_subjects"],
            "n_predicates": summary_row["n_predicates"],
            "n_objects": summary_row["n_objects"],
        },
    }
