"""Traced execution: spans around calls into each engine module, a
Spark job group per module, and engine counters read back from the
Spark event log.

The engine itself is not instrumented.  ``staged_link`` is
``pipeline.run_link_job`` split into its module calls, persisting and
counting between them so each module's work runs inside its own span
and job group; ``traced_sparql`` splits ``SparkHunter.sparql`` the
same way.  Spans stay in memory and are written once at the end of
the run.

Two departures from a one-to-one module split, both deliberate:

* The fused decode+embed+match kernel (``vision.detect_embed_link``)
  is what the link path runs; ``vision.detect_embed_faces`` is a
  separate per-face kernel the path never calls.  The ``vision`` span
  therefore runs the fused kernel against a one-vector gallery, and
  ``linking.match_ms`` is the fused kernel against the real gallery
  minus that.  The Python workers start before the link (the
  ``session.workers`` span), so neither span pays for that; the
  vision span still runs first, so ``match_ms`` errs low, and the
  traced link is spared the worker start-up the untraced one pays.
* ``pipeline`` is the root span of a link; its self time is what
  ``run_link_job`` does besides its children (persist/count, lineage
  and metrics aggregation).
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

import pyspark.sql.functions as F

from face_hunter_spark import query as Q
from face_hunter_spark.operators import linking, scenes, spans, vision
from face_hunter_spark.operators import triples as T
from face_hunter_spark.operators.skew import entity_mention_counts
from face_hunter_spark.operators.sparql import execute, parse
from face_hunter_spark.operators.util import ensure_parallelism
from face_hunter_spark.pipeline import canonicalized_triples
from face_hunter_spark.schemas import NS
from face_hunter_spark.serve import _rows

#: modules whose jobs carry a job group of the same name
LAYERS = ("spans", "vision", "linking", "scenes", "triples", "canonical",
          "pipeline", "skew", "catalog", "query", "sparql")
ENGINE_COUNTERS = ("tasks", "executor_run_ms", "shuffle_read_bytes",
                   "shuffle_write_bytes", "spill_bytes", "task_skew")


class Tracer:
    """In-memory spans.  Entering a span sets the Spark job group to
    its layer; leaving restores the enclosing span's group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        rec = {"layer": layer, "name": name or layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(layer, rec["name"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                up = self._stack[-1]
                self.sc.setJobGroup(up["layer"], up["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_ms(self) -> dict[str, float]:
        """Self time per span name: each span's duration minus the time
        its child spans cover, summed by name."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"] - child.get(s["id"], 0.0)) * 1e3
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                       for s in self.spans], f, indent=1)


def _materialize(df):
    df = df.persist()
    return df, df.count()


def staged_link(tr: Tracer, spark, catalog, documents, gallery, entity_catalog,
                canon, n_entities: int, run_id: str,
                distance_threshold: float = 0.6,
                frame_threshold: int = 3) -> dict:
    """``pipeline.run_link_job`` (bruteforce strategy) in traced stages.
    Returns the same stats plus the per-stage row counts."""
    sc = spark.sparkContext
    held = []

    def keep(df_n):
        held.append(df_n[0])
        return df_n

    stats = {"run_id": run_id}
    t_start = time.monotonic()
    with tr.span("pipeline", "pipeline"):
        if catalog.exists("triples"):
            with tr.span("pipeline", "pipeline.antijoin"):
                existing = (
                    catalog.read(spark, "triples")
                    .where(F.col("pred") == NS["rdf_type"])
                    .where(F.col("obj") == NS["mpeg7_video"])
                    .select("doc_id").distinct()
                )
                documents, _ = keep(_materialize(
                    documents.join(existing, "doc_id", "left_anti")))
        with tr.span("spans"):
            media, stats["frames"] = keep(_materialize(ensure_parallelism(
                spans.media_frames(documents), by="doc_id")))
        with tr.span("linking", "linking.payload"):
            full = sc.broadcast(linking._gallery_arrays(gallery))
            one = sc.broadcast(linking._gallery_arrays(gallery.iloc[:1]))
        with tr.span("vision"):
            probe, _ = keep(_materialize(vision.detect_embed_link(
                media, one, distance_threshold, n_entities=n_entities)))
        with tr.span("linking"):
            linked, _ = keep(_materialize(vision.detect_embed_link(
                media, full, distance_threshold, n_entities=n_entities)))
        with tr.span("scenes"):
            scn, stats["scenes"] = keep(_materialize(
                scenes.extract_scenes_from_faces(
                    linked, frame_threshold=frame_threshold)))
        with tr.span("triples"):
            tri, stats["triple_rows"] = keep(_materialize(T.with_partitioning(
                T.video_triples(documents).unionByName(
                    T.scene_triples(scn, entity_catalog)), run_id)))
        with tr.span("canonical"):
            new, n_rows = keep(_materialize(
                canonicalized_triples(tri, entity_catalog, canon)))
        stats["n_triples"] = n_rows
        stats["n_docs"] = 0
        if n_rows:
            with tr.span("catalog", "catalog.append"):
                stats["snapshot"] = catalog.append(
                    "triples", new, run_id, partition_by=["doc_bucket"])
            lineage, _ = keep(_materialize(
                new.groupBy("doc_bucket").agg(
                    F.countDistinct("doc_id").alias("n_docs"),
                    F.count(F.lit(1)).alias("n_triples"),
                ).select(F.lit(run_id).alias("run_id"), "doc_bucket",
                         "n_docs", "n_triples",
                         F.lit("committed").alias("status"))))
            with tr.span("catalog", "catalog.append"):
                catalog.append("lineage", lineage, run_id)
            stats["n_docs"] = new.select("doc_id").distinct().count()
            counts = new.agg(
                F.countDistinct(F.when(F.col("pred") == NS["video_scene_from"],
                                       F.col("subj"))).alias("n_scenes"),
                F.countDistinct(F.when(F.col("pred") == NS["foaf_depicts"],
                                       F.col("obj"))).alias("n_entities"),
            ).collect()[0]
            metrics = spark.createDataFrame(
                [(run_id, stats["n_docs"], n_rows,
                  int(counts["n_scenes"] or 0), int(counts["n_entities"] or 0),
                  int((time.monotonic() - t_start) * 1000))],
                "run_id string, n_docs long, n_triples long, n_scenes long, "
                "n_entities_linked long, wall_ms long")
            with tr.span("catalog", "catalog.append"):
                catalog.append("metrics", metrics, run_id)
            with tr.span("skew"):
                ec, _ = keep(_materialize(entity_mention_counts(
                    new).withColumn("run_id", F.lit(run_id))))
            with tr.span("catalog", "catalog.append"):
                catalog.append("entity_counts", ec, run_id)
    # per-layer row counts, outside the spans they describe
    face = F.col("face_idx").isNotNull()
    stats["faces"] = probe.where(face).count()
    stats["empty_frames"] = probe.where(~face).count()
    stats["linked_faces"] = linked.where(
        face & (F.col("label") != linking.UNKNOWN)).count()
    for df in held:
        df.unpersist()
    full.unpersist()
    one.unpersist()
    return stats


def traced_sparql(tr: Tracer, h, text: str) -> list[dict]:
    """``SparkHunter.sparql`` split into catalog read, view registration,
    parse, compile (``execute`` returning the lazy frame) and
    materialization.  Uses the handle's cached canonical map and view
    names, exactly as the facade does."""
    spark = h.spark
    with tr.span("catalog", "catalog.read"):
        t = h.catalog.read(spark, "triples")
    with tr.span("query", "query.views"):
        Q.register_views(spark, t, canon=h._canon, suffix=h._view_suffix)
    with tr.span("sparql", "sparql.parse"):
        parse(text)
    with tr.span("sparql", "sparql.compile"):
        df = execute(spark.table("triples" + h._view_suffix), text,
                     graph_uri=h.graph_uri)
    with tr.span("sparql", "sparql.exec"):
        return _rows(df)


def engine_counters(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task count, executor run time, shuffle bytes read
    and written, spilled bytes, and the largest max/median task-time
    ratio over the group's stages with at least two tasks."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[tuple]] = {}
    # Spark 4 writes rolling logs: one directory per application
    for path in glob.glob(eventlog_dir + "/**/events_*", recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0),
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        info.get("Finish Time", 0)
                        - info.get("Launch Time", 0),
                    ))
    out = {layer: dict.fromkeys(ENGINE_COUNTERS, 0.0) for layer in LAYERS}
    for sid, rows in tasks.items():
        layer = stage_group.get(sid)
        if layer not in out:
            continue
        c = out[layer]
        c["tasks"] += len(rows)
        c["executor_run_ms"] += sum(r[0] for r in rows)
        c["shuffle_read_bytes"] += sum(r[1] for r in rows)
        c["shuffle_write_bytes"] += sum(r[2] for r in rows)
        c["spill_bytes"] += sum(r[3] for r in rows)
        if len(rows) >= 2:
            durs = [r[4] for r in rows]
            c["task_skew"] = max(c["task_skew"],
                                 max(durs) / max(statistics.median(durs), 1))
    return out


def traced_ops(tr: Tracer, spark, h, gallery, ecat, docs, docs_pdf, client,
               untraced_link_s: list[float]):
    """The traced operations for run.py's template, and a ``finish``
    callable that turns the spans into per-layer metrics.

    Tracing overhead compares the traced link with the median link time
    of the untraced runs recorded for this workload (``untraced_link_s``).
    With none recorded, it links the same docs untraced on a fresh
    catalog after the template; that link runs warm, so the overhead it
    reports is an upper bound."""
    import pickle
    import uuid

    import gen
    import probes
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.pipeline import run_link_job

    root = h.catalog.root
    seen: dict = {}

    class Ops:
        @staticmethod
        def sparql(text):
            return traced_sparql(tr, h, text)

        @staticmethod
        def link(d):
            st = staged_link(tr, spark, h.catalog, d, gallery, ecat, h._canon,
                             gen.N_ENTITIES, uuid.uuid4().hex[:12])
            if "link" not in seen:
                seen["link"] = st
                seen["catalog"] = probes.catalog_stats(root)
            return st

    def finish() -> dict[str, float]:
        if untraced_link_s:
            untraced_s = statistics.median(untraced_link_s)
        else:
            t = time.perf_counter()
            run_link_job(spark, ParquetCatalog(root + "-untraced"), docs,
                         gallery, ecat, canon=h._canon,
                         n_entities=gen.N_ENTITIES)
            untraced_s = time.perf_counter() - t
        traced_s = client.secs("link")[0]
        own = tr.self_ms()
        n = lambda k: own.get(k, 0.0)  # noqa: E731
        st, cat = seen["link"], seen["catalog"]
        rates = probes.matcher_rooflines(gallery)
        return {
            "spans.self_ms": n("spans"),
            "spans.frames_out": st["frames"],
            "vision.self_ms": n("vision"),
            "vision.faces_out": st["faces"],
            "vision.empty_frame_frac": st["empty_frames"] / st["frames"],
            **{f"vision.{k}": v for k, v in probes.vision_rooflines(
                list(docs_pdf["doc_id"]), gen.N_ENTITIES).items()},
            "linking.self_ms": n("linking"),
            "linking.match_ms": n("linking") - n("vision"),
            "linking.payload_build_ms": n("linking.payload"),
            "linking.payload_bytes": len(pickle.dumps(
                linking._gallery_arrays(gallery),
                protocol=pickle.HIGHEST_PROTOCOL)),
            "linking.linked_frac": st["linked_faces"] / st["faces"],
            "linking.kernel_faces_per_s_core": rates["gemm"],
            "linking.lsh_faces_per_s_core": rates["lsh"],
            "scenes.self_ms": n("scenes"),
            "scenes.scenes_out": st["scenes"],
            "triples.self_ms": n("triples"),
            "triples.rows_out": st["triple_rows"],
            "canonical.self_ms": n("canonical"),
            "pipeline.antijoin_ms": n("pipeline.antijoin"),
            "pipeline.overhead_ms": n("pipeline"),
            "skew.self_ms": n("skew"),
            "catalog.commit_ms": n("catalog.append"),
            "catalog.files_written": cat["files"],
            "catalog.bytes_per_triple": cat["triples_bytes"] / st["n_triples"],
            "catalog.snapshots": probes.catalog_stats(root)["snapshots"],
            "catalog.read_ms": n("catalog.read"),
            "query.views_ms": n("query.views"),
            "sparql.parse_ms": n("sparql.parse"),
            "sparql.compile_ms": n("sparql.compile"),
            "sparql.exec_ms": n("sparql.exec"),
            "trace.link_ms": traced_s * 1e3,
            "trace.overhead_frac": traced_s / untraced_s - 1.0,
            # share of the traced operations' wall time covered by the
            # named layers' self times (set-up spans excluded)
            "trace.coverage": (sum(own.values()) - n("canonical.map")
                               - n("session.workers"))
            / (sum(r["s"] for r in client.log) * 1e3),
        }

    return Ops(), finish
