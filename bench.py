#!/usr/bin/env python
"""Benchmark harness.  Runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs_per_sec": ..., ...}

Scaling evidence (BASELINE.json: efficiency >= 0.8 between N and 4N):
``python bench.py --scaling`` runs both KG pipeline strategies at
local[2] and local[8] (the default N/4N pair — the core ratio the
shared host can actually provide; override with
SPARK_GRAFT_SCALING_MASTERS="8,32") on identical input and reports
throughput at both plus efficiency = (T_N / T_4N) / 4.  Results land
in BENCH_SCALING.json and are summarized in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _sf_label(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except Exception:
        return -1.0


def build(master: str, shuffle: int):
    from face_hunter_spark.session import build_session

    return build_session(
        app_name="fhs-bench", master=master, shuffle_partitions=shuffle
    )


def _count(df) -> int:
    return df.count()


def kg_pipeline_df(spark, sf_dir):
    import __spark_entry__ as em

    return em._kg_pipeline(spark, sf_dir)


def kg_pipeline_lsh_df(spark, sf_dir):
    """Same pipeline, LSH-bucketed approximate-kNN linking strategy
    (the large-gallery scale path — north_star's named join)."""
    import __spark_entry__ as em
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = em._interleaved_documents(spark, sf_dir)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=em.N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=em.N_ENTITIES, distractors=3),
        ENTITY_CATALOG,
    )
    return link_documents(
        docs, gallery_pdf, catalog, n_entities=em.N_ENTITIES,
        strategy="lsh",
    )


def kg_pipeline_shuffle_df(spark, sf_dir):
    """Same pipeline through the BEYOND-broadcast gallery route
    (broadcast budget forced to 0 so the gallery stays a DataFrame and
    linking is the bucketed LSH shuffle join — the 10^8-face-gallery
    path, review r4 #2); measured so its cost vs the broadcast forms
    is a recorded number, not a guess."""
    import __spark_entry__ as em
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG, GALLERY

    docs = em._interleaved_documents(spark, sf_dir)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=em.N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    gallery_df = spark.createDataFrame(gallery_pdf, GALLERY)
    catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=em.N_ENTITIES, distractors=3),
        ENTITY_CATALOG,
    )
    return link_documents(
        docs, gallery_df, catalog, n_entities=em.N_ENTITIES,
        broadcast_budget_rows=0,
    )


def kg_pipeline_hnsw_df(spark, sf_dir):
    """Same pipeline, HNSW matcher (the reference's 'appr' default
    algorithm; graph built once on the driver side and broadcast)."""
    import __spark_entry__ as em
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = em._interleaved_documents(spark, sf_dir)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=em.N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=em.N_ENTITIES, distractors=3),
        ENTITY_CATALOG,
    )
    return link_documents(
        docs, gallery_pdf, catalog, n_entities=em.N_ENTITIES,
        strategy="hnsw",
    )


def n_docs(spark, sf_dir) -> int:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def _bench_kg_triples(spark, sf_dir):
    """TPC-H-derived triple table at full SF (no row caps, unlike the
    driver query's oracle-sized mini-KG): one triple per typed customer
    (customers divisible by 7 planted untyped), one per order, one per
    customer segment — ~2.6 rows/customer + 1/order, so it scales with
    the SF like a real KG materialization."""
    import face_hunter_spark.driver_queries as DQm

    DQm.load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT format_string('c%d', c_custkey) AS subj,
               'rdf:type' AS pred, 'ex:Customer' AS obj
        FROM customer WHERE c_custkey % 7 <> 0
        UNION ALL
        SELECT format_string('c%d', o_custkey), 'ex:placed',
               format_string('o%d', o_orderkey)
        FROM orders
        UNION ALL
        SELECT format_string('c%d', c_custkey), 'ex:segment', c_mktsegment
        FROM customer
        """
    )


def headline_queries(spark, sf_dir):
    """name -> zero-arg callable returning a row count (forces full
    execution)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as em
    from face_hunter_spark.operators import dedup, similarity

    DQ = em.DQ

    def shacl_validate():
        from face_hunter_spark.operators.shacl import validate

        return _count(
            validate(
                _bench_kg_triples(spark, sf_dir),
                [
                    {"id": "dom", "kind": "domain", "pred": "ex:placed",
                     "cls": "ex:Customer"},
                    {"id": "min", "kind": "min_count", "pred": "ex:placed",
                     "cls": "ex:Customer", "n": 1},
                    {"id": "pat", "kind": "pattern", "pred": "ex:segment",
                     "pattern": "B%"},
                ],
                rdf_type="rdf:type",
            )
        )

    def void_partitions():
        from face_hunter_spark.operators.void_stats import (
            predicate_partitions,
        )

        return _count(predicate_partitions(_bench_kg_triples(spark, sf_dir)))

    def sparql_construct():
        from face_hunter_spark.operators.bgp import construct

        return _count(
            construct(
                _bench_kg_triples(spark, sf_dir),
                [("?c", "ex:placed", "?o"), ("?c", "ex:segment", "?s")],
                template=[("?o", "ex:placedBy", "?c"),
                          ("?o", "ex:inSegment", "?s")],
            )
        )

    def negative_samples():
        from face_hunter_spark.operators.negatives import (
            negative_samples as neg,
        )

        import face_hunter_spark.driver_queries as DQm

        DQm.load_views(spark, sf_dir)
        pos = spark.sql(
            "SELECT format_string('c%d', c_custkey) AS subj,"
            " 'in_nation' AS pred,"
            " format_string('n%d', c_nationkey) AS obj FROM customer"
        )
        pool = spark.sql(
            "SELECT format_string('n%d', n_nationkey) AS ent FROM nation"
        )
        return _count(neg(pos, k=4, pool=pool, pool_col="ent"))

    def transe_epoch():
        # SF-scaled (ALL customers, unlike the capped driver query):
        # one full integer-exact training epoch incl. init, corruption,
        # COO gradient exchange and parameter update
        from face_hunter_spark.operators.transe import transe_epoch as te

        import face_hunter_spark.driver_queries as DQm

        DQm.load_views(spark, sf_dir)
        pos = spark.sql(
            "SELECT format_string('c%d', c_custkey) AS subj,"
            " 'in_nation' AS pred,"
            " format_string('n%d', c_nationkey) AS obj FROM customer"
        )
        ent, rel = te(pos, dim=16, k_neg=2)
        return _count(ent) + _count(rel)

    def lpa_communities():
        # SF-scaled deterministic LPA: 3 synchronous rounds over the
        # customer<->nation bipartite graph (per-round join + counted
        # argmax, lineage cut per round)
        import __spark_entry__ as SE

        return _count(SE._q_lpa_communities(spark, sf_dir))

    def common_neighbor_links():
        # SF-scaled wedge join: supplier<->nation ∪ nation<->region;
        # at sf0.1 the within-nation supplier pairs dominate (~2M
        # candidates) — the operator's real cost profile
        import __spark_entry__ as SE

        return _count(SE._q_common_neighbor_links(spark, sf_dir))

    def sparql_update_apply():
        # SF-scaled SPARQL UPDATE state transition: the modify form's
        # (G \ D) ∪ I algebra over a customer→nation membership graph
        # (delete + insert sets instantiated via the BGP compiler,
        # two anti-joins) — the write-path text surface
        import __spark_entry__ as SE

        return _count(SE._q_sparql_update_apply(spark, sf_dir))

    def knn_gemm():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.select(F.col("vec_id").alias("q_id"), "embedding")
        corpus_pdf = emb.select(F.col("vec_id").alias("c_id"), "embedding").toPandas()
        return _count(similarity.cosine_topk_fast(qs, corpus_pdf, k=10))

    return {
        "kg_link_pipeline": lambda: _count(kg_pipeline_df(spark, sf_dir)),
        "kg_link_pipeline_lsh": lambda: _count(kg_pipeline_lsh_df(spark, sf_dir)),
        "kg_link_pipeline_hnsw": lambda: _count(
            kg_pipeline_hnsw_df(spark, sf_dir)
        ),
        "kg_link_pipeline_shuffle": lambda: _count(
            kg_pipeline_shuffle_df(spark, sf_dir)
        ),
        "sparql_service_join": lambda: _count(
            em._q_sparql_service_join(spark, sf_dir)
        ),
        "sparql_subquery": lambda: _count(
            em._q_sparql_subquery(spark, sf_dir)
        ),
        "sparql_path_grouped": lambda: _count(
            em._q_sparql_path_grouped(spark, sf_dir)
        ),
        "pricing_summary": lambda: _count(DQ.q_pricing_summary(spark, sf_dir)),
        "star_join_revenue": lambda: _count(DQ.q_star_join_revenue(spark, sf_dir)),
        "sessionize_events": lambda: _count(DQ.q_sessionize_events(spark, sf_dir)),
        "top3_orders_per_segment": lambda: _count(
            DQ.q_top3_orders_per_segment(spark, sf_dir)
        ),
        "minhash_lsh_pairs": lambda: _count(
            dedup.minhash_lsh_pairs(
                spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.9
            )
        ),
        "simhash_fingerprints": lambda: _count(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                dedup.simhash32(F.col("text")).alias("h")
            )
        ),
        "knn_topk_gemm": knn_gemm,
        "scene_extraction": lambda: _count(
            em._q_scene_extraction(spark, sf_dir)
        ),
        "decontaminate_documents": lambda: _count(
            DQ.q_decontaminate_documents(spark, sf_dir)
        ),
        "bloom_prefilter_orders": lambda: _count(
            DQ.q_bloom_prefilter_orders(spark, sf_dir)
        ),
        "triangle_count_graph": lambda: _count(
            DQ.q_triangle_count_graph(spark, sf_dir)
        ),
        "profile_customer": lambda: _count(
            DQ.q_profile_customer(spark, sf_dir)
        ),
        "duplicate_spans": lambda: _count(
            DQ.q_duplicate_spans(spark, sf_dir)
        ),
        "cut_duplicate_spans": lambda: _count(
            DQ.q_cut_duplicate_spans(spark, sf_dir)
        ),
        "shacl_validate": shacl_validate,
        "void_partitions": void_partitions,
        "sparql_construct": sparql_construct,
        "negative_samples": negative_samples,
        "transe_epoch": transe_epoch,
        "sparql_update_apply": sparql_update_apply,
        "lpa_communities": lpa_communities,
        "common_neighbor_links": common_neighbor_links,
    }


def _git_rev() -> str | None:
    """Commit the suite ran against — artifact provenance, so a
    BENCH_r*.json is attributable to exact code without prose."""
    try:
        import subprocess

        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip() or None
    except Exception:
        return None


def _load1() -> float | None:
    """1-minute load average — recorded alongside every timing so a
    co-tenant load spike is VISIBLE in the artifact instead of having
    to be inferred from prose (review r4: the committed BENCH_r04 was
    a noisy-window artifact with no load evidence in the JSON)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def run_suite(repeats: int = 2) -> dict:
    """Each query runs `repeats` times; the MIN is recorded.  The host
    is shared with co-tenant load (observed 1-30 load average from
    outside the cgroup), so a single cold measurement mixes scheduler
    contention into the number; min-of-2 is the least-interference
    estimate and also absorbs first-run JIT/codegen warmup."""
    spark = build(f"local[{CPUS}]", shuffle=max(int(CPUS) * 2, 8))
    timings: dict[str, float] = {}
    load1: dict[str, list] = {}
    nd = n_docs(spark, SF_DIR)
    kg_sec = None
    for name, fn in headline_queries(spark, SF_DIR).items():
        best = None
        before = _load1()
        for _ in range(repeats):
            t0 = time.monotonic()
            fn()
            dt = round(time.monotonic() - t0, 3)
            best = dt if best is None or dt < best else best
        timings[name] = best
        load1[name] = [before, _load1()]
        if name == "kg_link_pipeline":
            kg_sec = best
    spark.stop()
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline suite wall time (KG link pipeline + operator "
                  f"suite; min of {repeats} runs per query)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(SF_DIR),
        "n_docs": nd,
        "docs_per_sec": round(nd / kg_sec, 2) if kg_sec else None,
        "cpus": int(CPUS),
        "load1_per_query": load1,
        "git_rev": _git_rev(),
    }


def run_suite_trusted(max_attempts: int = 3, tolerance: float = 0.10) -> dict:
    """Retry-to-stable harness (review r4 #3): the suite runs up to
    ``max_attempts`` times and stops as soon as the two FASTEST
    attempts agree within ``tolerance`` — corroborated evidence that
    the window was quiet — keeping the best attempt as the artifact.
    A single noisy window can no longer become the round's committed
    number unless every attempt was noisy, and then the recorded
    attempt totals + per-query load averages say so."""
    results: list[dict] = []
    for _ in range(max_attempts):
        results.append(run_suite())
        vals = sorted(r["value"] for r in results)
        if len(vals) >= 2 and vals[1] <= vals[0] * (1.0 + tolerance):
            break
    best = min(results, key=lambda r: r["value"])
    best["attempt_totals_sec"] = [r["value"] for r in results]
    best["attempts"] = len(results)
    best["attempt_tolerance"] = tolerance
    return best


def _replicated_kg_df(spark, sf_dir: str, replicas: int):
    """KG pipeline over a corpus replicated `replicas`x with distinct
    doc ids — large enough to amortize session/stage fixed costs so the
    scaling measurement reflects the pipeline, not JVM startup.  Built
    purely from the driver corpus (no external data)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as em
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = em._interleaved_documents(spark, sf_dir, replicas=replicas)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=em.N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=em.N_ENTITIES, distractors=3),
        ENTITY_CATALOG,
    )
    return link_documents(docs, gallery_pdf, catalog, n_entities=em.N_ENTITIES)


def _replicated_kg_lsh_df(spark, sf_dir: str, replicas: int):
    """Replicated corpus through the LSH linking strategy — the
    large-gallery scale path, tracked separately so per-strategy
    scaling regressions are visible round-over-round."""
    import __spark_entry__ as em
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import link_documents
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = em._interleaved_documents(spark, sf_dir, replicas=replicas)
    gallery_pdf = synth.make_gallery_pdf(
        n_entities=em.N_ENTITIES, thumbs_per_entity=8, distractors=3
    )
    catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=em.N_ENTITIES, distractors=3),
        ENTITY_CATALOG,
    )
    return link_documents(
        docs, gallery_pdf, catalog, n_entities=em.N_ENTITIES, strategy="lsh"
    )


SCALING_JOBS = {
    "kg_link_pipeline": _replicated_kg_df,
    "kg_link_pipeline_lsh": _replicated_kg_lsh_df,
}


def run_scaling(masters=(2, 8), replicas: int = 128, repeats: int = 3) -> dict:
    """Same jobs, identical input, two parallelism levels (BASELINE.json
    two-cluster-size rule evidenced as N vs 4N local cores).  The host
    is shared/contended, so take the MIN over `repeats` runs (least-
    interference estimate) at each level."""
    out = {"sf": _sf_label(SF_DIR), "replicas": replicas,
           "repeats": repeats, "masters": list(masters), "jobs": {}}
    timings: dict[str, dict[str, dict]] = {name: {} for name in SCALING_JOBS}
    for cores in masters:
        spark = build(f"local[{cores}]", shuffle=max(cores * 2, 8))
        nd = n_docs(spark, SF_DIR) * replicas
        for name, job in SCALING_JOBS.items():
            best = None
            times = []
            for _ in range(repeats):
                t0 = time.monotonic()
                job(spark, SF_DIR, replicas).count()
                dt = time.monotonic() - t0
                times.append(round(dt, 3))
                best = dt if best is None or dt < best else best
            timings[name][str(cores)] = {
                "cores": cores,
                "sec": round(best, 3),
                "all_runs_sec": times,
                "docs_per_sec": round(nd / best, 2),
                "n_docs": nd,
            }
        spark.stop()
    lo, hi = str(masters[0]), str(masters[1])
    for name, runs in timings.items():
        speedup = runs[lo]["sec"] / runs[hi]["sec"]
        out["jobs"][name] = {
            "runs": runs,
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(speedup / (masters[1] / masters[0]), 3),
        }
    # headline gate: the flagship pipeline's efficiency
    out["speedup"] = out["jobs"]["kg_link_pipeline"]["speedup"]
    out["scaling_efficiency"] = (
        out["jobs"]["kg_link_pipeline"]["scaling_efficiency"]
    )
    return out


if __name__ == "__main__":
    try:
        with open("/proc/loadavg") as _f:
            _loadavg = _f.read().split()[:3]
    except OSError:
        _loadavg = None
    if "--scaling" in sys.argv:
        # SPARK_GRAFT_SCALING_MASTERS="8,32" picks a different N/4N
        # pair; the default is 2,8 — the ratio this shared host can
        # actually provide (co-tenant load spikes starve local[32]; see
        # BASELINE.md measurement notes) and the pair the committed
        # BENCH_SCALING.json was produced with, so a plain rerun
        # reproduces the artifact instead of overwriting it with
        # contended numbers
        masters = tuple(
            int(x) for x in os.environ.get(
                "SPARK_GRAFT_SCALING_MASTERS", "2,8"
            ).split(",")
        )
        res = run_scaling(masters=masters)
        # the committed BENCH_SCALING.json is the (2,8) gate artifact;
        # other pairs (e.g. the 8->32 re-attempt) land in their own
        # file so a rerun never clobbers the gate evidence
        name = ("BENCH_SCALING.json" if masters == (2, 8)
                else f"BENCH_SCALING_{masters[0]}_{masters[1]}.json")
        res["loadavg_at_start"] = _loadavg
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               name), "w") as f:
            json.dump(res, f, indent=1)
        print(json.dumps(res))
    else:
        attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
        res = run_suite_trusted(max_attempts=attempts)
        res["loadavg_at_start"] = _loadavg
        print(json.dumps(res))
