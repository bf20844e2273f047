#!/usr/bin/env python3
"""Benchmark of the knowledge-graph engine through its user entry point
``SparkHunter`` (whose ``link`` is ``pipeline.run_link_job``).

    python3 perfbench/run.py --workload link_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process, one Spark session at
``local[nproc]``, one closed-loop client.  A run

1. sets up once: session start, gallery and entity catalog,
   ``SparkHunter`` init (``setup_s``: the cold set-up a user pays);
2. performs one operation template on a fresh catalog: a committed
   ``link`` of a seeded corpus, then a ``sparql`` SELECT that reads back
   the committed triples of a seeded doc sample, repeated until
   ``--seconds`` have passed;
3. checks every output: the link commits every doc and the triples
   each read returns equal ``reference_oracle.oracle_triples`` on the
   sample (``oracle_f1``).

A run costs about a minute on a 4-core host, almost all of it fixed
Spark cost (JVM start, the first jobs of a cold session, a committed
link of even a few docs), so the template holds one link: the driver's
run count times a minute is the whole time budget.  The read's latency
is recorded but is not an end-to-end metric: across seeds it spreads
by 0.27-0.36 of its median on such a host, more than any bound the
benchmark may set; traced runs time the read path per layer.

The two workloads differ only in the gallery: 184 vectors, where
matching is nearly free, and 50,160 vectors, whose 100 MB broadcast
payload and exact GEMM the link then pays for.  ``--trace 1`` runs the same template with the link
and the reads split into per-module stages (perfbench/layers.py), adds
a re-``link`` of the same docs (it must append nothing; it times the
committed-doc anti-join), and reports per-layer metrics and engine
counters instead.

The last stdout line is the JSON result; the line before it is the
run's provenance.  The full record and the spans go to perfbench/.work/.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("link_bulk", "link_large_gallery")

# one BLAS thread per process, before numpy loads: Spark tasks are the
# unit of parallelism and the rooflines are per core
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS"):
    os.environ[_var] = "1"

#: predicates of the reference triple shapes (as in test_pipeline_parity)
CORE_PREDS = (
    "rdf_type", "dc_identifier", "dc_title", "video_scene_from",
    "video_temporal_segment_of", "temporal_has_start", "temporal_duration",
    "temporal_has_finish", "foaf_depicts",
)


def _git_rev() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    with open(head) as f:
        ref = f.read().strip()
    path = os.path.join(ROOT, ".git", ref[5:])
    if ref.startswith("ref: ") and os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return ref


class Client:
    """Closed loop, one client: each operation starts when the previous
    one has returned.  Records latency and the output check."""

    def __init__(self):
        self.log: list[dict] = []

    def run(self, op: str, fn, check) -> None:
        t = time.perf_counter()
        ok, note = False, ""
        try:
            out = fn()
            dt = time.perf_counter() - t
            ok, note = check(out)
        except Exception as exc:  # a failed op is counted, not fatal
            dt = time.perf_counter() - t
            note = repr(exc)[:300]
            traceback.print_exc(file=sys.stderr)
        self.log.append({"op": op, "s": dt, "ok": bool(ok), "note": note})

    def secs(self, op: str) -> list[float]:
        return [r["s"] for r in self.log if r["op"] == op]


class Oracle:
    """Reference-oracle triples for the seeded doc sample, and the
    SPARQL query that reads the committed ones back."""

    def __init__(self, sample_pdf, gallery, catalog_pdf, n_entities: int):
        from face_hunter_spark.reference_oracle import oracle_triples
        from face_hunter_spark.schemas import HOME_URI, NS

        self.core = {NS[p] for p in CORE_PREDS}
        self.triples = oracle_triples(sample_pdf, gallery, catalog_pdf,
                                      n_entities=n_entities)
        cond = " || ".join(f'STRSTARTS(STR(?s), "{HOME_URI}{d}")'
                           for d in sample_pdf["doc_id"])
        self.query = f"SELECT ?s ?p ?o WHERE {{ ?s ?p ?o . FILTER({cond}) }}"
        self.f1_seen: list[float] = []

    def check_sparql(self, rows):
        got = {(r["s"], r["p"], r["o"]) for r in rows if r["p"] in self.core}
        inter = len(got & self.triples)
        f1 = 2 * inter / (len(got) + len(self.triples)) if inter else 0.0
        self.f1_seen.append(f1)
        return f1 == 1.0, f"oracle f1={f1:.4f} ({len(got)} triples read)"


def _start_worker(batches):
    import face_hunter_spark.operators.vision  # noqa: F401

    yield from batches


class _Facade:
    """Untraced operations: the ``SparkHunter`` methods, results
    materialized the way ``serve`` does."""

    def __init__(self, h, rows):
        self.h, self._rows = h, rows

    def link(self, docs):
        return self.h.link(docs)

    def sparql(self, text):
        return self._rows(self.h.sparql(text))


def run(args, spec, scratch: str) -> tuple[dict, dict]:
    import gen
    import probes
    from face_hunter_spark.hunter import SparkHunter
    from face_hunter_spark.schemas import DOCUMENTS, ENTITY_CATALOG
    from face_hunter_spark.serve import _rows
    from face_hunter_spark.session import build_session

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp)
    nproc = len(os.sched_getaffinity(0))
    # local[nproc] with 2 x nproc shuffle partitions and a 4 GB driver,
    # as bench.py and the test suite configure local sessions
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # ParquetCatalog names snapshot directories snap=<12 hex chars>.
        # With partition type inference on, an id such as 1234e5678901
        # parses as a decimal with a huge exponent and partition
        # discovery spins for minutes (seen in about 1 run in 70).
        # Partition values then read as strings; no operation here
        # uses their type.
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    }
    eventlog = os.path.join(scratch, "eventlog")
    if args.trace:
        os.makedirs(eventlog)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog,
                     "spark.eventLog.compress": "false"})

    prov = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "git_rev": _git_rev(),
            "python": platform.python_version(),
            "loadavg_before": os.getloadavg()}
    client = Client()
    values: dict[str, float] = {}
    spark = tr = None
    with probes.RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = build_session(master=f"local[{nproc}]",
                                  shuffle_partitions=max(2 * nproc, 8),
                                  extra_conf=conf)
            # start the Python workers once, as any session that runs a
            # pandas stage does, so the first link is not also the
            # first Python stage
            session_s = time.perf_counter() - t0
            prov["spark"] = spark.version
            if args.trace:
                from layers import Tracer

                tr = Tracer(spark.sparkContext)
                # start the Python workers before the staged link, so
                # the first module span does not absorb their start-up
                with tr.span("session", "session.workers"):
                    spark.range(0, 2 * nproc, numPartitions=2 * nproc) \
                        .mapInPandas(_start_worker, "id long").count()
            gallery = gen.gallery_pdf(args.workload)
            catalog_pdf = gen.entity_catalog_pdf()
            ecat = spark.createDataFrame(catalog_pdf, ENTITY_CATALOG)
            t_init = time.perf_counter()
            span = tr.span("canonical", "canonical.map") if tr else None
            with span or nullcontext():
                h = SparkHunter(spark, os.path.join(scratch, "kg"),
                                n_entities=gen.N_ENTITIES, gallery_pdf=gallery,
                                entity_catalog=ecat)
            init_s = time.perf_counter() - t_init
            setup_s = time.perf_counter() - t0
            prov["setup_cold_s"] = setup_s

            docs_pdf = gen.documents_pdf(args.seed)
            docs = spark.createDataFrame(docs_pdf, DOCUMENTS)
            sample = gen.oracle_sample(args.seed, docs_pdf)
            oracle = Oracle(sample, gallery, catalog_pdf, gen.N_ENTITIES)
            if tr:
                from layers import traced_ops

                ops, finish = traced_ops(tr, spark, h, gallery, ecat, docs,
                                         docs_pdf, client,
                                         _untraced_link_s(args.workload))
            else:
                ops = _Facade(h, _rows)

            t_win = time.perf_counter()
            client.run("link", lambda: ops.link(docs), lambda st: (
                st["n_docs"] == len(docs_pdf) and st["n_triples"] > 0,
                f"link stats {st}"))
            if tr:
                client.run("relink", lambda: ops.link(docs), lambda st: (
                    st["n_triples"] == 0,
                    f"relink appended {st['n_triples']}"))
            while True:
                client.run("sparql", lambda: ops.sparql(oracle.query),
                           oracle.check_sparql)
                if time.perf_counter() - t_win >= args.seconds:
                    break
            prov["window_s"] = time.perf_counter() - t_win
            prov["sparql_s"] = client.secs("sparql")
            if tr:
                values.update(finish())
        finally:
            if spark is not None:
                _stop(spark)
            probes.reap_children()
    if tr:
        from layers import engine_counters

        for layer, counters in engine_counters(eventlog).items():
            for k, v in counters.items():
                values[f"{layer}.{k}"] = v
        values["session.start_ms"] = session_s * 1e3
        values["canonical.map_ms"] = init_s * 1e3
        values["session.workers_ms"] = tr.self_ms()["session.workers"]
        tr.dump(os.path.join(WORK, "results",
                             f"spans-{args.workload}-s{args.seed}.json"))
    else:
        values.update({
            "setup_s": setup_s,
            "link_docs_per_s": len(docs_pdf) / client.secs("link")[0],
            "oracle_f1": min(oracle.f1_seen, default=0.0),
            "peak_rss_mb": rss.peak / 2**20,
        })
    prov.update(loadavg_after=os.getloadavg(), ops=len(client.log))
    failed = sum(not r["ok"] for r in client.log)
    result = {
        "correct": not failed,
        "attempted": len(client.log),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in spec},
    }
    return result, {"provenance": prov, "ops": client.log}


def _untraced_link_s(workload: str) -> list[float]:
    """Link times of the untraced runs of ``workload`` recorded in this
    checkout."""
    out = []
    pattern = os.path.join(WORK, "results", f"{workload}-s*-t0.json")
    for path in glob.glob(pattern):
        with open(path) as f:
            out += [r["s"] for r in json.load(f)["ops"] if r["op"] == "link"]
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM: closing its stdin ends the
    gateway process; wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import face_hunter_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = [(m["name"], m["unit"])
            for m in bench["per_layer" if args.trace else "end_to_end"]]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        result, record = run(args, spec, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(
            WORK, "results",
            f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    print(json.dumps(record["provenance"]))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
