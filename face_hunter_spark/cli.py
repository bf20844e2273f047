"""Unified command-line interface — one-to-one analogue of the
reference's ``cli.py:149-212`` action surface, over the Spark engine:

=====================  =====================================================
reference subcommand    here
=====================  =====================================================
``link --url``          ``link --documents <parquet> --catalog-root <dir>``
                        (runtime video download is out of scope, SURVEY
                        §2.1 — documents arrive as the interleaved table)
``search --entity``     ``search --entity <name-or-uri> --catalog-root``
``find_threshold``      ``find-threshold [--samples N]`` — precision/recall
                        sweep over gallery-embedding pairs
                        (distance_tuning.py:85-177)
``run_detection``       ``evaluate --documents <parquet>`` — frame/video
                        metrics vs planted truth (evaluation.py:16-90)
``download_*``          out of scope (network acquisition; SURVEY §2.1)
—                       ``sparql --query/--update`` (text surface)
—                       ``serve [--port]`` (api/api.py analogue)
—                       ``export-n3 --out`` (store interchange artifact)
=====================  =====================================================

Every subcommand prints ONE JSON line (or one per result row) so the
CLI composes in pipelines; exit 2 = missing state, like jobs/*.py.
Run as ``python -m face_hunter_spark <cmd> ...`` locally or via
``spark-submit --py-files dist/face_hunter_spark.zip`` with this module
as the entry (jobs/make_pyfiles.py builds the zip).
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(app: str):
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(app).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _hunter(spark, args):
    from .hunter import SparkHunter

    return SparkHunter(
        spark,
        args.catalog_root,
        n_entities=args.n_entities,
        strategy=getattr(args, "strategy", "bruteforce"),
        distance_threshold=getattr(args, "distance_threshold", 0.6),
        one_face=getattr(args, "one_face", False),
    )


def _emit(obj) -> None:
    print(json.dumps(obj, default=str))


def _rows(df, limit: int | None = None) -> int:
    it = df.toLocalIterator() if limit is None else df.limit(limit).collect()
    n = 0
    for r in it:
        _emit(r.asDict())
        n += 1
    return n


def _cmd_link(args) -> int:
    spark = _session("fhs-cli-link")
    h = _hunter(spark, args)
    docs = spark.read.parquet(args.documents)
    stats = h.link(docs, run_id=args.run_id)
    _emit(stats)
    return 0


def _cmd_search(args) -> int:
    spark = _session("fhs-cli-search")
    h = _hunter(spark, args)
    df = h.search(args.entity)
    if df is None:
        print("no committed triples at " + args.catalog_root,
              file=sys.stderr)
        return 2
    n = _rows(df)
    _emit({"entity": args.entity, "n_scenes": n})
    return 0


def _cmd_find_threshold(args) -> int:
    """Precision/recall over all same/cross-label gallery-embedding
    pairs at a 0.05-step cosine-threshold grid — the reference's
    fine_tune_threshold sweep (distance_tuning.py:85-177) batched: the
    per-entity sample bound keeps the pair join quadratic only within
    the sampled slice (samples²·entities pairs, never corpus²)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from . import synth

    spark = _session("fhs-cli-threshold")
    gallery_pdf = synth.make_gallery_pdf(n_entities=args.n_entities)
    gal = spark.createDataFrame(
        gallery_pdf[["gallery_id", "label", "embedding"]]
    )
    w = Window.partitionBy("label").orderBy("gallery_id")
    emb = (
        gal.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= args.samples)
        .select("gallery_id", "label",
                F.col("embedding").cast("array<double>").alias("v"))
    )
    a = emb.select(F.col("gallery_id").alias("ia"),
                   F.col("label").alias("la"), F.col("v").alias("va"))
    b = emb.select(F.col("gallery_id").alias("ib"),
                   F.col("label").alias("lb"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            (F.col("la") == F.col("lb")).cast("int").alias("match"),
            (F.lit(1.0) - dot / (nrm(F.col("va")) * nrm(F.col("vb"))))
            .alias("distance"),
        )
    )
    grid = pairs.select(
        "match", "distance",
        F.explode(F.sequence(F.lit(1), F.lit(19))).alias("t"),
    ).withColumn("thr", F.col("t") / 20.0)
    sweep = (
        grid.groupBy("thr")
        .agg(
            F.sum(F.when(F.col("distance") < F.col("thr"), 1)
                  .otherwise(0)).alias("n_accept"),
            F.sum(F.when((F.col("distance") < F.col("thr"))
                         & (F.col("match") == 1), 1)
                  .otherwise(0)).alias("n_true"),
            F.sum("match").alias("n_match"),
        )
        .withColumn(
            "precision",
            F.when(F.col("n_accept") > 0,
                   F.col("n_true") / F.col("n_accept")),
        )
        .withColumn("recall", F.col("n_true") / F.col("n_match"))
        .withColumn(
            "f1",
            F.when(
                F.coalesce("precision", F.lit(0.0)) + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ),
        )
        .orderBy("thr")
    )
    rows = sweep.collect()
    best = max(
        (r for r in rows if r.f1 is not None),
        key=lambda r: (r.f1, -r.thr),
        default=None,
    )
    for r in rows:
        _emit(r.asDict())
    _emit({
        "best_threshold": None if best is None else best.thr,
        "best_f1": None if best is None else best.f1,
        "samples_per_entity": args.samples,
    })
    return 0


def _cmd_evaluate(args) -> int:
    spark = _session("fhs-cli-evaluate")
    h = _hunter(spark, args)
    docs = spark.read.parquet(args.documents)
    _emit(h.evaluate(docs))
    return 0


def _cmd_serve(args) -> int:
    from .serve import serve

    spark = _session("fhs-cli-serve")
    h = _hunter(spark, args)
    server = serve(h, host=args.host, port=args.port,
                   allow_raw_sql=args.allow_raw_sql)
    _emit({"serving": True, "host": server.server_address[0],
           "port": server.server_address[1]})
    if args.block:  # pragma: no cover — interactive mode
        try:
            import threading

            threading.Event().wait()
        except KeyboardInterrupt:
            server.shutdown()
    return 0


def _cmd_export_n3(args) -> int:
    spark = _session("fhs-cli-export")
    h = _hunter(spark, args)
    n = h.export_n3(args.out, sharded=args.sharded)
    if n is None:
        print("no committed triples at " + args.catalog_root,
              file=sys.stderr)
        return 2
    _emit({"out": args.out, "n_blocks": n, "sharded": args.sharded})
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m face_hunter_spark",
        description="Face-Hunter-on-Spark command line interface "
                    "(the reference cli.py's action surface)",
    )
    sub = p.add_subparsers(dest="cmd", required=True, title="action")

    def common(sp, catalog=True):
        if catalog:
            sp.add_argument("--catalog-root", required=True,
                            help="ParquetCatalog root directory")
        sp.add_argument("--n-entities", type=int, default=54)

    link = sub.add_parser(
        "link", help="link a documents table into the knowledge graph")
    common(link)
    link.add_argument("--documents", required=True,
                      help="parquet path of interleaved documents")
    link.add_argument("--strategy", default="bruteforce",
                      choices=["bruteforce", "lsh", "hnsw"])
    link.add_argument("--distance-threshold", type=float, default=0.6)
    link.add_argument("--one-face", action="store_true")
    link.add_argument("--run-id", default=None)
    link.set_defaults(action=_cmd_link)

    search = sub.add_parser(
        "search", help="returns scenes/videos in which an entity occurs")
    common(search)
    search.add_argument("--entity", required=True,
                        help="entity label or URI")
    search.set_defaults(action=_cmd_search)

    ft = sub.add_parser(
        "find-threshold",
        help="sweep distance thresholds over gallery-embedding pairs")
    common(ft, catalog=False)
    ft.add_argument("--samples", type=int, default=5,
                    help="samples considered per entity")
    ft.set_defaults(action=_cmd_find_threshold)

    ev = sub.add_parser(
        "evaluate",
        help="run linking on a documents table and score vs truth")
    common(ev)
    ev.add_argument("--documents", required=True)
    ev.add_argument("--distance-threshold", type=float, default=0.6)
    ev.set_defaults(action=_cmd_evaluate)

    sq = sub.add_parser(
        "sparql", help="SPARQL SELECT/ASK/DESCRIBE/CONSTRUCT or UPDATE "
                       "against the committed triple table")
    common(sq)
    sq.add_argument("--query", default=None)
    sq.add_argument("--update", default=None)
    sq.add_argument("--limit", type=int, default=None)
    sq.set_defaults(action=_cmd_sparql_real)

    sv = sub.add_parser("serve", help="HTTP API over the triple table")
    common(sv)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=0)
    sv.add_argument("--allow-raw-sql", action="store_true")
    sv.add_argument("--block", action="store_true",
                    help="keep serving until interrupted")
    sv.set_defaults(action=_cmd_serve)

    ex = sub.add_parser(
        "export-n3", help="write the triple table as an n3 document")
    common(ex)
    ex.add_argument("--out", required=True)
    ex.add_argument("--sharded", action="store_true",
                    help="executor-written doc_bucket shards")
    ex.set_defaults(action=_cmd_export_n3)
    return p


def _cmd_sparql_real(args) -> int:
    from .catalog import ParquetCatalog
    from .hunter import SparkHunter

    if (args.query is None) == (args.update is None):
        print("exactly one of --query / --update is required",
              file=sys.stderr)
        return 2
    spark = _session("fhs-cli-sparql")
    if args.update is not None:
        from .operators.sparql_update import execute_update

        try:
            _emit(execute_update(
                spark, ParquetCatalog(args.catalog_root), "triples",
                args.update,
            ))
        except FileNotFoundError as e:
            print(str(e), file=sys.stderr)
            return 2
        return 0
    h = SparkHunter(spark, args.catalog_root, n_entities=args.n_entities)
    out = h.sparql(args.query)
    if out is None:
        print("no committed triples at " + args.catalog_root,
              file=sys.stderr)
        return 2
    if isinstance(out, bool):
        _emit({"ask": out})
        return 0
    n = _rows(out, limit=args.limit)
    _emit({"n_rows": n})
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.action(args)


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
