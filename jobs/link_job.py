#!/usr/bin/env python
"""spark-submit entry point for the KG link job (north_rule: `the full
job is launched via spark-submit --py-files on multi-executor
clusters`).

Usage (local example; on a cluster swap --master and executor confs):

    python jobs/make_pyfiles.py                # builds dist/face_hunter_spark.zip
    spark-submit --master local[8] \
      --py-files dist/face_hunter_spark.zip \
      --conf spark.sql.shuffle.partitions=64 \
      jobs/link_job.py \
      --documents /root/testdata/sf0.001/documents.parquet \
      --catalog-root /tmp/kg_out --n-entities 20

Reads a documents table (either already in the interleaved
(doc_id, spans) shape, or the driver corpus shape which is wrapped
into spans), runs the idempotent link pipeline, appends ONE committed
snapshot, and prints one JSON stats line.  Lineage and run metrics are
derived reads over the committed triples (``pipeline.run_lineage`` /
``pipeline.run_metrics``; ``wall_ms`` of runs folded by ``compact()``
reads null).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True,
                    help="parquet path: (doc_id, spans) or driver corpus shape")
    ap.add_argument("--catalog-root", required=True)
    ap.add_argument("--n-entities", type=int, default=54)
    ap.add_argument("--distance-threshold", type=float, default=0.6)
    ap.add_argument("--frame-threshold", type=int, default=3)
    ap.add_argument("--strategy",
                    choices=["bruteforce", "lsh", "hnsw", "lsh_shuffle"],
                    default="bruteforce")
    ap.add_argument("--one-face", action="store_true",
                    help="link only the largest detected face per frame "
                         "(the reference's one_face mode)")
    ap.add_argument("--cache-index", action="store_true",
                    help="persist/reuse ANN payloads through the "
                         "catalog, keyed by gallery content hash")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--export-n3", default=None, metavar="PATH",
                    help="after the commit, also write the full triple "
                         "table as one n3 document (the reference "
                         "store's interchange artifact)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("fhs-link-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from face_hunter_spark import synth
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.pipeline import run_link_job
    from face_hunter_spark.schemas import ENTITY_CATALOG

    docs = spark.read.parquet(args.documents)
    if "spans" not in docs.columns:
        # driver-corpus shape -> interleaved contract
        sys.path.insert(0, ".")
        import os

        import __spark_entry__ as em

        docs = em._interleaved_documents(
            spark, os.path.dirname(args.documents.rstrip("/"))
        )

    gallery_pdf = synth.make_gallery_pdf(n_entities=args.n_entities)
    entity_catalog = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=args.n_entities),
        ENTITY_CATALOG,
    )
    gallery_df = None
    if args.strategy == "lsh_shuffle":
        from face_hunter_spark.schemas import GALLERY

        gallery_df = spark.createDataFrame(gallery_pdf, GALLERY)

    stats = run_link_job(
        spark,
        ParquetCatalog(args.catalog_root),
        docs,
        gallery_pdf,
        entity_catalog,
        run_id=args.run_id,
        n_entities=args.n_entities,
        distance_threshold=args.distance_threshold,
        frame_threshold=args.frame_threshold,
        strategy=args.strategy,
        gallery_df=gallery_df,
        one_face=args.one_face,
        cache_index=args.cache_index,
    )
    if args.export_n3:
        from face_hunter_spark.operators import rdf

        cat = ParquetCatalog(args.catalog_root)
        if args.export_n3.endswith("/"):
            # trailing slash = sharded form: executor-written
            # doc_bucket part files (the 10^12-doc sink)
            rdf.export_n3_sharded(
                cat.read(spark, "triples"), args.export_n3.rstrip("/")
            )
        else:
            text = rdf.triples_to_n3(cat.read(spark, "triples"))
            with open(args.export_n3, "w") as f:
                f.write(text)
        stats["n3_path"] = args.export_n3
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
