"""Streaming-surface tests: incremental file-stream ingestion with the
idempotent link job, and watermarked windowed aggregation (run with a
memory sink via availableNow so it's a deterministic incremental
batch)."""

import pandas as pd
import pytest

from face_hunter_spark import streaming, synth
from face_hunter_spark.catalog import ParquetCatalog
from face_hunter_spark.schemas import DOCUMENTS, ENTITY_CATALOG

N_ENT = 10


@pytest.mark.slow
def test_stream_ingestion_incremental(spark, tmp_path, monkeypatch):
    from face_hunter_spark.hunter import SparkHunter
    from face_hunter_spark.operators import canonical

    in_dir = str(tmp_path / "incoming")
    cat = ParquetCatalog(str(tmp_path / "kg"))
    ckpt = str(tmp_path / "ckpt")
    gallery = synth.make_gallery_pdf(n_entities=N_ENT, thumbs_per_entity=5,
                                     distractors=2)
    ecat = spark.createDataFrame(
        synth.make_entity_catalog_pdf(n_entities=N_ENT, distractors=2),
        ENTITY_CATALOG,
    )
    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT,
                    gallery_pdf=gallery, entity_catalog=ecat)
    # every micro-batch links with the hunter's cached canonical map:
    # the connected-components loop never reruns once it is built
    canon_calls = []
    real_canonical_map = canonical.canonical_map

    def counted_canonical_map(*args, **kwargs):
        canon_calls.append(args)
        return real_canonical_map(*args, **kwargs)

    monkeypatch.setattr(canonical, "canonical_map", counted_canonical_map)
    # batch 1: docs 0..19
    pdf = synth.make_documents_pdf(20, N_ENT)
    spark.createDataFrame(pdf, DOCUMENTS).write.mode("append").parquet(in_dir)
    streaming.stream_link_documents(h, in_dir, ckpt)
    n1 = cat.read(spark, "triples").select("doc_id").distinct().count()
    assert n1 == 20

    # batch 2: docs 0..29 arrive (overlap 0..19 must be skipped by the
    # anti-join, only 10 new docs linked)
    pdf2 = synth.make_documents_pdf(30, N_ENT)
    spark.createDataFrame(pdf2, DOCUMENTS).write.mode("append").parquet(in_dir)
    streaming.stream_link_documents(h, in_dir, ckpt)
    assert canon_calls == []
    tri = cat.read(spark, "triples")
    assert tri.select("doc_id").distinct().count() == 30
    # no doc got double-linked: each doc has exactly one rdf:type Video row
    from face_hunter_spark.schemas import NS

    per_doc = (
        tri.where(f"pred = '{NS['rdf_type']}' and obj = '{NS['mpeg7_video']}'")
        .groupBy("doc_id").count().where("count > 1").count()
    )
    assert per_doc == 0


def test_windowed_mention_counts_batch_semantics(spark):
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:10", "2024-01-01 00:00:50",
                 "2024-01-01 00:01:10", "2024-01-01 00:01:20"]
            ),
            "label": ["A", "A", "A", "B"],
        }
    )
    out = streaming.windowed_mention_counts(
        spark.createDataFrame(pdf), window="1 minute"
    ).collect()
    got = {(str(r.window_start), r.label): r.n_mentions for r in out}
    assert got[("2024-01-01 00:00:00", "A")] == 2
    assert got[("2024-01-01 00:01:00", "A")] == 1
    assert got[("2024-01-01 00:01:00", "B")] == 1


@pytest.mark.slow
def test_windowed_counts_streaming_with_late_data(spark, tmp_path):
    """Drive the SAME op as a real stream (memory sink, two availableNow
    drains) and check late-but-within-watermark rows are folded in."""
    src = str(tmp_path / "events")
    pdf1 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 00:00:10", "2024-01-01 00:02:30"]),
         "label": ["A", "A"]}
    )
    spark.createDataFrame(pdf1).write.mode("append").parquet(src)
    stream_df = spark.readStream.schema("ts timestamp, label string").parquet(src)
    q = (
        streaming.windowed_mention_counts(stream_df, window="1 minute")
        .writeStream.format("memory").queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # late row for the 00:00 window — within the 2-min watermark,
        # so state is still open and the count must include it
        pdf2 = pd.DataFrame(
            {"ts": pd.to_datetime(["2024-01-01 00:00:40"]), "label": ["A"]}
        )
        spark.createDataFrame(pdf2).write.mode("append").parquet(src)
        q.processAllAvailable()
        # advance event time far enough to close all windows
        pdf3 = pd.DataFrame(
            {"ts": pd.to_datetime(["2024-01-01 00:10:00"]), "label": ["Z"]}
        )
        spark.createDataFrame(pdf3).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from wincounts").collect()
    emitted = {(str(r.window_start), r.label): r.n_mentions for r in rows}
    # append mode emits a window once the watermark passes it; the
    # 00:00 window must include BOTH its rows (on-time + late)
    assert emitted[("2024-01-01 00:00:00", "A")] == 2
    assert emitted[("2024-01-01 00:02:00", "A")] == 1
