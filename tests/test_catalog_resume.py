"""Crash-resume semantics of the catalog seam (north_rule: resumable
from checkpoint after executor loss).

A failure between the data write and the manifest commit leaves an
ORPHAN snapshot directory.  The contract (same as an aborted Iceberg
commit): readers never see it, and re-running the job re-links the
affected docs exactly once — the final committed triple set equals a
never-crashed run's."""

import os

import pyspark.sql.functions as F
import pytest

from face_hunter_spark import synth
from face_hunter_spark.catalog import ParquetCatalog
from face_hunter_spark.pipeline import run_lineage, run_link_job, run_metrics

N_ENT = 10


def _inputs(spark, n_docs=24):
    docs = synth.documents_df(spark, n_docs, N_ENT)
    gal = synth.make_gallery_pdf(n_entities=N_ENT, thumbs_per_entity=5,
                                 distractors=2)
    ecat = synth.entity_catalog_df(spark, n_entities=N_ENT, distractors=2)
    return docs, gal, ecat


def _triple_set(spark, cat):
    return {
        (r.subj, r.pred, r.obj)
        for r in cat.read(spark, "triples")
        .select("subj", "pred", "obj").collect()
    }


def test_orphan_snapshot_invisible_and_replayed(spark, tmp_path):
    docs, gal, ecat = _inputs(spark)

    # the never-crashed baseline
    clean = ParquetCatalog(str(tmp_path / "clean"))
    run_link_job(spark, clean, docs, gal, ecat, n_entities=N_ENT)
    expected = _triple_set(spark, clean)
    assert expected

    # crashed run: data landed for half the docs, manifest never
    # committed (executor/driver loss between write and commit)
    crashed = ParquetCatalog(str(tmp_path / "crashed"))
    half = docs.where(F.col("doc_id") < "vid_00012")
    partial = run_link_job(
        spark, ParquetCatalog(str(tmp_path / "scratch")), half, gal, ecat,
        n_entities=N_ENT,
    )
    assert partial["n_docs"] == 12
    # replay the partial output as an orphan dir under the crashed
    # catalog: data present, manifest absent
    orphan = os.path.join(str(tmp_path / "crashed"), "triples", "data",
                          "snap=deadbeefcafe")
    spark.read.option("basePath", str(tmp_path / "scratch") + "/triples") \
        .parquet(str(tmp_path / "scratch") + "/triples/data/snap=" +
                 partial["snapshot"]) \
        .write.parquet(orphan)
    assert not crashed.exists("triples")  # reader isolation

    # resume: the full input reruns; anti-join sees NO committed docs,
    # so everything is processed exactly once
    stats = run_link_job(spark, crashed, docs, gal, ecat, n_entities=N_ENT)
    assert stats["n_docs"] == 24
    assert _triple_set(spark, crashed) == expected

    # second resume is a no-op (idempotency after recovery)
    stats2 = run_link_job(spark, crashed, docs, gal, ecat, n_entities=N_ENT)
    assert stats2["n_triples"] == 0


def test_resume_after_committed_prefix(spark, tmp_path):
    """Commit half, crash before the rest: rerun processes ONLY the
    un-committed docs and converges to the clean result."""
    docs, gal, ecat = _inputs(spark)
    clean = ParquetCatalog(str(tmp_path / "clean"))
    run_link_job(spark, clean, docs, gal, ecat, n_entities=N_ENT)
    expected = _triple_set(spark, clean)

    cat = ParquetCatalog(str(tmp_path / "kg"))
    half = docs.where(F.col("doc_id") < "vid_00012")
    s1 = run_link_job(spark, cat, half, gal, ecat, n_entities=N_ENT)
    assert s1["n_docs"] == 12
    s2 = run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    assert s2["n_docs"] == 12  # only the remaining half
    assert _triple_set(spark, cat) == expected
    # lineage has rows from both runs (per-partition audit trail)
    lin = run_lineage(cat.read(spark, "triples"))
    assert lin.select("run_id").distinct().count() == 2
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == 24


def test_metrics_row_per_run(spark, tmp_path):
    """Each committed run reads back one metrics row whose counts agree
    with the triples it wrote."""
    docs, gal, ecat = _inputs(spark, n_docs=10)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    stats = run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    m = run_metrics(spark, cat).collect()
    assert len(m) == 1
    row = m[0]
    assert row.run_id == stats["run_id"]
    assert row.n_docs == stats["n_docs"] == 10
    assert row.n_triples == stats["n_triples"]
    tri = cat.read(spark, "triples")
    from face_hunter_spark.schemas import NS
    n_scenes = (
        tri.where(F.col("pred") == NS["video_scene_from"])
        .select("subj").distinct().count()
    )
    assert row.n_scenes == n_scenes
    assert row.wall_ms > 0
    # an all-duplicate rerun commits nothing, including metrics
    run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    assert run_metrics(spark, cat).count() == 1


def test_link_run_is_one_commit(spark, tmp_path):
    """A non-empty link run is ONE catalog commit: a fresh catalog's
    root holds only the triples table, whose snapshot summary carries
    the run's wall time.  Lineage and metrics are derived from the
    rows, so compaction keeps every count and only wall_ms (a property
    of the expired snapshot) reads null."""
    docs, gal, ecat = _inputs(spark, n_docs=8)
    root = str(tmp_path / "kg")
    cat = ParquetCatalog(root)
    s1 = run_link_job(spark, cat, docs.where(F.col("doc_id") < "vid_00004"),
                      gal, ecat, n_entities=N_ENT)
    assert os.listdir(root) == ["triples"]
    [snap] = cat.snapshots("triples")
    assert (snap["id"], snap["run_id"]) == (s1["snapshot"], s1["run_id"])
    assert snap["summary"]["wall_ms"] > 0

    s2 = run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    assert s2["n_docs"] == 4
    assert os.listdir(root) == ["triples"]
    assert len(cat.snapshots("triples")) == 2
    before = {r.run_id: r for r in run_metrics(spark, cat).collect()}
    assert set(before) == {s1["run_id"], s2["run_id"]}
    assert all(r.wall_ms > 0 for r in before.values())

    cat.compact(spark, "triples")
    after = {r.run_id: r for r in run_metrics(spark, cat).collect()}
    assert set(after) == set(before)
    for run_id, row in after.items():
        assert row.asDict() == {**before[run_id].asDict(), "wall_ms": None}


def test_snapshot_ids_read_as_strings(spark, tmp_path, monkeypatch):
    """A snapshot id drawn from a small-exponent hex string
    (``0000000e0001``) must not be typed as a number by Spark's
    partition inference (default settings): ``snap`` reads as a
    string.  A numeric-looking id can also spin the read for minutes
    when the exponent is large."""
    import types

    from face_hunter_spark import catalog as catmod

    monkeypatch.setattr(
        catmod.uuid, "uuid4",
        lambda: types.SimpleNamespace(hex="0000000e0001" * 3),
    )
    cat = ParquetCatalog(str(tmp_path / "kg"))
    cat.append("t", spark.createDataFrame([(1,)], "x long"), "r1")
    assert dict(cat.read(spark, "t").dtypes)["snap"] == "string"
    assert [r.snap for r in cat.read(spark, "t").collect()] == [
        cat.snapshots("t")[0]["id"]
    ]


@pytest.mark.slow
def test_streaming_batch_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay re-runs a committed micro-batch through
    run_link_job with the same ``stream-<batch>`` run id.  Every doc
    anti-joins away: no duplicate triples, still one snapshot for the
    run, and its derived lineage unchanged."""
    from face_hunter_spark import streaming
    from face_hunter_spark.hunter import SparkHunter

    docs, gal, ecat = _inputs(spark, n_docs=12)
    in_dir = str(tmp_path / "incoming")
    docs.write.parquet(in_dir)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=N_ENT,
                    gallery_pdf=gal, entity_catalog=ecat)
    streaming.stream_link_documents(h, in_dir, str(tmp_path / "ckpt"))

    def lineage():
        return sorted(
            tuple(r) for r in run_lineage(cat.read(spark, "triples"))
            .where(F.col("run_id") == "stream-000000").collect()
        )

    before = lineage()
    assert sum(r[2] for r in before) == 12

    stats = run_link_job(spark, cat, spark.read.parquet(in_dir), gal, ecat,
                         run_id="stream-000000", n_entities=N_ENT)
    assert stats["n_triples"] == 0 and stats["snapshot"] is None
    tri = cat.read(spark, "triples").select("subj", "pred", "obj")
    assert tri.count() == tri.distinct().count()
    assert [s["run_id"] for s in cat.snapshots("triples")] == ["stream-000000"]
    assert lineage() == before


def test_materialized_triples_are_canonicalized(spark, tmp_path):
    """north_rule: depicts mentions canonicalize to QIDs in the
    committed table — obj keeps the reference's DBpedia-preferred URI,
    obj_canonical carries the component's Wikidata QID; all other
    triples have obj_canonical == obj."""
    docs, gal, ecat = _inputs(spark, n_docs=12)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    tri = cat.read(spark, "triples")
    from face_hunter_spark.schemas import NS
    dep = tri.where(F.col("pred") == NS["foaf_depicts"])
    assert dep.count() > 0
    # every depicted DBpedia URI maps to a wikidata canonical
    db = dep.where(F.col("obj").startswith("http://dbpedia.org"))
    assert db.count() > 0
    bad = db.where(
        ~F.col("obj_canonical").startswith("http://www.wikidata.org")
    ).count()
    assert bad == 0
    # non-depicts rows pass through unchanged (both vocabularies —
    # foaf:depicts and the sdo:depicts alias — are canonicalized)
    rest = tri.where(
        ~F.col("pred").isin(NS["foaf_depicts"], NS["sdo_depicts"])
    )
    assert rest.where(F.col("obj_canonical") != F.col("obj")).count() == 0


def test_entity_counts_salted_rollup(spark, tmp_path):
    """The salted hot-key rollup of depicted entities, read over the
    committed triples, agrees with a plain groupBy."""
    docs, gal, ecat = _inputs(spark, n_docs=10)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    from face_hunter_spark.operators.skew import entity_mention_counts
    from face_hunter_spark.schemas import NS
    got = {
        (r.entity_uri, r.n_scenes)
        for r in entity_mention_counts(cat.read(spark, "triples")).collect()
    }
    plain = {
        (r.obj, r.n)
        for r in cat.read(spark, "triples")
        .where(F.col("pred") == NS["foaf_depicts"])
        .groupBy("obj").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == plain and got


def test_doc_level_sdo_depicts_qids(spark, tmp_path):
    """north_star triple shape: the committed table carries
    (doc, sdo:depicts, QID) rows — video-URI subject (no #t=),
    canonical Wikidata QID object — alongside the scene-level rows."""
    docs, gal, ecat = _inputs(spark, n_docs=10)
    cat = ParquetCatalog(str(tmp_path / "kg"))
    run_link_job(spark, cat, docs, gal, ecat, n_entities=N_ENT)
    from face_hunter_spark.schemas import NS
    tri = cat.read(spark, "triples")
    doc_rows = tri.where(
        (F.col("pred") == NS["sdo_depicts"]) & (~F.col("subj").contains("#t="))
    )
    assert doc_rows.count() > 0
    assert doc_rows.where(
        ~F.col("obj").startswith("http://www.wikidata.org")
    ).count() == 0
    # consistency: doc-level (doc, entity-QID) pairs == the rollup of
    # scene-level foaf:depicts through the canonical map
    expected = {
        (r.v, r.q)
        for r in tri.where(F.col("pred") == NS["foaf_depicts"])
        .select(F.split(F.col("subj"), "#t=").getItem(0).alias("v"),
                F.col("obj_canonical").alias("q")).distinct().collect()
    }
    got = {(r.subj, r.obj) for r in doc_rows.collect()}
    assert got == expected


def test_iceberg_catalog_seam_contract(spark):
    """No Iceberg jar in the sandbox: the constructor must fail loudly
    (not at first write), and the class must expose exactly the
    ParquetCatalog duck-type the pipeline is written against."""
    import inspect

    import pytest

    from face_hunter_spark.catalog import IcebergCatalog, ParquetCatalog

    with pytest.raises(RuntimeError, match="not configured"):
        IcebergCatalog(spark, "nosuch_catalog")
    for meth in ("exists", "snapshots", "append", "read",
                 "read_as_of", "read_incremental", "compact"):
        pq = inspect.signature(getattr(ParquetCatalog, meth))
        ib = inspect.signature(getattr(IcebergCatalog, meth))
        assert list(pq.parameters)[1:] == list(ib.parameters)[1:], meth


def test_time_travel_and_incremental_reads(spark, tmp_path):
    """read_as_of = prefix union (VERSION AS OF analogue);
    read_incremental = exactly the commits in (after, until] — the
    downstream exactly-once consumption primitive."""
    import pytest

    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))
    s1 = cat.append("t", spark.createDataFrame([(1,), (2,)], "x long"), "r1")
    s2 = cat.append("t", spark.createDataFrame([(3,)], "x long"), "r2")
    s3 = cat.append("t", spark.createDataFrame([(4,), (5,)], "x long"), "r3")

    def xs(df):
        return sorted(r["x"] for r in df.collect())

    assert xs(cat.read_as_of(spark, "t", s1)) == [1, 2]
    assert xs(cat.read_as_of(spark, "t", s2)) == [1, 2, 3]
    assert xs(cat.read_as_of(spark, "t", s3)) == [1, 2, 3, 4, 5]
    assert xs(cat.read_incremental(spark, "t", after=s1)) == [3, 4, 5]
    assert xs(cat.read_incremental(spark, "t", after=s1, until=s2)) == [3]
    assert xs(cat.read_incremental(spark, "t", after=s3)) == []
    assert xs(cat.read_incremental(spark, "t")) == [1, 2, 3, 4, 5]
    # schema survives an empty range (incl. the snap partition column
    # that every catalog read exposes)
    assert cat.read_incremental(spark, "t", after=s3).columns == ["x", "snap"]
    with pytest.raises(KeyError):
        cat.read_as_of(spark, "t", "deadbeef0000")
    with pytest.raises(ValueError):
        cat.read_incremental(spark, "t", after=s2, until=s1)


def test_incremental_consumption_of_link_runs(spark, tmp_path):
    """Two link runs on disjoint docs: the incremental read after the
    first commit is exactly the second run's triples."""
    from face_hunter_spark import synth
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.pipeline import run_link_job

    cat = ParquetCatalog(str(tmp_path / "kg"))
    gal = synth.make_gallery_pdf(n_entities=8)
    ecat = synth.entity_catalog_df(spark, n_entities=8)
    docs = synth.documents_df(spark, 8, 8)
    first = docs.filter("doc_id < 'vid_00004'")
    second = docs.filter("doc_id >= 'vid_00004'")
    st1 = run_link_job(spark, cat, first, gal, ecat, n_entities=8)
    st2 = run_link_job(spark, cat, second, gal, ecat, n_entities=8)
    inc = cat.read_incremental(spark, "triples", after=st1["snapshot"])
    assert inc.count() == st2["n_triples"]
    docs_in_inc = {
        r["subj"] for r in inc.select("subj").distinct().collect()
        if "vid_" in r["subj"]
    }
    assert all("vid_0000" in d for d in docs_in_inc)


def test_compaction_preserves_data_and_expires_snapshots(spark, tmp_path):
    """compact() rewrites all commits into one snapshot: full reads are
    unchanged, planning sees ONE directory, expired ids raise, and a
    post-compaction append resumes incremental consumption."""
    import pytest

    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))
    cat.append("t", spark.createDataFrame([(1,), (2,)], "x long"), "r1")
    s2 = cat.append("t", spark.createDataFrame([(3,)], "x long"), "r2")
    cat.append("t", spark.createDataFrame([(4,)], "x long"), "r3")
    before = sorted(r["x"] for r in cat.read(spark, "t").collect())

    new_id = cat.compact(spark, "t", run_id="maint1")
    snaps = cat.snapshots("t")
    assert [s["id"] for s in snaps] == [new_id]
    assert snaps[0]["run_id"] == "maint1"
    assert len(snaps[0]["compacted_from"]) == 3
    assert sorted(r["x"] for r in cat.read(spark, "t").collect()) == before
    with pytest.raises(KeyError):
        cat.read_as_of(spark, "t", s2)  # expired
    # appends keep working; incremental from the compaction snapshot
    cat.append("t", spark.createDataFrame([(5,)], "x long"), "r4")
    inc = cat.read_incremental(spark, "t", after=new_id)
    assert [r["x"] for r in inc.collect()] == [5]
    # idempotent: single-snapshot table compacts to itself
    again = cat.compact(spark, "t")
    assert again in {s["id"] for s in cat.snapshots("t")}


def test_overwrite_grace_period_defers_old_dir_deletion(spark, tmp_path):
    """review r5: overwrite used to rmtree replaced snapshot dirs
    immediately after the manifest flip, so a concurrent reader that
    resolved paths from the pre-flip manifest could fail mid-scan with
    missing files.  With expire_grace_seconds set, the replaced dirs
    survive the flip (a pre-flip plan still scans), leave the manifest
    (new readers never see them), and are deleted only by a later
    expire_snapshots past the grace window."""
    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"), expire_grace_seconds=3600)
    old = cat.append(
        "t", spark.createDataFrame([(1,), (2,)], "x long"), "r1"
    )
    # a reader plans against the pre-flip manifest (lazy — no scan yet)
    pre_flip_reader = cat.read(spark, "t")
    cat.overwrite(
        "t", spark.createDataFrame([(9,)], "x long"), "r2"
    )
    old_dir = os.path.join(str(tmp_path / "kg"), "t", "data", f"snap={old}")
    assert os.path.isdir(old_dir)  # deferred, not deleted at the flip
    # the in-flight reader still completes against its resolved files
    assert sorted(r["x"] for r in pre_flip_reader.collect()) == [1, 2]
    # new readers see only the post-flip state
    assert [r["x"] for r in cat.read(spark, "t").collect()] == [9]
    # inside the grace window the sweep removes nothing...
    assert cat.expire_snapshots("t") == []
    assert os.path.isdir(old_dir)
    # ...past it (grace override = 0) the dir goes and the manifest's
    # expired ledger drains; a second sweep is an idempotent no-op
    assert cat.expire_snapshots("t", grace_seconds=0) == [old]
    assert not os.path.exists(old_dir)
    assert cat.expire_snapshots("t", grace_seconds=0) == []
    # default grace 0 keeps the old single-process semantics: dirs
    # vanish at the commit itself
    cat0 = ParquetCatalog(str(tmp_path / "kg0"))
    o2 = cat0.append("t", spark.createDataFrame([(1,)], "x long"), "r1")
    cat0.overwrite("t", spark.createDataFrame([(2,)], "x long"), "r2")
    assert not os.path.exists(
        os.path.join(str(tmp_path / "kg0"), "t", "data", f"snap={o2}")
    )


def test_append_keeps_expired_ledger(spark, tmp_path):
    """An append after an overwrite keeps the manifest's ledger of
    replaced snapshots, so a later expire_snapshots still removes their
    directories instead of leaking them."""
    cat = ParquetCatalog(str(tmp_path / "kg"), expire_grace_seconds=3600)
    old = cat.append("t", spark.createDataFrame([(1,)], "x long"), "r1")
    cat.overwrite("t", spark.createDataFrame([(2,)], "x long"), "r2")
    cat.append("t", spark.createDataFrame([(3,)], "x long"), "r3")
    assert cat.expire_snapshots("t", grace_seconds=0) == [old]
    assert sorted(r["x"] for r in cat.read(spark, "t").collect()) == [2, 3]


def test_sorted_append_tightens_file_stats(spark, tmp_path):
    """sort_by gives each parquet file near-disjoint min/max footer
    stats on the sort key — the file-skipping layout — and changes no
    data."""
    import glob

    import pyarrow.parquet as pq

    from face_hunter_spark.catalog import ParquetCatalog

    df = (
        spark.range(40_000)
        .selectExpr("concat('s', lpad(cast(pmod(id * 7919, 40000) as string), 6, '0')) AS subj",
                    "id AS v")
        .repartition(8)
    )

    def ranges(root):
        out = []
        for f in glob.glob(f"{root}/data/snap=*/part-*.parquet"):
            md = pq.read_metadata(f)
            col = md.row_group(0).column(0)
            assert col.path_in_schema == "subj"
            lo = min(md.row_group(i).column(0).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(0).statistics.max
                     for i in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    def overlap_count(rs):
        n = 0
        for i, (lo, hi) in enumerate(rs):
            for lo2, hi2 in rs[i + 1:]:
                if lo <= hi2 and lo2 <= hi:
                    n += 1
        return n

    unsorted = ParquetCatalog(str(tmp_path / "plain"))
    unsorted.append("t", df, "r1")
    srt = ParquetCatalog(str(tmp_path / "sorted"))
    srt.append("t", df, "r1", sort_by=["subj"], sort_partitions=8)

    ru, rs = ranges(str(tmp_path / "plain/t")), ranges(str(tmp_path / "sorted/t"))
    assert len(ru) > 2 and len(rs) > 2
    # unsorted: every file spans ~the whole key range -> all pairs
    # overlap; range-clustered files cover disjoint slices (range
    # boundaries are sampled, so allow a stray touching pair)
    assert overlap_count(ru) == len(ru) * (len(ru) - 1) // 2
    assert overlap_count(rs) <= len(rs) // 4
    # data unchanged
    a = sorted(r["subj"] for r in unsorted.read(spark, "t").collect())
    b = sorted(r["subj"] for r in srt.read(spark, "t").collect())
    assert a == b


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """A doc_bucket-partitioned table (the production triples layout)
    must stay partitioned — and readable — through compact + a further
    partitioned append.  (Regression: an unpartitioned rewrite made
    the next partitioned append unreadable with
    CONFLICTING_PARTITION_COLUMN_NAMES.)"""
    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS v", "cast(pmod(id, 4) as int) AS doc_bucket"
        )

    cat.append("t", batch(0, 50), "r1", partition_by=["doc_bucket"])
    cat.append("t", batch(50, 80), "r2", partition_by=["doc_bucket"])
    new_id = cat.compact(spark, "t")
    # layout auto-detected and preserved
    assert cat._detect_partitioning("t", new_id) == ["doc_bucket"]
    assert cat.read(spark, "t").count() == 80
    # one parquet file per bucket in the rewritten snapshot
    buckets = list((tmp_path / "kg/t/data" / f"snap={new_id}").glob(
        "doc_bucket=*"))
    assert len(buckets) == 4
    for d in buckets:
        assert len(list(d.glob("*.parquet"))) == 1, d
    # the killer path: another partitioned append, then a full read
    cat.append("t", batch(80, 90), "r3", partition_by=["doc_bucket"])
    got = cat.read(spark, "t")
    assert got.count() == 90
    assert got.filter("doc_bucket = 2").count() == 22


def test_compaction_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """A commit landing between compact's snapshot read and its
    manifest flip must abort the compaction loudly and leave the table
    fully intact (no resurrection of deleted dirs, no lost commit)."""
    import pytest

    from face_hunter_spark import catalog as catmod

    cat = catmod.ParquetCatalog(str(tmp_path / "kg"))
    cat.append("t", spark.createDataFrame([(1,)], "x long"), "r1")
    cat.append("t", spark.createDataFrame([(2,)], "x long"), "r2")

    real_read = catmod.ParquetCatalog.read
    state = {"raced": False}

    def racing_read(self, spk, table):
        df = real_read(self, spk, table)
        if not state["raced"]:
            state["raced"] = True
            # concurrent append between compact's read and its flip
            cat.append("t", spark.createDataFrame([(3,)], "x long"), "race")
        return df

    monkeypatch.setattr(catmod.ParquetCatalog, "read", racing_read)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        cat.compact(spark, "t")
    monkeypatch.setattr(catmod.ParquetCatalog, "read", real_read)
    # nothing lost, nothing broken
    assert sorted(r["x"] for r in cat.read(spark, "t").collect()) == [1, 2, 3]
    assert len(cat.snapshots("t")) == 3


def test_compaction_can_recluster(spark, tmp_path):
    """compact(sort_by=...) restores the file-skipping layout."""
    import glob

    import pyarrow.parquet as pq

    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))
    df = spark.range(20_000).selectExpr(
        "concat('s', lpad(cast(pmod(id * 7919, 20000) as string), 6, '0')) AS subj"
    ).repartition(4)
    cat.append("t", df.filter("subj < 's010000'"), "r1")
    cat.append("t", df.filter("subj >= 's010000'"), "r2")
    new_id = cat.compact(spark, "t", sort_by=["subj"], sort_partitions=6)
    files = glob.glob(str(tmp_path / "kg/t/data") + f"/snap={new_id}/part-*.parquet")
    assert len(files) >= 4
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        st = md.row_group(0).column(0).statistics
        ranges.append((st.min, st.max))
    ranges.sort()
    overlaps = sum(
        1 for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]) if l2 <= h1
    )
    assert overlaps <= 1  # near-disjoint adjacent ranges
