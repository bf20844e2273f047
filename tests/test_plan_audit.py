"""Physical-plan audits: the properties that matter at 100 TB are
visible in the plan, so assert them — filters reach the parquet scan,
column pruning holds, dimension joins broadcast, the relational glue
stays in whole-stage codegen, and the hot pipeline never collapses to
single-partition exchanges."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR, run_in_job_group

from tests.conftest import requires_testdata

pytestmark = requires_testdata


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE prints WholeStageCodegen spans only in the final plan
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .where(F.col("l_quantity") > 10)
        .select("l_returnflag", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .count()
    )
    plan = plan_of(df)
    # ReadSchema must contain ONLY the grouped column
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema
    assert "l_extendedprice" not in read_schema and "l_quantity" not in read_schema


def test_dim_joins_broadcast(spark):
    import face_hunter_spark.driver_queries as DQ

    plan = plan_of(DQ.q_star_join_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_relational_glue_in_codegen(spark):
    import face_hunter_spark.driver_queries as DQ

    plan = plan_of(DQ.q_pricing_summary(spark, SF_DIR), execute=True)
    # '*(n)' prefixes mark WholeStageCodegen spans in the compact form
    assert "*(1)" in plan and "*(2)" in plan
    assert "BatchScan" in plan or "FileScan" in plan


def test_pipeline_plan_shape(spark):
    """The flagship pipeline: exactly one grouped-Python stage, no
    duplicated scene subtree, a broadcast join for the entity catalog,
    and no non-broadcast exchange with partitioning=1."""
    import __spark_entry__ as em

    plan = plan_of(em._kg_pipeline(spark, "/root/testdata/sf0.001"))
    assert plan.count("FlatMapGroupsInPandas") <= 1
    assert plan.count("MapInPandas") <= 2
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange SinglePartition" in line:
            pytest.fail(f"single-partition exchange in hot path: {line}")


def python_stages(df) -> list[str]:
    """The Python-worker nodes (``*InPandas`` / ``*EvalPython``) of
    ``df``'s physical plan, one entry per node.  A cached relation
    referenced more than once is one computation, so its plan is
    walked once."""
    jvm = df.sparkSession._jvm
    seen: set[int] = set()
    found: list[str] = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name == "InMemoryTableScan":
            builder = jvm.System.identityHashCode(
                node.relation().cacheBuilder())
            if builder not in seen:
                seen.add(builder)
                walk(node.relation().cachedPlan())
        if "InPandas" in name or "EvalPython" in name:
            found.append(node.simpleString(25))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def _link_small(spark, cat):
    from face_hunter_spark import synth
    from face_hunter_spark.pipeline import run_link_job
    from face_hunter_spark.schemas import ENTITY_CATALOG

    return run_link_job(
        spark, cat,
        synth.documents_df(spark, 20, 8),
        synth.make_gallery_pdf(n_entities=8, thumbs_per_entity=4, distractors=1),
        spark.createDataFrame(
            synth.make_entity_catalog_pdf(n_entities=8, distractors=1),
            ENTITY_CATALOG,
        ),
        n_entities=8,
    )


def test_committed_frame_runs_each_python_stage_once(
    spark, tmp_path, monkeypatch
):
    """The frame a link run commits evaluates its lineage once: the
    decode+embed+link stage and the scene kernel each appear once,
    counting the cached canonicalized rows' plan once — not once per
    predicate split or per doc-level-row derivation."""
    from face_hunter_spark import pipeline
    from face_hunter_spark.catalog import ParquetCatalog

    stages = {}
    commit = pipeline.commit_run

    def audit(catalog, triples, run_id, t_start):
        stages["plan"] = python_stages(triples)
        return commit(catalog, triples, run_id, t_start)

    monkeypatch.setattr(pipeline, "commit_run", audit)
    stats = _link_small(spark, ParquetCatalog(str(tmp_path / "kg")))
    assert stats["n_triples"] > 0
    found = stages["plan"]
    assert all(s.startswith("MapInPandas") for s in found), found
    assert len(found) == 2, found
    assert sum("face_idx" in s for s in found) == 1  # decode+embed+link
    assert sum("scene_idx" in s for s in found) == 1  # scene kernel


def test_triples_write_partitioning(spark, tmp_path):
    """Committed triple snapshots are physically partitioned by
    doc_bucket (partition pruning on the read path), one parquet file
    per bucket directory, written by defaultParallelism tasks — AQE
    does not coalesce the write of a small multi-bucket append to one
    task."""
    import os

    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))
    _, jobs = run_in_job_group(spark, lambda: _link_small(spark, cat))
    # the append's write is the run's last job; its result stage last
    assert jobs[-1]["tasks"][-1] == spark.sparkContext.defaultParallelism
    snap_dirs = os.listdir(str(tmp_path / "kg/triples/data"))
    assert len(snap_dirs) == 1
    snap_dir = str(tmp_path / "kg/triples/data") + "/" + snap_dirs[0]
    buckets = [d for d in os.listdir(snap_dir) if d.startswith("doc_bucket=")]
    assert len(buckets) > 1
    for d in buckets:
        files = [f for f in os.listdir(os.path.join(snap_dir, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # and partition pruning: a doc_bucket filter prunes the scan
    df = cat.read(spark, "triples").where(F.col("doc_bucket") == 3)
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "doc_bucket" in plan

def test_minhash_candidate_join_is_equijoin(spark):
    """The LSH candidate join must be an equi-join on the band bucket —
    never a cartesian/nested-loop pair enumeration."""
    from face_hunter_spark.operators import dedup

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(dedup.minhash_lsh_pairs(df, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def formatted_plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_minhash_candidate_exchange_carries_no_arrays(spark):
    """The widest stage of minhash LSH is the band-bucket exchange; the
    shingle-hash arrays must NOT ride through it (they are fetched per
    surviving candidate pair afterwards).  Assert every exchange that
    hash-partitions on the bucket key inputs only scalar columns."""
    from face_hunter_spark.operators import dedup

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(dedup.minhash_lsh_pairs(df, threshold=0.9))
    checked = 0
    for block in plan.split("\n("):
        if "Exchange" not in block.splitlines()[0]:
            continue
        if "hashpartitioning(bucket" not in block:
            continue
        checked += 1
        input_lines = [ln for ln in block.splitlines()
                       if ln.startswith("Input")]
        for ln in input_lines:
            assert "sh#" not in ln and "sh_a#" not in ln and "sh_b#" not in ln, (
                f"array column crosses the bucket exchange: {ln}"
            )
    assert checked >= 1, "expected at least one bucket exchange in the plan"


def test_islands_scene_variant_is_pure_jvm(spark):
    """The Spark-native scene variant must compile to window+agg only —
    zero Python workers in the plan."""
    import face_hunter_spark.driver_queries as DQ

    plan = plan_of(DQ.q_scene_islands(spark, SF_DIR))
    assert "InPandas" not in plan and "PythonUDF" not in plan


def test_scene_stage_fans_out(spark):
    """extract_scenes_from_faces repartitions the packed rows so the
    Python kernel never runs on an AQE-coalesced 1-2 partition
    exchange."""
    from face_hunter_spark.operators.scenes import extract_scenes_from_faces

    faces = spark.createDataFrame(
        [("d", f, f * 1000.0, 0, "A") for f in range(4)],
        "doc_id string, frame_no int, ts_ms double, face_idx int, "
        "label string",
    )
    plan = plan_of(extract_scenes_from_faces(faces))
    # explicit-count round-robin repartition feeds the Python stage
    assert "MapInPandas" in plan
    assert "RoundRobinPartitioning" in plan or "REPARTITION_BY_NUM" in plan


def test_ensure_parallelism_skips_already_wide_input(spark):
    """Partitioning-aware fan-out: an input already hash-partitioned
    at or above the target width (on the requested key) passes through
    with NO new Exchange; a narrow file scan still fans out."""
    from face_hunter_spark.operators.util import ensure_parallelism

    target = spark.sparkContext.defaultParallelism * 2
    wide = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .repartition(target, "doc_id")
    )
    same = ensure_parallelism(wide, by="doc_id")
    assert same is wide  # no plan change at all
    assert plan_of(same).count("Exchange") == plan_of(wide).count("Exchange")

    # wide but keyed differently than requested -> must still reshuffle
    other = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .repartition(target, "text")
    )
    rekeyed = ensure_parallelism(other, by="doc_id")
    assert rekeyed is not other

    # narrow scan (UnknownPartitioning) -> fans out as before
    narrow = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fanned = ensure_parallelism(narrow, by="doc_id")
    assert fanned is not narrow
    assert "Exchange hashpartitioning" in plan_of(fanned)


def test_shacl_pred_filters_push_to_scan(spark, tmp_path):
    """Each SHACL shape touches only its predicate's slice: the pred
    equality must reach the parquet scan as a pushed filter, and the
    class-membership checks must be hash joins (never nested-loop)."""
    from face_hunter_spark.operators.shacl import validate

    path = str(tmp_path / "triples.parquet")
    spark.createDataFrame(
        [(f"s{i}", "ex:p" if i % 2 else "rdf:type", f"o{i}")
         for i in range(64)],
        "subj string, pred string, obj string",
    ).write.parquet(path)
    tri = spark.read.parquet(path)
    rep = validate(
        tri,
        [{"id": "d", "kind": "domain", "pred": "ex:p", "cls": "ex:T"},
         {"id": "m", "kind": "max_count", "pred": "ex:p", "n": 1}],
        rdf_type="rdf:type",
    )
    plan = plan_of(rep)
    assert "PushedFilters: [" in plan and "EqualTo(pred,ex:p)" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_transe_epoch_plan_shape(spark, tmp_path):
    """The TransE epoch's scale contract: the corruption fan-out joins
    the broadcast vocabulary and the gradient exchange is hash
    aggregation (map-side partial sums on the COO rows) — never a
    nested-loop join against the parameter tables, and no
    single-partition exchange anywhere in the update path."""
    from face_hunter_spark.operators.transe import transe_epoch

    path = str(tmp_path / "kg.parquet")
    spark.createDataFrame(
        [(f"c{i}", "in", f"n{i % 5}") for i in range(64)],
        "subj string, pred string, obj string",
    ).write.parquet(path)
    ent, _rel = transe_epoch(spark.read.parquet(path), dim=4, k_neg=2)
    plan = plan_of(ent)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # COO gradient sums arrive pre-combined: partial then merge
    assert "partial_sum" in plan or "HashAggregate" in plan
    assert "SinglePartition" not in plan


def test_lpa_and_common_neighbors_plan_shape(spark):
    """The new graph ops' scale contracts: every LPA round is hash
    joins + hash aggregation (no nested loops, no single-partition
    exchange); the common-neighbor wedge join is an equi-join on the
    shared-neighbor key with map-side-combined counts."""
    from face_hunter_spark.operators.graph import (
        common_neighbors,
        label_propagation,
    )

    e = spark.createDataFrame(
        [(f"a{i}", f"b{i % 7}") for i in range(64)],
        "src string, dst string",
    )
    plan = plan_of(label_propagation(e, n_iter=1))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan

    plan2 = plan_of(common_neighbors(e))
    assert "BroadcastNestedLoopJoin" not in plan2
    assert "CartesianProduct" not in plan2
    assert "SinglePartition" not in plan2
    assert "HashAggregate" in plan2  # counted wedges, partial+final


def test_beyond_broadcast_gallery_join_never_replicates(spark):
    """The over-budget gallery path (VERDICT r4 #2): with auto-broadcast
    disabled, the LSH candidate join compiles to a SHUFFLED cogroup on
    the band bucket — no BroadcastExchange anywhere, both sides stream
    — and returns the same labels as the fused broadcast LSH matcher
    (``MATCHERS['lsh']`` inside ``detect_embed_link``)."""
    from face_hunter_spark import synth
    from face_hunter_spark.operators import linking
    from face_hunter_spark.operators.vision import (
        detect_embed_faces, detect_embed_link,
    )
    from face_hunter_spark.operators.spans import media_frames
    from face_hunter_spark.schemas import DOCUMENTS, GALLERY

    docs = spark.createDataFrame(
        synth.make_documents_pdf(8, 6), DOCUMENTS
    )
    gal_pdf = synth.make_gallery_pdf(n_entities=6, thumbs_per_entity=4,
                                     distractors=1)
    gal = spark.createDataFrame(gal_pdf, GALLERY)
    faces = detect_embed_faces(media_frames(docs), n_entities=6)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = linking.link_lsh(faces, gal)
        plan = plan_of(shuffled)
        assert "BroadcastExchange" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        got = sorted(
            map(tuple, shuffled.select(
                "doc_id", "frame_no", "face_idx", "label").collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    payload, _ = linking.gallery_payload(
        "lsh", linking._gallery_arrays(gal_pdf)
    )
    fused = detect_embed_link(
        media_frames(docs), spark.sparkContext.broadcast(payload),
        n_entities=6, matcher="lsh",
    )
    want = sorted(
        map(tuple, fused.select(
            "doc_id", "frame_no", "face_idx", "label").collect())
    )
    assert got == want and len(got) > 0


def test_ivf_centroid_numbering_reads_only_the_limit(spark):
    """``ivf_topk_expr`` numbers its centroids after taking the first
    n_cells corpus rows: each unpartitioned row_number Window reads a
    TakeOrderedAndProject(limit=n_cells), so the corpus never moves to
    one partition.  2048 cells is above the optimizer's own
    window-limit rewrite (``spark.sql.optimizer.
    windowGroupLimitThreshold``, 1000), so the plan shows what the code
    asks for, not what the optimizer infers."""
    from face_hunter_spark.operators.similarity import ivf_topk_expr

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 11) - 5.0 for j in range(4)])
         for i in range(64)],
        "id long, embedding array<float>",
    )
    out = ivf_topk_expr(
        df.where("id < 8").withColumnRenamed("id", "q_id"),
        df.withColumnRenamed("id", "c_id"), k=3, n_cells=2048, n_probe=3,
    )
    lines = plan_of(out).splitlines()
    numbering = [i for i, line in enumerate(lines)
                 if "Window [" in line and "AS cent_idx" in line]
    assert numbering
    for i in numbering:
        assert "TakeOrderedAndProject(limit=2048," in lines[i + 1]
    assert not any("SinglePartition" in line for line in lines)
