"""Every public top-level function or class in ``face_hunter_spark/``
has a caller outside ``tests/``, or is on the allow-list below with a
reason.  A second physical form of an operator that only its own test
runs (a streaming twin of a batch kernel, a pandas-UDF twin of a
built-in-expression form) is cost without a caller; this keeps such
forms from coming back unnoticed.  Spark-free: parses the files with
``ast`` only.

A name counts as referenced when an ``ast.Name``, an ``ast.Attribute``
or an import alias uses it in a non-test source file.  Uses inside the
definition's own body (recursion, a class naming itself) do not count;
docstrings and comments are not names, so they never count."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "face_hunter_spark"
SOURCE_DIRS = [PACKAGE, "jobs", "scripts", "perfbench"]

# Public names with no non-test caller that stay, keyed by module path
# under face_hunter_spark/, each with the reason it stays.
ALLOWED = {
    # user entry points
    "catalog.IcebergCatalog":
        "the catalog's Iceberg backend, same duck type as ParquetCatalog",
    "catalog.snapshot_diff": "what changed between two committed snapshots",
    "enrich.save_gallery":
        "the only way to seed the gallery table run_relink_job reads",
    "operators.vision.register_encoder": "the production face-encoder seam",
    "pipeline.run_lineage":
        "per-bucket lineage derived from the committed triples",
    "pipeline.run_metrics": "per-run metrics read from the snapshot summaries",
    "sources.gallery_from_binaries":
        "the reference's create_embeddings over image files",
    "sources.read_entity_catalog_csv":
        "reads the reference's Thumbnails_links.csv entity catalog",
    "sources.read_eval_manifest_csv":
        "reads the reference's information.csv ground truth",
    "streaming.stream_link_documents":
        "incremental ingestion, one SparkHunter.link per micro-batch",
    "streaming.windowed_mention_counts":
        "event-time windowed counts over a mention stream",
    "operators.rdf.read_n3_sharded":
        "reads the shard layout export_n3_sharded writes",
    # references that tests compare against
    "operators.similarity.cosine_topk":
        "exact top-k the ANN forms' recall is measured against",
    "operators.metrics.per_file_metrics":
        "the reference's per-file evaluation",
    "operators.metrics.video_level_accuracy":
        "the reference's video-level evaluation",
    "reference_oracle.precision_recall":
        "set precision/recall the oracle tests score with",
    # fixture generators
    "synth.documents_df": "synthetic documents as a Spark DataFrame",
    "synth.entity_catalog_df": "synthetic entity catalog as a Spark DataFrame",
}


def _sources():
    files = [p for d in SOURCE_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    return files + sorted(ROOT.glob("*.py"))


def _used_names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname


def _scan():
    """(public top-level definitions of the package as
    {qualified name: (name, owner)}, {name: owners that use it}).
    An owner is (file, top-level def name), or (file, None) for
    module-level code."""
    defs, uses = {}, {}
    for path in _sources():
        rel = path.relative_to(ROOT)
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            name = None
            if isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                name = top.name
                if rel.parts[0] == PACKAGE and not name.startswith("_"):
                    module = ".".join(rel.with_suffix("").parts[1:])
                    defs[f"{module}.{name}"] = (name, (rel, name))
            for used in _used_names(top):
                uses.setdefault(used, set()).add((rel, name))
    return defs, uses


def test_every_public_definition_has_a_caller():
    defs, uses = _scan()
    assert len(defs) > 100
    orphans = sorted(
        q for q, (name, owner) in defs.items()
        if not uses.get(name, set()) - {owner} and q not in ALLOWED
    )
    assert orphans == [], "no caller outside tests/: " + ", ".join(orphans)


def test_allow_list_is_current():
    """An allowed name that gained a caller or was deleted leaves the
    list."""
    defs, uses = _scan()
    stale = sorted(
        q for q in ALLOWED
        if q not in defs or uses.get(defs[q][0], set()) - {defs[q][1]}
    )
    assert stale == [], "stale allow-list entries: " + ", ".join(stale)
