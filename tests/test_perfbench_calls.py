"""The benchmark harness under ``perfbench/`` is frozen and calls engine
internals by name and call shape.  Bind each of those calls against the
engine's current signatures, without a Spark session, so a renamed
function or a dropped parameter fails here instead of in the traced
benchmark smoke."""

import inspect

import pytest

from face_hunter_spark import fakevision as fv
from face_hunter_spark import query as Q
from face_hunter_spark.catalog import ParquetCatalog
from face_hunter_spark.hunter import SparkHunter
from face_hunter_spark.operators import linking, scenes, spans, vision
from face_hunter_spark.operators import triples as T
from face_hunter_spark.operators.align import align_crops_batch
from face_hunter_spark.operators.skew import entity_mention_counts
from face_hunter_spark.operators.sparql import execute, parse
from face_hunter_spark.operators.util import ensure_parallelism
from face_hunter_spark.pipeline import canonicalized_triples, run_link_job
from face_hunter_spark.reference_oracle import oracle_triples
from face_hunter_spark.serve import _rows
from face_hunter_spark.session import build_session

_ = object()  # any argument value: binding checks names and arity only

# (callee, positional args, keyword args), one per call shape in
# perfbench/run.py, layers.py, probes.py and gen.py
CALLS = [
    # run.py
    (build_session, (), dict(master=_, shuffle_partitions=_, extra_conf=_)),
    (SparkHunter, (_, _), dict(n_entities=_, gallery_pdf=_,
                               entity_catalog=_)),
    (SparkHunter.link, (_, _), {}),
    (SparkHunter.sparql, (_, _), {}),
    (_rows, (_,), {}),
    (oracle_triples, (_, _, _), dict(n_entities=_)),
    # layers.py
    (ParquetCatalog.exists, (_, "triples"), {}),
    (ParquetCatalog.read, (_, _, "triples"), {}),
    (ParquetCatalog.append, (_, "triples", _, _), dict(partition_by=_)),
    (ParquetCatalog.append, (_, "lineage", _, _), {}),
    (ensure_parallelism, (_,), dict(by="doc_id")),
    (spans.media_frames, (_,), {}),
    (linking._gallery_arrays, (_,), {}),
    (vision.detect_embed_link, (_, _, _), dict(n_entities=_)),
    (scenes.extract_scenes_from_faces, (_,), dict(frame_threshold=_)),
    (T.with_partitioning, (_, _), {}),
    (T.video_triples, (_,), {}),
    (T.scene_triples, (_, _), {}),
    (canonicalized_triples, (_, _, _), {}),
    (entity_mention_counts, (_,), {}),
    (Q.register_views, (_, _), dict(canon=_, suffix=_)),
    (parse, (_,), {}),
    (execute, (_, _), dict(graph_uri=_)),
    (run_link_job, (_, _, _, _, _), dict(canon=_, n_entities=_)),
    # probes.py
    (fv.frame_faces, (_, _, _), {}),
    (fv.face_seed, (_, _, _), {}),
    (fv.embed_faces_batch, (_, _, _), {}),
    (fv.face_crops_batch, (_,), {}),
    (fv.face_keypoints_rel_batch, (_,), {}),
    (align_crops_batch, (_, _), {}),
    (linking.lsh_payload_from_arrays, (_, _, _), {}),
    (linking.lsh_score_batch, (_, _, _), {}),
    # gen.py
    (fv._h, (_,), {}),
    (fv.entity_names, (_,), {}),
    (fv.gallery_embedding, (_, _), {}),
]


@pytest.mark.parametrize(
    "fn, args, kwargs", CALLS,
    ids=[f"{fn.__qualname__}-{i}" for i, (fn, _a, _k) in enumerate(CALLS)],
)
def test_perfbench_call_binds(fn, args, kwargs):
    inspect.signature(fn).bind(*args, **kwargs)


def test_perfbench_reads_hunter_state():
    """perfbench reads these handle attributes directly (the traced
    link and sparql reuse the handle's canonical map and views)."""
    init = inspect.getsource(SparkHunter.__init__)
    for attr in ("spark", "catalog", "_canon", "_view_suffix", "graph_uri"):
        assert f"self.{attr} = " in init, attr
    assert isinstance(fv.EMBED_DIM, int)
    assert isinstance(fv.JITTER_SIGMA, float)
