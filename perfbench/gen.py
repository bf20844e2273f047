"""Seeded inputs for the benchmark workloads.

The program receives only DataFrames built here.  ``--seed`` sets the
document corpus (doc ids carry the seed, so each seed links a
different corpus) and the doc sample the oracle checks; the gallery
and entity catalog are fixed per workload.  Frame contents come from
``fakevision``, the deterministic stand-in for decode and embed that
the engine and its reference oracle share, so a doc id fully decides
what the vision stage sees.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from face_hunter_spark import fakevision as fv

N_ENTITIES = 20          # entities that appear in documents
THUMBS_PER_ENTITY = 8
CATALOG_DISTRACTORS = 3  # gallery entities that never appear in documents
#: gallery-only distractor entities beyond the catalog's, per workload
EXTRA_DISTRACTORS = {
    "link_bulk": 0,              # 184 vectors: matching is nearly free
    "link_large_gallery": 6247,  # 50,160 vectors, a 100 MB payload
}
DOCS_PER_LINK = 60       # documents committed by the measured link
ORACLE_SAMPLE = 8        # documents checked against the oracle

_WORDS = ("the a of and video scene shows interview with talks about "
          "press premiere festival stage crowd news clip footage").split()


def documents_pdf(seed: int, n_docs: int = DOCS_PER_LINK) -> pd.DataFrame:
    """(doc_id, spans) rows in the ``synth.make_documents_pdf`` shape:
    a text span, then runs of 2-6 media spans separated by text spans,
    8-32 frames per doc.  Frame counts and run lengths hash the doc id,
    so they change with the seed."""
    rows = []
    for i in range(n_docs):
        doc_id = f"s{seed}_{i:05d}"
        h = fv._h("doc/" + doc_id)
        n_frames = 8 + h % 25
        spans = [{"kind": "text", "media_ref": None, "offset": 0,
                  "text": f"Entity {h % N_ENTITIES:03d} {_WORDS[h % 17]}"}]
        frame_no = 0
        while frame_no < n_frames:
            run = 2 + fv._h(f"mr/{doc_id}/{frame_no}") % 5
            for _ in range(min(run, n_frames - frame_no)):
                spans.append({"kind": "media", "text": None,
                              "media_ref": f"frame://{doc_id}/{frame_no}",
                              "offset": len(spans)})
                frame_no += 1
            spans.append({"kind": "text", "media_ref": None,
                          "offset": len(spans),
                          "text": " ".join(_WORDS[(h >> k) % 17]
                                           for k in range(4))})
        rows.append({"doc_id": doc_id, "spans": spans})
    return pd.DataFrame(rows)


def dbpedia_uri(label: str) -> str:
    return "http://dbpedia.org/resource/" + label.replace(" ", "_")


def wikidata_uri(label: str) -> str:
    qid = 100000 + fv._h("qid/" + label) % 900000
    return f"http://www.wikidata.org/entity/Q{qid}"


def gallery_pdf(workload: str) -> pd.DataFrame:
    """One row per thumbnail (gallery_id, label, entity_uri, embedding).

    The catalog's 23 entities get ``fakevision`` thumbnails, as in
    ``synth.make_gallery_pdf``.  The extra distractors of the large
    gallery are drawn in one vectorized batch (random 512-d prototypes,
    the same jitter): the gallery's contents only need to be the same
    for the engine and the oracle.  Embeddings stay float32 arrays; at
    50k rows a Python-list column would cost ~1 GB of driver memory."""
    rows = []
    for label in fv.entity_names(N_ENTITIES + CATALOG_DISTRACTORS):
        for t in range(THUMBS_PER_ENTITY):
            rows.append((label, fv.gallery_embedding(label, t)))
    n_extra = EXTRA_DISTRACTORS[workload]
    if n_extra:
        rng = np.random.default_rng(0)
        base = rng.standard_normal((n_extra, 1, fv.EMBED_DIM), np.float32)
        base *= np.float32(4.6) / np.linalg.norm(base, axis=2, keepdims=True)
        thumbs = base + rng.standard_normal(
            (n_extra, THUMBS_PER_ENTITY, fv.EMBED_DIM), np.float32
        ) * np.float32(fv.JITTER_SIGMA)
        for i, label in enumerate(fv.entity_names(
                N_ENTITIES + CATALOG_DISTRACTORS + n_extra)[-n_extra:]):
            rows.extend((label, v) for v in thumbs[i])
    out = pd.DataFrame(rows, columns=["label", "embedding"])
    out.insert(0, "gallery_id", np.arange(len(out), dtype=np.int64))
    out.insert(2, "entity_uri", out["label"].map(dbpedia_uri))
    return out


def entity_catalog_pdf() -> pd.DataFrame:
    """A DBpedia and a Wikidata row per catalog entity sharing one name
    (the same-as edges canonicalization follows); every ninth entity is
    Wikidata-only so both URI preferences are exercised.  Gallery-only
    distractors have no catalog rows, so both workloads share it."""
    rows = []
    names = fv.entity_names(N_ENTITIES + CATALOG_DISTRACTORS)
    for i, label in enumerate(names):
        nn = label.lower().replace(" ", "_")
        if i % 9 != 8:
            rows.append((dbpedia_uri(label), label, nn, "dbpedia"))
        rows.append((wikidata_uri(label), label, nn, "wikidata"))
    return pd.DataFrame(rows, columns=["entity", "name", "norm_name",
                                       "source_kg"])


def oracle_sample(seed: int, docs: pd.DataFrame) -> pd.DataFrame:
    """The seeded doc sample whose committed triples are checked."""
    ids = random.Random(seed).sample(list(docs["doc_id"]), ORACLE_SAMPLE)
    return docs[docs["doc_id"].isin(ids)].reset_index(drop=True)
