"""Spark-free faces/s/core of the exact matchers on the benchmark's
galleries and faces: the whole-gallery GEMM (one faces x gallery
matmul + argmin, the formula ``MATCHERS['bruteforce']`` used before it
was pruned), the pivot-bound ``MATCHERS['bruteforce']`` search, and
``linking.lsh_score_batch``.

The faces are the ones one seeded 60-doc ``perfbench`` link embeds
(``fakevision`` decides them from the doc ids), scored as one batch on
one BLAS thread; each time is the best of ``--repeat`` runs.  Also
reports the driver-side build time and the bytes the pivot index adds
to the broadcast payload, and whether the pruned search returns the
GEMM's labels.

Usage: python scripts/exact_link_probe.py [--seed 1] [--repeat 5]
Prints one JSON object.
"""

from __future__ import annotations

import os

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from face_hunter_spark import fakevision as fv  # noqa: E402
from face_hunter_spark.operators import linking  # noqa: E402
from perfbench import gen  # noqa: E402

THRESHOLD = 0.6


def bench_faces(seed: int) -> np.ndarray:
    """Embeddings of every face the seed's 60 docs show, in frame order."""
    docs = gen.documents_pdf(seed)
    seeds, ents = [], []
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        rl = fv.run_length(doc_id)
        for s in spans:
            if s["kind"] != "media":
                continue
            f = int(s["media_ref"].rsplit("/", 1)[1])
            for j, (kind, ent) in enumerate(
                    fv.run_faces(doc_id, f // rl, gen.N_ENTITIES)):
                seeds.append(fv.face_seed(doc_id, f, j))
                ents.append(-1 if kind == "unknown" else ent)
    return fv.embed_faces_batch(np.array(seeds, dtype=np.uint64),
                                np.array(ents), gen.N_ENTITIES)


def best_of(fn, repeat: int):
    best, out = float("inf"), None
    for _ in range(repeat):
        t = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t)
    return best, out


def probe(workload: str, q: np.ndarray, repeat: int) -> dict:
    arrays = linking._gallery_arrays(gen.gallery_pdf(workload))
    labels, mat, norms = arrays
    bf = linking.MATCHERS["bruteforce"]

    def gemm():
        matn = (mat / norms[:, None]).T
        d = 1.0 - (q / np.linalg.norm(q, axis=1, keepdims=True)) @ matn
        best = np.argmin(d, axis=1)
        bestd = d[np.arange(len(best)), best]
        return np.where(bestd < THRESHOLD, labels[best], linking.UNKNOWN)

    build_s, payload = best_of(lambda: bf.build(arrays), repeat)
    state = bf.prepare(payload)
    lsh = linking.lsh_payload_from_arrays(labels, mat, norms)
    t_gemm, want = best_of(gemm, repeat)
    t_pruned, (got, _) = best_of(
        lambda: bf.score(q, state, THRESHOLD), repeat)
    t_lsh, (lsh_got, _) = best_of(
        lambda: linking.lsh_score_batch(q, lsh, THRESHOLD), repeat)
    n = len(q)
    return {
        "gallery_rows": len(mat),
        "labels": len(payload[4]),
        "faces": n,
        "build_ms": round(build_s * 1e3, 1),
        "index_bytes": sum(a.nbytes for a in payload[3:]),
        "faces_per_s_core": {
            "gemm": round(n / t_gemm),
            "pruned": round(n / t_pruned),
            "lsh": round(n / t_lsh),
        },
        "seconds": {"gemm": round(t_gemm, 4), "pruned": round(t_pruned, 4),
                    "lsh": round(t_lsh, 4)},
        "pruned_over_gemm": round(t_gemm / t_pruned, 2),
        "pruned_labels_equal_gemm": bool(np.array_equal(got, want)),
        "lsh_label_agreement": float(np.mean(lsh_got == want)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=5)
    args = ap.parse_args()
    q = bench_faces(args.seed)
    print(json.dumps({
        "seed": args.seed, "threshold": THRESHOLD, "blas_threads": 1,
        "nproc": os.cpu_count(), "loadavg": os.getloadavg(),
        "workloads": {w: probe(w, q, args.repeat) for w in gen.EXTRA_DISTRACTORS},
    }, indent=1))


if __name__ == "__main__":
    main()
