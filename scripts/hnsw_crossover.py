"""GEMM vs LSH-bucketed-GEMM vs HNSW matcher crossover (VERDICT r2 #1).

Measures per-worker scoring throughput of the three link matchers at
growing gallery sizes, single-threaded BLAS (each of the N parallel
Spark Python workers effectively owns one core, so per-worker
single-thread throughput is the honest comparison for the fused
vision stage).  Gallery shape mirrors the real one: ~20 jittered
thumbnails per entity; queries are jittered entity faces.

Usage: python scripts/hnsw_crossover.py [sizes ...]
Writes BENCH_HNSW_CROSSOVER.json next to the repo root and prints a
markdown table for BASELINE.md.
"""

from __future__ import annotations

import os

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

import json  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from face_hunter_spark import fakevision as fv  # noqa: E402
from face_hunter_spark.operators import linking  # noqa: E402
from face_hunter_spark.operators.hnsw import (  # noqa: E402
    HNSWIndex, hnsw_score_batch,
)

THUMBS = 20
N_QUERIES = 5_000
SCORE_BATCH = 2_048   # the Arrow-batch role
THRESHOLD = 0.6
REPEATS = 2


def make_gallery(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(labels int array, matrix float32) — vectorized clustered
    gallery: n/THUMBS entities x THUMBS jittered thumbnails."""
    n_ent = max(1, n // THUMBS)
    proto_noise = fv.noise_block(
        np.arange(n_ent, dtype=np.uint64) + np.uint64(1)
    )
    protos = (proto_noise
              / np.linalg.norm(proto_noise, axis=1, keepdims=True)
              * np.float32(4.6))
    ent = np.arange(n, dtype=np.int64) % n_ent
    jit = fv.noise_block(np.arange(n, dtype=np.uint64) + np.uint64(1 << 34))
    mat = (protos[ent] + jit * np.float32(fv.JITTER_SIGMA)).astype(np.float32)
    return ent, mat


def make_queries(n_ent: int, protos: np.ndarray) -> np.ndarray:
    rng_ids = (np.arange(N_QUERIES, dtype=np.int64) * 7919) % n_ent
    jit = fv.noise_block(
        np.arange(N_QUERIES, dtype=np.uint64) + np.uint64(1 << 35)
    )
    return (protos[rng_ids] + jit * np.float32(fv.JITTER_SIGMA)
            ).astype(np.float32), rng_ids


def timed(fn) -> tuple[float, object]:
    best, out = None, None
    for _ in range(REPEATS):
        t0 = time.monotonic()
        out = fn()
        dt = time.monotonic() - t0
        best = dt if best is None or dt < best else best
    return best, out


def run_size(n: int) -> dict:
    ent, mat = make_gallery(n)
    n_ent = int(ent.max()) + 1
    protos = np.vstack([mat[ent == 0][:1]])  # placeholder, rebuilt below
    proto_noise = fv.noise_block(
        np.arange(n_ent, dtype=np.uint64) + np.uint64(1)
    )
    protos = (proto_noise
              / np.linalg.norm(proto_noise, axis=1, keepdims=True)
              * np.float32(4.6))
    q, q_ent = make_queries(n_ent, protos)
    labels = ent.astype(str)
    norms = np.linalg.norm(mat, axis=1)
    matn = (mat / norms[:, None]).astype(np.float32)

    out = {"gallery": n, "n_entities": n_ent, "n_queries": N_QUERIES}

    # exact truth (batched GEMM — also the bruteforce matcher timing)
    def gemm():
        hits = np.empty(N_QUERIES, dtype=np.int64)
        for s in range(0, N_QUERIES, SCORE_BATCH):
            qb = q[s:s + SCORE_BATCH]
            qn = qb / np.linalg.norm(qb, axis=1, keepdims=True)
            d = 1.0 - qn @ matn.T
            hits[s:s + SCORE_BATCH] = np.argmin(d, axis=1)
        return hits

    t_gemm, brute = timed(gemm)
    out["gemm"] = {"sec": round(t_gemm, 3),
                   "qps": round(N_QUERIES / t_gemm)}

    # LSH bucketed GEMM (the fused 'lsh' matcher)
    payload = linking.lsh_payload_from_arrays(labels, mat, norms)

    def lsh():
        labs = []
        for s in range(0, N_QUERIES, SCORE_BATCH):
            lab, _ = linking.lsh_score_batch(
                q[s:s + SCORE_BATCH], payload, THRESHOLD
            )
            labs.append(lab)
        return np.concatenate(labs)

    t_lsh, lsh_lab = timed(lsh)
    out["lsh"] = {
        "sec": round(t_lsh, 3), "qps": round(N_QUERIES / t_lsh),
        "label_acc_vs_exact": round(
            float((lsh_lab == labels[brute]).mean()), 4
        ),
    }

    # HNSW (the 'hnsw' matcher); build timed separately — it happens
    # once per gallery on the driver side, amortized over the run
    t0 = time.monotonic()
    idx = HNSWIndex(mat)
    t_build = time.monotonic() - t0

    def hnsw():
        labs = []
        for s in range(0, N_QUERIES, SCORE_BATCH):
            lab, _ = hnsw_score_batch(
                q[s:s + SCORE_BATCH], labels, idx, THRESHOLD
            )
            labs.append(lab)
        return np.concatenate(labs)

    t_h, h_lab = timed(hnsw)
    out["hnsw"] = {
        "sec": round(t_h, 3), "qps": round(N_QUERIES / t_h),
        "build_sec": round(t_build, 1),
        "label_acc_vs_exact": round(
            float((h_lab == labels[brute]).mean()), 4
        ),
    }
    return out


def main() -> None:
    sizes = [int(x) for x in sys.argv[1:]] or [2_000, 10_000, 50_000,
                                               200_000]
    rows = []
    for n in sizes:
        r = run_size(n)
        rows.append(r)
        print(json.dumps(r))
    art = {
        "metric": "matcher scoring throughput (queries/sec, 1 BLAS "
                  "thread, min of %d) vs gallery size" % REPEATS,
        "n_queries": N_QUERIES,
        "rows": rows,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_HNSW_CROSSOVER.json",
    )
    with open(path, "w") as f:
        json.dump(art, f, indent=1)
    print("\n| gallery | gemm q/s | lsh q/s | hnsw q/s | hnsw build s "
          "| lsh acc | hnsw acc |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(f"| {r['gallery']:,} | {r['gemm']['qps']:,} "
              f"| {r['lsh']['qps']:,} | {r['hnsw']['qps']:,} "
              f"| {r['hnsw']['build_sec']} "
              f"| {r['lsh']['label_acc_vs_exact']} "
              f"| {r['hnsw']['label_acc_vs_exact']} |")


if __name__ == "__main__":
    main()
