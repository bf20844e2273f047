"""Measurements taken from outside the program: process-tree memory,
the catalog's files on disk, and Spark-free kernel rooflines."""

from __future__ import annotations

import json
import os
import signal
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _mem_bytes(pid: int) -> int:
    """Resident bytes of one process.  Python processes report their
    proportional set size, so the workers the PySpark daemon forks do
    not count the pages they share with it again; the JVM, which forks
    nothing, reports plain RSS (walking its page tables for PSS takes
    ~60 ms and stalls it)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants --
    the JVM and its Python workers -- sampled from /proc."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_mem_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def reap_children(timeout_s: float = 60.0) -> None:
    """Wait for every descendant process to exit; kill what is left
    after ``timeout_s`` and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)
        try:  # collect our own zombies
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def catalog_stats(root: str) -> dict:
    """Walk a ParquetCatalog root: parquet data files, the bytes of the
    triples table and the snapshot count of every table's manifest."""
    out = {"files": 0, "snapshots": 0, "triples_bytes": 0}
    if not os.path.isdir(root):
        return out
    for table in os.listdir(root):
        tdir = os.path.join(root, table)
        manifest = os.path.join(tdir, "manifest.json")
        if os.path.exists(manifest):
            with open(manifest) as f:
                out["snapshots"] += len(json.load(f)["snapshots"])
        for dirpath, _, files in os.walk(tdir):
            for name in files:
                if name.endswith(".parquet"):
                    out["files"] += 1
                    if table == "triples":
                        out["triples_bytes"] += os.path.getsize(
                            os.path.join(dirpath, name))
    return out


def _timed_rate(fn, units: int, min_s: float = 0.3) -> float:
    """units processed per second by ``fn``, repeated for at least
    ``min_s`` and reported as the median repetition."""
    times = []
    t_end = time.perf_counter() + min_s
    while time.perf_counter() < t_end or len(times) < 3:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return units / float(np.median(times))


def vision_rooflines(doc_ids: list[str], n_entities: int,
                     batch_frames: int = 64) -> dict[str, float]:
    """Frames/s on one core for the vision kernels alone, on a batch of
    the workload's own frames.  ``kernel_frames_per_s_core``: the face
    draws and the batched embedding (``fakevision.embed_faces_batch``)
    the link path runs; ``align_frames_per_s_core`` adds the crop
    decode and alignment (``align.align_crops_batch``) a production
    encoder runs before embedding."""
    from face_hunter_spark import fakevision as fv
    from face_hunter_spark.operators.align import align_crops_batch

    frames = [(d, f) for d in doc_ids for f in range(8)][:batch_frames]

    def faces():
        seeds, ents = [], []
        for d, f in frames:
            for j, (kind, ent) in enumerate(fv.frame_faces(d, f, n_entities)):
                seeds.append(fv.face_seed(d, f, j))
                ents.append(-1 if kind == "unknown" else ent)
        s = np.array(seeds, dtype=np.uint64)
        fv.embed_faces_batch(s, np.array(ents, dtype=np.int64), n_entities)
        return s

    def with_align():
        s = faces()
        crops = fv.face_crops_batch(s)
        kps = fv.face_keypoints_rel_batch(s) * np.float32(crops.shape[1])
        align_crops_batch(crops, kps)

    return {"kernel_frames_per_s_core": _timed_rate(faces, len(frames)),
            "align_frames_per_s_core": _timed_rate(with_align, len(frames))}


def matcher_rooflines(gallery, distance_threshold: float = 0.6,
                      batch_faces: int = 256) -> dict:
    """Faces/s on one core for the two broadcast matchers against the
    workload's gallery: the exact GEMM (bruteforce) and
    ``linking.lsh_score_batch``."""
    from face_hunter_spark.operators import linking

    labels, mat, norms = linking._gallery_arrays(gallery)
    payload = linking.lsh_payload_from_arrays(labels, mat, norms)
    rng = np.random.default_rng(0)
    q = (mat[rng.integers(0, len(mat), batch_faces)]
         + rng.standard_normal((batch_faces, mat.shape[1]),
                               dtype=np.float32) * np.float32(0.04))
    matn = (mat / norms[:, None]).T

    def gemm():
        d = 1.0 - (q / np.linalg.norm(q, axis=1, keepdims=True)) @ matn
        np.argmin(d, axis=1)

    return {
        "gemm": _timed_rate(gemm, batch_faces),
        "lsh": _timed_rate(
            lambda: linking.lsh_score_batch(q, payload, distance_threshold),
            batch_faces),
    }
