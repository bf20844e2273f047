"""Similarity search over embedding columns (array<float>): exact
brute-force cosine top-k as the correctness baseline, plus two
approximate scale paths (random-hyperplane LSH buckets, IVF coarse
quantization).

Physical strategy by corpus size:
* corpus fits in a broadcast (<~1 GB): ``cosine_topk_fast`` — one BLAS
  matmul per Arrow batch of queries.  Zero shuffle; the plan a 1000-
  executor cluster wants for gallery-sized corpora.
* corpus too big to broadcast: ``ann_lsh_topk`` / ``ivf_topk`` — both
  turn the similarity join into an equi-join on a bucket key, so the
  shuffle is O(N * buckets_per_point), never O(N * M).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    q_id: str = "q_id", c_id: str = "c_id",
) -> DataFrame:
    """Exact top-k by cosine, pure built-in expressions (zip_with /
    aggregate are JVM codegen).  Cross-join based — the O(N*M) oracle-
    parity variant for tests and small corpora.  Ties broken by c_id."""
    q = queries.select(F.col(q_id).alias("q_id"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col(c_id).alias("c_id"), F.col("embedding").alias("cv"))
    scored = q.crossJoin(F.broadcast(c)).withColumn(
        "cosine", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def cosine_topk_fast(
    queries: DataFrame, corpus_pdf: pd.DataFrame, k: int = 5,
    q_id: str = "q_id", c_id: str = "c_id",
) -> DataFrame:
    """Broadcast-matmul top-k: one (B x d) @ (d x M) GEMM + argpartition
    per Arrow batch.  Same results as cosine_topk (incl. tie order)."""
    spark = SparkSession.getActiveSession()
    ids = corpus_pdf[c_id].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.vstack(
        [np.asarray(v, dtype=np.float32) for v in corpus_pdf["embedding"]]
    )[order]
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat))

    out_schema = StructType([
        StructField("q_id", LongType(), False),
        StructField("c_id", LongType(), False),
        StructField("cosine", FloatType(), False),
        StructField("rank", IntegerType(), False),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value
        kk = min(k, len(c_ids))
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack([np.asarray(v, dtype=np.float32) for v in pdf["embedding"]])
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sim = q @ c_mat.T  # (B, M)
            # top-k with (desc cosine, asc c_id) tie order: c_ids sorted
            # ascending + stable argsort on -sim gives exactly that
            idx = np.argsort(-sim, axis=1, kind="stable")[:, :kk]
            rows = {
                "q_id": np.repeat(pdf["q_id"].to_numpy(), kk),
                "c_id": c_ids[idx].ravel(),
                "cosine": np.take_along_axis(sim, idx, 1).ravel().astype(np.float32),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), len(pdf)),
            }
            yield pd.DataFrame(rows)

    return queries.select(F.col(q_id).alias("q_id"), "embedding").mapInPandas(
        fn, schema=out_schema
    )


def ann_lsh_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    bands: int = 16, rows_per_band: int = 4, dim: int = 64,
    q_id: str = "q_id", c_id: str = "c_id",
) -> DataFrame:
    """Approximate top-k: hyperplane band buckets on both sides,
    equi-join, exact cosine rerank within candidates.  Recall grows
    with `bands`; shuffle stays O(N*bands)."""
    from .linking import lsh_signature_udf

    sig = lsh_signature_udf(bands, rows_per_band, dim=dim)
    q = queries.select(
        F.col(q_id).alias("q_id"), F.col("embedding").alias("qv"),
        F.explode(sig("embedding")).alias("bucket"),
    )
    c = corpus.select(
        F.col(c_id).alias("c_id"), F.col("embedding").alias("cv"),
        F.explode(sig("embedding")).alias("bucket"),
    )
    cand = (
        q.join(c, "bucket")
        .dropDuplicates(["q_id", "c_id"])
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv"))
                    / (_norm(F.col("qv")) * _norm(F.col("cv"))))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def ann_lsh_topk_expr(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    bands: int = 16, rows_per_band: int = 4, dim: int = 64,
    q_id: str = "q_id", c_id: str = "c_id",
) -> DataFrame:
    """``ann_lsh_topk`` with the signature computed as BUILT-IN
    expressions instead of a numpy pandas UDF: each band bucket is the
    packed sign bits of float64 HOF dot products against hyperplane
    LITERALS (same deterministic planes as the UDF).  Bit-reproducible
    on any engine that evaluates IEEE float64 sums left-to-right — the
    DuckDB oracle regenerates identical buckets, making this ANN
    variant exactly checkable (the UDF form's float32 BLAS sums are
    blocked/reordered, so a near-zero dot can flip a sign bit between
    engines).  Slower per row than the GEMM signature — use it for
    oracle checks and modest corpora; the UDF forms are the production
    path."""
    from .linking import _hyperplanes

    planes = _hyperplanes(bands * rows_per_band, dim)

    def plane_dot(vec_col, plane) -> "F.Column":
        arr = F.array(*[F.lit(float(x)) for x in plane])
        return F.aggregate(
            F.zip_with(vec_col, arr, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    def bucket_array(vec_col):
        keys = []
        for b in range(bands):
            key = F.lit(b << 24)
            for j in range(rows_per_band):
                bit = (
                    plane_dot(vec_col, planes[b * rows_per_band + j]) > 0
                ).cast("int")
                key = key + bit * F.lit(1 << (rows_per_band - 1 - j))
            keys.append(key)
        return F.array(*keys)

    q = queries.select(
        F.col(q_id).alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).select("q_id", "qv", F.explode(bucket_array(F.col("qv"))).alias("bucket"))
    c = corpus.select(
        F.col(c_id).alias("c_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).select("c_id", "cv", F.explode(bucket_array(F.col("cv"))).alias("bucket"))
    cand = (
        q.join(c, "bucket")
        .dropDuplicates(["q_id", "c_id"])
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv"))
                    / (_norm(F.col("qv")) * _norm(F.col("cv"))))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def lsh_expr_oracle_sql(
    bands: int, rows_per_band: int, dim: int, k: int,
    q_filter: str, c_filter: str, round_digits: int = 6,
) -> str:
    """DuckDB SQL computing exactly what ``ann_lsh_topk_expr`` +
    round(cosine) computes over the ``embeddings`` view, with the same
    hyperplane literals."""
    from .linking import _hyperplanes

    planes = _hyperplanes(bands * rows_per_band, dim)

    def plane_dot(col, plane):
        arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        return (f"list_sum(list_transform(range(1, {dim} + 1), "
                f"i -> {col}[i] * ({arr})[i]))")

    def band_keys(col):
        keys = []
        for b in range(bands):
            bits = " + ".join(
                f"(CASE WHEN {plane_dot(col, planes[b * rows_per_band + j])}"
                f" > 0 THEN {1 << (rows_per_band - 1 - j)} ELSE 0 END)"
                for j in range(rows_per_band)
            )
            keys.append(f"({b << 24} + {bits})")
        return "[" + ", ".join(keys) + "]"

    cos = """
(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
 / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
  * sqrt(list_sum(list_transform(b.v, x -> x * x)))))
"""
    return f"""
WITH qe AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE {q_filter}),
ce AS (
  SELECT vec_id AS c_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE {c_filter}),
qb AS (SELECT q_id, v, unnest({band_keys('v')}) AS bucket FROM qe),
cb AS (SELECT c_id, v, unnest({band_keys('v')}) AS bucket FROM ce),
cand AS (
  SELECT DISTINCT a.q_id, b.c_id, {cos} AS cosine
  FROM qb a JOIN cb b ON a.bucket = b.bucket),
ranked AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, c_id) AS rank
  FROM cand)
SELECT q_id, rank, c_id, round(cosine, {round_digits}) AS cosine
FROM ranked WHERE rank <= {k}
"""


def ivf_topk_expr(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    n_cells: int = 16, n_probe: int = 4,
    q_id: str = "q_id", c_id: str = "c_id",
) -> DataFrame:
    """``ivf_topk`` as pure built-in expressions: centroids are the
    first n_cells corpus rows in md5(id) order (engine-portable, unlike
    an xxhash64 or numpy draw), cell assignment is a broadcast
    join + cosine argmax window, search joins on cell id.  Exactly
    reproducible in DuckDB (float64 HOF arithmetic end-to-end) — the
    oracle-checkable form; the pandas-UDF ``ivf_topk`` is the
    production path for corpora where per-row HOF cosines against
    every centroid would dominate."""
    c = corpus.select(
        F.col(c_id).alias("c_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    # number only the first n_cells rows: a row_number over the whole
    # corpus moves it to one partition whenever the optimizer's own
    # window-limit rewrite is off (n_cells above
    # spark.sql.optimizer.windowGroupLimitThreshold)
    order = [F.md5(F.col("c_id").cast("string")), F.col("c_id")]
    cents = (
        c.orderBy(*order).limit(n_cells)
        .withColumn("cent_idx", F.row_number().over(Window.orderBy(*order)))
        .select("cent_idx", F.col("cv").alias("cent_v"))
    )

    def assign(df, id_col, vec_alias, n_keep):
        cos = _dot(F.col(vec_alias), F.col("cent_v")) / (
            _norm(F.col(vec_alias)) * _norm(F.col("cent_v"))
        )
        w = Window.partitionBy(id_col).orderBy(
            F.desc("cent_cos"), "cent_idx"
        )
        return (
            df.crossJoin(F.broadcast(cents))
            .withColumn("cent_cos", cos)
            .withColumn("cr", F.row_number().over(w))
            .where(F.col("cr") <= n_keep)
            .select(id_col, vec_alias, F.col("cent_idx").alias("cell"))
        )

    q = queries.select(
        F.col(q_id).alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    q_cells = assign(q, "q_id", "qv", n_probe)
    c_cells = assign(c, "c_id", "cv", 1)
    cand = q_cells.join(c_cells, "cell").withColumn(
        "cosine",
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def ivf_expr_oracle_sql(
    n_cells: int, n_probe: int, k: int,
    q_filter: str, c_filter: str, round_digits: int = 6,
) -> str:
    """DuckDB SQL computing exactly what ``ivf_topk_expr`` +
    round(cosine) computes over the ``embeddings`` view."""
    cos = """
(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))
 / (sqrt(list_sum(list_transform({a}, x -> x * x)))
  * sqrt(list_sum(list_transform({b}, x -> x * x)))))
"""
    return f"""
WITH ce AS (
  SELECT vec_id AS c_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE {c_filter}),
qe AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE {q_filter}),
cents AS (
  SELECT cent_idx, v AS cent_v FROM (
    SELECT v, row_number() OVER (
      ORDER BY md5(cast(c_id AS VARCHAR)), c_id) AS cent_idx
    FROM ce) WHERE cent_idx <= {n_cells}),
c_cells AS (
  SELECT c_id, v, cell FROM (
    SELECT c.c_id, c.v, t.cent_idx AS cell,
           row_number() OVER (
             PARTITION BY c.c_id
             ORDER BY {cos.format(a='c.v', b='t.cent_v')} DESC,
                      t.cent_idx) AS cr
    FROM ce c CROSS JOIN cents t) WHERE cr = 1),
q_cells AS (
  SELECT q_id, v, cell FROM (
    SELECT q.q_id, q.v, t.cent_idx AS cell,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY {cos.format(a='q.v', b='t.cent_v')} DESC,
                      t.cent_idx) AS cr
    FROM qe q CROSS JOIN cents t) WHERE cr <= {n_probe}),
cand AS (
  SELECT a.q_id, b.c_id, {cos.format(a='a.v', b='b.v')} AS cosine
  FROM q_cells a JOIN c_cells b USING (cell)),
ranked AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, c_id) AS rank
  FROM cand)
SELECT q_id, rank, c_id, round(cosine, {round_digits}) AS cosine
FROM ranked WHERE rank <= {k}
"""


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    n_cells: int = 16, n_probe: int = 4,
    q_id: str = "q_id", c_id: str = "c_id",
) -> DataFrame:
    """IVF-flat: coarse-quantize the corpus into n_cells Voronoi cells
    (centroids = deterministic corpus sample — k-means-free but stable;
    swap in KMeans offline for production), search the n_probe nearest
    cells per query.  Cell assignment is a broadcast argmax; the search
    is an equi-join on cell id."""
    cent_pdf = (
        corpus.select(F.col(c_id).alias("id"), "embedding")
        .orderBy(F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(997)), "id")
        .limit(n_cells)
        .toPandas()
    )
    cents = np.vstack([np.asarray(v, np.float32) for v in cent_pdf["embedding"]])
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(cents)

    def assign_udf(n_out: int):
        @F.pandas_udf(ArrayType(IntegerType()))
        def assign(emb: pd.Series) -> pd.Series:
            cm = bc.value
            m = np.vstack([np.asarray(v, np.float32) for v in emb])
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sim = m @ cm.T
            top = np.argsort(-sim, axis=1, kind="stable")[:, :n_out]
            return pd.Series(list(top.astype(np.int32)))
        return assign

    c = corpus.select(
        F.col(c_id).alias("c_id"), F.col("embedding").alias("cv"),
        assign_udf(1)("embedding")[0].alias("cell"),
    )
    q = queries.select(
        F.col(q_id).alias("q_id"), F.col("embedding").alias("qv"),
        F.explode(assign_udf(n_probe)("embedding")).alias("cell"),
    )
    cand = q.join(c, "cell").withColumn(
        "cosine",
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )
