"""Driver-contract query inventory: every entry pairs an idiomatic
Spark implementation (DataFrame API / Spark SQL, using the engine's
operator modules) with an equivalent DuckDB oracle SQL string run by
the driver on the same parquet tables (see __spark_entry__.py).

Portability rules used throughout (so order-insensitive value hashes
match across engines):
* floats: computed in DOUBLE on both sides (embeddings cast from
  float32 to double BEFORE any arithmetic; fold order identical),
  then round(x, N) to absorb last-ulp noise.
* money sums: cast to DECIMAL(18,2) first (exact), cast the result
  back to double.
* timestamps: compared as epoch milliseconds (unix_millis /
  epoch_ms), never as formatted strings.
* hashes: md5 hex strings; hex->int via conv(...,16,10) in Spark and
  ('0x'||...)::BIGINT in DuckDB (verified equal).
* arrays never appear in outputs (stringified with concat_ws/
  string_agg with explicit ORDER BY instead).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# --------------------------------------------------------------------------
# relational core (SURVEY.md §2.2-2.7 operator inventory over TPC-H-ish data)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter + multi-agg groupBy (partial
    aggregation / map-side combine is the point)."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem").where(F.col("l_shipdate") <= F.lit("2024-09-01"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice").cast("decimal(18,2)")
                     * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,4)"))).cast("decimal(28,6)")
                ).cast("double"), 2,
            ).alias("sum_disc_price"),
            F.round(F.avg(F.col("l_quantity").cast("decimal(18,2)").cast("double")), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
  round(avg(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE)), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join with broadcast dims + decimal revenue rollup."""
    load_views(spark, sf_dir)
    return (
        spark.table("orders")
        .join(spark.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(spark.table("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(spark.table("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias("revenue"),
        )
        .orderBy("r_name")
    )


ORACLE_STAR = """
SELECT r_name, count(*) AS n_orders,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_orders_per_customer_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join keeping order-less customers, then a histogram."""
    load_views(spark, sf_dir)
    per_cust = (
        spark.table("customer")
        .join(spark.table("orders"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


ORACLE_HISTOGRAM = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT n_orders, count(*) AS n_customers FROM per_cust
GROUP BY n_orders ORDER BY n_orders
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI join (the reference's set-difference / video_exists
    pattern) rolled up per nation."""
    load_views(spark, sf_dir)
    return (
        spark.table("customer")
        .join(spark.table("orders"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(spark.table("nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


ORACLE_ANTI = """
SELECT n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name ORDER BY n_name
"""


def q_nations_with_rich_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI join: nations having at least one supplier above balance."""
    load_views(spark, sf_dir)
    rich = spark.table("supplier").where(F.col("s_acctbal") > 9000)
    return (
        spark.table("nation")
        .join(rich, F.col("n_nationkey") == F.col("s_nationkey"), "left_semi")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    )


ORACLE_SEMI = """
SELECT n_nationkey, n_name FROM nation
WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey
              AND s_acctbal > 9000)
ORDER BY n_nationkey
"""


def q_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window (the kNN-prune pattern)."""
    load_views(spark, sf_dir)
    j = spark.table("orders").join(
        spark.table("customer"), F.col("o_custkey") == F.col("c_custkey")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "c_mktsegment", F.col("rank").cast("long").alias("rank"), "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 2).alias("total"),
        )
        .orderBy("c_mktsegment", "rank")
    )


ORACLE_TOP3 = """
SELECT c_mktsegment, rank, o_orderkey, round(CAST(o_totalprice AS DOUBLE), 2) AS total
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey) t
WHERE rank <= 3 ORDER BY c_mktsegment, rank
"""


def q_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum window (the timestamp-synthesis / cumulative
    pattern) for a bounded key slice."""
    load_views(spark, sf_dir)
    o = spark.table("orders").where(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"), 2
        ).alias("run_total"),
    ).orderBy("o_custkey", "o_orderkey")


ORACLE_RUNNING = """
SELECT o_custkey, o_orderkey,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
  AS run_total
FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, o_orderkey
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min gap) — the SQL-
    expressible cousin of scene extraction (SURVEY.md §2.5)."""
    load_views(spark, sf_dir)
    return spark.sql("""
        WITH flagged AS (
          SELECT user_id, event_id, unix_millis(cast(ts AS timestamp)) AS ts_ms,
            CASE WHEN lag(unix_millis(cast(ts AS timestamp))) OVER w IS NULL
                   OR unix_millis(cast(ts AS timestamp)) - lag(unix_millis(cast(ts AS timestamp))) OVER w > 1800000
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT user_id, ts_ms,
            sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts_ms, event_id) AS session_id
          FROM flagged)
        SELECT user_id, session_id, min(ts_ms) AS start_ms,
               max(ts_ms) AS end_ms, count(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """)


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts_ms,
    CAST(sum(new_session) OVER (PARTITION BY user_id
                           ORDER BY ts_ms, event_id) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, min(ts_ms) AS start_ms,
       max(ts_ms) AS end_ms, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_majority_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority vote with deterministic tie-break (the kNN vote
    semantics: max count, then lexicographic — SURVEY.md §2.4)."""
    load_views(spark, sf_dir)
    counts = spark.table("events").groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("user_id", F.col("event_type").alias("majority_type"), "n")
        .orderBy("user_id")
    )


ORACLE_MAJORITY = """
SELECT user_id, event_type AS majority_type, n FROM (
  SELECT user_id, event_type, count(*) AS n,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY count(*) DESC, event_type) AS r
  FROM events GROUP BY user_id, event_type) t
WHERE r = 1 ORDER BY user_id
"""


def q_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered group-concat of the distinct per-user event types."""
    load_views(spark, sf_dir)
    return (
        spark.table("events")
        .select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("event_type"))).alias("types"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .orderBy("user_id")
    )


ORACLE_TYPE_SETS = """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS types,
       count(*) AS n_types
FROM (SELECT DISTINCT user_id, event_type FROM events) t
GROUP BY user_id ORDER BY user_id
"""


def q_sample_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-group sampling: order by md5(name) inside
    each nation, keep 2 (the reference's seeded groupby-sample)."""
    load_views(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(F.md5("c_name"), "c_custkey")
    return (
        spark.table("customer")
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 2)
        .select("c_nationkey", F.col("r").cast("long").alias("r"),
                "c_custkey", "c_name")
        .orderBy("c_nationkey", "r")
    )


ORACLE_SAMPLE = """
SELECT c_nationkey, r, c_custkey, c_name FROM (
  SELECT c_nationkey, c_custkey, c_name,
    row_number() OVER (PARTITION BY c_nationkey
                       ORDER BY md5(c_name), c_custkey) AS r
  FROM customer) t
WHERE r <= 2 ORDER BY c_nationkey, r
"""


def q_custkeys_open_minus_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT): customers with open orders only."""
    load_views(spark, sf_dir)
    o = spark.table("orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    filled = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    # subtract = EXCEPT (set semantics); exceptAll would be a multiset
    # difference and keep customers that merely have MORE open orders
    return open_.subtract(filled).orderBy("o_custkey")


ORACLE_EXCEPT = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
"""


def q_custkeys_open_and_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: customers with both order states."""
    load_views(spark, sf_dir)
    o = spark.table("orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    filled = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return open_.intersect(filled).orderBy("o_custkey")


ORACLE_INTERSECT = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
"""


def q_singleton_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group-size==1 filter (the reference's dedup-singleton pattern)."""
    load_views(spark, sf_dir)
    return (
        spark.table("part")
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 1)
        .select("p_type")
        .orderBy("p_type")
    )


ORACLE_SINGLETON = """
SELECT p_type FROM part GROUP BY p_type HAVING count(*) = 1 ORDER BY p_type
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + bucket rollup over the events stream."""
    load_views(spark, sf_dir)
    return (
        spark.table("events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


ORACLE_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1 ORDER BY k_bucket
"""


def q_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch view of the streaming op)."""
    load_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy(
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("hour_ms", "event_type")
    )


ORACLE_HOURLY = """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type
"""

# --------------------------------------------------------------------------
# text analysis / dedup / fingerprints over the documents corpus
# --------------------------------------------------------------------------

# DuckDB fragment equivalent to text.tokens(): lowercase, split on
# non-alphanumeric runs, drop empties.
_DUCK_TOKENS = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as T
    load_views(spark, sf_dir)
    return (
        spark.table("documents")
        .select("source", T.token_count(F.col("text")).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("source")
    )


ORACLE_TOKEN_STATS = f"""
SELECT source, count(*) AS n_docs,
       round(avg(len({_DUCK_TOKENS.format(col='text')})), 4) AS avg_tokens,
       max(len({_DUCK_TOKENS.format(col='text')})) AS max_tokens
FROM documents GROUP BY source ORDER BY source
"""


def q_lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as T
    load_views(spark, sf_dir)
    return (
        spark.table("documents")
        .select(T.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def _duck_lang_hits(lang: str) -> str:
    from .operators.text import STOPWORDS
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = _DUCK_TOKENS.format(col="text")
    return f"len(list_filter({toks}, x -> list_contains([{words}], x)))"


def _oracle_lang_id() -> str:
    from .operators.text import LANG_PRIORITY
    hits = {lg: _duck_lang_hits(lg) for lg in LANG_PRIORITY}
    # mirror text.lang_id: argmax with LANG_PRIORITY tie-break
    best_lang = f"'{LANG_PRIORITY[0]}'"
    best = hits[LANG_PRIORITY[0]]
    for lg in LANG_PRIORITY[1:]:
        best_lang = f"CASE WHEN {hits[lg]} > {best} THEN '{lg}' ELSE {best_lang} END"
        best = f"CASE WHEN {hits[lg]} > {best} THEN {hits[lg]} ELSE {best} END"
    return f"""
WITH scored AS (
  SELECT CASE WHEN {best} > 0 THEN {best_lang} ELSE 'und' END AS lang_pred
  FROM documents)
SELECT lang_pred, count(*) AS n_docs FROM scored
GROUP BY lang_pred ORDER BY lang_pred
"""


def q_fingerprint_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup profile: distinct normalized fingerprints vs docs."""
    from .operators import text as T
    load_views(spark, sf_dir)
    return spark.table("documents").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(T.doc_fingerprint(F.col("text"))).alias("n_distinct"),
    )


ORACLE_FINGERPRINT = f"""
SELECT count(*) AS n_docs,
  count(DISTINCT md5(array_to_string({_DUCK_TOKENS.format(col='text')}, ' ')))
  AS n_distinct
FROM documents
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs at J>=0.9 (inverted-index
    join in Spark; set algebra in the oracle)."""
    from .operators import dedup
    load_views(spark, sf_dir)
    return (
        dedup.jaccard_pairs(spark.table("documents"), threshold=0.9)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


_DUCK_SHINGLES = f"""
list_distinct(CASE WHEN len(toks) >= 3 THEN
    list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))
  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
  ELSE [] END)
"""

# mirrors jaccard_pairs' document-frequency cap (max_df=10000):
# shingles above the cap leave the representation on BOTH engines
ORACLE_JACCARD = f"""
WITH raw AS (
  SELECT doc_id AS id, {_DUCK_SHINGLES} AS s
  FROM (SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS toks
        FROM documents)
  WHERE len(toks) > 0),
exploded AS (SELECT id, unnest(s) AS shingle FROM raw),
keep AS (SELECT shingle FROM exploded GROUP BY shingle
         HAVING count(*) <= 10000),
sh AS (SELECT id, list(e.shingle) AS s
       FROM exploded e JOIN keep USING (shingle) GROUP BY id)
SELECT a.id AS id_a, b.id AS id_b,
  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
ORDER BY id_a, id_b
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate generation with exact verification; the
    oracle regenerates the identical integer-hash signatures (same
    universal-hash constants), so even the LSH bucketing is checked,
    not just the final pairs."""
    from .operators import dedup
    load_views(spark, sf_dir)
    return (
        dedup.minhash_lsh_pairs(
            spark.table("documents"), threshold=0.9, num_hashes=12, bands=4
        )
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _oracle_minhash() -> str:
    from .operators.dedup import MINHASH_P, minhash_constants

    num_hashes, bands = 12, 4
    r = num_hashes // bands
    a_c, b_c = minhash_constants(num_hashes)
    sig_cols = ", ".join(
        f"list_min(list_transform(s, h -> ({a_c[i]} * (h % {MINHASH_P})"
        f" + {b_c[i]}) % {MINHASH_P})) AS h{i}"
        for i in range(num_hashes)
    )
    band_exprs = ", ".join(
        "concat_ws('|', '%d', %s)" % (b, ", ".join(f"h{b * r + j}" for j in range(r)))
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform({_DUCK_SHINGLES},
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS s
  FROM (SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS toks FROM documents)
  WHERE len(toks) > 0),
sig AS (SELECT id, s, {sig_cols} FROM sh),
bucketed AS (
  SELECT id, s, unnest([{band_exprs}]) AS bucket FROM sig),
-- mirrors minhash_lsh_pairs' bucket-size cap (max_bucket_size=5000)
keepb AS (SELECT bucket FROM bucketed GROUP BY bucket
          HAVING count(*) <= 5000),
capped AS (SELECT b.* FROM bucketed b JOIN keepb USING (bucket)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
  FROM capped a JOIN capped b
    ON a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b,
  round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        / len(list_distinct(list_concat(sa, sb))), 6) AS jaccard
FROM cand
WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
      / len(list_distinct(list_concat(sa, sb))) >= 0.9
ORDER BY id_a, id_b
"""


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 32-bit SimHash for a bounded doc slice."""
    from .operators import dedup
    load_views(spark, sf_dir)
    return (
        spark.table("documents")
        .where(F.col("doc_id") < 64)
        .select("doc_id", dedup.simhash32(F.col("text")).alias("simhash"))
        .orderBy("doc_id")
    )


def _oracle_simhash() -> str:
    toks = _DUCK_TOKENS.format(col="text")
    h = "('0x' || substr(md5(t), 1, 8))::BIGINT"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(toks, t -> ((({h} >> {b}) & 1) * 2 - 1))) > 0 "
        f"THEN {2 ** b} ELSE 0 END)"
        for b in range(32)
    )
    return f"""
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
FROM (SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id < 64)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# embedding similarity over the embeddings table
# --------------------------------------------------------------------------

_DUCK_COSINE = """
(list_sum(list_transform(range(1, len(a.embedding) + 1),
    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
 / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
  * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))))
"""


def _cosine_scored(spark: SparkSession):
    """query side = label >= 5, gallery side = label < 5; cosine in
    DOUBLE with left-fold order matching the oracle."""
    emb = spark.table("embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    q = emb.where(F.col("label") >= 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = emb.where(F.col("label") < 5).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
    )
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return q.crossJoin(F.broadcast(c)).withColumn(
        "cosine", dot / (nrm(F.col("qv")) * nrm(F.col("cv")))
    )


def q_knn_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force 1-NN cosine — the reference's linking semantics
    (face_recognition.py:300-314) over the driver embeddings."""
    load_views(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        _cosine_scored(spark)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("q_id", "c_id", F.round("cosine", 9).alias("cosine"))
        .orderBy("q_id")
    )


ORACLE_KNN1 = f"""
SELECT q_id, c_id, round(cosine, 9) AS cosine FROM (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_DUCK_COSINE} AS cosine,
    row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY {_DUCK_COSINE} DESC, b.vec_id) AS r
  FROM embeddings a, embeddings b
  WHERE a.label >= 5 AND b.label < 5) t
WHERE r = 1 ORDER BY q_id
"""


def q_knn_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN top-3 with the window prune used by the LSH linker."""
    load_views(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        _cosine_scored(spark)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "c_id")
        .orderBy("q_id", "rank")
    )


ORACLE_KNN3 = f"""
SELECT q_id, rank, c_id FROM (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
    row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY {_DUCK_COSINE} DESC, b.vec_id) AS rank
  FROM embeddings a, embeddings b
  WHERE a.label >= 5 AND b.label < 5) t
WHERE rank <= 3 ORDER BY q_id, rank
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.95)."""
    load_views(spark, sf_dir)
    emb = spark.table("embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("qv"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("cv"))
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (nrm(F.col("qv")) * nrm(F.col("cv"))))
        .where(F.col("cosine") >= 0.95)
        .select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


ORACLE_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_DUCK_COSINE}, 9) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id AND {_DUCK_COSINE} >= 0.95
ORDER BY id_a, id_b
"""


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's evaluation metrics (evaluation.py:93-145) as a
    relational op: per-doc prediction = token set, truth = a fixed
    probe list; frame-averaged accuracy/precision/recall/f1."""
    from .operators import text as T
    from .operators.metrics import evaluation_metrics
    load_views(spark, sf_dir)
    probe = ["the", "data", "query", "spark"]
    framed = spark.table("documents").select(
        F.array_distinct(T.tokens(F.col("text"))).alias("y_pred"),
        F.array([F.lit(x) for x in probe]).alias("y_true"),
    )
    m = evaluation_metrics(framed)
    return m.select(
        F.round("accuracy", 9).alias("accuracy"),
        F.round("precision", 9).alias("precision"),
        F.round("recall", 9).alias("recall"),
        F.round("f1", 9).alias("f1"),
    )


ORACLE_EVAL = f"""
WITH framed AS (
  SELECT list_distinct({_DUCK_TOKENS.format(col='text')}) AS y_pred,
         ['the', 'data', 'query', 'spark'] AS y_true
  FROM documents),
scored AS (
  SELECT
    CAST(len(list_intersect(y_pred, y_true)) AS DOUBLE) AS i,
    CAST(len(list_distinct(list_concat(y_pred, y_true))) AS DOUBLE) AS u,
    CAST(len(y_pred) AS DOUBLE) AS y, CAST(len(y_true) AS DOUBLE) AS z
  FROM framed)
SELECT round(avg(i / u), 9) AS accuracy,
       round(avg(i / y), 9) AS precision,
       round(avg(i / z), 9) AS recall,
       round(avg(2 * i / (z + y)), 9) AS f1
FROM scored
"""


def q_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe two-stage aggregation (operators/skew.py) — result
    must equal a plain GROUP BY (the oracle)."""
    from .operators.skew import salted_agg
    load_views(spark, sf_dir)
    ev = spark.table("events").withColumn(
        "v_dec", F.col("value").cast("decimal(18,6)")
    )
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": ("count", "event_id"),
            "total": ("sum", "v_dec"),
            "lo": ("min", "event_id"),
            "hi": ("max", "event_id"),
        },
        salt_buckets=16,
        salt_source="event_id",
    )
    return out.select(
        "event_type", "n",
        F.round(F.col("total").cast("double"), 6).alias("total"),
        "lo", "hi",
    ).orderBy("event_type")


ORACLE_SALTED = """
SELECT event_type, count(event_id) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total,
       min(event_id) AS lo, max(event_id) AS hi
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence pairs (the get_scenes_with_entity co-entity
    pattern, SURVEY.md §2.8): distinct event-type pairs per user,
    counted across users."""
    load_views(spark, sf_dir)
    ut = spark.table("events").select("user_id", "event_type").distinct()
    a = ut.withColumnRenamed("event_type", "type_a")
    b = ut.withColumnRenamed("event_type", "type_b")
    return (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("type_a", "type_b")
    )


ORACLE_COOCCUR = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_users
FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY type_a, type_b
"""


def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint (min md5 over char 8-gram
    windows of the normalized token stream) for a doc slice."""
    from .operators import text as T
    load_views(spark, sf_dir)
    return (
        spark.table("documents")
        .where(F.col("doc_id") < 40)
        .select("doc_id", T.rolling_fingerprint(F.col("text")).alias("rfp"))
        .orderBy("doc_id")
    )


ORACLE_ROLLING = f"""
WITH norm AS (
  SELECT doc_id,
         array_to_string({_DUCK_TOKENS.format(col='text')}, ' ') AS s
  FROM documents WHERE doc_id < 40)
SELECT doc_id,
  list_min(list_transform(
    range(1, greatest(len(s) - 8 + 1, 1) + 1),
    i -> md5(substr(s, i, 8)))) AS rfp
FROM norm ORDER BY doc_id
"""


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup groups: normalized-content fingerprint -> group size
    and kept representative (min doc_id)."""
    from .operators import dedup
    load_views(spark, sf_dir)
    return (
        dedup.exact_duplicate_groups(spark.table("documents"))
        .select("fingerprint", "n_docs", "keep_id")
        .unionByName(
            # also expose the singleton profile so the query is
            # non-empty even on a dup-free corpus
            spark.table("documents").groupBy().agg(
                F.lit("__total__").alias("fingerprint"),
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("keep_id"),
            )
        )
        .orderBy("fingerprint")
    )


ORACLE_DUP_GROUPS = f"""
WITH fp AS (
  SELECT doc_id AS id,
         md5(array_to_string({_DUCK_TOKENS.format(col='text')}, ' ')) AS f
  FROM documents)
SELECT f AS fingerprint, count(*) AS n_docs, min(id) AS keep_id
FROM fp GROUP BY f HAVING count(*) > 1
UNION ALL
SELECT '__total__' AS fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents
ORDER BY fingerprint
"""


# --------------------------------------------------------------------------
# §2 gap-closers (round 1, session 2): group-concat, max_by, class
# balancing, union catalogs, video-level accuracy, islands scenes
# --------------------------------------------------------------------------

def q_scene_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native gaps-and-islands scene variant (SURVEY.md §2.5
    option b) on the same events-derived frame predictions as the
    quirk-faithful scene_extraction query — 100% built-in expressions,
    exact SQL oracle (unlike the sequential applyInPandas port)."""
    from .operators.scenes import scenes_gaps_and_islands

    load_views(spark, sf_dir)
    preds = spark.sql("""
        SELECT cast(user_id AS string) AS doc_id,
               cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS int) - 1 AS frame_no,
               cast((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    - 1) * 1000.0 AS double) AS ts_ms,
               CASE WHEN value IS NULL THEN array()
                    ELSE array(event_type) END AS labels
        FROM events
    """)
    return scenes_gaps_and_islands(preds).select(
        "doc_id", "scene_idx",
        F.concat_ws(",", "entities").alias("entities"),
        "start_ms", "end_ms", "n_frames",
    )


ORACLE_ISLANDS = """
WITH preds AS (
  SELECT cast(user_id AS VARCHAR) AS doc_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) - 1 AS frame_no,
         cast((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) * 1000.0 AS DOUBLE) AS ts_ms,
         CASE WHEN value IS NULL THEN cast([] AS VARCHAR[]) ELSE [event_type] END AS ents
  FROM events),
flagged AS (
  SELECT *, CASE WHEN lag(ents) OVER w IS NULL OR lag(ents) OVER w <> ents
                 THEN 1 ELSE 0 END AS chg
  FROM preds WINDOW w AS (PARTITION BY doc_id ORDER BY ts_ms, frame_no)),
islands AS (
  SELECT *, sum(chg) OVER (PARTITION BY doc_id ORDER BY ts_ms, frame_no) AS island
  FROM flagged)
SELECT doc_id, cast(island AS INT) AS scene_idx,
       array_to_string(ents, ',') AS entities,
       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       count(*) AS n_frames
FROM islands WHERE len(ents) > 0
GROUP BY doc_id, island, ents
"""


def q_n3_video_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n3 export projection (memory_store.py:48-59 / models/
    example_graph:624-626): the per-video Turtle block as pure string
    formatting — exact oracle since the block is deterministic text."""
    from .operators.rdf import n3_blocks
    from .operators.triples import video_triples

    load_views(spark, sf_dir)
    docs = spark.table("documents").select(
        F.format_string("vid_%05d", F.col("doc_id").cast("int")).alias("doc_id")
    )
    return (
        n3_blocks(video_triples(docs))
        .select("subj", "block")
        .orderBy("subj")
    )


ORACLE_N3_VIDEO = """
SELECT 'http://face-hunter.org/resource/' || d AS subj,
       '<http://face-hunter.org/resource/' || d || '> a mpeg7:Video ;'
       || chr(10) || '    dc:identifier "http://www.youtube.com/watch?v='
       || d || '" ;' || chr(10) || '    dc:title "' || d || '" .' AS block
FROM (SELECT printf('vid_%05d', doc_id::INT) AS d FROM documents)
ORDER BY subj
"""


def q_group_concat_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-concat (knowledge_graphs.py:135 ' / '.join of alternate
    names per entity): sorted names per brand as one string."""
    load_views(spark, sf_dir)
    return (
        spark.table("part")
        .groupBy("p_brand")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("p_name")), " / "
            ).alias("names"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


ORACLE_GROUP_CONCAT = """
SELECT p_brand, string_agg(p_name, ' / ' ORDER BY p_name) AS names,
       count(*) AS n_parts
FROM part GROUP BY p_brand
"""


def q_argmax_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / argmin-distance analogue (largest-face selection,
    face_recognition.py:367-371): top event per user by value, ties
    broken deterministically by the highest event_id.  A composite
    struct ordering key — exact, unlike an epsilon-sum key which is
    lossy when value gaps shrink below event_id * eps."""
    load_views(spark, sf_dir)
    return (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max_by("event_id", F.struct("value", "event_id")).alias(
                "top_event"
            ),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# DuckDB arg_max takes no struct key; a row_number window is the exact
# equivalent of max_by(event_id, struct(value, event_id))
ORACLE_ARGMAX = """
WITH nn AS (SELECT user_id, event_id, value FROM events
            WHERE value IS NOT NULL),
ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id DESC) AS rn
  FROM nn)
SELECT a.user_id, t.event_id AS top_event,
       round(max(a.value), 6) AS max_value,
       count(*) AS n_events
FROM nn a JOIN ranked t ON a.user_id = t.user_id AND t.rn = 1
GROUP BY a.user_id, t.event_id
"""


def q_balanced_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balancing downsample (distance_tuning.py:139-150):
    equalize all event_type classes to the minority-class size,
    deterministically (lowest event_ids kept)."""
    load_views(spark, sf_dir)
    ev = spark.table("events")
    min_n = ev.groupBy("event_type").count().agg(
        F.min("count").alias("min_n")
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(min_n))
        .where(F.col("rn") <= F.col("min_n"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("event_id").alias("id_checksum"),
            F.max("event_id").alias("max_kept_id"),
        )
    )


ORACLE_BALANCED = """
WITH ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM events),
min_n AS (
  SELECT min(n) AS min_n FROM (
    SELECT count(*) AS n FROM events GROUP BY event_type))
SELECT event_type, count(*) AS n_sampled,
       sum(event_id)::BIGINT AS id_checksum,
       max(event_id) AS max_kept_id
FROM ranked, min_n WHERE rn <= min_n GROUP BY event_type
"""


def q_union_name_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two entity catalogs (graph.py:64 pd.concat of
    dbpedia+wikidata thumbnail CSVs): customer ∪ supplier names with
    source tag, deduplicated."""
    load_views(spark, sf_dir)
    cust = spark.table("customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    supp = spark.table("supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return cust.unionByName(supp).dropDuplicates(["name", "src"])


ORACLE_UNION = """
SELECT DISTINCT * FROM (
  SELECT c_name AS name, 'customer' AS src FROM customer
  UNION ALL
  SELECT s_name AS name, 'supplier' AS src FROM supplier)
"""


def q_video_level_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level accuracy rule (evaluation.py:148-202): a video is
    'correct' when >10% of its frames hit OR more than one frame hits.
    Here: user=video, frame=event, hit=event_type='click'.  The 10%
    rule is evaluated as ``10 * n_hits > n_frames`` — pure integer
    arithmetic, so no engine-dependent float-boundary flips."""
    load_views(spark, sf_dir)
    hit = F.when(F.col("event_type") == "click", 1).otherwise(0)
    return (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(hit).alias("n_hits"),
        )
        .select(
            "user_id", "n_frames", "n_hits",
            F.when(
                (10 * F.col("n_hits") > F.col("n_frames"))
                | (F.col("n_hits") > 1),
                1,
            ).otherwise(0).alias("correct"),
        )
    )


ORACLE_VIDEO_ACC = """
WITH per_user AS (
  SELECT user_id, count(*) AS n_frames,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
           AS n_hits
  FROM events GROUP BY user_id)
SELECT user_id, n_frames, n_hits,
       CASE WHEN 10 * n_hits > n_frames OR n_hits > 1
            THEN 1 ELSE 0 END AS correct
FROM per_user
"""


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-threshold tuning curve (distance_tuning.py:85-177):
    cosine over all pairs of a bounded embedding slice, labeled
    match/unmatch by class, then precision/recall at a 0.1-step
    threshold grid — the batch form of the reference's tuning-dataset
    sweep."""
    load_views(spark, sf_dir)
    emb = spark.table("embeddings").where(F.col("vec_id") < 200).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"),
                   F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("label").alias("lb"),
                   F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    pairs = (
        a.crossJoin(b).where(F.col("ia") < F.col("ib"))
        .select(
            (F.col("la") == F.col("lb")).cast("int").alias("match"),
            (dot / (nrm(F.col("va")) * nrm(F.col("vb")))).alias("cosine"),
        )
    )
    grid = pairs.select(
        "match", "cosine",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("t"),
    ).withColumn("thr", F.col("t") / 10.0)
    return (
        grid.groupBy("thr")
        .agg(
            F.sum(F.when(F.col("cosine") >= F.col("thr"), 1).otherwise(0)
                  ).alias("n_accept"),
            F.sum(F.when((F.col("cosine") >= F.col("thr"))
                         & (F.col("match") == 1), 1).otherwise(0)
                  ).alias("n_true"),
            F.sum("match").alias("n_match_total"),
        )
        .select(
            F.round("thr", 1).alias("thr"),
            "n_accept", "n_true",
            # -1.0 sentinel (not NULL): Spark->pandas turns NULL
            # doubles into NaN, which hash-mismatches DuckDB's NULL
            F.round(F.when(F.col("n_accept") > 0,
                           F.col("n_true") / F.col("n_accept"))
                    .otherwise(F.lit(-1.0)), 6).alias("precision"),
            F.round(F.col("n_true") / F.col("n_match_total"), 6
                    ).alias("recall"),
        )
    )


def q_distance_tuning_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's distance-tuning dataset builder
    (distance_tuning.py:85-177) as one relational plan: labeled
    thumbnail/frame pairs (identical = same label), the larger class
    deterministically downsampled to the smaller (reference balances
    with seeded .sample; here: first-N by pair id, reproducible on both
    engines), and all THREE reference distance metrics per pair —
    cosine distance (1 - cos), euclidean, and euclidean_l2 (distance of
    the L2-normalized vectors)."""
    load_views(spark, sf_dir)
    emb = spark.table("embeddings").where(F.col("vec_id") < 120).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"),
                   F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("label").alias("lb"),
                   F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sq = lambda c: c * c  # noqa: E731
    na, nb = nrm(F.col("va")), nrm(F.col("vb"))
    euclid = F.sqrt(F.aggregate(
        F.zip_with("va", "vb", lambda x, y: sq(x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    ))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("ia") < F.col("ib"))
        .select(
            "ia", "ib",
            (F.col("la") == F.col("lb")).cast("int").alias("identical"),
            (F.lit(1.0) - dot / (na * nb)).alias("cos_d"),
            euclid.alias("euc_d"),
            # ||a/|a| - b/|b||^2 = 2 - 2 cos  (expanded form: one pass,
            # no per-element renormalized arrays)
            F.sqrt(F.greatest(F.lit(0.0),
                              F.lit(2.0) - 2.0 * dot / (na * nb))
                   ).alias("l2_d"),
        )
    )
    min_n = pairs.groupBy("identical").count().agg(
        F.min("count").alias("min_n")
    )
    w = Window.partitionBy("identical").orderBy("ia", "ib")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(min_n))
        .where(F.col("rn") <= F.col("min_n"))
        .select(
            "ia", "ib", "identical",
            F.round("cos_d", 6).alias("cosine_distance"),
            F.round("euc_d", 6).alias("euclidean_distance"),
            F.round("l2_d", 6).alias("euclidean_l2_distance"),
        )
        .orderBy("identical", "ia", "ib")
    )


ORACLE_DISTANCE_TUNING = """
WITH emb AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id < 120),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(a.label = b.label AS INT) AS identical,
         list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[i] * b.v[i])) AS dot,
         sqrt(list_sum(list_transform(a.v, x -> x * x))) AS na,
         sqrt(list_sum(list_transform(b.v, x -> x * x))) AS nb,
         sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))) AS euc_d
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id),
scored AS (
  SELECT ia, ib, identical,
         1.0 - dot / (na * nb) AS cos_d, euc_d,
         sqrt(greatest(0.0, 2.0 - 2.0 * dot / (na * nb))) AS l2_d,
         row_number() OVER (PARTITION BY identical ORDER BY ia, ib) AS rn
  FROM pairs),
min_n AS (
  SELECT min(n) AS min_n FROM (
    SELECT count(*) AS n FROM pairs GROUP BY identical))
SELECT ia, ib, identical,
       round(cos_d, 6) AS cosine_distance,
       round(euc_d, 6) AS euclidean_distance,
       round(l2_d, 6) AS euclidean_l2_distance
FROM scored, min_n WHERE rn <= min_n
ORDER BY identical, ia, ib
"""


ORACLE_THRESHOLD_SWEEP = """
WITH emb AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200),
pairs AS (
  SELECT CAST(a.label = b.label AS INT) AS match,
         (list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
           * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
         ) AS cosine
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id),
grid AS (
  SELECT p.match, p.cosine, t.range / 10.0 AS thr
  FROM pairs p, range(1, 10) t)
SELECT round(thr, 1) AS thr,
       sum(CASE WHEN cosine >= thr THEN 1 ELSE 0 END)::BIGINT AS n_accept,
       sum(CASE WHEN cosine >= thr AND match = 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_true,
       round(CASE WHEN sum(CASE WHEN cosine >= thr THEN 1 ELSE 0 END) > 0
             THEN sum(CASE WHEN cosine >= thr AND match = 1 THEN 1 ELSE 0 END)::DOUBLE
                  / sum(CASE WHEN cosine >= thr THEN 1 ELSE 0 END)
             ELSE -1.0 END, 6) AS precision,
       round(sum(CASE WHEN cosine >= thr AND match = 1 THEN 1 ELSE 0 END)::DOUBLE
             / sum(match), 6) AS recall
FROM grid GROUP BY thr
"""


def q_minhash_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus dedup (dedup.dedup_corpus): MinHash+LSH pairs
    -> transitive duplicate clusters (connected components) -> keep
    each cluster's min-id representative.  The oracle composes the
    signature-exact minhash SQL with a recursive-CTE component walk, so
    bucketing, clustering, AND the surviving set are all checked."""
    from .operators import dedup

    load_views(spark, sf_dir)
    survivors = dedup.dedup_corpus(
        spark.table("documents"), threshold=0.9, num_hashes=12, bands=4
    )
    return survivors.select("doc_id").orderBy("doc_id")


def _oracle_minhash_dedup() -> str:
    pairs_sql = _oracle_minhash().replace("ORDER BY id_a, id_b", "")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
walk(node, comp) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, w.comp FROM sym s JOIN walk w ON s.b = w.node),
lab AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node),
dupes AS (SELECT node FROM lab WHERE node <> comp)
SELECT d.doc_id AS doc_id FROM documents d
LEFT JOIN dupes ON d.doc_id = dupes.node
WHERE dupes.node IS NULL
ORDER BY d.doc_id
"""


def q_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/cluster.py) over the
    embeddings table, quantized to integer-valued doubles
    (floor(x*100 + 0.5)) so every cross-row sum is exact and the
    result is bit-identical across partitionings AND engines.  The
    oracle runs the SAME algorithm as fully-unrolled DuckDB CTEs —
    init, every assign/update round, and the final assignment are all
    recomputed independently in SQL, no precomputed values."""
    from .operators.cluster import kmeans

    load_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 100.0 + 0.5).cast("double"),
        ).alias("v"),
    )
    assigned, _ = kmeans(emb, vec_col="v", id_col="vec_id", k=6, n_iter=4)
    return assigned.select(F.col("id").alias("vec_id"), "cluster").orderBy(
        "vec_id"
    )


def _kmeans_cte_parts(k: int, n_iter: int, dim: int) -> tuple[list, str]:
    """Shared CTE chain for the kmeans-family oracles: returns
    (cte_parts, dist_expr).  c0 = md5-ordered prefix; a{t} assigns with
    c{t-1} (argmin of the 64-term left-associated squared-distance sum
    — the same IEEE add order as the Spark fold); c{t} averages exact
    integer sums; empty clusters COALESCE to their previous centroid."""
    dist = " + ".join(
        f"(q.v[{i}] - c.v[{i}]) * (q.v[{i}] - c.v[{i}])"
        for i in range(1, dim + 1)
    )
    parts = [f"""q AS (
  SELECT vec_id, list_transform(embedding, x -> floor(x * 100.0 + 0.5)) AS v
  FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j, v
  FROM (SELECT vec_id, v FROM q
        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {k}))"""]
    for t in range(1, n_iter + 1):
        p = t - 1
        parts.append(f"""a{t} AS (
  SELECT vec_id, j FROM (
    SELECT q.vec_id, c.j, {dist} AS dist
    FROM q CROSS JOIN c{p} c) d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) = 1),
c{t} AS (
  SELECT c{p}.j, COALESCE(m.v, c{p}.v) AS v
  FROM c{p} LEFT JOIN (
    SELECT j, list(sv ORDER BY dim) AS v FROM (
      SELECT a{t}.j, t.i AS dim, sum(q.v[t.i]) / count(*) AS sv
      FROM a{t} JOIN q USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) t
      GROUP BY a{t}.j, t.i) g
    GROUP BY j) m USING (j))""")
    return parts, dist


def _oracle_kmeans(k: int = 6, n_iter: int = 4, dim: int = 64) -> str:
    parts, dist = _kmeans_cte_parts(k, n_iter, dim)
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT vec_id, j::INT AS cluster FROM (
  SELECT q.vec_id, c.j, {dist} AS dist
  FROM q CROSS JOIN c{n_iter} c) d
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) = 1
ORDER BY vec_id
"""


def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py::semantic_dedup): kmeans blocks the
    embedding table, within-cluster cosine >= 7/20 pairs drop the
    larger id (the synthetic embeddings are spread out — max pairwise
    cosine is ~0.51 — so the production-style 0.8+ threshold would
    drop nothing; 0.35 exercises real drops).  All math is
    integer-exact (quantized vectors, squared threshold inequality),
    so the oracle replays it verbatim: the unrolled kmeans CTEs plus
    one integer self-join — no precomputed values on either side."""
    from .operators.dedup import semantic_dedup

    load_views(spark, sf_dir)
    return semantic_dedup(
        spark.table("embeddings"), vec_col="embedding", id_col="vec_id",
        k=6, n_iter=4, tau_num=7, tau_den=20,
    ).select(
        F.col("id").alias("vec_id"), F.col("cluster").cast("int").alias("cluster")
    ).orderBy("vec_id")


def _oracle_semantic_dedup(k: int = 6, n_iter: int = 4, dim: int = 64,
                           tau_num: int = 4, tau_den: int = 5,
                           max_cluster_size: int | None = None) -> str:
    """The kmeans oracle's CTE chain (shared via _kmeans_cte_parts, so
    the two oracles stay in lockstep) + an integer pair join: same
    quantization, same final assignment, same squared-cosine test.
    ``max_cluster_size`` mirrors the engine's mega-cluster guard (pair
    search restricted to clusters at/under the cap; everything still
    appears in the output) — None omits the clause, matching the
    driver query where no sf cluster approaches the engine default."""
    parts, dist = _kmeans_cte_parts(k, n_iter, dim)
    dot_ab = " + ".join(f"a.v[{i}] * b.v[{i}]" for i in range(1, dim + 1))
    n2 = lambda t: " + ".join(  # noqa: E731
        f"{t}.v[{i}] * {t}.v[{i}]" for i in range(1, dim + 1)
    )
    ctes = ",\n".join(parts)
    cap_clause = (
        "" if max_cluster_size is None else f"""
    AND a.j IN (SELECT j FROM vl GROUP BY j
                HAVING count(*) <= {max_cluster_size})"""
    )
    return f"""
WITH {ctes},
assign AS (
  SELECT vec_id, j FROM (
    SELECT q.vec_id, c.j, {dist} AS dist
    FROM q CROSS JOIN c{n_iter} c) d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) = 1),
vl AS (
  SELECT q.vec_id, a.j, list_transform(q.v, x -> x::BIGINT) AS v
  FROM q JOIN assign a USING (vec_id)),
dropped AS (
  SELECT DISTINCT b.vec_id AS id_b
  FROM vl a JOIN vl b ON a.j = b.j AND a.vec_id < b.vec_id
  WHERE ({dot_ab}) >= 0
    AND {tau_den * tau_den} * ({dot_ab}) * ({dot_ab})
        >= {tau_num * tau_num} * ({n2('a')}) * ({n2('b')}){cap_clause})
SELECT vec_id, j::INT AS cluster FROM vl
WHERE vec_id NOT IN (SELECT id_b FROM dropped)
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# corpus construction (operators/corpus.py)
# --------------------------------------------------------------------------

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_DEFAULT_RATE = 0.1


def q_corpus_split_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed corpus assembly: hash_split into
    train/val/test + per-source mixture sampling, both md5-prefix
    decisions (engine-portable: the oracle recomputes them with
    DuckDB's md5)."""
    from .operators import corpus

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    split = corpus.hash_split(docs, _SPLITS, key_col="doc_id")
    sampled = corpus.mixture_sample(
        split, _RATES, source_col="source", key_col="doc_id",
        default_rate=_DEFAULT_RATE,
    )
    return sampled.select("doc_id", "source", "split").orderBy("doc_id")


def _oracle_corpus_split() -> str:
    from .operators.corpus import hex_cutoff

    c_train = hex_cutoff(0.8)
    c_val = hex_cutoff(0.9)
    rate_case = " ".join(
        f"WHEN source = '{s}' THEN '{hex_cutoff(r)}'"
        for s, r in _RATES.items()
    )
    return f"""
SELECT doc_id, source,
       CASE WHEN substr(md5('split:' || doc_id::VARCHAR), 1, 8) < '{c_train}'
            THEN 'train'
            WHEN substr(md5('split:' || doc_id::VARCHAR), 1, 8) < '{c_val}'
            THEN 'val' ELSE 'test' END AS split
FROM documents
WHERE substr(md5('mix:' || doc_id::VARCHAR), 1, 8) <
      (CASE {rate_case} ELSE '{hex_cutoff(_DEFAULT_RATE)}' END)
ORDER BY doc_id
"""


def _duck_quality(col: str) -> str:
    """DuckDB mirror of text.quality_score: same terms, same IEEE op
    order (left-associated), int/int divisions stay `/` (double in
    both engines)."""
    toks = _DUCK_TOKENS.format(col=col)
    hits = _duck_lang_hits("en")
    length_ok = f"least(length({col}) / 200.0, 1.0)"
    punct_ratio = (
        f"(CASE WHEN length({col}) > 0 THEN "
        f"length(regexp_replace({col}, '[a-zA-Z0-9\\s]', '', 'g')) "
        f"/ length({col}) ELSE 0.0 END)"
    )
    punct_ok = f"(1.0 - least({punct_ratio} * 4.0, 1.0))"
    sw_ratio = (
        f"(CASE WHEN len({toks}) > 0 THEN {hits} / len({toks}) "
        f"ELSE 0.0 END)"
    )
    sw_ok = f"least({sw_ratio} * 5.0, 1.0)"
    tl = (
        f"(CASE WHEN len({toks}) > 0 THEN "
        f"coalesce(list_sum(list_transform({toks}, t -> length(t))), 0) "
        f"/ len({toks}) ELSE 0.0 END)"
    )
    tl_ok = f"(CASE WHEN {tl} >= 2.5 AND {tl} <= 9.0 THEN 1.0 ELSE 0.4 END)"
    return (
        f"0.3 * {length_ok} + 0.2 * {punct_ok} "
        f"+ (0.3 * {sw_ok} + 0.2 * {tl_ok})"
    )


def q_quality_filter_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus.quality_filter over documents: survivors with their
    token count and rounded score.  The FILTER itself runs on the
    unrounded score in both engines — a borderline disagreement would
    change the surviving row set, not just a value."""
    from .operators import corpus
    from .operators import text as T

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    kept = corpus.quality_filter(
        docs, text_col="text", min_tokens=5, min_quality=0.5
    )
    return kept.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.quality_score(F.col("text")), 9).alias("quality"),
    ).orderBy("doc_id")


def _oracle_quality_filter() -> str:
    q = _duck_quality("text")
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
SELECT doc_id, len({toks})::INT AS n_tokens, round({q}, 9) AS quality
FROM documents
WHERE len({toks}) >= 5 AND ({q}) >= 0.5
ORDER BY doc_id
"""


_PACK_BUDGET = 256


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sample packing per source bucket (corpus.pack_sequences):
    sequential pandas kernel per bucket; the oracle replays the greedy
    fill as a recursive CTE over the same doc order."""
    from .operators import corpus
    from .operators import text as T

    load_views(spark, sf_dir)
    docs = spark.table("documents").select(
        "source", "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    packed = corpus.pack_sequences(
        docs, budget=_PACK_BUDGET, bucket_col="source",
        id_col="doc_id", tokens_col="n_tokens",
    )
    return packed.orderBy("bucket", "doc_id")


def _oracle_sequence_packing() -> str:
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
WITH RECURSIVE docs AS (
  SELECT source AS bucket, doc_id::VARCHAR AS doc_id,
         len({toks})::INT AS n,
         row_number() OVER (PARTITION BY source
                            ORDER BY doc_id::VARCHAR) AS rn
  FROM documents),
walk(bucket, rn, doc_id, n, seq_id, fill) AS (
  SELECT bucket, rn, doc_id, n, 0, n FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n,
         CASE WHEN w.fill + d.n > {_PACK_BUDGET}
              THEN w.seq_id + 1 ELSE w.seq_id END,
         CASE WHEN w.fill + d.n > {_PACK_BUDGET}
              THEN d.n ELSE w.fill + d.n END
  FROM walk w JOIN docs d ON d.bucket = w.bucket AND d.rn = w.rn + 1)
SELECT bucket, doc_id, n::INT AS n_tokens, seq_id::INT AS seq_id,
       fill::INT AS seq_fill
FROM walk ORDER BY bucket, doc_id
"""


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-bigram repetition signal per document
    (text.ngram_repetition_ratio) — scan-stage HOFs, zero shuffle."""
    from .operators import text as T

    load_views(spark, sf_dir)
    return (
        spark.table("documents")
        .select(
            "doc_id",
            F.round(T.ngram_repetition_ratio(F.col("text"), 2), 9)
            .alias("rep2"),
        )
        .orderBy("doc_id")
    )


ORACLE_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams,
         len(toks) AS nt
  FROM t)
SELECT doc_id,
       round(CASE WHEN nt >= 2
                  THEN 1.0 - len(list_distinct(grams)) / len(grams)
                  ELSE 0.0 END, 9) AS rep2
FROM g ORDER BY doc_id
"""


_PII_AUG_SPARK = None  # built inline in the query


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents deterministically AUGMENTED with
    synthetic PII (an email, an IPv4, a phone) so the patterns fire on
    every row with real prose around them.  Output: per-kind counts +
    md5 of the redacted text (full-string equality vs the oracle)."""
    from .operators import text as T

    load_views(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".3.7 call +1 555-010-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    docs = spark.table("documents").select("doc_id", aug.alias("aug"))
    counts = T.pii_counts(F.col("aug"))
    return docs.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["ip"].cast("int").alias("n_ip"),
        counts["phone"].cast("int").alias("n_phone"),
        F.md5(T.redact_pii(F.col("aug"))).alias("redacted_md5"),
    ).orderBy("doc_id")


def _oracle_pii() -> str:
    from .operators.text import PII_PATTERNS

    aug = (
        "text || ' contact u' || doc_id::VARCHAR || '@example.com ip 10.'"
        " || (doc_id % 200)::VARCHAR || '.3.7 call +1 555-010-'"
        " || lpad(doc_id::VARCHAR, 4, '0')"
    )
    (k1, p1, t1), (k2, p2, t2), (k3, p3, t3) = PII_PATTERNS

    def esc(p):
        return p.replace("'", "''").replace("\\", "\\")

    return f"""
WITH a AS (SELECT doc_id, {aug} AS aug FROM documents),
s1 AS (SELECT doc_id, aug,
              len(regexp_extract_all(aug, '{esc(p1)}')) AS n_email,
              regexp_replace(aug, '{esc(p1)}', '{t1}', 'g') AS r1 FROM a),
s2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(r1, '{esc(p2)}')) AS n_ip,
              regexp_replace(r1, '{esc(p2)}', '{t2}', 'g') AS r2 FROM s1),
s3 AS (SELECT doc_id, n_email, n_ip,
              len(regexp_extract_all(r2, '{esc(p3)}')) AS n_phone,
              regexp_replace(r2, '{esc(p3)}', '{t3}', 'g') AS r3 FROM s2)
SELECT doc_id, n_email::INT AS n_email, n_ip::INT AS n_ip,
       n_phone::INT AS n_phone, md5(r3) AS redacted_md5
FROM s3 ORDER BY doc_id
"""


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/temporal.py): each click picks up
    the user's most recent purchase at-or-before it.  Spark side is the
    union + running last(ignorenulls) formulation (one shuffle, no
    candidate explosion); the oracle is DuckDB's native ASOF LEFT
    JOIN — two independent formulations of the same semantics."""
    from .operators.temporal import asof_join

    load_views(spark, sf_dir)
    ev = spark.table("events")
    clicks = ev.where("event_type = 'click'").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id",
                    right_cols=["value"])
    # no-match rows stay (left-join semantics) but surface as sentinel
    # values, not NULLs: pandas-vs-fetchall null spellings (NaT/NaN vs
    # None) would otherwise depend on the comparison harness.
    return out.select(
        "event_id", "user_id",
        F.coalesce(F.col("value_r"), F.lit(-1.0)).alias("p_value"),
        F.coalesce(
            F.unix_micros(F.col("ts_r").cast("timestamp")), F.lit(-1)
        ).alias("p_ts_us"),
    ).orderBy("event_id")


ORACLE_ASOF = """
SELECT l.event_id, l.user_id,
       COALESCE(r.value, -1.0) AS p_value,
       COALESCE(epoch_us(r.ts), -1)::BIGINT AS p_ts_us
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_range_join_session_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/temporal.py): clicks landing inside the
    12-hour window after each signup, same user.  Spark side is the
    binned equi-join (6h bins -> <= 3 bins/interval) + residual BETWEEN
    filter; the oracle is the plain theta join."""
    from .operators.temporal import range_join

    load_views(spark, sf_dir)
    ev = spark.table("events")
    clicks = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    signups = ev.where("event_type = 'signup'").select(
        F.col("event_id").alias("signup_id"), "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("end_ts"),
    )
    out = range_join(clicks, signups, on="ts", start="start_ts",
                     end="end_ts", by="user_id", bin_width_s=21600.0)
    return out.select("click_id", "signup_id").orderBy(
        "click_id", "signup_id"
    )


ORACLE_RANGE_JOIN = """
SELECT c.event_id AS click_id, s.event_id AS signup_id
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
JOIN (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'signup') s
ON c.user_id = s.user_id AND c.ts >= s.ts
   AND c.ts <= s.ts + INTERVAL 12 HOUR
ORDER BY click_id, signup_id
"""


def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.py) over the directed
    customer->supplier purchase graph (distinct (o_custkey, l_suppkey)
    pairs via orders x lineitem; vertex keys namespaced 'c<k>'/'s<k>').
    Every supplier is a dangling sink, so the query exercises uniform
    dangling-mass redistribution every round.  Integer mass units make
    the result bit-identical at any partitioning; the oracle replays
    the identical recurrence as fully-unrolled DuckDB CTEs."""
    from .operators.graph import pagerank

    load_views(spark, sf_dir)
    edges = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    return pagerank(edges, n_iter=6).orderBy("v")


def _oracle_pagerank(n_iter: int = 6, num: int = 85, den: int = 100,
                     scale: int = 10**12) -> str:
    """Unrolled-CTE fixed-point PageRank: r0 = uniform integer mass;
    each round recomputes shares (integer DIV), in-edge contribution
    sums, dangling mass, and the damped update — the same truncating
    integer recurrence as operators/graph.pagerank, so values match
    bit-for-bit.  Sums cast to BIGINT (DuckDB sums to HUGEINT).

    Every CTE is ``MATERIALIZED``: round t reads r{t-1} three times, so
    an inlined chain re-evaluates the first rounds 3^n_iter times
    (DuckDB ran out of memory); materializing is an evaluation hint
    and leaves the values unchanged."""
    parts = [f"""e AS MATERIALIZED (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
vv AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
nn AS MATERIALIZED (SELECT count(*) AS n FROM vv),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT v, ({scale} // nn.n)::BIGINT AS pr FROM vv CROSS JOIN nn)"""]
    for t in range(1, n_iter + 1):
        p = t - 1
        parts.append(f"""c{t} AS MATERIALIZED (
  SELECT e.dst AS v, sum(r{p}.pr // deg.deg)::BIGINT AS csum
  FROM e JOIN r{p} ON e.src = r{p}.v JOIN deg ON e.src = deg.src
  GROUP BY e.dst),
d{t} AS MATERIALIZED (
  SELECT COALESCE(sum(r{p}.pr), 0)::BIGINT AS dang
  FROM r{p} LEFT JOIN deg ON r{p}.v = deg.src WHERE deg.src IS NULL),
r{t} AS MATERIALIZED (
  SELECT r{p}.v,
         (((({den} - {num}) * {scale}) // {den}) // nn.n
          + ({num} * (COALESCE(c{t}.csum, 0) + d{t}.dang // nn.n)) // {den}
         )::BIGINT AS pr
  FROM r{p} LEFT JOIN c{t} ON r{p}.v = c{t}.v
  CROSS JOIN nn CROSS JOIN d{t})""")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT v, pr FROM r{n_iter} ORDER BY v
"""


_BM25_TERMS = ["spark", "shuffle", "vector", "query"]


def q_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (operators/relevance.py) of every document against a
    fixed 4-term query.  Integer tf/dl/df + per-row double arithmetic
    in fixed term order make the score partitioning-independent; both
    engines round to 6 dp to absorb ln() last-ulp differences."""
    from .operators.relevance import bm25

    load_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    out = bm25(docs, _BM25_TERMS)
    return out.select(
        "doc_id", "dl",
        *[f"tf_{i}" for i in range(len(_BM25_TERMS))],
        F.round("score", 6).alias("score"),
    ).orderBy("doc_id")


def _oracle_bm25(k1: float = 1.2, b: float = 0.75) -> str:
    toks = _DUCK_TOKENS.format(col="text")
    tf_cols = ",\n       ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n       ".join(
        f"sum((tf_{i} > 0)::BIGINT)::BIGINT AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    terms = " + ".join(
        f"ln(1.0 + (s.n::DOUBLE - s.df_{i}::DOUBLE + 0.5)"
        f" / (s.df_{i}::DOUBLE + 0.5))"
        f" * d.tf_{i}::DOUBLE * {k1 + 1.0!r}"
        f" / (d.tf_{i}::DOUBLE + {k1!r} * ({1.0 - b!r}"
        f" + {b!r} * d.dl::DOUBLE / (s.sumdl::DOUBLE / s.n::DOUBLE)))"
        for i in range(len(_BM25_TERMS))
    )
    tf_list = ", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
d AS (SELECT doc_id, len(toks)::BIGINT AS dl,
       {tf_cols}
      FROM t),
s AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
       {df_cols}
      FROM d)
SELECT d.doc_id, d.dl, {tf_list},
       round((0.0 + {terms}), 6) AS score
FROM d CROSS JOIN s
ORDER BY d.doc_id
"""


def q_kmv_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py) of c_name with
    k=256: below 256 distinct values the sketch is exact, above it the
    (k-1)*2^60/h_(k) estimator kicks in — at sf0.01 (1500 customers)
    the estimation branch is exercised.  Every intermediate is an
    integer; the one double division is bit-reproducible, rounded to
    6 dp against ln/ulp paranoia only."""
    from .operators.sketch import kmv_distinct

    load_views(spark, sf_dir)
    out = kmv_distinct(spark.table("customer"), "c_name", k=256)
    return out.select(
        F.round("estimate", 6).alias("estimate"), "n_min", "hk"
    )


def _oracle_kmv(k: int = 256) -> str:
    scale = float((k - 1) * 2**60)
    return f"""
WITH h AS (SELECT DISTINCT ('0x' || substr(md5(c_name), 1, 15))::BIGINT AS h
           FROM customer WHERE c_name IS NOT NULL),
t AS (SELECT h FROM h ORDER BY h LIMIT {k}),
a AS (SELECT count(*)::BIGINT AS n_min, max(h) AS hk FROM t)
SELECT round(CASE WHEN n_min < {k} THEN n_min::DOUBLE
             ELSE {scale!r} / hk::DOUBLE END, 6) AS estimate,
       n_min, hk
FROM a
"""


def q_hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketches (operators/sketch.py): o_orderkey at p=10
    (15k distinct >> 2.5*m=2560 -> raw harmonic-mean branch) and
    o_custkey at p=12 (~1k distinct -> linear-counting branch), as two
    labeled rows.  Register sums are scaled integers, so both engines
    replay the estimate bit-for-bit (ln() absorbed by round-6)."""
    from .operators.sketch import hll_distinct

    load_views(spark, sf_dir)
    orders = spark.table("orders")
    a = hll_distinct(orders, "o_orderkey", p=10).select(
        F.lit("orderkey_p10").alias("which"),
        F.round("estimate", 6).alias("estimate"), "n_reg", "v_zero",
    )
    b = hll_distinct(orders, "o_custkey", p=12).select(
        F.lit("custkey_p12").alias("which"),
        F.round("estimate", 6).alias("estimate"), "n_reg", "v_zero",
    )
    return a.unionByName(b).orderBy("which")


def _oracle_hll_one(col: str, p: int, label: str) -> str:
    from .operators.sketch import hll_alpha

    m = 1 << p
    s_exp = (60 - p) + 1
    raw_num = float(hll_alpha(m) * m * m * 2**s_exp)
    return f"""
SELECT '{label}' AS which,
       round(CASE WHEN {raw_num!r} / z_int::DOUBLE <= {2.5 * m!r}
                   AND v_zero > 0
             THEN {float(m)!r} * ln({float(m)!r} / v_zero::DOUBLE)
             ELSE {raw_num!r} / z_int::DOUBLE END, 6) AS estimate,
       n_reg, v_zero
FROM (
  SELECT n_reg, ({m} - n_reg)::BIGINT AS v_zero,
         (z_present + ({m} - n_reg) * (1::BIGINT << {s_exp}))::BIGINT AS z_int
  FROM (
    SELECT count(*)::BIGINT AS n_reg,
           coalesce(sum(1::BIGINT << ({s_exp} - max_rho)), 0)::BIGINT AS z_present
    FROM (
      SELECT reg, max(CASE WHEN rem = 0 THEN {s_exp}
                      ELSE {s_exp} - length(bin(rem)) END) AS max_rho
      FROM (
        SELECT h % {m} AS reg, h // {m} AS rem
        FROM (SELECT ('0x' || substr(md5({col}::VARCHAR), 1, 15))::BIGINT AS h
              FROM orders WHERE {col} IS NOT NULL)
      ) GROUP BY reg
    )
  )
)
"""


def _oracle_hll() -> str:
    a = _oracle_hll_one("o_orderkey", 10, "orderkey_p10")
    b = _oracle_hll_one("o_custkey", 12, "custkey_p12")
    return f"SELECT * FROM ({a}) UNION ALL SELECT * FROM ({b}) ORDER BY which"


def q_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (operators/decontam.py) in flag
    mode: the eval set is the ~25% of documents whose md5(doc_id)
    starts with 0-3 (deterministic, engine-portable selection), n=13
    word-grams.  Eval members contaminate themselves (count = their
    distinct shingle count); everything else exercises the clean
    branch.  Zero-shuffle-over-train plan (two broadcast joins)."""
    from .operators.decontam import decontaminate

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    eval_df = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    return (
        decontaminate(docs, eval_df, n=13, mode="flag")
        .select("doc_id", "n_contaminated_ngrams", "contaminated")
        .orderBy("doc_id")
    )


def _oracle_decontam(n: int = 13) -> str:
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= {n} THEN
             list_transform(range(1, len(toks) - {n - 2}),
                            i -> array_to_string(toks[i:i+{n - 1}], ' '))
           WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
           ELSE [] END) AS s
  FROM (SELECT doc_id, {toks} AS toks FROM documents)),
fp AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS fp
       FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
eval_fp AS (SELECT DISTINCT fp FROM fp
            WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1','2','3')),
hits AS (SELECT f.doc_id, count(DISTINCT f.fp)::BIGINT AS n
         FROM fp f JOIN eval_fp e USING (fp) GROUP BY f.doc_id)
SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_contaminated_ngrams,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
ORDER BY d.doc_id
"""


def q_cms_heavy_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketch.py) over orders.o_custkey
    (d=4, w=1024): build the bounded d*w counter table, then point-
    estimate the ~1/16 deterministic candidate subset (md5 prefix '0')
    against the true counts.  Pure integers end to end — the oracle
    replays build + probe bit-for-bit."""
    from .operators.sketch import cms_build, cms_estimate

    load_views(spark, sf_dir)
    orders = spark.table("orders")
    cms = cms_build(orders, "o_custkey", d=4, w=1024)
    cand = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("true_cnt"))
        .filter(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
            == "0"
        )
    )
    est = cms_estimate(cms, cand.select("o_custkey"), "o_custkey", d=4, w=1024)
    return (
        cand.join(est, "o_custkey")
        .select("o_custkey", "true_cnt", "est")
        .orderBy("o_custkey")
    )


def _oracle_cms(d: int = 4, w: int = 1024) -> str:
    return f"""
WITH cms AS (
  SELECT j AS row, bucket, count(*)::BIGINT AS cnt
  FROM (SELECT j,
               ('0x' || substr(md5(j::VARCHAR || ':' || o_custkey::VARCHAR),
                               1, 15))::BIGINT % {w} AS bucket
        FROM orders CROSS JOIN range({d}) t(j))
  GROUP BY j, bucket),
cand AS (
  SELECT o_custkey, count(*)::BIGINT AS true_cnt
  FROM orders
  WHERE substr(md5(o_custkey::VARCHAR), 1, 1) = '0'
  GROUP BY o_custkey),
est AS (
  SELECT c.o_custkey, min(coalesce(m.cnt, 0))::BIGINT AS est
  FROM cand c CROSS JOIN range({d}) t(j)
  LEFT JOIN cms m ON m.row = j
   AND m.bucket = ('0x' || substr(md5(j::VARCHAR || ':' ||
                                      c.o_custkey::VARCHAR),
                                  1, 15))::BIGINT % {w}
  GROUP BY c.o_custkey)
SELECT c.o_custkey, c.true_cnt, e.est
FROM cand c JOIN est e USING (o_custkey)
ORDER BY c.o_custkey
"""


def q_bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join (operators/bloom.py): prefilter orders
    against BUILDING-segment customers with m=4096 bits, k=3.  The
    pass set is the true semi-join plus the filter's deterministic
    false positives — both engines rebuild the identical bit table
    (62-bit words, salted md5-prefix hashes), so the oracle replays
    build + probe bit-for-bit."""
    from .operators.bloom import bloom_prefilter

    load_views(spark, sf_dir)
    dim = spark.table("customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    out = bloom_prefilter(
        spark.table("orders"), "o_custkey", dim, "c_custkey", m=4096, k=3
    )
    return out.select("o_orderkey", "o_custkey").orderBy("o_orderkey")


def _oracle_bloom(m: int = 4096, k: int = 3) -> str:
    def pos(expr: str, j: int) -> str:
        return (
            f"(('0x' || substr(md5('{j}:' || {expr}::VARCHAR), 1, 15))"
            f"::BIGINT % {m})"
        )

    probe_cols = ", ".join(
        f"{pos('o_custkey', j)} // 62 AS w{j}, "
        f"(1::BIGINT << ({pos('o_custkey', j)} % 62)::INT) AS b{j}"
        for j in range(k)
    )
    joins = "\n".join(
        f"LEFT JOIN bits t{j} ON t{j}.word = p.w{j}" for j in range(k)
    )
    tests = " AND ".join(
        f"(coalesce(t{j}.bits, 0) & p.b{j}) <> 0" for j in range(k)
    )
    build = " UNION ALL ".join(
        f"SELECT {pos('c_custkey', j)} AS p FROM dim" for j in range(k)
    )
    return f"""
WITH dim AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
pos AS ({build}),
bits AS (SELECT p // 62 AS word, bit_or(1::BIGINT << (p % 62)::INT) AS bits
         FROM pos GROUP BY p // 62),
probe AS (SELECT o_orderkey, o_custkey, {probe_cols} FROM orders)
SELECT p.o_orderkey, p.o_custkey
FROM probe p
{joins}
WHERE {tests}
ORDER BY p.o_orderkey
"""


def _order_graph(spark) -> DataFrame:
    """Deterministic dense-ish test graph: an edge per order between
    (o_custkey mod 60) and (o_orderkey mod 60)."""
    return spark.table("orders").select(
        (F.col("o_custkey") % 60).alias("src"),
        (F.col("o_orderkey") % 60).alias("dst"),
    )


_DUCK_TRI_EDGES = """
raw AS (SELECT o_custkey % 60 AS a, o_orderkey % 60 AS b FROM orders),
e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a <> b),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
"""


def q_triangle_count_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census (operators/graph.py::triangle_count,
    degree-oriented wedge join) of the mod-60 order graph.  The oracle
    counts u<v<w ordered joins — a different but equivalent
    enumeration, so agreement checks the orientation logic, not just
    the arithmetic."""
    from .operators.graph import triangle_count

    load_views(spark, sf_dir)
    return triangle_count(_order_graph(spark))


def _oracle_triangles() -> str:
    return f"""
WITH {_DUCK_TRI_EDGES}
SELECT (SELECT count(*)::BIGINT FROM tri) AS n_triangles,
       (SELECT count(*)::BIGINT FROM e) AS n_edges,
       (SELECT count(DISTINCT x)::BIGINT FROM
          (SELECT u AS x FROM e UNION ALL SELECT v FROM e)) AS n_vertices
"""


def q_triangle_count_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the same graph (each triangle
    charged to its three corners)."""
    from .operators.graph import triangle_count

    load_views(spark, sf_dir)
    return triangle_count(_order_graph(spark), per_vertex=True).orderBy(
        "vertex"
    )


def _oracle_triangles_per_vertex() -> str:
    return f"""
WITH {_DUCK_TRI_EDGES}
SELECT x AS vertex, count(*)::BIGINT AS n_triangles
FROM (SELECT unnest([a, b, c]) AS x FROM tri)
GROUP BY x ORDER BY vertex
"""


def q_property_path_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path reachability (operators/graph.py::
    property_path, layered frontier BFS with min-hop labels) over a
    deterministic out-degree-2 functional graph on customer keys
    1..150 (sf-agnostic: present from sf0.001 up).  The oracle replays
    the walk as a bounded recursive CTE with min(hops) aggregation —
    a different enumeration (exponential walks vs layered frontier),
    so agreement checks the BFS layering, not just the joins."""
    from .operators.graph import property_path

    load_views(spark, sf_dir)
    edges = spark.sql("""
        SELECT format_string('n%05d', c_custkey) AS src,
               format_string('n%05d', (c_custkey * 2) % 150 + 1) AS dst
        FROM customer WHERE c_custkey <= 150
        UNION ALL
        SELECT format_string('n%05d', c_custkey),
               format_string('n%05d', (c_custkey * 3) % 150 + 1)
        FROM customer WHERE c_custkey <= 150
    """)
    return property_path(edges, "n00001", max_hops=6).orderBy("node")


ORACLE_PROPERTY_PATH = """
WITH RECURSIVE edges AS (
  SELECT printf('n%05d', c_custkey) AS src,
         printf('n%05d', (c_custkey * 2) % 150 + 1) AS dst
  FROM customer WHERE c_custkey <= 150
  UNION ALL
  SELECT printf('n%05d', c_custkey),
         printf('n%05d', (c_custkey * 3) % 150 + 1)
  FROM customer WHERE c_custkey <= 150),
walk(node, hops) AS (
  SELECT 'n00001', 0
  UNION ALL
  SELECT e.dst, w.hops + 1
  FROM walk w JOIN (SELECT DISTINCT src, dst FROM edges) e
    ON e.src = w.node
  WHERE w.hops < 6)
SELECT node, min(hops)::INT AS hops
FROM walk
GROUP BY node
HAVING min(hops) > 0
ORDER BY node
"""


def q_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler (operators/profile.py) over the four
    string/int customer columns (c_acctbal excluded: double->string
    casts format differently across engines, a documented oracle
    hazard, not an operator limitation).  Every stage — null census,
    min/max, HLL registers, modal value with ascending tie-break —
    replays bit-for-bit in DuckDB."""
    from .operators.profile import profile

    load_views(spark, sf_dir)
    cols = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    out = profile(spark.table("customer"), columns=cols, hll_p=12)
    return out.select(
        "column",
        "n_rows",
        "n_null",
        F.round("null_frac", 6).alias("null_frac"),
        F.round("n_distinct_est", 6).alias("n_distinct_est"),
        "top_value",
        "top_count",
        # -1.0 sentinel for non-numeric columns' NULL min/max: a NULL
        # double rides the pandas bridge as NaN on one engine and None
        # on the other (harness dtype asymmetry, same as the rollup
        # sentinels)
        F.coalesce("min_num", F.lit(-1.0)).alias("min_num"),
        F.coalesce("max_num", F.lit(-1.0)).alias("max_num"),
    ).orderBy("column")


def _oracle_profile(p: int = 12) -> str:
    from .operators.sketch import hll_alpha

    m = 1 << p
    s_exp = (60 - p) + 1
    raw_num = float(hll_alpha(m) * m * m * 2**s_exp)

    def one(c: str, numeric: bool) -> str:
        hll = f"""(
  SELECT round(CASE WHEN {raw_num!r} / z_int::DOUBLE <= {2.5 * m!r}
                     AND v_zero > 0
               THEN {float(m)!r} * ln({float(m)!r} / v_zero::DOUBLE)
               ELSE {raw_num!r} / z_int::DOUBLE END, 6)
  FROM (
    SELECT ({m} - n_reg)::BIGINT AS v_zero,
           (z_present + ({m} - n_reg) * (1::BIGINT << {s_exp}))::BIGINT AS z_int
    FROM (
      SELECT count(*)::BIGINT AS n_reg,
             coalesce(sum(1::BIGINT << ({s_exp} - max_rho)), 0)::BIGINT AS z_present
      FROM (
        SELECT reg, max(CASE WHEN rem = 0 THEN {s_exp}
                        ELSE {s_exp} - length(bin(rem)) END) AS max_rho
        FROM (SELECT h % {m} AS reg, h // {m} AS rem
              FROM (SELECT ('0x' || substr(md5({c}::VARCHAR), 1, 15))::BIGINT AS h
                    FROM customer WHERE {c} IS NOT NULL))
        GROUP BY reg))))"""
        mn = f"min({c})::DOUBLE" if numeric else "-1.0"
        mx = f"max({c})::DOUBLE" if numeric else "-1.0"
        return f"""
SELECT '{c}' AS "column",
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS null_frac,
       {hll} AS n_distinct_est,
       (SELECT {c}::VARCHAR FROM customer WHERE {c} IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 ASC LIMIT 1) AS top_value,
       (SELECT count(*)::BIGINT FROM customer WHERE {c} IS NOT NULL
        GROUP BY {c}::VARCHAR ORDER BY count(*) DESC, {c}::VARCHAR ASC
        LIMIT 1) AS top_count,
       {mn} AS min_num,
       {mx} AS max_num
FROM customer"""

    parts = " UNION ALL ".join(
        f"({one(c, num)})"
        for c, num in [
            ("c_custkey", True),
            ("c_name", False),
            ("c_nationkey", True),
            ("c_mktsegment", False),
        ]
    )
    return f'SELECT * FROM ({parts}) ORDER BY "column"'


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (nation, order-year): subtotal + grand-total rows
    from ONE aggregation pass (Catalyst expands the grouping sets
    map-side; no self-union of per-level scans).  NULL group markers
    disambiguated via grouping() so rollup rows hash identically to
    the oracle's GROUP BY ROLLUP."""
    load_views(spark, sf_dir)
    o, c, n = spark.table("orders"), spark.table("customer"), spark.table("nation")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("oyear"),
            F.col("o_totalprice"),
        )
    )
    return (
        joined.rollup("nation", "oyear")
        .agg(
            F.grouping("nation").cast("int").alias("g_nation"),
            F.grouping("oyear").cast("int").alias("g_year"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            # rollup NULLs -> sentinels: keeps oyear a non-null int so
            # neither engine's pandas bridge floats the column
            F.coalesce("nation", F.lit("ALL")).alias("nation"),
            F.coalesce("oyear", F.lit(-1)).alias("oyear"),
            "g_nation", "g_year", "n_orders", "revenue",
        )
        .orderBy("g_nation", "g_year", "nation", "oyear")
    )


ORACLE_ROLLUP = """
SELECT coalesce(n.n_name, 'ALL') AS nation,
       coalesce(year(o.o_orderdate)::INT, -1) AS oyear,
       grouping(n.n_name)::INT AS g_nation,
       grouping(year(o.o_orderdate))::INT AS g_year,
       count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, year(o.o_orderdate))
ORDER BY g_nation, g_year, nation, oyear
"""


def q_window_rank_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one partition spec (rank,
    dense_rank, ntile, lead, lag share a single sort/exchange —
    Catalyst collapses same-spec windows into one Window node)."""
    from pyspark.sql import Window

    load_views(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = spark.table("orders").filter(F.col("o_custkey") % 100 == 7)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
            F.ntile(4).over(w).alias("quartile"),
            # -1 sentinels keep the columns non-null BIGINT (a NULL
            # would float the whole column through pandas)
            F.coalesce(F.lag("o_orderkey", 1).over(w), F.lit(-1)).alias(
                "prev_order"
            ),
            F.coalesce(F.lead("o_orderkey", 1).over(w), F.lit(-1)).alias(
                "next_order"
            ),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


ORACLE_WINDOW_RANK = """
SELECT o_custkey, o_orderkey,
       rank() OVER w AS rk,
       dense_rank() OVER w AS drk,
       ntile(4) OVER w AS quartile,
       coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_order,
       coalesce(lead(o_orderkey, 1) OVER w, -1) AS next_order
FROM orders
WHERE o_custkey % 100 = 7
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of l_quantity per return flag
    (Spark `percentile` == DuckDB `quantile_cont`, both the
    (n-1)*p linear interpolation; doubles rounded to 6 dp).  At scale
    the approx_percentile/t-digest path replaces this; exact
    percentile is the profiling/oracle form."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.expr("percentile(l_quantity, 0.25)"), 6
            ).alias("p25"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
            F.round(
                F.expr("percentile(l_quantity, 0.9)"), 6
            ).alias("p90"),
            F.round(
                F.expr("percentile(l_quantity, 0.99)"), 6
            ).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity::DOUBLE, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity::DOUBLE, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity::DOUBLE, 0.9), 6) AS p90,
       round(quantile_cont(l_quantity::DOUBLE, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window aggregation (F.window, 1-hour buckets) —
    the batch twin of streaming.windowed_mention_counts; the oracle is
    DuckDB time_bucket."""
    load_views(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


ORACLE_TUMBLING = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
"""


def q_pivot_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per year x priority, explicit pivot values
    (so the plan is a single aggregate with conditional counts — no
    second pass to discover the domain).  Oracle = conditional
    aggregation, the relational spelling of the same thing."""
    load_views(spark, sf_dir)
    o = spark.table("orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        o.select(F.year("o_orderdate").alias("oyear"), "o_orderpriority")
        .groupBy("oyear")
        .pivot("o_orderpriority", pris)
        .count()
    )
    renames = {p: f"p{p[0]}" for p in pris}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "oyear",
        *[F.coalesce(F.col(n), F.lit(0).cast("long")).alias(n)
          for n in renames.values()],
    ).orderBy("oyear")


ORACLE_PIVOT = """
SELECT year(o_orderdate)::INT AS oyear,
       sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS p1,
       sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS p2,
       sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS p3,
       sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS p4,
       sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS p5
FROM orders
GROUP BY 1 ORDER BY oyear
"""


def q_hll_users_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HyperLogLog (operators/sketch.py, by=[event_type]):
    distinct user_id per event type at p=11 — the bounded-state
    count-distinct-per-group.  Integer register sums replay in DuckDB
    bit-for-bit per group."""
    from .operators.sketch import hll_distinct

    load_views(spark, sf_dir)
    out = hll_distinct(
        spark.table("events"), "user_id", p=11, by=["event_type"]
    )
    return out.select(
        "event_type",
        F.round("estimate", 6).alias("estimate"),
        "n_reg",
        "v_zero",
    ).orderBy("event_type")


def _oracle_hll_by(p: int = 11) -> str:
    from .operators.sketch import hll_alpha

    m = 1 << p
    s_exp = (60 - p) + 1
    raw_num = float(hll_alpha(m) * m * m * 2**s_exp)
    return f"""
SELECT event_type,
       round(CASE WHEN {raw_num!r} / z_int::DOUBLE <= {2.5 * m!r}
                   AND v_zero > 0
             THEN {float(m)!r} * ln({float(m)!r} / v_zero::DOUBLE)
             ELSE {raw_num!r} / z_int::DOUBLE END, 6) AS estimate,
       n_reg, v_zero
FROM (
  SELECT event_type, n_reg, ({m} - n_reg)::BIGINT AS v_zero,
         (z_present + ({m} - n_reg) * (1::BIGINT << {s_exp}))::BIGINT AS z_int
  FROM (
    SELECT event_type, count(*)::BIGINT AS n_reg,
           coalesce(sum(1::BIGINT << ({s_exp} - max_rho)), 0)::BIGINT AS z_present
    FROM (
      SELECT event_type, reg,
             max(CASE WHEN rem = 0 THEN {s_exp}
                 ELSE {s_exp} - length(bin(rem)) END) AS max_rho
      FROM (
        SELECT event_type, h % {m} AS reg, h // {m} AS rem
        FROM (SELECT event_type,
                     ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL)
      ) GROUP BY event_type, reg
    ) GROUP BY event_type
  )
)
ORDER BY event_type
"""


_MENTION_LABELS = [
    ("spark", "http://example.org/kw/spark"),
    ("customer", "http://example.org/kw/customer"),
    ("order data", "http://example.org/kw/order_data"),
    ("hash value", "http://example.org/kw/hash_value"),
]


def q_text_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-mention entity linking (operators/mentions.py): wrap each
    document's text as a one-span interleaved doc, link against a
    fixed keyword catalog (single- and two-word labels -> both the
    L=1 token join and the L=2 shingle join execute).  Exact string
    logic; the oracle replays the shingle joins in DuckDB."""
    from .operators.mentions import link_text_mentions

    load_views(spark, sf_dir)
    docs = spark.table("documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    cat = spark.createDataFrame(_MENTION_LABELS, "label string, uri string")
    out = link_text_mentions(docs, cat)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "entity_uri",
        "label",
        "n_spans",
    ).orderBy("doc_id", "entity_uri")


def _oracle_mentions() -> str:
    labels = " UNION ALL ".join(
        f"SELECT '{lab}' AS label, '{uri}' AS uri" for lab, uri in _MENTION_LABELS
    )
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
WITH cat AS (
  SELECT label, uri, len(string_split(label, ' ')) AS l FROM ({labels})),
toks AS (SELECT doc_id, {toks} AS t FROM documents),
g1 AS (SELECT doc_id, unnest(list_distinct(t)) AS gram FROM toks
       WHERE len(t) > 0),
g2 AS (SELECT doc_id, unnest(list_distinct(
         CASE WHEN len(t) >= 2 THEN
           list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
         WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)) AS gram
       FROM toks),
hits AS (
  SELECT doc_id, uri AS entity_uri, label FROM g1
  JOIN cat ON cat.l = 1 AND g1.gram = cat.label
  UNION ALL
  SELECT doc_id, uri, label FROM g2
  JOIN cat ON cat.l = 2 AND g2.gram = cat.label
  WHERE len(string_split(g2.gram, ' ')) = 2)
SELECT doc_id, entity_uri, label, count(DISTINCT 0)::BIGINT AS n_spans
FROM hits GROUP BY doc_id, entity_uri, label
ORDER BY doc_id, entity_uri
"""


def q_weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted sampling (operators/corpus.py::
    weighted_sample): 50 orders weighted by floor(o_totalprice/1000)+1.
    The race key (max of w salted 60-bit hashes — the integer-exact
    u^(1/w) equivalent) replays in DuckDB bit-for-bit."""
    from .operators.corpus import weighted_sample

    load_views(spark, sf_dir)
    orders = spark.table("orders").withColumn(
        "w", (F.floor(F.col("o_totalprice") / 1000) + 1).cast("long")
    )
    got = weighted_sample(orders, "w", 50, key_col="o_orderkey")
    return got.select("o_orderkey", "w").orderBy("o_orderkey")


def _oracle_weighted_sample(n: int = 50) -> str:
    race = (
        "list_max(list_transform(range(1, w + 1), j -> "
        "('0x' || substr(md5('wsample:' || j::VARCHAR || ':' || "
        "o_orderkey::VARCHAR), 1, 15))::BIGINT))"
    )
    return f"""
WITH weighted AS (
  SELECT o_orderkey, (floor(o_totalprice / 1000) + 1)::BIGINT AS w
  FROM orders),
raced AS (
  SELECT o_orderkey, w, {race} AS race
  FROM weighted WHERE w > 0)
SELECT o_orderkey, w
FROM (SELECT * FROM raced ORDER BY race DESC LIMIT {n})
ORDER BY o_orderkey
"""


def q_totalprice_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (operators/profile.py::histogram) of
    o_totalprice over [0, 500000) in 20 buckets (plus under/overflow).
    width_bucket has identical semantics in both engines; bin edges
    are exact doubles."""
    from .operators.profile import histogram

    load_views(spark, sf_dir)
    out = histogram(spark.table("orders"), "o_totalprice", 0.0, 500_000.0, 20)
    return out.select(
        "bucket",
        F.round("bin_lo", 6).alias("bin_lo"),
        F.round("bin_hi", 6).alias("bin_hi"),
        "n",
    ).orderBy("bucket")


ORACLE_TOTALPRICE_HISTOGRAM = """
SELECT bucket,
       round(CASE WHEN bucket = 0 THEN '-infinity'::DOUBLE
             ELSE 0.0 + (bucket - 1) * 25000.0 END, 6) AS bin_lo,
       round(CASE WHEN bucket = 21 THEN 'infinity'::DOUBLE
             ELSE 0.0 + bucket * 25000.0 END, 6) AS bin_hi,
       count(*)::BIGINT AS n
FROM (SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                  WHEN o_totalprice >= 500000.0 THEN 21
                  ELSE floor(o_totalprice / 25000.0)::INT + 1 END AS bucket
      FROM orders WHERE o_totalprice IS NOT NULL)
GROUP BY bucket ORDER BY bucket
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel view -> signup -> purchase per user:
    earliest view, first signup strictly after it, first purchase
    strictly after that — pure conditional min-aggregations over one
    user shuffle (no self-joins), the classic product-analytics
    sequence query.  One summary row (users at each stage)."""
    load_views(spark, sf_dir)
    ev = spark.table("events")
    t_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t_signup = (
        ev.filter(F.col("event_type") == "signup")
        .join(t_view, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    t_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t_signup, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        t_view.agg(F.count("*").alias("n_view"))
        .crossJoin(t_signup.agg(F.count("*").alias("n_view_signup")))
        .crossJoin(
            t_purchase.agg(F.count("*").alias("n_view_signup_purchase"))
        )
    )


ORACLE_FUNNEL = """
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
s AS (SELECT e.user_id, min(e.ts) AS t_signup
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'signup' AND e.ts > v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY e.user_id)
SELECT (SELECT count(*)::BIGINT FROM v) AS n_view,
       (SELECT count(*)::BIGINT FROM s) AS n_view_signup,
       (SELECT count(*)::BIGINT FROM p) AS n_view_signup_purchase
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence (lag window ordered by ts, event_id) with an exact
    probability as a ratio of integers — sequence analytics on one
    window exchange."""
    from pyspark.sql import Window

    load_views(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = spark.table("events").select(
        "user_id",
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
    ).filter(F.col("prev").isNotNull())
    # n_from = window sum over the ALREADY-aggregated (prev, cur)
    # counts (<= |types|^2 rows) — deriving it from `ev` would
    # re-execute the full event scan + per-user sort a second time
    counts = ev.groupBy("prev", "cur").agg(F.count("*").alias("n"))
    n_from = F.sum("n").over(Window.partitionBy("prev"))
    return (
        counts.select(
            "prev",
            "cur",
            "n",
            F.round(F.col("n").cast("double") / n_from, 6).alias("p"),
        )
        .orderBy("prev", "cur")
    )


ORACLE_TRANSITIONS = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         event_type AS cur
  FROM events),
pairs AS (SELECT prev, cur FROM seq WHERE prev IS NOT NULL),
tot AS (SELECT prev, count(*)::BIGINT AS n_from FROM pairs GROUP BY prev)
SELECT p.prev, p.cur, count(*)::BIGINT AS n,
       round(count(*)::DOUBLE / any_value(t.n_from), 6) AS p
FROM pairs p JOIN tot t ON p.prev = t.prev
GROUP BY p.prev, p.cur
ORDER BY p.prev, p.cur
"""


def q_kmv_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates (operators/sketch.py::
    kmv_set_estimates, Beyer et al. SIGMOD'07): union / Jaccard /
    intersection of the customer-key sets seen in orders vs the
    customer table, from two mergeable k=512 sketches — corpus-overlap
    measurement without joining the corpora.  Integer set logic + two
    divisions, replayed bit-for-bit in DuckDB."""
    from .operators.sketch import kmv_set_estimates, kmv_sketch

    load_views(spark, sf_dir)
    a = kmv_sketch(spark.table("orders"), "o_custkey", k=512)
    b = kmv_sketch(spark.table("customer"), "c_custkey", k=512)
    out = kmv_set_estimates(a, b, k=512)
    return out.select(
        F.round("union_est", 6).alias("union_est"),
        F.round("jaccard", 6).alias("jaccard"),
        F.round("intersect_est", 6).alias("intersect_est"),
        "n_union",
        "n_both",
    )


def _oracle_kmv_overlap(k: int = 512) -> str:
    scale = float((k - 1) * 2**60)

    def sk(table: str, col: str) -> str:
        return f"""(SELECT DISTINCT ('0x' || substr(md5({col}::VARCHAR), 1, 15))::BIGINT AS h
  FROM {table} WHERE {col} IS NOT NULL ORDER BY h LIMIT {k})"""

    return f"""
WITH m AS (
  SELECT * FROM (
    SELECT coalesce(a.h, b.h) AS h,
           (a.h IS NOT NULL)::INT AS in_a,
           (b.h IS NOT NULL)::INT AS in_b
    FROM {sk('orders', 'o_custkey')} a
    FULL OUTER JOIN {sk('customer', 'c_custkey')} b ON a.h = b.h
  ) ORDER BY h LIMIT {k}),
agg AS (SELECT count(*)::BIGINT AS n_union, max(h) AS hk,
               sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT
                 AS n_both
        FROM m)
SELECT round(u, 6) AS union_est,
       round(j, 6) AS jaccard,
       round(u * j, 6) AS intersect_est,
       n_union, n_both
FROM (SELECT n_union, n_both,
             CASE WHEN n_union < {k} THEN n_union::DOUBLE
                  ELSE {scale!r} / hk::DOUBLE END AS u,
             n_both::DOUBLE / greatest(n_union::DOUBLE, 1.0) AS j
      FROM agg)
"""


def q_rdfs_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS forward chaining (operators/graph.py::rdfs_entail —
    path-doubling rdfs11 closure + broadcast rdfs9 type inheritance)
    over a 4-level TPC-H-derived ontology (nation < region <
    hemisphere < world) with customers 1..199 as typed instances.
    One nation<world triple is pre-asserted to exercise the
    inferred-only anti-join.  Oracle: recursive-CTE closure + the same
    set algebra in DuckDB."""
    from .operators.graph import rdfs_entail

    SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    TYP = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    load_views(spark, sf_dir)
    triples = spark.sql(f"""
        SELECT format_string('nation_%d', n_nationkey) AS subj,
               '{SUB}' AS pred,
               format_string('region_%d', n_regionkey) AS obj
        FROM nation
        UNION ALL
        SELECT format_string('region_%d', r_regionkey), '{SUB}',
               format_string('hemisphere_%d', r_regionkey % 2)
        FROM region
        UNION ALL
        SELECT format_string('hemisphere_%d', r_regionkey % 2), '{SUB}',
               'world'
        FROM region
        UNION ALL
        SELECT 'nation_0', '{SUB}', 'world'
        UNION ALL
        SELECT format_string('cust_%d', c_custkey), '{TYP}',
               format_string('nation_%d', c_nationkey)
        FROM customer WHERE c_custkey < 200
    """)
    return rdfs_entail(triples).orderBy("subj", "pred", "obj")


ORACLE_RDFS_ENTAILMENT = """
WITH RECURSIVE sub(src, dst) AS (
  SELECT DISTINCT * FROM (
    SELECT printf('nation_%d', n_nationkey), printf('region_%d', n_regionkey)
    FROM nation
    UNION ALL
    SELECT printf('region_%d', r_regionkey),
           printf('hemisphere_%d', r_regionkey % 2) FROM region
    UNION ALL
    SELECT printf('hemisphere_%d', r_regionkey % 2), 'world' FROM region
    UNION ALL
    SELECT 'nation_0', 'world')),
clos(src, dst) AS (
  SELECT src, dst FROM sub
  UNION
  SELECT c.src, s.dst FROM clos c JOIN sub s ON c.dst = s.src),
types(x, c) AS (
  SELECT printf('cust_%d', c_custkey), printf('nation_%d', c_nationkey)
  FROM customer WHERE c_custkey < 200),
asserted(subj, pred, obj) AS (
  SELECT src, 'http://www.w3.org/2000/01/rdf-schema#subClassOf', dst FROM sub
  UNION ALL
  SELECT x, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', c FROM types),
inferred(subj, pred, obj) AS (
  SELECT src, 'http://www.w3.org/2000/01/rdf-schema#subClassOf', dst
  FROM clos WHERE src <> dst
  UNION
  SELECT t.x, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', c.dst
  FROM types t JOIN clos c ON t.c = c.src)
SELECT subj, pred, obj FROM inferred
EXCEPT SELECT subj, pred, obj FROM asserted
ORDER BY subj, pred, obj
"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered corrupt-tail negative sampling (operators/negatives.py,
    Bordes et al. NeurIPS'13 protocol) over customer->nation membership
    triples with the 25-nation vocabulary as the corruption pool.
    Content-keyed on md5, so DuckDB replays the exact sample: the
    oracle recomputes vocabulary ranks with a window row_number, the
    hash index with the same 15-hex-char md5 prefix, and the filtered
    protocol with NOT EXISTS."""
    from .operators.negatives import negative_samples

    load_views(spark, sf_dir)
    pos = spark.sql("""
        SELECT format_string('c%d', c_custkey) AS subj,
               'in_nation' AS pred,
               format_string('n%d', c_nationkey) AS obj
        FROM customer WHERE c_custkey < 150
    """)
    pool = spark.sql(
        "SELECT format_string('n%d', n_nationkey) AS ent FROM nation"
    )
    return negative_samples(pos, k=4, pool=pool, pool_col="ent").orderBy(
        "subj", "pred", "obj_neg", "neg_idx"
    )


ORACLE_NEGATIVE_SAMPLES = """
WITH pos AS (
  SELECT DISTINCT printf('c%d', c_custkey) AS subj,
         'in_nation' AS pred,
         printf('n%d', c_nationkey) AS obj
  FROM customer WHERE c_custkey < 150),
vocab AS (
  SELECT row_number() OVER (ORDER BY v) - 1 AS idx, v
  FROM (SELECT DISTINCT printf('n%d', n_nationkey) AS v FROM nation)),
cand AS (
  SELECT subj, pred, obj, r.i AS neg_idx,
         ('0x' || substr(md5('neg' || chr(31) || subj || chr(31) || pred
            || chr(31) || obj || chr(31) || r.i), 1, 15))::BIGINT
           % (SELECT count(*) FROM vocab) AS idx
  FROM pos CROSS JOIN range(4) r(i))
SELECT c.subj, c.pred, v.v AS obj_neg, c.neg_idx
FROM cand c JOIN vocab v USING (idx)
WHERE NOT EXISTS (
  SELECT 1 FROM pos p
  WHERE p.subj = c.subj AND p.pred = c.pred AND p.obj = v.v)
ORDER BY subj, pred, obj_neg, neg_idx
"""


def q_transe_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One TransE training epoch (operators/transe.py: integer-exact
    signSGD, Bordes'13 scoring + Bernstein'18 sign step) over the
    customer->nation membership KG.  Every number in the epoch — the
    md5 init, the content-keyed corruptions, the L1 distances, the
    sign subgradients, their sums, the sign-clamped update — is 64-bit
    integer arithmetic, so DuckDB replays the WHOLE epoch exactly;
    output is the updated embedding tables flattened to
    (kind, id, dim_idx, value) rows."""
    from .operators.transe import transe_epoch

    load_views(spark, sf_dir)
    pos = spark.sql("""
        SELECT format_string('c%d', c_custkey) AS subj,
               'in_nation' AS pred,
               format_string('n%d', c_nationkey) AS obj
        FROM customer WHERE c_custkey < 150
    """)
    ent, rel = transe_epoch(pos, dim=4, k_neg=2, margin=2, lr=1)
    flat = ent.select(
        F.lit("ent").alias("kind"), "id",
        F.posexplode("emb").alias("i", "v"),
    ).unionByName(
        rel.select(
            F.lit("rel").alias("kind"), "id",
            F.posexplode("emb").alias("i", "v"),
        )
    )
    return flat.select(
        "kind", "id", F.col("i").cast("long").alias("i"), "v"
    ).orderBy("kind", "id", "i")


# the epoch as a reusable CTE chain: ORACLE_TRANSE_EPOCH returns the
# updated parameters; ORACLE_TRANSE_LINK_PREDICTION extends the same
# chain with the filtered-ranking evaluation
_TRANSE_CTES = """
WITH pos AS (
  SELECT DISTINCT printf('c%d', c_custkey) AS subj,
         'in_nation' AS pred,
         printf('n%d', c_nationkey) AS obj
  FROM customer WHERE c_custkey < 150),
ents AS (
  SELECT subj AS id FROM pos UNION SELECT obj FROM pos),
vocab AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS idx, id FROM ents),
dims AS (SELECT i FROM range(4) t(i)),
einit AS (
  SELECT id, d.i,
         ('0x' || substr(md5('ent' || chr(31) || id || chr(31) || d.i),
            1, 15))::BIGINT % 7 - 3 AS v
  FROM ents CROSS JOIN dims d),
rinit AS (
  SELECT pred AS id, d.i,
         ('0x' || substr(md5('rel' || chr(31) || pred || chr(31) || d.i),
            1, 15))::BIGINT % 7 - 3 AS v
  FROM (SELECT DISTINCT pred FROM pos) CROSS JOIN dims d),
cand AS (
  SELECT subj, pred, obj,
         ('0x' || substr(md5('transe-e0' || chr(31) || subj || chr(31)
            || pred || chr(31) || obj || chr(31) || r.i), 1, 15))::BIGINT
           % (SELECT count(*) FROM vocab) AS idx
  FROM pos CROSS JOIN range(2) r(i)),
pairs AS (
  SELECT DISTINCT c.subj, c.pred, c.obj, v.id AS obj_neg
  FROM cand c JOIN vocab v USING (idx)
  WHERE NOT EXISTS (
    SELECT 1 FROM pos p
    WHERE p.subj = c.subj AND p.pred = c.pred AND p.obj = v.id)),
comp AS (
  SELECT pr.subj, pr.pred, pr.obj, pr.obj_neg, d.i,
         eh.v + er.v - et.v AS cpos,
         eh.v + er.v - etn.v AS cneg
  FROM pairs pr CROSS JOIN dims d
  JOIN einit eh ON eh.id = pr.subj AND eh.i = d.i
  JOIN rinit er ON er.id = pr.pred AND er.i = d.i
  JOIN einit et ON et.id = pr.obj AND et.i = d.i
  JOIN einit etn ON etn.id = pr.obj_neg AND etn.i = d.i),
viol AS (
  SELECT subj, pred, obj, obj_neg FROM comp
  GROUP BY subj, pred, obj, obj_neg
  HAVING 2 + sum(abs(cpos)) - sum(abs(cneg)) > 0),
vc AS (
  SELECT c.* FROM comp c JOIN viol
  USING (subj, pred, obj, obj_neg)),
contrib AS (
  SELECT 'ent' AS kind, subj AS id, i,
         sign(cpos)::BIGINT - sign(cneg)::BIGINT AS g FROM vc
  UNION ALL
  SELECT 'rel', pred, i, sign(cpos)::BIGINT - sign(cneg)::BIGINT FROM vc
  UNION ALL
  SELECT 'ent', obj, i, -(sign(cpos)::BIGINT) FROM vc
  UNION ALL
  SELECT 'ent', obj_neg, i, sign(cneg)::BIGINT FROM vc),
gsum AS (
  SELECT kind, id, i, sum(g) AS g FROM contrib GROUP BY kind, id, i),
allinit AS (
  SELECT 'ent' AS kind, id, i, v FROM einit
  UNION ALL
  SELECT 'rel', id, i, v FROM rinit),
updated AS (
  SELECT a.kind, a.id, a.i,
         (a.v - 1 * sign(coalesce(g.g, 0))::BIGINT)::BIGINT AS v
  FROM allinit a
  LEFT JOIN gsum g ON g.kind = a.kind AND g.id = a.id AND g.i = a.i)
"""

ORACLE_TRANSE_EPOCH = _TRANSE_CTES + """
SELECT kind, id, i, v FROM updated ORDER BY kind, id, i
"""

ORACLE_TRANSE_LINK_PREDICTION = _TRANSE_CTES + """
, test AS (
  SELECT DISTINCT printf('c%d', c_custkey) AS subj,
         'in_nation' AS pred,
         printf('n%d', c_nationkey) AS obj
  FROM customer WHERE c_custkey < 150 AND c_custkey % 17 = 0),
eemb AS (SELECT id, i, v FROM updated WHERE kind = 'ent'),
remb AS (SELECT id, i, v FROM updated WHERE kind = 'rel'),
scored AS (
  SELECT t.subj, t.pred, t.obj, ce.id AS cand,
         sum(abs(eh.v + er.v - ce.v))::BIGINT AS s
  FROM test t
  JOIN eemb eh ON eh.id = t.subj
  JOIN remb er ON er.id = t.pred AND er.i = eh.i
  JOIN eemb ce ON ce.i = eh.i
  GROUP BY t.subj, t.pred, t.obj, ce.id),
filtered AS (
  SELECT s.* FROM scored s
  WHERE s.cand = s.obj OR NOT EXISTS (
    SELECT 1 FROM pos p
    WHERE p.subj = s.subj AND p.pred = s.pred AND p.obj = s.cand)),
tru AS (
  SELECT subj, pred, obj, s AS s_true FROM filtered WHERE cand = obj),
ranks AS (
  SELECT f.subj, f.pred, f.obj,
         (1 + sum(CASE WHEN f.cand <> f.obj AND (f.s < t.s_true
             OR (f.s = t.s_true AND f.cand < f.obj))
           THEN 1 ELSE 0 END))::BIGINT AS rank
  FROM filtered f JOIN tru t USING (subj, pred, obj)
  GROUP BY f.subj, f.pred, f.obj)
SELECT count(*)::BIGINT AS n,
       sum(rank)::BIGINT AS sum_rank,
       sum(1000000 // rank)::BIGINT AS mrr_micro,
       sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END)::BIGINT AS hits_1,
       sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END)::BIGINT AS hits_3,
       sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::BIGINT AS hits_10
FROM ranks
"""


def q_transe_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered link-prediction evaluation (Bordes'13 protocol) of the
    trained-for-one-epoch embeddings on a deterministic test slice
    (custkey % 17): ranks of the true nation among all entities with
    other true triples excluded, integer tie-break by candidate id.
    The summary reports integer numerators (sum_rank, mrr_micro =
    Σ 1e6 div rank, hits@k) — float MR/MRR would depend on float
    summation order.  The oracle replays epoch AND evaluation as one
    CTE chain."""
    from .operators.transe import link_prediction_eval, transe_epoch

    load_views(spark, sf_dir)
    pos = spark.sql("""
        SELECT format_string('c%d', c_custkey) AS subj,
               'in_nation' AS pred,
               format_string('n%d', c_nationkey) AS obj
        FROM customer WHERE c_custkey < 150
    """)
    test = spark.sql("""
        SELECT format_string('c%d', c_custkey) AS subj,
               'in_nation' AS pred,
               format_string('n%d', c_nationkey) AS obj
        FROM customer WHERE c_custkey < 150 AND c_custkey % 17 = 0
    """)
    ent, rel = transe_epoch(pos, dim=4, k_neg=2, margin=2, lr=1)
    return link_prediction_eval(test, ent, rel, filter_triples=pos)


# one SQL body, two engines: Spark (load_views) and DuckDB (the oracle
# CTE) both build the same deterministic TPC-H-derived mini-KG with
# PLANTED violations — customers divisible by 7 are left untyped
_MINI_KG_SQL = """
SELECT {fmt}('c%d', c_custkey) AS subj, 'rdf:type' AS pred,
       'ex:Customer' AS obj
FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey < 500
UNION ALL
SELECT {fmt}('c%d', o_custkey), 'ex:placed', {fmt}('o%d', o_orderkey)
FROM orders WHERE o_custkey < 500
UNION ALL
SELECT {fmt}('c%d', c_custkey), 'ex:segment', c_mktsegment
FROM customer WHERE c_custkey < 500
"""


def _mini_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    return spark.sql(_MINI_KG_SQL.format(fmt="format_string"))


def q_shacl_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation (operators/shacl.py) over a TPC-H-derived
    mini-KG with planted violations: untyped customers caught by the
    domain shape, order-less typed customers by min_count, and
    non-'B%' market segments by the pattern shape.  Oracle: the same
    three constraint kinds as NOT EXISTS / LEFT-JOIN-count / NOT LIKE
    over an identical CTE."""
    from .operators.shacl import validate

    rep = validate(
        _mini_kg(spark, sf_dir),
        [
            {"id": "dom", "kind": "domain", "pred": "ex:placed",
             "cls": "ex:Customer"},
            {"id": "min", "kind": "min_count", "pred": "ex:placed",
             "cls": "ex:Customer", "n": 1},
            {"id": "pat", "kind": "pattern", "pred": "ex:segment",
             "pattern": "B%"},
        ],
        rdf_type="rdf:type",
    )
    return rep.orderBy("shape_id", "kind", "focus", "pred", "value")


ORACLE_SHACL_VIOLATIONS = f"""
WITH t AS ({_MINI_KG_SQL.format(fmt="printf")}),
types AS (SELECT subj AS node FROM t
          WHERE pred = 'rdf:type' AND obj = 'ex:Customer'),
placed AS (SELECT subj, obj FROM t WHERE pred = 'ex:placed'),
seg AS (SELECT subj, obj FROM t WHERE pred = 'ex:segment')
SELECT * FROM (
  SELECT 'dom' AS shape_id, 'domain' AS kind, subj AS focus,
         'ex:placed' AS pred, obj AS value
  FROM placed p
  WHERE NOT EXISTS (SELECT 1 FROM types WHERE node = p.subj)
  UNION ALL
  SELECT 'min', 'min_count', m.node, 'ex:placed',
         CAST(coalesce(c.n, 0) AS VARCHAR)
  FROM types m
  LEFT JOIN (SELECT subj, count(DISTINCT obj) AS n
             FROM placed GROUP BY subj) c ON m.node = c.subj
  WHERE coalesce(c.n, 0) < 1
  UNION ALL
  SELECT 'pat', 'pattern', subj, 'ex:segment', obj
  FROM seg WHERE obj NOT LIKE 'B%')
ORDER BY shape_id, kind, focus, pred, value
"""


def q_void_predicate_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID property partitions (operators/void_stats.py) over the same
    mini-KG: per-predicate triple / distinct-subject / distinct-object
    counts in one grouped pass.  Oracle: GROUP BY pred with the same
    three aggregates."""
    from .operators.void_stats import predicate_partitions

    return predicate_partitions(_mini_kg(spark, sf_dir)).orderBy("pred")


ORACLE_VOID_PARTITIONS = f"""
WITH t AS ({_MINI_KG_SQL.format(fmt="printf")})
SELECT pred, count(*)::BIGINT AS n_triples,
       count(DISTINCT subj)::BIGINT AS n_subjects,
       count(DISTINCT obj)::BIGINT AS n_objects
FROM t GROUP BY pred ORDER BY pred
"""


def q_describe_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE analogue (operators/bgp.py::describe): the full
    star of one node in the mini-KG — outbound triples plus inbound
    ones, tagged with a direction column.  Two pushed constant filters,
    no shuffle.  Oracle: the same two filtered selects unioned."""
    from .operators.bgp import describe

    return describe(_mini_kg(spark, sf_dir), "c1").orderBy(
        "direction", "subj", "pred", "obj"
    )


ORACLE_DESCRIBE_ENTITY = f"""
WITH t AS ({_MINI_KG_SQL.format(fmt="printf")})
SELECT subj, pred, obj, 'out' AS direction FROM t WHERE subj = 'c1'
UNION ALL
SELECT subj, pred, obj, 'in' FROM t WHERE obj = 'c1' AND subj <> 'c1'
ORDER BY direction, subj, pred, obj
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (operators/dedup.py::
    duplicate_spans, the Lee et al. 2022 detection): maximal merged
    spans of 8-token windows repeated anywhere in the corpus.  Oracle:
    identical tokenize/window/mark/merge pipeline in DuckDB SQL
    (regexp_split_to_array + generate_series windows + the same
    running-max island merge)."""
    from .operators.dedup import duplicate_spans

    load_views(spark, sf_dir)
    return duplicate_spans(
        spark.table("documents"), n=8
    ).orderBy("id", "span_start")


ORACLE_DUPLICATE_SPANS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
           AS t
  FROM documents),
wins AS (
  SELECT doc_id, u.gs - 1 AS pos,
         array_to_string(t[u.gs : u.gs + 7], ' ') AS win
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(gs)
  WHERE len(t) >= 8),
rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN rep USING (win)),
flag AS (
  SELECT doc_id, pos,
    CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS is_new
  FROM marked),
sp AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM flag)
SELECT doc_id AS id, min(pos) AS span_start,
       max(pos) + 8 AS span_end, count(*)::BIGINT AS n_windows
FROM sp GROUP BY doc_id, span_id
ORDER BY id, span_start
"""


def q_cut_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup APPLICATION (operators/dedup.py::cut_spans): the
    detected duplicate token ranges are excised from each document —
    the Lee et al. 2022 "train on the corpus with repeated substrings
    removed" step.  Output is one row per document with the surviving
    text and the cut-token count.  Oracle: same detection CTEs as
    ORACLE_DUPLICATE_SPANS, then a per-token anti-range filter +
    ordered string_agg rebuild."""
    from .operators.dedup import cut_spans, duplicate_spans

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    return cut_spans(docs, duplicate_spans(docs, n=8)).orderBy("doc_id")


ORACLE_CUT_SPANS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
           AS t
  FROM documents),
wins AS (
  SELECT doc_id, u.gs - 1 AS pos,
         array_to_string(t[u.gs : u.gs + 7], ' ') AS win
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(gs)
  WHERE len(t) >= 8),
rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN rep USING (win)),
flag AS (
  SELECT doc_id, pos,
    CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS is_new
  FROM marked),
sp AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM flag),
spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
  FROM sp GROUP BY doc_id, span_id),
pertok AS (
  SELECT doc_id, u.gs - 1 AS pos, t[u.gs] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(gs)),
kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM pertok p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = p.doc_id
      AND p.pos >= s.span_start AND p.pos < s.span_end)),
keptagg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(k.txt, '') AS text_dedup,
       (len(t.t) - coalesce(k.n_kept, 0))::BIGINT AS n_removed
FROM toks t LEFT JOIN keptagg k USING (doc_id)
ORDER BY t.doc_id
"""
