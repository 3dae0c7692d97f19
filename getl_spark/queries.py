"""Operator inventory as driver-checkable queries.

Every entry pairs a Spark DataFrame implementation with an ANSI-SQL
oracle DuckDB runs on the same parquet — the correctness gate of
SURVEY §2. Numeric discipline for bit-identical cross-engine results:

- money/measure aggregates cast to DECIMAL **before** summing (exact,
  order-independent) and the result cast to a fixed precision so both
  engines report the same type;
- averages computed as exact-decimal sum -> double -> fixed decimal;
- similarity scores rounded to 4dp and ranked on the ROUNDED value
  with an id tiebreak, so top-k cuts are deterministic in both engines;
- timestamps surfaced as epoch seconds or formatted strings, never raw.

Sketch operators (MinHash/SimHash/ANN-LSH) run query-facing on the
cross-engine sha_hash60 hash and integer-quantized hyperplanes, so the
oracle computes bit-identical signatures (xxhash64 remains the library
fast path for pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from getl_spark.functions import dedupe, simsearch, text


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Deliberately NO widen_small_scan here: the CPU-heavy sketch
    # operators widen their scan-rooted inputs inside the library
    # functions themselves (minhash/simhash signatures, winnow,
    # cosine_topk, _bucketed), and widening at the read layer measurably
    # slowed everything else — relational queries are aggregate/join-
    # bound (tpch_q1 1.0s -> 1.6s at sf1) and the small per-doc hash
    # queries pay more for the extra exchange than the parallelism
    # returns (dedup_exact 0.71s -> 0.95s, fingerprint 0.09s -> 0.23s).
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col, p=18, s=2):
    return col.cast(f"decimal({p},{s})")


def _dbl(col):
    """Final-output cast: DECIMAL math stays internal (exact,
    order-independent), but the *surfaced* column is DOUBLE so Spark's
    toPandas and DuckDB's .df() hand pandas bit-identical float64s.
    (Decimal keeps trailing zeros — '225631.00' vs '225631.0' — which
    fails the driver's value hash even when numerically equal.)"""
    return col.cast("double")


def _avg_exact(sum_dec, count_col):
    """Exact-decimal sum -> double / count: identical IEEE op in both engines."""
    return sum_dec.cast("double") / count_col


# --------------------------------------------------------------------------
# TPC-H-style relational core (scan/filter/agg/join/sort — SURVEY §2.1-2.7)
# --------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    sum_qty = F.sum(_dec(F.col("l_quantity")))
    sum_base = F.sum(_dec(F.col("l_extendedprice")))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        _dbl(sum_qty).alias("sum_qty"),
        _dbl(sum_base).alias("sum_base_price"),
        (_dbl(F.sum(F.floor(disc_price * 1e6).cast("decimal(38,0)"))) / 1e6).alias("sum_disc_price"),
        (_dbl(F.sum(F.floor(charge * 1e6).cast("decimal(38,0)"))) / 1e6).alias("sum_charge"),
        _avg_exact(F.sum(_dec(F.col("l_quantity"))), cnt).alias("avg_qty"),
        _avg_exact(F.sum(_dec(F.col("l_extendedprice"))), cnt).alias("avg_price"),
        _avg_exact(F.sum(_dec(F.col("l_discount"), 18, 4)), cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


# sum_disc_price/sum_charge quantize each double PRODUCT to integer
# micro-units with floor() — bit-identical on identical IEEE doubles in
# both engines — sum exactly (decimal(38,0) / hugeint), then divide
# back to currency units (identical integer -> identical double ->
# identical division). A double->DECIMAL(18,6) per-row cast instead
# rounds HALF_UP in Spark but half-to-even in DuckDB, and at sf1
# (6M rows) a few boundary cases survive into the final ULP (found by
# the sf1 sweep; sf0.01 was too small to hit one).
SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(floor(l_extendedprice*(1-l_discount)*1e6) AS BIGINT)) AS DOUBLE)/1e6 AS sum_disc_price,
  CAST(SUM(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*1e6) AS BIGINT)) AS DOUBLE)/1e6 AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    rev = _dbl(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)))
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(rev.alias("revenue"))
    )
    return j.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


SQL_SHIPPING_PRIORITY = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_segment_revenue(spark, sf_dir):
    """Broadcast lookup join — getl `lookup` (Dataset.groovy:1141-1183),
    routed through the library lookup() API."""
    from getl_spark.flow import lookup

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return (
        lookup(o, c, on="o_custkey", select=["c_mktsegment"], how="inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dbl(F.sum(_dec(F.col("o_totalprice")))).alias("revenue"),
        )
    )


SQL_SEGMENT_REVENUE = """
SELECT c_mktsegment,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_agg_filtered(spark, sf_dir):
    """getl Aggregator: COUNT/SUM/MIN/MAX + per-agg filter closure
    (AggregatorDatasetDriver.groovy:119-206) -> agg(when(cond, x))."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dbl(F.sum(_dec(F.col("l_quantity")))).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        _dbl(
            F.sum(
                F.when(F.col("l_discount") > 0.05, _dec(F.col("l_quantity"))).otherwise(
                    _dec(F.lit(0))
                )
            )
        ).alias("disc_qty"),
    )


SQL_AGG_FILTERED = """
SELECT l_returnflag,
  COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS disc_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_global(spark, sf_dir):
    """Empty group-by '*ALL*' (AggregatorDatasetDriver.groovy:139-141)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n"),
        _dbl(F.sum(_dec(F.col("l_quantity")))).alias("sum_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
        _avg_exact(F.sum(_dec(F.col("l_extendedprice"))), F.count(F.lit(1))).alias("avg_price"),
    )


SQL_AGG_GLOBAL = """
SELECT COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  COUNT(DISTINCT l_partkey) AS n_parts,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price
FROM lineitem
"""


def q_sort_limit(spark, sf_dir):
    """Sorter + limit (SorterDatasetDriver.groovy:50-110)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


SQL_SORT_LIMIT = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def q_topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders WHERE o_custkey < 100
) WHERE rnk <= 3
"""


def q_set_intersect(spark, sf_dir):
    # split at 1998: generated orders span 1995-2001, so both branches and
    # their overlap are non-empty at every sf (the former <1995 split made
    # one side the empty relation and the oracle vacuous — VERDICT r3 #1)
    o = _t(spark, sf_dir, "orders")
    early = o.filter(F.year("o_orderdate") < 1998).select("o_custkey")
    late = o.filter(F.year("o_orderdate") >= 1998).select("o_custkey")
    return early.intersect(late)


SQL_SET_INTERSECT = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) < 1998
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1998
"""


def q_set_except(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    early = o.filter(F.year("o_orderdate") < 1998).select("o_custkey")
    late = o.filter(F.year("o_orderdate") >= 1998).select("o_custkey")
    return early.exceptAll(late).distinct()


SQL_SET_EXCEPT = """
SELECT DISTINCT o_custkey FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) < 1998
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1998
)
"""


def q_rollup(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        _dbl(F.sum(_dec(F.col("l_quantity")))).alias("sum_qty"),
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_pivot_events(spark, sf_dir):
    """Filtered multicast / fan-out counts (MutlipleDatasetDriver
    condition closures) as conditional aggregation."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return e.groupBy("user_id").agg(*aggs)


SQL_PIVOT_EVENTS = """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events WHERE user_id < 50 GROUP BY user_id
"""


def q_type_convert(spark, sf_dir):
    """Type-conversion matrix (GenerationUtils.GenerateConvertValue,
    utils/GenerationUtils.groovy:158-430)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price_dec"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.col("o_custkey").cast("string").alias("custkey_str"),
        # TIMESTAMP_WITH_TIMEZONE normalization exercised with a
        # non-UTC offset (+05:30): the instant (unix seconds) must
        # agree across engines regardless of session rendering
        F.unix_timestamp(
            F.concat(
                F.date_format("o_orderdate", "yyyy-MM-dd"),
                F.lit(" 10:00:00+05:30"),
            ).cast("timestamp")
        ).alias("tz_epoch"),
    )


SQL_TYPE_CONVERT = """
SELECT o_orderkey,
  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
  strftime(o_orderdate, '%Y-%m-%d') AS od,
  CAST(year(o_orderdate) AS INTEGER) AS yr,
  CAST(month(o_orderdate) AS INTEGER) AS mo,
  CAST(o_custkey AS VARCHAR) AS custkey_str,
  CAST(epoch(CAST(strftime(o_orderdate, '%Y-%m-%d') || ' 10:00:00+05:30' AS TIMESTAMPTZ)) AS BIGINT) AS tz_epoch
FROM orders
"""


def q_json_extract(spark, sf_dir):
    """Semi-structured flatten (JSONDriver rootNode/alias,
    json/JSONDriver.groovy:92-203) -> get_json_object."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") <= 100)
    return e.select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id, user_id,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events WHERE event_id <= 100
"""


# --------------------------------------------------------------------------
# CDC core on the events stream (SURVEY §2.5, §2.10)
# --------------------------------------------------------------------------

_OP_CASE = (
    "CASE WHEN event_type='signup' THEN 'I' WHEN event_type='error' THEN 'D' ELSE 'U' END"
)


def q_cdc_lww_latest(spark, sf_dir):
    """North-rule LWW: row_number over (key) by monotonic id desc = 1."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            F.unix_timestamp("ts").alias("last_ts_epoch"),
        )
    )


SQL_CDC_LWW_LATEST = """
SELECT user_id, event_type, event_id AS last_event_id, value AS last_value,
  CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_epoch
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_cdc_first_writer(spark, sf_dir):
    """First-writer-wins dedup — getl's Min(ID) keep
    (files/Manager.groovy:891-932), via dedup.first_writer_dedup."""
    from getl_spark.dedup import first_writer_dedup

    e = _t(spark, sf_dir, "events").withColumnRenamed("event_id", "seq")
    first = first_writer_dedup(e, ["user_id", "event_type"], "seq", "props")
    return first.select(
        "user_id",
        "event_type",
        F.col("seq").alias("first_event_id"),
        F.col("value").alias("first_value"),
    )


SQL_CDC_FIRST_WRITER = """
SELECT user_id, event_type, event_id AS first_event_id, value AS first_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_cdc_final_state(spark, sf_dir):
    """Full replay reduction: last event per key wins; delete removes."""
    e = _t(spark, sf_dir, "events").withColumn("op", F.expr(_OP_CASE))
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .filter("op <> 'D'")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("op").alias("last_op"),
            F.col("value").alias("last_value"),
        )
    )


SQL_CDC_FINAL_STATE = f"""
SELECT user_id, event_id AS last_event_id, op AS last_op, value AS last_value
FROM (
  SELECT *, {_OP_CASE} AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_merge_apply(spark, sf_dir):
    """Two-batch merge composition == one-shot replay: base state from
    the first half of the log merged with changes from the second half
    (full-outer + delete semantics) — the engine's MERGE arms in pure
    relational form."""
    e = _t(spark, sf_dir, "events").withColumn("op", F.expr(_OP_CASE))
    mid = 750

    def lww(df):
        w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
        return df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")

    base = lww(e.filter(F.col("event_id") <= mid)).filter("op <> 'D'")
    changes = lww(e.filter(F.col("event_id") > mid))
    t = base.select(
        F.col("user_id").alias("t_user"), F.col("event_id").alias("t_eid"), F.col("op").alias("t_op")
    )
    s = changes.select(
        F.col("user_id").alias("s_user"),
        F.col("event_id").alias("s_eid"),
        F.col("op").alias("s_op"),
    )
    j = t.join(s, t.t_user == s.s_user, "full_outer")
    merged = (
        j.filter(~(F.col("s_op") == "D") | F.col("s_op").isNull())
        .select(
            F.coalesce("t_user", "s_user").alias("user_id"),
            F.coalesce("s_eid", "t_eid").alias("last_event_id"),
            F.coalesce("s_op", "t_op").alias("last_op"),
        )
    )
    return merged


SQL_CDC_MERGE_APPLY = f"""
SELECT user_id, event_id AS last_event_id, op AS last_op
FROM (
  SELECT *, {_OP_CASE} AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_incremental_range(spark, sf_dir):
    """Watermark key-range read (ReadSpec.where, jdbc/opts/ReadSpec.groovy:73)."""
    e = _t(spark, sf_dir, "events").filter(
        (F.col("event_id") > 300) & (F.col("event_id") <= 700)
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dbl(F.sum(_dec(F.col("value"), 18, 6))).alias("sum_value"),
    )


SQL_CDC_INCREMENTAL_RANGE = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events WHERE event_id > 300 AND event_id <= 700
GROUP BY event_type
"""


def q_story_anti_join(spark, sf_dir):
    """Exactly-once story-table pattern (files/Manager.groovy:936-948):
    events from users never seen in the 'already ingested' story."""
    e = _t(spark, sf_dir, "events")
    story = e.filter(F.col("event_id") <= 200).select("user_id").distinct()
    return (
        e.join(story, "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_STORY_ANTI_JOIN = """
SELECT event_type, COUNT(*) AS n FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events s WHERE s.event_id <= 200 AND s.user_id = e.user_id
)
GROUP BY event_type
"""


def q_window_running(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "user_id",
        "event_id",
        _dbl(F.sum(_dec(F.col("value"), 18, 6)).over(w)).alias("run_sum"),
    )


SQL_WINDOW_RUNNING = """
SELECT user_id, event_id,
  CAST(SUM(CAST(value AS DECIMAL(18,6)))
       OVER (PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS run_sum
FROM events WHERE user_id < 20
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative session starts)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    start = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("s", start)
        .groupBy("user_id")
        .agg(F.sum("s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SQL_SESSIONIZE = """
SELECT user_id, CAST(SUM(s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
  SELECT user_id,
    CASE WHEN floor(epoch(ts)) - floor(epoch(LAG(ts) OVER
           (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS s
  FROM events
) GROUP BY user_id
"""


def q_seq_surrogate(spark, sf_dir):
    """Sequence surrogate keys (jdbc/Sequence.groovy:101-112):
    deterministic dense ranking via the two-phase distributed path —
    rank within range partitions + partition offsets — NOT a global
    no-partition window (which would sort the whole table in one task
    at scale)."""
    from getl_spark.sequence import assign_surrogate_keys

    d = _t(spark, sf_dir, "documents")
    return assign_surrogate_keys(
        d, base=1, order_cols=["doc_id"], distributed=True
    ).select(F.col("sk").cast("bigint").alias("sk"), "doc_id")


SQL_SEQ_SURROGATE = """
SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS sk, doc_id FROM documents
"""


# --------------------------------------------------------------------------
# Training-data operators over documents / embeddings
# --------------------------------------------------------------------------


def q_text_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.length(text.normalize_for_fingerprint(F.col("text"))).alias("n_chars_norm"),
    )


SQL_TEXT_TOKENS = r"""
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
  length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_chars_norm
FROM documents
"""


def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(text.stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
        F.round(text.mean_word_length(F.col("text")), 4).alias("mean_wlen"),
    )


_SW = "['the','a','of','and','to','in','is','it']"
SQL_TEXT_QUALITY = rf"""
SELECT doc_id,
  CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) = 0 THEN 0.0
       ELSE round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  t -> list_contains({_SW}, t)))
            * 1.0 / len(string_split_regex(trim(lower(text)), '\s+')), 4) END AS stop_ratio,
  CASE WHEN len(string_split_regex(trim(text), '\s+')) = 0 THEN 0.0
       ELSE round(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                          t -> len(t)))
            * 1.0 / len(string_split_regex(trim(text), '\s+')), 4) END AS mean_wlen
FROM documents
"""


def q_text_bpe_quality(spark, sf_dir):
    """BPE-style subword proxy count, punctuation ratio, and the
    composite quality score (Java \\p{Punct} == RE2 [[:punct:]] —
    both the ASCII punctuation set, so the segmentation is
    cross-engine)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        F.round(text.punct_ratio(F.col("text")), 4).alias("punct_r"),
        text.quality_score(F.col("text")).alias("quality"),
    )


SQL_TEXT_BPE_QUALITY = rf"""
WITH seg AS (
  SELECT doc_id, text,
    regexp_replace(regexp_replace(text, '([[:punct:]])', ' \1 ', 'g'),
                   '([0-9])', ' \1 ', 'g') AS s,
    regexp_replace(text, '[[:punct:]]', '', 'g') AS nopunct
  FROM documents
), feats AS (
  SELECT doc_id,
    CASE WHEN length(trim(s)) = 0 THEN 0
         ELSE len(string_split_regex(trim(s), '\s+')) END AS n_bpe,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE (length(text) - length(nopunct)) * 1.0 / length(text) END AS praw,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) = 0 THEN 0.0
         ELSE len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              t -> list_contains({_SW}, t)))
              * 1.0 / len(string_split_regex(trim(lower(text)), '\s+')) END AS sraw
  FROM seg
)
SELECT doc_id, n_bpe, round(praw, 4) AS punct_r,
  round(least(n_tok / 100.0, 1.0) * 0.4
        + least(sraw * 5.0, 1.0) * 0.4
        + greatest(1.0 - praw * 4.0, 0.0) * 0.2, 4) AS quality
FROM feats
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint_sha256(F.col("text")).alias("fp"))


SQL_FINGERPRINT = r"""
SELECT doc_id, sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
"""


def q_rolling_fp(spark, sf_dir):
    """Winnowing-style rolling k-gram fingerprints, one row per window
    (cross-engine sha-slice hash; the library fast path is
    text.rolling_hashes/xxhash64). Output (doc_id, pos, h)."""
    k = 8
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    norm = text.normalize_for_fingerprint(F.col("text"))
    n_windows = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    return (
        d.select("doc_id", norm.alias("_n"), F.explode(F.sequence(F.lit(1), n_windows)).alias("pos"))
        .select(
            "doc_id",
            "pos",
            F.substring(
                F.sha2(F.substring(F.col("_n"), F.col("pos"), F.lit(k)), 256), 1, 15
            ).alias("h"),
        )
    )


SQL_ROLLING_FP = r"""
SELECT doc_id, i AS pos, substr(sha256(substr(norm, i, 8)), 1, 15) AS h
FROM (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents WHERE doc_id < 100
), unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS t(i)
"""


def q_rolling_fp_winnow(spark, sf_dir):
    """Winnowing select over the rolling k-gram stream: min hash per
    sliding window of w hashes, rightmost-min tie rule (MOSS). The
    sublinear sketch a 100-TB dedup stores — vs rolling_fp's one row
    per character. Output (doc_id, wpos, h), cross-engine sha mode."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return text.winnow(d, k=8, w=4, hash_fn="sha60")


# DuckDB replicates the (h, -pos) struct-min with a fixed-width string
# key: h is always 15 hex chars, so h || zero-padded(1e8 - pos) orders
# lexicographically exactly like the struct (min h, tie -> max pos).
SQL_ROLLING_FP_WINNOW = r"""
WITH hashed AS (
  SELECT doc_id, m, i AS pos,
         substr(sha256(substr(norm, i, 8)), 1, 15) AS h
  FROM (
    SELECT doc_id,
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
           greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 7, 1) AS m
    FROM documents WHERE doc_id < 100
  ), unnest(generate_series(1, m)) AS t(i)
),
sel AS (
  SELECT doc_id, m, pos,
         min(h || lpad(CAST(100000000 - pos AS VARCHAR), 9, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS key
  FROM hashed
)
SELECT DISTINCT doc_id,
       100000000 - CAST(substr(key, 16, 9) AS BIGINT) AS wpos,
       substr(key, 1, 15) AS h
FROM sel
WHERE pos >= 4 OR (m < 4 AND pos = m)
"""


def q_winnow_pairs(spark, sf_dir):
    """MOSS-style near-dup candidates: doc pairs sharing >= 3 winnowed
    fingerprint hashes (local-similarity detection — complements the
    global-Jaccard MinHash path). Capped hash buckets, sha mode."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedupe.winnow_candidate_pairs(
        d, k=8, w=4, min_shared=3, hash_fn="sha60", max_bucket=50
    )


SQL_WINNOW_PAIRS = r"""
WITH hashed AS (
  SELECT doc_id, m, i AS pos,
         substr(sha256(substr(norm, i, 8)), 1, 15) AS h
  FROM (
    SELECT doc_id,
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
           greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 7, 1) AS m
    FROM documents WHERE doc_id < 200
  ), unnest(generate_series(1, m)) AS t(i)
),
sel AS (
  SELECT doc_id, m, pos,
         min(h || lpad(CAST(100000000 - pos AS VARCHAR), 9, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS key
  FROM hashed
),
fp AS (
  SELECT DISTINCT doc_id, substr(key, 1, 15) AS h
  FROM sel
  WHERE pos >= 4 OR (m < 4 AND pos = m)
),
capped AS (
  SELECT doc_id, h FROM fp
  QUALIFY count(*) OVER (PARTITION BY h) <= 50
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def q_near_dedup_winnow(spark, sf_dir):
    """MOSS-sketch near-dedup (winnow candidates -> Jaccard verify ->
    connected components): catches shared-boilerplate-SPAN clusters
    whose global Jaccard is too low for the MinHash path. Same capped,
    never-all-pairs plan shape; sha mode for the oracle."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedupe.near_dedup_winnow(
        d, k=8, w=4, min_shared=3, threshold=0.3, hash_fn="sha60",
        max_bucket=50, transitive=True,
    ).select("doc_id", "lang", "source")


SQL_NEAR_DEDUP_WINNOW = r"""
WITH RECURSIVE hashed AS (
  SELECT doc_id, m, i AS pos,
         substr(sha256(substr(norm, i, 8)), 1, 15) AS h
  FROM (
    SELECT doc_id,
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
           greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 7, 1) AS m
    FROM documents WHERE doc_id < 200
  ), unnest(generate_series(1, m)) AS t(i)
),
sel AS (
  SELECT doc_id, m, pos,
         min(h || lpad(CAST(100000000 - pos AS VARCHAR), 9, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS key
  FROM hashed
),
fp AS (
  SELECT DISTINCT doc_id, substr(key, 1, 15) AS h
  FROM sel
  WHERE pos >= 4 OR (m < 4 AND pos = m)
),
capped AS (
  SELECT doc_id, h FROM fp
  QUALIFY count(*) OVER (PARTITION BY h) <= 50
),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
toks AS (
  SELECT doc_id,
         string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+') AS w
  FROM documents WHERE doc_id < 200
),
sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 1)),
         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles FROM toks
),
verified AS (
  SELECT p.a_id, p.b_id FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a_id
  JOIN sh sb ON sb.doc_id = p.b_id
  WHERE round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= 0.3
),
edges AS (
  SELECT a_id AS s, b_id AS d FROM verified
  UNION
  SELECT b_id, a_id FROM verified
),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (
  SELECT node, least(node, MIN(r)) AS component FROM reach GROUP BY node
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id < 200
  AND doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
"""


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedupe.exact_duplicates(d).select("fingerprint", "keep_id", "n")


SQL_DEDUP_EXACT = r"""
SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS n
FROM documents
GROUP BY 1
"""


def q_simsearch_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return simsearch.cosine_topk(emb, queries, k=5)


SQL_SIMSEARCH_TOPK = """
SELECT query_id, neighbor_id, score FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                 CAST(c.embedding AS DOUBLE[])), 4) AS score,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 4) DESC,
               c.vec_id) AS rnk
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
) WHERE rnk <= 5
"""


def q_text_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.lang_id(F.col("text")).alias("lang_guess"))


SQL_TEXT_LANG = r"""
SELECT doc_id,
  CASE
    WHEN regexp_matches(lower(text), '[一-鿿]') THEN 'zh'
    WHEN regexp_matches(lower(text), '[Ѐ-ӿ]') THEN 'ru'
    WHEN regexp_matches(lower(text), '\b(der|die|das|und|nicht)\b') THEN 'de'
    WHEN regexp_matches(lower(text), '\b(le|la|les|est|une)\b') THEN 'fr'
    WHEN regexp_matches(lower(text), '\b(el|los|las|una|es)\b') THEN 'es'
    WHEN regexp_matches(lower(text), '\b(the|is|are|was|of)\b') THEN 'en'
    ELSE 'und' END AS lang_guess
FROM documents
"""


# --------------------------------------------------------------------------
# Sketch operators (MinHash-LSH / SimHash / hyperplane-LSH ANN).
#
# The query-facing variants run on the cross-engine sha_hash60 hash
# (first 15 hex chars of sha256 as bigint) and integer-quantized
# hyperplanes, so DuckDB computes bit-identical signatures and the
# driver gets full rows+schema+hash oracles; xxhash64 stays the
# library fast path. Oracle SQL is generated to mirror the exact
# parameters (K, bands, caps, seeds).
# --------------------------------------------------------------------------

_MH_HASHES, _MH_BANDS, _MH_CAP = 32, 8, 100
_ND_THRESHOLD = 0.6
_SH_CAP = 100
# Hamming verify threshold (of 60 signature bits). sf0.01 candidate
# distances run 0..21 with the near-dup mass under ~8, so 8 keeps the
# verified pairs non-vacuous while genuinely filtering the band-lucky
# tail (~17k candidates -> ~12.6k verified).
_SH_HAMK = 8
_ANN_DIM, _ANN_K, _ANN_BITS, _ANN_TABLES, _ANN_SEED = 64, 5, 6, 4, 99

_H60_SQL = "CAST('0x' || substr(sha256({x}),1,15) AS BIGINT)"


def q_minhash_lsh_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedupe.lsh_candidate_pairs(
        d, num_hashes=_MH_HASHES, bands=_MH_BANDS, hash_fn="sha256", max_bucket=_MH_CAP
    )


def q_near_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedupe.near_dedup_minhash(
        d,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        threshold=_ND_THRESHOLD,
        hash_fn="sha256",
        max_bucket=_MH_CAP,
    ).select("doc_id", "lang", "source")


def q_near_dedup_cc(spark, sf_dir):
    """Transitive-closure near-dedup: connected components over the
    verified pairs, one surviving representative (min id) per cluster.
    Oracle: DuckDB WITH RECURSIVE reachability."""
    d = _t(spark, sf_dir, "documents")
    return dedupe.near_dedup_minhash(
        d,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        threshold=_ND_THRESHOLD,
        hash_fn="sha256",
        max_bucket=_MH_CAP,
        transitive=True,
    ).select("doc_id", "lang", "source")


def q_incremental_near_dedup(spark, sf_dir):
    """Incremental near-dedup through the persisted DedupStore: the
    documents table ingested as THREE ordered id-range batches must
    yield exactly the one-shot near-dedup kept set (the store's
    batch==one-shot equality contract, here pinned by the driver's
    SQL oracle instead of a library-vs-library test). Uncapped so the
    oracle needs no bucket-count CTE; the capped path is covered by
    ``near_dedup``'s oracle plus the store's own cap-equality tests."""
    import tempfile

    from getl_spark.dedupstore import DedupStore

    d = _t(spark, sf_dir, "documents")
    row = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    # the store must outlive this call (the returned DataFrame reads
    # the kept docs lazily from its tables), so it can't be a context-
    # managed tempdir — register an atexit sweep instead of leaking
    # one getl_incdedup_* warehouse per check_oracles run (VERDICT r6)
    import atexit
    import shutil

    wh = tempfile.mkdtemp(prefix="getl_incdedup_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    store = DedupStore(
        wh,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        threshold=_ND_THRESHOLD,
        hash_fn="sha256",
        num_buckets=8,
    )
    kept = None
    for cond in (
        F.col("doc_id") <= cut1,
        (F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2),
        F.col("doc_id") > cut2,
    ):
        k = store.add_batch(spark, d.filter(cond)).select("doc_id", "lang", "source")
        kept = k if kept is None else kept.unionByName(k)
    return kept


def q_simhash_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedupe.simhash_duplicates(
        d, hash_fn="sha256", max_bucket=_SH_CAP, hamming_k=_SH_HAMK
    )


def q_ann_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return simsearch.lsh_topk(
        emb,
        queries,
        k=_ANN_K,
        dim=_ANN_DIM,
        n_bits=_ANN_BITS,
        n_tables=_ANN_TABLES,
        seed=_ANN_SEED,
    )


def _sql_minhash_core(num_hashes: int, bands: int, cap: int) -> str:
    """Shared CTE chain: documents -> shingles -> signature -> capped
    band buckets -> candidate pairs. Mirrors word_shingles (3-word,
    distinct, on lower/trim/ws-collapsed text) and minhash_signatures_df
    (sha256 mode) exactly."""
    rows = num_hashes // bands
    # mirrors minhash_signatures_df's sha mode: hash i is the 15-hex-char
    # slice at offset (i%4)*15+1 of sha256('<i//4>:' || shingle), kept
    # as a STRING (fixed-length hex: lexicographic min == numeric min)
    mh_exprs = ",\n    ".join(
        "list_min(list_transform(shingles, s -> "
        f"substr(sha256('{i // 4}:' || s), {(i % 4) * 15 + 1}, 15))) AS mh{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_id, concat_ws(',', {cols}) AS band_hash FROM sig".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return rf"""
WITH docs AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents
), toks AS (
  SELECT doc_id, string_split_regex(norm, '\s+') AS w FROM docs
), sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 1)),
         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles FROM toks
), sig AS (
  SELECT doc_id,
    {mh_exprs}
  FROM sh
), banded AS (
  {band_selects}
), capped AS (
  SELECT doc_id, band_id, band_hash FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM banded
  ) WHERE bsz <= {cap}
), pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM capped a JOIN capped b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
)"""


SQL_MINHASH_LSH_PAIRS = (
    _sql_minhash_core(_MH_HASHES, _MH_BANDS, _MH_CAP) + "\nSELECT a_id, b_id FROM pairs"
)


SQL_NEAR_DEDUP = (
    _sql_minhash_core(_MH_HASHES, _MH_BANDS, _MH_CAP)
    + f"""
, verified AS (
  SELECT p.b_id FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a_id
  JOIN sh sb ON sb.doc_id = p.b_id
  WHERE round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= {_ND_THRESHOLD}
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT b_id FROM verified)
"""
)


# incremental store equality oracle: the ONE-SHOT near-dedup, uncapped
# (cap 2^62 disables the bucket-size CTE numerically) — the DedupStore
# fed ordered batches must land on exactly this set
SQL_INCREMENTAL_NEAR_DEDUP = (
    _sql_minhash_core(_MH_HASHES, _MH_BANDS, 1 << 62)
    + f"""
, verified AS (
  SELECT p.b_id FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a_id
  JOIN sh sb ON sb.doc_id = p.b_id
  WHERE round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= {_ND_THRESHOLD}
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT b_id FROM verified)
"""
)


SQL_NEAR_DEDUP_CC = (
    # RECURSIVE qualifies the whole WITH list (needed by `reach` below)
    _sql_minhash_core(_MH_HASHES, _MH_BANDS, _MH_CAP).replace(
        "WITH docs", "WITH RECURSIVE docs", 1
    )
    + f"""
, verified AS (
  SELECT p.a_id, p.b_id FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a_id
  JOIN sh sb ON sb.doc_id = p.b_id
  WHERE round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= {_ND_THRESHOLD}
), edges AS (
  SELECT a_id AS s, b_id AS d FROM verified
  UNION
  SELECT b_id, a_id FROM verified
), reach AS (
  -- transitive closure: every node reachable from every node
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
), comp AS (
  SELECT node, least(node, MIN(r)) AS component FROM reach GROUP BY node
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
"""
)


def _sql_simhash_pairs(cap: int, hamming_k: int) -> str:
    """Mirrors simhash60 (sha_hash60 token hashes, 60-bit signature,
    4 x 15-bit bands) exactly, including the whole-signature Hamming
    verify filter on band-collision candidates."""
    bit_terms = "\n      + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
        for i in range(60)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, (simhash >> {b * 15}) & 32767 AS band_val FROM sig"
        for b in range(4)
    )
    h60_tok = _H60_SQL.format(x="t")
    return rf"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), hashes AS (
  SELECT doc_id, list_transform(w, t -> {h60_tok}) AS hs FROM toks
), sig AS (
  SELECT doc_id, ({bit_terms}) AS simhash FROM hashes
), banded AS (
  {band_selects}
), capped AS (
  SELECT doc_id, simhash, band_id, band_val FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS bsz FROM banded
  ) WHERE bsz <= {cap}
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM capped a JOIN capped b USING (band_id, band_val)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {hamming_k}
"""


SQL_SIMHASH_PAIRS = _sql_simhash_pairs(_SH_CAP, _SH_HAMK)


def _sql_ann_banded() -> str:
    """Shared CTE prefix mirroring the hyperplane bucketing of
    lsh_topk/embedding_near_dups: floor(v*1024) integer grid (exact in
    float64, so dot-product sign is order- and engine-independent),
    int_hyperplanes literals, per-table bucket ids."""
    band_selects = []
    for t in range(_ANN_TABLES):
        planes = simsearch.int_hyperplanes(_ANN_DIM, _ANN_BITS, _ANN_SEED + t)
        bits = "\n    + ".join(
            "CASE WHEN list_dot_product(iq, ["
            + ", ".join(f"{w}.0" for w in row)
            + f"]::DOUBLE[]) >= 0 THEN {1 << bi} ELSE 0 END"
            for bi, row in enumerate(planes)
        )
        band_selects.append(f"SELECT vec_id, {t} AS tbl, ({bits}) AS bucket FROM qi")
    banded = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), qi AS (
  SELECT vec_id, list_transform(e, v -> floor(v * 1024.0)) AS iq FROM emb
), banded AS (
  {banded}
)"""


def _sql_ann_lsh_topk() -> str:
    return _sql_ann_banded() + f""", cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q JOIN banded c USING (tbl, bucket)
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
    round(list_cosine_similarity(qe.e, ce.e), 4) AS score
  FROM cand
  JOIN emb qe ON qe.vec_id = cand.query_id
  JOIN emb ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


SQL_ANN_LSH_TOPK = _sql_ann_lsh_topk()

_IVF_CELLS, _IVF_PROBE, _IVF_SEED = 16, 4, 7


def q_ivf_topk(spark, sf_dir):
    """IVF-flat ANN top-k: corpus assigned to nearest coarse cell,
    query probes its n_probe nearest cells, exact cosine re-rank —
    the coarse-quantization scale path beside the hyperplane-LSH one
    (a probe reads n_probe/n_centroids of the corpus, not all of it)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return simsearch.ivf_topk(
        emb, queries, k=_ANN_K, dim=_ANN_DIM,
        n_centroids=_IVF_CELLS, n_probe=_IVF_PROBE, seed=_IVF_SEED,
    )


def _sql_ivf_topk() -> str:
    """Mirrors ivf_topk exactly: floor(v*1024) grid, int_centroids
    literals, argmax-dot assignment with (score desc, cell asc) ties,
    n_probe query cells, exact cosine re-rank. Every dot partial sum
    is an exact integer < 2^53, so DuckDB's double arithmetic equals
    Spark's int64 matmul bit-for-bit."""
    cents = simsearch.int_centroids(_ANN_DIM, _IVF_CELLS, _IVF_SEED)
    cell_selects = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {c} AS cell, list_dot_product(iq, ["
        + ", ".join(f"{w}.0" for w in row)
        + "]::DOUBLE[]) AS s FROM qi"
        for c, row in enumerate(cents)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), qi AS (
  SELECT vec_id, list_transform(e, v -> floor(v * 1024.0)) AS iq FROM emb
), cell_scores AS (
  {cell_selects}
), ranked AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS r
  FROM cell_scores
), assigned AS (
  SELECT vec_id, cell FROM ranked WHERE r = 1
), probed AS (
  SELECT vec_id, cell FROM ranked WHERE r <= {_IVF_PROBE} AND vec_id < 5
), cand AS (
  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM probed p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
    round(list_cosine_similarity(qe.e, ce.e), 4) AS score
  FROM cand
  JOIN emb qe ON qe.vec_id = cand.query_id
  JOIN emb ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


SQL_IVF_TOPK = _sql_ivf_topk()


def q_ann_index_topk(spark, sf_dir):
    """Persisted-IVF-index probe (AnnIndex build once / probe many):
    same centroids + assignment math as :func:`q_ivf_topk`, but the
    corpus assignment is materialized in a cell-bucketed lake table
    and the probe reads ONLY the probed cells' buckets (manifest
    pruning) — so the one-shot oracle pins the service-shaped path
    too. sha-centroid mode (train=False) keeps the SQL static."""
    import atexit
    import shutil
    import tempfile

    from getl_spark.annindex import AnnIndex

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    wh = tempfile.mkdtemp(prefix="ann_idx_q_")
    # the returned DataFrame lazily reads the index files, so cleanup
    # must outlive the call — remove at interpreter exit
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    idx = AnnIndex(wh, dim=_ANN_DIM, n_centroids=_IVF_CELLS, seed=_IVF_SEED)
    idx.build(spark, emb, train=False)
    return idx.search(spark, emb.filter("vec_id < 5"), k=_ANN_K, n_probe=_IVF_PROBE)

_EMB_ND_THRESHOLD = 0.3
_EMB_CAP = 500


def q_emb_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs: LSH-bucketed candidates ->
    exact cosine verify (never all-pairs; hot buckets capped)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return simsearch.embedding_near_dups(
        emb,
        threshold=_EMB_ND_THRESHOLD,
        dim=_ANN_DIM,
        n_bits=_ANN_BITS,
        n_tables=_ANN_TABLES,
        seed=_ANN_SEED,
        max_bucket=_EMB_CAP,
    )


SQL_EMB_NEAR_DUPS = (
    _sql_ann_banded()
    + f""", capped AS (
  SELECT vec_id, tbl, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS bsz FROM banded
  ) WHERE bsz <= {_EMB_CAP}
), cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM capped a JOIN capped b USING (tbl, bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT a_id, b_id, score FROM (
  SELECT a_id, b_id, round(list_cosine_similarity(ae.e, be.e), 4) AS score
  FROM cand
  JOIN emb ae ON ae.vec_id = cand.a_id
  JOIN emb be ON be.vec_id = cand.b_id
) WHERE score >= {_EMB_ND_THRESHOLD}
"""
)


# --------------------------------------------------------------------------


def all_queries():
    return {
        "tpch_q1": q_tpch_q1,
        "shipping_priority": q_shipping_priority,
        "segment_revenue": q_segment_revenue,
        "agg_filtered": q_agg_filtered,
        "agg_global": q_agg_global,
        "sort_limit": q_sort_limit,
        "topk_per_group": q_topk_per_group,
        "set_intersect": q_set_intersect,
        "set_except": q_set_except,
        "rollup": q_rollup,
        "pivot_events": q_pivot_events,
        "type_convert": q_type_convert,
        "json_extract": q_json_extract,
        "cdc_lww_latest": q_cdc_lww_latest,
        "cdc_first_writer": q_cdc_first_writer,
        "cdc_final_state": q_cdc_final_state,
        "cdc_merge_apply": q_cdc_merge_apply,
        "cdc_incremental_range": q_cdc_incremental_range,
        "story_anti_join": q_story_anti_join,
        "window_running": q_window_running,
        "sessionize": q_sessionize,
        "seq_surrogate": q_seq_surrogate,
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_bpe_quality": q_text_bpe_quality,
        "text_lang": q_text_lang,
        "fingerprint": q_fingerprint,
        "rolling_fp": q_rolling_fp,
        "rolling_fp_winnow": q_rolling_fp_winnow,
        "winnow_pairs": q_winnow_pairs,
        "dedup_exact": q_dedup_exact,
        "simsearch_topk": q_simsearch_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "near_dedup": q_near_dedup,
        "incremental_near_dedup": q_incremental_near_dedup,
        "near_dedup_cc": q_near_dedup_cc,
        "near_dedup_winnow": q_near_dedup_winnow,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ivf_topk,
        "ann_index_topk": q_ann_index_topk,
        "emb_near_dups": q_emb_near_dups,
    }


def all_oracles():
    return {
        "tpch_q1": SQL_TPCH_Q1,
        "shipping_priority": SQL_SHIPPING_PRIORITY,
        "segment_revenue": SQL_SEGMENT_REVENUE,
        "agg_filtered": SQL_AGG_FILTERED,
        "agg_global": SQL_AGG_GLOBAL,
        "sort_limit": SQL_SORT_LIMIT,
        "topk_per_group": SQL_TOPK_PER_GROUP,
        "set_intersect": SQL_SET_INTERSECT,
        "set_except": SQL_SET_EXCEPT,
        "rollup": SQL_ROLLUP,
        "pivot_events": SQL_PIVOT_EVENTS,
        "type_convert": SQL_TYPE_CONVERT,
        "json_extract": SQL_JSON_EXTRACT,
        "cdc_lww_latest": SQL_CDC_LWW_LATEST,
        "cdc_first_writer": SQL_CDC_FIRST_WRITER,
        "cdc_final_state": SQL_CDC_FINAL_STATE,
        "cdc_merge_apply": SQL_CDC_MERGE_APPLY,
        "cdc_incremental_range": SQL_CDC_INCREMENTAL_RANGE,
        "story_anti_join": SQL_STORY_ANTI_JOIN,
        "window_running": SQL_WINDOW_RUNNING,
        "sessionize": SQL_SESSIONIZE,
        "seq_surrogate": SQL_SEQ_SURROGATE,
        "text_tokens": SQL_TEXT_TOKENS,
        "text_quality": SQL_TEXT_QUALITY,
        "text_bpe_quality": SQL_TEXT_BPE_QUALITY,
        "text_lang": SQL_TEXT_LANG,
        "fingerprint": SQL_FINGERPRINT,
        "rolling_fp": SQL_ROLLING_FP,
        "rolling_fp_winnow": SQL_ROLLING_FP_WINNOW,
        "winnow_pairs": SQL_WINNOW_PAIRS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "simsearch_topk": SQL_SIMSEARCH_TOPK,
        "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
        "near_dedup": SQL_NEAR_DEDUP,
        "incremental_near_dedup": SQL_INCREMENTAL_NEAR_DEDUP,
        "near_dedup_cc": SQL_NEAR_DEDUP_CC,
        "near_dedup_winnow": SQL_NEAR_DEDUP_WINNOW,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "ann_lsh_topk": SQL_ANN_LSH_TOPK,
        "ann_ivf_topk": SQL_IVF_TOPK,
        "ann_index_topk": SQL_IVF_TOPK,
        "emb_near_dups": SQL_EMB_NEAR_DUPS,
    }
