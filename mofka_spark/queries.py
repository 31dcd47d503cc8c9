"""Query registry: every operator from SURVEY.md §2 (plus the
beyond-reference analytics) as a (Spark callable, DuckDB oracle SQL)
pair for the driver's correctness gate.

Conventions:
- every computed column is aliased identically on both sides
- aggregate doubles are rounded (4dp money, 4dp ratios) on both sides
- counts cast to BIGINT on both sides (DuckDB SUM(int) yields HUGEINT)
- LIMIT/top-k queries carry full deterministic tiebreaks
- SIGNED ZERO: any oracle ROUND over a difference-shaped expression
  that can land on zero must be written ``0.0 + ROUND(expr, n)`` —
  DuckDB's ROUND emits -0.0 for any negative that rounds to zero,
  Spark's round never does, and the driver hashes stringified values,
  so a bare ROUND is a latent hash mismatch (the round-6
  user_value_trend lesson; tools/check_oracle.py now compares reprs
  and catches this locally)
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mofka_spark.functions.eventbridge import compile_pattern
from mofka_spark.functions.views import DataDescriptor
from mofka_spark.operators import dedup, joins, similarity, text
from mofka_spark.session import pinned_shuffle
from mofka_spark.streaming.completion import drain

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, f"{sf_dir}/{name}.parquet")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load the events table with a TIMESTAMP `ts` regardless of how the
    parquet encodes it. Generators have shipped `ts` as TIMESTAMP(NANOS)
    (rejected by the vectorized reader unless nanosAsLong), as
    timestamp[us] (reads as TIMESTAMP_NTZ), and as plain TIMESTAMP —
    branch on the dtype actually loaded rather than assuming one.
    """
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    # Harmless when ts is already a timestamp; required when the file
    # carries nanos (reader would otherwise throw on the NANOS unit).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # integer DIV, not floor(double /): epoch-nanos (~1.7e18)
        # exceed double's 53-bit exact range, so float division is off
        # by ±1 microsecond on some rows
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000").cast("long"))
        )
    if isinstance(dt, TimestampNTZType):
        # Session tz is UTC in tests/bench, so NTZ -> TIMESTAMP keeps
        # the same instant; downstream window/session_window code and
        # the DuckDB oracle both see identical wall-clock values.
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    from pyspark.sql.types import StringType

    if isinstance(dt, StringType):
        # defensive: an ISO-string encoding would otherwise fail on the
        # first window expression with a cast error deep in a query
        return df.withColumn("ts", F.to_timestamp("ts"))
    if not isinstance(dt, TimestampType):
        raise TypeError(
            f"events.ts arrived as {dt}; expected timestamp/ntz/long/string "
            "(extend load_events for the new encoding)"
        )
    return df


def _wide(df: DataFrame, key: str) -> DataFrame:
    """Spread a narrow scan before CPU-heavy per-row stages (JSON
    probes, payload synthesis). Delegates to dedup._spread: a no-op
    when the scan already has enough splits (the 100 TB case), a small
    one-time repartition when the table arrives as a single parquet
    row-group (the local bench case, where it buys 32x parallelism
    for the map stage)."""
    from mofka_spark.operators.dedup import _spread

    return _spread(df, key)


SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        # a duplicate name silently REPLACES the earlier gate in the
        # registry (dict assignment) — losing its driver coverage with
        # no error anywhere; fail at import time instead
        if name in SPARK_QUERIES:
            raise ValueError(f"duplicate gate name {name!r}")
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# ===========================================================================
# 1. Mofka-semantics queries over the events table
# ===========================================================================

# L1: dense per-partition offset assignment (the receiveBatch id window;
# reference: src/DefaultPartitionManager.hpp:208,284-288). The events
# table plays the producer batch; partition = round-robin event_id % 4.
@query(
    "ingest_offsets",
    """
    SELECT event_id,
           CAST(event_id % 4 AS INTEGER) AS partition,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_id % 4
                                   ORDER BY event_id) - 1 AS BIGINT) AS offset
    FROM events
    """,
)
def q_ingest_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("partition").orderBy("event_id")
    return (
        ev.withColumn("partition", F.pmod(F.col("event_id"), F.lit(4)).cast("int"))
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .select("event_id", "partition", "offset")
    )


# Topic stats: per-partition count/min/max + density invariant
# (tests/MofkaEventConsumerTest.cpp:45-83 invariants, bulk form).
@query(
    "topic_stats",
    """
    WITH assigned AS (
      SELECT CAST(event_id % 4 AS INTEGER) AS partition,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_id % 4
                                     ORDER BY event_id) - 1 AS BIGINT) AS "offset"
      FROM events
    )
    SELECT partition,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN("offset") AS min_offset,
           MAX("offset") AS max_offset,
           (MAX("offset") - MIN("offset") + 1 = COUNT(*)) AS dense
    FROM assigned GROUP BY partition
    """,
)
def q_topic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = q_ingest_offsets(spark, sf_dir)
    return assigned.groupBy("partition").agg(
        F.count("*").alias("n_events"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        ((F.max("offset") - F.min("offset") + 1) == F.count("*")).alias("dense"),
    )


# L4 acknowledge semantics: consumer acks every 5th event; cursor =
# last-acked + 1 per partition (src/DefaultPartitionManager.cpp:506-514,
# scenario FIXTURES.md F8).
@query(
    "consumer_cursors",
    """
    WITH assigned AS (
      SELECT CAST(event_id % 4 AS INTEGER) AS partition,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_id % 4
                                     ORDER BY event_id) - 1 AS BIGINT) AS "offset"
      FROM events
    )
    SELECT partition,
           MAX(CASE WHEN "offset" % 5 = 0 THEN "offset" END) + 1 AS next_offset
    FROM assigned GROUP BY partition
    """,
)
def q_consumer_cursors(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = q_ingest_offsets(spark, sf_dir)
    return assigned.groupBy("partition").agg(
        (
            F.max(F.when(F.col("offset") % 5 == 0, F.col("offset"))) + 1
        ).alias("next_offset")
    )


# Retention/expiry (EventLog.trim, beyond-reference lifecycle — r12
# verdict #1): build a REAL topic from the events slice (dense offsets
# = row_number per partition in event_id order), trim below a fixed
# offset cut, and read back. The post-trim read must equal the
# pre-trim assignment restricted to surviving offsets — whole files
# under the cut are deleted, straddling files' below-floor rows are
# hidden, offsets stay dense above the floor. Oracle = the
# ingest_offsets assignment with WHERE offset >= cut.
@query(
    "log_trim",
    """
    WITH assigned AS (
      SELECT event_id,
             CAST(event_id % 4 AS INTEGER) AS partition,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_id % 4
                                     ORDER BY event_id) - 1 AS BIGINT) AS "offset"
      FROM events WHERE event_id < 2000
    )
    SELECT event_id, partition, "offset" FROM assigned
    WHERE "offset" >= 300
    """,
)
def q_log_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from mofka_spark.client import Driver
    from mofka_spark.log import INGEST_SCHEMA

    cut = 300
    drv = Driver(spark, tempfile.mkdtemp(prefix="mofka-trim-"))
    topic = drv.create_topic("trim-gate", num_partitions=4)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(
            F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("partition"),
            F.col("event_id").cast("long").alias("seq"),
            F.to_json(F.struct("event_id")).alias("metadata"),
            F.lit(None).cast("binary").alias("data"),
        )
    )
    # two appends chunked by event_id RANGE: per partition the offsets
    # continue across appends in event_id order (= the oracle's
    # row_number assignment) and each partition holds two files
    # covering offsets [0,250) and [250,500) — the cut at 300 exercises
    # BOTH paths: whole-file deletion (first file) and below-floor row
    # hiding in the straddling second file
    for lo in (0, 1000):
        topic.log.append_batch(
            ev.filter(
                (F.col("seq") >= lo) & (F.col("seq") < lo + 1000)
            ).select(*[f.name for f in INGEST_SCHEMA.fields])
        )
    topic.trim(before_offset=cut)
    return (
        topic.dataframe()
        .select(
            F.get_json_object("metadata", "$.event_id")
            .cast("long")
            .alias("event_id"),
            "partition",
            "offset",
        )
    )


# P4 eventbridge numeric-range pattern compiled to a pushdown-friendly
# predicate over the props JSON column.
@query(
    "eventbridge_numeric",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 10
      AND CAST(json_extract_string(props, '$.k') AS DOUBLE) < 60
      AND event_type IN ('click', 'purchase')
    """,
)
def q_eventbridge_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no _wide: filter+project doesn't amortize a repartition shuffle
    # (measured 1.16s narrow vs 1.35s wide at sf0.1)
    ev = _t(spark, sf_dir, "events")
    pattern = {"k": [{"numeric": [">=", 10, "<", 60]}]}
    return (
        ev.filter(compile_pattern(pattern, "props"))
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )


# P4 string rules: wildcard + anything-but-prefix over a synthesized
# metadata document (exercises the compiler end-to-end on real columns).
@query(
    "eventbridge_strings",
    """
    SELECT event_id, event_type
    FROM events
    WHERE event_type LIKE '%e%'
      AND event_type NOT LIKE 's%'
      AND value >= 0
    """,
)
def q_eventbridge_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    meta = F.to_json(F.struct("event_type", "value")).alias("md")
    pattern = {
        "event_type": [
            {"wildcard": "*e*"},
        ],
        "$or": [
            {"event_type": [{"anything-but": {"prefix": "s"}}]},
        ],
        "value": [{"numeric": [">=", 0]}],
    }
    return (
        ev.withColumn("md", meta)
        .filter(compile_pattern(pattern, "md"))
        .select("event_id", "event_type")
    )


# §2.6 view algebra: the three non-trivial golden views applied to the
# documents payload (sub/strided/unstructured byte selection, C3/L5).
@query(
    "data_views",
    """
    SELECT doc_id,
           substr(text, 14, 26) AS sub_view,
           substr(text, 14, 4) || substr(text, 20, 4) || substr(text, 26, 4)
             AS strided_view,
           substr(text, 4, 6) || substr(text, 16, 4) || substr(text, 28, 8)
             AS unstructured_view
    FROM documents
    WHERE n_chars >= 60
    """,
)
def q_data_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 60)
    ident = DataDescriptor.identity(1 << 30)
    sub = ident.make_sub_view(13, 26)
    strided = ident.make_strided_view(13, 3, 4, 2)
    unstructured = ident.make_unstructured_view([(3, 6), (15, 4), (27, 8)])
    return docs.select(
        "doc_id",
        sub.to_column("text").alias("sub_view"),
        strided.to_column("text").alias("strided_view"),
        unstructured.to_column("text").alias("unstructured_view"),
    )


# ===========================================================================
# 2. Relational analytics (Spark built-ins over the star schema)
# ===========================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1997-06-30 00:00:00").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# Semi-join (TPC-H Q4 shape, adapted to the trimmed schema): orders
# from 1996 with at least one returned lineitem, counted by priority.
# The EXISTS compiles to a LeftSemi join — no row multiplication, the
# lineitem side reduces to its distinct key set before the probe.
@query(
    "q4_returned_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q_q4_returned_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    returned = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# Anti-join (TPC-H Q22 shape): positive-balance customers with no
# order in the corpus's last 18 months ("churned"), per segment.
@query(
    "cust_no_orders",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > 0
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    ).select("o_custkey")
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# Correlated scalar subquery (TPC-H Q17 shape): customers above their
# own nation's average balance. The correlation decorrelates into one
# per-nation aggregate broadcast back onto the customer scan — the
# classic rewrite Catalyst applies to correlated scalar subqueries.
# Balances are integral CENTS by TPC-H construction, so the average
# derives from an exact (order-independent) integer cent sum, rounded
# to the nearest WHOLE CENT before display — AVG over raw doubles
# differs in the last ulp between engines, and Spark's ROUND(double)
# goes through the shortest decimal string while DuckDB rounds the
# binary value, so a 2dp round of a .XX5 average flips between them
# (seen at sf0.001). An exact half-cent IS an exact double, so the
# 0dp cent round agrees everywhere.
@query(
    "cust_above_nation_avg",
    """
    SELECT c.c_custkey, n.n_name,
           ROUND(c.c_acctbal, 2) AS acctbal,
           a.avg_bal AS nation_avg
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN (SELECT c_nationkey,
                 CAST(ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                                 AS DOUBLE) / COUNT(*)) AS BIGINT)
                   / 100.0 AS avg_bal
          FROM customer GROUP BY c_nationkey) a
      ON c.c_nationkey = a.c_nationkey
    WHERE c.c_acctbal > a.avg_bal
    """,
)
def q_cust_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    avg_bal = cust.groupBy("c_nationkey").agg(
        (
            F.round(
                F.sum(
                    F.round(F.col("c_acctbal") * 100).cast("long")
                ).cast("double")
                / F.count("*")
            ).cast("long")
            / F.lit(100.0)
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(avg_bal).withColumnRenamed("c_nationkey", "a_nationkey"),
            F.col("c_nationkey") == F.col("a_nationkey"),
        )
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select(
            "c_custkey",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("avg_bal").alias("nation_avg"),
        )
    )


# Window functions: top-3 orders per customer (deterministic tiebreak).
@query(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


# Set ops (EXCEPT): user-days with clicks but no purchase.
@query(
    "click_days_no_purchase",
    """
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day
    FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_click_days_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "day").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "day").distinct()
    return clicks.exceptAll(buys)


# Grouping sets / rollup.
@query(
    "orders_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# ===========================================================================
# 3. Streaming-flavored analytics over events (event time added by the
#    engine — SURVEY.md §1.3; these run in batch AND as streaming aggs)
# ===========================================================================

@query(
    "hourly_event_stats",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# As-of (point-in-time) join: for every click, the latest same-user
# purchase at-or-before it, within a 7-day tolerance. The Spark side is
# the union+window linear formulation (operators/joins.py — one shuffle,
# no range explosion); the oracle is DuckDB's native ASOF LEFT JOIN.
@query(
    "asof_click_purchase",
    """
    WITH purchases AS (
      SELECT user_id, ts, ROUND(MAX(value), 2) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN p.ts IS NOT NULL
                 AND date_diff('second', p.ts, c.ts) <= 604800
                THEN p.pvalue END AS last_purchase_value,
           CASE WHEN p.ts IS NOT NULL
                 AND date_diff('second', p.ts, c.ts) <= 604800
                THEN CAST(date_diff('second', p.ts, c.ts) AS BIGINT)
           END AS secs_since_purchase
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("pvalue"))
    )
    joined = asof_join(
        clicks, purchases, on="ts", by=["user_id"], value_cols=["pvalue"],
        tolerance_sec=604800,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("pvalue").alias("last_purchase_value"),
        (F.col("ts").cast("long") - F.col("ts_matched").cast("long"))
        .cast("long")
        .alias("secs_since_purchase"),
    )


# Interval/range join: clicks in the 30 minutes before each purchase.
# Equi-join on user + range condition on time — Catalyst plans the equi
# part as the shuffle key; the range predicate filters within key
# groups (never a cross join).
@query(
    "range_clicks_before_purchase",
    """
    SELECT p.event_id, CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_30m
    FROM events p
    LEFT JOIN events c
      ON p.user_id = c.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q_range_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c,
        (p.p_user == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (c.c_ts < p.p_ts),
        "left",
    )
    return joined.groupBy("p_id").agg(F.count("c_id").alias("n_clicks_30m")).select(
        F.col("p_id").alias("event_id"), "n_clicks_30m"
    )


# Deterministic hash sampling (reproducible across engines/runs — the
# curation-pipeline standard; df.sample is neither).
@query(
    "doc_sample",
    """
    SELECT doc_id FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
          % 1000000 < 100000
    """,
)
def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.10).select("doc_id")


# Stratified training mix: per-language quotas, one scan + filter.
@query(
    "training_mix",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000000
          < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 1000000
                      WHEN 'zh' THEN 250000 ELSE 100000 END
    """,
)
def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "doc_id", "lang",
        {"en": 0.5, "de": 1.0, "zh": 0.25},
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


# -- shared streaming fixture topics ----------------------------------------
# The 8 streaming e2e gates each used to build their own temp topic and
# bulk-push their slice (a Spark job apiece) — ~40% of total bench wall
# time was harness, not operator. Now ONE topic per (sf_dir, payload
# shape) is built on first use and reused by every gate and every bench
# repetition in the process; only the checkpoints and sinks stay
# per-query, so each gate still runs a full checkpointed AvailableNow
# drain through the custom source. The events fixture carries a
# SUPERSET payload (event_id, user_id, event_type, value, ts as exact
# epoch micros — to_json renders timestamps at ms precision, which
# would shift session bounds off the oracles) plus the per-user
# sentinel rows stateful_sessions needs (event_id NULL, so every
# `event_id < N` gate filter drops them); each gate parses and filters
# its own slice AFTER the source, which is exactly what a consumer of a
# production topic would do.
_STREAM_FIXTURES: dict[tuple[str, str], tuple[Any, str]] = {}


def _stream_fixture(spark: SparkSession, sf_dir: str, kind: str):
    from mofka_spark.client import Driver

    key = (sf_dir, kind)
    hit = _STREAM_FIXTURES.get(key)
    if hit is not None:
        return hit[0].open_topic(hit[1])
    import tempfile

    root = tempfile.mkdtemp(prefix=f"mofka-fixture-{kind}-")
    driver = Driver(spark, root)
    topic = driver.create_topic(f"fixture-{kind}", num_partitions=2)
    if kind == "events":
        ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
        gmax = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
        base = ev.select("event_id", "ts", "user_id", "event_type", "value")
        sentinels = (
            ev.select("user_id")
            .distinct()
            .withColumn("ts", F.lit(gmax) + F.expr("INTERVAL 2 HOURS"))
            .withColumn("event_id", F.lit(None).cast("long"))
            .withColumn("event_type", F.lit("__sentinel__"))
            .withColumn("value", F.lit(None).cast("double"))
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
        payload = base.unionByName(sentinels).select(
            F.to_json(
                F.struct(
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                    F.unix_micros("ts").alias("ts_us"),
                )
            ).alias("metadata")
        )
    elif kind == "docs":
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & (F.col("doc_id") < 1000)
        )
        payload = docs.select(
            F.to_json(F.struct("doc_id", "text", "lang")).alias("metadata")
        )
    elif kind == "vecs":
        emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
        payload = emb.select(
            F.to_json(F.struct("vec_id", "embedding")).alias("metadata")
        )
    else:  # pragma: no cover
        raise ValueError(f"unknown stream fixture kind {kind!r}")
    topic.producer("bulk").push_dataframe(payload)
    topic.mark_as_complete()
    _STREAM_FIXTURES[key] = (driver, topic.name)
    return topic


# -- shared near-dup pipeline fixture ----------------------------------------
# Several gates consume the SAME verified near-dup structure (the LSH
# candidate -> exact word-3-gram Jaccard verify pipeline at canonical
# parameters: 64 hashes, 16 bands, threshold 0.8) and then add ONE
# bounded stage of their own (cluster sizes, representatives, split
# hashing, pagerank, triangles). Re-running the full pipeline per gate
# measured ~40s of the bench slowest-15 as one computation repeated
# five times (round-11 verdict #2), so the pipeline OUTPUT is built
# once per (sf_dir, kind) and parked as a parquet fixture — the
# _stream_fixture discipline. Gates that test a DOWNSTREAM operator
# read the fixture; the gates that test the pipeline ITSELF
# (minhash_dedup, neardup_jaccard_pairs, dedup_components) still run
# it cold every time. Every consumer's DuckDB oracle stays standalone
# (full all-pairs recompute from raw text), so fixture reuse cannot
# mask a pipeline bug — any drift still hash-fails every consumer.
_NEARDUP_FIXTURES: dict[tuple[str, str], str] = {}


def _neardup_fixture(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """kind="edges": verified near-dup pairs (id_a, id_b, jaccard);
    kind="components": transitive keeper map (id, keeper_id) — the
    exact frames minhash_lsh_candidates+ngram_jaccard_pairs and
    minhash_lsh_dedup(transitive=True) produce at default params."""
    import os
    import tempfile

    key = (sf_dir, kind)
    path = _NEARDUP_FIXTURES.get(key)
    if path is not None:
        return spark.read.parquet(path)
    out = os.path.join(
        tempfile.mkdtemp(prefix=f"mofka-neardup-{kind}-"), "fx.parquet"
    )
    if kind == "edges":
        docs = _t(spark, sf_dir, "documents")
        release: list = []
        cand = dedup.minhash_lsh_candidates(docs)
        edges = dedup.ngram_jaccard_pairs(
            docs, cand, n=3, threshold=0.8, release=release
        )
        edges.write.mode("overwrite").parquet(out)
        for frame in release:
            frame.unpersist()
    elif kind == "components":
        from mofka_spark.operators.graph import assign_keepers

        docs = _t(spark, sf_dir, "documents")
        edges = _neardup_fixture(spark, sf_dir, "edges").select("id_a", "id_b")
        comp = assign_keepers(docs, edges, "doc_id").select("id", "keeper_id")
        comp.write.mode("overwrite").parquet(out)
    else:  # pragma: no cover
        raise ValueError(f"unknown neardup fixture kind {kind!r}")
    _NEARDUP_FIXTURES[key] = out
    return spark.read.parquet(out)


_EVENTS_STREAM_SCHEMA = (
    "event_id long, user_id long, event_type string, value double, ts_us long"
)


def _events_stream(topic, max_event_id: int) -> DataFrame:
    """Parse the shared events fixture and cut it to this gate's slice
    (sentinel rows have NULL event_id, so the bound drops them)."""
    return (
        topic.read_stream()
        .select(F.from_json("metadata", _EVENTS_STREAM_SCHEMA).alias("m"))
        .select(
            "m.event_id",
            "m.user_id",
            "m.event_type",
            "m.value",
            F.timestamp_micros(F.col("m.ts_us")).alias("ts"),
        )
        .filter(F.col("event_id") < max_event_id)
    )


# Streaming event-time aggregation END-TO-END: events flow through the
# engine (topic sink -> ledger -> custom streaming source), a
# withWatermark + window() aggregation runs under Trigger.AvailableNow,
# and the result must hash-match the batch oracle — proving the
# streaming path computes the same answer as the relational one.
# Bounded to event_id < 5000 so the per-round gate cost is flat in sf.
@query(
    "streaming_hourly_stats",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE event_id < 5000
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_streaming_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000)
    agg = (
        parsed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    name = "hstats_" + uuid.uuid4().hex[:8]
    drain(
        spark,
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
    )
    return spark.table(name).select(
        F.col("w.start").alias("hour"), "event_type", "n", "sum_value"
    )


# STREAMING sessionization: session_window() over the live topic
# stream (the §2.7 capability the reference cannot express — it has no
# event time at all). Spark merges an event into a session iff its ts
# is strictly inside [start, last_ts + gap), so a new session begins at
# gap >= 30 min exactly — the oracle's LAG rule matches at microsecond
# precision. Complete output mode: availableNow drains the whole topic,
# so no watermark is needed and no session is left unemitted.
@query(
    "streaming_sessions",
    """
    WITH marked AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR date_diff('microsecond',
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE event_id < 5000
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM marked GROUP BY user_id
    """,
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select("ts", "user_id")
    sessions = parsed.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count("*").alias("n_ev"))
    name = "sess_" + uuid.uuid4().hex[:8]
    drain(
        spark,
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
    )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_ev").cast("long").alias("n_events"),
        )
    )


# Sessionization: 30-minute inactivity gap per user.
@query(
    "user_sessions",
    """
    WITH marked AS (
      SELECT user_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM marked GROUP BY user_id
    """,
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.col("ts").cast("long") - prev.cast("long")
    new_session = F.when(prev.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"))
    )


# ===========================================================================
# 4. Training-data pipeline operators (documents / embeddings)
# ===========================================================================

@query(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("content_hash", "keeper_id", "n_copies")


@query(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))


@query(
    "token_stats",
    """
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens,
           CAST(CEIL(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) / 4.0)
                + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
             AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.token_count_bpe("text").alias("bpe_tokens"),
    )


@query(
    "quality_scores",
    """
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars_q,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             t -> t IN ('the','and','of','to','in'))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars_q AS BIGINT) AS n_chars_q,
           CAST(n_tok AS BIGINT) AS n_tokens,
           ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n_chars_q, 1), 4) AS punct_ratio,
           ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_tok, 1), 4) AS stopword_ratio
    FROM t
    """,
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = text.quality_features(docs)
    return feats.select(
        "doc_id",
        F.col("n_chars_q").cast("long"),
        F.col("n_tokens").cast("long"),
        "punct_ratio",
        "stopword_ratio",
    )


@query(
    "language_id",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), scores AS (
      SELECT doc_id,
        len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        len(list_filter(t, x -> x IN ('the','and','of','to','in')))    AS s_en,
        len(list_filter(t, x -> x IN ('el','la','de','que','y')))      AS s_es,
        len(list_filter(t, x -> x IN ('le','la','et','les','des')))    AS s_fr,
        len(list_filter(t, x -> x IN ('的','是','了','在','我')))      AS s_zh
      FROM toks
    )
    SELECT doc_id,
      CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
           WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh
                THEN 'de'
           WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END AS pred_lang,
      CAST(GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS lang_score
    FROM scores
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.language_id(docs).select("doc_id", "pred_lang", "lang_score")


# Corpus bigram vocabulary (tokenizer-training input): top-100 bigrams
# by total count, deterministic (n_total desc, gram asc) tiebreak.
@query(
    "vocab_top_ngrams",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(t)-1, 1)),
                                   i -> array_to_string(t[i:i+1], ' '))) AS g
      FROM toks
    )
    SELECT g AS gram,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ORDER BY n_total DESC, gram ASC LIMIT 100
    """,
)
def q_vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.vocab_stats(docs, n=2, top_k=100, min_count=2)


# Training-data decontamination: docs sharing any word-8-gram with the
# "evaluation set" (docs with doc_id % 97 == 0 stand in for a held-out
# benchmark). n_hits = distinct eval grams contained.
@query(
    "decontamination",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), g8 AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-7, 1)),
                           i -> array_to_string(t[i:i+7], ' '))) AS gs
      FROM toks
    ), eval_grams AS (
      SELECT DISTINCT unnest(gs) AS g FROM g8 WHERE doc_id % 97 = 0
    ), doc_grams AS (
      SELECT doc_id, unnest(gs) AS g FROM g8
    ), hits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM doc_grams JOIN eval_grams USING (g) GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return text.decontaminate(docs, eval_docs, n=8)


# Gopher-style composite quality filter: every rule is a token-equality
# or character-count primitive, so the full conjunction is
# oracle-checkable bit-for-bit.
@query(
    "gopher_quality",
    r"""
    WITH toks AS (
      SELECT doc_id, text,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(list_sum(list_transform(t, x -> len(x)))
                   / greatest(len(t), 1), 4) AS mean_word_len,
             ROUND((
                 (len(text) - len(replace(text, '#', '')))
               + (len(text) - len(replace(text, '...', ''))) / 3
             ) / greatest(len(t), 1), 4) AS symbol_ratio,
             ROUND(len(list_filter(t, x -> regexp_full_match(x, '[a-z]+')))
                   / greatest(len(t), 1), 4) AS alpha_frac,
             CAST(len(list_filter(t,
                  x -> list_contains(['the','and','of','to','in'], x)))
                  AS BIGINT) AS n_stop_hits
      FROM toks
    )
    SELECT doc_id AS id, n_words, mean_word_len, symbol_ratio, alpha_frac,
           n_stop_hits,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio < 0.1
            AND alpha_frac > 0.8
            AND n_stop_hits >= 2) AS pass_quality
    FROM feats
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.gopher_quality(docs)


# Cross-document repeated 8-token spans (Lee et al. exact-substring
# duplication, windowed form): a window position is duplicated when its
# span occurs in >= 2 distinct docs. The oracle recomputes the same
# 60-bit md5 gram hashes over all windows exactly.
@query(
    "dup_spans",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), w AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(t)-7, 1)),
                    i -> array_to_string(t[i:i+7], ' '))) AS gram
      FROM toks
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM w
    ), cross_doc AS (
      SELECT gh FROM hashed GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    ), per AS (
      SELECT hashed.doc_id,
             COUNT(*) AS n_windows,
             COUNT(c.gh) AS n_dup_windows
      FROM hashed LEFT JOIN cross_doc c ON hashed.gh = c.gh
      GROUP BY hashed.doc_id
    )
    SELECT doc_id AS id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup_windows AS BIGINT) AS n_dup_windows,
           ROUND(n_dup_windows / n_windows, 6) AS dup_frac
    FROM per
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.dup_spans(docs, n=8)


# Winnowing fingerprints (rolling-hash min over shingle-hash windows),
# aggregated per doc so the gate compares a compact signature.
@query(
    "winnow_fingerprints",
    r"""
    WITH s AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS tx
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(tx)-4, 1)),
                            i -> substr(tx, i, 5)) AS gs
      FROM s
    ), h AS (
      SELECT doc_id,
             list_transform(gs, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
      FROM g
    ), w AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(hs)-3, 1)),
                           i -> list_min(hs[i:i+3]))) AS fps
      FROM h
    )
    SELECT doc_id AS id,
           CAST(len(fps) AS BIGINT) AS n_fps,
           CAST(list_min(fps) AS BIGINT) AS min_fp
    FROM w
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        text.winnow_fingerprints(docs, k=5, window=4)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_fps"),
            F.min("fingerprint").alias("min_fp"),
        )
    )


# Gopher-style repetition signals: top-gram fractions computed
# shuffle-free (sorted-array run folds) on the Spark side; the oracle
# derives the same counts the heavy way (unnest + GROUP BY).
@query(
    "repetition_signals",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ), u AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), uc AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS nd, MAX(c) AS topc
      FROM (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2)
      GROUP BY doc_id
    ), b AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, greatest(len(toks) - 1, 1) - 1),
               i -> array_to_string(toks[i+1:i+2], ' '))) AS bg
      FROM t
    ), bc AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb, MAX(c) AS topb
      FROM (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2)
      GROUP BY doc_id
    )
    SELECT uc.doc_id AS id,
           uc.n AS n_tokens,
           ROUND(uc.nd / greatest(uc.n, 1), 6) AS distinct_ratio,
           ROUND(uc.topc / greatest(uc.n, 1), 6) AS top_unigram_frac,
           ROUND(bc.topb / greatest(bc.nb, 1), 6) AS top_bigram_frac
    FROM uc JOIN bc USING (doc_id)
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_signals(docs)


# PII detect/redact. The corpus is synthetic word-soup with no real
# PII, so both sides append the SAME deterministically-constructed
# address/phone/ip to a doc_id-keyed subset — the regexes are
# genuinely exercised (non-zero counts) and the redacted-text md5
# must match byte-for-byte.
@query(
    "pii_scan",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 5 AS INTEGER)
               WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
               WHEN 1 THEN ' call +1415555' ||
                           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                           '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)
               ELSE '' END AS tx
      FROM documents
    )
    SELECT doc_id AS id,
           CAST(len(regexp_extract_all(tx,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(tx, '\+[0-9]{7,15}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(tx,
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT)
             AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(tx,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9]{7,15}', '<PHONE>', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'))
             AS redacted_md5
    FROM aug
    """,
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 5 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@example.com now")))
            .when(did % 5 == 1,
                  F.concat(F.lit(" call +1415555"),
                           F.lpad((did % 10000).cast("string"), 4, "0")))
            .when(did % 5 == 2,
                  F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                           F.lit(".0."), ((did * 3) % 256).cast("string")))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = text.pii_scan(aug, id_col="doc_id", text_col="text")
    return out.select(
        "id", "n_emails", "n_phones", "n_ipv4",
        F.md5("redacted").alias("redacted_md5"),
    )


# Overlapping token chunking (training-sequence prep); chunk content
# compared by md5 so the gate stays compact.
@query(
    "doc_chunks",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ), c AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE CAST(CEIL((len(toks) - 64) / 48.0) AS INTEGER) + 1
             END AS nc
      FROM t
    )
    SELECT doc_id AS id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(len(toks[i*48+1 : least(i*48+64, n)]) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(toks[i*48+1 : least(i*48+64, n)], ' '))
             AS chunk_md5
    FROM c, unnest(generate_series(0, nc - 1)) AS g(i)
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = text.chunk_documents(docs, chunk_tokens=64, stride=48)
    return out.select(
        "id", "chunk_id", "n_chunk_tokens", F.md5("chunk").alias("chunk_md5")
    )


# Corpus-trained unigram LM scoring (perplexity-proxy quality signal).
@query(
    "lm_scores",
    r"""
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), v AS (
      SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
    ), n AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS nt FROM v
    )
    SELECT t.doc_id AS id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(LN(v.c) - LN(n.nt)), 6) AS avg_logp
    FROM t JOIN v USING (tok) CROSS JOIN n
    GROUP BY t.doc_id
    """,
)
def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.lm_score(docs)


# Concat-and-cut sequence packing. The Spark side computes the prefix
# sum DISTRIBUTED (range partitions + broadcast partition totals); the
# oracle uses the naive single-window form — identical layout.
@query(
    "pack_sequences",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS global_start
      FROM t
    )
    SELECT doc_id AS id, n_tokens, global_start,
           CAST(FLOOR(global_start / 512) AS BIGINT) AS first_bin,
           CAST(FLOOR((global_start + greatest(n_tokens, 1) - 1) / 512)
                AS BIGINT) AS last_bin,
           CAST(global_start % 512 AS BIGINT) AS start_in_bin
    FROM s
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return packing.pack_sequences(
        sized, id_col="doc_id", tokens_col="n_tokens", capacity=512
    )


# Deterministic epoch shuffle: training-order permutation as the rank
# of a seeded 60-bit md5 key, computed with the distributed prefix-sum
# (range partitions + broadcast partial counts, no global window). The
# oracle is the naive one-window rank — identical permutation.
@query(
    "epoch_shuffle",
    """
    WITH k AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || ':17'), 1, 15))::BIGINT
               AS shuffle_key
      FROM documents
    )
    SELECT doc_id AS id, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
             AS epoch_pos
    FROM k
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    docs = _t(spark, sf_dir, "documents")
    return packing.epoch_shuffle(docs, id_col="doc_id", seed=17)


# Kafka-style log compaction: latest event per user, one map-side
# partial-max aggregate (no window, shuffle carries |keys| rows).
@query(
    "topic_compact",
    """
    SELECT user_id, ts, event_id, event_type, value
    FROM (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_topic_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    ev = _t(spark, sf_dir, "events")
    return packing.compact_latest(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "value"],
    )


# Brute-force cosine top-k (the ANN baseline). Rank computed on the
# raw double score with neighbor-id tiebreak; output score rounded.
@query(
    "knn_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.qvec,
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings c, q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(queries, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rnk")
    )


# ANN recall gates: the approximate operators (sign-LSH, IVF) are
# checked as recall@5 against the exact top-k computed in-engine; the
# oracle asserts every query clears the threshold (recall_ok = true for
# all 8 query vectors). Deterministic: seeded hyperplanes/centroid fit
# over fixed data. Measured at sf0.01: LSH(3 planes x 12 tables)
# min-recall 0.8, IVF(8 cells, probe 6) min-recall 0.6 — thresholds sit
# a full quantum (0.2 at k=5) below.
@query(
    "lsh_recall",
    """
    SELECT vec_id AS query_id, (1=1) AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.lsh_topk(queries, emb, k=5, n_planes=3, n_tables=12)
    rec = similarity.topk_recall(approx, exact, k=5)
    return rec.select("query_id", (F.col("recall") >= 0.6).alias("recall_ok"))


@query(
    "ivf_recall",
    """
    SELECT vec_id AS query_id, (1=1) AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=6)
    rec = similarity.topk_recall(approx, exact, k=5)
    return rec.select("query_id", (F.col("recall") >= 0.5).alias("recall_ok"))


# Embedding-cosine near-dup pairs, blocked on label (the blocking key
# stands in for an LSH bucket at scale).
@query(
    "embedding_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a
    JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, block_col="label", threshold=0.3)


# SemDeDup-style semantic dedup: cluster-blocked (k-means cells,
# multi-probe) min-id pruning at cosine >= 0.4. The oracle computes the
# EXACT keep set over all pairs, so blocking recall is itself gated:
# a high-cosine pair falling in disjoint cell sets would flip a keep
# bit and hash-mismatch. These synthetic embeddings are isotropic
# noise — tau=0.4 pairs sit at ~65 degrees, the hardest blocking case
# (real SemDeDup runs tau>=0.9 on clustered encoders, where top-1
# cells collide by geometry; test_similarity covers that regime with
# planted duplicates) — hence the dense 6/16 multi-probe here.
# (Boundary safety: min |cos - 0.4| over all pairs is 1.3e-4 at
# sf0.01 — float-order divergence can't flip a keep bit.)
@query(
    "semantic_dedup",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dropped AS (
      SELECT DISTINCT b.vec_id AS id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    )
    SELECT e.vec_id AS id, (d.id IS NULL) AS keep
    FROM e LEFT JOIN dropped d ON e.vec_id = d.id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, tau=0.4, n_clusters=16, nprobe=6)


# Shared oracle fragment: normalized word n-gram token lists (matches
# dedup.normalize_text + dedup.word_ngrams semantics exactly).
_ORACLE_TOKS = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    )
"""

# Exact word-3-gram Jaccard >= 0.8 over all pairs. The Spark side goes
# through MinHash-LSH candidates first; at this threshold every true
# pair has an LSH miss probability of (1-s^4)^16 < 1e-7 (s >= 0.8), so
# the verified candidate set IS the exact pair set — hash-match
# required, which makes LSH recall itself part of the gate.
_JACCARD_PAIRS_SQL = (
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), scored AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                   greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                            1), 6) AS jaccard
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.8
    """
)


@query("neardup_jaccard_pairs", _JACCARD_PAIRS_SQL)
def q_neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(docs)
    return dedup.ngram_jaccard_pairs(docs, cand, n=3, threshold=0.8)


# MinHash-LSH near-dup dedup with keeper assignment, oracle-checked:
# the DuckDB side derives keepers from the exact all-pairs Jaccard edge
# set (same min-neighbor single-hop rule as minhash_lsh_dedup).
@query(
    "minhash_dedup",
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                  greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                           1), 6) >= 0.8
    ), keepers AS (
      SELECT id_b AS id, MIN(id_a) AS k FROM pairs GROUP BY id_b
    )
    SELECT d.doc_id AS id,
           COALESCE(k.k, d.doc_id) AS keeper_id,
           (k.k IS NOT NULL) AS is_duplicate
    FROM documents d LEFT JOIN keepers k ON d.doc_id = k.id
    """,
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(docs, verify_threshold=0.8)


# Online (streaming) dedup, oracle-gated against batch semantics: the
# documents flow through a topic as an event stream, the stateful
# dropDuplicates operator (streaming/dedup.py) emits one event per
# distinct content key, and the emitted key SET must equal the batch
# DISTINCT — streaming state semantics checked by hash, not just rows.
# Only the content hash is returned: WHICH copy survives within a
# micro-batch is not deterministic (and is not part of the contract).
@query(
    "streaming_dedup",
    r"""
    SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             AS content_hash
    FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from mofka_spark.streaming.dedup import dedup_stream

    # doc_id < 1000 bounds the e2e harness slice (shared fixture topic):
    # the operator under test is dropDuplicates-on-key, not bulk ingest.
    # Covers the whole table at the sf0.01 correctness gate (500 docs).
    topic = _stream_fixture(spark, sf_dir, "docs")
    key = F.md5(
        dedup.normalize_text(F.get_json_object("metadata", "$.text"))
    )
    deduped = dedup_stream(topic.read_stream(), key=key, within=None)
    out = deduped.select(
        F.md5(
            dedup.normalize_text(F.get_json_object("metadata", "$.text"))
        ).alias("content_hash")
    )
    name = "sdedup_" + uuid.uuid4().hex[:8]
    drain(spark, out.writeStream.format("memory").queryName(name))
    return spark.table(name)


# Incremental NEAR-dup (streaming/neardup.py): documents stream through
# a topic in micro-batches; each epoch LSH-bands the new docs, finds
# candidates against the accumulated signature store (never O(corpus)
# per batch), verifies with exact n-gram Jaccard, and extends the
# store. The end-of-stream result must hash-match the same oracle as
# the batch minhash_dedup — incremental maintenance over arbitrary
# batch boundaries must be invisible in the final answer (same
# invariant streaming_rollup pins for aggregates, here for LSH state).
@query(
    "streaming_neardup",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                  greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                           1), 6) >= 0.8
    ), keepers AS (
      SELECT id_b AS id, MIN(id_a) AS k FROM pairs GROUP BY id_b
    )
    SELECT d.doc_id AS id,
           COALESCE(k.k, d.doc_id) AS keeper_id,
           (k.k IS NOT NULL) AS is_duplicate
    FROM documents d LEFT JOIN keepers k ON d.doc_id = k.id
    WHERE d.text IS NOT NULL AND d.doc_id < 1000
    """,
)
def q_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.neardup import neardup_sink, read_result

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1 over the fixture log (one published file per
    # partition, 2 partitions at every sf) => exactly TWO epochs: the
    # second epoch exercises the batch-vs-store history path (the thing
    # under test) and per-epoch job overhead stays constant as sf
    # grows, while the drain runs the native vectorized source (no
    # per-query Python source runner — guide §4). The store's final
    # answer is epoch-split-invariant by design (read_result derives
    # from the accumulated edge SET), so the result is unchanged —
    # oracle-verified. num_hashes=32, bands=16 (r=2): true-pair
    # miss prob at s>=0.8 is (1-0.8^2)^16 ~ 8e-8, so the hash-match
    # gate still holds; the extra false candidates r=2 admits are
    # killed by the exact verify.
    parsed = topic.read_stream(files_per_trigger=1).select(
        F.get_json_object("metadata", "$.doc_id").cast("long").alias("id"),
        F.get_json_object("metadata", "$.text").alias("text"),
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-neardup-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            neardup_sink(store, num_hashes=32, bands=16)
        ),
    )
    return read_result(spark, store)


# Incrementally-maintained IVF ANN index (streaming/annindex.py):
# embeddings stream through a topic; each epoch assigns the new vectors
# to frozen k-means cells and extends a cell-partitioned store; a
# search probes nprobe cells with DIRECTORY pruning. Gate: recall@5 of
# the incrementally-built index vs exact brute force >= 0.5 per query
# (same bar and settings as the batch ivf_recall gate — the increment
# must not cost recall); exact equality with batch ivf_topk is pinned
# in pytest where no JSON float roundtrip intervenes.
@query(
    "streaming_ann_index",
    """
    SELECT vec_id AS query_id, (1=1) AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def q_streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.annindex import ann_index_sink, search_index

    topic = _stream_fixture(spark, sf_dir, "vecs")
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    centroids = similarity.fit_centroids(
        emb, "vec_id", "embedding", n_centroids=8, seed=7
    )
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    parsed = (
        topic.read_stream(files_per_trigger=1)
        .select(
            F.from_json(
                "metadata", "vec_id long, embedding array<float>"
            ).alias("j")
        )
        .select(F.col("j.vec_id").alias("id"), F.col("j.embedding"))
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-annidx-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            ann_index_sink(store, centroids, id_col="id")
        ),
    )
    queries_df = emb.filter(F.col("vec_id") < 8)
    approx = search_index(
        spark, store, queries_df, centroids, k=5, nprobe=6
    )
    exact = similarity.brute_force_topk(queries_df, emb, k=5)
    rec = similarity.topk_recall(approx, exact, k=5)
    return rec.select(
        "query_id", (F.col("recall") >= 0.5).alias("recall_ok")
    )


# Incrementally-maintained aggregate table (streaming materialized
# view): events stream through a topic; each micro-batch appends
# PARTIAL aggregates; the result is the merge-on-read combine. The
# oracle is the plain batch GROUP BY — the incremental maintenance
# must be invisible in the final answer.
@query(
    "streaming_rollup",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS value_count,
           ROUND(SUM(value), 2) AS value_sum
    FROM events WHERE event_id < 5000
    GROUP BY event_type
    """,
)
def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.rollup import read_rollup, rollup_sink

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select("event_type", "value")
    agg_path = os.path.join(tempfile.mkdtemp(prefix="mofka-rollup-"), "agg")
    aggs = {"value": ["count", "sum"]}
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            rollup_sink(agg_path, ["event_type"], aggs)
        ),
    )
    out = read_rollup(spark, agg_path, ["event_type"], aggs)
    return out.select(
        "event_type",
        "value_count",
        F.round("value_sum", 2).alias("value_sum"),
    )


# Incremental tokenizer-fertility monitor: the per-language integer
# sums (docs, words, BPE tokens, chars) maintained AS documents stream
# through the rollup store; fertility derives at read time. Mergeable
# integer partials make the epoch split invisible — the oracle is the
# batch tokenizer_fertility SQL on the fixture slice.
@query(
    "streaming_fertility",
    """
    WITH obs AS (
      SELECT lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
             CAST(CEIL(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                    / 4.0)
                  + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               AS BIGINT) AS n_bpe,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ), agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM obs GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_bpe,
           ROUND(CASE WHEN n_words > 0
                      THEN CAST(n_bpe AS DOUBLE) / n_words END, 6)
             AS fertility,
           ROUND(CASE WHEN n_bpe > 0
                      THEN CAST(n_chars AS DOUBLE) / n_bpe END, 6)
             AS chars_per_token
    FROM agg
    """,
)
def q_streaming_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators.text import token_count, token_count_bpe
    from mofka_spark.streaming.rollup import read_rollup, rollup_sink

    topic = _stream_fixture(spark, sf_dir, "docs")
    stream = topic.read_stream().select(
        F.get_json_object("metadata", "$.lang").alias("lang"),
        F.get_json_object("metadata", "$.text").alias("text"),
    )
    proj = stream.select(
        "lang",
        "text",
        token_count(F.col("text")).cast("long").alias("n_words"),
        token_count_bpe(F.col("text")).cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    agg_path = os.path.join(tempfile.mkdtemp(prefix="mofka-fert-"), "agg")
    aggs = {
        "text": "count",
        "n_words": "sum",
        "n_bpe": "sum",
        "n_chars": "sum",
    }
    drain(
        spark,
        proj.writeStream.foreachBatch(rollup_sink(agg_path, ["lang"], aggs)),
    )
    out = read_rollup(spark, agg_path, ["lang"], aggs)
    return out.select(
        "lang",
        F.col("text_count").alias("n_docs"),
        F.col("n_words_sum").alias("n_words"),
        F.col("n_bpe_sum").alias("n_bpe"),
        F.round(
            F.when(
                F.col("n_words_sum") > 0,
                F.col("n_bpe_sum").cast("double") / F.col("n_words_sum"),
            ),
            6,
        ).alias("fertility"),
        F.round(
            F.when(
                F.col("n_bpe_sum") > 0,
                F.col("n_chars_sum").cast("double") / F.col("n_bpe_sum"),
            ),
            6,
        ).alias("chars_per_token"),
    )


# Transitive keeper assignment: connected components over the verified
# near-dup edge set (operators/graph.py min-label propagation), so a
# chain A~B~C collapses to one keeper even when A-C is not an edge.
# Oracle: DuckDB recursive CTE computing full reachability over the
# exact all-pairs Jaccard >= 0.8 edges, component = min reachable id.
# Hash-match therefore gates BOTH the LSH candidate recall and the
# iterative component computation against an independent formulation.
_COMPONENTS_CTE = (
    _ORACLE_TOKS.replace("WITH toks", "WITH RECURSIVE toks")
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                  greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                           1), 6) >= 0.8
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ), reach(s, d) AS (
      SELECT s, s FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), comp AS (
      SELECT s AS id, MIN(d) AS component FROM reach GROUP BY s
    )
    """
)

_COMPONENTS_SQL = (
    _COMPONENTS_CTE
    + """
    SELECT doc.doc_id AS id,
           COALESCE(c.component, doc.doc_id) AS keeper_id,
           (c.component IS NOT NULL AND c.component <> doc.doc_id)
             AS is_duplicate
    FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
    """
)


@query("dedup_components", _COMPONENTS_SQL)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(docs, verify_threshold=0.8, transitive=True)


# ===========================================================================
# 7. Sketches and retrieval scoring
# ===========================================================================

# Mergeable-sketch distinct count (operators/sketch.py): per-day HLL
# sketches unioned up to per-type totals. Gate pattern as in lsh_recall:
# the exact count is oracle-checked, the sketch's accuracy is asserted
# as a boolean the oracle expects TRUE.
@query(
    "distinct_users_sketch",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS sketch_ok
    FROM events GROUP BY event_type
    """,
)
def q_distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sketch

    ev = _t(spark, sf_dir, "events")
    return sketch.distinct_count_gate(
        ev, ["event_type"], "user_id", F.to_date("ts"), lg_k=12, tol=0.05
    )


# Exact per-group quantiles (value-matched against DuckDB quantile_cont
# — both linear interpolation) + a boolean gate bracketing
# approx_percentile inside the exact q +/- 1% rank envelope.
@query(
    "value_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p_50,
           ROUND(quantile_cont(value, 0.95), 6) AS p_95,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
)
def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sketch

    ev = _t(spark, sf_dir, "events")
    return sketch.quantile_gate(ev, ["event_type"], "value", qs=(0.5, 0.95))


_BM25_TERMS = ["hash", "merge", "window"]


def _bm25_oracle(
    terms: list[str], k1: float = 1.2, b: float = 0.75, where: str = ""
) -> str:
    tf_defs = ",\n             ".join(
        f"CAST(len(list_filter(arr, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_defs = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    contribs = "\n           + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN LN(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * ({k1} + 1.0))"
        f" / (tf_{i} + {k1} * (1.0 - {b} + {b} * dl / avgdl)) ELSE 0.0 END)"
        for i in range(len(terms))
    )
    hits = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(terms))
    )
    return rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr
      FROM documents WHERE text IS NOT NULL {where}
    ), f AS (
      SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
             {tf_defs}
      FROM t
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
             {df_defs}
      FROM f
    )
    SELECT doc_id AS id,
           CAST({hits} AS BIGINT) AS n_terms,
           ROUND({contribs}, 6) AS bm25
    FROM f CROSS JOIN s
    WHERE {hits} > 0
    """


# BM25 lexical retrieval scoring against a fixed term list — zero
# explode, zero per-term shuffle (see text.bm25_scores). The oracle
# mirrors the exact float-op order so 6dp-rounded scores match.
@query("bm25_scores", _bm25_oracle(_BM25_TERMS))
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.bm25_scores(docs, _BM25_TERMS)


# Multimodal -> similarity pipeline: opaque payloads through the
# Arrow-batched embedding-extraction stage (mapInPandas, stand-in
# encoder) into exact cosine top-k. The stand-in encoder is pure
# integer math on (doc_id, payload byte length), so the oracle rebuilds
# the identical doubles (payload length = body + header size per the
# synthetic_payload format table) and the whole pipeline — byte
# synthesis, Python batch plumbing, vector scoring, ranking — must
# hash-match end to end.
@query(
    "modality_embed_knn",
    """
    WITH e AS (
      SELECT doc_id AS vec_id,
             list_transform(generate_series(0, 15), i ->
               ((doc_id * 1315423911 + i * 2654435761 +
                 octet_length(encode(text)) +
                 (CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 28
                                  WHEN 2 THEN 10 ELSE 8 END)) % 1000003)
               / 1000003.0) AS embedding
      FROM documents
    ), q AS (SELECT vec_id AS query_id, embedding AS qvec FROM e WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.qvec, c.embedding), 6) AS score
      FROM e c, q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_modality_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import modality

    docs = _wide(_t(spark, sf_dir, "documents"), "doc_id")
    payloads = modality.synthetic_payload(docs).select("doc_id", "data")
    # EAGER localCheckpoint (GC-bounded, not a session-cache leak): the
    # query and corpus sides of the top-k both read this frame, and
    # ArrowEvalPython subtrees get no AQE stage reuse — an
    # unmaterialized plan runs payload synthesis + the Python encoder
    # twice, and a lazily-populated cache makes both sides race
    # per-partition block locks through the Python stage (the simhash
    # materialization rule, SCALING.md)
    emb = modality.decode_embeddings(payloads, dim=16).localCheckpoint(
        eager=True
    )
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(queries, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rnk")
    )


# SimHash near-dup pairs with a portable (md5-derived 60-bit) signature
# so DuckDB computes the IDENTICAL simhash, then exact all-pairs
# hamming <= 3. The Spark side's pigeonhole banding (max_hamming+1
# bands) guarantees 100% recall, so the two sides must hash-match.
@query(
    "simhash_pairs",
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(t)-1, 1)),
                                   i -> array_to_string(t[i:i+1], ' '))) AS g
      FROM toks
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM grams
    ), votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, (SELECT unnest(generate_series(0,59)) AS bit)
      GROUP BY doc_id, bit
    ), sims AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sim
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.simhash_dedup(docs, max_hamming=3, ngram=2, portable=True)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# ===========================================================================
# 5. Multimodal columns: typed operations over opaque binary payloads.
#    testdata carries no binary column, so payloads are synthesized
#    deterministically from (doc_id, n_chars, text) — the Spark side
#    genuinely sniffs magic bytes and parses headers; the oracle knows
#    the construction and computes the expected metadata directly.
# ===========================================================================

@query(
    "modality_stats",
    """
    WITH t AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                             WHEN 2 THEN 'gif' ELSE 'unknown' END AS format,
             CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             WHEN 2 THEN 'image' ELSE 'unknown' END AS modality,
             octet_length(encode(text)) AS body,
             (n_chars % 512 + 16) AS w,
             ((doc_id * 7) % 512 + 16) AS h,
             ([8000, 16000, 44100])[CAST(doc_id % 3 AS INTEGER) + 1] AS rate
      FROM documents
    )
    SELECT modality, format,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE format WHEN 'png' THEN body + 24
                                WHEN 'wav' THEN body + 28
                                WHEN 'gif' THEN body + 10
                                ELSE body + 8 END) AS BIGINT) AS total_bytes,
           ROUND(AVG(CASE WHEN format IN ('png','gif') THEN w END), 2) AS avg_width,
           ROUND(AVG(CASE WHEN format IN ('png','gif') THEN h END), 2) AS avg_height,
           ROUND(AVG(CASE WHEN format = 'wav' THEN rate END), 2) AS avg_sample_rate
    FROM t GROUP BY modality, format
    """,
)
def q_modality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import modality

    docs = _wide(_t(spark, sf_dir, "documents"), "doc_id")
    payloads = modality.synthetic_payload(docs).select("doc_id", "data")
    return modality.modality_stats(payloads)


# Audio header parse, no decode (modality.audio_*): canonical-WAV and
# MPEG1-Layer-III MP3 payloads synthesized from (doc_id, text); the
# Spark side genuinely parses bytes — WAV fmt-chunk fields at their
# canonical LE offsets, MP3 bitrate/rate/mode indices from the frame
# header (including ID3v2-prefixed files via the synchsafe tag size) —
# while the oracle computes the same metadata from the generative
# formulas. duration_ms is the header-only estimate: data-chunk size
# over byte rate (WAV), audio bytes over the frame bitrate (MP3).
@query(
    "audio_headers",
    """
    WITH t AS (
      SELECT doc_id, octet_length(encode(text)) AS body
      FROM documents WHERE text IS NOT NULL
    ),
    m AS (
      SELECT doc_id, body,
             CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp3' END AS format,
             CASE WHEN doc_id % 2 = 0 THEN
               ([8000, 16000, 44100])[CAST(doc_id % 3 AS INTEGER) + 1] * 2
             ELSE
               ([112, 128, 160, 192])[CAST(doc_id % 4 AS INTEGER) + 1] * 125
             END AS byte_rate,
             CASE WHEN doc_id % 2 = 0 THEN body ELSE body + 4 END AS audio_bytes
      FROM t
    )
    SELECT doc_id, format,
           CAST(CASE WHEN format = 'wav' THEN doc_id % 2 + 1
                     WHEN doc_id % 8 < 4 THEN 1 ELSE 2 END AS BIGINT)
             AS channels,
           CAST(CASE WHEN format = 'wav' THEN
                  ([8000, 16000, 44100])[CAST(doc_id % 3 AS INTEGER) + 1]
                ELSE
                  ([44100, 48000, 32000])[CAST(doc_id % 3 AS INTEGER) + 1]
                END AS BIGINT) AS sample_rate,
           CAST(byte_rate AS BIGINT) AS byte_rate,
           CAST(ROUND(audio_bytes * 1000.0 / byte_rate) AS BIGINT)
             AS duration_ms
    FROM m
    """,
)
def q_audio_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import modality

    docs = _wide(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "doc_id",
    )
    p = modality.synthetic_audio_payload(docs).select("doc_id", "data")
    p = p.withColumn("format", modality.sniff_format(F.col("data")))
    d, f = F.col("data"), F.col("format")
    return p.select(
        "doc_id",
        "format",
        modality.audio_channels(d, f).alias("channels"),
        modality.audio_sample_rate(d, f).alias("sample_rate"),
        modality.audio_byte_rate(d, f).alias("byte_rate"),
        modality.audio_duration_ms(d, f).alias("duration_ms"),
    )


# Modality-conditional byte views (the multimodal DataSelector, C3):
# images materialize only their dimension header bytes, audio only the
# sample-rate field, everything else its first 8 payload bytes.
@query(
    "modality_views",
    """
    WITH t AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                             WHEN 2 THEN 'gif' ELSE 'unknown' END AS format,
             (n_chars % 512 + 16) AS w,
             ((doc_id * 7) % 512 + 16) AS h,
             ([8000, 16000, 44100])[CAST(doc_id % 3 AS INTEGER) + 1] AS rate,
             text
      FROM documents
    )
    SELECT doc_id, format,
           CASE format
             WHEN 'png' THEN lower(lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0'))
             WHEN 'gif' THEN lower(
               lpad(to_hex(w % 256), 2, '0') || lpad(to_hex(w // 256), 2, '0') ||
               lpad(to_hex(h % 256), 2, '0') || lpad(to_hex(h // 256), 2, '0'))
             WHEN 'wav' THEN lower(
               lpad(to_hex(rate % 256), 2, '0') ||
               lpad(to_hex((rate // 256) % 256), 2, '0') ||
               lpad(to_hex((rate // 65536) % 256), 2, '0') ||
               lpad(to_hex((rate // 16777216) % 256), 2, '0'))
             ELSE lower(substr(to_hex(encode(text)), 1, 16))
           END AS view_hex
    FROM t
    """,
)
def q_modality_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.functions.views import DataDescriptor
    from mofka_spark.operators import modality

    docs = _t(spark, sf_dir, "documents")
    payloads = modality.synthetic_payload(docs).select("doc_id", "data")
    fmt = modality.sniff_format(F.col("data"))
    ident = DataDescriptor.identity(1 << 30)
    views = {
        "png": ident.make_sub_view(16, 8),   # width+height (BE)
        "gif": ident.make_sub_view(6, 4),    # width+height (LE)
        "wav": ident.make_sub_view(24, 4),   # sample rate (LE)
    }
    selected = modality.select_by_modality(
        # default view skips the raw branch's 8-byte RAWTEXT\0 prefix:
        # first 8 TEXT bytes, matching the oracle's substr(text) form
        F.col("data"), fmt, views, default=ident.make_sub_view(8, 8)
    )
    return payloads.select(
        "doc_id",
        fmt.alias("format"),
        F.lower(F.hex(selected)).alias("view_hex"),
    )


# Per-domain quota (RefinedWeb-style curation): at most 15 docs per
# source, selected by deterministic md5 hash rank so the oracle picks
# the identical rows. Exercises operators/sampling.group_cap.
@query(
    "domain_cap",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                        % 1000000, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 15
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import group_cap

    docs = _t(spark, sf_dir, "documents")
    return group_cap(docs, "doc_id", "source", cap=15).select("doc_id", "source")


# Heavy hitters with an exactness certificate: top-20 tokens via the
# local-top-m -> candidate -> exact-recount pipeline (no full-vocab
# shuffle). The oracle computes the plain exact top-20; `guaranteed`
# must come back TRUE, making the certificate itself oracle-checked.
@query(
    "heavy_hitter_tokens",
    r"""
    WITH toks AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS item
      FROM documents
    )
    SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item) AS rnk,
           TRUE AS guaranteed
    FROM toks GROUP BY item
    ORDER BY cnt DESC, item LIMIT 20
    """,
)
def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.dedup import normalize_text
    from mofka_spark.operators.sketch import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("item")
    )
    return heavy_hitters(toks, k=20, m_per_partition=512)


# Inverted index: token -> (df, sorted postings) with df-bound pruning —
# the build side of a retrieval system (bm25_scores is the probe side).
@query(
    "inverted_index",
    r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t.token
      FROM documents,
           UNNEST(string_split(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t(token)
      WHERE text IS NOT NULL AND t.token <> ''
    ), bounds AS (
      SELECT COUNT(*) AS n FROM documents WHERE text IS NOT NULL
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM toks GROUP BY token
    HAVING COUNT(*) >= 2
       AND COUNT(*) <= (SELECT CAST(FLOOR(0.95 * n) AS BIGINT) FROM bounds)
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    idx = text.inverted_index(docs, min_df=2, max_df_ratio=0.95)
    # The driver's canonicalizer sorts result cells with pandas, which
    # cannot hash list cells — ship postings as a comma-joined string
    # (the operator itself keeps the typed array for programmatic use).
    return idx.select(
        "token",
        "df",
        F.concat_ws(",", F.col("postings").cast("array<string>")).alias("postings"),
    )


# Segment-level exact dedup (RefinedWeb-style corpus rewrite): keep each
# distinct 8-word segment's first occurrence, rebuild documents.
@query(
    "segment_dedup",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), segs AS (
      SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
             array_to_string(w[CAST(i*8+1 AS BIGINT) : CAST(i*8+8 AS BIGINT)], ' ') AS seg
      FROM base, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)
    ), ranked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    ), kept AS (
      SELECT doc_id,
             array_to_string(list(seg ORDER BY seg_idx), ' ') AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS kept_segments
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ), totals AS (
      SELECT d.doc_id,
             CASE WHEN d.text IS NOT NULL THEN
               CAST(ceil(len(string_split(
                 regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'), ' '))/8.0)
                 AS BIGINT)
             ELSE 0 END AS total_segments
      FROM documents d
    )
    SELECT t.doc_id, COALESCE(k.clean_text, '') AS clean_text,
           COALESCE(k.kept_segments, 0) AS kept_segments, t.total_segments
    FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.segment_dedup(docs, seg_words=8)


# TPC-H Q6 shape: forecast revenue change — a single scan with a fully
# pushed-down range predicate and one global agg (no shuffle beyond the
# final reduce). The classic pushdown/pruning probe.
@query(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# TPC-H Q10 shape: returned-item losses per customer, top 20 — the
# 3-way join + agg + deterministic top-k pattern.
@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# TPC-H Q14 shape: promo revenue share — conditional aggregation over a
# broadcast dim join, output one scalar row.
@query(
    "q14_promo_share",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'ECONOMY'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '1996-06-01'
      AND l.l_shipdate < DATE '1996-07-01'
    """,
)
def q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("date"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


# Data-quality audit: referential-integrity violation counts across the
# warehouse tables (orphan FK rows caught by broadcast anti-joins — at
# 100 TB each check is one scan + broadcast of the parent key set or an
# SMJ anti when the parent is large; counts only, output O(#checks)).
@query(
    "fk_violations",
    """
    SELECT 'orders_without_customer' AS check_name,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
             AS n_bad
    UNION ALL
    SELECT 'lineitem_without_order',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer_without_nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    ORDER BY check_name
    """,
)
def q_fk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")

    def orphan_count(child, fk, parent, pk, name):
        n = (
            child.join(
                F.broadcast(parent.select(F.col(pk).alias(fk)).distinct()),
                fk,
                "left_anti",
            )
            .count()
        )
        return (name, n)

    rows = [
        orphan_count(orders, "o_custkey", cust, "c_custkey", "orders_without_customer"),
        orphan_count(li, "l_orderkey", orders, "o_orderkey", "lineitem_without_order"),
        orphan_count(cust, "c_nationkey", nation, "n_nationkey", "customer_without_nation"),
    ]
    return spark.createDataFrame(
        sorted(rows), "check_name string, n_bad long"
    )


# Fixed-width value histograms per event type (width_bucket semantics on
# both engines; the per-type bounds come from one tiny agg broadcast
# back, the bucketing itself is a pure projection + one shuffle on
# (type, bucket)).
@query(
    "value_histogram",
    """
    WITH bounds AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(LEAST(FLOOR((e.value - b.lo) / ((b.hi - b.lo) / 10)), 9)
                AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 10
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .withColumn(
            "bucket",
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width), F.lit(9)
            ).cast("int"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("event_type", "bucket")
    )


# Tukey-fence outliers per event type (robust stats: exact quartiles,
# k=1.5 IQR fences). Spark exact percentile and DuckDB percentile_cont
# both linear-interpolate, so the fences match bit-for-bit.
@query(
    "value_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS q1,
             percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           (e.value < q1 - 1.5*(q3-q1) OR e.value > q3 + 1.5*(q3-q1))
             AS is_outlier,
           ROUND(q1 - 1.5*(q3-q1), 6) AS fence_lo,
           ROUND(q3 + 1.5*(q3-q1), 6) AS fence_hi
    FROM events e JOIN stats USING (event_type)
    """,
)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sketch import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(
        ev.select("event_id", "event_type", "value"), ["event_type"], "value"
    ).select("event_id", "event_type", "is_outlier", "fence_lo", "fence_hi")


# Snapshot diff (corpus versioning): keyed delta between two cuts of
# the event log — the audit step between two corpus versions.
@query(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT event_id, value FROM events WHERE event_id < 6000
    ), new AS (
      SELECT event_id,
             CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
      FROM events WHERE event_id >= 2000
    )
    SELECT COALESCE(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                WHEN o.value <> n.value THEN 'changed'
           END AS change
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    WHERE CASE WHEN o.event_id IS NULL THEN 'added'
               WHEN n.event_id IS NULL THEN 'removed'
               WHEN o.value <> n.value THEN 'changed'
          END IS NOT NULL
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.diff import snapshot_diff

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") < 6000).select("event_id", "value")
    new = ev.filter(F.col("event_id") >= 2000).select(
        "event_id",
        F.when(F.col("event_type") == "click", F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return snapshot_diff(old, new, ["event_id"], ["value"])


# Per-doc n-gram novelty vs all earlier docs (dedup-aware mixing
# signal): fraction of the doc's distinct trigrams whose first corpus
# occurrence (min doc_id) is this doc.
@query(
    "novelty_scores",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, greatest(len(t)-2, 1)),
                              i -> array_to_string(t[i:i+2], ' ')))) AS g
      FROM toks
    ), first AS (
      SELECT g, MIN(doc_id) AS first_id FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_id = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN f.first_id = gr.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM grams gr JOIN first f USING (g)
    GROUP BY gr.doc_id
    """,
)
def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.novelty_scores(docs, n=3)


# End-to-end streaming ETL pipeline: topic -> streaming filter/derive ->
# exactly-once sink -> second topic -> batch read. The full data loop a
# reference user runs as producer/consumer callbacks, expressed as one
# Structured Streaming query; the oracle is the equivalent batch filter,
# so the pipeline (source offsets, sink epochs, dense re-ingest) must be
# lossless and duplicate-free to hash-match.
@query(
    "streaming_pipeline",
    """
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           ROUND(value * 2, 4) AS doubled
    FROM events
    WHERE event_id < 2500 AND event_type = 'click' AND value > 50
    """,
)
def q_streaming_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from mofka_spark.client import Driver
    from mofka_spark.streaming.sink import topic_sink

    src = _stream_fixture(spark, sf_dir, "events")
    driver = Driver(spark, tempfile.mkdtemp(prefix="mofka-pipe-"))
    driver.create_topic("pipe-dst", num_partitions=2)
    derived = (
        _events_stream(src, 2500)
        .filter((F.col("event_type") == "click") & (F.col("value") > 50))
        .select(
            F.to_json(
                F.struct(
                    "event_id",
                    "user_id",
                    F.round(F.col("value") * 2, 4).alias("doubled"),
                )
            ).alias("metadata")
        )
    )
    drain(
        spark,
        derived.writeStream.foreachBatch(
            topic_sink(driver, "pipe-dst", data_col=None, sink_id="pipe")
        ),
    )
    out = driver.open_topic("pipe-dst").dataframe()
    m = F.from_json("metadata", "event_id long, user_id long, doubled double")
    return out.select(m.alias("m")).select(
        F.col("m.event_id").alias("event_id"),
        F.col("m.user_id").alias("user_id"),
        F.col("m.doubled").alias("doubled"),
    )


# Custom stateful streaming operator (applyInPandasWithState):
# per-user inactivity-gap sessionization with arbitrary Python state.
# Determinism for the gate: a per-user sentinel event 2h past the
# global max timestamp flushes every real session data-driven (the
# sentinel's own 1-event session stays in state, filtered by start
# bound), so emitted sessions == the batch sessionization exactly.
@query(
    "stateful_sessions",
    """
    WITH base AS (
      SELECT user_id, ts FROM events WHERE event_id < 2500
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from mofka_spark.streaming.stateful import sessionize_stream

    # < 2500 bounds the e2e harness (Python state over ~2k user keys);
    # the operator under test is unchanged. The shared fixture's
    # sentinel rows (event_type '__sentinel__', ts 2h past the whole
    # fixture's max) flush every real session data-driven; a sentinel's
    # own 1-event session stays in state and the start-bound filter
    # drops anything at/after the sentinel horizon.
    topic = _stream_fixture(spark, sf_dir, "events")
    gmax = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2500)
        .agg(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    parsed = (
        topic.read_stream()
        .select(F.from_json("metadata", _EVENTS_STREAM_SCHEMA).alias("m"))
        .filter(
            (F.col("m.event_id") < 2500)
            | (F.col("m.event_type") == "__sentinel__")
        )
        .select(
            F.col("m.user_id").alias("user_id"),
            F.timestamp_micros(F.col("m.ts_us")).alias("ts"),
        )
    )
    sessions = sessionize_stream(parsed, gap_sec=1800, watermark_delay="1 minute")
    name = "stateful_" + uuid.uuid4().hex[:8]
    drain(spark, sessions.writeStream.format("memory").queryName(name))
    return spark.table(name).filter(F.col("session_start") <= F.lit(gmax))


# Stream-stream interval join: clicks and purchases flow as TWO live
# topic streams; each purchase joins clicks by the same user within the
# preceding hour. Both sides carry watermarks so the join state is
# bounded (Spark drops a side's rows once its watermark passes the
# range bound) — the streaming capability the reference's
# consumer-callback model cannot express at all. Oracle: the batch
# interval join (inner stream-stream joins emit exactly the matches).
@query(
    "streaming_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(c.user_id AS BIGINT) AS user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND c.event_id < 2500 AND p.event_id < 2500
    """,
)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    # < 2500 bounds the two-source harness; join semantics unchanged
    topic = _stream_fixture(spark, sf_dir, "events")

    def side(event_type: str, prefix: str) -> DataFrame:
        # each side is its OWN source instance (self-joins need two
        # reader states); column names are disambiguated up front
        return (
            _events_stream(topic, 2500)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    name = "sjoin_" + uuid.uuid4().hex[:8]
    drain(spark, joined.writeStream.format("memory").queryName(name))
    return spark.table(name).select(
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("c_user").alias("user_id"),
    )


# Salted skew join: result-identical to the plain equi-join (the oracle
# is the plain join); the salting plan shape is pinned in
# tests/test_plans.py (exchange keys include the salt, no hot-key
# single-reducer bucket).
@query(
    "salted_join_skew",
    """
    SELECT e.event_id, e.event_type,
           ROUND(e.value - s.type_avg, 4) AS delta
    FROM events e
    JOIN (
      SELECT event_type, AVG(value) AS type_avg
      FROM events GROUP BY event_type
    ) s USING (event_type)
    """,
)
def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    joined = joins.salted_join(
        ev.select("event_id", "event_type", "value"),
        dim,
        on="event_type",
        salt_by="event_id",
        nsalts=8,
    )
    return joined.select(
        "event_id",
        "event_type",
        F.round(F.col("value") - F.col("type_avg"), 4).alias("delta"),
    )


# ===========================================================================
# TPC-H breadth: the remaining classic shapes expressible on the reduced
# star schema (no partsupp / commitdate / shipmode columns in the
# testdata — predicates adapt, the plan shapes are the real thing:
# nation self-join pairs, market-share ratio-of-conditional-sums,
# correlated-scalar subqueries decorrelated into per-key aggregates,
# group-HAVING semi joins, EXISTS/NOT-EXISTS rewritten as semi/anti).
# Every dim side is explicitly broadcast; fact-fact correlations shuffle
# once on the correlation key — the plans hold at 100 TB because the
# per-key aggregate frames stay O(#distinct keys), never O(rows).
# ===========================================================================


@query(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume),2) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice*(1-l_discount) AS volume
          FROM supplier JOIN lineitem ON s_suppkey=l_suppkey
          JOIN orders ON o_orderkey=l_orderkey
          JOIN customer ON c_custkey=o_custkey
          JOIN nation n1 ON s_nationkey=n1.n_nationkey
          JOIN nation n2 ON c_nationkey=n2.n_nationkey
          WHERE ((n1.n_name='NATION_1' AND n2.n_name='NATION_2')
              OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31') v
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue flow between a nation pair by
    year. The nation table joins TWICE under different roles — broadcast
    both; the disjunctive pair filter lands AFTER both nation joins
    (Catalyst can't split it), but both nation joins are broadcasts so
    no shuffle is wasted; the shipdate range prunes the fact scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 23:59:59")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation='NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice*(1-l_discount) AS volume,
                 n2.n_name AS nation
          FROM part JOIN lineitem ON p_partkey=l_partkey
          JOIN supplier ON s_suppkey=l_suppkey
          JOIN orders ON l_orderkey=o_orderkey
          JOIN customer ON o_custkey=c_custkey
          JOIN nation n1 ON c_nationkey=n1.n_nationkey
          JOIN region ON n1.n_regionkey=r_regionkey
          JOIN nation n2 ON s_nationkey=n2.n_nationkey
          WHERE r_name='ASIA' AND p_type='PROMO') v
    GROUP BY o_year
    """,
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: one nation's revenue fraction
    inside a region/part-type market, per year. The ratio is a single
    conditional-sum over one aggregation — NOT two aggregations joined;
    the p_type filter broadcasts into a semi-ish part join that prunes
    the fact early."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, o_year, ROUND(SUM(amount),2) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice*(1-l_discount)
                   - 0.1*p_retailprice*l_quantity AS amount
          FROM part JOIN lineitem ON p_partkey=l_partkey
          JOIN supplier ON s_suppkey=l_suppkey
          JOIN orders ON o_orderkey=l_orderkey
          JOIN nation ON s_nationkey=n_nationkey
          WHERE p_name LIKE '%gear%') v
    GROUP BY nation, o_year
    """,
)
def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (supply cost proxied as
    0.1*p_retailprice per unit — the testdata has no partsupp). The
    LIKE filter prunes part BEFORE the broadcast, so the fact join
    discards non-matching lineitems map-side."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


@query(
    "q12_ship_priority",
    """
    SELECT CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) > 90
                THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey=l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY ship_class
    """,
)
def q_q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode proxied by ship-delay class: >90 days
    after order date = LATE). Conditional-sum pivot over one
    orders⋈lineitem shuffle; the shipdate range is the pushed scan
    predicate."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, "LATE"
            ).otherwise("ONTIME"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey=o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) v
    GROUP BY c_count
    """,
)
def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT join keeps
    zero-order customers; the filter lives in the JOIN CONDITION (not a
    WHERE — that would turn the left join inner). Two aggregations: the
    first shuffles on custkey, the second on the tiny count domain."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q15_top_supplier",
    """
    WITH rev AS (SELECT l_suppkey,
                        ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS total_revenue
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate <  TIMESTAMP '1996-04-01'
                 GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey=l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the revenue view aggregates once
    (O(#suppliers) rows), the MAX scalar joins back as a broadcast
    single-row frame — no second scan of the fact, no window over the
    whole view. Revenue is rounded BEFORE the max comparison so float
    equality is exact on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    rmax = rev.agg(F.max("total_revenue").alias("max_rev"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(rmax), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey=l_partkey
    WHERE p_brand <> 'Brand#45' AND p_size IN (1,4,9,14,19,23,36,45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-part relationships observed from
    lineitem — no partsupp table). COUNT(DISTINCT) expands to a
    two-stage aggregate: dedup on (group, suppkey) with map-side
    partial, then count — Spark plans exactly that from the single
    declarative call."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice)/7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey=l_partkey
    WHERE p_brand='Brand#23' AND p_type='SMALL'
      AND l_quantity < (SELECT 0.2*AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey=p_partkey)
    """,
)
def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: the correlated scalar
    subquery decorrelates into a per-part average computed ONLY over
    parts passing the brand/type filter (semi join first — at 100 TB
    the unfiltered per-part aggregate would be the whole fact table's
    key domain for a 1/1000 part selection)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    matched = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    thresh = matched.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    ).withColumnRenamed("l_partkey", "t_partkey")
    return (
        matched.join(F.broadcast(thresh), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS total_qty
    FROM customer JOIN orders ON c_custkey=o_custkey
    JOIN lineitem ON o_orderkey=l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 240)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume orders: the IN-subquery is a semi join
    against the per-order quantity rollup. The rollup and the outer
    aggregate share the l_orderkey hash partitioning, so AQE plans the
    semi join shuffle-free on the rollup side."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 240)
        .select("l_orderkey")
        .withColumnRenamed("l_orderkey", "big_orderkey")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(big, li.l_orderkey == F.col("big_orderkey"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@query(
    "q21_waiting_supplier",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey=l1.l_suppkey
    JOIN orders ON o_orderkey=l1.l_orderkey
    WHERE o_orderstatus='F'
      AND l1.l_shipdate = (SELECT MAX(l2.l_shipdate) FROM lineitem l2
                           WHERE l2.l_orderkey=l1.l_orderkey)
      AND EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey=l1.l_orderkey
                    AND l3.l_suppkey<>l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no commit/receipt dates — 'the supplier who
    kept the order waiting' = shipped LAST in a multi-supplier order
    with status F). The correlated MAX and the EXISTS both decorrelate
    into ONE per-order aggregate frame (max shipdate + distinct
    supplier count) joined back on the same key — one extra shuffle
    total, not two subquery scans."""
    li = _t(spark, sf_dir, "lineitem")
    ostats = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("nsupp"),
    ).withColumnRenamed("l_orderkey", "o_key")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(ostats, li.l_orderkey == F.col("o_key"))
        .filter((F.col("l_shipdate") == F.col("max_ship")) & (F.col("nsupp") > 1))
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_idle_customers",
    """
    SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal),2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey=c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
)
def q_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (country code proxied as nationkey%5; 'never
    ordered' adapted to 'no order since 2000' — the testdata has no
    order-less customers). The scalar AVG broadcasts as a one-row
    frame; NOT EXISTS is a left_anti join against the date-pruned
    orders projection."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: the last four classic TPC-H shapes expressible on the
# reduced schema (no partsupp table — Q2/Q11/Q20 substitute lineitem's
# (l_partkey, l_suppkey) pairs for it, which preserves the PLAN shape
# the query class exists to exercise).


@query(
    "q19_disjunctive_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction-of-conjunctions join predicate.
    The scale move is factoring the part-only envelope of the OR
    (brand IN the three brands AND size <= the max band) out of the
    row-level disjunction so it pushes into the broadcast-side part
    scan — at 100 TB the join build side shrinks ~90% before the OR
    is ever evaluated, and Catalyst keeps the residual disjunction as
    a post-join filter over already-joined columns."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
        & F.col("p_size").between(1, 15)
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@query(
    "q11_important_share",
    """
    WITH supp_val AS (
      SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS v
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l_suppkey)
    SELECT l_suppkey, ROUND(v, 2) AS value
    FROM supp_val
    WHERE v > (SELECT SUM(v) * 0.04 FROM supp_val)
    """,
)
def q_q11_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a fraction of the
    GLOBAL total (scalar subquery in HAVING). Decorrelation: the
    per-supplier rollup is computed once; the global total is a second
    tiny aggregate OVER THE GROUP SUMS (100 rows, not a second fact
    scan) broadcast back as a one-row frame — the fact table is read
    exactly once."""
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp_val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v")
        )
    )
    total = supp_val.agg((F.sum("v") * 0.04).alias("cutoff"))
    return (
        supp_val.join(F.broadcast(total))
        .filter(F.col("v") > F.col("cutoff"))
        .select("l_suppkey", F.round("v", 2).alias("value"))
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eligible AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
             s.s_name, s.s_acctbal, n.n_name
      FROM cost c
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    best AS (
      SELECT l_partkey, MIN(unit_cost) AS best_cost
      FROM eligible GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_name, e.s_name, e.n_name,
           ROUND(e.s_acctbal, 2) AS s_acctbal,
           ROUND(e.unit_cost, 4) AS unit_cost
    FROM eligible e
    JOIN best b ON b.l_partkey = e.l_partkey
               AND e.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_size BETWEEN 10 AND 14 AND p.p_type = 'STANDARD'
    """,
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest eligible supplier per part (partsupp's
    ps_supplycost proxied by min unit price per (part, supplier) pair
    from lineitem). The correlated MIN decorrelates into a per-part
    aggregate over the REGION-FILTERED pairs only, joined back on
    (partkey, cost) — the min-cost frame and the join-back share the
    l_partkey hash partitioning, and the part filter prunes before the
    join-back ever widens rows. Double equality on the join is exact:
    MIN returns one of the input doubles."""
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    eligible = cost.join(
        F.broadcast(supp), cost.l_suppkey == supp.s_suppkey
    )
    # per-part MIN as a window over the one eligible pass, keeping the
    # rows that achieve it — same rows as the decorrelated
    # aggregate-plus-join-back (MIN returns one of the input doubles,
    # so the equality is exact and every tying row survives either
    # way), but the eligible subtree (lineitem agg + dimension joins)
    # is no longer duplicated under both join inputs, and the
    # agg-shuffle + join-shuffle pair collapses to the window's single
    # l_partkey exchange
    w = Window.partitionBy("l_partkey")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 14) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name")
    return (
        eligible.withColumn("best_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .join(F.broadcast(part), eligible.l_partkey == part.p_partkey)
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.round("unit_cost", 4).alias("unit_cost"),
        )
    )


@query(
    "q20_excess_suppliers",
    """
    SELECT s_name, s_suppkey
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_4')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red %'
          AND l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 120)
    """,
)
def q_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested semi-join chain (suppliers who moved
    an excess quantity of the name-filtered parts in a year). The inner
    IN decorrelates to rollup -> HAVING -> left_semi; the part-name
    prefix filter broadcasts onto the date-pruned fact scan, so the
    only full-width shuffle carries (suppkey, qty) pairs."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red ")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    excess = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 120)
        .select("l_suppkey")
    )
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_4")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == excess.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# Round 5: new LLM-pipeline operators — TF-IDF cosine retrieval,
# content-defined chunking dedup, weighted sampling, curriculum rank
# bins, per-group z-score normalization.


@query(
    "tfidf_retrieval",
    r"""
    WITH spread AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    toks AS (
      SELECT doc_id AS id,
             unnest(string_split(regexp_replace(lower(trim(text)),
                                                '\s+', ' ', 'g'), ' ')) AS token
      FROM spread),
    tf AS (
      SELECT id, token, COUNT(*)::DOUBLE AS tf
      FROM toks WHERE token <> '' GROUP BY id, token),
    nd AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM spread),
    dfreq AS (SELECT token, COUNT(*)::DOUBLE AS df FROM tf GROUP BY token),
    idf AS (
      SELECT token,
             ln((1.0 + (SELECT n_docs FROM nd)) / (1.0 + df)) + 1.0 AS idf
      FROM dfreq),
    w AS (
      SELECT tf.id, tf.token, tf.tf * idf.idf AS w
      FROM tf JOIN idf ON tf.token = idf.token),
    norms AS (
      SELECT id,
             sqrt(list_sum(list_transform(list(w ORDER BY token),
                                          x -> x * x))) AS doc_norm
      FROM w GROUP BY id),
    qidf AS (SELECT token, idf FROM idf
             WHERE token IN ('spark', 'window', 'filter')),
    qn AS (SELECT sqrt(SUM(idf * idf)) AS q_norm FROM qidf),
    mat AS (
      SELECT w.id,
             SUM(CASE WHEN w.token = 'spark' THEN w.w * q.idf END) AS c0,
             SUM(CASE WHEN w.token = 'window' THEN w.w * q.idf END) AS c1,
             SUM(CASE WHEN w.token = 'filter' THEN w.w * q.idf END) AS c2
      FROM w JOIN qidf q ON w.token = q.token GROUP BY w.id)
    SELECT m.id,
           (CAST(c0 IS NOT NULL AS BIGINT) + CAST(c1 IS NOT NULL AS BIGINT)
            + CAST(c2 IS NOT NULL AS BIGINT)) AS n_terms,
           ROUND((COALESCE(c0, 0) + COALESCE(c1, 0) + COALESCE(c2, 0))
                 / (n.doc_norm * (SELECT q_norm FROM qn)), 6) AS tfidf
    FROM mat m JOIN norms n ON n.id = m.id
    """,
)
def q_tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.tfidf_scores(docs, ["spark", "window", "filter"])


@query(
    "cdc_chunk_dedup",
    r"""
    WITH spread AS (
      SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
    tk AS (
      SELECT doc_id, source,
             string_split(regexp_replace(lower(trim(text)),
                                         '\s+', ' ', 'g'), ' ') AS t
      FROM spread),
    cuts AS (
      SELECT doc_id, source, t,
             list_filter(generate_series(1, len(t)),
               i -> i = len(t) OR (i < len(t) AND i >= 3 AND
                    ('0x' || substr(md5(array_to_string(t[i-2:i], ' ')),
                                    1, 15))::BIGINT % 8 = 0)) AS c
      FROM tk),
    chunks AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(c)),
               j -> md5(array_to_string(
                      t[CASE WHEN j = 1 THEN 1 ELSE c[j-1] + 1 END : c[j]],
                      ' ')))) AS chunk_hash
      FROM cuts),
    owners AS (
      SELECT chunk_hash, COUNT(DISTINCT source) AS n_groups
      FROM chunks GROUP BY chunk_hash)
    SELECT c.source,
           COUNT(*)::BIGINT AS n_chunks,
           COUNT(DISTINCT c.chunk_hash)::BIGINT AS n_distinct,
           ROUND(SUM(CAST(o.n_groups > 1 AS BIGINT)) / COUNT(*), 6)
             AS shared_ratio
    FROM chunks c JOIN owners o ON o.chunk_hash = c.chunk_hash
    GROUP BY c.source
    """,
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.cdc_dedup_stats(docs, "source", w=3, divisor=8)


@query(
    "weighted_sample",
    """
    WITH sc AS (
      SELECT lang, doc_id,
             -ln(((('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
                   % 1000000) + 1) / 1000000.0)
               / GREATEST(CAST(n_chars AS DOUBLE), 1e-12) AS race
      FROM documents),
    r AS (
      SELECT lang, doc_id, race,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY race ASC, doc_id ASC) AS rn
      FROM sc)
    SELECT lang, doc_id, ROUND(race, 9) AS race_key
    FROM r WHERE rn <= 5
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_sample(
        docs, "doc_id", "n_chars", "lang", k=5
    )


@query(
    "curriculum_bins",
    """
    WITH b AS (
      SELECT lang, doc_id, n_chars,
             ((10 * ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY n_chars ASC, doc_id ASC)
               - 10) // COUNT(*) OVER (PARTITION BY lang)) AS bin
      FROM documents)
    SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM b GROUP BY lang, bin
    """,
)
def q_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.rank_bins(docs, "n_chars", "lang", "doc_id", n_bins=10)
        .groupBy("lang", "bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "value_zscores",
    """
    WITH stats AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           e.value,
           0.0 + ROUND(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0
                      ELSE (e.value - mu) / sd END, 6) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE e.event_id < 2000
    """,
)
def q_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sketch

    ev = _t(spark, sf_dir, "events")
    out = sketch.group_zscores(
        ev, "value", "event_type", keep_cols=["event_id"]
    )
    return out.filter(F.col("event_id") < 2000).select(
        "event_id", "event_type", "value", "z"
    )


@query(
    "join_skew_report",
    """
    WITH counts AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_rows
      FROM events GROUP BY event_type),
    stats AS (
      SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM counts),
    top AS (
      SELECT event_type, n_rows FROM counts
      ORDER BY n_rows DESC, event_type ASC LIMIT 20)
    SELECT t.event_type, t.n_rows,
           ROUND(t.n_rows / s.total, 6) AS share,
           ROUND(t.n_rows * s.n_keys / s.total, 4) AS straggler_factor
    FROM top t, stats s
    """,
)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-planning diagnostic over the events stream: is
    event_type skewed enough to need salted_join? (operators/joins.py
    skew_report)."""
    ev = _t(spark, sf_dir, "events")
    return joins.skew_report(ev, "event_type", top_k=20)


@query(
    "funnel_conversion",
    """
    WITH s0 AS (
      SELECT user_id AS u, MIN(ts) AS ts0 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s1 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS ts1
      FROM events e JOIN s0 ON s0.u = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s0.ts0
      GROUP BY e.user_id),
    s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS ts2
      FROM events e JOIN s1 ON s1.u = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.ts1
      GROUP BY e.user_id),
    counts AS (
      SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
             COUNT(*)::BIGINT AS n_users FROM s0
      UNION ALL
      SELECT 1, 'click', COUNT(*)::BIGINT FROM s1
      UNION ALL
      SELECT 2, 'purchase', COUNT(*)::BIGINT FROM s2)
    SELECT step_idx, step, n_users,
           ROUND(n_users / (SELECT n_users FROM counts WHERE step_idx = 0), 6)
             AS conversion
    FROM counts
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel over the events stream (operators/events.py
    funnel_conversion): view -> click -> purchase, each stage gated on
    an event strictly after the user's previous-stage completion."""
    from mofka_spark.operators import events as ev_ops

    ev = _t(spark, sf_dir, "events")
    return ev_ops.funnel_conversion(ev, ["view", "click", "purchase"])


@query(
    "cohort_retention",
    """
    WITH ev AS (
      SELECT user_id AS u, epoch(ts)::BIGINT // 604800 AS p FROM events),
    first AS (SELECT u, MIN(p) AS cohort FROM ev GROUP BY u),
    active AS (
      SELECT DISTINCT e.u, f.cohort, e.p - f.cohort AS "offset"
      FROM ev e JOIN first f ON f.u = e.u
      WHERE e.p - f.cohort < 12),
    mat AS (
      SELECT cohort, "offset", COUNT(DISTINCT u)::BIGINT AS n_active
      FROM active GROUP BY cohort, "offset"),
    size AS (SELECT cohort, n_active AS sz FROM mat WHERE "offset" = 0)
    SELECT m.cohort, m."offset", m.n_active,
           ROUND(m.n_active / s.sz, 6) AS retention
    FROM mat m JOIN size s ON s.cohort = m.cohort
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/events.py
    cohort_retention): integer epoch-week arithmetic, no calendar
    semantics to diverge across engines."""
    from mofka_spark.operators import events as ev_ops

    ev = _t(spark, sf_dir, "events")
    return ev_ops.cohort_retention(ev, period_seconds=604800, max_periods=12)


_FUZZY_PROBES = ["red widgett", "blu bolt", "smal gizmo", "hot gearr"]


@query(
    "fuzzy_part_match",
    """
    SELECT v.probe AS left_val, p.p_name AS right_val,
           CAST(levenshtein(v.probe, p.p_name) AS INTEGER) AS dist
    FROM (VALUES ('red widgett'), ('blu bolt'), ('smal gizmo'),
                 ('hot gearr')) v(probe)
    JOIN (SELECT DISTINCT p_name FROM part) p
      ON levenshtein(v.probe, p.p_name) <= 2
    """,
)
def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution (operators/joins.py fuzzy_join_pairs):
    typo'd probe names match catalog part names within Levenshtein 2
    via q-gram blocking — the oracle is the naive cross join, equal by
    the pigeonhole completeness bound."""
    probes = spark.createDataFrame(
        [(p,) for p in _FUZZY_PROBES], ["probe"]
    )
    part = _t(spark, sf_dir, "part")
    return joins.fuzzy_join_pairs(
        probes, part, "probe", "p_name", max_dist=2, q=2
    ).select(
        "left_val", "right_val", F.col("dist").cast("int").alias("dist")
    )


# Incrementally-maintained inverted index (streaming/textindex.py):
# documents stream through a topic; each epoch appends its distinct
# (token, doc) presence pairs; read_index merges with the SAME df-bound
# pruning as the batch operator. Oracle: the batch inverted_index SQL
# over the fixture slice — the incremental maintenance must be
# invisible in the final index.
@query(
    "streaming_inverted_index",
    r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t.token
      FROM documents,
           UNNEST(string_split(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t(token)
      WHERE text IS NOT NULL AND t.token <> '' AND doc_id < 1000
    ), bounds AS (
      SELECT COUNT(*) AS n FROM documents
      WHERE text IS NOT NULL AND doc_id < 1000
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM toks GROUP BY token
    HAVING COUNT(*) >= 2
       AND COUNT(*) <= (SELECT CAST(FLOOR(0.95 * n) AS BIGINT) FROM bounds)
    """,
)
def q_streaming_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.textindex import index_sink, read_index

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    parsed = topic.read_stream(files_per_trigger=1).select(
        F.get_json_object("metadata", "$.doc_id").cast("long").alias("id"),
        F.get_json_object("metadata", "$.text").alias("text"),
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-textidx-"), "store")
    drain(spark, parsed.writeStream.foreachBatch(index_sink(store)))
    idx = read_index(spark, store, min_df=2, max_df_ratio=0.95)
    return idx.select(
        "token",
        "df",
        F.concat_ws(",", F.col("postings").cast("array<string>")).alias(
            "postings"
        ),
    )


# BM25 scoring straight off the incremental text-index store — no text
# rescan at query time. Oracle: the batch bm25 oracle restricted to the
# fixture slice; the store-derived tf/dl/df/N must reproduce the batch
# operator's doubles exactly.
@query(
    "streaming_bm25",
    _bm25_oracle(["hash", "merge", "window"], where="AND doc_id < 1000"),
)
def q_streaming_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.textindex import index_sink, read_bm25

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1 => exactly two epochs on the native
    # source (one published log file per partition); final answer
    # epoch-split-invariant, oracle-verified.
    parsed = topic.read_stream(files_per_trigger=1).select(
        F.get_json_object("metadata", "$.doc_id").cast("long").alias("id"),
        F.get_json_object("metadata", "$.text").alias("text"),
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-bm25idx-"), "store")
    drain(spark, parsed.writeStream.foreachBatch(index_sink(store)))
    return read_bm25(spark, store, ["hash", "merge", "window"])


# Declarative single-pass constraint audit (operators/quality.py): all
# rules evaluate in ONE aggregate over one scan; the oracle computes
# each rule independently and unions.
@query(
    "constraint_audit",
    """
    SELECT 'not_null(o_custkey)' AS rule,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS violations FROM orders
    UNION ALL
    SELECT 'in_range(o_totalprice,0,1000000)',
           SUM(CASE WHEN o_totalprice IS NOT NULL
                     AND o_totalprice NOT BETWEEN 0 AND 1000000
                    THEN 1 ELSE 0 END)::BIGINT FROM orders
    UNION ALL
    SELECT 'is_in(o_orderstatus)',
           SUM(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END)::BIGINT FROM orders
    UNION ALL
    SELECT 'matches(o_orderpriority)',
           SUM(CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_full_match(o_orderpriority, '[0-9]-[A-Z]+')
                    THEN 1 ELSE 0 END)::BIGINT FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           (COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey))::BIGINT
    FROM orders
    """,
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import quality

    orders = _t(spark, sf_dir, "orders")
    return quality.audit(
        orders,
        [
            quality.not_null("o_custkey"),
            quality.in_range("o_totalprice", 0, 1000000),
            quality.is_in("o_orderstatus", ["F", "O", "P"]),
            quality.matches("o_orderpriority", "[0-9]-[A-Z]+"),
            quality.unique("o_orderkey"),
        ],
    )


# Time-decayed average per user (operators/events.py
# time_decayed_average): weights from integer-microsecond deltas so
# both engines raise 0.5 to identical exponents.
@query(
    "user_value_ewma",
    """
    WITH anchor AS (
      SELECT user_id, MAX(ts) AS t_last FROM events GROUP BY user_id),
    w AS (
      SELECT e.user_id, e.value,
             POWER(0.5, (epoch_us(a.t_last) - epoch_us(e.ts))::DOUBLE
                        / 86400000000.0) AS wt
      FROM events e JOIN anchor a ON a.user_id = e.user_id)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           0.0 + ROUND(SUM(value * wt) / SUM(wt), 6) AS ewma
    FROM w GROUP BY user_id
    """,
)
def q_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import events as ev_ops

    ev = _t(spark, sf_dir, "events")
    return ev_ops.time_decayed_average(ev, halflife_seconds=86400.0)


# Embedding-space diagnostics (operators/similarity.py
# embedding_dim_stats): per-dimension moments + collapsed-dimension
# detection over the vector corpus.
@query(
    "embedding_dim_stats",
    """
    WITH vals AS (
      SELECT t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
      WHERE embedding IS NOT NULL)
    SELECT CAST(dim AS BIGINT) AS dim,
           ROUND(AVG(v), 6) AS mean,
           ROUND(STDDEV_SAMP(v), 6) AS std,
           ROUND(MIN(v), 6) AS min_val,
           ROUND(MAX(v), 6) AS max_val,
           (COALESCE(ROUND(STDDEV_SAMP(v), 6), 0) < 0.000001)
             AS collapsed
    FROM vals GROUP BY dim
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dim_stats(emb)


# Streaming constraint monitor (streaming/monitor.py): the audit's
# distributive rules maintained per micro-batch; the running totals
# must equal the batch audit over every ingested row.
@query(
    "streaming_audit",
    """
    SELECT 'not_null(user_id)' AS rule,
           SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS violations
    FROM events WHERE event_id < 5000
    UNION ALL
    SELECT 'in_range(value,0,100)',
           SUM(CASE WHEN value IS NOT NULL
                     AND value NOT BETWEEN 0 AND 100
                    THEN 1 ELSE 0 END)::BIGINT
    FROM events WHERE event_id < 5000
    UNION ALL
    SELECT 'is_in(event_type)',
           SUM(CASE WHEN event_type IS NOT NULL
                     AND event_type NOT IN ('click', 'view', 'purchase')
                    THEN 1 ELSE 0 END)::BIGINT
    FROM events WHERE event_id < 5000
    """,
)
def q_streaming_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators import quality
    from mofka_spark.streaming.monitor import audit_sink, read_audit

    rules = [
        quality.not_null("user_id"),
        quality.in_range("value", 0, 100),
        quality.is_in("event_type", ["click", "view", "purchase"]),
    ]
    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select(
        "user_id", "value", "event_type"
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-monitor-"), "store")
    drain(spark, parsed.writeStream.foreachBatch(audit_sink(store, rules)))
    return read_audit(spark, store, rules)


# Multi-dimensional layout clustering (operators/layout.py
# optimize_layout with equi-depth Z-order): rewrite events clustered
# on (user_id, value), then answer a two-dimensional range query off
# the rewritten table. The oracle answers the same query off the RAW
# table (a layout change must be invisible to answers) and expects
# TRUE for two footer-measured skipping certificates — row-group
# pruning on EACH dimension must exceed its floor, which is the whole
# point of the layout at 100 TB (the lsh_recall assert-as-boolean
# discipline).
@query(
    "zorder_pruning",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           0.0 + ROUND(SUM(value), 2) AS sum_value,
           TRUE AS user_pruned, TRUE AS value_pruned
    FROM events
    WHERE user_id <= (SELECT CAST(FLOOR(MAX(user_id) / 10) AS BIGINT)
                      FROM events)
      AND value BETWEEN 50.0 AND 99.0
    GROUP BY event_type
    """,
)
def q_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators.layout import optimize_layout, pruning_ratio

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    umax = ev.agg(F.max("user_id")).collect()[0][0]  # bounded scalar
    uhi = umax // 10
    zpath = os.path.join(tempfile.mkdtemp(prefix="mofka-zorder-"), "z")
    optimize_layout(
        ev, zpath, ["user_id", "value"], num_files=16, zorder=True,
        zorder_bits=12,
    )
    up = pruning_ratio(zpath, "user_id", 0, uhi)
    vp = pruning_ratio(zpath, "value", 50.0, 99.0)
    back = spark.read.parquet(zpath)
    return (
        back.filter(
            (F.col("user_id") <= uhi) & F.col("value").between(50.0, 99.0)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("sum_value"),
        )
        .withColumn("user_pruned", F.lit(bool(up > 0.4)))
        .withColumn("value_pruned", F.lit(bool(vp > 0.3)))
    )


# CUBE grouping sets (completes §2.7's grouping-set row next to the
# ROLLUP gate): all four aggregation levels in one pass.
@query(
    "orders_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# Hopping (sliding) windows: 2-hour windows advancing every hour — each
# event lands in TWO windows. The oracle reproduces Spark's window()
# semantics as a union of the two hop alignments.
@query(
    "hopping_event_stats",
    """
    WITH both_hops AS (
      SELECT date_trunc('hour', ts) AS w_start, event_type, value
      FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
      FROM events)
    SELECT w_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM both_hops
    GROUP BY w_start, event_type
    """,
)
def q_hopping_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate via window(ts, '2 hours', '1 hour') —
    the same plan a watermarked streaming query uses; each event
    replicates into windowLength/slide = 2 window rows before the
    (w_start, type)-keyed partial agg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n", "sum_value"
        )
    )


def _pagerank_steps(iters: int, d: float) -> str:
    """The unrolled r_{k+1} = (1-d)/N + d * sum(in r_k/deg) CTE chain —
    shared by every pagerank oracle; the caller supplies the graph
    prelude (CTEs sym/ids/nn/deg/r0). Float literals and op order
    mirror operators/graph.pagerank exactly."""
    steps = ""
    for k in range(1, iters + 1):
        steps += f"""
    , r{k} AS (
      SELECT i.id,
             (1 - {d})/(SELECT n FROM nn)
               + {d} * COALESCE(infl.s, 0) AS r
      FROM ids i LEFT JOIN (
        SELECT s.dst AS id, SUM(p.r / dg.deg) AS s
        FROM sym s
        JOIN r{k-1} p ON p.id = s.src
        JOIN deg dg ON dg.src = s.src
        GROUP BY s.dst) infl ON infl.id = i.id
    )"""
    return steps


def _pagerank_oracle(iters: int = 5, d: float = 0.85) -> str:
    """Unrolled power-iteration PageRank over the exact Jaccard-pair
    graph (see _pagerank_steps)."""
    steps = _pagerank_steps(iters, d)
    return (
        _ORACLE_TOKS
        + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                  greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                           1), 6) >= 0.8
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), ids AS (SELECT doc_id AS id FROM documents),
    nn AS (SELECT COUNT(*)::DOUBLE AS n FROM ids),
    deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS r FROM ids)"""
        + steps
        + f"""
    SELECT id, ROUND(r, 6) AS rank FROM r{iters}
    """
    )


# Link-analysis centrality over the near-dup similarity graph
# (operators/graph.py pagerank): nodes = all documents, edges = the
# exact-Jaccard pair set (via LSH candidates, completeness as in
# neardup_jaccard_pairs), 5 fixed power iterations. A full-oracle gate
# for an ITERATIVE algorithm: the oracle unrolls the same iterations.
@query("doc_pagerank", _pagerank_oracle(iters=5, d=0.85))
def q_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import graph

    docs = _t(spark, sf_dir, "documents")
    edges = _neardup_fixture(spark, sf_dir, "edges").select("id_a", "id_b")
    return graph.pagerank(
        docs.select(F.col("doc_id").alias("id")), edges, iters=5
    )


# First-order Markov transition matrix over per-user event sequences
# (operators/events.py transition_matrix): one user-keyed lag window,
# tiny (from, to) matrix out.
@query(
    "event_transitions",
    """
    WITH seq AS (
      SELECT event_type AS to_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type
      FROM events)
    SELECT from_type, to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(COUNT(*)::DOUBLE /
                 SUM(COUNT(*)) OVER (PARTITION BY from_type), 6)
             AS probability
    FROM seq WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.events import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev, order_cols=["ts", "event_id"])


# Temperature-based mixture sampling (operators/sampling.py
# temperature_mix): per-lang budgets proportional to n^0.5, selection
# by deterministic hash — the oracle recomputes the identical rates
# with an ordered sqrt-weight fold and the same md5 bucket predicate.
@query(
    "temperature_mix",
    """
    WITH cnt AS (
      SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY lang),
    tot AS (
      SELECT list_aggregate(list(sqrt(n) ORDER BY lang), 'sum') AS s
      FROM cnt),
    rate AS (
      SELECT lang,
             LEAST(1.0, 250 * sqrt(n) / (SELECT s FROM tot) / n) AS r
      FROM cnt)
    SELECT d.lang, d.doc_id, d.source
    FROM documents d JOIN rate USING (lang)
    WHERE ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT
          % 1000000 < CAST(FLOOR(r * 1000000) AS BIGINT)
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    sampled, _rates = temperature_mix(
        docs, "doc_id", "lang", target_rows=250, alpha=0.5, salt="mix"
    )
    return sampled.select("lang", "doc_id", "source")


# Triangle counting / local clustering over the near-dup graph
# (operators/graph.py triangle_count, degree-ordered node-iterator).
# The oracle enumerates triangles with plain id-ordering — counts are
# orientation-invariant, so the two agree exactly.
@query(
    "doc_triangles",
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                  greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                           1), 6) >= 0.8
    ), sym AS (
      SELECT a AS id, b AS nb FROM e UNION ALL SELECT b, a FROM e
    ), deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY id
    ), tri AS (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), per_node AS (
      SELECT x.id, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM (SELECT unnest([u, v, w]) AS id FROM tri) x GROUP BY x.id
    )
    SELECT d.id, d.degree,
           COALESCE(p.triangles, 0) AS triangles,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE ROUND(2.0 * COALESCE(p.triangles, 0) /
                           (d.degree * (d.degree - 1)), 6) END AS clustering
    FROM deg d LEFT JOIN per_node p ON p.id = d.id
    """,
)
def q_doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.graph import triangle_count

    edges = _neardup_fixture(spark, sf_dir, "edges").select("id_a", "id_b")
    return triangle_count(edges)


# Per-source distinctive keywords by Dunning log-likelihood (G2),
# operators/text.py distinctive_terms. Overrepresentation guard is
# exact integer arithmetic; G2 rounds to 6dp BEFORE ranking so
# last-ulp float skew cannot reorder the top-k.
@query(
    "distinctive_terms",
    r"""
    WITH t AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
      FROM t WHERE tok <> '' GROUP BY source, tok
    ), tt AS (
      SELECT tok, CAST(SUM(a) AS BIGINT) AS tot FROM tf GROUP BY tok
    ), gt AS (
      SELECT source, CAST(SUM(a) AS BIGINT) AS c FROM tf GROUP BY source
    ), nn AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM gt
    ), sc AS (
      SELECT tf.source, tf.tok, tf.a,
             ROUND(2.0 * (tf.a * LN(tf.a / (gt.c * tt.tot / nn.n))
                   + CASE WHEN tt.tot - tf.a > 0
                          THEN (tt.tot - tf.a)
                               * LN((tt.tot - tf.a)
                                    / ((nn.n - gt.c) * tt.tot / nn.n))
                          ELSE 0.0 END), 6) AS g2
      FROM tf JOIN tt USING (tok) JOIN gt USING (source) CROSS JOIN nn
      WHERE tf.a * nn.n > tt.tot * gt.c
    ), r AS (
      SELECT source, tok, a, g2,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY g2 DESC, tok ASC) AS BIGINT)
               AS rnk
      FROM sc)
    SELECT source, tok, a AS n_in_group, g2, rnk FROM r WHERE rnk <= 10
    """,
)
def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.distinctive_terms(docs, "source", k=10)


# Near-containment pairs (operators/dedup.py containment_pairs):
# |A∩B| / min(|A|,|B|) catches the doc-inside-doc case Jaccard
# banding structurally misses. Candidates anchor on grams with
# df <= 10 (the scale lever: caps per-gram fan-out at C(10,2); the
# uncapped inverted-gram join measured 39x super-linear at the sf1
# smoke). The oracle mirrors the SAME anchor rule, then both sides
# score the FULL gram sets exactly — the df cap is part of the
# operator's declared semantics, not an unchecked approximation.
@query(
    "containment_pairs",
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), pos AS (
      SELECT doc_id, unnest(gs) AS g FROM grams
    ), dfreq AS (
      SELECT g, COUNT(*) AS c FROM pos GROUP BY g
    ), anchors AS (
      SELECT pos.doc_id, pos.g FROM pos JOIN dfreq USING (g) WHERE c <= 10
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM anchors a JOIN anchors b ON a.g = b.g AND a.doc_id < b.doc_id
    ), scored AS (
      SELECT c.id_a, c.id_b,
             ROUND(len(list_intersect(ga.gs, gb.gs))::DOUBLE /
                   greatest(least(len(ga.gs), len(gb.gs)), 1), 6)
               AS containment
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.id_a
      JOIN grams gb ON gb.doc_id = c.id_b
    )
    SELECT id_a, id_b, containment FROM scored WHERE containment >= 0.2
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, n=3, threshold=0.2, max_df=10)


# Cross-split contamination audit: deterministic 80/10/10 assignment
# (operators/sampling.py split_assign) + the exact near-dup pair set;
# any pair straddling two splits is train/eval leakage the split
# hash cannot see. Composition gate: split_assign x minhash-LSH x
# exact Jaccard verify.
@query(
    "split_leakage",
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                   greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)),
                            1), 6) AS jaccard
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    ), sp AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       % 1000000 < 800000 THEN 'train'
                  WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b,
           p.jaccard
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.id_a
    JOIN sp sb ON sb.doc_id = p.id_b
    WHERE p.jaccard >= 0.8 AND sa.split <> sb.split
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents")
    # prune the corpus-sized split frame to pair members (broadcast
    # semi-join on the tiny member-id set) BEFORE joining — the split
    # column itself is then broadcast-sized, never the corpus
    pairs = _neardup_fixture(spark, sf_dir, "edges")
    members = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sp = (
        split_assign(docs, "doc_id")
        .join(F.broadcast(members), "doc_id", "left_semi")
        .select("doc_id", "split")
    )
    return (
        pairs.join(
            F.broadcast(sp.select(F.col("doc_id").alias("id_a"),
                                  F.col("split").alias("split_a"))),
            "id_a",
        )
        .join(
            F.broadcast(sp.select(F.col("doc_id").alias("id_b"),
                                  F.col("split").alias("split_b"))),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


# Incrementally-maintained heavy hitters (streaming/heavyhitters.py):
# per-epoch space-capped count summaries merge at read time with a
# slack certificate. Gate runs in the exact regime (m >= per-epoch
# vocab, slack 0) so the merged top-k must equal the batch answer —
# the same oracle shape as heavy_hitter_tokens, restricted to the
# fixture slice.
@query(
    "streaming_heavy_hitters",
    r"""
    WITH toks AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS item
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    )
    SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item) AS BIGINT)
             AS rnk,
           TRUE AS guaranteed
    FROM toks GROUP BY item
    ORDER BY cnt DESC, item LIMIT 20
    """,
)
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators.dedup import normalize_text
    from mofka_spark.streaming.heavyhitters import heavyhitter_sink, read_top_k

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    items = topic.read_stream(files_per_trigger=1).select(
        F.explode(
            F.split(
                normalize_text(F.get_json_object("metadata", "$.text")), " "
            )
        ).alias("item")
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-hh-"), "store")
    drain(
        spark,
        items.writeStream.foreachBatch(
            heavyhitter_sink(store, m_per_epoch=200_000)
        ),
    )
    return read_top_k(spark, store, k=20)


def _pca_oracle(iters: int = 4) -> str:
    """Unrolled power-method PCA over the population covariance:
    v0 = 1/sqrt(d), v_{k+1} = C v_k / ||C v_k||, output = per-vector
    centered projection onto v_iters. Mirrors
    operators/similarity.pca_power's arithmetic step for step."""
    steps = ""
    prev = "v0"
    for k in range(1, iters + 1):
        steps += f"""
    , u{k} AS (
      SELECT cv.i AS d, SUM(cv.m * p.v) AS u
      FROM cv JOIN {prev} p ON p.d = cv.j GROUP BY cv.i
    ), v{k} AS (
      SELECT d, u / (SELECT sqrt(SUM(u * u)) FROM u{k}) AS v FROM u{k}
    )"""
        prev = f"v{k}"
    return (
        r"""
    WITH vals AS (
      SELECT vec_id, t.i - 1 AS d, CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
      WHERE embedding IS NOT NULL
    ), mu AS (
      SELECT d, AVG(x) AS m FROM vals GROUP BY d
    ), nn AS (
      SELECT COUNT(*)::DOUBLE AS n FROM embeddings WHERE embedding IS NOT NULL
    ), cv AS (
      SELECT a.d AS i, b.d AS j,
             SUM((a.x - ma.m) * (b.x - mb.m)) / (SELECT n FROM nn) AS m
      FROM vals a JOIN vals b ON a.vec_id = b.vec_id
      JOIN mu ma ON ma.d = a.d JOIN mu mb ON mb.d = b.d
      GROUP BY a.d, b.d
    ), dd AS (
      SELECT COUNT(*)::DOUBLE AS k FROM mu
    ), v0 AS (
      SELECT d, 1.0 / sqrt((SELECT k FROM dd)) AS v FROM mu
    )"""
        + steps
        + f"""
    SELECT v.vec_id,
           ROUND(SUM((v.x - mu.m) * vk.v), 6) AS pc1
    FROM vals v JOIN mu ON mu.d = v.d JOIN {prev} vk ON vk.d = v.d
    GROUP BY v.vec_id
    """
    )


# Top-principal-component projection (operators/similarity.py
# pca_power): distributed covariance partials + a fixed-iteration
# power method the oracle unrolls exactly (same start vector, same
# normalization each step — sign and value agree to float noise under
# the 6dp rounding).
@query("embedding_pca", _pca_oracle(iters=4))
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pca_power(emb, iters=4)


# Trailing-7-day distinct actives (operators/events.py
# rolling_active_users): the explode rewrite of windowed
# COUNT(DISTINCT) — both engines replicate each distinct (user, day)
# pair into its 7 supported buckets, so the rolling distinct becomes
# a plain per-bucket distinct count.
@query(
    "rolling_active_users",
    """
    WITH ev AS (
      SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), mx AS (SELECT MAX(day) AS last_day FROM ev)
    SELECT b.day, CAST(COUNT(DISTINCT b.u) AS BIGINT) AS n_active
    FROM (
      SELECT e.u, CAST(e.day + gs.i * INTERVAL 1 DAY AS TIMESTAMP) AS day
      FROM ev e, UNNEST(generate_series(0, 6)) AS gs(i)
    ) b
    WHERE b.day <= (SELECT last_day FROM mx)
    GROUP BY b.day
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.events import rolling_active_users

    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, window_days=7)


# ROWS-frame rolling aggregate: each event's trailing 4-event mean
# value per user — the windowed-frame shape (ROWS BETWEEN) not
# otherwise covered by the rank/lag gates. One user-keyed shuffle +
# in-partition sort; identical frame semantics in both engines.
@query(
    "rolling_user_value",
    """
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                 6) AS rolling_avg
    FROM events
    """,
)
def q_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
    )


# Windowed PMI collocations (operators/text.py cooccurrence_pmi):
# token pairs within a 5-token window scored by pointwise mutual
# information, top-50 by rounded PMI. Pair formation is an equi-join
# on (doc, position) in both engines.
@query(
    "pmi_collocations",
    _ORACLE_TOKS
    + r"""
    , pos AS (
      SELECT doc_id, gs.i AS pos, t[gs.i] AS w
      FROM toks, UNNEST(generate_series(1, len(t))) AS gs(i)
      WHERE t[gs.i] <> ''
    ), uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY w
    ), nt AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
    ), pr AS (
      SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 5
      WHERE a.w <> b.w
      GROUP BY least(a.w, b.w), greatest(a.w, b.w)
    ), pp AS (
      SELECT CAST(SUM(n_pair) AS DOUBLE) AS p FROM pr
    ), sc AS (
      SELECT w1, w2, n_pair,
             0.0 + ROUND(LN((n_pair / (SELECT p FROM pp)) /
                      ((u1.c / (SELECT n FROM nt)) *
                       (u2.c / (SELECT n FROM nt)))), 6) AS pmi
      FROM pr JOIN uni u1 ON u1.w = pr.w1 JOIN uni u2 ON u2.w = pr.w2
      WHERE n_pair >= 10
    ), r AS (
      SELECT w1, w2, n_pair, pmi,
             CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT)
               AS rnk
      FROM sc)
    SELECT w1, w2, n_pair, pmi, rnk FROM r WHERE rnk <= 50
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.cooccurrence_pmi(
        docs, window=5, min_count=10, k=50, id_col="doc_id"
    )


def _streaming_pca_oracle(iters: int = 4) -> str:
    """Unrolled power iteration over the UNCENTERED-moment covariance
    (C = E[xy] - E[x]E[y]) of the vecs fixture slice — mirrors what
    streaming/moments.py recovers from its mergeable partials."""
    steps = ""
    prev = "v0"
    for k in range(1, iters + 1):
        steps += f"""
    , u{k} AS (
      SELECT cv.i AS d, SUM(cv.m * p.v) AS u
      FROM cv JOIN {prev} p ON p.d = cv.j GROUP BY cv.i
    ), v{k} AS (
      SELECT d, u / (SELECT sqrt(SUM(u * u)) FROM u{k}) AS v FROM u{k}
    )"""
        prev = f"v{k}"
    return (
        r"""
    WITH vals AS (
      SELECT vec_id, t.i - 1 AS d, CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
      WHERE embedding IS NOT NULL AND vec_id < 500
    ), mu AS (
      SELECT d, AVG(x) AS m FROM vals GROUP BY d
    ), nn AS (
      SELECT COUNT(*)::DOUBLE AS n FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id < 500
    ), cv AS (
      SELECT a.d AS i, b.d AS j,
             SUM(a.x * b.x) / (SELECT n FROM nn) - ma.m * mb.m AS m
      FROM vals a JOIN vals b ON a.vec_id = b.vec_id
      JOIN mu ma ON ma.d = a.d JOIN mu mb ON mb.d = b.d
      GROUP BY a.d, b.d, ma.m, mb.m
    ), dd AS (
      SELECT COUNT(*)::DOUBLE AS k FROM mu
    ), v0 AS (
      SELECT d, 1.0 / sqrt((SELECT k FROM dd)) AS v FROM mu
    )"""
        + steps
        + f"""
    SELECT CAST(d AS BIGINT) AS d, ROUND(v, 6) AS v FROM {prev}
    """
    )


# Incremental embedding moments -> read-time PCA
# (streaming/moments.py): uncentered moments are mergeable sums, so
# each epoch writes one O(d^2) partial set and the exact covariance
# of everything ingested is recovered at read time. The oracle
# derives the same top component from the parquet slice directly —
# the incremental maintenance must be invisible in the eigenvector.
@query("streaming_pca", _streaming_pca_oracle(iters=4))
def q_streaming_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.moments import moments_sink, read_component

    topic = _stream_fixture(spark, sf_dir, "vecs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    parsed = (
        topic.read_stream(files_per_trigger=1)
        .select(
            F.from_json(
                "metadata", "vec_id long, embedding array<float>"
            ).alias("j")
        )
        .select(F.col("j.embedding").alias("vec"))
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-moments-"), "store")
    drain(spark, parsed.writeStream.foreachBatch(moments_sink(store, "vec")))
    return read_component(spark, store, iters=4)


# Incremental distinct counts via mergeable HLL sketches
# (streaming/distinct.py): COUNT(DISTINCT) has no mergeable partial,
# so each epoch lands one sketch per group and the running count is a
# union + estimate at read time. Gate mirrors the batch
# distinct_users_sketch shape: exact count + a boolean asserting the
# stream-merged estimate lands within tolerance.
@query(
    "streaming_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS sketch_ok
    FROM events WHERE event_id < 5000
    GROUP BY event_type
    """,
)
def q_streaming_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.distinct import distinct_sink, read_distinct

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select("event_type", "user_id")
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-distinct-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            distinct_sink(store, ["event_type"], "user_id", lg_k=12)
        ),
    )
    approx = read_distinct(
        spark, store, ["event_type"], "event_type string, sk binary"
    )
    exact = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    err = F.abs(
        F.col("approx_distinct") - F.col("exact_distinct")
    ) / F.greatest(F.col("exact_distinct").cast("double"), F.lit(1.0))
    return exact.join(approx, "event_type").select(
        "event_type", "exact_distinct", (err <= 0.05).alias("sketch_ok")
    )


# Single-pass column profile (operators/quality.py profile): row /
# null / distinct counts per column, one aggregate unpivoted — the
# schema-drift observability primitive next to constraint_audit.
@query(
    "events_profile",
    """
    SELECT 'event_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           ROUND(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) /
                 GREATEST(COUNT(*), 1)::DOUBLE, 6) AS null_ratio,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) /
                 GREATEST(COUNT(*), 1)::DOUBLE, 6),
           CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) /
                 GREATEST(COUNT(*), 1)::DOUBLE, 6),
           CAST(COUNT(DISTINCT event_type) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) /
                 GREATEST(COUNT(*), 1)::DOUBLE, 6),
           CAST(COUNT(DISTINCT value) AS BIGINT)
    FROM events
    """,
)
def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import profile

    ev = _t(spark, sf_dir, "events")
    return profile(ev, ["event_id", "user_id", "event_type", "value"])


# SCD2 validity intervals (operators/events.py history_intervals):
# each user's value history collapses to distinct runs with
# [valid_from, valid_to) windows — the "attribute at time T"
# warehouse primitive. Gate uses event_type as the tracked attribute
# so collapse paths (repeat states) actually fire.
@query(
    "user_state_intervals",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to
    FROM changes
    """,
)
def q_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.events import history_intervals

    ev = _t(spark, sf_dir, "events")
    return history_intervals(
        ev, "user_id", "ts", "event_type", order_cols=["ts", "event_id"]
    )


# Incremental quantile envelopes via mergeable fixed-bin histograms
# (streaming/quantiles.py): exact quantiles don't merge, histogram
# counts do. The oracle reproduces the identical closed-form bin
# arithmetic and rank pick from the parquet slice — the epoch split
# must be invisible in the envelope.
@query(
    "streaming_quantiles",
    """
    WITH v AS (
      SELECT event_type,
             LEAST(49, GREATEST(0,
               CAST(FLOOR((value - 0.0) / 2.0) AS BIGINT))) AS bin
      FROM events WHERE event_id < 5000 AND value IS NOT NULL
    ), h AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY event_type, bin
    ), c AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n_rows
      FROM h
    ), qs AS (SELECT unnest([0.5, 0.95]) AS q)
    SELECT c.event_type, qs.q,
           CAST(MIN(c.bin) AS BIGINT) AS bin,
           ROUND(0.0 + MIN(c.bin) * 2.0, 6) AS bin_lo,
           ROUND(0.0 + (MIN(c.bin) + 1) * 2.0, 6) AS bin_hi,
           CAST(MAX(c.n_rows) AS BIGINT) AS n_rows
    FROM c CROSS JOIN qs
    WHERE c.cum >= GREATEST(1, CEIL(qs.q * c.n_rows))
    GROUP BY c.event_type, qs.q
    """,
)
def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.quantiles import histogram_sink, read_quantiles

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select("event_type", "value")
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-hist-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            histogram_sink(
                store, ["event_type"], "value", lo=0.0, hi=100.0, nbins=50
            )
        ),
    )
    return read_quantiles(
        spark,
        store,
        ["event_type"],
        "event_type string, bin long, cnt long",
        [0.5, 0.95],
        lo=0.0,
        hi=100.0,
        nbins=50,
    )


# Second-order event paths (operators/events.py path_counts): the
# sankey/path-mining rollup one order above the transition matrix —
# all three lead steps share one user-keyed sort.
@query(
    "event_paths",
    """
    WITH seq AS (
      SELECT event_type AS step_1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS step_2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS step_3
      FROM events)
    SELECT step_1, step_2, step_3,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM seq
    WHERE step_2 IS NOT NULL AND step_3 IS NOT NULL
    GROUP BY step_1, step_2, step_3
    HAVING COUNT(*) >= 5
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.events import path_counts

    ev = _t(spark, sf_dir, "events")
    return path_counts(ev, path_len=3, min_count=5)


# Flesch reading-ease (operators/text.py readability_scores): pure
# regexp built-ins, deterministic sentence/syllable proxies mirrored
# in the oracle.
@query(
    "readability_scores",
    r"""
    WITH base AS (
      SELECT doc_id AS id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_words,
             GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                      1) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syl_raw
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    )
    SELECT id, n_words, n_sentences,
           GREATEST(n_syl_raw, n_words) AS n_syllables,
           ROUND(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (GREATEST(n_syl_raw, n_words)
                           / CAST(n_words AS DOUBLE)), 4) AS flesch
    FROM base
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.readability_scores(docs)


# Daily trending types: time-bucketed counts + per-bucket rank — the
# window() x rank composition (hourly_event_stats covers the bucket
# agg, top_orders_per_customer the rank; this gates them composed).
@query(
    "daily_top_types",
    """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY date_trunc('day', ts), event_type)
    SELECT day, event_type, n,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                                   ORDER BY n DESC, event_type) AS rnk
      FROM d)
    WHERE rnk <= 3
    """,
)
def q_daily_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("day"), "event_type", "n")
    )
    rk = Window.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# Per-label centroid separation (operators/similarity.py
# label_separation): the supervised-embedding health check. Nearest
# pick on the ROUNDED distance with a label tiebreak in both engines.
@query(
    "label_separation",
    """
    WITH vals AS (
      SELECT label AS lbl, t.i - 1 AS dim,
             CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
      WHERE embedding IS NOT NULL
    ), cells AS (
      SELECT lbl, dim, AVG(x) AS c, COUNT(*) AS n FROM vals
      GROUP BY lbl, dim
    ), norms AS (
      SELECT lbl, ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm,
             CAST(MAX(n) AS BIGINT) AS n_vecs
      FROM cells GROUP BY lbl
    ), pair AS (
      SELECT a.lbl AS lbl, b.lbl AS other,
             ROUND(sqrt(SUM((a.c - b.c) * (a.c - b.c))), 6) AS dist
      FROM cells a JOIN cells b
        ON a.dim = b.dim AND a.lbl <> b.lbl
      GROUP BY a.lbl, b.lbl
    ), nearest AS (
      SELECT lbl, other AS nearest_label, dist AS nearest_dist
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lbl
                                     ORDER BY dist ASC, other ASC) AS rk
        FROM pair)
      WHERE rk = 1
    )
    SELECT CAST(n.lbl AS INTEGER) AS label, n.n_vecs, n.centroid_norm,
           CAST(x.nearest_label AS INTEGER) AS nearest_label,
           x.nearest_dist
    FROM norms n JOIN nearest x ON x.lbl = n.lbl
    """,
)
def q_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_separation(emb)


# Per-user least-squares value trend (operators/events.py
# value_trend): closed-form slope/intercept from five mergeable sums,
# x rebased per key so the sums stay in double-precision range.
@query(
    "user_value_trend",
    """
    WITH obs AS (
      SELECT user_id, ts, CAST(value AS DOUBLE) AS y FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
    ), b AS (
      SELECT user_id, MIN(ts) AS t0 FROM obs GROUP BY user_id
    ), pts AS (
      SELECT e.user_id,
             (epoch_us(e.ts) - epoch_us(b.t0)) / 1e6 AS x, e.y
      FROM obs e JOIN b USING (user_id)
    ), s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           0.0 + ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           0.0 + ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept
    FROM s WHERE n * sxx - sx * sx > 0
    """,
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.events import value_trend

    ev = _t(spark, sf_dir, "events")
    return value_trend(ev)


# Streaming Bloom membership store (streaming/bloom.py): mergeable
# bit_or word partials over an engine-portable md5 hash family — both
# engines compute the identical bit positions, so even the false
# positives hash-match. Probes cover every ingested key (no false
# negatives) plus 500 never-ingested ids (FPs at the designed rate).
@query(
    "streaming_bloom_membership",
    """
    WITH keys AS (
      SELECT DISTINCT CAST(doc_id AS VARCHAR) AS key
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ), setpos AS (
      SELECT DISTINCT
             ('0x' || substr(md5(key || '#' || CAST(j AS VARCHAR)), 1, 12))
               ::BIGINT % 16384 AS pos
      FROM keys, UNNEST([0, 1, 2, 3]) AS t(j)
    ), probes AS (
      SELECT CAST(i AS BIGINT) AS id FROM generate_series(0, 1499) AS g(i)
    ), ppos AS (
      SELECT id,
             ('0x' || substr(md5(CAST(id AS VARCHAR) || '#'
                                 || CAST(j AS VARCHAR)), 1, 12))
               ::BIGINT % 16384 AS pos
      FROM probes, UNNEST([0, 1, 2, 3]) AS t(j)
    )
    SELECT id, BOOL_AND(pos IN (SELECT pos FROM setpos)) AS might_contain
    FROM ppos GROUP BY id
    """,
)
def q_streaming_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.bloom import bloom_sink, read_membership

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1 => exactly two epochs on the native
    # source (one published log file per partition); final answer
    # epoch-split-invariant, oracle-verified.
    keys = topic.read_stream(files_per_trigger=1).select(
        F.get_json_object("metadata", "$.doc_id").alias("key")
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-bloom-"), "store")
    drain(
        spark,
        keys.writeStream.foreachBatch(
            bloom_sink(store, "key", m_bits=16384, k=4)
        ),
    )
    probes = spark.range(1500).select(
        "id", F.col("id").cast("string").alias("key")
    )
    return read_membership(
        spark, store, probes, "key", m_bits=16384, k=4
    ).select("id", "might_contain")


# Streaming deterministic uniform sample (streaming/sample.py):
# bottom-k race keys are mergeable across epochs, so the store
# reproduces the exact all-history sample — a pure function of the
# ingested key set, hash-matched against SQL computing it directly.
@query(
    "streaming_reservoir",
    """
    WITH keys AS (
      SELECT DISTINCT CAST(doc_id AS VARCHAR) AS key
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ), raced AS (
      SELECT 'all' AS stratum, key,
             ('0x' || substr(md5('rs' || key), 1, 12))::BIGINT
               % 1000000 AS race
      FROM keys
    ), ranked AS (
      SELECT stratum, key, race,
             CAST(ROW_NUMBER() OVER (ORDER BY race, key) AS BIGINT) AS rnk
      FROM raced)
    SELECT stratum, key, race, rnk FROM ranked WHERE rnk <= 50
    """,
)
def q_streaming_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.sample import read_sample, sample_sink

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1 => exactly two epochs on the native
    # source (one published log file per partition); final answer
    # epoch-split-invariant, oracle-verified.
    keys = topic.read_stream(files_per_trigger=1).select(
        F.get_json_object("metadata", "$.doc_id").alias("key")
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-sample-"), "store")
    drain(
        spark,
        keys.writeStream.foreachBatch(sample_sink(store, "key", k=50)),
    )
    return read_sample(spark, store, k=50)


# Stratum-pair n-gram overlap matrix (operators/text.py
# corpus_overlap): the cross-domain contamination audit. Gram keys are
# 60-bit md5 ints in BOTH engines, so counts agree bit-for-bit.
@query(
    "corpus_overlap_matrix",
    r"""
    WITH toks AS (
      SELECT source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT DISTINCT source AS s,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
      FROM (
        SELECT source,
               unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(t) - 2, 1)),
                 i -> array_to_string(t[i:i+2], ' ')))) AS gram
        FROM toks)
    ), sizes AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY s
    ), common AS (
      SELECT a.s AS src_a, b.s AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM g a JOIN g b ON a.g = b.g AND a.s < b.s
      GROUP BY a.s, b.s)
    SELECT src_a, src_b, n_common, na.n AS n_a, nb.n AS n_b,
           ROUND(n_common / (na.n + nb.n - n_common)::DOUBLE, 6) AS jaccard,
           ROUND(n_common / least(na.n, nb.n)::DOUBLE, 6) AS containment
    FROM common
    JOIN sizes na ON na.s = src_a
    JOIN sizes nb ON nb.s = src_b
    """,
)
def q_corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.corpus_overlap(docs, strata_col="source", n=3)


# Corpus-trained bigram LM scoring (operators/text.py bigram_lm_score):
# order-sensitive perplexity proxy one rung above lm_scores' unigram.
@query(
    "bigram_lm_scores",
    r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS a
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id, a[i] AS v, a[i+1] AS w
      FROM t, UNNEST(generate_series(1, len(a) - 1)) AS s(i)
      WHERE len(a) >= 2
    ), big AS (
      SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cvw FROM g GROUP BY v, w
    ), ctx AS (
      SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv FROM big GROUP BY v
    ), vs AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz
      FROM (SELECT unnest(a) AS tok FROM t)
    )
    SELECT g.doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN(cvw + 1) - LN(cv + vsz)), 6) AS avg_logp
    FROM g JOIN big USING (v, w) JOIN ctx USING (v) CROSS JOIN vs
    GROUP BY g.doc_id
    """,
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_lm_score(docs)


# Resize-stage plumbing (operators/modality.py resize_images): target
# dims patched into the rewritten header, body preserved; the oracle
# reconstructs the rewritten payload and hashes it.
@query(
    "modality_resize",
    """
    WITH t AS (
      SELECT doc_id, text FROM documents
    )
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' ELSE 'gif' END AS format,
           CAST(64 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
           CASE doc_id % 4
             WHEN 0 THEN md5(lower(hex(
               unhex('89504E470D0A1A0A0000000D49484452'
                     || '00000040' || '00000020') || encode(text))))
             ELSE md5(lower(hex(
               encode('GIF89a') || unhex('4000' || '2000') || encode(text))))
           END AS data_md5
    FROM t WHERE doc_id % 4 IN (0, 2)
    """,
)
def q_modality_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import modality

    docs = _wide(_t(spark, sf_dir, "documents"), "doc_id")
    payloads = modality.synthetic_payload(docs).select("doc_id", "data")
    out = modality.resize_images(payloads, 64, 32)
    return out.select(
        "doc_id",
        "format",
        "width",
        "height",
        # DuckDB's md5 takes VARCHAR only -> hash the lowercase hex
        # rendering of the payload on both sides
        F.md5(F.lower(F.hex("data"))).alias("data_md5"),
    )


# Frame-sampling plumbing (operators/modality.py sample_frames): the
# raw payloads' bodies slice into fixed-stride frames; every 2nd frame
# of 16 bytes, trailing partial kept. Oracle slices the (ASCII) text.
@query(
    "modality_frames",
    """
    WITH t AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE doc_id % 4 = 3
    ), f AS (
      SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
             substr(text, k * 16 + 1, 16) AS frame
      FROM t, UNNEST(generate_series(0, CAST(CEIL(n / 16.0) AS BIGINT) - 1))
             AS s(k)
      WHERE k % 2 = 0
    )
    SELECT doc_id, frame_idx, md5(frame) AS frame_md5 FROM f
    """,
)
def q_modality_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import modality

    docs = _wide(_t(spark, sf_dir, "documents"), "doc_id").filter(
        F.pmod("doc_id", F.lit(4)) == 3
    )
    payloads = modality.synthetic_payload(docs).select("doc_id", "data")
    out = modality.sample_frames(payloads, frame_bytes=16, every=2, header_skip=8)
    return out.select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))


# OOV rate vs a corpus-derived vocabulary (operators/text.py
# oov_rate): tokenizer-fit / domain-shift signal; the gate's
# vocabulary is the corpus's >= 10-count unigrams (thresholded, so no
# top-k tie sensitivity).
@query(
    "oov_rates",
    r"""
    WITH t AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), v AS (
      SELECT tok FROM t GROUP BY tok HAVING COUNT(*) >= 10
    )
    SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(AVG(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS oov_rate
    FROM t LEFT JOIN v USING (tok)
    GROUP BY doc_id
    """,
)
def q_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    vocab = text.vocab_stats(docs, n=1, min_count=10).select(
        F.col("gram").alias("token")
    )
    return text.oov_rate(docs, vocab)


# kNN label-agreement (operators/similarity.py label_agreement):
# instance-level label-noise scan over the labeled embeddings; the
# gate runs the exact brute-force regime the oracle can mirror.
@query(
    "label_noise_scan",
    """
    WITH l AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings WHERE label IS NOT NULL
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.label AS q_label, c.label AS n_label,
             ROUND(list_cosine_similarity(q.v, c.v), 6) AS score
      FROM l q JOIN l c ON c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id AS id, q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           ROUND(AVG(CASE WHEN n_label = q_label THEN 1.0 ELSE 0.0 END), 6)
             AS agreement
    FROM ranked WHERE rnk <= 10
    GROUP BY query_id, q_label
    """,
)
def q_label_noise_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import label_agreement

    emb = _t(spark, sf_dir, "embeddings")
    return label_agreement(emb, k=10)


# Token-entropy / type-token-ratio lexical diversity (operators/text.py
# token_entropy): ordered fold over sorted types for float identity.
@query(
    "token_entropy",
    r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS a
      FROM documents WHERE text IS NOT NULL
    ), e AS (
      SELECT doc_id, a, CAST(len(a) AS DOUBLE) AS n,
             list_sort(list_distinct(a)) AS d
      FROM t
    )
    SELECT doc_id AS id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(d) AS BIGINT) AS n_types,
           ROUND(-list_sum(list_transform(d, x ->
                 (len(list_filter(a, y -> y = x)) / n)
                 * LN(len(list_filter(a, y -> y = x)) / n))), 6) AS entropy,
           ROUND(len(d) / n, 6) AS ttr
    FROM e
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.token_entropy(docs)


# Exact weighted quantiles per group (operators/sketch.py
# weighted_quantiles): smallest value whose cumulative weight fraction
# reaches q; RANGE-frame cumsum makes tie handling engine-identical.
@query(
    "weighted_value_quantiles",
    """
    WITH w AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
             (event_id % 5) + 1 AS wt
      FROM events WHERE value IS NOT NULL AND (event_id % 5) + 1 > 0
    ), c AS (
      SELECT g, v,
             SUM(wt) OVER (PARTITION BY g ORDER BY v
                           RANGE BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) * 1.0
             / SUM(wt) OVER (PARTITION BY g) AS cf
      FROM w
    ), p AS (
      SELECT g,
             MIN(CASE WHEN cf >= 0.25 THEN v END) AS q0,
             MIN(CASE WHEN cf >= 0.5  THEN v END) AS q1,
             MIN(CASE WHEN cf >= 0.75 THEN v END) AS q2,
             MIN(CASE WHEN cf >= 0.9  THEN v END) AS q3
      FROM c GROUP BY g)
    SELECT g AS event_type, 0.25 AS q, q0 AS wq FROM p
    UNION ALL SELECT g, 0.5,  q1 FROM p
    UNION ALL SELECT g, 0.75, q2 FROM p
    UNION ALL SELECT g, 0.9,  q3 FROM p
    """,
)
def q_weighted_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sketch import weighted_quantiles

    ev = _t(spark, sf_dir, "events")
    return weighted_quantiles(
        ev,
        "event_type",
        "value",
        F.pmod(F.col("event_id"), F.lit(5)) + 1,
        [0.25, 0.5, 0.75, 0.9],
    )


_INCLUSION_COLS = [
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
]


def _inclusion_oracle() -> str:
    """Unrolled per-pair inclusion coefficients — mirrors
    operators/quality.inclusion_profile pair for pair."""
    ctes, names = [], {}
    for i, (t, c) in enumerate(_INCLUSION_COLS):
        nm = f"s{i}"
        names[(t, c)] = nm
        ctes.append(
            f"{nm} AS (SELECT DISTINCT CAST({c} AS VARCHAR) AS v "
            f"FROM {t} WHERE {c} IS NOT NULL)"
        )
    selects = []
    for a in _INCLUSION_COLS:
        for b in _INCLUSION_COLS:
            if a == b:
                continue
            sa, sb = names[a], names[b]
            selects.append(
                f"""
    SELECT '{a[0]}' AS from_table, '{a[1]}' AS from_col,
           '{b[0]}' AS to_table, '{b[1]}' AS to_col,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {sa}) AS n_from,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {sa}
             WHERE v IN (SELECT v FROM {sb})) AS n_common,
           ROUND((SELECT COUNT(*) FROM {sa} WHERE v IN (SELECT v FROM {sb}))
                 / GREATEST((SELECT COUNT(*) FROM {sa}), 1)::DOUBLE,
                 6) AS inclusion"""
            )
    return "WITH " + ",\n".join(ctes) + "\nUNION ALL\n".join(selects)


# FK DISCOVERY (operators/quality.py inclusion_profile): pairwise
# inclusion coefficients between key columns — fk_violations audits
# declared keys, this finds the candidates (inclusion ~ 1.0).
@query("fk_discovery", _inclusion_oracle())
def q_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import inclusion_profile

    frames = {
        t: _t(spark, sf_dir, t) for t in {t for t, _ in _INCLUSION_COLS}
    }
    return inclusion_profile(frames, _INCLUSION_COLS)


# Reciprocal-rank fusion (operators/similarity.py rrf_fuse): hybrid
# retrieval's standard combiner — fuse the cosine and dot-product
# top-10 lists for the 8 query vectors; rrf = sum 1/(60 + rank).
@query(
    "rrf_fusion",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 8),
    cos_s AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(qvec,
                   CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    dot_s AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             ROUND(list_inner_product(qvec,
                   CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    cos_r AS (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS rnk
              FROM cos_s),
    dot_r AS (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS rnk
              FROM dot_s),
    contribs AS (
      SELECT query_id, neighbor_id, 1.0 / (60 + rnk) AS c
      FROM cos_r WHERE rnk <= 10
      UNION ALL
      SELECT query_id, neighbor_id, 1.0 / (60 + rnk) AS c
      FROM dot_r WHERE rnk <= 10),
    fused AS (
      SELECT query_id, neighbor_id, ROUND(SUM(c), 6) AS rrf_score
      FROM contribs GROUP BY query_id, neighbor_id)
    SELECT query_id, neighbor_id, rrf_score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf_score DESC, neighbor_id) AS BIGINT)
             AS fused_rank
    FROM fused
    QUALIFY fused_rank <= 10
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    by_cos = similarity.brute_force_topk(queries, emb, k=10)
    by_dot = similarity.brute_force_topk(queries, emb, k=10, metric="dot")
    out = similarity.rrf_fuse([by_cos, by_dot], k=60, top=10)
    return out.select(
        "query_id",
        "neighbor_id",
        "rrf_score",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


# Soft dedup weights (operators/dedup.py soft_dedup_weights):
# down-weight near-dup clusters by 1/size instead of dropping —
# repeated content contributes one unit of training mass total.
@query(
    "soft_dedup_weights",
    _COMPONENTS_CTE
    + """
    , assigned AS (
      SELECT doc.doc_id AS id,
             COALESCE(c.component, doc.doc_id) AS keeper_id
      FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
    ), sizes AS (
      SELECT keeper_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM assigned GROUP BY keeper_id
    )
    SELECT id, a.keeper_id, cluster_size,
           ROUND(1.0 / cluster_size, 6) AS weight
    FROM assigned a JOIN sizes s ON a.keeper_id = s.keeper_id
    """,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _neardup_fixture(spark, sf_dir, "components")
    return dedup.soft_dedup_weights(comp)


# Quality-aware cluster representatives (operators/dedup.py
# cluster_representatives): keep each near-dup cluster's BEST-scoring
# member (token count here; ties id-asc) instead of the arbitrary
# min-id keeper — the "keep the cleanest copy" dedup policy.
@query(
    "dedup_representatives",
    _COMPONENTS_CTE
    + """
    , assigned AS (
      SELECT doc.doc_id AS id,
             COALESCE(c.component, doc.doc_id) AS keeper_id
      FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
    ), scored AS (
      SELECT a.keeper_id, a.id,
             CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM assigned a JOIN documents d ON d.doc_id = a.id
      WHERE d.text IS NOT NULL AND trim(d.text) <> ''
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY keeper_id
                                ORDER BY n_tokens DESC, id ASC) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY keeper_id) AS BIGINT)
               AS cluster_size
      FROM scored
    )
    SELECT keeper_id, id AS rep_id, n_tokens AS rep_score, cluster_size
    FROM ranked WHERE rk = 1
    """,
)
def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    comp = _neardup_fixture(spark, sf_dir, "components")
    scores = docs.filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    ).select(
        F.col("doc_id").alias("id"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    return dedup.cluster_representatives(comp, scores, "n_tokens")


# Per-source corpus health report (operators/quality.py
# corpus_report): volume, exact-dup rate, length/punct profile,
# language spread — one aggregate, one row per source.
@query(
    "corpus_report",
    r"""
    WITH base AS (
      SELECT source AS stratum,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
             len(string_split_regex(trim(text), '\s+')) AS tok,
             length(text) AS nchr,
             ROUND(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                   / greatest(length(text), 1), 4) AS pr,
             lang
      FROM documents WHERE text IS NOT NULL)
    SELECT stratum AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_content,
           ROUND(1.0 - COUNT(DISTINCT h) / COUNT(*), 4) AS dup_rate,
           ROUND(AVG(tok), 4) AS avg_tokens,
           ROUND(AVG(nchr), 4) AS avg_chars,
           ROUND(AVG(pr), 4) AS avg_punct_ratio,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM base GROUP BY stratum
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import corpus_report

    docs = _t(spark, sf_dir, "documents")
    return corpus_report(docs)


# Per-class embedding outliers (operators/similarity.py
# embedding_outliers): centroid distance z-scored within the label —
# the geometric mislabel/corruption scan next to label_noise_scan's
# neighborhood vote.
@query(
    "embedding_outliers",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE label IS NOT NULL),
    d AS (SELECT vec_id, label, i - 1 AS dim, v[i] AS val
          FROM e, UNNEST(generate_series(1, len(v))) AS s(i)),
    c AS (SELECT label, dim, AVG(val) AS c FROM d GROUP BY label, dim),
    dist AS (
      SELECT d.vec_id AS id, d.label,
             ROUND(sqrt(list_sum(list_transform(
               list((val - c.c) * (val - c.c) ORDER BY d.dim),
               x -> x))), 6) AS dist
      FROM d JOIN c ON d.label = c.label AND d.dim = c.dim
      GROUP BY d.vec_id, d.label),
    stats AS (SELECT label, AVG(dist) AS mu, stddev_samp(dist) AS sd
              FROM dist GROUP BY label),
    zz AS (
      SELECT id, dist.label, dist,
             0.0 + ROUND(CASE WHEN sd IS NULL OR sd = 0.0 THEN 0.0
                        ELSE (dist - mu) / sd END, 6) AS z
      FROM dist JOIN stats ON dist.label = stats.label)
    SELECT id, label, dist, z, z > 3.0 AS is_outlier FROM zz
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_outliers(emb)


# Pairwise audience overlap via HLL inclusion-exclusion
# (operators/sketch.py distinct_overlap): |A∩B| ≈ |A|+|B|-|A∪B| from
# mergeable sketches; gate = exact overlap + accuracy boolean, the
# distinct_users_sketch pattern applied to pairs.
@query(
    "distinct_overlap",
    """
    WITH vals AS (SELECT DISTINCT event_type AS g, user_id AS v
                  FROM events),
    gs AS (SELECT DISTINCT event_type AS g FROM events),
    ov AS (SELECT x.g AS ga, y.g AS gb, CAST(COUNT(*) AS BIGINT) AS n
           FROM vals x JOIN vals y ON x.v = y.v AND x.g < y.g
           GROUP BY x.g, y.g)
    SELECT a.g AS group_a, b.g AS group_b,
           CAST(COALESCE(n, 0) AS BIGINT) AS exact_overlap,
           TRUE AS sketch_ok
    FROM gs a JOIN gs b ON a.g < b.g
    LEFT JOIN ov ON ov.ga = a.g AND ov.gb = b.g
    """,
)
def q_distinct_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sketch

    ev = _t(spark, sf_dir, "events")
    return sketch.distinct_overlap(ev, "event_type", "user_id")


# Retrieval ranking metrics (operators/similarity.py ranking_metrics):
# precision@k / MRR / nDCG over the exact top-k, binary relevance =
# shared label — the search-quality harness next to the recall gates.
@query(
    "ranking_metrics",
    """
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT query_id, q_label, c.vec_id AS neighbor_id,
             c.label AS n_label,
             ROUND(list_cosine_similarity(qvec,
                   CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id) AS rnk
           FROM scored),
    top AS (SELECT query_id, q_label, rnk,
                   CAST(n_label = q_label AS INT) AS rel
            FROM rk WHERE rnk <= 5),
    nl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
           FROM embeddings GROUP BY label),
    agg AS (
      SELECT query_id, q_label,
             ROUND(SUM(rel) / 5.0, 6) AS precision_at_k,
             ROUND(COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rnk END),
                            0.0), 6) AS mrr,
             list_sum(list_transform(
               list(rel / log2(rnk + 1.0) ORDER BY rnk), x -> x)) AS dcg
      FROM top GROUP BY query_id, q_label)
    SELECT query_id, precision_at_k, mrr,
           ROUND(CASE WHEN nl.n_label > 1 THEN dcg /
                   list_sum(list_transform(
                     generate_series(1, least(nl.n_label - 1, 5)),
                     i -> 1.0 / log2(i + 1.0)))
                 ELSE 0.0 END, 6) AS ndcg
    FROM agg JOIN nl ON agg.q_label = nl.label
    """,
)
def q_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ranked = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < 8), emb, k=5
    )
    return similarity.ranking_metrics(ranked, emb, k=5)


# Term-blocklist scan (operators/text.py blocklist_scan): per-doc
# occurrence counts of blocklisted tokens, token-exact — the
# C4/Dolma-style wordlist safety stage.
@query(
    "blocklist_scan",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id AS id,
           CAST(len(list_filter(t,
             x -> list_contains(['spark', 'vector', 'stream'], x)))
             AS BIGINT) AS n_hits,
           len(list_filter(t,
             x -> list_contains(['spark', 'vector', 'stream'], x)))
             > 0 AS flagged
    FROM toks
    """,
)
def q_blocklist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.blocklist_scan(docs, ["spark", "vector", "stream"])


# Leakage-safe split (operators/sampling.py cluster_safe_split):
# split by near-dup cluster keeper so duplicate clusters never
# straddle train/test — the FIX for what split_leakage audits.
@query(
    "cluster_safe_split",
    _COMPONENTS_CTE
    + """
    , assigned AS (
      SELECT doc.doc_id AS id,
             COALESCE(c.component, doc.doc_id) AS keeper_id
      FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
    )
    SELECT id, keeper_id,
           CASE WHEN ('0x' || substr(md5('split' || keeper_id::VARCHAR),
                      1, 12))::BIGINT % 1000000 < 800000 THEN 'train'
                WHEN ('0x' || substr(md5('split' || keeper_id::VARCHAR),
                      1, 12))::BIGINT % 1000000 < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import cluster_safe_split

    comp = _neardup_fixture(spark, sf_dir, "components")
    return cluster_safe_split(comp)


# Cluster-balanced subset selection (operators/sampling.py
# cell_balanced_sample): nearest-centroid cells (fixed seeded
# centroids, literal-mirrored in the oracle) + deterministic per-cell
# hash quota — dense regions capped, sparse regions survive whole.
def _cell_sample_oracle() -> str:
    from mofka_spark.operators.similarity import _hyperplanes

    cents = _hyperplanes(64, 4, seed=11)
    cos = ",\n             ".join(
        f"list_cosine_similarity(v, [{', '.join(repr(float(x)) for x in c)}]) AS c{i}"
        for i, c in enumerate(cents)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id,
             {cos}
          FROM e),
    a AS (SELECT vec_id,
            CASE WHEN c0 >= c1 AND c0 >= c2 AND c0 >= c3 THEN 0
                 WHEN c1 >= c2 AND c1 >= c3 THEN 1
                 WHEN c2 >= c3 THEN 2 ELSE 3 END AS cell
          FROM s),
    r AS (SELECT cell, vec_id,
            ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
              ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT
                % 1000000,
              vec_id) AS rk
          FROM a)
    SELECT CAST(cell AS INT) AS cell, vec_id AS id FROM r WHERE rk <= 40
    """


@query("cell_balanced_sample", _cell_sample_oracle())
def q_cell_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import cell_balanced_sample
    from mofka_spark.operators.similarity import _hyperplanes

    emb = _t(spark, sf_dir, "embeddings")
    return cell_balanced_sample(emb, _hyperplanes(64, 4, seed=11), cap=40)


# Proportional stratum interleaving (operators/sampling.py
# interleave_strata): low-discrepancy training-order schedule —
# integer-derived key (rank - 0.5)/n so engines agree bit-for-bit.
@query(
    "interleave_strata",
    """
    SELECT source, doc_id,
           (ROW_NUMBER() OVER (PARTITION BY source ORDER BY
              ('0x' || substr(md5('interleave' || doc_id::VARCHAR), 1, 12))
                ::BIGINT % 1000000,
              doc_id) - 0.5)
           / COUNT(*) OVER (PARTITION BY source) AS interleave_key
    FROM documents
    """,
)
def q_interleave_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import interleave_strata

    docs = _t(spark, sf_dir, "documents")
    return interleave_strata(docs, "doc_id", "source")


# JL random projection (operators/similarity.py random_projection):
# seeded Gaussian d=64 -> k=8; the oracle inlines the IDENTICAL
# matrix literals (same seed path), so the projection values must
# agree to 6dp.
def _rp_oracle() -> str:
    from mofka_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, seed=7)
    selects = []
    for j, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        selects.append(
            f"SELECT vec_id AS id, CAST({j} AS BIGINT) AS dim,\n"
            f"  ROUND(list_inner_product(CAST(embedding AS DOUBLE[]),\n"
            f"        [{lits}]) / sqrt(8.0), 6) AS value\n"
            f"FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


@query("random_projection", _rp_oracle())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.random_projection(emb, in_dim=64, out_dim=8, seed=7)
    return out.select(
        "id", F.posexplode("proj").alias("dim", "value")
    ).select(
        "id", F.col("dim").cast("long").alias("dim"),
        F.round("value", 6).alias("value"),
    )


# int8 embedding quantization (operators/similarity.py
# quantize_embeddings): per-dim symmetric scales from the corpus
# max-abs; gate checks every quantized value and the per-vector
# reconstruction MSE.
@query(
    "quantize_embeddings",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    d AS (
      SELECT vec_id, i - 1 AS dim, v[i] AS val
      FROM e, UNNEST(generate_series(1, len(v))) AS s(i)
    ), sc AS (
      SELECT dim,
             CASE WHEN MAX(ABS(val)) > 0 THEN MAX(ABS(val)) / 127.0
                  ELSE 1.0 END AS s
      FROM d GROUP BY dim
    ), q AS (
      SELECT vec_id, d.dim,
             GREATEST(-127, LEAST(127, CAST(ROUND(val / s) AS INT))) AS qv,
             val - GREATEST(-127.0, LEAST(127.0, ROUND(val / s))) * s AS err
      FROM d JOIN sc USING (dim)
    ), m AS (
      SELECT vec_id, ROUND(SUM(err * err) / COUNT(*), 8) AS mse
      FROM q GROUP BY vec_id
    )
    SELECT q.vec_id AS id, CAST(q.dim AS BIGINT) AS dim, qv, m.mse
    FROM q JOIN m ON q.vec_id = m.vec_id
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.quantize_embeddings(emb)
    return out.select(
        "id", "mse", F.posexplode("q").alias("dim", "qv")
    ).select(
        "id", F.col("dim").cast("long").alias("dim"), "qv", "mse"
    )


# CCNet-style aggressive-normalization dedup (operators/dedup.py
# exact_dedup(aggressive=True)): digits -> 0, punctuation stripped —
# collapses "updated 2023!" / "Updated 2024" style boilerplate dups
# that plain content hashing keeps apart.
@query(
    "dedup_normalized",
    r"""
    SELECT md5(trim(regexp_replace(
             regexp_replace(
               regexp_replace(lower(trim(text)), '\d', '0', 'g'),
               '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', '', 'g'),
             '\s+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, aggressive=True).select(
        "content_hash", "keeper_id", "n_copies"
    )


# Hard-negative mining (operators/similarity.py hard_negatives):
# per-anchor top-k most-similar DIFFERENT-label vectors — the
# contrastive-training batch builder. Anchors = vec_id < 8.
@query(
    "hard_negatives",
    """
    WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                      CAST(embedding AS DOUBLE[]) AS avec
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT anchor_id, c.vec_id AS negative_id,
             anchor_label, c.label AS negative_label,
             ROUND(list_cosine_similarity(a.avec,
                                          CAST(c.embedding AS DOUBLE[])),
                   6) AS score
      FROM embeddings c, a
      WHERE c.label <> a.anchor_label
    )
    SELECT anchor_id, negative_id, anchor_label, negative_label, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY score DESC, negative_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.hard_negatives(emb, emb.filter(F.col("vec_id") < 8), k=5)
    return out.select(
        "anchor_id",
        "negative_id",
        "anchor_label",
        "negative_label",
        "score",
        F.col("rank").cast("long").alias("rnk"),
    )


# Fuzzy decontamination (operators/text.py fuzzy_decontaminate):
# near-dup contamination vs a (synthetic) eval set = docs with
# doc_id % 97 = 0. Oracle = naive exact Jaccard cross join; the Spark
# side must route through MinHash-LSH blocking (bands=32, r=2: miss
# probability at J>=0.5 is (1-J^2)^32 <= 1e-4 per pair, and the
# deterministic hashing makes the local sf0.01 check decisive) —
# blocking recall is part of the gate, like minhash_dedup's.
@query(
    "fuzzy_decontamination",
    _ORACLE_TOKS
    + r"""
    , g AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), ev AS (
      SELECT doc_id AS eval_id, gs AS egs FROM g WHERE doc_id % 97 = 0
    ), cand AS (
      SELECT a.doc_id AS id, eval_id,
             ROUND(len(list_intersect(a.gs, ev.egs))::DOUBLE /
                   greatest(len(a.gs) + len(ev.egs)
                            - len(list_intersect(a.gs, ev.egs)), 1),
                   6) AS j
      FROM g a CROSS JOIN ev
    ), hits AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_matches, MAX(j) AS max_jaccard
      FROM cand WHERE j >= 0.5 GROUP BY id
    )
    SELECT d.doc_id AS id,
           CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
           ROUND(COALESCE(max_jaccard, 0.0), 6) AS max_jaccard,
           COALESCE(n_matches, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.id
    """,
)
def q_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.fuzzy_decontaminate(
        docs, docs.filter(F.col("doc_id") % 97 == 0)
    )


# DSIR (operators/sampling.py dsir_weights): hashed-ngram importance
# weights log p_target - log p_raw (Xie et al. 2023) — the
# domain-targeted data-selection signal; target = English docs.
_DSIR_CTE = r"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\s+') AS a
      FROM documents WHERE text IS NOT NULL
    ), uni AS (
      SELECT doc_id, lang, unnest(a) AS feat FROM t WHERE len(a) >= 1
    ), bi AS (
      SELECT doc_id, lang, a[i] || ' ' || a[i+1] AS feat
      FROM t, UNNEST(generate_series(1, len(a) - 1)) AS s(i)
      WHERE len(a) >= 2
    ), feats AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('dsir' || feat), 1, 12))::BIGINT % 8192
               AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ), doc AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM feats GROUP BY doc_id, bucket
    ), raw AS (
      SELECT bucket, CAST(SUM(c) AS BIGINT) AS cr FROM doc GROUP BY bucket
    ), tgt AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
      FROM feats WHERE lang = 'en' GROUP BY bucket
    ), tot_r AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr FROM raw),
    tot_t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM tgt),
    terms AS (
      SELECT raw.bucket,
             LN(COALESCE(ct, 0) + 1) - LN(tt + 8192)
               - LN(cr + 1) + LN(tr + 8192) AS term
      FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
      CROSS JOIN tot_r CROSS JOIN tot_t
    ), contrib AS (
      SELECT doc_id, doc.bucket, c, c * term AS contrib
      FROM doc JOIN terms ON doc.bucket = terms.bucket
    ), weights AS (
      SELECT doc_id AS id, CAST(SUM(c) AS BIGINT) AS n_feats,
             ROUND(list_sum(list_transform(list(contrib ORDER BY bucket),
                                           x -> x)), 6) AS logw
      FROM contrib GROUP BY doc_id
    )
"""


@query(
    "dsir_weights",
    _DSIR_CTE + "SELECT id, n_feats, logw FROM weights",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.dsir_weights(docs, docs.filter(F.col("lang") == "en"))


# Streaming DSIR store (streaming/dsirstore.py): the raw bucket
# distribution accumulated incrementally over the docs topic, then
# dsir_weights scored against the MERGED store counts — bucket counts
# are exact mergeable sums, so the result must hash-match the batch
# oracle (same CTE, fixture's doc_id < 1000 cut on both sides).
@query(
    "streaming_dsir",
    _DSIR_CTE.replace(
        "FROM documents WHERE text IS NOT NULL",
        "FROM documents WHERE text IS NOT NULL AND doc_id < 1000",
    )
    + "SELECT id, n_feats, logw FROM weights",
)
def q_streaming_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators import sampling
    from mofka_spark.streaming.dsirstore import dsir_sink, read_bucket_counts

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1 => exactly two epochs on the native
    # source (one published log file per partition); final answer
    # epoch-split-invariant, oracle-verified.
    parsed = topic.read_stream(files_per_trigger=1).select(
        F.get_json_object("metadata", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("metadata", "$.text").alias("text"),
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-dsir-"), "store")
    drain(spark, parsed.writeStream.foreachBatch(dsir_sink(store)))
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("doc_id") < 1000)
    )
    return sampling.dsir_weights(
        docs,
        docs.filter(F.col("lang") == "en"),
        raw_counts=read_bucket_counts(spark, store),
    )


@query(
    "dsir_select",
    _DSIR_CTE
    + """
    SELECT id, logw,
           ROUND(logw + (-LN(-LN(
             ((('0x' || substr(md5('gumbel' || id::VARCHAR), 1, 12))::BIGINT
               % 1000000) + 0.5) / 1000000.0))), 6) AS gumbel_key
    FROM weights
    ORDER BY (logw + (-LN(-LN(
             ((('0x' || substr(md5('gumbel' || id::VARCHAR), 1, 12))::BIGINT
               % 1000000) + 0.5) / 1000000.0)))) DESC, id ASC
    LIMIT 50
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k resample of the DSIR weights: sampling without
    replacement proportional to exp(logw), deterministic from the doc
    id's hash, executed as TakeOrderedAndProject (no global sort)."""
    from mofka_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    w = sampling.dsir_weights(docs, docs.filter(F.col("lang") == "en"))
    return sampling.dsir_select(w, 50)


# Count-min frequency sketch (operators/sketch.py count_min_build /
# count_min_estimate): bounded-state per-key frequency estimates with
# the one-sided never-undercount guarantee. The md5 hash family is
# engine-portable, so the oracle computes the IDENTICAL depth x width
# cells and the estimates hash-match exactly — collisions included.
# Probes cover every seen user plus the same ids shifted by 100000
# (never ingested: est is 0 unless every cell collides — also exact).
@query(
    "count_min_freq",
    """
    WITH rs AS (SELECT UNNEST(RANGE(4)) AS r),
    sk AS (
      SELECT rs.r,
             CAST(('0x' || substr(md5('cms' || rs.r || '#' ||
                                      user_id::VARCHAR), 1, 12))::BIGINT
                  % 512 AS INTEGER) AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events, rs GROUP BY 1, 2
    ),
    seen AS (SELECT DISTINCT user_id FROM events),
    probes AS (
      SELECT user_id FROM seen
      UNION ALL SELECT user_id + 100000 FROM seen
    ),
    pos AS (
      SELECT p.user_id, rs.r,
             CAST(('0x' || substr(md5('cms' || rs.r || '#' ||
                                      p.user_id::VARCHAR), 1, 12))::BIGINT
                  % 512 AS INTEGER) AS c
      FROM probes p, rs
    ),
    est AS (
      SELECT pos.user_id, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
      FROM pos LEFT JOIN sk ON sk.r = pos.r AND sk.c = pos.c
      GROUP BY 1
    ),
    t AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_true
          FROM events GROUP BY 1)
    SELECT e.user_id, e.est, COALESCE(t.n_true, 0) AS n_true,
           e.est >= COALESCE(t.n_true, 0) AS never_undercounts
    FROM est e LEFT JOIN t USING (user_id)
    """,
)
def q_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    sk = count_min_build(ev, "user_id", depth=4, width=512)
    seen = ev.select("user_id").distinct()
    probes = seen.unionAll(
        seen.select((F.col("user_id") + 100000).alias("user_id"))
    )
    est = count_min_estimate(sk, probes, "user_id", depth=4, width=512)
    true = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_true")
    )
    n_true = F.coalesce(F.col("n_true"), F.lit(0)).cast("long")
    return est.join(true, "user_id", "left").select(
        "user_id",
        "est",
        n_true.alias("n_true"),
        (F.col("est") >= n_true).alias("never_undercounts"),
    )


# Streaming count-min store (streaming/cms.py): per-epoch depth x width
# counter partials summed at read — cell sums are exact mergeable
# aggregates, so the stream-merged sketch equals the batch sketch no
# matter how the stream was split into epochs, and the gate
# hash-matches the batch oracle exactly.
@query(
    "streaming_cms",
    """
    WITH ev AS (SELECT user_id FROM events WHERE event_id < 5000),
    rs AS (SELECT UNNEST(RANGE(4)) AS r),
    sk AS (
      SELECT rs.r,
             CAST(('0x' || substr(md5('cms' || rs.r || '#' ||
                                      user_id::VARCHAR), 1, 12))::BIGINT
                  % 256 AS INTEGER) AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev, rs GROUP BY 1, 2
    ),
    seen AS (SELECT DISTINCT user_id FROM ev),
    pos AS (
      SELECT p.user_id, rs.r,
             CAST(('0x' || substr(md5('cms' || rs.r || '#' ||
                                      p.user_id::VARCHAR), 1, 12))::BIGINT
                  % 256 AS INTEGER) AS c
      FROM seen p, rs
    ),
    est AS (
      SELECT pos.user_id, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
      FROM pos LEFT JOIN sk ON sk.r = pos.r AND sk.c = pos.c
      GROUP BY 1
    ),
    t AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_true
          FROM ev GROUP BY 1)
    SELECT e.user_id, e.est, t.n_true,
           e.est >= t.n_true AS never_undercounts
    FROM est e JOIN t USING (user_id)
    """,
)
def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.cms import cms_estimates, cms_sink

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select("user_id")
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-cms-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            cms_sink(store, "user_id", depth=4, width=256)
        ),
    )
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    seen = ev.select("user_id").distinct()
    est = cms_estimates(spark, store, seen, "user_id", depth=4, width=256)
    true = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_true")
    )
    return est.join(true, "user_id").select(
        "user_id",
        "est",
        "n_true",
        (F.col("est") >= F.col("n_true")).alias("never_undercounts"),
    )


# Distributed full-corpus k-means (operators/similarity.py
# kmeans_fit_full / kmeans_cells): textbook Lloyd as two distributed
# primitives per round — scan-local argmin against centroid literals,
# then one (cell, dim)-keyed mean capped at k x d rows. The oracle
# unrolls the iteration (the embedding_pca pattern): same deterministic
# init (vectors of the k smallest ids), same dim-ordered distance
# folds, same empty-cell fallback. The gate fits with
# method="ordered" — centroid means as id-ordered folds / count,
# mirrored by list_sum(list(v ORDER BY vec_id)) / COUNT(*) — so the
# means are the same IEEE doubles on both engines and a near-tied
# argmin can never flip under partial-agg reordering (plain AVG is
# association-order dependent; "sums" remains the scale path).
# Output is integer-only (vec_id, cell, n_cell) so there is no
# float-rounding edge in the gate.
@query(
    "kmeans_cells",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    d1 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, len(e.v)),
                      j -> (e.v[j] - i.v[j]) * (e.v[j] - i.v[j]))) AS dist
      FROM e CROSS JOIN init i
    ),
    a1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rk
        FROM d1) WHERE rk = 1
    ),
    m1 AS (
      SELECT a1.cell, gs.j AS dim,
             list_sum(list(e.v[gs.j] ORDER BY e.vec_id))
               / COUNT(*) AS c
      FROM e JOIN a1 USING (vec_id),
           UNNEST(generate_series(1, len(e.v))) AS gs(j)
      GROUP BY 1, 2
    ),
    c1 AS (
      SELECT i.cell, gs.j AS dim, COALESCE(m1.c, i.v[gs.j]) AS c
      FROM init i
      CROSS JOIN UNNEST(generate_series(1, len(i.v))) AS gs(j)
      LEFT JOIN m1 ON m1.cell = i.cell AND m1.dim = gs.j
    ),
    c1l AS (SELECT cell, list(c ORDER BY dim) AS cv FROM c1 GROUP BY cell),
    d2 AS (
      SELECT e.vec_id, c.cell,
             list_sum(list_transform(generate_series(1, len(e.v)),
                      j -> (e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]))) AS dist
      FROM e CROSS JOIN c1l c
    ),
    a2 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rk
        FROM d2) WHERE rk = 1
    ),
    sz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_cell
           FROM a2 GROUP BY 1)
    SELECT a2.vec_id, a2.cell, sz.n_cell FROM a2 JOIN sz USING (cell)
    """,
)
def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import (
        kmeans_cells,
        kmeans_fit_full,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit_full(emb, k=4, iters=1, method="ordered")
    return kmeans_cells(emb, cents)


# Bottom-k (KMV) distinct estimation (operators/sketch.py
# bottomk_distinct): est = (k-1)/u_(k) over md5-hashed distinct values
# — the engine-portable sketch: the estimate is a pure function of the
# hash family, so the oracle computes the IDENTICAL number and the gate
# hash-matches exactly (no tolerance boolean doing the real work, the
# within_tol column just documents the ~1/sqrt(k) accuracy).
@query(
    "bottomk_distinct",
    """
    WITH d AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL
    ),
    u AS (
      SELECT event_type,
             ((('0x' || substr(md5('bk' || user_id::VARCHAR), 1, 12))::BIGINT
               % 281474976710656) + 1) / 281474976710656.0 AS u
      FROM d
    ),
    r AS (
      SELECT event_type, u,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM u
    ),
    a AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             MAX(CASE WHEN rn = 64 THEN u END) AS uk
      FROM r WHERE rn <= 64 GROUP BY 1
    ),
    e AS (
      SELECT event_type,
             ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                        ELSE 63.0 / uk END, 4) AS est_distinct
      FROM a
    ),
    x AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type, e.est_distinct, x.exact_distinct,
           ABS(e.est_distinct - x.exact_distinct)
             <= 0.5 * x.exact_distinct AS within_tol
    FROM e JOIN x USING (event_type)
    """,
)
def q_bottomk_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sketch import bottomk_distinct

    ev = _t(spark, sf_dir, "events")
    est = bottomk_distinct(ev, "event_type", "user_id", k=64)
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    tol = (
        F.abs(F.col("est_distinct") - F.col("exact_distinct"))
        <= 0.5 * F.col("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "est_distinct", "exact_distinct",
        tol.alias("within_tol"),
    )


# Semi-supervised label propagation (operators/similarity.py
# label_propagation): clamp a 20% seed mask (vec_id % 5 == 0), spread
# labels two synchronous majority rounds over the exact kNN graph.
# The oracle unrolls both rounds; the neighbor ranking reuses the
# label_noise_scan discipline (cosine rounded to 6dp, id tiebreak) and
# all propagation arithmetic is integer counts with label-asc ties.
@query(
    "label_propagation",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CASE WHEN vec_id % 5 = 0 THEN label END AS lbl
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    nb AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.v, c.v), 6) AS score
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    knn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rnk
        FROM nb) WHERE rnk <= 10
    ),
    l0 AS (SELECT vec_id AS id, lbl FROM e),
    v1 AS (
      SELECT k.query_id, l.lbl AS n_lbl, COUNT(*) AS n
      FROM knn k JOIN l0 l ON l.id = k.neighbor_id
      WHERE l.lbl IS NOT NULL GROUP BY 1, 2
    ),
    t1 AS (
      SELECT query_id AS id, n_lbl AS prop FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n DESC, n_lbl) AS rk
        FROM v1) WHERE rk = 1
    ),
    l1 AS (
      SELECT l0.id, COALESCE(l0.lbl, t1.prop) AS lbl
      FROM l0 LEFT JOIN t1 USING (id)
    ),
    v2 AS (
      SELECT k.query_id, l.lbl AS n_lbl, COUNT(*) AS n
      FROM knn k JOIN l1 l ON l.id = k.neighbor_id
      WHERE l.lbl IS NOT NULL GROUP BY 1, 2
    ),
    t2 AS (
      SELECT query_id AS id, n_lbl AS prop FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n DESC, n_lbl) AS rk
        FROM v2) WHERE rk = 1
    )
    SELECT l0.id, COALESCE(l0.lbl, t2.prop) AS label,
           l0.lbl IS NOT NULL AS is_seed
    FROM l0 LEFT JOIN t2 USING (id)
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import label_propagation

    emb = _t(spark, sf_dir, "embeddings")
    masked = emb.withColumn(
        "label",
        F.when(F.pmod(F.col("vec_id"), F.lit(5)) == 0, F.col("label")),
    )
    return label_propagation(masked, k=10, iters=2)


# KMV distinct estimates straight off the streaming sample store
# (streaming/sample.py estimate_distinct): the per-epoch bottom-k
# summaries ARE a k-minimum-values sketch, so cardinality is one more
# reader over the store — no new write path, and the estimate is a
# pure function of the ingested key set (hash-matches the oracle
# exactly, including the estimator's own error).
@query(
    "streaming_bottomk_distinct",
    """
    WITH ev AS (
      SELECT DISTINCT event_type AS stratum, user_id::VARCHAR AS key
      FROM events WHERE event_id < 5000 AND user_id IS NOT NULL
    ),
    u AS (
      SELECT stratum,
             ((('0x' || substr(md5('rs' || key), 1, 12))::BIGINT
               % 1000000) + 1) / 1000000.0 AS u
      FROM ev
    ),
    r AS (
      SELECT stratum, u,
             ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY u) AS rn
      FROM u
    ),
    a AS (
      SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
             MAX(CASE WHEN rn = 64 THEN u END) AS uk
      FROM r WHERE rn <= 64 GROUP BY 1
    )
    SELECT stratum,
           ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                      ELSE 63.0 / uk END, 4) AS est_distinct
    FROM a
    """,
)
def q_streaming_bottomk_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.sample import estimate_distinct, sample_sink

    topic = _stream_fixture(spark, sf_dir, "events")
    parsed = _events_stream(topic, 5000).select("event_type", "user_id")
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-bkd-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            sample_sink(store, "user_id", "event_type", k=64)
        ),
    )
    return estimate_distinct(spark, store, k=64)


# Greedy k-center coreset selection (operators/similarity.py
# kcenter_select): the oracle unrolls all four rounds — centers are
# actual corpus vectors (never averaged) and distances are dim-ordered
# folds, so argmax picks and radii are bit-identical across engines.
@query(
    "kcenter_coreset",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    d1 AS (
      SELECT e.vec_id, e.v,
             list_sum(list_transform(generate_series(1, len(e.v)),
                      j -> (e.v[j]-c0.v[j])*(e.v[j]-c0.v[j]))) AS dmin
      FROM e CROSS JOIN c0
    ),
    p1 AS (SELECT vec_id, v, dmin FROM d1
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT d1.vec_id, d1.v,
             LEAST(d1.dmin,
                   list_sum(list_transform(generate_series(1, len(d1.v)),
                            j -> (d1.v[j]-p1.v[j])*(d1.v[j]-p1.v[j]))))
               AS dmin
      FROM d1 CROSS JOIN p1
    ),
    p2 AS (SELECT vec_id, v, dmin FROM d2
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d3 AS (
      SELECT d2.vec_id, d2.v,
             LEAST(d2.dmin,
                   list_sum(list_transform(generate_series(1, len(d2.v)),
                            j -> (d2.v[j]-p2.v[j])*(d2.v[j]-p2.v[j]))))
               AS dmin
      FROM d2 CROSS JOIN p2
    ),
    p3 AS (SELECT vec_id, v, dmin FROM d3
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d4 AS (
      SELECT d3.vec_id, d3.v,
             LEAST(d3.dmin,
                   list_sum(list_transform(generate_series(1, len(d3.v)),
                            j -> (d3.v[j]-p3.v[j])*(d3.v[j]-p3.v[j]))))
               AS dmin
      FROM d3 CROSS JOIN p3
    ),
    p4 AS (SELECT vec_id, v, dmin FROM d4
           ORDER BY dmin DESC, vec_id LIMIT 1)
    SELECT 0 AS pick_order, (SELECT vec_id FROM c0) AS id,
           CAST(NULL AS DOUBLE) AS radius
    UNION ALL SELECT 1, (SELECT vec_id FROM p1), (SELECT dmin FROM p1)
    UNION ALL SELECT 2, (SELECT vec_id FROM p2), (SELECT dmin FROM p2)
    UNION ALL SELECT 3, (SELECT vec_id FROM p3), (SELECT dmin FROM p3)
    UNION ALL SELECT 4, (SELECT vec_id FROM p4), (SELECT dmin FROM p4)
    """,
)
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=5)


# PSI drift detection (operators/quality.py psi_drift): population
# stability index of the value distribution between the stream's first
# 5000 events (reference) and the rest (current), per event type —
# reference-min/max equal-width bins, 1e-6 probability floor, bin
# terms folded in bin order on both sides for float identity.
@query(
    "value_drift_psi",
    """
    WITH r AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_id < 5000 AND value IS NOT NULL
    ),
    c AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_id >= 5000 AND value IS NOT NULL
    ),
    b AS (SELECT g, MIN(v) AS lo, MAX(v) AS hi FROM r GROUP BY g),
    rb AS (
      SELECT r.g,
             CAST(LEAST(GREATEST(FLOOR((r.v - b.lo) /
                     GREATEST((b.hi - b.lo) / 10.0, 1e-12)),
                   0), 9) AS INTEGER) AS bin
      FROM r JOIN b USING (g)
    ),
    cb AS (
      SELECT c.g,
             CAST(LEAST(GREATEST(FLOOR((c.v - b.lo) /
                     GREATEST((b.hi - b.lo) / 10.0, 1e-12)),
                   0), 9) AS INTEGER) AS bin
      FROM c JOIN b USING (g)
    ),
    spine AS (
      SELECT b.g, gs.i AS bin
      FROM b, UNNEST(generate_series(0, 9)) AS gs(i)
    ),
    nr AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n
           FROM rb GROUP BY 1, 2),
    nc AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n
           FROM cb GROUP BY 1, 2),
    pb AS (
      SELECT s.g, s.bin, COALESCE(nr.n, 0) AS nr, COALESCE(nc.n, 0) AS nc
      FROM spine s
      LEFT JOIN nr ON nr.g = s.g AND nr.bin = s.bin
      LEFT JOIN nc ON nc.g = s.g AND nc.bin = s.bin
    ),
    t AS (
      SELECT g, CAST(SUM(nr) AS BIGINT) AS n_ref,
             CAST(SUM(nc) AS BIGINT) AS n_cur
      FROM pb GROUP BY g
    ),
    terms AS (
      SELECT pb.g, pb.bin,
             (GREATEST(CASE WHEN t.n_cur > 0 THEN pb.nc / CAST(t.n_cur AS DOUBLE) ELSE 0 END, 1e-6)
              - GREATEST(CASE WHEN t.n_ref > 0 THEN pb.nr / CAST(t.n_ref AS DOUBLE) ELSE 0 END, 1e-6))
             * LN(GREATEST(CASE WHEN t.n_cur > 0 THEN pb.nc / CAST(t.n_cur AS DOUBLE) ELSE 0 END, 1e-6)
                  / GREATEST(CASE WHEN t.n_ref > 0 THEN pb.nr / CAST(t.n_ref AS DOUBLE) ELSE 0 END, 1e-6))
               AS term
      FROM pb JOIN t USING (g)
    ),
    f AS (SELECT g, list_sum(list(term ORDER BY bin)) AS psi
          FROM terms GROUP BY g)
    SELECT f.g AS event_type, t.n_ref, t.n_cur,
           0.0 + ROUND(f.psi, 6) AS psi, f.psi > 0.2 AS drifted
    FROM f JOIN t USING (g)
    """,
)
def q_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import psi_drift

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") < 5000)
    cur = ev.filter(F.col("event_id") >= 5000)
    return psi_drift(ref, cur, "value", group_col="event_type")


# Drift-since-checkpoint off the streaming histogram store
# (streaming/quantiles.py read_drift): reference = the distribution as
# of epoch 0 (the first 5000 events), current = everything — PSI from
# stored (group, bin, cnt) rows alone, no history rescan. Epochs are
# driven deterministically (two direct sink calls) so the oracle can
# mirror the cut; bins are the store's declared [0, 500)/50 grid.
@query(
    "streaming_drift",
    """
    WITH r AS (
      SELECT event_type AS g,
             CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0), 49) AS BIGINT)
               AS b
      FROM events WHERE event_id < 5000 AND value IS NOT NULL
    ),
    c AS (
      SELECT event_type AS g,
             CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0), 49) AS BIGINT)
               AS b
      FROM events WHERE value IS NOT NULL
    ),
    nr AS (SELECT g, b, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1, 2),
    nc AS (SELECT g, b, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
    spine AS (
      SELECT g, gs.i AS b
      FROM (SELECT DISTINCT g FROM r), UNNEST(generate_series(0, 49)) AS gs(i)
    ),
    pb AS (
      SELECT s.g, s.b, COALESCE(nr.n, 0) AS _nr, COALESCE(nc.n, 0) AS _nc
      FROM spine s
      LEFT JOIN nr ON nr.g = s.g AND nr.b = s.b
      LEFT JOIN nc ON nc.g = s.g AND nc.b = s.b
    ),
    t AS (
      SELECT g, CAST(SUM(_nr) AS BIGINT) AS n_ref,
             CAST(SUM(_nc) AS BIGINT) AS n_cur
      FROM pb GROUP BY g
    ),
    terms AS (
      SELECT pb.g, pb.b,
             (GREATEST(CASE WHEN t.n_cur > 0 THEN pb._nc / CAST(t.n_cur AS DOUBLE) ELSE 0 END, 1e-6)
              - GREATEST(CASE WHEN t.n_ref > 0 THEN pb._nr / CAST(t.n_ref AS DOUBLE) ELSE 0 END, 1e-6))
             * LN(GREATEST(CASE WHEN t.n_cur > 0 THEN pb._nc / CAST(t.n_cur AS DOUBLE) ELSE 0 END, 1e-6)
                  / GREATEST(CASE WHEN t.n_ref > 0 THEN pb._nr / CAST(t.n_ref AS DOUBLE) ELSE 0 END, 1e-6))
               AS term
      FROM pb JOIN t USING (g)
    ),
    f AS (SELECT g, list_sum(list(term ORDER BY b)) AS psi
          FROM terms GROUP BY g)
    SELECT f.g AS event_type, t.n_ref, t.n_cur,
           0.0 + ROUND(f.psi, 6) AS psi, f.psi > 0.2 AS drifted
    FROM f JOIN t USING (g)
    """,
)
def q_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.quantiles import histogram_sink, read_drift

    ev = _t(spark, sf_dir, "events")
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-drift-"), "store")
    sink = histogram_sink(
        store, ["event_type"], "value", lo=0.0, hi=500.0, nbins=50
    )
    sink(ev.filter(F.col("event_id") < 5000), 0)
    sink(ev.filter(F.col("event_id") >= 5000), 1)
    return read_drift(
        spark,
        store,
        "event_type",
        "event_type string, bin long, cnt long",
        nbins=50,
        ref_epoch=0,
    )


# Packing manifest (operators/packing.py pack_manifest): the
# per-window span table a dataloader turns into attention/loss masks —
# pure integer arithmetic over pack_sequences' prefix-sum positions,
# so the oracle extends the pack_sequences CTE with a bin explode.
@query(
    "pack_manifest",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS global_start
      FROM t
    ), p AS (
      SELECT doc_id AS id, n_tokens, global_start,
             CAST(FLOOR(global_start / 512) AS BIGINT) AS first_bin,
             CAST(FLOOR((global_start + greatest(n_tokens, 1) - 1) / 512)
                  AS BIGINT) AS last_bin
      FROM s
    ), x AS (
      SELECT p.id, p.n_tokens, p.global_start, gs.b AS bin
      FROM p, UNNEST(generate_series(p.first_bin, p.last_bin)) AS gs(b)
    )
    SELECT CAST(bin AS BIGINT) AS bin, id,
           CAST(GREATEST(global_start, bin * 512) - bin * 512 AS BIGINT)
             AS start_in_bin,
           CAST(LEAST(global_start + n_tokens, (bin + 1) * 512)
                - GREATEST(global_start, bin * 512) AS BIGINT) AS span_len,
           GREATEST(global_start, bin * 512) = global_start AS is_doc_start,
           LEAST(global_start + n_tokens, (bin + 1) * 512)
             = global_start + n_tokens AS is_doc_end
    FROM x
    """,
)
def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return packing.pack_manifest(
        sized, id_col="doc_id", tokens_col="n_tokens", capacity=512
    )


# Vocabulary build + id encoding (operators/text.py build_vocab /
# encode_ids): the text -> training-tensor bridge. Ids are dense and
# deterministic (count desc, token asc; 0 reserved for OOV) so the
# oracle replays the whole tokenizer: same token pipeline as the
# doc_hash gates, ROW_NUMBER ids over the same order, LEFT JOIN +
# COALESCE(0) for OOV. Integer-only output.
@query(
    "token_ids",
    r"""
    WITH d AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT id, gs.i - 1 AS pos, ts[gs.i] AS token
      FROM d, UNNEST(generate_series(1, len(ts))) AS gs(i)
      WHERE ts[gs.i] <> ''
    ), counts AS (
      SELECT token, COUNT(*) AS n FROM toks GROUP BY token
    ), vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC)
                  AS INTEGER) AS token_id
      FROM counts ORDER BY n DESC, token ASC LIMIT 50
    )
    SELECT toks.id, CAST(toks.pos AS BIGINT) AS pos,
           COALESCE(vocab.token_id, 0) AS token_id
    FROM toks LEFT JOIN vocab USING (token)
    """,
)
def q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import build_vocab, encode_ids

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, max_vocab=50)
    return encode_ids(docs, vocab)


# Sampling-temperature mixture SHARES (operators/sampling.py
# temperature_shares): share_s ∝ (count_s / total)^(1/T), the
# mT5/XLM-R multilingual rebalancing knob, T=2 here — the share-TABLE
# companion of the temperature_mix gate above (which SAMPLES rows at
# n^alpha budgets; alpha = 1/T yields the same proportions). Exact
# float identity: p^(1/T) written as exp(ln(p)/T) on BOTH engines and
# both normalizing sums as stratum-ordered folds (list_sum over ORDER
# BY stratum = the in-row F.aggregate fold).
@query(
    "temperature_shares",
    """
    WITH c AS (
      SELECT lang AS stratum, CAST(COUNT(*) AS DOUBLE) AS available
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), l AS (
      SELECT list(stratum ORDER BY stratum) AS ss,
             list(available ORDER BY stratum) AS aa
      FROM c
    ), t AS (
      SELECT ss, aa, list_sum(aa) AS total FROM l
    ), p AS (
      SELECT ss, aa, total,
             list_transform(aa, a -> exp(ln(a / total) / 2.0)) AS pp
      FROM t
    ), d AS (
      SELECT ss, aa, total, pp, list_sum(pp) AS denom FROM p
    )
    SELECT ss[gs.i] AS stratum,
           aa[gs.i] AS available,
           ROUND(aa[gs.i] / total, 6) AS natural_share,
           ROUND(pp[gs.i] / denom, 6) AS share
    FROM d, UNNEST(generate_series(1, len(ss))) AS gs(i)
    """,
)
def q_temperature_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import temperature_shares

    docs = _t(spark, sf_dir, "documents")
    return temperature_shares(docs, "lang", temperature=2.0)


# Training-mixture budgeting (operators/sampling.py mixture_plan):
# per-stratum repeat factors to hit target shares of a fixed budget,
# UniMax-capped — one stratum aggregate plus O(#strata) arithmetic.
# es's 0.35 share of 1000 needs 4.79 epochs of its 73 docs -> capped.
@query(
    "mixture_plan",
    """
    WITH counts AS (
      SELECT lang AS stratum, ROUND(CAST(COUNT(*) AS DOUBLE), 4)
               AS available
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ),
    t AS (
      SELECT stratum, available,
             CASE stratum WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2
                          WHEN 'zh' THEN 0.2 WHEN 'es' THEN 0.35 END
               AS target_share
      FROM counts
    )
    SELECT stratum, available, target_share,
           ROUND(target_share * 1000.0, 4) AS desired,
           ROUND(LEAST(target_share * 1000.0 / available, 4.0), 6)
             AS repeat_factor,
           ROUND(available * LEAST(target_share * 1000.0 / available, 4.0),
                 4) AS realized,
           target_share * 1000.0 / available > 4.0 AS capped
    FROM t WHERE target_share IS NOT NULL
    """,
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    return mixture_plan(
        docs,
        "lang",
        {"en": 0.5, "de": 0.2, "zh": 0.2, "es": 0.35},
        budget=1000,
        max_repeat=4.0,
    )


# Mixture materialization with upsampling (operators/sampling.py
# mixture_expand): floor(rate) full copies per row + one fractional
# copy decided by the md5 hash — the repetition counterpart of
# training_mix's downsampling. Copy multisets are pure functions of
# (key, salt, rates), so the oracle reproduces them exactly.
@query(
    "mixture_expand",
    """
    WITH d AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2
                       WHEN 'zh' THEN 1 END AS n_full,
             CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.5
                       WHEN 'zh' THEN 0.0 END AS frac
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang,
             n_full + CASE WHEN
               (('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 12))
                 ::BIGINT % 1000000) / 1000000.0 < frac
               THEN 1 ELSE 0 END AS copies
      FROM d WHERE n_full IS NOT NULL
    )
    SELECT doc_id, lang, CAST(gs.i AS INTEGER) AS copy
    FROM c, UNNEST(generate_series(1, c.copies)) AS gs(i)
    """,
)
def q_mixture_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import mixture_expand

    docs = _t(spark, sf_dir, "documents")
    return mixture_expand(
        docs, "doc_id", "lang", {"en": 0.3, "de": 2.5, "zh": 1.0}
    )


# Product-quantization codes (operators/similarity.py pq_encode):
# per-subspace argmin vs codebook literals (m=2 subspaces over the
# 64-dim embeddings). Gate codebooks = the deterministic init
# (subvector halves of the 4 smallest ids) so the oracle holds them
# exactly; integer-only output (the kmeans_cells discipline).
@query(
    "pq_codes",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    d0 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t] - i.v[t]) * (e.v[t] - i.v[t]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c0 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d0) WHERE rk = 1
    ),
    d1 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t + 32] - i.v[t + 32])
                           * (e.v[t + 32] - i.v[t + 32]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d1) WHERE rk = 1
    )
    SELECT e.vec_id AS id, c0.cell AS code_0, c1.cell AS code_1
    FROM e JOIN c0 USING (vec_id) JOIN c1 USING (vec_id)
    """,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(4).collect()
    )
    books = [
        [[float(x) for x in r["embedding"][:32]] for r in first],
        [[float(x) for x in r["embedding"][32:]] for r in first],
    ]
    out = pq_encode(emb, books)
    return out.select(
        "id",
        F.col("codes")[0].alias("code_0"),
        F.col("codes")[1].alias("code_1"),
    )


# PQ asymmetric-distance top-k (operators/similarity.py pq_topk):
# corpus distances from code lookups alone — the oracle recomputes the
# per-query m x k tables with the same dim-ordered folds and sums the
# two entries in subspace order; distances hash-match bit-for-bit.
@query(
    "pq_adc_topk",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    d0 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t] - i.v[t]) * (e.v[t] - i.v[t]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c0 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d0) WHERE rk = 1
    ),
    d1 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t + 32] - i.v[t + 32])
                           * (e.v[t + 32] - i.v[t + 32]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d1) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
    t0 AS (
      SELECT q.query_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (q.v[t] - i.v[t]) * (q.v[t] - i.v[t]))) AS dist
      FROM q CROSS JOIN init i
    ),
    t1 AS (
      SELECT q.query_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (q.v[t + 32] - i.v[t + 32])
                           * (q.v[t + 32] - i.v[t + 32]))) AS dist
      FROM q CROSS JOIN init i
    ),
    scored AS (
      SELECT t0.query_id, e.vec_id AS neighbor_id,
             0.0 + ROUND(t0.dist + t1.dist, 6) AS distance
      FROM e
      JOIN c0 ON c0.vec_id = e.vec_id
      JOIN c1 ON c1.vec_id = e.vec_id
      JOIN t0 ON t0.cell = c0.cell
      JOIN t1 ON t1.cell = c1.cell AND t1.query_id = t0.query_id
      WHERE e.vec_id <> t0.query_id
    )
    SELECT query_id, neighbor_id, distance, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY distance ASC, neighbor_id ASC) AS rk
      FROM scored)
    WHERE rk <= 5
    """,
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import pq_encode, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(4).collect()
    )
    books = [
        [[float(x) for x in r["embedding"][:32]] for r in first],
        [[float(x) for x in r["embedding"][32:]] for r in first],
    ]
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    return pq_topk(queries, codes, books, k=5)


# PQ shortlist + exact rerank (operators/similarity.py pq_rerank):
# the production search shape — ADC picks a 20-deep shortlist from
# codes alone, true squared-L2 reranks just those pairs. Every stage
# is deterministic under the init-codebook discipline, so the oracle
# replays shortlist AND rerank bit-for-bit.
@query(
    "pq_rerank_topk",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    d0 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t] - i.v[t]) * (e.v[t] - i.v[t]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c0 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d0) WHERE rk = 1
    ),
    d1 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t + 32] - i.v[t + 32])
                           * (e.v[t + 32] - i.v[t + 32]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d1) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
    t0 AS (
      SELECT q.query_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (q.v[t] - i.v[t]) * (q.v[t] - i.v[t]))) AS dist
      FROM q CROSS JOIN init i
    ),
    t1 AS (
      SELECT q.query_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (q.v[t + 32] - i.v[t + 32])
                           * (q.v[t + 32] - i.v[t + 32]))) AS dist
      FROM q CROSS JOIN init i
    ),
    scored AS (
      SELECT t0.query_id, e.vec_id AS neighbor_id,
             0.0 + ROUND(t0.dist + t1.dist, 6) AS distance
      FROM e
      JOIN c0 ON c0.vec_id = e.vec_id
      JOIN c1 ON c1.vec_id = e.vec_id
      JOIN t0 ON t0.cell = c0.cell
      JOIN t1 ON t1.cell = c1.cell AND t1.query_id = t0.query_id
      WHERE e.vec_id <> t0.query_id
    )
    , sl AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY distance ASC, neighbor_id ASC) AS rk
        FROM scored)
      WHERE rk <= 20
    ),
    rr AS (
      SELECT s.query_id, s.neighbor_id,
             0.0 + ROUND(list_sum(list_transform(generate_series(1, 64),
                   t -> (q.v[t] - e.v[t]) * (q.v[t] - e.v[t]))), 6)
               AS distance
      FROM sl s
      JOIN q ON q.query_id = s.query_id
      JOIN e ON e.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, distance, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY distance ASC, neighbor_id ASC) AS rk
      FROM rr)
    WHERE rk <= 5
    """,
)
def q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import pq_encode, pq_rerank

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(4).collect()
    )
    books = [
        [[float(x) for x in r["embedding"][:32]] for r in first],
        [[float(x) for x in r["embedding"][32:]] for r in first],
    ]
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    return pq_rerank(queries, codes, books, emb, k=5, shortlist=20)


# IVF-PQ search (operators/similarity.py ivfpq_topk): nprobe coarse
# cells pruned first, PQ asymmetric distance within them — the full
# compressed-domain ANN stack, deterministic end to end (init coarse
# model + init codebooks; the oracle replays probes, codes, and ADC
# sums exactly).
@query(
    "ivfpq_topk",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    dfull AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 64),
                      t -> (e.v[t] - i.v[t]) * (e.v[t] - i.v[t]))) AS dist
      FROM e CROSS JOIN init i
    ),
    cf AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM dfull) WHERE rk = 1
    ),
    d0 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t] - i.v[t]) * (e.v[t] - i.v[t]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c0 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d0) WHERE rk = 1
    ),
    d1 AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (e.v[t + 32] - i.v[t + 32])
                           * (e.v[t + 32] - i.v[t + 32]))) AS dist
      FROM e CROSS JOIN init i
    ),
    c1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cell) AS rk FROM d1) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
    pr AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, i.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                          t -> (q.v[t] - i.v[t]) * (q.v[t] - i.v[t]))),
                 i.cell) AS rk
        FROM q CROSS JOIN init i) WHERE rk <= 2
    ),
    t0 AS (
      SELECT q.query_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (q.v[t] - i.v[t]) * (q.v[t] - i.v[t]))) AS dist
      FROM q CROSS JOIN init i
    ),
    t1 AS (
      SELECT q.query_id, i.cell,
             list_sum(list_transform(generate_series(1, 32),
                      t -> (q.v[t + 32] - i.v[t + 32])
                           * (q.v[t + 32] - i.v[t + 32]))) AS dist
      FROM q CROSS JOIN init i
    ),
    scored AS (
      SELECT t0.query_id, e.vec_id AS neighbor_id,
             0.0 + ROUND(t0.dist + t1.dist, 6) AS distance
      FROM e
      JOIN cf ON cf.vec_id = e.vec_id
      JOIN c0 ON c0.vec_id = e.vec_id
      JOIN c1 ON c1.vec_id = e.vec_id
      JOIN t0 ON t0.cell = c0.cell
      JOIN t1 ON t1.cell = c1.cell AND t1.query_id = t0.query_id
      JOIN pr ON pr.query_id = t0.query_id AND pr.cell = cf.cell
      WHERE e.vec_id <> t0.query_id
    )
    SELECT query_id, neighbor_id, distance, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY distance ASC, neighbor_id ASC) AS rk
      FROM scored)
    WHERE rk <= 5
    """,
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import ivfpq_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(4).collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in first]
    books = [
        [[float(x) for x in r["embedding"][:32]] for r in first],
        [[float(x) for x in r["embedding"][32:]] for r in first],
    ]
    codes = pq_encode(emb, books, coarse_centroids=cents)
    queries = emb.filter(F.col("vec_id") < 3)
    return ivfpq_topk(queries, codes, books, cents, k=5, nprobe=2)


# Batch IVF-PQ code TABLE (operators/similarity.py write_pq_codes /
# search_pq_codes): the codes persisted hive-partitioned by cell, the
# probe union pruning unopened cell directories at plan time. Same
# oracle as ivfpq_topk — the persisted layout must be invisible to
# results (pytest separately pins the PartitionFilters evidence).
@query("pq_code_table_topk", ORACLE_SQL["ivfpq_topk"])
def q_pq_code_table_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators.similarity import (
        pq_encode,
        search_pq_codes,
        write_pq_codes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(4).collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in first]
    books = [
        [[float(x) for x in r["embedding"][:32]] for r in first],
        [[float(x) for x in r["embedding"][32:]] for r in first],
    ]
    root = tempfile.mkdtemp(prefix="mofka-pqtable-")
    path = os.path.join(root, "codes")
    write_pq_codes(pq_encode(emb, books, coarse_centroids=cents), path)
    queries = emb.filter(F.col("vec_id") < 3)
    return search_pq_codes(
        spark, path, queries, books, cents, k=5, nprobe=2
    )


# Incremental IVF-PQ code store (streaming/pqindex.py): vectors stream
# in, only m-code rows are stored (cell-partitioned), search is ADC
# over probed directories. Built over an arbitrary epoch split, the
# result must hash-match batch ivfpq_topk's oracle — same models, same
# probes, same ADC sums (the streaming_ann_index invariant in the
# compressed domain).
@query("streaming_pq_index", ORACLE_SQL["ivfpq_topk"])
def q_streaming_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators.similarity import ivfpq_topk  # noqa: F401
    from mofka_spark.streaming.pqindex import (
        compact_pq_index,
        pq_index_sink,
        search_pq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(4).collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in first]
    books = [
        [[float(x) for x in r["embedding"][:32]] for r in first],
        [[float(x) for x in r["embedding"][32:]] for r in first],
    ]
    root = tempfile.mkdtemp(prefix="mofka-pqidx-")
    store = os.path.join(root, "store")
    sink = pq_index_sink(store, books, cents, id_col="vec_id")
    med = emb.agg(F.max("vec_id")).first()[0] // 2
    sink(emb.filter(F.col("vec_id") <= med), 0)
    sink(emb.filter(F.col("vec_id") > med), 1)
    compact_pq_index(spark, store)  # fold fragments; answers unchanged
    queries = emb.filter(F.col("vec_id") < 3)
    return search_pq_index(
        spark, store, queries, books, cents, k=5, nprobe=2, id_col="vec_id"
    )


# Deterministic shard plan (operators/packing.py shard_plan): the
# export_shards training order as an inspectable frame — seeded
# epoch_shuffle permutation cut into fixed-size shards.
@query(
    "shard_plan",
    """
    WITH k AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || ':17'), 1, 15))::BIGINT
               AS shuffle_key
      FROM documents
    ), p AS (
      SELECT doc_id AS id,
             CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
                  AS BIGINT) AS epoch_pos
      FROM k
    )
    SELECT id, epoch_pos,
           CAST(epoch_pos // 100 AS INTEGER) AS shard
    FROM p
    """,
)
def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    docs = _t(spark, sf_dir, "documents")
    return packing.shard_plan(docs, "doc_id", shard_rows=100, seed=17)


# Feature-hashing embeddings (operators/text.py hash_embed): signed
# token hashing projects each document to a 64-d integer-sum vector —
# the model-free bridge from the text corpus into the vector stack.
# md5 index + sign, integer sums: bit-reproducible.
@query(
    "doc_hash_embeddings",
    r"""
    WITH toks AS (
      SELECT doc_id AS id,
             UNNEST(string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ')) AS t
      FROM documents WHERE text IS NOT NULL
    ), h AS (
      SELECT id,
             ('0x' || substr(md5('hembed' || t), 1, 12))::BIGINT % 64 AS d,
             1 - 2 * (('0x' || substr(md5('hembed#s' || t), 1, 12))::BIGINT
                      % 2) AS s
      FROM toks
    ), e AS (
      SELECT id, d, CAST(SUM(s) AS BIGINT) AS v FROM h GROUP BY id, d
    ), sp AS (
      SELECT ids.id, gs.i AS d
      FROM (SELECT DISTINCT id FROM e) ids,
           UNNEST(generate_series(0, 63)) AS gs(i)
    ), filled AS (
      SELECT sp.id, sp.d, COALESCE(e.v, 0) AS v
      FROM sp LEFT JOIN e ON e.id = sp.id AND e.d = sp.d
    )
    SELECT id, CAST(d AS BIGINT) AS dim, CAST(v AS DOUBLE) AS value
    FROM filled
    """,
)
def q_doc_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array outputs follow the posexplode convention (random_projection
    # above): the driver's canonicalizer sorts rows by all columns via
    # pandas and cannot hash list cells, so gates emit (id, dim, value)
    # scalars. Values are exact integer sums stored as doubles.
    from mofka_spark.operators.text import hash_embed

    docs = _t(spark, sf_dir, "documents")
    return hash_embed(docs).select(
        "id", F.posexplode("embedding").alias("dim", "value")
    ).select("id", F.col("dim").cast("long").alias("dim"), "value")


# Hash-embedded document kNN (hash_embed -> brute_force_topk): the
# text corpus searched as vectors with NO external model or embeddings
# table — the full text->vector->ANN composition, oracle-exact.
@query(
    "doc_hash_knn",
    r"""
    WITH toks AS (
      SELECT doc_id AS id,
             UNNEST(string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ')) AS t
      FROM documents WHERE text IS NOT NULL
    ), h AS (
      SELECT id,
             ('0x' || substr(md5('hembed' || t), 1, 12))::BIGINT % 64 AS d,
             1 - 2 * (('0x' || substr(md5('hembed#s' || t), 1, 12))::BIGINT
                      % 2) AS s
      FROM toks
    ), e AS (
      SELECT id, d, CAST(SUM(s) AS BIGINT) AS v FROM h GROUP BY id, d
    ), sp AS (
      SELECT ids.id, gs.i AS d
      FROM (SELECT DISTINCT id FROM e) ids,
           UNNEST(generate_series(0, 63)) AS gs(i)
    ), filled AS (
      SELECT sp.id, sp.d, COALESCE(e.v, 0) AS v
      FROM sp LEFT JOIN e ON e.id = sp.id AND e.d = sp.d
    ), vecs AS (
      SELECT id, list(CAST(v AS DOUBLE) ORDER BY d) AS vec
      FROM filled GROUP BY id
      HAVING list_sum(list_transform(list(CAST(v AS DOUBLE) ORDER BY d),
                      x -> x * x)) > 0
    ), q AS (
      SELECT id AS query_id, vec AS qvec FROM vecs WHERE id < 3
    ), scored AS (
      SELECT q.query_id, c.id AS neighbor_id,
             ROUND(list_cosine_similarity(q.qvec, c.vec), 6) AS score
      FROM vecs c, q
      WHERE c.id <> q.query_id
    )
    SELECT query_id, neighbor_id, score, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_doc_hash_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import hash_embed

    docs = _t(spark, sf_dir, "documents")
    # one materialization: the embed frame feeds the query filter AND
    # the corpus side — without it the tokenize/hash pipeline would
    # re-run per branch (thin id + 64 doubles; GC-bounded checkpoint)
    emb = hash_embed(docs).withColumnRenamed("id", "vec_id").localCheckpoint(
        eager=True
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.brute_force_topk(queries, emb, k=5)


# The text->vector SCALE path, gated end-to-end: hash_embed feeds
# ivf_topk (cell-pruned ANN) and recall@5 is checked against the
# exact brute-force top-k computed in-engine over the same embedded
# corpus — the lsh_recall/ivf_recall pattern applied to the
# hash-embedding bridge, so SCALING.md's "at real scale the
# embeddings feed the ANN family" claim is a green gate, not an
# assertion. Deterministic: md5 embeddings + seeded centroid fit.
# Measured at sf0.01: IVF(8 cells, probe 4) min-recall 0.8; the 0.6
# bar sits a full quantum (0.2 at k=5) below.
@query(
    "doc_hash_ann",
    """
    SELECT doc_id AS query_id, (1=1) AS recall_ok
    FROM documents WHERE doc_id < 3 AND text IS NOT NULL
    """,
)
def q_doc_hash_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import hash_embed

    docs = _t(spark, sf_dir, "documents")
    # the embed frame feeds FOUR consumers (exact arm, approx arm, the
    # centroid fit inside ivf_topk, the query filter) — materialize it
    # once or the tokenize/hash pipeline re-runs per branch
    emb = hash_embed(docs).withColumnRenamed("id", "vec_id").localCheckpoint(
        eager=True
    )
    queries = emb.filter(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivf_topk(
        queries, emb, k=5, n_centroids=8, nprobe=4
    )
    rec = similarity.topk_recall(approx, exact, k=5)
    return rec.select(
        "query_id", (F.col("recall") >= 0.6).alias("recall_ok")
    )


# Per-stratum Zipf fit (operators/text.py zipf_fit): least-squares
# ln(count) ~ ln(rank) over the unigram vocabulary — natural text sits
# near slope -1. value_trend's exact discipline: rank-ordered folds on
# both sides so the IEEE sums agree bit-for-bit.
@query(
    "zipf_fit",
    r"""
    WITH toks AS (
      SELECT source,
             UNNEST(string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ')) AS g
      FROM documents WHERE text IS NOT NULL
    ), vocab AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, g
    ), ranked AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, g ASC) AS r
      FROM vocab
    ), pts AS (
      SELECT source, list(struct_pack(r := r, c := c) ORDER BY r) AS p
      FROM ranked GROUP BY source
    ), s AS (
      SELECT source, CAST(len(p) AS BIGINT) AS n,
             list_sum(list_transform(p,
               q -> ln(CAST(q.r AS DOUBLE)))) AS sx,
             list_sum(list_transform(p,
               q -> ln(CAST(q.c AS DOUBLE)))) AS sy,
             list_sum(list_transform(p,
               q -> ln(CAST(q.r AS DOUBLE)) * ln(CAST(q.r AS DOUBLE))))
               AS sxx,
             list_sum(list_transform(p,
               q -> ln(CAST(q.r AS DOUBLE)) * ln(CAST(q.c AS DOUBLE))))
               AS sxy
      FROM pts
    )
    SELECT source, n AS vocab_size,
           0.0 + ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS slope,
           0.0 + ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                        * sx) / n, 6) AS intercept
    FROM s WHERE n * sxx - sx * sx > 0
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, "source")


# Corpus n-gram diversity (operators/text.py ngram_diversity):
# distinct bigrams over total bigram occurrences per source — the
# cross-document mode-collapse detector for synthetic corpora.
@query(
    "ngram_diversity",
    r"""
    WITH toks AS (
      SELECT source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT source,
             UNNEST(list_transform(generate_series(1, greatest(len(t)-1, 1)),
                    i -> array_to_string(t[i:i+1], ' '))) AS g
      FROM toks
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           ROUND(CASE WHEN COUNT(*) > 0
                      THEN COUNT(DISTINCT g)::DOUBLE / COUNT(*) END, 6)
             AS diversity
    FROM grams GROUP BY source
    """,
)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import ngram_diversity

    docs = _t(spark, sf_dir, "documents")
    return ngram_diversity(docs, "source", n=2)


# Per-language tokenizer fertility (operators/text.py
# tokenizer_fertility): BPE-ish tokens per whitespace word — the
# multilingual-mix diagnostic. Integer sums, single divisions.
@query(
    "tokenizer_fertility",
    """
    WITH obs AS (
      SELECT lang, text,
             CASE WHEN text IS NULL THEN NULL
                  ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS BIGINT) END AS n_words,
             CASE WHEN text IS NULL THEN NULL
                  ELSE CAST(CEIL(length(regexp_replace(text,
                         '[^A-Za-z0-9]', '', 'g')) / 4.0)
                       + length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                         'g')) AS BIGINT) END AS n_bpe,
             CASE WHEN text IS NULL THEN NULL
                  ELSE CAST(length(text) AS BIGINT) END AS n_chars
      FROM documents
    ), agg AS (
      SELECT lang, CAST(COUNT(text) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM obs GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_bpe,
           ROUND(CASE WHEN n_words > 0
                      THEN CAST(n_bpe AS DOUBLE) / n_words END, 6)
             AS fertility,
           ROUND(CASE WHEN n_bpe > 0
                      THEN CAST(n_chars AS DOUBLE) / n_bpe END, 6)
             AS chars_per_token
    FROM agg
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import tokenizer_fertility

    docs = _t(spark, sf_dir, "documents")
    return tokenizer_fertility(docs)


# Simplified silhouette (operators/similarity.py kmeans_silhouette):
# per-point (b - a)/max(a, b) against centroid literals — the one-pass
# cluster-quality score. Gate centroids = the deterministic init
# (vectors of the 4 smallest ids) so the oracle expresses them exactly;
# dim-ordered distance folds and identical sqrt/divide trees keep every
# float bit-identical.
@query(
    "kmeans_silhouette",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    d AS (
      SELECT e.vec_id, i.cell,
             list_sum(list_transform(generate_series(1, len(e.v)),
                      j -> (e.v[j] - i.v[j]) * (e.v[j] - i.v[j]))) AS dist
      FROM e CROSS JOIN init i
    ),
    r AS (
      SELECT vec_id, cell, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cell) AS rk
      FROM d
    ),
    ab AS (
      SELECT a.vec_id, a.cell, sqrt(a.dist) AS sa, sqrt(b.dist) AS sb
      FROM r a JOIN r b ON a.vec_id = b.vec_id
      WHERE a.rk = 1 AND b.rk = 2
    )
    SELECT vec_id, cell,
           0.0 + ROUND(sa, 6) AS own_dist,
           0.0 + ROUND(sb, 6) AS other_dist,
           0.0 + ROUND(CASE WHEN sb = 0 THEN 0.0
                            ELSE (sb - sa) / sb END, 6) AS silhouette
    FROM ab
    """,
)
def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.similarity import kmeans_silhouette

    emb = _t(spark, sf_dir, "embeddings")
    vecs = emb.filter(F.col("embedding").isNotNull())
    first = vecs.orderBy("vec_id").limit(4).collect()
    cents = [[float(x) for x in r["embedding"]] for r in first]
    return kmeans_silhouette(emb, cents)


# Cross-corpus incremental dedup (operators/dedup.py
# cross_corpus_dedup): new docs (odd ids) LSH-joined against an
# existing index corpus (even ids), exact-Jaccard verified; per new
# doc the smallest matching index id. At threshold 0.8 the LSH miss
# probability is < 1e-7, so the verified set IS the exact cross-pair
# set (the dedup_components gate discipline) — recall is part of the
# gate.
@query(
    "cross_corpus_dedup",
    _ORACLE_TOKS
    + r"""
    , grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS gs
      FROM toks
    ), hits AS (
      SELECT b.doc_id AS id, a.doc_id AS id_idx,
             ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                   greatest(len(a.gs) + len(b.gs)
                            - len(list_intersect(a.gs, b.gs)), 1),
                   6) AS jaccard
      FROM grams a JOIN grams b
        ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      WHERE ROUND(len(list_intersect(a.gs, b.gs))::DOUBLE /
                  greatest(len(a.gs) + len(b.gs)
                           - len(list_intersect(a.gs, b.gs)), 1),
                  6) >= 0.8
    ), best AS (
      SELECT id, MIN(id_idx) AS dup_of FROM hits GROUP BY id
    )
    SELECT d.doc_id AS id, (b.dup_of IS NOT NULL) AS is_dup, b.dup_of,
           (SELECT h.jaccard FROM hits h
            WHERE h.id = d.doc_id AND h.id_idx = b.dup_of) AS jaccard
    FROM documents d LEFT JOIN best b ON b.id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """,
)
def q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    index = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.cross_corpus_dedup(new, index)


# k-anonymity / l-diversity audit (operators/quality.py k_anonymity):
# QI groups = (event_type, hour-of-day); sensitive = user_id. Integer
# group sizes and distinct counts — no float edge.
@query(
    "k_anonymity_audit",
    """
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)
             AS n_sensitive_distinct,
           (COUNT(*) < 5) AS at_risk,
           (COUNT(DISTINCT user_id) >= LEAST(5, COUNT(*))) AS diverse
    FROM events
    GROUP BY event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER)
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import k_anonymity

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hour"),
        "user_id",
    )
    return k_anonymity(
        ev, ["event_type", "hour"], k=5, sensitive_col="user_id"
    )


# Per-domain token budgeting (operators/sampling.py group_token_cap):
# each source keeps rows in deterministic hash order until 1000 tokens
# — the token-mass quota (group_cap's doc quota can't equalize domains
# of very different document lengths).
@query(
    "domain_token_cap",
    r"""
    WITH obs AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
               % 1000000 AS b
      FROM documents WHERE text IS NOT NULL
    ), c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                      ORDER BY b, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS prior
      FROM obs
    )
    SELECT doc_id, source, n_tokens FROM c WHERE prior < 1000
    """,
)
def q_domain_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import group_token_cap
    from mofka_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id",
        "source",
        token_count("text").cast("long").alias("n_tokens"),
    )
    return group_token_cap(sized, "doc_id", "source", "n_tokens", cap=1000)


# Rank-normalized quality blending (operators/quality.py
# blend_scores): scale-incompatible signals fused through exact
# PERCENT_RANK percentiles and a fixed-order weighted sum. The Spark
# side never sorts the corpus — ranks come from per-distinct-value
# running counts, with continuous (floating) signals quantized to
# floor(sig * 1e6) ranking keys so the distinct map is bounded by
# construction; the oracle is the literal window form over the same
# quantized key (floor, not ROUND: IEEE floor is engine-identical).
@query(
    "quality_blend",
    """
    WITH obs AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_len,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
               / length(text) AS density
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), r AS (
      SELECT doc_id, n_tokens, n_len, density,
             PERCENT_RANK() OVER (ORDER BY n_tokens ASC) AS pr_n_tokens,
             PERCENT_RANK() OVER (ORDER BY floor(density * 1000000.0) ASC)
               AS pr_density,
             PERCENT_RANK() OVER (ORDER BY n_len ASC) AS pr_n_len
      FROM obs
    )
    SELECT doc_id, pr_n_tokens, pr_density, pr_n_len,
           0.0 + ROUND(0.5 * pr_n_tokens + 0.3 * pr_density
                       + (-0.2) * pr_n_len, 6) AS blended
    FROM r
    """,
)
def q_quality_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import blend_scores
    from mofka_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    sigs = docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_len"),
        (token_count("text").cast("double") / F.length("text")).alias(
            "density"
        ),
    )
    return blend_scores(
        sigs, {"n_tokens": 0.5, "density": 0.3, "n_len": -0.2}
    )


# Token-budget curriculum selection (operators/sampling.py
# curriculum_select): greedy top-score fill until the token budget is
# crossed. The Spark side finds the threshold through fixed-width score
# bins (one O(1) bounds agg + an O(n_bins) driver fetch; only the one
# partial bin sorts); the oracle is the literal global running-sum
# greedy — bit-identical because weights are integral and bin order
# refines score order.
@query(
    "curriculum_budget",
    """
    WITH obs AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             length(text) AS n_len
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), sc AS (
      SELECT doc_id, CAST(n_tokens AS DOUBLE) / n_len AS score, n_tokens
      FROM obs
    ), c AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (
               ORDER BY score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM sc
    )
    SELECT doc_id, score, n_tokens FROM c WHERE prior < 10000
    """,
)
def q_curriculum_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.sampling import curriculum_select
    from mofka_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    scored = docs.select(
        "doc_id",
        (token_count("text").cast("double") / F.length("text")).alias(
            "score"
        ),
        token_count("text").cast("long").alias("n_tokens"),
    )
    return curriculum_select(
        scored, "score", "n_tokens", "doc_id", budget=10000
    )


# Distributed BPE merge learning (operators/text.py bpe_train): the
# Sennrich pair-count/argmax/merge loop on the Zipf-collapsed (word,
# freq) table. Deterministic order (pair_count desc, lhs asc, rhs asc)
# and greedy left-to-right merge application via string replace on
# SEP-wrapped segmentations (both ends anchored) — replace() is a left-to-right
# non-overlapping scan on BOTH engines, so the oracle replays the
# whole training loop with a recursive CTE (one level per merge; the
# recursive self-reference is the previous level's word table) and
# lands on the identical merge sequence.
@query(
    "bpe_vocab",
    r"""
    WITH RECURSIVE
    toks AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)),
             '\s+', ' ', 'g'), ' ')) AS word
      FROM documents WHERE text IS NOT NULL
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE word <> '' AND word NOT LIKE '%' || chr(31) || '%'
      GROUP BY word
    ),
    base AS (
      SELECT word, freq,
             array_to_string(list_transform(string_split(word, ''),
                    c -> chr(31) || c || chr(31)), '') AS seg
      FROM wf
    ),
    steps(iter, word, freq, seg, lhs, rhs, cnt) AS (
      SELECT 0, word, freq, seg, CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base
      UNION ALL
      SELECT iter + 1, word, freq,
             replace(seg, chr(31) || best.lhs || chr(31)
                          || chr(31) || best.rhs || chr(31),
                     chr(31) || best.lhs || best.rhs || chr(31)),
             best.lhs, best.rhs, best.cnt
      FROM steps, (
        SELECT a AS lhs, b AS rhs, cnt FROM (
          SELECT p.a, p.b, SUM(p.freq) AS cnt
          FROM (
            SELECT s.freq, s.syms[gs.i] AS a, s.syms[gs.i + 1] AS b
            FROM (SELECT freq, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
                  FROM steps) s,
                 UNNEST(generate_series(1, len(s.syms) - 1)) AS gs(i)
          ) p
          GROUP BY p.a, p.b
        ) q
        WHERE cnt >= 2
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
      ) best
      WHERE iter < 16
    )
    SELECT DISTINCT CAST(iter AS INTEGER) AS rank, lhs, rhs,
           lhs || rhs AS merged, cnt AS pair_count
    FROM steps WHERE iter > 0
    """,
)
def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=16)


# BPE corpus encoding (operators/text.py bpe_encode): training-replay
# semantics — each merge applied once, globally, in learned order, so
# encoding the training corpus IS the final training segmentation. The
# oracle therefore joins the recursive replay's final-iteration word
# segmentations onto the token stream (no second recursion) and
# assigns the same deterministic ids: corpus alphabet asc = 1..A,
# merged symbols A+rank, duplicate strings keep the lowest id.
@query(
    "bpe_token_ids",
    r"""
    WITH RECURSIVE
    d AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    stream AS (
      SELECT id, CAST(gs.i - 1 AS BIGINT) AS word_pos, ts[gs.i] AS word
      FROM d, UNNEST(generate_series(1, len(ts))) AS gs(i)
      WHERE ts[gs.i] <> ''
        AND ts[gs.i] NOT LIKE '%' || chr(31) || '%'
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM stream
      GROUP BY word
    ),
    base AS (
      SELECT word, freq,
             array_to_string(list_transform(string_split(word, ''),
                    c -> chr(31) || c || chr(31)), '') AS seg
      FROM wf
    ),
    steps(iter, word, freq, seg, lhs, rhs, cnt) AS (
      SELECT 0, word, freq, seg, CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base
      UNION ALL
      SELECT iter + 1, word, freq,
             replace(seg, chr(31) || best.lhs || chr(31)
                          || chr(31) || best.rhs || chr(31),
                     chr(31) || best.lhs || best.rhs || chr(31)),
             best.lhs, best.rhs, best.cnt
      FROM steps, (
        SELECT a AS lhs, b AS rhs, cnt FROM (
          SELECT p.a, p.b, SUM(p.freq) AS cnt
          FROM (
            SELECT s.freq, s.syms[gs.i] AS a, s.syms[gs.i + 1] AS b
            FROM (SELECT freq, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
                  FROM steps) s,
                 UNNEST(generate_series(1, len(s.syms) - 1)) AS gs(i)
          ) p
          GROUP BY p.a, p.b
        ) q
        WHERE cnt >= 2
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
      ) best
      WHERE iter < 16
    ),
    merges AS (
      SELECT DISTINCT iter AS rank, lhs, rhs, lhs || rhs AS merged
      FROM steps WHERE iter > 0
    ),
    final AS (
      SELECT word, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
      FROM steps WHERE iter = (SELECT max(iter) FROM steps)
    ),
    alpha AS (
      SELECT DISTINCT unnest(string_split(word, '')) AS piece FROM wf
    ),
    alpha_ids AS (
      SELECT piece,
             CAST(ROW_NUMBER() OVER (ORDER BY piece ASC) AS INTEGER)
               AS token_id
      FROM alpha WHERE piece <> ''
    ),
    vocab AS (
      SELECT piece, CAST(MIN(token_id) AS INTEGER) AS token_id FROM (
        SELECT piece, token_id FROM alpha_ids
        UNION ALL
        SELECT merged AS piece,
               (SELECT COUNT(*) FROM alpha_ids) + rank AS token_id
        FROM merges
      ) GROUP BY piece
    ),
    pieces AS (
      SELECT stream.id, stream.word_pos,
             CAST(gs.i - 1 AS BIGINT) AS piece_pos,
             final.syms[gs.i] AS piece
      FROM stream
      JOIN final USING (word),
           UNNEST(generate_series(1, len(final.syms))) AS gs(i)
    )
    SELECT pieces.id, pieces.word_pos, pieces.piece_pos, pieces.piece,
           COALESCE(vocab.token_id, 0) AS token_id
    FROM pieces LEFT JOIN vocab ON pieces.piece = vocab.piece
    """,
)
def q_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, _bpe_merges(spark, sf_dir))


# Trained-merges fixture (the _stream_fixture discipline): bpe_vocab
# MEASURES training, so it always trains live; the downstream BPE
# gates measure their own stage (encode / fertility / packing) and
# treat the deterministic 16-merge table as a cached fixture — exactly
# like streaming gates measuring the checkpointed drain, not topic
# construction.
_BPE_FIXTURE: dict[str, list[tuple[int, str, str]]] = {}


def _bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str]]:
    hit = _BPE_FIXTURE.get(sf_dir)
    if hit is None:
        from mofka_spark.operators.text import bpe_train

        rows = bpe_train(
            _t(spark, sf_dir, "documents"), n_merges=16
        ).collect()
        hit = sorted((int(r["rank"]), r["lhs"], r["rhs"]) for r in rows)
        _BPE_FIXTURE[sf_dir] = hit
    return hit


# The shared recursive-replay CTE prefix both composition oracles
# reuse (identical text to the bpe_token_ids oracle through `pieces`).
_BPE_REPLAY_CTE = r"""
    d AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    stream AS (
      SELECT id, CAST(gs.i - 1 AS BIGINT) AS word_pos, ts[gs.i] AS word
      FROM d, UNNEST(generate_series(1, len(ts))) AS gs(i)
      WHERE ts[gs.i] <> ''
        AND ts[gs.i] NOT LIKE '%' || chr(31) || '%'
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM stream
      GROUP BY word
    ),
    base AS (
      SELECT word, freq,
             array_to_string(list_transform(string_split(word, ''),
                    c -> chr(31) || c || chr(31)), '') AS seg
      FROM wf
    ),
    steps(iter, word, freq, seg, lhs, rhs, cnt) AS (
      SELECT 0, word, freq, seg, CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base
      UNION ALL
      SELECT iter + 1, word, freq,
             replace(seg, chr(31) || best.lhs || chr(31)
                          || chr(31) || best.rhs || chr(31),
                     chr(31) || best.lhs || best.rhs || chr(31)),
             best.lhs, best.rhs, best.cnt
      FROM steps, (
        SELECT a AS lhs, b AS rhs, cnt FROM (
          SELECT p.a, p.b, SUM(p.freq) AS cnt
          FROM (
            SELECT s.freq, s.syms[gs.i] AS a, s.syms[gs.i + 1] AS b
            FROM (SELECT freq, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
                  FROM steps) s,
                 UNNEST(generate_series(1, len(s.syms) - 1)) AS gs(i)
          ) p
          GROUP BY p.a, p.b
        ) q
        WHERE cnt >= 2
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
      ) best
      WHERE iter < 16
    ),
    final AS (
      SELECT word, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
      FROM steps WHERE iter = (SELECT max(iter) FROM steps)
    ),
    pieces AS (
      SELECT stream.id, stream.word_pos,
             CAST(gs.i - 1 AS BIGINT) AS piece_pos,
             final.syms[gs.i] AS piece
      FROM stream
      JOIN final USING (word),
           UNNEST(generate_series(1, len(final.syms))) AS gs(i)
    )
"""


# Learned-BPE tokenizer fertility (bpe_train -> bpe_encode -> one
# rollup): pieces per word and chars per piece PER LANGUAGE — the real
# measurement tokenizer_fertility only estimates with the BPE-ish
# regex. Integer sums + a single division: engine-exact.
@query(
    "bpe_fertility",
    "WITH RECURSIVE " + _BPE_REPLAY_CTE + r""",
    per_doc AS (
      SELECT id, CAST(COUNT(DISTINCT word_pos) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_pieces,
             CAST(SUM(length(piece)) AS BIGINT) AS n_chars
      FROM pieces GROUP BY id
    )
    SELECT documents.lang,
           CAST(SUM(per_doc.n_words) AS BIGINT) AS n_words,
           CAST(SUM(per_doc.n_pieces) AS BIGINT) AS n_pieces,
           0.0 + ROUND(CAST(SUM(per_doc.n_pieces) AS DOUBLE)
                       / SUM(per_doc.n_words), 6) AS pieces_per_word,
           0.0 + ROUND(CAST(SUM(per_doc.n_chars) AS DOUBLE)
                       / SUM(per_doc.n_pieces), 6) AS chars_per_piece
    FROM per_doc JOIN documents ON per_doc.id = documents.doc_id
    WHERE documents.lang IS NOT NULL
    GROUP BY documents.lang
    """,
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _bpe_merges(spark, sf_dir))
    per_doc = enc.groupBy("id").agg(
        F.countDistinct("word_pos").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_pieces"),
        F.sum(F.length("piece")).cast("long").alias("n_chars"),
    )
    lang = docs.filter(F.col("lang").isNotNull()).select(
        F.col("doc_id").alias("id"), "lang"
    )
    return (
        per_doc.join(lang, "id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces",
            (
                F.round(
                    F.col("n_pieces").cast("double") / F.col("n_words"), 6
                )
                + F.lit(0.0)
            ).alias("pieces_per_word"),
            (
                F.round(
                    F.col("n_chars").cast("double") / F.col("n_pieces"), 6
                )
                + F.lit(0.0)
            ).alias("chars_per_piece"),
        )
    )


# The full text -> training-tensor bridge, composed end-to-end:
# BPE-encode the corpus, size each document in LEARNED pieces, pack
# into fixed-capacity windows with the span manifest dataloaders turn
# into attention/loss masks. Oracle = the recursive replay + per-doc
# piece counts feeding the pack_manifest CTE verbatim.
@query(
    "bpe_pack",
    "WITH RECURSIVE " + _BPE_REPLAY_CTE + r""",
    t AS (
      SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM pieces GROUP BY id
    ), s AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS global_start
      FROM t
    ), p AS (
      SELECT doc_id AS id, n_tokens, global_start,
             CAST(FLOOR(global_start / 512) AS BIGINT) AS first_bin,
             CAST(FLOOR((global_start + greatest(n_tokens, 1) - 1) / 512)
                  AS BIGINT) AS last_bin
      FROM s
    ), x AS (
      SELECT p.id, p.n_tokens, p.global_start, gs.b AS bin
      FROM p, UNNEST(generate_series(p.first_bin, p.last_bin)) AS gs(b)
    )
    SELECT CAST(bin AS BIGINT) AS bin, id,
           CAST(GREATEST(global_start, bin * 512) - bin * 512 AS BIGINT)
             AS start_in_bin,
           CAST(LEAST(global_start + n_tokens, (bin + 1) * 512)
                - GREATEST(global_start, bin * 512) AS BIGINT) AS span_len,
           GREATEST(global_start, bin * 512) = global_start AS is_doc_start,
           LEAST(global_start + n_tokens, (bin + 1) * 512)
             = global_start + n_tokens AS is_doc_end
    FROM x
    """,
)
def q_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing
    from mofka_spark.operators.text import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _bpe_merges(spark, sf_dir))
    sized = enc.groupBy("id").agg(
        F.count("*").cast("long").alias("n_tokens")
    ).withColumnRenamed("id", "doc_id")
    return packing.pack_manifest(
        sized, id_col="doc_id", tokens_col="n_tokens", capacity=512
    )


# Batched classifier inference (operators/quality.py
# classifier_scores): the FineWeb-Edu-style quality-classifier stage —
# Arrow-batched mapInPandas with a pluggable vectorized scorer. The
# gate pins the PLUMBING (pruned columns into Python, fixed output
# schema, no shuffle) with the deterministic default scorer: a
# fixed-weight rational heuristic whose operand order is written
# identically in the oracle, so scores are bit-identical before the
# engine-side 6dp round.
@query(
    "classifier_scores",
    r"""
    WITH t AS (
      SELECT doc_id AS id, text,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT id,
             len(list_filter(ts, x -> x <> '')) AS nt,
             len(list_filter(ts,
                 x -> x IN ('the','and','of','to','in'))) AS sw,
             length(text)
               - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS pu,
             length(text) AS ln
      FROM t
    )
    SELECT id,
           0.0 + ROUND((2.0 * sw + 1.0) / (nt + 3.0)
                       - pu / (ln + 10.0), 6) AS score
    FROM f
    """,
)
def q_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import classifier_scores

    docs = _t(spark, sf_dir, "documents")
    return classifier_scores(docs).select(
        "id", (F.round("score", 6) + F.lit(0.0)).alias("score")
    )


# Length-bucketed batch assignment (operators/packing.py
# bucket_batches): the seq2seq dataloader layout — group docs of
# similar length into batches so padding waste is bounded by the
# bucket width. The Spark side ranks within each bucket via the
# distributed prefix count (no per-bucket global sort — 4 buckets at
# 100 TB must not funnel through 4 tasks); the oracle is the literal
# per-bucket ROW_NUMBER over the same deterministic (md5-hash, id)
# order — bit-identical because counts are integral.
@query(
    "bucket_batches",
    r"""
    WITH s AS (
      SELECT doc_id AS id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) END AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
               % 1000000 AS h
      FROM documents WHERE text IS NOT NULL
    ), b AS (
      SELECT id, n_tokens,
             CAST(len(list_filter([16, 64, 256], x -> n_tokens >= x))
                  AS INTEGER) AS bucket,
             h
      FROM s
    ), r AS (
      SELECT id, n_tokens, bucket,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, id) AS rn
      FROM b
    )
    SELECT id, n_tokens, bucket,
           CAST((rn - 1) // 8 AS BIGINT) AS batch_idx
    FROM r
    """,
)
def q_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return packing.bucket_batches(
        sized, boundaries=(16, 64, 256), batch_size=8
    )


# Bucketed batches composed into the shard-export layout
# (operators/packing.py bucket_shard_plan): every batch gets a global
# dense sequence number over (bucket, batch_idx) and lands WHOLE in
# one numbered shard — the batch-atomic contract a seq2seq dataloader
# needs (raw-row sharding may split a batch across files). Integer
# arithmetic end-to-end: exact.
@query(
    "bucket_shards",
    r"""
    WITH s AS (
      SELECT doc_id AS id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) END AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
               % 1000000 AS h
      FROM documents WHERE text IS NOT NULL
    ), b AS (
      SELECT id, n_tokens,
             CAST(len(list_filter([16, 64, 256], x -> n_tokens >= x))
                  AS INTEGER) AS bucket,
             h
      FROM s
    ), r AS (
      SELECT id, n_tokens, bucket,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, id) AS rn
      FROM b
    ), f AS (
      SELECT id, n_tokens, bucket,
             CAST((rn - 1) // 8 AS BIGINT) AS batch_idx
      FROM r
    ), nb AS (
      SELECT bucket, MAX(batch_idx) + 1 AS nb FROM f GROUP BY bucket
    ), o AS (
      SELECT bucket,
             CAST(COALESCE(SUM(nb) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS off
      FROM nb
    )
    SELECT f.id, f.n_tokens, f.bucket, f.batch_idx,
           CAST(o.off + f.batch_idx AS BIGINT) AS batch_seq,
           CAST((o.off + f.batch_idx) // 4 AS INTEGER) AS shard
    FROM f JOIN o USING (bucket)
    """,
)
def q_bucket_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import packing

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    batches = packing.bucket_batches(
        sized, boundaries=(16, 64, 256), batch_size=8
    )
    return packing.bucket_shard_plan(batches, batches_per_shard=4)


# Encoding-noise signals (operators/text.py encoding_signals): the
# web-crawl cleanup filter — replacement chars, C0/DEL control chars,
# UTF-8-as-Latin-1 mojibake leads, non-ASCII counts. Counts are
# length-difference of a regexp_replace with char classes written in
# the Java/RE2 common subset; exact integers + rounded divisions.
@query(
    "encoding_noise",
    r"""
    WITH t AS (
      SELECT doc_id AS id, text, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents WHERE text IS NOT NULL
    ), c AS (
      SELECT id, n_chars,
             n_chars - CAST(length(regexp_replace(text,
                 '[\x{FFFD}]', '', 'g')) AS BIGINT) AS n_repl,
             n_chars - CAST(length(regexp_replace(text,
                 '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))
               AS BIGINT) AS n_ctrl,
             n_chars - CAST(length(regexp_replace(text,
                 '[\x{C2}\x{C3}]', '', 'g')) AS BIGINT) AS n_moji,
             n_chars - CAST(length(regexp_replace(text,
                 '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS n_nonascii
      FROM t
    )
    SELECT id, n_chars, n_repl, n_ctrl, n_moji, n_nonascii,
           0.0 + ROUND(CAST(n_repl AS DOUBLE)
                       / GREATEST(n_chars, 1), 6) AS repl_ratio,
           0.0 + ROUND(CAST(n_ctrl AS DOUBLE)
                       / GREATEST(n_chars, 1), 6) AS ctrl_ratio,
           0.0 + ROUND(CAST(n_moji AS DOUBLE)
                       / GREATEST(n_chars, 1), 6) AS moji_ratio,
           0.0 + ROUND(CAST(n_nonascii AS DOUBLE)
                       / GREATEST(n_chars, 1), 6) AS nonascii_ratio
    FROM c
    """,
)
def q_encoding_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import encoding_signals

    return encoding_signals(_t(spark, sf_dir, "documents"))


# Batched BPE merge learning (operators/text.py bpe_train
# merges_per_round): the production-scale trainer — up to m
# provably-sequential-equivalent merges per pair-count job (the
# conservative-exact selection of _bpe_select_batch). The oracle is
# the SAME sequential recursive-CTE replay as bpe_vocab: a hash match
# here is driver-level evidence that batching changes the JOB COUNT,
# not the learned tokenizer.
@query(
    "bpe_vocab_batched",
    r"""
    WITH RECURSIVE
    toks AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)),
             '\s+', ' ', 'g'), ' ')) AS word
      FROM documents WHERE text IS NOT NULL
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE word <> '' AND word NOT LIKE '%' || chr(31) || '%'
      GROUP BY word
    ),
    base AS (
      SELECT word, freq,
             array_to_string(list_transform(string_split(word, ''),
                    c -> chr(31) || c || chr(31)), '') AS seg
      FROM wf
    ),
    steps(iter, word, freq, seg, lhs, rhs, cnt) AS (
      SELECT 0, word, freq, seg, CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base
      UNION ALL
      SELECT iter + 1, word, freq,
             replace(seg, chr(31) || best.lhs || chr(31)
                          || chr(31) || best.rhs || chr(31),
                     chr(31) || best.lhs || best.rhs || chr(31)),
             best.lhs, best.rhs, best.cnt
      FROM steps, (
        SELECT a AS lhs, b AS rhs, cnt FROM (
          SELECT p.a, p.b, SUM(p.freq) AS cnt
          FROM (
            SELECT s.freq, s.syms[gs.i] AS a, s.syms[gs.i + 1] AS b
            FROM (SELECT freq, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
                  FROM steps) s,
                 UNNEST(generate_series(1, len(s.syms) - 1)) AS gs(i)
          ) p
          GROUP BY p.a, p.b
        ) q
        WHERE cnt >= 2
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
      ) best
      WHERE iter < 16
    )
    SELECT DISTINCT CAST(iter AS INTEGER) AS rank, lhs, rhs,
           lhs || rhs AS merged, cnt AS pair_count
    FROM steps WHERE iter > 0
    """,
)
def q_bpe_vocab_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=16, merges_per_round=8)


# Even-half-trained merges fixture for the stable-id gate (the
# _bpe_merges discipline: bpe_stable_ids measures the ARTIFACT +
# encode path, not training).
_BPE_HALF_FIXTURE: dict[str, list[tuple[int, str, str]]] = {}


def _bpe_merges_even(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str]]:
    hit = _BPE_HALF_FIXTURE.get(sf_dir)
    if hit is None:
        from mofka_spark.operators.text import bpe_train

        rows = bpe_train(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0),
            n_merges=16,
        ).collect()
        hit = sorted((int(r["rank"]), r["lhs"], r["rhs"]) for r in rows)
        _BPE_HALF_FIXTURE[sf_dir] = hit
    return hit


# Train-stable tokenizer ids (operators/text.py bpe_vocab_table +
# bpe_encode(vocab=...)): train on the EVEN doc_ids, persist the
# (piece, token_id) artifact, encode the DISJOINT odd half — ids must
# be a property of the TOKENIZER, not of the corpus being encoded
# (the r9 footgun: corpus-derived alphabets drift ids across shards).
# Oracle: replay training on the even half (recursive CTE #1), apply
# the learned merges to the odd half's words in rank order (recursive
# CTE #2 — one replace per level, exactly bpe_encode's replace
# chain), assign ids from the TRAIN alphabet + merge ranks, OOV 0.
@query(
    "bpe_stable_ids",
    r"""
    WITH RECURSIVE
    d AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
    ),
    stream AS (
      SELECT id, CAST(gs.i - 1 AS BIGINT) AS word_pos, ts[gs.i] AS word
      FROM d, UNNEST(generate_series(1, len(ts))) AS gs(i)
      WHERE ts[gs.i] <> ''
        AND ts[gs.i] NOT LIKE '%' || chr(31) || '%'
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM stream
      GROUP BY word
    ),
    base AS (
      SELECT word, freq,
             array_to_string(list_transform(string_split(word, ''),
                    c -> chr(31) || c || chr(31)), '') AS seg
      FROM wf
    ),
    steps(iter, word, freq, seg, lhs, rhs, cnt) AS (
      SELECT 0, word, freq, seg, CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base
      UNION ALL
      SELECT iter + 1, word, freq,
             replace(seg, chr(31) || best.lhs || chr(31)
                          || chr(31) || best.rhs || chr(31),
                     chr(31) || best.lhs || best.rhs || chr(31)),
             best.lhs, best.rhs, best.cnt
      FROM steps, (
        SELECT a AS lhs, b AS rhs, cnt FROM (
          SELECT p.a, p.b, SUM(p.freq) AS cnt
          FROM (
            SELECT s.freq, s.syms[gs.i] AS a, s.syms[gs.i + 1] AS b
            FROM (SELECT freq, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms
                  FROM steps) s,
                 UNNEST(generate_series(1, len(s.syms) - 1)) AS gs(i)
          ) p
          GROUP BY p.a, p.b
        ) q
        WHERE cnt >= 2
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
      ) best
      WHERE iter < 16
    ),
    merges AS (
      SELECT DISTINCT iter AS rank, lhs, rhs, lhs || rhs AS merged
      FROM steps WHERE iter > 0
    ),
    alpha AS (
      SELECT DISTINCT unnest(string_split(word, '')) AS piece FROM wf
    ),
    alpha_ids AS (
      SELECT piece,
             CAST(ROW_NUMBER() OVER (ORDER BY piece ASC) AS INTEGER)
               AS token_id
      FROM alpha WHERE piece <> ''
    ),
    vocab AS (
      SELECT piece, CAST(MIN(token_id) AS INTEGER) AS token_id FROM (
        SELECT piece, token_id FROM alpha_ids
        UNION ALL
        SELECT merged AS piece,
               (SELECT COUNT(*) FROM alpha_ids) + rank AS token_id
        FROM merges
      ) GROUP BY piece
    ),
    od AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
    ),
    ostream AS (
      SELECT id, CAST(gs.i - 1 AS BIGINT) AS word_pos, ts[gs.i] AS word
      FROM od, UNNEST(generate_series(1, len(ts))) AS gs(i)
      WHERE ts[gs.i] <> ''
        AND ts[gs.i] NOT LIKE '%' || chr(31) || '%'
    ),
    owf AS (SELECT DISTINCT word FROM ostream),
    applied(iter, word, seg) AS (
      SELECT 0, word,
             array_to_string(list_transform(string_split(word, ''),
                    c -> chr(31) || c || chr(31)), '')
      FROM owf
      UNION ALL
      SELECT a.iter + 1, a.word,
             replace(a.seg, chr(31) || m.lhs || chr(31)
                            || chr(31) || m.rhs || chr(31),
                     chr(31) || m.lhs || m.rhs || chr(31))
      FROM applied a JOIN merges m ON m.rank = a.iter + 1
    ),
    ofinal AS (
      SELECT word, list_filter(string_split(seg, chr(31)), x -> x <> '')
               AS syms
      FROM applied
      WHERE iter = (SELECT COALESCE(MAX(rank), 0) FROM merges)
    ),
    opieces AS (
      SELECT ostream.id, ostream.word_pos,
             CAST(gs.i - 1 AS BIGINT) AS piece_pos,
             ofinal.syms[gs.i] AS piece
      FROM ostream
      JOIN ofinal USING (word),
           UNNEST(generate_series(1, len(ofinal.syms))) AS gs(i)
    )
    SELECT opieces.id, opieces.word_pos, opieces.piece_pos,
           opieces.piece, COALESCE(vocab.token_id, 0) AS token_id
    FROM opieces LEFT JOIN vocab ON opieces.piece = vocab.piece
    """,
)
def q_bpe_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import bpe_encode, bpe_vocab_table

    docs = _t(spark, sf_dir, "documents")
    merges = _bpe_merges_even(spark, sf_dir)
    vocab = bpe_vocab_table(
        merges, docs.filter(F.col("doc_id") % 2 == 0)
    )
    return bpe_encode(
        docs.filter(F.col("doc_id") % 2 == 1), merges, vocab=vocab
    )


# Quality-threshold calibration (operators/quality.py
# retention_curve): sweep candidate classifier thresholds and report
# docs/tokens retained per source — the table read before committing
# classifier_filter's threshold (the production constraint is "keep
# >= X% of tokens per domain", not a score value). One scan, every
# threshold a codegen'd conditional sum in one HashAggregate, unpivot
# AFTER aggregation; the oracle is the same sweep via CROSS JOIN
# UNNEST over the scorer's SQL mirror. Scores are 6dp-rounded on both
# sides BEFORE the >= comparison so the sweep compares identical
# doubles (the classifier_scores gate pins the rounded scores
# bit-identical).
@query(
    "retention_curve",
    r"""
    WITH t AS (
      SELECT source, text,
             string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT source,
             0.0 + ROUND(
               (2.0 * len(list_filter(ts,
                      x -> x IN ('the','and','of','to','in'))) + 1.0)
               / (len(list_filter(ts, x -> x <> '')) + 3.0)
               - (length(text)
                  - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / (length(text) + 10.0), 6) AS score,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) END AS n_tokens
      FROM t
    ), th AS (
      SELECT CAST(unnest([0.0, 0.05, 0.1, 0.15, 0.2]) AS DOUBLE)
        AS threshold
    ), g AS (
      SELECT source, threshold,
             SUM(CASE WHEN score >= threshold THEN 1 ELSE 0 END)
               AS n_kept,
             CAST(SUM(CASE WHEN score >= threshold THEN n_tokens
                           ELSE 0 END) AS DOUBLE) AS w_kept,
             COUNT(*) AS nd,
             CAST(SUM(n_tokens) AS DOUBLE) AS wd
      FROM f CROSS JOIN th
      GROUP BY source, threshold
    )
    SELECT source, threshold, CAST(n_kept AS BIGINT) AS n_kept, w_kept,
           0.0 + ROUND(CAST(n_kept AS DOUBLE) / nd, 6) AS frac_docs,
           0.0 + ROUND(w_kept / wd, 6) AS frac_weight
    FROM g
    """,
)
def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.quality import classifier_scores, retention_curve
    from mofka_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    scored = (
        classifier_scores(docs, keep_cols=True)
        .withColumn("score", F.round("score", 6) + F.lit(0.0))
        .withColumn("n_tokens", token_count("text"))
    )
    rc = retention_curve(
        scored,
        [0.0, 0.05, 0.1, 0.15, 0.2],
        group_col="source",
        weight_col="n_tokens",
    )
    return rc.select(
        "source",
        "threshold",
        "n_kept",
        "w_kept",
        (F.round("frac_docs", 6) + F.lit(0.0)).alias("frac_docs"),
        (F.round("frac_weight", 6) + F.lit(0.0)).alias("frac_weight"),
    )


# Curation-pipeline composition (the flagship end-to-end selection
# path a pretraining data pipeline actually runs): encoding-noise
# filter (no replacement chars, no control bytes) -> Gopher-style
# quality filter -> exact dedup among the SURVIVORS (keeper = min id)
# -> per-source token budget in deterministic hash order. Every stage
# reuses an already-gated operator; the value here is the oracle
# checking the whole composition in one SQL — stage boundaries,
# survivor sets, and budget arithmetic, not just each stage alone.
# Scale shape inherits the stages': two scan-local filters, one
# uniform-key dedup shuffle, one per-source running-sum cap (the
# distributed prefix count) — no new machinery. The gate form keeps
# each operator intact (6 pushed scans of documents via semi-joins);
# a scan-count-sensitive production run fuses the two scan-local
# filters into one projection and persists the survivor frame before
# dedup — same results, 2 scans.
@query(
    "curation_select",
    r"""
    WITH base AS (
      SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL
    ), encf AS (
      SELECT doc_id FROM base
      WHERE length(text) = length(regexp_replace(
              text, '[\x{FFFD}]', '', 'g'))
        AND length(text) = length(regexp_replace(
              text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))
    ), toks AS (
      SELECT b.doc_id, b.source, b.text,
             string_split(regexp_replace(lower(trim(b.text)),
                    '\s+', ' ', 'g'), ' ') AS t
      FROM base b JOIN encf USING (doc_id)
    ), qual AS (
      SELECT doc_id, source, text, CAST(len(t) AS BIGINT) AS n_tokens
      FROM toks
      WHERE CAST(len(t) AS BIGINT) BETWEEN 50 AND 100000
        AND ROUND(list_sum(list_transform(t, x -> len(x)))
                  / greatest(len(t), 1), 4) BETWEEN 3.0 AND 10.0
        AND ROUND(((len(text) - len(replace(text, '#', '')))
                 + (len(text) - len(replace(text, '...', ''))) / 3)
                  / greatest(len(t), 1), 4) < 0.1
        AND ROUND(len(list_filter(t, x -> regexp_full_match(x, '[a-z]+')))
                  / greatest(len(t), 1), 4) > 0.8
        AND len(list_filter(t,
                x -> list_contains(['the','and','of','to','in'], x))) >= 2
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM qual
      GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
    ), capped AS (
      SELECT q.doc_id, q.source, q.n_tokens,
             COALESCE(SUM(q.n_tokens) OVER (PARTITION BY q.source
                      ORDER BY ('0x' || substr(md5(q.doc_id::VARCHAR),
                                1, 12))::BIGINT % 1000000, q.doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS prior
      FROM qual q JOIN keep USING (doc_id)
    )
    SELECT doc_id, source, n_tokens FROM capped WHERE prior < 300
    """,
)
def q_curation_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.dedup import exact_dedup
    from mofka_spark.operators.sampling import group_token_cap
    from mofka_spark.operators.text import (
        encoding_signals,
        gopher_quality,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    clean = (
        encoding_signals(docs)
        .filter((F.col("n_repl") == 0) & (F.col("n_ctrl") == 0))
        .select(F.col("id").alias("doc_id"))
    )
    qual = (
        gopher_quality(docs)
        .filter(F.col("pass_quality"))
        .select(F.col("id").alias("doc_id"))
    )
    surv = docs.join(clean, "doc_id", "left_semi").join(
        qual, "doc_id", "left_semi"
    )
    keepers = exact_dedup(surv).select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = surv.join(keepers, "doc_id", "left_semi")
    sized = kept.select(
        "doc_id",
        "source",
        token_count("text").cast("long").alias("n_tokens"),
    )
    return group_token_cap(sized, "doc_id", "source", "n_tokens", cap=300)


# ===========================================================================
# Web-crawl extraction: HTML -> text + line-level corrections
# (operators/webtext.py — the FineWeb/RefinedWeb first stage). The
# documents table carries clean text, so each gate SYNTHESIZES its
# crawled input deterministically from (doc_id, source, lang, text)
# with the same expression on both sides; the operator under test is
# the extraction/correction, not the synthesis.
# ===========================================================================

# Shared HTML template pieces (no single quotes — they embed in SQL).
_HTML_A = "<html><head><title>Doc "
_HTML_B = "</title><script>var n = 1 < 2 && 3 > "
_HTML_C = ";</script><style>p { margin: 0; }</style></head><body><h1>"
_HTML_D = "</h1><p>"
_HTML_E = (
    "</p><!-- hidden comment --><div> 42 </div>"
    "<div>All rights reserved.</div><p>Tail &amp; "
)
_HTML_F = "&nbsp;end</p></body></html>"


def _synth_html() -> F.Column:
    return F.concat(
        F.lit(_HTML_A), F.col("doc_id").cast("string"),
        F.lit(_HTML_B), F.col("doc_id").cast("string"),
        F.lit(_HTML_C), F.upper("source"),
        F.lit(_HTML_D), F.col("text"),
        F.lit(_HTML_E), F.col("lang"),
        F.lit(_HTML_F),
    )


_SYNTH_HTML_SQL = (
    f"'{_HTML_A}' || CAST(doc_id AS VARCHAR) || '{_HTML_B}' || "
    f"CAST(doc_id AS VARCHAR) || '{_HTML_C}' || upper(source) || "
    f"'{_HTML_D}' || text || '{_HTML_E}' || lang || '{_HTML_F}'"
)


# HTML -> text extraction (webtext.html_to_text): script/style/comment
# removal, block tags -> line breaks, inline tags vanish, entity
# decode, whitespace normalization. The oracle replays the IDENTICAL
# Java∩RE2 regex chain in DuckDB, so a hash match certifies the two
# engines agree on every document's extracted text byte for byte.
@query(
    "html_extract",
    rf"""
    WITH h AS (
      SELECT doc_id AS id, {_SYNTH_HTML_SQL} AS html FROM documents
    ),
    s1 AS (SELECT id, regexp_replace(html,
      '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g') AS t FROM h),
    s2 AS (SELECT id, regexp_replace(t,
      '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g') AS t FROM s1),
    s3 AS (SELECT id, regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t
      FROM s2),
    s4 AS (SELECT id, regexp_replace(t,
      '(?is)</?(p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead|tbody|blockquote|pre|section|article|aside|header|footer|form|nav|title|figure|figcaption|main)\b[^>]*>',
      chr(10), 'g') AS t FROM s3),
    s5 AS (SELECT id, regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t
      FROM s4),
    s6 AS (SELECT id,
      replace(replace(replace(replace(replace(replace(replace(t,
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&') AS t
      FROM s5),
    s7 AS (SELECT id, regexp_replace(t,
      '[ ' || chr(9) || chr(12) || chr(13) || ']+', ' ', 'g') AS t
      FROM s6),
    s8 AS (SELECT id, regexp_replace(t,
      ' ?' || chr(10) || ' ?', chr(10), 'g') AS t FROM s7),
    s9 AS (SELECT id, regexp_replace(t,
      chr(10) || '+', chr(10), 'g') AS t FROM s8),
    x AS (SELECT id, trim(t, ' ' || chr(10)) AS text FROM s9)
    SELECT id, text,
           CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
    FROM x
    """,
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    df = docs.select(F.col("doc_id").alias("id"), _synth_html().alias("html"))
    return webtext.html_to_text(df).select(
        "id",
        "text",
        F.size(F.split("text", "\n")).cast("long").alias("n_lines"),
    )


# Line-wise corrections (webtext.filter_lines — RefinedWeb's line
# filters): each document becomes a 5-line page (a caps header, the
# body, a numeric counter line, an alternating boilerplate/ordinary
# closer, a trailing blank); the operator must drop exactly the bad
# lines, reassemble, and flag docs that lost >70% of their lines. The
# oracle replays the per-line predicate via unnest + string_agg.
_LINE_SYNTH_SQL = """
      upper(substr(text, 1, 24)) || chr(10) || text || chr(10)
      || CAST(doc_id AS VARCHAR) || ' / 100' || chr(10)
      || CASE WHEN doc_id % 2 = 0
              THEN 'See our Privacy Policy for details'
              ELSE 'an ordinary closing line here' END
      || chr(10)
"""
_LINE_FILTER_PHRASES = ["privacy policy", "all rights reserved"]


def _synth_lines() -> F.Column:
    return F.concat_ws(
        "\n",
        F.upper(F.substring("text", 1, 24)),
        F.col("text"),
        F.concat(F.col("doc_id").cast("string"), F.lit(" / 100")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("See our Privacy Policy for details"),
        ).otherwise(F.lit("an ordinary closing line here")),
        F.lit(""),
    )


@query(
    "line_filter_docs",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_LINE_SYNTH_SQL} AS text FROM documents
      WHERE text IS NOT NULL
    ),
    sp AS (SELECT id, string_split(text, chr(10)) AS l FROM d),
    ln AS (SELECT id, unnest(l) AS line, generate_subscripts(l, 1) AS i
           FROM sp),
    sig AS (
      SELECT id, line, i,
             length(line)
               - length(regexp_replace(line, '[A-Za-z]', '', 'g'))
               AS n_alpha,
             length(line) - length(regexp_replace(line, '[A-Z]', '', 'g'))
               AS n_upper,
             len(regexp_split_to_array(trim(line), ' +')) AS n_words
      FROM ln
    ),
    keepd AS (
      SELECT id, line, i FROM sig
      WHERE NOT (
        length(trim(line)) = 0
        OR n_words < 1
        OR regexp_matches(line, '^[0-9 .,:/-]+$')
        OR (n_alpha >= 5
            AND CAST(n_upper AS DOUBLE) / GREATEST(n_alpha, 1) > 0.8)
        OR regexp_matches(lower(line), 'privacy policy|all rights reserved')
      )
    ),
    agg AS (
      SELECT id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM keepd GROUP BY id
    )
    SELECT d.id,
           COALESCE(agg.clean_text, '') AS clean_text,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           COALESCE(agg.n_kept, 0) AS n_kept,
           0.0 + ROUND(
             CAST(len(string_split(d.text, chr(10))) - COALESCE(agg.n_kept, 0)
                  AS DOUBLE)
             / GREATEST(len(string_split(d.text, chr(10))), 1), 6)
             AS removed_frac,
           (CAST(len(string_split(d.text, chr(10))) - COALESCE(agg.n_kept, 0)
                 AS DOUBLE)
            / GREATEST(len(string_split(d.text, chr(10))), 1) <= 0.7) AS kept
    FROM d LEFT JOIN agg ON d.id = agg.id
    """,
)
def q_line_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    # NULL-text guard on BOTH sides: Spark concat_ws skips NULL args
    # while the oracle's || propagates NULL — a NULL-text doc would
    # diverge between engines without the symmetric filter
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    df = docs.select(F.col("doc_id").alias("id"), _synth_lines().alias("text"))
    return webtext.filter_lines(
        df, max_removed_frac=0.7, phrases=_LINE_FILTER_PHRASES
    )


# Within-document line dedup (webtext.dedup_lines_within_doc): repeated
# nav/menu lines collapse to their first occurrence; document order is
# preserved. Scan-local array aggregate on the Spark side; the oracle
# is the ROW_NUMBER()-keep-first formulation.
_WITHIN_SYNTH_SQL = """
      'nav menu home about' || chr(10) || text || chr(10)
      || 'nav menu home about' || chr(10) || substr(text, 1, 30)
      || chr(10) || text
"""


def _synth_within() -> F.Column:
    return F.concat_ws(
        "\n",
        F.lit("nav menu home about"),
        F.col("text"),
        F.lit("nav menu home about"),
        F.substring("text", 1, 30),
        F.col("text"),
    )


@query(
    "line_dedup_within",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_WITHIN_SYNTH_SQL} AS text FROM documents
      WHERE text IS NOT NULL
    ),
    sp AS (SELECT id, string_split(text, chr(10)) AS l FROM d),
    ln AS (SELECT id, unnest(l) AS line, generate_subscripts(l, 1) AS i
           FROM sp),
    fst AS (
      SELECT id, line, i,
             ROW_NUMBER() OVER (PARTITION BY id, line ORDER BY i) AS rn
      FROM ln
    ),
    agg AS (
      SELECT id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM fst WHERE rn = 1 GROUP BY id
    )
    SELECT d.id, agg.clean_text,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           agg.n_kept
    FROM d JOIN agg ON d.id = agg.id
    """,
)
def q_line_dedup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    # NULL-text guard on both sides (concat_ws vs || NULL semantics)
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    df = docs.select(F.col("doc_id").alias("id"), _synth_within().alias("text"))
    return webtext.dedup_lines_within_doc(df)


# Cross-corpus boilerplate-line removal (webtext.dedup_lines_across_docs):
# a banner line shared by every document and a second banner shared by
# the even half must vanish corpus-wide; unique closers and short
# repeated lines stay. ONE line-fingerprint shuffle — the CCNet-style
# shard line dedup shape.
_CORPUS_SYNTH_SQL = """
      'Subscribe to our newsletter for updates' || chr(10) || text
      || chr(10)
      || CASE WHEN doc_id % 2 = 0
              THEN 'Even docs share this second banner line'
              ELSE 'closing ' || CAST(doc_id AS VARCHAR) END
"""


def _synth_corpus() -> F.Column:
    return F.concat_ws(
        "\n",
        F.lit("Subscribe to our newsletter for updates"),
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("Even docs share this second banner line"),
        ).otherwise(F.concat(F.lit("closing "), F.col("doc_id").cast("string"))),
    )


@query(
    "line_dedup_corpus",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_CORPUS_SYNTH_SQL} AS text FROM documents
      WHERE text IS NOT NULL
    ),
    sp AS (SELECT id, string_split(text, chr(10)) AS l FROM d),
    ln AS (SELECT id, unnest(l) AS line, generate_subscripts(l, 1) AS i
           FROM sp),
    shared AS (
      SELECT trim(line) AS key
      FROM ln WHERE length(trim(line)) >= 10
      GROUP BY trim(line) HAVING COUNT(DISTINCT id) >= 2
    ),
    keepd AS (
      SELECT ln.id, ln.line, ln.i
      FROM ln LEFT JOIN shared ON trim(ln.line) = shared.key
      WHERE shared.key IS NULL
    ),
    agg AS (
      SELECT id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM keepd GROUP BY id
    )
    SELECT d.id,
           COALESCE(agg.clean_text, '') AS clean_text,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           COALESCE(agg.n_kept, 0) AS n_kept
    FROM d LEFT JOIN agg ON d.id = agg.id
    """,
)
def q_line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    # NULL-text guard on both sides (concat_ws vs || NULL semantics)
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    df = docs.select(F.col("doc_id").alias("id"), _synth_corpus().alias("text"))
    return webtext.dedup_lines_across_docs(df, min_docs=2, min_line_chars=10)


# URL / domain curation (webtext.canonicalize_url & friends). URLs
# are synthesized from doc_id so each consecutive PAIR of documents
# yields two surface forms of one canonical URL (case, www, default
# port, trailing slash, tracking params, param order, fragment all
# differ) — the canonicalizer must collapse the pair, the deduper must
# keep the even (lower) id, and domain stats must see exactly three
# base domains.


def _synth_url() -> F.Column:
    g = F.expr("doc_id DIV 2")
    sfx = (
        F.when(g % 3 == 0, F.lit(".example.com"))
        .when(g % 3 == 1, F.lit(".my-shop.co.uk"))
        .otherwise(F.lit(".data.org"))
    )
    hostcore = F.concat(F.lit("site"), (g % 37).cast("string"), sfx)
    gs = g.cast("string")
    return F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTP://WWW."), F.upper(hostcore), F.lit(":80/articles/"),
            gs, F.lit("/?utm_source=feed&b=2&a=1#sec"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://"), hostcore, F.lit("/articles/"),
            gs, F.lit("?a=1&b=2"),
        )
    )


_SYNTH_URL_SQL = """
      CASE WHEN doc_id % 2 = 0 THEN
        'HTTP://WWW.' || upper('site' || CAST((doc_id // 2) % 37 AS VARCHAR)
          || CASE (doc_id // 2) % 3 WHEN 0 THEN '.example.com'
                  WHEN 1 THEN '.my-shop.co.uk' ELSE '.data.org' END)
        || ':80/articles/' || CAST(doc_id // 2 AS VARCHAR)
        || '/?utm_source=feed&b=2&a=1#sec'
      ELSE
        'http://site' || CAST((doc_id // 2) % 37 AS VARCHAR)
          || CASE (doc_id // 2) % 3 WHEN 0 THEN '.example.com'
                  WHEN 1 THEN '.my-shop.co.uk' ELSE '.data.org' END
        || '/articles/' || CAST(doc_id // 2 AS VARCHAR) || '?a=1&b=2'
      END
"""

# Canonicalization CTE shared by the three URL oracles: d(id, url) ->
# u(id, url, canon_url, domain, base_domain). Mirrors webtext._canon_parts
# / url_domain / url_base_domain expression for expression.
_URL_CANON_CTE_SQL = r"""
    p AS (
      SELECT id, url,
        lower(regexp_extract(trim(url), '^([^:/?#]+)://.*$', 1)) AS scheme,
        regexp_replace(lower(regexp_extract(trim(url),
          '^[^:/?#]+://([^/?#]*).*$', 1)), '^www\.', '') AS rawhost,
        regexp_replace(regexp_extract(trim(url),
          '^[^:/?#]+://[^/?#]*([^?#]*).*$', 1), '/+$', '') AS path,
        COALESCE(array_to_string(list_sort(list_filter(
          string_split(regexp_extract(trim(url),
            '^[^#?]*\?([^#]*).*$', 1), '&'),
          q -> q <> '' AND NOT regexp_matches(q,
            '^(utm_[^=]*|gclid|fbclid|msclkid|ref|ref_src|igshid|mc_cid|mc_eid)(=.*)?$')
        )), '&'), '') AS query
        -- COALESCE: DuckDB's array_to_string(list_sort([])) is NULL
        -- where Spark's array_join([]) is '' — an all-tracking query
        -- string must canonicalize to NO query, not a NULL URL
      FROM d
    ),
    c AS (
      SELECT id, url, scheme, path, query,
        CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
             ELSE rawhost END AS host,
        regexp_replace(rawhost, ':[0-9]+$', '') AS domain
      FROM p
    ),
    b AS (
      SELECT *, string_split(domain, '.') AS labels FROM c
    ),
    u AS (
      SELECT id, url,
        CASE WHEN scheme = '' THEN trim(url)
             ELSE scheme || '://' || host || path ||
                  CASE WHEN query = '' THEN ''
                       ELSE '?' || query END END AS canon_url,
        domain,
        array_to_string(labels[GREATEST(len(labels) -
          (CASE WHEN len(labels) >= 3
                     AND length(labels[len(labels)]) = 2
                     AND regexp_matches(labels[len(labels) - 1],
                         '^(co|com|net|org|gov|edu|ac)$')
                THEN 3 ELSE 2 END) + 1, 1):len(labels)], '.')
          AS base_domain
      FROM b
    )
"""


@query(
    "url_canonical",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_SYNTH_URL_SQL} AS url FROM documents
    ),
    {_URL_CANON_CTE_SQL}
    SELECT id, url, canon_url, domain, base_domain FROM u
    """,
)
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    df = docs.select(F.col("doc_id").alias("id"), _synth_url().alias("url"))
    return webtext.canonicalize_urls(df).select(
        "id", "url", "canon_url", "domain", "base_domain"
    )


@query(
    "url_dedup",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_SYNTH_URL_SQL} AS url FROM documents
    ),
    {_URL_CANON_CTE_SQL}
    SELECT id, canon_url,
           MIN(id) OVER (PARTITION BY canon_url) AS keeper_id,
           id <> MIN(id) OVER (PARTITION BY canon_url) AS is_dup
    FROM u
    """,
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    df = docs.select(F.col("doc_id").alias("id"), _synth_url().alias("url"))
    return webtext.dedup_urls(df)


@query(
    "url_domain_stats",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_SYNTH_URL_SQL} AS url FROM documents
    ),
    {_URL_CANON_CTE_SQL}
    SELECT base_domain,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_unique_canon,
           CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_hosts
    FROM u GROUP BY base_domain
    """,
)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    df = docs.select(F.col("doc_id").alias("id"), _synth_url().alias("url"))
    return webtext.domain_stats(df)


# ===========================================================================
# Unigram / WordPiece tokenizer training (operators/text.py
# unigram_seed / unigram_train / unigram_encode — the SentencePiece-
# style complement to BPE). The float Viterbi objective is pinned by
# hypothesis properties against a brute-force pure-Python mirror
# (tests/test_properties.py TestUnigramProperties); the gates below
# certify the INTEGER-exact paths cross-engine: seed inventory counts,
# the greedy longest-match (WordPiece) train loop, and corpus encoding.
# ===========================================================================

# Shared oracle fragments: tokenize -> word-freq -> substring seed.
_UNI_WF_SQL = r"""
    toks AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)),
             '\s+', ' ', 'g'), ' ')) AS word
      FROM documents WHERE text IS NOT NULL
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE word <> '' AND word NOT LIKE '%' || chr(31) || '%'
      GROUP BY word
    ),
    sub AS (
      SELECT substr(word, gs.i, gl.l) AS piece, freq
      FROM wf,
           UNNEST(generate_series(1, length(word))) AS gs(i),
           UNNEST(generate_series(2, 4)) AS gl(l)
      WHERE gs.i + gl.l - 1 <= length(word)
    ),
    multi AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS freq FROM sub
      GROUP BY piece HAVING SUM(freq) >= 2
      ORDER BY freq DESC, piece ASC LIMIT 64
    ),
    chars AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(word, '')) AS piece, freq FROM wf
      ) WHERE piece <> '' GROUP BY piece
    )
"""

# Greedy longest-match segmentation of every word TYPE against the
# seed inventory — the recursive chain consumes one piece per level
# (single chars are all in the inventory, so the pick never misses).
_UNI_SEG_SQL = """
    seedp AS (
      SELECT piece FROM chars UNION ALL SELECT piece FROM multi
    ),
    seg(word, pos, piece) AS (
      SELECT word, 0, CAST(NULL AS VARCHAR) FROM wf
      UNION ALL
      SELECT s.word, s.pos + length(s.pick), s.pick FROM (
        SELECT word, pos,
          (SELECT piece FROM seedp
           WHERE substr(word, pos + 1, length(piece)) = piece
           ORDER BY length(piece) DESC, piece ASC LIMIT 1) AS pick
        FROM seg WHERE pos < length(word)
      ) s
    )
"""


@query(
    "unigram_seed",
    rf"""
    WITH
    {_UNI_WF_SQL}
    SELECT piece, freq, TRUE AS is_char FROM chars
    UNION ALL
    SELECT piece, freq, FALSE AS is_char FROM multi
    """,
)
def q_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import unigram_seed

    docs = _t(spark, sf_dir, "documents")
    return unigram_seed(
        docs, max_piece_len=4, seed_size=64, min_count=2
    )


# One hard-EM round of the WordPiece-style (longest-match) trainer —
# the whole loop is integer-only, so the oracle replays it end to end:
# seed -> greedy-segment every word type (recursive CTE) -> recount
# usage -> prune to the top (40 - alphabet) multi-char pieces -> the
# deterministic id layout (chars asc = 1..A, learned pieces A+1.. by
# usage desc, piece asc). The float Viterbi objective shares all of
# this code except the per-word argmax, which hypothesis pins against
# brute force.
@query(
    "unigram_vocab",
    rf"""
    WITH RECURSIVE
    {_UNI_WF_SQL},
    {_UNI_SEG_SQL},
    used AS (
      SELECT seg.piece, CAST(SUM(wf.freq) AS BIGINT) AS freq
      FROM seg JOIN wf USING (word)
      WHERE seg.piece IS NOT NULL GROUP BY seg.piece
    ),
    a AS (SELECT COUNT(*) AS n FROM chars),
    mk AS (
      SELECT piece, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, piece ASC) AS rn
      FROM used WHERE length(piece) > 1
    )
    SELECT c.piece, COALESCE(u.freq, 0) AS freq, TRUE AS is_char,
           CAST(ROW_NUMBER() OVER (ORDER BY c.piece ASC) AS INTEGER)
             AS token_id
    FROM chars c LEFT JOIN used u ON c.piece = u.piece
    UNION ALL
    SELECT piece, freq, FALSE AS is_char,
           CAST((SELECT n FROM a) + rn AS INTEGER) AS token_id
    FROM mk WHERE rn <= GREATEST(40 - (SELECT n FROM a), 0)
    """,
)
def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import unigram_train

    docs = _t(spark, sf_dir, "documents")
    return unigram_train(
        docs, vocab_size=40, max_piece_len=4, seed_size=64,
        seed_min_count=2, n_iters=1, objective="longest",
    )


# Corpus encoding with the seed inventory, greedy longest-match
# (WordPiece inference): the oracle segments each word TYPE once via
# the recursive chain and joins the segmentation onto the token
# stream; ids derive from the SEED artifact (chars asc = 1..A, seed
# pieces A+1.. by seed freq desc, piece asc), OOV = 0.
@query(
    "unigram_encode_longest",
    rf"""
    WITH RECURSIVE
    {_UNI_WF_SQL},
    {_UNI_SEG_SQL},
    stream AS (
      SELECT d.id, CAST(gs.i - 1 AS BIGINT) AS word_pos, d.ts[gs.i] AS word
      FROM (
        SELECT doc_id AS id,
               string_split(regexp_replace(lower(trim(text)),
                      '\s+', ' ', 'g'), ' ') AS ts
        FROM documents WHERE text IS NOT NULL
      ) d, UNNEST(generate_series(1, len(d.ts))) AS gs(i)
      WHERE d.ts[gs.i] <> ''
    ),
    wordpieces AS (
      SELECT word, piece,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                  - 1 AS BIGINT) AS piece_pos
      FROM seg WHERE piece IS NOT NULL
    ),
    a AS (SELECT COUNT(*) AS n FROM chars),
    ids AS (
      SELECT piece,
             CAST(ROW_NUMBER() OVER (ORDER BY piece ASC) AS INTEGER)
               AS token_id
      FROM chars
      UNION ALL
      SELECT piece,
             CAST((SELECT n FROM a)
                  + ROW_NUMBER() OVER (ORDER BY freq DESC, piece ASC)
                  AS INTEGER) AS token_id
      FROM multi
    )
    SELECT stream.id, stream.word_pos, wp.piece_pos, wp.piece,
           COALESCE(ids.token_id, 0) AS token_id
    FROM stream
    JOIN wordpieces wp USING (word)
    LEFT JOIN ids ON wp.piece = ids.piece
    """,
)
def q_unigram_encode_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import unigram_encode, unigram_seed

    docs = _t(spark, sf_dir, "documents")
    seed = unigram_seed(docs, max_piece_len=4, seed_size=64, min_count=2)
    return unigram_encode(
        docs, seed, id_col="doc_id", text_col="text",
        max_piece_len=4, objective="longest",
    )


# Unicode-script composition signals (text.script_signals): the
# language-consistency / injected-content filter. The corpus is pure
# ASCII, so the gate synthesizes per-language script tails (CJK mass
# scaled by doc_id so dominance actually flips on some documents, a
# Cyrillic injection on every 7th) — counts, dominant-script argmax
# with priority ties, and the mixed flag are all integer-exact.
_SCRIPT_SYNTH_SQL = """
      substr(text, 1, 40) || ' ' ||
      CASE lang
        WHEN 'zh' THEN repeat('统计数据分析', CAST(1 + doc_id % 9 AS INTEGER))
        WHEN 'de' THEN 'Müßiggang Prüfung für Straße'
        WHEN 'fr' THEN 'déjà vu équipe français'
        WHEN 'es' THEN 'niño señal año'
        ELSE 'plain ascii tail' END
      || CASE WHEN doc_id % 7 = 0 THEN ' Привет мир как дела' ELSE '' END
"""


def _synth_script() -> F.Column:
    tail = (
        F.when(
            F.col("lang") == "zh",
            F.expr("repeat('统计数据分析', CAST(1 + doc_id % 9 AS INT))"),
        )
        .when(F.col("lang") == "de", F.lit("Müßiggang Prüfung für Straße"))
        .when(F.col("lang") == "fr", F.lit("déjà vu équipe français"))
        .when(F.col("lang") == "es", F.lit("niño señal año"))
        .otherwise(F.lit("plain ascii tail"))
    )
    extra = F.when(
        F.col("doc_id") % 7 == 0, F.lit(" Привет мир как дела")
    ).otherwise(F.lit(""))
    return F.concat(
        F.substring("text", 1, 40), F.lit(" "), tail, extra
    )


@query(
    "script_mix",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_SCRIPT_SYNTH_SQL} AS text
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT id, CAST(length(text) AS BIGINT) AS n_chars,
        CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        CAST(length(text) - length(regexp_replace(text, '[\x{{0400}}-\x{{04FF}}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        CAST(length(text) - length(regexp_replace(text, '[\x{{0370}}-\x{{03FF}}]', '', 'g')) AS BIGINT) AS n_greek,
        CAST(length(text) - length(regexp_replace(text, '[\x{{4E00}}-\x{{9FFF}}]', '', 'g')) AS BIGINT) AS n_cjk,
        CAST(length(text) - length(regexp_replace(text, '[\x{{3040}}-\x{{30FF}}]', '', 'g')) AS BIGINT) AS n_kana,
        CAST(length(text) - length(regexp_replace(text, '[\x{{AC00}}-\x{{D7AF}}]', '', 'g')) AS BIGINT) AS n_hangul,
        CAST(length(text) - length(regexp_replace(text, '[\x{{0600}}-\x{{06FF}}]', '', 'g')) AS BIGINT) AS n_arabic
      FROM d
    ),
    m AS (
      SELECT *, GREATEST(n_latin, n_digit, n_cyrillic, n_greek, n_cjk,
                         n_kana, n_hangul, n_arabic) AS mx,
        (CASE WHEN CAST(n_latin AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_digit AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_cyrillic AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_greek AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_cjk AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_kana AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_hangul AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_arabic AS DOUBLE) / GREATEST(n_chars, 1) >= 0.1 THEN 1 ELSE 0 END
        ) AS n_scripts
      FROM c
    )
    SELECT id, n_chars, n_latin, n_digit, n_cyrillic, n_greek, n_cjk,
           n_kana, n_hangul, n_arabic,
           CASE WHEN n_chars = 0 THEN 'none'
                WHEN mx = 0 THEN 'other'
                WHEN n_latin = mx THEN 'latin'
                WHEN n_digit = mx THEN 'digit'
                WHEN n_cyrillic = mx THEN 'cyrillic'
                WHEN n_greek = mx THEN 'greek'
                WHEN n_cjk = mx THEN 'cjk'
                WHEN n_kana = mx THEN 'kana'
                WHEN n_hangul = mx THEN 'hangul'
                ELSE 'arabic' END AS dominant_script,
           CAST(n_scripts AS INTEGER) AS n_scripts,
           n_scripts >= 2 AS is_mixed
    FROM m
    """,
)
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import script_signals

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    synth = docs.select("doc_id", _synth_script().alias("text"))
    return script_signals(synth, id_col="doc_id", text_col="text")


# Incremental cross-corpus line-frequency store
# (streaming/linestore.py): per-epoch (fp, n_docs) partials are
# mergeable sums under the append-only contract (each doc arrives
# once, its lines in its own row), so the accumulated shared-line set
# — and therefore every removal decision — is identical to the batch
# operator's no matter how the stream split into epochs. The oracle is
# the line_dedup_corpus SQL on the fixture slice.
@query(
    "streaming_line_dedup",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_CORPUS_SYNTH_SQL} AS text FROM documents
      WHERE text IS NOT NULL AND doc_id < 1000
    ),
    sp AS (SELECT id, string_split(text, chr(10)) AS l FROM d),
    ln AS (SELECT id, unnest(l) AS line, generate_subscripts(l, 1) AS i
           FROM sp),
    shared AS (
      SELECT trim(line) AS key
      FROM ln WHERE length(trim(line)) >= 10
      GROUP BY trim(line) HAVING COUNT(DISTINCT id) >= 2
    ),
    keepd AS (
      SELECT ln.id, ln.line, ln.i
      FROM ln LEFT JOIN shared ON trim(ln.line) = shared.key
      WHERE shared.key IS NULL
    ),
    agg AS (
      SELECT id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM keepd GROUP BY id
    )
    SELECT d.id,
           COALESCE(agg.clean_text, '') AS clean_text,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           COALESCE(agg.n_kept, 0) AS n_kept
    FROM d LEFT JOIN agg ON d.id = agg.id
    """,
)
def q_streaming_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.linestore import (
        boilerplate_filter, line_count_sink,
    )

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    parsed = (
        topic.read_stream(files_per_trigger=1)
        .select(
            F.get_json_object("metadata", "$.doc_id").cast("long").alias(
                "doc_id"
            ),
            F.get_json_object("metadata", "$.text").alias("text"),
        )
        .select(F.col("doc_id").alias("id"), _synth_corpus().alias("text"))
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-linestore-"), "store")
    drain(
        spark,
        parsed.writeStream.foreachBatch(
            line_count_sink(store, min_line_chars=10)
        ),
    )
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("doc_id") < 1000)
    )
    batch = docs.select(F.col("doc_id").alias("id"), _synth_corpus().alias("text"))
    return boilerplate_filter(spark, store, batch, min_docs=2)


# Outlink extraction -> canonical web graph (webtext.extract_links /
# web_graph): each synthesized page links to the NEXT page through a
# deliberately messy href (case, www, default port, trailing slash,
# tracking param, fragment), every third page also links to a hub via
# a single-quoted href, and a relative href must be dropped. The
# oracle replays extraction (regexp_extract_all, both quote styles)
# and the canonicalization CTE.
_LINK_HTML_SQL = """
      '<body><p>x</p><a href="HTTP://WWW.Site'
      || CAST((doc_id + 1) % 37 AS VARCHAR) || '.Example.COM:80/page/'
      || CAST(doc_id + 1 AS VARCHAR)
      || '/?utm_source=x#f">next <b>page</b></a>'
      || CASE WHEN doc_id % 3 = 0
              THEN '<a href=''https://hub.example.org/index''>hub link</a>'
              ELSE '' END
      || '<a href="/relative/path">rel</a></body>'
"""
_PAGE_URL_SQL = """
      'http://site' || CAST(doc_id % 37 AS VARCHAR)
      || '.example.com/page/' || CAST(doc_id AS VARCHAR)
"""


def _synth_link_page() -> tuple[F.Column, F.Column]:
    url = F.concat(
        F.lit("http://site"), (F.col("doc_id") % 37).cast("string"),
        F.lit(".example.com/page/"), F.col("doc_id").cast("string"),
    )
    html = F.concat(
        F.lit('<body><p>x</p><a href="HTTP://WWW.Site'),
        ((F.col("doc_id") + 1) % 37).cast("string"),
        F.lit(".Example.COM:80/page/"),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('/?utm_source=x#f">next <b>page</b></a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("<a href='https://hub.example.org/index'>hub link</a>"),
        ).otherwise(F.lit("")),
        F.lit('<a href="/relative/path">rel</a></body>'),
    )
    return url, html


@query(
    "web_link_graph",
    rf"""
    WITH pages AS (
      SELECT {_PAGE_URL_SQL} AS src, {_LINK_HTML_SQL} AS html
      FROM documents
    ),
    hrefs AS (
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
      UNION ALL
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*''([^'']*)''[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
    ),
    d AS (
      SELECT src AS id, url FROM hrefs
      WHERE regexp_matches(url, '(?i)^https?://')
    ),
    {_URL_CANON_CTE_SQL}
    SELECT DISTINCT id AS src, canon_url AS dst
    FROM u WHERE id <> canon_url
    """,
)
def q_web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    url, html = _synth_link_page()
    pages = docs.select(
        F.col("doc_id").alias("id"), url.alias("url"), html.alias("html")
    )
    return webtext.web_graph(pages)


# robots.txt-style allow/disallow path rules with most-specific
# resolution (webtext.robots_rules_filter): domain-suffix matched;
# the most specific DOMAIN wins first (longest matched domain — a
# subdomain's own rule beats a parent domain's, mirroring robots.txt
# per-host rule groups), then longest path prefix, then allow beats
# disallow; no rule = allowed. URLs from the _SYNTH_URL family:
# example.com fully disallowed except /articles/1*, my-shop.co.uk
# loses /articles/2*, data.org has no rules. Oracle replays host/path
# extraction and the resolution order via a window over the joined
# rule set.
@query(
    "robots_rules",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_SYNTH_URL_SQL} AS url FROM documents
    ),
    h AS (
      SELECT id,
             regexp_replace(regexp_replace(
               lower(regexp_extract(trim(url),
                     '^[^:/?#]+://([^/?#]*).*$', 1)),
               '^www\.', ''), ':[0-9]+$', '') AS domain,
             COALESCE(NULLIF(regexp_extract(trim(url),
                     '^[^:/?#]+://[^/?#]*([^?#]*).*$', 1), ''), '/')
               AS path
      FROM d
    ),
    r(dom, prefix, allow) AS (
      VALUES ('example.com', '/', FALSE),
             ('example.com', '/articles/1', TRUE),
             ('my-shop.co.uk', '/articles/2', FALSE)
    ),
    m AS (
      SELECT h.id, r.prefix, r.allow,
             ROW_NUMBER() OVER (
               PARTITION BY h.id
               ORDER BY len(r.dom) DESC, len(r.prefix) DESC,
                        r.allow DESC, r.prefix DESC
             ) AS rn
      FROM h JOIN r
        ON (h.domain = r.dom OR ends_with(h.domain, '.' || r.dom))
       AND starts_with(h.path, r.prefix)
    ),
    w AS (SELECT id, prefix, allow FROM m WHERE rn = 1)
    SELECT h.id, h.domain, h.path,
           w.prefix AS rule_path,
           COALESCE(w.allow, TRUE) AS allowed
    FROM h LEFT JOIN w ON h.id = w.id
    """,
)
def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    df = docs.select(F.col("doc_id").alias("id"), _synth_url().alias("url"))
    return webtext.robots_rules_filter(
        df,
        [
            ("example.com", "/", False),
            ("example.com", "/articles/1", True),
            ("my-shop.co.uk", "/articles/2", False),
        ],
    ).select("id", "domain", "path", "rule_path", "allowed")


# robots.txt PARSING (webtext.parse_robots_txt): bodies synthesized
# from five templates keyed on doc_id % 5 — UA groups (incl. multi-UA
# runs and case-insensitive agent names), comments (full-line and
# inline), empty Disallow (allow-all: contributes no rule), orphan
# directives before any group (ignored), and a non-matching group.
# The Spark side genuinely parses line structure; the oracle knows the
# templates and emits the expected rules in closed form (the
# audio_headers discipline).
@query(
    "robots_parse",
    """
    WITH d AS (
      SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS t
      FROM documents WHERE doc_id < 400
    ),
    r AS (
      SELECT doc_id, '/private' AS prefix, FALSE AS allow FROM d WHERE t = 0
      UNION ALL
      SELECT doc_id, '/private/ok', TRUE FROM d WHERE t = 0
      UNION ALL
      SELECT doc_id, '/tmp', FALSE FROM d WHERE t = 1
      UNION ALL
      SELECT doc_id, '/a', TRUE FROM d WHERE t = 3
      UNION ALL
      SELECT doc_id, '/a/b', FALSE FROM d WHERE t = 3
    )
    SELECT 'site' || CAST(doc_id AS VARCHAR) || '.com' AS domain,
           prefix, allow
    FROM r
    """,
)
def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    t = F.pmod(F.col("doc_id"), F.lit(5))
    body = (
        F.when(t == 0, F.lit(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
        ))
        .when(t == 1, F.lit(
            "User-agent: bot\nUser-agent: crawler\nDisallow: /tmp\n\n"
            "User-agent: other\nDisallow: /\n"
        ))
        .when(t == 2, F.lit("# top comment\nUser-agent: *\nDisallow:\n"))
        .when(t == 3, F.lit(
            "Disallow: /orphan\nUser-agent: BOT\nAllow: /a\n"
            "Disallow: /a/b # inline comment\n"
        ))
        .otherwise(F.lit("User-agent: other\nDisallow: /x\n"))
    )
    pages = docs.select(
        F.concat(F.lit("site"), F.col("doc_id").cast("string"), F.lit(".com"))
        .alias("domain"),
        body.alias("robots_txt"),
    )
    return webtext.parse_robots_txt(pages, agent="bot")


# sitemap.xml parsing (webtext.parse_sitemap): urlset entries (with
# and without lastmod, whitespace-padded loc) and sitemapindex
# references, synthesized from doc_id templates; the oracle emits the
# expected rows in closed form (the robots_parse discipline).
@query(
    "sitemap_parse",
    """
    WITH d AS (
      SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS t,
             'site' || CAST(doc_id AS VARCHAR) || '.com' AS domain
      FROM documents WHERE doc_id < 400
    )
    SELECT domain, 'url' AS kind,
           'http://' || domain || '/p' || CAST(doc_id AS VARCHAR) AS loc,
           '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-02' AS lastmod
    FROM d WHERE t < 2
    UNION ALL
    SELECT domain, 'url',
           'http://' || domain || '/q' || CAST(doc_id AS VARCHAR),
           NULL
    FROM d WHERE t < 2
    UNION ALL
    SELECT domain, 'sitemap',
           'http://' || domain || '/sitemap-more.xml',
           '2024-02-02T10:00:00Z'
    FROM d WHERE t = 2
    """,
)
def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    dom = F.concat(F.lit("site"), F.col("doc_id").cast("string"), F.lit(".com"))
    t = F.pmod(F.col("doc_id"), F.lit(3))
    lastmod = F.concat(
        F.lit("2024-0"),
        (F.pmod(F.col("doc_id"), F.lit(9)) + 1).cast("string"),
        F.lit("-02"),
    )
    urlset = F.concat(
        F.lit('<?xml version="1.0"?>\n<urlset>\n  <url><loc> http://'),
        dom, F.lit("/p"), F.col("doc_id").cast("string"),
        F.lit(" </loc><lastmod>"), lastmod,
        F.lit("</lastmod></url>\n  <url><loc>http://"),
        dom, F.lit("/q"), F.col("doc_id").cast("string"),
        F.lit("</loc></url>\n  <url><lastmod>ignored-no-loc</lastmod></url>\n</urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex>\n  <sitemap><loc>http://"),
        dom,
        F.lit(
            "/sitemap-more.xml</loc>"
            "<lastmod>2024-02-02T10:00:00Z</lastmod></sitemap>\n"
            "</sitemapindex>"
        ),
    )
    pages = docs.select(
        dom.alias("domain"),
        F.when(t < 2, urlset).otherwise(index).alias("sitemap_xml"),
    )
    return webtext.parse_sitemap(pages)


# Politeness-aware crawl frontier schedule (webtext.crawl_schedule):
# per-domain queues ordered by priority (ties broken by url), spaced
# delay_sec apart. Oracle = the same ROW_NUMBER window.
@query(
    "crawl_schedule",
    """
    WITH u AS (
      SELECT 'd' || CAST(doc_id % 20 AS VARCHAR) AS domain,
             'http://d' || CAST(doc_id % 20 AS VARCHAR) || '.com/p' ||
               CAST(doc_id AS VARCHAR) AS url,
             n_chars AS priority
      FROM documents WHERE doc_id < 1000
    )
    SELECT domain, url,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY domain ORDER BY priority DESC, url ASC
           ) - 1 AS BIGINT) AS slot,
           0.0 + ROUND((ROW_NUMBER() OVER (
             PARTITION BY domain ORDER BY priority DESC, url ASC
           ) - 1) * 1.5, 6) AS fetch_offset_sec
    FROM u
    """,
)
def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    dom = F.concat(F.lit("d"), F.pmod(F.col("doc_id"), F.lit(20)).cast("string"))
    urls = docs.select(
        dom.alias("domain"),
        F.concat(
            F.lit("http://"), dom, F.lit(".com/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("n_chars").alias("priority"),
    )
    return webtext.crawl_schedule(
        urls, delay_sec=1.5, priority_col="priority"
    ).select("domain", "url", "slot", "fetch_offset_sec")


# Crawl-graph connected components (graph.connected_components_
# alternating — large-star/small-star, O(log n) rounds independent of
# diameter): the web_link_graph edge set chains thousands of pages
# deep, exactly the shape where min-label propagation's diameter-bound
# rounds are 100x-unsafe. Node ids are canonical URLs; the oracle
# replays the link extraction + canonicalization CTE and computes min
# reachable via a recursive closure.
@query(
    "web_components",
    rf"""
    WITH RECURSIVE pages AS (
      SELECT {_PAGE_URL_SQL} AS src, {_LINK_HTML_SQL} AS html
      FROM documents
    ),
    hrefs AS (
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
      UNION ALL
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*''([^'']*)''[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
    ),
    d AS (
      SELECT src AS id, url FROM hrefs
      WHERE regexp_matches(url, '(?i)^https?://')
    ),
    {_URL_CANON_CTE_SQL},
    e0 AS (
      SELECT DISTINCT id AS src, canon_url AS dst
      FROM u WHERE id <> canon_url
    ),
    sym AS (
      SELECT src AS s, dst AS t FROM e0
      UNION
      SELECT dst AS s, src AS t FROM e0
    ),
    reach(s, t) AS (
      SELECT s, s FROM sym
      UNION
      SELECT r.s, e.t FROM reach r JOIN sym e ON r.t = e.s
    )
    SELECT s AS id, MIN(t) AS component FROM reach GROUP BY s
    """,
)
def q_web_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext
    from mofka_spark.operators.graph import connected_components_alternating

    docs = _t(spark, sf_dir, "documents")
    url, html = _synth_link_page()
    pages = docs.select(
        F.col("doc_id").alias("id"), url.alias("url"), html.alias("html")
    )
    edges = webtext.web_graph(pages)
    # the iterative rounds materialize INSIDE the call (per-round
    # localCheckpoint), so the pinned shuffle width covers them — the
    # gate graph is a few thousand edges (production crawl graphs keep
    # the session default). The RETURNED frame's final union/groupBy
    # runs at session width — accepted, it is a single small shuffle.
    with pinned_shuffle(spark):
        return connected_components_alternating(edges, "src", "dst")


def _hits_steps(iters: int) -> str:
    """Unrolled HITS CTE chain over directed edges e0 — UNNORMALIZED
    rounds (scaling commutes through the linear iteration; graph.hits
    normalizes once at the end), raw frames keyed only on endpoints
    that received mass (the next round's join semantics match the
    engine's inner joins exactly)."""
    steps = "\n    , h0 AS (SELECT id, 1.0 AS h FROM ids)"
    for k in range(1, iters + 1):
        steps += f"""
    , a{k} AS (
      SELECT e.dst AS id, SUM(h.h) AS a
      FROM e0 e JOIN h{k - 1} h ON h.id = e.src GROUP BY e.dst
    ), h{k} AS (
      SELECT e.src AS id, SUM(a.a) AS h
      FROM e0 e JOIN a{k} a ON a.id = e.dst GROUP BY e.src
    )"""
    return steps


# HITS hubs/authorities over the DIRECTED crawl link graph
# (graph.hits): authorities = pages many hubs point at, hubs = link
# directories — the curation signal pair next to pagerank. Full-oracle
# gate for the iterative algorithm: the oracle unrolls the same 3
# L1-normalized rounds over the replayed extraction CTE.
@query(
    "web_hits",
    rf"""
    WITH pages AS (
      SELECT {_PAGE_URL_SQL} AS src, {_LINK_HTML_SQL} AS html
      FROM documents
    ),
    hrefs AS (
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
      UNION ALL
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*''([^'']*)''[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
    ),
    d AS (
      SELECT src AS id, url FROM hrefs
      WHERE regexp_matches(url, '(?i)^https?://')
    ),
    {_URL_CANON_CTE_SQL},
    e0 AS (
      SELECT DISTINCT id AS src, canon_url AS dst
      FROM u WHERE id <> canon_url
    ),
    ids AS (
      SELECT src AS id FROM e0 UNION SELECT dst FROM e0
    ){_hits_steps(3)}
    , nrm AS (
      SELECT (SELECT CASE WHEN COALESCE(SUM(h), 0) = 0 THEN 1.0
                          ELSE SUM(h) END FROM h3) AS hs,
             (SELECT CASE WHEN COALESCE(SUM(a), 0) = 0 THEN 1.0
                          ELSE SUM(a) END FROM a3) AS "as"
    )
    SELECT i.id,
           ROUND(COALESCE(h3.h, 0) / (SELECT hs FROM nrm), 6) AS hub,
           ROUND(COALESCE(a3.a, 0) / (SELECT "as" FROM nrm), 6)
             AS authority
    FROM ids i
    LEFT JOIN h3 ON h3.id = i.id
    LEFT JOIN a3 ON a3.id = i.id
    """,
)
def q_web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext
    from mofka_spark.operators.graph import hits

    docs = _t(spark, sf_dir, "documents")
    url, html = _synth_link_page()
    pages = docs.select(
        F.col("doc_id").alias("id"), url.alias("url"), html.alias("html")
    )
    edges = webtext.web_graph(pages)
    nodes = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    # pinned shuffle width for the per-round checkpointed joins (the
    # web_components rationale; the final join runs at session width)
    with pinned_shuffle(spark):
        return hits(nodes, edges, iters=3)


# Incrementally-accumulated web link graph (streaming/webgraph.py):
# pages stream through a topic in micro-batches, each epoch appends
# its DISTINCT canonical edges (set semantics — mergeable by distinct
# union under the each-page-arrives-once contract), and components
# over the ACCUMULATED graph must equal the batch web_components
# answer on the same slice no matter how the stream split into
# epochs. Components run the crawl-scale alternating algorithm.
@query(
    "streaming_web_components",
    rf"""
    WITH RECURSIVE pages AS (
      SELECT {_PAGE_URL_SQL} AS src, {_LINK_HTML_SQL} AS html
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ),
    hrefs AS (
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
      UNION ALL
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*''([^'']*)''[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
    ),
    d AS (
      SELECT src AS id, url FROM hrefs
      WHERE regexp_matches(url, '(?i)^https?://')
    ),
    {_URL_CANON_CTE_SQL},
    e0 AS (
      SELECT DISTINCT id AS src, canon_url AS dst
      FROM u WHERE id <> canon_url
    ),
    sym AS (
      SELECT src AS s, dst AS t FROM e0
      UNION
      SELECT dst AS s, src AS t FROM e0
    ),
    reach(s, t) AS (
      SELECT s, s FROM sym
      UNION
      SELECT r.s, e.t FROM reach r JOIN sym e ON r.t = e.s
    )
    SELECT s AS id, MIN(t) AS component FROM reach GROUP BY s
    """,
)
def q_streaming_web_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.webgraph import (
        web_graph_components, web_graph_sink,
    )

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    pages = (
        topic.read_stream(files_per_trigger=1)
        .select(
            F.get_json_object("metadata", "$.doc_id").cast("long").alias(
                "doc_id"
            )
        )
        .select(F.col("doc_id").alias("id"), *(
            c.alias(n)
            for c, n in zip(_synth_link_page(), ("url", "html"))
        ))
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-webgraph-"), "store")
    drain(spark, pages.writeStream.foreachBatch(web_graph_sink(store)))
    # the component rounds checkpoint inside the call: pin their width
    with pinned_shuffle(spark):
        return web_graph_components(spark, store)


# URL template mining (webtext.url_templates): collapse digit runs in
# paths to {n} and count instances per (domain, template) — the
# crawler-trap detector. URLs synthesized so ~half of each domain's
# pages share a calendar-style template; the oracle replays the
# host/path extraction and the digit collapse.
@query(
    "url_templates",
    """
    WITH u AS (
      SELECT 'http://d' || CAST(doc_id % 10 AS VARCHAR) || '.com' ||
             CASE WHEN doc_id % 2 = 0
                  THEN '/cal/2024/' || CAST(doc_id AS VARCHAR)
                  ELSE '/page' || CAST(doc_id % 5 AS VARCHAR) || '/about'
             END AS url
      FROM documents WHERE doc_id < 1000
    ),
    h AS (
      SELECT regexp_replace(regexp_replace(
               lower(regexp_extract(trim(url),
                     '^[^:/?#]+://([^/?#]*).*$', 1)),
               '^www\\.', ''), ':[0-9]+$', '') AS domain,
             COALESCE(NULLIF(regexp_extract(trim(url),
                     '^[^:/?#]+://[^/?#]*([^?#]*).*$', 1), ''), '/')
               AS path
      FROM u
    )
    SELECT domain,
           regexp_replace(path, '[0-9]+', '{n}', 'g') AS template,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS n_unique_paths,
           COUNT(*) > 20 AS explosive
    FROM h
    GROUP BY domain, regexp_replace(path, '[0-9]+', '{n}', 'g')
    """,
)
def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    url = F.concat(
        F.lit("http://d"),
        F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
        F.lit(".com"),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0,
            F.concat(F.lit("/cal/2024/"), F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("/page"),
                F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
                F.lit("/about"),
            )
        ),
    )
    return webtext.url_templates(
        docs.select(url.alias("url")), max_urls_per_template=20
    )


# Incremental robots-rules store (streaming/robots.py): robots.txt
# (re)fetches stream through the topic; each epoch parses its batch
# and stamps the fetch sequence; the resolved policy is each domain's
# LATEST fetch — including empty refetches that REMOVE rules. Bodies
# synthesize from doc_id (domain = doc_id % 50, so every domain is
# refetched ~13 times across the stream; the winner is the max doc_id
# in the group); the oracle computes the latest fetch's rules in
# closed form. Epoch boundaries are invisible by construction.
@query(
    "streaming_robots_store",
    """
    WITH d AS (
      SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ),
    w AS (
      SELECT CAST(doc_id % 50 AS INTEGER) AS g, MAX(doc_id) AS m
      FROM d GROUP BY doc_id % 50
    ),
    r AS (
      SELECT g, '/p' || CAST(m % 7 AS VARCHAR) AS prefix, FALSE AS allow
      FROM w WHERE m % 3 IN (0, 1)
      UNION ALL
      SELECT g, '/p' || CAST(m % 7 AS VARCHAR) || '/ok', TRUE
      FROM w WHERE m % 3 = 1
    )
    SELECT 'site' || CAST(g AS VARCHAR) || '.com' AS domain, prefix, allow
    FROM r
    """,
)
def q_streaming_robots_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.streaming.robots import read_robots_rules, robots_sink

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    k = F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
    t = F.pmod(F.col("doc_id"), F.lit(3))
    body = (
        F.when(t == 0, F.concat(
            F.lit("User-agent: *\nDisallow: /p"), k, F.lit("\n")
        ))
        .when(t == 1, F.concat(
            F.lit("User-agent: *\nDisallow: /p"), k,
            F.lit("\nAllow: /p"), k, F.lit("/ok\n"),
        ))
        .otherwise(F.lit("# nothing disallowed\n"))
    )
    fetches = (
        topic.read_stream(files_per_trigger=1)
        .select(
            F.get_json_object("metadata", "$.doc_id")
            .cast("long")
            .alias("doc_id")
        )
        .select(
            F.concat(
                F.lit("site"),
                F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
                F.lit(".com"),
            ).alias("domain"),
            body.alias("robots_txt"),
            F.col("doc_id").alias("fetch_seq"),
        )
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-robots-"), "store")
    drain(spark, fetches.writeStream.foreachBatch(robots_sink(store)))
    return read_robots_rules(spark, store)


# PageRank over the ACCUMULATED crawl graph (store consumer #2): the
# same webgraph store feeds graph.pagerank on string node ids — the
# centrality signal a curation pipeline reads off the live crawl.
# Oracle: the replayed extraction/canonicalization CTE + the shared
# unrolled power-iteration chain (_pagerank_steps), nodes = distinct
# edge endpoints.
@query(
    "streaming_web_pagerank",
    rf"""
    WITH pages AS (
      SELECT {_PAGE_URL_SQL} AS src, {_LINK_HTML_SQL} AS html
      FROM documents WHERE text IS NOT NULL AND doc_id < 1000
    ),
    hrefs AS (
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
      UNION ALL
      SELECT src, unnest(regexp_extract_all(html,
        '(?is)<a\b[^>]*\bhref\s*=\s*''([^'']*)''[^>]*>(.*?)</a\s*>', 1)) AS url
      FROM pages
    ),
    d AS (
      SELECT src AS id, url FROM hrefs
      WHERE regexp_matches(url, '(?i)^https?://')
    ),
    {_URL_CANON_CTE_SQL},
    e0 AS (
      SELECT DISTINCT id AS src, canon_url AS dst
      FROM u WHERE id <> canon_url
    ),
    sym AS (
      SELECT src, dst FROM e0
      UNION
      SELECT dst AS src, src AS dst FROM e0
    ),
    ids AS (
      SELECT DISTINCT src AS id FROM sym
    ),
    nn AS (SELECT COUNT(*)::DOUBLE AS n FROM ids),
    deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS r FROM ids)
    {_pagerank_steps(3, 0.85)}
    SELECT id, ROUND(r, 6) AS rank FROM r3
    """,
)
def q_streaming_web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from mofka_spark.operators.graph import pagerank
    from mofka_spark.streaming.webgraph import read_web_graph, web_graph_sink

    topic = _stream_fixture(spark, sf_dir, "docs")
    # files_per_trigger=1: one published log file per partition (2
    # partitions at every sf) => exactly two epochs on the native
    # source; the store's final answer is epoch-split-invariant
    # (oracle-verified), the second epoch exercises the
    # batch-vs-store history path.
    pages = (
        topic.read_stream(files_per_trigger=1)
        .select(
            F.get_json_object("metadata", "$.doc_id").cast("long").alias(
                "doc_id"
            )
        )
        .select(F.col("doc_id").alias("id"), *(
            c.alias(n)
            for c, n in zip(_synth_link_page(), ("url", "html"))
        ))
    )
    store = os.path.join(tempfile.mkdtemp(prefix="mofka-webpr-"), "store")
    drain(spark, pages.writeStream.foreachBatch(web_graph_sink(store)))
    edges = read_web_graph(spark, store)
    nodes = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    # pagerank checkpoints its edge frame inside the call: pin its width
    with pinned_shuffle(spark):
        return pagerank(nodes, edges, src_col="src", dst_col="dst", iters=3)


# Domain blocklist (webtext.domain_blocklist_filter): suffix-at-label-
# boundary matching — a blocked example.co.uk catches every subdomain
# but never a substring host. URLs from the _SYNTH_URL family, so a
# third of the base domains are blocked.
@query(
    "url_blocklist",
    rf"""
    WITH d AS (
      SELECT doc_id AS id, {_SYNTH_URL_SQL} AS url FROM documents
    ),
    {_URL_CANON_CTE_SQL},
    s AS (
      SELECT id, url, domain, base_domain,
             string_split(domain, '.') AS labels
      FROM u
    )
    SELECT id, domain, base_domain,
           len(list_filter(
             list_transform(labels, (x, i) ->
               array_to_string(labels[i:len(labels)], '.')),
             sfx -> sfx IN ('my-shop.co.uk', 'hub.example.org')
           )) > 0 AS blocked
    FROM s
    """,
)
def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    df = docs.select(F.col("doc_id").alias("id"), _synth_url().alias("url"))
    return webtext.domain_blocklist_filter(
        df, ["my-shop.co.uk", "hub.example.org"]
    ).select("id", "domain", "base_domain", "blocked")


# Unigram-tokenizer fertility per language (the bpe_fertility pattern
# for the OTHER tokenizer family): greedy-longest encode the corpus
# with the seed inventory, then pieces/word and chars/piece per lang —
# the measurement that picks between trained tokenizers. The oracle
# reuses the recursive segmentation CTE and exact integer-sum/single-
# division arithmetic.
@query(
    "unigram_fertility",
    rf"""
    WITH RECURSIVE
    {_UNI_WF_SQL},
    {_UNI_SEG_SQL},
    perword AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS n_pieces,
             CAST(SUM(length(piece)) AS BIGINT) AS n_piece_chars
      FROM seg WHERE piece IS NOT NULL GROUP BY word
    ),
    stream AS (
      SELECT d.lang, d.ts[gs.i] AS word
      FROM (
        SELECT lang,
               string_split(regexp_replace(lower(trim(text)),
                      '\s+', ' ', 'g'), ' ') AS ts
        FROM documents WHERE text IS NOT NULL
      ) d, UNNEST(generate_series(1, len(d.ts))) AS gs(i)
      WHERE d.ts[gs.i] <> ''
    )
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(p.n_pieces) AS BIGINT) AS n_pieces,
           0.0 + ROUND(CAST(SUM(p.n_pieces) AS DOUBLE)
                       / GREATEST(COUNT(*), 1), 6) AS pieces_per_word,
           0.0 + ROUND(CAST(SUM(p.n_piece_chars) AS DOUBLE)
                       / GREATEST(SUM(p.n_pieces), 1), 6)
             AS chars_per_piece
    FROM stream s JOIN perword p USING (word)
    GROUP BY s.lang
    """,
)
def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators.text import unigram_encode, unigram_seed

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    seed = unigram_seed(docs, max_piece_len=4, seed_size=64, min_count=2)
    enc = unigram_encode(
        docs, seed, id_col="doc_id", text_col="text",
        max_piece_len=4, objective="longest",
    )
    perword = enc.groupBy("id", "word_pos").agg(
        F.count("*").alias("n_pieces"),
        F.sum(F.length("piece")).alias("n_piece_chars"),
    )
    langs = docs.select(F.col("doc_id").alias("id"), "lang")
    return (
        perword.join(langs, "id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            (
                F.round(
                    F.sum("n_pieces").cast("double")
                    / F.greatest(F.count("*"), F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("pieces_per_word"),
            (
                F.round(
                    F.sum("n_piece_chars").cast("double")
                    / F.greatest(F.sum("n_pieces"), F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("chars_per_piece"),
        )
    )


# Web-curation composition (the curation_select pattern for the crawl
# front end): synthesized crawl pages flow through html_to_text ->
# filter_lines -> URL dedup keepers, and the ONE SQL oracle replays
# all three stages — extraction chain, per-line predicate, canonical
# keeper choice — so the stage interfaces (not just each stage) are
# hash-checked. Survivors = line-filter-kept docs that are their
# canonical URL's lowest id.
@query(
    "web_curation_select",
    rf"""
    WITH h AS (
      SELECT doc_id AS id, {_SYNTH_URL_SQL} AS url,
             {_SYNTH_HTML_SQL} AS html
      FROM documents
    ),
    s1 AS (SELECT id, url, regexp_replace(html,
      '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g') AS t FROM h),
    s2 AS (SELECT id, url, regexp_replace(t,
      '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g') AS t FROM s1),
    s3 AS (SELECT id, url, regexp_replace(t, '(?s)<!--.*?-->', '', 'g')
      AS t FROM s2),
    s4 AS (SELECT id, url, regexp_replace(t,
      '(?is)</?(p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead|tbody|blockquote|pre|section|article|aside|header|footer|form|nav|title|figure|figcaption|main)\b[^>]*>',
      chr(10), 'g') AS t FROM s3),
    s5 AS (SELECT id, url, regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t
      FROM s4),
    s6 AS (SELECT id, url,
      replace(replace(replace(replace(replace(replace(replace(t,
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&') AS t
      FROM s5),
    s7 AS (SELECT id, url, regexp_replace(t,
      '[ ' || chr(9) || chr(12) || chr(13) || ']+', ' ', 'g') AS t
      FROM s6),
    s8 AS (SELECT id, url, regexp_replace(t,
      ' ?' || chr(10) || ' ?', chr(10), 'g') AS t FROM s7),
    s9 AS (SELECT id, url, regexp_replace(t,
      chr(10) || '+', chr(10), 'g') AS t FROM s8),
    x AS (SELECT id, url, trim(t, ' ' || chr(10)) AS text FROM s9),
    sp AS (SELECT id, url, string_split(text, chr(10)) AS l FROM x),
    ln AS (SELECT id, unnest(l) AS line, generate_subscripts(l, 1) AS i
           FROM sp),
    sig AS (
      SELECT id, line, i,
             length(line)
               - length(regexp_replace(line, '[A-Za-z]', '', 'g'))
               AS n_alpha,
             length(line) - length(regexp_replace(line, '[A-Z]', '', 'g'))
               AS n_upper
      FROM ln
    ),
    keepd AS (
      SELECT id, line, i FROM sig
      WHERE NOT (
        length(trim(line)) = 0
        OR regexp_matches(line, '^[0-9 .,:/-]+$')
        OR (n_alpha >= 5
            AND CAST(n_upper AS DOUBLE) / GREATEST(n_alpha, 1) > 0.8)
        OR regexp_matches(lower(line), 'all rights reserved')
      )
    ),
    agg AS (
      SELECT id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM keepd GROUP BY id
    ),
    lf AS (
      SELECT sp.id, COALESCE(agg.clean_text, '') AS clean_text,
             COALESCE(agg.n_kept, 0) AS n_kept,
             (CAST(len(sp.l) - COALESCE(agg.n_kept, 0) AS DOUBLE)
              / GREATEST(len(sp.l), 1) <= 0.9) AS kept
      FROM sp LEFT JOIN agg ON sp.id = agg.id
    ),
    d AS (SELECT id, url FROM h),
    {_URL_CANON_CTE_SQL},
    keepers AS (
      SELECT id FROM (
        SELECT id, id = MIN(id) OVER (PARTITION BY canon_url) AS keep
        FROM u
      ) WHERE keep
    )
    SELECT lf.id, lf.clean_text, lf.n_kept
    FROM lf JOIN keepers USING (id)
    WHERE lf.kept
    """,
)
def q_web_curation_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mofka_spark.operators import webtext

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.col("doc_id").alias("id"),
        _synth_url().alias("url"),
        _synth_html().alias("html"),
    )
    extracted = webtext.html_to_text(pages)
    lf = webtext.filter_lines(
        extracted, max_removed_frac=0.9,
        phrases=["all rights reserved"],
    )
    keepers = webtext.dedup_urls(pages).filter(~F.col("is_dup")).select("id")
    return (
        lf.filter("kept")
        .join(keepers, "id")
        .select("id", "clean_text", "n_kept")
    )


# The driver's correctness gate checks queries in registration order and
# may cap how many it runs per round. Self-maintaining rotation: read
# the per-round CORRECTNESS_r*.json files the driver leaves in the repo
# root and order queries by how STALE their last driver-green evidence
# is — never-green queries first (registration order), then ascending by
# last-green round. With a 50-row cap and this ordering, every
# registered query gets a driver row at least every
# ceil(#queries / cap) rounds, with no hand-rotated list to go stale
# (the hand-rotated CHECK_FIRST it replaces froze round 3's priorities).


def _last_green_round() -> dict[str, int]:
    """{query: highest round whose CORRECTNESS file shows it fully
    green (rows+schema+hash all true)}. Missing/garbled files are
    skipped — worst case the ordering degrades to registration order,
    never an import failure."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(doc, dict):
            continue
        for name, row in doc.items():
            if not isinstance(row, dict):
                continue
            green = bool(row.get("rows_match")) and bool(
                row.get("schema_match")
            ) and bool(row.get("hash_match"))
            if green and rnd > last.get(name, -1):
                last[name] = rnd
    return last


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    last = _last_green_round()
    reg = list(SPARK_QUERIES)  # registration order = stable tiebreak
    names = sorted(reg, key=lambda n: (last.get(n, -1), reg.index(n)))
    return {n: SPARK_QUERIES[n] for n in names}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entry() query: mofka ingest semantics end-to-end — offset
    assignment + eventbridge filter + per-partition/type rollup."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("partition").orderBy("event_id")
    pattern = {"k": [{"numeric": [">=", 0]}]}
    return (
        ev.withColumn("partition", F.pmod(F.col("event_id"), F.lit(4)).cast("int"))
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .filter(compile_pattern(pattern, "props"))
        .groupBy("partition", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.max("offset").alias("max_offset"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("partition", "event_type")
    )
