"""The declared query surface: relational core + pipeline parity.

Every entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle that DuckDB runs on the same parquet tables (driver correctness
gate). Column names are aliased identically on both sides — the driver
sorts columns by name before value-hashing.

Hash-stability rules used throughout (worth keeping for any new query):

- Float aggregates go through exact decimal arithmetic, then cast to
  double: ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)``. The result is
  independent of partitioning/addition order on both engines.
- Averages are ``decimal-sum / count``, not engine ``avg``.
- Every LIMIT/top-k query carries a total-order tiebreak.
- Timestamps compare exactly (fixture data is microsecond-precision; the
  session zone is pinned UTC on both engines).

North-star (dedup/similarity/text) queries live in catalog_northstar.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import strip_col
from ..functions.timestamps import parse_date_col, parse_timestamp_col
from ..operators.sessionize import hourly_rollup, session_stats
from ..sources.parquet import load_tables


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str


def _dec(col, p=15, s=4):
    return F.col(col).cast(f"decimal({p},{s})") if isinstance(col, str) else col.cast(f"decimal({p},{s})")


def _dsum(col, p=15, s=4):
    """Exact decimal sum exposed as double (hash-stable)."""
    return F.sum(_dec(col, p, s)).cast("double")


# --------------------------------------------------------------------------
# Relational core (SURVEY §2.5: the operator surface Spark provides that the
# reference delegated to Postgres — joins, aggs, windows, sorts, set ops)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation over lineitem.

    Flagship query: filter pushed to the parquet scan, map-side partial
    aggregation, one shuffle on the 6-value grouping key.
    """
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(15,4)") - _dec("l_discount")
    )
    # (12,4) factors keep the triple product within decimal(38,12): a
    # wider intermediate would exceed max precision and truncate
    # engine-dependently
    charge = (
        _dec("l_extendedprice", 12)
        * (F.lit(1).cast("decimal(12,4)") - _dec("l_discount", 12))
        * (F.lit(1).cast("decimal(12,4)") + _dec("l_tax", 12))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 4).cast("double").alias("sum_charge"),
            (_dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (_dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            (_dsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * (CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4)))), 4) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4)))), 4) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(15,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by sort: global order + limit (TakeOrderedAndProject —
    per-partition heaps, no full sort at scale)."""
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


ORACLE_Q02 = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + grouped agg + top-k."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cutoff = F.lit("1998-03-15")
    return (
        t["customer"]
        .where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < cutoff)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(15,4)") - _dec("l_discount"))
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_Q03 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * (CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4)))), 4) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; dims broadcast, the lineitem-
    orders join is the only large shuffle."""
    t = load_tables(
        spark,
        sf_dir,
        ["region", "nation", "customer", "supplier", "orders", "lineitem"],
    )
    return (
        t["region"]
        .where(F.col("r_name") == "ASIA")
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(15,4)") - _dec("l_discount"))
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )


ORACLE_Q05 = """
SELECT n_name,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * (CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4)))), 4) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar agg — the pushdown showcase
    (predicates reach the parquet scan; no shuffle at all)."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 4)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


ORACLE_Q06 = """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(l_discount AS DECIMAL(15,4))), 4) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24
"""


def q07_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join: customer (dim) joined to orders (fact).
    Explicit ``F.broadcast`` — at 100 TB the 1.5k-row-per-SF customer
    side of this particular rollup stays broadcastable."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    return (
        t["orders"]
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum("o_totalprice").alias("total_price"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


ORACLE_Q07 = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS total_price,
  COUNT(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q08_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having >= 1 urgent order."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(
            urgent,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        )
        .select("c_custkey", "c_name", "c_nationkey")
    )


ORACLE_Q08 = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q09_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent orders.

    (Every customer in the fixture has *some* order, so the anti join is
    against the urgent subset — a 0-row result would be weak evidence.)
    """
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


ORACLE_Q09 = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def q10_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group: row_number over (nation, acctbal desc)."""
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        t["customer"]
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_custkey", "c_name", "c_acctbal", "rk")
    )


ORACLE_Q10 = """
SELECT n_name, c_custkey, c_name, c_acctbal, rk FROM (
  SELECT c_custkey, c_name, c_acctbal, c_nationkey,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer) ranked
JOIN nation ON c_nationkey = n_nationkey
WHERE rk <= 3
"""


def q11_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total window: cumulative order value per customer over
    time (frame = unbounded preceding .. current row)."""
    t = load_tables(spark, sf_dir, ["orders"])
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t["orders"]
        .where(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(_dec("o_totalprice"))
            .over(w)
            .cast("double")
            .alias("running_total"),
        )
    )


ORACLE_Q11 = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
  AS running_total
FROM orders WHERE o_custkey <= 50
"""


def q12_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations having customers INTERSECT/EXCEPT nations
    having suppliers, tagged and unioned."""
    t = load_tables(spark, sf_dir, ["customer", "supplier"])
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).withColumn("which", F.lit("both"))
    only_c = c.exceptAll(s).withColumn("which", F.lit("customers_only"))
    return both.unionByName(only_c)


ORACLE_Q12 = """
SELECT nationkey, 'both' AS which FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   INTERSECT SELECT DISTINCT s_nationkey FROM supplier) t
UNION ALL
SELECT nationkey, 'customers_only' AS which FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   EXCEPT SELECT DISTINCT s_nationkey FROM supplier) t
"""


def q13_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over lineitem flags (subtotals + grand total)."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            _dsum("l_quantity").alias("sum_qty"),
        )
    )


ORACLE_Q13 = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q14_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + conditional aggregation (CASE inside SUM), TPC-H Q14 shape."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-07-01"))
    )
    disc = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(15,4)") - _dec("l_discount")
    )
    joined = li.join(
        F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    return joined.agg(
        F.round(
            F.sum(
                F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(
                    F.lit(0).cast("decimal(15,4)")
                )
            ),
            4,
        )
        .cast("double")
        .alias("promo_revenue"),
        F.round(F.sum(disc), 4).cast("double").alias("total_revenue"),
    )


ORACLE_Q14 = """
SELECT
  CAST(ROUND(SUM(CASE WHEN p_type LIKE 'PROMO%'
       THEN CAST(l_extendedprice AS DECIMAL(15,4)) * (CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4)))
       ELSE CAST(0 AS DECIMAL(15,4)) END), 4) AS DOUBLE) AS promo_revenue,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4)) * (CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4)))), 4) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
"""


def q15_order_counts_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation (TPC-H Q13 shape): orders per customer, then
    customer count per order count — including zero-order customers via
    left join."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    per_cust = (
        t["customer"]
        .join(
            t["orders"],
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


ORACLE_Q15 = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey) per_cust
GROUP BY c_count
"""


# --------------------------------------------------------------------------
# Event-time operators (events table)
# --------------------------------------------------------------------------


def q16_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return hourly_rollup(t["events"])


ORACLE_Q16 = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q17_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return session_stats(t["events"], gap_minutes=30)


ORACLE_Q17 = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id,
  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
  CAST(MAX(ts) AS TIMESTAMP) AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM sessions GROUP BY user_id, session_id
"""


def q18_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column + grouped aggregation."""
    t = load_tables(spark, sf_dir, ["events"])
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        t["events"]
        # explicit floor: bare int casts of fractional values truncate in
        # Spark but round in some engines — floor is unambiguous
        .withColumn("k_bucket", F.floor(k / 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.max(k).alias("max_k"),
        )
    )


ORACLE_Q18 = """
SELECT event_type,
  CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10) AS INT) AS k_bucket,
  COUNT(*) AS n,
  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Pipeline-parity queries (reference semantics exercised on fixture data)
# --------------------------------------------------------------------------


def q19_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strip() over synthesized dirty text (reference functions.sql:1-5):
    wraps each document source in quotes/CRLF, strips them back."""
    t = load_tables(spark, sf_dir, ["documents"])
    dirty = F.concat(
        F.lit('\n"'), F.col("source"), F.lit('"\r\n')
    )
    return t["documents"].select(
        "doc_id",
        strip_col(dirty).alias("stripped"),
        strip_col(F.lit('""')).alias("always_null"),
    )


ORACLE_Q19 = """
SELECT doc_id,
  NULLIF(regexp_replace(chr(10) || '"' || source || '"' || chr(13) || chr(10),
                        '(^[\\n\\r]+)|(")|([\\n\\r]+$)', '', 'g'), '') AS stripped,
  NULLIF(regexp_replace('""', '(^[\\n\\r]+)|(")|([\\n\\r]+$)', '', 'g'), '') AS always_null
FROM documents
"""


def q20_parse_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_timestamp() over all Oracle-dump formats, synthesized from
    l_shipdate (format chosen per row) and parsed back — the oracle is
    the identity, proving format-faithful parsing end-to-end."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].where(F.col("l_orderkey") <= 2000)
    base = F.upper(F.date_format("l_shipdate", "dd-MMM-yy hh.mm.ss"))
    ampm = F.date_format("l_shipdate", "a")  # AM/PM
    variant = (F.col("l_orderkey") + F.col("l_linenumber")) % 3
    raw = (
        F.when(variant == 0, F.concat(base, F.lit(".000000000 "), ampm, F.lit(" +00:00")))
        .when(variant == 1, F.concat(base, F.lit(" "), ampm, F.lit(" GMT")))
        .otherwise(F.date_format("l_shipdate", "yyyyMMddHHmmss+0000"))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        raw.alias("raw"),
        parse_timestamp_col(raw).alias("parsed"),
    )


ORACLE_Q20 = """
SELECT l_orderkey, l_linenumber,
  CASE CAST((l_orderkey + l_linenumber) % 3 AS INT)
    WHEN 0 THEN upper(strftime(l_shipdate, '%d-%b-%y %I.%M.%S')) || '.000000000 ' || strftime(l_shipdate, '%p') || ' +00:00'
    WHEN 1 THEN upper(strftime(l_shipdate, '%d-%b-%y %I.%M.%S')) || ' ' || strftime(l_shipdate, '%p') || ' GMT'
    ELSE strftime(l_shipdate, '%Y%m%d%H%M%S') || '+0000'
  END AS raw,
  l_shipdate AS parsed
FROM lineitem WHERE l_orderkey <= 2000
"""


def q21_parse_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_date('01-FEB-19' style) roundtrip from o_orderdate."""
    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"].where(F.col("o_orderkey") <= 5000)
    raw = F.upper(F.date_format("o_orderdate", "dd-MMM-yy"))
    return o.select(
        "o_orderkey",
        raw.alias("raw"),
        parse_date_col(raw).alias("parsed"),
    )


ORACLE_Q21 = """
SELECT o_orderkey, upper(strftime(o_orderdate, '%d-%b-%y')) AS raw,
  CAST(o_orderdate AS DATE) AS parsed
FROM orders WHERE o_orderkey <= 5000
"""


def q22_combine_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL combine semantics (operator O1): two disjoint slices of
    lineitem unioned back, duplicates preserved, then aggregated."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"]
    part1 = li.where(F.col("l_linenumber") % 2 == 0)
    part2 = li.where(F.col("l_linenumber") % 2 == 1)
    combined = part1.unionAll(part2)
    return combined.groupBy("l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


ORACLE_Q22 = """
SELECT l_linestatus, COUNT(*) AS n_rows,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM (SELECT * FROM lineitem WHERE l_linenumber % 2 = 0
      UNION ALL
      SELECT * FROM lineitem WHERE l_linenumber % 2 = 1) combined
GROUP BY l_linestatus
"""


def q23_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count reconciliation shape (O4/O5): per-table row counts as one
    result set."""
    names = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    t = load_tables(spark, sf_dir, names)
    dfs = [
        t[n].agg(F.count("*").alias("n_rows")).select(
            F.lit(n).alias("table_name"), "n_rows"
        )
        for n in names
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


ORACLE_Q23 = """
SELECT 'region' AS table_name, COUNT(*) AS n_rows FROM region
UNION ALL SELECT 'nation', COUNT(*) FROM nation
UNION ALL SELECT 'customer', COUNT(*) FROM customer
UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
UNION ALL SELECT 'part', COUNT(*) FROM part
UNION ALL SELECT 'orders', COUNT(*) FROM orders
UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
"""


def _relational_registry() -> list[QueryDef]:
    return [
        QueryDef("q01_pricing_summary", q01_pricing_summary, ORACLE_Q01, "TPC-H Q1: grouped agg over lineitem"),
        QueryDef("q02_topk_orders", q02_topk_orders, ORACLE_Q02, "global sort + limit"),
        QueryDef("q03_shipping_priority", q03_shipping_priority, ORACLE_Q03, "3-way join + agg + top-k"),
        QueryDef("q05_local_supplier_volume", q05_local_supplier_volume, ORACLE_Q05, "6-way star join"),
        QueryDef("q06_revenue_delta", q06_revenue_delta, ORACLE_Q06, "filter + scalar agg (pushdown)"),
        QueryDef("q07_segment_stats", q07_segment_stats, ORACLE_Q07, "broadcast join + distinct agg"),
        QueryDef("q08_customers_with_orders", q08_customers_with_orders, ORACLE_Q08, "left-semi join (EXISTS)"),
        QueryDef("q09_customers_without_orders", q09_customers_without_orders, ORACLE_Q09, "left-anti join (NOT EXISTS)"),
        QueryDef("q10_top_customers_per_nation", q10_top_customers_per_nation, ORACLE_Q10, "window top-N per group"),
        QueryDef("q11_running_revenue", q11_running_revenue, ORACLE_Q11, "running-total window"),
        QueryDef("q12_nation_set_ops", q12_nation_set_ops, ORACLE_Q12, "INTERSECT / EXCEPT"),
        QueryDef("q13_rollup_flags", q13_rollup_flags, ORACLE_Q13, "ROLLUP grouping sets"),
        QueryDef("q14_part_type_share", q14_part_type_share, ORACLE_Q14, "conditional agg over join"),
        QueryDef("q15_order_counts_distribution", q15_order_counts_distribution, ORACLE_Q15, "two-level agg with left join"),
        QueryDef("q16_events_hourly", q16_events_hourly, ORACLE_Q16, "tumbling 1h event-time window"),
        QueryDef("q17_sessionize", q17_sessionize, ORACLE_Q17, "sessionization (30min gap)"),
        QueryDef("q18_events_json", q18_events_json, ORACLE_Q18, "JSON prop extraction + agg"),
        QueryDef("q19_strip", q19_strip, ORACLE_Q19, "strip() function parity"),
        QueryDef("q20_parse_timestamp_roundtrip", q20_parse_timestamp_roundtrip, ORACLE_Q20, "5-format timestamp parser"),
        QueryDef("q21_parse_date_roundtrip", q21_parse_date_roundtrip, ORACLE_Q21, "parse_date parity"),
        QueryDef("q22_combine_union", q22_combine_union, ORACLE_Q22, "UNION ALL combine semantics"),
        QueryDef("q23_table_counts", q23_table_counts, ORACLE_Q23, "count reconciliation shape"),
    ]


# Catalog modules in registration order: ``catalog_<stem>.py`` defines
# ``<stem>_registry()``.
_MODULES = (
    "northstar", "extra", "pandas", "tpch2",
    *(f"batch{i}" for i in range(5, 82)),
)


def registry() -> dict[str, QueryDef]:
    """All declared queries in declaration order: the relational queries
    above, then each ``_MODULES`` entry's queries in module order.

    Raises ``ValueError`` if two queries share a name, so no module can
    silently replace another's query.
    """
    queries = _relational_registry()
    for stem in _MODULES:
        mod = import_module(f".catalog_{stem}", __package__)
        queries += getattr(mod, f"{stem}_registry")()
    out: dict[str, QueryDef] = {}
    for q in queries:
        if q.name in out:
            raise ValueError(f"query {q.name!r} is registered twice")
        out[q.name] = q
    return out
