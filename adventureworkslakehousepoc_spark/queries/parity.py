"""Reference-parity queries (SURVEY.md §2 inventory) with DuckDB oracles.

Each entry returns a DataFrame from ``(spark, sf_dir)``; ``ORACLE[name]`` is
the ANSI-SQL equivalent DuckDB runs against the same parquet views. Every
computed column is aliased identically on both sides (the driver's compare
sorts columns by name before hashing).

Cross-engine float discipline (see ``functions.expressions``): raw 2-decimal
parquet doubles may be cast to decimal for exact sums; *computed* doubles go
through the IEEE-deterministic quantized average; double division / IEEE ops
are bit-identical across engines and are used freely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_tables
from ..functions.expressions import (
    decode,
    exact_avg,
    exact_unscaled_sum,
    quantized_avg,
    surrogate_key,
    typed_null,
)
from ..operators.joins import interval_join, star_left_join
from ..pipelines.medallion import SEGMENT_DECODE, medallion_context
from ..sources.files import NOAA_BY_YEAR_SCHEMA, read_csv_with_schema
from ..sources.fixed_width import FixedWidthField, parse_fixed_width, read_fixed_width
from ._registrar import registrar

QUERIES, ORACLE, query = registrar()


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, names)


# exact revenue term: (12,2) * (1.00 - (3,2)) — decimal, order-independent
def _rev():
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


# integer-unscaled twin of _rev(): p_cents * (100 - d_cents) is EXACTLY the
# unscaled value of the decimal(16,4) product (scale 4). Summing this long
# through exact_unscaled_sum keeps the aggregation hash map on codegen'd
# long adds instead of the decimal(26,4) buffer's per-row BigDecimal path
# (2.2x the stage on q1 at sf0.1) while producing the bit-identical double.
def _rev_u():
    p_cents = F.expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)")
    d_cents = F.expr("cast(cast(l_discount as decimal(3,2)) * 100 as bigint)")
    return p_cents * (F.lit(100) - d_cents)


def _rev_sum():
    """== F.sum(_rev()).cast("double"), via long partials."""
    return exact_unscaled_sum(_rev_u(), 4)

# ---------------------------------------------------------------------------
# Flagship + TPC-H-shaped headline queries (J5, A1, P1/P2, F14, F17)
# ---------------------------------------------------------------------------


@query(
    "flagship_revenue_by_month_segment",
    f"""
    SELECT date_trunc('month', o.o_orderdate) AS order_month,
           c.c_mktsegment AS segment,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           SUM(l.l_quantity) AS sum_qty,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"), "inner")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            _rev_sum().alias("revenue"),
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_REV_SQL} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE)
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            exact_unscaled_sum(
                F.expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)"),
                2,
            ).alias("sum_base_price"),
            _rev_sum().alias("sum_disc_price"),
            # charge = rev * (1 + tax): unscaled micro-units (scale 6)
            exact_unscaled_sum(
                _rev_u()
                * (
                    F.lit(100)
                    + F.expr("cast(cast(l_tax as decimal(3,2)) * 100 as bigint)")
                ),
                6,
            ).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey AS order_key,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           o.o_orderdate AS order_date,
           o.o_orderpriority AS order_priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, order_key
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer")
    cutoff = F.lit("1998-06-30 00:00:00").cast("timestamp")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(_rev_sum().alias("revenue"))
        .select("order_key", "revenue", "order_date", "order_priority")
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


@query(
    "q5_supplier_volume_by_nation",
    f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(_rev_sum().alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# Projections / filters (P1–P6)
# ---------------------------------------------------------------------------


@query(
    "p1_projection_rename",
    """
    SELECT s.s_suppkey AS supplier_id, s.s_name AS supplier_name,
           s.s_nationkey AS nation_id, s.s_acctbal AS account_balance
    FROM supplier s
    """,
)
def p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")["supplier"].alias("s")
    return s.select(
        F.col("s.s_suppkey").alias("supplier_id"),
        F.col("s.s_name").alias("supplier_name"),
        F.col("s.s_nationkey").alias("nation_id"),
        F.col("s.s_acctbal").alias("account_balance"),
    )


@query(
    "p2_computed_columns",
    """
    SELECT CAST(p_partkey AS VARCHAR) || '_' || p_brand AS part_sk,
           CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END
             AS size_bucket,
           CAST(p_size AS VARCHAR) AS size_str,
           p_retailprice / 10.0 AS price_tenth
    FROM part
    """,
)
def p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    return p.select(
        surrogate_key("p_partkey", "p_brand").alias("part_sk"),
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_bucket"),
        F.col("p_size").cast("string").alias("size_str"),
        (F.col("p_retailprice") / 10.0).alias("price_tenth"),
    )


@query(
    "p3_null_filter",
    """
    SELECT c_custkey AS customer_id, person_id
    FROM (SELECT c_custkey,
                 CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END AS person_id
          FROM customer)
    WHERE person_id IS NOT NULL
    """,
)
def p3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    return (
        c.withColumn(
            "person_id",
            F.when((F.col("c_custkey") % 10) == 0, typed_null("bigint")).otherwise(F.col("c_custkey")),
        )
        .filter(F.col("person_id").isNotNull())
        .select(F.col("c_custkey").alias("customer_id"), "person_id")
    )


@query(
    "p4_conjunctive_filter",
    """
    SELECT c_custkey AS customer_id, c_name AS name, c_nationkey AS nation_id
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal IS NOT NULL AND c_nationkey < 20
    """,
)
def p4(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.filter(
        (F.col("c_mktsegment") == "BUILDING")
        & F.col("c_acctbal").isNotNull()
        & (F.col("c_nationkey") < 20)
    ).select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation_id"),
    )


@query(
    "p5_membership_filter",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'purchase', 'signup')
    """,
)
def p5(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return e.filter(F.col("event_type").isin(["click", "purchase", "signup"])).select(
        "event_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Joins (J1, J3, J4, J5) — J2's inner-join shape is dim_customer's self join
# ---------------------------------------------------------------------------


@query(
    "j1_dim_lookup_left_join",
    """
    SELECT COALESCE(r.r_name, '<none>') AS region_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c.c_acctbal)
             AS avg_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def j1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "nation", "region")
    joined = star_left_join(
        t["customer"].alias("c"),
        [
            (t["nation"].alias("n"), F.col("c.c_nationkey") == F.col("n.n_nationkey")),
            (t["region"].alias("r"), F.col("n.n_regionkey") == F.col("r.r_regionkey")),
        ],
    )
    return joined.groupBy(F.coalesce(F.col("r.r_name"), F.lit("<none>")).alias("region_name")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        exact_avg(F.col("c.c_acctbal")).alias("avg_acctbal"),
    )


@query(
    "j3_interval_join_symmetric",
    """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts + INTERVAL 10 MINUTE
    """,
)
def j3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("click_user"), F.col("ts").alias("click_ts")
    )
    joined = interval_join(
        purchases, clicks,
        on=[("user_id", "click_user")],
        left_time="purchase_ts", right_time="click_ts",
        lower="10 minutes", upper="10 minutes",
        how="left",
    )
    return joined.select(
        F.col("l.purchase_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.purchase_ts").alias("purchase_ts"),
        F.col("r.click_id").alias("click_id"),
        F.col("r.click_ts").alias("click_ts"),
    )


@query(
    "j4_chained_interval_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, cu.c_mktsegment AS segment,
           c.event_id AS click_id, s.event_id AS signup_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts + INTERVAL 10 MINUTE
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND s.ts >= p.ts - INTERVAL 1 DAY AND s.ts <= p.ts + INTERVAL 0 DAY
    LEFT JOIN customer cu ON p.user_id = cu.c_custkey
    """,
)
def j4(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "events", "customer")
    e = t["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("click_user"), F.col("ts").alias("click_ts")
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id").alias("signup_user"), F.col("ts").alias("signup_ts")
    )
    step1 = interval_join(
        purchases, clicks,
        on=[("user_id", "click_user")],
        left_time="purchase_ts", right_time="click_ts",
        lower="10 minutes", upper="10 minutes",
        how="left",
    ).select("l.purchase_id", "l.user_id", "l.purchase_ts", "r.click_id")
    step2 = interval_join(
        step1, signups,
        on=[("user_id", "signup_user")],
        left_time="purchase_ts", right_time="signup_ts",
        lower="1 days", upper="0 days",
        how="left",
    ).select("l.purchase_id", "l.user_id", "l.click_id", "r.signup_id")
    cust = t["customer"].alias("cu")
    return step2.alias("j").join(
        F.broadcast(cust), F.col("j.user_id") == F.col("cu.c_custkey"), "left"
    ).select(
        F.col("j.purchase_id").alias("purchase_id"),
        F.col("j.user_id").alias("user_id"),
        F.col("cu.c_mktsegment").alias("segment"),
        F.col("j.click_id").alias("click_id"),
        F.col("j.signup_id").alias("signup_id"),
    )


@query(
    "j5_batch_inner_join",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(e.value) AS avg_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def j5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "events", "customer")
    return (
        t["events"]
        .alias("e")
        .join(F.broadcast(t["customer"].alias("c")), F.col("e.user_id") == F.col("c.c_custkey"), "inner")
        .groupBy(F.col("c.c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"), exact_avg(F.col("e.value")).alias("avg_value"))
    )


# ---------------------------------------------------------------------------
# Aggregations (A1, A2)
# ---------------------------------------------------------------------------


@query(
    "a1_grouped_avg",
    """
    SELECT user_id, CAST(ts AS DATE) AS "date", UPPER(event_type) AS variable,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
           COUNT(*) AS n_obs
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return e.groupBy(
        "user_id",
        F.to_date("ts").alias("date"),
        F.upper(F.col("event_type")).alias("variable"),
    ).agg(exact_avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_obs"))


@query(
    "a2_pivot_explicit_values",
    """
    WITH pre AS (
      SELECT user_id, CAST(ts AS DATE) AS d, UPPER(event_type) AS variable,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
      FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id,
      CAST(SUM(CASE WHEN variable = 'CLICK' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'CLICK' THEN avg_value END) / 1000000.0 AS "CLICK",
      CAST(SUM(CASE WHEN variable = 'VIEW' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'VIEW' THEN avg_value END) / 1000000.0 AS "VIEW",
      CAST(SUM(CASE WHEN variable = 'PURCHASE' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'PURCHASE' THEN avg_value END) / 1000000.0 AS "PURCHASE",
      CAST(SUM(CASE WHEN variable = 'SIGNUP' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'SIGNUP' THEN avg_value END) / 1000000.0 AS "SIGNUP"
    FROM pre
    GROUP BY user_id
    """,
)
def a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    pre = e.groupBy(
        "user_id",
        F.to_date("ts").alias("d"),
        F.upper(F.col("event_type")).alias("variable"),
    ).agg(exact_avg("value").alias("avg_value"))
    return (
        pre.groupBy("user_id")
        .pivot("variable", ["CLICK", "VIEW", "PURCHASE", "SIGNUP"])
        .agg(quantized_avg("avg_value", 6))
    )


# ---------------------------------------------------------------------------
# Scalar-function coverage (F1–F19)
# ---------------------------------------------------------------------------


@query(
    "f_string_functions",
    """
    SELECT doc_id,
           UPPER(SUBSTRING(text, 1, 12)) AS head_upper,
           TRIM(SUBSTRING(text, 5, 20)) AS mid_trim,
           regexp_replace(text, 'the', 'THE', 'g') AS replaced,
           concat_ws('|', lang, source) AS lang_source,
           LENGTH(text) AS text_len
    FROM documents
    """,
)
def f_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.trim(F.substring("text", 5, 20)).alias("mid_trim"),
        F.regexp_replace("text", "the", "THE").alias("replaced"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.length("text").alias("text_len"),
    )


@query(
    "f_conditional_functions",
    """
    SELECT c_custkey AS customer_id,
           CASE c_mktsegment
             WHEN 'AUTOMOBILE' THEN 'Individual' WHEN 'BUILDING' THEN 'Store Contact'
             WHEN 'FURNITURE' THEN 'Sales Person' WHEN 'MACHINERY' THEN 'Employee'
             WHEN 'HOUSEHOLD' THEN 'Vendor Contact' ELSE 'Unknown' END AS segment_label,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS acctbal_nonneg,
           GREATEST(c_acctbal, 0.0) AS acctbal_floor,
           c_acctbal / 10.0 AS acctbal_tenth,
           c_nationkey IN (0, 1, 2, 3, 4) AS is_core_nation,
           '-' AS placeholder,
           CAST(NULL AS VARCHAR) AS missing_attr
    FROM customer
    """,
)
def f_conditionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        decode("c_mktsegment", SEGMENT_DECODE, default="Unknown").alias("segment_label"),
        F.coalesce(
            F.when(F.col("c_acctbal") < 0, typed_null("double")).otherwise(F.col("c_acctbal")),
            F.lit(0.0),
        ).alias("acctbal_nonneg"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("acctbal_floor"),
        (F.col("c_acctbal") / 10.0).alias("acctbal_tenth"),
        F.col("c_nationkey").isin([0, 1, 2, 3, 4]).alias("is_core_nation"),
        F.lit("-").alias("placeholder"),
        typed_null("string").alias("missing_attr"),
    )


@query(
    "f_date_functions",
    """
    SELECT event_id,
           strftime(ts, '%Y%m%d') AS date_str,
           CAST(strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS DATE) AS parsed_date,
           strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS parsed_ts,
           CAST(ts AS DATE) AS event_date,
           CAST(year(ts) AS INTEGER) AS event_year,
           CAST(month(ts) AS INTEGER) AS event_month,
           ts + INTERVAL 1 DAY AS next_day
    FROM events
    """,
)
def f_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    date_str = F.date_format("ts", "yyyyMMdd")
    return e.select(
        "event_id",
        date_str.alias("date_str"),
        F.to_date(date_str, "yyyyMMdd").alias("parsed_date"),
        F.to_timestamp(date_str, "yyyyMMdd").alias("parsed_ts"),
        F.to_date("ts").alias("event_date"),
        F.year("ts").alias("event_year"),
        F.month("ts").alias("event_month"),
        (F.col("ts") + F.expr("interval 1 day")).alias("next_day"),
    )


# ---------------------------------------------------------------------------
# Fixed-width parsing (S7) — lines synthesized from `customer`, parsed back
# ---------------------------------------------------------------------------

_S7_LINE_SQL = (
    "rpad(c_name, 20, ' ') || lpad(CAST(c_custkey AS VARCHAR), 11, '0') || "
    "rpad(c_mktsegment, 12, ' ') || lpad(CAST(c_nationkey AS VARCHAR), 4, ' ')"
)


@query(
    "s7_fixed_width_parse",
    f"""
    WITH lines AS (SELECT {_S7_LINE_SQL} AS value FROM customer)
    SELECT TRIM(SUBSTRING(value, 1, 20)) AS station_name,
           CAST(SUBSTRING(value, 21, 11) AS BIGINT) AS station_id,
           TRIM(SUBSTRING(value, 32, 12)) AS network,
           CAST(TRIM(SUBSTRING(value, 44, 4)) AS INTEGER) AS state_id
    FROM lines
    """,
)
def s7(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    lines = c.select(
        F.concat(
            F.rpad("c_name", 20, " "),
            F.lpad(F.col("c_custkey").cast("string"), 11, "0"),
            F.rpad("c_mktsegment", 12, " "),
            F.lpad(F.col("c_nationkey").cast("string"), 4, " "),
        ).alias("value")
    )
    fields = (
        FixedWidthField("station_name", 1, 20),
        FixedWidthField("station_id", 21, 11, "bigint"),
        FixedWidthField("network", 32, 12),
        FixedWidthField("state_id", 44, 4, "int"),
    )
    return parse_fixed_width(lines, fields)


# ---------------------------------------------------------------------------
# File sources (S5 text scan, S6 explicit-schema CSV) over generated fixtures
# ---------------------------------------------------------------------------

_FIXTURE_DIR = "/tmp/awlh_fixtures"

_CSV_ROWS = [
    ("US1FLSL0019", "20230101", "PRCP", 30, "N", "X", "N", "0700"),
    ("US1FLSL0019", "20230102", "TAVG", 215, "N", "X", "N", "0700"),
    ("USW00014732", "20230101", "TAVG", -52, "N", "X", "N", "0800"),
    ("USW00014732", "20230102", "SNOW", 120, "N", "X", "N", "0800"),
    ("ASN00008230", "20230101", "AWND", 61, "N", "X", "N", "0900"),
    ("ASN00008230", "20230103", "PRCP", 0, "N", "X", "N", "0900"),
    ("USC00300379", "20230104", "TMAX", 289, "N", "X", "N", "0700"),
    ("USC00300379", "20230105", "TMIN", -114, "N", "X", "N", "0700"),
]


def ensure_fixture_files() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    csv_path = os.path.join(_FIXTURE_DIR, "noaa_by_year.csv")
    content = "\n".join(",".join(str(v) for v in row) for row in _CSV_ROWS) + "\n"
    if not os.path.exists(csv_path) or open(csv_path).read() != content:
        with open(csv_path, "w") as fh:
            fh.write(content)
    return csv_path


def _csv_values_sql() -> str:
    rows = ", ".join(
        f"('{r[0]}', '{r[1]}', '{r[2]}', {r[3]}, '{r[4]}', '{r[5]}', '{r[6]}', '{r[7]}')"
        for r in _CSV_ROWS
    )
    return (
        f"SELECT * FROM (VALUES {rows}) "
        "t(station_id, date_str, element, value, mflag, qflag, sflag, obs_time)"
    )


@query(
    "s6_csv_explicit_schema",
    f"""
    WITH src AS ({_csv_values_sql()})
    SELECT station_id,
           CAST(strptime(date_str, '%Y%m%d') AS DATE) AS obs_date,
           element,
           CASE WHEN element IN ('TAVG', 'TMAX', 'TMIN', 'PRCP', 'AWND')
                THEN value / 10.0 ELSE CAST(value AS DOUBLE) END AS value,
           CASE element WHEN 'TAVG' THEN 'Average Temperature'
                        WHEN 'TMAX' THEN 'Maximum Temperature'
                        WHEN 'TMIN' THEN 'Minimum Temperature'
                        WHEN 'PRCP' THEN 'Precipitation'
                        WHEN 'SNOW' THEN 'Snowfall'
                        WHEN 'AWND' THEN 'Average Wind Speed'
                        ELSE 'Unknown' END AS element_name
    FROM src
    """,
)
def s6(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_fixture_files()
    raw = read_csv_with_schema(spark, path, NOAA_BY_YEAR_SCHEMA)
    return raw.select(
        "station_id",
        F.to_date(F.col("date"), "yyyyMMdd").alias("obs_date"),
        "element",
        F.when(
            F.col("element").isin(["TAVG", "TMAX", "TMIN", "PRCP", "AWND"]),
            F.col("value") / 10.0,
        )
        .otherwise(F.col("value").cast("double"))
        .alias("value"),
        decode(
            "element",
            {
                "TAVG": "Average Temperature",
                "TMAX": "Maximum Temperature",
                "TMIN": "Minimum Temperature",
                "PRCP": "Precipitation",
                "SNOW": "Snowfall",
                "AWND": "Average Wind Speed",
            },
            default="Unknown",
        ).alias("element_name"),
    )


# ---------------------------------------------------------------------------
# Medallion silver datasets (dim_* / fact_* — SURVEY.md §1, reference parity)
# ---------------------------------------------------------------------------


def _medallion(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return medallion_context(spark, sf_dir).dataframe(name)

    run.__name__ = f"medallion_{name}"
    return run


QUERIES["dim_geo"] = _medallion("dim_geo")
ORACLE["dim_geo"] = """
    SELECT CAST(a.c_custkey AS VARCHAR) || '_' || a.c_mktsegment AS geography_id,
           a.c_name AS city,
           UPPER(SUBSTRING(sp.n_name, 1, 2)) AS state_province_code,
           sp.n_name AS state_province_name,
           CAST(cr.r_regionkey AS VARCHAR) AS country_region_code,
           cr.r_name AS country_name
    FROM customer a
    LEFT JOIN nation sp ON a.c_nationkey = sp.n_nationkey
    LEFT JOIN region cr ON sp.n_regionkey = cr.r_regionkey
"""

QUERIES["dim_product"] = _medallion("dim_product")
ORACLE["dim_product"] = """
    SELECT p.p_partkey AS product_id,
           p.p_brand AS product_number,
           p.p_name AS product_name,
           COALESCE(sc.n_name, 'Missing') AS subcategory_name,
           COALESCE(c.r_name, 'Missing') AS category_name,
           COALESCE(CASE WHEN p.p_size % 7 = 0 THEN NULL ELSE p.p_brand END, 'Missing') AS color,
           COALESCE(CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) AS VARCHAR), '-') AS weight,
           CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(2,1)) AS DOUBLE)
             AS standard_cost,
           p.p_retailprice AS list_price,
           p.p_size + 10 AS safety_stock_level,
           p.p_size % 4 AS days_to_manufacture,
           p.p_size % 2 = 0 AS make_flag,
           p.p_size % 3 <> 0 AS finished_goods_flag,
           CASE p.p_type WHEN 'PROMO' THEN 'P' WHEN 'STANDARD' THEN 'S'
                         WHEN 'ECONOMY' THEN 'E' ELSE NULL END AS product_line
    FROM part p
    LEFT JOIN nation sc ON p.p_size % 25 = sc.n_nationkey
    LEFT JOIN region c ON sc.n_regionkey = c.r_regionkey
"""

QUERIES["dim_customer"] = _medallion("dim_customer")
ORACLE["dim_customer"] = """
    WITH cust AS (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END AS person_id
      FROM customer
    ), lo AS (
      SELECT o_custkey, MAX(o_orderdate) AS last_order_ts FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey AS customer_id,
           'AW' || lpad(CAST(c.c_custkey AS VARCHAR), 8, '0') AS account_number,
           TRIM(regexp_replace(
             concat_ws(' ', regexp_replace(p.c_name, '#', ' ', 'g'), p.c_mktsegment),
             '\\s+', ' ', 'g')) AS full_name,
           CASE p.c_mktsegment
             WHEN 'AUTOMOBILE' THEN 'Individual' WHEN 'BUILDING' THEN 'Store Contact'
             WHEN 'FURNITURE' THEN 'Sales Person' WHEN 'MACHINERY' THEN 'Employee'
             WHEN 'HOUSEHOLD' THEN 'Vendor Contact' ELSE 'Unknown' END AS person_type,
           GREATEST(COALESCE(lo.last_order_ts, TIMESTAMP '1970-01-01 00:00:00'),
                    TIMESTAMP '1998-01-01 00:00:00') AS last_modified
    FROM cust c
    JOIN customer p ON c.person_id = p.c_custkey
    LEFT JOIN lo ON c.c_custkey = lo.o_custkey
    WHERE c.person_id IS NOT NULL
"""

QUERIES["dim_store"] = _medallion("dim_store")
ORACLE["dim_store"] = """
    WITH cust AS (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_custkey % 10 END AS store_id
      FROM customer
    )
    SELECT c.c_custkey AS customer_id,
           s.s_suppkey AS store_business_id,
           s.s_name AS store_name,
           GREATEST(COALESCE(s.s_acctbal, 0.0), COALESCE(c.c_acctbal, 0.0)) AS best_acctbal
    FROM cust c
    LEFT JOIN supplier s ON c.store_id = s.s_suppkey
    WHERE c.store_id IS NOT NULL
"""

QUERIES["fact_sales"] = _medallion("fact_sales")
ORACLE["fact_sales"] = """
    SELECT l.l_orderkey AS sales_order_id,
           l.l_linenumber AS sales_order_detail_id,
           l.l_partkey AS product_id,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderstatus AS status,
           o.o_custkey AS customer_id,
           CAST(a.c_custkey AS VARCHAR) || '_' || a.c_mktsegment AS geography_id,
           CAST(l.l_quantity AS INTEGER) AS order_qty,
           CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS DOUBLE)
             AS line_total,
           o.o_totalprice AS total_due,
           GREATEST(l.l_shipdate, COALESCE(o.o_orderdate, l.l_shipdate)) AS last_modified
    FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      AND o.o_orderdate >= l.l_shipdate - INTERVAL 365 DAY
      AND o.o_orderdate <= l.l_shipdate + INTERVAL 365 DAY
    LEFT JOIN customer a ON o.o_custkey = a.c_custkey
"""

_RAW_METRICS_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS station_id,
           strftime(ts, '%Y%m%d') AS date_str,
           CAST(strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS DATE) AS "date",
           strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS date_ts,
           UPPER(event_type) AS variable,
           CASE event_type WHEN 'click' THEN 'Click Through' WHEN 'view' THEN 'Page View'
                           WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Sign Up'
                           WHEN 'error' THEN 'Error' ELSE 'Unknown' END AS variable_name,
           CASE WHEN event_type IN ('click', 'view') THEN value / 10.0 ELSE value END AS value,
           CASE event_type WHEN 'click' THEN 'count/10' WHEN 'view' THEN 'count/10'
                           WHEN 'purchase' THEN 'usd' WHEN 'signup' THEN 'count'
                           WHEN 'error' THEN 'count' ELSE 'unknown' END AS unit,
           CAST(NULL AS VARCHAR) AS qflag
    FROM events
"""

QUERIES["raw_metrics_timeseries"] = _medallion("raw_metrics_timeseries")
ORACLE["raw_metrics_timeseries"] = _RAW_METRICS_SQL

_US_STATIONS_SQL = """
    SELECT c_custkey AS station_id, c_name AS station_name,
           c_nationkey AS state_id, c_mktsegment AS network
    FROM customer
    WHERE c_nationkey < 5 AND c_mktsegment IS NOT NULL
"""

QUERIES["us_stations"] = _medallion("us_stations")
ORACLE["us_stations"] = _US_STATIONS_SQL

QUERIES["fact_weather"] = _medallion("fact_weather")
ORACLE["fact_weather"] = f"""
    WITH metrics AS ({_RAW_METRICS_SQL}),
    us AS ({_US_STATIONS_SQL}),
    pre AS (
      SELECT 'N' || CAST(st.state_id AS VARCHAR) AS state_geo_id,
             ts."date" AS d,
             ts.variable AS variable,
             CAST(SUM(CAST(FLOOR(ts.value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / COUNT(ts.value) / 1000000.0 AS avg_value
      FROM metrics ts
      JOIN us st ON ts.station_id = CAST(st.station_id AS VARCHAR)
      WHERE ts.variable IN ('CLICK', 'VIEW', 'PURCHASE', 'SIGNUP')
      GROUP BY 1, 2, 3
    )
    SELECT state_geo_id, d AS "date",
      CAST(SUM(CASE WHEN variable = 'CLICK' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'CLICK' THEN avg_value END) / 1000000.0 AS average_clicks,
      CAST(SUM(CASE WHEN variable = 'VIEW' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'VIEW' THEN avg_value END) / 1000000.0 AS average_views,
      CAST(SUM(CASE WHEN variable = 'PURCHASE' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'PURCHASE' THEN avg_value END) / 1000000.0 AS average_purchase_value,
      CAST(SUM(CASE WHEN variable = 'SIGNUP' THEN CAST(FLOOR(avg_value * 1000000 + 0.5) AS BIGINT) END) AS DOUBLE)
        / COUNT(CASE WHEN variable = 'SIGNUP' THEN avg_value END) / 1000000.0 AS average_signups
    FROM pre
    GROUP BY 1, 2
"""

# S9 bronze fan-out: passthrough staging dataset (one representative; the
# factory registers the full schema_groups config — see pipelines.bronze)
QUERIES["s9_bronze_passthrough"] = _medallion("stg_person__region")
ORACLE["s9_bronze_passthrough"] = "SELECT * FROM region"


# S8 managed-table sink, round-tripped: materialize dim_geo through
# PipelineContext.run (the @dp.table write path, plans/registry.py) and read
# the parquet back — the sink itself is what's hash-checked here.
def _s8_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    warehouse = _os.path.join(
        "/tmp/awlh_sink", _os.path.basename(sf_dir.rstrip("/"))
    )
    paths = medallion_context(spark, sf_dir).run(warehouse, names=["dim_geo"])
    return spark.read.parquet(paths["dim_geo"])


QUERIES["s8_sink_roundtrip"] = _s8_sink_roundtrip
ORACLE["s8_sink_roundtrip"] = ORACLE["dim_geo"]


# ---------------------------------------------------------------------------
# S5 + S7 over a real text file: NOAA ghcnd-stations fixed-width layout
# (reference noaa_bronze_layer.py:18-44), fixture generated deterministically
# ---------------------------------------------------------------------------

_STATION_ROWS = [
    ("US1FLSL0019", 27.1234, -80.2341, 12.1, "FL", "PORT ST LUCIE 4.1 NE", "GSN", "HCN", "72240"),
    ("USW00014732", 40.7794, -73.8803, 3.4, "NY", "LA GUARDIA AP", "GSN", "", "72503"),
    ("ASN00008230", -31.9522, 115.8614, 24.9, "", "PERTH METRO", "", "", "94608"),
    ("USC00300379", 42.2567, -77.7689, 522.1, "NY", "ANGELICA", "", "HCN", ""),
    ("CA006158350", 43.6772, -79.6306, 173.4, "ON", "TORONTO INTL A", "GSN", "", "71624"),
    ("MX000076680", 19.4, -99.2, 2303.9, "", "MEXICO CITY", "", "", "76680"),
]


def _station_line(r) -> str:
    return (
        f"{r[0]:<11} {r[1]:>8.4f} {r[2]:>9.4f} {r[3]:>6.1f} {r[4]:<2} "
        f"{r[5]:<30} {r[6]:<3} {r[7]:<3} {r[8]:<5}"
    )


def ensure_stations_file() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    path = os.path.join(_FIXTURE_DIR, "ghcnd_stations.txt")
    content = "\n".join(_station_line(r) for r in _STATION_ROWS) + "\n"
    if not os.path.exists(path) or open(path).read() != content:
        with open(path, "w") as fh:
            fh.write(content)
    return path


def _station_values_sql() -> str:
    rows = ", ".join("('" + _station_line(r).replace("'", "''") + "')" for r in _STATION_ROWS)
    return f"SELECT * FROM (VALUES {rows}) t(value)"


@query(
    "s5_s7_stations_text_file",
    f"""
    WITH lines AS ({_station_values_sql()})
    SELECT TRIM(SUBSTRING(value, 1, 11)) AS station_id,
           CAST(TRIM(SUBSTRING(value, 13, 8)) AS DOUBLE) AS latitude,
           CAST(TRIM(SUBSTRING(value, 22, 9)) AS DOUBLE) AS longitude,
           CAST(TRIM(SUBSTRING(value, 32, 6)) AS DOUBLE) AS elevation,
           TRIM(SUBSTRING(value, 39, 2)) AS state,
           TRIM(SUBSTRING(value, 42, 30)) AS name,
           TRIM(SUBSTRING(value, 73, 3)) AS gsn_flag,
           TRIM(SUBSTRING(value, 77, 3)) AS hcn_crn_flag,
           TRIM(SUBSTRING(value, 81, 5)) AS wmo_id
    FROM lines
    """,
)
def s5_stations_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 line-text scan of an actual file + S7 positional decode using the
    NOAA station layout spec (sources.fixed_width.GHCND_STATIONS)."""
    from ..sources.fixed_width import GHCND_STATIONS

    path = ensure_stations_file()
    return read_fixed_width(spark, path, GHCND_STATIONS)


# ---------------------------------------------------------------------------
# q6/q14/q19 shapes: pushdown-heavy filter-agg, conditional-agg ratio,
# disjunctive predicate pushdown
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q14_promo_revenue_ratio",
    f"""
    SELECT CAST(100.0 AS DOUBLE)
             * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL} END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    promo = exact_unscaled_sum(F.when(F.col("p_type") == "PROMO", _rev_u()), 4)
    total = _rev_sum()
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * promo / total).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q19_disjunctive_predicates",
    f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#5'  AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(10, 30) & q.between(10, 40))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(20, 50) & q.between(20, 50))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(_rev_sum().alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# S7 second layout: NOAA ghcnd-inventory fixed-width file
# (reference noaa_bronze_layer.py:82-102)
# ---------------------------------------------------------------------------

_INVENTORY_ROWS = [
    ("US1FLSL0019", 27.1234, -80.2341, "PRCP", 1998, 2023),
    ("US1FLSL0019", 27.1234, -80.2341, "SNOW", 2001, 2020),
    ("USW00014732", 40.7794, -73.8803, "TAVG", 1948, 2023),
    ("USW00014732", 40.7794, -73.8803, "AWND", 1984, 2023),
    ("ASN00008230", -31.9522, 115.8614, "TMAX", 1897, 2023),
    ("USC00300379", 42.2567, -77.7689, "TMIN", 1893, 2012),
]


def _inventory_line(r) -> str:
    return f"{r[0]:<11} {r[1]:>8.4f} {r[2]:>9.4f} {r[3]:<4} {r[4]:>4d} {r[5]:>4d}"


def ensure_inventory_file() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    path = os.path.join(_FIXTURE_DIR, "ghcnd_inventory.txt")
    content = "\n".join(_inventory_line(r) for r in _INVENTORY_ROWS) + "\n"
    if not os.path.exists(path) or open(path).read() != content:
        with open(path, "w") as fh:
            fh.write(content)
    return path


@query(
    "s7_inventory_file",
    f"""
    WITH lines AS (SELECT * FROM (VALUES
      {", ".join("('" + _inventory_line(r) + "')" for r in _INVENTORY_ROWS)}) t(value))
    SELECT TRIM(SUBSTRING(value, 1, 11)) AS station_id,
           CAST(TRIM(SUBSTRING(value, 13, 8)) AS DOUBLE) AS latitude,
           CAST(TRIM(SUBSTRING(value, 22, 9)) AS DOUBLE) AS longitude,
           TRIM(SUBSTRING(value, 32, 4)) AS element,
           CAST(TRIM(SUBSTRING(value, 37, 4)) AS INTEGER) AS first_year,
           CAST(TRIM(SUBSTRING(value, 42, 4)) AS INTEGER) AS last_year
    FROM lines
    """,
)
def s7_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.fixed_width import GHCND_INVENTORY

    return read_fixed_width(spark, ensure_inventory_file(), GHCND_INVENTORY)


# ---------------------------------------------------------------------------
# S6 hardening: malformed-row quarantine (PERMISSIVE + _corrupt_record).
# The reference's explicit-schema CSV read (noaa_bronze_layer.py:122-135)
# fails or silently nulls malformed lines; at scale the engine must count
# and quarantine them instead.
# ---------------------------------------------------------------------------

_BAD_LINES = [
    "THIS LINE IS NOT A CSV RECORD AT ALL",
    "USW00014732,20230106,TAVG,not_an_int,N,X,N,0700",
]


def ensure_malformed_csv() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    path = os.path.join(_FIXTURE_DIR, "noaa_by_year_malformed.csv")
    good = [",".join(str(v) for v in row) for row in _CSV_ROWS]
    # interleave the bad lines deterministically
    lines = good[:3] + [_BAD_LINES[0]] + good[3:] + [_BAD_LINES[1]]
    content = "\n".join(lines) + "\n"
    if not os.path.exists(path) or open(path).read() != content:
        with open(path, "w") as fh:
            fh.write(content)
    return path


@query(
    "s6_csv_malformed_quarantine",
    f"""
    WITH good AS ({_csv_values_sql()})
    SELECT station_id, date_str, element, value FROM good
    """,
)
def s6_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean rows survive a feed containing junk lines and a type-corrupt
    value; the two malformed lines land in the quarantine side (asserted in
    tests/test_registry.py) instead of failing the read."""
    from ..sources.files import read_csv_resilient, split_valid_corrupt

    path = ensure_malformed_csv()
    schema = T.StructType(
        [
            T.StructField("station_id", T.StringType(), True),
            T.StructField("date_str", T.StringType(), True),
            T.StructField("element", T.StringType(), True),
            T.StructField("value", T.IntegerType(), True),
            T.StructField("mflag", T.StringType(), True),
            T.StructField("qflag", T.StringType(), True),
            T.StructField("sflag", T.StringType(), True),
            T.StructField("obs_time", T.StringType(), True),
        ]
    )
    valid, _ = split_valid_corrupt(read_csv_resilient(spark, path, schema))
    return valid.select("station_id", "date_str", "element", "value")


# ---------------------------------------------------------------------------
# S10: JSON-lines scan with explicit (nested) schema
# ---------------------------------------------------------------------------

_JSONL_ROWS = [
    '{"order_id": 1, "customer": {"name": "acme", "tier": 2}, "tags": ["rush", "gift"], "amount_cents": 129900}',
    '{"order_id": 2, "customer": {"name": "globex", "tier": 1}, "tags": ["rush"], "amount_cents": 4999}',
    '{"order_id": 3, "customer": {"name": "initech", "tier": 3}, "tags": [], "amount_cents": 78600}',
    '{"order_id": 4, "customer": {"name": "umbrella", "tier": 2}, "tags": ["bulk", "rush", "b2b"], "amount_cents": 1250000}',
    '{"order_id": 5, "customer": {"name": "hooli", "tier": 1}, "amount_cents": 300}',
]


def ensure_jsonl_fixture() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    path = os.path.join(_FIXTURE_DIR, "orders_feed.jsonl")
    content = "\n".join(_JSONL_ROWS) + "\n"
    if not os.path.exists(path) or open(path).read() != content:
        with open(path, "w") as fh:
            fh.write(content)
    return path


@query(
    "s10_jsonl_explicit_schema",
    """
    SELECT * FROM (VALUES
      (1, 'acme', 2, 2, 'rush', 129900),
      (2, 'globex', 1, 1, 'rush', 4999),
      (3, 'initech', 3, 0, CAST(NULL AS VARCHAR), 78600),
      (4, 'umbrella', 2, 3, 'bulk', 1250000),
      (5, 'hooli', 1, 0, CAST(NULL AS VARCHAR), 300)
    ) t(order_id, customer_name, tier, n_tags, first_tag, amount_cents)
    """,
)
def s10_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: JSON-lines source with an explicit NESTED schema (no inference
    pass), nested-struct and array access projected as ordinary columns —
    a missing tags field reads as NULL array (size → 0 via coalesce), a
    missing element as NULL via ANSI-safe try_element_at. The oracle restates the expected parsed
    relation in closed form."""
    import pyspark.sql.types as T

    from ..sources.files import read_jsonl_with_schema

    schema = T.StructType(
        [
            T.StructField("order_id", T.IntegerType()),
            T.StructField(
                "customer",
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("tier", T.IntegerType()),
                    ]
                ),
            ),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("amount_cents", T.LongType()),
        ]
    )
    raw = read_jsonl_with_schema(spark, ensure_jsonl_fixture(), schema)
    return raw.select(
        "order_id",
        F.col("customer.name").alias("customer_name"),
        F.col("customer.tier").alias("tier"),
        F.coalesce(F.size("tags"), F.lit(0)).cast("int").alias("n_tags"),
        F.try_element_at("tags", F.lit(1)).alias("first_tag"),
        F.col("amount_cents").cast("bigint").alias("amount_cents"),
    )


@query(
    "s11_orc_roundtrip",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 20 = 0
    """,
)
def s11_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: ORC format support (Spark-native columnar alternative to
    parquet) proven by a write→read round trip: a deterministic events
    slice materialized as ORC and read back must hash-match the relation
    recomputed from the parquet source. Predicate/column pushdown applies
    to the ORC scan the same as parquet (vectorized reader, footer stats).
    DuckDB reads no ORC, so the oracle recomputes the slice directly."""
    import os as _os

    from ..catalog import load_tables
    from ..streaming.runner import scratch_dir

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sliced = ev.filter((F.col("event_id") % 20) == 0).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    # fresh per-call dir — a shared fixed path would race when two sessions
    # run this query on the same sf concurrently (the change-log lesson);
    # session-scoped so repeated runs don't accumulate temp dirs
    out = scratch_dir(f"awlh_orc_{_os.path.basename(sf_dir.rstrip('/'))}")
    sliced.write.mode("overwrite").orc(out)
    return spark.read.orc(out)
