"""Advanced operators: as-of join, sessionization (batch + streaming session
windows), JSON extraction, multi-resolution time-bucket rollup, HLL sketches,
and two more TPC-H-shaped star queries.

The as-of join oracle uses DuckDB's native ``ASOF LEFT JOIN``; the Spark side
is the union-sort composition (see operators/asof.py) — same semantics, join
complexity independent of history depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators.asof import asof_join
from ..operators.sessions import session_window_agg, sessionize
from ..streaming.runner import run_available_now, stream_table
from ._registrar import registrar
from .parity import _t

QUERIES, ORACLE, query = registrar()


# ---------------------------------------------------------------------------
# As-of join (point-in-time lookup)
# ---------------------------------------------------------------------------


@query(
    "asof_join_latest_click",
    """
    SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="purchase_ts",
        right_time="click_ts",
        left_cols=["purchase_id"],
        right_cols=["click_id"],
    )


# ---------------------------------------------------------------------------
# Sessionization
# ---------------------------------------------------------------------------

_SESSIONS_SQL = """
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM (
        SELECT user_id, ts, event_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_idx
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events)
      ) GROUP BY 1, 2
"""


@query("sessionization_batch", _SESSIONS_SQL)
def sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return sessionize(e).select(
        "user_id",
        F.col("session_idx").cast("bigint").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
    )


@query(
    "st_session_window",
    f"""
    WITH sessions AS ({_SESSIONS_SQL})
    SELECT user_id, session_start,
           session_end + INTERVAL 30 MINUTE AS session_end_plus_gap, n_events
    FROM sessions
    WHERE session_end + INTERVAL 30 MINUTE <= (SELECT max(ts) - INTERVAL 5 MINUTE FROM events)
    """,
)
def st_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events")
    return run_available_now(session_window_agg(ev), "session-window")


# ---------------------------------------------------------------------------
# JSON column extraction (the `props` JSON-string column)
# ---------------------------------------------------------------------------


@query(
    "f_json_extract",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k")
    return e.select("event_id", k.alias("k_str"), k.cast("int").alias("k_int"))


# ---------------------------------------------------------------------------
# Multi-resolution time-bucket rollup (continuous-aggregate shape)
# ---------------------------------------------------------------------------


@query(
    "time_bucket_rollup",
    """
    SELECT date_trunc('day', ts) AS bucket_day,
           date_trunc('hour', ts) AS bucket_hour,
           date_trunc('minute', ts) - (minute(ts) % 15) * INTERVAL 1 MINUTE AS bucket_q15,
           COUNT(*) AS n_events,
           CAST(GROUPING(date_trunc('day', ts)) * 4
              + GROUPING(date_trunc('hour', ts)) * 2
              + GROUPING(date_trunc('minute', ts) - (minute(ts) % 15) * INTERVAL 1 MINUTE)
              AS INTEGER) AS grp
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts),
                     date_trunc('minute', ts) - (minute(ts) % 15) * INTERVAL 1 MINUTE)
    """,
)
def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day → hour → 15-min rollup in ONE pass (grouping-sets hash aggregate) —
    the hypertable continuous-aggregate shape without re-scanning per level."""
    e = _t(spark, sf_dir, "events")["events"]
    q15 = F.expr("date_trunc('minute', ts) - (minute(ts) % 15) * interval 1 minute")
    return (
        e.rollup(
            F.date_trunc("day", F.col("ts")).alias("bucket_day"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
            q15.alias("bucket_q15"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.grouping_id().cast("int").alias("grp"))
        .select("bucket_day", "bucket_hour", "bucket_q15", "n_events", "grp")
    )


# ---------------------------------------------------------------------------
# Approximate-distinct sketch (HLL) — the HLL estimate itself is
# engine-specific, so the hashable output is: the EXACT distinct counts
# (identical across engines) plus in-query booleans asserting the estimate
# landed within 3·rsd of exact. The oracle recomputes the exact counts and
# emits literal TRUE — a red row means the sketch accuracy contract broke.
# ---------------------------------------------------------------------------


@query(
    "approx_distinct_sketch",
    """
    SELECT l_returnflag AS return_flag,
           COUNT(DISTINCT l_orderkey) AS n_orders_exact,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           COUNT(*) AS n_lines,
           TRUE AS orders_within_3rsd,
           TRUE AS parts_within_3rsd
    FROM lineitem GROUP BY 1
    """,
)
def approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct sketch (``approx_count_distinct``, rsd=0.02) — the 100 TB
    distinct-count path: a fixed ~kB sketch per group, map-side mergeable, vs
    an exact COUNT(DISTINCT) that shuffles every distinct key. The estimate is
    checked against the exact count in the same aggregation (one scan, both
    aggregates partial-merged); the 3·rsd bound (99.7% confidence) is the
    published HLL++ accuracy contract."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) <= F.lit(3 * 0.02) * F.col(exact)
    )
    # exact distincts and HLL sketches in SEPARATE aggregations joined on the
    # tiny group key: combining COUNT(DISTINCT x), COUNT(DISTINCT y) and
    # approx_count_distinct in one agg makes Catalyst plan the HLL buffers
    # through the multi-distinct Expand (every lane carries the sketch) —
    # measured 25 s vs 1.6 s for the split form at sf0.1 on local[32]
    exact = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.countDistinct("l_orderkey").alias("n_orders_exact"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    approx = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx_parts"),
    )
    return exact.join(F.broadcast(approx), "return_flag").select(
        "return_flag",
        "n_orders_exact",
        "n_parts_exact",
        "n_lines",
        within("_approx_orders", "n_orders_exact").alias("orders_within_3rsd"),
        within("_approx_parts", "n_parts_exact").alias("parts_within_3rsd"),
    )


# ---------------------------------------------------------------------------
# Two more TPC-H-shaped star queries
# ---------------------------------------------------------------------------

_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


@query(
    "q7_volume_between_nations",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    n1 = t["nation"].alias("n1")
    n2 = t["nation"].alias("n2")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(F.col("n1.n_name") != F.col("n2.n_name"))
        .groupBy(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
           c.c_acctbal AS acctbal, n.n_name AS nation_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, customer_id
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("customer_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-series gap filling + last-observation-carried-forward: dense hourly
# buckets per series (sequence-explode — distributed, no driver calendar),
# missing hours get n_events=0 and the LOCF of the value aggregate.
# ---------------------------------------------------------------------------


@query(
    "timeseries_gapfill_locf",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx FROM hourly GROUP BY 1
    ),
    buckets AS (
      SELECT event_type, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    )
    SELECT b.event_type, b.bucket,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
           last_value(h.cents IGNORE NULLS) OVER (
             PARTITION BY b.event_type ORDER BY b.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_value_cents,
           h.n IS NULL AS is_gap
    FROM buckets b
    LEFT JOIN hourly h ON b.event_type = h.event_type AND b.bucket = h.bucket
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar per series via ``sequence`` + ``explode`` (the bucket
    list is generated executor-side from each series' own bounds — nothing
    collects, series of different spans don't pad each other), then LOCF with
    an ignore-nulls running ``last``. Value sums are integer cents (exact)."""
    e = _t(spark, sf_dir, "events")["events"]
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    buckets = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        buckets.join(hourly, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.last("cents", ignorenulls=True).over(w).alias("locf_value_cents"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Runtime hash-bucket filter (manual Bloom-style join pruning)
# ---------------------------------------------------------------------------


@query(
    "runtime_filter_join",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS urgent_revenue,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT l.l_orderkey) AS n_orders
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual runtime filter (operators/runtime_filter.py): the urgent-order
    keys' occupied hash buckets are broadcast and prune lineitem with a LEFT
    SEMI BroadcastHashJoin BEFORE the exact shuffle join; collisions are
    false-positive-only, so the result is value-identical to the plain join
    the oracle runs. At 100 TB the build side outgrows the broadcast
    threshold but its <=2^20-long bucket set never does, and the probe
    shuffle shrinks by the build selectivity."""
    from ..operators.runtime_filter import prune_with_hash_bucket_filter

    t = _t(spark, sf_dir, "lineitem", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    pruned = prune_with_hash_bucket_filter(
        t["lineitem"], "l_orderkey", urgent, "o_orderkey", n_buckets=1 << 20
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        pruned.join(urgent, pruned["l_orderkey"] == urgent["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(rev).cast("double").alias("urgent_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality expectations (DLT @dp.expect surface) and schema evolution
# ---------------------------------------------------------------------------


@query(
    "dq_expectations_orders",
    """
    SELECT 'custkey_not_null' AS expectation,
           CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_failed,
           CAST(COUNT(*) - SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END)
             AS BIGINT) AS n_passed
    FROM orders
    UNION ALL
    SELECT 'positive_totalprice',
           CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
             AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'known_status',
           CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
             AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0
                               ELSE 1 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderdate_in_range',
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01' THEN 0 ELSE 1
                    END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                               THEN 0 ELSE 1 END) AS BIGINT)
    FROM orders
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT-style expectations as pass/fail counts: the constraints are
    ``Expectation`` objects, and their counts are the one-pass
    ``expectation_counters`` (plans/expectations.py) — every constraint
    folds into ONE keyless aggregate scan, so metric cost is one pass no
    matter how many rules. Null predicates fail, per DLT semantics."""
    from ..plans.expectations import Expectation, expectation_counters

    o = _t(spark, sf_dir, "orders")["orders"]
    exps = [
        Expectation("custkey_not_null", "o_custkey IS NOT NULL"),
        Expectation("positive_totalprice", "o_totalprice > 0"),
        Expectation("known_status", "o_orderstatus IN ('O', 'F', 'P')"),
        Expectation("orderdate_in_range", "o_orderdate >= TIMESTAMP '1992-01-01'"),
    ]
    return expectation_counters(o, exps, dataset="orders").select(
        "expectation",
        F.col("n_violations").alias("n_failed"),
        (F.col("n_rows") - F.col("n_violations")).alias("n_passed"),
    )


@query(
    "schema_evolution_read",
    """
    SELECT doc_id, lang,
           CASE WHEN doc_id % 2 = 1 THEN source END AS source,
           CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
    FROM documents
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution / drift tolerance: an old-schema snapshot (doc_id,
    lang) and an evolved snapshot (+source, n_chars) are written side by side
    and read back through ``mergeSchema`` — Spark unions the footers'
    schemas and null-fills missing columns, the lakehouse upgrade path that
    needs no rewrite of old files. The oracle states the expected merged
    relation directly over the source table (same trick as
    s8_sink_roundtrip), so the write+read round trip itself is what's
    hash-checked. Footer merge cost scales with file count, not rows."""
    import os as _os

    base = _t(spark, sf_dir, "documents")["documents"]
    tmp = _os.path.join("/tmp/awlh_schema_evo", _os.path.basename(sf_dir.rstrip("/")))
    v1 = base.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = base.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "n_chars"
    )
    v1.write.mode("overwrite").parquet(tmp + "/v1")
    v2.write.mode("overwrite").parquet(tmp + "/v2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(tmp + "/v1", tmp + "/v2")
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "asof_join_forward_next_purchase",
    """
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    ranked AS (
      SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id, p.purchase_ts,
             row_number() OVER (PARTITION BY c.click_id
                                ORDER BY p.purchase_ts, p.purchase_id) AS rn
      FROM clicks c JOIN purch p
        ON c.user_id = p.p_user
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    )
    SELECT c.click_id, c.user_id, c.click_ts, r.purchase_id, r.purchase_ts
    FROM clicks c LEFT JOIN ranked r ON c.click_id = r.click_id AND r.rn = 1
    """,
)
def asof_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each click's NEXT purchase by the
    same user within 30 minutes (click-to-conversion attribution). The
    engine pays one union-sort window regardless of how many purchases
    follow each click; the oracle is the naive range join + rank-1 pick, so
    a green row proves the carry semantics including the equal-timestamp
    and tolerance boundaries. See operators/asof.py::asof_join_forward."""
    from ..operators.asof import asof_join_forward

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    return asof_join_forward(
        clicks,
        purchases,
        on="user_id",
        left_time="click_ts",
        right_time="purchase_ts",
        left_cols=["click_id"],
        right_cols=["purchase_id"],
        tolerance_seconds=1800,
    ).select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts")


@query(
    "referential_integrity_audit",
    """
    WITH rel AS (
      SELECT 'lineitem.l_orderkey->orders' AS relationship,
             l_orderkey AS k, o.o_orderkey AS pk
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part', l_partkey, p.p_partkey
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'orders.o_custkey->customer', o_custkey, c.c_custkey
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT relationship,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(COUNT(CASE WHEN k IS NULL THEN 1 END) AS BIGINT) AS n_null_keys,
           CAST(COUNT(CASE WHEN k IS NOT NULL AND pk IS NULL THEN 1 END) AS BIGINT)
             AS n_orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN pk IS NULL THEN k END) AS BIGINT)
             AS n_orphan_keys,
           ((COUNT(CASE WHEN k IS NOT NULL AND pk IS NULL THEN 1 END)
             + COUNT(CASE WHEN k IS NULL THEN 1 END)) * 1000000) // COUNT(*)
             AS orphan_rate_micros
    FROM rel GROUP BY 1
    """,
)
def referential_integrity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan scorecard over the star schema (parquet enforces
    no constraints — integrity is measured, not declared): per relationship,
    child rows / null keys / orphaned rows / distinct orphan keys / orphan
    rate in micros. One key-only LEFT ANTI join + keyless counts per
    relationship. See operators/quality.py::referential_integrity_audit."""
    from ..operators.quality import referential_integrity_audit

    t = load_tables(spark, sf_dir, ("lineitem", "orders", "part", "customer"))
    return referential_integrity_audit(
        [
            ("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
            ("lineitem.l_partkey->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
            ("orders.o_custkey->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ]
    )


@query(
    "session_path_topk",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM o
    ),
    p AS (
      SELECT user_id, session_idx,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY 1, 2
    ),
    c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p GROUP BY 1)
    SELECT path, n_sessions FROM c ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_path_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the 20 most common event-type sequences across
    gap-sessionized user journeys (the 'what do sessions look like'
    product-analytics staple). Session boundaries use EXACT microsecond
    gaps (unix_micros subtraction — a float epoch-seconds diff can flip
    the 30-minute boundary, the w4 lesson); the per-session path assembles
    with array_sort over (ts, event_id, type) structs, partition-order
    independent; the path table is pattern-domain-sized and the top-k is a
    TakeOrderedAndProject."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "ns", F.when(gap_us.isNull() | (gap_us >= 1800 * 1_000_000), 1).otherwise(0)
    )
    with_idx = flagged.withColumn(
        "session_idx",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    paths = (
        with_idx.groupBy("user_id", "session_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("seq")
        )
        .select(
            F.concat_ws(">", F.expr("transform(seq, x -> x.event_type)")).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )
