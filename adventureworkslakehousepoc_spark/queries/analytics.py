"""Analytics built-ins beyond reference parity (SURVEY.md §2.5 notes the
reference uses none of these, but the engine ships them as first-class tested
capabilities): window functions, set operations, rollup, distinct aggregates,
window-rank dedup.

Determinism rules: every window ORDER BY carries a unique tie-breaker key;
running sums aggregate exact decimals; counts are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import exact_unscaled_sum, exact_unscaled_sum_over
from ._registrar import registrar
from .parity import _t

QUERIES, ORACLE, query = registrar()


@query(
    "w1_topk_per_group",
    """
    SELECT o_custkey AS customer_id, o_orderkey AS order_key, o_totalprice AS total_price,
           CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
            "rn",
        )
    )


@query(
    "w2_running_sum",
    """
    SELECT o_custkey AS customer_id, o_orderkey AS order_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def w2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # r16: the running decimal(12,2) sum buffered in decimal(22,2) — a
    # per-row serialized-BigDecimal add inside WindowExec (guide §5). Two
    # long cents window sums + one exact decimal recombination per output
    # row produce the bit-identical double.
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_key"),
        exact_unscaled_sum_over(
            F.expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)"), 2, w
        ).alias("running_spend"),
    )


@query(
    "w3_lag_lead",
    """
    SELECT o_custkey AS customer_id, o_orderkey AS order_key, o_orderdate AS order_date,
           lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_order_date,
           lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS next_order_date
    FROM orders
    """,
)
def w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderdate").alias("order_date"),
        F.lag("o_orderdate").over(w).alias("prev_order_date"),
        F.lead("o_orderdate").over(w).alias("next_order_date"),
    )


@query(
    "set_operations",
    """
    SELECT c_custkey AS customer_id, 'both' AS membership FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    INTERSECT
    SELECT user_id, 'both' FROM events
    UNION ALL
    SELECT c_custkey, 'orders_only' FROM (
      SELECT DISTINCT c_custkey FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders)
      EXCEPT
      SELECT DISTINCT user_id FROM events
    )
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "events")
    with_orders = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey")
    )
    with_events = t["events"].select(F.col("user_id").alias("c_custkey"))
    both = with_orders.withColumn("membership", F.lit("both")).intersect(
        with_events.withColumn("membership", F.lit("both"))
    )
    orders_only = with_orders.distinct().exceptAll(with_events.distinct()).withColumn(
        "membership", F.lit("orders_only")
    )
    return both.unionAll(orders_only).select(
        F.col("c_custkey").alias("customer_id"), "membership"
    )


@query(
    "agg_rollup",
    """
    SELECT COALESCE(r.r_name, '<all>') AS region_name,
           COALESCE(n.n_name, '<all>') AS nation_name,
           COUNT(c.c_custkey) AS n_customers,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS INTEGER) AS grp
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "nation", "region")
    joined = (
        t["customer"]
        .alias("c")
        .join(F.broadcast(t["nation"].alias("n")), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
        .join(F.broadcast(t["region"].alias("r")), F.col("n.n_regionkey") == F.col("r.r_regionkey"))
    )
    return (
        joined.rollup(F.col("r.r_name"), F.col("n.n_name"))
        .agg(F.count("c.c_custkey").alias("n_customers"), F.grouping_id().cast("int").alias("grp"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("<all>")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("<all>")).alias("nation_name"),
            "n_customers",
            "grp",
        )
    )


@query(
    "agg_distinct",
    """
    SELECT l_returnflag AS return_flag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "dedup_window_rank",
    """
    SELECT user_id, event_type, event_id, ts FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup via deterministic window rank (the scalable
    ``dropDuplicates`` replacement — dropDuplicates keeps an *arbitrary* row,
    this keeps a *defined* one)."""
    e = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


# ---------------------------------------------------------------------------
# Semi-join / correlated-subquery shapes (TPC-H q4/q18 analogs)
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority_semi",
    """
    SELECT o_orderpriority AS order_priority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY 1
    """,
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    o = t["orders"].alias("o")
    li = t["lineitem"].alias("l")
    cond = (F.col("l.l_orderkey") == F.col("o.o_orderkey")) & (
        F.col("l.l_shipdate") > F.col("o.o_orderdate")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q18_large_orders",
    """
    SELECT c.c_custkey AS customer_id, o.o_orderkey AS order_key,
           o.o_orderdate AS order_date, o.o_totalprice AS total_price,
           SUM(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY 1, 2, 3, 4
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select("l_orderkey")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(big.withColumnRenamed("l_orderkey", "_bk"), F.col("o_orderkey") == F.col("_bk"), "left_semi")
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary + PII redaction (training-data hygiene ops)
# ---------------------------------------------------------------------------


@query(
    "vocab_top_tokens",
    """
    SELECT token, n, CAST(rank AS INTEGER) AS rank FROM (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM (
        SELECT w AS token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1
      )
    ) WHERE rank <= 50
    """,
)
def vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators.dedup import spread

    d = _t(spark, sf_dir, "documents")["documents"]
    counts = (
        spread(d, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # orderBy().limit() plans as TakeOrderedAndProject (distributed local
    # top-k + k-row merge) — a 100 M-token vocabulary never hits a
    # single-partition sort; the rank window then runs over 50 rows.
    order = [F.desc("n"), F.asc("token")]
    top = counts.orderBy(*order).limit(50)
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("token", "n", "rank")
    )


@query(
    "text_pii_redaction",
    """
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-01' || CAST(doc_id % 100 AS VARCHAR) AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-]{4,}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+')) AS INTEGER)
             AS n_emails
    FROM enriched
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII-shaped spans are synthesized onto each doc, then
    redacted with the same regexes both engines run — the anonymization pass
    of a training-data pipeline (pure codegen'd regex, no UDF)."""
    from ..operators.dedup import spread

    d = _t(spark, sf_dir, "documents")["documents"]
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-01"),
        (F.col("doc_id") % 100).cast("string"),
    )
    email_re = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+"
    phone_re = r"\+?[0-9][0-9()\-]{4,}"
    return spread(d, "doc_id").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("redacted"),
        F.regexp_count(raw, F.lit(email_re)).alias("n_emails"),
    )


# ---------------------------------------------------------------------------
# SQL API entry: the SAME ANSI string executes on Spark (spark.sql over temp
# views) and on the DuckDB oracle — dual DataFrame/SQL surface, one plan.
# ---------------------------------------------------------------------------

_SQL_API_QUERY = """
    SELECT r.r_name AS region_name,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
"""


@query("sql_api_orders_by_region", _SQL_API_QUERY)
def sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir, ("customer", "orders", "nation", "region"))
    return spark.sql(_SQL_API_QUERY)


# ---------------------------------------------------------------------------
# Exact-arithmetic statistics: mean/variance/stddev from integer-cent sums —
# order-free and engine-identical where naive stddev/corr would drift.
# ---------------------------------------------------------------------------


@query(
    "agg_stats_exact",
    """
    WITH s AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS sumsq_c
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority AS order_priority, n,
           CAST(sum_c AS DOUBLE) / n / 100.0 AS mean_price,
           CAST(n * sumsq_c - CAST(sum_c AS HUGEINT) * sum_c AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) / 10000.0 AS var_price,
           sqrt(CAST(n * sumsq_c - CAST(sum_c AS HUGEINT) * sum_c AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) / 10000.0) AS stddev_price
    FROM s
    """,
)
def stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    # r16: Σx² buffered straight in decimal(38,0) — a per-row BigDecimal
    # add (guide §5). cents² ≤ 3.6·10^15 fits a long exactly, so sum the
    # hi/lo long partials (hi ≤ 3.6·10^9: ~2.5·10^9 rows per group before
    # the hi partial saturates — past a 100 TB orders) and recombine into
    # the identical decimal(38,0) once per group.
    sq = (cents * cents)
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sum_c"),
        F.sum(F.call_function("div", sq, F.lit(1_000_000))).alias("_sq_hi"),
        F.sum(sq - F.call_function("div", sq, F.lit(1_000_000)) * F.lit(1_000_000)).alias("_sq_lo"),
    )
    s = s.withColumn(
        "sumsq_c",
        F.expr(
            "cast(_sq_hi as decimal(38,0)) * cast(1000000 as decimal(38,0))"
            " + cast(_sq_lo as decimal(38,0))"
        ),
    )
    sum_d = F.col("sum_c").cast("double")
    # variance numerator n·Σx² − (Σx)² computed EXACTLY in decimal, then ONE
    # correctly-rounded cast and two clean IEEE divisions — the mixed
    # a − b·c/d double chain rounds differently across engines at sf0.1 row
    # counts (last-ulp drift caught by the sf0.1 parity sweep)
    var_num = (
        F.col("n") * F.col("sumsq_c")
        - F.col("sum_c").cast("decimal(38,0)") * F.col("sum_c")
    ).cast("double")
    var = (
        var_num / (F.col("n") * (F.col("n") - 1)).cast("double") / F.lit(10000.0)
    )
    return s.select(
        F.col("o_orderpriority").alias("order_priority"),
        "n",
        (sum_d / F.col("n") / F.lit(100.0)).alias("mean_price"),
        var.alias("var_price"),
        F.sqrt(var).alias("stddev_price"),
    )


# ---------------------------------------------------------------------------
# Edit-distance similarity (string near-dup verification alternative)
# ---------------------------------------------------------------------------


@query(
    "string_edit_distance",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS INTEGER)
             AS head_edit_distance
    FROM documents a
    JOIN documents b ON a.lang = b.lang AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 3
    """,
)
def edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein over text heads for near-ordered candidate pairs (blocked
    by language + id proximity to bound the pair count)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    a = d.alias("a")
    b = d.alias("b")
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & ((F.col("b.doc_id") - F.col("a.doc_id")) <= 3),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.substring("a.text", 1, 40), F.substring("b.text", 1, 40)).alias(
            "head_edit_distance"
        ),
    )


# ---------------------------------------------------------------------------
# q2-style correlated minimum: cheapest part within each size bucket
# ---------------------------------------------------------------------------


@query(
    "q2_min_within_group",
    """
    SELECT p.p_partkey AS part_id, p.p_name AS part_name,
           p.p_size AS size, p.p_retailprice AS retail_price
    FROM part p
    WHERE p.p_retailprice = (
      SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_size = p.p_size
    )
    """,
)
def q2_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery expressed as a broadcastable min-per-group
    join (the scalable rewrite Catalyst itself would pick)."""
    p = _t(spark, sf_dir, "part")["part"]
    mins = p.groupBy(F.col("p_size").alias("_sz")).agg(F.min("p_retailprice").alias("_minp"))
    return (
        p.join(
            F.broadcast(mins),
            (F.col("p_size") == F.col("_sz")) & (F.col("p_retailprice") == F.col("_minp")),
        )
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_name").alias("part_name"),
            F.col("p_size").alias("size"),
            F.col("p_retailprice").alias("retail_price"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentile aggregates (sort-based; bit-identical interpolation
# across engines — verified on continuous doubles, not just integers)
# ---------------------------------------------------------------------------


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag AS returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.50) AS p50_price,
           quantile_cont(l_extendedprice, 0.90) AS p90_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price,
           quantile_cont(l_quantity, 0.50) AS p50_qty
    FROM lineitem GROUP BY 1
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group. Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the same index-interpolation definition
    (idx = p·(n−1), linear between neighbors), so results are bit-identical
    even on continuous doubles. At scale, prefer ``approx_percentile`` —
    exact percentile sorts each group's values; it's here as the exactness
    baseline the sketch is judged against."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("p25_price"),
        F.expr("percentile(l_extendedprice, 0.50)").alias("p50_price"),
        F.expr("percentile(l_extendedprice, 0.90)").alias("p90_price"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99_price"),
        F.expr("percentile(l_quantity, 0.50)").alias("p50_qty"),
    )


@query(
    "agg_percentiles_approx",
    """
    SELECT l_returnflag AS returnflag,
           quantile_cont(l_quantity, 0.50) AS p50_qty,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY 1
    """,
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: ``approx_percentile`` (Greenwald-Khanna
    mergeable sketch, partial-aggregated map-side like any sum). The exact
    ``agg_percentiles`` buffers every value of a group in one aggregation
    buffer — measured 15.6 s vs 0.4 s at the 10× smoke (SCALE.md) — so the
    sketch is the default at scale and the exact form is the accuracy
    baseline (at production scale the band anchors migrate to
    ``operators.aggregates.distributed_exact_quantiles`` — exact order
    statistics without the single buffer). The sketch values themselves are engine-specific, so the
    hashable output is: the exact p50 quantity (cross-engine bit-identical
    anchor) plus booleans asserting each approx price quantile lies inside
    the exact [p−0.005, p+0.005] value band — 50× the sketch's 1/10000 rank
    guarantee, so a red row means the accuracy contract broke. The oracle
    recomputes the exact anchor and emits literal TRUE. All aggregates run
    in ONE grouped pass (single shuffle, one scan)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    tags = ("p25", "p50", "p90", "p99")
    ps = (0.25, 0.50, 0.90, 0.99)
    # ONE exact-percentile buffer for all 8 band edges (array of fractions —
    # the values sort once per group, not once per requested fraction; the
    # 9-buffer form cost 7.2 s vs ~1 s at sf0.1) and ONE sketch evaluation
    # for all 4 approx quantiles.
    bands = ", ".join(f"{p - 0.005}, {p + 0.005}" for p in ps)
    out = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.expr("percentile(l_quantity, 0.50)").alias("p50_qty"),
        F.expr(f"percentile(l_extendedprice, array({bands}))").alias("_bands"),
        F.expr(
            "approx_percentile(l_extendedprice, array("
            + ", ".join(str(p) for p in ps)
            + "), 10000)"
        ).alias("_apx"),
    )
    ok = [
        F.expr(f"element_at(_apx, {i + 1}) "
               f"BETWEEN element_at(_bands, {2 * i + 1}) "
               f"AND element_at(_bands, {2 * i + 2})").alias(f"{t}_ok")
        for i, t in enumerate(tags)
    ]
    return out.select("returnflag", "p50_qty", *ok)


@query(
    "profile_orders_table",
    """
    WITH m AS (SELECT COUNT(*) AS n FROM orders)
    SELECT 'o_orderkey' AS column_name, m.n AS n_rows,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS n_nulls,
           (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_distinct,
           (SELECT CAST(MIN(o_orderkey) AS VARCHAR) FROM orders) AS min_value,
           (SELECT CAST(MAX(o_orderkey) AS VARCHAR) FROM orders) AS max_value
    FROM m
    UNION ALL
    SELECT 'o_orderstatus', m.n,
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NULL),
           (SELECT COUNT(DISTINCT o_orderstatus) FROM orders),
           (SELECT MIN(o_orderstatus) FROM orders),
           (SELECT MAX(o_orderstatus) FROM orders)
    FROM m
    UNION ALL
    SELECT 'o_orderdate', m.n,
           (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL),
           (SELECT COUNT(DISTINCT o_orderdate) FROM orders),
           (SELECT CAST(MIN(o_orderdate) AS VARCHAR) FROM orders),
           (SELECT CAST(MAX(o_orderdate) AS VARCHAR) FROM orders)
    FROM m
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (nulls / distincts / range) of orders —
    the ingestion data-quality report, one scan for all columns."""
    from ..operators.profiling import profile_table

    o = _t(spark, sf_dir, "orders")["orders"]
    return profile_table(o, ["o_orderkey", "o_orderstatus", "o_orderdate"])


# ---------------------------------------------------------------------------
# Numeric band (range) join — interval joins elsewhere are time-based
# (operators/joins.py::interval_join); this is the value-range variant:
# assign each fact row to the dimension bucket whose [lo, hi) contains it.
# ---------------------------------------------------------------------------

_PRICE_TIERS = [
    ("budget", 0.0, 1000.0),
    ("standard", 1000.0, 1500.0),
    ("premium", 1500.0, 1000000000000.0),
]


@query(
    "range_join_price_tiers",
    """
    WITH tiers(tier, lo, hi) AS (
      VALUES ('budget', 0.0, 1000.0), ('standard', 1000.0, 1500.0),
             ('premium', 1500.0, 1000000000000.0)
    )
    SELECT t.tier,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           MIN(p.p_retailprice) AS min_price,
           MAX(p.p_retailprice) AS max_price
    FROM part p
    JOIN tiers t ON p.p_retailprice >= t.lo AND p.p_retailprice < t.hi
    GROUP BY 1
    """,
)
def range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join against a broadcast tier table: the non-equi predicate runs
    as a BroadcastNestedLoopJoin over 3 tier rows, so the big side streams
    through map tasks with no shuffle and no cross-product blowup — the same
    plan holds when `part` is 100 TB. Sum over exact decimals; min/max of
    doubles are order-insensitive."""
    part = _t(spark, sf_dir, "part")["part"]
    tiers = spark.createDataFrame(_PRICE_TIERS, "tier string, lo double, hi double")
    return (
        part.join(
            F.broadcast(tiers),
            (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            # r16: long cents partials replace the decimal(22,2) buffer's
            # per-row BigDecimal add (guide §5); bit-identical double
            exact_unscaled_sum(
                F.expr("cast(cast(p_retailprice as decimal(12,2)) * 100 as bigint)"), 2
            ).alias("sum_price"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


@query(
    "agg_grouping_sets",
    """
    SELECT COALESCE(c_mktsegment, '<all>') AS segment,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS grp
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), (o_orderpriority))
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed GROUPING SETS aggregation (pair, per-segment, per-priority) with
    GROUPING() disambiguation — the multi-granularity reporting aggregate;
    Catalyst plans one Expand + a single shuffle, not three scans. Exact
    decimal sum cast to double at the edge."""
    t = _t(spark, sf_dir, "orders", "customer")
    joined = t["orders"].join(
        F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
    )
    # r16: the SQL-side decimal(18,2) sum buffered in decimal(28,2) — a
    # per-row BigDecimal add (guide §5). Project the long cents once, sum
    # the hi/lo long partials, and recombine exactly per group — the same
    # exact_unscaled_sum shape, spelled in SQL.
    joined = joined.withColumn(
        "_tp_u", F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
    )
    joined.createOrReplaceTempView("gs_input")
    return joined.sparkSession.sql(
        """
        SELECT COALESCE(c_mktsegment, '<all>') AS segment,
               COALESCE(o_orderpriority, '<all>') AS priority,
               COUNT(*) AS n_orders,
               CAST((CAST(SUM(_tp_u div 1000000) AS DECIMAL(38,0))
                       * CAST(1000000 AS DECIMAL(38,0))
                     + CAST(SUM(_tp_u - (_tp_u div 1000000) * 1000000) AS DECIMAL(38,0)))
                    / CAST(100 AS DECIMAL(3,0)) AS DOUBLE) AS total_price,
               CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS INT) AS grp
        FROM gs_input
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), (o_orderpriority))
        """
    )


@query(
    "agg_cube",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER)
             AS grp
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completes the multi-granularity trio (ROLLUP, GROUPING SETS,
    CUBE): all 2^k grouping combinations from one Expand + one shuffle —
    never k separate aggregations unioned."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # r16: long cents partials replace the decimal(28,2) buffer's
            # per-row BigDecimal add (guide §5); bit-identical double
            exact_unscaled_sum(
                F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"), 2
            ).alias("total_price"),
            F.grouping_id().cast("int").alias("grp"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n_orders",
            "total_price",
            "grp",
        )
    )


@query(
    "w4_rolling_range_frame",
    """
    WITH e AS (
      -- FLOOR to whole seconds: DuckDB's epoch keeps the fractional part
      -- while Spark's timestamp->long cast truncates, and a fractional
      -- ordering key shifts RANGE-frame membership at the 3600 s boundary
      SELECT event_id, user_id,
             CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v_u
      FROM events
    )
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_events_1h,
           CAST(CAST(SUM(v_u) OVER w AS BIGINT) AS DOUBLE) / 1000000 AS sum_value_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def w4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: per event, that user's event count and
    value sum over the trailing hour — frame bounds are VALUES on the epoch
    ordering key (ties share a frame), not row offsets, so no unique
    tie-breaker is needed. Values quantize to integer micro-units BEFORE the
    running sum, so accumulation order can't drift the float. Scale: one
    shuffle on user_id; per-user state is a bounded 1-hour deque."""
    e = _t(spark, sf_dir, "events")["events"]
    base = e.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("es"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint").alias("v_u"),
    )
    w = Window.partitionBy("user_id").orderBy("es").rangeBetween(-3600, Window.currentRow)
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_events_1h"),
        (F.sum("v_u").over(w).cast("bigint").cast("double") / 1000000).alias("sum_value_1h"),
    )


@query(
    "unpivot_source_metrics",
    """
    UNPIVOT (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY 1
    )
    ON n_docs, total_chars, total_tokens
    INTO NAME metric VALUE value
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of A2's pivot: a wide per-source metrics row
    unpivots to (source, metric, value) long form, the shape metric stores and
    mixture dashboards ingest. Spark's native ``DataFrame.unpivot`` plans as
    an Expand (no shuffle beyond the upstream aggregate); value columns share
    one bigint type so no lossy casts."""
    d = _t(spark, sf_dir, "documents")["documents"]
    wide = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
    )
    return wide.unpivot(["source"], ["n_docs", "total_chars", "total_tokens"], "metric", "value")


@query(
    "j6_skew_salted_join",
    """
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def j6_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/skew.py::salted_join): lineitem's
    partkey shuffle spreads over 8 deterministic salts while part explodes ×8
    — the manual fix for a hot build-side key AQE's skew split can't reach.
    The oracle is the PLAIN join: salting must be row-identical, only the
    shuffle distribution changes. Exact-decimal sum, cast to double at the
    edge."""
    from ..operators.skew import salted_join

    t = _t(spark, sf_dir, "lineitem", "part")
    joined = salted_join(
        t["lineitem"], t["part"], "l_partkey", "p_partkey", n_salts=8, how="inner"
    )
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        # r16: long cents partials replace the decimal(22,2) buffer's
        # per-row BigDecimal add (guide §5); bit-identical double
        exact_unscaled_sum(
            F.expr("cast(cast(l_quantity as decimal(12,2)) * 100 as bigint)"), 2
        ).alias("sum_qty"),
    )


@query(
    "gold_sales_wide",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_quantity AS DOUBLE) AS quantity,
           CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
             AS revenue_cents,
           o.o_orderdate, o.o_orderpriority,
           c.c_name AS customer_name, c.c_mktsegment AS segment,
           n.n_name AS nation, r.r_name AS region,
           p.p_name AS part_name, p.p_brand AS brand,
           s.s_name AS supplier_name
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def gold_sales_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold-layer denormalized wide table: the 7-way star flattened for BI /
    feature-store consumption. True dimensions (nation/region/part/supplier)
    are explicitly broadcast; lineitem⋈orders⋈customer are fact-scale joins
    left to the planner — AQE broadcasts them locally, while at 100 TB they
    shuffle on their natural keys (or ride pre-bucketed layouts,
    plans/bucketing.py). Money lands as exact integer cents
    (float-discipline for the oracle hash)."""
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region", "part", "supplier")
    l, o, c = t["lineitem"].alias("l"), t["orders"].alias("o"), t["customer"].alias("c")
    n, r = t["nation"].alias("n"), t["region"].alias("r")
    p, s = t["part"].alias("p"), t["supplier"].alias("s")
    return (
        l.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(c, F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(F.broadcast(n), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
        .join(F.broadcast(r), F.col("n.n_regionkey") == F.col("r.r_regionkey"))
        .join(F.broadcast(p), F.col("l.l_partkey") == F.col("p.p_partkey"))
        .join(F.broadcast(s), F.col("l.l_suppkey") == F.col("s.s_suppkey"))
        .select(
            "l.l_orderkey",
            "l.l_linenumber",
            F.col("l.l_quantity").cast("double").alias("quantity"),
            F.floor(
                F.col("l.l_extendedprice") * (1 - F.col("l.l_discount")) * 100 + F.lit(0.5)
            )
            .cast("bigint")
            .alias("revenue_cents"),
            "o.o_orderdate",
            "o.o_orderpriority",
            F.col("c.c_name").alias("customer_name"),
            F.col("c.c_mktsegment").alias("segment"),
            F.col("n.n_name").alias("nation"),
            F.col("r.r_name").alias("region"),
            F.col("p.p_name").alias("part_name"),
            F.col("p.p_brand").alias("brand"),
            F.col("s.s_name").alias("supplier_name"),
        )
    )


@query(
    "incremental_agg_merge",
    """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_micros
    FROM events GROUP BY 1, 2
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a daily aggregate maintained by MERGING
    mergeable partials (counts + integer-micro sums) from an old snapshot and
    a new-arrivals batch — never re-scanning history. The oracle is the full
    recompute, proving partial-merge == recompute. At 100 TB this is the
    difference between touching one day and touching three years; the merge
    is one keyed aggregate over two pre-aggregated (small) inputs."""
    ev = _t(spark, sf_dir, "events")["events"]
    v_u = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    day = F.date_trunc("day", F.col("ts"))
    cutoff = "2024-01-20"
    # two disjoint pre-aggregated partials (in production: yesterday's stored
    # snapshot + today's new-data aggregate)
    def partial(df):
        return df.groupBy(F.col("event_type"), day.alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(v_u).cast("bigint").alias("sum_value_micros"),
        )

    old_part = partial(ev.filter(F.col("ts") < cutoff))
    new_part = partial(ev.filter(F.col("ts") >= cutoff))
    merged = old_part.unionByName(new_part)
    return merged.groupBy("event_type", "day").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_value_micros").cast("bigint").alias("sum_value_micros"),
    )


@query(
    "funnel_conversion_stages",
    """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT u.user_id, u.t_view,
             MIN(CASE WHEN e.event_type = 'click' AND e.ts >= u.t_view THEN e.ts END)
               AS t_click
      FROM u LEFT JOIN events e ON e.user_id = u.user_id
      GROUP BY 1, 2
    ),
    p AS (
      SELECT c.user_id, c.t_view, c.t_click,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click THEN e.ts END)
               AS t_purchase
      FROM c LEFT JOIN events e ON e.user_id = c.user_id
      GROUP BY 1, 2, 3
    )
    SELECT CAST(CASE WHEN t_view IS NULL THEN 0
                     WHEN t_click IS NULL THEN 1
                     WHEN t_purchase IS NULL THEN 2
                     ELSE 3 END AS INTEGER) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p GROUP BY 1
    """,
)
def funnel_conversion_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click-after-view ->
    purchase-after-click): per-user stage reached, then stage population
    counts — the product-analytics staple. One pass computes all three
    ordered milestones via conditional aggregation over a single user_id
    shuffle (the self-join form the oracle uses is how a naive SQL engine
    does it; conditional min-over-window collapses it to one exchange)."""
    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_view = ev.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    with_click = with_view.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_click.withColumn("t_purchase", t_purchase)
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
    )
    stage = (
        F.when(F.col("t_view").isNull(), 0)
        .when(F.col("t_click").isNull(), 1)
        .when(F.col("t_purchase").isNull(), 2)
        .otherwise(3)
    )
    return per_user.select(stage.cast("int").alias("stage")).groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@query(
    "cohort_retention_matrix",
    """
    WITH cohort AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY 1
    )
    SELECT c.cohort_week,
           CAST(datediff('week', c.cohort_week, date_trunc('week', e.ts)) AS INTEGER)
             AS weeks_since,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN cohort c ON e.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week, active
    user counts per (cohort, weeks-since) cell — the product-analytics
    retention triangle. Two user_id-keyed aggregates; the cohort frame is
    users-sized and joins back on the same key (co-partitioned exchange
    reuse at scale)."""
    ev = _t(spark, sf_dir, "events")["events"]
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    weeks_since = F.datediff(
        F.date_trunc("week", F.col("ts")), F.col("cohort_week")
    ) / 7
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            weeks_since.cast("int").alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )


@query(
    "market_basket_lift",
    """
    WITH bi AS (
      SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
    ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_i FROM bi GROUP BY 1),
    pc AS (
      SELECT x.i AS item_a, y.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
    )
    SELECT pc.item_a, pc.item_b, pc.n_ab, a.n_i AS n_a, bb.n_i AS n_b,
           nb.n_baskets,
           (pc.n_ab * 1000000) // nb.n_baskets AS support_micros,
           (pc.n_ab * 1000000) // a.n_i AS confidence_a_to_b_micros,
           (pc.n_ab * nb.n_baskets * 1000000) // (a.n_i * bb.n_i) AS lift_micros
    FROM pc JOIN ic a ON pc.item_a = a.i JOIN ic bb ON pc.item_b = bb.i, nb
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order/brand baskets: which
    brands co-occur in the same order beyond chance (lift > 1e6 micros).
    The per-basket self-join is the only quadratic step and is bounded by
    basket size (max 11 brands/order here); item frequencies broadcast from
    the vocabulary-scale brand domain. See operators/basket.py."""
    from ..operators.basket import association_rules

    t = _t(spark, sf_dir, "lineitem", "part")
    baskets = t["lineitem"].join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        t["lineitem"].l_partkey == F.col("p_partkey"),
    ).select(F.col("l_orderkey").alias("basket_id"), F.col("p_brand").alias("item"))
    return association_rules(baskets, min_pair_count=5)


@query(
    "anomaly_daily_zscore",
    """
    WITH daily AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
               AS day_total_millis,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    idx AS (SELECT *, (day - DATE '1970-01-01') AS day_idx FROM daily),
    st AS (
      SELECT series, day, day_total_millis, n_events,
             CAST(COUNT(day_total_millis) OVER w AS BIGINT) AS n_hist,
             CAST(SUM(day_total_millis) OVER w AS BIGINT) AS s_hist,
             CAST(SUM(day_total_millis * day_total_millis) OVER w AS BIGINT)
               AS q_hist
      FROM idx
      WINDOW w AS (PARTITION BY series ORDER BY day_idx
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT series, day, day_total_millis, n_events, n_hist,
           CAST(COALESCE(s_hist, 0) AS BIGINT) AS trailing_sum_millis,
           COALESCE(n_hist >= 4 AND
             (n_hist * day_total_millis - s_hist)
               * (n_hist * day_total_millis - s_hist)
             > 9 * (n_hist * q_hist - s_hist * s_hist), FALSE) AS is_anomaly
    FROM st
    """,
)
def anomaly_daily_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-stream anomaly detection: per-series daily totals flagged when
    they deviate >3 trailing std-devs from the trailing-7-day mean — the
    monitor an ingest pipeline runs over its own counters. The corpus-scale
    work is one partial-aggregated groupBy to (series, day); the window runs
    on the aggregate-scale series table. Pure-bigint z test
    ((n·x−S)² > 9(nQ−S²)): no sqrt, no floats, hash-exact. See
    operators/temporal.py::daily_anomaly_flags."""
    from ..operators.temporal import daily_anomaly_flags

    ev = _t(spark, sf_dir, "events")["events"]
    return daily_anomaly_flags(ev)


@query(
    "w5_ntile_percent_rank",
    """
    SELECT o_orderkey AS order_key, o_orderpriority AS priority,
           o_totalprice AS total_price,
           CAST(ntile(10) OVER w AS INTEGER) AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def w5_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (ntile/percent_rank/cume_dist)
    per priority class — completes the §2.5 window coverage. percent_rank
    and cume_dist are one IEEE division of exact integers each, so values
    hash-match cross-engine; the ORDER BY carries the orderkey tie-break."""
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("total_price"),
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "pareto_frontier_parts",
    """
    SELECT a.p_partkey, a.p_name, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (cheaper price,
    larger size). The oracle is the O(n²) NOT-EXISTS dominance scan; the
    engine computes the same set with one price-level aggregate plus a
    BUCKETED running max over distinct prices — the shuffle_assignment /
    exact_quantiles prefix idiom, so no single-partition window ever holds
    the price domain: 64 range buckets, per-bucket maxes prefix-combined on
    a 64-row broadcast, in-bucket running max partitioned by bucket.
    Frontier membership: size equals its price-group max AND strictly
    exceeds the running max over all strictly cheaper prices (equal-vector
    duplicates are mutually non-dominating and all kept)."""
    p = _t(spark, sf_dir, "part")["part"]
    price_level = p.groupBy("p_retailprice").agg(F.max("p_size").alias("grp_max"))
    rng = price_level.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    )
    pl = price_level.crossJoin(F.broadcast(rng)).withColumn(
        "bkt",
        F.least(
            F.lit(63),
            F.floor(
                (F.col("p_retailprice") - F.col("lo"))
                * 64.0
                / (F.col("hi") - F.col("lo") + F.lit(1e-9))
            ),
        ).cast("int"),
    )
    # prefix max over earlier buckets via a broadcast non-equi self-join on
    # the ≤64-row bucket-max table (the shuffle_assignment idiom — a global
    # window here would plan an Exchange SinglePartition the plan audit
    # rightly rejects)
    bm = pl.groupBy("bkt").agg(F.max("grp_max").alias("bmax"))
    bkt_prefix = (
        bm.alias("cur")
        .join(F.broadcast(bm.alias("prev")), F.col("prev.bkt") < F.col("cur.bkt"), "left")
        .groupBy(F.col("cur.bkt").alias("bkt"))
        .agg(F.max(F.col("prev.bmax")).alias("earlier_max"))
    )
    wi = (
        Window.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    neg_inf = F.lit(-(2**31))
    frontier_prices = (
        pl.join(F.broadcast(bkt_prefix), "bkt")
        .withColumn("in_bkt_prev", F.max("grp_max").over(wi))
        .withColumn(
            "prev_max",
            F.greatest(
                F.coalesce("in_bkt_prev", neg_inf), F.coalesce("earlier_max", neg_inf)
            ),
        )
        .select("p_retailprice", "grp_max", "prev_max")
    )
    return (
        p.join(frontier_prices, "p_retailprice")
        .where((F.col("p_size") == F.col("grp_max")) & (F.col("p_size") > F.col("prev_max")))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


@query(
    "skew_key_diagnostics",
    """
    WITH cols(col_name) AS (VALUES ('l_partkey'), ('l_suppkey')),
    counts AS (
      SELECT 'l_partkey' AS key_column, CAST(l_partkey AS VARCHAR) AS k,
             CAST(COUNT(*) AS BIGINT) AS key_count
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 2
      UNION ALL
      SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR), CAST(COUNT(*) AS BIGINT)
      FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 2
    ),
    stats AS (
      SELECT key_column, CAST(COUNT(*) AS BIGINT) AS n_keys_total,
             CAST(SUM(key_count) AS BIGINT) AS n_rows_total,
             CAST(MAX(key_count) AS BIGINT) AS max_count
      FROM counts GROUP BY 1
    ),
    ranked AS (
      SELECT key_column, k AS key_value, key_count,
             row_number() OVER (PARTITION BY key_column
                                ORDER BY key_count DESC, k) AS rn
      FROM counts
    )
    SELECT r.key_column, r.key_value, r.key_count,
           s.n_rows_total, s.n_keys_total,
           (s.max_count * s.n_keys_total * 1000000) // s.n_rows_total
             AS skew_factor_micros
    FROM ranked r JOIN stats s USING (key_column)
    WHERE r.rn <= 10
    """,
)
def skew_key_diagnostics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report over lineitem's join keys: top-10 hottest keys
    per column + skew factor (max_count·n_keys/n_rows, micros) — the
    pre-join diagnostic that decides plain shuffle vs AQE skew-split vs
    explicit salting (j6). One key-domain count + TakeOrderedAndProject per
    column; nothing key-domain-sized crosses a single-partition exchange.
    See operators/profiling.py::skew_key_diagnostics."""
    from ..operators.profiling import skew_key_diagnostics

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return skew_key_diagnostics(li, ["l_partkey", "l_suppkey"])


@query(
    "impute_group_mean_values",
    """
    WITH e AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(SUM(CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               // CAST(COUNT(v) AS BIGINT) AS mean_micros
      FROM e WHERE v IS NOT NULL GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.v IS NULL AS was_missing,
           COALESCE(CAST(FLOOR(e.v * 1000000 + 0.5) AS BIGINT), m.mean_micros)
             AS value_micros
    FROM e JOIN m USING (event_type)
    """,
)
def impute_group_mean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation over a deterministically-holed value column
    (event_id % 11 nulls): NULLs take their event type's exact
    integer-micro mean — per-row quantize, bigint sum, integer division, so
    the imputed constant never drifts with aggregation order. See
    operators/quality.py::impute_group_mean."""
    from ..operators.quality import impute_group_mean

    ev = _t(spark, sf_dir, "events")["events"].withColumn(
        "value",
        F.when((F.col("event_id") % 11) == 0, F.lit(None)).otherwise(F.col("value")),
    )
    return impute_group_mean(ev, "event_type", "value", "event_id")


@query(
    "attribution_linear_credit",
    """
    WITH purch AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ),
    touched AS (
      SELECT p.purchase_id, c.click_id, c.user_id
      FROM purch p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
       AND c.c_ts <= p.p_ts
    ),
    split AS (
      SELECT purchase_id, click_id, user_id,
             1000000 // CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT)
               AS credit_micros
      FROM touched
    )
    SELECT click_id, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
           CAST(SUM(credit_micros) AS BIGINT) AS credit_micros_total
    FROM split GROUP BY 1, 2
    """,
)
def attribution_linear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits one unit of
    credit (1e6 micros, floor division — the remainder policy is explicit)
    equally across the user's clicks in the prior 30 minutes; per-click
    totals aggregate the credit. The touch join is the bounded interval
    join (state limited to the 30-minute band at scale); the per-purchase
    window runs on touch rows, not the corpus."""
    ev = _t(spark, sf_dir, "events")["events"]
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    touched = purch.join(
        clicks,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")
    w = Window.partitionBy("purchase_id")
    split = touched.select(
        "click_id",
        "user_id",
        F.expr("1000000").cast("bigint").alias("unit"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_touch"),
    ).select(
        "click_id", "user_id", F.expr("unit div n_touch").alias("credit_micros")
    )
    return split.groupBy("click_id", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases_touched"),
        F.sum("credit_micros").cast("bigint").alias("credit_micros_total"),
    )


_DAILY_MILLIS_SQL = """
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_millis
      FROM events GROUP BY 1, 2
"""


@query(
    "forecast_seasonal_naive_eval",
    f"""
    WITH daily AS ({_DAILY_MILLIS_SQL}),
    idx AS (SELECT *, (day - DATE '1970-01-01') AS day_idx FROM daily),
    j AS (
      SELECT a.series,
             abs(a.total_millis - f.total_millis) AS abs_err,
             abs(a.total_millis) AS abs_actual
      FROM idx a JOIN idx f
        ON a.series = f.series AND a.day_idx = f.day_idx + 7
    )
    SELECT series, CAST(COUNT(*) AS BIGINT) AS n_days_evaluated,
           CAST(SUM(abs_err) // COUNT(*) AS BIGINT) AS mae_millis,
           CAST((SUM(abs_err) * 1000000) // SUM(abs_actual) AS BIGINT)
             AS wape_micros
    FROM j GROUP BY 1
    """,
)
def forecast_seasonal_naive_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline scored per series (MAE millis, WAPE
    micros, exact integers) — the floor every forecasting pipeline must
    beat. Gap-safe self-join on (series, day−7), aggregate-scale both
    sides. See operators/temporal.py::seasonal_naive_eval."""
    from ..operators.temporal import seasonal_naive_eval

    return seasonal_naive_eval(_t(spark, sf_dir, "events")["events"])


@query(
    "changepoint_cusum_daily",
    f"""
    WITH daily AS ({_DAILY_MILLIS_SQL}),
    st AS (
      SELECT series, day,
             CAST(COUNT(*) OVER (PARTITION BY series) AS BIGINT) AS n,
             CAST(SUM(total_millis) OVER (PARTITION BY series) AS BIGINT) AS s,
             CAST(SUM(total_millis) OVER (PARTITION BY series ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS prefix,
             CAST(row_number() OVER (PARTITION BY series ORDER BY day) AS BIGINT)
               AS t
      FROM daily
    ),
    sc AS (SELECT series, day, n, n * prefix - t * s AS c FROM st),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY series
                                   ORDER BY abs(c) DESC, day) AS rn
      FROM sc
    )
    SELECT series, day AS changepoint_day,
           CAST(abs(c) AS BIGINT) AS max_abs_cusum_scaled,
           CAST(c AS BIGINT) AS cusum_scaled_at_peak,
           n AS n_days
    FROM r WHERE rn = 1
    """,
)
def changepoint_cusum_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per series: the day where cumulative deviation
    from the series mean peaks, in n-scaled exact integers (ties →
    earliest day, replicated by the oracle's rank order). See
    operators/temporal.py::changepoint_cusum_daily."""
    from ..operators.temporal import changepoint_cusum_daily

    return changepoint_cusum_daily(_t(spark, sf_dir, "events")["events"])


@query(
    "reconcile_sink_buckets",
    """
    WITH src AS (
      SELECT CAST(concat('0x', substr(md5(
               CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS bucket,
             CAST(concat('0x', substr(md5(
               CAST(l_orderkey AS VARCHAR) || chr(1) ||
               CAST(l_linenumber AS VARCHAR) || chr(1) ||
               l_returnflag || chr(1) || l_linestatus), 1, 15)) AS BIGINT)
               % 1000000000000 AS h
      FROM lineitem
    ),
    snk AS (SELECT * FROM src WHERE FALSE
      UNION ALL
      SELECT CAST(concat('0x', substr(md5(
               CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 16,
             CAST(concat('0x', substr(md5(
               CAST(l_orderkey AS VARCHAR) || chr(1) ||
               CAST(l_linenumber AS VARCHAR) || chr(1) ||
               l_returnflag || chr(1) || l_linestatus), 1, 15)) AS BIGINT)
               % 1000000000000
      FROM lineitem WHERE l_orderkey % 997 <> 0
    ),
    a AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_source,
                 CAST(SUM(h) AS BIGINT) AS checksum_source
          FROM src GROUP BY 1),
    b AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_sink,
                 CAST(SUM(h) AS BIGINT) AS checksum_sink
          FROM snk GROUP BY 1)
    SELECT COALESCE(a.bucket, b.bucket) AS bucket,
           COALESCE(a.n_source, 0) AS n_source,
           COALESCE(b.n_sink, 0) AS n_sink,
           COALESCE(a.checksum_source, 0) AS checksum_source,
           COALESCE(b.checksum_sink, 0) AS checksum_sink,
           COALESCE(a.n_source, 0) = COALESCE(b.n_sink, 0)
             AND COALESCE(a.checksum_source, 0) = COALESCE(b.checksum_sink, 0)
             AS is_match
    FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
    """,
)
def reconcile_sink_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink reconciliation over a simulated lossy copy (every
    l_orderkey % 997 order dropped from the sink): per key-bucket row
    counts + order-free md5 content checksums on both sides with match
    flags — exactly the buckets containing lost orders flip. Payload is
    strings/ints only (float renderings differ across engines). See
    operators/quality.py::reconcile_tables."""
    from ..operators.quality import reconcile_tables

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    sink = li.filter((F.col("l_orderkey") % 997) != 0)
    return reconcile_tables(
        li, sink, "l_orderkey", ["l_linenumber", "l_returnflag", "l_linestatus"]
    )


@query(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
            FROM t GROUP BY 1)
    SELECT t.prev_type, t.next_type, t.n, tot.n_from,
           (t.n * 1000000) // tot.n_from AS prob_micros
    FROM t JOIN tot USING (prev_type)
    """,
)
def markov_event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: per-user
    event sequences (ordered by ts with the event_id tie-break) yield
    (prev → next) counts and row-normalized probabilities in exact integer
    micros. One user-keyed window over the event stream, then
    event-type-domain aggregates — the |types|² matrix is vocabulary-scale
    output from corpus-scale input."""
    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = t.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return t.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "n_from",
        F.expr("(n * 1000000) div n_from").alias("prob_micros"),
    )
