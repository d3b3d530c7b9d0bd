"""TPC-H-shaped suite completion: the remaining classic query shapes the other
modules don't cover — market-share ratio (q8), profit rollup (q9), important-
part scalar-subquery HAVING (q11), shipping-delay priority counts (q12),
outer-join count distribution (q13), top-supplier argmax-by-aggregate (q15),
anti-join supplier counts (q16), correlated-average small-quantity revenue
(q17), sole-late-supplier EXISTS/NOT-EXISTS composition (q21), and dormant
high-balance customers (q22).

The reference itself only exercises inner/left equi joins and one grouped
pivot (SURVEY.md §2.3-2.4); these queries extend the engine the same way the
reference's silver layer would grow — star joins over the staged tables
(J5 shape, e.g. Geo_silver_layer_common.py:13-24) with Catalyst doing join
selection. The testdata schema lacks ``partsupp``/``l_shipmode``/commit and
receipt dates/``c_phone``, so q11/q12/q16/q21/q22 are re-targeted to columns
that exist while keeping the operator shape (documented per query).

Determinism rules (driver value-hash gate): every SUM runs over exact
decimals and is cast to double only at the end; correlated-average
comparisons are rewritten to integer-exact cross-multiplication
(``q * 5 * cnt < sum``) so neither engine's float summation order matters.
All big-side joins shuffle on their natural key; dimension sides are
broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import exact_unscaled_sum
from ._registrar import registrar
from .parity import _REV_SQL, _rev, _rev_sum, _rev_u, _t

QUERIES, ORACLE, query = registrar()


_ZERO_DEC = "CAST(0 AS DECIMAL(12,2))"


# ---------------------------------------------------------------------------
# q8 — national market share: one nation's revenue share of a region's market
# ---------------------------------------------------------------------------


@query(
    "q8_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN {_REV_SQL}
                         ELSE {_ZERO_DEC} END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    JOIN region r   ON n2.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    GROUP BY 1
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-conditional-aggregates over a 7-table star. All dimension
    sides (customer, nation x2, region, supplier, part) broadcast; the only
    shuffle is lineitem⋈orders on orderkey plus the final 1-key groupBy.
    Both numerator and denominator are exact decimal sums cast to double at
    the end, so the division is bit-identical across engines."""
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region", "part")
    n1, n2 = t["nation"].alias("n1"), t["nation"].alias("n2")
    nation_rev = exact_unscaled_sum(
        F.when(F.col("n1.n_name") == "NATION_5", _rev_u()).otherwise(
            F.lit(0).cast("bigint")
        ),
        4,
    )
    total_rev = _rev_sum()
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n2.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter((F.col("r_name") == "AMERICA") & (F.col("p_type") == "ECONOMY"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((nation_rev / total_rev).alias("mkt_share"))
    )


# ---------------------------------------------------------------------------
# q9 — product-line profit by supplier nation and year (no partsupp in the
# testdata, so profit = discounted revenue; the join/rollup shape is intact)
# ---------------------------------------------------------------------------


@query(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation_name,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dimension predicate (p_name LIKE) reaches the scan via the
    broadcast join's build side; lineitem⋈orders is the one real shuffle."""
    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders")
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("%gear%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(_rev_sum().alias("profit"))
    )


# ---------------------------------------------------------------------------
# q11 — important parts: per-part value exceeding a fraction of total value
# (partsupp-free restatement: "value" is lineitem discounted revenue)
# ---------------------------------------------------------------------------


@query(
    "q11_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey, SUM({_REV_SQL}) AS val FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT SUM({_REV_SQL}) AS t FROM lineitem
    )
    SELECT pv.l_partkey AS part_id, CAST(pv.val AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE CAST(pv.val AS DOUBLE) > CAST(tot.t AS DOUBLE) * 0.001
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-against-global-aggregate via a broadcast 1-row cross join —
    the scalable form of TPC-H q11's scalar subquery (no driver collect;
    the threshold travels to executors as a broadcast)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    pv = li.groupBy("l_partkey").agg(F.sum(_rev()).alias("val"))
    tot = li.agg(_rev_sum().alias("t"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val").cast("double") > F.col("t") * 0.001)
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("val").cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# q12 — shipping-delay priority counts (testdata has no l_shipmode /
# commit/receipt dates; the delay class stands in for shipmode, and lateness
# is ship-vs-order datediff — CASE-sum pivot shape preserved)
# ---------------------------------------------------------------------------


@query(
    "q12_delay_priority_counts",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 365 THEN 'LATE'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) >= 0 THEN 'ONTIME'
                ELSE 'EARLY' END AS delay_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
                AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders")
    d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.when(d > 365, "LATE").when(d >= 0, "ONTIME").otherwise("EARLY").alias("delay_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution (left outer join with an extra
# join-side predicate, then aggregate-of-aggregate)
# ---------------------------------------------------------------------------


@query(
    "q13_customer_distribution",
    """
    SELECT CAST(c_count AS INTEGER) AS c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY 1
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-equi part of the join condition (priority filter) must stay in
    the ON clause, not a WHERE, to preserve zero-order customers — a classic
    outer-join trap both engines must agree on."""
    t = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(
            t["orders"],
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy(F.col("c_count").cast("int").alias("c_count"))
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# q15 — top supplier: argmax over an aggregated revenue view
# ---------------------------------------------------------------------------


@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS supplier_id, s.s_name AS supplier_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax via broadcast of the 1-row MAX — ties all surface (same as the
    SQL). Revenue totals stay exact decimals until the final projection, so
    the equality join against MAX is exact."""
    t = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(t["supplier"]), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q16 — supplier counts per part attribute, excluding flagged suppliers
# (partsupp-free: supplier-part pairs come from lineitem; "complaints"
# stand-in is negative account balance)
# ---------------------------------------------------------------------------


@query(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a not-null key = broadcast left ANTI join (the rewrite
    Catalyst cannot always make itself when nullability is unknown)."""
    t = _t(spark, sf_dir, "lineitem", "part", "supplier")
    flagged = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = t["part"].filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        t["lineitem"]
        .join(F.broadcast(flagged), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17 — small-quantity-order revenue: correlated per-part average rewritten
# to integer-exact cross-multiplication (q < 0.2*avg ⇔ 5*q*cnt < sum)
# ---------------------------------------------------------------------------


@query(
    "q17_small_quantity_revenue",
    """
    WITH pq AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity * 5.0 * pq.cnt < CAST(pq.sum_qty AS DOUBLE)
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated AVG subquery becomes a self-aggregate + equi-join on
    partkey. The 0.2*avg comparison is cross-multiplied so both engines
    compare exactly-representable doubles (quantities ≤ 50, counts small) —
    no float-summation-order sensitivity at the boundary."""
    t = _t(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"]
    # r16: both decimal(12,2) sums route through exact_unscaled_sum — the
    # decimal(22,2) buffer is past the 18-digit compact-long limit, so every
    # row paid a serialized-BigDecimal add (guide §5). The cents sums are
    # bit-identical doubles (pinned by test_exact_unscaled_sum_equals_
    # decimal_sum), so the dominance filter selects identical rows.
    pq = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        exact_unscaled_sum(
            F.expr("cast(cast(l_quantity as decimal(12,2)) * 100 as bigint)"), 2
        ).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(
            F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#23")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pq, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") * 5.0 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (
                exact_unscaled_sum(
                    F.expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)"),
                    2,
                )
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q21 — suppliers solely late on multi-supplier finished orders
# (no commit/receipt dates in testdata: "late" = shipped > 365 days after
# the order date; the EXISTS / NOT EXISTS double-correlation is intact)
# ---------------------------------------------------------------------------


@query(
    "q21_sole_late_supplier",
    """
    SELECT s.s_name AS supplier_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE date_diff('day', o.o_orderdate, l1.l_shipdate) > 365
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND date_diff('day', o.o_orderdate, l3.l_shipdate) > 365)
    GROUP BY 1
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi self-join, NOT EXISTS → left-anti self-join, both
    shuffling on orderkey (the already-partitioned key), then a broadcast
    supplier lookup. Distinct pair sets are reduced before the semi/anti
    probes so the self-join sides stay small."""
    t = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    li = t["lineitem"]
    late = (
        li.join(
            t["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 365)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_pairs = li.select(
        F.col("l_orderkey").alias("p_orderkey"), F.col("l_suppkey").alias("p_suppkey")
    ).distinct()
    late_pairs = late.select(
        F.col("l_orderkey").alias("a_orderkey"), F.col("l_suppkey").alias("a_suppkey")
    )
    sole_late = (
        late.join(
            all_pairs,
            (F.col("l_orderkey") == F.col("p_orderkey"))
            & (F.col("l_suppkey") != F.col("p_suppkey")),
            "left_semi",
        )
        .join(
            late_pairs,
            (F.col("l_orderkey") == F.col("a_orderkey"))
            & (F.col("l_suppkey") != F.col("a_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q22 — dormant high-balance customers (no c_phone in testdata: nation key
# stands in for the phone country code; above-average comparison is
# cross-multiplied to exact decimals; NOT EXISTS orders → anti join)
# ---------------------------------------------------------------------------


@query(
    "q22_dormant_customers",
    """
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s, COUNT(*) AS c
      FROM customer
      WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9)
    )
    SELECT CAST(c.c_nationkey AS INTEGER) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c, pos
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
      AND CAST(c.c_acctbal AS DECIMAL(12,2)) * pos.c > pos.s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """acctbal > AVG(positive acctbal) rewritten as acctbal * count > sum over
    exact decimals (count > 0), so the boundary is engine-independent. The
    global (sum, count) pair broadcasts as one row; customers-without-orders
    is a left-anti join against the orders keys."""
    t = _t(spark, sf_dir, "customer", "orders")
    # r16: the decimal(12,2) sums move to long cents partials (guide §5 —
    # the decimal(22,2) buffer pays a per-row BigDecimal add). The dominance
    # filter stays EXACT: both sides of `acctbal * count > sum` scale by
    # 100 to integer cents, the global sum recombines from its hi/lo long
    # partials into one decimal(38,0) cents value (exact for any count —
    # per-row cents ≤ 10^9, hi-partial headroom ~10^13 rows), and the
    # per-row side compares as decimal(38,0)·count — the same exact
    # rational inequality as the previous decimal(12,2)·count > decimal
    # comparison, per-row cost unchanged (one decimal multiply either way).
    cust = t["customer"].filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9)).withColumn(
        "_ab_u", F.expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)")
    )
    pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.expr("_ab_u div 1000000")).alias("_s_hi"),
            F.sum(F.expr("_ab_u - (_ab_u div 1000000) * 1000000")).alias("_s_lo"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            F.expr(
                "cast(_s_hi as decimal(38,0)) * cast(1000000 as decimal(38,0))"
                " + cast(_s_lo as decimal(38,0))"
            ).alias("s_c"),
            "c",
        )
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.expr("cast(_ab_u as decimal(38,0)) * c > s_c"))
        .join(
            t["orders"].select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_unscaled_sum(F.col("_ab_u"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q20 — restated without partsupp: suppliers who dominate a part's yearly
# volume (shipped more than half of a 'red' part's 1997 total). Keeps q20's
# operator shape — nested aggregate subquery driving a semi-join on supplier.
# ---------------------------------------------------------------------------


@query(
    "q20_dominant_suppliers",
    """
    WITH pq AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS sq
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%red%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    pt AS (SELECT l_partkey, SUM(sq) AS tq FROM pq GROUP BY 1)
    SELECT s.s_suppkey AS supplier_id, s.s_name AS supplier_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT pq.l_suppkey FROM pq JOIN pt ON pq.l_partkey = pt.l_partkey
      WHERE pq.sq * 2 > pt.tq
    )
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate (per part-supplier, then per part) with an exact
    decimal dominance test, semi-joined back to supplier. Both aggregates
    shuffle on partkey — the second reuses the first's partitioning."""
    t = _t(spark, sf_dir, "lineitem", "part", "supplier")
    pq = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("%red%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        # r16: quantity cents as a plain long sum — exact, and the dominance
        # test below stays an exact integer comparison (×100 both sides).
        # Overflow headroom: ≤ 5000 cents/row (qty ≤ 50), so a single
        # (part, supplier) group holds ~1.8·10^15 rows and a part total
        # ~10^15 before a long saturates — far past a 100 TB lineitem. The
        # former decimal(12,2) sum buffered in decimal(22,2): a per-row
        # serialized-BigDecimal add (guide §5).
        .agg(
            F.sum(
                F.expr("cast(cast(l_quantity as decimal(12,2)) * 100 as bigint)")
            ).alias("sq")
        )
    )
    pt = pq.groupBy(F.col("l_partkey").alias("_pk")).agg(F.sum("sq").alias("tq"))
    dominant = (
        pq.join(pt, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("sq") * 2 > F.col("tq"))
        .select(F.col("l_suppkey").alias("_sk"))
    )
    return (
        t["supplier"]
        .join(F.broadcast(dominant), F.col("s_suppkey") == F.col("_sk"), "left_semi")
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
        )
    )
