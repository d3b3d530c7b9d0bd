"""Table profiling: per-column quality stats in one pass.

The data-quality preamble of every ingestion pipeline — null rates, distinct
cardinalities, value ranges — computed as ONE aggregate job over the table
(every metric for every column in the same pass; Spark partial-aggregates
them together, so at 100 TB it costs one scan, not one scan per column) and
unpivoted to a long (column, metric...) result with ``stack``.

Exact COUNT(DISTINCT) is used so results are oracle-checkable; swap in
``approx_count_distinct`` at scale (same plan shape, sketch merge instead of
distinct expansion) — that's a one-argument change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["profile_table", "skew_key_diagnostics"]


def profile_table(df: DataFrame, columns: list[str], exact_distinct: bool = True) -> DataFrame:
    """One row per profiled column: total rows, null count, distinct count
    (of non-null values), min/max rendered as strings (uniform schema across
    column types)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            (
                F.countDistinct(F.col(c))
                if exact_distinct
                else F.approx_count_distinct(F.col(c))
            ).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _n - _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in columns
    )
    return wide.selectExpr(
        "_n AS n_rows",
        f"stack({len(columns)}, {stack_args}) AS (column_name, n_nulls, n_distinct, min_value, max_value)",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def skew_key_diagnostics(
    df: DataFrame, key_cols: "list[str]", top_k: int = 10
) -> DataFrame:
    """Join-key skew report — the diagnostic you run BEFORE a 100 TB join to
    decide between a plain shuffle, AQE skew-split, and explicit salting
    (operators/skew.py): for each candidate key column, the ``top_k``
    hottest keys with their counts plus the column's totals and a skew
    factor ``max_count · n_keys / n_rows`` in integer micros (1e6 = every
    key perfectly balanced; 100e6 = the hottest key carries 100× its fair
    share — salt it).

    One partial-aggregated count per column on the key domain, then a
    TakeOrderedAndProject top-k and a keyless stats roll-up (1-row
    broadcast) — the raw table is scanned once per column and nothing
    key-domain-sized crosses a single-partition exchange. Ties rank
    deterministically on (count desc, key asc). The per-column report
    (``top_k``+1 rows) is materialized eagerly so the key-domain-sized
    counts cache can be released before returning — a long session running
    this repeatedly must not accumulate cached count tables.
    """
    out = None
    for c in key_cols:
        counts = (
            df.select(F.col(c).cast("string").alias("k"))
            .where(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("key_count"))
        ).persist()
        try:
            stats = counts.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_keys_total"),
                F.sum("key_count").cast("bigint").alias("n_rows_total"),
                F.max("key_count").cast("bigint").alias("max_count"),
            )
            top = (
                counts.orderBy(F.desc("key_count"), F.asc("k"))
                .limit(int(top_k))
                .select(
                    F.lit(c).alias("key_column"),
                    F.col("k").alias("key_value"),
                    "key_count",
                )
            )
            rows = top.crossJoin(F.broadcast(stats)).select(
                "key_column",
                "key_value",
                "key_count",
                "n_rows_total",
                "n_keys_total",
                F.expr(
                    "(max_count * n_keys_total * 1000000) div n_rows_total"
                ).alias("skew_factor_micros"),
            ).localCheckpoint(eager=True)
        finally:
            counts.unpersist()
        out = rows if out is None else out.unionByName(rows)
    return out


def cross_source_overlap(
    docs, text_col: str = "text", id_col: str = "doc_id", source_col: str = "source"
):
    """Inter-source duplication matrix: for every source pair, how many
    distinct content hashes they SHARE, plus the share as a fraction of each
    side's distinct contents (integer micros, asymmetric like containment).
    The report that decides mixture weights when two crawls overlap (e.g.
    one corpus is largely a subset of another — dedup before weighting, or
    the shared mass is double-counted).

    Scale: one distinct on (source, md5) — corpus-scale but map-side
    combinable; the pair join is keyed on the 32-hex digest (collision-free
    for counting), and per-source totals are a |sources|-row broadcast.
    Output is |sources|² at most — driver-light.
    """
    from pyspark.sql import functions as F

    sh = (
        docs.select(F.col(source_col).alias("src"), F.md5(F.col(text_col)).alias("h"))
        .distinct()
    )
    totals = sh.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ta = totals.select(F.col("src").alias("source_a"), F.col("n_distinct").alias("n_a"))
    tb = totals.select(F.col("src").alias("source_b"), F.col("n_distinct").alias("n_b"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("(n_shared * 1000000) div n_a").alias("overlap_a_micros"),
            F.expr("(n_shared * 1000000) div n_b").alias("overlap_b_micros"),
        )
    )
