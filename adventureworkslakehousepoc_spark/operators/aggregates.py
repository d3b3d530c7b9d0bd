"""Aggregation builders (SURVEY.md §2.4 A1/A2).

The reference's only aggregations: expression-keyed grouped average
(``Geo_silver_layer_common.py:18-24``) and explicit-value-list pivot over a
pre-aggregated input (``:27-32``). Pre-aggregating before the pivot keeps the
pivot's shuffle input small — the two-stage shape is preserved here because it
is exactly what survives a 100×  scale-up (partial aggregation map-side, pivot
over |groups| rows instead of |rows|).

Pivot always takes an explicit value list: implicit pivot runs a distinct scan
to discover columns (extra job + nondeterministic column order).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["grouped_avg", "pivot_agg", "distributed_exact_quantiles", "winsorize_stats", "grouped_exact_ranks", "quantile_normalize", "histogram_quantile_sketch"]


def grouped_avg(
    df: DataFrame,
    keys: Sequence[Column | str],
    value: Column | str,
    alias: str = "avg_value",
    scale: int = 2,
) -> DataFrame:
    """Grouped order-independent average (exact decimal sum ÷ count → double).

    r16: routed through ``exact_avg`` — the direct decimal(18,s) sum
    buffered in decimal(28,s), a per-row serialized-BigDecimal add past the
    18-digit compact-long limit (guide §5); the long hi/lo partials produce
    the bit-identical double."""
    from ..functions.expressions import exact_avg

    v = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(exact_avg(v, scale).alias(alias))


def pivot_agg(
    df: DataFrame,
    keys: Sequence[Column | str],
    pivot_col: str,
    values: Sequence[str],
    agg: Column,
) -> DataFrame:
    """Explicit-value-list pivot (reference ``Geo_silver_layer_common.py:27-32``).
    SQL-oracle equivalent: one conditional aggregate per listed value
    (``AVG(CASE WHEN variable = 'TAVG' THEN v END)``)."""
    return df.groupBy(*keys).pivot(pivot_col, list(values)).agg(agg)


def _quantile_seeded_buckets(
    base: DataFrame, n_buckets: int, extra_cols: Sequence[str] = ()
) -> DataFrame:
    """Assign each (g, v) row an ordered bucket id 0..n_buckets-1 whose
    boundaries are the group's approximate (i/n_buckets)-quantiles —
    skew-proof bucketing for the exact-rank machinery. The assign is
    MONOTONE in v (equal values share a bucket, larger values never get a
    smaller bucket), which is the only property rank correctness needs;
    ``percentile_approx``'s bounded sketch error only nudges bucket
    POPULATIONS, never rank arithmetic. Returns ``(g, *extra_cols, v, b)``.

    Boundary accuracy 100 (1% rank error) is plenty — it only nudges
    bucket populations. The tiny |groups|-row boundary frame is eagerly
    checkpointed: it feeds every downstream recompute of the bucketed
    frame, and re-running the percentile sketch per consumer is pure
    waste. Assign-expression shootout (sf0.1, 6M rows, warm): flat
    CASE WHEN over 63 SCALAR boundary columns 0.55 s — a short-circuiting
    codegen'd if-chain; ``aggregate`` lambda over the array 1.7 s
    (higher-order functions run interpreted per row); flat 63-term
    ``element_at`` sum 8.5 s; unrolled binary search 3.8 s and a 1.6 MB
    task binary (each nesting level triples the expression tree)."""
    if n_buckets < 2:
        # degrade gracefully to a single bucket: the CASE chain below
        # would reference a _q1 column that is never created, and
        # percentile_approx rejects an empty fraction list
        return base.select("g", *extra_cols, "v", F.lit(0).cast("int").alias("b"))
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = base.groupBy("g").agg(
        F.percentile_approx("v", fracs, 100).alias("bnds")
    ).localCheckpoint(eager=True)
    flat = bounds.select(
        "g", *[F.element_at("bnds", i).alias(f"_q{i}") for i in range(1, n_buckets)]
    )
    case = F.when(F.col("v") < F.col("_q1"), 0)
    for i in range(2, n_buckets):
        case = case.when(F.col("v") < F.col(f"_q{i}"), i - 1)
    case = case.otherwise(n_buckets - 1)
    return base.join(F.broadcast(flat), "g").select(
        "g",
        *extra_cols,
        "v",
        case.cast("int").alias("b"),
    )


def distributed_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fractions: Sequence[tuple[int, int]] = ((25, 100), (50, 100), (90, 100), (99, 100)),
    n_buckets: int = 64,
) -> DataFrame:
    """EXACT per-group quantiles without the single-buffer anti-pattern:
    ``percentile()`` holds every group value in one aggregation buffer (the
    documented OOM at scale); this computes the same exact order statistics
    by distributed rank selection — approx-percentile-seeded value buckets
    (sketch boundaries, exact ranks inside), per-(group, bucket) counts,
    broadcast exclusive bucket offsets (bounded |groups|·``n_buckets``
    rows), then a row_number ONLY within each (group, bucket) partition.
    ``global_rank = offset + rank_in_bucket`` reproduces the rank a full
    per-group sort would assign, and the quantile is the row whose rank
    hits ``⌈p·n⌉`` (computed in exact integer arithmetic from rational
    fractions, so every engine agrees).

    Bucket boundaries come from ``percentile_approx`` (bounded-memory
    sketch), NOT equal-width splits of [min, max]: on a heavy-tailed
    column equal-width buckets collapse — one bucket absorbs nearly the
    whole group and its window task sorts ~n rows, the exact failure the
    bucketing exists to prevent. Sketch error only skews bucket sizes a
    few percent; the rank arithmetic stays exact regardless of where the
    boundaries fall. Each window task sorts ~n/``n_buckets`` rows — sized
    to fit executor memory at any scale by raising ``n_buckets``. Ties
    share a value, so the selected VALUE is deterministic regardless of
    tie order.

    Returns ``(group, pct_num, pct_den, n, value)`` — one row per group per
    fraction. NULL values carry no rank: they are excluded up front (a NULL
    would otherwise floor() into a NULL bucket, inflate ``n``, and shift
    every target rank).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v")
    ).filter(F.col("v").isNotNull())
    bucketed = _quantile_seeded_buckets(base, n_buckets)
    # |groups|·n_buckets rows — checkpoint eagerly so offsets/totals/targets
    # derive from the materialized counts instead of re-running the
    # corpus-scale bucket-assign pass per consumer
    sizes = bucketed.groupBy("g", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)
    a, bb = sizes.alias("a"), sizes.alias("b2")
    offsets = (
        a.join(
            F.broadcast(bb),
            (F.col("a.g") == F.col("b2.g")) & (F.col("b2.b") < F.col("a.b")),
            "left",
        )
        .groupBy(F.col("a.g").alias("g"), F.col("a.b").alias("b"))
        .agg(F.coalesce(F.sum("b2.c"), F.lit(0)).cast("bigint").alias("off"))
    )
    totals = sizes.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    wb = Window.partitionBy("g", "b").orderBy("v")
    ranked = (
        bucketed.withColumn("rib", F.row_number().over(wb).cast("bigint"))
        .join(F.broadcast(offsets), ["g", "b"])
        .withColumn("global_rank", F.col("off") + F.col("rib"))
    )
    spark = df.sparkSession
    fr = spark.createDataFrame(list(fractions), ["p_num", "p_den"])
    targets = totals.crossJoin(F.broadcast(fr)).select(
        "g",
        "n",
        "p_num",
        "p_den",
        F.expr("(n * p_num + p_den - 1) div p_den").cast("bigint").alias("r"),
    )
    return (
        ranked.join(F.broadcast(targets), ["g"])
        .filter(F.col("global_rank") == F.col("r"))
        .select(
            F.col("g").alias(group_col),
            F.col("p_num").cast("int").alias("pct_num"),
            F.col("p_den").cast("int").alias("pct_den"),
            "n",
            F.col("v").alias("value"),
        )
    )


def winsorize_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_frac: tuple[int, int] = (5, 100),
    hi_frac: tuple[int, int] = (95, 100),
) -> DataFrame:
    """Winsorized per-group statistics — the outlier-robust cleaning pass a
    feature pipeline runs before averaging heavy-tailed metrics: clip each
    group's values at its own EXACT p05/p95 (the ⌈p·n⌉ order statistic from
    ``distributed_exact_quantiles`` — no sketch error, no single-buffer
    percentile), and report how much was clipped plus the winsorized sum.

    Returns ``(group, n_rows, lo_cents, hi_cents, n_clipped_low,
    n_clipped_high, winsorized_sum_cents)`` with all money quantized
    per-row to integer cents AFTER clipping, so the sum is exact and
    order-free. Cost: the quantile pass (bucketed rank selection) + one
    group-keyed join-back + one partial-aggregated groupBy — the bounds
    table is group-domain-sized and broadcast.
    """
    if lo_frac == hi_frac:
        raise ValueError(f"lo_frac and hi_frac must differ, got {lo_frac} twice")
    # select each bound by BOTH numerator and denominator: fractions like
    # (1,4) and (1,2) share a numerator, and matching on pct_num alone
    # would duplicate bounds rows per group and double every count/sum
    # after the join-back
    q = distributed_exact_quantiles(
        df, group_col, value_col, fractions=(lo_frac, hi_frac)
    )
    lo = q.filter(
        (F.col("pct_num") == lo_frac[0]) & (F.col("pct_den") == lo_frac[1])
    ).select(F.col(group_col).alias("g"), F.col("value").alias("lo_v"))
    hi = q.filter(
        (F.col("pct_num") == hi_frac[0]) & (F.col("pct_den") == hi_frac[1])
    ).select(F.col(group_col).alias("g"), F.col("value").alias("hi_v"))
    bounds = lo.join(hi, "g")
    # NULL values carry no rank in the bounds computation
    # (distributed_exact_quantiles excludes them), so they must not count
    # here either: greatest/least skip NULLs, and an unfiltered NULL v
    # would clip to hi_v — adding hi_cents to the sum and a phantom row to
    # n_rows that the quantiles never saw
    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v")
    ).filter(F.col("v").isNotNull())
    clipped = base.join(F.broadcast(bounds), "g").select(
        "g",
        "lo_v",
        "hi_v",
        (F.col("v") < F.col("lo_v")).cast("int").alias("clip_lo"),
        (F.col("v") > F.col("hi_v")).cast("int").alias("clip_hi"),
        F.round(F.greatest("lo_v", F.least("hi_v", F.col("v"))) * 100)
        .cast("bigint")
        .alias("w_cents"),
    )
    return clipped.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max(F.round(F.col("lo_v") * 100).cast("bigint")).alias("lo_cents"),
        F.max(F.round(F.col("hi_v") * 100).cast("bigint")).alias("hi_cents"),
        F.sum("clip_lo").cast("bigint").alias("n_clipped_low"),
        F.sum("clip_hi").cast("bigint").alias("n_clipped_high"),
        F.sum("w_cents").cast("bigint").alias("winsorized_sum_cents"),
    ).withColumnRenamed("g", group_col)


def grouped_exact_ranks(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact per-group TOTAL rank (1..n) for every row, ordered by
    (value, id) — the row-level companion of ``distributed_exact_quantiles``
    built from the same bucketed machinery: approx-percentile-seeded value
    buckets (skew-proof), per-(group, bucket) counts, broadcast exclusive
    offsets, and a row_number only within each (group, bucket). No window
    ever holds a whole group, so a 5-source corpus doesn't collapse onto 5
    tasks. Returns ``(group, id, value, rank, n)``. NULL values carry no
    rank and are excluded up front (a NULL would otherwise floor() into a
    NULL bucket, sort nulls-first inside it, inflate ``n``, and interleave
    bogus ranks below the top bucket — poisoning quantile_normalize and
    corpus_datasheet on NULL-bearing inputs)."""
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("rid"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    bucketed = _quantile_seeded_buckets(base, n_buckets, extra_cols=("rid",))
    # |groups|·n_buckets rows — checkpoint eagerly so offsets/totals/targets
    # derive from the materialized counts instead of re-running the
    # corpus-scale bucket-assign pass per consumer
    sizes = bucketed.groupBy("g", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)
    a, bb = sizes.alias("a"), sizes.alias("b2")
    offsets = (
        a.join(
            F.broadcast(bb),
            (F.col("a.g") == F.col("b2.g")) & (F.col("b2.b") < F.col("a.b")),
            "left",
        )
        .groupBy(F.col("a.g").alias("g"), F.col("a.b").alias("b"))
        .agg(F.coalesce(F.sum("b2.c"), F.lit(0)).cast("bigint").alias("off"))
    )
    totals = sizes.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    wb = Window.partitionBy("g", "b").orderBy("v", "rid")
    return (
        bucketed.withColumn("rib", F.row_number().over(wb).cast("bigint"))
        .join(F.broadcast(offsets), ["g", "b"])
        .join(F.broadcast(totals), "g")
        .select(
            F.col("g").alias(group_col),
            F.col("rid").alias(id_col),
            F.col("v").alias(value_col),
            (F.col("off") + F.col("rib")).cast("bigint").alias("rank"),
            "n",
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Cross-group quantile normalization — map every row's value onto the
    GLOBAL distribution at the same within-group quantile (the
    batch-effect/source-drift corrector: after it, every group has an
    identical value distribution). Row at within-group rank r of n lands on
    the global order statistic at rank ``⌈r·N/n⌉`` — exact integer
    arithmetic end to end (at 10^12-row scale the r·N product needs
    DECIMAL(38,0); the expression shape is unchanged).

    Both rank passes use ``grouped_exact_ranks`` (bucketed rank selection,
    no whole-group windows); the final lookup is an equi-join on the global
    rank — co-partitioned bigint keys, corpus-scale but shuffle-friendly.
    Returns ``(id, group, value, group_rank, n_group, target_rank,
    normalized_value)``."""
    # r16 (guide §5): two grouped_exact_ranks calls × three machinery
    # passes each = the caller's input evaluated SIX times. Materialize
    # the narrow (group, id, value) projection once — one row per scored
    # entity — and run both rank passes over it.
    base = df.select(group_col, id_col, value_col).localCheckpoint(eager=True)
    gr = grouped_exact_ranks(base, group_col, value_col, id_col)
    glob = grouped_exact_ranks(
        base.select(F.lit(0).alias("_all"), F.col(id_col), F.col(value_col)),
        "_all",
        value_col,
        id_col,
    ).select(
        F.col("rank").alias("target_rank"),
        F.col(value_col).alias("normalized_value"),
        F.col("n").alias("n_total"),
    )
    n_total = glob.agg(F.max("n_total").alias("n_total"))
    mapped = gr.crossJoin(F.broadcast(n_total)).select(
        id_col,
        group_col,
        value_col,
        F.col("rank").alias("group_rank"),
        F.col("n").alias("n_group"),
        F.expr("(rank * n_total + n - 1) div n").cast("bigint").alias("target_rank"),
    )
    return mapped.join(glob.drop("n_total"), "target_rank").select(
        id_col,
        group_col,
        value_col,
        "group_rank",
        "n_group",
        "target_rank",
        "normalized_value",
    )


def histogram_quantile_sketch(
    docs: DataFrame,
    bin_width: int = 16,
    n_bins: int = 64,
    fractions: Sequence[tuple[int, int]] = ((1, 2), (9, 10), (99, 100)),
    text_col: str = "text",
) -> DataFrame:
    """Quantiles from a FIXED-SIZE mergeable histogram — the streaming /
    cross-shard companion to ``distributed_exact_quantiles``: that
    operator is exact but wants the data in place; this one reduces any
    shard to ≤ ``n_bins`` (bin, count) cells that merge by cell-wise SUM
    (the CM/HLL merge contract), then reads quantiles off the merged
    histogram with within-bin linear interpolation. The price is bounded,
    known error (≤ one bin width); the exact order statistic rides along
    as the AUDIT column.

    All-integer: the target rank is ⌈q·n⌉ from the rational fraction,
    cumulative counts come from broadcast non-equi self-joins over the
    ≤ ``n_bins``-row histogram (and the bounded distinct-value table for
    the audit) — no keyless window, no sort; the interpolated estimate
    ``(bin·W + (k − cum_prev)·W div c_bin)`` is emitted in micros.

    Measures tokens-per-document (the curation length distribution).
    Returns one row per fraction: (pct_num, pct_den, n_docs, bin,
    est_micros, exact_value, abs_err_micros).
    """
    x = docs.select(
        F.least(
            F.size(F.split(F.col(text_col), " ")).cast("bigint"),
            F.lit(bin_width * n_bins - 1).cast("bigint"),
        ).alias("x")
    )
    hist = (
        x.groupBy(F.expr(f"least(x div {bin_width}, {n_bins - 1})").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    n = hist.agg(F.sum("c").cast("bigint").alias("n"))
    cum = (
        hist.alias("h1")
        .join(F.broadcast(hist.alias("h2")), F.expr("h2.b <= h1.b"))
        .groupBy(F.col("h1.b").alias("b"), F.col("h1.c").alias("c"))
        .agg(F.sum("h2.c").cast("bigint").alias("cum"))
    )
    vals = x.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("vc"))
    vcum = (
        vals.alias("v1")
        .join(F.broadcast(vals.alias("v2")), F.expr("v2.x <= v1.x"))
        .groupBy(F.col("v1.x").alias("x"))
        .agg(F.sum("v2.vc").cast("bigint").alias("vcum"))
    )
    out = None
    for qn, qd in fractions:
        k = n.select(
            F.lit(qn).cast("int").alias("pct_num"),
            F.lit(qd).cast("int").alias("pct_den"),
            F.col("n").alias("n_docs"),
            F.expr(f"(n * {qn} + {qd} - 1) div {qd}").alias("k"),
        )
        sel = (
            k.join(F.broadcast(cum), F.expr("cum >= k"))
            .groupBy("pct_num", "pct_den", "n_docs", "k")
            .agg(F.min(F.struct("b", "c", "cum")).alias("s"))
            .select(
                "pct_num",
                "pct_den",
                "n_docs",
                "k",
                F.col("s.b").alias("bin"),
                F.expr(
                    f"s.b * {bin_width} * cast(1000000 as bigint)"
                    f" + ((k - (s.cum - s.c)) * {bin_width}"
                    " * cast(1000000 as bigint)) div greatest(s.c, 1)"
                ).alias("est_micros"),
            )
        )
        row = (
            sel.join(F.broadcast(vcum), F.expr("vcum >= k"))
            .groupBy("pct_num", "pct_den", "n_docs", "bin", "est_micros")
            .agg(F.min("x").alias("exact_value"))
            .select(
                "pct_num",
                "pct_den",
                "n_docs",
                "bin",
                "est_micros",
                "exact_value",
                F.expr(
                    "abs(est_micros - exact_value * cast(1000000 as bigint))"
                ).alias("abs_err_micros"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
