"""Behavioral tests for advanced operators: as-of semantics, session
invariants, sketch accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()


def test_asof_picks_latest_prior_click(spark, sf_dir):
    rows = QUERIES["asof_join_latest_click"](spark, sf_dir).collect()
    assert rows, "no purchases?"
    for r in rows[:50]:
        if r.click_ts is not None:
            assert r.click_ts <= r.purchase_ts


def test_asof_matches_naive_per_row_lookup(spark, sf_dir):
    """The union-sort composition must equal the naive (quadratic) definition."""
    from adventureworkslakehousepoc_spark.catalog import load_tables

    e = load_tables(spark, sf_dir, ("events",))["events"]
    purchases = [
        (r.event_id, r.user_id, r.ts)
        for r in e.filter(F.col("event_type") == "purchase").collect()
    ]
    clicks = {}
    for r in e.filter(F.col("event_type") == "click").collect():
        clicks.setdefault(r.user_id, []).append((r.ts, r.event_id))
    expected = {}
    for pid, uid, ts in purchases:
        prior = [(t, i) for t, i in clicks.get(uid, []) if t <= ts]
        expected[pid] = max(prior)[1] if prior else None
    got = {
        r.purchase_id: r.click_id
        for r in QUERIES["asof_join_latest_click"](spark, sf_dir).collect()
    }
    assert got == expected


def test_asof_matched_right_row_is_atomic(spark):
    """A newer right row with a NULL payload column must win wholesale — not
    have its null skipped in favor of an older row's value (the per-column
    carry bug). Also: no-match left rows get all-null right columns."""
    from adventureworkslakehousepoc_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 5, "p0"), (2, 3, "p2")], "k int, lt int, lp string"
    )
    right = spark.createDataFrame(
        [(1, 2, "old-val", 100), (1, 8, None, 200), (2, 9, "late", 300)],
        "k int, rt int, rv string, rx int",
    )
    out = {
        r.lp: (r.rv, r.rx, r.rt)
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            left_cols=["lp"], right_cols=["rv", "rx"],
        ).collect()
    }
    # lt=10 matches rt=8 whose rv is NULL — rv must be None, not "old-val"
    assert out["p1"] == (None, 200, 8)
    assert out["p0"] == ("old-val", 100, 2)
    # k=2 has no right row at or before lt=3
    assert out["p2"] == (None, None, None)


def test_sessions_cover_all_events(spark, sf_dir):
    from adventureworkslakehousepoc_spark.catalog import load_tables

    e = load_tables(spark, sf_dir, ("events",))["events"]
    sessions = QUERIES["sessionization_batch"](spark, sf_dir)
    total = sessions.agg(F.sum("n_events")).collect()[0][0]
    assert total == e.count()
    bad = sessions.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_approx_sketch_within_tolerance(spark, sf_dir):
    """The r5 query shape carries its own accuracy verdict: exact distinct
    counts plus in-query within-3rsd booleans (driver-hashable). Cross-check
    the exact columns against agg_distinct and require the booleans TRUE."""
    approx = {r.return_flag: r for r in QUERIES["approx_distinct_sketch"](spark, sf_dir).collect()}
    exact = {r.return_flag: r for r in QUERIES["agg_distinct"](spark, sf_dir).collect()}
    for flag, a in approx.items():
        ex = exact[flag]
        assert a.n_orders_exact == ex.n_orders
        assert a.n_lines == ex.n_lines
        assert a.orders_within_3rsd is True
        assert a.parts_within_3rsd is True


def test_approx_bounds_property_sweep(spark):
    """The sketch bounds must hold across distributions and cardinalities —
    not just the lineitem fixture the queries run on. Three synthetic shapes
    (high-cardinality uniform, skewed power-law, low-cardinality dense
    duplicates) sweep the same sketch functions the approx queries use
    (approx_count_distinct / percentile_approx), asserting the HLL relative
    error and the KLL rank-error guarantee (tie-aware: the returned value's
    [count(<v), count(<=v)] rank interval must overlap the target rank ±εn)."""
    datasets = {
        "uniform_9k": spark.range(100_000).select((F.col("id") % 9173).alias("v")),
        "powerlaw": spark.range(100_000).select(
            F.floor(F.pow((F.col("id") % 997) + 1, 1.7)).cast("long").alias("v")
        ),
        "dense_37": spark.range(50_000).select((F.col("id") % 37).alias("v")),
    }
    for name, df in datasets.items():
        df = df.persist()
        n = df.count()
        exact_d = df.select(F.countDistinct("v")).first()[0]
        approx_d = df.select(F.approx_count_distinct("v", 0.02)).first()[0]
        assert abs(approx_d - exact_d) / exact_d < 0.05, (name, exact_d, approx_d)
        accuracy = 1000
        eps = n / accuracy + 0.004 * n
        for q in (0.25, 0.5, 0.9, 0.99):
            a = df.select(F.percentile_approx("v", q, accuracy)).first()[0]
            below = df.filter(F.col("v") < a).count()
            at_or_below = df.filter(F.col("v") <= a).count()
            target = q * n
            assert below <= target + eps, (name, q, below, target)
            assert at_or_below >= target - eps, (name, q, at_or_below, target)
        df.unpersist()


def test_approx_percentile_within_bounds(spark, sf_dir):
    """The r5 query shape carries its own accuracy verdict: the in-query
    booleans assert each approx quantile sits inside the exact ±0.005 value
    band; the exact p50 quantity anchor must equal the exact query's."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    exact = {r.returnflag: r for r in qs["agg_percentiles"](spark, sf_dir).collect()}
    approx = {r.returnflag: r for r in qs["agg_percentiles_approx"](spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        assert (a.p25_ok, a.p50_ok, a.p90_ok, a.p99_ok) == (True, True, True, True)
        assert a.p50_qty == e.p50_qty


def test_enforce_expectations_drops_null_and_false(spark):
    from adventureworkslakehousepoc_spark.plans.expectations import (
        Expectation,
        apply_expectations,
        expectation_counters,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (None, 5.0)],
        "id int, amount double",
    )
    rules = [
        Expectation("id_not_null", "id IS NOT NULL", "drop"),
        Expectation("amount_positive", "amount > 0", "drop"),
    ]
    kept = apply_expectations(df, rules).collect()
    # row 2 fails amount_positive, row 3's null amount FAILS (DLT null
    # semantics), row 4 fails id_not_null
    assert sorted(r.id for r in kept) == [1]
    m = {
        r.expectation: (r.n_violations, r.n_rows - r.n_violations)
        for r in expectation_counters(df, rules).collect()
    }
    assert m == {"id_not_null": (1, 3), "amount_positive": (2, 2)}


def test_asof_forward_tolerance_and_ties(spark):
    """Forward as-of: equal-timestamp right rows match (>=); ties at the
    same (key, time) resolve to the smallest payload struct; matches beyond
    tolerance are nulled; keys with no forward match carry nulls."""
    from adventureworkslakehousepoc_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 100, 10), (1, 101, 250), (2, 200, 10), (3, 300, 10)],
        "k bigint, lid bigint, lt bigint",
    ).withColumn("lt", F.timestamp_seconds("lt"))
    right = spark.createDataFrame(
        # k=1: two rights at t=10 (ids 7,5 → tie picks 5), one at t=400
        [(1, 7, 10), (1, 5, 10), (1, 9, 400), (2, 8, 9)],
        "k bigint, rid bigint, rt bigint",
    ).withColumn("rt", F.timestamp_seconds("rt"))
    got = {
        r["lid"]: (r["rid"], r["rt"])
        for r in asof_join_forward(
            left, right, on="k", left_time="lt", right_time="rt",
            left_cols=["lid"], right_cols=["rid"], tolerance_seconds=60,
        ).collect()
    }
    assert got[100][0] == 5            # equal-ts match, min-struct tie-break
    assert got[101] == (None, None)    # next right at t=400 is 150s away > 60s
    assert got[200] == (None, None)    # right at t=9 is BEFORE the left row
    assert got[300] == (None, None)    # key has no right rows at all
    # without tolerance, lid=101 reaches the t=400 row
    no_tol = {
        r["lid"]: r["rid"]
        for r in asof_join_forward(
            left, right, on="k", left_time="lt", right_time="rt",
            left_cols=["lid"], right_cols=["rid"],
        ).collect()
    }
    assert no_tol[101] == 9


def test_referential_integrity_audit_counts_orphans(spark):
    from adventureworkslakehousepoc_spark.operators.quality import (
        referential_integrity_audit,
    )

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (99,), (None,)], "fk bigint"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
    r = referential_integrity_audit([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert (r["n_child_rows"], r["n_null_keys"]) == (6, 1)
    assert (r["n_orphan_rows"], r["n_orphan_keys"]) == (2, 1)   # 99 twice
    assert r["orphan_rate_micros"] == 500_000                    # (2+1)/6
