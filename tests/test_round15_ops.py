"""Round-15 optimization-round tests: single-scan MATCH SIMPLE referential
enforcement, vacuum_apply schema-evolution guard, aggregate-ref cycle guard,
bounded arrow-scorer driver fetch, and listener query-id matching."""

from __future__ import annotations

import datetime as dt
import types

import pytest


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# single-scan NULL-exempt referential drop (plans/expectations.py)
# ---------------------------------------------------------------------------


def _ri_fixture(spark):
    fact = spark.createDataFrame(
        [
            (1, 10, "both_ok"),
            (1, 99, "orphan_b"),
            (9, 10, "orphan_a"),
            (None, 10, "null_a"),
            (1, None, "null_b"),
            (None, None, "null_both"),
            (9, 99, "orphan_both"),
        ],
        "a int, b int, v string",
    )
    dim_a = spark.createDataFrame([(1,), (2,)], "da int")
    dim_b = spark.createDataFrame([(10,), (20,)], "db int")
    return fact, dim_a, dim_b


def test_agg_drop_single_scan_semantics(spark):
    """The left-outer+filter rewrite must keep EXACTLY the union-of-branches
    semantics: fk present in the dim, or any fk column NULL (MATCH SIMPLE).
    Chained constraints compose the same way."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectation,
        enforce_aggregate_drops,
    )

    fact, dim_a, dim_b = _ri_fixture(spark)
    exps = [
        AggregateExpectation("a_known", "referential", cols=["a"],
                             ref="dim_a", ref_cols=["da"], policy="drop"),
        AggregateExpectation("b_known", "referential", cols=["b"],
                             ref="dim_b", ref_cols=["db"], policy="drop"),
    ]
    resolve = lambda n: {"dim_a": dim_a, "dim_b": dim_b}[n]  # noqa: E731
    out = enforce_aggregate_drops(fact, exps, resolve)
    assert out.columns == fact.columns  # column order preserved
    kept = sorted(r.v for r in out.collect())
    # reference semantics, computed by hand: a-constraint keeps rows with
    # a IN dim_a or a NULL; then b-constraint keeps b IN dim_b or b NULL
    assert kept == ["both_ok", "null_a", "null_b", "null_both"]


def test_agg_drop_one_scan_branch_per_constraint(spark):
    """The 2^N scan blow-up is gone: with two chained drop constraints the
    physical plan scans the fact relation ONCE (was 4 branches)."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectation,
        enforce_aggregate_drops,
    )

    import re

    fact, dim_a, dim_b = _ri_fixture(spark)
    exps = [
        AggregateExpectation("a_known", "referential", cols=["a"],
                             ref="dim_a", ref_cols=["da"], policy="drop"),
        AggregateExpectation("b_known", "referential", cols=["b"],
                             ref="dim_b", ref_cols=["db"], policy="drop"),
    ]
    resolve = lambda n: {"dim_a": dim_a, "dim_b": dim_b}[n]  # noqa: E731
    out = enforce_aggregate_drops(fact, exps, resolve)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the union-of-branches shape is gone: no Union node, and the fact
    # relation (the only 3-column scan: a, b, v) is scanned exactly once
    # (was 4 scan branches for 2 chained constraints)
    assert "Union" not in plan, plan
    fact_scans = re.findall(r"Scan ExistingRDD\[a#\d+,b#\d+,v#\d+\]", plan)
    assert len(fact_scans) == 1, plan


def test_quarantine_rows_match_drop_complement(spark):
    """kept ∪ quarantined = post-null-exemption input, disjointly — the
    replay contract survives the single-scan rewrite."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectation,
        aggregate_quarantine_rows,
        enforce_aggregate_drops,
    )

    fact, dim_a, dim_b = _ri_fixture(spark)
    exps = [
        AggregateExpectation("a_known", "referential", cols=["a"],
                             ref="dim_a", ref_cols=["da"], policy="quarantine"),
        AggregateExpectation("b_known", "referential", cols=["b"],
                             ref="dim_b", ref_cols=["db"], policy="quarantine"),
    ]
    resolve = lambda n: {"dim_a": dim_a, "dim_b": dim_b}[n]  # noqa: E731
    kept = {r.v for r in enforce_aggregate_drops(fact, exps, resolve).collect()}
    parked = {
        (r.v, r._violated)
        for r in aggregate_quarantine_rows(fact, exps, resolve).collect()
    }
    assert kept == {"both_ok", "null_a", "null_b", "null_both"}
    # orphan_b survives the a-constraint (a=1 known) and parks on b;
    # orphan_a and orphan_both park on a and never reach the b-constraint
    assert parked == {
        ("orphan_a", "a_known"),
        ("orphan_both", "a_known"),
        ("orphan_b", "b_known"),
    }
    assert kept.isdisjoint({v for v, _ in parked})


def test_registry_cycle_through_aggregate_ref_raises(spark):
    """A referential constraint whose ref chain cycles back into the same
    dataset must surface the clean dependency-cycle ValueError, not
    RecursionError (the _building guard now covers enforcement)."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        expect_referential,
    )
    from adventureworkslakehousepoc_spark.plans.registry import (
        DatasetRegistry,
        PipelineContext,
    )

    reg = DatasetRegistry()

    @reg.table("self_ref")
    @expect_referential("k_known", ["k"], "self_ref", ["k"], policy="drop")
    def self_ref(ctx):
        return ctx.read("src")

    src = spark.createDataFrame([(1,)], "k int")
    ctx = PipelineContext(reg, spark, catalog_reader=lambda n: src)
    with pytest.raises(ValueError, match="dependency cycle"):
        ctx.dataframe("self_ref")


# ---------------------------------------------------------------------------
# vacuum_apply schema-evolution guard (operators/maintenance.py)
# ---------------------------------------------------------------------------


def test_vacuum_apply_refuses_evolved_log(spark, tmp_path):
    """A schema-evolved log must be refused BEFORE any file is touched — a
    frozen-schema rewrite would silently drop later-generation columns and
    the tmp-swap would then delete the originals."""
    import os

    from adventureworkslakehousepoc_spark.operators.maintenance import (
        vacuum_apply,
    )

    p = str(tmp_path / "log")
    t = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, 10, "insert", 1, t)],
        "k bigint, v int, _change_type string, _commit_version int, "
        "_commit_timestamp timestamp",
    ).write.mode("append").parquet(p)
    spark.createDataFrame(
        [(2, 2**40, "extra", "insert", 2, t)],
        "k bigint, v bigint, note string, _change_type string, "
        "_commit_version int, _commit_timestamp timestamp",
    ).write.mode("append").parquet(p)
    files_before = sorted(os.listdir(p))
    with pytest.raises(ValueError, match="schema"):
        vacuum_apply(spark, p, ["k"], horizon_version=2)
    assert sorted(os.listdir(p)) == files_before  # nothing deleted/moved


def test_vacuum_apply_schema_guard_sees_only_spark_visible_files(spark, tmp_path):
    """The schema guard walks the files spark.read.parquet reads: a
    mismatched parquet under a sink's _spark_metadata/ does not block a
    valid vacuum, while one in a visible partition directory is refused."""
    import os

    from adventureworkslakehousepoc_spark.operators.maintenance import (
        vacuum_apply,
    )

    schema = (
        "k bigint, v int, _change_type string, _commit_version int, "
        "_commit_timestamp timestamp"
    )
    t = dt.datetime(2024, 1, 1)
    rows = [(1, 10, "insert", 1, t), (1, 11, "update_postimage", 2, t)]
    stray = spark.createDataFrame(
        [(2, 2**40, "extra", "insert", 3, t)],
        "k bigint, v bigint, note string, _change_type string, "
        "_commit_version int, _commit_timestamp timestamp",
    )

    # 1) a streaming sink whose _spark_metadata/ holds a stray parquet
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    sink = str(tmp_path / "sink")
    (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start(sink)
        .awaitTermination()
    )
    stray.write.parquet(os.path.join(sink, "_spark_metadata", "stray"))
    stats = vacuum_apply(spark, sink, ["k"], horizon_version=2)
    assert stats["rows_removed"] == 1

    # 2) the same file in a visible partition directory is still refused
    p = str(tmp_path / "log")
    spark.createDataFrame(rows, schema).write.parquet(p)
    stray.write.parquet(os.path.join(p, "gen=2"))
    files_before = sorted(os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs)
    with pytest.raises(ValueError, match="schema"):
        vacuum_apply(spark, p, ["k"], horizon_version=2)
    assert sorted(os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs) == files_before


# ---------------------------------------------------------------------------
# bounded arrow-scorer driver fetch (operators/similarity.py)
# ---------------------------------------------------------------------------


def test_arrow_scorer_driver_fetch_is_bounded(spark):
    from adventureworkslakehousepoc_spark.operators.similarity import (
        _dim_ablation_candidates_arrow,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="ceiling"):
        _dim_ablation_candidates_arrow(emb, emb, [2], 1, max_queries=500_000)


# ---------------------------------------------------------------------------
# listener query-id matching (streaming/quality.py)
# ---------------------------------------------------------------------------


class _FakeRow:
    def __init__(self, d):
        self._d = d

    def asDict(self):  # noqa: N802 (Spark Row API)
        return dict(self._d)


def _progress_event(name, qid, metrics):
    return types.SimpleNamespace(
        progress=types.SimpleNamespace(
            id=qid, observedMetrics={name: _FakeRow(metrics)}
        )
    )


def test_listener_ignores_foreign_termination(spark):
    """Once a progress event binds the tracked query id, another query's
    terminated event must NOT release wait_terminated (the cross-talk the
    docstring promises away); the tracked id's termination must."""
    from adventureworkslakehousepoc_spark.streaming.quality import (
        ExpectationMetricsListener,
    )

    listener = ExpectationMetricsListener("obs:r15:test")
    listener.onQueryProgress(
        _progress_event("obs:r15:test", "q-mine", {"n_rows": 5})
    )
    listener.onQueryTerminated(types.SimpleNamespace(id="q-other"))
    assert not listener.wait_terminated(timeout=0.2)
    listener.onQueryTerminated(types.SimpleNamespace(id="q-mine"))
    assert listener.wait_terminated(timeout=5.0)
    assert listener.totals == {"n_rows": 5}
    # progress events for OTHER observation names never bind or accumulate
    listener2 = ExpectationMetricsListener("obs:r15:test2")
    listener2.onQueryProgress(
        _progress_event("obs:unrelated", "q-x", {"n_rows": 3})
    )
    assert listener2.batches == 0


# ---------------------------------------------------------------------------
# exact_unscaled_sum (functions/expressions.py)
# ---------------------------------------------------------------------------


def test_exact_unscaled_sum_equals_decimal_sum(spark):
    """The split-long sum must be BIT-identical to the reference
    F.sum(decimal).cast('double') form — including negatives (pmod/floor
    identity), NULLs (skipped by both), and values straddling the 10^6
    split boundary."""
    import random

    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.functions.expressions import (
        exact_avg,
        exact_unscaled_sum,
    )

    rng = random.Random(15)
    rows = [
        (i % 7, round(rng.uniform(-120000, 950000), 2) if i % 11 else None)
        for i in range(5000)
    ] + [(0, 999999.99), (1, -999999.99), (2, 0.01), (3, 10000.0)]
    df = spark.createDataFrame(rows, "g int, x double")
    unscaled = F.expr("cast(cast(x as decimal(18,2)) * 100 as bigint)")
    got = df.groupBy("g").agg(
        exact_unscaled_sum(unscaled, 2).alias("s"),
        exact_avg("x").alias("a"),
    )
    ref = df.groupBy("g").agg(
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("s"),
        (F.sum(F.col("x").cast("decimal(18,2)")).cast("double") / F.count("x")).alias("a"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="scale"):
        exact_unscaled_sum(F.col("x"), 7)
