"""Round-16 optimization-round tests: the shared per-doc shingle-array
corpus pass (one shuffle, set semantics by construction), the array-form
Jaccard verifier, the window-free aggregate-derived prefix in the
set-similarity join, and the integer hi/lo split in exact_unscaled_sum."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "a b c d e f g"),
        (2, "a b c d e f g"),          # exact duplicate of 1
        (3, "a b c d e f g h i j"),    # superset-ish near-dup
        (4, "z y x w v u t s"),        # unrelated
        (5, "a b c"),                  # too short for n=3? 3 words -> 1 shingle
        (6, "q q q q q q"),            # repeated words (duplicate shingles)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_shingle_arrays_equal_distinct_stream(spark):
    """The one-shuffle array corpus pass must hold exactly the distinct
    shingle set per doc — identical to the previous distinct-stream cache
    (grouped), including on inputs with REPEATED shingles (doc 6), which is
    what the collect_set form guarantees by construction (r15 verdict
    'what's wrong #4': the old collect_list verify silently assumed a
    distinct input)."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        doc_shingle_arrays,
        word_shingles,
    )

    docs = _docs(spark)
    got = {
        r["doc_id"]: list(r["shs"])
        for r in doc_shingle_arrays(docs).collect()
    }
    expect = {
        r["doc_id"]: sorted(r["shs"])
        for r in word_shingles(docs)  # distinct=True stream
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("shs"))
        .collect()
    }
    assert got == expect


def test_jaccard_verify_arrays_exact(spark):
    """The pair-overlap verify over the array frame computes the exact set
    Jaccard for given candidate pairs — hand-computed values, including a
    threshold-boundary pair and a no-overlap pair (dropped)."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        _jaccard_at_least,
        _pair_overlap,
        doc_shingle_arrays,
    )

    docs = _docs(spark)
    arrs = doc_shingle_arrays(docs)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in _jaccard_at_least(_pair_overlap(pairs, arrs, arrs), 0.4).collect()
    }
    # doc1: 5 shingles of 'a b c d e f g'; doc2 identical -> J = 1
    # doc3: 8 shingles, intersection = 5 -> J = 5/8 = 0.625
    # doc4: disjoint -> J = 0, filtered by threshold
    assert got == {(1, 2): 1.0, (1, 3): 0.625}


def test_prefix_filter_plan_has_no_window(spark):
    """r16: the per-doc rarity rank is aggregate-derived (array_sort over
    (df, sh) structs + positional slice) — the row_number window over the
    full shingle stream, and its exchange+sort, must be gone from the
    internal plan."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from adventureworkslakehousepoc_spark.plans.audit import StatusWindow, extended_plans

    docs = _docs(spark)
    with extended_plans(spark):
        window = StatusWindow(spark)
        prefix_filter_jaccard_pairs(docs).collect()
    all_plans = "\n".join(e.physical for e in window.executions())
    assert "Window" not in all_plans, "row_number window is back in the prefix path"
    # the rarest-first order must still be derived somewhere (the struct sort)
    assert "collect_list" in all_plans


def test_exact_unscaled_sum_integer_split_full_range(spark):
    """The r16 integer hi/lo split is exact for magnitudes past 2^53 where
    the old double floor-division would silently corrupt hi (ADVICE r15):
    sum of values whose unscaled forms exceed 2^53 must equal the decimal
    reference bit-for-bit."""
    from adventureworkslakehousepoc_spark.functions.expressions import (
        exact_unscaled_sum,
    )

    big = 9_007_199_254_740_993  # 2^53 + 1: not representable as double
    vals = [(big,), (big + 2,), (-big,), (1,), (None,)]
    df = spark.createDataFrame(vals, "u long")
    got = df.agg(exact_unscaled_sum(F.col("u"), 2).alias("x")).collect()[0][0]
    ref = df.agg(
        F.sum(
            (F.col("u").cast("decimal(38,0)") / F.lit(100).cast("decimal(3,0)"))
            .cast("decimal(38,2)")
        )
        .cast("double")
        .alias("y")
    ).collect()[0][0]
    assert got == ref


# ---------------------------------------------------------------------------
# ADVICE r16 fixes: marker collision, start-time listener binding,
# order-insensitive + recursive vacuum guard
# ---------------------------------------------------------------------------


def test_keep_match_simple_survives_ref_hit_column(spark):
    """A dataset already carrying a `_ref_hit` column must not produce an
    ambiguous-reference AnalysisException in the referential keep filter."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectation,
        enforce_aggregate_drops,
    )

    fact = spark.createDataFrame(
        [(1, 7, "keep"), (9, 8, "orphan"), (None, 9, "exempt")],
        "a int, _ref_hit int, v string",
    )
    dim = spark.createDataFrame([(1,)], "da int")
    exp = AggregateExpectation(
        name="fk_a", kind="referential", policy="drop",
        cols=("a",), ref="dim", ref_cols=("da",),
    )
    out = enforce_aggregate_drops(fact, [exp], resolve=lambda _: dim)
    rows = sorted((r["v"], r["_ref_hit"]) for r in out.collect())
    assert rows == [("exempt", 9), ("keep", 7)]


def test_listener_binds_at_query_start():
    """bind_query at start closes the zero-progress cross-talk window: a
    foreign termination arriving BEFORE any progress event must not
    release wait_terminated once the id is bound."""
    import types

    from adventureworkslakehousepoc_spark.streaming.quality import (
        ExpectationMetricsListener,
    )

    listener = ExpectationMetricsListener("obs:r16:test")
    listener.bind_query("q-mine")
    listener.onQueryTerminated(types.SimpleNamespace(id="q-other"))
    assert not listener.wait_terminated(timeout=0.2)
    listener.onQueryTerminated(types.SimpleNamespace(id="q-mine"))
    assert listener.wait_terminated(timeout=5.0)


def test_vacuum_guard_recursive_and_order_insensitive(spark, tmp_path):
    """The schema guard must SEE evolved generations hidden in partition
    subdirectories (os.walk), and must NOT refuse two files whose footers
    carry identical columns in a different physical order."""
    import datetime as dt
    import os

    import pytest as _pytest

    from adventureworkslakehousepoc_spark.operators.maintenance import (
        vacuum_apply,
    )

    t = dt.datetime(2024, 1, 1)
    # 1) evolved generation inside a subdirectory -> refused, nothing deleted
    p1 = str(tmp_path / "log_partitioned")
    spark.createDataFrame(
        [(1, 10, "insert", 1, t)],
        "k bigint, v int, _change_type string, _commit_version int, "
        "_commit_timestamp timestamp",
    ).write.mode("append").parquet(p1)
    sub = os.path.join(p1, "gen2")
    spark.createDataFrame(
        [(2, 11, "extra", "insert", 2, t)],
        "k bigint, v int, note string, _change_type string, "
        "_commit_version int, _commit_timestamp timestamp",
    ).write.mode("append").parquet(sub)
    before = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(p1) for f in fs
    )
    with _pytest.raises(ValueError, match="schema"):
        vacuum_apply(spark, p1, ["k"], horizon_version=2)
    after = sorted(os.path.join(r, f) for r, _, fs in os.walk(p1) for f in fs)
    assert after == before
    # 2) identical columns, different footer order -> NOT refused
    p2 = str(tmp_path / "log_reordered")
    spark.createDataFrame(
        [(1, 10, "insert", 1, t)],
        "k bigint, v int, _change_type string, _commit_version int, "
        "_commit_timestamp timestamp",
    ).write.mode("append").parquet(p2)
    spark.createDataFrame(
        [(10, 2, "insert", 2, t)],
        "v int, k bigint, _change_type string, _commit_version int, "
        "_commit_timestamp timestamp",
    ).select("k", "v", "_change_type", "_commit_version", "_commit_timestamp") \
     .write.mode("append").parquet(p2)
    # same column SET; vacuum must proceed (no ValueError)
    res = vacuum_apply(spark, p2, ["k"], horizon_version=3)
    assert res is not None
