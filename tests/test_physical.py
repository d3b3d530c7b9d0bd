"""Physical-layout techniques: bucketed shuffle-free joins, deterministic
skew salting, broadcast verification — the SCALE.md claims, asserted on real
plans."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from adventureworkslakehousepoc_spark.catalog import load_tables
from adventureworkslakehousepoc_spark.operators.skew import salted_join
from adventureworkslakehousepoc_spark.plans.bucketing import bucketed_table, write_bucketed


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    import shutil

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    for name in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    write_bucketed(t["lineitem"], "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    write_bucketed(t["orders"], "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    li = bucketed_table(spark, "b_lineitem")
    o = bucketed_table(spark, "b_orders")
    # disable auto-broadcast so the join would otherwise shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderstatus"
        ).count()
        joined.collect()
        plan = _executed_plan(
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select("l_orderkey", "o_custkey")
        )
        assert "Exchange" not in plan, plan
        # identical results to the plain join
        plain = t["lineitem"].join(
            t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
        bucketed = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert plain == bucketed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_row_identical(spark, sf_dir):
    t = load_tables(spark, sf_dir, ("events", "customer"))
    plain = (
        t["events"]
        .join(t["customer"], F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "c_custkey", "c_mktsegment")
    )
    salted = salted_join(
        t["events"], t["customer"], "user_id", "c_custkey", n_salts=8
    ).select("event_id", "c_custkey", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salt must actually distribute a hot key across partitions."""
    t = load_tables(spark, sf_dir, ("events", "customer"))
    salted = salted_join(t["events"], t["customer"], "user_id", "c_custkey", n_salts=8)
    from adventureworkslakehousepoc_spark.operators.skew import F as _F  # noqa

    dist = (
        t["events"]
        .withColumn("_salt", F.pmod(F.hash(F.col("event_id")), F.lit(8)))
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(dist) == 8
    counts = [r["count"] for r in dist]
    assert max(counts) < 2 * min(counts)  # roughly uniform
    assert salted.count() > 0


def test_dim_joins_are_broadcast(spark, sf_dir):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["dim_geo"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pushdown_reaches_scan(spark, sf_dir):
    """Selective predicates must land in the parquet scan (PushedFilters),
    not evaluate post-scan — the difference between reading 100 TB and
    reading one partition's worth."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    plan = _executed_plan(qs["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:400]
    plan = _executed_plan(qs["q21_sole_late_supplier"](spark, sf_dir))
    assert "EqualTo(o_orderstatus,F)" in plan  # status filter pushed to orders scan


def test_star_queries_broadcast_dims_no_smj(spark, sf_dir):
    """Star-shaped suite queries keep every dimension join broadcast at the
    test SF — no sort-merge join, no unintended nested-loop blowup."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in ("q8_market_share", "q9_product_profit", "q16_supplier_part_counts"):
        plan = _executed_plan(qs[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name} fell back to SMJ:\n{plan[:800]}"
        assert "CartesianProduct" not in plan, name


def test_pipeline_queries_stay_jvm_side(spark, sf_dir):
    """The composed corpus pipeline and text/dedup hot paths must not drop
    into row-at-a-time Python (BatchEvalPython) — everything whole-stage
    codegen or Arrow."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in ("training_corpus_pipeline", "dedup_minhash_lsh", "text_quality_scores"):
        plan = _executed_plan(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_topk_has_no_single_partition_exchange(spark, sf_dir):
    """Every top-k (ANN family + vocab) must plan as TakeOrderedAndProject
    (per-partition local top-k, k-row merge) — never a full-data
    Exchange SinglePartition, which at 10⁹ rows is one task sorting the
    whole corpus."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in (
        "ann_bruteforce_topk",
        "ann_lsh_bucketed_topk",
        "ann_ivf_topk",
        "vocab_top_tokens",
    ):
        plan = _executed_plan(qs[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "Exchange SinglePartition" not in plan, f"{name}\n{plan}"


def test_hash_sample_is_scan_side_filter(spark, sf_dir):
    """Deterministic sampling adds zero shuffles — it's a filter over the
    scan, so it composes with any downstream plan for free."""
    import __spark_entry__ as entry_mod

    plan = _executed_plan(
        entry_mod.queries()["sample_hash_deterministic"](spark, sf_dir)
    )
    assert "Exchange" not in plan, plan


_LOOP = "iterative loop: each round is checkpointed or probed for convergence"
_WRITE = "write round-trip: writes files and reads them back"
_TAKE = "driver-side take: a value read to the driver shapes the plan"
_RELEASE = "release-before-return: the result is checkpointed so a cache it reads is freed"
_ONCE = "materialize-once: several plan arms read one checkpointed frame"

# Batch queries whose build starts Spark jobs with every input schema warm,
# each with the reason the build cannot stay lazy yet (ROADMAP Direction 2).
# The sweep fails on a listed query that builds without a job, so the map
# shrinks as builds turn lazy; it must not grow.
BUILD_JOBS = {
    "ann_pandas_udf_scores": _TAKE,
    "ann_pq_adc_topk": _TAKE,
    "ann_recall_calibration": _TAKE,
    "audio_fingerprint_dedup": _ONCE,
    "bloom_decontaminate": _RELEASE,
    "bpe_apply_encode": _LOOP,
    "bpe_merge_induction": _LOOP,
    "bt_preference_strengths": _LOOP,
    "bt_winrate_calibration": _LOOP,
    "ccnet_perplexity_buckets": _ONCE,
    "cdf_scd2_history": _WRITE,
    "cdf_schema_evolution_read": _WRITE,
    "cdf_snapshot_diff": _WRITE,
    "cdf_time_travel_asof_v2": _WRITE,
    "corpus_datasheet": _ONCE,
    "dawid_skene_labelers": _LOOP,
    "dedup_clusters": _LOOP,
    "dedup_containment_exact": _RELEASE,
    "dedup_prefix_filter_jaccard": _RELEASE,
    "doremi_domain_weights": _LOOP,
    "embedding_dim_ablation": _TAKE,
    "embedding_pca_power": _LOOP,
    "entity_resolution_parts": _LOOP,
    "exact_quantiles_distributed": _ONCE,
    "graph_triangle_counts": _ONCE,
    "histogram_quantile_sketch": _ONCE,
    "image_ahash_dedup": _ONCE,
    "image_phash_dedup": _ONCE,
    "incremental_minhash_index": _RELEASE,
    "ivf_incremental_update": _RELEASE,
    "kmv_source_overlap": _RELEASE,
    "kneser_ney_bigram_scores": _ONCE,
    "logistic_quality_probe": _LOOP,
    "minhash_estimate_error": _RELEASE,
    "mmr_diverse_topk": _LOOP,
    "pagerank_dup_graph": _LOOP,
    "probe_calibration_ece": _LOOP,
    "probe_conformal_gate": _LOOP,
    "quantile_normalize_doclen": _ONCE,
    "rho_loss_selection": _RELEASE,
    "s11_orc_roundtrip": _WRITE,
    "s8_sink_roundtrip": _WRITE,
    "scd2_point_in_time_join": _WRITE,
    "schema_evolution_read": _WRITE,
    "semantic_prune_pairs": _RELEASE,
    "semantic_prune_pairs_scaled": _TAKE,
    "skew_key_diagnostics": _RELEASE,
    "training_corpus_pipeline_v3": _RELEASE,
    "training_corpus_pipeline_v4": _ONCE,
    "training_corpus_pipeline_v5": _ONCE,
    "training_corpus_pipeline_v6": _ONCE,
    "training_corpus_pipeline_v7": _RELEASE,
    "vacuum_apply_roundtrip": _WRITE,
    "vacuum_retention_plan": _WRITE,
    "video_phash_dedup": _ONCE,
    "video_shot_boundaries": _ONCE,
    "vocab_coverage_curve": _RELEASE,
    "winsorize_price_stats": _ONCE,
}


def test_plan_audit_all_batch_queries(batch_builds):
    """Audit what each batch query's one build left (``batch_builds``): the
    returned frame's plan plus every SQL execution the build started, read
    from Spark's status store (``plans/audit.StatusWindow``), so eager
    checkpoints, iterative loops and write round-trips are audited on the
    plans they really ran.

    - No CartesianProduct and no row-at-a-time Python (BatchEvalPython).
    - An Exchange SinglePartition must sit directly above a KEYLESS
      PARTIAL aggregate: the global-aggregate shape where one pre-combined
      row per partition crosses the exchange. Over anything else it is a
      funnel that dies at scale.
    - No loop-invariant expensive call inside a higher-order-function
      lambda (``find_loop_invariant_hof_calls``), read on the optimized
      logical plans, where CollapseProject has already inlined producers.
    - No Spark job while building, once every input schema is warm, unless
      the query is named in ``BUILD_JOBS`` with its reason; a named query
      whose build starts none fails too, so the map lists exactly the
      builds that still run jobs.

    The scalar-output rule reads the same builds
    (``test_registry.py::test_driver_window_schemas_are_scalar_only``)."""
    import re

    from adventureworkslakehousepoc_spark.plans.audit import find_loop_invariant_hof_calls

    assert set(BUILD_JOBS) <= set(batch_builds)
    failures = []
    for name, build in batch_builds.items():
        if build.jobs and name not in BUILD_JOBS:
            failures.append((name, f"{build.jobs} Spark jobs while building"))
        if not build.jobs and name in BUILD_JOBS:
            failures.append((name, "builds with no Spark job: drop it from BUILD_JOBS"))
        plan = build.physical
        if "CartesianProduct" in plan:
            failures.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            failures.append((name, "BatchEvalPython"))
        for hit in find_loop_invariant_hof_calls(build.logical + plan):
            failures.append((name, f"loop-invariant HOF call: {hit}"))
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            below = " ".join(lines[i + 1 : i + 2])
            # partial_ = plain keyless two-phase agg; merge_ = the distinct-
            # aggregate form (count_distinct): partial per-key dedup below,
            # keyless MERGE above — both cross the exchange with one
            # pre-combined row per partition, the shape this gate permits
            if not re.search(
                r"(Hash|Sort|Object.*)Aggregate\(keys?=\[\], functions=\[(partial_|merge_)",
                below,
            ):
                failures.append((name, f"SinglePartition over: {below.strip()[:90]}"))
    assert not failures, failures


def test_runtime_filter_plans_as_broadcast_semi_join(spark, sf_dir):
    """The hash-bucket runtime filter must prune the probe via a LEFT SEMI
    BroadcastHashJoin (no probe-side shuffle to apply the filter) and the
    composed query must still broadcast nothing bigger than the bucket set."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    plan = (
        qs["runtime_filter_join"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan


def test_loop_invariant_hof_gate_regression_fixture(spark, sf_dir):
    """The loop-invariant HOF detector must flag the exact broken shape
    SCALE.md round 11 documents (a computed producer inlined by
    CollapseProject into a per-element lambda — re-evaluated per element,
    O(len^2) per row) and must pass its let-bound fix. Both shapes are
    built live so the fixture tracks Catalyst's actual plan printing."""
    import os

    from adventureworkslakehousepoc_spark.plans.audit import (
        find_loop_invariant_hof_calls,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bad = docs.select(
        F.expr(
            "aggregate(sequence(1, size(split(text, ' '))), 0L,"
            " (acc, i) -> acc + length(element_at(split(text, ' '), i)))"
        ).alias("s")
    )
    bad_plan = bad._jdf.queryExecution().optimizedPlan().toString()
    assert find_loop_invariant_hof_calls(bad_plan), bad_plan

    good = docs.select(
        F.expr(
            "element_at(transform(array(split(text, ' ')), ws ->"
            " aggregate(sequence(1, size(ws)), 0L,"
            " (acc, i) -> acc + length(element_at(ws, i)))), 1)"
        ).alias("s")
    )
    good_plan = good._jdf.queryExecution().optimizedPlan().toString()
    assert not find_loop_invariant_hof_calls(good_plan), good_plan
