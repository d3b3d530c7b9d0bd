#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with the no-op sink (full distributed
execution, zero driver collect). Timing is steady-state: one untimed warm-up
execution (JVM JIT + whole-stage-codegen compilation — pure constant overhead
that amortizes to zero at production scale) followed by min-of-N timed runs
(N=3 headline, N=2 extras) — single-run timing is noise-sensitive; untouched
queries drifted ±15-25% across r5/r6 sessions on identical code (SCALE.md).
Set AWLH_BENCH_COLD=1 to time first executions instead.

A CODE-FROZEN sentinel query (inline SQL below — never edit it) is timed
before the headline set and again after the extras; its drift against the
pinned quiet-machine baseline calibrates ambient machine state, and the
output reports both the raw headline total and a sentinel-normalized one so
round-over-round deltas are attributable to code, not the machine.

Sentinel noise floor: the first sentinel is itself a ~0.4 s query, so
normalizing on it alone carried ~±10% run-to-run variance even on unchanged
code (r7 close 18.58 s vs r8 driver 21.08 s on identical headline code).
Round 9 adds a second FROZEN sentinel (~1.4 s join+agg); normalization now
divides by the duration-weighted combined drift of both, so the heavier,
steadier measurement dominates. Residual noise is a few percent — treat
normalized deltas inside ~±5% as noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from adventureworkslakehousepoc_spark.session import get_spark  # noqa: E402

# the short final line's byte budget, well under the ~4 KB tail truncation
SHORT_LINE_MAX_BYTES = 2048

BENCH_QUERIES = [
    "flagship_revenue_by_month_segment",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume_by_nation",
    "dim_customer",
    "fact_sales",
    "fact_weather",
    "a2_pivot_explicit_values",
    "j3_interval_join_symmetric",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_pandas_udf_scores",
    "text_quality_scores",
    "text_fingerprints",
    "asof_join_latest_click",
    "sessionization_batch",
    "time_bucket_rollup",
    "q7_volume_between_nations",
    "dedup_clusters",
    "st_windowed_agg",
    "q8_market_share",
    "q13_customer_distribution",
    "q21_sole_late_supplier",
    "training_corpus_pipeline",
]

# Round-2 operator additions, reported under "extra_queries" (not in `value`)
EXTRA_QUERIES = [
    "text_boilerplate_flags",
    "text_unigram_lm_score",
    "fuzzy_part_names",
    "knn_join_exact",
    "pack_training_sequences",
    "ann_pq_adc_topk",
    "training_corpus_pipeline_v2",
    "tokenize_encode_ids",
    "sft_transcript_assembly",
    "contrastive_negative_pairs",
    "embedding_norm_histogram",
    "curriculum_length_buckets",
    "runtime_filter_join",
    "dedup_incremental_batch",
    "mixture_resample_sources",
    "dq_expectations_orders",
    "dedup_span_exact",
    "tfidf_top_terms",
    "global_shuffle_buckets",
    "w4_rolling_range_frame",
    "unpivot_source_metrics",
    "j6_skew_salted_join",
    "grouped_map_label_centroids",
    # round-4 additions
    "semantic_cluster_assign",
    "semantic_dedup_reps",
    # semantic_prune_pairs: EXCLUDED — quadratic-by-design comparison
    # baseline for semantic_prune_pairs_scaled (the production form, timed
    # below); it stays registered + driver-verified but is not benched so
    # every benched row is scale-credible.
    "doc_chunking_overlap",
    "mixture_token_budget_plan",
    "ngram_continuation_topk",
    "train_eval_split_counts",
    "zorder_key_orders",
    "st_corpus_ingest_gate",
    "training_corpus_pipeline_v3",
    "multimodal_frame_sample",
    "source_drift_kl",
    "gold_sales_wide",
    "incremental_agg_merge",
    "weak_label_votes",
    "embedding_int8_quantize",
    "funnel_conversion_stages",
    "cohort_retention_matrix",
    "collocation_pmi_topk",
    # round-5 additions
    "semantic_prune_pairs_scaled",
    "reward_group_normalize",
    "dpo_pair_mining",
    "char_entropy_quality",
    "mad_outlier_flags",
    "agg_percentiles_approx",
    "approx_distinct_sketch",
    "bpe_merge_induction",
    "dedup_span_rewrite",
    "k_anonymity_audit",
    "time_decay_user_scores",
    "dsir_importance_weights",
    "bigram_lm_scores",
    "weighted_systematic_sample",
    "entity_resolution_parts",
    "pagerank_dup_graph",
    "bpe_apply_encode",
    "training_corpus_pipeline_v4",
    "dim_date_generated",
    "contribution_share_by_region",
    "psi_value_drift",
    "dedup_prefix_filter_jaccard",
    "exact_quantiles_distributed",
    "scd2_point_in_time_join",
    "market_basket_lift",
    "anomaly_daily_zscore",
    "w5_ntile_percent_rank",
    "pareto_frontier_parts",
    "graph_triangle_counts",
    "spatial_grid_neighbors",
    "cdf_snapshot_diff",
    "vocab_coverage_curve",
    "incremental_minhash_index",
    "asof_join_forward_next_purchase",
    "referential_integrity_audit",
    "decontaminate_embedding_cosine",
    "dedup_containment_pairs",
    "dedup_containment_exact",
    "skew_key_diagnostics",
    "st_incremental_gold_merge",
    "winsorize_price_stats",
    "impute_group_mean_values",
    "attribution_linear_credit",
    "ngram_topp_nucleus",
    "forecast_seasonal_naive_eval",
    "changepoint_cusum_daily",
    "reconcile_sink_buckets",
    "markov_event_transitions",
    "zipf_fit_tokens",
    "quantile_normalize_doclen",
    "session_path_topk",
    "s10_jsonl_explicit_schema",
    "s11_orc_roundtrip",
    "corpus_datasheet",
    # round-7 additions
    "bm25_doc_relevance",
    "text_gopher_rules",
    "lsh_band_selectivity",
    "minhash_estimate_error",
    "ccnet_perplexity_buckets",
    "cross_source_overlap",
    "doc_novelty_rates",
    "training_corpus_pipeline_v5",
    # round-8 additions
    "bt_preference_strengths",
    "reward_length_debias",
    "dpo_pairs_debiased",
    "labeler_agreement_kappa",
    "dedup_soft_weights",
    "tokenizer_fertility_by_lang",
    "unimax_language_budget",
    "training_corpus_pipeline_v6",
    "bt_winrate_calibration",
    "mmr_diverse_topk",
    "temperature_sampling_weights",
    "hybrid_rrf_retrieval",
    "cms_heavy_hitters",
    "logistic_quality_probe",
    "kneser_ney_bigram_scores",
    # round-9 additions
    "ann_recall_calibration",
    "multimodal_ppm_decode",
    "probe_calibration_ece",
    "embedding_pca_power",
    "dawid_skene_labelers",
    "doremi_domain_weights",
    "probe_conformal_gate",
    "hll_distinct_tokens",
    "st_hll_sketch_maintenance",
    "rho_loss_selection",
    "kmv_source_overlap",
    "histogram_quantile_sketch",
    # round-10 additions
    "dedup_substring_coverage",
    "url_canonical_dedup",
    "ivf_incremental_update",
    "bloom_decontaminate",
    "st_bloom_filter_maintenance",
    "split_leakage_audit",
    "st_ivf_incremental_maintenance",
    "dedup_substring_rewrite",
    "bitext_margin_mining",
    "training_corpus_pipeline_v7",
    "cluster_safe_split",
    "multimodal_wav_decode",
    "multimodal_y4m_decode",
    "image_ahash_dedup",
    "multimodal_corpus_datasheet",
    # round-11 operators
    "langid_ngram_profile",
    "image_phash_dedup",
    "crossmodal_pair_audit",
    # round-12 operators
    "audio_fingerprint_dedup",
    "video_phash_dedup",
    "file_skipping_audit",
    "compaction_bin_plan",
    "dataset_fingerprint_manifest",
    "snapshot_full_outer_reconcile",
    "dp_noisy_group_counts",
    "weighted_reservoir_sample",
    "kaplan_meier_churn",
    "cuped_adjusted_lift",
    "embedding_dim_ablation",
    "video_shot_boundaries",
    "srm_assignment_check",
    "sentence_dedup_ccnet",
    "st_fingerprint_maintenance",
    # round-13 additions
    "expectations_gate_drop",
    "expectations_violation_counters",
    "sequential_ab_msprt",
    "vacuum_retention_plan",
    "expectations_quarantine_split",
    "st_expectations_gate",
    "dp_clipped_noisy_sums",
    # round-14 additions
    "expectations_unique_key",
    "expectations_referential",
    "expectations_aggregate_counters",
    "vacuum_apply_roundtrip",
    "st_expectations_counters",
    "cdf_schema_evolution_read",
    "expectations_quarantine_replay",
]

# Heavy extras get min-of-3 (not 2): these are the rows where min-of-2 still
# let ±2 s of ambient noise through round-over-round (e.g. the r8 driver's
# 6.9 s dedup_containment_exact vs the builder's min-of-3 4.6 s on identical
# code). Everything else stays min-of-2 — spike protection is enough there.
HEAVY_EXTRAS = {
    "dedup_containment_exact",
    "dedup_containment_pairs",
    "dedup_prefix_filter_jaccard",
    "minhash_estimate_error",
    "incremental_minhash_index",
    "ccnet_perplexity_buckets",
}


# --- ambient-drift sentinel (FROZEN — do not edit the SQL or the baseline
# procedure). A minimal scan+group aggregate over lineitem, read directly
# from parquet (no engine code in the loop, so engine changes can never move
# it): its only variable is machine state. SENTINEL_BASELINE_SEC is the
# min-of-3 steady-state time measured once on a quiet machine at sf0.1,
# local[32] — re-pin it ONLY if the hardware or testdata generation changes,
# and note the re-pin in SCALE.md.
_SENTINEL_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_lines
    FROM _sentinel_lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""
# RE-PINNED 2026-08-16 (round 12, verdict r11 task 8): drift had read
# one-sided >= 1.1x for three rounds; a min-of-5 steady-state measurement
# on the current machine showed the skew was in the PINS, not the machine
# (sentinel1 ran FASTER than its r7 pin, sentinel2 slower than its r9
# pin). Old pins r7: {"0.1": 0.41, "0.01": 0.13}; same-day same-machine
# measurement under the old pins read drift s1 0.89 / s2 1.13 — use those
# factors to convert pre-r12 normalized numbers to the new-pin series.
SENTINEL_BASELINE_SEC = {"0.1": 0.37, "0.01": 0.13}

# --- second, heavier frozen sentinel (round 9, VERDICT r8 item 7): the
# first sentinel is a ~0.4 s scan+agg, which puts a ~±10% noise floor on
# the normalized headline. This one is a shuffle join + aggregate over
# lineitem×orders (~5× the work) so the combined, duration-weighted drift
# estimate is dominated by the steadier, longer measurement. Same contract:
# plain SQL on raw parquet views, no engine code in the loop, FROZEN.
_SENTINEL2_SQL = """
    SELECT c.c_mktsegment, o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(DISTINCT l.l_orderkey) AS n_orders
    FROM _sentinel_lineitem l
    JOIN _sentinel_orders o ON l.l_orderkey = o.o_orderkey
    JOIN _sentinel_customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_shipdate > DATE '1995-03-15'
    GROUP BY c.c_mktsegment, o.o_orderpriority
"""
# RE-PINNED 2026-08-16 (round 12) — min-of-5 steady state, quiet machine
# (sf0.1: local[32]; sf0.01: local[8] — the CLI verification config).
# Old pins r9: {"0.1": 1.28, "0.01": 0.31}; see the sentinel-1 comment for
# the old->new conversion factors.
SENTINEL2_BASELINE_SEC = {"0.1": 1.45, "0.01": 0.34}


def _time_sentinel(spark, sf_dir: str) -> float:
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).createOrReplaceTempView(
        "_sentinel_lineitem"
    )

    def once() -> float:
        t0 = time.perf_counter()
        spark.sql(_SENTINEL_SQL).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()  # warm-up
    return round(min(once() for _ in range(3)), 4)


def _time_sentinel2(spark, sf_dir: str) -> float:
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).createOrReplaceTempView(
        "_sentinel_lineitem"
    )
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).createOrReplaceTempView(
        "_sentinel_orders"
    )
    spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).createOrReplaceTempView(
        "_sentinel_customer"
    )

    def once() -> float:
        t0 = time.perf_counter()
        spark.sql(_SENTINEL2_SQL).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()  # warm-up
    return round(min(once() for _ in range(3)), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(
        app_name="awlh-bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    names = [n for n in BENCH_QUERIES if n in queries]
    extra = os.environ.get("AWLH_BENCH_EXTRA")
    if extra:
        names += [n for n in extra.split(",") if n in queries and n not in names]
    cold = os.environ.get("AWLH_BENCH_COLD") == "1"

    # warm the JVM/codegen path once on a trivial plan
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def execute(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _sentinel_once() -> float:
        # one instantaneous light-sentinel run (warm — _time_sentinel's
        # warm-up already ran); single runs are noisy alone but the inline
        # MEAN over the headline window is the drift where it matters
        t0 = time.perf_counter()
        spark.sql(_SENTINEL_SQL).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def timed_set(
        q_names: list[str],
        reps: int,
        inline_samples: list[float] | None = None,
        inline_every: int = 5,
    ) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, name in enumerate(q_names):
            n = max(reps, 3) if name in HEAVY_EXTRAS else reps
            if cold:
                out[name] = round(execute(name), 4)
            else:
                execute(name)  # warm-up: JIT + codegen compile, untimed
                # min of N timed runs — single-run timing is ambient-noise
                # dominated (±15-25% drift measured across rounds, SCALE.md).
                # r14: GC between reps of HEAVY runs, not just between
                # queries — Spark's ContextCleaner frees shuffle/checkpoint
                # blocks only on a driver GC, so a >2 s query's reps degrade
                # under their own garbage (measured: 29/13/68/68 s
                # back-to-back vs 22/7/8/5 with inter-rep GC on
                # minhash_estimate_error at sf0.1). The GC runs OUTSIDE the
                # timed window.
                reps_s = []
                for rep in range(n):
                    t = execute(name)
                    reps_s.append(t)
                    if t > 2.0 and rep < n - 1:
                        spark._jvm.System.gc()
                out[name] = round(min(reps_s), 4)
            spark._jvm.System.gc()
            # r14: sample ambient drift INSIDE the headline window — the
            # before/after pair missed mid-run contention changes entirely
            # (r13: two normalizations of identical code read 40% apart)
            if inline_samples is not None and (i + 1) % inline_every == 0:
                inline_samples.append(round(_sentinel_once(), 4))
        return out

    sentinel_before = _time_sentinel(spark, sf_dir)
    sentinel2_before = _time_sentinel2(spark, sf_dir)
    inline_samples: list[float] = []
    timings = timed_set(names, reps=3, inline_samples=inline_samples)
    total = round(sum(timings.values()), 4)
    # round-2 additions timed SEPARATELY so `value` stays the fixed r01 list —
    # round-over-round totals remain apples-to-apples. min-of-2 (not 3): 96
    # rows at a run apiece — the headline is the comparison currency, the
    # extras just need spike protection.
    # AWLH_BENCH_HEADLINE_ONLY=1 skips the (175-row, ~30 min) extras sweep —
    # for the quiet-machine N-of-3 headline re-baselines the series
    # bookkeeping calls for (SCALE.md); the driver's full run always times
    # both sets.
    if os.environ.get("AWLH_BENCH_HEADLINE_ONLY") == "1":
        extra_timings: dict[str, float] = {}
    else:
        extra_timings = timed_set(
            [n for n in EXTRA_QUERIES if n in queries], reps=2
        )
    extra_total = round(sum(extra_timings.values()), 4)
    sentinel_after = _time_sentinel(spark, sf_dir)
    sentinel2_after = _time_sentinel2(spark, sf_dir)
    sentinel_mean = round((sentinel_before + sentinel_after) / 2, 4)
    sentinel2_mean = round((sentinel2_before + sentinel2_after) / 2, 4)
    baseline = SENTINEL_BASELINE_SEC.get(str(sf_val))
    baseline2 = SENTINEL2_BASELINE_SEC.get(str(sf_val))
    # r14: the light sentinel's HEADLINE-window estimate prefers the inline
    # samples (drift measured where the headline ran) over the before/after
    # pair (which brackets the window but misses mid-run contention)
    inline_mean = (
        round(sum(inline_samples) / len(inline_samples), 4)
        if inline_samples
        else None
    )
    s1_for_norm = inline_mean if inline_mean else sentinel_mean
    # duration-weighted combined drift: the heavier sentinel dominates the
    # estimate, shrinking the normalization noise floor (bench header note)
    if baseline and baseline2 and s1_for_norm > 0 and sentinel2_mean > 0:
        drift = (s1_for_norm + sentinel2_mean) / (baseline + baseline2)
        normalized = round(total / drift, 4)
    elif baseline and s1_for_norm > 0:
        drift = s1_for_norm / baseline
        normalized = round(total / drift, 4)
    else:
        normalized = None
    sentinel = {
        "before": sentinel_before,
        "after": sentinel_after,
        "baseline": baseline,
        "drift_ratio": round(sentinel_mean / baseline, 4) if baseline else None,
        "inline_samples": inline_samples,
        "inline_mean": inline_mean,
        "inline_drift_ratio": (
            round(inline_mean / baseline, 4) if baseline and inline_mean else None
        ),
    }
    sentinel2 = {
        "before": sentinel2_before,
        "after": sentinel2_after,
        "baseline": baseline2,
        "drift_ratio": round(sentinel2_mean / baseline2, 4) if baseline2 else None,
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "extra_queries": extra_timings,
                "extra_total_seconds": extra_total,
                "sentinel": sentinel,
                "sentinel2": sentinel2,
                "value_sentinel_normalized": normalized,
            }
        )
    )
    # Tiny trailing summary: the driver's tail capture truncated the (now
    # ~4 KB) full-result line in rounds 4 AND 5 (`parsed: null` in
    # BENCH_r0{4,5}.json), losing the headline number. This short final line
    # survives tail truncation even when the big line doesn't.
    #
    # r16: the driver parses THIS line, so omitting the per-query map here
    # left PERF per_query/geomean/scaling empty for two rounds (r15 verdict
    # item 2). The 26-entry headline map is ~800 B rounded — well under the
    # ~4 KB truncation that motivated the short line — so it rides along;
    # the 177-entry extras map stays on the full line above only.
    short = {
        "metric": "headline_queries_total_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(timings),
        "n_extra": len(extra_timings),
        "extra_total_seconds": extra_total,
        "sentinel": sentinel,
        "sentinel2": sentinel2,
        "value_sentinel_normalized": normalized,
    }
    line = json.dumps(short)
    # size guard: a growing headline set must not push this line back into
    # the truncation range; the full-precision map is on the line above
    if len(line) > SHORT_LINE_MAX_BYTES:
        short["queries"] = {name: round(s, 2) for name, s in timings.items()}
        line = json.dumps(short)
    print(line)


if __name__ == "__main__":
    main()
