#!/usr/bin/env python
"""Physical-plan audit report: for every headline (and selected extra)
query, count the plan features that matter at 100 TB — exchanges, join
strategies, whole-stage-codegen spans, scan-level pushed filters — and
write PLANS.md. The narrative companion to tests/test_physical.py's hard
assertions: the test gate fails on anti-patterns, this report shows the
shapes a reviewer would otherwise pull out of `.explain("formatted")` by
hand.

Usage: python scripts/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adventureworkslakehousepoc_spark.session import get_spark  # noqa: E402

FEATURES = {
    "exchanges": r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobin)",
    "single_part": r"Exchange SinglePartition",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "pushed": r"PushedFilters: \[[^\]]",
    "top_k": r"TakeOrderedAndProject",
    "py_arrow": r"(MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython)",
    "py_row": r"BatchEvalPython",
    "cartesian": r"CartesianProduct",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        app_name="plan-report", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    import bench
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = [n for n in bench.BENCH_QUERIES if n in qs and not n.startswith("st_")]
    names += [
        n
        for n in bench.EXTRA_QUERIES
        if n in qs
        and not n.startswith("st_")
        # iterative builders execute Spark jobs during plan CONSTRUCTION —
        # their loop structure is documented in SCALE.md instead
        and n
        not in {
            "bpe_merge_induction",
            "bpe_apply_encode",
            "semantic_cluster_assign",
            "semantic_dedup_reps",
            "semantic_prune_pairs",
            "semantic_prune_pairs_scaled",
            "training_corpus_pipeline_v3",
            "pagerank_dup_graph",
            "dedup_clusters",
        }
    ]
    from adventureworkslakehousepoc_spark.plans.audit import StatusWindow, extended_plans

    rows = []
    with extended_plans(spark):
        for name in names:
            try:
                window = StatusWindow(spark)
                df = qs[name](spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
                runs = window.executions()
            except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                rows.append((name, f"ERROR: {e}"))
                continue
            plan += "".join(e.physical for e in runs)
            counts = {k: len(re.findall(rx, plan)) for k, rx in FEATURES.items()}
            counts["runs"] = len(runs)
            rows.append((name, counts))

    out = [
        "# PLANS — physical-plan audit (generated by scripts/plan_report.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Counts from the pre-execution physical",
        "plan (AQE may further coalesce at runtime). Hard anti-pattern gates",
        "(CartesianProduct, BatchEvalPython, unjustified SinglePartition) live",
        "in `tests/test_physical.py::test_plan_audit_all_batch_queries`;",
        "iterative builders (BPE, k-means, PageRank, CC) are audited there too",
        "but excluded here because constructing them runs their loops.",
        "",
        "Operators that materialize while the query is built (eager",
        "checkpoints, iterative loops, write round-trips) run their real",
        "plans then. Each row adds the plans of every SQL execution its build",
        "started, read from Spark's status store (`plans/audit.StatusWindow`)",
        "— the `runs` column counts them, so an all-zero row with runs=0 is a",
        "genuinely narrow scan-side plan, not a blind spot.",
        "",
        "| query | exchanges | 1-part | BHJ | SMJ | pushed filters | top-k | arrow | row-py | cartesian | runs |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        if isinstance(c, str):
            out.append(f"| {name} | {c} |" + " |" * 9)
            continue
        out.append(
            f"| {name} | {c['exchanges']} | {c['single_part']} | {c['bhj']} | "
            f"{c['smj']} | {'yes' if c['pushed'] else '—'} | "
            f"{c['top_k']} | {c['py_arrow']} | {c['py_row']} | {c['cartesian']} | "
            f"{c['runs']} |"
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
