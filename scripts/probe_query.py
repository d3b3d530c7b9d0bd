#!/usr/bin/env python
"""Isolate and time registered queries with the noop sink (guide §1.4):
warm-up + min-of-N, inter-rep GC, per-query job descriptions, and the Spark
jobs each build started (status-store job ids before and after the builder
call: schema inference, eager checkpoints, streaming runs at build time).

Usage: python scripts/probe_query.py [-n N] <query> [<query> ...]
Prints per query: warm-up and rep seconds, and build_jobs=<warm-up>/<reps>.
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adventureworkslakehousepoc_spark.session import get_spark  # noqa: E402


def newest_job_id(spark) -> int:
    """Id of the newest job in the status store (-1 if none)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    jobs = sc.statusStore().jobsList(None)
    if jobs.size() == 0:
        return -1
    return max(jobs.apply(0).jobId(), jobs.apply(jobs.size() - 1).jobId())


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="awlh-probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    for name in args:
        def once() -> tuple[float, int]:
            t0 = time.perf_counter()
            j0 = newest_job_id(spark)
            df = queries[name](spark, sf_dir)
            build_jobs = newest_job_id(spark) - j0
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, build_jobs

        spark.sparkContext.setJobDescription(f"probe: {name}")
        warm, warm_jobs = once()
        reps, jobs = [], []
        for _ in range(n):
            s, j = once()
            reps.append(s)
            jobs.append(j)
            spark._jvm.System.gc()
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: warm={warm:.3f} min={min(reps):.3f} reps="
            + ",".join(f"{r:.3f}" for r in reps)
            + f" build_jobs={warm_jobs}/" + ",".join(map(str, jobs)),
            flush=True,
        )


if __name__ == "__main__":
    main()
