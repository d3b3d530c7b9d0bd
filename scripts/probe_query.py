#!/usr/bin/env python
"""Isolate and time registered queries with the noop sink (guide §1.4):
warm-up + min-of-N, inter-rep GC, per-query job descriptions, the Spark
jobs each build started (schema inference, eager checkpoints, streaming
runs at build time), the shuffle bytes written by the stages each build
and execute ran (both read through ``plans/audit.StatusWindow``), and
the memory plus disk the persisted RDDs hold after each call (operator
caches, local checkpoints).

Usage: python scripts/probe_query.py [-n N] <query> [<query> ...]
Prints per query: warm-up and rep seconds, build_jobs=<warm-up>/<reps>,
shuffle_mb=<warm-up>/<reps> and cached_mb=<warm-up>/<reps>.
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adventureworkslakehousepoc_spark.plans.audit import StatusWindow  # noqa: E402
from adventureworkslakehousepoc_spark.session import get_spark  # noqa: E402


def cached_mb(spark) -> float:
    """Memory plus disk MB held by the persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


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
        def once() -> tuple[float, int, float, float]:
            t0 = time.perf_counter()
            window = StatusWindow(spark)
            df = queries[name](spark, sf_dir)
            build_jobs = len(window.jobs())
            df.write.format("noop").mode("overwrite").save()
            mb = sum(s.shuffleWriteBytes() for s in window.stages()) / 1e6
            return time.perf_counter() - t0, build_jobs, mb, cached_mb(spark)

        spark.sparkContext.setJobDescription(f"probe: {name}")
        warm, warm_jobs, warm_mb, warm_cached = once()
        reps, jobs, mbs, cached = [], [], [], []
        for _ in range(n):
            s, j, mb, c = once()
            reps.append(s)
            jobs.append(j)
            mbs.append(mb)
            cached.append(c)
            spark._jvm.System.gc()
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: warm={warm:.3f} min={min(reps):.3f} reps="
            + ",".join(f"{r:.3f}" for r in reps)
            + f" build_jobs={warm_jobs}/" + ",".join(map(str, jobs))
            + f" shuffle_mb={warm_mb:.3f}/" + ",".join(f"{m:.3f}" for m in mbs)
            + f" cached_mb={warm_cached:.3f}/" + ",".join(f"{c:.3f}" for c in cached),
            flush=True,
        )


if __name__ == "__main__":
    main()
