#!/usr/bin/env python3
"""Layered benchmark for the lakehouse engine.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

Run from the repository root. One process drives the engine on
``local[<cores>]`` as a closed loop with a single client: it generates the
workload's inputs from the seed, cold-starts the engine once, runs one
pass of the workload's calls, checks every call's output and prints one
JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones, and
the traced run also writes its spans to ``.perfbench_traces/``. See
``perfbench/README.md`` for what each metric means.

On 4 cores one pass takes 35-50 s, longer than the 10 s the benchmark is
run with, so a run measures exactly one pass whatever ``--seconds`` says.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

from metrics import end_to_end, per_layer
from spans import Tracer, spark_stages
from workloads import PACKAGE, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
# the driver heap limit: well above what a pass holds (peak_mem_mb stays free
# to grow), well below the engine's 32g default, which would let the young
# generation grow to many GB on a small machine
DRIVER_MEMORY = "4g"
MB = 1e6
# heap after a young, mixed or full collection in the JVM's GC log:
# "GC(7) Pause Young (Normal) (G1 Evacuation Pause) 812M->143M(1024M) 3.1ms".
# Remark and cleanup pauses collect no young objects, so their figure still
# holds whatever the young generation had filled.
GC_AFTER = re.compile(r"Pause (?:Young|Full).* \d+[BKMG]->(\d+)([BKMG])\(\d+[BKMG]\)")


class Call:
    def __init__(self, spec) -> None:
        self.spec = spec
        self.seconds = 0.0
        self.output = None
        self.error: str | None = None


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.cores = CORES
        self.workload = WORKLOADS[args.workload](args.seed, work)
        self.spark = None
        self.setup_s = (0.0, 0.0)  # (session start + first job, registry import)
        self.gc_log = os.path.join(work, "gc.log")
        self.calls: list[Call] = []

    # --- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Cold start: launch the JVM, start a session on it, run one job
        and import the query registry."""
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PACKAGE}.session")
        tmp = os.path.join(self.work, "tmp")
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cpus=CORES,
            shuffle_partitions=2 * CORES,
            driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Xlog:gc:file={self.gc_log}"
                ),
            },
        )
        self.spark.range(1).collect()
        t1 = time.perf_counter()
        entry = importlib.import_module("__spark_entry__")
        self.queries = entry.queries()
        self.setup_s = (t1 - t0, time.perf_counter() - t1)
        self.entry = entry

    # --- measured window --------------------------------------------------

    def run_call(self, tracer, call: Call) -> None:
        t = time.perf_counter()
        with tracer.span(call.spec.name, "call", oracle=call.spec.oracle):
            value = None
            try:
                for ph in call.spec.phases:
                    with tracer.span(f"{call.spec.name}.{ph.kind}", ph.kind, api=ph.api):
                        value = ph.fn(value)
                call.output = value
            except Exception as e:  # a failed call is counted, the pass goes on
                call.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        call.seconds = time.perf_counter() - t

    def measure(self, tracer) -> float:
        """Run one pass; returns its wall time."""
        steal0, t = host_steal_s(), time.perf_counter()
        with tracer.span("pass", "pass", data_dir=self.workload.data_dir):
            for spec in self.workload.calls(self.spark, self.queries):
                call = Call(spec)
                self.calls.append(call)
                self.run_call(tracer, call)
        pass_s = time.perf_counter() - t
        print(f"perfbench: host steal {host_steal_s() - steal0:.2f} CPU-s in the pass")
        return pass_s

    # --- run --------------------------------------------------------------

    def run(self) -> dict:
        self.workload.generate()
        try:
            self.setup()
            tracer = Tracer(self.spark, bool(self.args.trace))
            if self.args.trace:
                tracer.install_layer_spans(PACKAGE)
            oracles = self.entry.oracle_sql()
            pass_s = self.measure(tracer)
            mem = peak_mem_mb(self.spark, self.gc_log)
            stages, jobs = spark_stages(self.spark)
            t = time.perf_counter()
            self.check(oracles)
            print(
                f"perfbench: inputs generated in {self.workload.gen_s:.2f} s,"
                f" outputs checked in {time.perf_counter() - t:.2f} s"
            )
            if self.args.trace:
                out = os.path.join(ROOT, ".perfbench_traces")
                os.makedirs(out, exist_ok=True)
                name = f"{self.args.workload}-seed{self.args.seed}.json"
                tracer.write(os.path.join(out, name), stages, jobs)
                metrics = per_layer(self, tracer, pass_s, stages, jobs)
            else:
                metrics = end_to_end(self, tracer, pass_s, stages, jobs, mem)
        finally:
            if self.spark is not None:
                stop_spark(self.spark)
        failed = [c for c in self.calls if c.error]
        for c in failed:
            print(f"perfbench: {c.spec.name}: {c.error}", file=sys.stderr)
        return {
            "correct": not failed,
            "attempted": len(self.calls),
            "failed": len(failed),
            "metrics": metrics,
        }

    def check(self, oracles: dict) -> None:
        # imported here, not at the top: it imports engine modules, which
        # must first be imported inside the timed set-ups
        from checks import Checker

        checker = Checker(oracles, self.workload.data_dir)
        try:
            for c in self.calls:
                if c.error is None:
                    try:
                        c.error = checker.check(c.spec.oracle, c.output)
                    except Exception as e:
                        c.error = f"check raised {type(e).__name__}: {str(e)[:300]}"
                c.output = None
        finally:
            checker.close()


def host_steal_s() -> float:
    """CPU seconds, summed over this machine's CPUs since boot, in which a
    CPU had work but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_mem_mb(spark, gc_log: str) -> float:
    """Peak memory the program holds: the driver JVM's largest heap after a
    young, mixed or full collection (from its GC log) plus the peaks of its non-heap pools
    (metaspace, code cache), plus the peak resident memory of this Python
    process. Heap occupancy between collections is left out: it is however
    far the collector let the young generation fill, not what the program
    holds, and it varied by ±30% between runs."""
    with open(gc_log) as f:
        after = [_mb(*m.groups()) for line in f if (m := GC_AFTER.search(line))]
    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = factory.getMemoryPoolMXBeans()
    non_heap = sum(
        pools.get(i).getPeakUsage().getUsed()
        for i in range(pools.size())
        if pools.get(i).getType().name() == "NON_HEAP"
    )
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    mb = {
        "jvm_heap_after_gc": max(after, default=0.0),
        "jvm_non_heap": non_heap / MB,
        "python_rss": kb * 1024 / MB,
        "collections": len(after),
    }
    print(f"perfbench: peak memory MB {json.dumps(mb)}")
    return mb["jvm_heap_after_gc"] + mb["jvm_non_heap"] + mb["python_rss"]


def _mb(n: str, unit: str) -> float:
    return int(n) * {"B": 1, "K": 2**10, "M": 2**20, "G": 2**30}[unit] / MB


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, PACKAGE)
    ):
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2

    # everything the run writes stays under the repository root
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["AWLH_STREAM_TMP"] = os.path.join(work, "stream")
    # every JVM, the spark-submit launcher included, would otherwise write
    # its perf counters under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
