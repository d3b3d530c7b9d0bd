"""End-to-end and per-layer metrics of one run, from its calls, spans and
Spark stage counters."""

from __future__ import annotations

import bisect
import json
import os
import statistics
from collections import defaultdict

import pyarrow.parquet as pq

import gen
from spans import PHASES

MB = 1e6

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_mem_mb": "MB",
    "write_amplification": "ratio",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.registry_import_s": "s",
    "gen.s": "s",
    "input.rows": "count",
    "input.mb": "MB",
    "catalog.load_tables_s": "s",
    "catalog.load_tables_calls": "count",
    "build.s": "s",
    "build.spark_jobs": "count",
    "build.job_task_s": "s",
    "execute.s": "s",
    "execute.stages": "count",
    "execute.task_s": "s",
    "execute.cpu_busy_ratio": "ratio",
    "execute.shuffle_write_mb": "MB",
    "execute.shuffle_read_mb": "MB",
    "execute.shuffle_records": "count",
    "execute.spill_mb": "MB",
    "execute.gc_s": "s",
    "plans.registry.dataframe_s": "s",
    "plans.registry.run_s": "s",
    "write.files": "count",
    "write.mb": "MB",
    "write.rows": "count",
    "streaming.runner.stream_table_s": "s",
    "streaming.runner.run_available_now_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.commit_ms": "ms",
    "trace.self_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _m(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def _attribute(phases: list, rows: list[dict]) -> dict[int, list[dict]]:
    """Stage or job rows by the phase span whose wall interval holds their
    submission time (1 ms slack for the JVM's millisecond clock)."""
    phases = sorted(phases, key=lambda s: s.wall0)
    starts = [p.wall0 for p in phases]
    out: dict[int, list[dict]] = defaultdict(list)
    for r in rows:
        t = r["submitted_ms"] / 1000.0
        i = bisect.bisect_right(starts, t + 0.001) - 1
        if i >= 0 and t <= phases[i].wall1 + 0.001:
            out[phases[i].id].append(r)
    return out


def _nested(sp, by_id: dict) -> bool:
    """Whether a span sits inside another span of the same name (a registry
    dataset resolving its upstream datasets), whose time already covers it."""
    p = sp.parent
    while p is not None:
        if by_id[p].name == sp.name:
            return True
        p = by_id[p].parent
    return False


def _progress(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _warehouse(path: str) -> tuple[int, int, int]:
    files = nbytes = rows = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                p = os.path.join(root, n)
                files += 1
                nbytes += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return files, nbytes, rows


def _layers(bench, tracer, stages: list[dict], jobs: list[dict]) -> dict:
    """The pass's layer figures and the bytes it wrote."""
    wl = bench.workload
    spans = tracer.spans
    phases = [sp for sp in spans if sp.kind in PHASES]
    stages_by = _attribute(phases, stages)
    jobs_by = _attribute(phases, jobs)
    m = defaultdict(float)
    for sp in phases:
        st = stages_by[sp.id]
        task_s = sum(r["executorRunTime"] for r in st) / 1000.0
        m["written_bytes"] += sum(
            r["outputBytes"] + r["shuffleWriteBytes"] + r["diskBytesSpilled"] for r in st
        )
        if sp.kind == "build":
            m["build.s"] += sp.seconds
            m["build.spark_jobs"] += len(jobs_by[sp.id])
            m["build.job_task_s"] += task_s
        else:
            m["execute.s"] += sp.seconds
            m["execute.stages"] += len(st)
            m["execute.task_s"] += task_s
            m["execute.shuffle_write_mb"] += sum(r["shuffleWriteBytes"] for r in st) / MB
            m["execute.shuffle_read_mb"] += sum(r["shuffleReadBytes"] for r in st) / MB
            m["execute.shuffle_records"] += sum(r["shuffleWriteRecords"] for r in st)
            m["execute.spill_mb"] += sum(r["diskBytesSpilled"] for r in st) / MB
            m["execute.gc_s"] += sum(r["jvmGcTime"] for r in st) / 1000.0
    by_id = {sp.id: sp for sp in spans}
    for sp in spans:
        if sp.kind == "layer" and not _nested(sp, by_id):
            m[f"{sp.name}_s"] += sp.seconds
            if sp.name == "catalog.load_tables":
                m["catalog.load_tables_calls"] += 1
    for _span_id, query in tracer.streams:
        for p in _progress(query):
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p.get("numInputRows", 0)
            d = p.get("durationMs", {})
            m["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    rows, nbytes = gen.input_size(wl.data_dir, wl.inputs)
    m["input.rows"], m["input.mb"] = rows, nbytes / MB
    m["write_amplification"] = m["written_bytes"] / nbytes
    if m["execute.s"]:
        m["execute.cpu_busy_ratio"] = m["execute.task_s"] / (m["execute.s"] * bench.cores)
    if wl.warehouse:
        files, nbytes, rows = _warehouse(wl.warehouse)
        m["write.files"], m["write.mb"], m["write.rows"] = files, nbytes / MB, rows
    return m


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest percentile with at
    least ten samples beyond it; the maximum when that percentile would not
    lie above the median (fewer than 21 samples)."""
    s = sorted(samples)
    i = len(s) - 11 if len(s) > 20 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def end_to_end(bench, tracer, pass_s, stages, jobs, mem_mb) -> dict:
    layers = _layers(bench, tracer, stages, jobs)
    calls_s = [c.seconds for c in bench.calls]
    tail_s, pct, beyond = tail(calls_s)
    print(
        f"perfbench: {bench.workload.name}: {len(calls_s)} calls;"
        f" query_tail_s is p{pct:.1f} with {beyond} samples beyond"
    )
    print("perfbench: call seconds " + json.dumps({c.spec.name: round(c.seconds, 4) for c in bench.calls}))
    values = {
        "setup_s": sum(bench.setup_s),
        "pass_s": pass_s,
        "query_p50_s": statistics.median(calls_s),
        "query_tail_s": tail_s,
        "peak_mem_mb": mem_mb,
        "write_amplification": layers["write_amplification"],
    }
    return _m(values, END_TO_END_UNITS)


def per_layer(bench, tracer, pass_s, stages, jobs) -> dict:
    values = defaultdict(float, _layers(bench, tracer, stages, jobs))
    self_s = tracer.self_s
    values.update(
        {
            "session.get_spark_s": bench.setup_s[0],
            "queries.registry_import_s": bench.setup_s[1],
            "gen.s": bench.workload.gen_s,
            "trace.self_s": self_s,
            "trace.overhead_ratio": pass_s / (pass_s - self_s),
        }
    )
    return _m(values, PER_LAYER_UNITS)
