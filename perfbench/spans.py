"""Spans around the benchmark's calls into the engine, and the Spark stage
counters attributed to them.

Every run records spans (pass → call → build / execute / write / stream,
plus layer spans inside them); that is plain Python bookkeeping. A traced
run (``enabled``) also tags each phase with a Spark job group and wraps
the engine's catalog, plan-registry and streaming entry points in layer
spans. The time spent tagging is kept as ``self_s`` so the tracing
overhead can be stated.

Stage counters come from Spark's status store after the measured window.
A stage belongs to the phase span whose wall-clock interval contains the
stage's submission time: calls run one after another from one thread, so
this also catches jobs Spark submits under its own job group (broadcast
exchanges, streaming micro-batches).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PHASES = ("build", "execute", "write", "stream")

# engine entry points wrapped in layer spans during a traced run: (module,
# function or Class.method, span name)
LAYER_TARGETS = (
    ("catalog", "load_tables", "catalog.load_tables"),
    ("plans.registry", "PipelineContext.dataframe", "plans.registry.dataframe"),
    ("plans.registry", "PipelineContext.run", "plans.registry.run"),
    ("streaming.runner", "stream_table", "streaming.runner.stream_table"),
    ("streaming.runner", "run_available_now", "streaming.runner.run_available_now"),
)

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "diskBytesSpilled",
    "outputBytes",
    "outputRecords",
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    wall0: float = 0.0
    wall1: float = 0.0
    t0: float = 0.0
    t1: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.self_s = 0.0
        self.streams: list[tuple[int, object]] = []  # (span id, StreamingQuery)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        sp = Span(
            len(self.spans), self._stack[-1].id if self._stack else None, name, kind,
            attrs=attrs,
        )
        self.spans.append(sp)
        if self.enabled and kind in PHASES:
            t = time.perf_counter()
            sp.group = f"perfbench-{sp.id}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
            self.self_s += time.perf_counter() - t
        self._stack.append(sp)
        sp.wall0, sp.t0 = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1, sp.wall1 = time.perf_counter(), time.time()
            self._stack.pop()

    def install_layer_spans(self, package: str) -> None:
        """Replace the engine's layer entry points with span-recording
        wrappers: a method on its class, a function in every loaded engine
        module that bound it."""
        for mod_suffix, target, span_name in LAYER_TARGETS:
            home = sys.modules[f"{package}.{mod_suffix}"]
            cls, _, attr = target.rpartition(".")
            if cls:
                owner = getattr(home, cls)
                setattr(owner, attr, self._wrap(span_name, getattr(owner, attr)))
                continue
            orig = getattr(home, attr)
            wrapped = self._wrap(span_name, orig)
            for name, mod in list(sys.modules.items()):
                if name.startswith(package) and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)

    def _wrap(self, span_name: str, fn):
        tracer = self
        sig = inspect.signature(fn)
        takes_on_start = "on_start" in sig.parameters

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name, "layer") as sp:
                if takes_on_start:
                    bound = sig.bind(*args, **kwargs)
                    user_hook = bound.arguments.get("on_start")

                    def hook(query):
                        tracer.streams.append((sp.id, query))
                        if user_hook is not None:
                            user_hook(query)

                    bound.arguments["on_start"] = hook
                    return fn(*bound.args, **bound.kwargs)
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        out = {sp.id: sp.seconds for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent] -= sp.seconds
        return out

    def write(self, path: str, stages: list[dict], jobs: list[dict]) -> None:
        self_t = self.self_times()
        spans = []
        for sp in self.spans:
            d = asdict(sp)
            d["seconds"] = sp.seconds
            d["self_s"] = self_t[sp.id]
            spans.append(d)
        with open(path, "w") as f:
            json.dump({"spans": spans, "stages": stages, "jobs": jobs}, f)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def spark_stages(spark) -> tuple[list[dict], list[dict]]:
    """Every job and every executed stage attempt in the status store."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty(30_000)
    store = jvm_sc.statusStore()
    seq = store.jobsList(None)
    jobs, stage_ids = [], set()
    for i in range(seq.size()):
        j = seq.apply(i)
        ids = j.stageIds()
        sids = [ids.apply(k) for k in range(ids.size())]
        stage_ids.update(sids)
        group = j.jobGroup()
        jobs.append(
            {
                "job_id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "submitted_ms": _opt_ms(j.submissionTime()),
                "stage_ids": sids,
            }
        )
    stages = []
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        submitted = _opt_ms(s.submissionTime())
        if submitted is None:  # skipped: its work ran under an earlier job
            continue
        row = {"stage_id": sid, "submitted_ms": submitted, "tasks": s.numTasks()}
        for name in STAGE_FIELDS:
            row[name] = getattr(s, name)()
        stages.append(row)
    return stages, jobs
