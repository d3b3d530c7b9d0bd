"""Plan audit: what Spark ran, read from its own status stores, and the
loop-invariant higher-order-function detector.

``StatusWindow`` marks the newest job id and the newest SQL execution id
when it opens and later returns the jobs and SQL executions started since
that mark, each execution with the plan description Spark recorded for it
(``physicalPlanDescription``). It is the one reader of the status stores
for the plan audit (``tests/test_physical.py``), ``scripts/plan_report.py``
and ``scripts/probe_query.py``: an operator that materializes at build
time (``localCheckpoint(eager=True)``, an iterative loop, a write
round-trip) leaves its real plans there, so the audit sees them without
any hook in the operators. A consumer of a cached frame needs none either:
its executed plan prints ``InMemoryTableScan`` over the ``InMemoryRelation``
and the cached plan.

Spark records each description in ``spark.sql.ui.explainMode``; a caller
that audits plans holds it at ``extended`` (``extended_plans``), so every
description carries the optimized logical plan the HOF detector reads and
the same physical ``toString`` an ``executedPlan()`` gives. The engine's
own sessions keep Spark's default.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from itertools import takewhile
from typing import NamedTuple

from pyspark.sql import SparkSession

_SECTION = re.compile(r"^== (.+) ==$", re.M)
_INITIAL_PLAN = re.compile(r"^\+- == Initial Plan ==$", re.M)


def _items(seq):
    """A Scala ``Seq``'s items, one py4j call each, lazily."""
    return (seq.apply(i) for i in range(seq.size()))


class Execution(NamedTuple):
    """One SQL execution: its id and the plan description Spark recorded."""

    id: int
    description: str

    def section(self, name: str) -> str:
        """The text under the description's ``== <name> ==`` header (for
        example ``Optimized Logical Plan``), '' if there is none."""
        parts = _SECTION.split(self.description)
        return dict(zip(parts[1::2], parts[2::2])).get(name, "")

    @property
    def physical(self) -> str:
        """The physical plan that ran. An adaptive plan that has run prints
        its final plan, then (at the margin) its initial plan, left out."""
        return _INITIAL_PLAN.split(self.section("Physical Plan"))[0]


@contextmanager
def extended_plans(spark: SparkSession):
    """Record every SQL execution started inside the block with its
    optimized logical and physical plans (``extended`` explain mode)."""
    key = "spark.sql.ui.explainMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "extended")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


class StatusWindow:
    """The Spark jobs and SQL executions started since the window opened.

    Keyed on ids, never on list positions: the stores keep only the newest
    1000 jobs and executions, so a position shifts as old entries go. Each
    read drains the listener bus first, then walks the store newest-first
    and stops at the mark, so it costs a few py4j calls per entry started
    in the window, however long the session has run."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._bus, self._jobs = sc.listenerBus(), sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._opened_ms = int(time.time() * 1000)
        self._job_mark = self._execution_mark = -1
        job, run = next(self._newest_jobs(), None), next(self._newest_executions(), None)
        self._job_mark = job.jobId() if job else -1
        self._execution_mark = run.executionId() if run else -1

    def _newest_jobs(self):
        self._bus.waitUntilEmpty(30_000)
        jobs = _items(self._jobs.jobsList(None))  # the store lists newest first
        return takewhile(lambda j: j.jobId() > self._job_mark, jobs)

    def _newest_executions(self):
        self._bus.waitUntilEmpty(30_000)
        execs = _items(self._sql.executionsList().reverse())  # listed oldest first
        return takewhile(lambda e: e.executionId() > self._execution_mark, execs)

    def jobs(self) -> list:
        """The started jobs (JVM ``JobData``), oldest first."""
        return list(self._newest_jobs())[::-1]

    def executions(self) -> list[Execution]:
        """The started SQL executions, oldest first."""
        runs = self._newest_executions()
        return [Execution(e.executionId(), e.physicalPlanDescription()) for e in runs][::-1]

    def stages(self) -> list:
        """The last attempts (JVM ``StageData``) of the stages the started
        jobs ran in the window. A stage a job lists but skipped, because an
        earlier job had already written its shuffle, ran before the window
        opened and is left out."""
        ids = sorted({sid for job in self.jobs() for sid in _items(job.stageIds())})
        stages = (self._jobs.lastStageAttempt(sid) for sid in ids)
        return [
            s
            for s in stages
            if s.submissionTime().isDefined() and s.submissionTime().get().getTime() >= self._opened_ms
        ]

    def node_metric(self, execution_id: int, node: str, metric: str) -> int:
        """Sum of ``metric`` over the execution's plan-graph nodes whose name
        starts with ``node``, as its own tasks reported it. The graph also
        lists the plan that filled each cache the execution reads, whose
        metrics this execution never updates."""
        values = self._sql.executionMetrics(execution_id)
        accumulators = [
            m.accumulatorId()
            for n in _items(self._sql.planGraph(execution_id).allNodes())
            if n.name().startswith(node)
            for m in _items(n.metrics())
            if m.name() == metric
        ]
        return sum(int(values.get(a).get()) for a in accumulators if values.get(a).isDefined())


# ---------------------------------------------------------------------------
# Loop-invariant HOF audit (round-11 lesson, round-12 gate). Catalyst's
# CollapseProject inlines an adjacent projection's computed column into
# every reference — including references INSIDE a higher-order-function
# lambda, where interpreted evaluation then re-computes the producer PER
# ELEMENT: the codec folds were re-hexing the whole payload per sample
# (O(len^2) per row) and every token-scale explode was re-splitting the
# document per shingle. The fix is the one-element let-binding idiom
# `transform(array(<producer>), v -> <body over v>)`. This audit detects
# the BROKEN shape mechanically in a plan string: an expensive producer
# call inside a lambdafunction body whose own arguments reference no
# lambda variable — i.e. a loop-invariant expensive expression that
# Catalyst will happily re-evaluate per element.
# ---------------------------------------------------------------------------

# Producers whose per-call cost is linear in their input (so per-element
# re-evaluation multiplies a row-linear cost into row-quadratic). Cheap
# per-call scalars (arithmetic, comparisons, element_at) are exempt.
_EXPENSIVE_PRODUCERS = (
    "split(",
    "hex(",
    "unhex(",
    "regexp_extract(",
    "regexp_replace(",
    "regexp_extract_all(",
    "sha2(",
    "md5(",
    "repeat(",
    "reverse(",
    "translate(",
)


def _balanced_span(text: str, open_idx: int) -> str:
    """Return the substring of ``text`` from the '(' at ``open_idx`` through
    its matching ')'. Plan strings never nest quotes around parens, so a
    plain depth counter is exact."""
    depth = 0
    for j in range(open_idx, len(text)):
        c = text[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return text[open_idx : j + 1]
    return text[open_idx:]  # unbalanced tail (truncated plan) — best effort


def find_loop_invariant_hof_calls(plan: str) -> list[str]:
    """Scan a (logical or physical) plan string for expensive producer
    calls that sit INSIDE a ``lambdafunction(...)`` body but whose own
    argument subtree references no ``lambda`` variable — the exact
    CollapseProject cost-multiplication shape SCALE.md documents. Returns
    one snippet per offending call (deduplicated); empty list = clean.

    The let-binding idiom passes by construction: in
    ``transform(array(split(x)), v -> ...element_at(v, i)...)`` the
    ``split`` sits in the transform's INPUT (outside every lambda body)
    and the body's calls all reference ``lambda v``.

    Scans LINE BY LINE (each plan node prints on one line) and skips
    FileScan metadata lines (``DataFilters:`` etc.): those are
    width-truncated mid-expression regardless of maxToStringFields,
    and a truncated line's unbalanced parens would otherwise make one
    lambda span swallow every node below it (observed: the quality-gate
    Filter's pushed-down copy flagged clean projections two joins
    away). The metadata lines only duplicate Filter/Project nodes that
    ARE scanned in full."""
    hits: list[str] = []
    for line in plan.splitlines():
        if (
            "DataFilters:" in line
            or "PushedFilters:" in line
            or "PartitionFilters:" in line
        ):
            continue
        pos = 0
        while True:
            k = line.find("lambdafunction(", pos)
            if k < 0:
                break
            body = _balanced_span(line, k + len("lambdafunction"))
            pos = k + len("lambdafunction(")  # nested lambdas scanned too
            for fn in _EXPENSIVE_PRODUCERS:
                j = 0
                while True:
                    i = body.find(fn, j)
                    if i < 0:
                        break
                    args = _balanced_span(body, i + len(fn) - 1)
                    j = i + len(fn)
                    if "lambda " not in args:
                        snippet = (fn + args)[:120]
                        if snippet not in hits:
                            hits.append(snippet)
    return hits
