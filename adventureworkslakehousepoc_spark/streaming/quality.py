"""Streaming expectation counters — the DLT event-log readout for STREAMED
tables (SURVEY.md §3; pairs with plans/expectations.py).

Round 13 made expectation ENFORCEMENT plan-shaped, so it applies unchanged
inside Structured Streaming micro-batch plans (``st_expectations_gate``).
Violation COUNTERS, however, were batch-only: the batch path rides a
``DataFrame.observe`` + ``Observation`` harvested after one action, and
``Observation.get`` does not support streaming queries. The streaming analog
here is the one Spark ships for exactly this purpose:

- a NAMED ``DataFrame.observe(name, …)`` node over the PRE-enforcement
  stream (same zero-extra-pass posture — the metrics ride each micro-batch's
  own plan; violations are counted even for rows a later drop removes);
- a ``StreamingQueryListener`` that accumulates each micro-batch's observed
  metrics from ``QueryProgressEvent`` — Spark's event bus IS the DLT event
  log, and per-batch partial counts SUM to the dataset totals because count
  and sum are associative over disjoint micro-batches.

Scale posture: the observe node is a per-batch aggregate fused into the
micro-batch plan (map-side combined, |expectations|+1 cells per task); the
listener handles one tiny Row per batch driver-side — the same metadata
volume as the progress events Spark already emits.
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..plans.expectations import Expectation, counters_projection, violation_aggregate

__all__ = [
    "ExpectationMetricsListener",
    "observe_stream_expectations",
    "streamed_expectation_counters",
]


class ExpectationMetricsListener(StreamingQueryListener):
    """Accumulates one named observation's metrics across every micro-batch
    of a streaming query. Spark delivers events on its listener-bus thread
    (FIFO: all progress events for a run precede its terminated event), so
    readers call ``wait_terminated`` before reading ``totals``."""

    def __init__(self, observation_name: str) -> None:
        self._name = observation_name
        self.totals: dict[str, int] = {}
        self.batches = 0
        # the tracked query's id binds from the first progress event that
        # carries OUR observation name (the name is unique per run, so the
        # binding cannot cross-talk); termination then waits for THAT id,
        # not for any query's terminated event — a concurrent stream's (or
        # a prior run's late-delivered) termination must not release
        # wait_terminated while our progress rows are still in flight
        self._cv = threading.Condition()
        self._query_id: str | None = None
        self._terminated_ids: set[str] = set()

    def bind_query(self, query_id) -> None:
        """Bind the tracked query id AT START (ADVICE r15): the runner
        hands the started query's id over before any event can be
        processed, so a foreign stream's termination can never release
        ``wait_terminated`` — previously the id bound from the first
        progress event carrying our observation name, which left early
        zero-progress batches exposed to cross-talk."""
        with self._cv:
            if self._query_id is None:
                self._query_id = str(query_id)
            self._cv.notify_all()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        row = event.progress.observedMetrics.get(self._name)
        if row is None:
            return
        with self._cv:
            self.batches += 1
            for key, val in row.asDict().items():
                if val is not None:
                    self.totals[key] = self.totals.get(key, 0) + int(val)
            self._query_id = str(event.progress.id)
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self._terminated_ids.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, timeout: float = 60.0) -> bool:
        """True once the tracked query has terminated. Until a progress
        event binds the query id, any termination counts (a zero-batch run
        delivers no progress events, and its caller fails loudly on
        ``batches == 0`` afterwards — never a silent undercount)."""

        def _done() -> bool:
            if self._query_id is not None:
                return self._query_id in self._terminated_ids
            return bool(self._terminated_ids)

        with self._cv:
            return self._cv.wait_for(_done, timeout)


def observe_stream_expectations(
    df: DataFrame, expectations: Sequence[Expectation], name: str
) -> DataFrame:
    """Attach the named pre-enforcement metrics node: the batch path's
    ``violation_aggregate`` (total rows plus one violation counter per
    expectation), evaluated per micro-batch."""
    return df.observe(name, *violation_aggregate(expectations))


def streamed_expectation_counters(
    spark: SparkSession,
    listener: ExpectationMetricsListener,
    expectations: Sequence[Expectation],
    dataset: str,
) -> DataFrame:
    """Convert a terminated run's accumulated metrics into the SAME audit
    relation the batch path emits: the listener's totals become one row
    that goes through ``plans.expectations.counters_projection``, so the
    ppm and the empty-input NULLs are the batch ones. A violation count
    no micro-batch reported non-NULL stays NULL, as a SUM over no rows
    is. Raises if the stream never terminated or emitted no metrics (a
    silent zero-row audit would read as 'no violations')."""
    if not listener.wait_terminated():
        raise TimeoutError(
            f"streamed_expectation_counters({dataset!r}): listener never saw "
            "the query terminate"
        )
    if listener.batches == 0:
        raise ValueError(
            f"streamed_expectation_counters({dataset!r}): no observed "
            "metrics were delivered — was the observation attached and the "
            "stream non-empty?"
        )
    totals = [listener.totals["n_rows"]]
    totals += [listener.totals.get(e.name) for e in expectations]
    one = spark.createDataFrame(
        [totals], ", ".join(f"c{i} bigint" for i in range(len(totals)))
    )
    return counters_projection(one, expectations, dataset)


def run_gated_stream_with_counters(
    spark: SparkSession,
    df: DataFrame,
    expectations: Sequence[Expectation],
    dataset: str,
    run_name: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One quality-gated streaming update with its audit: observe the
    pre-enforcement stream, enforce the policies inside the plan, run to
    completion (AvailableNow), and return ``(materialized rows, counters)``.
    The listener is registered only for the run and keyed by a unique
    observation name, so concurrent streams cannot cross-talk."""
    from ..plans.expectations import apply_expectations
    from .runner import run_available_now

    obs_name = f"expectations:{dataset}:{run_name or uuid.uuid4().hex[:8]}"
    listener = ExpectationMetricsListener(obs_name)
    observed = observe_stream_expectations(df, expectations, obs_name)
    gated = apply_expectations(observed, expectations, dataset=dataset)
    spark.streams.addListener(listener)
    try:
        materialized = run_available_now(
            gated, run_name, on_start=lambda q: listener.bind_query(q.id)
        )
    finally:
        # the terminated event may still be in flight; wait before removal
        # so the last progress rows are accumulated (bus is FIFO)
        listener.wait_terminated()
        spark.streams.removeListener(listener)
    counters = streamed_expectation_counters(
        spark, listener, expectations, dataset
    )
    return materialized, counters
