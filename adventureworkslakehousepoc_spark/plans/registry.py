"""Declarative dataset registry — the engine's equivalent of the reference's
DLT/Lakeflow ``@dp.table`` layer (SURVEY.md §3).

The reference registers *(name → generator function)* with ``@dp.table(name,
comment)`` and discovers the dependency DAG from ``dp.read(...)`` calls inside
each generator (reference ``silver_layer_person.py:4-19``). Here the same
contract is ~150 LoC of pure Python:

- ``DatasetRegistry.table(name, comment)`` registers a generator ``fn(ctx) ->
  DataFrame``.
- ``PipelineContext.read(name)`` inside a generator resolves either another
  registered dataset (recursively materializing it — lazy topological order
  with memoization and cycle detection) or falls through to a catalog reader.
- ``run()`` materializes every batch dataset via
  ``write.parquet``/``saveAsTable``; streaming datasets run through
  ``streaming.runner`` (``Trigger.AvailableNow`` with a per-run
  checkpoint).

Plan construction is driver-local Python; all data movement stays inside
Spark jobs — nothing here collects.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .expectations import (
    AggregateExpectationError,
    agg_expectations_of,
    apply_expectations,
    audit_aggregate_expectations,
    enforce_aggregate_drops,
    expectations_of,
    quarantine_rows,
    violation_aggregate,
)

__all__ = ["DatasetRegistry", "PipelineContext"]


@dataclass(frozen=True)
class DatasetDef:
    name: str
    fn: Callable[["PipelineContext"], DataFrame]
    comment: str | None = None


class DatasetRegistry:
    """Collects ``@registry.table(...)`` dataset definitions."""

    def __init__(self) -> None:
        self._defs: dict[str, DatasetDef] = {}

    def table(
        self, name: str | None = None, comment: str | None = None
    ) -> Callable[[Callable[["PipelineContext"], DataFrame]], Callable]:
        def deco(fn: Callable[["PipelineContext"], DataFrame]) -> Callable:
            key = name or fn.__name__
            if key in self._defs:
                raise ValueError(f"dataset {key!r} registered twice")
            self._defs[key] = DatasetDef(key, fn, comment)
            return fn

        return deco

    def names(self) -> list[str]:
        return list(self._defs)

    def get(self, name: str) -> DatasetDef:
        return self._defs[name]

    def __contains__(self, name: str) -> bool:
        return name in self._defs


class PipelineContext:
    """Resolves dataset references at plan-construction time.

    ``catalog_reader(name)`` supplies external inputs (bronze staging tables /
    testdata parquet); registered datasets are materialized on first reference
    and memoized, which yields the topological execution order implicitly.
    """

    def __init__(
        self,
        registry: DatasetRegistry,
        spark: SparkSession,
        catalog_reader: Callable[[str], DataFrame] | None = None,
        static_reader: Callable[[str], DataFrame] | None = None,
        static_first: bool = False,
        observe_expectations: bool = False,
    ) -> None:
        self.registry = registry
        self.spark = spark
        self._catalog_reader = catalog_reader
        self._static_reader = static_reader or catalog_reader
        # static_first: resolve read_static via the static reader even for
        # registered dataset names — a streaming context uses this so dimension
        # lookups stay batch while the same datasets stream on the driving path
        self._static_first = static_first
        # observe_expectations: attach a CollectMetrics (DataFrame.observe)
        # node counting each expectation's violations on the PRE-enforcement
        # rows, harvested during the first action (zero extra passes — the
        # DLT event-log analog). OPT-IN because the metrics node must see
        # every incoming row, which pins the scan: enforcement filters
        # cannot push below it, so a metrics-free consumer would lose
        # predicate pushdown for nothing.
        self._observe_expectations = observe_expectations
        self._cache: dict[str, DataFrame] = {}
        self._building: set[str] = set()
        self._observations: dict[str, tuple] = {}

    # the reference's `dp.read(...)` (silver_layer_person.py:18-19)
    def read(self, name: str) -> DataFrame:
        if name in self.registry:
            return self.dataframe(name)
        if self._catalog_reader is not None:
            return self._catalog_reader(name)
        return self.spark.table(name)

    def read_static(self, name: str) -> DataFrame:
        """Always-batch read — the reference's stream-static lookup pattern
        ("Lookups estáticos para evitar errores de Stream-Stream Join",
        silver_layer_production.py:15-17). In a streaming context the driving
        table comes from ``read`` (may be a stream) while dimension lookups come
        from here (re-read per micro-batch)."""
        if self._static_first and self._static_reader is not None:
            return self._static_reader(name)
        if name in self.registry:
            return self.dataframe(name)
        if self._static_reader is not None:
            return self._static_reader(name)
        return self.spark.table(name)

    def dataframe(self, name: str) -> DataFrame:
        if name in self._cache:
            return self._cache[name]
        if name in self._building:
            raise ValueError(f"dependency cycle through dataset {name!r}")
        defn = self.registry.get(name)
        # the cycle guard must cover aggregate-drop enforcement too: a
        # referential constraint's ref chain can recurse back into this
        # dataset via resolve=read_static, and without the guard that
        # recursion only dies at RecursionError
        self._building.add(name)
        try:
            df = self._build_dataframe(name, defn)
        finally:
            self._building.discard(name)
        self._cache[name] = df
        return df

    def _build_dataframe(self, name: str, defn) -> DataFrame:
        df = defn.fn(self)
        exps = expectations_of(defn.fn)
        if exps:
            # observe BEFORE enforcement so drop/fail violations are counted
            # during whatever job first acts on this dataset — the zero-
            # extra-pass DLT-event-log analog. (Streaming plans skip the
            # observation node: batch Observation does not apply there;
            # enforcement itself is plan-shaped and applies to both.)
            if self._observe_expectations and not df.isStreaming:
                from pyspark.sql.observation import Observation

                obs = Observation(f"expectations:{name}")
                df = df.observe(obs, *violation_aggregate(exps))
                self._observations[name] = (obs, exps)
            df = apply_expectations(df, exps, dataset=name)
        agg_exps = agg_expectations_of(defn.fn)
        if agg_exps:
            # drop-policy referential constraints are plan-shaped (left-semi
            # against the dim) and ride every read; fail-policy aggregate
            # audits run at materialization time (run()/aggregate_audit)
            df = enforce_aggregate_drops(
                df, agg_exps, resolve=self.read_static, dataset=name
            )
        return df

    def quarantine(self, name: str) -> DataFrame:
        """The dataset's quarantine relation: rows routed out by its
        ``expect_or_quarantine`` constraints, tagged with the violated
        constraint name (``_violated``). Built from the same generator and
        chain semantics as the kept relation — kept ∪ quarantined =
        post-drop input, disjointly. Raises if the dataset declares no
        quarantine expectations."""
        defn = self.registry.get(name)
        raw = defn.fn(self)
        return quarantine_rows(raw, expectations_of(defn.fn), dataset=name)

    def expectation_metrics(self, name: str) -> dict:
        """Observed expectation metrics for a materialized dataset:
        ``{"n_rows": N, <expectation name>: violation count, ...}``.
        Available after an action (e.g. ``run()``) executed the dataset's
        plan; raises if the dataset declared no expectations."""
        if name not in self._observations:
            if not self._observe_expectations:
                raise ValueError(
                    f"expectation_metrics({name!r}): context was built "
                    "without observe_expectations=True, so no metrics node "
                    "was attached"
                )
            if name not in self._cache:
                raise ValueError(
                    f"expectation_metrics({name!r}): dataset has not been "
                    "materialized yet — call dataframe()/run() first"
                )
            df = self._cache[name]
            if df.isStreaming:
                raise ValueError(
                    f"expectation_metrics({name!r}): dataset is streaming; "
                    "batch Observation does not apply — use the streaming "
                    "expectation-counter listener instead"
                )
            raise ValueError(
                f"expectation_metrics({name!r}): dataset declares no "
                "expectations, so nothing was observed"
            )
        obs, _exps = self._observations[name]
        return dict(obs.get)

    def aggregate_audit(self, name: str) -> DataFrame:
        """The dataset's aggregate-expectation counters relation
        ``(dataset, expectation, kind, policy, n_violations)`` with
        fail-policy enforcement compiled in (materializing it aborts
        executor-side on a violated FAIL constraint — see
        ``audit_aggregate_expectations``). The audited relation is the
        ENFORCED dataset (row drops and referential drops applied), so a
        drop-policy constraint always audits clean. Raises if the dataset
        declares no aggregate expectations."""
        defn = self.registry.get(name)
        agg_exps = agg_expectations_of(defn.fn)
        if not agg_exps:
            raise ValueError(
                f"aggregate_audit({name!r}): dataset declares no aggregate "
                "expectations"
            )
        return audit_aggregate_expectations(
            self.dataframe(name),
            agg_exps,
            resolve=self.read_static,
            dataset=name,
        )

    def aggregate_quarantine(self, name: str) -> DataFrame:
        """Rows routed out by quarantine-policy aggregate (referential)
        constraints, tagged ``_violated`` — built from the dataset's
        post-row-enforcement relation with the same constraint-chain
        ordering as ``dataframe()``, so kept ∪ quarantined partitions the
        non-NULL-fk input disjointly (the late-arriving-dimension
        parking lot). Raises if none are declared."""
        from .expectations import aggregate_quarantine_rows

        defn = self.registry.get(name)
        raw = apply_expectations(
            defn.fn(self), expectations_of(defn.fn), dataset=name
        )
        return aggregate_quarantine_rows(
            raw,
            agg_expectations_of(defn.fn),
            resolve=self.read_static,
            dataset=name,
        )

    def _gate_aggregates(self, name: str) -> None:
        """Materialize the dataset's fail-enforced aggregate audit (noop
        write — an action with no sink side-effects) BEFORE the dataset is
        written; rewrap the executor-side abort as
        ``AggregateExpectationError``."""
        defn = self.registry.get(name)
        if not agg_expectations_of(defn.fn):
            return
        audit = self.aggregate_audit(name)
        try:
            audit.write.format("noop").mode("overwrite").save()
        except Exception as e:  # Py4J wraps the executor raise_error
            if "aggregate expectation" in str(e):
                raise AggregateExpectationError(
                    f"dataset {name!r} failed a fail-policy aggregate "
                    f"expectation; audit job reported: {str(e).splitlines()[0]}"
                ) from e
            raise

    def run(
        self,
        warehouse_dir: str,
        names: list[str] | None = None,
        mode: str = "overwrite",
        partition_by: dict[str, list[str]] | None = None,
    ) -> dict[str, str]:
        """Materialize datasets as parquet under ``warehouse_dir/<name>``
        (S8 managed-table sink). ``partition_by`` maps dataset name → partition
        columns — facts partitioned by date at write time is the reference's
        physical-layout posture (SURVEY.md §4.4) and what enables partition
        pruning at 100 TB. Every key of ``partition_by`` must be a registered
        dataset (``ValueError`` otherwise). Returns {name: path}. Streaming
        datasets must be run via ``streaming.runner`` instead (they need
        checkpoints).

        Layout guarantee for a partitioned dataset: it is hash-distributed on
        its partition columns into ``spark.sparkContext.defaultParallelism``
        tasks before the write, so every core writes, and each partition
        value lands in exactly one task and therefore in exactly one file.
        The count is explicit because AQE would coalesce a small shuffle
        back into one writer."""
        unknown = [n for n in partition_by or {} if n not in self.registry]
        if unknown:
            raise ValueError(f"partition_by names unregistered datasets: {unknown}")
        out: dict[str, str] = {}
        for name in names or self.registry.names():
            df = self.dataframe(name)
            if df.isStreaming:
                raise ValueError(f"dataset {name!r} is streaming; use streaming.runner")
            self._gate_aggregates(name)
            path = os.path.join(warehouse_dir, name)
            writer = df.write.mode(mode)
            cols = (partition_by or {}).get(name)
            if cols:
                parallelism = self.spark.sparkContext.defaultParallelism
                writer = df.repartition(parallelism, *cols).write.mode(mode).partitionBy(*cols)
            writer.parquet(path)
            out[name] = path
        return out
