"""Streaming sinks beyond append: foreachBatch upsert (MERGE emulation) and
custom stateful processing via ``applyInPandasWithState``.

``foreach_batch_upsert`` is the engine's streaming-merge: each micro-batch of
change rows is applied to a keyed parquet state table (latest-version-wins,
deletes honored) — what Delta's ``MERGE INTO`` does, emulated portably. State
application is a window per key over (current ∪ batch); at 100 TB the state
table is partitioned by key range and only co-partitioned slices rewrite.

``running_counts_with_state`` demonstrates arbitrary stateful streaming
(GroupState): a per-key running aggregate kept in the state store across
micro-batches, emitted per batch — the ``applyInPandasWithState`` form the
built-in windowed aggregates can't express (e.g. custom eviction or
monotonic counters).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from .cdf import latest_snapshot
from .runner import run_foreach_batch

__all__ = [
    "foreach_batch_upsert",
    "foreach_batch_merge_aggregates",
    "running_counts_with_state",
    "tws_available",
    "running_max_with_tws",
]


def foreach_batch_upsert(
    changes: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    checkpoint_dir: str,
) -> None:
    """Run a change-row stream to completion, applying each micro-batch as an
    upsert into the parquet state table at ``state_dir``."""
    spark = changes.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(state_dir) and os.listdir(state_dir):
            # the state table stores plain rows (latest_snapshot drops the CDF
            # metadata), so re-attach it: current rows act as version -1
            # "inserts" and any batch row (version >= 0) wins per key
            current = (
                spark.read.parquet(state_dir)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(-1).cast("bigint"))
                .withColumn(
                    "_commit_timestamp", F.lit(None).cast("timestamp")
                )
            )
            merged = current.unionByName(batch_df)
        else:
            merged = batch_df
        # the snapshot reads state_dir, so it is written once beside it and
        # swapped in by a directory rename
        tmp = state_dir + ".tmp"
        latest_snapshot(merged, key_cols).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(tmp, state_dir)

    run_foreach_batch(changes, apply_batch, "foreach-upsert", checkpoint_dir)


def running_counts_with_state(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator: per-key running event count + running value
    sum held in the state store across micro-batches (Arrow-batched
    ``applyInPandasWithState``)."""
    import pandas as pd

    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("n_events", LongType()),
            StructField("value_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key_tuple, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # integer cents: exact, order-free accumulation
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "value_cents": [cents]}
        )

    return events.select(key, "value").groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """Spark 4's ``transformWithStateInPandas`` runs a protobuf-speaking
    Python driver worker; this sandbox ships a broken ``google.protobuf``
    (no compiled descriptors), so the capability is probed, not assumed.
    ``applyInPandasWithState`` (above) is the supported fallback path."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_max_with_tws(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key running (count, max-cents) via Spark 4's
    ``transformWithStateInPandas`` — the typed-state successor to
    ``applyInPandasWithState`` (named ValueState handles, timers, TTL). Same
    semantics as ``running_counts_with_state`` but through the new API;
    callers must check ``tws_available()`` first (see its docstring)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("n_events", LongType()),
            StructField("max_cents", LongType()),
        ]
    )

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n BIGINT, mx_cents BIGINT")

        def handleInputRows(self, key_tuple, rows, timer_values):
            if self._state.exists():
                n, mx = self._state.get()
            else:
                n, mx = 0, None
            for pdf in rows:
                n += len(pdf)
                m = int((pdf["value"] * 100).round().astype("int64").max())
                mx = m if mx is None else max(mx, m)
            self._state.update((n, mx))
            yield pd.DataFrame(
                {key: [key_tuple[0]], "n_events": [n], "max_cents": [mx]}
            )

        def close(self) -> None:
            pass

    return events.select(key, "value").groupBy(key).transformWithStateInPandas(
        statefulProcessor=RunningMax(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def _merge_state_meta(state_dir: str) -> tuple[int, str, str | None] | None:
    """(last applied batch_id, current version dirname, stream id), or None
    if empty. Stream id is None for pre-identity _CURRENT files."""
    meta = os.path.join(state_dir, "_CURRENT")
    if not os.path.isfile(meta):
        return None
    with open(meta) as f:
        parts = f.read().strip().split()
    batch_id, version = parts[0], parts[1]
    stream_id = parts[2] if len(parts) > 2 else None
    return int(batch_id), version, stream_id


def _checkpoint_stream_id(checkpoint_dir: str) -> str:
    """The streaming query id Spark records in <checkpoint>/metadata — a
    fresh UUID per checkpoint lineage. Batch ids are only monotonic WITHIN
    one lineage, so redelivery detection must be scoped by this id."""
    path = os.path.join(checkpoint_dir, "metadata")
    try:
        import json

        with open(path) as f:
            return str(json.load(f)["id"])
    except (OSError, ValueError, KeyError):
        # metadata not yet written (first batch of a brand-new checkpoint
        # can race it) — fall back to the resolved path, which is still
        # stable within a lineage
        return os.path.abspath(checkpoint_dir)


def read_merge_state(spark, state_dir: str) -> DataFrame:
    """Read the current published snapshot of a merge-aggregate state table
    (the versioned layout written by ``foreach_batch_merge_aggregates``)."""
    meta = _merge_state_meta(state_dir)
    if meta is None:
        raise FileNotFoundError(f"no published merge state under {state_dir}")
    return spark.read.parquet(os.path.join(state_dir, meta[1]))


def foreach_batch_merge_aggregates(
    changes: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    partial_fn,
    checkpoint_dir: str,
) -> int:
    """Streaming incremental view maintenance: run a stream to completion,
    folding each micro-batch's PARTIAL aggregates (produced by
    ``partial_fn(batch_df)`` — keyed rows whose non-key columns are
    mergeable bigint partials: counts, integer-unit sums) into the parquet
    aggregate table at ``state_dir`` by key-summing. The streaming
    counterpart of the batch ``incremental_agg_merge`` query: the gold
    aggregate never recomputes history — each arrival pays only its own
    partial pass plus a state-table-sized merge.

    Delivery semantics (foreachBatch is at-least-once — re-delivery after a
    failure is the norm, so the merge must be idempotent and the publish
    atomic, mirroring the idempotent-foreachBatch-merge pattern the
    reference relies on Delta MERGE for):

    - ``state_dir/_CURRENT`` records the last APPLIED batch_id next to the
      current snapshot's version dirname AND the checkpoint lineage's
      stream id; a redelivered batch with ``batch_id <= last`` from the
      SAME lineage is skipped, so partial sums are never double-applied.
      Batch ids restart at 0 under a fresh checkpoint, so a new lineage
      pointed at an existing state_dir must NOT have its first batches
      swallowed as "redeliveries" — the id scoping prevents that.
    - each batch writes a NEW versioned snapshot dir (``v<batch_id>``) and
      publishes it by atomically replacing ``_CURRENT`` (write-temp +
      ``os.replace``). A crash mid-batch leaves the previous snapshot and
      pointer fully intact — never a half-overwritten state table.

    Read the result back with ``read_merge_state`` (the state root holds
    versioned subdirectories, not bare parquet).

    Exactness: merging integer partials is associative and order-free, so
    the final state equals the full batch recompute regardless of how the
    arrivals were micro-batched — which is exactly what the DuckDB oracle
    checks. Returns the number of micro-batches applied so callers/tests
    can assert the incremental path (not one collapsed batch) actually ran.
    """
    spark = changes.sparkSession
    n_batches = {"n": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(state_dir, exist_ok=True)
        stream_id = _checkpoint_stream_id(checkpoint_dir)
        meta = _merge_state_meta(state_dir)
        if meta is not None and batch_id <= meta[0] and meta[2] in (stream_id, None):
            # redelivery of an already-applied batch of THIS checkpoint
            # lineage: no-op. A legacy _CURRENT with no recorded id is
            # treated as same-lineage (the pre-identity behavior).
            return
        part = partial_fn(batch_df)
        val_cols = [c for c in part.columns if c not in key_cols]
        if meta is not None:
            merged = (
                spark.read.parquet(os.path.join(state_dir, meta[1]))
                .unionByName(part)
                .groupBy(*key_cols)
                .agg(*[F.sum(c).cast("bigint").alias(c) for c in val_cols])
            )
        else:
            merged = part
        version = f"v{batch_id:012d}"
        final = os.path.join(state_dir, version)
        staging = os.path.join(state_dir, f".staging-{batch_id}")
        merged.write.mode("overwrite").parquet(staging)
        if os.path.isdir(final):  # orphan from a crash after rename,
            shutil.rmtree(final)  # before the pointer flip
        os.rename(staging, final)
        tmp_meta = os.path.join(state_dir, f"._CURRENT.{batch_id}.tmp")
        with open(tmp_meta, "w") as f:
            f.write(f"{batch_id} {version} {stream_id}")
        os.replace(tmp_meta, os.path.join(state_dir, "_CURRENT"))
        if meta is not None and meta[1] != version:  # GC the superseded
            # snapshot (guard: a NEW checkpoint lineage restarts batch ids,
            # so v<batch_id> can collide with the superseded dirname —
            # rmtree would then delete the snapshot just published)
            shutil.rmtree(os.path.join(state_dir, meta[1]), ignore_errors=True)
        n_batches["n"] += 1

    run_foreach_batch(changes, apply_batch, "merge-aggregates", checkpoint_dir)
    return n_batches["n"]
