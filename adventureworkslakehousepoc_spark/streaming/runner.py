"""Structured Streaming runners (SURVEY.md §2.1 S1, §2.7).

The reference's streaming surface is ``spark.readStream.table`` + DLT flows;
here the equivalent is file-source streams over parquet + ``writeStream`` with
``Trigger.AvailableNow`` and a per-run checkpoint — deterministic "run the
stream to completion" execution for tests and the driver harness
(reference streaming-scan sites: ``silver_layer_person.py:14``,
``sales_aw_silver_layer_fact_sales.py:12,19,26``, ``bronze_structure.ipynb``).

AvailableNow still runs the zero-data flush micro-batch, so watermark-
finalized results (closed windows, evicted interval-join state) are emitted
before termination — verified empirically, relied on by the parity oracles.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_input

__all__ = [
    "stage_stream_dir",
    "stream_table",
    "run_available_now",
    "run_foreach_batch",
    "scratch_dir",
]

# State-store count of every stream's stateful operators (see
# ``run_available_now``); fixed at a stream's first checkpoint.
STATE_PARTITIONS = 8
_SHUFFLE_CONF = "spark.sql.shuffle.partitions"
# held while a run swaps the session conf around ``start()``
_CONF_LOCK = threading.Lock()

# Per-call scratch dirs created this process (stream staging, checkpoints,
# sinks, ORC round-trip output). Swept at interpreter exit so repeated
# bench/test runs in one long session don't accumulate temp dirs.
_SCRATCH_DIRS: list[str] = []


def _sweep_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()

def stream_tmp_root() -> str:
    """Scratch root for stream staging/checkpoints/sinks. Prefers tmpfs
    (/dev/shm) — the AvailableNow harness is deterministic run-to-completion
    scratch, so checkpoint fsync latency is pure overhead locally; a real
    deployment points AWLH_STREAM_TMP at durable storage instead."""
    root = os.environ.get("AWLH_STREAM_TMP")
    if root:
        return root
    if os.path.isdir("/dev/shm"):
        return "/dev/shm/awlh_stream"
    return "/tmp/awlh_stream"


def scratch_dir(kind: str) -> str:
    """Fresh per-call scratch directory under the session tmp root, removed
    at interpreter exit. Use for any query-internal materialization (sink
    round-trips, staged slices, checkpoints) instead of a bare
    ``tempfile.mkdtemp``. The root is resolved per call (not cached at
    import) so AWLH_STREAM_TMP set after module import is honored — e.g.
    pointing large-SF runs at disk instead of the RAM-backed /dev/shm
    default."""
    root = stream_tmp_root()
    os.makedirs(root, exist_ok=True)
    d = tempfile.mkdtemp(prefix=f"{kind}-", dir=root)
    if not _SCRATCH_DIRS:
        atexit.register(_sweep_scratch)
    _SCRATCH_DIRS.append(d)
    return d


def stage_stream_dir(*parquet_files: str) -> str:
    """File-source streams need a directory; symlink the input files into a
    fresh staging dir (files appear in link order — append more later to
    simulate arriving batches). A DIRECTORY-shaped table (a Spark-written
    ``name.parquet/part-*.parquet``) is expanded into symlinks of its part
    files — Spark's file source does not recurse into subdirectories, so a
    directory symlinked under a ``*.parquet`` name would stream ZERO rows
    silently (caught by the 30× probe, whose scaled tables are
    Spark-written)). Part files are collected RECURSIVELY so a
    hive-partitioned table (nested ``key=value`` subdirs) expands too, and
    a directory whose expansion yields zero part files raises instead of
    staging an empty stream. Hive-partitioned tables keep their
    ``key=value`` directory components RECREATED under the staging dir —
    partition-column values live in the directory names, not the part
    files, so flattening the parts would silently drop (or mistype) the
    partition columns (round-10 advice). All staged inputs must share ONE
    partition-key structure: mixing a partitioned table with a flat file
    (or two tables with different keys) under one staging root gives Spark
    partition discovery mixed directory depths, which it rejects or
    mis-infers far from the cause — so that mix raises HERE with the two
    conflicting layouts named (round-11 advice)."""
    import glob as _glob

    d = scratch_dir("src")
    i = 0
    seen_layout: tuple[str, ...] | None = None
    seen_src: str | None = None

    def _check_layout(keys: tuple[str, ...], src: str) -> None:
        nonlocal seen_layout, seen_src
        if seen_layout is None:
            seen_layout, seen_src = keys, src
        elif keys != seen_layout:
            raise ValueError(
                "stage_stream_dir: mixed partition layouts under one staging"
                f" root — {seen_src!r} has partition keys {list(seen_layout)}"
                f" but {src!r} has {list(keys)}; Spark partition discovery"
                " rejects or mis-infers mixed directory structures. Stage"
                " each table into its own directory instead."
            )

    for f in parquet_files:
        f = os.path.abspath(f)
        if os.path.isdir(f):
            parts = sorted(
                _glob.glob(os.path.join(f, "**", "*.parquet"), recursive=True)
            )
            if not parts:
                raise FileNotFoundError(
                    f"stage_stream_dir: directory table {f!r} expanded to zero"
                    " *.parquet part files — the stream would silently read"
                    " zero rows"
                )
            for part in parts:
                # keep any key=value components between the table root and
                # the part file so Spark's partition discovery still sees
                # the partition-column values
                rel_dirs = [
                    c
                    for c in os.path.relpath(os.path.dirname(part), f).split(os.sep)
                    if "=" in c
                ]
                _check_layout(tuple(c.split("=", 1)[0] for c in rel_dirs), f)
                sub = os.path.join(d, *rel_dirs) if rel_dirs else d
                os.makedirs(sub, exist_ok=True)
                os.symlink(part, os.path.join(sub, f"batch-{i:05d}.parquet"))
                i += 1
        else:
            _check_layout((), f)
            os.symlink(f, os.path.join(d, f"batch-{i:05d}.parquet"))
            i += 1
    return d


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
    copies: int = 1,
    with_source_file: bool = False,
) -> DataFrame:
    """Unbounded stream over a testdata table (S1 streaming table scan).
    Schema and timestamp normalization come from ``catalog.read_input``
    (the memoized batch schema — no streaming inference), so stream and
    batch plans are column-compatible.
    ``copies`` stages the same file N times — a deterministic duplicate
    generator for dedup operators (each staged file replays every row).

    ``with_source_file`` adds a ``_src_file`` column carrying the UNDERLYING
    file identity (the staged symlink's resolved target), not the staged
    name: every staged copy of the same part file maps to the same value.
    Consumers whose merge function is not idempotent (XOR fingerprints) key
    their partials on this so a re-delivered file always reduces to a
    byte-identical partial row regardless of which micro-batch it lands in
    — ``input_file_name()`` alone would give each staged copy a distinct
    name and defeat that collapse."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    staged = stage_stream_dir(*([path] * copies))
    df = read_input(spark, sf_dir, name, reader, staged)
    if with_source_file:
        # staged basenames are globally unique (monotonic counter), so a
        # basename → realpath literal map resolves identity executor-side
        # with no Python UDF; the map is |parts|·|copies| entries (tens).
        pairs: list = []
        for root, _dirs, files in os.walk(staged):
            for fn in sorted(files):
                pairs.append(F.lit(fn))
                pairs.append(F.lit(os.path.realpath(os.path.join(root, fn))))
        df = df.withColumn(
            "_src_file",
            F.element_at(
                F.create_map(*pairs),
                F.element_at(F.split(F.input_file_name(), "/"), -1),
            ),
        )
    return df


def _drive(writer, spark: SparkSession, run_id: str, checkpoint: str | None, on_start) -> None:
    """Run one stream for one pipeline update: AvailableNow with a
    checkpoint, awaited to termination. The only place the engine starts a
    stream, so every run sizes its state store the same way and hands its
    query to ``on_start``.

    The session's shuffle-partition conf is set to ``STATE_PARTITIONS`` only
    across ``start()`` — the stream clones the session there, so its plans
    and its state store keep the constant — and restored under a module
    lock, so overlapping runs cannot leave the session at the constant and
    batch jobs in other threads do not plan with it while a stream runs.
    ``on_start`` runs after the restore, before the await."""
    writer = writer.option(
        "checkpointLocation", checkpoint or scratch_dir(f"ckpt-{run_id}")
    ).trigger(availableNow=True)
    with _CONF_LOCK:
        prev = spark.conf.get(_SHUFFLE_CONF)
        spark.conf.set(_SHUFFLE_CONF, str(STATE_PARTITIONS))
        try:
            q = writer.start()
        finally:
            spark.conf.set(_SHUFFLE_CONF, prev)
    if on_start is not None:
        # hand the started query to the caller BEFORE awaiting — a
        # metrics listener binds its tracked query id here, closing
        # the foreign-termination cross-talk window (ADVICE r15)
        on_start(q)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"stream {run_id} did not terminate")


def run_available_now(
    df: DataFrame,
    name: str | None = None,
    on_start=None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow + flush
    batch) into a parquet sink with a fresh checkpoint; return the
    materialized result as a batch DataFrame. The streaming equivalent of the
    reference's one pipeline update (entry point A, SURVEY.md §3.1).

    Stateful operators get ``STATE_PARTITIONS`` (8) state stores, not the
    batch shuffle setting: state partitioning is fixed at the first
    checkpoint, and for the bounded local testdata 32 stores cost ~3 s of
    pure per-store open/commit overhead per run (measured 4.4 s → 1.5 s for
    ``st_windowed_agg`` at sf0.1). The session conf is held at the constant
    only across ``start()`` (see ``_drive``)."""
    run_id = name or uuid.uuid4().hex[:8]
    out = scratch_dir(f"out-{run_id}")
    writer = df.writeStream.outputMode("append").format("parquet").option("path", out)
    _drive(writer, df.sparkSession, run_id, None, on_start)
    return df.sparkSession.read.schema(df.schema).parquet(out)


def run_foreach_batch(
    df: DataFrame,
    fn,
    name: str | None = None,
    checkpoint: str | None = None,
    on_start=None,
) -> None:
    """Execute a streaming DataFrame to completion, calling
    ``fn(batch_df, batch_id)`` on every micro-batch (foreachBatch sinks:
    merges, sketch stores, custom state tables). Runs in ``update`` output
    mode — what stateful operators such as ``applyInPandasWithState`` emit;
    for a stateless plan Spark treats it as append. ``checkpoint`` defaults
    to a fresh scratch dir; pass a kept one to resume a stream across runs."""
    run_id = name or uuid.uuid4().hex[:8]
    writer = df.writeStream.outputMode("update").foreachBatch(fn)
    _drive(writer, df.sparkSession, run_id, checkpoint, on_start)
