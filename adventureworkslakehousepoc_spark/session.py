"""SparkSession factory.

Local mode mirrors the driver harness (``local[$SPARK_GRAFT_CPUS]``); on a real
cluster the same settings apply minus the master override. AQE is always on so
skewed shuffles re-plan at runtime; shuffle partitions default to the local
core count (32) instead of Spark's 200 — at 100 TB scale this knob is expected
to be set per-job (e.g. ``max(2 * total_cores, input_bytes / 128MB)``).

The ``file`` scheme is bound to the engine's own local file system, for both
Hadoop APIs: ``fs.file.impl`` (``FileSystem``: every table write, sink and
maintenance job) and ``fs.AbstractFileSystem.file.impl`` (``FileContext``:
the streaming checkpoint manager). Without Hadoop's native library, which
PySpark does not ship, the stock ``RawLocalFileSystem`` forks a ``chmod``
process for every file and directory it creates (``.crc`` files included)
and a ``readlink`` process twice per checkpoint rename; a partitioned
write of 859 date directories forked ~5 000 processes. The engine's classes
(source in ``jvm/src``; the built ``jvm/nio-local-fs.jar`` is committed and
rebuilt by ``scripts/build_jvm.py``) make the same two calls as system
calls through ``java.nio``. Everything else is Hadoop's ``LocalFileSystem`` / ``LocalFs``:
the same ``.crc`` files, modes and checks. The jar goes on the driver's
class path, and ``local[...]`` runs every task in the driver JVM. A session
not built here keeps Hadoop's stock, forking file system.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the engine's local file system (see the module docstring)
FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar")
FS_IMPL = "adventureworkslakehousepoc.fs.NioLocalFileSystem"
ABSTRACT_FS_IMPL = "adventureworkslakehousepoc.fs.NioLocalFs"

__all__ = ["get_spark", "stop_spark"]


def get_spark(
    app_name: str = "awlh-spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
    driver_memory: str | None = None,
    ui: bool = False,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-sane defaults."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    extra_conf = dict(extra_conf or {})
    class_path = extra_conf.pop("spark.driver.extraClassPath", None)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # every Parquet file writer allocates a compressor output buffer of
        # one page, and zstd-jni's finalizable stream pins it until the
        # finalizer thread runs. At the 1 MB default that buffer is a G1
        # humongous object (a whole region each) on heaps under 8 GB, so a
        # partitioned write of 859 small files held up to ~350 of them at
        # once and the heap after GC swung by ~300 MB from run to run.
        # 256 KB pages stay under the humongous threshold for every G1
        # region size; a page is the unit of compression, so large column
        # chunks get 4x the pages at a slightly lower zstd ratio.
        .config("spark.hadoop.parquet.page.size", str(256 * 1024))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # plan-text audits (plans/audit.py, tests/test_physical.py) parse
        # expression trees out of plan strings; the default 25-field
        # truncation can elide the lambda bodies the loop-invariant HOF
        # gate inspects
        .config("spark.sql.debug.maxToStringFields", "2000")
        .config("spark.driver.extraClassPath", os.pathsep.join(filter(None, (class_path, FS_JAR))))
        .config("spark.hadoop.fs.file.impl", FS_IMPL)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", ABSTRACT_FS_IMPL)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
