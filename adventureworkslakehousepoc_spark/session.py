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

Execution memory pages are sized to the heap the session launches with
(``page_size_bytes``). Hash aggregates, sorts and hashed-relation builds
take their Tungsten memory one page at a time, the first page on their
first row, and an on-heap page is one zeroed ``long[]``. Spark's default
page is the execution pool ÷ cores ÷ 16, rounded up to a power of two
(1–64 MB): 32 MB on a 4 GB heap with 4 cores, 16 G1 regions per task even
for five rows. ``get_spark`` sets ``spark.buffer.pageSize`` to one G1 heap
region less the array header, so every page is a humongous object that
fills exactly one region: the smallest page that wastes no region space,
and one that young collections never copy. A page of 1 MB on a heap with
4 MB regions is an ordinary young object; collections copy it while a task
holds it, which made the largest sf0.1 aggregate ~10% slower on an 8 GB
heap. The region is G1's own choice for the heap: heap ÷ 2048 rounded up
to a power of two, 1–32 MB (2 MB at 4 GB, 4 MB at 8 GB, 16 MB at the 32 GB
default). The page doubles if the 8 192-entry page table
(``TaskMemoryManager.PAGE_TABLE_SIZE``, the most pages one task can hold)
would not cover the execution pool, (heap − 300 MB) ×
``spark.memory.fraction``, so a lone task spills before it runs out of
page slots; that happens only above a ~430 GB heap. A record larger than a
page still gets a page of its own size. ``extra_conf`` overrides the value
like any Spark conf. Measurements are in SCALE.md, "Execution memory
pages".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the engine's local file system (see the module docstring)
FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar")
FS_IMPL = "adventureworkslakehousepoc.fs.NioLocalFileSystem"
ABSTRACT_FS_IMPL = "adventureworkslakehousepoc.fs.NioLocalFs"

# Spark's execution memory layout (UnifiedMemoryManager, TaskMemoryManager)
RESERVED_BYTES = 300 * 2**20
DEFAULT_MEMORY_FRACTION = 0.6
PAGE_TABLE_SIZE = 8192
# the header of an on-heap page's long[] (Platform.LONG_ARRAY_OFFSET)
LONG_ARRAY_OFFSET = 16
# HotSpot G1's region size ergonomics (HeapRegion::setup_heap_region_size)
G1_REGION_TARGET = 2048
G1_MIN_REGION = 2**20
G1_MAX_REGION = 32 * 2**20
# broadcast chunk (spark.broadcast.blockSize; a bare number would be KiB)
BROADCAST_BLOCK_SIZE = "256k"

__all__ = ["g1_region_bytes", "get_spark", "page_size_bytes", "stop_spark"]


def _memory_bytes(mem: str) -> int:
    """A JVM memory string (``512m``, ``4g``) in bytes."""
    return int(mem[:-1]) * 2 ** (10 * "kmgt".index(mem[-1].lower()) + 10)


def g1_region_bytes(driver_memory: str) -> int:
    """The G1 region size the JVM picks for a heap of ``driver_memory``:
    heap ÷ 2048 rounded up to a power of two, kept within 1–32 MB."""
    heap = _memory_bytes(driver_memory)
    region = G1_MIN_REGION
    while region * G1_REGION_TARGET < heap and region < G1_MAX_REGION:
        region *= 2
    return region


def page_size_bytes(driver_memory: str, memory_fraction: float = DEFAULT_MEMORY_FRACTION) -> int:
    """The execution memory page for a heap of ``driver_memory``: one G1
    region less the ``long[]`` header, doubled while ``PAGE_TABLE_SIZE``
    pages would not cover the execution pool, (heap − 300 MB) ×
    ``memory_fraction``."""
    pool = (_memory_bytes(driver_memory) - RESERVED_BYTES) * memory_fraction
    span = g1_region_bytes(driver_memory)
    while PAGE_TABLE_SIZE * (span - LONG_ARRAY_OFFSET) < pool:
        span *= 2
    return span - LONG_ARRAY_OFFSET


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
    fraction = float(extra_conf.get("spark.memory.fraction", DEFAULT_MEMORY_FRACTION))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", mem)
        # see the module docstring
        .config("spark.buffer.pageSize", str(page_size_bytes(mem, fraction)))
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
        # a broadcast is serialized into blockSize chunks, each one byte[]:
        # at the 4 MB default every broadcast, even of five rows, holds a
        # humongous chunk on heaps under 32 GB (three regions at 4 GB).
        # 256 KB, like the Parquet page, stays under every region size's
        # humongous threshold
        .config("spark.broadcast.blockSize", BROADCAST_BLOCK_SIZE)
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
