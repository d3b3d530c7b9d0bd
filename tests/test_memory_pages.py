"""Execution memory pages sized to the session (``session.page_size_bytes``):
one G1 region less the ``long[]`` header, so each page is a humongous
object that fills its region exactly, with a page table that covers the
execution pool, so a lone task on a big heap still spills before it runs
out of page slots."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from adventureworkslakehousepoc_spark.catalog import load_tables
from adventureworkslakehousepoc_spark.operators.dedup import doc_shingle_arrays
from adventureworkslakehousepoc_spark.session import (
    G1_MIN_REGION,
    LONG_ARRAY_OFFSET,
    PAGE_TABLE_SIZE,
    RESERVED_BYTES,
    g1_region_bytes,
    page_size_bytes,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 2**20
GB = 2**30


def test_page_rule_by_heap():
    assert page_size_bytes("4g") == 2 * MB - 16
    assert page_size_bytes("8g") == 4 * MB - 16
    assert page_size_bytes("32g") == 16 * MB - 16
    # past 32 MB regions the page table, not the region, sets the page
    assert page_size_bytes("1t") == 128 * MB - 16
    for heap, gb in (("1g", 1), ("3g", 3), ("16g", 16), ("100g", 100), ("1t", 1024)):
        page = page_size_bytes(heap)
        region = g1_region_bytes(heap)
        assert (page + LONG_ARRAY_OFFSET) % region == 0
        assert PAGE_TABLE_SIZE * page >= (gb * GB - RESERVED_BYTES) * 0.6
    # a smaller pool never takes a smaller page than one region
    assert page_size_bytes("32g", 0.3) == page_size_bytes("32g")


def test_region_rule_matches_the_jvm():
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    for heap in ("512m", "3g", "6g", "32g", "100g"):
        flags = subprocess.run(
            [java, f"-Xmx{heap}", "-XX:+PrintFlagsFinal", "-version"],
            capture_output=True, text=True, timeout=60, check=True,
        ).stdout
        line = next(l for l in flags.splitlines() if " G1HeapRegionSize " in l)
        assert int(line.split("=")[1].split()[0]) == g1_region_bytes(heap), heap


def test_shared_session_page_fills_one_region(spark):
    jvm = spark._jvm
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    diagnostic = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = int(diagnostic.getVMOption("G1HeapRegionSize").getValue())
    assert jvm.org.apache.spark.unsafe.Platform.LONG_ARRAY_OFFSET == LONG_ARRAY_OFFSET
    assert memory.pageSizeBytes() + LONG_ARRAY_OFFSET == region == 4 * MB
    assert PAGE_TABLE_SIZE * memory.pageSizeBytes() >= memory.maxHeapMemory()


def test_broadcast_chunk_is_never_humongous(spark):
    """A broadcast is written in ``spark.broadcast.blockSize`` chunks, one
    ``byte[]`` each (Spark reads the size in KiB): under half the smallest
    G1 region, no chunk is a humongous object on any heap."""
    conf = spark.sparkContext._jsc.sc().conf()
    chunk = conf.getSizeAsKb("spark.broadcast.blockSize", "4m") * 1024
    assert chunk == 256 * 1024
    assert chunk + LONG_ARRAY_OFFSET < G1_MIN_REGION // 2


_CAPPED_SESSION = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, {root!r})
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import doc_shingle_arrays
    from adventureworkslakehousepoc_spark.plans.audit import StatusWindow
    from adventureworkslakehousepoc_spark.session import get_spark

    spark = get_spark(
        app_name="capped-heap", cpus=1, shuffle_partitions=1, driver_memory={heap!r},
        extra_conf={{"spark.memory.fraction": {fraction!r}}},
    )
    docs = load_tables(spark, {sf_dir!r}, ("documents",))["documents"]
    window = StatusWindow(spark)
    n_docs, n_shingles = doc_shingle_arrays(docs, "text", "doc_id", 5).selectExpr(
        "count(*)", "sum(size(shs))"
    ).first()
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    print(json.dumps({{
        "n_docs": n_docs,
        "n_shingles": n_shingles,
        "spilled": sum(s.diskBytesSpilled() for s in window.stages()),
        "page": memory.pageSizeBytes(),
        "pool": memory.maxHeapMemory(),
    }}))
    spark.stop()
""")


def test_corpus_aggregation_spills_under_capped_heap(spark, sf_dir):
    """A ``collect_set`` corpus aggregation (``doc_shingle_arrays``) in a
    session with a 512 MB heap and 1.5% of it for execution and storage (a
    3.3 MB pool) completes by spilling to disk, with the arrays the
    uncapped session builds and a page that follows the rule. One core, so
    one task at a time owns the pool and the spill does not depend on how
    tasks overlap. At 512 MB this aggregation failed with
    UNABLE_TO_ACQUIRE_MEMORY at a fraction of 0.005 (a 1.1 MB pool),
    spilled at 0.01–0.025 (565 171 bytes at 0.015, the same in two runs)
    and spilled nothing at 0.03 (6.7 MB)."""
    heap, fraction = "512m", "0.015"
    script = _CAPPED_SESSION.format(root=ROOT, heap=heap, fraction=fraction, sf_dir=sf_dir)
    run = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert run.returncode == 0, run.stderr[-3000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    want = doc_shingle_arrays(docs, "text", "doc_id", 5).selectExpr(
        "count(*)", "sum(size(shs))"
    ).first()
    assert (got["n_docs"], got["n_shingles"]) == tuple(want)
    assert got["spilled"] > 0, got
    assert got["page"] == page_size_bytes(heap, float(fraction)) == MB - 16
    assert PAGE_TABLE_SIZE * got["page"] >= got["pool"]
