"""Streaming-semantics tests (SURVEY.md §5.3): watermark late-drop, left
interval-join watermark tail, CDF incremental == batch, bronze fan-out stream."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from adventureworkslakehousepoc_spark.catalog import load_tables
from adventureworkslakehousepoc_spark.operators.joins import interval_join
from adventureworkslakehousepoc_spark.queries.streaming_queries import _build_change_log
from adventureworkslakehousepoc_spark.streaming.runner import run_available_now, scratch_dir, stream_table


def test_watermark_drops_late_rows(spark):
    """A row arriving in a later micro-batch, with event time > watermark
    behind, must not resurrect its (already finalized) window."""
    src = scratch_dir("late")
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00"), (2, "2024-01-01 10:10:00"), (3, "2024-01-01 12:30:00")],
        "id int, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    bump = spark.createDataFrame([(4, "2024-01-01 12:31:00")], "id int, ts_s string").select(
        "id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    late = spark.createDataFrame([(99, "2024-01-01 10:20:00")], "id int, ts_s string").select(
        "id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    f1 = os.path.join(src, "b1.parquet")
    f2 = os.path.join(src, "b2.parquet")
    f3 = os.path.join(src, "b3.parquet")
    on_time.toPandas().to_parquet(f1, coerce_timestamps="us")
    bump.toPandas().to_parquet(f2, coerce_timestamps="us")
    late.toPandas().to_parquet(f3, coerce_timestamps="us")
    now = time.time()
    # the late-events filter uses the previous batch's watermark, so the late
    # row must arrive ≥2 batches after the rows that advanced the watermark
    os.utime(f1, (now - 100, now - 100))
    os.utime(f2, (now - 60, now - 60))
    os.utime(f3, (now - 20, now - 20))

    stream = (
        spark.readStream.schema(on_time.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    result = {r.ws.strftime("%H"): r.n for r in run_available_now(agg, "late-drop").collect()}
    # 10:00 window finalized with 2 rows once the watermark (12:25) passed;
    # the late id=99 (10:20) arriving afterwards is behind the watermark → dropped
    assert result.get("10") == 2
    # batch semantics would have counted 3
    assert on_time.unionAll(late).filter(F.hour("ts") == 10).count() == 3


def test_left_interval_join_stream_is_prefix_of_batch(spark, sf_dir):
    """LEFT interval join: matched rows equal the batch join; null-padded rows
    only emit once the watermark passes (the tail stays buffered at stream
    end) — SURVEY.md §4.3 hazard, asserted as subset semantics."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]

    def sides(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        return p, c

    bp, bc = sides(ev)
    batch = interval_join(
        bp, bc, [("user_id", "click_user")], "purchase_ts", "click_ts",
        "10 minutes", "10 minutes", "left",
    ).select("l.purchase_id", "r.click_id")
    sp, sc = sides(stream_table(spark, sf_dir, "events"))
    sp2, sc2 = sides(stream_table(spark, sf_dir, "events"))
    streamed = interval_join(
        sp.withWatermark("purchase_ts", "5 minutes"),
        sc2.withWatermark("click_ts", "5 minutes"),
        [("user_id", "click_user")], "purchase_ts", "click_ts",
        "10 minutes", "10 minutes", "left",
    ).select("l.purchase_id", "r.click_id")
    got = run_available_now(streamed, "left-interval")

    batch_rows = {(r.purchase_id, r.click_id) for r in batch.collect()}
    got_rows = {(r.purchase_id, r.click_id) for r in got.collect()}
    assert got_rows <= batch_rows
    # every matched (non-null) pair must be present — only null-padded tails may lag
    matched = {p for p in batch_rows if p[1] is not None}
    assert matched <= got_rows


def test_cdf_stream_equals_batch_log(spark, sf_dir):
    cf = _build_change_log(spark, sf_dir)
    streamed = run_available_now(cf.read_stream(spark), "cdf-eq")
    batch = cf.read_batch(spark)
    assert streamed.count() == batch.count()
    s_by_type = dict(streamed.groupBy("_change_type").count().collect())
    b_by_type = dict(batch.groupBy("_change_type").count().collect())
    assert s_by_type == b_by_type


def test_bronze_fanout_streaming_passthrough(spark, sf_dir):
    """S9 bronze staging as a stream: passthrough stg_events == source."""
    src = load_tables(spark, sf_dir, ("events",))["events"]
    streamed = run_available_now(stream_table(spark, sf_dir, "events"), "stg-events")
    assert streamed.count() == src.count()
    assert streamed.columns == src.columns
    s_sum = streamed.agg(F.sum("event_id")).collect()[0][0]
    b_sum = src.agg(F.sum("event_id")).collect()[0][0]
    assert s_sum == b_sum


def test_streaming_dedup_removes_replayed_duplicates(spark, sf_dir):
    """copies=2 really replays every row twice, and the watermarked dedup
    collapses them back to one row per event_id."""
    from adventureworkslakehousepoc_spark.streaming.runner import (
        run_available_now,
        stream_table,
    )

    from adventureworkslakehousepoc_spark.catalog import load_tables

    base = load_tables(spark, sf_dir, ("events",))["events"].count()
    doubled = run_available_now(
        stream_table(spark, sf_dir, "events", copies=2).select("event_id"), "dup-raw"
    )
    assert doubled.count() == 2 * base
    deduped = run_available_now(
        stream_table(spark, sf_dir, "events", copies=2)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id"),
        "dup-clean",
    )
    assert deduped.count() == base
    assert deduped.distinct().count() == base


def test_st_hll_maintenance_equals_batch(spark, sf_dir):
    """The streamed, micro-batch-appended, MAX-merged register store must
    produce the exact same one-row summary as the batch sketch — the
    associativity contract under real multi-batch streaming execution."""
    from adventureworkslakehousepoc_spark.queries.extensions import (
        hll_distinct_tokens_q,
    )
    from adventureworkslakehousepoc_spark.queries.streaming_queries import (
        st_hll_sketch_maintenance,
    )

    streamed = {tuple(r) for r in st_hll_sketch_maintenance(spark, sf_dir).collect()}
    batch = {tuple(r) for r in hll_distinct_tokens_q(spark, sf_dir).collect()}
    assert streamed == batch and len(streamed) == 1


def test_stage_stream_dir_expands_directory_tables(spark, tmp_path):
    """A Spark-written directory table staged for streaming must expose
    its part files to the file source (a directory symlinked under a
    *.parquet name streams ZERO rows silently — regression from the 30x
    probe whose scaled tables are Spark-written)."""
    import os

    from adventureworkslakehousepoc_spark.streaming.runner import (
        run_available_now,
        stage_stream_dir,
    )

    src = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr("id", "id % 7 as k").repartition(4).write.parquet(src)
    staged = stage_stream_dir(src)
    links = sorted(os.listdir(staged))
    assert len(links) >= 4
    # every staged entry must resolve to a FILE — a directory here is the bug
    assert all(
        not os.path.isdir(os.path.realpath(os.path.join(staged, l))) for l in links
    )
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(staged)
    out = run_available_now(stream, "stage-dir-test")
    assert out.count() == 100


def test_stage_stream_dir_preserves_hive_partition_columns(spark, tmp_path):
    """Round-11 advice fix: a hive-partitioned table's partition-column
    values live in the key=value directory names — staging must recreate
    that structure, or the stream silently drops/mistypes the column."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.streaming.runner import (
        stage_stream_dir,
    )

    tbl = str(tmp_path / "t.parquet")
    spark.range(20).select("id", (F.col("id") % 3).alias("pk")).write.partitionBy(
        "pk"
    ).parquet(tbl)
    staged = stage_stream_dir(tbl)
    sdf = spark.readStream.schema("id bigint, pk bigint").parquet(staged)
    q = (
        sdf.groupBy("pk")
        .count()
        .writeStream.format("memory")
        .queryName("hive_stage_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.pk: r["count"]
        for r in spark.sql("select * from hive_stage_test").collect()
    }
    assert got == {0: 7, 1: 7, 2: 6}


def test_stage_stream_dir_rejects_mixed_partition_layouts(spark, tmp_path):
    """Round-12 advice fix: mixing a hive-partitioned table with a flat
    file (or two tables with different partition keys) under one staging
    root gives Spark partition discovery mixed directory depths, which it
    rejects or mis-infers far from the cause — staging must raise HERE,
    naming both layouts."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.streaming.runner import (
        stage_stream_dir,
    )

    part = str(tmp_path / "part.parquet")
    spark.range(6).select("id", (F.col("id") % 2).alias("pk")).write.partitionBy(
        "pk"
    ).parquet(part)
    flat = str(tmp_path / "flat.parquet")
    spark.range(4).coalesce(1).write.parquet(flat)

    with _pytest.raises(ValueError, match="mixed partition layouts"):
        stage_stream_dir(part, flat)

    other = str(tmp_path / "other.parquet")
    spark.range(6).select("id", (F.col("id") % 2).alias("qk")).write.partitionBy(
        "qk"
    ).parquet(other)
    with _pytest.raises(ValueError, match="mixed partition layouts"):
        stage_stream_dir(part, other)

    # same layout still stages fine
    assert stage_stream_dir(part, part)
