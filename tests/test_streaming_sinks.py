"""foreachBatch upsert sink, applyInPandasWithState custom stateful operator,
and the full streaming medallion DAG (stream driving path + static dims)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from adventureworkslakehousepoc_spark.catalog import load_tables
from adventureworkslakehousepoc_spark.pipelines.medallion import (
    medallion_context,
    medallion_streaming_context,
)
from adventureworkslakehousepoc_spark.queries.streaming_queries import _build_change_log
from adventureworkslakehousepoc_spark.streaming.runner import (
    run_available_now,
    run_foreach_batch,
    scratch_dir,
)
from adventureworkslakehousepoc_spark.streaming.sinks import (
    foreach_batch_upsert,
    running_counts_with_state,
)


def test_foreach_batch_upsert_matches_snapshot(spark, sf_dir):
    """Streaming MERGE emulation: applying the change stream via foreachBatch
    must land the same final state as batch snapshot compaction."""
    cf = _build_change_log(spark, sf_dir)
    state_dir = scratch_dir("upsert") + "/state"
    ckpt = scratch_dir("upsert-ck")
    foreach_batch_upsert(cf.read_stream(spark), state_dir, ["c_custkey"], ckpt)
    got = spark.read.parquet(state_dir)
    expected = cf.latest_snapshot(spark, ["c_custkey"])
    assert got.count() == expected.count()
    g = {r.c_custkey: (r.c_name, r.c_acctbal) for r in got.collect()}
    e = {r.c_custkey: (r.c_name, r.c_acctbal) for r in expected.collect()}
    assert g == e


def test_foreach_batch_upsert_incremental_batches(spark, sf_dir):
    """The MERGE emulation across runs: the second run starts from a
    populated state table (whose snapshot has NO CDF metadata columns) and
    must re-attach version -1 metadata before the union — the multi-batch
    path that a single-run test never reaches."""
    import shutil

    from adventureworkslakehousepoc_spark.streaming.cdf import ChangeFeed

    path = scratch_dir("inc-cdf") + "/log"
    state_dir = scratch_dir("inc-upsert") + "/state"
    ckpt = scratch_dir("inc-upsert-ck")
    shutil.rmtree(path, ignore_errors=True)
    cf = ChangeFeed(path)
    base = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    # run 1: inserts only
    cf.write(base, "insert", 1, "2024-01-01 00:00:00")
    foreach_batch_upsert(cf.read_stream(spark), state_dir, ["c_custkey"], ckpt)
    assert spark.read.parquet(state_dir).count() == base.count()

    # run 2: updates + deletes appended; same checkpoint picks up only new files
    updated = base.filter((F.col("c_custkey") % 5) == 0)
    cf.write(updated, "update_preimage", 2, "2024-01-02 00:00:00")
    cf.write(
        updated.withColumn("c_name", F.upper("c_name")).withColumn(
            "c_acctbal", F.col("c_acctbal") + 100.0
        ),
        "update_postimage", 2, "2024-01-02 00:00:00",
    )
    cf.write(base.filter((F.col("c_custkey") % 7) == 0), "delete", 3, "2024-01-03 00:00:00")
    foreach_batch_upsert(cf.read_stream(spark), state_dir, ["c_custkey"], ckpt)

    got = {r.c_custkey: (r.c_name, r.c_acctbal) for r in spark.read.parquet(state_dir).collect()}
    expected = {
        r.c_custkey: (r.c_name, r.c_acctbal)
        for r in cf.latest_snapshot(spark, ["c_custkey"]).collect()
    }
    assert got == expected
    # each batch's snapshot is swapped in whole: no staging copy is left
    assert sorted(os.listdir(os.path.dirname(state_dir))) == ["state"]


def test_apply_in_pandas_with_state_running_counts(spark, sf_dir):
    from adventureworkslakehousepoc_spark.streaming.runner import stream_table

    ev = stream_table(spark, sf_dir, "events")
    counts = running_counts_with_state(ev)
    got = run_available_now_update(counts)
    batch = (
        load_tables(spark, sf_dir, ("events",))["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )
    # final state per key (last emitted row) must equal the batch aggregate
    latest = {}
    for r in got.collect():
        latest[r.user_id] = (r.n_events, r.value_cents)
    for r in batch.collect():
        assert latest[r.user_id] == (r.n_events, r.value_cents), r.user_id


def run_available_now_update(df):
    """Every row a stateful stream emits (update mode), across its batches."""
    collected = []
    run_foreach_batch(df, lambda batch_df, _id: collected.extend(batch_df.collect()))
    return df.sparkSession.createDataFrame(collected, df.schema)


def test_streaming_medallion_dag_equals_batch(spark, sf_dir):
    """The registry's stream-static silver path: dim_geo/dim_product built
    from streaming bronze passthroughs + static dims == the batch datasets."""
    s_ctx = medallion_streaming_context(spark, sf_dir)
    b_ctx = medallion_context(spark, sf_dir)
    for name in ("dim_geo", "dim_product"):
        sdf = s_ctx.dataframe(name)
        assert sdf.isStreaming
        got = run_available_now(sdf, f"med-{name}")
        want = b_ctx.dataframe(name)
        assert got.count() == want.count(), name
        key = "geography_id" if name == "dim_geo" else "product_id"
        g = sorted(map(tuple, got.collect()))
        w = sorted(map(tuple, want.collect()))
        assert g == w, name


def test_foreach_batch_upsert_one_file_per_microbatch(spark, sf_dir):
    """Same run, MANY micro-batches: maxFilesPerTrigger=1 forces the file
    source to deliver the change log one file per batch (mod-time order =
    commit order), so the upsert's state-reload path runs within a single
    streaming query — the final state must still equal snapshot compaction."""
    import shutil

    from adventureworkslakehousepoc_spark.streaming.cdf import ChangeFeed

    path = scratch_dir("mb-cdf") + "/log"
    state_dir = scratch_dir("mb-upsert") + "/state"
    ckpt = scratch_dir("mb-upsert-ck")
    shutil.rmtree(path, ignore_errors=True)
    cf = ChangeFeed(path)
    base = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey", "c_name", "c_acctbal"
    )
    cf.write(base, "insert", 1, "2024-01-01 00:00:00")
    updated = base.filter((F.col("c_custkey") % 5) == 0)
    cf.write(
        updated.withColumn("c_acctbal", F.col("c_acctbal") + 100.0),
        "update_postimage", 2, "2024-01-02 00:00:00",
    )
    cf.write(base.filter((F.col("c_custkey") % 7) == 0), "delete", 3, "2024-01-03 00:00:00")

    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    foreach_batch_upsert(stream, state_dir, ["c_custkey"], ckpt)

    got = {r.c_custkey: r.c_acctbal for r in spark.read.parquet(state_dir).collect()}
    expected = {
        r.c_custkey: r.c_acctbal
        for r in cf.latest_snapshot(spark, ["c_custkey"]).collect()
    }
    assert got == expected


def test_transform_with_state_running_max(spark, sf_dir):
    """Spark 4 transformWithStateInPandas path — skipped where the sandbox's
    google.protobuf lacks compiled descriptors (probed, not assumed)."""
    import pytest

    from adventureworkslakehousepoc_spark.streaming.sinks import (
        running_max_with_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf descriptors unavailable: TWS driver worker cannot start")
    from adventureworkslakehousepoc_spark.streaming.runner import stream_table

    tws = running_max_with_tws(stream_table(spark, sf_dir, "events"))
    got = {r.user_id: (r.n_events, r.max_cents) for r in run_available_now_update(tws).collect()}
    batch = (
        load_tables(spark, sf_dir, ("events",))["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.round(F.col("value") * 100).cast("bigint")).alias("mx"),
        )
    )
    for r in batch.collect():
        assert got[r.user_id] == (r.n, r.mx), r.user_id


def test_snapshot_diff_classifies_all_three_change_types(spark):
    """Synthetic 2-version log exercising every diff leg (the driver query's
    deterministic customer log never produces `added`): v1 holds keys 1,2,3;
    v2 updates 1 (one column), deletes 2, inserts 4 — so 1=updated(1 col),
    2=removed, 4=added, 3 silent."""
    import shutil

    from adventureworkslakehousepoc_spark.streaming.cdf import ChangeFeed, snapshot_diff

    path = scratch_dir("cdfdiff")
    shutil.rmtree(path, ignore_errors=True)
    cf = ChangeFeed(path)
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, a string, b bigint")
    cf.write(mk([(1, "x", 10), (2, "y", 20), (3, "z", 30)]), "insert", 1, "2024-01-01 00:00:00")
    cf.write(mk([(1, "x", 10)]), "update_preimage", 2, "2024-01-02 00:00:00")
    cf.write(mk([(1, "x2", 10)]), "update_postimage", 2, "2024-01-02 00:00:00")
    cf.write(mk([(2, "y", 20)]), "delete", 2, "2024-01-02 00:00:00")
    cf.write(mk([(4, "w", 40)]), "insert", 2, "2024-01-02 00:00:00")
    got = {
        r["k"]: (r["change_type"], r["n_changed_cols"])
        for r in snapshot_diff(cf.read_batch(spark), ["k"], 1, 2).collect()
    }
    assert got == {1: ("updated", 1), 2: ("removed", None), 4: ("added", None)}
    # identical versions diff to nothing
    assert snapshot_diff(cf.read_batch(spark), ["k"], 2, 2).count() == 0


def test_incremental_aggregate_merge_applies_multiple_batches(spark, sf_dir):
    """The streaming IVM sink must actually run incrementally (one
    micro-batch per staged file) and its merged state must equal the full
    batch aggregate."""

    from adventureworkslakehousepoc_spark.streaming.runner import stage_stream_dir
    from adventureworkslakehousepoc_spark.streaming.sinks import (
        foreach_batch_merge_aggregates,
        read_merge_state,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    files = []
    for i in range(3):
        d = scratch_dir(f"ivmtest-slice{i}")
        ev.filter((F.col("event_id") % 3) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        files.append(
            os.path.join(d, sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0])
        )
    src = stage_stream_dir(*files)
    schema = spark.read.parquet(files[0]).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    def partials(b):
        return b.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("value_cents"),
        )

    state = scratch_dir("ivmtest-state")
    os.rmdir(state)
    ckpt = scratch_dir("ivmtest-ckpt")
    n = foreach_batch_merge_aggregates(stream, state, ["user_id"], partials, ckpt)
    assert n >= 2, f"expected multiple micro-batches, got {n}"
    got = {r["user_id"]: (r["n_events"], r["value_cents"])
           for r in read_merge_state(spark, state).collect()}
    full = {r["user_id"]: (r["n"], r["cents"])
            for r in ev.groupBy("user_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents"),
            ).collect()}
    assert got == full
    # Idempotency under TRUE re-delivery: foreachBatch redelivers a batch
    # when the commit marker is missing after a crash. Simulate it by
    # deleting the last commit from the SAME checkpoint and restarting —
    # the final batch is re-run with its original batch_id, and the skip
    # logic (same lineage, batch_id <= last applied) must no-op it.
    import time

    for _ in range(100):  # restart on the SAME checkpoint needs the first
        if not spark.streams.active:  # query fully deregistered
            break
        time.sleep(0.1)
    commits = os.path.join(ckpt, "commits")
    last_commit = sorted(
        f for f in os.listdir(commits) if not f.startswith(".")
    )[-1]
    os.remove(os.path.join(commits, last_commit))
    crc = os.path.join(commits, f".{last_commit}.crc")  # Hadoop checksum
    if os.path.exists(crc):  # sidecar blocks the re-written commit's rename
        os.remove(crc)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    n2 = foreach_batch_merge_aggregates(stream2, state, ["user_id"], partials, ckpt)
    assert n2 == 0, f"redelivered batches were applied: {n2}"
    got2 = {r["user_id"]: (r["n_events"], r["value_cents"])
            for r in read_merge_state(spark, state).collect()}
    assert got2 == full


def test_merge_state_new_checkpoint_lineage_not_swallowed(spark, sf_dir):
    """Batch ids are only monotonic within ONE checkpoint lineage: a fresh
    checkpoint pointed at an existing state_dir restarts ids at 0, and the
    old batch_id-only dedup silently dropped its first batches as
    'redeliveries'. The lineage id recorded in _CURRENT must scope the
    skip so genuinely new data merges in."""

    from adventureworkslakehousepoc_spark.streaming.runner import stage_stream_dir
    from adventureworkslakehousepoc_spark.streaming.sinks import (
        foreach_batch_merge_aggregates,
        read_merge_state,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]

    def stage_slice(pred, tag):
        d = scratch_dir(f"lineage-{tag}")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(d)
        f = sorted(x for x in os.listdir(d) if x.endswith(".parquet"))[0]
        return stage_stream_dir(os.path.join(d, f))

    def partials(b):
        return b.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        )

    schema = ev.schema
    state = scratch_dir("lineage-state")
    os.rmdir(state)
    # lineage 1: even event ids
    src1 = stage_slice((F.col("event_id") % 2) == 0, "a")
    s1 = spark.readStream.schema(schema).parquet(src1)
    ckpt1 = scratch_dir("lineage-ck1")
    n1 = foreach_batch_merge_aggregates(s1, state, ["user_id"], partials, ckpt1)
    assert n1 >= 1
    # lineage 2: odd event ids, FRESH checkpoint, same state_dir — its
    # batch 0 must be applied, not skipped
    src2 = stage_slice((F.col("event_id") % 2) == 1, "b")
    s2 = spark.readStream.schema(schema).parquet(src2)
    ckpt2 = scratch_dir("lineage-ck2")
    n2 = foreach_batch_merge_aggregates(s2, state, ["user_id"], partials, ckpt2)
    assert n2 >= 1, "fresh-lineage batches were swallowed as redeliveries"
    got = {r["user_id"]: r["n_events"]
           for r in read_merge_state(spark, state).collect()}
    full = {r["user_id"]: r["n"]
            for r in ev.groupBy("user_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n")).collect()}
    assert got == full
