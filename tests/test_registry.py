"""Dataset registry / pipeline DAG tests (plans/registry.py — the DLT-layer
equivalent, SURVEY.md §3)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from adventureworkslakehousepoc_spark.catalog import load_tables
from adventureworkslakehousepoc_spark.pipelines.medallion import medallion_context
from adventureworkslakehousepoc_spark.plans.audit import StatusWindow
from adventureworkslakehousepoc_spark.plans.registry import DatasetRegistry, PipelineContext
from adventureworkslakehousepoc_spark.streaming.runner import scratch_dir


def test_lazy_topological_resolution(spark):
    dp = DatasetRegistry()
    order = []

    @dp.table(name="a")
    def a(ctx):
        order.append("a")
        return ctx.spark.range(3).withColumnRenamed("id", "x")

    @dp.table(name="b")
    def b(ctx):
        order.append("b")
        return ctx.read("a").withColumn("y", F.col("x") * 2)

    @dp.table(name="c")
    def c(ctx):
        order.append("c")
        return ctx.read("b").join(ctx.read("a"), "x")

    ctx = PipelineContext(dp, spark)
    df = ctx.dataframe("c")
    assert order == ["c", "b", "a"]  # lazy: pulled in dependency order
    assert df.count() == 3
    # memoized: resolving again builds nothing new
    ctx.dataframe("b")
    assert order == ["c", "b", "a"]


def test_cycle_detection(spark):
    dp = DatasetRegistry()

    @dp.table(name="x")
    def x(ctx):
        return ctx.read("y")

    @dp.table(name="y")
    def y(ctx):
        return ctx.read("x")

    with pytest.raises(ValueError, match="cycle"):
        PipelineContext(dp, spark).dataframe("x")


def test_duplicate_registration_rejected():
    dp = DatasetRegistry()

    @dp.table(name="t")
    def t1(ctx):
        return None

    with pytest.raises(ValueError, match="twice"):

        @dp.table(name="t")
        def t2(ctx):
            return None


def test_medallion_run_materializes_warehouse(spark, sf_dir):
    """End-to-end pipeline run (SURVEY.md §5.2): every silver dataset lands as
    parquet; fact_weather recomputed from the materialized warehouse matches
    the in-memory plan."""
    ctx = medallion_context(spark, sf_dir)
    wh = scratch_dir("wh")
    out = ctx.run(wh, names=["dim_geo", "dim_product", "fact_sales", "fact_weather"])
    assert set(out) == {"dim_geo", "dim_product", "fact_sales", "fact_weather"}
    for name, path in out.items():
        assert os.path.isdir(path)
        materialized = spark.read.parquet(path)
        live = ctx.dataframe(name)
        assert materialized.count() == live.count(), name
        assert set(materialized.columns) == set(live.columns), name
    base = load_tables(spark, sf_dir, ("customer",))["customer"]
    assert spark.read.parquet(out["dim_geo"]).count() == base.count()


def test_partitioned_write(spark, sf_dir):
    """S8 at scale: facts partitioned by date at write time (SURVEY §4.4)."""
    ctx = medallion_context(spark, sf_dir)
    wh = scratch_dir("whp")
    out = ctx.run(wh, names=["fact_sales"], partition_by={"fact_sales": ["order_date"]})
    parts = sorted(
        d
        for d in os.listdir(out["fact_sales"])
        if d.startswith("order_date=") and "__HIVE_DEFAULT_PARTITION__" not in d
    )
    assert len(parts) > 1
    back = spark.read.parquet(out["fact_sales"])
    assert back.count() == ctx.dataframe("fact_sales").count()
    # partition pruning: a single-date read must reach the scan as a
    # PartitionFilter (directory-level skip), not a post-scan filter
    one = parts[0].split("=", 1)[1]
    pruned = back.filter(F.col("order_date") == one)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "order_date" in m.group(1), (
        f"date predicate did not reach the scan as a PartitionFilter:\n{plan[:800]}"
    )
    assert pruned.count() > 0
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "order_date" in pf[1].split("]", 1)[0], plan[:1200]


def _days_ctx(spark, rows):
    """One dataset ``days`` of (id, day): ``rows`` ids spread round-robin over
    4 input partitions, day = 2024-01-01 + id % 50, NULL when id % 50 == 49."""
    dp = DatasetRegistry()

    @dp.table(name="days")
    def days(ctx):
        step = (F.col("id") % 50).cast("int")
        day = F.when(step != 49, F.date_add(F.lit("2024-01-01").cast("date"), step))
        return ctx.spark.range(rows).repartition(4).select("id", day.alias("day"))

    return PipelineContext(dp, spark)


def test_run_rejects_unregistered_partition_by_name(spark):
    ctx = _days_ctx(spark, 10)
    wh = scratch_dir("whu")
    with pytest.raises(ValueError, match="'dys'"):
        ctx.run(wh, partition_by={"dys": ["day"]})
    assert os.listdir(wh) == []


def test_partitioned_run_writes_one_file_per_partition_value(spark):
    """A dataset arriving in 4 input partitions is hash-distributed on its
    partition column before the write: each day directory holds exactly one
    file (the input layout alone would give up to 4) and a NULL day is one
    ``__HIVE_DEFAULT_PARTITION__`` file that reads back as NULL."""
    ctx = _days_ctx(spark, 600)
    wh = scratch_dir("whl")
    window = StatusWindow(spark)
    path = ctx.run(wh, partition_by={"days": ["day"]})["days"]
    run = window.executions()
    dirs = [d for d in os.listdir(path) if d.startswith("day=")]
    assert len(dirs) == 50
    assert "day=__HIVE_DEFAULT_PARTITION__" in dirs
    for d in dirs:
        files = os.listdir(os.path.join(path, d))
        assert len([f for f in files if f.startswith("part-") and f.endswith(".parquet")]) == 1, d

    back = spark.read.parquet(path)
    live = ctx.dataframe("days")
    assert back.dtypes == live.dtypes
    assert back.exceptAll(live).count() == 0
    assert live.exceptAll(back).count() == 0
    assert back.filter(F.col("day").isNull()).count() == 12

    n = spark.sparkContext.defaultParallelism
    writes = [
        e.description
        for e in run
        if "InsertIntoHadoopFsRelationCommand" in e.description and path in e.description
    ]
    assert writes and re.search(rf"hashpartitioning\(day#\d+, {n}\)", writes[-1]), writes


def test_partitioned_run_of_empty_dataset_writes_no_partitions(spark):
    ctx = _days_ctx(spark, 0)
    wh = scratch_dir("whe")
    path = ctx.run(wh, partition_by={"days": ["day"]})["days"]
    assert [d for d in os.listdir(path) if d.startswith("day=")] == []


def test_three_part_names_in_catalog(spark, sf_dir):
    """§1.1 three-level namespace: catalog.schema.table flattens through
    `qualified()` into real Spark catalog databases + tables."""
    from adventureworkslakehousepoc_spark.catalog import qualified, split_qualified

    import shutil

    name = qualified("dev_bronze", "stg_sales", "stg_customer")
    assert name == "dev_bronze__stg_sales__stg_customer"
    assert split_qualified(name) == ("dev_bronze", "stg_sales", "stg_customer")
    spark.sql("CREATE DATABASE IF NOT EXISTS dev_bronze__stg_sales")
    spark.sql("DROP TABLE IF EXISTS dev_bronze__stg_sales.stg_customer")
    # a prior interrupted run can leave the managed location behind without a
    # catalog entry — Spark refuses to reuse it (LOCATION_ALREADY_EXISTS)
    loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    stale = os.path.join(loc.removeprefix("file:"), "dev_bronze__stg_sales.db", "stg_customer")
    shutil.rmtree(stale, ignore_errors=True)
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    c.write.mode("overwrite").saveAsTable("dev_bronze__stg_sales.stg_customer")
    back = spark.table("dev_bronze__stg_sales.stg_customer")
    assert back.count() == c.count()
    assert "stg_customer" in [t.name for t in spark.catalog.listTables("dev_bronze__stg_sales")]


def test_registry_comments_describe(spark):
    from adventureworkslakehousepoc_spark.pipelines.medallion import build_medallion

    dp = build_medallion()
    defs = {n: dp.get(n).comment for n in dp.names()}
    assert "dim_geo" in defs and "geography" in defs["dim_geo"]
    assert all(defs[n] for n in ("dim_product", "fact_sales", "fact_weather"))


def test_malformed_csv_quarantine(spark):
    """The resilient CSV reader keeps every clean row and quarantines exactly
    the malformed lines, carrying their raw text for triage."""
    from adventureworkslakehousepoc_spark.queries.parity import (
        _CSV_ROWS,
        ensure_malformed_csv,
    )
    from adventureworkslakehousepoc_spark.sources.files import (
        read_csv_resilient,
        split_valid_corrupt,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("station_id", T.StringType(), True),
            T.StructField("date_str", T.StringType(), True),
            T.StructField("element", T.StringType(), True),
            T.StructField("value", T.IntegerType(), True),
            T.StructField("mflag", T.StringType(), True),
            T.StructField("qflag", T.StringType(), True),
            T.StructField("sflag", T.StringType(), True),
            T.StructField("obs_time", T.StringType(), True),
        ]
    )
    valid, corrupt = split_valid_corrupt(
        read_csv_resilient(spark, ensure_malformed_csv(), schema)
    )
    assert valid.count() == len(_CSV_ROWS)
    bad = [r.raw_line for r in corrupt.collect()]
    assert len(bad) == 2
    assert any("NOT A CSV RECORD" in b for b in bad)
    assert any("not_an_int" in b for b in bad)


def test_three_part_namespace_resolves_via_real_catalog(spark, sf_dir):
    """catalog.schema.table lands on a real database + external table and is
    addressable with three-part spark_catalog SQL (reference:
    sales_aw_silver_layer_dim_customer.py:10-11 Unity-style names)."""
    import os

    from adventureworkslakehousepoc_spark.catalog import (
        read_three_part,
        register_external_table,
    )

    spark.sql("DROP TABLE IF EXISTS `dev_bronze_stg_sales`.`stg_customer`")
    two_part = register_external_table(
        spark,
        os.path.join(sf_dir, "customer.parquet"),
        "dev_bronze",
        "stg_sales",
        "stg_customer",
    )
    assert two_part == "dev_bronze_stg_sales.stg_customer"
    via_helper = read_three_part(spark, "dev_bronze", "stg_sales", "stg_customer")
    direct = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    assert via_helper.count() == direct.count()
    # full three-part SQL addressing through the session catalog
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM spark_catalog.dev_bronze_stg_sales.stg_customer"
    ).collect()[0].n
    assert n == direct.count()
    assert spark.catalog.tableExists("dev_bronze_stg_sales.stg_customer")


def test_external_table_location_with_quote_registers(spark, sf_dir, tmp_path):
    """LOCATION is a SQL string literal: a directory named ``it's`` used to
    end the literal early and raise ParseException."""
    import shutil

    from adventureworkslakehousepoc_spark.catalog import register_external_table

    d = tmp_path / "it's"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "region.parquet"), d)
    spark.sql("DROP TABLE IF EXISTS `dev_bronze_quoted`.`region`")
    name = register_external_table(spark, str(d), "dev_bronze", "quoted", "region")
    assert spark.table(name).count() == 5


def _ts_encodings():
    """The same three `events` rows with ts in each of the three parquet
    physical encodings the driver has produced."""
    import datetime as dt

    import pyarrow as pa

    stamps = [
        dt.datetime(2024, 5, 1, 12, 0, 0),
        dt.datetime(2024, 5, 1, 12, 0, 0, 250000),
        dt.datetime(2024, 5, 2, 23, 59, 59, 999999),
    ]
    ids = list(range(len(stamps)))
    return {
        "nanos": pa.table(
            {"event_id": ids, "ts": pa.array(stamps, type=pa.timestamp("ns"))}
        ),
        "us_ntz": pa.table(
            {"event_id": ids, "ts": pa.array(stamps, type=pa.timestamp("us"))}
        ),
        "us_utc": pa.table(
            {"event_id": ids, "ts": pa.array(stamps, type=pa.timestamp("us", tz="UTC"))}
        ),
    }


def _loaded_ts(spark, sf_dir, tag):
    from pyspark.sql.types import TimestampType

    df = load_tables(spark, sf_dir, ("events",))["events"]
    (ts_field,) = [f for f in df.schema.fields if f.name == "ts"]
    assert isinstance(ts_field.dataType, TimestampType), (
        f"{tag}: ts loaded as {ts_field.dataType}, want TimestampType"
    )
    return {r.event_id: r.ts for r in df.collect()}


def test_timestamp_encoding_drift_guard(spark, tmp_path):
    """Regression tripwire for the round-3 NTZ outage: the driver may
    regenerate `events` with its ts column in any of three parquet physical
    encodings — TIMESTAMP(NANOS) (read as bigint under nanosAsLong),
    TIMESTAMP(MICROS) isAdjustedToUTC=false (reads as TIMESTAMP_NTZ), or
    TIMESTAMP(MICROS) isAdjustedToUTC=true (reads as TIMESTAMP). load_tables
    (catalog.py) must normalize ALL THREE to TimestampType with identical
    values; if the next regeneration changes encoding, this fails in one
    obvious place instead of zeroing half the correctness window."""
    import pyarrow.parquet as pq

    seen = {}
    for tag, tbl in _ts_encodings().items():
        d = tmp_path / tag
        d.mkdir()
        pq.write_table(tbl, d / "events.parquet", store_schema=False)
        seen[tag] = _loaded_ts(spark, str(d), tag)
    assert seen["nanos"] == seen["us_ntz"] == seen["us_utc"], (
        f"value drift across encodings: {seen}"
    )


def test_timestamp_encoding_rewritten_in_place_is_reinferred(spark, tmp_path):
    """The drift guard on ONE path: `events.parquet` is rewritten in place
    in each encoding and loaded after each write. load_tables memoizes each
    input file's schema, so a memo that outlived its file version would read
    the new encoding with the old schema and fail here."""
    import pyarrow.parquet as pq

    seen = {}
    for tag, tbl in _ts_encodings().items():
        pq.write_table(tbl, tmp_path / "events.parquet", store_schema=False)
        seen[tag] = _loaded_ts(spark, str(tmp_path), tag)
    assert seen["nanos"] == seen["us_ntz"] == seen["us_utc"], (
        f"value drift across in-place rewrites: {seen}"
    )


def test_second_load_and_stream_of_a_file_start_no_jobs(spark, sf_dir, tmp_path):
    """Schema inference runs a footer job the first time a file is read;
    every later load_tables / stream_table of the same file version takes
    the memoized schema and starts no Spark job."""
    import shutil

    from adventureworkslakehousepoc_spark.streaming.runner import stream_table

    for name in ("orders", "events"):
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path)
    for read in (
        lambda: load_tables(spark, str(tmp_path), ("orders",))["orders"],
        lambda: stream_table(spark, str(tmp_path), "events"),
    ):
        window = StatusWindow(spark)
        read()
        assert window.jobs(), "first read of a fresh file should infer its schema"
        window = StatusWindow(spark)
        df = read()
        assert not window.jobs()
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    """The memo holds schemas, not DataFrames: two loads of `orders` are
    distinct relations with their own attribute ids, so a self-join written
    with each side's column references resolves and counts as DuckDB's."""
    from tests.oracle_compare import duckdb_connection

    a = load_tables(spark, sf_dir, ("orders",))["orders"]
    b = load_tables(spark, sf_dir, ("orders",))["orders"]
    n = a.join(b, (a.o_custkey == b.o_custkey) & (a.o_orderkey < b.o_orderkey)).count()
    (want,) = duckdb_connection(sf_dir).execute(
        "SELECT COUNT(*) FROM orders a JOIN orders b"
        " ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey"
    ).fetchone()
    assert n == want > 0


def test_driver_window_schemas_are_scalar_only(batch_builds):
    """The scalar-only rule exists for the canonical comparator: it sorts
    tuples of scalar cells, and an array/map/struct/binary output column
    crashes it (`TypeError: unhashable type`), as an array column once did
    for the `agg_percentiles_approx` row. Every batch query must therefore
    emit scalar columns only; it reads the one build per query that the
    plan audit reads too (`batch_builds`)."""
    offenders = {}
    for name, build in batch_builds.items():
        nonscalar = {
            col: kind
            for col, kind in build.fields
            if kind.startswith(("array", "map", "struct", "binary"))
        }
        if nonscalar:
            offenders[name] = nonscalar
    assert not offenders, offenders


def test_query_registry_rejects_duplicate_names(monkeypatch):
    """A name registered twice, in one query module or in two, must raise
    instead of silently shadowing the first registration."""
    from adventureworkslakehousepoc_spark import queries as q
    from adventureworkslakehousepoc_spark.queries import parity, tpch_suite

    name = next(iter(parity.ORACLE))
    with pytest.raises(ValueError, match=re.escape(repr(name))):
        parity.query(name)(parity.QUERIES[name])
    monkeypatch.setitem(tpch_suite.QUERIES, name, parity.QUERIES[name])
    with pytest.raises(ValueError, match=re.escape(repr(name))):
        q.all_queries()
    monkeypatch.setitem(tpch_suite.ORACLE, name, parity.ORACLE[name])
    with pytest.raises(ValueError, match=re.escape(repr(name))):
        q.all_oracles()


def test_query_registry_import_does_no_file_io():
    """Importing the query registry and merging it reads no data files:
    no glob, and no open of a non-Python path under the repo."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import os, sys
repo = sys.argv[1]
sys.path.insert(0, repo)
seen = []

def hook(event, args):
    if event.startswith("glob.glob"):
        seen.append((event, args[0]))
    elif event == "open" and isinstance(args[0], (str, bytes)):
        path = os.path.abspath(os.fsdecode(args[0]))
        if path.startswith(repo + os.sep) and not path.endswith((".py", ".pyc")):
            seen.append((event, path))

sys.addaudithook(hook)
from adventureworkslakehousepoc_spark import queries
queries.all_queries()
queries.all_oracles()
print(seen)
"""
    out = subprocess.run(
        [sys.executable, "-c", script, repo],
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "[]", out.stdout


def test_ledger_fingerprints_are_current():
    """tests/oracle_fingerprints.json pins one 16-hex-digit fingerprint per
    registered oracle and no stale names; test_query_matches_oracle checks
    each value against its DuckDB result."""
    import __spark_entry__ as entry_mod
    from tests import oracle_fingerprints

    pinned, oracles = oracle_fingerprints.load(), set(entry_mod.oracle_sql())
    assert set(pinned) == oracles, set(pinned) ^ oracles
    assert all(re.fullmatch(r"[0-9a-f]{16}", v) for v in pinned.values()), pinned


def test_scratch_dirs_swept_at_interpreter_exit(tmp_path):
    """scratch_dir entries must be removed when the process exits — repeated
    bench/test runs in one long session must not accumulate temp dirs under
    the stream tmp root."""
    import subprocess
    import sys

    script = (
        "import os, sys; sys.path.insert(0, '/root/repo');"
        "os.environ['AWLH_STREAM_TMP'] = sys.argv[1];"
        "from adventureworkslakehousepoc_spark.streaming.runner import scratch_dir;"
        "print(scratch_dir('sweeptest'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        capture_output=True, text=True, check=True,
    )
    created = out.stdout.strip().splitlines()[-1]
    assert created.startswith(str(tmp_path))
    assert not os.path.exists(created), "scratch dir survived interpreter exit"


# ---------------------------------------------------------------------------
# Round-13: DLT-style expectations (plans/expectations.py)
# ---------------------------------------------------------------------------


def _exp_registry():
    from adventureworkslakehousepoc_spark.plans.expectations import (
        expect,
        expect_or_drop,
        expect_or_fail,
    )

    reg = DatasetRegistry()

    @reg.table("gated")
    @expect("has_name", "name IS NOT NULL")
    @expect_or_drop("positive", "v > 0")
    def gated(ctx):
        return ctx.read("raw")

    @reg.table("strict")
    @expect_or_fail("no_nulls", "v IS NOT NULL")
    def strict(ctx):
        return ctx.read("raw")

    return reg


def test_expectations_drop_and_keep_policies(spark):
    """drop removes violating rows (NULL condition = violation, plain SQL
    filter semantics); keep leaves rows untouched but is still counted."""
    raw = spark.createDataFrame(
        [(1, "a"), (-2, "b"), (None, None), (4, None)], "v int, name string"
    )
    ctx = PipelineContext(_exp_registry(), spark, catalog_reader=lambda n: raw)
    got = sorted(r.v for r in ctx.dataframe("gated").collect())
    assert got == [1, 4], got  # -2 and NULL dropped; NULL name kept


def test_expectations_fail_policy_aborts_update(spark):
    """expect_or_fail must abort the materialization on the first violating
    row — executor-side raise, not a silent NULL or a dropped row."""
    raw = spark.createDataFrame([(1, "a"), (None, "b")], "v int, name string")
    ctx = PipelineContext(_exp_registry(), spark, catalog_reader=lambda n: raw)
    with pytest.raises(Exception, match="no_nulls"):
        ctx.dataframe("strict").collect()
    # a clean table sails through the same gate
    ok = spark.createDataFrame([(1, "a")], "v int, name string")
    ctx2 = PipelineContext(_exp_registry(), spark, catalog_reader=lambda n: ok)
    assert ctx2.dataframe("strict").count() == 1


def test_expectations_observed_metrics_zero_extra_pass(spark, tmp_path):
    """With observe_expectations=True, run() harvests per-expectation
    violation counts from the SAME job that writes the table (CollectMetrics
    node) — counts are over PRE-enforcement rows, so drop victims are
    counted even though they never reach the sink."""
    raw = spark.createDataFrame(
        [(1, "a"), (-2, "b"), (None, None), (4, None)], "v int, name string"
    )
    ctx = PipelineContext(
        _exp_registry(),
        spark,
        catalog_reader=lambda n: raw,
        observe_expectations=True,
    )
    ctx.run(str(tmp_path), names=["gated"])
    m = ctx.expectation_metrics("gated")
    assert m["n_rows"] == 4
    assert m["positive"] == 2  # -2 and NULL v
    assert m["has_name"] == 2  # two NULL names (keep policy, still counted)
    # the materialized table holds only the surviving rows
    assert sorted(
        r.v for r in spark.read.parquet(str(tmp_path / "gated")).collect()
    ) == [1, 4]


def test_expectations_drop_filter_reaches_parquet_scan(spark, sf_dir):
    """Enforcement must stay plan-shaped: without the (opt-in) metrics node,
    a drop constraint is an ordinary predicate and lands in the scan's
    PushedFilters — the 100 TB posture the whole feature hangs on."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        expect_or_drop,
    )

    reg = DatasetRegistry()

    @reg.table("clean_docs")
    @expect_or_drop("min_len", "n_chars >= 100")
    def clean_docs(ctx):
        return ctx.read("documents")

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    ctx = PipelineContext(reg, spark, catalog_reader=lambda n: docs)
    plan = (
        ctx.dataframe("clean_docs")._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThanOrEqual(n_chars,100)" in plan, plan[:2000]


def test_expectations_duplicate_name_rejected_and_policy_validated():
    from adventureworkslakehousepoc_spark.plans.expectations import (
        Expectation,
        expect,
        expect_or_drop,
    )

    with pytest.raises(ValueError, match="policy"):
        Expectation("x", "v > 0", "warn_and_pray")

    with pytest.raises(ValueError, match="declared twice"):

        @expect("same", "v > 0")
        @expect_or_drop("same", "v < 9")
        def fn(ctx):  # pragma: no cover - never called
            return None


def test_expectation_counters_requires_expectations(spark):
    from adventureworkslakehousepoc_spark.plans.expectations import (
        expectation_counters,
    )

    df = spark.createDataFrame([(1,)], "v int")
    with pytest.raises(ValueError, match="no expectations"):
        expectation_counters(df, [])


@pytest.mark.parametrize(
    "name",
    [
        "expectations_violation_counters",
        "dq_expectations_orders",
        "st_expectations_counters",
    ],
)
def test_expectation_counters_match_oracle_on_empty_input(spark, empty_sf_dir, name):
    """Over an empty input table a violation count is a SUM over no rows
    and the ppm a ratio over no rows: both NULL, as the oracle's SQL gives
    them — batch, pass/fail and streamed counters alike."""
    import __spark_entry__ as entry_mod

    from .oracle_compare import compare_frames, duckdb_connection

    oracle = duckdb_connection(empty_sf_dir).execute(entry_mod.oracle_sql()[name]).df()
    assert len(oracle) > 0
    ok, msg = compare_frames(entry_mod.queries()[name](spark, empty_sf_dir), oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ["referential_integrity_audit", "cuped_adjusted_lift"])
def test_operator_matches_oracle_on_empty_tables(spark, empty_sf_dir, name):
    """Over empty tables: a relationship with no child rows has no orphan
    rate (it would divide by zero), and the oracle's GROUP BY gives it no
    row; an A/B readout with no users has NULL counts and NULL moment sums
    (SUMs over no rows), so its one row is NULL throughout, not an
    overflow error."""
    import __spark_entry__ as entry_mod

    from .oracle_compare import compare_frames, duckdb_connection

    oracle = duckdb_connection(empty_sf_dir).execute(entry_mod.oracle_sql()[name]).df()
    ok, msg = compare_frames(entry_mod.queries()[name](spark, empty_sf_dir), oracle)
    assert ok, f"{name}: {msg}"


def test_expectations_quarantine_routes_disjointly(spark):
    """expect_or_quarantine: kept ∪ quarantined = post-drop input with no
    overlap; NULL conditions route to quarantine; rows removed by an
    earlier drop never reach quarantine; the _violated tag names the
    constraint; datasets without quarantine constraints raise."""
    from adventureworkslakehousepoc_spark.plans.expectations import (
        expect_or_drop,
        expect_or_quarantine,
    )

    reg = DatasetRegistry()

    @reg.table("triaged")
    @expect_or_drop("id_present", "k IS NOT NULL")
    @expect_or_quarantine("positive", "v > 0")
    def triaged(ctx):
        return ctx.read("raw")

    raw = spark.createDataFrame(
        [(1, 5), (2, -1), (3, None), (None, -9)],
        "k int, v int",
    )
    ctx = PipelineContext(reg, spark, catalog_reader=lambda n: raw)
    kept = {r.k for r in ctx.dataframe("triaged").collect()}
    q = ctx.quarantine("triaged").collect()
    quarantined = {r.k for r in q}
    assert kept == {1}
    assert quarantined == {2, 3}, "NULL v routes to quarantine; NULL k was dropped first"
    assert {r._violated for r in q} == {"positive"}
    assert kept.isdisjoint(quarantined)

    @reg.table("no_q")
    @expect_or_drop("x", "v > 0")
    def no_q(ctx):
        return ctx.read("raw")

    with pytest.raises(ValueError, match="no quarantine"):
        ctx.quarantine("no_q")


# ---------------------------------------------------------------------------
# Round-14: dataset-level (aggregate) expectations
# ---------------------------------------------------------------------------


def _agg_exp_registry():
    from adventureworkslakehousepoc_spark.plans.expectations import (
        expect_fresh,
        expect_referential,
        expect_unique,
    )

    reg = DatasetRegistry()

    @reg.table("dim")
    def dim(ctx):
        return ctx.read("dim_src")

    @reg.table("fact_unique_fail")
    @expect_unique("pk_unique", ["k"], policy="fail")
    def fact_unique_fail(ctx):
        return ctx.read("fact_src")

    @reg.table("fact_ri_drop")
    @expect_referential("fk_exists", ["k"], "dim", ["dk"], policy="drop")
    def fact_ri_drop(ctx):
        return ctx.read("fact_src")

    @reg.table("fact_ri_fail")
    @expect_referential("fk_exists", ["k"], "dim", ["dk"], policy="fail")
    def fact_ri_fail(ctx):
        return ctx.read("fact_src")

    @reg.table("fact_fresh_fail")
    @expect_fresh(
        "recent", "ts", 3600, as_of="2024-01-01 02:00:00", policy="fail"
    )
    def fact_fresh_fail(ctx):
        return ctx.read("fact_src")

    return reg


def _agg_ctx(spark, fact_rows, dim_rows=((1,), (2,), (3,))):
    fact = spark.createDataFrame(
        list(fact_rows), "k int, v string, ts timestamp"
    )
    dim = spark.createDataFrame([(r[0],) for r in dim_rows], "dk int")

    def reader(name):
        return {"fact_src": fact, "dim_src": dim}[name]

    return PipelineContext(_agg_exp_registry(), spark, catalog_reader=reader)


def test_agg_expect_unique_fail_aborts_on_staged_duplicate(spark, tmp_path):
    """A staged duplicate key under expect_unique(policy='fail') must abort
    run() BEFORE the dataset is written — and the abort surfaces as
    AggregateExpectationError, not a silent write of bad grain."""
    import datetime as dt

    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectationError,
    )

    t = dt.datetime(2024, 1, 1, 1, 30)
    ctx = _agg_ctx(spark, [(1, "a", t), (1, "b", t), (2, "c", t)])
    with pytest.raises(AggregateExpectationError, match="pk_unique"):
        ctx.run(str(tmp_path), names=["fact_unique_fail"])
    assert not (tmp_path / "fact_unique_fail").exists()

    # clean grain sails through the same gate
    ctx2 = _agg_ctx(spark, [(1, "a", t), (2, "b", t)])
    ctx2.run(str(tmp_path), names=["fact_unique_fail"])
    assert (tmp_path / "fact_unique_fail").exists()


def test_agg_expect_referential_drop_is_match_simple(spark):
    """drop-policy RI removes orphans via a left-semi join but keeps NULL
    fks (SQL MATCH SIMPLE) — and the enforcement rides dataframe(), so
    every consumer sees the gated relation."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 1, 30)
    ctx = _agg_ctx(
        spark,
        [(1, "in_dim", t), (9, "orphan", t), (None, "null_fk", t)],
    )
    got = sorted(
        (r.k if r.k is not None else -1, r.v)
        for r in ctx.dataframe("fact_ri_drop").collect()
    )
    assert got == [(-1, "null_fk"), (1, "in_dim")], got
    # audit of the enforced relation is clean by construction
    audit = {
        r.expectation: r.n_violations
        for r in ctx.aggregate_audit("fact_ri_drop").collect()
    }
    assert audit == {"fk_exists": 0}


def test_agg_expect_referential_fail_and_fresh(spark, tmp_path):
    """fail-policy RI aborts on orphans; freshness fails when max(ts) lags
    the as-of horizon and passes inside it; empty datasets are stale."""
    import datetime as dt

    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectationError,
        freshness_status,
    )

    stale = dt.datetime(2024, 1, 1, 0, 30)  # 90 min before as_of: > 3600s
    fresh = dt.datetime(2024, 1, 1, 1, 30)  # 30 min before as_of
    ctx = _agg_ctx(spark, [(1, "a", stale), (9, "orphan", fresh)])
    with pytest.raises(AggregateExpectationError, match="fk_exists"):
        ctx.run(str(tmp_path), names=["fact_ri_fail"])

    ctx_stale = _agg_ctx(spark, [(1, "a", stale)])
    with pytest.raises(AggregateExpectationError, match="recent"):
        ctx_stale.run(str(tmp_path), names=["fact_fresh_fail"])
    ctx_fresh = _agg_ctx(spark, [(1, "a", fresh)])
    ctx_fresh.run(str(tmp_path), names=["fact_fresh_fail"])
    assert (tmp_path / "fact_fresh_fail").exists()

    # empty dataset: max(ts) is NULL -> fresh=false, NULL lag
    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectation,
    )

    empty = spark.createDataFrame([], "ts timestamp")
    exp = AggregateExpectation(
        "recent", "fresh", "keep", ts_col="ts", max_lag_seconds=3600,
        as_of="2024-01-01 02:00:00",
    )
    row = freshness_status(empty, exp).collect()[0]
    assert row.fresh is False and row.lag_seconds is None


def test_agg_expectations_validation():
    from adventureworkslakehousepoc_spark.plans.expectations import (
        AggregateExpectation,
        expect_unique,
    )

    with pytest.raises(ValueError, match="policy"):
        AggregateExpectation("x", "unique", "drop", cols=("k",))
    with pytest.raises(ValueError, match="kind"):
        AggregateExpectation("x", "monotone", "keep")
    with pytest.raises(ValueError, match="declared twice"):

        @expect_unique("same", ["a"])
        @expect_unique("same", ["b"])
        def fn(ctx):  # pragma: no cover - never called
            return None


def test_aggregate_audit_requires_declarations(spark):
    reg = DatasetRegistry()

    @reg.table("plain")
    def plain(ctx):
        return ctx.read("src")

    src = spark.createDataFrame([(1,)], "v int")
    ctx = PipelineContext(reg, spark, catalog_reader=lambda n: src)
    with pytest.raises(ValueError, match="no aggregate expectations"):
        ctx.aggregate_audit("plain")
