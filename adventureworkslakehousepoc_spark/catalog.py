"""Catalog helpers: three-part naming + testdata star-schema loaders.

The reference addresses every dataset as ``catalog.schema.table`` (Unity
Catalog three-level namespace, e.g. ``dev_bronze.stg_sales.stg_customer`` —
reference ``sales_aw_silver_layer_dim_customer.py:10-11``). Locally we run a
single Spark catalog, so three-part names map onto ``catalog__schema__table``
database-less identifiers (one reversible helper, nothing else cares).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

__all__ = [
    "qualified",
    "split_qualified",
    "TESTDATA_TABLES",
    "read_input",
    "load_tables",
    "register_views",
    "ensure_database",
    "register_external_table",
    "read_three_part",
]

_SEP = "__"

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def qualified(catalog: str, schema: str, table: str) -> str:
    """``dev_bronze, stg_sales, stg_customer`` → ``dev_bronze__stg_sales__stg_customer``."""
    return _SEP.join(p.replace(".", "_") for p in (catalog, schema, table))


def split_qualified(name: str) -> tuple[str, ...]:
    return tuple(name.split(_SEP))


# columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos timestamp, so
# they are read as long (legacy conf) and truncated to microseconds, matching
# DuckDB's ns→µs comparison precision (python-datetime-generated data is
# µs-aligned, so truncation is lossless here)
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Raw inferred schema of each input file, keyed on the file's identity
# (resolved path, inode, mtime, size): inferring reads parquet footers in a
# Spark job, a read given the schema runs none. A rewrite in place changes
# mtime/size and a replacement the inode, so a stale entry is never hit.
# Schemas only, never DataFrames: every load stays a fresh relation, so two
# loads of one table in one plan keep distinct attribute ids (self-joins).
_SCHEMAS: dict[tuple, StructType] = {}


def file_versions(paths) -> tuple:
    """Identity of each file: ``(resolved path, st_ino, st_mtime_ns,
    st_size)``, sorted by path. A rewrite in place changes mtime or size and
    a replacement the inode, so two equal tuples name the same bytes."""
    real = sorted(os.path.realpath(p) for p in paths)
    return tuple((f, s.st_ino, s.st_mtime_ns, s.st_size) for f in real for s in [os.stat(f)])


def _input_schema(spark: SparkSession, path: str) -> StructType:
    """Raw parquet schema of an input table (nanos read as long), inferred
    once per file version. A directory-shaped table is keyed on every file
    under it. Only for input data: written state (sinks, CDF logs,
    maintained tables) changes under its reader and is always re-read."""
    real = os.path.realpath(path)
    files = [os.path.join(r, f) for r, _, fs in os.walk(real) for f in fs] or [real]
    key = file_versions(files)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def read_input(spark: SparkSession, sf_dir: str, name: str, reader=None, source=None) -> DataFrame:
    """Read input table ``name`` with its memoized schema and normalized
    timestamps. ``reader`` defaults to ``spark.read``; a stream passes its
    ``spark.readStream`` and its staged directory as ``source``.

    Pins session timezone to UTC so date extraction from naive parquet
    timestamps matches the DuckDB oracle. Nanos stored as long become
    microsecond TIMESTAMPs, and parquet timestamp[us] with
    isAdjustedToUTC=false (TIMESTAMP_NTZ) is cast to session-tz TIMESTAMP
    (value-preserving under UTC), so watermarks, unix-time extraction and
    window range frames all work."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _input_schema(spark, path)
    fix = {}
    for f in schema.fields:
        if isinstance(f.dataType, LongType) and f.name in _NANOS_TS_COLS.get(name, ()):
            fix[f.name] = F.timestamp_micros(F.expr(f"{f.name} div 1000"))
        elif isinstance(f.dataType, TimestampNTZType):
            fix[f.name] = F.col(f.name).cast("timestamp")
    return (reader or spark.read).schema(schema).parquet(source or path).withColumns(fix)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load driver-generated parquet tables, each through ``read_input``."""
    return {n: read_input(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Three-level namespace on real catalog objects. The reference addresses every
# dataset as catalog.schema.table (Unity Catalog; e.g. `dev_bronze.stg_sales
# .stg_customer` — sales_aw_silver_layer_dim_customer.py:10-11). Spark's
# session catalog is two-level (database.table), so catalog+schema fold into
# one database (`<catalog>_<schema>`) and tables register as EXTERNAL parquet
# tables over their existing files — real catalog entries with three-part
# `spark_catalog.<db>.<table>` SQL addressing, zero data copies, rather than
# the string-mangled temp-view fallback above.
#
# NOTE: `spark.table` on an external table reads the raw parquet — the
# `load_tables` timestamp normalization does NOT apply. Register normalized
# data (or normalize after read) for tables with event-time columns.
# ---------------------------------------------------------------------------


def ensure_database(spark: SparkSession, catalog: str, schema: str) -> str:
    """Create (idempotently) the database backing ``catalog.schema``."""
    db = f"{catalog}_{schema}".replace(".", "_").replace("`", "")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    return db


def register_external_table(
    spark: SparkSession, path: str, catalog: str, schema: str, table: str
) -> str:
    """Register existing parquet files as an external table under the
    ``catalog.schema`` database; returns the two-part name Spark resolves."""
    db = ensure_database(spark, catalog, schema)
    loc = path.replace("\\", "\\\\").replace("'", "\\'")  # SQL string literal
    spark.sql(f"CREATE TABLE IF NOT EXISTS `{db}`.`{table}` USING parquet LOCATION '{loc}'")
    return f"{db}.{table}"


def read_three_part(
    spark: SparkSession, catalog: str, schema: str, table: str
) -> DataFrame:
    """Resolve a reference-style three-part name through the real catalog."""
    db = f"{catalog}_{schema}".replace(".", "_").replace("`", "")
    return spark.table(f"`{db}`.`{table}`")
