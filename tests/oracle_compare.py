"""Spark-vs-DuckDB comparison harness mirroring the driver's t2 gate:
row count, column names, and order-insensitive canonical value equality."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd

from adventureworkslakehousepoc_spark.catalog import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None or v is pd.NaT:
        return "∅"
    if not isinstance(v, (list, tuple, dict, set)):
        try:
            if pd.isna(v):
                return "∅"
        except (TypeError, ValueError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, bool):
        return "T" if v else "F"
    try:
        import numpy as np

        if isinstance(v, np.bool_):
            return "T" if bool(v) else "F"
        if isinstance(v, np.integer):
            return str(int(v))
        if isinstance(v, np.floating):
            f = float(v)
            return "∅" if math.isnan(f) else repr(f)
        if isinstance(v, np.datetime64):
            if pd.isna(v):
                return "∅"
            return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    except ImportError:
        pass
    if pd.isna(v):
        return "∅"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return rows


def compare_query(spark_df, sql: str, sf_dir: str) -> tuple[bool, str]:
    return compare_frames(spark_df, duckdb_connection(sf_dir).execute(sql).df())


def compare_frames(spark_df, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    spark_pdf = spark_df.toPandas()
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False, f"column mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"row count mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
        return False, f"value mismatch; first diffs: {diffs}"
    return True, "ok"
