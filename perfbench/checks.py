"""Output checks, run after the measured window.

Every call of both workloads has a row in the engine's ``oracle_sql()``.
Its output is compared with DuckDB on the run's input directory, with the
canonical comparison of ``tests/oracle_compare.py`` (columns, row count,
order-insensitive canonical values). A call with no oracle row fails.
Tables a call wrote are read back with DuckDB (hive partitions included),
which reads a table of a thousand date partitions in a fraction of the
time a Spark read takes.
"""

from __future__ import annotations

import glob
import os
import re

from tests.oracle_compare import canonical_rows, duckdb_connection


NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


class Checker:
    def __init__(self, oracles: dict[str, str], data_dir: str) -> None:
        self.oracles = oracles
        self.con = duckdb_connection(data_dir)

    def check(self, oracle: str, output) -> str | None:
        """None if ``output`` (a pandas frame, or the path of a parquet
        table the call wrote) is correct, else what is wrong."""
        sql = self.oracles.get(oracle)
        if sql is None:
            return f"no oracle row {oracle!r}"
        pdf = self._load(output)
        rows = [] if pdf is None else canonical_rows(pdf)
        expected = self.con.execute(sql).df()
        cols, want = sorted(expected.columns), canonical_rows(expected)
        if pdf is not None and sorted(pdf.columns) != cols:
            return f"columns {sorted(pdf.columns)} != oracle {cols}"
        if len(rows) != len(want):
            return f"{len(rows)} rows != oracle {len(want)}"
        if rows != want:
            diff = next((a, b) for a, b in zip(rows, want) if a != b)
            return f"value mismatch, first: {diff}"
        return None

    def _load(self, output):
        """The call's rows as pandas; None for a written table with no data
        files (an empty partitioned write leaves only ``_SUCCESS``)."""
        if not isinstance(output, str):
            return output
        files = glob.glob(os.path.join(output, "**", "*.parquet"), recursive=True)
        if not files:
            return None
        parts: dict[str, set[str]] = {}  # partition column -> its directory values
        for f in files:
            for seg in os.path.relpath(os.path.dirname(f), output).split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    parts.setdefault(k, set()).add(v)
        # partition values arrive as text: Spark's null marker becomes NULL
        # and a column of ISO dates a DATE, as a Spark read would type them
        replace = []
        for k, values in parts.items():
            col = f"NULLIF(\"{k}\", '{NULL_PARTITION}')"
            if all(ISO_DATE.fullmatch(v) for v in values - {NULL_PARTITION}):
                col = f"CAST({col} AS DATE)"
            replace.append(f'{col} AS "{k}"')
        select = f"* REPLACE ({', '.join(replace)})" if replace else "*"
        return self.con.execute(
            f"SELECT {select} FROM read_parquet(?, hive_partitioning = true,"
            " hive_types_autocast = false)",
            [files],
        ).df()

    def close(self) -> None:
        self.con.close()
