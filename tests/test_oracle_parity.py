"""Every queries() entry with an oracle must hash-match DuckDB (driver t2 gate)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from . import oracle_fingerprints
from .oracle_compare import compare_frames, duckdb_connection

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
FINGERPRINTS = oracle_fingerprints.load()


def test_every_oracle_has_a_query():
    """Every query carries an oracle (full value gate, not rows-only) and
    every oracle a query."""
    assert set(ORACLES) == set(QUERIES), set(ORACLES) ^ set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    sql = ORACLES[name]
    oracle_pdf = duckdb_connection(sf_dir).execute(sql).df()
    # the pinned fingerprints are of the sf0.001 results
    if sf_dir == entry_mod.SF0001:
        assert oracle_fingerprints.fingerprint(sql, oracle_pdf) == FINGERPRINTS.get(name), (
            f"{name}: oracle output differs from tests/oracle_fingerprints.json; "
            "if the change is intended, run `python -m tests.oracle_fingerprints --write`"
        )
    ok, msg = compare_frames(QUERIES[name](spark, sf_dir), oracle_pdf)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_compare_query_negative_controls(spark, sf_dir):
    """The comparator must actually REJECT wrong results — guards the
    whole 263-query parity story against a vacuous gate: a perturbed
    value, a dropped row, and a renamed column must each fail, while
    row order and column order must not matter (the driver's canonical
    compare sorts both)."""
    from tests.oracle_compare import compare_query

    oracle = "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)"
    good = spark.createDataFrame([(2, "y"), (1, "x")], "k int, v string")
    ok, msg = compare_query(good.select("v", "k"), oracle, sf_dir)
    assert ok, msg  # row/column order must be irrelevant

    wrong_val = spark.createDataFrame([(1, "x"), (2, "z")], "k int, v string")
    ok, msg = compare_query(wrong_val, oracle, sf_dir)
    assert not ok and "value mismatch" in msg, msg

    dropped = spark.createDataFrame([(1, "x")], "k int, v string")
    ok, msg = compare_query(dropped, oracle, sf_dir)
    assert not ok and "row count" in msg, msg

    renamed = spark.createDataFrame([(1, "x"), (2, "y")], "k int, w string")
    ok, msg = compare_query(renamed, oracle, sf_dir)
    assert not ok and "column mismatch" in msg, msg
