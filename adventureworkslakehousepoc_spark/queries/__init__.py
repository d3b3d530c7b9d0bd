"""Query registry: maps SURVEY.md §2 inventory rows (and extension operators)
to (Spark callable, DuckDB oracle SQL) pairs consumed by ``__spark_entry__``.

Queries and oracles are looked up by name, as DLT datasets are, so
registration order carries no meaning: it is simply the order of
``MODULES``. A name registered by two modules is an error rather than a
silent shadow.

Every registered query is compared with its oracle by
tests/test_oracle_parity.py, which also pins each oracle's output against
tests/oracle_fingerprints.json.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import advanced, analytics, extensions, parity, streaming_queries, tpch_suite

MODULES = (parity, extensions, streaming_queries, analytics, advanced, tpch_suite)


def _merge(attr: str) -> dict:
    out: dict = {}
    for mod in MODULES:
        for name, value in getattr(mod, attr).items():
            if name in out:
                raise ValueError(
                    f"query {name!r} registered twice (again in {mod.__name__}.{attr})"
                )
            out[name] = value
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merge("QUERIES")


def all_oracles() -> dict[str, str]:
    return _merge("ORACLE")
