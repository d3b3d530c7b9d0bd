from __future__ import annotations

import os
import sys
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adventureworkslakehousepoc_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("AWLH_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="awlh-tests", driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory):
    """Every input table with its ``sf_dir`` schema and no rows."""
    import pyarrow.parquet as pq

    from adventureworkslakehousepoc_spark.catalog import TESTDATA_TABLES

    out = tmp_path_factory.mktemp("empty_sf")
    for t in TESTDATA_TABLES:
        schema = pq.read_schema(os.path.join(SF_ORACLE, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), out / f"{t}.parquet")
    return str(out)


class Build(NamedTuple):
    """What building one batch query left: its output columns as
    ``(name, simpleString)``, the Spark jobs the build started, and the
    physical and optimized logical plans of the returned frame followed by
    those of every SQL execution the build ran."""

    fields: list
    jobs: int
    physical: str
    logical: str


@pytest.fixture(scope="session")
def batch_builds(spark, sf_dir):
    """Every batch query built once, with every input schema warm, read
    through ``plans/audit.StatusWindow``: ``name -> Build``. The plan audit
    and the scalar-output check read the same builds, so no query is built
    twice. Streaming queries are left out: building one runs its stream by
    contract, and each sink is a parquet-materialized scalar relation with
    its own oracle row."""
    import __spark_entry__ as entry_mod

    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.plans.audit import StatusWindow, extended_plans

    load_tables(spark, sf_dir)  # warm every input table's schema
    builds = {}
    with extended_plans(spark):
        for name, fn in entry_mod.queries().items():
            if name.startswith("st_"):
                continue
            window = StatusWindow(spark)
            df = fn(spark, sf_dir)
            jobs = len(window.jobs())
            runs = window.executions()
            qe = df._jdf.queryExecution()
            builds[name] = Build(
                fields=[(f.name, f.dataType.simpleString()) for f in df.schema.fields],
                jobs=jobs,
                physical=qe.executedPlan().toString() + "".join(e.physical for e in runs),
                logical=qe.optimizedPlan().toString()
                + "".join(e.section("Optimized Logical Plan") for e in runs),
            )
    return builds
