from __future__ import annotations

import os
import sys

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
