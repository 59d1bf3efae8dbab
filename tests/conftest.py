from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from end_to_end_sales_etl_de_project_spark.session import get_spark_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark_session(
        app_name="engine-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="module")
def axis(sf_dir, tmp_path_factory):
    """Factory over ``scripts/null_sweep_all.FIXTURES``, the one table of
    degenerate-data axes: ``axis(name)`` builds that axis at most once
    per module and returns (fixture dir, DuckDB connection over it)."""
    from end_to_end_sales_etl_de_project_spark.testing import duckdb_connection
    from scripts import null_sweep_all

    assert null_sweep_all.SF == sf_dir
    built: dict[str, tuple[str, object]] = {}

    def get(name: str):
        if name not in built:
            d = str(tmp_path_factory.mktemp(name))
            null_sweep_all.FIXTURES[name].build(d)
            built[name] = (d, duckdb_connection(d))
        return built[name]

    yield get
    for _, con in built.values():
        con.close()
