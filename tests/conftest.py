from __future__ import annotations

import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def stored_scenario(spark, sf_dir: str, name: str):
    """The value the scenario memo holds for ``name`` over the current
    data under ``sf_dir``; fails when it was never built."""
    from jobminer_spark.operators.common import scenario

    def _not_built(_work):
        raise AssertionError(f"scenario {name!r} was not built for {sf_dir}")

    return scenario(spark, sf_dir, name, _not_built)


@pytest.fixture(scope="session")
def spark():
    from jobminer_spark.session import get_spark

    s = get_spark("jobminer-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
