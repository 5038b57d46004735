from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gee_datapipeline_spark.session import get_spark  # noqa: E402
from gee_datapipeline_spark.sources.fixtures import (  # noqa: E402
    REAL_MOTORWAY_GEOJSON,
)

TESTDATA = "/root/testdata"
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")

# Queries that read reference data from outside the repo, by the file
# each needs. They run wherever that file exists.
REFERENCE_INPUTS = {"geo_proximity_roads_real": REAL_MOTORWAY_GEOJSON}


def reference_absent(name: str) -> bool:
    """True when query ``name`` needs a reference file that is absent."""
    path = REFERENCE_INPUTS.get(name)
    return path is not None and not os.path.exists(path)


def gate_reference_queries(names):
    """Parametrize values for query ``names``: each query that reads a
    reference file is skipped exactly when that file is absent."""
    return [
        pytest.param(n, marks=pytest.mark.skipif(
            reference_absent(n),
            reason=f"reference data absent: {REFERENCE_INPUTS[n]}",
        )) if n in REFERENCE_INPUTS else n
        for n in names
    ]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gee_datapipeline_spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from gee_datapipeline_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
