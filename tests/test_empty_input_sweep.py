"""Catalog-wide empty-input sweep: every oracle query on zero-row tables.

At 100 TB, empty inputs are routine — a day partition with no data, a
filter that matches nothing, a source that hasn't landed yet — and the
fuzz program showed the crash classes (ANSI DIVIDE_BY_ZERO, driver-side
1/n, engine NULL-vs-0 aggregate shapes) live exactly there. This sweep
runs the ENTIRE oracle catalog against structurally-correct zero-row
parquet for all ten tables and asserts the full gate protocol. It
found and now pins eight fixes: recall 0/0, audience_overlap's
etypes[0], PageRank's 1/n teleport, contract_audit's NULL-vs-dropped
UNPIVOT cells, the grouping-set trio's engine-contract HAVING, and
lang_source_mi's empty-diagnostic row.
"""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE, gate_reference_queries
from parity_sweep import TABLES, value_hash

from gee_datapipeline_spark.plans.registry import QUERIES, _load_all

_load_all()

ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle)


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_tables")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_SMOKE}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", gate_reference_queries(ORACLE_QUERIES))
def test_empty_input_parity(name, spark, empty_dir, empty_duck):
    q = QUERIES[name]
    spdf = q.spark(spark, empty_dir).toPandas()
    dpdf = empty_duck.execute(q.oracle).fetchdf()
    assert len(spdf) == len(dpdf), (len(spdf), len(dpdf))
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    assert value_hash(spdf) == value_hash(dpdf), (
        spdf.head(5), dpdf.head(5),
    )
