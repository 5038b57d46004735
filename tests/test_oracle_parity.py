"""Differential tests: every registered query vs its DuckDB oracle.

Mirrors the driver's correctness gate (``__spark_entry__.py`` docstring):
row count, schema (column names), and order-insensitive value equality.
Values are compared exactly (string-normalized) — the engine guarantees
bit-reproducible aggregates via ``functions.stable``, so no tolerance is
needed; a mismatch is a real bug.

Runs at sf0.001 by default for speed; set ``PARITY_SF_DIR`` to the sf0.01
directory to reproduce the driver's exact configuration.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from gee_datapipeline_spark.plans import QUERIES
from gee_datapipeline_spark.plans.registry import Query, _load_all, register

from conftest import SF_SMOKE, gate_reference_queries, register_duck_views

SF_DIR = os.environ.get("PARITY_SF_DIR", SF_SMOKE)

_load_all()
ORACLE_NAMES = sorted(QUERIES)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, values stringified, rows
    sorted — so comparison is order-insensitive, like the driver's hash."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if pd.isna(v):
            return "<null>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        return str(v)

    out = df.map(cell)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def _dtype_cat(s: pd.Series) -> str:
    """Coarse dtype category for cross-engine comparison."""
    import pandas.api.types as pt

    if pt.is_bool_dtype(s):
        return "bool"
    if pt.is_integer_dtype(s):
        return "int"
    if pt.is_float_dtype(s):
        return "float"
    return "other"


@pytest.mark.parametrize("name", gate_reference_queries(ORACLE_NAMES))
def test_query_matches_oracle(name, spark, duck):
    q = QUERIES[name]
    spark_pdf = q.spark(spark, SF_DIR).toPandas()
    register_duck_views(duck, SF_DIR)
    duck_pdf = duck.execute(q.oracle).fetchdf()

    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    # Driver-hash parity also depends on TYPES, which stringification
    # hides: DuckDB's sum(int) is HUGEINT (→ float64 in pandas) while
    # Spark's is BIGINT — cast such oracles. NULLs legitimately promote
    # ints to float64 on either side, so only null-free columns compare.
    for col in spark_pdf.columns:
        a, b = spark_pdf[col], duck_pdf[col]
        if a.isna().any() or b.isna().any():
            continue
        assert _dtype_cat(a) == _dtype_cat(b), (
            f"{name}.{col}: dtype {a.dtype} (spark) vs {b.dtype} (duckdb)"
            " — HUGEINT/DECIMAL oracle cast missing?"
        )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    mism = (a != b).any(axis=1)
    if mism.any():
        idx = mism[mism].index[:5]
        detail = "\n".join(
            f"  spark={a.loc[i].to_dict()}\n  duck ={b.loc[i].to_dict()}"
            for i in idx
        )
        raise AssertionError(
            f"{name}: {int(mism.sum())}/{len(a)} rows differ:\n{detail}"
        )


def test_register_refuses_query_without_oracle():
    for oracle in (None, ""):
        q = Query(name="oracle_less_probe", spark=lambda spark, sf: None,
                  oracle=oracle)
        with pytest.raises(ValueError, match="has no oracle"):
            register(q)
    assert "oracle_less_probe" not in QUERIES


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
