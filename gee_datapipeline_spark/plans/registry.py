"""Registry plumbing for the query catalog.

A :class:`Query` couples a Spark DataFrame builder with the ANSI-SQL
oracle that DuckDB runs over the same parquet tables. The driver's
correctness gate (``__spark_entry__.py``) compares row counts, schemas and
order-insensitive value hashes — so every computed column is aliased
identically on both sides and every float aggregate goes through
``functions.stable`` to be bit-reproducible across engines and
partitionings.

Every query carries an oracle: :func:`register` refuses one without. The
approximate operators (MinHash-LSH banding, SimHash, LSH-bucketed ANN,
streaming state) also have dedicated unit tests in ``tests/``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkBuilder
    oracle: str  # DuckDB SQL over pre-registered views
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


QUERIES: dict[str, Query] = {}


def register(q: Query) -> Query:
    if q.name in QUERIES:
        raise ValueError(f"duplicate query name {q.name!r}")
    if not q.oracle:
        raise ValueError(f"query {q.name!r} has no oracle")
    QUERIES[q.name] = q
    return q


def queries() -> dict[str, SparkBuilder]:
    """The driver-facing ``queries()`` mapping."""
    _load_all()
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """The driver-facing ``oracle_sql()`` mapping."""
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items()}


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (each registers on import)."""
    global _LOADED
    if _LOADED:
        return
    from . import pixel_queries  # noqa: F401
    from . import relational_queries  # noqa: F401
    from . import text_queries  # noqa: F401
    from . import similarity_queries  # noqa: F401
    from . import geo_queries  # noqa: F401
    from . import advanced_queries  # noqa: F401
    from . import multimodal_queries  # noqa: F401
    from . import curation_queries  # noqa: F401
    from . import mart_queries  # noqa: F401
    from . import packing_queries  # noqa: F401
    from . import behavior_queries  # noqa: F401
    from . import maintenance_queries  # noqa: F401
    from . import graph_queries  # noqa: F401
    from . import search_queries  # noqa: F401
    from . import selection_queries  # noqa: F401
    from . import stats_queries  # noqa: F401

    _LOADED = True
