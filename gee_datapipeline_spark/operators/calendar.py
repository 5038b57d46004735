"""Calendar spine + gap detection (SURVEY.md §2.8 F1, §2.3 J5).

The reference steps through calendar months with ``relativedelta`` date
math (DataDownloader_V2.py:170-183) and detects data gaps by per-dataset
emptiness checks (``size() <= 0``, DataDownloader_V1.py:100-129). In a
set-based engine the month loop dissolves into ``sequence()`` — a generated
spine relation (``date_spine_from``) — and the gap check (J5) is a plain
``df.join(..., how="left_anti")`` of the spine against observed partitions
at the call site (``date_spine_gaps``), which needs no helper. Calendar
months (variable length, December wrap — SNPP:229-232) come from
``date_trunc``/``add_months``, never from fixed-duration windows
(watch-list #3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def date_spine_from(df: DataFrame, date_expr: Column) -> DataFrame:
    """Dense daily calendar spine (column ``date``) spanning the observed
    min..max of ``date_expr``.

    The bounds are computed *inside the plan* (a tiny scalar aggregate that
    Spark broadcasts into the sequence generator) — no driver round-trip,
    so the spine stays correct when the underlying table grows.
    """
    bounds = df.agg(
        F.min(date_expr).alias("lo"), F.max(date_expr).alias("hi")
    )
    return bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("date")
    )
