"""Cross-engine deterministic aggregates.

Floating-point ``SUM``/``AVG`` over doubles is order-dependent, and Spark's
shuffle order differs from DuckDB's scan order — so a differential test
that hash-compares values would flake. The fix: route the aggregate through
``DECIMAL(30, 6)``, whose addition is exact and associative, then cast the
finished aggregate back to ``DOUBLE`` and round. Per-row double arithmetic
(the expression *inside* the sum) is IEEE-deterministic in both engines, so
the decimal quantization sees identical inputs and the whole pipeline is
bit-reproducible regardless of partitioning or degree of parallelism.

This matters beyond testing: at 100 TB a re-run of the same query should
produce the same bytes (idempotent backfills, diffable outputs). The ~6
fractional digits of quantization is far below measurement noise for every
domain quantity in the model (SURVEY.md §6: pollutant densities ~1e-2,
FRP in MW ~1e2, prices ~1e4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DECIMAL = "decimal(30,6)"
# For unit-scale quantities (embeddings, ratios) use a finer quantum.
#
# CAUTION — choose the scale by the INPUT's true precision, never "as
# fine as possible": Spark converts double→decimal through the
# shortest decimal string (BigDecimal.valueOf) while DuckDB rounds the
# exact binary expansion. For a double whose TRUE value has k decimal
# places (a 2-dp price × a 2-dp rate, a 6-dp stable_round output), the
# binary noise is ~ulp ≈ 1e-11 at 1e4-magnitudes — far ABOVE the
# scale-12 half-unit, so at scale 12 the two conversions disagree on
# EVERY row (Spark: ...500000000000; DuckDB: ...499999999952) and the
# residue can flip a downstream floor-round (caught by the r8 lineitem
# soak in bootstrap_ci). At scale 6 the noise is far BELOW the
# half-unit and both engines recover the identical decimal. Use
# DECIMAL_FINE only for raw measurement doubles/floats, where the
# shortest string carries full precision and disagreement needs a
# ~1e-5-probability midpoint straddle (policed by the fuzz soaks).
DECIMAL_FINE = "decimal(38,12)"


def _floor_round(c: Column, scale: int) -> Column:
    """Floor-form half-up round (see :func:`stable_round`): the engine
    ``round()`` pair diverges when the double sits within an ulp of a
    decimal midpoint — Spark rounds the shortest-decimal string, DuckDB
    the numeric — and an EXACT decimal aggregate cast to double lands
    on midpoints routinely (a 6-dp sum ending in …5000 is one in every
    few thousand; the r7 150-example star soak caught a trade-network
    edge weight at 162184.955000 splitting the engines). The floor form
    is the identical IEEE expression on both sides, so ties cannot
    split."""
    f = float(10**scale)
    return F.floor(c * f + F.lit(0.5)) / f


def stable_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM of a double expression, rounded to `scale`
    in the midpoint-safe floor form. Negative sums round halves toward
    +inf — see :func:`stable_round` for the signed-tie convention."""
    c = F.col(col) if isinstance(col, str) else col
    return _floor_round(F.sum(c.cast(DECIMAL)).cast("double"), scale)


def stable_avg(col: Column | str, scale: int = 6, dec: str = DECIMAL) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in
    double, rounded in the midpoint-safe floor form."""
    c = F.col(col) if isinstance(col, str) else col
    return _floor_round(
        F.sum(c.cast(dec)).cast("double") / F.count(c), scale
    )


def sql_stable_sum(expr: str, scale: int = 2) -> str:
    """Mirror of :func:`stable_sum` in portable SQL (several queries run
    the same string in BOTH engines). The terminal double cast matters:
    Spark parses ``100.0`` as DECIMAL, so ``floor(..)/100.0`` would be
    a DECIMAL there while DuckDB yields DOUBLE — the cast reunifies the
    output type, and IEEE division-then-cast equals DuckDB's double
    division bit for bit (both are the nearest double to the exact
    quotient)."""
    f = 10**scale
    return (
        f"cast(floor(cast(sum(cast(({expr}) as {DECIMAL})) as double)"
        f" * {f}.0 + 0.5) / {f}.0 as double)"
    )


def sql_stable_avg(expr: str, scale: int = 6, dec: str = DECIMAL) -> str:
    """DuckDB-side mirror of :func:`stable_avg` (same portable-SQL and
    terminal-cast notes as :func:`sql_stable_sum`)."""
    f = 10**scale
    return (
        f"cast(floor(cast(sum(cast(({expr}) as {dec})) as double)"
        f" / count({expr}) * {f}.0 + 0.5) / {f}.0 as double)"
    )


def stable_round(col: Column | str, scale: int = 6) -> Column:
    """Engine-exact half-up rounding of a non-negative double:
    ``floor(x·10^s + 0.5) / 10^s``. Every step is a deterministic IEEE
    double op, so both engines agree even when x sits exactly on a
    decimal midpoint — where Spark's ``round`` (which goes through the
    shortest-decimal string) and DuckDB's (numeric) can break a tie
    differently. Ratios of integers with power-of-two denominators
    (token counts!) hit exact midpoints often enough that the sf0.1
    parity sweep caught real mismatches.

    Negative inputs: the floor form rounds halves toward +inf for every
    sign (``-2.345`` at scale 2 → ``-2.34``, where HALF_UP would give
    ``-2.35``). That is the DELIBERATE engine convention — signed
    aggregates (snapshot-diff deltas, attribution credits) route
    through this and their DuckDB oracles mirror the identical floor
    expression, so cross-engine parity holds for any sign; only the
    tie-break direction differs from textbook HALF_UP. Callers that
    need sign-symmetric ties must not use this helper."""
    c = F.col(col) if isinstance(col, str) else col
    f = float(10**scale)
    return F.floor(c * f + F.lit(0.5)) / f


def sql_stable_round(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`stable_round`."""
    f = 10**scale
    return f"floor(({expr}) * {f}.0 + 0.5) / {f}.0"
