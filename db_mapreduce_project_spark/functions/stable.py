"""Order-stable, cross-engine-exact aggregation of doubles.

Floating-point sums depend on summation order (partial aggregation,
segment trees, SIMD), and even ROUND() disagrees between engines on
half-way inputs (Spark rounds the shortest decimal repr via
BigDecimal; DuckDB rounds the scaled binary value).  Both problems
vanish if quantization happens BEFORE aggregation, with pure IEEE
ops that every engine evaluates identically:

    q = floor(x * 10^scale + 0.5)        -- exact bigint, same bits
    sum(q)                               -- exact integer arithmetic
    sum(q) / 10^scale                    -- one deterministic divide

Integer sums are associative — partial/final aggregation, AQE
re-planning, or any shuffle order give the same answer.  This is
how the engine keeps money-style aggregates reproducible at 100 TB
(cap: |sum(q)| must stay under 2^53 for the final double divide;
at larger scales emit the integer and divide client-side).

The duck_* helpers emit the byte-identical DuckDB SQL used by the
oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def qint(col: Column | str, scale: int = 2) -> Column:
    """Quantize a double to an exact bigint at 10^-scale resolution
    (round-half-up via floor(x*10^s + 0.5) — pure IEEE, engine-
    independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**scale)) + F.lit(0.5))


def qsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of a double column, presented as
    double."""
    return F.sum(qint(col, scale)) / F.lit(float(10**scale))


def qavg(col: Column | str, scale: int = 2) -> Column:
    """Order-independent mean: (exact-sum / 10^scale) / count."""
    return qsum(col, scale) / F.count(F.lit(1))


def qsum_window(col: Column | str, scale: int, window) -> Column:
    return F.sum(qint(col, scale)).over(window) / F.lit(float(10**scale))


def qavg_window(col: Column | str, scale: int, window) -> Column:
    return qsum_window(col, scale, window) / F.count(F.lit(1)).over(window)


# --- DuckDB oracle fragments (must mirror the Spark ops 1:1) ---


def duck_qint(expr: str, scale: int = 2) -> str:
    return f"CAST(floor(({expr}) * {float(10 ** scale)} + 0.5) AS BIGINT)"


def duck_qsum(expr: str, scale: int = 2) -> str:
    # CAST to BIGINT: DuckDB widens integer sums to HUGEINT
    return (
        f"(CAST(sum({duck_qint(expr, scale)}) AS BIGINT) / {float(10 ** scale)})"
    )


def duck_qavg(expr: str, scale: int = 2) -> str:
    return f"({duck_qsum(expr, scale)} / count(*))"
