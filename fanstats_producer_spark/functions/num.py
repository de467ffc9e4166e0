"""Cross-engine-deterministic numeric aggregation helpers.

Summing doubles is order-dependent, and Spark's partition-parallel sums
will never bitwise-match a single-threaded oracle.  The fix: quantize each
row to DECIMAL(18,6) (deterministic — it rounds the *same* IEEE double on
both engines), sum exactly in decimal, and cast the exact result back to
double.  Identical values on any engine, any partitioning, any row order —
which is exactly what a 1000-executor cluster needs for reproducible
aggregates too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def sql_dsum(expr: str) -> str:
    """DuckDB mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"


# --- fast path: split-accumulator exact sum for NONNEGATIVE doubles ------------
# dsum's per-row decimal cast forces Spark's non-compact decimal sum
# (measured 8x slower than a plain long sum at sf0.1).  For nonnegative
# inputs the same exactness comes much cheaper: quantize each row to a
# scaled long v = floor(x*1e6 + 0.5) (identical IEEE multiply + identical
# truncation on both engines), split v into three 21-bit digits, sum each
# digit as a plain long (codegen fast path; each digit sum is overflow-
# safe to 2^42 ≈ 4.4e12 rows per group — 100 TB headroom), and recombine
# the three digit sums exactly in decimal at the GROUP level (a handful
# of rows).  Measured 6x faster than dsum on q52's five sums.
# Constraints: x >= 0 (shift/truncation semantics) and x < 9.2e12 (v must
# fit a long) — use dsum for signed or larger-magnitude data.
_B = 21
_MASK = (1 << _B) - 1
_M = 1_000_000


def dsum_pos(col: Column | str) -> Column:
    """Order-independent exact sum of a nonnegative double column (see
    split-accumulator note above)."""
    c = F.col(col) if isinstance(col, str) else col
    v = (c * _M + F.lit(0.5)).cast("long")
    d0 = F.sum(v.bitwiseAND(F.lit(_MASK)))
    d1 = F.sum(F.shiftright(v, _B).bitwiseAND(F.lit(_MASK)))
    d2 = F.sum(F.shiftright(v, 2 * _B))
    total = (
        d2.cast("decimal(38,0)") * F.lit(1 << (2 * _B))
        + d1.cast("decimal(38,0)") * F.lit(1 << _B)
        + d0
    )
    return total.cast("double") / _M


def sql_dsum_pos(expr: str) -> str:
    """DuckDB mirror of :func:`dsum_pos` (SUM over BIGINT is HUGEINT in
    DuckDB, so the digit sums recombine exactly with no explicit cast)."""
    v = f"CAST(floor(({expr}) * {_M} + 0.5) AS BIGINT)"
    return (
        f"CAST(SUM({v} >> {2 * _B}) * CAST({1 << (2 * _B)} AS HUGEINT)"
        f" + SUM(({v} >> {_B}) & {_MASK}) * CAST({1 << _B} AS HUGEINT)"
        f" + SUM({v} & {_MASK}) AS DOUBLE) / {_M}"
    )


# --- integer quantization for query OUTPUT columns -----------------------------
# A double that reaches a query's output survives two engines' rounding
# AND the driver's canonical hash; round-3 showed a bit-exact double
# (x33.token_share) still hashing red.  The antidote: never emit a bare
# round(double, n) — emit floor(x * 10^n + 0.5) AS BIGINT.  Both engines
# evaluate the SAME IEEE multiply/add/floor on the SAME double, so the
# integer is identical by construction (no dependence on either engine's
# round() implementation, its tie-breaking, or the driver's float
# formatting).  Negative inputs round half-toward-+inf on both engines —
# consistent, which is all the hash needs.
def qint(col: Column | str, scale: int = 6) -> Column:
    """Cross-engine-stable quantization of a double to a 10^-scale-units
    BIGINT (see note above).  |x| must stay below ~9.2e18 / 10^scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("double") * F.lit(float(10**scale)) + F.lit(0.5)).cast(
        "long"
    )


def sql_qint(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`qint`."""
    return f"CAST(floor(CAST(({expr}) AS DOUBLE) * 1e{scale} + 0.5) AS BIGINT)"


def qavg_pos(col: Column | str) -> Column:
    """Integer-quantized exact average over :func:`dsum_pos` (nonnegative
    fast path)."""
    c = F.col(col) if isinstance(col, str) else col
    return qint(dsum_pos(c) / F.count(c))


def sql_qavg_pos(expr: str) -> str:
    """DuckDB mirror of :func:`qavg_pos`."""
    return sql_qint(f"{sql_dsum_pos(expr)} / COUNT({expr})")
