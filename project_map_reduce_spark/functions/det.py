"""Determinism helpers (SURVEY.md §2 Part B preamble).

Floats that pass through aggregation or arithmetic are rounded to 6
decimal places in every query output so the order-insensitive value
hash is stable between Spark and the DuckDB oracle. Both engines round
half away from zero for doubles, and both produce bit-identical IEEE
doubles for the same rounded decimal, so ``round(x, 6)`` is a stable
canonical form as long as the pre-rounding values agree to well under
1e-6 (true for all declared aggregates at test scale; columns that ever
fail the hash get switched to an exact DECIMAL computation instead —
see ``dec6``).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def r6(col: Column | str) -> Column:
    """Round a double column to 6 decimal places (canonical output form)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 6)


def r6d(col: Column | str, alias: str) -> Column:
    """round-to-6 + alias in one step (every computed column is aliased)."""
    return r6(col).alias(alias)


# sum6 works in integer 1e-6 units. A double x with |x| < 2**23 whose
# x·1e6 lies within 0.25 of an integer k rounds to k exactly as
# cast(x as decimal(18,6)) does: v = x·1e6 < 2**43 has ulp(v) ≤ 2**-9
# and x has ulp(x) ≤ 2**-29, so x's shortest decimal, times 1e6, lies
# within 0.26 of k and its HALF_UP rounding to 6 dp is k.
_UNITS = 1_000_000
_FAST_ABS = float(2**23)
_FAST_TOL = 0.25


def sum6(col: Column | str) -> Column:
    """Exact sum of ``x`` quantized to 6 dp, as a double: bit-identical
    to ``sum(cast(x as decimal(18,6)))`` cast to double — for money-scale
    sums where ``round(sum(double), 6)`` exceeds double precision (a 3e8
    total needs 15+ significant digits at 6 dp). The sum is exact and
    order-independent, and the final decimal-to-double cast is correctly
    rounded on both engines, so values and schema match the oracle
    bit-for-bit.

    No aggregation buffer holds a decimal. A DECIMAL(18,6) sum widens
    its buffer to DECIMAL(28,6), past the 18 digits Spark keeps in a
    long, so every row would read, add and write back a heap
    ``BigDecimal``. Instead each row becomes an integer count k of
    1e-6 units, split into two long limbs ``hi = floor(k / 1e6)`` and
    ``lo = pmod(k, 1e6)``; both are summed with plain long ``sum`` and
    recombined in DECIMAL once per group. k takes a double fast path
    (``rint(x·1e6)``, exact when |x| < 2^23 and x·1e6 is within 0.25 of
    an integer); every other row — near-ties, larger values, NaN/inf —
    takes k from the exact ``cast(x as decimal(18,6))``. The branch is
    chosen per row from the value. NaN and infinity cast to null and
    drop out of the sum.

    Bounds, each of which raises under ANSI (pinned in ``session.py``)
    rather than wrapping: inputs |x| < 1e12 (the decimal cast; money
    columns here are ≤ ~6e5); a total magnitude below 9.2e18 (the ``hi``
    long sum) — at 100 TB (~7e11 lineitem rows × ~1e5 price) totals
    reach ~7e16, over 100× inside it; at most 9.2e12 rows per group
    (the ``lo`` long sum).

    Oracle-side equivalent: ``CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE)``
    (see ``SUM6`` format helper) — both sides quantize each double to
    the same 6-dp value, so the sums agree exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    x = c.cast("double")
    v = x * float(_UNITS)
    r = F.rint(v)
    k = F.when(
        (F.abs(x) < _FAST_ABS) & (F.abs(v - r) <= _FAST_TOL), r.cast("long")
    ).otherwise((c.cast("decimal(18,6)") * _UNITS).cast("long"))
    lo = F.pmod(k, F.lit(_UNITS))
    hi = F.call_function("div", k - lo, F.lit(_UNITS))
    total = F.sum(hi).cast("decimal(19,0)") + F.sum(lo).cast(
        "decimal(19,0)"
    ) * F.lit(Decimal("0.000001"))
    return total.cast("double")


# Oracle-side template matching sum6 (use .format(expr=...)).
SUM6 = "CAST(sum(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE)"


_EPOCH_NTZ = "1970-01-01 00:00:00"


def epoch_micros(col: Column | str) -> Column:
    """Microseconds since the epoch for a TIMESTAMP_NTZ column.

    ``unix_micros`` only accepts TIMESTAMP (LTZ) and raises on the NTZ
    columns Spark ≥4.1 produces for the nanos-precision events fixture.
    ``timestamp_diff`` is NTZ-exact and timezone-independent (no session
    zone enters the computation). If the input is LTZ, Spark coerces the
    epoch literal with the session zone — a uniform base shift, so
    differences and fixed-width bucketing stay correct; don't compare the
    absolute value against external epoch constants in that case.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND", F.lit(_EPOCH_NTZ).cast("timestamp_ntz"), c
    )


def micros_between(start: Column | str, end: Column | str) -> Column:
    """µs-exact ``end - start`` for timestamp columns of either flavor
    (both sides must be the same flavor; NTZ- and LTZ-safe)."""
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    return F.timestamp_diff("MICROSECOND", s, e)
