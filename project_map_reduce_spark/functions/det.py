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

The vector queries (k-means, IVF, embedding dedup, SemDeDup, IVF-PQ)
hash-match DuckDB's ``list_dot_product`` only because every dot
product and squared norm adds its products strictly left to right from
0.0 and every 6-dp rounding of a kernel value is half away from zero on
the exact binary expansion. The kernels below are the one place that
order and that rounding are written: ``seq_dot`` (Catalyst),
``seq_dots``/``seq_norm2``/``seq_dist2`` (numpy, inside Arrow UDFs),
``r6_np`` (numpy rounding) and ``argmin6`` (JVM-side rounded argmin).
"""

from __future__ import annotations

from collections.abc import Sequence
from decimal import Decimal

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def r6(col: Column | str) -> Column:
    """Round a double column to 6 decimal places (canonical output form)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 6)


def r6d(col: Column | str, alias: str) -> Column:
    """round-to-6 + alias in one step (every computed column is aliased)."""
    return r6(col).alias(alias)


def seq_dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two double arrays as a Catalyst fold: products
    added strictly left to right from 0.0 — the IEEE operation sequence
    of DuckDB's ``list_dot_product``, so the two agree bit for bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


# The numpy kernels accumulate one dimension at a time into an n×k
# buffer: each (row, centroid) cell sees the same adds in the same order
# as ``seq_dot`` — 0.0 + x0·c0, then + x1·c1, … — with products that are
# the same IEEE doubles (numpy fuses no multiply-add). An n×k×d cumsum
# would give the same bits at d× the peak memory; np.dot / BLAS would
# not (pairwise and blocked sums reorder the adds).
def seq_dots(V: np.ndarray, M: np.ndarray) -> np.ndarray:
    """n×k dot products of V's rows (n×d) with M's rows (k×d), each
    bit-identical to ``seq_dot``."""
    dots = np.zeros((V.shape[0], M.shape[0]), dtype=np.float64)
    for j in range(V.shape[1]):
        dots += V[:, j, None] * M[None, :, j]
    return dots


def seq_norm2(V: np.ndarray) -> np.ndarray:
    """Squared norm of each row of V, bit-identical to ``seq_dot(v, v)``."""
    nv = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        nv += V[:, j] * V[:, j]
    return nv


def seq_dist2(V: np.ndarray, M: np.ndarray) -> np.ndarray:
    """n×k squared distances ``‖v‖² − 2·v·c + ‖c‖²`` in the oracle's
    operation order, ``nv - 2 * list_dot_product(v, c) + cc``."""
    return seq_norm2(V)[:, None] - 2.0 * seq_dots(V, M) + seq_norm2(M)[None, :]


def r6_np(x: np.ndarray) -> np.ndarray:
    """Round a float64 array to 6 dp, half away from zero on each
    double's exact binary expansion — DuckDB's ``round(x, 6)`` (the
    oracle side), not numpy's half-even ``round`` and not Spark's
    ``F.round``, which rounds the shortest decimal repr instead.

    n = floor(|x|·10⁶ + ½) in 80-bit x86 long double is decision-exact:
    x·10⁶'s fractional part is a multiple of 5⁶·2^(e−46) (x = M·2^(e−52)),
    so a non-half fraction sits ≥ 2^(e−33) from ½, while the long-double
    product's rounding error is ≤ 2^(e−43) — three decades of margin,
    any x. An exact binary half (0.0078125·10⁶ = 7812.5) is exact in
    long double and floor(x+½) rounds it away from zero, as
    ROUND_HALF_UP does. n stays < 2⁵³ for |x| ≪ 9·10⁹, so float64(n)/1e6
    is the one correctly-rounded division Decimal→float also performs.
    """
    micro = np.floor(
        np.abs(x).astype(np.longdouble) * np.longdouble(1_000_000)
        + np.longdouble(0.5)
    ).astype(np.float64)
    return np.copysign(micro, x) / 1e6


def argmin6(d2: Column, ids: Sequence[int], offset: int = 0) -> Column:
    """The id in ``ids`` whose distance ``d2[offset + i]`` is smallest
    after ``round(·, 6)``, ties to the smaller id — the oracle's
    ``ORDER BY round(dist2, 6), id`` rank-1 row. Rounding and argmin
    stay JVM-side (codegen'd), so the 6-dp contract never crosses an
    Arrow UDF boundary."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    F.round(d2.getItem(offset + i), 6).alias("d"),
                    F.lit(int(c)).cast("int").alias("id"),
                )
                for i, c in enumerate(ids)
            ]
        )
    ).getField("id")


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
