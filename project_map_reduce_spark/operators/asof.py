"""As-of join — Spark SQL has no native ASOF JOIN; this is the engine's
composition of built-ins (SURVEY.md §4.2 item 2).

Semantics (matching DuckDB ``ASOF LEFT JOIN``): for each left row, pick
the single right row with the greatest ``right_ts <= left_ts`` (ties on
``right_ts`` broken by the largest tiebreaker column, so results are
deterministic even with duplicate timestamps).

Implementation: union the two sides on a common timeline and run one
``last(..., ignorenulls)`` window partitioned by the join key, ordered
by (ts, side) with right rows sorting *before* left rows at equal ts
(inclusive ``<=``). Cost: one shuffle on the key + a per-key sort —
exactly what a keyed as-of costs at 100 TB; no cross join, no
per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"  # 0 = right (data), 1 = left (query): right first at equal ts


def asof_join_keyed(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """Keyed as-of left join. Output = all left columns + ``value_cols``
    from the matched right row (null when no right row precedes)."""
    carried = F.struct(
        F.col(right_ts).alias("__ts"),
        F.col(tiebreak).alias("__tb"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    r = right.select(
        F.col(key).alias(key),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias(_SIDE),
        carried.alias("__carry"),
        *[F.lit(None).cast(t.dataType).alias(f"__l_{t.name}") for t in left.schema],
    )
    l = left.select(
        F.col(key).alias(key),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(r.schema["__carry"].dataType).alias("__carry"),
        *[F.col(t.name).alias(f"__l_{t.name}") for t in left.schema],
    )
    # max(struct) over the running frame picks greatest (__ts, __tb):
    # deterministic tie-break on duplicate right timestamps.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__t").asc(), F.col(_SIDE).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = r.unionByName(l).withColumn("__best", F.max("__carry").over(w))
    return matched.filter(F.col(_SIDE) == 1).select(
        *[F.col(f"__l_{t.name}").alias(t.name) for t in left.schema],
        *[F.col(f"__best.{c}").alias(c) for c in value_cols],
    )
