"""Query registry — the single source of truth for the declared inventory.

Each query from SURVEY.md §2 Part B registers itself here with:
  - a Spark callable ``(spark, sf_dir) -> DataFrame`` (the engine path)
  - optionally a DuckDB oracle SQL string (the correctness contract);
    queries without an oracle get the driver's weaker rows-only check
    (only for genuinely non-SQL-expressible ops, e.g. randomized LSH).

``__spark_entry__.py`` is a thin adapter over this module.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class QueryEntry(NamedTuple):
    fn: QueryFn
    oracle: str | None
    doc: str


_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def fmt_doc(fn, **kw) -> None:
    """Interpolate constants into a query docstring, tolerating
    docstring-stripped interpreters (python -OO sets __doc__ = None)."""
    if fn.__doc__:
        fn.__doc__ = fn.__doc__.format(**kw)


def _ensure_loaded() -> None:
    # Import side effect populates the registry.
    from project_map_reduce_spark import plans  # noqa: F401


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: o for name, (_, o) in _REGISTRY.items() if o is not None}


def entries() -> dict[str, QueryEntry]:
    _ensure_loaded()
    # doc is read at ACCESS time, not decoration time: several queries
    # fill docstring placeholders via ``fn.__doc__.format(...)`` after
    # the @register decorator has already run.
    return {
        name: QueryEntry(fn, o, (fn.__doc__ or "").strip())
        for name, (fn, o) in _REGISTRY.items()
    }
