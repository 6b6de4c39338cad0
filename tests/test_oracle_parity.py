"""Every registered query with an oracle must hash-match DuckDB at
sf0.001 (the driver runs the same comparison at sf0.01). Oracle-less
queries must at least run and return a stable schema. The same build
must leave the session conf unchanged, and its formatted plan is stored
for the plan-rule tests in ``test_plan_audit.py``."""

from __future__ import annotations

import pytest

from project_map_reduce_spark.registry import entries
from tools.parity import compare
from tools.plan_rules import formatted_plan


def _all_entries():
    return sorted(entries().items())


@pytest.mark.parametrize(
    "name", [n for n, e in _all_entries()], ids=[n for n, _ in _all_entries()]
)
def test_query_matches_oracle(name, spark, duck, sf_dir, query_plans):
    e = entries()[name]
    conf = spark.conf.getAll
    sdf = e.fn(spark, sf_dir)
    # The plan as built, before the comparison executes the frame.
    query_plans[name] = formatted_plan(sdf)
    if e.oracle is None:
        rows = sdf.count()
        assert rows >= 0
        assert sdf.columns  # stable, non-empty schema
    else:
        problems = compare(name, sdf, duck.sql(e.oracle))
        assert not problems, f"{name}: " + "; ".join(problems)
    # A query must leave the caller's session conf as it found it.
    assert spark.conf.getAll == conf, f"{name} changed the session conf"
