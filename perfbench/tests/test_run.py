import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    return run.metric_spec()


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    assert names == list(WORKLOADS)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert len(names) == len(set(names))
    assert 1 <= len(spec["per_layer"]) <= 128
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_line_emits_exactly_the_listed_metrics(spec):
    report = {
        "failed": 0, "attempted": 7,
        "setup_s": {"median": 5.0}, "wall_s": {"median": 3.5}, "cpu_s": {"median": 6.0},
        "query_p50_s": 1.25,
    }
    line = run.result_line(report, spec, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 7
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert line["metrics"]["wall_s"] == {"value": 3.5, "unit": "s"}

    report["layers"] = {m["name"]: 0.0 for m in spec["per_layer"]}
    report["failed"] = 2
    line = run.result_line(report, spec, 1)
    assert line["correct"] is False
    assert list(line["metrics"]) == [m["name"] for m in spec["per_layer"]]
    del report["layers"][spec["per_layer"][0]["name"]]
    with pytest.raises(KeyError):
        run.result_line(report, spec, 1)


def test_seed_permutes_query_order_deterministically():
    qs = [f"q{i}" for i in range(8)]
    a = run.order(qs, 3, "pass0")
    assert sorted(a) == qs
    assert a == run.order(qs, 3, "pass0")
    assert qs == [f"q{i}" for i in range(8)]  # input untouched
    orders = {tuple(run.order(qs, s, "pass0")) for s in range(10)}
    assert len(orders) > 1
    assert run.order(qs, 3, "pass0") != run.order(qs, 3, "pass1")


def test_workload_queries_are_registered_with_oracles():
    from project_map_reduce_spark import registry

    oracles = registry.oracles()
    for wl in WORKLOADS.values():
        assert wl.queries and all(q in oracles for q in wl.queries)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", next(iter(WORKLOADS)),
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (tmp_path / ".perfbench").exists()
