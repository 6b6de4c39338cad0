import pickle
import sys
import threading
import types

import pytest

from perfbench import layers


@pytest.fixture
def fake_engine():
    """A three-module stand-in for the engine: a table loader, an
    operator, and a plan that imported both by name."""
    names = ["fakeeng", "fakeeng.tables", "fakeeng.operators", "fakeeng.operators.ops",
             "fakeeng.plans", "fakeeng.plans.q"]
    mods = {n: types.ModuleType(n) for n in names}
    exec("def load(x):\n    return x\n", mods["fakeeng.tables"].__dict__)
    exec("def double(x):\n    return 2 * x\n\ndef _private(x):\n    return x\n",
         mods["fakeeng.operators.ops"].__dict__)
    q = mods["fakeeng.plans.q"]
    q.load = mods["fakeeng.tables"].load
    q.double = mods["fakeeng.operators.ops"].double
    exec("def q_one(x):\n    return double(load(x))\n", q.__dict__)
    sys.modules.update(mods)
    yield mods
    for n in names:
        sys.modules.pop(n, None)


def test_instrument_wraps_public_functions_and_rebinds_imports(fake_engine):
    t = layers.Tracer()
    wrapped = t.instrument(root="fakeeng")
    assert wrapped == ["operators.double", "tables.load"]
    q = fake_engine["fakeeng.plans.q"]
    assert q.double is fake_engine["fakeeng.operators.ops"].double
    assert getattr(q.double, "__perfbench_traced__", False)
    assert not hasattr(fake_engine["fakeeng.operators.ops"]._private, "__perfbench_traced__")
    # a second call wraps nothing twice
    assert t.instrument(root="fakeeng") == []

    assert q.q_one(3) == 6
    assert t.spans == []  # disabled: no spans
    t.enabled = True
    t.query = "q_one"
    with t.span("plans.q_one"):
        q.q_one(3)
    names = {s["name"]: s for s in t.closed_spans()}
    assert set(names) == {"plans.q_one", "tables.load", "operators.double"}
    root = names["plans.q_one"]["id"]
    assert names["tables.load"]["parent"] == root
    assert names["operators.double"]["parent"] == root
    assert all(s["query"] == "q_one" for s in t.spans)


def test_wrapper_pickles_by_reference(fake_engine):
    from pyspark import cloudpickle

    layers.Tracer().instrument(root="fakeeng")
    f = fake_engine["fakeeng.operators.ops"].double
    assert pickle.loads(cloudpickle.dumps(f)) is f


def test_spans_from_other_threads_hang_under_the_main_threads_open_span():
    t = layers.Tracer()
    t.enabled = True
    with t.span("plans.q"):
        th = threading.Thread(target=lambda: t.end(t.begin("sources.sink")))
        th.start()
        th.join()
    by = {s["name"]: s for s in t.spans}
    assert by["sources.sink"]["parent"] == by["plans.q"]["id"]


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "plans.q", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "operators.f", "start": 1.0, "end": 5.0, "parent": 0},
        {"id": 2, "name": "tables.load", "start": 2.0, "end": 3.0, "parent": 1},
        {"id": 3, "name": "operators.f", "start": 6.0, "end": 7.0, "parent": 0},
    ]
    st = layers.self_times(spans)
    assert st["plans.q"] == {"calls": 1, "s": 10.0, "self_s": 5.0}
    assert st["operators.f"] == {"calls": 2, "s": 5.0, "self_s": 4.0}
    assert st["tables.load"]["self_s"] == 1.0
