"""Reach guard: every public engine function is run by a query or is
listed here with its reason.

The walk is by name over the AST, with no Spark session. It starts from
every ``@register``'d query, the module-level code of ``plans/`` (it
runs when the queries register) and the programs that run the queries
(``__spark_entry__.py``, ``bench.py``, ``tools/parity.py``). A name
referenced in a reached body (a bare name, an attribute or an import)
reaches every top-level function, class or assignment of that name in
the package. That over-approximates, so a function the guard reports is
certainly unreached.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "project_map_reduce_spark"
RUNNERS = ("__spark_entry__.py", "bench.py", "tools/parity.py")

# "<module path under the package>::<function>" -> why nothing reaches it
ALLOWED_UNREACHED = {
    "operators/multimodal.py::pdf_to_text": "reference worker path (ToText)",
    "operators/multimodal.py::pdf_to_html": "reference worker path (ToHTML)",
    "operators/multimodal.py::pdf_to_image": "reference worker path (ToImage)",
    "sources/readers.py::read_task_lines": "reference worker path (task lines)",
    "sources/readers.py::fetch_url_bytes": "reference worker path (URL fetch)",
    "sources/readers.py::write_report": "reference worker path (report sink)",
    "operators/zorder.py::py_z_value": "tests compare the Z-value column to it",
    "streaming/stateful.py::batch_user_totals": "tests compare the stream to it",
    "operators/packing.py::pack_bins": "open: should q_pack_sequences use it",
    "operators/packing.py::packed_running_total":
        "open: should q_pack_sequences use it",
}


def _is_register(dec: ast.expr) -> bool:
    func = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(func, "id", getattr(func, "attr", None)) == "register"


def _index():
    """(defs, functions, roots): ``defs`` maps each top-level name to its
    nodes, ``functions`` maps ``module::name`` to each public top-level
    function outside ``plans/``, ``roots`` are the query nodes and the
    module-level code of ``plans/``."""
    defs: dict[str, list[ast.AST]] = {}
    functions: dict[str, ast.AST] = {}
    roots: list[ast.AST] = []
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        in_plans = mod.startswith("plans/")
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                if any(_is_register(d) for d in node.decorator_list):
                    roots.append(node)
                elif isinstance(node, ast.FunctionDef) and not (
                    in_plans or node.name.startswith("_")
                ):
                    functions[f"{mod}::{node.name}"] = node
                continue
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (
                    node.targets if isinstance(node, ast.Assign) else [node.target]
                )
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append(node)
            if in_plans:
                roots.append(node)
    return defs, functions, roots


def _reach(defs, start) -> set[int]:
    """ids of every node reached from ``start``, following names."""
    seen: set[int] = set()
    names: set[str] = set()
    stack = list(start)
    while stack:
        node = stack.pop()
        if id(node) in seen:
            continue
        seen.add(id(node))
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                name = n.name.rsplit(".", 1)[-1]
            else:
                continue
            if name not in names:
                names.add(name)
                stack += defs.get(name, [])
    return seen


def _roots(roots):
    return roots + [ast.parse((ROOT / p).read_text()) for p in RUNNERS]


def unreached() -> list[str]:
    """Public functions that neither the queries, the runners nor an
    allow-listed function reach."""
    defs, functions, roots = _index()
    allowed = [functions[k] for k in ALLOWED_UNREACHED if k in functions]
    seen = _reach(defs, _roots(roots) + allowed)
    return sorted(
        k
        for k, node in functions.items()
        if id(node) not in seen and k not in ALLOWED_UNREACHED
    )


def stale_allowances() -> list[str]:
    """Allow-list entries that name no function, or one the queries or
    the runners reach."""
    defs, functions, roots = _index()
    seen = _reach(defs, _roots(roots))
    return sorted(
        k
        for k in ALLOWED_UNREACHED
        if k not in functions or id(functions[k]) in seen
    )


def test_every_public_engine_function_is_reached():
    assert unreached() == [], (
        "public engine functions that no query reaches: delete them, or "
        "list them in ALLOWED_UNREACHED with the reason they stay"
    )


def test_allow_list_names_only_unreached_functions():
    assert stale_allowances() == [], (
        "ALLOWED_UNREACHED entries that are gone or reached: remove them"
    )
