"""Package code that only tests call.

Every top-level function, class or constant in the package must be
reached from outside ``tests/``: from a registered query, the report
pipeline, ``bench.py``, ``__spark_entry__.py``, ``perfbench/`` or
``tools/``. A name counts as reached when some live top-level statement
of those files mentions it — as a name, an attribute, an imported
name, or a string that is exactly that identifier. A definition that
only unreached definitions mention is unreached too (the scan runs to
a fixed point), so a helper does not keep itself alive through a dead
caller. The names that stay unreached on purpose are listed in
``TEST_ONLY_KEEP``, each with its reason; anything else the scan finds
is code to delete along with the tests that alone call it. A package
``__init__`` that re-exports a name (an import, or its ``__all__``
string) does not reach it: a re-export is not a caller.

Pure AST: no Spark, no import of the package.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "tableau_dashboard_performance_etl_automation_spark"

#: ``module path :: name`` → why it stays although only tests call it.
TEST_ONLY_KEEP = {
    "operators/tabjolt_compat.py::load_tabjolt_tables":
        "loads the reference's own inputs for the golden tests",
    "operators/tabjolt_compat.py::run_reference_queries":
        "runs the nine reference queries for the golden tests",
    "sources/warehouse.py::invalidate_artifacts":
        "documented way to revoke cached artifacts after an in-session input change",
    "reports/png_mini.py::decode_png":
        "reference decoder the tests check the PNG encoder against",
    "reports/png_mini.py::decode_png_header":
        "reference header parser the tests check the PNG encoder against",
}

_IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*\Z")


def _sources() -> list[str]:
    """Every non-test Python file that can reach package code."""
    out = []
    for base in (PKG, "perfbench", "tools"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return out + [os.path.join(ROOT, n) for n in ("bench.py", "__spark_entry__.py")]


def _defined(stmt: ast.stmt) -> set[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign)
        else []
    )
    return {
        t.id for t in targets
        if isinstance(t, ast.Name) and not t.id.startswith("__")
    }


def _mentioned(stmt: ast.stmt) -> set[str]:
    out = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _IDENT.match(node.value)
        ):
            out.update(node.value.split("."))
    return out


def _is_reexport(stmt: ast.stmt) -> bool:
    return isinstance(stmt, (ast.Import, ast.ImportFrom)) or (
        isinstance(stmt, ast.Assign)
        and [getattr(t, "id", None) for t in stmt.targets] == ["__all__"]
    )


def unreached() -> set[str]:
    """``module path :: name`` of every package definition that no
    live statement outside ``tests/`` mentions; ``TEST_ONLY_KEEP``
    entries count as live, so what they call is reached."""
    pkg_dir = os.path.join(ROOT, PKG)
    stmts = []  # (defined keys, mentioned names)
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, pkg_dir)
        in_pkg = not rel.startswith("..")
        for stmt in tree.body:
            if in_pkg and os.path.basename(path) == "__init__.py" and (
                _is_reexport(stmt)
            ):
                continue
            names = _defined(stmt) if in_pkg else set()
            keys = {f"{rel}::{n}" for n in names}
            stmts.append((keys, _mentioned(stmt) - names))
    dead: set[str] = set()
    while True:
        live = set()
        for keys, mentioned in stmts:
            if not keys or not keys <= dead or keys & TEST_ONLY_KEEP.keys():
                live |= mentioned
        now = {
            k for keys, _ in stmts for k in keys
            if k.split("::")[1] not in live
        }
        if now == dead:
            return dead
        dead = now


def test_only_tests_reach_exactly_the_keep_list():
    found = unreached()
    assert found == set(TEST_ONLY_KEEP), (
        "package definitions reached only from tests/ (delete them with "
        "their tests, or add them to TEST_ONLY_KEEP with a reason): "
        f"{sorted(found - set(TEST_ONLY_KEEP))}; keep-list entries now "
        f"reached or gone: {sorted(set(TEST_ONLY_KEEP) - found)}"
    )
