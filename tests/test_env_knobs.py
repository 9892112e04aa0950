"""The environment variables the package reads.

Every ``os.environ`` / ``os.getenv`` read in the package is a knob: it
changes behaviour without a visible argument, so the set is pinned here
and a new one needs an edit to :data:`KNOBS`.
"""

from __future__ import annotations

import ast
import pathlib

import airflow_postgres_etl_spark

KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PGUSER"}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _name(node) -> str:
    """The variable a read names: a string literal, else ``<dynamic>``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<dynamic>"


def env_reads(tree: ast.AST) -> set[str]:
    """Names read by ``environ.get/[]/in`` and ``getenv`` calls."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr == "getenv" or (
                f.attr in ("get", "setdefault", "pop") and _is_environ(f.value)
            ):
                out.add(_name(node.args[0]) if node.args else "<dynamic>")
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            out.add(_name(node.slice))
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            out.add(_name(node.left))
    return out


def test_env_reads_are_the_pinned_knobs():
    root = pathlib.Path(airflow_postgres_etl_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        for name in env_reads(ast.parse(path.read_text())):
            found.setdefault(name, []).append(str(path.relative_to(root)))
    assert set(found) == KNOBS, found


def test_env_read_scanner_sees_every_form():
    src = (
        'import os\nfrom os import environ\n'
        'os.environ.get("A")\nos.getenv("B", "x")\nos.environ["C"]\n'
        '"D" in os.environ\nenviron.get(name)\n'
    )
    assert env_reads(ast.parse(src)) == {"A", "B", "C", "D", "<dynamic>"}
