"""The objects the package writes beside a table's manifest.

A keyed table's state commits in its manifest, through one conditional
swap.  An object written unconditionally beside it (``store.write_json``)
can get out of step with the manifest on a crash or a race, so the path
helpers whose results the package passes to ``write_json`` are pinned
here: a new side file needs an entry in :data:`SIDE_FILES` saying why it
is not table state.
"""

from __future__ import annotations

import ast
import pathlib

import airflow_postgres_etl_spark

#: (module, path helper) -> why the object is written beside a manifest
SIDE_FILES = {
    ("sink.py", "_version_manifest_path"): (
        "the per-version copy of a committed manifest (time travel), "
        "written after its CAS"
    ),
    ("sink.py", "_wap_meta_path"): (
        "a WAP branch's fork point; whether it was published is read from "
        "the source's manifest"
    ),
    ("views.py", "_meta_path"): "a materialized view's own commit object",
    ("operators/similarity.py", "_ivf_meta_path"): (
        "an IVF index's own commit object"
    ),
    ("operators/text.py", "_index_meta_path"): "a text index's BM25 totals",
    ("operators/expectations.py", "_reports_path"): (
        "the DQ report history appended after each gated merge"
    ),
}


def json_writes(tree: ast.AST) -> set[str]:
    """Path helpers of every ``<store>.write_json(<helper>(...), ...)``
    call; a path that is not a helper call reads ``<dynamic>``."""
    out = set()
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "write_json"
        ):
            continue
        path = node.args[0] if node.args else None
        fn = path.func if isinstance(path, ast.Call) else None
        if isinstance(fn, ast.Name):
            out.add(fn.id)
        elif isinstance(fn, ast.Attribute):
            out.add(fn.attr)
        else:
            out.add("<dynamic>")
    return out


def test_side_files_are_the_pinned_ones():
    root = pathlib.Path(airflow_postgres_etl_spark.__file__).parent
    found = {
        (path.relative_to(root).as_posix(), helper)
        for path in sorted(root.rglob("*.py"))
        for helper in json_writes(ast.parse(path.read_text()))
    }
    assert found == set(SIDE_FILES), found ^ set(SIDE_FILES)


def test_side_file_scanner_sees_every_form():
    src = (
        "store.write_json(_a(t), m)\n(store or S).write_json(mod._b(t), m)\n"
        "store.write_json(path, m)\nstore.read_json(_c(t))\n"
    )
    assert json_writes(ast.parse(src)) == {"_a", "_b", "<dynamic>"}
