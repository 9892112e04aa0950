"""The objects the package writes beside a table's manifest, and the
readers of old manifest forms.

A keyed table's state commits in its manifest, through one conditional
swap.  An object written unconditionally beside it (``store.write_json``)
can get out of step with the manifest on a crash or a race, so the path
helpers whose results the package passes to ``write_json`` are pinned
here: a new side file needs an entry in :data:`SIDE_FILES` saying why it
is not table state.

The side files older writers left (:data:`LEGACY_FILES`) are named only
by ``sink._normalize``, and the per-version manifest copies are read
only by ``sink._read_version``, so one function knows the old forms.
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


#: side files that held table state before manifests recorded it
LEGACY_FILES = ("_bucket_spec.json", "_constraints.json", "_wap.json")


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring nodes in ``tree``."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def sites(tree: ast.AST) -> tuple[set[str], set[str]]:
    """The innermost functions (``<module>`` outside any) that name a
    :data:`LEGACY_FILES` entry outside a docstring, and those that read
    ``_version_manifest_path(...)`` with ``read_json``."""
    docs = _docstrings(tree)
    legacy, versions = set(), set()

    def helper(call) -> str | None:
        fn = call.func if isinstance(call, ast.Call) else None
        return getattr(fn, "id", getattr(fn, "attr", None))

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and any(name in node.value for name in LEGACY_FILES)
        ):
            legacy.add(fn)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "read_json"
            and node.args
            and helper(node.args[0]) == "_version_manifest_path"
        ):
            versions.add(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return legacy, versions


def test_old_forms_and_version_copies_have_one_reader():
    root = pathlib.Path(airflow_postgres_etl_spark.__file__).parent
    legacy, versions = set(), set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        found = sites(ast.parse(path.read_text()))
        legacy |= {(rel, fn) for fn in found[0]}
        versions |= {(rel, fn) for fn in found[1]}
    assert legacy == {("sink.py", "_normalize")}
    assert versions == {("sink.py", "_read_version")}


def test_reader_scanner_sees_every_form():
    src = (
        'def f():\n    """_wap.json in a docstring"""\n'
        '    return s.read_json(os.path.join(t, "_constraints.json"))\n'
        "def g():\n    def h():\n"
        "        return s.read_json(_version_manifest_path(t, 1))\n"
        "    return h\n"
        "x = store.read_json(sink._version_manifest_path(t, 2))\n"
        "y = '_bucket_spec.json'\n"
    )
    assert sites(ast.parse(src)) == ({"f", "<module>"}, {"h", "<module>"})
