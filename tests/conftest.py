from __future__ import annotations

import os

import pytest

from airflow_postgres_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

#: Two-tier suite (r12, VERDICT r11 task 2): the FULL suite (1027 tests,
#: ~78 min measured) overruns the round driver's verify window — its
#: r11 run truncated mid-suite with zero failures and came back
#: `tests_ok: false`.  The driver-facing DEFAULT tier skips the tests
#: listed in fulltier_ids.txt (every test that measured >= ~10 s in the
#: full-suite baseline — long equivalence sweeps, crash matrices, the
#: README journey); the builder runs the FULL tier
#: (`SPARK_GRAFT_FULL_TESTS=1 pytest tests/`) before committing.
#: Coverage note: every operator keeps its fast oracle/unit pins in the
#: default tier, and the driver's own 50-query sf0.01 differential runs
#: independently of pytest.
_FULLTIER_PATH = os.path.join(os.path.dirname(__file__), "fulltier_ids.txt")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    try:
        with open(_FULLTIER_PATH) as fh:
            lines = [
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            ]
    except OSError:
        return
    # a line ending in "::*" gates a whole file/class by prefix
    prefixes = tuple(ln[:-1] for ln in lines if ln.endswith("::*"))
    ids = {ln for ln in lines if not ln.endswith("::*")}
    skip = pytest.mark.skip(
        reason="full tier: run with SPARK_GRAFT_FULL_TESTS=1"
    )
    named = _named_node_ids(config)
    # a named test's parametrized cases and a named class's tests count
    named_prefixes = tuple(n + s for n in named for s in ("[", "::"))
    for item in items:
        if item.nodeid in named or item.nodeid.startswith(named_prefixes):
            continue  # asked for by name: run it whatever its tier
        if item.nodeid in ids or (
            prefixes and item.nodeid.startswith(prefixes)
        ):
            item.add_marker(skip)


def _named_node_ids(config) -> set[str]:
    """Node ids the command line names explicitly (``file::test``),
    rewritten relative to the rootdir the way pytest prints them."""
    out = set()
    for arg in config.args:
        if "::" not in arg:
            continue
        path, rest = arg.split("::", 1)
        full = os.path.join(str(config.invocation_params.dir), path)
        rel = os.path.relpath(os.path.abspath(full), str(config.rootpath))
        out.add(rel.replace(os.sep, "/") + "::" + rest)
    return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
