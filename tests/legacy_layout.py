"""Fixtures for keyed tables written before the manifest recorded their
table state: such a table kept its key, its ``auto`` flag and (before
manifests recorded the count) its bucket count in a ``_bucket_spec.json``
beside the manifest, and its CHECK constraints in a
``_constraints.json``.  The sink now only reads both files."""

from __future__ import annotations

import os

from airflow_postgres_etl_spark import sink
from airflow_postgres_etl_spark.storage import LOCAL_STORE


def write_legacy_spec(target: str, key: str, num_buckets: int) -> None:
    """Give ``target`` the layout record of a table written before
    auto-sizing and before manifests recorded the key: the old spec
    file (no ``auto`` flag), and its manifests — current and per-version
    — with their ``key`` and ``auto`` entries removed."""
    LOCAL_STORE.write_json(
        os.path.join(target, "_bucket_spec.json"),
        {"key": key, "num_buckets": num_buckets, "bucket_col": sink.BUCKET_COL},
    )
    _strip(target, "key", "auto")


def _strip(target: str, *keys: str) -> None:
    """Remove ``keys`` from the table's manifests, current and
    per-version."""
    for name in LOCAL_STORE.list_dir(target):
        if name.startswith("_manifest") and name.endswith(".json"):
            path = os.path.join(target, name)
            manifest = LOCAL_STORE.read_json(path)
            for k in keys:
                manifest.pop(k, None)
            LOCAL_STORE.write_json(path, manifest)


def write_legacy_constraints(target: str, constraints: dict[str, str]) -> None:
    """Give ``target`` the constraint record of a table written before
    manifests recorded CHECK constraints: the old ``_constraints.json``
    holding ``constraints``, and its manifests without a ``constraints``
    entry."""
    LOCAL_STORE.write_json(os.path.join(target, "_constraints.json"), constraints)
    _strip(target, "constraints")
