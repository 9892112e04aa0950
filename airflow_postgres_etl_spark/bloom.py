"""Bloom-filter file skipping for point predicates on non-key columns.

Min/max stats (``stats_cols``) and Z-ordering serve RANGE predicates; a
point predicate on a high-cardinality column (``request_id = X``,
``doc_hash = Y``) ranges over nearly every file and prunes nothing.  A
per-file Bloom filter answers "could this file contain value v" in a few
hundred bytes: at 100 TB a needle query opens the handful of files whose
bloom admits v instead of the whole table — the Delta/Parquet
bloom-index idea, stored in this format's manifest.

Design decisions:

- **Periodic maintenance, not per-merge bookkeeping**: blooms are built
  by :func:`add_bloom_index` over the CURRENT live files and committed
  through the manifest CAS.  Files written by later merges simply have
  no bloom yet — and a missing bloom means MUST READ, so staleness
  degrades pruning, never correctness (same contract as min/max stats).
  Re-run the builder on whatever cadence the point-query load justifies
  (``describe``'s file listing tells you how many files are unindexed).
- **Hashing stays in Spark**: bit positions come from
  ``xxhash64(value, seed_i) pmod m`` computed BY the engine, both at
  build and at probe (a one-row job, the :func:`sink.lookup_keys`
  precedent) — never a Python reimplementation that could drift from
  the JVM's xxhash64 variant.
- Probe-side pruning applies only to buckets WITHOUT pending
  merge-on-read deltas (precedence must resolve before any filtering —
  same exemption as stats pruning); the residual equality filter always
  applies, so semantics equal read-then-filter exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import _commit_manifest, _open_table, _read_files
from .storage import LOCAL_STORE

#: default filter geometry: 4096 bits / 5 hashes -> <1% false positives
#: at ~300 distinct values per file, 512 bytes per (file, column).
BLOOM_M = 4096
BLOOM_K = 5


def _positions_expr(col, m: int, k: int):
    """array<int> of the k bloom bit positions for a value — pure JVM."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            F.pmod(F.xxhash64(c.cast("string"), F.lit(i)), F.lit(m)).cast("int")
            for i in range(k)
        ]
    )


def _pack(positions: list[int], m: int) -> str:
    bits = bytearray(m // 8)
    for p in positions:
        bits[p // 8] |= 1 << (p % 8)
    import base64

    return base64.b64encode(bytes(bits)).decode()


def _admits(b64: str, positions: list[int]) -> bool:
    import base64

    bits = base64.b64decode(b64)
    return all(bits[p // 8] & (1 << (p % 8)) for p in positions)


def add_bloom_index(
    spark: SparkSession,
    target: str,
    col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    store=LOCAL_STORE,
) -> int:
    """(Re)build per-file blooms for ``col`` over every live file and
    commit them in the manifest (CAS — a racing merge wins cleanly and
    the builder rerun converges).  Returns the number of files indexed.

    One scan of the live files (distinct values per file), a
    driver-side fold of ≤ m bit positions per file — maintenance-class
    work, same cost envelope as clustering."""
    manifest = _open_table(target, store)[0]
    # blooms are keyed by PHYSICAL file+column; the caller names a
    # logical column — translate once (read_keyed_table's where_eq does
    # the same translation when consulting the index)
    from .sink import _live_files, _mapping_of, _phys_name

    col = _phys_name(col, _mapping_of(manifest)[0])
    rels = _live_files(manifest)
    if not rels:
        return 0
    rows = (
        _read_files(spark, target, rels)
        .select(
            F.input_file_name().alias("__file"),
            F.explode(_positions_expr(col, m, k)).alias("__pos"),
        )
        .groupBy("__file")
        .agg(F.collect_set("__pos").alias("__positions"))
        .collect()
    )
    # input_file_name is a URI over the absolute path; map back to rels
    by_suffix = {os.path.join(target, r): r for r in rels}

    def rel_of(uri: str) -> str | None:
        from urllib.parse import unquote, urlparse

        path = unquote(urlparse(uri).path) if ":" in uri.split("/", 1)[0] else uri
        return by_suffix.get(path) or by_suffix.get(os.path.normpath(path))

    blooms = dict(manifest.get("blooms", {}))
    live = set(rels)
    blooms = {f: v for f, v in blooms.items() if f in live}  # drop dead files
    indexed = 0
    for r in rows:
        rel = rel_of(r["__file"])
        if rel is None:
            continue
        per_col = dict(blooms.get(rel, {}))
        per_col[col] = {"m": m, "k": k, "b64": _pack(r["__positions"], m)}
        blooms[rel] = per_col
        indexed += 1
    new_manifest = dict(manifest)
    new_manifest["version"] = manifest["version"] + 1
    new_manifest["blooms"] = blooms
    _commit_manifest(
        target, new_manifest, expected_version=manifest["version"], store=store
    )
    return indexed


def probe_positions(spark: SparkSession, col_value, m: int, k: int) -> list[int]:
    """The k bit positions for a probe value — computed by Spark (one
    one-row job) so build and probe use the identical xxhash64."""
    row = (
        spark.range(1)
        .select(_positions_expr(F.lit(col_value), m, k).alias("p"))
        .collect()[0]
    )
    return list(row.p)


def bloom_prune(
    spark: SparkSession,
    manifest: dict,
    rel_files: list[str],
    col: str,
    value,
) -> list[str]:
    """Files from ``rel_files`` that could contain ``col = value``.
    Files without a bloom for ``col`` are always kept."""
    blooms = manifest.get("blooms", {})
    pos_cache: dict[tuple[int, int], list[int]] = {}
    out = []
    for rel in rel_files:
        info = blooms.get(rel, {}).get(col)
        if info is None:
            out.append(rel)
            continue
        key = (info["m"], info["k"])
        if key not in pos_cache:
            pos_cache[key] = probe_positions(spark, value, info["m"], info["k"])
        if _admits(info["b64"], pos_cache[key]):
            out.append(rel)
    return out
