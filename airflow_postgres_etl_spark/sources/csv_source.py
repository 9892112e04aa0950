"""CSV directory source with file lineage (reference S1–S4).

The reference lists files on the driver, sorts lexicographically, reads one
pandas frame per file and stamps ``fileName`` manually
(``events_table.py:45-50``, ``postgres.py:158-171``).  Here the listing
stays on the driver — :func:`list_landed` goes through the Hadoop
``FileSystem`` API, so object stores list the same way — and names each
file exactly as its rows' ``fileName`` will read, so a high-water-mark
cut happens on the list, before anything is read.  The surviving files
then go to ONE multi-file scan with a pinned schema; lineage comes from
``input_file_name()``, computed executor-side per split — no per-file
driver loop, and the scan parallelizes across however many files exist.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TRACKING_RAW

#: Hadoop glob metacharacters: a listed path that holds one is escaped,
#: or the reader would expand it as a pattern (``x[1].csv`` matches
#: ``x1.csv``, not itself).
_GLOB_CHARS = re.compile(r"([\\\[\]{}*?])")


def list_files(path: str) -> list[str]:
    """S1+S2: sorted file names.  Filenames are ``YYYYMMDD-HHMMSSmmm.csv`` so
    lexicographic == chronological (the high-water-mark contract)."""
    return sorted(f for f in os.listdir(path) if f.endswith(".csv"))


def list_landed(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """S1+S2 through the Hadoop ``FileSystem`` of ``path``: one
    ``(fileName, readable path)`` per ``.csv`` file directly under it,
    sorted by ``fileName``.  Driver-side, no Spark job.

    ``fileName`` is the name as :func:`with_file_name` stamps it on the
    file's rows — ``input_file_name()`` URI-encodes, so ``a b%.csv``
    reads back as ``a%20b%25.csv`` — because a high-water mark is a
    stored ``fileName`` and the raw and encoded orders differ
    (``"a b.csv" < "a!.csv"`` but ``"a%20b.csv" > "a!.csv"``).  Names
    starting with ``_`` or ``.`` are skipped, as Spark's own listing
    skips them.  Raises FileNotFoundError when ``path`` does not exist."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        raise FileNotFoundError(path)
    out = []
    for st in fs.listStatus(root):
        p = st.getPath()
        name = p.getName()
        if st.isFile() and name.endswith(".csv") and name[0] not in "_.":
            out.append(
                (
                    p.toUri().getRawPath().rsplit("/", 1)[-1],
                    _GLOB_CHARS.sub(r"\\\1", p.toString()),
                )
            )
    return sorted(out)


def with_file_name(df: DataFrame) -> DataFrame:
    """S4: lineage column = basename of the source file, per row,
    executor-side (vs the reference's driver-side ``df["fileName"] = file``).

    ``__file_pos`` captures scan order (monotonic within each split, splits
    ordered by offset) so "last row in file order" is a total, deterministic
    order — the T3 keep-last dedup uses it as the intra-file tiebreaker.
    Streaming scans can't carry ``monotonically_increasing_id``
    (unsupported expression in a streaming plan) — the streaming
    wirings add it INSIDE ``foreachBatch`` instead, where the frame is
    a batch plan (r11: fileName-only ordering there let intra-file
    duplicate keys pick a nondeterministic survivor).
    """
    out = df.withColumn(
        "fileName", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    if not df.isStreaming:
        out = out.withColumn("__file_pos", F.monotonically_increasing_id())
    return out


def read_tracking_csv(
    spark: SparkSession, paths: str | list[str], *, multiline: bool = False
) -> DataFrame:
    """S3: pinned-schema CSV scan over one path/glob or an explicit file list.

    ``quote``/``escape`` handle event descriptions containing commas,
    quotes and tabs (the reference relies on pandas' default C parser which
    uses the same RFC-4180 double-quote convention).
    """
    reader = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", multiline)
        .schema(TRACKING_RAW)
    )
    if isinstance(paths, str):
        df = reader.csv(paths)
    else:
        df = reader.csv(list(paths))
    return with_file_name(df)
