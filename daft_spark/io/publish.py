"""The two steps of a table commit, shared by the Delta, Iceberg, Hudi
and Paimon writers: stage the data files, then publish one log entry
that names them.

``stage_files`` is the first step. It runs one Spark parquet write into
a ``.staging-<uuid>`` directory under the table root and moves each file
to the name its format gives it; the staging directory goes away
whether or not the write succeeded. Nothing refers to a staged file
until the log entry does, so a write that fails before the publish
leaves only unreferenced files behind.

``publish_once`` is the second step. Every format names its next log
entry after the state it read (Delta ``<v+1>.json``, Iceberg
``v<N+1>.metadata.json``, Paimon ``snapshot-<N+1>``, Hudi
``<instant>.<action>``). Publishing that name must fail, not replace,
when another writer got there first: the entry is staged in a temp
file beside the target and hard-linked into place. ``link()`` refuses
an existing target where ``rename()`` would overwrite it, and readers
never see a half-written file.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame

STAGING_PREFIX = ".staging-"
# Spark's hive layout names a null partition value this way
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class ConcurrentCommitError(RuntimeError):
    """Another writer already published the log entry this commit
    targeted: the state the commit was built on is stale."""


def stage_files(
    df: DataFrame,
    root: str,
    partition_by: list[str],
    dest: Callable[[str, dict], str],
) -> list[tuple[str, dict]]:
    """Write ``df`` with Spark's parquet writer (hive layout over
    ``partition_by``) and move every file to ``dest(rel_dir, values)``:
    ``rel_dir`` is the file's hive directory relative to the output
    ("" when unpartitioned) and ``values`` maps each partition column
    to its raw string value, None for the hive null. Returns the
    ``(destination, values)`` pairs."""
    from urllib.parse import unquote

    staging = os.path.join(root, f"{STAGING_PREFIX}{uuid.uuid4().hex}")
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        out = []
        for dirpath, _dirs, files in os.walk(staging):
            rel_dir = os.path.relpath(dirpath, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            values = {}
            for seg in rel_dir.split(os.sep) if rel_dir else []:
                k, _, v = seg.partition("=")
                values[k] = None if v == HIVE_NULL else unquote(v)
            for f in sorted(files):
                if f.endswith(".parquet"):
                    dst = dest(rel_dir, values)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.move(os.path.join(dirpath, f), dst)
                    out.append((dst, dict(values)))
        return out
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def publish_once(final: str, text: str, conflict: str) -> None:
    """Write ``text`` as the file ``final`` unless it already exists;
    raise ``ConcurrentCommitError(conflict)`` when it does."""
    tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentCommitError(conflict) from None
    finally:
        os.remove(tmp)
