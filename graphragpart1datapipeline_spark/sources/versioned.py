"""Versioned tables: the one module that knows how persisted state is
laid out on disk and when a version counts as written.

LAYOUT: a versioned table ``d`` is a directory of versions ``d/v{N}``.
A version holds one parquet table, or one parquet table per named
sub-table (``d/v{N}/{name}``). Every write lands in a NEW version
directory rather than overwriting in place, so a reader never observes
a half-written table and a crashed write leaves the previous version
intact (Delta's transaction log solves the same problem — this is the
plain-parquet equivalent). Seeding a table is an ordinary write of
the next version; version 0 is not special.

COMMIT PROTOCOL: a version directory counts as committed only once a
marker file exists inside it — ``_SUCCESS`` (what FileOutputCommitter
writes at job commit) or the explicit ``_COMMITTED`` that
:func:`write_version` creates AFTER every sub-table write has returned
(a single empty-file create, atomic on HDFS/local; on S3 the PUT is
atomic per-object). The explicit marker is what makes the contract
hold where _SUCCESS is unreliable: under committer v2 or S3A
committers, task-committed part files land in the final directory
before job commit, so a crash mid-write of v{N+1} leaves a directory
that LOOKS newest but is half-written; a multi-table version has no
single _SUCCESS of its own at all. :func:`latest_version` skips any
unmarked directory, and :func:`prune_state_versions` GCs such crash
leftovers.

Listing, marking and deletion all go through the session's Hadoop
FileSystem, so state on HDFS/S3 resolves exactly like local disk (an
``os.listdir`` probe only sees the driver's filesystem).
"""

from __future__ import annotations

import os
import re
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "latest_version",
    "prune_state_versions",
    "read_version",
    "write_version",
]

_VERSION_RE = re.compile(r"^v(\d+)$")
_COMMIT_MARKERS = ("_SUCCESS", "_COMMITTED")


def _vdir(d: str, v: int) -> str:
    return os.path.join(d, f"v{v}")


def _fs(spark: SparkSession, some_path: str):
    """(Hadoop ``Path`` class, FileSystem of ``some_path``)."""
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    fs = path_cls(some_path).getFileSystem(spark._jsc.hadoopConfiguration())
    return path_cls, fs


def _versions(spark: SparkSession, d: str) -> tuple[list[int], list[int]]:
    """(committed, uncommitted) version numbers under ``d``, each
    sorted; both empty when ``d`` does not exist."""
    path_cls, fs = _fs(spark, d)
    committed, uncommitted = [], []
    if not fs.exists(path_cls(d)):
        return committed, uncommitted
    for st in fs.listStatus(path_cls(d)):
        m = _VERSION_RE.match(st.getPath().getName())
        if not m:
            continue
        marked = any(
            fs.exists(path_cls(st.getPath(), mk)) for mk in _COMMIT_MARKERS
        )
        (committed if marked else uncommitted).append(int(m.group(1)))
    return sorted(committed), sorted(uncommitted)


def latest_version(spark: SparkSession, d: str) -> int:
    """Newest COMMITTED version number under ``d``, -1 when none."""
    committed, _ = _versions(spark, d)
    return committed[-1] if committed else -1


def read_version(
    spark: SparkSession, d: str, tables: Sequence[str] | None = None
) -> tuple[DataFrame | dict[str, DataFrame], int]:
    """(newest committed version of ``d``, its number). ``tables=None``
    reads a single-table version; a sequence of names reads those
    sub-tables into a dict. Raises FileNotFoundError naming ``d`` when
    no committed version exists."""
    v = latest_version(spark, d)
    if v < 0:
        raise FileNotFoundError(f"no committed version under {d}")
    vdir = _vdir(d, v)
    if tables is None:
        return spark.read.parquet(vdir), v
    return {t: spark.read.parquet(os.path.join(vdir, t)) for t in tables}, v


def write_version(
    data: DataFrame | Mapping[str, DataFrame], d: str, v: int | None = None
) -> str:
    """Write ``data`` (a frame, or a dict of named sub-tables) as
    ``d/v{v}`` over any uncommitted leftover there, THEN mark it
    committed. ``v=None`` writes the version after the newest committed
    one (a seed). Returns the version directory."""
    frames = {"": data} if isinstance(data, DataFrame) else dict(data)
    spark = next(iter(frames.values())).sparkSession
    if v is None:
        v = latest_version(spark, d) + 1
    vdir = _vdir(d, v)
    for name, df in frames.items():
        df.write.mode("overwrite").parquet(
            os.path.join(vdir, name) if name else vdir
        )
    path_cls, fs = _fs(spark, vdir)
    fs.create(path_cls(vdir, "_COMMITTED"), True).close()
    return vdir


def prune_state_versions(
    spark: SparkSession, state_dir: str, keep: int = 2
) -> list[int]:
    """Garbage-collect old state versions, keeping the newest ``keep``
    (≥ 1 — the current version is never deletable). Without pruning, a
    long-running foreachBatch loop accumulates one full state copy per
    micro-batch — at 100 TB that is the storage bill, not a detail.
    ``keep ≥ 2`` preserves the crash contract (the previous version
    survives until the next batch commits on top of the current one).
    UNCOMMITTED directories (no ``_SUCCESS``/``_COMMITTED`` marker —
    crashed writes) below the newest committed version are GC'd —
    EXCEPT when they fall among the newest ``keep`` version numbers
    overall: a state dir written before the marker protocol existed
    (or with ``mapreduce.fileoutputcommitter.marksuccessfuljobs``
    disabled) has valid marker-less versions, and deleting all of them
    on the first post-upgrade prune would leave a single surviving
    version — breaking the ``keep ≥ 2`` crash contract exactly when a
    fallback matters most. Keeping the newest ``keep`` numbers means a
    genuine crash leftover is GC'd after ``keep`` more batches commit
    over it, while a pre-upgrade fallback version survives the
    migration window. An unmarked directory ABOVE the newest committed
    version is always left alone (a concurrent writer's in-flight
    version; the serial foreachBatch loop never races itself, but
    prune stays safe to call out-of-band). Returns the deleted version
    numbers."""
    if keep < 1:
        raise ValueError(f"prune_state_versions: keep must be >= 1, got {keep}")
    committed, uncommitted = _versions(spark, state_dir)
    doomed = committed[:-keep] if len(committed) > keep else []
    if committed:
        newest_overall = sorted(committed + uncommitted)[-keep:]
        doomed += [
            v
            for v in uncommitted
            if v < committed[-1] and v not in newest_overall
        ]
    path_cls, fs = _fs(spark, state_dir)
    for v in sorted(doomed):
        fs.delete(path_cls(_vdir(state_dir, v)), True)
    return sorted(doomed)
