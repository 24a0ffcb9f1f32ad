"""Small engine utilities shared across operators."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, _make_type_verifier


def local_frame(spark, rows: list, schema: str | StructType) -> DataFrame:
    """Driver-built ``rows`` (tuples; ``schema`` a DDL string or
    StructType) as an Arrow ``LocalTableScan``. From a list,
    ``createDataFrame`` plans ``Scan ExistingRDD`` over a PythonRDD, and
    every job reading it starts a Python worker per partition (4 cores,
    450x3 rows, one ``groupBy().count()``: 0.61-0.79 s vs 0.14-0.31 s
    from Arrow, same 0.02 s build; a small ``collect()`` runs 0 jobs, not
    1). Rows pass the list path's verifier and ``toInternal`` first, so
    out-of-range values raise and a naive datetime is local time."""
    if not isinstance(schema, StructType):
        schema = DataType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, schema.toInternal(r))) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    cluster can use. Small single-file tables (one parquet file → one
    scan partition) otherwise serialize CPU-heavy per-row stages
    (hashing, shingling, chunking) onto one core; the repartition
    shuffle of a small table is orders of magnitude cheaper than that.
    At scale inputs already have plenty of partitions and this is a
    no-op (no shuffle added). The partition probe is not free when
    ``df`` holds a shuffle: under AQE ``df.rdd.getNumPartitions()``
    runs its shuffle stages (0 jobs on a plain scan, 2 on a scan
    semi-joined to a ``distinct()``), which the caller's action then
    runs again."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def swap_directory(spark, path: str, tmp: str, label: str) -> None:
    """Atomically swap a freshly-written ``tmp`` directory over
    ``path`` with two renames (``path`` → ``{path}__old`` → deleted
    only after ``tmp`` is live at ``path``) — the crash-safety
    contract shared by every full-rewrite maintenance verb
    (ivf_compact, pq_delete): a durable on-disk copy of the artifact
    exists at EVERY instant, and the rename window is recoverable by
    inspection (if ``path`` is missing, ``{path}__old`` or ``tmp``
    holds the complete artifact — rename it back). Renames are atomic
    on HDFS/local FS; on S3 use a rename-capable layer for
    maintenance jobs. ``label`` names the calling verb in errors."""
    old = path + "__old"
    jvm = spark._jvm
    p_idx = jvm.org.apache.hadoop.fs.Path(path)
    fs = p_idx.getFileSystem(spark._jsc.hadoopConfiguration())
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_old = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(p_old):
        raise FileExistsError(
            f"{label}: {old} already exists — a previous operation "
            f"crashed mid-swap; recover (rename it back over {path} if "
            "it is missing, else delete it) before retrying"
        )
    if not fs.rename(p_idx, p_old):
        raise OSError(f"{label}: rename {path} -> {old} failed")
    if not fs.rename(p_tmp, p_idx):
        # put the original back so the artifact path stays valid
        fs.rename(p_old, p_idx)
        raise OSError(f"{label}: rename {tmp} -> {path} failed")
    fs.delete(p_old, True)
