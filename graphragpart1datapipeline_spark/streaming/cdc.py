"""Streaming CDC: keep a parquet mirror table current from a change
stream with a foreachBatch upsert loop (St1 micro-batch surface; the
streaming face of ``operators.relational.cdc_upsert_state``).

State is a versioned table (``sources/versioned.py`` owns the layout
and the commit protocol): each micro-batch writes ``state_dir/v{N+1}``
from ``v{N}``. The merge itself is out-of-order-safe (per-key
last-applied seq + delete tombstones), so replayed or late
micro-batches converge to the same table as one global pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import cdc_upsert_state
from ..sources.versioned import (
    latest_version,
    prune_state_versions,
    read_version,
    write_version,
)

__all__ = [
    "init_cdc_state",
    "prune_state_versions",
    "read_cdc_state",
    "stream_cdc_apply",
]


def init_cdc_state(base: DataFrame, state_dir: str) -> None:
    """Seed a new state version from a base snapshot (adds the
    last-applied-seq and tombstone bookkeeping columns). Re-seeding a
    used ``state_dir`` commits on top of its newest version, so reads
    serve the new seed."""
    seeded = base.withColumn("__cdc_seq", F.lit(None).cast("long")).withColumn(
        "__cdc_deleted", F.lit(False)
    )
    write_version(seeded, state_dir)


def read_cdc_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest committed state version."""
    return read_version(spark, state_dir)[0]


def _require_state(spark: SparkSession, *dirs: str) -> None:
    """Raise FileNotFoundError naming the first of ``dirs`` without a
    committed version — checked before a stream starts, so the error
    does not surface from inside foreachBatch."""
    for d in dirs:
        if latest_version(spark, d) < 0:
            raise FileNotFoundError(f"no committed version under {d}")


def _fold_batch(
    batch_df: DataFrame, state_dir: str, keys: list[str], seq_col: str, op_col: str
) -> None:
    """Fold one change batch into the newest state version of
    ``state_dir``, committing the result as the next version."""
    state, v = read_version(batch_df.sparkSession, state_dir)
    merged = cdc_upsert_state(state, batch_df, keys, seq_col, op_col=op_col)
    write_version(merged, state_dir, v + 1)


def stream_cdc_apply(
    changes: DataFrame,
    state_dir: str,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Run the change stream into the versioned state with foreachBatch.
    ``changes`` is a streaming DataFrame carrying full-row images plus
    (seq_col, op_col). Call :func:`init_cdc_state` first (raises
    FileNotFoundError otherwise). Returns the StreamingQuery
    (``available_now=True`` drains the backlog and stops — the
    incremental-batch operating mode)."""
    _require_state(changes.sparkSession, state_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _fold_batch(batch_df, state_dir, keys, seq_col, op_col)

    writer = changes.writeStream.foreachBatch(apply_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
