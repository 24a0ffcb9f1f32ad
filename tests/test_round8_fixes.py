"""Round-8 units: the five ADVICE.md (round 7) fixes.

Covers: the streaming-state commit protocol (_SUCCESS/_COMMITTED
markers — a crashed half-written v{N+1} is never 'newest committed'
and gets GC'd), retention running on all-delete/all-stale batches,
semdedup tau canonicalization + probe-side column-binding validation,
the non-prunable sentence_table bound guard, and ivf_compact's
atomic temp-write + rename swap.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE fix (medium): latest_version must skip uncommitted versions
# ---------------------------------------------------------------------------


def test_latest_version_skips_uncommitted_dirs(spark, tmp_path):
    from graphragpart1datapipeline_spark.sources.versioned import latest_version
    from graphragpart1datapipeline_spark.streaming.cdc import read_cdc_state

    d = str(tmp_path / "state")
    spark.createDataFrame([(0,)], "x long").write.parquet(
        os.path.join(d, "v0")
    )
    # simulate a crash mid-write of v1: part files present, no marker
    # (committer v2 / S3A shape — task commits landed, job commit didn't)
    spark.createDataFrame([(1,)], "x long").write.parquet(
        os.path.join(d, "v1")
    )
    os.remove(os.path.join(d, "v1", "_SUCCESS"))
    assert latest_version(spark, d) == 0
    assert read_cdc_state(spark, d).collect()[0]["x"] == 0


def test_prune_gcs_uncommitted_crash_leftovers(spark, tmp_path):
    from graphragpart1datapipeline_spark.sources.versioned import latest_version
    from graphragpart1datapipeline_spark.streaming.cdc import (
        prune_state_versions,
    )

    d = str(tmp_path / "state")
    for v in range(4):
        spark.createDataFrame([(v,)], "x long").write.parquet(
            os.path.join(d, f"v{v}")
        )
    # v1 crashed mid-write (below the newest committed v3): GC'd.
    # v9 is unmarked ABOVE the newest committed: could be an in-flight
    # writer — left alone.
    os.remove(os.path.join(d, "v1", "_SUCCESS"))
    os.makedirs(os.path.join(d, "v9"))
    deleted = prune_state_versions(spark, d, keep=2)
    assert deleted == [0, 1]
    assert sorted(os.listdir(d)) == ["v2", "v3", "v9"]
    assert latest_version(spark, d) == 3


def test_multi_table_version_commits_atomically(spark, tmp_path):
    """write_version marks the vdir only after every sub-table landed
    — a vdir missing the marker (crash between sub-table writes) is
    invisible to latest_version."""
    from graphragpart1datapipeline_spark.sources.versioned import (
        latest_version,
        write_version,
    )

    d = str(tmp_path / "ndix")
    t = spark.createDataFrame([(1,)], "x long")
    write_version({"a": t, "b": t}, d, 0)
    assert os.path.exists(os.path.join(d, "v0", "_COMMITTED"))
    assert latest_version(spark, d) == 0
    # crash shape: sub-table written, no vdir marker
    t.write.parquet(os.path.join(d, "v1", "a"))
    assert latest_version(spark, d) == 0


# ---------------------------------------------------------------------------
# ADVICE fix (low): retention must run on all-delete/all-stale batches
# ---------------------------------------------------------------------------


def test_stream_maintenance_prunes_on_delete_only_batches(spark, tmp_path):
    from graphragpart1datapipeline_spark.streaming.maintenance import (
        init_maintenance_state,
        stream_maintenance,
    )

    work = str(tmp_path / "work")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, embedding array<double>"
    )
    init_maintenance_state(docs, emb, cents, work)

    # a stream of DELETE-ONLY micro-batches (one row per batch)
    src = str(tmp_path / "src")
    schema = (
        "doc_id long, text string, embedding array<double>, "
        "seq long, op string"
    )
    for i, did in enumerate([1, 2]):
        spark.createDataFrame(
            [(did, None, None, 100 + i, "D")], schema
        ).write.mode("append").json(src + f"/f{i}")
    changes = spark.readStream.schema(schema).json(src + "/f*")
    q = stream_maintenance(
        changes,
        work,
        checkpoint_dir=str(tmp_path / "ckpt"),
        keep_versions=2,
        available_now=True,
    )
    q.awaitTermination(120)
    docs_versions = sorted(
        d for d in os.listdir(os.path.join(work, "docs"))
        if d.startswith("v")
    )
    # v0 + 2 delete batches would be 3 unpruned; keep_versions=2 holds
    assert len(docs_versions) == 2


# ---------------------------------------------------------------------------
# ADVICE fix (low): semdedup tau round-trip + column-binding validation
# ---------------------------------------------------------------------------


def test_semdedup_tau_canonicalized_to_params_roundtrip(spark):
    from graphragpart1datapipeline_spark.dedup.semantic import (
        semdedup_index,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    tau = 1.0 / 3.0  # does NOT round-trip through nanos un-canonicalized
    idx = semdedup_index(emb, tau=tau, k=1, iters=1)
    row = idx["params"].collect()[0].asDict()
    assert row["tau_nano"] == 333333333
    assert row["vec_col"] == "embedding" and row["id_col"] == "vec_id"
    # the reconstruction the upsert path performs is exact w.r.t. the
    # canonical build-time threshold
    assert row["tau_nano"] / 1e9 == 333333333 / 1e9


def test_semdedup_upsert_validates_column_bindings(spark):
    from graphragpart1datapipeline_spark.dedup.semantic import (
        semdedup_index,
        semdedup_upsert,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    idx = semdedup_index(emb, tau=0.9, k=1, iters=1)
    inc = spark.createDataFrame(
        [(3, [1.0, 1.0])], "other_id long, vec array<double>"
    )
    with pytest.raises(ValueError, match="column bindings differ"):
        semdedup_upsert(idx, inc, vec_col="vec", id_col="other_id")
    # matching bindings still work
    ok_inc = spark.createDataFrame(
        [(3, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    survivors, groups, _ = semdedup_upsert(idx, ok_inc)
    assert groups.count() == 3


# ---------------------------------------------------------------------------
# ADVICE fix (low): sentence_table guard survives column pruning
# ---------------------------------------------------------------------------


def test_sentence_table_guard_not_prunable(spark):
    from graphragpart1datapipeline_spark.text.summarize import (
        sentence_table,
    )

    docs = spark.createDataFrame(
        [("g", 1, "one. two. three. four.")],
        "community string, doc_id long, text string",
    )
    out = sentence_table(
        docs, "community", max_group_sentences=2
    ).select("group", "id")  # prunes the 'sentence' column entirely
    with pytest.raises(Exception, match="max_group_sentences"):
        out.collect()
    # under the bound, every column unharmed
    ok = sentence_table(docs, "community", max_group_sentences=10)
    rows = ok.orderBy("sent_pos").collect()
    assert [r["sentence"] for r in rows] == ["one", "two", "three", "four"]
    assert [r["sent_pos"] for r in rows] == [1, 2, 3, 4]
    assert all(r["group"] == "g" and r["id"] == 1 for r in rows)


# ---------------------------------------------------------------------------
# ADVICE fix (low): ivf_compact atomic swap
# ---------------------------------------------------------------------------


def test_ivf_compact_swap_is_crash_safe(spark, tmp_path):
    from graphragpart1datapipeline_spark.vector.search import (
        ivf_build_index,
        ivf_compact,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, embedding array<double>"
    )
    base = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "idx")
    ivf_build_index(base, cents, path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    out = ivf_compact(spark, path)
    assert sorted(map(tuple, out.collect())) == before
    # no swap debris: neither the temp copy nor the old copy remains
    assert not os.path.exists(path + "__tmp")
    assert not os.path.exists(path + "__old")
    # a leftover __old from a crashed swap refuses loudly (the index
    # would otherwise be silently shadowed/destroyed)
    os.makedirs(path + "__old")
    with pytest.raises(FileExistsError, match="crashed mid-swap"):
        ivf_compact(spark, path)
    os.rmdir(path + "__old")
    # and the refusal left the index fully readable
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
