"""Regression locks for the round-8 mid-round review findings:

1. stream_maintenance PQ replay independence — a crash between the
   IVF append and the PQ append must be REPAIRED on replay, not
   skipped forever.
2. dhash_expr raises on a grid whose length != rows*cols (a
   mismatched decoder would otherwise emit near-zero fingerprints and
   an all-pairs banded join).
3. sq8_encode clamps out-of-range values on the LONG before any int
   cast (an extreme value must clamp to the NEAR edge, never wrap).
4. pq_encode refuses a codebook trained on a different vector
   dimension.
5. prune_state_versions spares marker-less (pre-upgrade) versions
   that fall within the newest ``keep`` window.
6. read_maintenance_state tolerates an IVF index that predates
   centroid persistence (centroids=None, everything else readable).
7. pq_codebook catches ONLY the missing-path analysis error.
8. pii_counts reads the corpus ONCE (single scan in the plan).
9. coarse_probe_ids is the single shared probe rule.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. PQ replay independence in the maintenance loop
# ---------------------------------------------------------------------------


def test_stream_maintenance_repairs_pq_after_partial_crash(spark, tmp_path):
    """Simulate the crash window: the IVF append of a batch committed
    but the PQ append did not (driver died between step 6 and 6b).
    The replay must fold the batch into the PQ codes — the old
    IVF-gated logic skipped PQ forever."""
    from graphragpart1datapipeline_spark.streaming.maintenance import (
        init_maintenance_state,
        stream_maintenance,
    )
    from graphragpart1datapipeline_spark.vector.search import ivf_upsert

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, embedding array<double>",
    )
    work = str(tmp_path / "maint_pq")
    init_maintenance_state(
        docs, emb, cents, work, threshold=0.3, pq_m=2, pq_ksub=2
    )
    # the batch's IVF append already landed (the pre-crash half) ...
    inc_emb = spark.createDataFrame(
        [(30, [0.9, 0.1, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ivf_upsert(
        os.path.join(work, "ivf"), inc_emb, cents,
        vec_col="embedding", id_col="vec_id",
        cent_vec_col="embedding", cent_id_col="cid",
    )
    pq_path = os.path.join(work, "pq")
    assert (
        spark.read.parquet(pq_path)
        .filter(F.col("vec_id") == 30)
        .count()
        == 0
    )
    # ... now the stream replays the same batch
    feed = spark.createDataFrame(
        [(30, "late doc", 1, "U", [0.9, 0.1, 0.0, 0.0])],
        "doc_id long, text string, seq int, op string, "
        "embedding array<double>",
    )
    feed_dir = work + "/feed"
    feed.coalesce(1).write.parquet(feed_dir)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, seq int, op string, "
            "embedding array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = stream_maintenance(
        stream, work, cents, threshold=0.3, id_col="doc_id",
        checkpoint_dir=work + "/ckpt",
    )
    q.awaitTermination()
    # the replay repaired the PQ half (2 sub rows for id 30, m=2) and
    # did NOT double-append the IVF half
    assert (
        spark.read.parquet(pq_path).filter(F.col("vec_id") == 30).count()
        == 2
    )
    assert (
        spark.read.parquet(os.path.join(work, "ivf"))
        .filter(F.col("vec_id") == 30)
        .count()
        == 1
    )


# ---------------------------------------------------------------------------
# 2. dhash grid-shape guard
# ---------------------------------------------------------------------------


def test_dhash_expr_raises_on_wrong_grid_shape(spark):
    from graphragpart1datapipeline_spark.multimodal.assets import dhash_expr

    short = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], "id long, grid array<double>"
    )
    with pytest.raises(Exception, match="expected a 8x8 grid"):
        short.select(dhash_expr("grid")).collect()
    ok = spark.createDataFrame(
        [(1, [float(i % 7) for i in range(64)])],
        "id long, grid array<double>",
    )
    assert ok.select(dhash_expr("grid").alias("fp")).collect()[0]["fp"] >= 0


# ---------------------------------------------------------------------------
# 3. SQ8 edge clamp (no int wraparound)
# ---------------------------------------------------------------------------


def test_sq8_encode_extreme_values_clamp_to_near_edge(spark):
    from graphragpart1datapipeline_spark.vector.squant import sq8_encode

    # span 1.0 over [0, 1]; x = 2^40 makes floor(x*255 + .5) overflow
    # int32 — the old int-cast-then-clamp wrapped it to the 0 edge
    df = spark.createDataFrame(
        [(1, [float(2**40), float(-(2**40))])],
        "vec_id long, embedding array<double>",
    )
    row = sq8_encode(df, mins=[0.0, 0.0], maxs=[1.0, 1.0]).collect()[0]
    assert row["codes"] == [255, 0]


# ---------------------------------------------------------------------------
# 4. pq_encode codebook-dimension validation
# ---------------------------------------------------------------------------


def test_pq_encode_rejects_wrong_dimension_codebook(spark):
    from graphragpart1datapipeline_spark.vector.pq import pq_encode

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    # codebook says m=2 but its centroids are 4-dim (trained on 8-dim
    # vectors): 4 % 2 == 0 passes the old check, yet subvectors are
    # 2-dim — must raise, not emit null-ordered garbage codes
    bad_book = spark.createDataFrame(
        [(0, 0, [0.0] * 4), (0, 1, [1.0] * 4),
         (1, 0, [0.0] * 4), (1, 1, [1.0] * 4)],
        "sub int, cid int, centroid array<double>",
    )
    with pytest.raises(ValueError, match="different vector dimension"):
        pq_encode(corpus, bad_book)


# ---------------------------------------------------------------------------
# 5. prune spares pre-upgrade marker-less versions in the keep window
# ---------------------------------------------------------------------------


def test_prune_spares_preupgrade_versions_in_keep_window(spark, tmp_path):
    from graphragpart1datapipeline_spark.sources.versioned import write_version
    from graphragpart1datapipeline_spark.streaming.cdc import (
        prune_state_versions,
    )

    state = tmp_path / "state"
    df = spark.range(1)
    # v0..v2 written BEFORE the marker protocol existed (no markers)
    for v in range(3):
        df.write.mode("overwrite").parquet(str(state / f"v{v}"))
    # first post-upgrade batch writes a marked v3
    write_version(df, str(state), 3)
    deleted = prune_state_versions(spark, str(state), keep=2)
    # v2 is within the newest-2 window: it survives as the crash
    # fallback; v0/v1 are GC'd
    assert deleted == [0, 1]
    assert not (state / "v0").exists() and not (state / "v1").exists()
    assert (state / "v2").exists() and (state / "v3").exists()
    # a genuine crash leftover below the window still gets GC'd once
    # more committed versions land on top
    write_version(df, str(state), 4)
    write_version(df, str(state), 5)
    assert prune_state_versions(spark, str(state), keep=2) == [2, 3]


# ---------------------------------------------------------------------------
# 6. read_maintenance_state without persisted centroids
# ---------------------------------------------------------------------------


def test_read_maintenance_state_tolerates_missing_centroids(spark, tmp_path):
    import shutil

    from graphragpart1datapipeline_spark.streaming.maintenance import (
        init_maintenance_state,
        read_maintenance_state,
    )

    docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, embedding array<double>"
    )
    work = str(tmp_path / "maint_nc")
    init_maintenance_state(docs, emb, cents, work, threshold=0.3)
    # simulate a work_dir built before centroid persistence
    shutil.rmtree(os.path.join(work, "ivf_centroids"))
    st = read_maintenance_state(spark, work)
    assert st["centroids"] is None
    assert st["docs"].count() == 1  # everything else stays readable
    assert st["labels"] is not None and st["bm25"] is not None


# ---------------------------------------------------------------------------
# 7. pq_codebook error discipline
# ---------------------------------------------------------------------------


def test_pq_codebook_missing_path_is_friendly(spark, tmp_path):
    from graphragpart1datapipeline_spark.vector.pq import pq_codebook

    with pytest.raises(FileNotFoundError, match="rebuild with pq_build_index"):
        pq_codebook(spark, str(tmp_path / "no_such_index"))


# ---------------------------------------------------------------------------
# 8. pii_counts is one scan
# ---------------------------------------------------------------------------


def test_pii_counts_single_scan_and_values(spark, tmp_path):
    from graphragpart1datapipeline_spark.text.analysis import pii_counts

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "mail me a@b.com or c@d.org and call +1 (555) 123-4567"),
            (2, "see https://example.com"),
            (3, "clean"),
        ],
        "doc_id long, text string",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = {
        r["kind"]: (r["matches"], r["docs_with_match"])
        for r in pii_counts(df).collect()
    }
    assert out == {"EMAIL": (2, 1), "URL": (1, 1), "PHONE": (1, 1)}
    # ONE parquet scan in the physical plan (the old union-of-selects
    # shape scanned the corpus once per PII kind)
    plan = pii_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


# ---------------------------------------------------------------------------
# 9. the shared coarse-probe rule
# ---------------------------------------------------------------------------


def test_coarse_probe_ids_rule(spark):
    from graphragpart1datapipeline_spark.vector.search import coarse_probe_ids

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])]
    assert coarse_probe_ids(cents, [1.0, 0.05], 2) == [0, 2]
    # tie on cosine breaks cid asc
    assert coarse_probe_ids(
        [(5, [1.0, 0.0]), (3, [2.0, 0.0])], [1.0, 0.0], 2
    ) == [3, 5]
