"""Distributed k-means (Lloyd's) with bit-reproducible iterations.

The reference pipeline consumes externally-trained embeddings and an
HNSW index (chroma_helpers.py:36-81); it never trains cluster
structure itself. This module closes the gap the IVF family needs:
``ivf_assignments``/``ivf_topk`` (search.py) take a centroid table as
input, and ``kmeans_fit`` is the engine-native way to produce one.

Design for determinism AND scale:

- **Assignment is row-local**: the k·dim centroid table is driver
  state, so every round and the final assignment pass it to the one
  nearest-centroid kernel (``search._nearest_centroid``), whose literal
  fork embeds it in the plan (broadcast fork above 64k doubles) and
  scores it with the same in-order-fold ``cosine_expr`` the rest of the
  vector family uses (argmin of (−cos, cid): cosine desc, cid asc, NaN
  last). No join, no n×k row explosion, no shuffle of anything
  corpus-sized; ties break identically everywhere.
- **Centroid update is exact integer arithmetic**: components are
  scaled to ``round(v * scale)`` longs, summed (associative +
  commutative → identical under ANY partitioning or engine), and the
  new centroid component is the double ``s / (n * scale)``. Plain
  double averages would drift with partition order; scaled-long sums
  make the WHOLE iterative run reproducible — the DuckDB oracle
  replays every iteration bit-for-bit (q80).
- Per iteration: ONE map-only corpus scan (row-local argmin fused into
  it) feeding a map-side-combined ``groupBy(cid, dim)`` whose shuffle
  payload is k·dim rows per partition — independent of corpus size.
  Centroids live driver-side (k ≪ n by definition, same contract as
  ``ivf_topk``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import local_frame
from .search import _nearest_centroid

__all__ = ["kmeans_fit", "centroids_df"]


def centroids_df(
    spark: SparkSession, centroids: Sequence[tuple[int, Sequence[float]]]
) -> DataFrame:
    """Materialize driver-side ``(cid, vector)`` centroids as the
    centroid-table shape the IVF family consumes (``cid``,
    ``embedding``)."""
    return local_frame(
        spark,
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, embedding array<double>",
    )


def _seed_centroids(
    df: DataFrame, vec_col: str, id_col: str, k: int, seed: str | int
) -> list[tuple[int, list[float]]]:
    """Deterministic init: the k rows with the smallest
    ``md5(seed ':' id)`` (id tiebreak), cid assigned in that order.
    A seeded hash-sample — engine-portable, unlike kmeans++ draws."""
    key = F.md5(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string"))
    )
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("__key", key)
        .orderBy("__key", id_col)
        .limit(k)
        .collect()
    )
    return [(cid, list(r["v"])) for cid, r in enumerate(rows)]


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    seed: str | int = 42,
    scale: int = 1_000_000,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Run ``iters`` Lloyd rounds (assign → exact-integer mean) from a
    seeded hash-sample init, then return ``(centroids, assignments)``
    where ``assignments`` is the (id, centroid_id, assign_cos) frame
    scored against the FINAL centroids (``assign_cos`` is the winning
    cosine). Empty clusters keep their previous centroid.

    The returned centroid list feeds :func:`centroids_df` →
    :func:`ivf_build_index` for a trained IVF index instead of a
    sampled one.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    corpus = df.select(id_col, vec_col)
    # iterative algorithm scanning the same frame iters+2 times:
    # persist it (MEMORY_AND_DISK, same practice as Spark ML's KMeans —
    # spills instead of failing when the corpus outgrows memory)
    corpus.persist()
    try:
        return _lloyd(corpus, vec_col, id_col, k, iters, seed, scale)
    finally:
        corpus.unpersist()


def _lloyd(corpus, vec_col, id_col, k, iters, seed, scale):
    cents = _seed_centroids(corpus, vec_col, id_col, k, seed)
    dim = len(cents[0][1]) if cents else 0
    for _ in range(iters):
        # one map-only scan (the literal-fork argmin) feeding the
        # k·dim-sized update shuffle
        best = _nearest_centroid(
            corpus, [(0, cid, vec) for cid, vec in cents], vec_col,
            [id_col], keep_vec=True,
        )
        comps = (
            best.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("d", "__val")
            )
            .groupBy("centroid_id", "d")
            .agg(
                F.sum(
                    F.floor(F.col("__val").cast("double") * scale + F.lit(0.5))
                    .cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, list[float]] = {}
        for r in comps:
            vec = by_cid.setdefault(r["centroid_id"], [0.0] * dim)
            vec[r["d"]] = r["s"] / (r["n"] * scale)
        cents = [
            (cid, by_cid.get(cid, prev)) for cid, prev in cents
        ]
    final = _nearest_centroid(
        corpus, [(0, cid, vec) for cid, vec in cents], vec_col, [id_col]
    ).withColumnRenamed("score", "assign_cos")
    return cents, final
