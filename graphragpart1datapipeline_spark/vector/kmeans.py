"""Distributed k-means (Lloyd's) with bit-reproducible iterations.

The reference pipeline consumes externally-trained embeddings and an
HNSW index (chroma_helpers.py:36-81); it never trains cluster
structure itself. This module closes the gap the IVF family needs:
``ivf_assignments``/``ivf_topk`` (search.py) take a centroid table as
input, and ``kmeans_fit`` is the engine-native way to produce one.

Design for determinism AND scale:

- **Assignment is row-local**: the k·dim centroid table rides the plan
  as a LITERAL (the vector/pq.py ``_assign`` pattern; broadcast-join
  fallback above ~64k doubles), scored with the same in-order-fold
  ``cosine_expr`` the rest of the vector family uses (argmax = cosine
  desc, cid asc). No join, no n×k row explosion, no shuffle of
  anything corpus-sized; ties break identically everywhere.
- **Centroid update is exact integer arithmetic**: components are
  scaled to ``round(v * scale)`` longs, summed (associative +
  commutative → identical under ANY partitioning or engine), and the
  new centroid component is the double ``s / (n * scale)``. Plain
  double averages would drift with partition order; scaled-long sums
  make the WHOLE iterative run reproducible — the DuckDB oracle
  replays every iteration bit-for-bit (q80).
- Per iteration: ONE map-only corpus scan (row-local argmax fused into
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
from .search import ivf_assignments

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
    where ``assignments`` is the (id, centroid_id) frame scored against
    the FINAL centroids. Empty clusters keep their previous centroid.

    The returned centroid list feeds :func:`centroids_df` →
    :func:`ivf_build_index` for a trained IVF index instead of a
    sampled one.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    corpus = df.select(id_col, vec_col)
    # iterative algorithm scanning the same frame iters+2 times:
    # persist it (MEMORY_AND_DISK, same practice as Spark ML's KMeans —
    # spills instead of failing when the corpus outgrows memory)
    corpus.persist()
    try:
        return _lloyd(spark, corpus, vec_col, id_col, k, iters, seed, scale)
    finally:
        corpus.unpersist()


def _centroid_argmax_expr(cents, vec_col):
    """Row-local argmax(cosine desc, cid asc) against a DRIVER-side
    centroid list embedded as a plan literal (the vector/pq.py
    ``_assign`` pattern): sort (−cos, cid) structs ascending and take
    the head — identical ordering semantics to ``max(struct(cos,
    −cid))`` (negation is order-reversing for doubles under Spark's
    SQL ordering, ±0.0 and ties included), with the same in-order-fold
    ``cosine_expr`` per centroid. No join, no n×k row explosion, no
    shuffle — assignment fuses into the corpus scan."""
    from .search import cosine_expr

    booklit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("int").alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cv"),
            )
            for cid, vec in cents
        ]
    )
    scored = F.transform(
        booklit,
        lambda c: F.struct(
            (-cosine_expr(F.col(vec_col), c.getField("cv"))).alias("nc"),
            c.getField("cid").alias("cid"),
        ),
    )
    return F.element_at(F.array_sort(scored), 1).getField("cid")


# centroid tables up to this many doubles ride in the plan as a
# literal (same bound as vector/pq.py); larger ones fall back to the
# broadcast-join + argmax-aggregation shape
_LITERAL_CENTS_MAX_DOUBLES = 65536


def _lloyd(spark, corpus, vec_col, id_col, k, iters, seed, scale):
    from .search import cosine_expr

    cents = _seed_centroids(corpus, vec_col, id_col, k, seed)
    dim = len(cents[0][1]) if cents else 0
    for _ in range(iters):
        if k * dim <= _LITERAL_CENTS_MAX_DOUBLES:
            # Round-11 (guide §2.3/§2.4): the centroids are a
            # driver-side list, so assignment is a row-local literal
            # argmax — the per-iteration broadcast build, the n×k
            # scored-row explosion, and the corpus-sized groupBy(id)
            # shuffle (which carried every VECTOR through the exchange
            # via first(vec)) all disappear; each Lloyd round is one
            # map-only scan feeding the k·dim-sized update shuffle.
            best = corpus.select(
                _centroid_argmax_expr(cents, vec_col).alias("centroid_id"),
                F.col(vec_col).alias("__vec"),
            )
        else:
            cdf = centroids_df(spark, cents).select(
                F.col("cid").alias("__cid"), F.col("embedding").alias("__cv")
            )
            scored = corpus.join(F.broadcast(cdf)).select(
                id_col,
                vec_col,
                "__cid",
                cosine_expr(F.col(vec_col), F.col("__cv")).alias("__cos"),
            )
            # argmax(cos desc, cid asc) as ONE aggregation (max of a
            # (cos, -cid) struct), carrying the vector through — no
            # window, no join-back; ties break exactly like the
            # literal path
            best = (
                scored.groupBy(id_col)
                .agg(
                    F.max(
                        F.struct(
                            F.col("__cos").alias("c"),
                            (-F.col("__cid")).cast("long").alias("nc"),
                        )
                    ).alias("b"),
                    F.first(vec_col).alias("__vec"),
                )
                .select(
                    id_col,
                    (-F.col("b.nc")).cast("int").alias("centroid_id"),
                    "__vec",
                )
            )
        comps = (
            best.select(
                "centroid_id", F.posexplode(F.col("__vec")).alias("d", "__val")
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
    final = ivf_assignments(
        corpus, centroids_df(spark, cents), vec_col=vec_col, id_col=id_col,
        cent_vec_col="embedding", cent_id_col="cid",
    )
    return cents, final

