"""Link prediction over the extracted entity graph (G-ops extension:
the standard missing-edge ranking signal next to triangle cohesion /
PageRank / communities; reference graph analytics surface:
README.md:406-430).

Scores every NON-edge vertex pair that shares at least one neighbor by
common-neighbor count and Jaccard coefficient |N(u) ∩ N(w)| /
|N(u) ∪ N(w)| (Liben-Nowell & Kleinberg 2003) — the two classical
unsupervised predictors, both exact integer/single-division arithmetic
so results replay bit-identically across engines.

Scale shape: one groupBy(node) shuffle builds adjacency arrays, then
candidate pairs are generated ROW-LOCALLY per middle vertex with the
same nested array-transform codegen as
:func:`~graphragpart1datapipeline_spark.graph.triangles.cooccurrence_edges`
(never a wedge self-JOIN — Σ_v deg(v)² pairs stream out of codegen
into ONE map-side-combined groupBy((u,w)) count). Known edges leave
via a broadcast-or-shuffle anti-join on the canonical edge list; the
final top-k is a TakeOrdered (no global sort shuffle). Mega-hubs make
wedge volume quadratic in their degree — cap them with ``max_degree``
(the LSH mega-bucket-guard pattern: hubs above the cap are dropped
from the MIDDLE role only, so their own candidate pairs survive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .triangles import _canonical


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int | None = 50,
    max_degree: int | None = None,
    assume_canonical: bool = False,
    score_decimals: int = 6,
) -> DataFrame:
    """Rank non-adjacent vertex pairs by common-neighbor structure:
    returns (u, w, common, jaccard) with u < w, jaccard half-up rounded
    to ``score_decimals`` (engine-portable: the division is one IEEE
    op, the rounding the shared floor(x*10^n + 0.5) formula), ordered
    by (jaccard DESC, common DESC, u, w) and cut to ``top_k`` — the
    tiebreak is a total order, so the cut is deterministic.

    ``assume_canonical=True`` skips the least/greatest + DISTINCT pass
    when ``edges`` is already simple and (src < dst)-oriented, e.g.
    the output of ``cooccurrence_edges``.
    """
    if top_k is not None and top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if max_degree is not None and max_degree < 1:
        raise ValueError(f"max_degree must be >= 1, got {max_degree}")
    e = _canonical(edges, src, dst, assume_canonical)

    nb = e.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionByName(e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    adj = nb.groupBy("node").agg(
        F.sort_array(F.collect_set("nbr")).alias("__nbrs")
    )
    deg = adj.select("node", F.size("__nbrs").alias("deg"))

    mid = adj
    if max_degree is not None:
        mid = mid.filter(F.size("__nbrs") <= max_degree)
    # pairs of neighbors of each middle vertex, generated in codegen
    pairs = F.flatten(
        F.transform(
            F.slice(
                "__nbrs", 1, F.greatest(F.size("__nbrs") - 1, F.lit(0))
            ),
            lambda x, i: F.transform(
                F.slice(F.col("__nbrs"), i + 2, F.size("__nbrs")),
                lambda y: F.struct(x.alias("u"), y.alias("w")),
            ),
        )
    )
    cand = (
        mid.select(F.explode(pairs).alias("__p"))
        .select("__p.u", "__p.w")
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    non_edges = cand.join(
        e,
        (cand["u"] == e["a"]) & (cand["w"] == e["b"]),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("node").alias("w"), F.col("deg").alias("deg_w"))
    p = float(10 ** score_decimals)
    scored = (
        non_edges.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "common",
            (
                F.floor(
                    F.col("common")
                    / (F.col("deg_u") + F.col("deg_w") - F.col("common"))
                    * F.lit(p)
                    + F.lit(0.5)
                )
                / F.lit(p)
            ).alias("jaccard"),
        )
    )
    out = scored.orderBy(
        F.desc("jaccard"), F.desc("common"), F.asc("u"), F.asc("w")
    )
    return out.limit(top_k) if top_k is not None else out
