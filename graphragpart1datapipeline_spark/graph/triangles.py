"""Distributed triangle counting (G-ops extension: local clustering
structure over the extracted entity graph — the standard cohesion
signal next to communities/PageRank; reference graph analytics surface:
README.md:406-430).

Algorithm: the edge iterator over the canonical oriented simple graph
(a < b). Each node's higher-neighbor array N⁺(v) is collected once;
for every edge (a, b), C = N⁺(a) ∩ N⁺(b) is computed row-locally with
``array_intersect``, and each c ∈ C closes the triangle a < b < c
exactly once, so no post-hoc deduplication or /3 correction is needed.
Common neighbors never materialize as wedge rows — the intersection
runs inside whole-stage codegen (an intersection kernel, not a
pairwise wedge join). The k-truss peel in
:mod:`.truss` uses the same adjacency-intersection shape.

Scale shape: one node-keyed groupBy builds the adjacency arrays, two
|E|-row joins attach them to both endpoints, and one groupBy sums the
3·#triangles credit rows. Per-edge intersect work is O(max degree):
a mega-hub's adjacency array rides along on every one of its edges,
and nothing here bounds it. Cap it upstream: for co-occurrence graphs,
``cooccurrence_edges(max_items_per_group=...)`` drops the oversized
groups, each of which would hand all its k members k−1 neighbors at
once. Counts are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_items_per_group: int | None = None,
) -> DataFrame:
    """Co-occurrence graph edges: one (src < dst) pair per distinct
    item pair sharing a group (co-purchase, co-citation, co-mention).

    Plan shape: ONE groupBy(group) shuffle collecting the sorted
    distinct item set, then pairs are generated row-locally with
    nested array transforms — entirely inside whole-stage codegen, so
    the k·(k-1)/2 blow-up never passes through a join or a second
    exchange (the naive self-join shuffles the table twice and
    materializes duplicate pairs before DISTINCT). Groups are the skew
    unit: a group with k items emits O(k²) pairs — cap pathological
    groups with ``max_items_per_group`` (drops groups above the cap,
    the LSH mega-bucket-guard pattern)."""
    grp = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("__items")
    )
    if max_items_per_group is not None:
        grp = grp.filter(F.size("__items") <= max_items_per_group)
    pairs = F.flatten(
        F.transform(
            F.slice(
                "__items", 1, F.greatest(F.size("__items") - 1, F.lit(0))
            ),
            lambda x, i: F.transform(
                F.slice(F.col("__items"), i + 2, F.size("__items")),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        grp.select(F.explode(pairs).alias("__p"))
        .select("__p.src", "__p.dst")
        .distinct()
    )


def _canonical(
    edges: DataFrame, src: str, dst: str, assume_canonical: bool = False
) -> DataFrame:
    """(a, b) with a < b, self-loops and duplicates dropped.
    ``assume_canonical=True`` only renames: the caller vouches that
    ``edges`` is already simple and (src < dst)-oriented (e.g. the
    output of :func:`cooccurrence_edges`), saving the DISTINCT's full
    edge shuffle."""
    if assume_canonical:
        return edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts: (node, triangles), one
    row per node that belongs to at least one triangle.

    Edge iterator on the canonical (a < b) edge set: for edge (a, b),
    C = N⁺(a) ∩ N⁺(b) closes |C| triangles — credit a and b once per
    element and every c ∈ C once. The credit stream is ONE row-local
    Generate per scored edge, exactly 3·#triangles rows; everything
    else is |E|- or |V|-sized, and the shuffles carry |E| rows, never
    |wedges|. Per-edge intersect work is O(max degree); cap hubs
    upstream with ``cooccurrence_edges(max_items_per_group=...)``.

    ``assume_canonical=True`` skips the least/greatest + DISTINCT
    canonicalization pass (one full edge shuffle) when the input is
    already simple and (src < dst)-oriented — e.g. the output of
    :func:`cooccurrence_edges`.
    """
    # EAGER deliberately: e feeds the adjacency groupBy and the join
    # spine, two stages the scheduler runs in parallel inside the first
    # consuming job — a lazy checkpoint lets both race to compute the
    # unmaterialized partitions concurrently (duplicated cooccurrence
    # work; measured +15% on q105 when lazy).
    e = _canonical(edges, src, dst, assume_canonical).localCheckpoint(
        eager=True
    )
    adj = e.groupBy(F.col("a").alias("v")).agg(
        F.collect_list("b").alias("nbrs")
    )
    withadj = (
        e.join(
            adj.select(F.col("v").alias("a"), F.col("nbrs").alias("na")),
            "a",
            "left",
        )
        .join(
            adj.select(F.col("v").alias("b"), F.col("nbrs").alias("nb")),
            "b",
            "left",
        )
    )
    per_edge = (
        withadj.filter(F.col("na").isNotNull() & F.col("nb").isNotNull())
        .select("a", "b", F.array_intersect("na", "nb").alias("c"))
        .filter(F.size("c") > 0)
    )
    cnt = F.size("c").cast("long")
    credits = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("a").alias("node"), cnt.alias("n")),
                    F.struct(F.col("b").alias("node"), cnt.alias("n")),
                ),
                F.transform(
                    "c",
                    lambda x: F.struct(
                        x.alias("node"), F.lit(1).cast("long").alias("n")
                    ),
                ),
            )
        ).alias("__cr")
    ).select("__cr.node", "__cr.n")
    return credits.groupBy("node").agg(F.sum("n").alias("triangles"))
