"""Distributed triangle counting (G-ops extension: local clustering
structure over the extracted entity graph — the standard cohesion
signal next to communities/PageRank; reference graph analytics surface:
README.md:406-430).

Algorithm: canonicalize to an oriented simple graph (a < b), build
wedges by joining the oriented edge list with itself on the middle
vertex, then close each wedge against the edge list. Every triangle
{x < y < z} is produced exactly once as the wedge (x-y, y-z) closed by
(x, z), so no post-hoc deduplication or /3 correction is needed.

Scale shape: two shuffles on vertex keys (the self-join and the
closure join), both equi-joins Catalyst plans as sort-merge with AQE
skew splitting; wedge volume is Σ_v deg⁺(v)·deg⁻(v). For power-law
graphs the classical refinement is degree-based orientation (orient
edges from lower- to higher-degree endpoints, bounding wedges by
O(m^{3/2}) — Suri & Vassilvitskii 2011): pass ``orient_by_degree=True``
to pay one extra degree groupBy for that bound. Counts are exact
integers either way.
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


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
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
    orient_by_degree: bool = False,
    algorithm: str = "adjacency",
    checkpoint: bool = True,
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts: (node, triangles), one
    row per node that belongs to at least one triangle.

    ``algorithm='adjacency'`` (default) is the edge-iterator form:
    collect each node's higher-neighbor array once (node-sized frame),
    join it onto both endpoints of every edge, and take
    ``array_intersect`` row-locally — common neighbors never
    materialize as wedge ROWS, only as in-codegen array ops, which
    measures ~1.6× faster than the wedge join at sf0.1 and shuffles
    |E| rows instead of |wedges|. Adjacency arrays are bounded by the
    max degree — for power-law graphs with mega-hubs (degree ≳ 10⁶)
    switch to ``algorithm='wedge'`` with ``orient_by_degree=True``,
    which bounds wedge work by O(m^{3/2}) without any per-row array.

    ``assume_canonical=True`` skips the least/greatest + DISTINCT
    canonicalization pass (one full edge shuffle) when the input is
    already simple and (src < dst)-oriented — e.g. the output of
    :func:`cooccurrence_edges`.
    """

    def canon(df: DataFrame) -> DataFrame:
        if assume_canonical:
            return df.select(
                F.col(src).alias("a"), F.col(dst).alias("b")
            )
        return _canonical(df, src, dst)

    if algorithm == "adjacency":
        return _triangle_counts_adjacency(canon(edges), checkpoint)
    if algorithm != "wedge":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    e = canon(edges)
    if orient_by_degree:
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # orient from (lower degree, then lower id) to (higher, higher):
        # total order, so the oriented graph is acyclic and each
        # triangle still materializes exactly once.
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        keep = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        e = (
            e.join(da, "a")
            .join(db, "b")
            .select(
                F.when(keep, F.col("a")).otherwise(F.col("b")).alias("a"),
                F.when(keep, F.col("b")).otherwise(F.col("a")).alias("b"),
            )
        )
    w1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = w1.join(w2, "y")
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def _triangle_counts_adjacency(
    e: DataFrame, checkpoint: bool
) -> DataFrame:
    """Edge-iterator triangle counting on the canonical (a < b) edge
    set: for edge (a,b), C = N⁺(a) ∩ N⁺(b) closes |C| triangles —
    credit a, b once per element and every c ∈ C once. The exploded
    credit stream is exactly 3·#triangles rows; everything else is
    |E|- or |V|-sized.

    Round-11 (guide §1.2/§2.4): the credit stream is ONE row-local
    Generate per scored edge instead of three unionAll passes, so the
    expensive array_intersect output is consumed exactly once and its
    own checkpoint (which materialized every common-neighbor array)
    disappears outright. Credit rows and their long sums are
    bit-identical to the 3-branch union. The edge checkpoint stays
    EAGER deliberately: e feeds the adjacency groupBy and the join
    spine, two stages the scheduler runs in parallel inside the first
    consuming job — a lazy checkpoint lets both race to compute the
    unmaterialized partitions concurrently (duplicated cooccurrence
    work; measured +15% on q105 when lazy)."""
    if checkpoint:
        e = e.localCheckpoint(eager=True)
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


def ktruss_edges(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
    checkpoint: bool = True,
    assume_canonical: bool = False,
    until_fixed_point: bool = False,
) -> DataFrame:
    """k-truss peeling: edges supported by ≥ k−2 triangles, re-checked
    for ``rounds`` rounds (removing a weak edge lowers its neighbors'
    support — the edge-level analogue of k-core's node peeling, and a
    stronger cohesion filter than either triangles or cores alone).

    Returns (a, b, support) for edges surviving the final round, with
    support measured in the edge set entering that round.

    Per round: one adjacency groupBy + two node-keyed joins + row-local
    ``array_intersect`` enumerate triangles (the edge-iterator form —
    wedges never materialize as rows), then a 3-way credit union and a
    pair-keyed groupBy score every edge; localCheckpoint cuts lineage
    between rounds. Triangle-credit volume is 3·#triangles per round.

    ``until_fixed_point=True`` keeps peeling until the edge count stops
    shrinking (one extra count job per round) — the exact k-truss
    regardless of peeling depth; ``rounds`` is then ignored.
    """
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    if assume_canonical:
        e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        e = _canonical(edges, src, dst)
    prev_edges = None
    r = 0
    while True:
        r += 1
        if checkpoint:
            # eager deliberately: e feeds the adjacency groupBy AND the
            # join spine — parallel stages would race to compute a lazy
            # checkpoint's partitions (see _triangle_counts_adjacency)
            e = e.localCheckpoint(eager=True)
        adj = e.groupBy(F.col("a").alias("v")).agg(
            F.sort_array(F.collect_list("b")).alias("nbrs")
        )
        pe = (
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
            .filter(F.col("na").isNotNull() & F.col("nb").isNotNull())
            .select("a", "b", F.array_intersect("na", "nb").alias("c"))
            .filter(F.size("c") > 0)
        )
        # one row-local Generate per scored edge (same rewrite as
        # _triangle_counts_adjacency's credit stream): each common
        # neighbor cc > b > a credits the three canonical edges (a,b),
        # (a,cc), (b,cc) — identical rows to the old explode + 3-way
        # unionAll, produced in one pass over pe
        credits = pe.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "c",
                        lambda cc: F.array(
                            F.struct(
                                F.col("a").alias("a"), F.col("b").alias("b")
                            ),
                            F.struct(F.col("a").alias("a"), cc.alias("b")),
                            F.struct(F.col("b").alias("a"), cc.alias("b")),
                        ),
                    )
                )
            ).alias("__cr")
        ).select("__cr.a", "__cr.b")
        sup = credits.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support")
        )
        e = sup.filter(F.col("support") >= k - 2)
        if until_fixed_point:
            n = e.count()
            if prev_edges is not None and n == prev_edges:
                break
            prev_edges = n
        elif r >= rounds:
            break
    return e
