"""k-truss decomposition (Cohen 2008, "Trusses: Cohesive Subgraphs
for Social Network Analysis") — the edge-level cohesion sibling of
k-core: the k-truss is the maximal subgraph in which EVERY edge
participates in at least k−2 triangles. Where k-core keeps nodes with
enough neighbors, k-truss keeps edges with enough mutually-connected
neighbors — the standard community-core / spam-subgraph signal one
level stronger than degree.

Algorithm: synchronous support peeling. Each round computes every
edge's triangle support and drops edges below k−2; removing an edge
lowers its neighbors' supports, so rounds repeat until a fixed point
(or a caller-fixed round count, the unrolled-replay oracle pattern
shared with graph/kcore.py).

Scale shape per round: support uses the adjacency-intersection form
proven fastest in graph/triangles.py — ONE node-keyed groupBy builds
each node's neighbor array, two |E|-row joins attach both endpoints'
arrays, and the common-neighbor count is a row-local
``array_intersect`` inside whole-stage codegen. No wedge rows ever
materialize; the shuffle volume is |E| + |V| per round. Adjacency
arrays are max-degree-bounded (the triangles.py caveat: for
mega-hub graphs cap degrees upstream). ``localCheckpoint`` per round
keeps the iterative lineage flat.

Determinism: supports are exact integer counts of distinct common
neighbors; the peel is synchronous (all edges below threshold drop
together) — no ordering sensitivity, bit-identical in SQL (q115 and
q245 replay the unrolled rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .triangles import _canonical

__all__ = ["edge_support", "ktruss"]


def edge_support(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """(a, b, support) — each canonical (a < b) edge's triangle count
    (a long): the number of distinct common neighbors of its endpoints. One
    node-keyed groupBy + two edge-keyed joins + a row-local
    ``array_intersect``."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    both = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    adj = both.groupBy("a").agg(
        F.sort_array(F.collect_set("b")).alias("__nb")
    )
    return (
        e.join(adj.select(F.col("a"), F.col("__nb").alias("__na")), "a")
        .join(
            adj.select(
                F.col("a").alias("b"), F.col("__nb").alias("__nbb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("__na", "__nbb"))
            .cast("long")
            .alias("support"),
        )
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """Edges of the k-truss with their final support: (a, b, support),
    canonical a < b, every surviving edge with ``support >= k - 2``
    against the surviving edge set.

    ``rounds``: a FIXED number of peel rounds (the oracle-replayable
    mode — q115 and q245 unroll exactly these rounds in SQL; the result after
    r rounds is a superset of the true k-truss). ``None`` iterates to
    the fixed point, bounded by ``max_rounds`` (each round removes at
    least one edge before the fixed point, so the bound only cuts
    pathological adversarial chains — it WARNS loudly if hit)."""
    if k < 3:
        raise ValueError(f"ktruss: k must be >= 3, got {k}")
    if rounds is not None and rounds < 1:
        raise ValueError(f"ktruss: rounds must be >= 1, got {rounds}")
    e = _canonical(edges, src, dst)
    need = k - 2
    r = 0
    while True:
        supp = edge_support(e).localCheckpoint(eager=False)
        kept = supp.filter(F.col("support") >= need)
        r += 1
        if rounds is not None:
            if r >= rounds:
                return kept
            e = kept.select("a", "b")
            continue
        # one action per round: both counts from a single aggregate
        # over the checkpointed support frame (two separate count()
        # jobs would double the iterative loop's job count)
        counts = supp.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(F.col("support") >= need, 1)).alias("__k"),
        ).collect()[0]
        n_before, n_after = counts["__n"], counts["__k"]
        if n_after == n_before or n_after == 0:
            return kept
        if r >= max_rounds:
            import warnings

            warnings.warn(
                f"ktruss: stopped after max_rounds={max_rounds} before "
                "reaching the fixed point — the result is a superset "
                "of the true k-truss",
                RuntimeWarning,
                stacklevel=2,
            )
            return kept
        e = kept.select("a", "b")
