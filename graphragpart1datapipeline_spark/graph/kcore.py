"""k-core decomposition by iterative peeling (graph-cohesion G-op next
to triangles/PageRank/communities; standard corpus-graph denoising —
drop low-connectivity entities before community detection).

Each round: compute degrees over the current edge set, keep nodes with
degree ≥ k, keep edges whose BOTH endpoints survive. The fixed point is
the k-core. The result is a pure function of the graph (no seeds, no
partition sensitivity), so a fixed-round run replays exactly in any
engine — the oracle unrolls the same rounds as SQL CTEs (same pattern
as the distributed-Louvain oracle).

Scale shape per round: one degree groupBy (map-side combined) + two
semi-joins of the edge list against the surviving-node set (node-keyed,
AQE-broadcast when the frontier shrinks). Edges are localCheckpoint'd
per round to keep the plan flat (the iterative-op pattern shared with
label_propagation_communities / pagerank). Rounds needed = peeling
depth, typically O(log n) in practice; pass ``rounds`` ≥ the expected
depth, or ``rounds=None`` to peel to the fixed point (the convention
shared with graph/truss.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .triangles import _canonical


def kcore_nodes(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = 3,
    assume_canonical: bool = False,
) -> DataFrame:
    """Nodes surviving ``rounds`` peeling rounds toward the k-core,
    with their degree in the peeled graph: (node, degree). With
    ``rounds=None``, keeps peeling until no node drops (one extra
    count job per round to detect convergence) — the exact k-core
    regardless of depth."""
    if rounds is not None and rounds < 1:
        raise ValueError(f"kcore_nodes: rounds must be >= 1, got {rounds}")
    e = _canonical(edges, src, dst, assume_canonical).localCheckpoint(
        eager=True
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("v"))
            .unionAll(ed.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    prev_nodes = None
    r = 0
    while True:
        r += 1
        keep = degrees(e).filter(F.col("degree") >= k)
        e = (
            e.join(keep.select(F.col("v").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("v").alias("b")), "b", "left_semi")
        ).localCheckpoint(eager=True)
        if rounds is None:
            n = keep.count()
            if n == prev_nodes:
                break
            prev_nodes = n
        elif r >= rounds:
            break
    return degrees(e).filter(F.col("degree") >= k).select(
        F.col("v").alias("node"), "degree"
    )
