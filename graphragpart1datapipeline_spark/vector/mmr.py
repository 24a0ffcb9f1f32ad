"""Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
SIGIR'98) — the diversity stage of a RAG serving stack: after
retrieval returns k' candidates, pick k of them that are RELEVANT but
not REDUNDANT, maximizing

    MMR(c) = lambda * rel(c) - (1 - lambda) * max_{s in S} sim(c, s)

greedily. Ten near-identical chunks waste a context window; MMR is the
standard fix between retrieval (q25/q104/q176) and stitching (q175).

Scale shape: MMR is inherently sequential in k, but k is the CONTEXT
budget (5-20), and the candidate set is already top-k' (tens to
hundreds) — so each round is one candidate-sized join against the
selected set (<= k rows, broadcast) + one 1-row argmax collect. The
expensive part (scoring the corpus) happened in the retriever; this
operator never touches the corpus. All arithmetic is the engine's
deterministic double contract (unit-vector dots as ordered folds,
fixed expression shape, id tie-breaks), so the greedy trace is
bit-reproducible and SQL-replayable round for round (q204).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from ..util import local_frame
from .search import l2_norm_expr


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rel_col: str = "score",
    max_candidates: int = 1000,
) -> DataFrame:
    """Greedy MMR over a (small) candidate frame carrying vectors and
    retrieval relevance. Returns (rank, ``id_col``, relevance,
    mmr_score) for the k selected candidates, rank starting at 1.
    Ties break on ascending id at every round (deterministic greedy
    trace). Vectors are unit-normalized once; zero vectors get
    similarity 0 to everything.

    ``max_candidates`` is an ENFORCED contract, not advice: MMR pulls
    the candidate frame to the driver in ONE bounded
    ``limit(max_candidates + 1).collect()`` (the limit both enforces
    the contract and fetches the rows) and runs the greedy loop
    driver-side, which is only sane when that frame is a retriever's
    top-k' output. A corpus-sized frame raises instead of silently
    hammering the driver.

    NaN relevance is normalized to sort FIRST (like Spark's
    ``orderBy(desc)``), so selection order does not depend on collect
    order even for direct library callers that feed NaN scores."""
    if k < 1:
        raise ValueError(f"mmr_rerank: k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_rerank: lambda must be in [0, 1], got {lam}")
    if max_candidates < 1:
        raise ValueError(
            f"mmr_rerank: max_candidates must be >= 1, got {max_candidates}"
        )
    nrm = l2_norm_expr(F.col(vec_col))
    # Round-10 optimization (guide §1.2/§5): the greedy loop used to be
    # k+2 driver round-trips (count probe, checkpoint, k ordered head()
    # jobs) over a frame that is candidate-sized BY CONTRACT. ONE
    # bounded collect (limit max+1 both enforces the contract and
    # fetches the rows) and a driver-side greedy replay the identical
    # arithmetic: unit-normalization stays in-plan (unchanged exprs);
    # the dot product is the same in-order IEEE fold as dot_expr
    # (acc = acc + x*y, left to right); max-over-selected and the
    # (mmr desc, id asc) argmax are order-insensitive comparisons of
    # the same doubles — so the greedy trace is bit-identical (locked
    # by the q204/q207/q208 oracles).
    rows = (
        candidates.select(
            F.col(id_col),
            F.col(rel_col).cast("double").alias("__rel"),
            F.when(
                nrm > 0,
                F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm),
            ).alias("__u"),
        )
        .limit(max_candidates + 1)
        .collect()
    )
    if len(rows) > max_candidates:
        raise ValueError(
            f"mmr_rerank: candidate frame exceeds max_candidates="
            f"{max_candidates} — MMR is a SERVING-stage re-ranker over a "
            "retriever's top-k' output, not a corpus operator; retrieve "
            "first (cosine_topk/lsh_topk/ivf_topk), or raise "
            "max_candidates explicitly if you really mean it"
        )

    def _dot(u, su):
        # mismatched lengths: the in-plan dot_expr (zip_with) null-pads
        # the shorter vector -> null product -> null sum -> coalesce to
        # 0.0 similarity; plain zip would silently truncate instead, so
        # reproduce the 0.0 contract explicitly for ragged vectors
        if len(u) != len(su):
            return 0.0
        acc = 0.0
        for x, y in zip(u, su):
            acc = acc + x * y
        return acc

    cand_rows = [
        (r[id_col], r["__rel"], list(r["__u"]) if r["__u"] is not None else None)
        for r in rows
    ]
    picked: list = []  # rows: (id, rel, mmr)
    picked_vecs: list = []
    remaining = list(cand_rows)
    import math

    def _sort_key(x: float) -> float:
        # Spark's orderBy(desc) sorts NaN FIRST (NaN > everything); a
        # raw Python `>` would never select a NaN after a non-NaN best
        # and make the pick depend on collect order. Unreachable from
        # the in-repo callers (rrf/cosine scores are never NaN) but a
        # latent divergence for direct library users.
        return math.inf if math.isnan(x) else x

    for rank in range(1, k + 1):
        best = None  # (mmr, id, rel)
        best_key = None
        for cid, rel, u in remaining:
            if rank == 1:
                mmr = lam * rel
            else:
                maxsim = max(
                    0.0 if (u is None or sv is None) else _dot(u, sv)
                    for sv in picked_vecs
                )
                mmr = lam * rel - (1.0 - lam) * maxsim
            key = _sort_key(mmr)
            if (
                best is None
                or key > best_key
                or (key == best_key and cid < best[1])
            ):
                best = (mmr, cid, rel, u)
                best_key = key
        if best is None:
            break
        picked.append((best[1], best[2], best[0]))
        picked_vecs.append(best[3])
        remaining = [c for c in remaining if c[0] != best[1]]

    # id field keeps the CANDIDATES' id field (string doc ids are as
    # legitimate as longs; hardcoding long would fail/mis-coerce them),
    # as a StructField so names like "doc id" need no DDL quoting
    schema = StructType(
        [StructField("rank", IntegerType()), candidates.schema[id_col]]
        + [StructField(c, DoubleType()) for c in ("relevance", "mmr_score")]
    )
    return local_frame(
        candidates.sparkSession,
        [(i + 1, pid, rel, mmr) for i, (pid, rel, mmr) in enumerate(picked)],
        schema,
    )
