"""SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication") as a first-class operator —
the paper's recipe exactly, shaped for Spark:

1. k-means cluster the embedding corpus (the engine's exact-integer
   Lloyd trainer, vector/kmeans.py) — clusters BOUND the pair space;
   ``k`` defaults to ``ceil(n / target_cluster_size)`` so expected
   cluster size stays constant as the corpus grows and the
   within-cluster pair scan stays sub-quadratic at any scale,
2. compute cosine similarity ONLY within clusters (unit-normalized
   dot ≥ ``tau``) — never an all-pairs join,
3. collapse transitive duplicate groups (distributed connected
   components),
4. keep the member FARTHEST from its centroid per group (minimum
   centroid-cosine, tie → minimum id) — the paper's
   diversity-preserving survivor choice, deliberately unlike the
   quality-argmax rule of near-dup curation (dedup/embedding.py
   survivors): SemDeDup prunes the redundant CENTER of a semantic
   clump and keeps its most informative outlier.

Reference behavior being re-expressed: the reference pipeline dedups
documents before embedding them (src/data_pipeline/defs/assets/
clean_dataset.py) — this is the semantic-level counterpart a
100 TB training-data pipeline needs once exact/MinHash dedup has run.

Determinism: every stage is exact/replayable — the Lloyd run is
exact-integer, pair scores are in-order double folds, closure is
min-id components, and centroid cosines are half-up rounded at 1e-9
before the argmin (q220 value-replays the full composition against a
recursive-SQL oracle). Rows are assigned to centroids by the one
nearest-centroid kernel (vector/search.py ``_nearest_centroid``, via
``kmeans_fit`` and ``ivf_assignments``), and ``cent_cos`` is that
kernel's winning cosine — no second centroid join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import local_frame

__all__ = ["semdedup", "semdedup_index", "semdedup_upsert"]


def semdedup(
    emb: DataFrame,
    tau: float,
    k: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    seed: str | int = 42,
    target_cluster_size: int = 5000,
) -> tuple[DataFrame, DataFrame]:
    """Semantic dedup of an embedding corpus; returns ``(survivors,
    groups)``.

    ``groups`` labels EVERY input row: (``id_col``, ``centroid_id``,
    ``dup_group``, ``cent_cos``, ``survivor``) — ``dup_group`` is the
    transitive-duplicate component root (a row with no duplicate is
    its own singleton group), ``cent_cos`` the cosine to the row's
    centroid (half-up rounded at 1e-9), ``survivor`` the kept flag.
    ``survivors`` is the filtered projection without the flag — the
    deduplicated corpus ids.

    ``tau``: cosine threshold for "semantic duplicate" (the paper
    sweeps 0.7–0.95 on real encoders; anything in (0, 1]).

    ``k``: cluster count. Default ``ceil(n / target_cluster_size)``
    (one corpus count) — the paper's constant-cluster-size scaling;
    pass an explicit ``k`` to pin it (tests / sf-toy settings).

    Zero-norm vectors can't score a cosine: they never pair (always
    singleton survivors) and their ``cent_cos`` is 0 — the same
    contract as the engine's other cosine paths."""
    # one build pipeline: the batch form IS the index build plus the
    # survivor derivation — no second copy of the kmeans/pairs/CC chain
    idx = semdedup_index(
        emb, tau, k, vec_col, id_col, iters, seed, target_cluster_size
    )
    groups = _survivor_groups(idx["centcos"], idx["labels"], id_col)
    survivors = groups.filter(F.col("survivor")).drop("survivor")
    return survivors, groups


def _unit_rows(
    emb: DataFrame, assign: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """(id, __cid, __uv) unit vectors of the non-zero-norm rows."""
    from ..vector.search import l2_norm_expr

    nrm = l2_norm_expr(F.col(vec_col))
    return (
        emb.join(assign, id_col)
        .filter(nrm > 0)
        .select(
            id_col,
            F.col("centroid_id").alias("__cid"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") / nrm
            ).alias("__uv"),
        )
    )


def _within_cluster_pairs(
    left_uv: DataFrame,
    right_uv: DataFrame,
    tau: float | None,
    id_col: str,
    self_pairs: bool,
) -> DataFrame:
    """Cluster-keyed cosine pairs ≥ tau (``tau=None`` keeps the raw
    candidate stream — the counted-work probe). ``self_pairs=True``
    pairs a frame against itself (a < b dedup); False pairs left×right
    fully (the increment-probe shape — the caller guarantees
    id-disjoint sides)."""
    from ..vector.search import dot_expr

    a = left_uv.select(
        F.col("__cid"), F.col(id_col).alias("a"), F.col("__uv").alias("__ua")
    )
    b = right_uv.select(
        F.col("__cid"), F.col(id_col).alias("b"), F.col("__uv").alias("__ub")
    )
    out = a.join(b, "__cid")
    if self_pairs:
        out = out.filter(F.col("a") < F.col("b"))
    if tau is not None:
        out = out.filter(dot_expr(F.col("__ua"), F.col("__ub")) >= tau)
    return out.select("a", "b")


def _cent_cos(assign: DataFrame, id_col: str) -> DataFrame:
    """(id, centroid_id, cent_cos) from an (id, centroid_id,
    assign_cos) assignment — the winning cosine half-up rounded at 1e-9
    (zero-norm rows score 0)."""
    cent_cos = F.floor(F.col("assign_cos") * 1e9 + F.lit(0.5)) / F.lit(1e9)
    return assign.select(id_col, "centroid_id", cent_cos.alias("cent_cos"))


def _survivor_groups(
    centcos: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """Label every row with its dup_group (component root, singleton =
    self) and the farthest-from-centroid survivor flag."""
    lab = centcos.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("dup_group", F.coalesce("component", F.col(id_col)))
    w = Window.partitionBy("dup_group").orderBy(
        F.asc("cent_cos"), F.asc(id_col)
    )
    return lab.withColumn(
        "survivor", F.row_number().over(w) == 1
    ).select(id_col, "centroid_id", "dup_group", "cent_cos", "survivor")


def semdedup_index(
    emb: DataFrame,
    tau: float,
    k: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    seed: str | int = 42,
    target_cluster_size: int = 5000,
) -> dict[str, DataFrame]:
    """Persistable SemDeDup state for the incremental path — the
    semantic-level member of the engine's index family
    (dedup/incremental.py): FROZEN day-0 centroids, the per-cluster
    unit vectors (so increments probe only their own cluster's
    members), the per-row centroid cosines, and the CC labels of the
    day-0 pair graph. Hand to :func:`semdedup_upsert`.

    Tables: ``centroids`` (cid, embedding), ``units`` (id, __cid,
    __uv), ``centcos`` (id, centroid_id, cent_cos), ``labels``
    (id, component), ``params`` (tau_nano, k, vec_col, id_col —
    probes can never silently run a different threshold or column
    binding than the build; tau is canonicalized to tau_nano/1e9 at
    build time so the probe-side reconstruction is bit-identical)."""
    from ..graph.communities import connected_components
    from ..vector.kmeans import centroids_df, kmeans_fit

    if not (0.0 < tau <= 1.0):
        raise ValueError(f"semdedup_index: tau must be in (0, 1], got {tau}")
    # canonicalize tau to the value that round-trips through the
    # persisted params table EXACTLY (tau_nano / 1e9): build-time pairs
    # and every later semdedup_upsert probe compare dots against the
    # SAME double, so a pair sitting on the threshold can never
    # classify differently between the batch and the incremental path
    tau_nano = int(round(tau * 1e9))
    tau = tau_nano / 1e9
    if target_cluster_size < 1:
        raise ValueError(
            "semdedup_index: target_cluster_size must be >= 1, "
            f"got {target_cluster_size}"
        )
    if k is None:
        n = emb.count()
        if n == 0:
            raise ValueError("semdedup_index: empty corpus")
        k = max(1, math.ceil(n / target_cluster_size))
    if k < 1:
        raise ValueError(f"semdedup_index: k must be >= 1, got {k}")
    cents, assign = kmeans_fit(
        emb, vec_col=vec_col, id_col=id_col, k=k, iters=iters, seed=seed
    )
    cents_df = centroids_df(emb.sparkSession, cents)
    uv = _unit_rows(emb, assign, vec_col, id_col)
    pairs = _within_cluster_pairs(uv, uv, tau, id_col, self_pairs=True)
    labels = connected_components(pairs, src="a", dst="b")
    params = local_frame(
        emb.sparkSession, [(tau_nano, k, vec_col, id_col)],
        "tau_nano long, k long, vec_col string, id_col string",
    )
    return {
        "centroids": cents_df,
        "units": uv,
        "centcos": _cent_cos(assign, id_col),
        "labels": labels,
        "params": params,
    }


def semdedup_upsert(
    index: dict[str, DataFrame],
    new_emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_candidates: bool = False,
):
    """Fold an increment into a :func:`semdedup_index` WITHOUT
    re-pairing the corpus: assign the new vectors to the FROZEN
    centroids (argmax cosine, the incremental contract — q224's drift
    verb owns the retrain decision), pair them cluster-locally against
    the indexed corpus units (new×corpus) and against themselves
    (new×new), fold the edges into the CC labels (only touched
    components move), and re-derive survivors per updated group.

    Returns ``(survivors, groups, new_index)`` over corpus ∪
    increment — exactly what :func:`semdedup` with the day-0 centroids
    would produce on the union (q225 locks that equivalence against a
    full-replay oracle). Increment ids must be disjoint from the
    corpus (the index family's contract).

    ``return_candidates``: return ONLY the pre-τ candidate pair frame
    (new×corpus cluster collisions + new×new) — the counted-work probe
    scale_check bounds (the stream whose size proves the corpus is
    never re-paired)."""
    from ..graph.communities import connected_components_incremental
    from ..vector.search import ivf_assignments

    prow = index["params"].limit(1).collect()[0].asDict()
    # exact round-trip: semdedup_index canonicalized its tau to
    # tau_nano/1e9 before building, so this IS the build-time double
    tau = prow["tau_nano"] / 1e9
    bound = {
        c: (prow[c], probe)
        for c, probe in (("vec_col", vec_col), ("id_col", id_col))
        if c in prow and prow[c] != probe
    }
    if bound:
        detail = ", ".join(
            f"{c}: index={a!r} probe={b!r}" for c, (a, b) in sorted(bound.items())
        )
        raise ValueError(
            "semdedup_upsert: probe column bindings differ from the ones "
            f"the index was built with ({detail}) — the units/centcos "
            "tables are only meaningful under the build-time columns; "
            "rebuild with semdedup_index or probe with matching names"
        )
    # id-collision gate (the ivf_upsert contract): a re-ingested id
    # would duplicate its rows in units/centcos and silently corrupt
    # groups and survivor picks — one broadcast semi-join, bounded probe
    clashes = (
        index["centcos"]
        .select(id_col)
        .join(
            F.broadcast(new_emb.select(id_col).distinct()),
            id_col,
            "left_semi",
        )
        .limit(5)
        .collect()
    )
    if clashes:
        sample = ", ".join(str(r[0]) for r in clashes)
        raise ValueError(
            "semdedup_upsert: increment re-ingests ids already present "
            f"in the index (e.g. {sample}) — groups and survivors would "
            "be silently corrupted. Increments must be id-disjoint; to "
            "replace vectors, rebuild with semdedup_index."
        )
    assign_new = ivf_assignments(
        new_emb, index["centroids"], vec_col, id_col, "embedding", "cid",
        include_score=True,
    )
    uv_new = _unit_rows(new_emb, assign_new, vec_col, id_col)
    if return_candidates:
        return _within_cluster_pairs(
            uv_new, index["units"], None, id_col, self_pairs=False
        ).unionByName(
            _within_cluster_pairs(
                uv_new, uv_new, None, id_col, self_pairs=True
            )
        )
    cross = _within_cluster_pairs(
        uv_new, index["units"], tau, id_col, self_pairs=False
    )
    within = _within_cluster_pairs(
        uv_new, uv_new, tau, id_col, self_pairs=True
    )
    new_edges = cross.unionByName(within)
    labels2 = connected_components_incremental(index["labels"], new_edges)
    centcos2 = index["centcos"].unionByName(_cent_cos(assign_new, id_col))
    groups = _survivor_groups(centcos2, labels2, id_col)
    survivors = groups.filter(F.col("survivor")).drop("survivor")
    new_index = {
        "centroids": index["centroids"],
        "units": index["units"].unionByName(uv_new),
        "centcos": centcos2,
        "labels": labels2,
        "params": index["params"],
    }
    return survivors, groups, new_index
