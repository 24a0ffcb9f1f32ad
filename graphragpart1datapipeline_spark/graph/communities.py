"""Graph algorithms: connected components, community detection,
per-community rollups.

Reference: Leiden via igraph/leidenalg at resolutions [2.0, 0.5, 0.1],
seed 42, on a driver-local graph (utils/neo4j_helpers.py:196-268;
~5.4k nodes / 123k edges — trivially driver-sized). The engine keeps
the same driver-local contract AND adds fully-distributed companions
(:func:`louvain_communities`, :func:`leiden_communities`,
:func:`label_propagation_communities`) for graphs past the driver
bound:

- :func:`connected_components` — fully distributed (alternating
  large-star/small-star DataFrame iterations; scales to the edge table).
- :func:`detect_communities` — driver-local native Leiden when
  igraph/leidenalg are importable, else a vendored pure-Python seeded
  Leiden (local move + γ-gated refinement + aggregation on the refined
  partition; Traag et al. 2019, θ→0 greedy variant) maximizing the SAME
  RB-configuration quality function at the same resolutions (noted,
  never silent). ``algorithm="louvain"`` is the same vendored loop
  with the refinement step skipped. The membership comes back as a
  DataFrame regardless, so downstream rollups stay distributed.
- :func:`louvain_communities` / :func:`leiden_communities` — one
  distributed level loop; Louvain is the Leiden loop without
  refinement (contraction on the move partition, singleton start
  every level), so each execution mode has exactly one loop.
- :func:`community_rollup` — the reference's per-community Python loop
  (detect_communities.py:294-333) collapsed into ONE groupBy + window
  plan (A9): member counts, top tags/genres/countries, representative
  artists.
"""

from __future__ import annotations

import random
import warnings
from collections import defaultdict
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import top_n_per_group
from ..util import local_frame

_WARNED_LEIDEN_FALLBACK = False


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    shortcut: bool = True,
) -> DataFrame:
    """Distributed connected components: every node converges to the
    minimum node-id in its component. Returns (id, component).

    Each round = min-neighbor propagation + (with ``shortcut``) one
    pointer-jumping step: component := component(component). The jump
    halves pointer-chain depth every round, so convergence is
    O(log diameter) rounds instead of O(diameter) — the difference
    between 4 shuffles and 40 on a long-path graph (property-tested
    against a driver-side union-find). localCheckpoint per round keeps
    the plan flat; AQE coalesces as the frontier shrinks."""
    # Materialize the symmetric edge list ONCE: every round joins
    # against it, and without the checkpoint each round re-executes the
    # whole upstream plan that produced `edges` (for a near-dup pair
    # graph that is the entire minhash pipeline, re-run per iteration).
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        if shortcut:
            # component := component(component)  (pointer jumping)
            parents = new_labels.select(
                F.col("id").alias("component"), F.col("component").alias("grand")
            )
            new_labels = new_labels.join(parents, "component", "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("grand", F.col("component"))
                ).alias("component"),
            )
        # Checkpoint BEFORE the convergence probe: the probe and the next
        # round then both read the materialized frame, instead of
        # recomputing the propagation join twice per round.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _leiden_driver_local(
    edge_list: list[tuple[str, str]],
    resolution: float,
    seed: int,
) -> dict[str, int]:
    """Leiden via igraph/leidenalg when available (exact reference
    semantics, utils/neo4j_helpers.py:237-268)."""
    import igraph
    import leidenalg

    nodes = sorted({n for e in edge_list for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    g = igraph.Graph(
        n=len(nodes), edges=[(idx[a], idx[b]) for a, b in edge_list], directed=False
    )
    part = leidenalg.find_partition(
        g,
        leidenalg.RBConfigurationVertexPartition,
        resolution_parameter=resolution,
        seed=seed,
    )
    return {nodes[i]: part.membership[i] for i in range(len(nodes))}


def _louvain_one_level(
    adj: list[list[tuple[int, float]]],
    degrees: list[float],
    m2: float,
    resolution: float,
    rng: random.Random,
    init_labels: list[int] | None = None,
) -> tuple[list[int], bool]:
    """One local-moving level on the current (super)graph.

    RB-configuration gain for moving node i into community c:
    ``k_{i,c} - resolution * k_i * Σ_tot(c) / (2m)`` — the same quality
    function as leidenalg.RBConfigurationVertexPartition, so the
    resolution knob has identical semantics (higher → finer).
    Deterministic: node order is seeded-shuffled once per sweep; tie on
    gain breaks to the smaller community id. ``init_labels`` seeds the
    starting partition (the previous level's move partition; None is
    the singleton start).
    """
    n = len(adj)
    if init_labels is None:
        labels = list(range(n))
        comm_tot = degrees[:]
    else:
        labels = list(init_labels)
        comm_tot = [0.0] * n
        for i, c in enumerate(labels):
            comm_tot[c] += degrees[i]
    order = list(range(n))
    improved = False
    while True:
        rng.shuffle(order)
        moves = 0
        for i in order:
            ci = labels[i]
            ki = degrees[i]
            ncw: dict[int, float] = defaultdict(float)
            for j, wt in adj[i]:
                if j != i:
                    ncw[labels[j]] += wt
            comm_tot[ci] -= ki
            best_c = ci
            best_gain = ncw.get(ci, 0.0) - resolution * ki * comm_tot[ci] / m2
            for c in sorted(ncw):
                if c == ci:
                    continue
                gain = ncw[c] - resolution * ki * comm_tot[c] / m2
                if gain > best_gain + 1e-12 or (
                    abs(gain - best_gain) <= 1e-12 and c < best_c
                ):
                    best_c, best_gain = c, gain
            comm_tot[best_c] += ki
            if best_c != ci:
                labels[i] = best_c
                moves += 1
                improved = True
        if moves == 0:
            break
    return labels, improved


def _leiden_refine(
    adj: list[list[tuple[int, float]]],
    degrees: list[float],
    m2: float,
    resolution: float,
    labels: list[int],
    rng: random.Random,
) -> list[int]:
    """Leiden refinement phase (Traag/Waltman/van Eck 2019, alg. A2,
    θ→0 deterministic-greedy variant): inside each local-move community,
    start from singletons and merge a node into a sub-community only if
    BOTH are γ-well-connected within the community and the RB gain is
    positive. Aggregating on this refined partition is what prevents
    Louvain's badly-connected (even disconnected) communities.

    Well-connectedness (γ = resolution, 2m = total degree):
      node v in C:   k_{v,C∖v}  ≥ γ · k_v · (Σtot(C) − k_v) / 2m
      subset D ⊆ C:  E(D, C∖D) ≥ γ · Σtot(D) · (Σtot(C) − Σtot(D)) / 2m
    Greedy merge target = max RB gain, ties to the smaller refined id.
    Only still-singleton nodes move (per the paper), so one seeded pass
    suffices and the result is deterministic.
    """
    n = len(adj)
    ref = list(range(n))
    ref_tot = degrees[:]            # Σtot per refined community
    ref_size = [1] * n
    comm_tot = [0.0] * n            # Σtot per local-move community
    for i, c in enumerate(labels):
        comm_tot[c] += degrees[i]
    # E(D, C∖D): for a singleton D={v} it's v's edge weight into C∖v
    ext = [0.0] * n
    for i in range(n):
        for j, wt in adj[i]:
            if j != i and labels[j] == labels[i]:
                ext[i] += wt
    order = list(range(n))
    rng.shuffle(order)
    for v in order:
        if ref_size[ref[v]] > 1 or ref[v] != v:
            continue  # only singleton nodes merge (alg. A2 line 5)
        c = labels[v]
        kv = degrees[v]
        # node well-connectedness gate
        if ext[v] + 1e-12 < resolution * kv * (comm_tot[c] - kv) / m2:
            continue
        ncw: dict[int, float] = defaultdict(float)
        for j, wt in adj[v]:
            if j != v and labels[j] == c:
                ncw[ref[j]] += wt
        best_d, best_gain = -1, 0.0
        for d in sorted(ncw):
            if d == ref[v]:
                continue
            # candidate sub-community well-connectedness gate
            if ext[d] + 1e-12 < resolution * ref_tot[d] * (
                comm_tot[c] - ref_tot[d]
            ) / m2:
                continue
            gain = ncw[d] - resolution * kv * ref_tot[d] / m2
            if gain > best_gain + 1e-12:
                best_d, best_gain = d, gain
        if best_d >= 0:
            # E(D∪{v}, C∖(D∪{v})) = ext(D) + ext(v) − 2·k_{v,D}
            ext[best_d] = ext[best_d] + ext[v] - 2 * ncw[best_d]
            ref_tot[best_d] += kv
            ref_size[best_d] += 1
            ref[v] = best_d
    return ref


def _leiden_driver_local_vendored(
    edge_list: list[tuple[str, str]],
    resolution: float,
    seed: int,
    max_levels: int = 20,
    refine: bool = True,
) -> dict[str, int]:
    """Vendored pure-Python seeded Leiden: local moving (same
    RB-configuration quality as leidenalg) + γ-gated refinement +
    aggregation on the REFINED partition, with the move partition
    carried as the next level's initialization — the full Traag et al.
    2019 loop, θ→0 greedy, no native deps. Deterministic for a given
    (edge_list, resolution, seed); communities renumbered by
    (size desc, min-member) for stable ids across runs. Matches the
    reference's contract (utils/neo4j_helpers.py:237-268: leidenalg
    RBConfiguration, seeded, resolution-parameterized; determinism test
    test_neo4j_helpers.py:367).

    ``refine=False`` is vendored Louvain: the level contracts on the
    move partition itself, so the carried init is the identity on the
    supernodes (Louvain's singleton start) and the seeded rng stream
    is never drawn by a refinement pass."""
    rng = random.Random(seed)
    nodes = sorted({n for e in edge_list for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    w: dict[tuple[int, int], float] = defaultdict(float)
    for a, b in edge_list:
        ia, ib = idx[a], idx[b]
        w[(min(ia, ib), max(ia, ib))] += 1.0
    mapping = list(range(len(nodes)))  # original index -> supernode
    n = len(nodes)
    init: list[int] | None = None
    final_labels = list(range(n))
    for _ in range(max_levels):
        if n == 0:
            break
        adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
        degrees = [0.0] * n
        m2 = 0.0
        for (a, b), wt in w.items():
            if a == b:
                adj[a].append((a, 2 * wt))
                degrees[a] += 2 * wt
                m2 += 2 * wt
            else:
                adj[a].append((b, wt))
                adj[b].append((a, wt))
                degrees[a] += wt
                degrees[b] += wt
                m2 += 2 * wt
        if m2 == 0:
            final_labels = init if init is not None else list(range(n))
            break
        labels, improved = _louvain_one_level(
            adj, degrees, m2, resolution, rng, init_labels=init
        )
        final_labels = labels
        if not improved and init is not None:
            break
        refined = (
            _leiden_refine(adj, degrees, m2, resolution, labels, rng)
            if refine
            else labels
        )
        remap = {lbl: i for i, lbl in enumerate(sorted(set(refined)))}
        refined = [remap[lbl] for lbl in refined]
        k = len(remap)
        if k == n:
            break  # refinement is all singletons -> no aggregation left
        # aggregate on the REFINED partition; the move partition becomes
        # the next level's initial assignment of the supernodes
        init_next = [0] * k
        for v in range(n):
            init_next[refined[v]] = labels[v]
        dense = {lbl: i for i, lbl in enumerate(sorted(set(init_next)))}
        init = [dense[lbl] for lbl in init_next]
        mapping = [refined[s] for s in mapping]
        final_labels = init
        new_w: dict[tuple[int, int], float] = defaultdict(float)
        for (a, b), wt in w.items():
            ca, cb = refined[a], refined[b]
            new_w[(min(ca, cb), max(ca, cb))] += wt
        w, n = new_w, k
    groups: dict[int, list[str]] = defaultdict(list)
    for orig, node in enumerate(nodes):
        groups[final_labels[mapping[orig]]].append(node)
    ordered = sorted(groups.values(), key=lambda ms: (-len(ms), min(ms)))
    return {name: i for i, ms in enumerate(ordered) for name in ms}


def detect_communities(
    spark: SparkSession,
    edges: DataFrame,
    resolutions: tuple[float, ...] = (2.0, 0.5, 0.1),
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    max_driver_edges: int = 5_000_000,
    algorithm: str = "auto",
) -> DataFrame:
    """Multi-resolution community membership: (id, community_L0,
    community_L1, community_L2) matching the reference's three levels
    (fine 2.0 / medium 0.5 / coarse 0.1; settings.py:137).

    ``algorithm``: ``"leiden"`` (native igraph/leidenalg, raises
    ImportError if absent), ``"leiden-vendored"`` (pure-Python seeded
    Leiden — local move + γ-gated refinement + aggregation on the
    refined partition, Traag et al. 2019, no native deps),
    ``"louvain"`` (the vendored Leiden loop with refinement off:
    seeded Louvain, same RB quality function),
    ``"leiden-distributed"`` (:func:`leiden_multiresolution` — the
    fully-distributed Leiden loop, NO driver-side graph, no size bound;
    community ids densely renumbered by size desc / min member),
    ``"louvain-distributed"`` (the same sweep with refinement off:
    :func:`louvain_communities` per resolution over one
    canonicalization), or ``"auto"`` (native leiden when importable,
    else the vendored Leiden with a one-time note — never a silent
    swap).

    Except under the two ``*-distributed`` algorithms, the edge list
    is collected to the driver (documented size bound — the reference
    graph is ~123k edges; use a distributed algorithm past the bound).
    """
    if algorithm not in (
        "auto", "leiden", "leiden-vendored", "louvain",
        "louvain-distributed", "leiden-distributed",
    ):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if algorithm in ("louvain-distributed", "leiden-distributed"):
        # one canonicalization + one degree frame for the whole γ sweep,
        # not one per resolution; Louvain is the sweep without refinement
        base = edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
        return _multiresolution(
            base, "src", "dst", tuple(float(r) for r in resolutions),
            rounds_per_level=2, levels=2, refine_rounds=2, weight_col=None,
            refine=algorithm == "leiden-distributed",
        )
    rows = (
        edges.select(F.col(src).cast("string"), F.col(dst).cast("string"))
        .distinct()
        .limit(max_driver_edges + 1)
        .collect()
    )
    if len(rows) > max_driver_edges:
        raise ValueError(
            f"graph exceeds driver-local bound ({max_driver_edges} edges); "
            "pre-aggregate or use connected_components"
        )
    edge_list = [(r[0], r[1]) for r in rows]
    if algorithm == "louvain":
        detector = partial(_leiden_driver_local_vendored, refine=False)
    elif algorithm == "leiden-vendored":
        detector = _leiden_driver_local_vendored
    else:
        try:
            detector = _leiden_driver_local
            detector([("a", "b")], 1.0, seed)  # import probe
        except ImportError:
            if algorithm == "leiden":
                raise
            global _WARNED_LEIDEN_FALLBACK
            if not _WARNED_LEIDEN_FALLBACK:
                warnings.warn(
                    "igraph/leidenalg not importable; detect_communities is "
                    "using the vendored pure-Python seeded Leiden (same RB "
                    "quality function and refinement scheme, θ→0 greedy "
                    "variant — community ids can differ from leidenalg's). "
                    "Pass algorithm='leiden-vendored' to silence, or "
                    "'leiden' to require the native implementation.",
                    RuntimeWarning,
                    stacklevel=2,
                )
                _WARNED_LEIDEN_FALLBACK = True
            detector = _leiden_driver_local_vendored
    cols = ["id"] + [f"community_L{i}" for i in range(len(resolutions))]
    schema = "id string, " + ", ".join(f"{c} long" for c in cols[1:])
    if not edge_list:
        return local_frame(spark, [], schema)
    memberships = [detector(edge_list, res, seed) for res in resolutions]
    nodes = sorted({n for e in edge_list for n in e})
    data = [
        (n, *[int(m.get(n, -1)) for m in memberships])
        for n in nodes
    ]
    return local_frame(spark, data, schema)


def community_rollup(
    members: DataFrame,
    community_col: str = "community",
    id_col: str = "id",
    tags_col: str = "tags",
    genres_col: str = "genres",
    country_col: str = "country",
    similar_col: str = "similar_artists",
    name_col: str = "name",
) -> DataFrame:
    """Per-community metadata in one distributed plan (reference loops
    per community in Python, detect_communities.py:294-333):
    member_count, member_ids, top-10 tags, top-5 genres, top-3
    countries, top-5 representative artists by connectivity.

    The three frequency families (tags, genres, countries) are MELTED
    into one (community, kind, item) stream before aggregation: one
    explode over a concatenated struct array, ONE count shuffle, one
    ranking window, one collect, one pivot-back — instead of three
    independent explode→count→window→collect chains over the members
    table (3× the scans and 3× the shuffles at 100 TB). Per-kind top-N
    caps and (count desc, item asc) tie-breaks are identical to the
    separate top_n_frequency calls."""
    base = members.groupBy(community_col).agg(
        F.count(F.lit(1)).alias("member_count"),
        F.sort_array(F.collect_list(id_col)).alias("member_ids"),
    )
    empty = F.array().cast("array<struct<kind:string,item:string>>")
    kinds = F.concat(
        F.transform(
            F.coalesce(tags_col, F.array()),
            lambda t: F.struct(F.lit("t").alias("kind"), t.alias("item")),
        ),
        F.transform(
            F.coalesce(genres_col, F.array()),
            lambda g: F.struct(F.lit("g").alias("kind"), g.alias("item")),
        ),
        F.coalesce(
            F.when(
                F.col(country_col).isNotNull(),
                F.array(
                    F.struct(
                        F.lit("c").alias("kind"),
                        F.col(country_col).alias("item"),
                    )
                ),
            ),
            empty,
        ),
    )
    from pyspark.sql import Window

    counted = (
        members.select(community_col, F.explode(kinds).alias("kv"))
        .groupBy(community_col, F.col("kv.kind").alias("__kind"), F.col("kv.item").alias("__item"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w = Window.partitionBy(community_col, "__kind").orderBy(
        F.desc("__cnt"), F.asc("__item")
    )
    cap = (
        F.when(F.col("__kind") == "t", 10)
        .when(F.col("__kind") == "g", 5)
        .otherwise(3)
    )
    ranked = counted.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= cap
    )
    coll = ranked.groupBy(community_col, "__kind").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__rn", "__item"))),
            lambda s: s.getField("__item"),
        ).alias("__items")
    )
    tops = coll.groupBy(community_col).agg(
        F.first(
            F.when(F.col("__kind") == "t", F.col("__items")), ignorenulls=True
        ).alias("top_tags"),
        F.first(
            F.when(F.col("__kind") == "g", F.col("__items")), ignorenulls=True
        ).alias("top_genres"),
        F.first(
            F.when(F.col("__kind") == "c", F.col("__items")), ignorenulls=True
        ).alias("top_countries"),
    )
    reps = (
        top_n_per_group(
            members.withColumn(
                "__conn", F.size(F.coalesce(similar_col, F.array()))
            ),
            [community_col],
            [F.desc("__conn"), F.asc(name_col)],
            5,
            rank_col="__rk",
        )
        .groupBy(community_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__rk", name_col))),
                lambda s: s.getField(name_col),
            ).alias("representative_artists")
        )
    )
    return base.join(tops, community_col, "left").join(
        reps, community_col, "left"
    )


def community_name(countries: "F.Column", genres: "F.Column") -> "F.Column":
    """Human-readable community name T10 (reference
    generate_community_summaries.py:28-49): ``"{top_country} {top_genre}"``
    with 'Electronic' as the genre fallback; a missing country simply
    drops out (concat_ws skips nulls)."""
    return F.concat_ws(
        " ",
        F.get(countries, 0),
        F.coalesce(F.get(genres, 0), F.lit("Electronic")),
    )


def community_size_stats(assignments: DataFrame, community_col: str) -> DataFrame:
    """Community count + size distribution (reference
    utils/neo4j_helpers.py:271-290)."""
    sizes = assignments.groupBy(community_col).agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("size").alias("largest"),
        F.min("size").alias("smallest"),
        F.avg("size").alias("mean_size"),
    )


def label_propagation_communities(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """FULLY-DISTRIBUTED community detection: synchronous label
    propagation with deterministic tie-breaks — the scale companion to
    driver-local :func:`detect_communities` (which matches the
    reference's Leiden contract but collects the edge list). Use this
    when the graph exceeds ``max_driver_edges``.

    Each round every node adopts the most frequent label among its
    neighbors, ties to the LEXICOGRAPHICALLY SMALLEST label; updates
    are synchronous (all nodes flip on the round boundary), so with a
    fixed ``iters`` the result is a pure function of the edge set —
    no seed, no partitioning sensitivity, replayable in SQL (q94
    value-checks 3 unrolled rounds). Classic async LPA is famously
    nondeterministic; the sync+tie-break variant trades some
    convergence speed for bit-reproducibility, the same trade every
    deterministic op in this engine makes.

    Per round: one join (labels onto the symmetrized edge list — at
    rest, bucket the edges by node and only the node-sized label frame
    shuffles) + one map-side-combined groupBy argmax. localCheckpoint
    per round cuts lineage exactly like connected_components.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(iters):
        neighbor = sym.join(
            labels.select(F.col("id").alias("b"), "label"), "b"
        )
        counts = neighbor.groupBy(
            F.col("a").alias("id"), "label"
        ).agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("best")
            )
            .select("id", F.col("best.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def modularity(
    edges: DataFrame,
    membership: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    community_col: str = "community",
) -> DataFrame:
    """EXACT (RB γ=1) modularity of a partition over an unweighted
    undirected graph — the community-QUALITY metric, as a 1-row frame
    (n_communities, n_edges, q_num, modularity) where
    ``q_num = Σ_c (2·S·e_c − d_c²)`` with S = Σdeg = 2m, e_c the
    intra-community edge count and d_c the community degree sum, so
    ``modularity = q_num / S²``. Every term is integer (accumulated in
    DECIMAL(38,0) so the metric survives billions of edges without
    overflow); the only float is the final division — one IEEE op,
    bit-identical across engines, which is what lets q172 hash-check
    community QUALITY every round, not just membership determinism.

    Scale shape: edge canonicalization (one distinct), degrees (one
    groupBy), two membership joins onto the edge list, two
    community-sized groupBys, a 1-row rollup. Nodes in ``membership``
    with no edges contribute nothing (degree 0). Every edge endpoint
    MUST appear in ``membership`` — a missing endpoint raises in-plan
    (the alternative, silently counting the edge in m but dropping it
    from e_c/d_c, skews Q invisibly)."""
    # shared canonicalization (localCheckpoint'ed: `can` feeds deg
    # twice, ec once and the 1-row stats — without it the upstream
    # edge plan re-executes per subplan)
    can = _canonical_edges(edges, src, dst, None).drop("w")
    mem = membership.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(community_col).cast("string").alias("c"),
    )
    deg = (
        can.select(F.col("a").alias("id"))
        .unionByName(can.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dc = (
        deg.join(mem, "id")
        .groupBy("c")
        .agg(F.sum(F.col("deg").cast("decimal(38,0)")).alias("dc"))
    )
    ec = (
        can.join(
            mem.select(F.col("id").alias("a"), F.col("c").alias("ca")),
            "a",
            "left",
        )
        .join(
            mem.select(F.col("id").alias("b"), F.col("c").alias("cb")),
            "b",
            "left",
        )
        # missing endpoint → loud in-plan failure, not a skewed Q. The
        # guard lives in the GROUPING KEY (evaluated for every edge
        # row) rather than a pre-aggregation filter: a `ca == cb`
        # filter is null-intolerant, so Catalyst would rewrite the
        # left joins back to inner and drop the uncovered rows before
        # the raise could ever evaluate.
        .groupBy(
            F.when(
                F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                F.col("ca"),
            )
            .otherwise(
                F.raise_error(
                    "modularity: edge endpoint missing from membership — "
                    "every node incident to an edge must carry a "
                    "community (restrict the edge set or complete the "
                    "partition)"
                )
            )
            .alias("c")
        )
        .agg(
            F.count(F.when(F.col("ca") == F.col("cb"), F.lit(1)))
            .cast("decimal(38,0)")
            .alias("ec")
        )
    )
    stats = can.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m")
    )
    per_c = dc.join(ec, "c", "left").select(
        "c",
        F.coalesce("ec", F.lit(0).cast("decimal(38,0)")).alias("ec"),
        "dc",
    )
    return (
        per_c.crossJoin(F.broadcast(stats))
        .select(
            "c",
            (
                F.lit(4) * F.col("m") * F.col("ec") - F.col("dc") * F.col("dc")
            ).alias("qc"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("qc").cast("decimal(38,0)").alias("q_num"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "n_communities",
            F.col("m").cast("long").alias("n_edges"),
            F.col("q_num").cast("string").alias("q_num"),
            (
                F.col("q_num").cast("double")
                / (F.lit(2.0) * F.col("m").cast("double")
                   * F.lit(2.0) * F.col("m").cast("double"))
            ).alias("modularity"),
        )
    )


def _check_gain_precision(m2: float) -> None:
    """The 2m-scaled RB gain terms in :func:`_local_move_round`
    (``m2·k_{i,c}`` and ``deg·tot``) are computed in doubles. Every
    operand is ≤ 2m, so both products are exactly representable — and
    the argmax equal to the true integer argmax — while (2m)² ≤ 2^53,
    i.e. total edge weight ≤ ~47M (2m ≤ ~2^26.5). Past that the
    ranking stays IEEE-deterministic (bit-reproducible run-to-run,
    still SQL-replayable by an oracle computing in doubles) but the
    'exact integer argmax' claim no longer holds — warn loudly instead
    of degrading silently (same contract as normalize()'s ftfy seam)."""
    if m2 * m2 > 2.0**53:
        warnings.warn(
            "louvain/leiden: 2m = %.3g exceeds the exact-double budget "
            "((2m)^2 > 2^53); gain comparisons remain deterministic but "
            "may differ from the true integer argmax — pre-normalize "
            "edge weights to keep total weight under ~47M for the exact "
            "claim" % m2,
            RuntimeWarning,
            stacklevel=3,
        )


def _local_move_round(
    labels: DataFrame,
    deg: DataFrame,
    sym: DataFrame,
    m2: float,
    resolution: float,
    rescue_stranded: bool = False,
) -> DataFrame:
    """ONE synchronous deterministic local-moving round (shared by
    :func:`louvain_communities` and :func:`leiden_communities`):
    community degree totals + node→community weights → 2m-scaled
    RB-configuration gain argmax under monotone label descent with the
    negative-stay escape (see louvain_communities docstring). Returns
    the new (id, lab) frame, localCheckpoint'ed.

    ``rescue_stranded`` adds a second escape used by Leiden's
    init-carrying levels: a node ALONE in its community with stay-gain
    exactly 0 (it lost its community to label chasing — everyone it
    labeled after moved on) may move UPHILL into a community of
    size > 1. Louvain doesn't need it (each level restarts from
    singletons, so the bigger neighbor community descends onto the
    stranded label and heals the strand); Leiden seeds each level with
    the move partition, so without the rescue a strand survives every
    level. The size > 1 gate is what keeps the swap storm dead: two
    mutually-best singletons can only merge DOWNHILL (one direction),
    never trade places."""
    tot = (
        labels.join(deg, "id")
        .groupBy("lab")
        .agg(F.sum("deg").alias("tot"), F.count(F.lit(1)).alias("cnt"))
    )
    kic = (
        sym.join(
            labels.select(F.col("id").alias("j"), F.col("lab").alias("c")),
            "j",
        )
        .groupBy(F.col("i").alias("id"), "c")
        .agg(F.sum("w").alias("kic"))
    )
    cur = (
        labels.select("id", F.col("lab").alias("c"))
        .join(kic, ["id", "c"], "left")
        .select(
            "id",
            "c",
            F.coalesce("kic", F.lit(0).cast("long")).alias("kic"),
        )
    )
    cand = kic.unionByName(cur).distinct()
    scored = (
        cand.join(labels.select("id", F.col("lab").alias("cur_lab")), "id")
        .join(deg, "id")
        .join(tot.select(F.col("lab").alias("c"), "tot", "cnt"), "c")
        .select(
            "id",
            "c",
            "cur_lab",
            "cnt",
            (
                F.lit(m2) * F.col("kic").cast("double")
                - F.lit(resolution)
                * F.col("deg").cast("double")
                * (
                    F.col("tot")
                    - F.when(F.col("c") == F.col("cur_lab"), F.col("deg"))
                    .otherwise(F.lit(0))
                ).cast("double")
            ).alias("gain"),
            (F.col("c") == F.col("cur_lab")).alias("is_cur"),
        )
    )
    from pyspark.sql import Window as _W

    stayg = F.max(F.when(F.col("is_cur"), F.col("gain"))).over(
        _W.partitionBy("id")
    )
    escape = F.col("stayg") < 0
    if rescue_stranded:
        escape = escape | (
            (F.col("stayg") == 0) & F.col("alone") & (F.col("cnt") > 1)
        )
    best = (
        scored.withColumn("stayg", stayg)
        .withColumn(
            "alone",
            F.max(F.when(F.col("is_cur"), F.col("cnt") == 1)).over(
                _W.partitionBy("id")
            ),
        )
        # monotone descent, unless staying is actively harmful (or the
        # node is a zero-gain stranded singleton — see docstring)
        .filter((F.col("c") <= F.col("cur_lab")) | escape)
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("id").orderBy(
                    F.col("gain").desc(),
                    F.col("is_cur").desc(),
                    F.col("c").asc(),
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("id", F.col("c").alias("best_c"))
    )
    return (
        labels.join(best, "id")
        .select("id", F.col("best_c").alias("lab"))
        .localCheckpoint(eager=False)
    )


def _canonical_edges(
    edges: DataFrame, src: str, dst: str, weight_col: str | None
) -> DataFrame:
    """Canonical undirected (a < b, no self-loops) edge frame for the
    community detectors, localCheckpoint'ed. Unweighted (default):
    duplicate/reversed edges collapse via distinct, w = 1 — the exact
    plan q101/q159 replay. With ``weight_col``: integer edge weights,
    SUMMED over duplicate/reversed rows (so pre-aggregated multiplicity
    counts and raw multi-edge streams both work) — every downstream
    quantity (degrees, k_{i,c}, tot, gains, contraction) already
    carries w, so the weighted variants stay exact-integer and
    SQL-replayable (q173)."""
    w_expr = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    base = edges.select(
        F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("a"),
        F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("b"),
        w_expr.alias("w"),
    ).filter(F.col("a") != F.col("b"))
    if weight_col is None:
        can = base.drop("w").distinct().withColumn("w", F.lit(1).cast("long"))
    else:
        can = base.groupBy("a", "b").agg(F.sum("w").alias("w"))
    return can.localCheckpoint(eager=False)


def _level_degrees(can: DataFrame) -> DataFrame:
    """Weighted degree frame (id, deg) of a canonical edge frame —
    self-loops count twice, as in every modularity formulation.
    γ-INDEPENDENT: the level-0 frame can be computed once and shared
    across an entire multi-resolution sweep (leiden_multiresolution)."""
    return (
        can.select(
            F.col("a").alias("id"),
            F.when(F.col("a") == F.col("b"), 2 * F.col("w"))
            .otherwise(F.col("w"))
            .alias("dw"),
        )
        .unionByName(
            can.filter(F.col("a") != F.col("b")).select(
                F.col("b").alias("id"), F.col("w").alias("dw")
            )
        )
        .groupBy("id")
        .agg(F.sum("dw").alias("deg"))
        .localCheckpoint(eager=False)
    )


def louvain_communities(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    resolution: float = 1.0,
    rounds_per_level: int = 2,
    levels: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """FULLY-DISTRIBUTED Louvain: modularity-based communities as
    DataFrame-only local-moving rounds + graph contraction — the
    100×-scale answer when LPA's label-frequency heuristic isn't enough
    and the graph exceeds :func:`detect_communities`' driver bound.
    Returns (id, community) with the community keyed by a member node
    id (stable across runs; renumber downstream if dense ids needed).

    Per round (synchronous, deterministic):
      1. ``tot(c)`` = Σ degree of members  (one groupBy on the node set)
      2. ``k_{i,c}`` = weight from node i into neighbor community c
         (labels joined onto the symmetric edge list + one groupBy)
      3. RB-configuration gain, scaled by 2m to stay in exact-integer
         territory: ``gain(c) = 2m·k_{i,c} − γ·k_i·(tot(c) − [c=cᵢ]·k_i)``
         — same argmax as leidenalg's RBConfiguration quality, and with
         integer weights every product is exact in a double, so DuckDB
         replays it bit-for-bit (q101).
      4. MONOTONE LABEL DESCENT with negative-stay escape: a node may
         adopt a community with a SMALLER id than its current one
         (argmax over those + stay; tie-break gain desc /
         stay-preferred / c asc), and may additionally move UPHILL
         when its stay-gain is strictly negative (it is hurting its
         current community). Naive synchronous updates oscillate — two
         mutually-best neighbors swap into each other's community
         forever. Under descent a swap needs both directions downhill
         (impossible); the escape clause can't re-create the singleton
         swap storm because a singleton's stay-gain is exactly 0. The
         escape is what lets a bridge endpoint absorbed early into the
         wrong side move back once its true community has formed.
         Rounds are fixed-count and synchronous, so the result stays a
         pure function of the edge set — the same determinism-for-
         convergence-speed trade as the sync LPA above.
    After ``rounds_per_level`` rounds the graph CONTRACTS (communities
    → supernodes, edge weights summed, intra-edges → self-loops) and
    the next level runs on the community graph — classic Louvain, but
    every step a shuffle-bounded DataFrame op: labels and degrees are
    node-sized, only the edge join is edge-sized, and localCheckpoint
    per round keeps lineage flat. No driver-side graph ever exists;
    the only collect is the 1-row 2m scalar per level. It runs as the
    Leiden loop with refinement off: each level contracts on the move
    partition and the next one restarts from singletons.
    """
    can = _canonical_edges(edges, src, dst, weight_col)
    return _leiden_from_canonical(
        edges.sparkSession, can, resolution, rounds_per_level, levels,
        refine_rounds=0, refine=False,
    )


def leiden_communities(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    resolution: float = 1.0,
    rounds_per_level: int = 2,
    levels: int = 2,
    refine_rounds: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """FULLY-DISTRIBUTED Leiden: :func:`louvain_communities`' local
    moving PLUS the γ-gated well-connectedness refinement phase of
    Traag et al. 2019 (the Leiden guarantee Louvain lacks), every step
    a shuffle-bounded DataFrame op — the 100×-scale companion to the
    driver-local :func:`detect_communities` Leiden (reference contract
    utils/neo4j_helpers.py:237-268). Returns (id, community).

    Per level (deterministic, synchronous):
      1. ``rounds_per_level`` local-moving rounds (shared
         :func:`_local_move_round` — exact-integer 2m-scaled RB gain,
         monotone label descent) produce the MOVE partition P.
      2. REFINEMENT inside each move community C (this is what Louvain
         skips and what makes badly-connected — even disconnected —
         communities impossible to aggregate): starting from
         singletons, a node v may merge into a refined subcommunity R
         of its OWN move community only when
           - v is well-connected to C:  2m·E(v, C−v) ≥ γ·k_v·(k_C−k_v)
           - R is well-connected to C:  2m·E(R, C−R) ≥ γ·k_R·(k_C−k_R)
           - the merge strictly improves quality: 2m·k_{v,R} > γ·k_v·k_R
         choosing the argmax-gain target (θ→0 greedy — leidenalg's
         randomized merge degenerates to argmax as θ→0). Only nodes
         still SINGLETON in the refined partition move (each node
         merges at most once per refinement pass, exactly the
         sequential algorithm's rule), moves are synchronous over
         ``refine_rounds`` rounds, and a mover may only adopt a
         SMALLER label (same oscillation-killing monotone-descent
         trade as the move phase) — so the result is a pure function
         of the edge set, replayable in SQL (q159 hash-matches every
         node).
      3. CONTRACTION on the REFINED partition; the move partition is
         carried as the next level's INITIAL labels (each supernode
         starts in its move community) — aggregation-on-refined +
         move-as-init is precisely the Leiden loop.

    All quantities are integer-valued (2m-scaled), so the double
    arithmetic is exact and the DuckDB oracle replays the full
    multi-level run bit-for-bit. Labels and degrees are node-sized;
    only the edge joins are edge-sized; localCheckpoint per round
    keeps lineage flat; the only collect is the 1-row 2m scalar per
    level. No driver-side graph ever exists.
    """
    spark = edges.sparkSession
    can = _canonical_edges(edges, src, dst, weight_col)
    return _leiden_from_canonical(
        spark, can, resolution, rounds_per_level, levels, refine_rounds
    )


def _refine_partition(
    labels: DataFrame,
    deg: DataFrame,
    sym: DataFrame,
    m2: float,
    resolution: float,
    refine_rounds: int,
) -> DataFrame:
    """Leiden's refinement inside each move community (see
    :func:`leiden_communities` step 2): ``refine_rounds`` synchronous
    merge rounds from singletons under the γ-gated node and
    sub-community well-connectedness tests. Returns (id, rlab)."""
    symc = (
        sym.join(
            labels.select(F.col("id").alias("i"), F.col("lab").alias("li")),
            "i",
        )
        .join(
            labels.select(F.col("id").alias("j"), F.col("lab").alias("lj")),
            "j",
        )
        .filter(F.col("li") == F.col("lj"))
        .select("i", "j", "w")
        .localCheckpoint(eager=False)
    )
    ctot = (
        labels.join(deg, "id")
        .groupBy("lab")
        .agg(F.sum("deg").alias("ctot"))
    )
    ev = symc.groupBy(F.col("i").alias("id")).agg(F.sum("w").alias("ev"))
    node_wc = (
        labels.join(deg, "id")
        .join(ctot, "lab")
        .join(ev, "id", "left")
        .select(
            "id",
            (
                F.lit(m2)
                * F.coalesce(F.col("ev"), F.lit(0).cast("long")).cast("double")
                >= F.lit(resolution)
                * F.col("deg").cast("double")
                * (F.col("ctot") - F.col("deg")).cast("double")
            ).alias("wc"),
        )
        .localCheckpoint(eager=False)
    )
    rlab = deg.select("id", F.col("id").alias("rlab"))
    for _ in range(refine_rounds):
        ann = symc.join(
            rlab.select(F.col("id").alias("i"), F.col("rlab").alias("ri")),
            "i",
        ).join(
            rlab.select(F.col("id").alias("j"), F.col("rlab").alias("rj")),
            "j",
        )
        rtot = rlab.join(deg, "id").groupBy("rlab").agg(
            F.sum("deg").alias("rtot"), F.count(F.lit(1)).alias("rsize")
        )
        rext = (
            ann.filter(F.col("ri") != F.col("rj"))
            .groupBy(F.col("ri").alias("rlab"))
            .agg(F.sum("w").alias("rext"))
        )
        rparent = rlab.join(labels, "id").groupBy("rlab").agg(
            F.min("lab").alias("lab")
        )
        sub = (
            rtot.join(rparent, "rlab")
            .join(ctot, "lab")
            .join(rext, "rlab", "left")
            .select(
                "rlab",
                "rtot",
                (
                    F.lit(m2)
                    * F.coalesce(F.col("rext"), F.lit(0).cast("long")).cast(
                        "double"
                    )
                    >= F.lit(resolution)
                    * F.col("rtot").cast("double")
                    * (F.col("ctot") - F.col("rtot")).cast("double")
                ).alias("swc"),
            )
        )
        kir = (
            ann.filter(F.col("ri") != F.col("rj"))
            .groupBy(F.col("i").alias("id"), F.col("rj").alias("tr"))
            .agg(F.sum("w").alias("kir"))
        )
        from pyspark.sql import Window as _W

        pick = (
            rlab.join(
                rtot.select("rlab", "rsize").filter(F.col("rsize") == 1),
                "rlab",
            )
            .join(node_wc.filter(F.col("wc")), "id")
            .join(deg, "id")
            .join(kir, "id")
            .join(
                sub.select(
                    F.col("rlab").alias("tr"),
                    F.col("rtot").alias("ttot"),
                    "swc",
                ),
                "tr",
            )
            .filter(F.col("swc") & (F.col("tr") < F.col("rlab")))
            .withColumn(
                "gain",
                F.lit(m2) * F.col("kir").cast("double")
                - F.lit(resolution)
                * F.col("deg").cast("double")
                * F.col("ttot").cast("double"),
            )
            .filter(F.col("gain") > 0)
            .withColumn(
                "rn",
                F.row_number().over(
                    _W.partitionBy("id").orderBy(
                        F.col("gain").desc(), F.col("tr").asc()
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("id", F.col("tr").alias("new_rlab"))
        )
        rlab = (
            rlab.join(pick, "id", "left")
            .select(
                "id",
                F.coalesce("new_rlab", "rlab").alias("rlab"),
            )
            .localCheckpoint(eager=False)
        )
    return rlab


def _leiden_from_canonical(
    spark: SparkSession,
    can: DataFrame,
    resolution: float,
    rounds_per_level: int,
    levels: int,
    refine_rounds: int,
    deg0: DataFrame | None = None,
    refine: bool = True,
) -> DataFrame:
    """The Leiden loop on an ALREADY-CANONICAL edge frame — split out
    so :func:`leiden_multiresolution` can run several γ values over ONE
    canonicalization (and one shared level-0 degree frame via ``deg0``;
    both are γ-independent). Everything from the first local-move round
    on diverges per γ, so per-level frames stay private.

    ``refine=False`` is :func:`louvain_communities`: no refinement and
    no stranded-singleton rescue, contraction on the move partition,
    and every level starts from singletons (the carried init would be
    the identity on the supernodes anyway)."""
    node_map: DataFrame | None = None  # original id -> current-level node
    init: DataFrame | None = None  # next level's initial (id, lab)
    last_labels: DataFrame | None = None
    for level in range(levels):
        deg = (
            deg0
            if level == 0 and deg0 is not None
            else _level_degrees(can)
        )
        m2_row = deg.agg(F.sum("deg")).collect()[0][0]
        if m2_row is None or m2_row == 0:
            break
        m2 = float(m2_row)
        _check_gain_precision(m2)
        sym = (
            can.filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("i"), F.col("b").alias("j"), "w")
            .unionByName(
                can.filter(F.col("a") != F.col("b")).select(
                    F.col("b").alias("i"), F.col("a").alias("j"), "w"
                )
            )
        )
        labels = (
            init if init is not None
            else deg.select("id", F.col("id").alias("lab"))
        )
        for _ in range(rounds_per_level):
            labels = _local_move_round(
                labels, deg, sym, m2, resolution, rescue_stranded=refine
            )
        last_labels = labels
        if level >= levels - 1:
            break
        rlab = (
            _refine_partition(labels, deg, sym, m2, resolution, refine_rounds)
            if refine
            else labels.withColumnRenamed("lab", "rlab")
        )
        # ---- contraction on the refined partition --------------------
        node_map = (
            rlab
            if node_map is None
            else node_map.withColumnRenamed("rlab", "__cur")
            .join(
                rlab.select(
                    F.col("id").alias("__cur"), F.col("rlab").alias("__new")
                ),
                "__cur",
            )
            .select("id", F.col("__new").alias("rlab"))
            .localCheckpoint(eager=False)
        )
        # the move partition seeds the next level; without refinement
        # that is the identity on the supernodes, i.e. singletons
        init = (
            rlab.join(labels, "id")
            .select(F.col("rlab").alias("id"), "lab")
            .distinct()
            .localCheckpoint(eager=False)
            if refine
            else None
        )
        ra = rlab.select(F.col("id").alias("a"), F.col("rlab").alias("la"))
        rb = rlab.select(F.col("id").alias("b"), F.col("rlab").alias("lb"))
        can = (
            can.join(ra, "a")
            .join(rb, "b")
            .groupBy(
                F.least("la", "lb").alias("a"),
                F.greatest("la", "lb").alias("b"),
            )
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=False)
        )
    if last_labels is None:
        return local_frame(spark, [], "id string, community string")
    if node_map is None:
        return last_labels.select("id", F.col("lab").alias("community"))
    return (
        node_map.withColumnRenamed("rlab", "__node")
        .join(
            last_labels.select(F.col("id").alias("__node"), "lab"), "__node"
        )
        .select("id", F.col("lab").alias("community"))
    )


def leiden_multiresolution(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    resolutions: tuple[float, ...] = (2.0, 0.5, 0.1),
    rounds_per_level: int = 2,
    levels: int = 2,
    refine_rounds: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Multi-resolution FULLY-DISTRIBUTED Leiden in ONE pass over the
    input: the reference contract — three resolutions [2.0, 0.5, 0.1]
    over the SAME graph (settings.py:137, utils/neo4j_helpers.py:
    237-268) — without re-canonicalizing or re-weighing the edges per
    γ. Returns (id, community_L0, community_L1, ..., community_L{n-1})
    with communities densely renumbered by (size desc, min member),
    matching :func:`detect_communities`' driver-local output shape.

    Scale shape: :func:`_canonical_edges` (the input-sized distinct +
    checkpoint — the expensive part when the edge stream is a derived
    frame like a near-dup pair pipeline) and the level-0 degree frame
    run ONCE; each γ then reuses the two materialized frames (call-
    count-locked in tests). The per-γ runs necessarily diverge from
    the first local-move round on — contraction graphs are γ-specific
    — so the sweep costs one canonicalization + Σγ(iteration rounds),
    not 3× everything. The dense-renumber window runs over the
    COMMUNITY table only (communities << nodes)."""
    return _multiresolution(
        edges, src, dst, resolutions, rounds_per_level, levels,
        refine_rounds, weight_col, refine=True,
    )


def _multiresolution(
    edges: DataFrame,
    src: str,
    dst: str,
    resolutions: tuple[float, ...],
    rounds_per_level: int,
    levels: int,
    refine_rounds: int,
    weight_col: str | None,
    refine: bool,
) -> DataFrame:
    """The γ sweep behind :func:`leiden_multiresolution`; with
    ``refine=False`` it is the distributed Louvain sweep of
    ``detect_communities(algorithm="louvain-distributed")``."""
    from pyspark.sql import Window as _W

    spark = edges.sparkSession
    can = _canonical_edges(edges, src, dst, weight_col)
    deg0 = _level_degrees(can)
    out: DataFrame | None = None
    for i, res in enumerate(resolutions):
        mem = _leiden_from_canonical(
            spark, can, float(res), rounds_per_level, levels,
            refine_rounds, deg0=deg0, refine=refine,
        )
        sizes = mem.groupBy("community").agg(
            F.count(F.lit(1)).alias("__n"), F.min("id").alias("__mn")
        )
        ids = sizes.withColumn(
            f"community_L{i}",
            (
                F.row_number().over(_W.orderBy(F.desc("__n"), F.asc("__mn")))
                - 1
            ).cast("long"),
        ).select("community", f"community_L{i}")
        lvl = mem.join(ids, "community").select("id", f"community_L{i}")
        out = lvl if out is None else out.join(lvl, "id")
    if out is None:
        raise ValueError("a multi-resolution sweep needs >= 1 resolution")
    return out


def partition_comparison(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "id",
    a_col: str = "community",
    b_col: str = "community",
) -> DataFrame:
    """EXACT pair-counting agreement between two partitions of the
    same node set — Rand index and Adjusted Rand Index (Hubert &
    Arabie 1985) as one bit-replayable row (n, rand_index, ari). The
    metric a daily graph pipeline needs twice over: community
    STABILITY across snapshots ("did today's increment reshuffle the
    clusters?") and detection QUALITY against a ground-truth labeling.

    Both inputs must cover the SAME node set (raises otherwise — a
    silent intersection would quietly inflate agreement, the same
    failure mode modularity guards against). All pair counts are
    DOUBLED and accumulated in DECIMAL(38,0):
      A2 = Σ_i a_i(a_i−1), B2 = Σ_j b_j(b_j−1), T2 = Σ_ij n_ij(n_ij−1),
      C2 = n(n−1)
      RI  = (C2 − A2 − B2 + 2·T2) / C2
      ARI = 2·(C2·T2 − A2·B2) / (C2·(A2+B2) − 2·A2·B2)
    — integer-exact to the final ONE IEEE division each, so the DuckDB
    oracle (HUGEINT arithmetic) replays them bit-for-bit (q187).
    Products stay inside 38 digits for n ≤ ~2·10⁹ (driver-guarded).
    Degenerate case (both partitions trivial → zero denominator):
    ARI = 1.0 by convention when the partitions are identical, 0.0
    otherwise.

    Scale shape: one node-sized inner join, one contingency groupBy
    (cells ≤ clusters_a × clusters_b, in practice ≪ n), two
    cluster-sized groupBys, a 1-row rollup."""
    sa = a.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(a_col).cast("string").alias("ca"),
    )
    sb = b.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(b_col).cast("string").alias("cb"),
    )
    j = sa.join(sb, "id").localCheckpoint(eager=False)
    n = j.count()
    if n > 2_000_000_000:
        raise ValueError(
            "partition_comparison: n(n-1)-scaled products exceed "
            "DECIMAL(38,0) past ~2e9 nodes; shard or sample"
        )
    if sa.count() != n or sb.count() != n:
        raise ValueError(
            "partition_comparison: the two partitions must cover the "
            "same node set (a silent intersection would inflate "
            "agreement)"
        )
    dec = "decimal(38,0)"

    def _pairs2(df, col):
        return (
            df.groupBy(col)
            .agg(F.count(F.lit(1)).cast(dec).alias("m"))
            .agg(F.sum(F.col("m") * (F.col("m") - 1)).alias("s"))
        )

    a2 = _pairs2(j, "ca").select(F.col("s").alias("a2"))
    b2 = _pairs2(j, "cb").select(F.col("s").alias("b2"))
    t2 = (
        j.groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).cast(dec).alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1)).alias("t2"))
    )
    c2 = F.lit(n).cast(dec) * F.lit(n - 1).cast(dec)
    num = F.lit(2).cast(dec) * (
        c2 * F.col("t2") - F.col("a2") * F.col("b2")
    )
    den = c2 * (F.col("a2") + F.col("b2")) - F.lit(2).cast(dec) * F.col(
        "a2"
    ) * F.col("b2")
    ri = (
        (c2 - F.col("a2") - F.col("b2") + F.lit(2).cast(dec) * F.col("t2"))
        .cast("double")
        / c2.cast("double")
    )
    return (
        a2.crossJoin(F.broadcast(b2))
        .crossJoin(F.broadcast(t2))
        .select(
            F.lit(n).cast("long").alias("n"),
            ri.alias("rand_index"),
            F.when(
                den == F.lit(0).cast(dec),
                F.when(ri == F.lit(1.0), F.lit(1.0)).otherwise(F.lit(0.0)),
            )
            .otherwise(num.cast("double") / den.cast("double"))
            .alias("ari"),
        )
    )


def connected_components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Fold NEW edges into a persisted (id, component) labeling WITHOUT
    re-running CC over the full edge set — the daily-crawl pattern for
    duplicate clusters: yesterday's near-dup graph is already labeled,
    today's verified pairs arrive, and only the TOUCHED components do
    any work. Returns the full updated (id, component).

    EXACT, not approximate: under edge additions components only
    merge; each new edge projects onto its endpoints' current
    components (new nodes act as their own), CC runs on that
    COMPONENT graph — increment-sized, never the corpus — and the
    merge relabels by join. Because stored component ids are min
    member ids and CC again takes the min over merged representatives,
    the result is IDENTICAL to CC(old ∪ new) (q188's oracle replays
    the full-graph closure; an equivalence unit test pins chains that
    merge three old components through one new node). Components the
    increment never touches keep their label via the left-join
    coalesce — zero work, zero movement."""
    # id/component types are PRESERVED (no string cast): min-member
    # label semantics follow the id type's ordering, and coercing to
    # string would silently flip it ('176' < '26' lexicographically)
    lab = labels.select(
        F.col(id_col).alias("id"),
        F.col(comp_col).alias("component"),
    ).localCheckpoint(eager=False)
    e = new_edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    )
    ca = lab.select(F.col("id").alias("a"), F.col("component").alias("__ca"))
    cb = lab.select(F.col("id").alias("b"), F.col("component").alias("__cb"))
    comp_edges = (
        e.join(ca, "a", "left")
        .join(cb, "b", "left")
        .select(
            F.coalesce("__ca", F.col("a")).alias("a"),
            F.coalesce("__cb", F.col("b")).alias("b"),
        )
    )
    # CC over the contracted increment graph: nodes are component
    # representatives + genuinely new ids — increment-sized
    merged = connected_components(comp_edges, src="a", dst="b")
    relabeled_old = (
        lab.join(
            merged.select(
                F.col("id").alias("component"),
                F.col("component").alias("__new"),
            ),
            "component",
            "left",
        )
        .select(
            "id",
            F.coalesce("__new", F.col("component")).alias("component"),
        )
    )
    new_nodes = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .join(lab.select("id"), "id", "left_anti")
    )
    new_labeled = new_nodes.join(merged, "id").select("id", "component")
    return relabeled_old.unionByName(new_labeled)
