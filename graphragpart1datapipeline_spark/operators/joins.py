"""Join operators beyond plain equi-joins.

Both operators here replace driver-side Python patterns in the reference
with shuffle-join plans that scale: the theta-join J6 is decomposed into
a union of equi-joins (no nested loop), and multi-hop traversal is a
chain of equi-joins on the edges table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame


def name_or_alias_join(
    left: DataFrame,
    right: DataFrame,
    left_name_col: str,
    right_name_col: str,
    right_alias_col: str,
    left_id: str = "id",
    right_id: str = "id",
) -> DataFrame:
    """SIMILAR_TO-style resolution: match ``left.name`` against
    ``right.name`` OR any element of ``right.aliases``, excluding
    self-pairs (reference theta-join, ingest_graph_db.py:236-243:
    ``target.name = sim OR sim IN target.aliases AND a.id <> target.id``).

    Spark-first: instead of a nested-loop OR-join (which Catalyst would
    execute as BroadcastNestedLoopJoin), decompose into
      (a) equi-join on name
      (b) equi-join on exploded aliases
    then union + self-filter + distinct. Both branches are hash joins;
    the whole thing is broadcast-able when ``right`` is a dimension.

    Returns (src_id, dst_id) pairs.
    """
    by_name = left.select(
        F.col(left_id).alias("src"), F.col(left_name_col).alias("__k")
    ).join(
        right.select(F.col(right_id).alias("dst"), F.col(right_name_col).alias("__k")),
        "__k",
    )
    by_alias = left.select(
        F.col(left_id).alias("src"), F.col(left_name_col).alias("__k")
    ).join(
        right.select(
            F.col(right_id).alias("dst"),
            F.explode(F.coalesce(F.col(right_alias_col), F.array())).alias("__k"),
        ),
        "__k",
    )
    return (
        by_name.unionByName(by_alias)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-mitigating equi-join: spread a hot key over ``salt`` shards.

    The (large, skewed) left side gets a per-row shard id; the (smaller)
    right side is replicated once per shard; the join runs on
    (keys..., shard). Same result as a plain join for inner/left-flavored
    joins, but a key holding X% of the rows now occupies ``salt`` tasks
    instead of one straggler. AQE's skew splitting handles sort-merge
    cases automatically — use this when the skew is extreme or the join
    must stay hash-partitioned for a downstream stage. The right side
    grows ``salt``×, so keep salt × |right| well under the shuffle
    budget.

    Right/full-outer joins are rejected: replicating the right side
    means every replica that misses its shard would null-extend, so the
    salted plan is not equivalent for those join types.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            "right side breaks right/full outer null-extension semantics; "
            f"use one of {sorted(allowed)} or a plain join with AQE skew handling"
        )
    keys = [on] if isinstance(on, str) else list(on)
    shard = F.pmod(
        F.xxhash64(F.monotonically_increasing_id(), F.lit(salt)), F.lit(salt)
    ).cast("int")
    salted_left = left.withColumn("__shard", shard)
    salted_right = right.withColumn(
        "__shard", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_left.join(salted_right, [*keys, "__shard"], how).drop("__shard")


def _detect_hot_keys_with_total(
    df: DataFrame,
    on: str | Sequence[str],
    threshold_frac: float,
) -> DataFrame:
    """(keys..., __cnt, __n): keys with count strictly greater than
    ``threshold_frac * n`` over the non-null-key rows, plus that total
    n on every row. Three passes over ``df``: a per-partition
    Misra-Gries candidate sweep (capacity 2*ceil(1/frac) -- a superset
    of every over-threshold key by the pigeonhole bound), an exact
    recount of candidate rows grouped by the REAL key columns, and the
    1-row total; the final filter is the exact advertised threshold,
    not the n/k surrogate."""
    if not (0 < threshold_frac < 1):
        raise ValueError(
            f"threshold_frac must be in (0, 1): got {threshold_frac}"
        )
    import math

    from .sketches import mg_candidates

    keys = [on] if isinstance(on, str) else list(on)
    cap = 2 * max(2, math.ceil(1.0 / threshold_frac))
    nn = None
    for c in keys:
        p = F.col(c).isNotNull()
        nn = p if nn is None else nn & p
    # injective detector key: to_json escapes values and drops null
    # fields per-field, so distinct tuples can never collide (a naive
    # separator-less concat maps ('ab','c') and ('a','bc') to the same
    # string and merges their counts)
    jk = F.md5(F.to_json(F.struct(*[F.col(c) for c in keys])))
    tagged = df.filter(nn).select(*keys, jk.alias("__jk"))
    cand = mg_candidates(tagged.select(F.col("__jk").alias("v")), cap)
    counts = (
        tagged.join(
            F.broadcast(cand.select(F.col("v").alias("__jk"))),
            "__jk",
            "left_semi",
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    ntot = tagged.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    return counts.crossJoin(F.broadcast(ntot)).filter(
        F.col("__cnt").cast("double")
        > F.lit(float(threshold_frac)) * F.col("__n").cast("double")
    )


def detect_hot_keys(
    df: DataFrame,
    on: str | Sequence[str],
    threshold_frac: float = 0.01,
) -> DataFrame:
    """EXACT hot-key detection for skew handling: the join keys
    (null-free tuples) holding strictly more than ``threshold_frac``
    of the rows, with their exact counts -- at most 1/threshold_frac
    keys by construction. Misra-Gries candidate sweep + exact recount
    + exact threshold filter (see :func:`_detect_hot_keys_with_total`
    for the pass budget). Returns (keys..., __cnt)."""
    return _detect_hot_keys_with_total(df, on, threshold_frac).drop("__n")


def hot_key_table(
    df: DataFrame,
    on: str | Sequence[str],
    threshold_frac: float = 0.01,
) -> DataFrame:
    """The PRE-FLIGHT detection artifact: (keys..., __cnt, __n) — hot
    keys with exact counts plus the total row count every row carries.
    Materialize it ONCE (``.localCheckpoint(eager=True)`` or persist to
    parquet) and hand it to every :func:`salted_join_auto` /
    ``join_skew_report`` touching the same fact side of a composed DAG:
    one 3-pass detection scan instead of one per join. At most
    ``1/threshold_frac`` rows by construction."""
    return _detect_hot_keys_with_total(df, on, threshold_frac)


def salted_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    threshold_frac: float = 0.01,
    max_salt: int = 64,
    target_rows_per_shard: int | None = None,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """:func:`salted_join` with AUTOMATIC hot-key detection and per-key
    salt sizing: only keys holding > ``threshold_frac`` of the left
    rows are salted (each over its own shard count, proportional to
    its share, capped at ``max_salt``); COLD keys keep shard 0 and the
    right side replicates a row ONLY per its key's salt — so the
    shuffle grows by the hot keys' replication alone, not
    ``salt × |right|`` like the static variant.

    Detection is the exact Misra-Gries+recount pass
    (:func:`detect_hot_keys`); the hot-key table (≤ 1/threshold_frac
    rows by construction) is collected and broadcast — the same
    bounded-collect budget as k-means centroids. Per-key salt =
    clamp(ceil(cnt / target_rows_per_shard), 1, max_salt), with the
    target defaulting to n·threshold_frac (so a key at exactly the
    threshold gets 1 shard and a key at X× the threshold gets ~X).
    Deterministic for a fixed input (exact counts, no sampling).

    ``hot_keys``: a PRECOMPUTED detection table (:func:`hot_key_table`
    over the same left/keys — materialize it once) so the multiple
    joins of a composed DAG share ONE detection scan instead of
    re-profiling the fact side per join; schema is validated, counts
    are trusted as given.

    Join-type restrictions are inherited from :func:`salted_join`
    (inner/left flavors only). Equivalence with the plain join is
    oracle-locked (q165; shared-detection variant q214)."""
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join_auto does not support how={how!r}; "
            f"use one of {sorted(allowed)}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    # bounded collect: <= 1/threshold_frac rows, each carrying the
    # total row count __n (so shard sizing needs no extra left.count()
    # pass — detection's 3 scans are the whole pre-join budget)
    if hot_keys is not None:
        missing = (set(keys) | {"__cnt", "__n"}) - set(hot_keys.columns)
        if missing:
            raise ValueError(
                "salted_join_auto: hot_keys is missing columns "
                f"{sorted(missing)} — pass the hot_key_table(...) output "
                "built over the SAME left frame and join keys"
            )
        hot_rows = hot_keys.collect()
    else:
        hot_rows = _detect_hot_keys_with_total(
            left, keys, threshold_frac
        ).collect()
    if not hot_rows:
        return left.join(right, keys, how)
    # target shard size = the threshold count: a key at exactly the
    # threshold gets 1 shard, a key at X× the threshold ~X shards
    per_shard = target_rows_per_shard or max(
        1, int(hot_rows[0]["__n"] * threshold_frac)
    )
    salt_rows = [
        tuple(r[c] for c in keys)
        + (min(max_salt, max(1, -(-int(r["__cnt"]) // per_shard))),)
        for r in hot_rows
    ]
    salt_tbl = local_frame(
        left.sparkSession,
        salt_rows,
        left.select(*keys).schema.add("__salt", "integer"),
    )
    lt = left.join(F.broadcast(salt_tbl), keys, "left")
    shard = F.when(
        F.col("__salt").isNull(), F.lit(0)
    ).otherwise(
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id(), F.lit(max_salt)),
            F.col("__salt"),
        ).cast("int")
    )
    salted_left = lt.withColumn("__shard", shard).drop("__salt")
    rt = right.join(F.broadcast(salt_tbl), keys, "left")
    salted_right = rt.withColumn(
        "__shard",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("__salt"), F.lit(1)) - 1)
        ),
    ).drop("__salt")
    return salted_left.join(
        salted_right, [*keys, "__shard"], how
    ).drop("__shard")


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: int = -3600,
    upper: int = 0,
    right_select: Sequence[str] | None = None,
) -> DataFrame:
    """Interval/range join: pairs where
    ``right_ts - left_ts ∈ [lower, upper]`` seconds (both bounds
    inclusive) for the same key. E.g. ``lower=-3600, upper=0`` = "right
    events in the hour before each left event".

    Spark-first: a naive formulation is an equi-join on the key plus a
    range predicate, which Catalyst executes as a hash join followed by
    a filter — fine per key, but a hot key degenerates to its full
    cross product before filtering. This plan *bucketizes time* with
    bucket width = the span (upper - lower): each left row joins its
    (at most two) overlapping buckets, each right row lands in exactly
    one, the equi-join runs on (key..., bucket), and the exact range
    predicate prunes the remainder. Join fan-out per row is bounded by
    bucket occupancy, not key cardinality.

    Right payload columns come back prefixed ``r_``.
    """
    span = upper - lower
    if span <= 0:
        raise ValueError("upper must be greater than lower")
    keys = [on] if isinstance(on, str) else list(on)
    rsel = list(
        right_select or [c for c in right.columns if c not in (*keys, right_ts)]
    )
    lts = F.unix_timestamp(F.col(left_ts))
    rts = F.unix_timestamp(F.col(right_ts))
    l = left.withColumn("__lts", lts).withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor((F.col("__lts") + F.lit(lower)) / F.lit(span)),
                F.floor((F.col("__lts") + F.lit(upper)) / F.lit(span)),
            )
        ),
    )
    r = right.select(
        *keys,
        rts.alias("__rts"),
        F.col(right_ts).alias(f"r_{right_ts}"),
        *[F.col(c).alias(f"r_{c}") for c in rsel],
    ).withColumn("__bkt", F.floor(F.col("__rts") / F.lit(span)))
    return (
        l.join(r, [*keys, "__bkt"])
        .filter(
            (F.col("__rts") >= F.col("__lts") + F.lit(lower))
            & (F.col("__rts") <= F.col("__lts") + F.lit(upper))
        )
        .drop("__bkt", "__lts", "__rts")
    )


def multi_hop(
    edges: DataFrame,
    rels: Sequence[str],
    src_col: str = "src",
    dst_col: str = "dst",
    rel_col: str = "rel",
) -> DataFrame:
    """N-hop traversal over an edges table: one equi-join per hop,
    each hop filtered to its relationship type (reference multi-hop
    Cypher MATCH, ingest_graph_db.py:366-377).

    Returns (hop0, hop1, ..., hopN) node-id columns. Each hop is a
    hash join on the node id; with a pre-bucketed edges table the
    whole chain is shuffle-free.
    """
    if not rels:
        raise ValueError("need at least one relationship type")
    out = (
        edges.filter(F.col(rel_col) == rels[0])
        .select(F.col(src_col).alias("hop0"), F.col(dst_col).alias("hop1"))
        .distinct()
    )
    for i, rel in enumerate(rels[1:], start=1):
        nxt = edges.filter(F.col(rel_col) == rel).select(
            F.col(src_col).alias(f"hop{i}"), F.col(dst_col).alias(f"hop{i + 1}")
        )
        out = out.join(nxt, f"hop{i}").distinct()
    return out


def interval_lookup_join(
    df: DataFrame,
    dim: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    payload_cols: Sequence[str] | None = None,
    max_dim_rows: int = 10_000,
    mode: str = "first",
) -> DataFrame:
    """Interval-DIMENSION lookup (price tiers, IP→geo ranges, SLA
    bands): attach the payload of the dim row whose [lo, hi) interval
    contains ``value_col``; no match → null payload (left semantics).

    Spark's own answer to a `v >= lo AND v < hi` join against a small
    dimension is BroadcastNestedLoopJoin — real join machinery, a row
    copy per probe, and no codegen. At a bounded dimension size there
    is a strictly better plan: ship the sorted intervals as an array
    LITERAL inside the expression tree and resolve each row with an
    array-filter — map-only, zero shuffle, zero join, whole-stage
    codegen, and the plan cannot reorder into anything worse. The
    driver-side collect is bounded by ``max_dim_rows`` (raises past
    it); beyond that, fall back to `range_join` (bucketized) or an
    explicit broadcast theta join.

    ``mode``:
      - ``"first"`` (default): one output row per input row; with
        OVERLAPPING intervals the first match in (lo, hi, payload)-
        sorted order wins — deterministic, but a silent pick. Right
        for genuinely non-overlapping dims.
      - ``"all"``: one output row PER MATCH (1→N) — the correct
        semantics when the dimension legitimately overlaps (versioned
        rates, stacked promotions, nested CIDR blocks). Still map-only:
        the filtered match array explodes in the same codegen stage
        (explode_outer, so no-match rows survive with null payload).
    """
    if mode not in ("first", "all"):
        raise ValueError("mode must be 'first' or 'all'")
    payload = list(
        payload_cols
        or [c for c in dim.columns if c not in (lo_col, hi_col)]
    )
    rows = (
        dim.select(lo_col, hi_col, *payload)
        .limit(max_dim_rows + 1)
        .collect()
    )
    if len(rows) > max_dim_rows:
        raise ValueError(
            f"dim exceeds max_dim_rows={max_dim_rows}; use range_join or "
            "a broadcast join instead"
        )
    # full-tuple sort key: deterministic even when (lo, hi) repeats
    rows = sorted(
        rows, key=lambda r: (r[lo_col], r[hi_col], *[r[c] for c in payload])
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(r[lo_col]).alias("__lo"),
                F.lit(r[hi_col]).alias("__hi"),
                *[F.lit(r[c]).alias(c) for c in payload],
            )
            for r in rows
        ]
    )
    v = F.col(value_col)
    matches = F.filter(arr, lambda s: (v >= s["__lo"]) & (v < s["__hi"]))
    if mode == "all":
        out = df.withColumn("__m", F.explode_outer(matches))
        for c in payload:
            out = out.withColumn(c, F.col("__m")[c])
        return out.drop("__m")
    # try_element_at: a row matching no interval yields NULL payload
    # instead of INVALID_ARRAY_INDEX under ANSI mode
    hit = F.try_element_at(matches, F.lit(1))
    out = df
    for c in payload:
        out = out.withColumn(c, hit[c])
    return out


def not_in_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """SQL ``NOT IN (subquery)`` with its full three-valued-logic
    semantics — the classic correctness trap a plain anti-join gets
    wrong: if the subquery produces ANY null the predicate is never
    true (result is empty); left rows with a null key are excluded
    UNLESS the subquery is empty (NOT IN over an empty set is
    vacuously TRUE, even for a NULL left key). A left_anti join alone
    implements NOT EXISTS, not NOT IN.

    Plan: distinct-reduce the right side to its key set (one shuffle of
    keys only, broadcast when small), anti-join, and gate on a 1-row
    has-null + row-count aggregate broadcast across the result — no
    row-by-row null handling."""
    stats = right.groupBy().agg(
        F.coalesce(
            F.max(F.col(right_col).isNull().cast("int")), F.lit(0)
        ).alias("__has_null"),
        F.count(F.lit(1)).alias("__rcnt"),
    )
    keys = right.filter(F.col(right_col).isNotNull()).select(
        F.col(right_col).alias(left_col)
    ).distinct()
    # NULL left keys never match the anti-join condition, so they
    # survive it; the broadcast gate then keeps them only when the
    # right side is empty.
    return (
        left.join(keys, left_col, "left_anti")
        .crossJoin(F.broadcast(stats))
        .filter(
            (F.col("__has_null") == 0)
            & (F.col(left_col).isNotNull() | (F.col("__rcnt") == 0))
        )
        .drop("__has_null", "__rcnt")
    )


# largest broadcast threshold for which the incremental CollectLimit
# probe may hold threshold+1 single-int marker rows on the driver.
# 100k Row objects is real driver memory (~10-20 MB of Python Row
# overhead, not the ints themselves — round-9 ADVICE corrected the
# earlier "~a few MB at 1M rows" estimate); above the cap
# adaptive_join switches to the job-side count-shape probe whose
# driver payload is one long
_PROBE_COLLECT_CAP = 100_000


def adaptive_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_threshold_rows: int = 100_000,
    threshold_frac: float = 0.01,
    max_salt: int = 64,
    hot_keys: DataFrame | None = None,
    decision: dict | None = None,
) -> DataFrame:
    """STATS-DRIVEN join strategy — the pre-flight decision a 100 TB
    pipeline makes before every big join, as one operator with
    identical semantics in every arm (equivalence oracle q219):

    1. ``right`` small (row count ≤ ``broadcast_threshold_rows``) →
       BROADCAST hash join: no shuffle of the fact side at all.
    2. else, ``left`` has hot keys (> ``threshold_frac`` of rows —
       the exact Misra-Gries+recount detection, or a precomputed
       :func:`hot_key_table` via ``hot_keys``) → per-key SALTED
       shuffle join (:func:`salted_join_auto`).
    3. else → plain shuffle join (Catalyst/AQE handle the rest).

    The probes are bounded, two regimes. Thresholds up to
    :data:`_PROBE_COLLECT_CAP` use the INCREMENTAL CollectLimit probe
    (partitions execute in a geometric ramp and stop as soon as the
    cap is hit — one big first partition already proves "too big"
    after a single task; the driver briefly holds ≤ threshold+1
    1-int marker rows, provably small under the cap). Larger
    thresholds switch to the JOB-SIDE ``limit(threshold+1).count()``
    shape: every partition runs but the per-partition LocalLimit caps
    its row work, and only one long reaches the driver — a caller
    passing a huge threshold pays bounded executor work, never driver
    memory. Both regimes are exact: seeing threshold+1 rows proves
    "too big" without the true count, and a non-trivial right-side
    plan is never run to completion the way a bare ``count()`` would
    run it. The 3-pass hot-key detection runs only when the broadcast
    arm is ruled out. Join-type support is
    :func:`salted_join_auto`'s (inner/left flavors). Pass ``decision``
    (a dict) to observe which arm fired — it gets ``strategy``/
    ``right_rows``/``hot_keys`` entries (``right_rows`` is the probed
    value: exact when ≤ the threshold, threshold+1 meaning "more");
    tests lock arm selection, plan shape, AND the probe bound."""
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"adaptive_join does not support how={how!r}; "
            f"use one of {sorted(allowed)}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    info = decision if decision is not None else {}
    probe = right.select(F.lit(1).alias("__probe")).limit(
        broadcast_threshold_rows + 1
    )
    if broadcast_threshold_rows <= _PROBE_COLLECT_CAP:
        r_rows = len(probe.collect())
    else:
        r_rows = probe.count()
    info["right_rows"] = r_rows
    if r_rows <= broadcast_threshold_rows:
        info["strategy"] = "broadcast"
        info["hot_keys"] = None
        return left.join(F.broadcast(right), keys, how)
    hot = (
        hot_keys
        if hot_keys is not None
        else _detect_hot_keys_with_total(left, keys, threshold_frac)
    ).localCheckpoint(eager=True)
    n_hot = hot.count()
    info["hot_keys"] = n_hot
    if n_hot > 0:
        info["strategy"] = "salted"
        return salted_join_auto(
            left, right, keys, how,
            threshold_frac=threshold_frac, max_salt=max_salt,
            hot_keys=hot,
        )
    info["strategy"] = "shuffle"
    return left.join(right, keys, how)
