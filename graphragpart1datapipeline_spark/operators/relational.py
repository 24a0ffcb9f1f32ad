"""Relational operators re-expressed as idiomatic Spark window/agg plans.

Each function is a pure ``DataFrame -> DataFrame`` transform with a
SQL-expressible equivalent (see __spark_entry__.oracle_sql), so every
operator is verifiable against a DuckDB oracle.

Scale notes: all of these compile to single-shuffle Catalyst plans
(window or hash-aggregate on the group key). None collect to the driver;
none use Python UDFs. Skewed group keys are handled by AQE skew-join /
partial aggregation (map-side combine happens automatically for the
agg-based operators).
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import local_frame


def _hash_bucket(id_col: str, seed: str | int, buckets: int) -> Column:
    """md5-derived bucket in [0, buckets): the engine-portable routing/
    keep key shared by hash_split / stratified_sample /
    global_shuffle_shards. DuckDB twin (bit-identical):
    ``CAST(CAST('0x' || substring(md5(seed || ':' || id), 1, 8) AS
    UBIGINT) % buckets AS BIGINT)``."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % buckets
    )


def dedupe_by_priority(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Keep the first row per key after sorting — the reference's
    sort-then-unique(keep="first") dedup, applied once per key column in
    sequence (reference: utils/data_transformation_helpers.py:89-120,
    used build_artist_index.py:189-195).

    Spark-first: a row_number window per key instead of a global sort +
    stateful unique — one shuffle per key column, deterministic via an
    explicit ``tiebreak`` column (Polars' maintain_order has no cluster
    analogue, so determinism must come from the sort key).
    """
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if tiebreak is not None:
        order_cols = order_cols + [F.col(tiebreak)]
    out = df
    for key in keys:
        w = Window.partitionBy(key).orderBy(*order_cols)
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return out


def best_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Pick the single best row per group by a composite priority key —
    the reference's best-release selection (min by
    ``(status != 'Official', date)``; utils/musicbrainz_helpers.py:280-308).
    Alias of :func:`dedupe_by_priority` with one key."""
    return dedupe_by_priority(df, keys, order_by, tiebreak)


def top_n_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-N rows per group (reference: connectivity top-5 per community,
    detect_communities.py:138-165). One shuffle; no global sort."""
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_by]
    )
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n)
    if rank_col:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def positioned_rollup(
    df: DataFrame,
    group_col: str,
    order_col: str | Sequence[str],
    entry_col: Column,
    out_col: str = "entries",
) -> DataFrame:
    """Ordered list-aggregation per group: number rows within the group,
    render each as a string, collect in order (reference tracklist rollup:
    rank over album_id then group_by agg, ingest_graph_db.py:88-107).

    Spark-first: NO window pass at all — collect (sort_key, entry)
    structs in one hash-aggregate shuffle, sort each group's array, and
    derive the 1-based position from the array index. The reference's
    rank-then-group two-pass plan becomes a single exchange; per-group
    arrays are small so the in-array sort is cheap and deterministic.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    sort_struct = F.struct(
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(order_cols)],
        entry_col.alias("__entry"),
    )
    return df.groupBy(group_col).agg(
        F.transform(
            F.sort_array(F.collect_list(sort_struct)),
            lambda s, i: F.concat(
                (i + 1).cast("string"), F.lit(". "), s.getField("__entry")
            ),
        ).alias(out_col)
    )


def union_relaxed(*dfs: DataFrame) -> DataFrame:
    """Vertical union tolerating schema drift — missing columns become
    null (reference: pl.concat(how="vertical_relaxed"),
    merge_wikipedia_articles.py:56). Empty inputs are fine."""
    frames = [df for df in dfs if df is not None]
    if not frames:
        raise ValueError("union_relaxed needs at least one DataFrame")
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def duplicate_row_count(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Count fully-duplicated rows (reference data-quality check:
    group by all columns, count, filter >1, sum; defs/checks.py:33-41).
    Returns a 1-row frame ``(dup_groups, dup_rows)``."""
    cols = list(subset or df.columns)
    grouped = df.groupBy(*cols).count().filter(F.col("count") > 1)
    return grouped.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("dup_groups"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("dup_rows"),
    )


def null_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null counts in ONE pass (reference: col.null_count(),
    defs/checks.py:26-30). Single partial-aggregated reduce, no shuffle
    of the raw data."""
    cols = list(cols or df.columns)
    return df.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
            for c in cols
        ]
    )


def top_n_frequency(
    df: DataFrame,
    group_keys: Sequence[str],
    item_col: Column | str,
    n: int,
    out_col: str = "top_items",
) -> DataFrame:
    """Top-N most frequent items per group, collected as an ordered list
    (reference: Counter.most_common over exploded list cols,
    detect_communities.py:100-135). Ties break on item value (ascending)
    for determinism — the reference's Counter is insertion-ordered, which
    has no distributed analogue.

    Plan: explode → count per (group, item) → row_number window → filter
    → ordered collect. Two shuffles total; both partial-aggregated.
    """
    item = F.col(item_col) if isinstance(item_col, str) else item_col
    counted = (
        df.select(*group_keys, item.alias("__item"))
        .groupBy(*group_keys, "__item")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w = Window.partitionBy(*group_keys).orderBy(F.desc("__cnt"), F.asc("__item"))
    ranked = counted.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= n
    )
    return ranked.groupBy(*group_keys).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__rn", "__item"))),
            lambda s: s.getField("__item"),
        ).alias(out_col)
    )


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """Distinct values of one column, sorted (reference:
    unique().sort() of community ids, detect_communities.py:296)."""
    return df.select(col).distinct().orderBy(col)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    seed: str | int = 42,
    buckets: int = 10_000,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment for training-data
    pipelines: bucket = md5(seed ":" id) reduced mod ``buckets``, split
    by cumulative weight thresholds.

    Unlike ``randomSplit`` the assignment is a pure function of the row
    id — stable across runs, cluster sizes, partitionings, and engines
    (md5 is identical everywhere, so the DuckDB oracle reproduces it
    bit-for-bit). New rows never reshuffle old ones between splits —
    the property that keeps eval sets uncontaminated as a corpus grows.
    Map-only, no shuffle.
    """
    total = sum(w for _, w in weights)
    bucket = _hash_bucket(id_col, seed, buckets)
    expr = None
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        cond = bucket < int(round(acc / total * buckets))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(weights[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 1.0,
    seed: str | int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling — rebalance a corpus by
    source/language/domain with an exact, reproducible keep decision:
    keep a row iff md5(seed ":" id) mod buckets < rate(stratum) ·
    buckets.

    Unlike ``sampleBy`` (Bernoulli draw per row, partition-order
    dependent) the decision is a pure function of the row id, so the
    sample is identical across runs, engines, and cluster layouts, and
    composes with ``hash_split`` (different seeds give independent
    bucketings). Map-only, no shuffle; the rate map ships as a literal
    CASE chain, no join.
    """
    bucket = _hash_bucket(id_col, seed, buckets)
    # half-up (floor(x + 0.5)), NOT Python round (banker's): this is the
    # rounding SQL floor(rate*buckets + 0.5) reproduces, so data-derived
    # rates (rebalance_to_weights) stay oracle-exact at .5 boundaries
    thresh = None
    for name, rate in rates.items():
        cond = F.col(stratum_col) == name
        val = F.lit(int(math.floor(rate * buckets + 0.5)))
        thresh = F.when(cond, val) if thresh is None else thresh.when(cond, val)
    default_thresh = F.lit(int(math.floor(default_rate * buckets + 0.5)))
    thresh = default_thresh if thresh is None else thresh.otherwise(default_thresh)
    return df.filter(bucket < thresh)


def global_shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str | int = 42,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle + shard layout for training-data
    writers: each row gets ``(shard, pos)`` where shard is the md5
    bucket of its id and pos is its rank within the shard ordered by
    the full md5 key (id tiebreak). Reading shards in ``(shard, pos)``
    order yields a reproducible pseudorandom permutation of the corpus
    — breaking crawl/source locality before training without
    ``orderBy(rand())`` (nondeterministic AND a global total sort).

    One hash-partition exchange (the window on ``shard_col``) plus an
    in-partition sort — never a global ordering. At 100 TB, write with
    ``partitionBy(shard)`` and the on-disk layout IS the shuffle; a
    re-run with the same seed reproduces it byte-for-byte, and new rows
    append to stable shards instead of reshuffling old ones.
    """
    key = F.md5(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("__key", key).withColumn(
        shard_col, _hash_bucket(id_col, seed, n_shards)
    )
    w = Window.partitionBy(shard_col).orderBy(F.col("__key"), F.col(id_col))
    return out.withColumn(
        pos_col, (F.row_number().over(w) - 1).cast("long")
    ).drop("__key")


def rebalance_to_weights(
    df: DataFrame,
    stratum_col: str,
    targets: Mapping[str, float],
    id_col: str,
    seed: str | int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Rebalance a corpus to a target domain/language mixture WITHOUT
    upsampling: keep the largest sub-corpus whose stratum proportions
    match ``targets`` (normalized). With ``n_d`` rows in stratum ``d``
    and target share ``t_d``, the feasible total is
    ``T = min_d(n_d / t_d)`` and the keep rate is ``t_d * T / n_d``
    (the binding stratum keeps 100%). Keep decisions use the md5-bucket
    rule, so the sample is identical across runs, engines, and cluster
    layouts. Strata absent from ``targets`` are dropped.

    One tiny count aggregation (collected driver-side — one row per
    stratum, k rows for k domains) then a map-only filter: no shuffle
    of the corpus itself.

    Oracle parity: rates are computed as ``(t / total) * T / n`` in
    exactly that order; a SQL twin must evaluate
    ``t / total * T / n * buckets`` left-associatively and threshold
    with ``floor(x + 0.5)`` to reproduce the keep set bit-for-bit.
    """
    total = float(sum(targets.values()))
    counts = {
        row[0]: row[1]
        for row in df.groupBy(stratum_col).count().collect()
        if row[0] in targets
    }
    if not counts:
        return df.filter(F.lit(False))
    feasible_total = min(counts[d] / (targets[d] / total) for d in counts)
    rates = {
        d: (targets[d] / total) * feasible_total / counts[d] for d in counts
    }
    return stratified_sample(
        df,
        stratum_col,
        rates,
        id_col,
        default_rate=0.0,
        seed=seed,
        buckets=buckets,
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Dataset-version diff: classify every key as ``added`` /
    ``removed`` / ``changed`` between two snapshots (unchanged rows are
    dropped). The audit step between corpus versions — what entered,
    what left, what was edited — before retraining on a refresh.

    One full-outer hash join on the keys; change detection is null-safe
    column comparison (`eqNullSafe`), no row serialization. At scale
    both snapshots shuffle once on the same key — with both stored
    bucketed on the key the join is exchange-free.
    """
    keys = list(key_cols)
    cmp_cols = list(
        compare_cols or [c for c in old.columns if c not in keys]
    )
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in cmp_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in cmp_cols],
    )
    cond = None
    for k in keys:
        c = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = c if cond is None else cond & c
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ok_{keys[0]}").isNotNull()
    in_new = F.col(f"__nk_{keys[0]}").isNotNull()
    # Key-only snapshots (no compare columns): matched keys are unchanged.
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(~in_new, F.lit("removed"))
        .when(~in_old, F.lit("added"))
        .when(~same, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
                for k in keys
            ],
            "change",
        )
    )


def profile_table(
    df: DataFrame, columns: Sequence[str] | None = None
) -> DataFrame:
    """One-pass column profiler: (col_name, n_nulls, n_distinct,
    min_val, max_val) per column — the ANALYZE/data-audit step before
    committing a corpus snapshot. All statistics for all columns come
    from a SINGLE aggregation (one scan, one reduce), then unpivot via
    ``stack`` — never one job per column. min/max are stringified so
    heterogeneous column types share one output schema.
    """
    cols = list(columns or df.columns)
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {parts}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    capacity: int,
    n_streams: int = 64,
    seed: str | int = 42,
) -> DataFrame:
    """Deterministic sequence packing for training-data pipelines:
    documents are concatenated in id order within ``n_streams``
    hash-assigned streams and cut every ``capacity`` tokens; each
    document is assigned the sequence in which it STARTS (standard
    concat-then-chunk packing — a document straddling a boundary belongs
    to the sequence holding its first token).

    Returns the input plus (stream_id, seq_id, seq_offset): seq_id is
    the per-stream sequence index, seq_offset the document's token
    offset inside that sequence. Assignment is a pure function of
    (seed, id, token counts) — stable across runs, partitionings, and
    engines (md5 stream hash; the DuckDB oracle reproduces it exactly).

    Scale shape: ONE window per stream (hash-partitioned running sum,
    ``n_streams``-way parallel — never a single global ordering), no
    join, no driver state. Raise ``n_streams`` until each stream's rows
    fit an executor's window comfortably; packing quality is unaffected
    (streams are independent pack targets).
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    stream = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_streams
    ).alias("stream_id")
    w = (
        Window.partitionBy("stream_id")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(token_count_col).over(w) - F.col(token_count_col)).alias(
        "__start"
    )
    out = df.withColumn("stream_id", stream).withColumn("__start", start)
    return (
        out.withColumn(
            "seq_id", F.floor(F.col("__start") / F.lit(capacity)).cast("long")
        )
        .withColumn(
            "seq_offset", (F.col("__start") % F.lit(capacity)).cast("long")
        )
        .drop("__start")
    )

def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    bucket_width: int = 64,
    batch_tokens: int = 16384,
    n_streams: int = 64,
    seed: str | int = 42,
) -> DataFrame:
    """Deterministic LENGTH-BUCKETED batching for batch inference: rows
    are grouped into batches of similar token length so per-batch
    padding waste is bounded by ``bucket_width`` — the
    inference-serving complement of :func:`pack_sequences` (which
    CONCATENATES documents for training; here document boundaries must
    survive, so efficiency comes from batching alike lengths).

    bucket = floor(tokens / bucket_width); every row in a bucket pads
    to the bucket ceiling ``padded_len = (bucket+1)·bucket_width``, so
    ``batch_size = max(floor(batch_tokens / padded_len), 1)`` rows per
    batch keeps each batch's padded token volume under
    ``batch_tokens``. Within a bucket rows are md5-assigned to
    ``n_streams`` independent streams and batched per stream in id
    order — batches never span streams, so the assignment is ONE
    window per (bucket, stream) cell (n_streams-way parallel per
    bucket, never a single global ordering; same scale trade as
    pack_sequences, tail batches per stream may run short). Pure
    function of (seed, ids, token counts) — replayable in SQL (q170).

    Returns the input plus (bucket, padded_len, stream_id, batch_id).
    """
    if bucket_width <= 0 or batch_tokens <= 0 or n_streams <= 0:
        raise ValueError(
            "bucket_width, batch_tokens and n_streams must be positive"
        )
    bucket = F.floor(
        F.col(token_count_col).cast("long") / F.lit(bucket_width)
    ).cast("long")
    padded = ((F.col("bucket") + 1) * bucket_width).cast("long")
    batch_size = F.greatest(
        F.floor(F.lit(batch_tokens) / F.col("padded_len")), F.lit(1)
    )
    w = Window.partitionBy("bucket", "stream_id").orderBy(id_col)
    return (
        df.withColumn("bucket", bucket)
        .withColumn("padded_len", padded)
        .withColumn("stream_id", _hash_bucket(id_col, seed, n_streams))
        .withColumn(
            "batch_id",
            F.floor(
                (F.row_number().over(w) - 1) / batch_size
            ).cast("long"),
        )
    )


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    bins: int,
    lo: float,
    hi: float,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Equi-width histogram — the distribution half of a corpus profile
    (profile_table gives min/max/nulls; this gives shape). Bin i covers
    [lo + i·w, lo + (i+1)·w) with w = (hi − lo)/bins; values below lo
    clamp into bin 0, values at/above hi into bin bins−1 (so the
    histogram is total over non-null rows). One map-side-combined
    groupBy — a single shuffle of at most ``bins`` rows per group.

    Determinism: the bin index is ``floor((x − lo) / w)`` computed in
    IEEE double exactly as any SQL engine writes it, so counts are
    oracle-checkable; empty bins are emitted (count 0) via a
    sequence-explode scaffold to keep the output shape fixed.
    """
    groups = list(group_cols)
    w = (hi - lo) / bins
    idx = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(w))
    idx = F.least(F.greatest(idx, F.lit(0)), F.lit(bins - 1)).cast("long")
    counted = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*groups, idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scaffold = (
        (df.select(*groups).distinct() if groups else df.sparkSession.range(1).select())
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"))
        .withColumn("bin", F.col("bin").cast("long"))
    )
    return (
        scaffold.join(counted, [*groups, "bin"], "left")
        .select(
            *groups,
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(w)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("bin_hi"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )

def negative_ring_sample(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    seed: str | int = "neg",
    n_shards: int = 256,
    neg_col: str = "negative",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    row gets ``k`` pseudorandom partners — (anchor, negative, j) rows —
    drawn WITHOUT replacement, without rand(), and without a global
    sort.

    Construction: the corpus is laid on a ring in deterministic
    pseudorandom order (global_shuffle_shards addresses + per-shard
    offsets collected driver-side — ``n_shards`` integers, not data);
    anchor at ring position p takes the rows at positions
    (p+1 .. p+k) mod N. Hash order makes the partners unrelated to any
    corpus locality; determinism makes the training set reproducible
    and incrementally auditable. Filter the output against a
    known-positive pair table (anti-join) to enforce "negative".

    Cost: one hash-partition window, one broadcast of shard offsets,
    one self-join on ring position (k·N vs N rows) — no global
    ordering anywhere.
    """
    addressed = global_shuffle_shards(
        df.select(id_col), id_col, n_shards, seed=seed
    )
    sizes = {
        r["shard"]: r["n"]
        for r in addressed.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(sizes.values())
    if total <= k:
        raise ValueError(f"need more than k={k} rows, got {total}")
    offsets = []
    acc = 0
    for s in sorted(sizes):
        offsets.append((s, acc))
        acc += sizes[s]
    off_df = F.broadcast(
        local_frame(df.sparkSession, offsets, "shard long, __off long")
    )
    ring = addressed.join(off_df, "shard").select(
        F.col(id_col), (F.col("__off") + F.col("pos")).alias("__gpos")
    )
    anchors = ring.select(
        F.col(id_col).alias("__anchor"), "__gpos"
    ).withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(k))))
    probes = anchors.withColumn(
        "__target", (F.col("__gpos") + F.col("j")) % total
    )
    return (
        probes.join(
            ring.select(
                F.col(id_col).alias(neg_col),
                F.col("__gpos").alias("__target"),
            ),
            "__target",
        )
        .filter(F.col("__anchor") != F.col(neg_col))
        .select(F.col("__anchor").alias(id_col), neg_col, "j")
    )

def funnel_counts(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many users completed stage k —
    meaning they performed stages[0..k] in TEMPORAL ORDER (each stage
    strictly after the previous one's earliest completion). Returns
    (stage 1-based, event_type, n_users), monotone non-increasing.

    Plan: stage 0 is one filtered groupBy(min ts); each later stage is
    one join (user-hash, co-partitioned with the previous stage's
    frame — the same key every round, so at scale the exchanges reuse
    one partitioning) + filtered min. k-stage funnel = k map-side-
    combined aggs + k−1 user-key joins; never a per-user sort or a
    window over the whole event log. Earliest-completion semantics
    (min-chaining) is the standard greedy funnel: if the user CAN
    complete the sequence, min-chaining finds it, because taking the
    earliest valid event at each stage never eliminates a later
    completion."""
    if not stages:
        raise ValueError("stages must be non-empty")
    cur = (
        df.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
        # Each stage frame is localCheckpoint'ed so stage k builds on the
        # MATERIALIZED stage k-1 (and the final per-stage counts read the
        # checkpoints), not on a re-execution of the whole join chain —
        # a k-stage funnel costs O(k) passes over the event log, not
        # O(k^2). Same pattern as label_propagation_communities.
        .localCheckpoint(eager=True)
    )
    out_rows = [cur]
    for st in stages[1:]:
        cur = (
            df.filter(F.col(type_col) == st)
            .join(cur.select(user_col, "__t"), user_col)
            .filter(F.col(ts_col) > F.col("__t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t"))
            .localCheckpoint(eager=True)
        )
        out_rows.append(cur)
    counts = None
    for i, (frame, name) in enumerate(zip(out_rows, stages), start=1):
        c = frame.agg(
            F.lit(i).alias("stage"),
            F.lit(name).alias(type_col),
            F.count(F.lit(1)).alias("n_users"),
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts

def apply_scd2(
    current: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
    version_col: str = "version",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    on_duplicate: str = "latest",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: corpus/dimension history
    with validity intervals. ``current`` carries (keys, attrs,
    valid_from, valid_to — NULL means open); ``updates`` carries
    (keys, attrs, version). For each update whose attrs differ from the
    key's open row (null-safe compare) — or whose key is new — the open
    row closes (valid_to = version) and a new open row begins
    (valid_from = version). Identical updates are no-ops, so re-applying
    a batch is idempotent. History rows pass through untouched.

    This is the audit-grade alternative to overwrite-in-place for
    metadata that curation decisions depend on (source quality tiers,
    licence status, domain labels): every past training run can be
    reproduced against the table AS OF its cut. One update batch =
    two key-hash joins + a union — no windows, no global ordering;
    both sides bucketed by key at rest make the joins exchange-free.

    PRECONDITION: ``updates`` must carry at most ONE row per key — the
    full_outer join fans out otherwise, closing the same open row
    multiple times and opening several rows per key, which breaks the
    one-open-row invariant everything above rests on. ``on_duplicate``
    enforces it: ``"latest"`` (default) dedupes to the max-version row
    per key (deterministic tiebreak on the compare columns — one extra
    key-hash window, same partitioning the joins need anyway);
    ``"error"`` eagerly raises if any key repeats.
    """
    keys = list(key_cols)
    cmp_cols = list(compare_cols)
    if on_duplicate not in ("latest", "error"):
        raise ValueError("on_duplicate must be 'latest' or 'error'")
    if on_duplicate == "error":
        dup = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "apply_scd2: updates has multiple rows for key "
                f"{tuple(dup[0][k] for k in keys)}; dedupe first or use "
                "on_duplicate='latest'"
            )
    else:
        dw = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(),
            *[F.col(c).desc_nulls_last() for c in cmp_cols],
        )
        updates = (
            updates.withColumn("__dup_rn", F.row_number().over(dw))
            .filter(F.col("__dup_rn") == 1)
            .drop("__dup_rn")
        )
    open_rows = current.filter(F.col(valid_to).isNull())
    history = current.filter(F.col(valid_to).isNotNull())
    u = updates.select(
        *[F.col(k).alias(f"__uk_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in cmp_cols],
        F.col(version_col).alias("__uv"),
    )
    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__uk_{k}")
        cond = c if cond is None else cond & c
    joined = open_rows.join(u, cond, "full_outer")
    in_cur = F.col(keys[0]).isNotNull()
    in_upd = F.col(f"__uk_{keys[0]}").isNotNull()
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
    changed = in_cur & in_upd & ~same
    # untouched opens: no update, or identical update
    untouched = joined.filter(in_cur & (~in_upd | same)).select(
        open_rows.columns
    )
    closing = joined.filter(changed).select(
        *[F.col(c) for c in open_rows.columns if c != valid_to],
        F.col("__uv").alias(valid_to),
    ).select(open_rows.columns)
    opening = joined.filter(changed | (~in_cur & in_upd)).select(
        *[F.col(f"__uk_{k}").alias(k) for k in keys],
        *[F.col(f"__u_{c}").alias(c) for c in cmp_cols],
        F.col("__uv").alias(valid_from),
        F.lit(None).cast(
            dict(open_rows.dtypes)[valid_to]
        ).alias(valid_to),
    ).select(open_rows.columns)
    return history.unionByName(untouched).unionByName(closing).unionByName(
        opening
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
    epoch: str = "1970-01-05",
) -> DataFrame:
    """Cohort retention matrix over an event log: users are cohorted by
    the period of their FIRST event; each (cohort_period, period_offset)
    cell counts the cohort's users active in that later period. Returns
    (cohort_period, period_offset, n_users, cohort_size,
    retention_pct) — the standard product/corpus-freshness readout next
    to funnel_counts.

    Periods are floor(days_since_epoch / period_days) — pure integer
    date arithmetic, timezone-free, bit-identical across engines (the
    default epoch is a Monday so weekly periods align to ISO weeks).

    Plan: one groupBy(user) for cohorts (map-side combined), one
    distinct over (user, period) — both shuffles hash on user_col, so
    AQE coalesces them into one exchange lineage — then a cohort join
    on user (broadcast when the user dimension is small; otherwise
    co-partitioned with the distinct's existing hashing) and a final
    cells-sized groupBy. The event log is never sorted or windowed.
    """
    period = (
        F.floor(
            F.datediff(F.to_date(F.col(ts_col)), F.lit(epoch).cast("date"))
            / F.lit(period_days)
        ).cast("long")
    )
    ev = df.select(F.col(user_col).alias("u"), period.alias("p"))
    cohort = ev.groupBy("u").agg(F.min("p").alias("cohort_period"))
    active = ev.distinct()
    cells = (
        active.join(cohort, "u")
        .groupBy(
            "cohort_period",
            (F.col("p") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.countDistinct("u").alias("n_users"))
    )
    sizes = cohort.groupBy("cohort_period").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return cells.join(sizes, "cohort_period").select(
        "cohort_period",
        "period_offset",
        "n_users",
        "cohort_size",
        (
            F.floor(
                (F.col("n_users") * F.lit(10000.0)) / F.col("cohort_size")
                + F.lit(0.5)
            )
            / F.lit(100.0)
        ).alias("retention_pct"),
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change stream (ops 'U' = upsert, 'D' = delete, each
    stamped with a monotonically increasing ``seq_col``) onto a base
    snapshot: the latest change per key wins; keys never touched pass
    through. The Debezium-style merge that keeps a 100 TB mirror table
    current from a change feed.

    ``changes`` must carry every base column (CDC rows are full-row
    images). Latest-change selection is one (keys)-window with
    (seq DESC, op DESC) ordering — op breaks exact seq ties
    deterministically ('U' over 'D') instead of leaving them to
    partition luck; at-scale inputs should keep seq unique per key.

    Plan: one window over the changes (change-feed-sized, not
    base-sized) + one key-hash anti join + union — the base table is
    never windowed or sorted. Idempotent: re-applying the same feed
    yields the same table.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = base.join(
        latest.select(*keys), list(keys), "left_anti"
    )
    upserts = latest.filter(F.col(op_col) != "D").select(base.columns)
    return untouched.unionByName(upserts)


def scd2_as_of(
    history: DataFrame,
    as_of_version,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Time-travel read over an SCD2 history table (the
    :func:`apply_scd2` output): the dimension EXACTLY as of
    ``as_of_version`` — rows whose validity interval covers it
    (``valid_from <= v`` and ``valid_to`` open or ``> v``). The
    standard consumer of versioned dimension state: any past training
    run reproduces its metadata view by reading the same table at its
    cut, no snapshot copies.

    One partition-prunable filter — with the history table written
    partitioned/z-ordered on the interval columns, an as-of read
    touches only covering files. Under the SCD2 invariant (disjoint
    intervals, at most one open row per key — maintained by
    ``apply_scd2`` and test-locked) the filter alone returns exactly
    one row per key alive at ``v``; no window needed."""
    v = F.lit(as_of_version)
    return history.filter(
        (F.col(valid_from) <= v)
        & (F.col(valid_to).isNull() | (F.col(valid_to) > v))
    )


def pit_join(
    facts: DataFrame,
    history: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """POINT-IN-TIME-correct feature join: attach to every fact row the
    dimension attributes that were valid AT ITS OWN timestamp — the
    feature-store join that prevents training-serving leakage (joining
    today's dimension onto last year's facts silently trains on the
    future). ``history`` is an SCD2 table (:func:`apply_scd2` output);
    facts with no covering interval get null payload (left semantics).

    Plan: ONE key equi-hash-join with the interval containment as a
    residual filter condition — per-fact fan-out is bounded by the
    key's history depth (and the SCD2 disjoint-interval invariant
    makes the match unique), so there is no range-bucket machinery to
    pay for; both sides bucketed by key at rest make it exchange-free.
    The scalar-cut sibling is :func:`scd2_as_of` (one timestamp for
    the whole read); this is the per-row generalization."""
    keys = list(key_cols)
    payload = (
        list(payload_cols)
        if payload_cols is not None
        else [
            c
            for c in history.columns
            if c not in (*keys, valid_from, valid_to)
        ]
    )
    clash = sorted(set(payload) & set(facts.columns))
    if clash:
        raise ValueError(
            f"pit_join: payload columns {clash} already exist on the fact "
            "side — rename one side or pass payload_cols excluding them "
            "(a silent duplicate column breaks downstream selects)"
        )
    h = history.select(
        *[F.col(k).alias(f"__hk_{k}") for k in keys],
        *[F.col(c).alias(c) for c in payload],
        F.col(valid_from).alias("__vf"),
        F.col(valid_to).alias("__vt"),
    )
    cond = None
    for k in keys:
        c = facts[k] == F.col(f"__hk_{k}")
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (F.col("__vf") <= facts[ts_col])
        & (F.col("__vt").isNull() | (F.col("__vt") > facts[ts_col]))
    )
    return facts.join(h, cond, "left").drop(
        *[f"__hk_{k}" for k in keys], "__vf", "__vt"
    )


def cdc_upsert_state(
    state: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    seq_state_col: str = "__cdc_seq",
    deleted_col: str = "__cdc_deleted",
) -> DataFrame:
    """Out-of-order-safe incremental CDC: like :func:`apply_cdc`, but
    the state table carries the last APPLIED sequence per key
    (``seq_state_col``) and keeps deletes as TOMBSTONES
    (``deleted_col``), and a change only lands if its seq is newer.
    Together those make batch-split order immaterial: applying a change
    feed in ANY partition into micro-batches converges to the same
    state as one global latest-wins pass — including the nasty case of
    a delete arriving before an older upsert, which a tombstone-less
    merge would resurrect. (q116's oracle checks exactly this
    invariant; it is what a streaming foreachBatch loop needs.)

    ``state`` = base columns + ``seq_state_col`` + ``deleted_col``
    (both NULL/false for rows never touched by CDC). Read the live
    table with :func:`cdc_live` . Plan: one change-feed-sized window +
    one key-hash full-outer join; the state is never windowed."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    value_cols = [
        c
        for c in state.columns
        if c not in keys and c not in (seq_state_col, deleted_col)
    ]
    ch = latest.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__c_{c}") for c in value_cols],
        F.col(seq_col).alias("__c_seq"),
        F.col(op_col).alias("__c_op"),
    )
    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__k_{k}")
        cond = c if cond is None else cond & c
    j = state.join(ch, cond, "full_outer")
    in_state = F.col(keys[0]).isNotNull()
    in_ch = F.col(f"__k_{keys[0]}").isNotNull()
    newer = F.col("__c_seq") > F.coalesce(
        F.col(seq_state_col), F.lit(-(1 << 62))
    )
    take_change = in_ch & (~in_state | newer)
    out_key = [
        F.when(take_change, F.col(f"__k_{k}")).otherwise(F.col(k)).alias(k)
        for k in keys
    ]
    out_vals = [
        F.when(take_change, F.col(f"__c_{c}")).otherwise(F.col(c)).alias(c)
        for c in value_cols
    ]
    out_seq = (
        F.when(take_change, F.col("__c_seq"))
        .otherwise(F.col(seq_state_col))
        .alias(seq_state_col)
    )
    out_del = (
        F.when(take_change, F.col("__c_op") == "D")
        .otherwise(F.coalesce(F.col(deleted_col), F.lit(False)))
        .alias(deleted_col)
    )
    return j.select(*out_key, *out_vals, out_seq, out_del).select(
        state.columns
    )


def cdc_live(state: DataFrame, deleted_col: str = "__cdc_deleted") -> DataFrame:
    """The live view of a cdc_upsert_state table: tombstones filtered,
    bookkeeping columns dropped."""
    return state.filter(
        ~F.coalesce(F.col(deleted_col), F.lit(False))
    ).drop(deleted_col, "__cdc_seq")


def grouped_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    out_col: str = "corr",
    round_digits: int = 9,
) -> DataFrame:
    """Pearson correlation per group, engine-portable: the five moment
    sums accumulate through exact DECIMAL (order-independent — never
    the streaming covariance update, whose result depends on row
    order), the closed-form combination runs in IEEE double with a
    fixed expression shape, and the result is half-up rounded so a
    1-ulp decimal->double wobble on 18+ digit sums cannot flip the
    value. One map-side-combined shuffle; NULL when a variance is 0.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum(x.cast("decimal(25,4)")).cast("double").alias("__sx"),
            F.sum(y.cast("decimal(25,4)")).cast("double").alias("__sy"),
            F.sum((x * x).cast("decimal(30,8)")).cast("double").alias("__sxx"),
            F.sum((y * y).cast("decimal(30,8)")).cast("double").alias("__syy"),
            F.sum((x * y).cast("decimal(30,8)")).cast("double").alias("__sxy"),
        )
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    p = float(10 ** round_digits)
    corr = num / (F.sqrt(vx) * F.sqrt(vy))
    rounded = F.floor(corr * p + F.lit(0.5)) / F.lit(p)
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.when((vx > 0) & (vy > 0), rounded).alias(out_col),
    )


def histogram_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    bins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Distribution drift between two cohorts as total-variation
    distance over a shared equi-width histogram — the
    no-transcendentals alternative to PSI (which needs ln(), whose
    last-ulp behavior is libm-specific; TVD is 0.5*sum|p_i - q_i| and
    every intermediate here is INTEGER: sum|cnt_a_i*N_b - cnt_b_i*N_a|
    stays exact, with one double division at the very end).

    Returns ONE row (n_a, n_b, tvd). Cost: two histogram shuffles of
    <= bins rows each + a bins-row join; the cohorts themselves are
    scanned once each, never joined.
    """
    ha = equi_width_histogram(df_a, value_col, bins, lo, hi).select(
        "bin", F.col("n").alias("cnt_a")
    )
    hb = equi_width_histogram(df_b, value_col, bins, lo, hi).select(
        "bin", F.col("n").alias("cnt_b")
    )
    j = ha.join(hb, "bin")
    totals = j.groupBy().agg(
        F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b")
    )
    out = (
        j.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("cnt_a") * F.col("n_b")
                    - F.col("cnt_b") * F.col("n_a")
                )
            ).alias("__num")
        )
    )
    return out.select(
        "n_a",
        "n_b",
        (
            F.col("__num").cast("double")
            / (F.lit(2.0) * F.col("n_a") * F.col("n_b"))
        ).alias("tvd"),
    )


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_support: int = 2,
    max_items_per_group: int | None = None,
) -> DataFrame:
    """Market-basket pair statistics: for every item pair co-occurring
    in >= min_pair_support groups, (item_a, item_b, n_a, n_b, n_ab,
    support, lift) with support = n_ab/n_groups and
    lift = n_ab*n_groups/(n_a*n_b) — both exact integer divisions in
    double (every operand < 2^53).

    Plan: ONE groupBy(group) collects each basket's sorted distinct
    items; pairs generate row-locally in codegen (the cooccurrence
    pattern — no self-join, the k²/2 blow-up never crosses an
    exchange); one pair-count shuffle; per-item counts broadcast back
    onto the (much smaller) surviving pair table. Baskets above
    ``max_items_per_group`` can be dropped (mega-basket guard).
    """
    baskets = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("__items")
    )
    if max_items_per_group is not None:
        baskets = baskets.filter(F.size("__items") <= max_items_per_group)
    baskets = baskets.localCheckpoint(eager=True)
    n_groups = baskets.groupBy().agg(F.count(F.lit(1)).alias("__ng"))
    item_counts = (
        baskets.select(F.explode("__items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    pairs = F.flatten(
        F.transform(
            F.slice(
                "__items", 1, F.greatest(F.size("__items") - 1, F.lit(0))
            ),
            lambda x, i: F.transform(
                F.slice(F.col("__items"), i + 2, F.size("__items")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_counts = (
        baskets.select(F.explode(pairs).alias("__p"))
        .groupBy(F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_support)
    )
    ca = item_counts.select(
        F.col("item").alias("item_a"), F.col("__ni").alias("n_a")
    )
    cb = item_counts.select(
        F.col("item").alias("item_b"), F.col("__ni").alias("n_b")
    )
    return (
        pair_counts.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_groups))
        .select(
            "item_a",
            "item_b",
            "n_a",
            "n_b",
            "n_ab",
            (F.col("n_ab") / F.col("__ng")).alias("support"),
            (
                (F.col("n_ab") * F.col("__ng"))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


def exact_kth_smallest(
    df: DataFrame,
    value_col: str,
    ks: Sequence[int],
    probe_bins: int = 4096,
) -> DataFrame:
    """EXACT order statistics at scale without a global sort: returns
    one row per requested 1-based rank k in ``ks`` — (k, value).

    Two passes: (1) min/max + an equi-width probe histogram (ONE
    map-side-combined shuffle of <= probe_bins rows), whose cumulative
    counts locate the bin holding each k-th value; (2) a FILTERED sort
    of only the rows falling in the needed bins — at uniform-ish
    spread that is n/probe_bins rows instead of n (a 4096x reduction),
    and the filter is a range predicate that pushes to the scan. The
    driver collects only bin boundaries (probe_bins rows) and the
    requested ranks — never data rows beyond the target bins.

    Exact (no interpolation, the k-th value itself), unlike GK/
    t-digest; the complement to q51's exact-but-global-sort
    percentiles and q86's deterministic sampled ones.
    """
    stats = df.select(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
        F.count(value_col).alias("n"),
    ).collect()[0]
    lo, hi, n = stats["lo"], stats["hi"], stats["n"]
    spark = df.sparkSession
    if n == 0 or lo is None:
        return local_frame(spark, [], "k long, value double")
    for k in ks:
        if not 1 <= k <= n:
            raise ValueError(f"rank {k} outside [1, {n}]")
    if lo == hi:
        return local_frame(
            spark, [(int(k), float(lo)) for k in ks], "k long, value double"
        )
    width = (hi - lo) / probe_bins
    idx = F.least(
        F.greatest(
            F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(probe_bins - 1),
    ).cast("long")
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin")
        .collect()
    )
    # locate the bin of each k via cumulative counts (probe_bins rows,
    # driver-trivial), then rank-within-bin offsets
    targets: list[tuple[int, int, int]] = []  # (k, bin, rank_in_bin)
    cum = 0
    it = iter(hist)
    row = next(it, None)
    for k in sorted(ks):
        while row is not None and cum + row["cnt"] < k:
            cum += row["cnt"]
            row = next(it, None)
        assert row is not None
        targets.append((k, row["bin"], k - cum))
    needed_bins = sorted({b for _, b, _ in targets})
    in_bins = df.filter(
        F.col(value_col).isNotNull()
        & idx.isin([int(b) for b in needed_bins])
    ).select(idx.alias("bin"), F.col(value_col).cast("double").alias("v"))
    w = Window.partitionBy("bin").orderBy("v")
    ranked = in_bins.withColumn("r", F.row_number().over(w))
    probe = local_frame(
        df.sparkSession, [(int(k), int(b), int(r)) for k, b, r in targets],
        "k long, bin long, r long",
    )
    return (
        ranked.join(F.broadcast(probe), ["bin", "r"])
        .select("k", F.col("v").alias("value"))
    )


def fk_violations(
    pairs: Sequence[tuple[DataFrame, str, DataFrame, str, str]],
) -> DataFrame:
    """Referential-integrity audit: for each (child, fk_col, parent,
    pk_col, name) relation, count child rows whose non-null FK has no
    parent row. One anti-join per relation (parent key sets
    distinct-reduced, broadcast when small), unioned into one audit
    frame (relation, n_child, n_orphans). The standard pre-flight check
    before a 100 TB join pipeline — an orphan rate that jumps between
    snapshots means an upstream extract broke."""
    outs = []
    for child, fk, parent, pk, name in pairs:
        keys = parent.select(F.col(pk).alias(fk)).distinct()
        nn = child.filter(F.col(fk).isNotNull())
        orphans = nn.join(keys, fk, "left_anti")
        outs.append(
            nn.groupBy()
            .agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                orphans.groupBy().agg(F.count(F.lit(1)).alias("n_orphans"))
            )
            .select(F.lit(name).alias("relation"), "n_child", "n_orphans")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sequence_gaps(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """Gap detection in an integer id sequence WITHOUT a global sort:
    a gap starts at id+1 whenever id+1 is absent (and id is not the
    max) — one self anti-join on a computed key, map-side pure. Gap
    ends pair with starts by rank over the (tiny) gap-boundary sets
    (distributed global_rank, no single-partition window). Returns
    (gap_start, gap_end, missing) — the classic sequence-audit for
    event logs and surrogate keys, O(n) exchange instead of the
    lag-over-global-order plan.
    """
    from ..dedup.entity import global_rank

    ids = df.select(F.col(id_col).cast("long").alias("id")).distinct()
    bounds = ids.groupBy().agg(
        F.min("id").alias("__lo"), F.max("id").alias("__hi")
    )
    # id present but id+1 absent -> a gap STARTS at id+1 (unless past
    # the max); id present but id-1 absent -> a gap ENDS at id-1
    # (unless before the min). Each is one anti-join on a shifted key.
    starts = (
        ids.select((F.col("id") + 1).alias("id"))
        .join(ids, "id", "left_anti")
        .select(F.col("id").alias("gap_start"))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("gap_start") <= F.col("__hi"))
        .select("gap_start")
    )
    ends = (
        ids.select((F.col("id") - 1).alias("id"))
        .join(ids, "id", "left_anti")
        .select(F.col("id").alias("gap_end"))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("gap_end") >= F.col("__lo"))
        .select("gap_end")
    )
    rs = global_rank(
        starts.select(F.col("gap_start").alias("key")),
        ["key"],
        rank_col="rn",
        bucket_expr=F.floor(F.col("key") / 1_000_000).cast("long"),
    ).select(F.col("key").alias("gap_start"), "rn")
    re_ = global_rank(
        ends.select(F.col("gap_end").alias("key")),
        ["key"],
        rank_col="rn",
        bucket_expr=F.floor(F.col("key") / 1_000_000).cast("long"),
    ).select(F.col("key").alias("gap_end"), "rn")
    return (
        rs.join(re_, "rn")
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1).alias("missing"),
        )
    )


def windowed_funnel(
    df: DataFrame,
    stages: Sequence[str],
    window_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel completion under a DEADLINE: users with events for
    stages[0..k-1] in order (non-strict: a later stage may share the
    earlier stage's timestamp) whose whole chain spans at most
    ``window_seconds``. Returns (user, span_seconds), span = the
    MINIMUM achievable span.

    Exactness without scanning per-user sequences: anchor at each
    FINAL-stage event and chain BACKWARD via latest-predecessor as-of
    joins — for a fixed chain end, taking the latest valid event at
    every earlier stage maximizes the start time, so it minimizes that
    end's span; the per-user minimum over ends is therefore the true
    optimum (plain min-chaining forward is NOT exact under a deadline:
    the earliest start can overshoot the window while a later one
    fits). k−1 as-of joins (each one window pass, no per-key LATERAL),
    final-stage rows only flow through the chain."""
    from .asof import asof_join

    if len(stages) < 2:
        raise ValueError("windowed_funnel needs at least 2 stages")
    cur = df.filter(F.col(type_col) == stages[-1]).select(
        user_col, F.col(ts_col).alias("__end"), F.col(ts_col).alias("__t")
    )
    for st in reversed(stages[:-1]):
        prev = df.filter(F.col(type_col) == st).select(
            user_col, F.col(ts_col).alias("__pts")
        )
        cur = (
            asof_join(
                cur,
                prev,
                on=user_col,
                left_ts="__t",
                right_ts="__pts",
                right_select=[],
                direction="backward",
            )
            .filter(F.col("asof_ts").isNotNull())
            .select(
                user_col, "__end", F.col("asof_ts").alias("__t")
            )
        )
    span = F.unix_timestamp("__end") - F.unix_timestamp("__t")
    return (
        cur.withColumn("__span", span)
        .filter(F.col("__span") <= window_seconds)
        .groupBy(user_col)
        .agg(F.min("__span").alias("span_seconds"))
    )


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column for data profiling:
    (bin, lo_edge, hi_edge, cnt), one row per NON-EMPTY bin, exact
    BIGINT counts. Range defaults to the column min/max (computed in
    the same frame, so auto-ranged results replay exactly: min/max and
    the bin arithmetic are identical IEEE ops in any engine); the top
    edge is inclusive (max lands in the last bin, the width_bucket
    clamp convention).

    Scale shape: the range pass is one map-side-combined min/max agg
    (2 values to the driver via a 1-row broadcast crossJoin — no
    collect of data rows), then ONE groupBy(bin) of <= ``bins`` rows.
    Profiling an N-row column costs two scans and a bins-sized
    exchange regardless of N; pair with :func:`exact_kth_smallest`
    when quantile (equi-depth) edges are wanted instead.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    v = F.col(value_col).cast("double")
    vals = df.filter(v.isNotNull()).select(v.alias("__v"))
    if lo is None or hi is None:
        rng = vals.agg(
            F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
        )
        vals = vals.crossJoin(F.broadcast(rng))
    else:
        vals = vals.withColumn("__lo", F.lit(float(lo))).withColumn(
            "__hi", F.lit(float(hi))
        )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    bin_ = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("__v") - F.col("__lo")) / width), F.lit(0)
            ),
            F.lit(bins - 1),
        )
    ).cast("long")
    return (
        vals.select(
            bin_.alias("bin"),
            (F.col("__lo") + bin_ * width).alias("lo_edge"),
            (F.col("__lo") + (bin_ + 1) * width).alias("hi_edge"),
        )
        .groupBy("bin", "lo_edge", "hi_edge")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    k: float = 3.0,
    consistency: float = 1.4826,
    probe_bins: int = 4096,
) -> DataFrame:
    """Robust outlier detection by median absolute deviation: flags
    rows where |x − median| > k · consistency · MAD (Hampel filter;
    consistency 1.4826 makes MAD estimate σ under normality). The
    robust complement of the IQR fence — MAD has a 50% breakdown
    point, so it survives corpora where >25% of values are junk.

    Both the median and the MAD are EXACT k-th order statistics
    (k = ceil(n/2)) computed by :func:`exact_kth_smallest`'s
    probe-histogram path — no global sort, no interpolation, so the
    fence replays bit-identically from a rank-based oracle. Scale
    shape: two order-stat passes (each one bins-sized exchange + a
    filtered in-bin sort) and a map-only fence filter; the deviation
    pass is a map-only projection (|x − median| with the 1-row median
    broadcast), never a shuffle.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    v = F.col(value_col).cast("double")
    present = df.filter(v.isNotNull())
    n = present.count()
    if n == 0:
        return df.filter(F.lit(False))
    kk = math.ceil(n / 2)
    med_df = exact_kth_smallest(present, value_col, [kk], probe_bins)
    dev = present.crossJoin(
        F.broadcast(med_df.select(F.col("value").alias("__med")))
    ).withColumn("__dev", F.abs(v - F.col("__med")))
    mad_df = exact_kth_smallest(dev, "__dev", [kk], probe_bins)
    fence = (
        med_df.select(F.col("value").alias("__med"))
        # both sides are 1-row; without the hint Catalyst plans a
        # CartesianProduct (partition-product scheduling overhead for
        # nothing) — flagged by plan_audit.py
        .crossJoin(F.broadcast(mad_df.select(F.col("value").alias("__mad"))))
        .select(
            "__med",
            (
                F.lit(float(k)) * F.lit(float(consistency)) * F.col("__mad")
            ).alias("__fence"),
        )
    )
    return (
        df.crossJoin(F.broadcast(fence))
        .filter(v.isNotNull() & (F.abs(v - F.col("__med")) > F.col("__fence")))
        .drop("__med", "__fence")
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    buckets: int = 10,
    probe_bins: int = 4096,
) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram: (bucket, cnt), buckets
    bounded by EXACT order-statistic edges at ranks ceil(i*n/buckets)
    — the profiling complement of :func:`numeric_histogram`'s
    equi-width bins, with bucket populations ~n/buckets instead of
    arbitrary. Each value's bucket is the number of edge ENTRIES
    strictly below it (ties collapse into the edge's bucket, so
    repeated heavy values never split — buckets may be empty under
    heavy ties, the deterministic convention).

    Scale shape: edges come from ONE :func:`exact_kth_smallest` pass
    (probe-histogram, no global sort); assignment is a map-only
    comparison against the broadcast (buckets-1)-entry edge array; the
    final count is a bucket-sized groupBy. No interpolation anywhere,
    so counts replay exactly from a rank-derived oracle.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    v = F.col(value_col).cast("double")
    present = df.filter(v.isNotNull())
    n = present.count()
    if n == 0:
        return local_frame(df.sparkSession, [], "bucket long, cnt long")
    ks = sorted({math.ceil(i * n / buckets) for i in range(1, buckets)})
    if ks:
        kth = {
            r["k"]: r["value"]
            for r in exact_kth_smallest(
                present, value_col, ks, probe_bins
            ).collect()
        }
        edges = [
            float(kth[math.ceil(i * n / buckets)])
            for i in range(1, buckets)
        ]
        arr = F.array(*[F.lit(e) for e in edges])
        bucket = F.size(F.filter(arr, lambda e: e < v)).cast("long")
    else:
        bucket = F.lit(0).cast("long")
    return (
        present.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
