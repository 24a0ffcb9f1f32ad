"""Vector similarity search over an embedding column.

Reference query surface: top-k cosine against a ChromaDB HNSW index
(scripts/query_embeddings.py:52-58, cosine per README.md:456-459).

Engine design:
- ``cosine_topk`` — exact brute-force scan: score column (higher-order
  fns, JVM-side, fold in array order → bit-reproducible) + TakeOrdered
  top-k. This is the correctness baseline and is *stronger* than the
  reference's approximate HNSW.
- ``lsh_topk`` — random-hyperplane LSH bucketed variant: probe only the
  query's bucket (+ optional multi-probe neighbors). At 100 TB the
  bucket column is a partition/bucketing key so a probe touches a
  single partition instead of the full corpus.
- ``_nearest_centroid`` — THE nearest-centroid kernel: k-means
  (vector/kmeans.py), the IVF assignment, PQ training and encoding
  (vector/pq.py) and SemDeDup (dedup/semantic.py) all assign vectors
  to centroids through it, with one literal fork and one broadcast
  fork that rank (score, cid) identically, NaN last.
- Embeddings are plain ``array<float>`` columns; no UDF in the hot path.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..util import local_frame


class IvfDriftError(ValueError):
    """Raised by :func:`ivf_upsert` when an increment's assignment
    quality falls below the drift gate — the centroids no longer fit
    the data. Catch it to run the rebuild+retune maintenance path
    (:func:`ivf_rebuild_on_drift`) instead of aborting."""


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, computed in double via
    an in-order fold (deterministic, oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    denom = l2_norm_expr(a) * l2_norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom).otherwise(F.lit(0.0))


def l2sq_expr(a: Column, b: Column) -> Column:
    """Squared L2 distance with a FIXED parenthesization —
    ``(dot(a,a) - 2·dot(a,b)) + dot(b,b)`` over in-order-fold dots —
    so Spark, DuckDB, and the driver-side Python all produce the same
    double. (The elementwise ``Σ(aᵢ-bᵢ)²`` form is a different IEEE op
    sequence; never mix the two on one code path.)"""
    return (
        dot_expr(a, a) - F.lit(2.0) * dot_expr(a, b)
    ) + dot_expr(b, b)


# a driver-held centroid book up to this many doubles rides in the plan
# as a literal; a larger one, or a DataFrame book, is broadcast
_LITERAL_BOOK_MAX_DOUBLES = 65536


def _book_literal(book, cid_type: str) -> Column:
    """A driver-held ``(part, cid, vector)`` book as ONE plan literal:
    array indexed by part of array<struct<cid, cv array<double>>>."""

    def entry(cid, vec) -> Column:
        cv = F.array(*[F.lit(float(x)) for x in vec])
        return F.struct(F.lit(cid).cast(cid_type).alias("cid"), cv.alias("cv"))

    book = sorted(book)
    return F.array(
        *[
            F.array(*[entry(c, vec) for p, c, vec in book if p == part])
            for part in range(book[-1][0] + 1)
        ]
    )


def _nearest_centroid(
    df: DataFrame,
    book,
    vec_col: str,
    key: Sequence[str],
    metric: str = "cos",
    part_col: str | None = None,
    keep_vec: bool = False,
    cid_type: str = "int",
) -> DataFrame:
    """Assign every row of ``df`` to its nearest centroid: returns
    ``key`` (+ ``part_col``), ``centroid_id``, the winning ``score``
    (+ ``vec_col`` when ``keep_vec``).

    ``book`` is a driver-side list of ``(part, cid, vector)`` or a
    DataFrame (``part``, ``cid``, ``cv``); with ``part_col`` a row only
    meets the centroids of its own part (PQ's subspaces), without it
    every centroid (``part`` ignored). ``metric``: ``"cos"`` scores
    ``cosine_expr`` and ranks on −cos; ``"l2sq"`` scores and ranks on
    ``l2sq_expr``. Both forks take the minimum of the (rank key, cid)
    struct, so NaN ranks last (Spark orders NaN above +inf), −0.0 ties
    +0.0 and ties go to the lowest cid — identical by construction.

    The form of the book picks the fork. A driver-held book of at most
    ``_LITERAL_BOOK_MAX_DOUBLES`` doubles rides in the plan as a literal
    and the argmin is a row-local ``array_min``: no join, no exchange
    (``cid_type`` types its ids). A DataFrame book, or a larger one, is
    broadcast and the argmin is ONE ``min(struct)`` aggregation keyed
    on ``key`` (+ part), whose map-side partial aggregate ships only
    the key and the struct (+ the vector for ``keep_vec``) through the
    exchange; ``key`` must identify a row there. A row vector whose
    length differs from a centroid's raises in both forks."""
    v = F.col(vec_col)
    group = [*key, *([part_col] if part_col else [])]

    def ranked(cid: Column, cv: Column) -> Column:
        s = l2sq_expr(v, cv) if metric == "l2sq" else -cosine_expr(v, cv)
        ragged = v.isNotNull() & cv.isNotNull() & (F.size(v) != F.size(cv))
        msg = F.format_string(
            f"nearest centroid: vector in column {vec_col!r} has %d dims "
            "but the centroid book has %d", F.size(v), F.size(cv),
        )
        return F.struct(
            F.when(ragged, F.raise_error(msg)).otherwise(s).alias("s"),
            cid.alias("cid"),
        )

    vec_out = [v] if keep_vec else []
    if not isinstance(book, DataFrame):
        book = [(int(p) if part_col else 0, c, vec) for p, c, vec in book]
        if book and (
            sum(len(vec) for _, _, vec in book) <= _LITERAL_BOOK_MAX_DOUBLES
        ):
            part = F.col(part_col) if part_col else F.lit(0)
            cands = F.element_at(_book_literal(book, cid_type), part + 1)
            best = F.array_min(
                F.transform(cands, lambda c: ranked(c["cid"], c["cv"]))
            )
            out = df.select(*group, best.alias("__b"), *vec_out)
        else:
            book = local_frame(
                df.sparkSession,
                [(p, c, [float(x) for x in vec]) for p, c, vec in book],
                f"part int, cid {cid_type}, cv array<double>",
            )
    if isinstance(book, DataFrame):
        cols = (["part"] if part_col else []) + ["cid", "cv"]
        b = book.select(*[F.col(c).alias("__" + c) for c in cols])
        cond = F.col(part_col) == F.col("__part") if part_col else None
        scored = (
            df.select(*group, v)
            .join(F.broadcast(b), cond)
            .select(
                *group,
                ranked(F.col("__cid"), F.col("__cv")).alias("__sc"),
                *vec_out,
            )
        )
        out = scored.groupBy(*group).agg(
            F.min("__sc").alias("__b"),
            *([F.first(vec_col).alias(vec_col)] if keep_vec else []),
        )
    score = F.col("__b.s")
    return out.select(
        *group,
        F.col("__b.cid").alias("centroid_id"),
        (score if metric == "l2sq" else -score).alias("score"),
        *([vec_col] if keep_vec else []),
    )


def _query_lit(query_vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metadata_filter: Column | None = None,
    normalized: bool = False,
) -> DataFrame:
    """Exact top-k by cosine. ``metadata_filter`` applies BEFORE scoring
    so Catalyst pushes it into the scan (the reference applies metadata
    filters inside Chroma the same way). With pre-normalized vectors,
    pass normalized=True to skip the norm (dot == cosine).

    Plan shape: scan → filter → project score → TakeOrderedAndProject
    (no full sort, no shuffle of vectors; only k rows reach the driver).
    """
    q = _query_lit(query_vec)
    scored = df if metadata_filter is None else df.filter(metadata_filter)
    if normalized:
        score = dot_expr(F.col(vec_col), q)
    else:
        qn = math.sqrt(sum(float(v) ** 2 for v in query_vec))
        score = F.when(
            l2_norm_expr(F.col(vec_col)) > 0,
            dot_expr(F.col(vec_col), q) / (l2_norm_expr(F.col(vec_col)) * F.lit(qn)),
        ).otherwise(F.lit(0.0))
    return (
        scored.withColumn("score", score)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no numpy RNG state
    in the plan — the planes are plan literals broadcast with the
    query).

    INTEGER-valued entries (uniform in [-1024, 1024]): against the
    int8-quantized vectors the bucketer uses, every hyperplane dot is a
    sum of integers ≪ 2^53 — EXACT in float64 under any summation
    order, so bucket ids are bit-identical across numpy matmul, a SQL
    fold, or any BLAS — which is what lets q53/q66 carry full DuckDB
    oracles instead of rows-only checks. (Float planes would leave
    near-zero dots at the mercy of summation order.)"""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(float(round(((state / float(1 << 31)) * 2.0 - 1.0) * 1024)))
        planes.append(row)
    return planes


def _quantize_rows(mat):
    """Row-wise symmetric int8 quantization (same formula as
    :func:`quantize_embeddings`: floor(v / max|v| * 127 + 0.5); zero
    rows stay zero), as integer-valued float64 — exact in matmuls."""
    import numpy as np

    am = np.abs(mat).max(axis=1)
    safe = np.where(am > 0, am, 1.0)
    return np.where(
        (am > 0)[:, None], np.floor(mat / safe[:, None] * 127 + 0.5), 0.0
    )


def hyperplane_bucket(vec: Column, bits: int, seed: int = 42, dim: int = 128) -> Column:
    """Random-hyperplane sign bucket id (0..2^bits-1) for an
    array<float> column — the LSH partitioning key.

    Arrow-batched numpy implementation: one (batch × dim) @ (dim × bits)
    matmul per batch. A pure-expression version (bits × dim literal
    array nodes folded per row) chokes Catalyst — analysis + codegen of
    the ~bits·dim-literal tree costs seconds per plan and the generated
    code is slower than BLAS anyway.

    The matmul is EXACT, not approximately reproducible: rows are int8-
    quantized (sign buckets are invariant to the positive per-row
    scale) and the planes are integer-valued, so every dot is an
    integer ≪ 2^53 — identical under any summation order or engine
    (the q53/q66 DuckDB oracles replay it with list_dot_product).
    Vectors shorter than ``dim`` are zero-padded (matching zip_with's
    shorter-array fold), longer ones truncated, null vectors yield a
    null bucket."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(dim, bits, seed)

    @pandas_udf("long")
    def bucket(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        pm = np.asarray(planes, dtype=np.float64).T  # dim × bits
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
        for s in batches:
            vals = s.tolist()
            mat = np.zeros((len(vals), dim), dtype=np.float64)
            mask = np.ones(len(vals), dtype=bool)
            for i, v in enumerate(vals):
                if v is None:
                    mask[i] = False
                    continue
                n = min(len(v), dim)
                mat[i, :n] = v[:n]
            ids = ((_quantize_rows(mat) @ pm) >= 0) @ weights
            yield pd.Series([int(b) if m else None for b, m in zip(ids, mask)])

    return bucket(vec)


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 4,
    seed: int = 42,
    bucket_col: str | None = None,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's hyperplane
    bucket. If the table was pre-bucketed (``bucket_col`` persisted and
    used as a partition key), the probe prunes partitions at scan time;
    otherwise the bucket is computed on the fly (still a single scan,
    but no pruning).

    ``multiprobe``: additionally probe every bucket within that
    Hamming distance of the query's bucket (standard multi-probe LSH —
    a vector near a hyperplane lands one sign-flip away, so probing
    1-flip neighbors recovers most of the recall lost to bucket
    boundaries at ``1 + bits`` buckets scanned instead of 2^bits;
    q160 hash-checks the recall gain). The probe set stays a literal
    IN-list, so partition pruning still applies."""
    if not (0 <= multiprobe <= bits):
        raise ValueError(
            f"multiprobe must be in [0, bits]: got {multiprobe} (bits={bits})"
        )
    import itertools

    import numpy as np

    planes = _hyperplanes(len(query_vec), bits, seed)
    # quantize the query exactly like the corpus-side UDF does — the
    # integer dots are then exact, so a query vector present in the
    # corpus probes precisely its own bucket
    qrow = _quantize_rows(
        np.asarray([list(map(float, query_vec))], dtype=np.float64)
    )
    pm = np.asarray(planes, dtype=np.float64).T
    signs = (qrow @ pm >= 0)[0]
    qbucket = int(
        (signs.astype(np.int64) << np.arange(bits, dtype=np.int64)).sum()
    )
    probe_set = {qbucket}
    for d in range(1, multiprobe + 1):
        for flips in itertools.combinations(range(bits), d):
            b = qbucket
            for f in flips:
                b ^= 1 << f
            probe_set.add(b)
    if bucket_col is None:
        df = df.withColumn(
            "__bucket", hyperplane_bucket(F.col(vec_col), bits, seed, len(query_vec))
        )
        bucket_col = "__bucket"
    if len(probe_set) == 1:
        probed = df.filter(F.col(bucket_col) == qbucket)
    else:
        probed = df.filter(F.col(bucket_col).isin(sorted(probe_set)))
    out = cosine_topk(probed, query_vec, k, vec_col, id_col)
    return out.drop("__bucket") if "__bucket" in out.columns else out


def ivf_assignments(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
    include_score: bool = False,
) -> DataFrame:
    """IVF index build: assign every vector to its max-cosine centroid
    (ties → lowest centroid id, NaN cosines last) through
    :func:`_nearest_centroid`'s broadcast fork — the centroid table is
    small by definition (k ≪ n) so it broadcasts, and the argmin is ONE
    min-struct aggregation whose map-side partial aggregate collapses
    the n×k scored rows to n per partition before the exchange. Callers
    that already hold driver-side centroids (k-means, ``ivf_topk``'s
    inline path) pass them to the kernel's literal fork instead: no
    join, no exchange. At 100 TB the (id, centroid_id) output is
    persisted and the corpus is repartitioned/bucketed BY centroid_id
    so a probe reads only its clusters. Returns (id_col, centroid_id),
    plus ``assign_cos`` (the winning cosine) with ``include_score``.

    The centroid id must be an integral type: it names the cluster the
    persisted index is partitioned by, so any other type (a string,
    say) raises TypeError."""
    book = centroids.select(
        F.col(cent_id_col).alias("cid"), F.col(cent_vec_col).alias("cv")
    )
    cid_dtype = book.schema["cid"].dataType
    if not isinstance(cid_dtype, IntegralType):
        raise TypeError(
            f"ivf_assignments: centroid id column {cent_id_col!r} must be "
            f"an integral type, got {cid_dtype.simpleString()}"
        )
    out = _nearest_centroid(df, book, vec_col, [id_col]).withColumnRenamed(
        "score", "assign_cos"
    )
    if include_score:
        # assignment QUALITY (winning cosine) — what ivf_upsert's
        # drift gate aggregates; not part of the index contract
        return out
    return out.drop("assign_cos")


def ivf_build_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
) -> DataFrame:
    """Build AND persist the IVF index: compute assignments once, write
    them partitioned by ``centroid_id``, and return the read-back frame.
    At 100 TB this runs once per corpus snapshot; every subsequent query
    probes the persisted index — partition pruning turns the
    centroid-id filter into reading only the probed clusters' files,
    never a full-corpus assignment recompute. Pass the result to
    :func:`ivf_topk` via ``assignments=``.

    The centroid table itself persists at ``{path}_centroids`` (read it
    back with :func:`ivf_centroids`) — the index is self-describing, so
    a serving process needs ONLY the path. That matters after a drift
    rebuild (:func:`ivf_rebuild_on_drift`): a caller still holding the
    build-time centroid frame would probe the RETRAINED clusters with
    stale centroids and silently lose recall."""
    assign = ivf_assignments(
        df, centroids, vec_col, id_col, cent_vec_col, cent_id_col,
        include_score=True,
    )
    assign.drop("assign_cos").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)
    centroids.select(
        F.col(cent_id_col).alias("cid"),
        F.col(cent_vec_col).alias("embedding"),
    ).write.mode("overwrite").parquet(path + "_centroids")
    # build-time assignment quality, persisted beside the index — the
    # baseline ivf_upsert's drift gate compares each increment against
    assign.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("assign_cos").alias("mean_cos"),
    ).write.mode("overwrite").parquet(path + "_stats")
    out = df.sparkSession.read.parquet(path)
    # partitionBy writes centroid_id as a partition column (string-typed
    # directory value) — restore the original type for downstream joins
    cid_type = dict(assign.dtypes)["centroid_id"]
    return out.select(id_col, F.col("centroid_id").cast(cid_type))


def ivf_upsert(
    path: str,
    new_df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
    drift_frac: float = 0.8,
) -> DataFrame:
    """Fold an increment into a persisted IVF index: assign ONLY the
    new vectors to the EXISTING centroids and append their
    (id, centroid_id) rows — the corpus is never re-assigned, never
    re-read (partitionBy-append writes only new files). Correctness is
    structural: assignment is per-vector independent (argmax cosine
    over the centroid table), so assign(corpus) ∪ assign(increment)
    EQUALS assign(corpus ∪ increment) — q180 locks upsert-then-query
    == full rebuild against the same oracle arithmetic as q42.

    RE-TRAIN GATE ON DRIFT: centroids trained on yesterday's
    distribution can quietly stop fitting (new language, new domain,
    new embedding model) — every vector still gets SOME centroid, so
    nothing fails while recall rots. The gate compares the increment's
    mean winning cosine against the build-time baseline persisted at
    ``{path}_stats``; below ``drift_frac`` × baseline it RAISES with
    the measured numbers (re-train k-means, rebuild, resume) instead
    of silently degrading. On success the stats file is updated with
    the running (count-weighted) mean so the baseline tracks the
    admitted corpus. Returns the read-back updated index frame.

    ID-COLLISION GATE: increments must be id-disjoint from the
    persisted index — append-only partitioned parquet cannot replace
    rows, so re-ingesting an existing id would silently double-count
    it in the index AND the stats baseline. The gate is one broadcast
    semi-join of the (id-only) index scan against the increment-sized
    rid set; collisions RAISE with a sample of offending ids (to
    replace vectors, rebuild with :func:`ivf_build_index`)."""
    spark = new_df.sparkSession
    stats = spark.read.parquet(path + "_stats").collect()[0]
    assign = ivf_assignments(
        new_df, centroids, vec_col, id_col, cent_vec_col, cent_id_col,
        include_score=True,
    ).localCheckpoint(eager=True)
    new_ids = assign.select(id_col).distinct()
    clashes = (
        spark.read.parquet(path)
        .select(id_col)
        .join(F.broadcast(new_ids), id_col, "left_semi")
        .limit(5)
        .collect()
    )
    if clashes:
        sample = ", ".join(str(r[0]) for r in clashes)
        raise ValueError(
            "ivf_upsert: increment re-ingests ids already present in the "
            f"index at {path} (e.g. {sample}) — the partitioned-parquet "
            "index is append-only, so a colliding id would be silently "
            "double-counted in the index and the _stats baseline. "
            "Increments must be id-disjoint; to replace vectors, rebuild "
            "with ivf_build_index."
        )
    inc = assign.agg(
        F.count(F.lit(1)).alias("n"), F.avg("assign_cos").alias("mean_cos")
    ).collect()[0]
    if inc["n"] == 0:
        return spark.read.parquet(path).select(
            id_col, F.col("centroid_id")
        )
    if (
        stats["mean_cos"] is not None
        and inc["mean_cos"] < drift_frac * stats["mean_cos"]
    ):
        raise IvfDriftError(
            "ivf_upsert: increment assignment quality has drifted — "
            f"mean cosine {inc['mean_cos']:.4f} < {drift_frac} × "
            f"build baseline {stats['mean_cos']:.4f}; re-train the "
            "coarse quantizer (k-means) and rebuild the index before "
            "ingesting this batch (or run ivf_rebuild_on_drift, which "
            "composes retrain → rebuild → retune)"
        )
    assign.drop("assign_cos").write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(path)
    n_total = stats["n"] + inc["n"]
    new_mean = (
        stats["mean_cos"] * stats["n"] + inc["mean_cos"] * inc["n"]
    ) / n_total
    local_frame(
        spark, [(n_total, float(new_mean))], "n long, mean_cos double"
    ).write.mode("overwrite").parquet(path + "_stats")
    cid_type = dict(assign.dtypes)["centroid_id"]
    return spark.read.parquet(path).select(
        id_col, F.col("centroid_id").cast(cid_type)
    )


def ivf_delete(
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Delete vectors from a persisted IVF index with PARTITION-LOCAL
    rewrites — the takedown/expiry verb ivf_upsert (append-only,
    id-disjoint) can't express: the deleted ids' centroid partitions
    are found via one broadcast semi-join, ONLY those partitions are
    read back, anti-joined, and re-written under dynamic partition
    overwrite — untouched clusters move zero bytes (at 100 TB a
    takedown touches a handful of cluster files, never the index).
    The ``_stats`` baseline keeps its historical mean (assignment
    quality of deleted vectors is not stored; the drift gate's
    meaning — "do NEW increments still fit the centroids" — is
    unchanged) with ``n`` decremented. Returns the read-back updated
    index. Ids absent from the index are no-ops."""
    spark = ids.sparkSession
    col = id_col if id_col in ids.columns else ids.columns[0]
    rid = ids.select(F.col(col).alias(id_col)).distinct()
    index = spark.read.parquet(path)
    cid_type = dict(index.dtypes)["centroid_id"]
    touched = [
        r["centroid_id"]
        for r in index.join(F.broadcast(rid), id_col)
        .select("centroid_id")
        .distinct()
        .collect()
    ]
    if touched:
        # materialize BEFORE the write: `remaining` reads the same
        # files the dynamic overwrite is about to replace — without the
        # checkpoint the write job would race its own input
        remaining = (
            index.filter(F.col("centroid_id").isin(touched))
            .join(F.broadcast(rid), id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        n_removed = (
            index.filter(F.col("centroid_id").isin(touched)).count()
            - remaining.count()
        )
        still_there = {
            r["centroid_id"]
            for r in remaining.select("centroid_id").distinct().collect()
        }
        emptied = [c for c in touched if c not in still_there]
        if emptied:
            # dynamic overwrite only replaces partitions PRESENT in the
            # written frame — a fully-emptied cluster would silently
            # keep its old files. Rare (a whole cluster deleted), so
            # take the correct slow path: one static rewrite of the
            # full surviving index.
            whole = (
                index.join(F.broadcast(rid), id_col, "left_anti")
                .localCheckpoint(eager=True)
            )
            if whole.isEmpty():
                # a static overwrite of a 0-row partitioned frame
                # writes no part files, so the read-back below would
                # crash on schema inference with _stats already
                # rewritten — an empty partitioned index is not
                # representable; refuse loudly BEFORE touching disk
                raise ValueError(
                    f"ivf_delete: deletion would empty the index at "
                    f"{path} — an empty partitioned index is not "
                    "representable on disk; drop the index directory "
                    "or rebuild with ivf_build_index instead"
                )
            (
                whole.write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(path)
            )
        else:
            (
                remaining.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("centroid_id")
                .parquet(path)
            )
        stats = spark.read.parquet(path + "_stats").collect()[0]
        local_frame(
            spark, [(max(0, stats["n"] - n_removed), stats["mean_cos"])],
            "n long, mean_cos double",
        ).write.mode("overwrite").parquet(path + "_stats")
    return spark.read.parquet(path).select(
        id_col, F.col("centroid_id").cast(cid_type)
    )


def ivf_centroids(spark, path: str) -> DataFrame:
    """The centroid table persisted beside the index at ``path`` —
    what serving should probe with (it tracks rebuilds, unlike a
    centroid frame captured at build time). Returns (cid, embedding);
    raises with guidance for indexes written before centroids were
    persisted."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path + "_centroids")
    except AnalysisException as exc:
        raise ValueError(
            f"ivf_centroids: no centroid table at {path}_centroids — "
            "the index predates centroid persistence; rebuild with "
            "ivf_build_index (which now writes it) or pass the "
            "centroid frame explicitly"
        ) from exc


def coarse_probe_ids(cents, query_vec: Sequence[float], nprobe: int) -> list:
    """THE coarse-quantizer probe rule, in one place: rank collected
    centroid rows ``(cid, vec)`` by cosine against the query —
    driver-side, identical double arithmetic to the assignment
    (in-order fold dot, zero-norm → 0.0), tie-break (cos desc, cid
    asc) — and return the ``nprobe`` nearest cluster ids. Every IVF
    serving path (ivf_topk, ivfpq_topk, ivfpq_residual_topk) MUST call
    this: the rule is a determinism-critical contract, and divergent
    copies would silently desynchronize the oracle replays."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))

    def _cos(vec) -> float:
        dot = 0.0
        nc = 0.0
        for a, b in zip(vec, query_vec):
            dot += float(a) * float(b)
            nc += float(a) * float(a)
        denom = math.sqrt(nc) * qn
        return dot / denom if denom > 0 else 0.0

    ranked = sorted(cents, key=lambda r: (-_cos(r[1]), r[0]))
    return [r[0] for r in ranked[:nprobe]]


def ivf_compact(spark, path: str) -> DataFrame:
    """Compact the persisted IVF index: every :func:`ivf_upsert` APPENDS
    its own part files, so a daily loop leaves one small file per
    (batch × cluster) — the classic small-files problem that turns a
    partition-pruned probe into a metadata storm at 100 TB. This
    rewrites the index with each cluster's rows co-located (one task —
    hence one file — per centroid partition), a pure layout change:
    rows, assignments, and the ``_stats`` drift baseline are untouched.
    Run it on the maintenance cadence (the q209/q223 loop), not per
    upsert. Returns the read-back compacted index frame.

    CRASH SAFETY: the compacted layout is written to ``{path}__tmp``
    first, then swapped in with two directory renames (old index →
    ``{path}__old`` → deleted only after the new copy is live). A
    durable on-disk copy of the index exists at EVERY instant — an
    in-place overwrite backed only by localCheckpoint executor blocks
    would destroy the index on a driver/executor loss mid-write, and
    compaction is routine maintenance over the full index. The rename
    window is recoverable by inspection: if ``path`` is missing,
    ``{path}__old`` (or ``__tmp``) holds the complete index — rename
    it back. (Renames are atomic on HDFS/local FS; on S3 use a
    rename-capable layer for maintenance jobs.)"""
    tmp = path + "__tmp"
    index = spark.read.parquet(path)
    cols = [c for c in index.columns if c != "centroid_id"]
    (
        index.select(*cols, F.col("centroid_id"))
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    from ..util import swap_directory

    swap_directory(spark, path, tmp, "ivf_compact")
    return spark.read.parquet(path)


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    centroids: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
    nprobe: int = 1,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the vectors assigned to the
    ``nprobe`` centroids nearest the query (coarse quantizer probe).
    The centroid ranking uses the same (cosine desc, cid asc) rule as
    the assignment, computed driver-side over the collected centroid
    table — identical double arithmetic, so a query vector that is
    itself in the corpus probes exactly its own cluster.

    ``assignments``: a prebuilt (id, centroid_id) index (from
    :func:`ivf_build_index` / a persisted :func:`ivf_assignments`).
    When given, the probe reads ONLY the index — no full-corpus
    assignment recompute per query; with the index partitioned by
    centroid_id the filter prunes to the probed clusters at scan time.
    When omitted, assignments are computed inline against the centroid
    rows already collected for the probe (the kernel's literal fork:
    one map-only corpus scan) — fine for one-off queries, wrong for a
    query loop."""
    cents = centroids.select(cent_id_col, cent_vec_col).collect()
    probe_ids = coarse_probe_ids(cents, query_vec, nprobe)
    assign = assignments
    if assign is None:
        assign = _nearest_centroid(
            df, [(0, cid, vec) for cid, vec in cents], vec_col, [id_col],
            cid_type=dict(centroids.dtypes)[cent_id_col],
        ).select(id_col, "centroid_id")
    cand = df.join(
        assign.filter(F.col("centroid_id").isin(probe_ids)), id_col
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col).drop("centroid_id")


def multi_query_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
    normalized: bool = False,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in ONE corpus
    scan — the serving-tier shape :func:`cosine_topk` (one driver-side
    literal vector per call) can't give: B queries as one job means
    one pass over 100 TB instead of B, with the query table broadcast
    (queries are top-k-sized serving state by definition — a corpus-
    sized 'queries' frame is a k-NN JOIN, use :func:`knn_join` /
    :func:`knn_join_blocked`). Per-query top-k is one window over the
    scored stream partitioned by query id (rank ties break score desc,
    id asc — same contract as cosine_topk). Returns
    (q_id_col, id_col, score, rank), rank 1..k per query.

    Scoring arithmetic is cosine_topk's exactly (in-order fold dot,
    zero-norm corpus rows score 0), so per-query results are
    bit-identical to B cosine_topk calls — q217 value-replays the
    whole batch."""
    from pyspark.sql import Window

    qn = l2_norm_expr(F.col("__qv"))
    q = queries.select(
        F.col(q_id_col),
        F.col(q_vec_col).alias("__qv"),
    ).withColumn("__qn", qn)
    scored = df.select(F.col(id_col), F.col(vec_col).alias("__v")).join(
        F.broadcast(q)
    )
    if normalized:
        score = dot_expr(F.col("__v"), F.col("__qv"))
    else:
        score = F.when(
            l2_norm_expr(F.col("__v")) > 0,
            dot_expr(F.col("__v"), F.col("__qv"))
            / (l2_norm_expr(F.col("__v")) * F.col("__qn")),
        ).otherwise(F.lit(0.0))
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "score", "rank")
    )


def ivf_tune(
    df: DataFrame,
    query_vec: Sequence[float],
    centroids: DataFrame,
    path: str,
    k: int = 10,
    target_recall: float = 0.9,
    probes: Sequence[int] = (1, 2, 4),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Close the recall-sweep loop: measure recall@k of the IVF probe
    at each candidate ``nprobe`` against the exact top-k (the q203
    sweep), pick the SMALLEST nprobe meeting ``target_recall`` (or the
    largest candidate when none does — loud in the table, never a
    silent fallback), and PERSIST the decision at ``{path}_tuning``
    beside the index, params baked in (the dedup/incremental.py
    params-table pattern) — so serving reads its probe count from the
    index it queries instead of hardcoding one. Returns the tuning
    table (nprobe, hits, recall, chosen).

    Tuning is an offline, index-build-time pass: one exact scan + one
    probe per candidate, all top-k-sized at the driver."""
    if not probes:
        raise ValueError("ivf_tune: probes is empty")
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(
            f"ivf_tune: target_recall must be in (0, 1], got {target_recall}"
        )
    spark = df.sparkSession
    exact = (
        cosine_topk(df, query_vec, k, vec_col, id_col)
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    rows = []
    for p in sorted(set(int(p) for p in probes)):
        approx = ivf_topk(
            df, query_vec, centroids, k=k, vec_col=vec_col, id_col=id_col,
            cent_vec_col=cent_vec_col, cent_id_col=cent_id_col, nprobe=p,
            assignments=assignments,
        )
        hits = exact.join(
            approx.select(id_col), id_col, "left_semi"
        ).count()
        rows.append((p, hits, hits / float(k)))
    chosen = next(
        (p for p, _, r in rows if r >= target_recall), rows[-1][0]
    )
    chosen_recall = next(r for p, _, r in rows if p == chosen)
    local_frame(
        spark, [(
            chosen,
            float(target_recall),
            int(k),
            float(chosen_recall),
            bool(chosen_recall >= target_recall),
        )],
        "nprobe long, target_recall double, k long, recall double, "
        "met_target boolean",
    ).write.mode("overwrite").parquet(path + "_tuning")
    return local_frame(
        spark, [(p, h, r, p == chosen) for p, h, r in rows],
        "nprobe long, hits long, recall double, chosen boolean",
    )


def ivf_tuned_nprobe(spark, path: str, strict: bool = False) -> int:
    """Read the persisted tuning decision for the index at ``path`` —
    the probe count serving should use (raises if :func:`ivf_tune`
    never ran for this index). The probe is the read itself (not a
    driver-local ``os.path`` check), so indexes persisted on HDFS/S3
    resolve the same as local ones.

    SLO check: when the stored decision did NOT meet its target recall
    (``met_target`` false — ivf_tune fell back to the largest
    candidate), serving is about to run under-SLO; this warns with the
    stored numbers, or raises with ``strict=True`` — the decision is
    loud at the consumer, not just in a table nobody inspects."""
    import warnings as _warnings

    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(path + "_tuning").collect()[0]
    except AnalysisException as exc:
        raise ValueError(
            f"ivf_tuned_nprobe: no tuning table at {path}_tuning — run "
            "ivf_tune(target_recall=...) for this index first"
        ) from exc
    d = row.asDict()
    if d.get("met_target") is False:
        msg = (
            f"ivf_tuned_nprobe: the stored tuning decision for {path} is "
            f"UNDER-SLO — recall {d.get('recall'):.4f} < target "
            f"{d.get('target_recall'):.4f} at the largest candidate "
            f"nprobe {d['nprobe']}; widen the probe grid or rebuild the "
            "index (ivf_tune never met the target)"
        )
        if strict:
            raise ValueError(msg)
        _warnings.warn(msg, UserWarning, stacklevel=2)
    return int(d["nprobe"])


def ivf_rebuild_on_drift(
    path: str,
    new_df: DataFrame,
    centroids: DataFrame,
    corpus: DataFrame,
    query_vec: Sequence[float],
    k_centroids: int = 8,
    iters: int = 2,
    seed: str | int = 42,
    probes: Sequence[int] = (1, 2, 4),
    target_recall: float = 0.9,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
    drift_frac: float = 0.8,
) -> dict:
    """The drift-triggered MAINTENANCE PLAN (closing ivf_upsert's
    bare-raise seam): try the cheap append path first; when the drift
    gate fires, RETRAIN the coarse quantizer on the full post-increment
    corpus (exact-integer k-means, vector/kmeans.py), REBUILD the index
    at ``path``, and RETUNE nprobe against the new index
    (:func:`ivf_tune`'s persisted decision) — so the serving tier
    (:func:`ivf_tuned_nprobe` → :func:`ivf_topk`) reads a probe count
    measured on the index it actually queries, never a stale knob.

    ``corpus`` is the pre-increment vector frame (the same rows the
    index at ``path`` holds); ``new_df`` must be id-disjoint from it.
    Returns ``{"action": "upsert"|"rebuild", "assignments": DataFrame,
    "centroids": DataFrame (the table serving must probe with),
    "nprobe": int | None (None on the upsert path: the existing tuning
    decision still stands), "tuning": DataFrame | None}``.

    Cost shape: the upsert path is increment-sized; the rebuild path is
    the full build+tune an operator would otherwise run by hand after
    the raise — same work, one verb, decision recorded."""
    try:
        assignments = ivf_upsert(
            path, new_df, centroids, vec_col, id_col,
            cent_vec_col, cent_id_col, drift_frac,
        )
        return {
            "action": "upsert",
            "assignments": assignments,
            "centroids": centroids,
            "nprobe": None,
            "tuning": None,
        }
    except IvfDriftError:
        pass
    from .kmeans import centroids_df, kmeans_fit

    full = corpus.select(id_col, vec_col).unionByName(
        new_df.select(id_col, vec_col)
    )
    cents, _ = kmeans_fit(
        full, vec_col=vec_col, id_col=id_col, k=k_centroids,
        iters=iters, seed=seed,
    )
    new_cents = centroids_df(full.sparkSession, cents).select(
        F.col("cid").alias(cent_id_col),
        F.col("embedding").alias(cent_vec_col),
    )
    assignments = ivf_build_index(
        full, new_cents, path, vec_col, id_col, cent_vec_col, cent_id_col
    )
    tuning = ivf_tune(
        full, query_vec, new_cents, path, k=k,
        target_recall=target_recall, probes=probes,
        vec_col=vec_col, id_col=id_col,
        cent_vec_col=cent_vec_col, cent_id_col=cent_id_col,
        assignments=assignments,
    )
    return {
        "action": "rebuild",
        "assignments": assignments,
        "centroids": new_cents,
        "nprobe": ivf_tuned_nprobe(full.sparkSession, path),
        "tuning": tuning,
    }


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = floor(v_i /
    max|v| * 127 + 0.5)`` with ``scale = max|v| / 127`` — the standard
    4× memory/IO cut for storing embedding corpora at 100 TB (a 64-dim
    float32 row shrinks 256 B → 64 B + one double).

    Search needs NO dequantization: cosine is scale-invariant, so
    ``cosine_topk`` on the int arrays is exact integer arithmetic
    (dots ≤ 127²·dim ≪ 2^53) — deterministic under ANY summation
    order, engine, or partitioning, which is stronger than the float
    paths can promise (q83 hash-checks it end to end). Map-only, no
    UDF: the quantizer is two array HOFs inside codegen.

    Zero vectors quantize to all-zero with scale 0 (cosine_expr
    already scores them 0)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, F.abs))
    qvec = F.when(
        absmax > 0,
        F.transform(
            v, lambda x: F.floor(x / absmax * 127 + 0.5).cast("int")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        qvec.alias(qvec_col),
        F.when(absmax > 0, absmax / 127).otherwise(F.lit(0.0)).alias(scale_col),
    )


def hash_embed(
    col: Column | str, dim: int = 32, hash_fn: str = "xxhash64"
) -> Column:
    """Deterministic pseudo-embedding for TEXT — a hashing-trick vector:
    each whitespace token adds ±1 to one of ``dim`` components (sign and
    slot from the token hash). Stands in for the reference's sentence-
    transformer encoder (chroma_helpers.py:36-81) in tests; the real
    encoder drops into the same column type via a pandas_udf.

    Slot/sign hashing stays JVM-side (one hash per token); the
    binning runs as a numpy bincount per Arrow batch — the per-slot
    expression form (``dim`` separate aggregate folds, each re-hashing
    every token) bloats codegen and re-does dim× the hash work.
    Identical output values (same hashes, exact ±1.0 float sums).

    ``hash_fn``: ``"xxhash64"`` (default, fastest) or ``"md5"`` —
    engine-portable slot/sign (first 8 md5 hex digits mod dim; 9th
    digit parity), the DuckDB-oracle configuration (q35)."""
    from pyspark.sql.functions import pandas_udf

    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    if hash_fn == "xxhash64":
        slots = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(dim)))
        signs = F.transform(
            toks,
            lambda t: F.when(
                F.pmod(F.xxhash64(t, F.lit(1)), F.lit(2)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
    elif hash_fn == "md5":
        slots = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % dim,
        )
        signs = F.transform(
            toks,
            lambda t: F.when(
                F.conv(F.substring(F.md5(t), 9, 1), 16, 10).cast("long") % 2
                == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")

    @pandas_udf("array<float>")
    def bin_tokens(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.Series]:
        import numpy as np

        for pdf in batches:
            out = []
            for sl, sg in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                if sl is None:
                    out.append(None)
                    continue
                vec = np.zeros(dim, dtype=np.float64)
                np.add.at(
                    vec,
                    np.asarray(sl, dtype=np.int64),
                    np.asarray(sg, dtype=np.float64),
                )
                out.append([float(x) for x in vec])
            yield pd.Series(out, dtype="object")

    return bin_tokens(F.struct(slots.alias("s"), signs.alias("g")))


def knn_join(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs k-NN self-join: for EVERY row, its top-k
    neighbors by dot-product score (corpus-level semantic dedup /
    SemDeDup-style curation needs this, not single-query top-k).

    Brute force O(n²) — the CORRECTNESS BASELINE, oracle-checkable.
    Catalyst broadcasts the smaller side of the cross product, and the
    per-row top-k is one window. The scale path is
    ``knn_join_blocked`` (LSH-bucketed candidates), same contract.
    Returns (a, b, score, rank) with rank 1..k per ``a``.
    """
    from pyspark.sql import Window

    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("__vb"))
    pairs = a.crossJoin(b).filter(F.col("a") != F.col("b"))
    w = Window.partitionBy("a").orderBy(F.desc("score"), F.asc("b"))
    return (
        pairs.withColumn("score", dot_expr(F.col("__va"), F.col("__vb")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("a", "b", "score", "rank")
    )


def knn_join_blocked(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 2,
    seed: int = 42,
    dim: int = 64,
    quantized: bool = False,
) -> DataFrame:
    """Approximate k-NN self-join, LSH-blocked: candidates are only
    pairs sharing a random-hyperplane bucket, so the pair space shrinks
    from n² to Σ bucket². Same output contract as ``knn_join``
    ((a, b, score, rank), rank 1..k per ``a``, ties score-desc/b-asc);
    recall is tunable via ``bits`` (fewer bits → bigger buckets →
    higher recall, more compute — grow bits with log2(corpus) to hold
    bucket occupancy constant).

    Execution: ONE shuffle groups each bucket onto an executor, then
    the intra-bucket scoring is a single BLAS gram matmul + per-row
    top-k inside applyInPandas — instead of materializing the m²
    pair rows and folding a dot product per pair (the matmul is
    10×+ faster and the m² pair space never hits the shuffle).

    ``quantized``: score by the int8-quantized COSINE instead of the
    full-precision dot — the gram matmul becomes exact integer
    arithmetic, making the whole join bit-reproducible across engines
    and summation orders (q66's DuckDB oracle replays it; the float
    default's near-tie rankings cannot promise that). The scale-
    invariant cosine is the SemDeDup-standard similarity anyway."""
    id_type = df.schema[id_col].dataType.simpleString()
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bucket(F.col(vec_col), bits, seed, dim).alias("__bkt"),
    ).filter(F.col("__bkt").isNotNull())
    # ^ null vectors bucket to null; dropping them here matches the old
    # join-based plan, where a null key never equi-joined.

    def topk_in_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(columns=["a", "b", "score", "rank"])
        ids = pdf[id_col].to_numpy()
        # score on the FULL vectors (dim parameterizes bucketing only —
        # same contract as knn_join's exact dot product)
        width = max(len(v) for v in pdf[vec_col])
        mat = np.zeros((m, width), dtype=np.float64)
        for i, v in enumerate(pdf[vec_col]):
            mat[i, : len(v)] = v
        if quantized:
            qmat = _quantize_rows(mat)
            g = qmat @ qmat.T  # exact: integer-valued operands
            norms = np.sqrt(np.diag(g))
            denom = np.outer(norms, norms)
            gram = np.divide(
                g, denom, out=np.zeros_like(g), where=denom > 0
            )
        else:
            gram = mat @ mat.T
        # deterministic (score desc, b asc): sort by id first, then a
        # STABLE sort by -score keeps id order among equal scores
        id_order = np.argsort(ids, kind="stable")
        kk = min(k, m - 1)
        rows_a, rows_b, rows_s, rows_r = [], [], [], []
        for i in range(m):
            scores = gram[i, id_order]
            cand = np.argsort(-scores, kind="stable")
            rank = 0
            for j in cand:
                orig = id_order[j]
                if orig == i:
                    continue
                rank += 1
                rows_a.append(ids[i])
                rows_b.append(ids[orig])
                rows_s.append(float(gram[i, orig]))
                rows_r.append(rank)
                if rank == kk:
                    break
        return pd.DataFrame(
            {"a": rows_a, "b": rows_b, "score": rows_s, "rank": rows_r}
        )

    return bucketed.groupBy("__bkt").applyInPandas(
        topk_in_bucket,
        schema=f"a {id_type}, b {id_type}, score double, rank long",
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str = "id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked result
    lists — the standard hybrid-retrieval combiner (BM25 ⊕ dense
    vectors) in every RAG stack. score(d) = Σ_lists 1/(k0 + rank_i(d)),
    items absent from a list contribute 0.

    Each input is a (id_col, rank_col) frame that is top-k-sized by
    construction (the output of bm25_topk / cosine_topk — k rows, not
    corpus-sized), so the fusion is a join of tiny frames regardless of
    corpus scale; the result is TakeOrderedAndProject'd to k rows.

    Determinism: each reciprocal 1/(k0+rank) is one IEEE division of
    exact integers and the contributions are added in fixed list order
    (not a shuffled SUM), so the fused score is bit-identical across
    engines. Ties break by id.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    out = None
    rank_cols = []
    for i, df in enumerate(ranked):
        rc = f"rank_{i + 1}"
        rank_cols.append(rc)
        part = df.select(F.col(id_col), F.col(rank_col).alias(rc))
        out = part if out is None else out.join(part, id_col, "full_outer")
    score = None
    for rc in rank_cols:
        contrib = F.coalesce(
            F.lit(1.0) / (F.lit(k0) + F.col(rc)), F.lit(0.0)
        )
        score = contrib if score is None else score + contrib
    return (
        out.withColumn("rrf_score", score)
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    component_scale: int = 1_000_000,
) -> DataFrame:
    """Per-group embedding centroid as LONG-FORM rows
    (group, dim, mean): posexplode the vectors (map-only), then average
    per (group, dim) in INTEGER space — each component is half-up
    scaled to a long (floor(v*scale + 0.5): multiply and floor are
    exact IEEE ops, identical in every engine, unlike double->DECIMAL
    casts whose rounding path is engine-specific for arbitrary floats),
    summed exactly, and divided back once. One map-side-combined
    shuffle of (groups x dim) cells; order-independent, so the centroid
    is bit-reproducible under any partitioning and SQL-replayable.
    Long form on purpose: arrays defeat cross-engine value comparison;
    reassemble with a sorted collect when an array is needed.
    """
    v = F.col("__v").cast("double")
    scaled = F.floor(v * component_scale + F.lit(0.5)).cast("long")
    return (
        df.select(
            F.col(group_col),
            F.posexplode(F.col(vec_col)).alias("dim", "__v"),
        )
        .groupBy(group_col, "dim")
        .agg(
            (
                F.sum(scaled).cast("double")
                / (F.count(F.lit(1)) * F.lit(float(component_scale)))
            ).alias("mean")
        )
    )
