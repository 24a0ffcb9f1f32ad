"""Product quantization (PQ — Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search") for the embedding family.

At 100 TB the raw ``array<float>`` embedding column IS the storage and
scan bill: a 768-dim float corpus is 3 KB/row before any index. PQ
splits each vector into ``m`` subvectors, k-means-quantizes every
subspace independently, and stores only the ``m`` one-byte-ish
centroid codes — 3 KB → ~16–64 B (48–192×), with asymmetric-distance
(ADC) scoring off a per-query lookup table instead of any float math
over the corpus. This is the compression layer under every serving
stack (FAISS IVF-PQ, ScaNN); the engine's coarse IVF
(vector/search.py) composes with it: IVF prunes WHICH rows to score,
PQ makes scoring them a table lookup.

Spark shape (all three stages):

- **train**: the corpus explodes once into (id, sub, subvec) rows and
  ALL ``m`` subspace Lloyd runs train together — per iteration ONE
  corpus scan with a row-local argmin and one (sub, cid, dim)-keyed
  exact-integer centroid update whose shuffle payload is m·ksub·dsub
  rows per partition, independent of corpus size (the
  vector/kmeans.py update contract, partitioned by subspace).
- **encode**: map-only — per-row argmin per subspace, no shuffle.
  Training and encoding both assign through the one nearest-centroid
  kernel (vector/search.py ``_nearest_centroid``, metric ``l2sq``,
  part = subspace): the driver-held codebook rides in the plan as a
  literal, and only a codebook above 64k doubles is broadcast.
- **ADC search**: the query builds an m·ksub distance table
  DRIVER-side (k-sized by definition), broadcast-joins it to the codes
  and decimal-sums m lookups per row — one scan of the CODES (not the
  vectors), no float vector math in the hot path.

Determinism / oracle parity (q228/q229): seeded-hash init per
subspace, squared-L2 scored as the fixed-parenthesization
``(dot(v,v) - 2·dot(v,c)) + dot(c,c)`` of in-order-fold dots (argmin =
dist asc, cid asc), exact scaled-integer centroid means, and ADC sums
accumulated in DECIMAL — every stage replays bit-identically in SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame
from .search import _nearest_centroid, l2sq_expr

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
    "pq_build_index",
    "pq_upsert",
    "pq_delete",
    "pq_query",
    "pq_codebook",
    "pq_residuals",
    "ivfpq_residual_topk",
    "l2sq_expr",
]


def _l2sq_py(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side twin of :func:`l2sq_expr` — same fold order, same
    parenthesization, bit-identical doubles."""

    def dot(x, y):
        acc = 0.0
        for xi, yi in zip(x, y):
            acc = acc + float(xi) * float(yi)
        return acc

    return (dot(a, a) - 2.0 * dot(a, b)) + dot(b, b)


def _subrows(df: DataFrame, vec_col: str, id_col: str, m: int, dsub: int):
    """(id, sub, vec_col) — the vector exploded into its m subvectors,
    each under the vector's own column name (cast to double once, here,
    so every later stage sees the same values the oracle's CAST
    sees)."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("sub"),
                    F.slice(v, s * dsub + 1, dsub).alias("sv"),
                ),
            )
        ).alias("__s"),
    ).select(id_col, "__s.sub", F.col("__s.sv").alias(vec_col))


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not row:
        raise ValueError("pq_train: empty corpus")
    return row[0]["d"]


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    seed: str | int = 42,
    scale: int = 1_000_000,
) -> DataFrame:
    """Train the m-subspace codebook: one joint Lloyd run over the
    exploded (id, sub, subvec) rows (all subspaces per scan). Returns
    the codebook frame (``sub`` int, ``cid`` int, ``centroid``
    array<double>) — m·ksub rows, the broadcastable serving artifact.

    Init per subspace: the ksub rows with smallest
    ``md5(seed ':' sub ':' id)`` (id tiebreak), cid in that order —
    the vector/kmeans.py seeding rule, partitioned by subspace.
    Empty clusters keep their previous centroid."""
    if m < 1 or ksub < 1 or iters < 0:
        raise ValueError(
            f"pq_train: need m >= 1, ksub >= 1, iters >= 0; "
            f"got m={m}, ksub={ksub}, iters={iters}"
        )
    dim = _vec_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(
            f"pq_train: vector dim {dim} is not divisible by m={m}"
        )
    dsub = dim // m
    spark = df.sparkSession
    sub = _subrows(df, vec_col, id_col, m, dsub)
    sub.persist()
    try:
        # seeded init: ksub smallest hash keys PER subspace, one job
        from pyspark.sql import Window

        key = F.md5(
            F.concat(
                F.lit(f"{seed}:"),
                F.col("sub").cast("string"),
                F.lit(":"),
                F.col(id_col).cast("string"),
            )
        )
        w = Window.partitionBy("sub").orderBy(key, F.col(id_col))
        seeded = (
            sub.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= ksub)
            .select("sub", (F.col("__rn") - 1).alias("cid"), vec_col)
            .collect()
        )
        book = {(r["sub"], r["cid"]): list(r[vec_col]) for r in seeded}
        for _ in range(iters):
            assigned = _nearest_centroid(
                sub, [(s, c, v) for (s, c), v in book.items()], vec_col,
                [id_col], "l2sq", part_col="sub", keep_vec=True,
            )
            upd = (
                assigned.select(
                    "sub",
                    "centroid_id",
                    F.posexplode(
                        F.transform(
                            F.col(vec_col),
                            lambda x: F.floor(
                                x * scale + F.lit(0.5)
                            ).cast("long"),
                        )
                    ).alias("d", "iv"),
                )
                .groupBy("sub", "centroid_id", "d")
                .agg(F.sum("iv").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new: dict = {}
            for r in upd:
                new.setdefault((r["sub"], r["centroid_id"]), {})[r["d"]] = (
                    r["s"] / (r["n"] * scale)
                )
            for sk, comp in new.items():
                book[sk] = [comp[i] for i in range(dsub)]
            # keys absent from `new` (empty clusters) keep prior value
        return _book_df(spark, book)
    finally:
        sub.unpersist()


def _book_df(spark, book: dict) -> DataFrame:
    rows = [
        (int(s), int(c), [float(x) for x in v])
        for (s, c), v in sorted(book.items())
    ]
    return local_frame(
        spark, rows, "sub int, cid int, centroid array<double>"
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantize the corpus against a trained codebook: (id, sub, code)
    rows — m rows per vector, the compressed serving table (persist it
    partitioned/bucketed by id range; it replaces the float column in
    the ADC path). Map-only: the codebook is collected once and rides
    in the plan as a literal (per-row argmin, no shuffle)."""
    book = codebook.select("sub", "cid", "centroid").collect()
    if not book:
        raise ValueError("pq_encode: empty codebook")
    nsub = max(r["sub"] for r in book) + 1
    dims = [-1 if r["centroid"] is None else len(r["centroid"]) for r in book]
    dim = _vec_dim(df, vec_col)
    if dim % nsub != 0:
        raise ValueError(
            f"pq_encode: vector dim {dim} does not match codebook "
            f"m={nsub} subspaces"
        )
    # a wrong-dimension codebook (trained on a different corpus) must
    # raise here, before any Spark job, with the codebook's shape
    if min(dims) != dim // nsub or max(dims) != dim // nsub:
        raise ValueError(
            f"pq_encode: codebook centroids have {min(dims)}"
            f"–{max(dims)} dims but the corpus subvectors have "
            f"{dim // nsub} (dim {dim} / m {nsub}) — the codebook was "
            "trained on a different vector dimension"
        )
    sub = _subrows(df, vec_col, id_col, nsub, dim // nsub)
    return _nearest_centroid(
        sub, [(r["sub"], r["cid"], r["centroid"]) for r in book], vec_col,
        [id_col], "l2sq", part_col="sub",
    ).select(id_col, "sub", F.col("centroid_id").alias("code"))


def _query_book(codebook: DataFrame, q: list, fn: str):
    """The collected codebook rows and their subvector width, checked
    against a query of ``len(q)`` dims."""
    book = codebook.collect()
    if not book:
        raise ValueError(f"{fn}: empty codebook")
    dsub = len(book[0]["centroid"])
    m = max(r["sub"] for r in book) + 1
    if m * dsub != len(q):
        raise ValueError(
            f"{fn}: query dim {len(q)} != codebook m*dsub = {m * dsub}"
        )
    return book, dsub


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query_vec: Sequence[float],
    k: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: build the per-query (sub, cid) →
    squared-L2 distance table driver-side (m·ksub entries — serving
    state, never corpus-sized), broadcast it onto the codes, and
    decimal-sum the m lookups per row. Returns (id, adist) ordered
    (adist asc, id asc), k rows — smaller adist = nearer.

    The corpus side touches ONLY the integer codes table: no float
    vector is read, which is the entire point at 100 TB. Compose with
    the coarse IVF index by pre-filtering ``codes`` to the probed
    clusters (ivf_topk's assignment filter) for IVF-PQ serving."""
    if k < 1:
        raise ValueError(f"pq_adc_topk: k must be >= 1, got {k}")
    q = [float(x) for x in query_vec]
    book, dsub = _query_book(codebook, q, "pq_adc_topk")
    dtable = local_frame(
        codes.sparkSession, [
            (
                int(r["sub"]),
                int(r["cid"]),
                _l2sq_py(q[r["sub"] * dsub : (r["sub"] + 1) * dsub], r["centroid"]),
            )
            for r in book
        ],
        "sub int, code int, __dist double",
    )
    scored = codes.join(F.broadcast(dtable), ["sub", "code"]).groupBy(
        id_col
    ).agg(
        F.sum(F.col("__dist").cast("decimal(25,15)"))
        .cast("double")
        .alias("adist")
    )
    return scored.orderBy(F.asc("adist"), F.asc(id_col)).limit(k)


def ivfpq_topk(
    df: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
) -> DataFrame:
    """The full FAISS-style two-stage IVF-PQ serving DAG as one
    operator:

    1. COARSE probe — rank the IVF centroids against the query
       driver-side (the ivf_topk cosine rule: cos desc, cid asc) and
       keep the ``nprobe`` nearest clusters' ids from the persisted
       assignment index (partition-pruned scan when the index is
       partitioned by centroid_id);
    2. ADC shortlist — rank ONLY those candidates by PQ asymmetric
       distance over the integer codes table (:func:`pq_adc_topk` on
       the pre-filtered codes; no float vector read);
    3. EXACT rerank — score just the ``shortlist`` survivors with
       exact cosine against the float column and return the top ``k``
       (score desc, id asc).

    At 100 TB the float column is touched for ``shortlist`` rows ONLY
    — the probe reads the assignment index, the ranking reads the
    codes. ``shortlist`` is the recall/cost knob between the PQ
    approximation and the exact answer."""
    from .search import cosine_topk

    if k < 1 or shortlist < k or nprobe < 1:
        raise ValueError(
            f"ivfpq_topk: need k >= 1, shortlist >= k, nprobe >= 1; "
            f"got k={k}, shortlist={shortlist}, nprobe={nprobe}"
        )
    from .search import coarse_probe_ids

    cents = centroids.select(cent_id_col, cent_vec_col).collect()
    q = [float(x) for x in query_vec]
    probe_ids = coarse_probe_ids(cents, q, nprobe)
    cand_ids = assignments.filter(
        F.col("centroid_id").isin(probe_ids)
    ).select(id_col)
    short = pq_adc_topk(
        codes.join(cand_ids, id_col, "left_semi"),
        codebook,
        q,
        k=shortlist,
        id_col=id_col,
    ).select(id_col)
    return cosine_topk(
        df.join(F.broadcast(short), id_col),
        q,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )


# ---------------------------------------------------------------------------
# Persisted PQ index — the compression layer as a MAINTAINED artifact
# (the dedup/incremental.py index-family contract: self-describing,
# frozen quantizer, id-collision-gated increments, loud delete verbs)
# ---------------------------------------------------------------------------


def pq_build_index(
    df: DataFrame,
    codebook: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode the corpus and persist the codes table at ``path``
    (plus the codebook at ``{path}_codebook`` — SELF-DESCRIBING, the
    ivf ``_centroids`` pattern: upserts and queries read the quantizer
    from the index instead of trusting a caller-held frame). Returns
    the read-back codes. Day-N increments go through
    :func:`pq_upsert`; the codebook is FROZEN at build time (retrain
    on drift is a rebuild, the ivf_rebuild_on_drift contract)."""
    spark = df.sparkSession
    codebook.select("sub", "cid", "centroid").write.mode(
        "overwrite"
    ).parquet(path + "_codebook")
    pq_encode(df, codebook, vec_col, id_col).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def pq_codebook(spark, path: str) -> DataFrame:
    """The frozen codebook persisted beside the codes table."""
    from pyspark.errors import AnalysisException

    # catch ONLY the missing-path analysis error: a transient IO /
    # permission / corrupt-footer failure must surface as itself, not
    # as "rebuild the index" advice that triggers a full re-encode
    try:
        return spark.read.parquet(path + "_codebook")
    except AnalysisException as exc:
        raise FileNotFoundError(
            f"pq_codebook: no codebook table at {path}_codebook — the "
            "index is not self-describing; rebuild with pq_build_index"
        ) from exc


def pq_upsert(
    path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Fold an increment into the persisted codes: encode against the
    FROZEN codebook (read from the index — a stale caller-held frame
    can't corrupt the assignment) and APPEND. Per-vector encoding is
    independent, so upsert == rebuild exactly (no drift baseline
    needed — the codebook never moves until an explicit rebuild).
    RAISES on an id collision: codes are replace-nothing append-only,
    and a re-ingested id would serve duplicate rows from every ADC
    probe."""
    spark = new_df.sparkSession
    book = pq_codebook(spark, path)
    new_ids = new_df.select(F.col(id_col)).distinct()
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
            "pq_upsert: increment re-ingests ids already present in the "
            f"index (e.g. {sample}) — every ADC probe would serve "
            "duplicate rows. Increments must be id-disjoint; to replace "
            "vectors, pq_delete first or rebuild with pq_build_index."
        )
    pq_encode(new_df, book, vec_col, id_col).write.mode("append").parquet(
        path
    )


def pq_delete(path: str, ids: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Remove vectors from the persisted codes — the takedown verb.
    Every vector owns one row PER SUBSPACE, so a delete touches the
    whole table: the survivors are rewritten to a temp path and
    swapped in by directory rename (the ivf_compact crash-safety
    contract — a durable on-disk copy exists at every instant).
    Refuses to empty the index (an unreadable empty dir shaped like an
    index is worse than a loud stop). Returns the read-back codes."""
    spark = ids.sparkSession
    index = spark.read.parquet(path)
    doomed = ids.select(id_col).distinct()
    kept = index.join(F.broadcast(doomed), id_col, "left_anti")
    if kept.isEmpty():
        raise ValueError(
            "pq_delete: deleting every remaining vector would empty the "
            "index — drop the directory explicitly instead"
        )
    from ..util import swap_directory

    tmp = path + "__tmp"
    kept.write.mode("overwrite").parquet(tmp)
    swap_directory(spark, path, tmp, "pq_delete")
    return spark.read.parquet(path)


def pq_query(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against the PERSISTED index: codes + frozen codebook
    both read from disk — the serving call owns no state and never
    sees a float corpus vector."""
    return pq_adc_topk(
        spark.read.parquet(path),
        pq_codebook(spark, path),
        query_vec,
        k=k,
        id_col=id_col,
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ (the FAISS-faithful variant): quantize v − C[assign(v)]
# instead of v itself — residuals are smaller and better-centered than
# raw vectors, so the same m·ksub code budget buys more precision
# ---------------------------------------------------------------------------


def pq_residuals(
    df: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
) -> DataFrame:
    """(id, centroid_id, residual) — each vector minus its assigned
    coarse centroid (exact elementwise double subtraction; the coarse
    quantizer is the engine's IVF assignment rule). Map-only: the
    centroid table broadcasts, the assignment index joins on the id.
    Feed the ``residual`` column to :func:`pq_train` /
    :func:`pq_encode` for residual codebooks and codes."""
    cd = centroids.select(
        F.col(cent_id_col).alias("centroid_id"),
        F.col(cent_vec_col).cast("array<double>").alias("__cv"),
    )
    return (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
        .join(assignments.select(id_col, "centroid_id"), id_col)
        .join(F.broadcast(cd), "centroid_id")
        .select(
            id_col,
            "centroid_id",
            F.zip_with(
                "__v", "__cv", lambda a, b: a - b
            ).alias("residual"),
        )
    )


def ivfpq_residual_topk(
    codes: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_id_col: str = "cid",
) -> DataFrame:
    """Residual-ADC top-k: rank the coarse centroids against the query
    (the ivf_topk cosine rule), and for EACH of the ``nprobe`` probed
    clusters build its own distance table from the PER-CLUSTER query
    residual ``q − C[c]`` (nprobe·m·ksub entries, driver-side,
    broadcast) — the FAISS IVFPQ scoring shape:
    ``||q − (C[c] + dequant(r))||² = ||(q − C[c]) − dequant(r)||²``.
    The corpus side touches only the codes + the assignment index;
    returns (id, adist) ordered (adist asc, id asc), k rows."""
    if k < 1 or nprobe < 1:
        raise ValueError(
            f"ivfpq_residual_topk: need k >= 1, nprobe >= 1; "
            f"got k={k}, nprobe={nprobe}"
        )
    from .search import coarse_probe_ids

    cents = centroids.select(cent_id_col, cent_vec_col).collect()
    q = [float(x) for x in query_vec]
    byid = {r[0]: r[1] for r in cents}
    probed = [
        (pid, byid[pid]) for pid in coarse_probe_ids(cents, q, nprobe)
    ]
    book, dsub = _query_book(codebook, q, "ivfpq_residual_topk")
    spark = codes.sparkSession
    rows = []
    for pcid, pvec in probed:
        qres = [qx - float(cx) for qx, cx in zip(q, pvec)]
        for r in book:
            s = int(r["sub"])
            rows.append(
                (
                    int(pcid),
                    s,
                    int(r["cid"]),
                    _l2sq_py(qres[s * dsub : (s + 1) * dsub], r["centroid"]),
                )
            )
    dtable = local_frame(
        spark, rows, "centroid_id long, sub int, code int, __dist double"
    )
    cand = codes.join(
        assignments.select(
            id_col, F.col("centroid_id").cast("long").alias("centroid_id")
        ),
        id_col,
    )
    scored = cand.join(
        F.broadcast(dtable), ["centroid_id", "sub", "code"]
    ).groupBy(id_col).agg(
        F.sum(F.col("__dist").cast("decimal(25,15)"))
        .cast("double")
        .alias("adist")
    )
    return scored.orderBy(F.asc("adist"), F.asc(id_col)).limit(k)
