"""Hashed multinomial Naive-Bayes text classification — the
fastText-shaped linear classifier every production curation stack
runs between heuristics and the expensive models (GPT-3's quality
LR over CommonCrawl, CCNet's fastText language filter, LLaMA's
wiki-reference classifier). Train on a small labeled seed set, score
the 100 TB corpus with one broadcast join.

Recipe (multinomial NB, add-1 smoothing, hashing trick):

1. FEATURES: :func:`..text.dsir.hashed_ngram_features` — every
   unigram and bigram hashes into ``buckets`` slots, so the model is
   fixed-width no matter the vocabulary (and shares the DSIR feature
   pipeline exactly — one implementation to audit).
2. TRAIN: per class ``c``, bucket log-likelihoods
   ``llw(b,c) = ln((cnt(b,c)+1)/(total_c+buckets))``, the unseen-
   bucket default ``llw0(c) = ln(1/(total_c+buckets))``, and the doc
   prior ``ln(n_c/n)``.
3. SCORE: ``score(d,c) = prior_c + Σ_b cnt_b · llw(b,c)``. Computed
   in the DIFFERENCE form
   ``prior_c + tot_d·llw0_c + Σ_{b∈model} cnt_b·(llw(b,c) − llw0_c)``
   so out-of-vocabulary buckets never need a join row — the join hits
   only the ≤ ``buckets``·#classes model table, which broadcasts.
4. PREDICT: argmax over classes, tie → smallest label.

Scale shape: training shuffles bucket-width counts (≤ buckets ×
#classes rows), never corpus-width; scoring is one corpus feature
scan + one broadcast join + one doc-keyed aggregation. No Python in
the hot path, no all-pairs anything.

Determinism / oracle parity (q238): every ``ln`` is rounded ONCE to
a scaled long (the q230 DSIR rule — llr_scale 1e-6 cells absorb
libm final-ulp wobble), after which scores are exact integer dot
products: ``iscore = iprior + tot·illw0 + Σ cnt·idelta`` in longs,
divided once by the scale at the end. Argmax compares longs — no
float comparison anywhere, so Spark, DuckDB, and any partitioning
agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame
from .dsir import hashed_ngram_features

__all__ = [
    "nb_train",
    "nb_score",
    "nb_classify",
    "nb_classify_expr",
    "stream_quality_gate",
    "nb_build_index",
    "nb_model",
    "nb_params",
    "nb_index_upsert",
    "nb_index_delete",
    "nb_tables",
    "nb_fold_increment",
    "nb_model_tables",
]


def _iln(expr, scale: int):
    """round(ln(expr)·scale) as a long — the round-once rule."""
    return F.floor(F.log(expr) * scale + F.lit(0.5)).cast("long")


def nb_train(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 1_000_000,
) -> dict[str, DataFrame]:
    """Fit the classifier on a labeled seed set. Returns two tables
    (the broadcastable model artifact — persist them beside the
    pipeline like any index):

    - ``model``: (label, bucket, idelta) — ``idelta = illw − illw0``,
      the scaled-long log-likelihood LIFT of seeing bucket ``b`` in
      class ``c`` over an unseen bucket. Only (class, observed-bucket)
      pairs appear: ≤ buckets × #classes rows.
    - ``classes``: (label, iprior, illw0) — scaled-long doc prior and
      unseen-bucket default per class.

    Both tables are exact integer artifacts: ``illw`` and ``illw0``
    are each rounded once from their own ``ln``, and ``idelta`` is
    their integer difference — the oracle replays every value."""
    if buckets < 2:
        raise ValueError(f"nb_train: buckets must be >= 2, got {buckets}")
    feats = hashed_ngram_features(
        labeled.select(id_col, text_col), id_col, text_col, buckets
    )
    lab = labeled.select(id_col, label_col)
    counts = (
        feats.join(lab, id_col)
        .groupBy(label_col, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    n_docs = lab.groupBy(label_col).agg(F.count(F.lit(1)).alias("nc"))
    n_all = lab.count()
    if n_all == 0:
        raise ValueError("nb_train: empty training set")
    return _derive_tables(counts, n_docs, n_all, buckets, scale, label_col)


def _derive_tables(
    counts: DataFrame,
    n_docs: DataFrame,
    n_all: int,
    buckets: int,
    scale: int,
    label_col: str,
) -> dict[str, DataFrame]:
    """model + classes from raw count tables — shared by :func:`nb_train`
    (in-memory) and :func:`nb_model` (persisted index), so an index
    rebuilt from folded counts derives EXACTLY the tables a fresh
    retrain would (the upsert == retrain contract q243 locks)."""
    # counts is ≤ buckets × #classes rows but its lineage is the full
    # training scan — materialize once so model/classes (and the two
    # driver collects nb_classify_expr issues) don't re-run training
    counts = counts.localCheckpoint(eager=False)
    totals = counts.groupBy(label_col).agg(F.sum("cnt").alias("tot"))
    classes = (
        n_docs.join(totals, label_col, "left")
        .select(
            label_col,
            _iln(F.col("nc").cast("double") / F.lit(float(n_all)), scale)
            .alias("iprior"),
            # a class whose every doc is empty text still gets the
            # smoothed default over an all-zero model
            _iln(
                F.lit(1.0)
                / (F.coalesce(F.col("tot"), F.lit(0)) + buckets).cast(
                    "double"
                ),
                scale,
            ).alias("illw0"),
        )
    )
    model = (
        counts.join(totals, label_col)
        .select(
            label_col,
            "bucket",
            (
                _iln(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("tot") + buckets).cast("double"),
                    scale,
                )
                - _iln(
                    F.lit(1.0) / (F.col("tot") + buckets).cast("double"),
                    scale,
                )
            ).alias("idelta"),
        )
    )
    return {"model": model, "classes": classes}


def nb_score(
    df: DataFrame,
    model: dict[str, DataFrame] | DataFrame,
    classes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 1_000_000,
    label_col: str = "label",
) -> DataFrame:
    """Per-(doc, class) log-probability scores: (id, label, iscore
    long, score double). ``buckets`` MUST match the training value
    (the hashing trick's one contract). One corpus feature scan; the
    model and class tables broadcast."""
    if isinstance(model, dict):
        classes = model["classes"]
        model = model["model"]
    if classes is None:
        raise ValueError("nb_score: classes table is required")
    # the corpus feature frame feeds BOTH the doc_tot rollup and the
    # matched join — materialize it once instead of tokenizing the
    # 100 TB corpus twice (the dsir_weights pattern)
    feats = hashed_ngram_features(
        df.select(id_col, text_col), id_col, text_col, buckets
    ).localCheckpoint(eager=True)
    # a doc with no grams (empty text) still scores: prior only
    doc_tot = df.select(id_col).join(
        feats.groupBy(id_col).agg(F.sum("cnt").alias("tot")),
        id_col,
        "left",
    ).select(id_col, F.coalesce("tot", F.lit(0)).alias("tot"))
    matched = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy(id_col, label_col)
        .agg(F.sum(F.col("cnt") * F.col("idelta")).alias("imatch"))
    )
    base = doc_tot.crossJoin(F.broadcast(classes))
    scored = base.join(matched, [id_col, label_col], "left").select(
        id_col,
        label_col,
        (
            F.col("iprior")
            + F.col("tot") * F.col("illw0")
            + F.coalesce(F.col("imatch"), F.lit(0))
        ).alias("iscore"),
    )
    return scored.withColumn(
        "score", F.col("iscore").cast("double") / F.lit(float(scale))
    )


def nb_classify(
    df: DataFrame,
    model: dict[str, DataFrame] | DataFrame,
    classes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 1_000_000,
    label_col: str = "label",
) -> DataFrame:
    """Best class per document: (id, pred, score) — argmax over the
    :func:`nb_score` table, integer comparison, tie → smallest label.
    One extra doc-keyed aggregation over the scored stream."""
    scored = nb_score(
        df, model, classes, text_col, id_col, buckets, scale, label_col
    )
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct((-F.col("iscore")).alias("nis"), F.col(label_col))
        ).alias("__b")
    )
    return best.select(
        id_col,
        F.col(f"__b.{label_col}").alias("pred"),
        (
            (-F.col("__b.nis")).cast("double") / F.lit(float(scale))
        ).alias("score"),
    )


# model tables up to this many (bucket, class) literal entries ride in
# the plan as array literals for the row-local scorer — the PQ-codebook
# literal bound's pattern (vector/search.py _LITERAL_BOOK_MAX_DOUBLES)
_LITERAL_MODEL_MAX_ENTRIES = 65536


def nb_classify_expr(
    fitted: dict[str, DataFrame],
    text_col: str = "text",
    buckets: int = 4096,
    scale: int = 1_000_000,
    label_col: str = "label",
):
    """ROW-LOCAL classification column — the whole trained model rides
    in the plan as per-class literal arrays (idelta indexed by bucket,
    ≤ buckets·#classes ints; bounded like the PQ codebook literal), so
    scoring is a pure column expression: tokens → grams → md5 bucket →
    literal-array lookup folded with ``aggregate`` — zero shuffle,
    zero state, whole-stage codegen. Integer addition is commutative,
    so the row-local gram fold equals :func:`nb_score`'s bucket-count
    dot product EXACTLY (q242 locks the twin against q238's oracle).

    This is the shape a STREAMING gate needs (no groupBy → no state
    store → append-mode-safe) and what a 100 TB scan wants anyway
    (the broadcast join disappears entirely).

    Returns a struct column ``(pred, iscore, score)``; tie-break
    smallest label, identical to :func:`nb_classify`."""
    class_rows = sorted(
        fitted["classes"].collect(), key=lambda r: r[label_col]
    )
    if not class_rows:
        raise ValueError("nb_classify_expr: empty classes table")
    n_entries = buckets * len(class_rows)
    if n_entries > _LITERAL_MODEL_MAX_ENTRIES:
        raise ValueError(
            f"nb_classify_expr: {n_entries} literal model entries "
            f"(buckets={buckets} × {len(class_rows)} classes) exceeds "
            f"{_LITERAL_MODEL_MAX_ENTRIES} — too large for a plan "
            "literal; use nb_score/nb_classify (broadcast join) instead"
        )
    deltas: dict = {
        r[label_col]: [0] * buckets for r in class_rows
    }
    for r in fitted["model"].collect():
        deltas[r[label_col]][r["bucket"]] = int(r["idelta"])
    from .dsir import gram_array, gram_bucket

    # NULL text coalesces to '' so it scores prior-only (tot 0, empty
    # gram fold) — EXACTLY nb_score's behavior, where explode drops
    # the row and doc_tot coalesces to 0. Without this, size(NULL) is
    # -1 and the NULL fold makes pred a null-ordering artifact.
    grams = gram_array(F.coalesce(F.col(text_col), F.lit("")))
    tot = F.size(grams)

    def bucket_of(g):
        return gram_bucket(g, buckets).cast("int")

    scored = []
    for r in class_rows:
        arr = F.lit(deltas[r[label_col]])
        isc = (
            F.lit(int(r["iprior"]))
            + tot.cast("long") * F.lit(int(r["illw0"]))
            + F.aggregate(
                grams,
                F.lit(0).cast("long"),
                lambda acc, g: acc
                + F.element_at(arr, bucket_of(g) + 1).cast("long"),
            )
        )
        scored.append(
            F.struct(
                (-isc).alias("nis"), F.lit(r[label_col]).alias("lbl")
            )
        )
    best = F.element_at(F.array_sort(F.array(*scored)), 1)
    iscore = -best.getField("nis")
    return F.struct(
        best.getField("lbl").alias("pred"),
        iscore.alias("iscore"),
        (iscore.cast("double") / F.lit(float(scale))).alias("score"),
    )


def stream_quality_gate(
    sdf: DataFrame,
    fitted: dict[str, DataFrame],
    keep: Sequence[str],
    text_col: str = "text",
    buckets: int = 4096,
    scale: int = 1_000_000,
    label_col: str = "label",
) -> DataFrame:
    """STREAMING classifier gate: keep only documents whose predicted
    class is in ``keep`` — the fastText-filter-at-ingest shape (CCNet
    drops non-target languages, GPT-3 drops low-quality pages, at the
    crawl firehose). Entirely STATELESS (the :func:`nb_classify_expr`
    row-local scorer — no watermark, no state store, append-mode-safe):
    the model rides as a plan literal and the stream is gated at scan
    parallelism. Emits ``pred`` / ``score`` audit columns alongside
    the input columns. Works identically on a batch frame (stream ==
    batch is exact — the expression is row-local)."""
    keep = list(keep)
    if not keep:
        raise ValueError("stream_quality_gate: keep must be non-empty")
    cls = nb_classify_expr(fitted, text_col, buckets, scale, label_col)
    return (
        sdf.withColumn("pred", cls.getField("pred"))
        .withColumn("score", cls.getField("score"))
        .filter(F.col("pred").isin(keep))
    )


# ---------------------------------------------------------------------------
# Persisted NB index — the classifier as a MAINTAINED artifact
# (the dedup/incremental.py index-family contract). NB is the rare
# model whose maintenance verbs are EXACT: counts are mergeable AND
# decrementable, so upsert == retrain-on-union and delete ==
# retrain-without, bit for bit.
# ---------------------------------------------------------------------------


def nb_build_index(
    labeled: DataFrame,
    path: str,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 1_000_000,
) -> dict[str, DataFrame]:
    """Fit and PERSIST the classifier at ``path``: raw bucket counts
    (``{path}/counts``), the doc registry (``{path}/docs`` — the
    id-collision gate and the prior's source), and the params table
    (``{path}/params`` — SELF-DESCRIBING, the ivf ``_centroids``
    pattern: upserts validate against it instead of trusting the
    caller). Counts are stored RAW (not log-space) because raw counts
    are what merges and decrements exactly. Returns the derived
    model tables."""
    spark = labeled.sparkSession
    tables = nb_tables(labeled, label_col, text_col, id_col, buckets, scale)
    tables["counts"].write.mode("overwrite").parquet(path + "/counts")
    tables["docs"].write.mode("overwrite").parquet(path + "/docs")
    tables["params"].write.mode("overwrite").parquet(path + "/params")
    return nb_model(spark, path)


def nb_params(spark, path: str) -> dict:
    """The persisted params row as a dict."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(path + "/params").collect()[0]
    except AnalysisException as exc:
        raise FileNotFoundError(
            f"nb_params: no params table at {path}/params — not an NB "
            "index; build with nb_build_index"
        ) from exc
    return {k: row[k] for k in row.asDict()}


def _nb_check_params(
    params: dict, buckets: int | None, scale: int | None, verb: str
) -> tuple[int, int]:
    """Probe-side params either omitted (read from the index) or equal
    to the stored ones — a mismatched ``buckets`` would silently score
    against the wrong hash space (the dedup/incremental _check_params
    rule)."""
    b = params["buckets"] if buckets is None else buckets
    s = params["scale"] if scale is None else scale
    if b != params["buckets"] or s != params["scale"]:
        raise ValueError(
            f"{verb}: caller params (buckets={b}, scale={s}) do not "
            f"match the index ({params['buckets']}, {params['scale']}) "
            "— pass none, or the stored values"
        )
    return int(b), int(s)


def nb_model(spark, path: str) -> dict[str, DataFrame]:
    """Derive the serving tables from the persisted counts — EXACTLY
    what a fresh :func:`nb_train` on the registered docs would
    produce (shared :func:`_derive_tables` arithmetic)."""
    params = nb_params(spark, path)
    counts = spark.read.parquet(path + "/counts")
    docs = spark.read.parquet(path + "/docs")
    label_col = params["label_col"]
    n_docs = docs.groupBy(label_col).agg(F.count(F.lit(1)).alias("nc"))
    n_all = docs.count()
    if n_all == 0:
        raise ValueError(f"nb_model: index at {path} has no documents")
    return _derive_tables(
        counts, n_docs, n_all, int(params["buckets"]),
        int(params["scale"]), label_col,
    )


def nb_tables(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 1_000_000,
) -> dict[str, DataFrame]:
    """The three index tables as PURE DataFrames — no writes: raw
    bucket ``counts`` (raw because raw counts are what merges and
    decrements exactly), the ``docs`` registry (the collision gate and
    the prior's source), and the one-row self-describing ``params``.
    :func:`nb_build_index` persists exactly these in the in-place
    layout; the versioned streaming-maintenance artifact persists them
    under ``v{{N}}`` directories — one arithmetic for both."""
    if buckets < 2:
        raise ValueError(f"nb_tables: buckets must be >= 2, got {buckets}")
    spark = labeled.sparkSession
    feats = hashed_ngram_features(
        labeled.select(id_col, text_col), id_col, text_col, buckets
    )
    lab = labeled.select(id_col, label_col)
    if lab.isEmpty():
        raise ValueError("nb_tables: empty training set")
    counts = (
        feats.join(lab, id_col)
        .groupBy(label_col, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    params = local_frame(
        spark, [(int(buckets), int(scale), label_col, id_col, text_col)],
        "buckets long, scale long, label_col string, id_col string, "
        "text_col string",
    )
    return {"counts": counts, "docs": lab, "params": params}


def _gate_increment(
    lab: DataFrame, docs: DataFrame, id_col: str, verb: str
) -> None:
    """The two increment gates every exact-count fold needs: an id
    duplicated WITHIN the increment would double-count AND
    double-register; an id already REGISTERED would double its counts
    silently on re-ingest. Both raise loudly."""
    sizes = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(id_col).alias("nd"),
    ).collect()[0]
    if sizes["n"] != sizes["nd"]:
        raise ValueError(
            f"{verb}: increment contains duplicate ids "
            f"({sizes['n']} rows, {sizes['nd']} distinct) — dedupe "
            "before folding in, or counts double silently"
        )
    clashes = (
        docs.join(
            F.broadcast(lab.select(id_col).distinct()), id_col, "left_semi"
        )
        .limit(5)
        .collect()
    )
    if clashes:
        sample = ", ".join(str(r[0]) for r in clashes)
        raise ValueError(
            f"{verb}: increment re-ingests registered doc ids "
            f"(e.g. {sample}) — their counts would double silently. "
            "nb_index_delete them first, or rebuild."
        )


def _merged_counts(
    old: DataFrame, inc: DataFrame, label_col: str
) -> DataFrame:
    """old + increment bucket counts, full-outer coalesced add — the
    EXACT additive merge (upsert == retrain-on-union bit for bit)."""
    return (
        old.withColumnRenamed("cnt", "__a")
        .join(
            inc.withColumnRenamed("cnt", "__b"),
            [label_col, "bucket"],
            "full",
        )
        .select(
            label_col,
            "bucket",
            (
                F.coalesce("__a", F.lit(0)) + F.coalesce("__b", F.lit(0))
            ).alias("cnt"),
        )
    )


def nb_fold_increment(
    tables: dict[str, DataFrame], new_labeled: DataFrame
) -> dict[str, DataFrame]:
    """PURE functional fold of a labeled increment into the NB table
    set (no writes — the versioned streaming-maintenance building
    block; :func:`nb_index_upsert` is the in-place twin): new counts =
    old + increment (exact additive merge), new docs = old ∪
    increment. Params (buckets, column names) come from the table set
    itself, never the caller. Gates: duplicate-in-increment and
    already-registered ids both RAISE.

    Crash atomicity belongs to the CALLER's write protocol: the
    streaming loop writes the folded tables as a NEW version directory
    and commit-marks it, so a crash mid-write leaves the previous
    version intact and an at-least-once replay folds onto it exactly
    once (the registered-id gate catches a double fold loudly)."""
    p = tables["params"].collect()[0]
    label_col, id_col = p["label_col"], p["id_col"]
    text_col, buckets = p["text_col"], int(p["buckets"])
    lab = new_labeled.select(id_col, label_col)
    _gate_increment(lab, tables["docs"], id_col, "nb_fold_increment")
    feats = hashed_ngram_features(
        new_labeled.select(id_col, text_col), id_col, text_col, buckets
    )
    inc_counts = (
        feats.join(lab, id_col)
        .groupBy(label_col, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return {
        "counts": _merged_counts(
            tables["counts"], inc_counts, label_col
        ).localCheckpoint(eager=True),
        "docs": tables["docs"].unionByName(lab).localCheckpoint(eager=True),
        "params": tables["params"],
    }


def nb_model_tables(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Derive the serving model/classes tables from an NB table set —
    :func:`nb_model` without the path reads (the versioned-artifact
    serving path); shared :func:`_derive_tables` arithmetic, so a
    folded table set derives EXACTLY what a fresh retrain on the
    registered docs would."""
    p = tables["params"].collect()[0]
    label_col = p["label_col"]
    docs = tables["docs"]
    n_docs = docs.groupBy(label_col).agg(F.count(F.lit(1)).alias("nc"))
    n_all = docs.count()
    if n_all == 0:
        raise ValueError("nb_model_tables: table set has no documents")
    return _derive_tables(
        tables["counts"], n_docs, n_all, int(p["buckets"]),
        int(p["scale"]), label_col,
    )


def nb_index_upsert(
    path: str,
    new_labeled: DataFrame,
    buckets: int | None = None,
    scale: int | None = None,
) -> None:
    """Fold a labeled increment into the persisted counts. EXACT:
    counts are additive, so upsert == retrain-on-union bit for bit
    (q243's oracle IS the full retrain). RAISES on an id collision —
    re-ingesting a doc would double its counts silently.

    Crash ordering: the registry appends FIRST, then the counts swap
    (rename, durable copy at every instant — ``util.swap_directory``).
    A crash between the two leaves registered ids with stale counts;
    the REPLAY then raises the collision gate (loud) instead of
    double-adding counts (silent) — recover by rebuilding with
    nb_build_index."""
    from ..util import swap_directory

    spark = new_labeled.sparkSession
    params = nb_params(spark, path)
    b, _ = _nb_check_params(params, buckets, scale, "nb_index_upsert")
    label_col, id_col = params["label_col"], params["id_col"]
    text_col = params["text_col"]
    lab = new_labeled.select(id_col, label_col)
    _gate_increment(
        lab, spark.read.parquet(path + "/docs"), id_col, "nb_index_upsert"
    )
    feats = hashed_ngram_features(
        new_labeled.select(id_col, text_col), id_col, text_col, b
    )
    inc_counts = (
        feats.join(lab, id_col)
        .groupBy(label_col, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    old = spark.read.parquet(path + "/counts")
    merged = _merged_counts(old, inc_counts, label_col).localCheckpoint(
        eager=True
    )
    lab.write.mode("append").parquet(path + "/docs")
    tmp = path + "/counts__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    swap_directory(spark, path + "/counts", tmp, "nb_index_upsert")


def nb_index_delete(path: str, doomed_labeled: DataFrame) -> None:
    """Remove documents from the index — the takedown verb, and it is
    EXACT: NB counts decrement, so delete == retrain-without bit for
    bit (q244's oracle IS the reduced retrain). The caller supplies
    the full labeled rows (id, text, label) — the text is what is
    being un-counted. RAISES if any id is not registered (decrementing
    what was never added corrupts counts) and refuses to empty the
    index.

    Crash ordering: the registry swap lands FIRST, then the counts
    swap — a crash between the two leaves de-registered ids with
    stale counts, and the REPLAY raises the not-registered gate (loud)
    instead of double-decrementing (silent)."""
    from ..util import swap_directory

    spark = doomed_labeled.sparkSession
    params = nb_params(spark, path)
    b = int(params["buckets"])
    label_col, id_col = params["label_col"], params["id_col"]
    text_col = params["text_col"]
    docs = spark.read.parquet(path + "/docs")
    sizes = doomed_labeled.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(id_col).alias("nd"),
    ).collect()[0]
    if sizes["n"] != sizes["nd"]:
        raise ValueError(
            f"nb_index_delete: takedown set contains duplicate ids "
            f"({sizes['n']} rows, {sizes['nd']} distinct) — counts "
            "would decrement twice"
        )
    doomed_ids = doomed_labeled.select(id_col).distinct()
    # gate on the REGISTERED (id, label) pair, not the caller's claim:
    # a wrong label would decrement the wrong class's counts, and the
    # cnt > 0 filter below would silently swallow the negatives —
    # permanent model corruption with no error
    mismatched = (
        doomed_labeled.select(id_col, label_col)
        .join(docs, [id_col, label_col], "left_anti")
        .limit(5)
        .collect()
    )
    if mismatched:
        sample = ", ".join(
            f"({r[0]}, {r[1]!r})" for r in mismatched
        )
        raise ValueError(
            "nb_index_delete: rows not registered with that label "
            f"(e.g. {sample}) — either the id was never added or the "
            "supplied label differs from the registered one; "
            "decrementing would corrupt the model"
        )
    kept_docs = docs.join(
        F.broadcast(doomed_ids), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    if kept_docs.isEmpty():
        raise ValueError(
            "nb_index_delete: deleting every registered document would "
            "empty the index — drop the directory explicitly instead"
        )
    feats = hashed_ngram_features(
        doomed_labeled.select(id_col, text_col), id_col, text_col, b
    )
    dec = (
        feats.join(doomed_labeled.select(id_col, label_col), id_col)
        .groupBy(label_col, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    old = spark.read.parquet(path + "/counts")
    merged = (
        old.withColumnRenamed("cnt", "__a")
        .join(
            dec.withColumnRenamed("cnt", "__b"),
            [label_col, "bucket"],
            "left",
        )
        .select(
            label_col,
            "bucket",
            (F.col("__a") - F.coalesce("__b", F.lit(0))).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
        .localCheckpoint(eager=True)
    )
    tmp_d = path + "/docs__tmp"
    kept_docs.write.mode("overwrite").parquet(tmp_d)
    swap_directory(spark, path + "/docs", tmp_d, "nb_index_delete")
    tmp_c = path + "/counts__tmp"
    merged.write.mode("overwrite").parquet(tmp_c)
    swap_directory(spark, path + "/counts", tmp_c, "nb_index_delete")
