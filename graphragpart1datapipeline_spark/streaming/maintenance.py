"""STREAMING daily-maintenance loop — q209's composed incremental DAG
(CDC → embedding near-dup → connected components → BM25 → IVF) driven
by Structured Streaming micro-batches instead of one batch increment.

Each foreachBatch call folds one micro-batch of full-row changes
(id, text, embedding, seq, op) into EVERY persisted maintenance
artifact, and every artifact but the IVF/PQ indexes is a versioned
table between batches (``sources/versioned.py`` owns the layout and
the commit protocol):

    work_dir/docs/v{N}    CDC'd corpus text state
    work_dir/ndix/v{N}    hyperplane-LSH near-dup index tables
    work_dir/cc/v{N}      connected-component labels
    work_dir/bm25/v{N}    BM25 postings/dl/dfreq/params tables
    work_dir/ivf          partitioned IVF index (ivf_upsert appends)
    work_dir/pq           PQ codes index (optional — init pq_m=...;
                          frozen codebook beside it, pq_upsert appends)

ORDER-INDEPENDENCE (what makes stream == batch provable): CDC is
out-of-order-safe (per-key max-seq wins); each batch's near-dup probe
pairs the batch against the index AS OF all previously folded batches
plus itself, so every cross-batch pair is generated exactly once no
matter the arrival order; incremental CC converges to the CC of the
union edge set; BM25 df-counts are additive; IVF assignment is
per-vector independent and its drift baseline is the count-weighted
exact mean. q223 locks the whole loop against the SAME full-rebuild
oracle as q209 — stream-of-micro-batches == one batch == rebuild.

CONTRACT: ids must be batch-disjoint across micro-batches (a re-crawl
of the same id lands in the same day-batch, exactly q209's feed
shape) — the IVF index is append-only and ivf_upsert RAISES on a
cross-batch id collision rather than double-counting.

REPLAY SAFETY: foreachBatch is at-least-once, and every stage is
idempotent under a crash-replay — CDC latest-wins, LSH/BM25
replace-by-rid upserts, CC re-merge of already-merged edges — except
the IVF append, which the loop guards explicitly: a fully-applied
replayed batch is detected (all its ids already indexed) and skipped;
a partially-applied one raises with a rebuild instruction instead of
silently double-counting or wedging on the collision gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.versioned import prune_state_versions, read_version, write_version
from .cdc import _fold_batch, _require_state, init_cdc_state

__all__ = [
    "init_maintenance_state",
    "stream_maintenance",
    "read_maintenance_state",
]

_ND_KEYS = ("buckets", "params")
_BM_KEYS = ("postings", "dl", "dfreq", "params")
_NB_KEYS = ("counts", "docs", "params")


def init_maintenance_state(
    corpus_docs: DataFrame,
    corpus_emb: DataFrame,
    centroids: DataFrame,
    work_dir: str,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    cent_id_col: str = "cid",
    pq_m: int | None = None,
    pq_ksub: int = 16,
    nb_label_col: str | None = None,
    nb_buckets: int = 4096,
) -> None:
    """Seed every artifact from the day-0 corpus: CDC doc state, LSH
    near-dup index, CC labels of the day-0 pair graph, BM25 index, IVF
    index (+ its _stats drift baseline). Each versioned artifact gets a
    new version on top of any earlier one, so re-seeding a used
    ``work_dir`` serves the new seed. ``pq_m``: when set, ALSO
    train an m-subspace PQ codebook on the day-0 embeddings and build
    the compressed codes index at ``work_dir/pq`` (vector/pq.py
    pq_build_index — frozen codebook persisted beside the codes);
    :func:`stream_maintenance` then folds every increment into it.
    ``nb_label_col``: when set, ``corpus_docs`` (and every change row)
    must carry that label column; a VERSIONED NB classifier
    index (text/classify.py nb_tables — raw counts + doc registry +
    params) lands at ``work_dir/nb`` and the loop folds every
    increment with the EXACT additive merge (stream == batch ==
    retrain, the q243 contract). A seed without ``pq_m`` or
    ``nb_label_col`` removes that artifact left by an earlier seed of
    the same ``work_dir``."""
    from ..dedup.embedding import embedding_near_dup_pairs
    from ..dedup.incremental import embedding_lsh_index
    from ..graph.communities import connected_components
    from ..text.bm25_index import bm25_index
    from ..vector.search import ivf_build_index

    init_cdc_state(
        corpus_docs.select(id_col, text_col), os.path.join(work_dir, "docs")
    )
    write_version(
        embedding_lsh_index(corpus_emb, vec_col=vec_col, id_col=vec_id_col),
        os.path.join(work_dir, "ndix"),
    )
    pairs = embedding_near_dup_pairs(
        corpus_emb, threshold=threshold, vec_col=vec_col, id_col=vec_id_col
    )
    write_version(
        connected_components(pairs, src="a", dst="b"),
        os.path.join(work_dir, "cc"),
    )
    write_version(
        bm25_index(corpus_docs, text_col=text_col, id_col=id_col),
        os.path.join(work_dir, "bm25"),
    )
    ivf_build_index(
        corpus_emb,
        centroids,
        os.path.join(work_dir, "ivf"),
        vec_col=vec_col,
        id_col=vec_id_col,
        cent_vec_col=vec_col,
        cent_id_col=cent_id_col,
    )
    if pq_m is not None:
        from ..vector.pq import pq_build_index, pq_train

        book = pq_train(
            corpus_emb, m=pq_m, ksub=pq_ksub,
            vec_col=vec_col, id_col=vec_id_col,
        )
        pq_build_index(
            corpus_emb, book, os.path.join(work_dir, "pq"),
            vec_col=vec_col, id_col=vec_id_col,
        )
    if nb_label_col is not None:
        from ..text.classify import nb_tables

        nbt = nb_tables(
            corpus_docs.select(id_col, text_col, nb_label_col),
            label_col=nb_label_col, text_col=text_col, id_col=id_col,
            buckets=nb_buckets,
        )
        write_version(nbt, os.path.join(work_dir, "nb"))
    # the reads and the loop treat an optional artifact's presence as
    # "enabled", so one this seed did not build must not survive it
    spark = corpus_docs.sparkSession
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    for name, built in (
        ("pq", pq_m), ("pq_codebook", pq_m), ("nb", nb_label_col)
    ):
        if built is None:
            p = path_cls(os.path.join(work_dir, name))
            p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)


def read_maintenance_state(spark: SparkSession, work_dir: str) -> dict:
    """The newest committed version of every artifact: dict with
    ``docs`` / ``labels`` DataFrames, ``ndix`` / ``bm25`` table dicts,
    and the ``ivf`` index path (hand to ivf_topk via its persisted
    assignments)."""
    out = {
        key: read_version(spark, os.path.join(work_dir, name), tables)[0]
        for key, name, tables in (
            ("docs", "docs", None),
            ("ndix", "ndix", _ND_KEYS),
            ("bm25", "bm25", _BM_KEYS),
            ("labels", "cc", None),
        )
    }
    out["ivf"] = os.path.join(work_dir, "ivf")
    from ..vector.search import ivf_centroids

    jvm = spark._jvm
    cent_p = jvm.org.apache.hadoop.fs.Path(out["ivf"] + "_centroids")
    fs = cent_p.getFileSystem(spark._jsc.hadoopConfiguration())
    # probe existence first (the pq lookup's pattern): a work_dir whose
    # IVF index predates centroid persistence still has valid docs /
    # ndix / cc / bm25 state — a caller who only needs those must not
    # lose access to everything. ``centroids`` is None for such dirs;
    # ivf_centroids itself still raises with guidance when called.
    out["centroids"] = (
        ivf_centroids(spark, out["ivf"]) if fs.exists(cent_p) else None
    )
    pq_path = os.path.join(work_dir, "pq")
    pq_p = jvm.org.apache.hadoop.fs.Path(pq_path + "_codebook")
    if fs.exists(pq_p):
        out["pq"] = pq_path
    try:
        nb_dir = os.path.join(work_dir, "nb")
        out["nb"] = read_version(spark, nb_dir, _NB_KEYS)[0]
    except FileNotFoundError:
        pass
    return out


def stream_maintenance(
    changes: DataFrame,
    work_dir: str,
    centroids: DataFrame | None = None,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    cent_id_col: str = "cid",
    seq_col: str = "seq",
    op_col: str = "op",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    keep_versions: int | None = None,
    drift_frac: float = 0.8,
):
    """Run the change stream through the full maintenance DAG with
    foreachBatch; call :func:`init_maintenance_state` first. Returns
    the StreamingQuery (``available_now=True`` drains the backlog and
    stops — the daily-crawl operating mode). ``changes`` carries
    full-row images (``id_col``, ``text_col``, ``vec_col``) plus
    (``seq_col``, ``op_col``); within a batch the per-key max-seq
    upsert row wins before any index sees it (a stale re-crawl row
    never reaches the indexes, q209's CDC semantics).

    ``centroids``: None (default) reads the coarse quantizer from the
    SELF-DESCRIBING index (``{ivf}_centroids``, which
    init_maintenance_state's build persisted) at each batch — so an
    out-of-band drift rebuild (ivf_rebuild_on_drift) is picked up on
    the next micro-batch instead of assigning against a stale frame.
    Pass a frame only to pin a specific quantizer.

    ``drift_frac``: the IVF assignment-quality gate threshold handed
    to ivf_upsert (an increment whose mean assignment cosine falls
    below ``drift_frac`` × the build baseline raises IvfDriftError —
    run ivf_rebuild_on_drift). Operating knob: a day-0 slice that is
    small relative to its increments (or that contains the centroids
    themselves, inflating the baseline) needs a looser gate.

    ``keep_versions``: prune each versioned artifact to the newest N
    copies after every batch
    (:func:`..sources.versioned.prune_state_versions` — ≥ 2 keeps the
    crash contract). Unpruned, a long-running loop
    stores one full state copy PER MICRO-BATCH; at 100 TB retention
    is the storage bill. ``None`` keeps everything (audit mode).

    NB classifier: when :func:`init_maintenance_state` seeded
    ``work_dir/nb`` (``nb_label_col=``), every change row must carry
    that label column and the loop folds each batch's clean increment
    into a NEW commit-marked version with the EXACT additive merge
    (text/classify.py nb_fold_increment — stream == batch == retrain,
    locked by the q243-pattern oracle). Replay-safe through the
    version protocol: an uncommitted version is invisible, so the
    replay folds onto the previous one exactly once. INSERT-ONLY
    contract (same as the bm25/ivf arms, stated explicitly): a batch
    whose ids are ALL already registered in the NB index is treated
    as a fully-applied replay and skipped — so an op='U' re-crawl of
    a registered id updates the CDC doc state but deliberately does
    NOT touch the NB counts. Updating a registered doc's label/text
    in the NB artifact requires the explicit takedown cadence:
    nb_index_delete the old rows, then re-ingest — the same
    delete-verb boundary the DELETE paragraph below describes.

    DELETE boundary: 'D' rows tombstone the CDC doc state (so the
    serving read drops them) but do NOT shrink the near-dup/BM25/IVF
    indexes — index takedown is the explicit delete verbs' job
    (bm25_delete / ivf_delete / embedding_lsh_delete, and
    nb_index_delete's arithmetic for the NB artifact) on the takedown
    cadence, not the ingest loop's. A deleted doc can therefore still
    appear as a near-dup NEIGHBOR until those run; its own serving
    rows are already gone at the CDC read."""
    from ..dedup.embedding import embedding_near_dup_pairs
    from ..dedup.incremental import (
        embedding_lsh_upsert,
        embedding_near_dup_incremental,
    )
    from ..graph.communities import connected_components_incremental
    from ..text.bm25_index import bm25_upsert
    from ..vector.search import ivf_upsert

    docs_dir = os.path.join(work_dir, "docs")
    ndix_dir = os.path.join(work_dir, "ndix")
    cc_dir = os.path.join(work_dir, "cc")
    bm_dir = os.path.join(work_dir, "bm25")
    ivf_path = os.path.join(work_dir, "ivf")
    pq_path = os.path.join(work_dir, "pq")
    nb_dir = os.path.join(work_dir, "nb")
    _require_state(changes.sparkSession, docs_dir, ndix_dir, cc_dir, bm_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.sql import Window

        # 1. CDC: fold the raw batch (stale rows included — latest-wins
        # drops them) into the versioned doc state
        _fold_batch(
            batch_df.select(id_col, text_col, seq_col, op_col),
            docs_dir, [id_col], seq_col, op_col,
        )

        # 2. the batch's CLEAN increment: the per-key LATEST row decides
        # first (same seq-desc, op-desc tie-break as cdc_upsert_state),
        # THEN deletes drop — so a same-batch delete with a higher seq
        # SUPPRESSES the superseded upsert instead of resurrecting it
        # into the indexes
        # NB classifier: only when the init seeded work_dir/nb — its
        # label column must then ride every change row, and the clean
        # increment keeps it alongside (id, text, vec)
        try:
            nb_tabs, nb_v = read_version(spark, nb_dir, _NB_KEYS)
        except FileNotFoundError:
            nb_tabs = None
        nb_label_col = (
            nb_tabs["params"].collect()[0]["label_col"]
            if nb_tabs is not None
            else None
        )
        inc_cols = [id_col, text_col, vec_col] + (
            [nb_label_col] if nb_label_col else []
        )
        wk = Window.partitionBy(id_col).orderBy(
            F.desc(seq_col), F.desc(op_col)
        )
        inc = (
            batch_df.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") == 1)
            .filter(F.col(op_col) != "D")
            .select(*inc_cols)
            .localCheckpoint(eager=True)
        )
        if inc.isEmpty():
            # all-delete / all-stale batch: docs v{N+1} is already
            # committed above, so retention must still run — otherwise
            # a delete-heavy stream accumulates doc-state versions
            # unboundedly despite keep_versions
            if keep_versions is not None:
                prune_state_versions(spark, docs_dir, keep=keep_versions)
            return
        inc_emb = inc.select(
            F.col(id_col).alias(vec_id_col), F.col(vec_col)
        )

        # 3. near-dup: probe the persisted index (new x corpus-so-far)
        # + bucket the batch against itself (new x new), then fold the
        # batch into the index for the NEXT micro-batch
        ndix, v = read_version(spark, ndix_dir, _ND_KEYS)
        mixed = embedding_near_dup_incremental(
            inc_emb, ndix, threshold=threshold,
            vec_col=vec_col, id_col=vec_id_col,
        )
        within = embedding_near_dup_pairs(
            inc_emb, threshold=threshold, vec_col=vec_col,
            id_col=vec_id_col,
        )
        new_edges = mixed.select(
            F.col("new_id").alias("a"), F.col("corpus_id").alias("b")
        ).unionByName(within.select("a", "b")).localCheckpoint(eager=True)
        ndix2 = embedding_lsh_upsert(
            ndix, inc_emb, vec_col=vec_col, id_col=vec_id_col
        )
        write_version(ndix2, ndix_dir, v + 1)

        # 4. connected components: fold the batch's edges into labels
        labels, v = read_version(spark, cc_dir)
        write_version(
            connected_components_incremental(labels, new_edges), cc_dir, v + 1
        )

        # 5. BM25: tokenize only the batch, replace-then-extend postings
        bmix, v = read_version(spark, bm_dir, _BM_KEYS)
        bmix2 = bm25_upsert(
            bmix, inc.select(id_col, text_col),
            text_col=text_col, id_col=id_col,
        )
        write_version(bmix2, bm_dir, v + 1)

        # 6. IVF: assign only the batch (id-collision + drift gated).
        # foreachBatch is AT-LEAST-ONCE: on a crash-replay every other
        # artifact re-converges (CDC latest-wins, LSH/BM25 replace-by-
        # rid, CC re-merge are all idempotent) but the IVF append is
        # not — so detect a fully-applied replay and SKIP it instead of
        # tripping ivf_upsert's collision gate and wedging the stream
        new_ids = inc_emb.select(vec_id_col).distinct()
        n_new = new_ids.count()
        n_present = (
            spark.read.parquet(ivf_path)
            .join(F.broadcast(new_ids), vec_id_col, "left_semi")
            .count()
        )
        if n_present == 0:
            from ..vector.search import ivf_centroids

            cents = (
                centroids
                if centroids is not None
                else ivf_centroids(spark, ivf_path).select(
                    F.col("cid").alias(cent_id_col),
                    F.col("embedding").alias(vec_col),
                )
            )
            ivf_upsert(
                ivf_path, inc_emb, cents,
                vec_col=vec_col, id_col=vec_id_col,
                cent_vec_col=vec_col, cent_id_col=cent_id_col,
                drift_frac=drift_frac,
            )
        elif n_present != n_new:
            raise ValueError(
                f"stream_maintenance: batch {batch_id} left the IVF "
                f"index partially applied ({n_present}/{n_new} ids "
                "present) — the index cannot be repaired by replay; "
                "rebuild it with ivf_build_index before resuming"
            )
        # else: fully-applied replay of a crashed batch — skip

        # 6b. PQ codes: when the init built the compressed index, fold
        # the batch into it against the FROZEN codebook (read from the
        # self-describing index). Replay detection is INDEPENDENT of
        # the IVF arm's: a crash between ivf_upsert and pq_upsert
        # replays with the IVF fully applied (n_present == n_new), and
        # gating PQ on the IVF check would skip the PQ append forever —
        # the batch's vectors would silently never serve from ADC.
        from ..vector.pq import pq_upsert

        jvm = spark._jvm
        pq_p = jvm.org.apache.hadoop.fs.Path(pq_path + "_codebook")
        fs = pq_p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(pq_p):
            pq_present = (
                spark.read.parquet(pq_path)
                .select(vec_id_col)
                .join(F.broadcast(new_ids), vec_id_col, "left_semi")
                .select(vec_id_col)
                .distinct()
                .count()
            )
            if pq_present == 0:
                pq_upsert(
                    pq_path, inc_emb, vec_col=vec_col, id_col=vec_id_col
                )
            elif pq_present != n_new:
                raise ValueError(
                    f"stream_maintenance: batch {batch_id} left the PQ "
                    f"codes partially applied ({pq_present}/{n_new} "
                    "ids present) — rebuild the PQ index with "
                    "pq_build_index before resuming"
                )
            # else: fully-applied replay — skip

        # 6c. NB classifier: fold the labeled increment with the EXACT
        # additive merge into a NEW version (commit-marked — a crash
        # mid-write leaves v{N} intact and the replay folds onto it
        # exactly once). Replay detection via the doc registry: the
        # version marker commits atomically, so batch ids are either
        # all absent (fold) or all present (fully-applied replay —
        # skip); anything else is real corruption and raises.
        if nb_tabs is not None:
            from ..text.classify import nb_fold_increment

            inc_ids = inc.select(id_col).distinct()
            n_inc = inc_ids.count()
            nb_present = (
                nb_tabs["docs"]
                .join(F.broadcast(inc_ids), id_col, "left_semi")
                .count()
            )
            if nb_present == 0:
                folded = nb_fold_increment(
                    nb_tabs, inc.select(id_col, text_col, nb_label_col)
                )
                write_version(folded, nb_dir, nb_v + 1)
            elif nb_present != n_inc:
                raise ValueError(
                    f"stream_maintenance: batch {batch_id} ids are "
                    f"partially registered in the NB index "
                    f"({nb_present}/{n_inc}) — the versioned commit "
                    "protocol cannot produce this; rebuild the nb "
                    "artifact from the corpus before resuming"
                )
            # else: fully-applied replay — skip

        # 7. retention: one full state copy lands per batch — prune to
        # the newest keep_versions AFTER the batch fully committed
        if keep_versions is not None:
            dirs = [docs_dir, ndix_dir, cc_dir, bm_dir]
            if nb_tabs is not None:
                dirs.append(nb_dir)
            for d in dirs:
                prune_state_versions(spark, d, keep=keep_versions)

    writer = changes.writeStream.foreachBatch(apply_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
