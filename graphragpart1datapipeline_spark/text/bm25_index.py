"""BM25 inverted index: build once, upsert increments, query without
ever re-tokenizing the corpus. :func:`bm25_query` and the one-shot
:func:`~.analysis.bm25_topk` score with one expression,
:func:`~.analysis.bm25_term_score`, and the same exact decimal per-doc
sum, so a query served from a persisted, upserted index returns the
rows the one-shot call returns on the same corpus.

The index follows ``dedup/incremental.py``'s persisted-index pattern:
it is a dict of plain DataFrames (persist them as parquet — postings
partitioned/bucketed by ``term`` so a query's term filter prunes at
scan time), and :func:`bm25_upsert` and :func:`bm25_query` never
receive the corpus documents at all, only the index tables.

Index tables:
  ``postings`` (rid, term, tf)  — full inverted index, term-prunable
  ``dl``       (rid, dl)        — document lengths
  ``dfreq``    (term, df)       — per-term document frequencies
  ``params``   1-row            — tokenizer version stamp (the postings
                                  are only consistent for one scheme)

Ids must be unique and non-NULL: a NULL id fails the corpus-stats pass,
and a duplicated id that matches a query term fails the query (its
``dl`` rows would fan out the postings join), each with an error that
names the id column.

Upsert semantics are true UPSERT: an incoming rid replaces its old
rows (the delete side is an anti-join against the increment-sized,
broadcastable rid set), and ``dfreq`` is updated for TOUCHED TERMS
ONLY (±1 delta rows unioned onto the old table and re-summed per term
— vocabulary-sized work, never a full postings regroup; expressed as
union + groupBy rather than an outer join so a serving-side term
filter pushes through to every branch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame
from .analysis import bm25_term_score, tokens

# bump if the tokenizer scheme ever changes — a persisted index built
# under another scheme must refuse to compose with this code
_TOKENIZER_VERSION = 1

__all__ = ["bm25_index", "bm25_upsert", "bm25_delete", "bm25_query"]


def _index_parts(df: DataFrame, text_col: str, id_col: str):
    # NULL-id guard: a NULL rid would count toward n_docs and avgdl but
    # drop out of the rid join, silently losing the document. It raises
    # from the dl value, which bm25_query's corpus stats sum over every
    # row; rid itself stays a plain column, so joins and filters on it
    # see through to the id and shared subplans keep reusing exchanges
    # (a CASE-wrapped rid cost q209 8 exchanges and 4 broadcasts). The
    # postings branch filters NULL rids explicitly: that puts the
    # isnotnull(rid) bm25_query's rid join would otherwise infer on the
    # postings side only under dfreq too, so dfreq reuses the postings
    # exchange.
    toks = df.select(
        F.col(id_col).alias("rid"), tokens(text_col).alias("__toks")
    )
    null_id = F.raise_error(
        F.lit(f"bm25_index: NULL value in id column {id_col!r}")
    )
    dl = toks.select(
        "rid",
        F.when(F.col("rid").isNull(), null_id)
        .otherwise(F.size("__toks"))
        .alias("dl"),
    )
    # the exploded (rid, term) rows are clustered by rid before the tf
    # count, so bm25_query's per-rid sum over a fresh index runs in the
    # same stage, and dfreq reuses this exchange instead of exploding
    # the corpus again. Lowering inside the explode leaves Catalyst no
    # token-array attribute to infer a size() > 0 filter on, so nothing
    # tokenizes below the input's repartition.
    tf = (
        toks.filter(F.col("rid").isNotNull())
        .select(
            "rid", F.explode(F.transform("__toks", F.lower)).alias("term")
        )
        .repartition("rid")
        .groupBy("rid", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return dl, tf


def bm25_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> dict[str, DataFrame]:
    """Build the index from a corpus snapshot: ONE tokenize pass, one
    rid-keyed shuffle of the exploded (rid, term) rows for tf, one
    term-sized groupBy for df. Persist the tables (postings
    partitioned/bucketed by term) and hand the dict to
    :func:`bm25_upsert` / :func:`bm25_query`."""
    dl, tf = _index_parts(df, text_col, id_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    params = local_frame(
        df.sparkSession, [(_TOKENIZER_VERSION,)], "tokenizer_version long"
    )
    return {"postings": tf, "dl": dl, "dfreq": dfreq, "params": params}


def _check_version(index: dict[str, DataFrame], fn: str) -> None:
    tbl = index.get("params")
    if tbl is None:
        return
    ver = tbl.limit(1).collect()[0][0]
    if ver != _TOKENIZER_VERSION:
        raise ValueError(
            f"{fn}: index was built with tokenizer_version={ver}, this "
            f"code is version={_TOKENIZER_VERSION} — rebuild the index "
            "(mixed tokenization makes postings inconsistent)"
        )


def bm25_upsert(
    index: dict[str, DataFrame],
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Fold an increment into the index. Tokenizes ONLY ``new_df``;
    the corpus side is touched as (a) one broadcast anti/semi-join of
    postings+dl against the increment-sized rid set (the replace rule)
    and (b) a touched-term-sized join updating ``dfreq`` — never a
    corpus re-scan of text, never a full postings regroup. Increments
    compose: upsert(upsert(ix, a), b) == upsert(ix, a∪b) for disjoint
    rid sets (q179 locks the equality against the full rebuild)."""
    _check_version(index, "bm25_upsert")
    dl_n, tf_n = _index_parts(new_df, text_col, id_col)
    new_ids = dl_n.select("rid").distinct()
    removed = index["postings"].join(F.broadcast(new_ids), "rid")
    kept = index["postings"].join(F.broadcast(new_ids), "rid", "left_anti")
    postings = kept.unionByName(tf_n)
    dl = (
        index["dl"]
        .join(F.broadcast(new_ids), "rid", "left_anti")
        .unionByName(dl_n)
    )
    # touched terms only: +1 per term per added doc, -1 per removed.
    # Round-11 (guide §2.4): the delta used to fold in via a FULL OUTER
    # join + coalesce-add — semantically a per-term sum, but a shape
    # Catalyst cannot push a downstream term filter through (predicates
    # on the coalesced key of a full outer join are not pushable), so
    # bm25_query's `term isin (qterms)` stopped at the join and every
    # corpus-postings branch below it ran UNFILTERED (the 66-Exchange
    # q179 plan). The same sum expressed as union + groupBy is
    # bit-identical (exact integer adds in any grouping) and fully
    # transparent to pushdown: the query's term filter now reaches
    # just-above-the-explode on every branch, so the (rid, term)
    # shuffles carry query-term rows only. One exchange instead of
    # three (delta groupBy + two full-outer SMJ exchanges).
    dfreq = (
        index["dfreq"]
        .select("term", F.col("df").cast("long").alias("__d"))
        .unionByName(tf_n.select("term", F.lit(1).cast("long").alias("__d")))
        .unionByName(
            removed.select("term", F.lit(-1).cast("long").alias("__d"))
        )
        .groupBy("term")
        .agg(F.sum("__d").alias("df"))
        .filter(F.col("df") > 0)
    )
    return {
        "postings": postings,
        "dl": dl,
        "dfreq": dfreq,
        "params": index["params"],
    }


def bm25_delete(
    index: dict[str, DataFrame],
    ids: DataFrame,
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Remove documents from the index — the maintenance operation a
    real corpus needs for takedowns/expiry that :func:`bm25_upsert`
    (replace-or-insert) cannot express. ``ids`` is an increment-sized
    frame whose FIRST column (or ``id_col`` if present) holds the rids
    to drop. Work is deletion-sized: postings/dl rows leave via one
    broadcast anti-join each, and ``dfreq`` decrements for the REMOVED
    DOCS' TERMS ONLY (terms reaching df 0 disappear) — never a corpus
    re-scan, never a postings regroup. delete(index(c), d) ==
    index(c − d) exactly (q215 locks it against the one-shot oracle);
    ids absent from the index are no-ops."""
    _check_version(index, "bm25_delete")
    col = id_col if id_col in ids.columns else ids.columns[0]
    rid = ids.select(F.col(col).alias("rid")).distinct()
    removed = index["postings"].join(F.broadcast(rid), "rid")
    postings = index["postings"].join(F.broadcast(rid), "rid", "left_anti")
    dl = index["dl"].join(F.broadcast(rid), "rid", "left_anti")
    # union + groupBy instead of left-join-minus (round-11, same
    # pushdown rationale as bm25_upsert's dfreq): bit-identical — terms
    # only in `removed` sum negative and are dropped by the df > 0
    # filter exactly as the left join dropped them, and a downstream
    # term filter pushes through both branches
    dfreq = (
        index["dfreq"]
        .select("term", F.col("df").cast("long").alias("__d"))
        .unionByName(
            removed.select("term", F.lit(-1).cast("long").alias("__d"))
        )
        .groupBy("term")
        .agg(F.sum("__d").alias("df"))
        .filter(F.col("df") > 0)
    )
    return {
        "postings": postings,
        "dl": dl,
        "dfreq": dfreq,
        "params": index["params"],
    }


def bm25_query(
    index: dict[str, DataFrame],
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    log_idf: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k served FROM THE INDEX: postings filtered to the query
    terms (partition-prunable at rest, and below the first shuffle when
    the index is a fresh :func:`bm25_index`), dfreq filtered term-sized
    and broadcast, corpus stats one map-side agg over ``dl`` — the raw
    text never in the plan. Per-doc scores are summed as exact
    decimal(38,12) over one row per matched term, so term order cannot
    change a score; ties rank by id. A rid with more ``dl`` rows than
    one (a duplicated id) raises instead of scoring a fanned-out join.
    """
    from pyspark.sql import Window

    if not terms:
        # zero-arg Column.isin() is an analysis error downstream —
        # fail loudly up front, matching the module's guard convention
        raise ValueError("bm25_query: terms is empty")
    _check_version(index, "bm25_query")
    qterms = sorted({t.lower() for t in terms})
    stats = index["dl"].agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = index["postings"].filter(F.col("term").isin(*qterms))
    dfreq = index["dfreq"].filter(F.col("term").isin(*qterms))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(index["dl"], "rid")
        .crossJoin(F.broadcast(stats))
    )
    term_score = bm25_term_score(
        F.col("tf"), F.col("df"), F.col("dl"), F.col("n_docs"),
        F.col("sum_dl"), k1, b, log_idf,
    )
    # postings are unique per (rid, term), so more joined rows than
    # distinct terms means the rid has several dl rows (a duplicated id)
    n_rows = F.count(F.lit(1))
    unique_rid = n_rows == F.count_distinct("term")
    dup_error = F.raise_error(
        F.concat(
            F.lit(f"bm25_query: duplicate value in id column {id_col!r}: "),
            F.col("rid").cast("string"),
        )
    )
    per_doc = (
        scored.withColumn("__s", term_score)
        .groupBy("rid")
        .agg(
            F.when(
                unique_rid,
                F.sum(F.col("__s").cast("decimal(38,12)")).cast("double"),
            )
            .otherwise(dup_error)
            .alias("score"),
            n_rows.alias("matched_terms"),
        )
        .withColumnRenamed("rid", id_col)
    )
    topk = per_doc.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))
