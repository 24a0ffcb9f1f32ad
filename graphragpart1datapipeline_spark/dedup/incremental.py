"""Incremental variants of the exact ER joins: match a NEW batch
against a standing corpus through a PERSISTED index, without ever
re-pairing the corpus with itself — the daily-crawl-increment pattern
(generalizing the reference's cache-table split,
utils/wikidata_helpers.py:229-245, and this engine's own
``minhash_lsh_incremental`` / ``lsh_bucket_table`` precedent,
dedup/minhash.py).

Three index/probe pairs, one per exact batch join:

- :func:`set_similarity_index` / :func:`set_similarity_join_incremental`
  — prefix-filter index (Chaudhuri 2006 / Bayardo WWW'07). The global
  rarest-first token order is FROZEN at index build; increment tokens
  unseen in the corpus sort after every corpus token (ties by token).
  Losslessness holds under ANY common total order, so the frozen order
  keeps the prefix principle exact across index generations.
- :func:`levenshtein_index` / :func:`levenshtein_join_incremental` —
  PassJoin segment index (Li et al. VLDB 2011). Pigeonholing is
  one-directional (a segment of the INDEXED string must appear
  verbatim in any partner within distance d), so corpus-side segments
  cover every cross pair whose corpus value is segmentable; the two
  residual streams (corpus shorts probing a new-batch index, and the
  bounded short×short block) close the gap losslessly.
- :func:`containment_index` / :func:`containment_join_incremental` —
  directional containment. The contained side contributes its
  rarest-first prefix, the containing side its FULL posting list (the
  overlap bound depends on the contained side alone), so the index
  persists both a prefix table and a postings table and either
  direction (new-in-corpus, corpus-in-new) is one equi-join against
  the persisted side.

Every index is a plain DataFrame dict — write each table with
``partitionBy``/bucketing on its join key (noted per builder) and the
increment probe prunes to colliding keys; the corpus is never
re-scanned for pairing, only for nothing (membership/toks live in the
index). All verifies are exact integer arithmetic, so the q161–q163
oracles replay the brute-force quadratic cross join bit-for-bit, and
the split-apply results equal the one-shot batch joins restricted to
cross pairs (unit-locked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import ensure_parallelism, local_frame
from .editdist import _seg_len, _seg_start
from .entity import _token_set

# Unseen-token rank: sorts after every corpus token_df (a count, so
# always far below this), ties broken by token string.
_UNSEEN_RANK = 1 << 62


def _params_table(spark, **kv) -> DataFrame:
    """1-row parameter table baked into every index dict — persisted
    alongside the data tables so a probe can never silently run with a
    different threshold/distance than the index was built for (the
    prefix/segment tables are only lossless for the build-time
    parameters)."""
    cols = sorted(kv)
    return local_frame(
        spark, [tuple(int(kv[c]) for c in cols)],
        ", ".join(f"{c} long" for c in cols),
    )


def _check_params(index: dict[str, DataFrame], fn: str, **kv) -> None:
    """Raise if the probe-side parameters differ from the build-time
    ones recorded in ``index['params']`` (1-row collect). Indexes
    persisted before the params table existed pass with a warning-free
    skip — absence means unverifiable, not wrong — but every builder
    in this module emits it."""
    tbl = index.get("params")
    if tbl is None:
        return
    row = tbl.limit(1).collect()[0].asDict()
    mismatched = {
        c: (row[c], int(v)) for c, v in kv.items()
        if c in row and row[c] != int(v)
    }
    if mismatched:
        detail = ", ".join(
            f"{c}: index={a} probe={b}" for c, (a, b) in sorted(mismatched.items())
        )
        raise ValueError(
            f"{fn}: probe parameters differ from the ones the index was "
            f"built with ({detail}) — the persisted prefix/segment tables "
            "are only lossless for the build-time parameters; rebuild the "
            "index or probe with matching values"
        )


def _prefix_len_expr(t_num: int, t_den: int):
    """prefix covers the first sz - ceil(t*sz) + 1 rarest tokens."""
    return (
        F.col("sz")
        - F.floor(
            (F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den)
        ).cast("int")
        + F.lit(1)
    )


def _classed_tokens(df: DataFrame, id_col: str, text_col: str):
    """(members, classes-with-ctoks): identical token sets collapse to
    one class (cid = min record id) — the same collapse-then-join
    discipline as the batch joins."""
    recs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("rid"),
            F.array_sort(_token_set(F.col(text_col))).alias("ctoks"),
        )
        .filter(F.size("ctoks") > 0)
    )
    classes = recs.groupBy("ctoks").agg(F.min("rid").alias("cid"))
    members = recs.join(classes, "ctoks").select("rid", "cid")
    return members, classes


def _order_by_rank(classes: DataFrame, tok_df: DataFrame) -> DataFrame:
    """(cid, toks, sz) with toks sorted by the given (tok, tok_df)
    order table; tokens absent from the table rank ``_UNSEEN_RANK``
    (after all known tokens, ties by token)."""
    exploded = classes.select("cid", F.explode("ctoks").alias("tok"))
    return (
        exploded.join(tok_df, "tok", "left")
        .groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.coalesce("tok_df", F.lit(_UNSEEN_RANK)).alias(
                            "tok_df"
                        ),
                        F.col("tok"),
                    )
                )
            ).alias("op")
        )
        .select(
            "cid",
            F.transform(F.col("op"), lambda s: s["tok"]).alias("toks"),
        )
        .withColumn("sz", F.size("toks"))
    )


# --------------------------------------------------------------------------
# Set-similarity (Jaccard) — prefix-filter index
# --------------------------------------------------------------------------


def set_similarity_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 3,
    t_den: int = 5,
) -> dict[str, DataFrame]:
    """Build the persistable prefix index of a corpus for
    :func:`set_similarity_join_incremental`. Returns four tables —
    persist each parquet-partitioned/bucketed by its join key:

    - ``tok_df`` (tok, tok_df): the FROZEN global token order (class
      document frequencies; bucket by tok).
    - ``reps`` (cid, toks, sz): class representatives, toks in frozen
      rarest-first order (bucket by cid) — the verify side.
    - ``prefix`` (tok, cid, sz): exploded class prefixes (partition/
      bucket by tok) — the candidate-join side.
    - ``members`` (rid, cid): record membership (bucket by cid) — the
      expansion side.
    """
    if not (0 < t_num <= t_den):
        raise ValueError(
            f"threshold t_num/t_den must be in (0, 1]: got {t_num}/{t_den}"
        )
    members, classes = _classed_tokens(corpus_df, id_col, text_col)
    reps_tok = classes.select("cid", F.explode("ctoks").alias("tok"))
    tok_df = reps_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    reps = _order_by_rank(classes, tok_df)
    prefix = reps.withColumn("prefix_len", _prefix_len_expr(t_num, t_den)).select(
        F.explode(F.slice("toks", 1, F.col("prefix_len"))).alias("tok"),
        "cid",
        "sz",
    )
    return {
        "tok_df": tok_df,
        "reps": reps,
        "prefix": prefix,
        "members": members,
        "params": _params_table(
            corpus_df.sparkSession, t_num=t_num, t_den=t_den
        ),
    }


def set_similarity_join_incremental(
    new_df: DataFrame,
    index: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    t_num: int = 3,
    t_den: int = 5,
    max_token_bucket: int | None = None,
    return_candidates: bool = False,
) -> DataFrame:
    """All (new, corpus) record pairs with token-set Jaccard >=
    t_num/t_den — the new batch joined against a persisted
    :func:`set_similarity_index`; the corpus is NEVER self-paired and
    never re-scanned. Returns (new_id, corpus_id, inter_size,
    union_size).

    Losslessness: both sides compute prefixes under the SAME frozen
    total order (corpus tokens by index-time rarity, unseen increment
    tokens after them), and the prefix principle holds under any
    common total order, so every qualifying cross pair collides on a
    prefix token. ``max_token_bucket`` drops increment-prefix tokens
    whose CORPUS bucket exceeds the cap (lossy escape hatch, same
    trade as the batch join)."""
    if not (0 < t_num <= t_den):
        raise ValueError(
            f"threshold t_num/t_den must be in (0, 1]: got {t_num}/{t_den}"
        )
    _check_params(
        index, "set_similarity_join_incremental", t_num=t_num, t_den=t_den
    )
    members_n, classes_n = _classed_tokens(new_df, id_col, text_col)
    reps_n = _order_by_rank(classes_n, index["tok_df"])
    prefix_n = reps_n.withColumn(
        "prefix_len", _prefix_len_expr(t_num, t_den)
    ).select(
        F.explode(F.slice("toks", 1, F.col("prefix_len"))).alias("tok"),
        F.col("cid").alias("cn"),
        F.col("sz").alias("sz_n"),
    )
    prefix_c = index["prefix"].select(
        "tok", F.col("cid").alias("cc"), F.col("sz").alias("sz_c")
    )
    if max_token_bucket is not None:
        keep = (
            prefix_c.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_token_bucket)
            .select("tok")
        )
        prefix_c = prefix_c.join(keep, "tok")
    cand = (
        prefix_n.join(prefix_c, "tok")
        .filter(
            F.lit(t_num) * F.greatest("sz_n", "sz_c")
            <= F.lit(t_den) * F.least("sz_n", "sz_c")
        )
        .select("cn", "cc")
    )
    if return_candidates:
        # counted-work probe (scale_check pair_ratio), pre-verify
        return cand
    toks_n = reps_n.select(
        F.col("cid").alias("cn"),
        F.col("toks").alias("toks_n"),
        F.col("sz").alias("sz_n"),
    )
    toks_c = index["reps"].select(
        F.col("cid").alias("cc"),
        F.col("toks").alias("toks_c"),
        F.col("sz").alias("sz_c"),
    )
    inter = F.size(F.array_intersect("toks_n", "toks_c"))
    class_pairs = (
        cand.join(toks_n, "cn")
        .join(toks_c, "cc")
        .withColumn("inter_size", inter)
        .withColumn(
            "union_size", F.col("sz_n") + F.col("sz_c") - F.col("inter_size")
        )
        .filter(
            F.lit(t_den) * F.col("inter_size")
            >= F.lit(t_num) * F.col("union_size")
        )
        .select("cn", "cc", "inter_size", "union_size")
        .distinct()
    )
    mn = members_n.select(F.col("cid").alias("cn"), F.col("rid").alias("new_id"))
    mc = index["members"].select(
        F.col("cid").alias("cc"), F.col("rid").alias("corpus_id")
    )
    return (
        class_pairs.join(mn, "cn")
        .join(mc, "cc")
        .select("new_id", "corpus_id", "inter_size", "union_size")
    )


# --------------------------------------------------------------------------
# Edit distance (PassJoin) — segment index
# --------------------------------------------------------------------------


def _distinct_vals(df: DataFrame, id_col: str, text_col: str):
    recs = (
        ensure_parallelism(df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("rid"), F.col(text_col).alias("val"))
    )
    vals = recs.select("val").distinct().withColumn("l", F.length("val"))
    return recs, vals


def _segment_rows(long_vals: DataFrame, d: int) -> DataFrame:
    """(l, i, seg, val) — each distinct value of length >= d+1 split
    into its d+1 PassJoin segments."""
    k = d + 1
    base = (F.col("l") / k).cast("int")
    kmr = F.lit(k) - F.col("l") % k
    entries = F.transform(
        F.sequence(F.lit(0), F.lit(d)),
        lambda i: F.struct(
            i.alias("i"),
            F.col("val")
            .substr(_seg_start(i, base, kmr) + 1, _seg_len(i, base, kmr))
            .alias("seg"),
        ),
    )
    return long_vals.select(
        "val", "l", F.explode(entries).alias("__e")
    ).select("val", "l", "__e.i", "__e.seg")


def _probe_rows(vals: DataFrame, d: int) -> DataFrame:
    """(l, i, seg, val) — every position-bounded substring of each
    value that could witness a partner's segment (partner length
    within ±d, start shift within ±d) — the PassJoin probe set."""
    k = d + 1
    m = F.col("l")
    entries = F.flatten(
        F.transform(
            F.sequence(F.greatest(m - d, F.lit(k)), m + d),
            lambda pl: F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(d)),
                    lambda i: F.filter(
                        F.transform(
                            F.sequence(F.lit(-d), F.lit(d)),
                            lambda sh: F.struct(
                                pl.alias("pl"),
                                i.alias("i"),
                                (
                                    _seg_start(
                                        i,
                                        (pl / k).cast("int"),
                                        F.lit(k) - pl % k,
                                    )
                                    + sh
                                ).alias("st"),
                                _seg_len(
                                    i,
                                    (pl / k).cast("int"),
                                    F.lit(k) - pl % k,
                                ).alias("ln"),
                            ),
                        ),
                        lambda s: (s["st"] >= 0) & (s["st"] + s["ln"] <= m),
                    ),
                )
            ),
        )
    )
    return vals.select(
        "val",
        F.explode(
            F.array_distinct(
                F.transform(
                    entries,
                    lambda s: F.struct(
                        s["pl"].alias("l"),
                        s["i"].alias("i"),
                        F.col("val").substr(s["st"] + 1, s["ln"]).alias("seg"),
                    ),
                )
            )
        ).alias("__p"),
    ).select("val", "__p.l", "__p.i", "__p.seg")


def levenshtein_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    d: int = 2,
    max_short_values: int = 100_000,
) -> dict[str, DataFrame]:
    """Persistable PassJoin index of a corpus for
    :func:`levenshtein_join_incremental`:

    - ``segments`` (l, i, seg, val): segment rows of every distinct
      value of length >= d+1 (partition/bucket by (l, i, seg)).
    - ``shorts`` (val, l): distinct values shorter than d+1 — a small
      table by the |alphabet|^d bound, guarded by
      ``max_short_values``.
    - ``members`` (rid, val): record membership for pair expansion
      (bucket by val).
    """
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    recs, vals = _distinct_vals(corpus_df, id_col, text_col)
    k = d + 1
    shorts = vals.filter(F.col("l") < k)
    n_short = shorts.limit(max_short_values + 1).count()
    if n_short > max_short_values:
        raise ValueError(
            f"more than max_short_values={max_short_values} distinct "
            f"corpus values shorter than d+1={k}"
        )
    return {
        "segments": _segment_rows(vals.filter(F.col("l") >= k), d),
        "shorts": shorts,
        "members": recs.select("rid", "val"),
        "params": _params_table(corpus_df.sparkSession, d=d),
    }


def levenshtein_join_incremental(
    new_df: DataFrame,
    index: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    d: int = 2,
    max_segment_bucket: int | None = None,
    max_short_values: int = 100_000,
    return_candidates: bool = False,
) -> DataFrame:
    """All (new, corpus) record pairs with levenshtein <= d against a
    persisted :func:`levenshtein_index` — corpus never self-paired.
    Returns (new_id, corpus_id, dist).

    Three lossless candidate streams (see module docstring): corpus
    segments probed by increment substrings (covers every segmentable
    corpus value), an increment-side segment index probed by the
    (small) corpus shorts table, and the bounded short×short block.
    ``max_segment_bucket`` caps degenerate CORPUS segment buckets
    (lossy escape hatch, batch-identical trade)."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    _check_params(index, "levenshtein_join_incremental", d=d)
    recs_n, vals_n = _distinct_vals(new_df, id_col, text_col)
    k = d + 1
    shorts_n = vals_n.filter(F.col("l") < k)
    n_short_new = shorts_n.limit(max_short_values + 1).count()
    if n_short_new > max_short_values:
        raise ValueError(
            f"more than max_short_values={max_short_values} distinct "
            f"increment values shorter than d+1={k}"
        )
    seg_c = index["segments"]
    if max_segment_bucket is not None:
        heavy = (
            seg_c.groupBy("l", "i", "seg")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_segment_bucket)
            .select("l", "i", "seg")
        )
        seg_c = seg_c.join(heavy, ["l", "i", "seg"], "left_anti")
    # stream a: corpus-long segments ⋈ increment probes
    cand_a = (
        seg_c.withColumnRenamed("val", "cval")
        .join(_probe_rows(vals_n, d).withColumnRenamed("val", "nval"),
              ["l", "i", "seg"])
        .select("nval", "cval")
    )
    # stream b: increment-long segments ⋈ corpus-shorts probes
    cand_b = (
        _segment_rows(vals_n.filter(F.col("l") >= k), d)
        .withColumnRenamed("val", "nval")
        .join(
            _probe_rows(index["shorts"], d).withColumnRenamed("val", "cval"),
            ["l", "i", "seg"],
        )
        .select("nval", "cval")
    )
    # stream c: short × short — both sides bounded, and only planned at
    # all when the increment actually has short values (a capped-size
    # probe already ran for the guard, so this costs nothing extra)
    cand = cand_a.unionByName(cand_b)
    if n_short_new > 0:
        cand = cand.unionByName(
            shorts_n.select(F.col("val").alias("nval")).crossJoin(
                index["shorts"].select(F.col("val").alias("cval"))
            )
        )
    cand = cand.distinct()
    if return_candidates:
        # counted-work probe (scale_check pair_ratio), pre-verify
        return cand
    verified = cand.withColumn("dist", F.levenshtein("nval", "cval")).filter(
        F.col("dist") <= d
    )
    mn = recs_n.select(F.col("val").alias("nval"), F.col("rid").alias("new_id"))
    mc = index["members"].select(
        F.col("val").alias("cval"), F.col("rid").alias("corpus_id")
    )
    return (
        verified.join(mn, "nval")
        .join(mc, "cval")
        .select("new_id", "corpus_id", "dist")
    )


# --------------------------------------------------------------------------
# Directional containment — prefix + postings index
# --------------------------------------------------------------------------


def _classed_arrays(df: DataFrame, id_col: str, tokens_col: str):
    recs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("rid"),
            F.array_sort(F.array_distinct(F.col(tokens_col))).alias("ctoks"),
        )
        .filter(F.size("ctoks") > 0)
    )
    classes = recs.groupBy("ctoks").agg(F.min("rid").alias("cid"))
    members = recs.join(classes, "ctoks").select("rid", "cid")
    return members, classes


def containment_index(
    corpus_df: DataFrame,
    id_col: str,
    tokens_col: str,
    t_num: int = 1,
    t_den: int = 2,
) -> dict[str, DataFrame]:
    """Persistable directional-containment index for
    :func:`containment_join_incremental`:

    - ``tok_df`` (tok, tok_df): frozen rarest-first order.
    - ``reps`` (cid, toks, sz): class representatives (verify side).
    - ``prefix`` (tok, cid, sz): corpus-as-CONTAINED prefixes
      (partition/bucket by tok).
    - ``postings`` (tok, cid, sz): corpus-as-CONTAINING full posting
      list (partition/bucket by tok).
    - ``members`` (rid, cid).
    """
    if not (0 < t_num <= t_den):
        raise ValueError(
            f"threshold t_num/t_den must be in (0, 1]: got {t_num}/{t_den}"
        )
    members, classes = _classed_arrays(corpus_df, id_col, tokens_col)
    reps_tok = classes.select("cid", F.explode("ctoks").alias("tok"))
    tok_df = reps_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    reps = _order_by_rank(classes, tok_df)
    prefix = reps.withColumn("prefix_len", _prefix_len_expr(t_num, t_den)).select(
        F.explode(F.slice("toks", 1, F.col("prefix_len"))).alias("tok"),
        "cid",
        "sz",
    )
    postings = reps.select(
        F.explode("toks").alias("tok"), "cid", "sz"
    )
    return {
        "tok_df": tok_df,
        "reps": reps,
        "prefix": prefix,
        "postings": postings,
        "members": members,
        "params": _params_table(
            corpus_df.sparkSession, t_num=t_num, t_den=t_den
        ),
    }


def containment_join_incremental(
    new_df: DataFrame,
    index: dict[str, DataFrame],
    id_col: str,
    tokens_col: str,
    t_num: int = 1,
    t_den: int = 2,
    direction: str = "both",
) -> DataFrame:
    """Directional containment of an increment against a persisted
    :func:`containment_index`: all cross pairs with
    C(A→B) = |A ∩ B| / |A| >= t_num/t_den, id_a the contained side.
    Returns (id_a, id_b, inter_size, a_size).

    ``direction``: ``"new_in_corpus"`` (new docs quoting/quoted-in the
    corpus — increment prefixes probe the corpus POSTINGS table),
    ``"corpus_in_new"`` (corpus passages contained in new docs — the
    corpus PREFIX table probed by increment full token lists), or
    ``"both"``. Each direction is lossless by the one-sided overlap
    bound (the prefix principle constrains the contained side only;
    the containing side always contributes full postings)."""
    if direction not in ("both", "new_in_corpus", "corpus_in_new"):
        raise ValueError(f"unknown direction {direction!r}")
    if not (0 < t_num <= t_den):
        raise ValueError(
            f"threshold t_num/t_den must be in (0, 1]: got {t_num}/{t_den}"
        )
    _check_params(
        index, "containment_join_incremental", t_num=t_num, t_den=t_den
    )
    members_n, classes_n = _classed_arrays(new_df, id_col, tokens_col)
    reps_n = _order_by_rank(classes_n, index["tok_df"])
    toks_n = reps_n.select(
        F.col("cid").alias("cn"),
        F.col("toks").alias("toks_n"),
        F.col("sz").alias("sz_n"),
    )
    toks_c = index["reps"].select(
        F.col("cid").alias("cc"),
        F.col("toks").alias("toks_c"),
        F.col("sz").alias("sz_c"),
    )
    mn = members_n.select(F.col("cid").alias("cn"), F.col("rid").alias("rn"))
    mc = index["members"].select(
        F.col("cid").alias("cc"), F.col("rid").alias("rc")
    )
    outs = []
    if direction in ("both", "new_in_corpus"):
        prefix_n = reps_n.withColumn(
            "prefix_len", _prefix_len_expr(t_num, t_den)
        ).select(
            F.explode(F.slice("toks", 1, F.col("prefix_len"))).alias("tok"),
            F.col("cid").alias("cn"),
            F.col("sz").alias("sz_n"),
        )
        cand = (
            prefix_n.join(
                index["postings"].select(
                    "tok", F.col("cid").alias("cc"), F.col("sz").alias("sz_c")
                ),
                "tok",
            )
            .filter(F.lit(t_den) * F.col("sz_c") >= F.lit(t_num) * F.col("sz_n"))
            .select("cn", "cc")
        )
        pairs = (
            cand.join(toks_n, "cn")
            .join(toks_c.drop("sz_c"), "cc")
            .withColumn(
                "inter_size", F.size(F.array_intersect("toks_n", "toks_c"))
            )
            .filter(
                F.lit(t_den) * F.col("inter_size")
                >= F.lit(t_num) * F.col("sz_n")
            )
            .select("cn", "cc", "inter_size", F.col("sz_n").alias("a_size"))
            .distinct()
        )
        outs.append(
            pairs.join(mn, "cn")
            .join(mc, "cc")
            .select(
                F.col("rn").alias("id_a"),
                F.col("rc").alias("id_b"),
                "inter_size",
                "a_size",
            )
        )
    if direction in ("both", "corpus_in_new"):
        postings_n = reps_n.select(
            F.explode("toks").alias("tok"),
            F.col("cid").alias("cn"),
            F.col("sz").alias("sz_n"),
        )
        cand = (
            index["prefix"]
            .select("tok", F.col("cid").alias("cc"), F.col("sz").alias("sz_c"))
            .join(postings_n, "tok")
            .filter(F.lit(t_den) * F.col("sz_n") >= F.lit(t_num) * F.col("sz_c"))
            .select("cn", "cc")
        )
        pairs = (
            cand.join(toks_c, "cc")
            .join(toks_n.drop("sz_n"), "cn")
            .withColumn(
                "inter_size", F.size(F.array_intersect("toks_c", "toks_n"))
            )
            .filter(
                F.lit(t_den) * F.col("inter_size")
                >= F.lit(t_num) * F.col("sz_c")
            )
            .select("cn", "cc", "inter_size", F.col("sz_c").alias("a_size"))
            .distinct()
        )
        outs.append(
            pairs.join(mc, "cc")
            .join(mn, "cn")
            .select(
                F.col("rc").alias("id_a"),
                F.col("rn").alias("id_b"),
                "inter_size",
                "a_size",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --------------------------------------------------------------------------
# Embedding cosine near-dup — persisted hyperplane-bucket index
# --------------------------------------------------------------------------


def _bucketed_units(df, vec_col, id_col, bucket_bits, seed, dim):
    from ..vector.search import hyperplane_bucket, l2_norm_expr

    base = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("rid"), F.col(vec_col).alias("__v"))
        .withColumn(
            "bkt", hyperplane_bucket(F.col("__v"), bucket_bits, seed, dim)
        )
        .filter(F.col("bkt").isNotNull())
        .withColumn("__n", l2_norm_expr(F.col("__v")))
        # zero-norm vectors can never reach a positive threshold —
        # same outcome as the batch path's null unit vector
        .filter(F.col("__n") > 0)
    )
    return base.select(
        "rid",
        "bkt",
        F.transform(
            F.col("__v"), lambda x: x.cast("double") / F.col("__n")
        ).alias("u"),
    )


def embedding_lsh_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_bits: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> dict[str, DataFrame]:
    """Persistable hyperplane-LSH index for embedding near-dup — the
    vector twin of :func:`set_similarity_index` (and of minhash's
    :func:`~..minhash.lsh_bucket_table`): (rid, bkt, unit-vector) rows,
    partitioned/bucketed by ``bkt`` at rest so an increment's probe
    reads only its colliding buckets. The UNIT vector rides in the
    index, so candidate verification (one fused dot per collision)
    never consults the corpus table at all. The params table bakes in
    (bucket_bits, seed, dim) — buckets are only comparable under the
    hyperplanes they were built with."""
    return {
        "buckets": _bucketed_units(df, vec_col, id_col, bucket_bits, seed, dim),
        "params": _params_table(
            df.sparkSession, bucket_bits=bucket_bits, seed=seed, dim=dim
        ),
    }


def embedding_lsh_upsert(
    index: dict[str, DataFrame],
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_bits: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> dict[str, DataFrame]:
    """Fold an increment into the index: incoming rids REPLACE their
    old rows (broadcast anti-join against the increment-sized rid
    set), new rows bucket+normalize from scratch — the corpus vectors
    are never re-read. Composes: upsert(upsert(ix, a), b) ==
    index(corpus ∪ a ∪ b) for disjoint rid sets."""
    _check_params(
        index, "embedding_lsh_upsert",
        bucket_bits=bucket_bits, seed=seed, dim=dim,
    )
    fresh = _bucketed_units(new_df, vec_col, id_col, bucket_bits, seed, dim)
    new_ids = fresh.select("rid").distinct()
    kept = index["buckets"].join(F.broadcast(new_ids), "rid", "left_anti")
    return {
        "buckets": kept.unionByName(fresh),
        "params": index["params"],
    }


def embedding_near_dup_incremental(
    new_df: DataFrame,
    index: dict[str, DataFrame],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_bits: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """All (new, corpus) pairs with cosine ≥ ``threshold`` whose
    vectors share a hyperplane sign-bucket — the daily-crawl pattern
    for embedding near-dup: cost is O(new-batch bucketing + bucket
    collisions), the corpus is never self-paired and (unit vectors
    riding in the index) never re-read. Same approximation contract as
    the batch :func:`~..embedding.embedding_near_dup_pairs` default:
    pairs split by a hyperplane are missed, the documented trade.
    Returns (new_id, corpus_id, cosine); ``threshold`` is query-time
    (the index is threshold-independent), while bucket geometry is
    checked against the params table."""
    from ..vector.search import dot_expr

    _check_params(
        index, "embedding_near_dup_incremental",
        bucket_bits=bucket_bits, seed=seed, dim=dim,
    )
    probe = _bucketed_units(new_df, vec_col, id_col, bucket_bits, seed, dim)
    return (
        probe.select(
            "bkt", F.col("rid").alias("new_id"), F.col("u").alias("un")
        )
        .join(
            index["buckets"].select(
                "bkt", F.col("rid").alias("corpus_id"), F.col("u").alias("uc")
            ),
            "bkt",
        )
        .withColumn("cosine", dot_expr(F.col("un"), F.col("uc")))
        .filter(F.col("cosine") >= threshold)
        .select("new_id", "corpus_id", "cosine")
    )


def embedding_lsh_delete(
    index: dict[str, DataFrame],
    ids: DataFrame,
    id_col: str = "vec_id",
) -> dict[str, DataFrame]:
    """Remove vectors from the hyperplane-LSH index — the takedown
    verb completing the family (bm25_delete / ivf_delete): one
    broadcast anti-join against the deletion-sized rid set; geometry
    params unchanged (buckets are per-vector, so the remaining rows
    ARE the index of the remaining corpus — delete(index(c), d) ==
    index(c − d) exactly). Ids absent from the index are no-ops."""
    col = id_col if id_col in ids.columns else ids.columns[0]
    rid = ids.select(F.col(col).alias("rid")).distinct()
    return {
        "buckets": index["buckets"].join(
            F.broadcast(rid), "rid", "left_anti"
        ),
        "params": index["params"],
    }


def set_similarity_delete(
    index: dict[str, DataFrame],
    ids: DataFrame,
    id_col: str = "rid",
) -> dict[str, DataFrame]:
    """Remove records from the prefix index, deletion-sized: the rid
    rows leave ``members`` by anti-join; classes whose LAST member
    left (dead cids — computed by probing only the TOUCHED cids, never
    the corpus) leave ``reps``/``prefix``. ``tok_df`` — the FROZEN
    global token order — is intentionally untouched, exactly like
    upserts never re-rank it: candidate prefixes stay comparable
    across index generations, and the join-result contract
    (delete-then-probe == rebuild-then-probe) holds because prefix
    filtering is a superset-generating optimization for ANY consistent
    order, verified pairs are order-independent (unit-locked)."""
    col = id_col if id_col in ids.columns else ids.columns[0]
    rid = ids.select(F.col(col).alias("rid")).distinct()
    members = index["members"].join(F.broadcast(rid), "rid", "left_anti")
    touched = (
        index["members"]
        .join(F.broadcast(rid), "rid")
        .select("cid")
        .distinct()
    )
    survivors = (
        index["members"]
        .join(F.broadcast(touched), "cid")
        .join(F.broadcast(rid), "rid", "left_anti")
        .select("cid")
        .distinct()
    )
    dead = touched.join(survivors, "cid", "left_anti")
    return {
        "tok_df": index["tok_df"],
        "reps": index["reps"].join(F.broadcast(dead), "cid", "left_anti"),
        "prefix": index["prefix"].join(
            F.broadcast(dead), "cid", "left_anti"
        ),
        "members": members,
        "params": index["params"],
    }
