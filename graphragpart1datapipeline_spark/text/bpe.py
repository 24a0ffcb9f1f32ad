"""Distributed BPE (byte-pair-encoding) vocabulary training.

A pretraining pipeline doesn't just consume a tokenizer — building one
IS a corpus-scale job: count words once, then iteratively find the most
frequent adjacent symbol pair and merge it (Sennrich et al. 2016;
GPT-2-style, no end-of-word marker). The corpus-sized work happens
exactly once (the word-count shuffle); every merge round then runs on
the WORD TABLE (vocabulary-sized, millions of rows at 100 TB, not
trillions), with one map-side-combined pair-count shuffle and a
1-row driver collect per round. That two-tier shape — corpus pass,
then vocab-sized iterations — is what makes BPE training tractable at
scale, and it falls out naturally in DataFrame form.

Determinism / oracle parity (q88): symbols live in a SPACE-JOINED
string column; pair counts are exact long sums with ties broken by
lexicographic pair order, and a merge is applied with plain
``replace(s, ' a b ', ' ab ')`` — greedy left-to-right non-overlapping,
the exact same primitive (and the exact same result) in Spark, DuckDB,
or any SQL engine, so the oracle replays whole training runs
value-for-value. The replace-based application is a deliberate,
documented variant of classic BPE: when the winning pair repeats
back-to-back inside one word ("hahaha"), one round merges alternate
occurrences and later rounds pick up the rest (classic BPE folds them
all at once). Everything else is textbook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame
from .analysis import tokens


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(w, wc, s): distinct words with counts and the space-joined
    character-symbol string ' c1 c2 ... ck ' (boundary spaces make the
    merge pattern ' a b ' unambiguous at word edges)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .withColumn(
            "s",
            F.concat(
                F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
            ),
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    syms = F.split(F.trim("s"), " ")
    n = F.size(syms)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.slice(F.sequence(F.lit(0), F.lit(0)), 1, 0)
    )
    return (
        words.select(
            "wc",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat(
                        F.element_at(syms, i),
                        F.lit(" "),
                        F.element_at(syms, i + 1),
                    ),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wc").alias("freq"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    merges_per_round: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from a corpus. Returns the merge
    table (rank 1-based, ``pair`` space-separated, ``merged``, ``freq``
    at selection time) — the artifact a tokenizer is built from.

    Per round: one pair-count shuffle over the vocab table + a tiny
    collect; the word table is localCheckpoint'ed per round so the plan
    stays flat instead of stacking replaces.

    ``merges_per_round``: at real tokenizer scale (30k+ merges) one
    corpus-table pass per merge is the bottleneck, so each round may
    select the top-M pairs by (freq desc, pair asc) whose SYMBOLS are
    pairwise disjoint and apply them together — disjoint-symbol merges
    commute (replacing ' a b ' can neither create nor destroy ' c d '
    when {a,b} ∩ {c,d} = ∅), so the batch is order-independent and
    deterministic. Counts for the 2nd..Mth pick are from the start of
    the round (standard batched-BPE trade); with ``merges_per_round=1``
    the output is exactly classic greedy BPE (property-tested), which
    remains the oracle-replayable default (q88)."""
    spark = df.sparkSession
    words = _word_symbols(df, text_col).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges:
        want = min(merges_per_round, num_merges - len(merges))
        top = (
            _pair_counts(words)
            .orderBy(F.col("freq").desc(), F.col("pair"))
            .limit(want * 4 + 8)  # headroom for overlap skips
            .collect()
        )
        picked: list[tuple[str, int]] = []
        used: set[str] = set()
        for row in top:
            if row["freq"] < 1:
                break
            a, b = row["pair"].split(" ")
            if a in used or b in used:
                continue
            picked.append((row["pair"], int(row["freq"])))
            used.update((a, b))
            if len(picked) == want:
                break
        if not picked:
            break
        expr = F.col("s")
        for pair, freq in picked:
            merges.append(
                (len(merges) + 1, pair, pair.replace(" ", ""), freq)
            )
            expr = F.replace(
                expr,
                F.lit(f" {pair} "),
                F.lit(f" {pair.replace(' ', '')} "),
            )
        words = words.withColumn("s", expr).localCheckpoint(eager=False)
    return local_frame(
        spark, merges, "rank int, pair string, merged string, freq long"
    )


def bpe_apply(
    df: DataFrame,
    merges: DataFrame | list[tuple],
    text_col: str = "text",
    out_col: str = "bpe_symbols",
) -> DataFrame:
    """Tokenize text with a learned merge table: per word, start from
    characters and apply every merge in rank order (same replace
    primitive as training). Map-only — merges ship as literals in the
    expression tree, the corpus never shuffles. Output: ``out_col``
    array<string> of symbols in document order. Rows whose text yields
    no tokens are PRESERVED with an empty symbol array (posexplode_outer
    keeps them as a null-token row — consistent with
    remove_repeated_passages' keep-empty-documents contract)."""
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("rank").collect()
        seq = [(r["pair"], r["merged"]) for r in rows]
    else:
        seq = [(p, m) for _, p, m, *_ in merges]
    word = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("__w"), ""), " "), F.lit(" ")
    )
    expr = word
    for pair, merged in seq:
        expr = F.replace(expr, F.lit(f" {pair} "), F.lit(f" {merged} "))
    exploded = df.select(
        "*", F.posexplode_outer(tokens(text_col)).alias("__pos", "__w")
    )
    symbolized = exploded.withColumn(
        "__syms",
        F.when(
            F.col("__w").isNull() | (F.col("__w") == ""),
            F.array().cast("array<string>"),
        ).otherwise(F.split(F.trim(expr), " ")),
    ).withColumn("__pos", F.coalesce("__pos", F.lit(0)))
    keys = [c for c in df.columns]
    return (
        symbolized.groupBy(*keys)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__syms"))
                    ),
                    lambda st: st["__syms"],
                )
            ).alias(out_col)
        )
    )
