"""n-gram (shingle) Jaccard similarity between documents.

Used both standalone (exact similarity on an explicit pair list) and as
the verification stage after MinHash/LSH candidate generation. Exact
all-pairs Jaccard is O(n²) — never do it at scale; always feed a
candidate pair list (LSH buckets) or an explicit small pair set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles as array<string>; empty array when the
    document has fewer than n tokens. Pure higher-order functions."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )


def shingle_jaccard(sh_a: Column | str, sh_b: Column | str) -> Column:
    """Exact Jaccard |a ∩ b| / |a ∪ b| of two shingle arrays; 0.0 when
    both are empty."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_on_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for each (a, b) pair: two hash joins to
    attach shingle arrays, then array_intersect/array_union — all
    JVM-side. Returns (a, b, jaccard).

    Shingling runs ONLY over documents that appear in a pair (left-semi
    against the pair-id set, broadcast when small): candidates are a
    tiny fraction of the corpus after LSH, so the expensive
    split/transform/distinct chain never touches the clean majority —
    and it would otherwise run twice (once per join side)."""
    pair_ids = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh = docs.join(pair_ids, id_col, "left_semi").select(
        F.col(id_col), word_shingles(text_col, n).alias("__sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "a").withColumnRenamed("__sh", "sh_a"), "a")
        .join(sh.withColumnRenamed(id_col, "b").withColumnRenamed("__sh", "sh_b"), "b")
    )
    return j.select("a", "b", shingle_jaccard("sh_a", "sh_b").alias("jaccard"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs exact Jaccard ≥ threshold — CORRECTNESS BASELINE ONLY
    (O(n²) cross join; the scale path is minhash.lsh_candidate_pairs →
    ngram_jaccard_on_pairs)."""
    sh = docs.select(F.col(id_col), word_shingles(text_col, n).alias("__sh"))
    a = sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("__sh").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    return pairs.select(
        "a", "b", shingle_jaccard("sh_a", "sh_b").alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_matches: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing at least
    ``min_matches`` distinct ``n``-gram shingles with ANY benchmark
    document — the standard pre-training hygiene step (remove eval-set
    leakage before training; the n-gram-overlap rule used by GPT-3/PaLM/
    Llama dataset reports).

    Returns (id_col, n_matching_shingles) for contaminated documents
    only; anti-join the corpus against it to clean.

    Scale shape: the benchmark side is distinct shingles of the eval
    sets — small by definition — broadcast to every executor, so the
    corpus-side probe is map-only; the single shuffle is the per-doc
    countDistinct. At 100 TB the corpus is never shuffled by shingle.
    Set ``broadcast_benchmark=False`` if the benchmark shingle set is
    too big to broadcast (falls back to a hash join).
    """
    doc_sh = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("__sh")
    )
    bench_sh = benchmark.select(
        F.explode(word_shingles(bench_text_col, n)).alias("__sh")
    ).distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (
        doc_sh.join(bench_sh, "__sh")
        .groupBy(id_col)
        .agg(F.countDistinct("__sh").alias("n_matching_shingles"))
        .filter(F.col("n_matching_shingles") >= min_matches)
    )
