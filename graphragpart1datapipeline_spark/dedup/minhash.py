"""MinHash + LSH near-duplicate detection, fully declarative.

Pipeline: word-shingles → k MinHash values → band signatures →
bucket-join on (band, signature) → candidate pairs → (optional) exact
Jaccard verification on candidates only.

Design choices for scale AND cross-engine determinism:
- ONE base hash per shingle (md5 → first 15 hex digits → 60-bit int,
  reduced mod 2^31-1), then k affine permutations
  h_i = (a_i·h + b_i) mod 2^31-1 — the classic minwise family. One
  cryptographic hash instead of k per shingle; the permutations are a
  few integer ops each. md5 and 64-bit integer arithmetic are identical
  in every engine, so the DuckDB oracle replicates bit-for-bit.
- The signature is a pure map-only stage — NO shuffle: shingles are
  already an array per document, so each of the k minima is
  ``array_min(transform(hashes, h -> (a_i*h + b_i) mod M))`` computed
  row-local inside whole-stage codegen. (The naive explode → groupBy
  plan shuffles one row per (doc, shingle); this shuffles nothing.)
- Candidate generation is one shuffle: groupBy(band, bucket) collects
  the sorted member ids, and the pairs are generated intra-bucket with
  higher-order functions. The O(n²) pair space is never materialized —
  only same-bucket collisions are. (A bucket with m members emits
  m(m-1)/2 pairs; a degenerate mega-bucket means the corpus has that
  many mutual near-dups, which is inherent to LSH, not to this plan.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ngram import shingle_jaccard, word_shingles

MERSENNE31 = 2_147_483_647  # 2^31 - 1 (prime): permutation modulus


def perm_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine minwise permutations
    (LCG from seed — reproducible in the SQL oracle as plain literals)."""
    state = seed & 0x7FFFFFFF or 1
    out = []
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state % (MERSENNE31 - 1) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MERSENNE31
        out.append((a, b))
    return out


def shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles of whitespace-tokenized text (distinct)."""
    return word_shingles(col, n)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig) where sig = array of num_hashes int64 minima.
    Documents with no shingle produce no row.

    Map-only: the per-document shingle array is hashed once
    (md5 → 60-bit int mod 2^31-1), then each permutation's minimum is an
    ``array_min(transform(...))`` over that row-local array — zero
    shuffle, fully inside whole-stage codegen."""
    from ..util import ensure_parallelism

    df = ensure_parallelism(df)
    # "has at least one shingle" ⟺ "has at least n tokens" — filter on
    # the cheap token count so Catalyst can push it below the
    # repartition Exchange WITHOUT dragging the md5 work down to scan
    # parallelism (a size(__hs) > 0 filter would recompute the whole
    # hash chain pre-Exchange).
    df = df.filter(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= shingle_n
    )
    # one md5 per shingle; a_i·h + b_i stays < 2^62 (no overflow)
    hashed = df.select(
        F.col(id_col),
        F.transform(
            shingles(text_col, shingle_n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
            % MERSENNE31,
        ).alias("__hs"),
    )
    mins = [
        F.array_min(
            F.transform(
                F.col("__hs"), lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31
            )
        )
        for (a, b) in perm_coeffs(num_hashes, seed)
    ]
    return hashed.select(F.col(id_col), F.array(*mins).alias("sig"))


def lsh_bucket_table(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """Band a signature table into its LSH index rows ``(id, band,
    bucket)`` — the PERSISTABLE side of incremental dedup. At 100 TB,
    write this table once per corpus snapshot bucketed/partitioned by
    ``(band, bucket)``; each new-crawl increment joins its own (small)
    banding against it co-located, so corpus-vs-corpus pairing never
    reruns. Map-only (the banding is a row-local explode)."""
    # band b covers sig[b*r+1 .. (b+1)*r]; r computed from size at runtime
    r = F.floor(F.size("sig") / F.lit(bands)).cast("int")
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                            "|",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bucket")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (rows = num_hashes / bands), group on the band
    key, emit distinct candidate (a, b) pairs with a < b.

    One shuffle total: groupBy(band, bucket) collects the sorted member
    ids and the m(m-1)/2 intra-bucket pairs are generated row-local with
    higher-order functions — no self-join, no double read of the
    signature stage (the old plan needed an eager checkpoint for that).

    ``max_bucket_size``: at 100 TB a degenerate band value (empty-ish
    documents, templated boilerplate) can put millions of ids in ONE
    bucket — its collect_set lands on a single executor and its m²/2
    pair fan-out dwarfs the rest of the job. Buckets larger than the cap
    are dropped entirely (standard MinHashLSH practice: a bucket that
    big is non-discriminative — near-everything matches everything — so
    its pairs are noise for dedup purposes; the documented recall trade).
    None (default) keeps every bucket: exact reference semantics, the
    correctness-oracle configuration."""
    banded = lsh_bucket_table(sig_df, id_col, bands)
    members = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        members = members.filter(F.size("ids") <= max_bucket_size)
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        members.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float | None = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup dedup: LSH candidates (optionally verified by exact
    shingle Jaccard) → connected "keep the smallest id per duplicate
    pair-group" rule → surviving rows. ``max_bucket_size`` passes
    through to :func:`lsh_candidate_pairs` (mega-bucket guard at scale).

    Note: survivor selection collapses pairs by min-id per component
    *approximated* as min over direct neighbors (single pass). For full
    transitive closure use graph.connected_components on the pair list.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    pairs = lsh_candidate_pairs(sigs, id_col, bands, max_bucket_size)
    if jaccard_threshold is not None:
        from .ngram import ngram_jaccard_on_pairs

        pairs = ngram_jaccard_on_pairs(
            pairs, df, text_col, id_col, shingle_n
        ).filter(F.col("jaccard") >= jaccard_threshold).select("a", "b")
    # every doc appearing as the larger id of a pair is a duplicate
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_lsh_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float | None = 0.7,
    corpus_buckets: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup detection: flag documents of a NEW batch
    that duplicate the EXISTING corpus, without ever re-pairing the
    corpus with itself — the daily-crawl-increment pattern. Cost is
    O(new-batch signatures + bucket collisions), not
    O((corpus + new)²) and not even a corpus re-scan when
    ``corpus_buckets`` is a persisted index.

    ``corpus_buckets``: the ``(id, band, bucket)`` table from
    :func:`lsh_bucket_table`, persisted bucketed/partitioned by
    ``(band, bucket)`` at the previous snapshot. When given,
    ``corpus_df`` is only consulted for candidate verification texts
    (pass the corpus documents table; only rows that collide are
    joined). When absent, the index is computed from ``corpus_df``.

    Returns verified ``(new_id, corpus_id, jaccard)`` pairs; anti-join
    the new batch on ``new_id`` to admit only novel documents, then
    append the admitted rows' bucket entries to the index — same
    signature scheme (seed-stable), so increments compose.
    """
    if corpus_df is None and corpus_buckets is None:
        raise ValueError("need corpus_df or corpus_buckets")
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, num_hashes, shingle_n, seed
    )
    if corpus_buckets is None:
        corpus_buckets = lsh_bucket_table(
            minhash_signatures(
                corpus_df, text_col, id_col, num_hashes, shingle_n, seed
            ),
            id_col,
            bands,
        )
    new_buckets = lsh_bucket_table(new_sigs, id_col, bands)
    cand = (
        new_buckets.alias("n")
        .join(corpus_buckets.alias("c"), ["band", "bucket"])
        .select(
            F.col(f"n.{id_col}").alias("a"), F.col(f"c.{id_col}").alias("b")
        )
        .distinct()
    )
    # each side reads its own table (a new id also in corpus_df is
    # scored with its NEW text only) and the pairs are read once
    texts_b = new_df if corpus_df is None else corpus_df
    j = cand.join(new_df.select(F.col(id_col).alias("a"), F.col(text_col).alias("ta")), "a")
    j = j.join(texts_b.select(F.col(id_col).alias("b"), F.col(text_col).alias("tb")), "b")
    jac = shingle_jaccard(shingles("ta", shingle_n), shingles("tb", shingle_n))
    verified = j.select("a", "b", jac.alias("jaccard"))
    if jaccard_threshold is not None:
        verified = verified.filter(F.col("jaccard") >= jaccard_threshold)
    return verified.select(
        F.col("a").alias("new_id"), F.col("b").alias("corpus_id"), "jaccard"
    )
