"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

Extension surface beyond the reference (sanctioned by BASELINE.json's
north star); everything is pure column expressions — JVM-side,
codegen-friendly, zero Python in the hot path — and each has an exact
ANSI-SQL oracle equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword
# heuristic language classifier. Deliberately small + deterministic so
# the SQL oracle can replicate them verbatim.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr": ("le", "la", "de", "et", "un", "est", "pas", "que", "pour", "dans"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count, 0 for empty/null text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNull() | (F.trim(c) == ""), F.lit(0)
    ).otherwise(F.size(tokens(c)))


def _stopword_hits(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


def language_id(col: Column | str) -> Column:
    """Heuristic language classifier: argmax of per-language stopword hit
    counts over whitespace tokens; 'und' (undetermined) when no stopword
    hits at all. Ties break by language code order en < de < es < fr via
    strict-greater comparison, keeping the result deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    hits = {lang: _stopword_hits(toks, lang) for lang in STOPWORDS}
    best_lang = F.lit("en")
    best_hits = hits["en"]
    for lang in ("de", "es", "fr"):
        cond = hits[lang] > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    return F.when(best_hits <= 0, F.lit("und")).otherwise(best_lang)


# Unicode SCRIPT ranges as explicit codepoint classes — deliberately
# NOT \p{script=...}: Java and RE2 spell script properties differently
# (\p{IsHan} / \p{script=Han} vs \p{Han}), and RE2 lacks \uXXXX
# escapes entirely, so the classes are built from ACTUAL characters —
# byte-identical pattern text in both engines (the dual-dialect rule
# every oracle-replayed regex here follows). Ranges cover the
# dominant blocks, not every historic supplement — a curation signal,
# not a Unicode census.
SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("arabic", "؀-ۿ"),
    ("devanagari", "ऀ-ॿ"),
    ("han", "一-鿿"),
    ("kana", "぀-ヿ"),
    ("hangul", "가-힯ᄀ-ᇿ"),
)


def script_fractions(col: Column | str) -> Column:
    """Per-script character fractions as a per-script struct (the
    argmax lives in :func:`dominant_script`) — the curation signal a
    multilingual
    100 TB corpus filters on before any model-based language ID (a
    doc claiming lang='en' that is 90% Han codepoints is mislabeled
    junk): counts each :data:`SCRIPT_RANGES` class over the raw text,
    divides by the LETTER total (sum of all script counts — spaces,
    digits, punctuation excluded so prose and code-ish docs compare),
    all row-local ``regexp_count`` work in one projection."""
    c = F.col(col) if isinstance(col, str) else col
    counts = {
        name: F.regexp_count(c, F.lit(f"[{rng}]"))
        for name, rng in SCRIPT_RANGES
    }
    total = None
    for v in counts.values():
        total = v if total is None else total + v
    total = total.cast("double")
    return F.struct(
        *[
            F.when(total > 0, counts[name].cast("double") / total)
            .otherwise(F.lit(0.0))
            .alias(name)
            for name, _ in SCRIPT_RANGES
        ]
    )


def dominant_script(col: Column | str) -> Column:
    """Argmax script name over :func:`script_fractions`'s counts
    ('none' when the text has no letters at all); ties break by
    :data:`SCRIPT_RANGES` order — deterministic, SQL-replayable."""
    c = F.col(col) if isinstance(col, str) else col
    counts = {
        name: F.regexp_count(c, F.lit(f"[{rng}]"))
        for name, rng in SCRIPT_RANGES
    }
    names = [n for n, _ in SCRIPT_RANGES]
    best_name = F.lit(names[0])
    best = counts[names[0]]
    for name in names[1:]:
        cond = counts[name] > best
        best_name = F.when(cond, F.lit(name)).otherwise(best_name)
        best = F.when(cond, counts[name]).otherwise(best)
    return F.when(best <= 0, F.lit("none")).otherwise(best_name)


def expected_script(lang_col: Column | str, expected: dict[str, str]) -> Column:
    """The script a claimed language SHOULD be written in, as a plan
    literal CASE over ``expected`` (lang code → script name from
    :data:`SCRIPT_RANGES`); NULL for languages the map doesn't cover
    (no claim → no evidence). Unknown script names raise at plan
    build — a typo would silently flag every document."""
    names = {n for n, _ in SCRIPT_RANGES}
    bad = {s for s in expected.values() if s not in names}
    if bad:
        raise ValueError(
            f"expected_script: unknown script name(s) {sorted(bad)}; "
            f"valid: {sorted(names)}"
        )
    c = F.col(lang_col) if isinstance(lang_col, str) else lang_col
    out = F.lit(None).cast("string")
    for lang, script in sorted(expected.items()):
        out = F.when(F.lower(c) == lang.lower(), F.lit(script)).otherwise(
            out
        )
    return out


def lang_script_mismatch(
    df,
    expected: dict[str, str],
    lang_col: str = "lang",
    text_col: str = "text",
):
    """The mislabeled-language pre-filter :func:`script_fractions`'
    docstring promises (a doc whose CLAIMED language disagrees with
    its DOMINANT script is mislabeled junk — the standard check every
    multilingual corpus runs before model-based lang-ID): adds
    ``dominant`` (argmax script), ``expected_script`` (the claim's
    script, NULL when unmapped), and ``mismatch`` — true only when
    there IS a claim, the text HAS letters ('none' dominant is no
    evidence), and the two disagree. All row-local column work; the
    flag fuses into the scan (q269)."""
    dom = dominant_script(text_col)
    exp = expected_script(lang_col, expected)
    mismatch = exp.isNotNull() & (dom != F.lit("none")) & (dom != exp)
    return (
        df.withColumn("dominant", dom)
        .withColumn("expected_script", exp)
        .withColumn("mismatch", F.coalesce(mismatch, F.lit(False)))
    )


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score in [0, 1]:
    0.4 * length_score (tokens/100 capped at 1)
    + 0.3 * (1 - punctuation_ratio)   (punct chars / total chars)
    + 0.3 * stopword_ratio capped at 3x its 0.1 target.
    Deterministic, SQL-expressible; round before comparing."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(c).cast("double")
    n_punct = (
        n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    ).cast("double")
    sw = _stopword_hits(toks, "en").cast("double")
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(1.0))
    sw_ratio = F.when(n_tok > 0, sw / n_tok).otherwise(F.lit(0.0))
    sw_score = F.least(sw_ratio / F.lit(0.1), F.lit(1.0))
    return (
        F.lit(0.4) * length_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * sw_score
    )


def fulltext_search(
    df,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    match_all: bool = True,
):
    """Fulltext term search G5 (reference: Neo4j fulltext index,
    README.md:414-418) as an inverted-index plan: explode distinct
    tokens, keep postings matching the query terms, group by document
    and demand all (or any) terms present. At scale the exploded
    (token, doc_id) postings are a persisted table bucketed by token —
    a probe then touches only the buckets of the query terms instead of
    scanning the corpus. Returns matching (id_col) rows."""
    toks = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("__t"))
        .filter(F.lower(F.col("__t")).isin(*[t.lower() for t in terms]))
    )
    hits = toks.groupBy(id_col).agg(F.countDistinct(F.lower("__t")).alias("__n"))
    needed = len(set(t.lower() for t in terms)) if match_all else 1
    return hits.filter(F.col("__n") >= needed).select(id_col)


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    log_idf: bool = True,
):
    """Top-k characteristic terms per document by TF-IDF.

    Plan shape (scale-first): one explode → groupBy(doc, term) computes
    term frequencies with map-side partial aggregation — the only
    corpus-sized shuffle; document frequencies reuse those already-unique
    (doc, term) rows with a vocab-sized groupBy; the corpus size joins in
    as a broadcast single-row frame (no driver round-trip); top-k is a
    per-document window.

    ``log_idf=False`` scores tf·(N/df) without the logarithm — integer
    multiply + one IEEE division, bit-identical in every engine (what
    the DuckDB oracle checks). The default tf·ln(N/df) is the standard
    weighting (libm ln may differ across engines in the last ulp).
    Ties rank deterministically by term.
    """
    from pyspark.sql import Window

    terms = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
        .select(id_col, F.lower("__t").alias("term"))
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.countDistinct(id_col).alias("__n"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(ndocs))
    if log_idf:
        score = F.col("tf") * F.log(F.col("__n") / F.col("df"))
    else:
        score = (F.col("tf") * F.col("__n")).cast("double") / F.col("df")
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def bm25_term_score(
    tf: Column,
    df: Column,
    dl: Column,
    n_docs: Column,
    sum_dl: Column,
    k1: float,
    b: float,
    log_idf: bool,
) -> Column:
    """One query term's BM25 contribution to one document: the package's
    one BM25 scoring expression, shared by :func:`bm25_topk` (wide, one
    column per query term) and :func:`~.bm25_index.bm25_query` (one row
    per matched term). With ``log_idf=False`` every op is an
    exactly-rounded IEEE op, so the same inputs give the same bits in
    both plans and in the DuckDB oracle."""
    avgdl = sum_dl.cast("double") / n_docs
    rational = (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    idf = F.log(F.lit(1.0) + rational) if log_idf else rational
    denom = tf + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (dl / avgdl)
    )
    return idf * (tf * F.lit(k1 + 1.0)) / denom


def bm25_topk(
    df,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    log_idf: bool = True,
):
    """Ranked fulltext retrieval: BM25 top-k (Robertson/Spärck Jones;
    the ranked upgrade of :func:`fulltext_search`'s boolean match —
    reference: Neo4j fulltext index scoring, README.md:414-418).

    Plan: per-term tf is a row-local array count (|terms| is
    query-sized), so there is no postings shuffle and no tf ⋈ dl join.
    ONE map-side-combined agg produces (n_docs, sum_dl, df_1..df_T) as
    a 1-row broadcast, then ONE scoring scan ends in
    TakeOrderedAndProject (only k rows reach a single task). Zero
    corpus-sized exchanges at any scale.

    Serving from a persisted, upserted index is
    :func:`~.bm25_index.bm25_query`. Both score with
    :func:`bm25_term_score` and sum exactly in decimal, so on a corpus
    with unique, non-NULL ids they return the same rows. Here every
    input row is a document: a duplicated id ranks each of its rows
    (``bm25_query`` raises instead).

    ``log_idf=False`` uses the rational idf (N - df + 0.5)/(df + 0.5)
    without the logarithm — all exactly-rounded IEEE ops, bit-identical
    across engines (what the DuckDB oracle replays; per-doc sums are
    decimal-accumulated so term order can't matter). The default
    ln(1 + rational) is standard BM25+ (libm ln may differ in the last
    ulp across engines). Ties rank deterministically by id.
    """
    from pyspark.sql import Window

    qterms = sorted({t.lower() for t in terms})
    if not qterms:
        raise ValueError("bm25_topk: need at least one query term")
    # the balanced pairwise decimal reduction widens precision by 1 per
    # add level: 25 + ceil(log2(T)) must stay <= 38, i.e. T <= 8192 —
    # beyond that Spark (allowPrecisionLoss=true) would silently drop
    # scale and break the exact-sum contract, so refuse loudly
    if len(qterms) > 8192:
        raise ValueError(
            f"bm25_topk: {len(qterms)} distinct query terms exceeds the "
            "8192 bound of the exact decimal(25,12) pairwise summation "
            "(25 + log2(T) decimal digits must stay <= 38)"
        )
    toks = tokens(text_col)
    def _tf(term: str):
        # one-arg lambda: F.filter treats two-arg lambdas as (x, i)
        return F.size(F.filter(toks, lambda t: F.lower(t) == F.lit(term)))

    def _has(term: str):
        return F.exists(toks, lambda t: F.lower(t) == F.lit(term))

    tf_cols = [_tf(q).alias(f"__tf_{i}") for i, q in enumerate(qterms)]
    # stats pass: dl needs no lowering, df_i only needs EXISTS — the
    # cheapest possible full-corpus pass
    stats = df.select(
        F.size(toks).alias("dl"),
        *[_has(q).cast("long").alias(f"__h_{i}") for i, q in enumerate(qterms)],
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(f"__h_{i}").alias(f"__df_{i}")
            for i in range(len(qterms))
        ],
    )
    per_doc = df.select(F.col(id_col), F.size(toks).alias("dl"), *tf_cols)
    scored = per_doc.crossJoin(F.broadcast(stats))
    # contributions are cast to decimal(25,12) (scale 12 — the same
    # rounding as the old cast to decimal(38,12)) and added PAIRWISE
    # (balanced tree): Spark widens decimal precision by 1 per ADD
    # LEVEL, so the tree keeps precision at 25+ceil(log2(T)) ≤ 38 up to
    # T=8192 terms (guarded above) where a left fold would overflow
    # precision at T=14 and silently drop scale to 11. Exact decimal
    # adds in any grouping equal the old groupBy SUM bit-for-bit.
    zero_dec = F.lit(0).cast("decimal(25,12)")
    contribs = []
    hits = []
    for i in range(len(qterms)):
        tf_c = F.col(f"__tf_{i}")
        df_c = F.col(f"__df_{i}")
        term_score = bm25_term_score(
            tf_c, df_c, F.col("dl"), F.col("n_docs"), F.col("sum_dl"),
            k1, b, log_idf,
        )
        contribs.append(
            F.when(tf_c > 0, term_score.cast("decimal(25,12)")).otherwise(
                zero_dec
            )
        )
        hits.append(F.when(tf_c > 0, F.lit(1)).otherwise(F.lit(0)))
    while len(contribs) > 1:  # balanced pairwise reduction
        contribs = [
            contribs[j] + contribs[j + 1]
            if j + 1 < len(contribs)
            else contribs[j]
            for j in range(0, len(contribs), 2)
        ]
    score_dec = contribs[0]
    matched = hits[0]
    for h in hits[1:]:
        matched = matched + h
    per_doc_scored = scored.select(
        F.col(id_col),
        score_dec.cast("double").alias("score"),
        matched.cast("long").alias("matched_terms"),
    ).filter(F.col("matched_terms") >= 1)
    topk = per_doc_scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


# (pattern, replacement) chain applied in order; kept RE2-compatible so
# the SQL oracle replays them verbatim (no backrefs, no lookaround)
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"https?://[^\s]+", "[URL]"),
    (r"\+?[0-9][0-9() -]{7,}[0-9]", "[PHONE]"),
)


def pii_redact(col: Column | str) -> Column:
    """Scrub common PII shapes (emails, URLs, phone-like digit runs)
    from text — the standard pre-training hygiene pass. Pure
    regexp_replace chain: JVM-side, codegen-friendly, streamable."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(
    df,
    text_col: str = "text",
    group_col: str | None = None,
):
    """The audit rollup compliance wants NEXT TO :func:`pii_redact`:
    per PII kind (one row per kind, or per (group, kind) with
    ``group_col``), how many matches and how many documents had at
    least one. Counts run each pattern against the RAW text
    independently (unlike redaction, which chains in order), so the
    audit answers "how many of each shape occur", not "how many
    replacements happened".

    Scale shape: ONE corpus scan — every kind's ``regexp_count`` is a
    row-local JVM expression in a single projection (an array of
    (kind, count) structs, exploded to #kinds rows per doc); a
    union-of-selects would re-read the text column once PER KIND,
    since Catalyst does not deduplicate scans across union branches.
    The rollup is a kind-keyed aggregation whose cardinality is
    #kinds × #groups."""
    keys = [group_col] if group_col else []
    counts = F.array(
        *[
            F.struct(
                F.lit(repl.strip("[]")).alias("kind"),
                F.regexp_count(F.col(text_col), F.lit(pat)).alias("__n"),
            )
            for pat, repl in PII_PATTERNS
        ]
    )
    per_kind = df.select(*keys, F.explode(counts).alias("__kc")).select(
        *keys, F.col("__kc.kind").alias("kind"), F.col("__kc.__n").alias("__n")
    )
    return per_kind.groupBy(*keys, "kind").agg(
        F.sum("__n").alias("matches"),
        F.count(F.when(F.col("__n") > 0, 1)).alias("docs_with_match"),
    )


def repetition_signals(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Gopher-style repetition/quality signals per document — the
    standard pre-training corpus filters (Rae et al. 2021, "Scaling
    Language Models", §A1.1 quality heuristics):

    - ``n_words``           whitespace token count
    - ``mean_word_len``     total token chars / n_words
    - ``dup_line_frac``     1 - distinct lines / total lines
    - ``top_bigram_frac``   occurrences of the most frequent word
                            bigram / total bigrams (0.0 when < 2 words)

    Plan shape: the word/line signals are row-local higher-order
    functions (zero shuffle, linear in document length — NOT the
    quadratic row-local formulation of bigram counting); only the
    bigram multiplicity needs a shuffle, done as explode →
    groupBy(doc, bigram) → groupBy(doc) with map-side partial
    aggregation, then a co-partitioned join back on the id. All output
    fractions are single IEEE divisions of exact integers —
    bit-identical across engines.
    """
    toks = tokens(text_col)
    lines = F.split(F.col(text_col), "\n")
    row_local = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        (
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.size(toks)
        ).alias("mean_word_len"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double") / F.size(lines)
        ).alias("dup_line_frac"),
    )
    bigrams = F.when(
        F.size(toks) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        )
    )
    bi = df.select(F.col(id_col), F.explode(bigrams).alias("__bg"))
    bstat = (
        bi.groupBy(id_col, "__bg")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            (F.max("__c").cast("double") / F.sum("__c")).alias("top_bigram_frac")
        )
    )
    return row_local.join(bstat, id_col, "left").select(
        id_col,
        "n_words",
        "mean_word_len",
        "dup_line_frac",
        F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias(
            "top_bigram_frac"
        ),
    )


def document_fingerprint(col: Column | str, bits_hex: int = 16) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized,
    lowercased text, truncated to ``bits_hex`` hex chars. The
    normalization makes the fingerprint robust to whitespace-only edits
    (the rolling-hash analogue of reference F7's sha-based ids,
    utils/io_helpers.py:105-115)."""
    c = F.col(col) if isinstance(col, str) else col
    normed = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.substring(F.md5(normed), 1, bits_hex)


def winnow_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
):
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    SIGMOD'03 — the MOSS scheme): hash every k-word gram, slide a
    window of ``w`` consecutive k-gram hashes, keep the MINIMUM hash
    of each window (rightmost position on ties), distinct the
    selections. Guarantees: every shared substring of at least
    w + k - 1 words yields at least one shared fingerprint, while only
    ~2/(w+1) of positions are kept — the local, position-aware
    complement of MinHash (global similarity) and
    ``repeated_passage_spans`` (exact span frequency).

    Returns (id, pos, fingerprint): pos is the selected k-gram's
    0-based word offset, fingerprint the 60-bit md5-prefix hash —
    join fingerprints across documents to find copied regions, with
    positions localizing the match.

    Plan shape: ENTIRELY row-local — tokenize → hash array → window
    argmin via slice + struct array_min → per-document array_distinct
    → explode, all whole-stage codegen, ZERO shuffles (all of a
    document's windows live in one array, so selection dedup needs no
    exchange). Output volume is the selected-fingerprint count
    (~2n/(w+1)), never the k-gram stream. The rightmost-tie rule is
    the paper's robust-winnowing choice and makes the selection a pure
    function of the text (the q167 oracle replays it in SQL)."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1: got k={k}, w={w}")
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    wcol = F.col("__w")
    n_kgrams = F.greatest(F.size(wcol) - k + 1, F.lit(0))
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_kgrams, F.lit(1))),
        lambda i: F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(wcol, i, k), " ")), 1, 15
            ),
            16,
            10,
        ).cast("long"),
    )
    base = (
        df.select(F.col(id_col).alias("id"), words.alias("__w"))
        .filter(F.size("__w") >= k)
        .select("id", hashes.alias("__h"), n_kgrams.alias("__n"))
    )
    # windows j = 0..max(n-w, 0); slice length min(w, n-j); pick
    # struct-min of (hash, -pos) -> smallest hash, rightmost tie
    sel = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0), F.greatest(F.col("__n") - w, F.lit(0))
            ),
            lambda j: F.array_min(
                F.transform(
                    F.slice(
                        F.col("__h"),
                        j + 1,
                        F.least(F.lit(w), F.col("__n") - j),
                    ),
                    lambda h, i: F.struct(
                        h.alias("fingerprint"), (-(j + i)).alias("np")
                    ),
                )
            ),
        )
    )
    return base.select("id", F.explode(sel).alias("__s")).select(
        F.col("id").alias(id_col),
        (-F.col("__s.np")).cast("long").alias("pos"),
        F.col("__s.fingerprint"),
    )


def winnow_copy_spans(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int | None = 50,
):
    """Cross-document copied-region detection on top of
    :func:`winnow_fingerprints`: join selected fingerprints across
    documents and group matches by their ALIGNMENT DIAGONAL
    (pos_a - pos_b) — fingerprints of one contiguous copied passage
    share a diagonal, so each (doc pair, diagonal) group is one
    candidate region. Returns (id_a, id_b, offset, n_shared, a_start,
    a_end, b_start, b_end) with id_a < id_b and at least
    ``min_shared`` aligned fingerprints (2+ filters out chance
    single-hash collisions).

    ``max_postings`` drops fingerprints selected in more than that
    many documents before pairing — template/boilerplate hashes whose
    pair volume is quadratic in document frequency carry no copy
    evidence (the winnowing analogue of the LSH mega-bucket cap;
    documented lossy trade, None disables).

    Scale shape: the fingerprint join is an equi-join on the hash
    (selected volume ~2n/(w+1), capped per key); the diagonal rollup
    is one groupBy. Never a document cross product. The fingerprint
    frame is localCheckpoint'ed: it feeds the posting-cap groupBy and
    BOTH sides of the self-join, and being a zero-shuffle row-local
    plan nothing else (no ReuseExchange) would stop the full
    tokenize + per-k-gram md5 pipeline re-running per consumer."""
    fp = winnow_fingerprints(df, text_col, id_col, k=k, w=w).localCheckpoint(
        eager=True
    )
    if max_postings is not None:
        keep = (
            fp.groupBy("fingerprint")
            .agg(F.count_distinct(id_col).alias("__df"))
            .filter(F.col("__df") <= max_postings)
            .select("fingerprint")
        )
        fp = fp.join(keep, "fingerprint")
    a = fp.select(
        F.col(id_col).alias("id_a"),
        F.col("pos").alias("pos_a"),
        "fingerprint",
    )
    b = fp.select(
        F.col(id_col).alias("id_b"),
        F.col("pos").alias("pos_b"),
        "fingerprint",
    )
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(
            "id_a",
            "id_b",
            (F.col("pos_a") - F.col("pos_b")).alias("offset"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("pos_a").alias("a_start"),
            F.max("pos_a").alias("a_end"),
            F.min("pos_b").alias("b_start"),
            F.max("pos_b").alias("b_end"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def remove_boilerplate_spans(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    sep: str = "\n",
    sep_regex: str | None = None,
):
    """Cross-document boilerplate removal (the C4/CCNet line-dedup
    step): split each document on ``sep``, drop every span that occurs
    in ≥ ``min_docs`` DISTINCT documents (navigation chrome, license
    headers, templated sentences), and rebuild the text in original
    span order. Documents made of nothing but boilerplate come back
    empty rather than disappearing.

    Plan: posexplode keeps the span's position; span frequency is one
    groupBy(span) with countDistinct(doc); the boilerplate set comes
    back as a left-anti join (broadcast when small); reassembly is a
    sorted-struct collect per document — the same single-exchange
    ordered-agg pattern as the tracklist rollup. Splitting and
    rejoining on the same separator is lossless for survivors: when
    ``sep_regex`` is not given, ``sep`` is quoted (Pattern.quote
    semantics) before F.split so separators containing regex
    metacharacters ('|', '. ') split on the literal boundary that
    concat_ws later rejoins on.
    """
    c = F.col(text_col)
    if sep_regex is None:
        # java.util.regex.Pattern.quote: \Q...\E with embedded \E split out
        sep_regex = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    spans = df.select(
        F.col(id_col),
        F.posexplode(F.split(c, sep_regex)).alias("__pos", "__span"),
    )
    boiler = (
        spans.filter(F.col("__span") != "")
        .groupBy("__span")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__span")
    )
    kept = spans.join(boiler, "__span", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__span"))),
                lambda x: x["__span"],
            ),
        ).alias("clean_text")
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def positional_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional inverted-index postings: one row per token occurrence,
    (token, doc id, 0-based position). Tokenization is the same
    lower/non-alphanumeric split used across the text operators, with
    empty tokens removed BEFORE positions are assigned (positions index
    the token stream, not the raw character stream).

    This is the index build: map-only explode; persisted partitioned by
    token (write with ``partitionBy(token_bucket)``), term lookups are
    partition-pruned scans. Phrase queries become self-equi-joins on
    (id, pos) — see :func:`phrase_search`.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "token")
    ).select("token", "id", "pos")


def phrase_search(
    postings: DataFrame,
    phrase: Sequence[str],
) -> DataFrame:
    """Exact phrase match over positional postings: documents where
    ``phrase``'s tokens occur at consecutive positions, with the match
    count per document. Returns (id, n_matches).

    Plan: filter the postings to the phrase's tokens (partition-pruned
    when the index is stored bucketed by token), then chain equi-joins
    on (id, pos + offset) — each join's build side is a single term's
    postings, so selectivity compounds with every term; there is no
    scan of non-matching documents at all. For an m-term phrase:
    m-1 equi-joins on aligned keys, one final count groupBy.
    """
    return phrase_match_positions(postings, phrase).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def phrase_match_positions(
    postings: DataFrame,
    phrase: Sequence[str],
) -> DataFrame:
    """Match START positions of ``phrase`` per document: (id, p0), one
    row per occurrence — the join chain :func:`phrase_search`
    aggregates, exposed for snippeting/highlighting."""
    terms = [t.lower() for t in phrase]
    if not terms:
        raise ValueError("phrase must be non-empty")
    base = (
        postings.filter(F.col("token") == terms[0])
        .select("id", F.col("pos").alias("p0"))
    )
    for i, term in enumerate(terms[1:], start=1):
        nxt = (
            postings.filter(F.col("token") == term)
            .select("id", (F.col("pos") - i).alias("p0"))
        )
        base = base.join(nxt, ["id", "p0"])
    return base


def search_snippets(
    df: DataFrame,
    phrase: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    context: int = 3,
) -> DataFrame:
    """Keyword-in-context snippets: for every phrase occurrence, the
    surrounding ``context`` tokens on each side joined back into a
    string — (id, p0, snippet). The match set (tiny) joins the
    token-array frame once; the slice/join runs row-local in codegen,
    so snippet extraction costs one equi-join past the phrase match
    itself, never a rescan of the text."""
    m = len(phrase)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    docs = df.select(F.col(id_col).alias("id"), toks.alias("__l"))
    post = positional_postings(df, id_col, text_col)
    matches = phrase_match_positions(post, phrase)
    start0 = F.greatest(F.col("p0") - context, F.lit(0))
    length = F.col("p0") + (m + context) - start0
    return (
        matches.join(docs, "id")
        .select(
            "id",
            "p0",
            F.concat_ws(
                " ", F.slice(F.col("__l"), start0 + 1, length)
            ).alias("snippet"),
        )
    )


def token_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical-diversity quality signals per document, in EXACT integer
    arithmetic (the scaled-integer pattern of q107's bigram LM — no
    logs, so no cross-engine float drift): returns every input row with

    - ``n_tokens``      — whitespace token count (0 for empty text),
    - ``n_types``       — distinct lowercased tokens,
    - ``ttr_micro``     — type/token ratio, half-up in 1e-6 units,
    - ``simpson_micro`` — Gini–Simpson diversity 1 − Σ(cᵢ/n)², half-up
      in 1e-6 units — the log-free complement of Shannon entropy:
      near 0 for degenerate one-token spam, near 1e6 for fully varied
      text. The standard repetition/diversity corpus filter next to
      the Gopher repetition signals (:func:`repetition_signals`).

    Empty/whitespace-only documents keep a row (counts 0, NULL ratios)
    — the preserve-empty-rows contract of ``remove_repeated_passages``.

    Scale shape: explode → ONE map-side-combined groupBy((doc, token))
    → ONE groupBy(doc) — partial aggregation absorbs the token
    blow-up before either exchange; Σcᵢ² fits BIGINT for any document
    under ~3B tokens. The final left join restores empty docs.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("__id"),
        F.when(
            F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""),
            F.array().cast("array<string>"),
        )
        .otherwise(F.transform(toks, lambda t: F.lower(t)))
        .alias("__toks"),
    )
    counts = (
        base.select("__id", F.explode("__toks").alias("__tok"))
        .groupBy("__id", "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = counts.groupBy("__id").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("__c") * F.col("__c")).alias("__sum_c2"),
    )
    out = (
        df.select(F.col(id_col))
        .join(agg.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    F.col("n_types") * F.lit(1000000) / F.col("n_tokens")
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("ttr_micro"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    (
                        F.lit(1.0)
                        - F.col("__sum_c2")
                        / (F.col("n_tokens") * F.col("n_tokens"))
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("simpson_micro"),
        )
    )
    return out
