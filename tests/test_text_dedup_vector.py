"""Text pipeline, dedup family, and vector search unit tests."""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import functions as F

from graphragpart1datapipeline_spark.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from graphragpart1datapipeline_spark.text import (
    document_fingerprint,
    language_id,
    token_count,
)
from graphragpart1datapipeline_spark.text.chunking import (
    recursive_split,
    recursive_split_chunks,
)
from graphragpart1datapipeline_spark.text.sections import (
    parse_sections,
    split_sections,
)
from graphragpart1datapipeline_spark.vector import cosine_topk, lsh_topk

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away today "
)


def test_section_parser_golden():
    text = (
        "Intro text about the artist goes here, long enough to keep.\n"
        "== Career ==\n"
        "Career content that is definitely long enough to keep around.\n"
        "== References ==\n"
        "Should never appear because parsing stops here completely."
    )
    secs = parse_sections(text)
    assert [s for s, _ in secs] == ["Introduction", "Career"]
    assert secs[1][1].startswith("Career content")


def test_section_parser_min_len_and_stop():
    text = "tiny\n== See Also ==\nnever reached content here at all"
    assert parse_sections(text) == []  # intro too short, stop at See Also


def test_split_sections_spark(spark):
    df = spark.createDataFrame(
        [("a1", "Intro that is long enough to be kept as one section.")],
        "id string, text string",
    )
    out = split_sections(df).collect()
    assert len(out) == 1 and out[0]["section"] == "Introduction"


def test_recursive_split_deterministic_and_bounded():
    text = ("para one. " * 40 + "\n\n" + "para two. " * 40).strip()
    chunks = recursive_split(text, chunk_tokens=50, overlap_tokens=10)
    assert chunks == recursive_split(text, chunk_tokens=50, overlap_tokens=10)
    assert len(chunks) >= 2
    from graphragpart1datapipeline_spark.text.chunking import default_token_len

    assert all(default_token_len(c) <= 50 + 10 for c in chunks)


def test_chunking_bookkeeping(spark):
    df = spark.createDataFrame(
        [("d1", "word " * 300)], "id string, text string"
    )
    out = recursive_split_chunks(
        df, chunk_tokens=64, overlap_tokens=16
    ).collect()
    assert len(out) > 1
    idx = sorted(r["chunk_index"] for r in out)
    assert idx == list(range(1, len(out) + 1))
    assert all(r["total_chunks"] == len(out) for r in out)
    assert out[0]["chunk_id"].startswith("d1_chunk_")


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("a b  c", "a  b\nc"), ("", "x")], "t1 string, t2 string"
    ).select(
        token_count("t1").alias("n"),
        (document_fingerprint("t1") == document_fingerprint("t2")).alias("same"),
    )
    rows = df.collect()
    assert rows[0]["n"] == 3 and rows[0]["same"] is True
    assert rows[1]["n"] == 0 and rows[1]["same"] is False


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is warm",),
            ("der Hund ist nicht zu Hause und die Katze",),
            ("el perro es de la casa y no es un gato",),
            ("xyzzy qwerty plugh",),
        ],
        "text string",
    ).select(language_id("text").alias("lang"))
    assert [r["lang"] for r in df.collect()] == ["en", "de", "es", "und"]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Same   text"), (2, "same text"), (3, "other text")],
        "doc_id long, text string",
    )
    out = exact_dedup(df)  # normalized: whitespace+case insensitive
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_minhash_lsh_finds_planted_near_dup(spark):
    near = BASE * 4 + "slightly changed ending"
    rows = [(1, BASE * 4 + "original ending right here"), (2, near)] + [
        (i, f"totally different document number {i} " + "filler words " * 20)
        for i in range(3, 15)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_dedup(df, jaccard_threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert 1 in kept and 2 not in kept and len(kept) == 13


def test_lsh_mega_bucket_cap(spark):
    from graphragpart1datapipeline_spark.dedup.minhash import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # 10 identical docs (one mega-bucket) + 2 planted near-dups
    rows = [(i, "common boilerplate text repeated everywhere") for i in range(10)]
    rows += [(100, BASE * 4 + "ending one"), (101, BASE * 4 + "ending two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df)
    uncapped = lsh_candidate_pairs(sigs).collect()
    capped = lsh_candidate_pairs(sigs, max_bucket_size=5).collect()
    # uncapped: 45 boilerplate pairs + the planted pair
    assert (100, 101) in {(r["a"], r["b"]) for r in uncapped}
    assert len(uncapped) >= 46
    # capped: the 10-member bucket is dropped, planted pair survives
    capped_pairs = {(r["a"], r["b"]) for r in capped}
    assert (100, 101) in capped_pairs
    assert all(a >= 100 for a, _ in capped_pairs)


def test_simhash_near_dup(spark):
    rows = [(1, BASE * 6), (2, BASE * 6 + "tail"), (3, "unrelated words entirely different topic altogether now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_dup_pairs(df, max_hamming=8).collect()
    assert any((p["a"], p["b"]) == (1, 2) for p in pairs)
    assert not any(3 in (p["a"], p["b"]) for p in pairs)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    # shingles(1)={abc,bcd,cde}, shingles(2)={abc,bcd,cdf}: J = 2/4
    assert math.isclose(out[(1, 2)], 0.5)
    assert out[(1, 3)] == 0.0


def test_embedding_near_dup(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_near_dup_pairs(df, threshold=0.99, bucket_bits=0).collect()
    assert [(p["a"], p["b"]) for p in pairs] == [(1, 2)]


def test_cosine_topk_golden(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [-1.0, 0.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert math.isclose(out[0]["score"], 1.0)


def test_cosine_topk_metadata_filter(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "b")],
        "vec_id long, embedding array<float>, tag string",
    )
    out = cosine_topk(
        df, [1.0, 0.0], k=5, metadata_filter=F.col("tag") == "b"
    ).collect()
    assert [r["vec_id"] for r in out] == [2]


def test_lsh_topk_contains_self(spark):
    df = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    out = lsh_topk(df, [1.0] + [0.0] * 7, k=3, bits=2).collect()
    assert out and out[0]["vec_id"] == 0  # exact match lands in own bucket


def test_fulltext_search_all_vs_any(spark):
    from graphragpart1datapipeline_spark.text import fulltext_search

    df = spark.createDataFrame(
        [(1, "spark table scan"), (2, "spark only here"), (3, "a table alone"), (4, "nothing")],
        "doc_id long, text string",
    )
    both = {r["doc_id"] for r in fulltext_search(df, ["spark", "table"]).collect()}
    assert both == {1}
    any_ = {
        r["doc_id"]
        for r in fulltext_search(df, ["spark", "table"], match_all=False).collect()
    }
    assert any_ == {1, 2, 3}
    # case-insensitive probe
    upper = {r["doc_id"] for r in fulltext_search(df, ["SPARK"]).collect()}
    assert upper == {1, 2}


def test_context_header_sparse_parts(spark):
    from graphragpart1datapipeline_spark.functions import context_header

    df = spark.createDataFrame(
        [
            ("T", ["g1", "g2"], "DE", 1988, "N", "Intro"),
            ("T2", [], None, None, "N2", "Main"),
        ],
        "topic string, genres array<string>, country string, "
        "year int, name string, section string",
    )
    out = df.select(
        context_header(
            F.col("topic"), F.col("genres"), F.col("country"),
            F.col("year"), F.col("name"), F.col("section"),
        ).alias("h")
    ).collect()
    assert out[0]["h"] == (
        "search_document: Topic: T. Context: Genres: g1 and g2; "
        "Country: DE; Active since: 1988 | N (Section: Intro) |"
    )
    assert out[1]["h"] == "search_document: Topic: T2. Context: | N2 (Section: Main) |"


def test_ivf_topk_probes_own_cluster(spark):
    from graphragpart1datapipeline_spark.vector.search import (
        ivf_assignments,
        ivf_topk,
    )

    # two well-separated clusters around e1 and e2
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.95, 0.05]),
        (3, [0.0, 1.0]), (4, [0.1, 0.9]), (5, [0.05, 0.95]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (3, [0.0, 1.0])], "cid long, embedding array<float>"
    )
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assignments(df, cents).collect()
    }
    assert assign == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
    out = ivf_topk(df, [0.0, 1.0], cents, k=10).collect()
    # probe touches only the second cluster
    assert {r["vec_id"] for r in out} == {3, 4, 5}
    assert out[0]["vec_id"] == 3


def test_ivf_assignments_rejects_non_integral_centroid_id(spark):
    """A string centroid id would become a NULL centroid_id through the
    negated tie-break key; it must fail loudly instead."""
    import pytest

    from graphragpart1datapipeline_spark.vector.search import ivf_assignments

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [("c0", [1.0, 0.0]), ("c1", [0.0, 1.0])],
        "cid string, embedding array<float>",
    )
    with pytest.raises(TypeError, match="integral"):
        ivf_assignments(df, cents)


def test_ivf_assignments_ranks_nan_centroid_last(spark):
    """A NaN cosine must lose to every real one, as in k-means' literal
    path. Spark orders NaN above +inf, so an argmax on cosine would send
    every row to the NaN centroid."""
    import math

    from graphragpart1datapipeline_spark.vector.search import ivf_assignments

    nan = float("nan")
    df = spark.createDataFrame(
        [(0, [1.0, 0.5]), (1, [0.0, 1.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [nan, 1.0]), (2, [0.0, -0.0])],
        "cid int, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["assign_cos"])
        for r in ivf_assignments(df, cents, include_score=True).collect()
    }
    assert {i: c for i, (c, _) in got.items()} == {0: 0, 1: 0, 2: 0}
    assert got[0][1] == 1.0 / math.sqrt(1.25)
    assert not any(math.isnan(s) for _, s in got.values())


def test_ivf_assignments_ragged_vector_raises(spark):
    """A 3-dim row against 2-dim centroids used to score NULL silently."""
    import pytest

    from graphragpart1datapipeline_spark.vector.search import (
        ivf_assignments,
        ivf_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, embedding array<double>"
    )
    with pytest.raises(Exception, match="column 'embedding' has 3 dims"):
        ivf_assignments(df, cents).collect()
    # the inline ivf_topk assignment takes the literal fork
    with pytest.raises(Exception, match="column 'embedding' has 3 dims"):
        ivf_topk(df, [1.0, 0.0], cents, k=2).collect()


def test_ivf_prebuilt_index_probe(spark, tmp_path):
    from graphragpart1datapipeline_spark.vector.search import (
        ivf_build_index,
        ivf_topk,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.95, 0.05]),
        (3, [0.0, 1.0]), (4, [0.1, 0.9]), (5, [0.05, 0.95]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (3, [0.0, 1.0])], "cid long, embedding array<float>"
    )
    idx = ivf_build_index(df, cents, str(tmp_path / "ivf"))
    assert dict(idx.dtypes)["centroid_id"] == "bigint"  # type restored
    out = ivf_topk(df, [0.0, 1.0], cents, k=10, assignments=idx)
    # the probe plan reads the persisted index, not an inline
    # assignment recompute: no window (row_number) stage in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    got = out.collect()
    assert {r["vec_id"] for r in got} == {3, 4, 5}
    # identical result to the inline-assignment path
    inline = ivf_topk(df, [0.0, 1.0], cents, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in inline
    ]


def test_minhash_signature_deterministic(spark):
    from graphragpart1datapipeline_spark.dedup.minhash import (
        MERSENNE31,
        minhash_signatures,
        perm_coeffs,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df, num_hashes=4).collect()}
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    assert sigs[1] != sigs[3]
    assert all(0 <= v < MERSENNE31 for v in sigs[1])
    # coefficient generator is stable across calls (oracle embeds them)
    assert perm_coeffs(4) == perm_coeffs(4)


def test_embedding_near_dup_bucketed_keeps_identical_pairs(spark):
    # identical vectors always share every sign-bucket -> never lost
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5]), (2, [1.0, 0.0, 0.5]), (3, [0.0, 1.0, -0.5])],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_near_dup_pairs(
        df, threshold=0.99, bucket_bits=3, dim=3
    ).collect()
    assert [(p["a"], p["b"]) for p in pairs] == [(1, 2)]
    assert abs(pairs[0]["cosine"] - 1.0) < 1e-9


def test_llm_generation_stage(spark):
    from graphragpart1datapipeline_spark.text.llm import (
        build_summary_prompt,
        echo_summarizer,
        generate_with,
    )

    df = spark.createDataFrame(
        [("Berlin Techno", 12, ["techno"], ["DE"], ["a1", "a2"])],
        "name string, member_count long, top_genres array<string>, "
        "top_countries array<string>, reps array<string>",
    ).withColumn(
        "prompt",
        build_summary_prompt(
            F.col("name"), F.col("member_count"), F.col("top_genres"),
            F.col("top_countries"), F.col("reps"),
        ),
    )
    out = generate_with(df, "prompt", generator=echo_summarizer)
    r = out.head()
    assert r["prompt"] == (
        "Summarize the music community 'Berlin Techno' with 12 members. "
        "Top genres: techno. Countries: DE. Representative artists: a1, a2."
    )
    assert r["summary"] == " ".join(r["prompt"].split()[:12])
    import pytest

    with pytest.raises(NotImplementedError):
        generate_with(df, "prompt")  # no model in this environment


def test_tfidf_top_terms(spark):
    from graphragpart1datapipeline_spark.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "common cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    top = tfidf_top_terms(docs, "text", "doc_id", k=1, log_idf=False).collect()
    best = {r["doc_id"]: (r["term"], r["tf"], r["df"]) for r in top}
    # apple: tf=2 and appears in 1 doc -> dominates doc 1; 'common' (df=3) never wins
    assert best[1] == ("apple", 2, 1)
    assert best[3] == ("cherry", 2, 2)
    assert best[2][0] in ("banana", "cherry")  # tf=1, df=2 tie -> term order
    assert best[2][0] == "banana"


def test_pii_redact(spark):
    from pyspark.sql import functions as F

    from graphragpart1datapipeline_spark.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk now"),
            (2, "see https://example.com/a?b=1 for details"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text stays untouched"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["red"] for r in df.select("id", pii_redact("text").alias("red")).collect()}
    assert out[1] == "contact [EMAIL] now"
    assert out[2] == "see [URL] for details"
    assert out[3] == "call [PHONE] today"
    assert out[4] == "clean text stays untouched"


def test_repetition_signals(spark):
    from graphragpart1datapipeline_spark.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb aa"),       # bigrams: "aa bb"x2, "bb aa"x2 -> 2/4
            (2, "one\ntwo\none\nthree"), # 4 lines, 3 distinct -> 0.25
            (3, "word"),                 # no bigrams -> 0.0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert out[1]["n_words"] == 5 and out[1]["top_bigram_frac"] == 0.5
    assert out[1]["mean_word_len"] == 2.0
    assert out[2]["dup_line_frac"] == 0.25
    assert out[3]["top_bigram_frac"] == 0.0 and out[3]["n_words"] == 1


def test_knn_join_exact_and_blocked(spark):
    from graphragpart1datapipeline_spark.vector import knn_join, knn_join_blocked

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    nn1 = {
        r["a"]: r["b"]
        for r in knn_join(vecs, k=1, id_col="vec_id").collect()
    }
    assert nn1[1] == 2 and nn1[2] == 1   # mutual nearest
    assert nn1[4] == 3                   # least-negative dot wins
    # blocked variant: every returned pair shares a bucket and k is respected
    blocked = knn_join_blocked(vecs, k=1, id_col="vec_id", bits=1, dim=2).collect()
    assert all(r["rank"] == 1 for r in blocked)
    assert {(r["a"], r["b"]) for r in blocked} <= {
        (a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b
    }


def test_remove_boilerplate_spans(spark):
    from graphragpart1datapipeline_spark.text import remove_boilerplate_spans

    docs = spark.createDataFrame(
        [
            (1, "COOKIE NOTICE\nreal content one\nfooter"),
            (2, "COOKIE NOTICE\nreal content two\nfooter"),
            (3, "COOKIE NOTICE\nunique text here"),
            (4, "COOKIE NOTICE\nfooter"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_spans(docs, min_docs=3).collect()
    }
    # "COOKIE NOTICE" in 4 docs and "footer" in 3 -> both removed
    assert out[1] == "real content one"
    assert out[2] == "real content two"
    assert out[3] == "unique text here"
    assert out[4] == ""  # all-boilerplate doc survives as empty


def test_remove_boilerplate_spans_metachar_separator(spark):
    from graphragpart1datapipeline_spark.text import remove_boilerplate_spans

    # '. ' is a regex metacharacter separator: split must treat it
    # literally so the rejoin is lossless for surviving spans
    docs = spark.createDataFrame(
        [
            (1, "SHARED HEADER. real one x. tail"),
            (2, "SHARED HEADER. real two yz. tail"),
            (3, "SHARED HEADER. unique abc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_spans(docs, min_docs=3, sep=". ").collect()
    }
    assert out[1] == "real one x. tail"
    assert out[2] == "real two yz. tail"
    assert out[3] == "unique abc"


def recall_at_k(exact, approx, id_col: str = "vec_id") -> float:
    """Recall@k of an approximate ANN result against the exact top-k:
    |approx ∩ exact| / |exact| over the id column. Evaluation utility
    for tuning the bits/nprobe recall-vs-cost trade (both inputs are
    top-k frames — driver-sized by construction, so the intersect is
    cheap)."""
    e = {r[id_col] for r in exact.select(id_col).collect()}
    if not e:
        return 1.0
    a = {r[id_col] for r in approx.select(id_col).collect()}
    return len(e & a) / len(e)


def test_ann_recall_at_k(spark):
    from graphragpart1datapipeline_spark.sources import read_table
    from graphragpart1datapipeline_spark.vector.search import (
        cosine_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = cosine_topk(emb, qv, k=10, id_col="vec_id")
    # LSH probe of the query's own bucket always contains the query
    # vector itself; deterministic planes -> deterministic recall
    approx = lsh_topk(emb, qv, k=10, id_col="vec_id", bits=2)
    r_lsh = recall_at_k(exact, approx)
    assert 0.0 < r_lsh <= 1.0
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding")
    )
    ivf = ivf_topk(emb, qv, cents, k=10, id_col="vec_id", nprobe=4)
    r_ivf = recall_at_k(exact, ivf)
    assert 0.0 < r_ivf <= 1.0
    # recall is monotone in probe width: probing ALL centroids = exact
    ivf_all = ivf_topk(emb, qv, cents, k=10, id_col="vec_id", nprobe=8)
    assert recall_at_k(exact, ivf_all) == 1.0


def kmeans_fit_reference(
    vectors: dict[int, Sequence[float]],
    k: int = 4,
    iters: int = 2,
    seed: str | int = 42,
    scale: int = 1_000_000,
) -> dict[int, int]:
    """Driver-side replay of ``kmeans_fit`` (hashlib + plain floats) —
    same init, same argmax rule, same scaled-integer means."""
    import hashlib

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    order = sorted(vectors, key=lambda i: (md5(f"{seed}:{i}"), i))
    cents = {
        cid: [float(x) for x in vectors[i]] for cid, i in enumerate(order[:k])
    }

    def cos(a: Sequence[float], b: Sequence[float]) -> float:
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = 0.0
        for x in a:
            na += float(x) * float(x)
        nb = 0.0
        for y in b:
            nb += float(y) * float(y)
        denom = math.sqrt(na) * math.sqrt(nb)
        return dot / denom if denom > 0 else 0.0

    def assign() -> dict[int, int]:
        out = {}
        for i, v in vectors.items():
            out[i] = min(cents, key=lambda c: (-cos(v, cents[c]), c))
        return out

    for _ in range(iters):
        a = assign()
        sums: dict[int, list[int]] = {}
        ns: dict[int, int] = {}
        for i, cid in a.items():
            v = vectors[i]
            acc = sums.setdefault(cid, [0] * len(v))
            ns[cid] = ns.get(cid, 0) + 1
            for d, x in enumerate(v):
                acc[d] += int(math.floor(float(x) * scale + 0.5))
        for cid in cents:
            if cid in sums:
                cents[cid] = [s / (ns[cid] * scale) for s in sums[cid]]
    return assign()


def test_kmeans_fit_matches_driver_replay(spark):
    from graphragpart1datapipeline_spark.vector.kmeans import kmeans_fit

    # 3 well-separated direction clusters + noise dims
    base = {0: [1.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0], 2: [0.0, 0.0, 1.0]}
    vectors = {}
    for i in range(30):
        b = base[i % 3]
        vectors[i] = [x + 0.01 * ((i * 7 + d) % 5) for d, x in enumerate(b)]
    df = spark.createDataFrame(
        [(i, v) for i, v in vectors.items()], "vec_id long, embedding array<double>"
    )
    cents, assign = kmeans_fit(df, k=3, iters=2, seed=42)
    got = {r["vec_id"]: r["centroid_id"] for r in assign.collect()}
    assert got == kmeans_fit_reference(vectors, k=3, iters=2, seed=42)
    # converged clustering recovers the 3 direction groups
    groups = {}
    for i, cid in got.items():
        groups.setdefault(cid, set()).add(i % 3)
    assert all(len(g) == 1 for g in groups.values())
    # pure function of the data: same under adversarial repartitioning
    _, again = kmeans_fit(df.repartition(7), k=3, iters=2, seed=42)
    assert got == {r["vec_id"]: r["centroid_id"] for r in again.collect()}


def test_kmeans_fit_empty_cluster_keeps_previous_centroid(spark):
    from graphragpart1datapipeline_spark.vector.kmeans import kmeans_fit

    # all rows identical: every vector ties -> all go to cid 0; cid 1
    # never gets members and must keep its (identical) init centroid
    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(6)], "vec_id long, embedding array<double>"
    )
    cents, assign = kmeans_fit(df, k=2, iters=2, seed=42)
    assert {r["centroid_id"] for r in assign.collect()} == {0}
    assert dict(cents)[1] == [1.0, 2.0]


def test_minhash_lsh_incremental(spark):
    from graphragpart1datapipeline_spark.dedup import (
        lsh_bucket_table,
        minhash_lsh_incremental,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "an entirely different document about spark and scale"),
            (3, "numbers one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-dup of 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            # novel
            (11, "completely novel content with no overlap whatsoever here"),
            # exact dup of 3
            (12, "numbers one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_incremental(
            new, corpus, jaccard_threshold=0.5
        ).collect()
    }
    assert (12, 3) in got
    assert all(n != 11 for n, _ in got)
    # prebuilt-index path: same result, corpus only consulted for texts
    idx = lsh_bucket_table(minhash_signatures(corpus), "doc_id")
    got_idx = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_incremental(
            new, corpus, jaccard_threshold=0.5, corpus_buckets=idx
        ).collect()
    }
    assert got_idx == got
    # never flags new-vs-new (10 and 12 are not corpus ids)
    assert all(c in {1, 2, 3} for _, c in got)
    # a new id that also exists in the corpus (a revision) is scored
    # with its new text only: one row per (new_id, corpus_id)
    rev = new.unionByName(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog tonight again")],
            "doc_id long, text string",
        )
    )
    pairs = [
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_incremental(rev, corpus, jaccard_threshold=0.5).collect()
    ]
    assert len(pairs) == len(set(pairs)) and (1, 1) in pairs


def test_quantize_embeddings(spark):
    import math

    from graphragpart1datapipeline_spark.vector.search import (
        cosine_topk,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25]),
            (2, [0.0, 0.0, 0.0]),          # zero vector
            (3, [1.0, 1.0, 1.0]),
            (4, [0.51, -0.99, 0.26]),      # near-dup of 1
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # int8 range, max component hits ±127, scale reconstructs max|v|
    assert rows[1]["qvec"] == [64, -127, 32]
    assert all(-127 <= x <= 127 for r in rows.values() for x in r["qvec"])
    assert math.isclose(rows[1]["qscale"] * 127, 1.0)
    assert rows[2]["qvec"] == [0, 0, 0] and rows[2]["qscale"] == 0.0
    # quantized cosine preserves neighborhood structure: 4 is 1's
    # nearest non-self neighbor on the int arrays too
    qdf = quantize_embeddings(df)
    qv = [float(x) for x in rows[1]["qvec"]]
    top = [r["vec_id"] for r in cosine_topk(qdf, qv, k=2, vec_col="qvec").collect()]
    assert top == [1, 4]


def test_remove_repeated_passages(spark):
    from graphragpart1datapipeline_spark.dedup import (
        remove_repeated_passages,
        repeated_passage_spans,
    )

    boiler = "all rights reserved contact us for details"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler}"),
            (2, f"{boiler} delta epsilon zeta"),
            (3, "unique content that appears nowhere else at all"),
            (4, "short doc"),  # shorter than window -> untouched
            (5, f"{boiler} {boiler}"),  # fully boilerplate -> empty
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_passages(
            docs, window=7, min_occurrences=2
        ).collect()
    }
    assert out[1]["text"] == "alpha beta gamma"
    assert out[2]["text"] == "delta epsilon zeta"
    assert out[3]["text"] == "unique content that appears nowhere else at all"
    assert out[3]["n_tokens_removed"] == 0
    assert out[4]["text"] == "short doc"
    assert out[5]["text"] == ""
    assert out[5]["n_tokens_removed"] == 14
    # spans table exposes the positions
    spans = repeated_passage_spans(docs, window=7, min_occurrences=2)
    assert spans.filter("doc_id = 3").count() == 0
    assert spans.filter("doc_id = 1").count() >= 1
    # within-doc repetition alone triggers removal (doc 5 repeats itself)
    solo = spark.createDataFrame(
        [(9, f"{boiler} {boiler} tail tokens here")],
        "doc_id int, text string",
    )
    r = remove_repeated_passages(solo, window=7, min_occurrences=2).collect()[0]
    assert r["text"] == "tail tokens here"


def test_leakage_safe_split_co_travel(spark):
    from graphragpart1datapipeline_spark.dedup import leakage_safe_split

    docs = spark.range(100).selectExpr("id AS doc_id")
    # chain 10-11-12 must co-travel; 50-51 pair; rest singletons
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (50, 51)], "a long, b long"
    )
    out = leakage_safe_split(docs, pairs, id_col="doc_id")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 100
    assert rows[10] == rows[11] == rows[12]
    assert rows[50] == rows[51]
    # splits roughly follow weights and are deterministic
    from collections import Counter

    c = Counter(rows.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, pairs, id_col="doc_id").collect()
    }
    assert rows == again
    # singleton docs keep their own-root assignment: adding an unrelated
    # pair must not move them
    more = leakage_safe_split(
        docs,
        pairs.unionByName(spark.createDataFrame([(70, 71)], "a long, b long")),
        id_col="doc_id",
    )
    rows2 = {r["doc_id"]: r["split"] for r in more.collect()}
    assert all(rows2[d] == rows[d] for d in range(100) if d not in (70, 71))


def test_bpe_train_and_apply_goldens(spark):
    from graphragpart1datapipeline_spark.text import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new lower")],
        "doc_id int, text string",
    )
    merges = bpe_train(docs, num_merges=5)
    got = [(r["rank"], r["pair"], r["merged"], r["freq"]) for r in merges.orderBy("rank").collect()]
    assert got == [
        (1, "l o", "lo", 6),
        (2, "lo w", "low", 6),
        (3, "e w", "ew", 4),
        (4, "n ew", "new", 4),
        (5, "e r", "er", 3),
    ]
    out = {r["doc_id"]: r["bpe_symbols"] for r in bpe_apply(docs, merges).collect()}
    assert out[1] == ["low", "low", "er", "low", "e", "s", "t", "low", "low"]
    assert out[2] == ["new", "new", "er", "new", "e", "s", "t", "new", "low", "er"]
    # deterministic
    again = [(r["rank"], r["pair"]) for r in bpe_train(docs, num_merges=5).orderBy("rank").collect()]
    assert again == [(g[0], g[1]) for g in got]
    # stops early when no pair repeats
    tiny = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    assert bpe_train(tiny, num_merges=10).count() == 0


def test_bpe_train_batched_rounds(spark):
    """merges_per_round>1: picks per round are symbol-disjoint (so the
    batch commutes), M=1 equals classic greedy exactly, and the batched
    table is deterministic."""
    from graphragpart1datapipeline_spark.text import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new lower"),
         (3, "newest lowest slowest")],
        "doc_id int, text string",
    )
    classic = [(r["rank"], r["pair"], r["merged"], r["freq"])
               for r in bpe_train(docs, num_merges=6).orderBy("rank").collect()]
    m1 = [(r["rank"], r["pair"], r["merged"], r["freq"])
          for r in bpe_train(docs, num_merges=6, merges_per_round=1)
          .orderBy("rank").collect()]
    assert m1 == classic
    batched = [(r["rank"], r["pair"], r["merged"], r["freq"])
               for r in bpe_train(docs, num_merges=6, merges_per_round=3)
               .orderBy("rank").collect()]
    assert len(batched) == 6
    assert [b[0] for b in batched] == [1, 2, 3, 4, 5, 6]
    again = [(r["rank"], r["pair"], r["merged"], r["freq"])
             for r in bpe_train(docs, num_merges=6, merges_per_round=3)
             .orderBy("rank").collect()]
    assert again == batched
    # the batched table still tokenizes round-trippably
    out = bpe_apply(docs, batched)
    assert out.count() == 3
    # disjoint-pick rule observable on a corpus whose top pairs are
    # clearly separated: 'a b' > 'c d' > 'e f' all symbol-disjoint, so
    # ONE round takes all three; the overlapping 'b c' (from 'abcd'?)
    # never outranks them
    sep = spark.createDataFrame(
        [(1, " ".join(["ab"] * 9 + ["cd"] * 7 + ["ef"] * 5))],
        "doc_id int, text string",
    )
    one_round = [(r["pair"], r["freq"]) for r in bpe_train(
        sep, num_merges=3, merges_per_round=3).orderBy("rank").collect()]
    assert one_round == [("a b", 9), ("c d", 7), ("e f", 5)]
    # overlap forces a skip: in 'xy yz', 'x y' and 'y z' share y — the
    # round picks 'x y' then skips 'y z', taking it next round with a
    # RECOUNTED frequency
    ov = spark.createDataFrame(
        [(1, " ".join(["xy"] * 5 + ["yz"] * 4))], "doc_id int, text string"
    )
    got = [(r["rank"], r["pair"]) for r in bpe_train(
        ov, num_merges=2, merges_per_round=2).orderBy("rank").collect()]
    assert got == [(1, "x y"), (2, "y z")]


def test_bpe_apply_preserves_tokenless_rows(spark):
    """Rows whose text yields no tokens must come back with an empty
    symbol array, not vanish (keep-empty-documents contract)."""
    from graphragpart1datapipeline_spark.text import bpe_apply

    docs = spark.createDataFrame(
        [(1, "low low"), (2, ""), (3, "   "), (4, None)],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["bpe_symbols"] for r in bpe_apply(
        docs, [(1, "l o", "lo", 2), (2, "lo w", "low", 2)]
    ).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == ["low", "low"]
    assert out[2] == [] and out[3] == [] and out[4] == []


def test_fixed_stride_chunks_invariants(spark):
    from graphragpart1datapipeline_spark.text import fixed_stride_chunks

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))),
         (2, "short doc only"),
         (3, " ".join(f"x{i}" for i in range(32)))],
        "doc_id int, text string",
    )
    out = fixed_stride_chunks(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=32, overlap_tokens=8,
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: n=100, stride 24 -> total = ceil((100-32)/24)+1 = 4
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    assert len(c1) == 4 and all(r["total_chunks"] == 4 for r in c1)
    toks = [f"t{i}" for i in range(100)]
    for j, r in enumerate(c1):
        assert r["chunk"].split(" ") == toks[j * 24 : j * 24 + 32]
        assert r["chunk_id"] == f"1_chunk_{j + 1}"
    # consecutive chunks overlap by 8 tokens
    assert c1[0]["chunk"].split(" ")[-8:] == c1[1]["chunk"].split(" ")[:8]
    # every token covered
    covered = {t for r in c1 for t in r["chunk"].split(" ")}
    assert covered == set(toks)
    # short doc and exact-fit doc -> single chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 32
