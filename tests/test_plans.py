"""Plan-shape regression tests: the physical plans the engine PROMISES.

These lock in the scale-critical properties .explain review established
(README "Design for 100 TB"): predicate pushdown reaching parquet,
broadcast joins for dimensions, top-k without a global sort, bucketed
joins without an Exchange. A refactor that silently loses one of these
fails here long before a benchmark notices.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as em  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_pushes_date_filter_to_scan(spark):
    p = _formatted(em.queries()["q01_pricing_summary"](spark, SF))
    assert "LessThanOrEqual(l_shipdate" in p  # in PushedFilters


def test_q02_semi_join_broadcasts_and_filter_pushes(spark):
    p = _formatted(em.queries()["q02_release_catalog"](spark, SF))
    assert "BroadcastHashJoin LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # range form pushed down


def test_q05_dimensions_broadcast(spark):
    p = _plan(em.queries()["q05_regional_revenue"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p or "lineitem" not in p.split("SortMergeJoin")[0]


def test_cosine_topk_no_global_sort(spark):
    p = _plan(em.queries()["q25_vector_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p
    # no full Sort node feeding the limit
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


def test_exact_dedup_never_shuffles_text(spark):
    # the aggregate side carries only (key, id); winners broadcast back
    df = em.queries()["q20_exact_dedup"](spark, SF)
    p = _plan(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from graphragpart1datapipeline_spark.sources import write_bucketed

    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "t_left", ["k"], 4, path=str(tmp_path / "l"), sort_cols=["k"])
    write_bucketed(right, "t_right", ["k"], 4, path=str(tmp_path / "r"), sort_cols=["k"])
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_left").join(spark.table("t_right"), "k")
            p = _plan(joined)
            assert "SortMergeJoin" in p
            assert "Exchange" not in p  # bucket co-location: shuffle-free
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")


def test_lsh_probe_prunes_bucket_partitions(spark, tmp_path):
    """The 100 TB vector-search layout: corpus partitioned by the
    hyperplane bucket -> a probe's scan reads ONLY the query's bucket
    (PartitionFilters prune at planning time)."""
    from graphragpart1datapipeline_spark.vector.search import (
        hyperplane_bucket,
        lsh_topk,
    )

    dim, bits = 8, 3
    df = spark.range(256).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.hash(F.col("id"), F.lit(j)) % 100 / 50.0 - 1.0) for j in range(dim)]
        ).cast("array<float>").alias("embedding"),
    )
    path = str(tmp_path / "emb_bucketed")
    df.withColumn(
        "bucket", hyperplane_bucket(F.col("embedding"), bits, dim=dim)
    ).write.partitionBy("bucket").parquet(path)

    corpus = spark.read.parquet(path)
    n_buckets = corpus.select("bucket").distinct().count()
    assert n_buckets > 2  # data actually spreads over buckets
    q = [1.0] + [0.0] * (dim - 1)
    out = lsh_topk(
        corpus, q, k=3, bits=bits, bucket_col="bucket"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # partition pruning visible in the scan: exactly one bucket selected
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan[:800]
    rows = out.collect()
    assert 0 < len(rows) <= 3


def test_minhash_signatures_map_only(spark):
    # zero-shuffle claim: no Exchange beyond the parallelism repartition,
    # and in particular no hash-partitioned aggregate exchange
    from graphragpart1datapipeline_spark.dedup import minhash_signatures
    from graphragpart1datapipeline_spark.sources import read_table

    docs = read_table(spark, SF, "documents")
    p = _formatted(minhash_signatures(docs, "text", "doc_id"))
    assert "hashpartitioning" not in p
    assert "HashAggregate" not in p


def test_range_join_never_nested_loop(spark):
    # the whole point of time-bucketization: an equi-join on
    # (key, bucket), never a BroadcastNestedLoopJoin theta plan
    p = _formatted(em.queries()["q61_range_join"](spark, SF))
    assert "NestedLoop" not in p
    assert "__bkt" in p


def test_hash_split_and_sample_map_only(spark):
    from graphragpart1datapipeline_spark.operators import (
        hash_split,
        stratified_sample,
    )
    from graphragpart1datapipeline_spark.sources import read_table

    docs = read_table(spark, SF, "documents")
    assert "Exchange" not in _plan(hash_split(docs, "doc_id"))
    assert "Exchange" not in _plan(
        stratified_sample(docs, "source", {"src0": 0.5}, id_col="doc_id")
    )


def test_asof_join_single_shuffle(spark):
    # union-tag + one window: exactly one hash-partitioned exchange
    from graphragpart1datapipeline_spark.operators import asof_join

    left = spark.createDataFrame(
        [("A", 10, 1)], "k string, ts long, lid long"
    )
    right = spark.createDataFrame(
        [("A", 5, 2.0)], "k string, ts long, px double"
    )
    p = _plan(asof_join(left, right, on="k", right_select=["px"]))
    assert p.count("hashpartitioning(k") == 1


def test_embedding_near_dup_default_is_bucketed(spark):
    # the DEFAULT plan must never contain an all-pairs product; the
    # exact variant (bucket_bits=0) is the opt-in oracle and may
    from graphragpart1datapipeline_spark.dedup import embedding_near_dup_pairs
    from graphragpart1datapipeline_spark.sources import read_table

    emb = read_table(spark, SF, "embeddings")
    bucketed = _plan(embedding_near_dup_pairs(emb, id_col="vec_id"))
    assert "CartesianProduct" not in bucketed
    assert "BroadcastNestedLoopJoin" not in bucketed
    exact = _plan(
        embedding_near_dup_pairs(emb, id_col="vec_id", bucket_bits=0)
    )
    assert "CartesianProduct" in exact or "BroadcastNestedLoopJoin" in exact


def test_knn_join_blocked_is_equi_join(spark):
    # the LSH-blocked k-NN self-join must run as a hash equi-join on
    # the bucket key, never a nested-loop pair space
    from graphragpart1datapipeline_spark.sources import read_table
    from graphragpart1datapipeline_spark.vector.search import knn_join_blocked

    emb = read_table(spark, SF, "embeddings")
    p = _plan(knn_join_blocked(emb, k=3, dim=64))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_prebuilt_probe_reads_only_index(spark, tmp_path):
    # with a prebuilt assignments index, the probe plan must not
    # contain the assignment recompute (window over all centroids)
    from graphragpart1datapipeline_spark.sources import read_table
    from graphragpart1datapipeline_spark.vector.search import (
        ivf_build_index,
        ivf_topk,
    )

    emb = read_table(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding")
    )
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    idx = ivf_build_index(emb, cents, str(tmp_path / "ivf"), id_col="vec_id")
    p = _plan(
        ivf_topk(
            emb, qv, cents, k=3, id_col="vec_id", assignments=idx, nprobe=1
        )
    )
    assert "row_number" not in p.lower()
    assert "ivf" in p  # scans the persisted index path


def test_global_shuffle_shards_single_exchange(spark):
    # the deterministic shuffle is ONE hash-partition exchange (the
    # window on shard) — never a global total sort (rangepartitioning)
    p = _plan(em.queries()["q78_global_shuffle_shards"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in p
    assert "CartesianProduct" not in p


def _exchange_inputs(formatted: str) -> list[str]:
    """The ``Input [...]`` line of every shuffle ``Exchange`` node in an
    ``explain("formatted")`` plan (broadcast exchanges excluded)."""
    import re

    return re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: (\[.*\])", formatted)


def test_kmeans_assignment_is_join_and_exchange_free(spark):
    from graphragpart1datapipeline_spark.sources.io import read_table
    from graphragpart1datapipeline_spark.vector.kmeans import kmeans_fit

    emb = read_table(spark, SF, "embeddings")
    _, assign = kmeans_fit(emb, k=4, iters=1, seed=42)
    p = _plan(assign)
    # the driver-held centroids ride in the plan as a literal: the
    # assignment is a row-local argmin over the corpus scan — no join
    # of any kind, and no exchange, so no corpus vector is shuffled
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Exchange" not in p
    assert "Scan parquet" in p


def test_ivf_assignment_exchange_carries_no_vectors(spark):
    from graphragpart1datapipeline_spark.sources.io import read_table
    from graphragpart1datapipeline_spark.vector.search import ivf_assignments

    emb = read_table(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding")
    )
    p = _formatted(ivf_assignments(emb, cents, include_score=True))
    # a DataFrame centroid book takes the broadcast fork: the centroids
    # broadcast, and the one shuffle (the argmin's) carries only the
    # row key and the partially aggregated (score, cid) struct
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    inputs = _exchange_inputs(p)
    assert len(inputs) == 1, inputs
    assert "vec_id" in inputs[0] and inputs[0].count("#") == 2
    assert "embedding" not in inputs[0]


def test_incremental_near_dup_no_corpus_self_pairing(spark):
    # candidates come from new-banding ⨝ corpus-banding only: no
    # corpus×corpus pair generation (no self-join of the corpus bucket
    # table with itself -> no intra-bucket HOF pair expansion node)
    p = _plan(em.queries()["q81_incremental_near_dup"](spark, SF))
    assert "CartesianProduct" not in p
    # the full-corpus path generates pairs via collect_set + flatten;
    # the incremental path must not contain that aggregation
    assert "collect_set" not in p


def test_kmv_distinct_two_exchanges_no_cartesian(spark):
    from graphragpart1datapipeline_spark.operators import kmv_distinct
    from graphragpart1datapipeline_spark.sources import read_table

    li = read_table(spark, SF, "lineitem")
    p = _plan(kmv_distinct(li, "l_orderkey", ["l_returnflag"], k=256))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # distinct (group,hash) + window repartition(group); the final
    # groupBy reuses the window's partitioning
    assert p.count("Exchange hashpartitioning") <= 2


def test_repeated_passages_no_cartesian_bounded_shuffles(spark):
    from graphragpart1datapipeline_spark.dedup import remove_repeated_passages
    from graphragpart1datapipeline_spark.sources import read_table

    docs = read_table(spark, SF, "documents").select("doc_id", "text")
    p = _plan(remove_repeated_passages(docs, window=12, min_occurrences=2))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # window hashing itself must be map-side (explode before any exchange):
    # the only shuffles are hash-count, join-back, coverage distinct,
    # per-doc collect, and the final doc join
    assert p.count("Exchange hashpartitioning") <= 6


def test_interval_lookup_is_join_free(spark):
    from graphragpart1datapipeline_spark.operators import interval_lookup_join
    from graphragpart1datapipeline_spark.sources import read_table

    tiers = spark.createDataFrame(
        [("T0", 0.0, 100000.0), ("T1", 100000.0, 1e9)],
        "tier string, lo double, hi double",
    )
    o = read_table(spark, SF, "orders")
    p = _plan(interval_lookup_join(o, tiers, value_col="o_totalprice"))
    # the dim resolved to an array literal: no join machinery at all
    assert "Join" not in p and "Exchange" not in p


def test_negative_ring_sample_no_global_sort(spark):
    from graphragpart1datapipeline_spark.operators import negative_ring_sample
    from graphragpart1datapipeline_spark.sources import read_table

    docs = read_table(spark, SF, "documents")
    p = _plan(negative_ring_sample(docs, "doc_id", k=3, n_shards=64))
    # ring order comes from shard-local windows + offsets, never a
    # single-partition global sort
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_heavy_hitters_recount_broadcasts_candidates(spark):
    """Pass 2 must semi-join candidates via BROADCAST before the count
    shuffle — the vocabulary long tail must never enter an exchange."""
    from graphragpart1datapipeline_spark.operators.sketches import heavy_hitters

    docs = em.queries.__globals__["_t"](spark, SF, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    p = _plan(heavy_hitters(words, "w", k=50))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_weighted_poisson_sample_map_only_over_corpus(spark):
    """One scalar total-weight agg broadcast back; the corpus itself is
    never exchanged (no hash/range partitioning of the full frame)."""
    from graphragpart1datapipeline_spark.dedup.splits import (
        weighted_poisson_sample,
    )

    o = em.queries.__globals__["_t"](spark, SF, "orders")
    p = _plan(weighted_poisson_sample(o, "o_orderkey", "o_totalprice", 100))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row total attach
    assert "hashpartitioning(o_orderkey" not in p


def test_set_similarity_no_cartesian(spark):
    from graphragpart1datapipeline_spark.dedup.entity import set_similarity_join

    part = em.queries.__globals__["_t"](spark, SF, "part")
    df = part.select(
        "p_partkey",
        F.concat_ws(" ", "p_name", "p_brand", "p_type").alias("etext"),
    )
    p = _plan(set_similarity_join(df, "p_partkey", "etext"))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sorted_neighborhood_no_single_partition_window(spark):
    """global_rank must never plan a Window over a SinglePartition
    exchange on the full frame (only the tiny bucket-count table may)."""
    from graphragpart1datapipeline_spark.dedup.entity import global_rank

    part = em.queries.__globals__["_t"](spark, SF, "part")
    df = part.select("p_partkey", F.col("p_name").alias("k"))
    p = _plan(global_rank(df, ["k", "p_partkey"]))
    # the frame window partitions by bucket; rank rows never funnel
    # through a single partition BEFORE the window over row data
    assert "Window [row_number()" in p or "row_number()" in p
    import re

    # every SinglePartition exchange must feed only the bucket-count agg
    bad = [
        seg
        for seg in p.split("Exchange SinglePartition")[1:]
        if "count(1)" not in seg[:2000] and "__cnt" not in seg[:2000]
    ]
    assert not bad, f"unexpected SinglePartition exchange: {bad[0][:300]}"


def test_phrase_search_filters_terms_before_join(spark):
    """Per-term postings filters must reach the scan side (non-matching
    tokens never join)."""
    from graphragpart1datapipeline_spark.text.analysis import (
        phrase_search,
        positional_postings,
    )

    docs = em.queries.__globals__["_t"](spark, SF, "documents")
    post = positional_postings(docs, "doc_id", "text")
    p = _plan(phrase_search(post, ["hash", "join"]))
    assert "CartesianProduct" not in p
    assert p.count("Generate posexplode") == 2  # one filtered explode per term


def test_debounce_single_exchange(spark):
    """Both windows share one (group) hash partitioning — exactly one
    exchange of the event frame."""
    from graphragpart1datapipeline_spark.operators.timeseries import debounce

    ev = em.queries.__globals__["_t"](spark, SF, "events")
    p = _plan(debounce(ev, "user_id", "ts", 300, tiebreak_cols=("event_id",)))
    assert p.count("Exchange hashpartitioning") == 1


def test_levenshtein_self_join_plan_no_cartesian(spark):
    """PassJoin candidates come from a segment-key EQUI-join; with no
    short values (all lengths >= d+1) the plan must contain no
    cartesian/nested-loop node anywhere."""
    from graphragpart1datapipeline_spark.dedup.editdist import (
        levenshtein_self_join,
    )

    df = spark.createDataFrame(
        [(i, f"valuestring{i % 7}x") for i in range(50)],
        "id int, s string",
    )
    p = _plan(levenshtein_self_join(df, "id", "s", d=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_link_prediction_plan_no_cartesian_and_topk(spark):
    """Candidate pairs generate row-locally (no wedge self-join of the
    neighbor TABLE against itself as a theta join) and the top-k cut
    is a TakeOrdered, not a global sort."""
    from graphragpart1datapipeline_spark.graph.linkpred import (
        link_prediction_scores,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(120)], "src int, dst int"
    )
    df = link_prediction_scores(edges, top_k=10)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_incremental_er_joins_plan_no_corpus_self_join(spark):
    """The incremental ER joins must contain no cartesian/nested-loop
    node (for all-long inputs) — candidates are index-key equi-joins of
    the increment against the persisted corpus tables only."""
    from graphragpart1datapipeline_spark.dedup.incremental import (
        containment_index,
        containment_join_incremental,
        levenshtein_index,
        levenshtein_join_incremental,
        set_similarity_index,
        set_similarity_join_incremental,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"alpha beta{i % 9} gamma{i % 4} delta") for i in range(60)],
        "id int, s string",
    )
    corpus, new = df.filter("id % 3 != 0"), df.filter("id % 3 = 0")

    ss = set_similarity_join_incremental(
        new, set_similarity_index(corpus, "id", "s"), "id", "s"
    )
    p = _plan(ss)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    lv = levenshtein_join_incremental(
        new, levenshtein_index(corpus, "id", "s", d=2), "id", "s", d=2
    )
    p = _plan(lv)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    arr = df.select("id", F.split("s", " ").alias("toks"))
    ca, na = arr.filter("id % 3 != 0"), arr.filter("id % 3 = 0")
    cj = containment_join_incremental(
        na, containment_index(ca, "id", "toks"), "id", "toks"
    )
    p = _plan(cj)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_leiden_multiresolution_single_canonicalization(spark):
    """The γ sweep must canonicalize the edges and build the level-0
    degree frame exactly ONCE (they are γ-independent) — three
    resolutions may not cost three input-sized distinct+checkpoint
    passes (round-4 verdict task 4). The distributed Louvain sweep is
    the same sweep with refinement off, so it shares the bound."""
    from graphragpart1datapipeline_spark.graph import communities as C

    orig_canon, orig_deg = C._canonical_edges, C._level_degrees
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "f"),
         ("f", "d"), ("c", "d")],
        "src string, dst string",
    )
    sweeps = {
        "leiden_multiresolution": lambda: C.leiden_multiresolution(
            edges, resolutions=(2.0, 0.5, 0.1), levels=2
        ),
        "louvain-distributed": lambda: C.detect_communities(
            spark, edges, resolutions=(2.0, 0.5, 0.1),
            algorithm="louvain-distributed",
        ),
    }
    for case, sweep in sweeps.items():
        calls = {"canon": 0, "deg": 0}

        def canon(*a, **k):
            calls["canon"] += 1
            return orig_canon(*a, **k)

        def deg(*a, **k):
            calls["deg"] += 1
            return orig_deg(*a, **k)

        C._canonical_edges, C._level_degrees = canon, deg
        try:
            out = sweep()
            rows = out.collect()
        finally:
            C._canonical_edges, C._level_degrees = orig_canon, orig_deg
        assert calls["canon"] == 1, case
        # level-0 deg shared; each γ still builds its own level-1 deg
        # (contraction graphs are γ-specific): 1 shared + 3 level-1 = 4
        assert calls["deg"] == 4, case
        assert set(out.columns) == {
            "id", "community_L0", "community_L1", "community_L2"
        }
        assert len(rows) == 6
        # dense renumbering starts at 0 per level
        for lvl in ("community_L0", "community_L1", "community_L2"):
            assert min(r[lvl] for r in rows) == 0


def test_embedding_incremental_no_cartesian(spark):
    """The incremental embedding probe must stay a bucketed equi-join —
    never a cross product of new × corpus."""
    from graphragpart1datapipeline_spark.dedup import (
        embedding_lsh_index,
        embedding_near_dup_incremental,
    )
    from pyspark.sql import functions as F

    import math
    rows = [(i, [math.sin(i + j) for j in range(64)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ix = embedding_lsh_index(emb.filter(F.col("vec_id") % 3 != 1))
    out = embedding_near_dup_incremental(
        emb.filter(F.col("vec_id") % 3 == 1), ix, threshold=0.3
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the probe is an equi-join on bkt (the cosine filter may fold into
    # the join condition) — never a cross product
    assert "Join Inner" in plan and "bkt" in plan
    assert "Cartesian" not in plan and "Join Cross" not in plan


def test_bm25_query_plan_never_tokenizes_corpus(spark, tmp_path):
    """Serving from a parquet-persisted upserted index: the query plan
    reads ONLY the index tables — zero tokenizer expressions anywhere
    (the raw corpus text is structurally absent)."""
    from graphragpart1datapipeline_spark.text import (
        bm25_index,
        bm25_query,
        bm25_upsert,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(20)],
        "doc_id long, text string",
    )
    ix = bm25_index(docs.filter("doc_id % 3 != 1"))
    persisted = {}
    for name, frame in ix.items():
        p = str(tmp_path / name)
        frame.write.mode("overwrite").parquet(p)
        persisted[name] = spark.read.parquet(p)
    up = bm25_upsert(persisted, docs.filter("doc_id % 3 = 1"))
    # persist the upserted generation too (the serving snapshot)
    served = {}
    for name, frame in up.items():
        p = str(tmp_path / (name + "_g2"))
        frame.write.mode("overwrite").parquet(p)
        served[name] = spark.read.parquet(p)
    plan = (
        bm25_query(served, ["alpha", "beta"], k=5, log_idf=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "split(" not in plan and "explode" not in plan
    # and every tokenizer in the upsert plan runs on the INCREMENT's
    # text column — the index tables carry no text, so a corpus
    # re-tokenize would show as a split over a non-text input
    up_plan = up["postings"]._jdf.queryExecution().optimizedPlan().toString()
    assert up_plan.count("split(trim") >= 1
    assert up_plan.count("split(trim") == up_plan.count("split(trim(text")


@pytest.mark.parametrize("path", ["fresh", "upsert"])
def test_bm25_index_query_filters_terms_before_first_exchange(
    spark, sf_dir, path
):
    """A query over a freshly built (or freshly upserted) BM25 index
    filters postings to the query terms before they shuffle: walking
    up from every tokenizer explode, the term IN filter comes before
    the first Exchange, and the tokenizer never runs as a pushed-down
    filter. dfreq reuses the rid-keyed postings exchange instead of
    exploding the text again; over a fresh index the per-rid score sum
    adds no exchange of its own."""
    from graphragpart1datapipeline_spark.text import (
        bm25_index,
        bm25_query,
        bm25_upsert,
    )

    docs = em._t(spark, sf_dir, "documents")
    if path == "fresh":
        ix = bm25_index(docs)
    else:
        ix = bm25_upsert(
            bm25_index(docs.filter("doc_id % 3 != 1")),
            docs.filter("doc_id % 3 = 1"),
        )
    df = bm25_query(ix, list(em._BM25_TERMS), k=10, log_idf=False)
    df.collect()
    lines = _plan(df).split("== Initial Plan ==")[0].splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    explodes = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert explodes
    for i in explodes:
        d, filtered = depth(lines[i]), False
        for ln in reversed(lines[:i]):
            if depth(ln) >= d:
                continue
            d = depth(ln)
            if "Exchange" in ln:
                break
            filtered |= "IN (merge,spark,window)" in ln
        assert filtered, lines[i]
    assert not any("Filter" in ln and "size(split(" in ln for ln in lines)
    assert any(
        "ReusedExchange" in ln and "hashpartitioning(rid" in ln for ln in lines
    )
    if path == "fresh":
        assert len(explodes) == 1
        assert not any(
            "Exchange hashpartitioning(rid" in ln
            and "REPARTITION_BY_COL" not in ln
            for ln in lines
        )


def test_plan_audit_invariants_sample(spark):
    """plan_audit.py's two invariants — no cartesian outside the
    documented exact-oracle twins, no row-at-a-time Python anywhere —
    checked inline on a representative sample (the full 183-query
    sweep is `python plan_audit.py --assert`, run per round; its
    PLAN_AUDIT.json is committed)."""
    import __spark_entry__ as em
    import plan_audit as pa

    qs = em.queries()
    sample = [
        "q155_mad_outliers",      # the round-5 finding (fixed)
        "q24_minhash_lsh",
        "q53_embedding_near_dup_lsh",
        "q82_pagerank",
        "q103_bm25_topk",
        "q122_set_similarity_parts",
        "q159_leiden_distributed",
        "q161_set_similarity_incremental",
        "q176_rag_serving_end2end",
        "q179_bm25_incremental_index",
        "q183_embedding_near_dup_incremental",
    ]
    for name in sample:
        phys = (
            qs[name](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if name not in pa.CARTESIAN_ALLOWLIST:
            assert "CartesianProduct" not in phys, name
        assert "BatchEvalPython" not in phys, name


def test_textrank_pairs_flow_through_token_join(spark):
    """The sentence-pair stage must be the shared-token inverted-index
    join (group+token keyed), never an all-pairs product, and the
    whole plan stays JVM-side."""
    from graphragpart1datapipeline_spark.text.summarize import (
        textrank_summary,
    )

    docs = spark.createDataFrame(
        [(i, "g", "alpha beta. beta gamma. delta epsilon.") for i in range(4)],
        "doc_id long, community string, text string",
    )
    p = _plan(
        textrank_summary(docs, group_col="community", m=2, iters=2)
    )
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p  # pure column expressions


def test_semdedup_pairs_keyed_by_cluster(spark):
    """SemDeDup's pair join must be keyed by the cluster id (the
    paper's pair-space bound) — no cross product, no Python stage."""
    from graphragpart1datapipeline_spark.dedup.semantic import semdedup

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    survivors, groups = semdedup(emb, tau=0.9, k=2)
    for df in (survivors, groups):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p
