"""Round-5 operators: incremental retrieval indexes (BM25 postings
upsert, IVF assignment append + drift gate) and the pair-count probes
behind scale_check's counted-work ratios."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_upsert_equals_rebuild_and_roundtrip(spark, tmp_path):
    """Split-index-upsert-query must be bit-identical to a full
    rebuild, including through a parquet round-trip of the index (the
    persisted-index serving pattern — raw text structurally absent
    from the query plan)."""
    from graphragpart1datapipeline_spark.text import (
        bm25_index,
        bm25_query,
        bm25_upsert,
    )

    rows = [
        (i, f"spark merge {'window ' * (i % 3)}token{i} alpha beta")
        for i in range(30)
    ]
    all_docs = _docs(spark, rows)
    corpus = all_docs.filter(F.col("doc_id") % 4 != 1)
    inc = all_docs.filter(F.col("doc_id") % 4 == 1)

    ix = bm25_index(corpus)
    # persist + reload: the serving tier never holds the corpus frame
    reloaded = {}
    for name, frame in ix.items():
        p = str(tmp_path / name)
        frame.write.mode("overwrite").parquet(p)
        reloaded[name] = spark.read.parquet(p)
    ix2 = bm25_upsert(reloaded, inc)

    got = bm25_query(
        ix2, ["spark", "merge", "window"], k=10, log_idf=False
    ).collect()
    want = bm25_query(
        bm25_index(all_docs), ["spark", "merge", "window"], k=10,
        log_idf=False,
    ).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_bm25_upsert_replaces_and_updates_touched_terms(spark):
    """An incoming rid REPLACES its old rows; dfreq moves only for
    touched terms (delta join, never a full regroup)."""
    from graphragpart1datapipeline_spark.text import (
        bm25_index,
        bm25_upsert,
    )

    ix = bm25_index(_docs(spark, [(1, "aa bb"), (2, "aa cc")]))
    # doc 2 rewritten: loses cc, gains dd
    ix2 = bm25_upsert(ix, _docs(spark, [(2, "aa dd")]))
    dfreq = {r["term"]: r["df"] for r in ix2["dfreq"].collect()}
    assert dfreq == {"aa": 2, "bb": 1, "dd": 1}  # cc dropped (df=0)
    posts = {
        (r["rid"], r["term"]): r["tf"] for r in ix2["postings"].collect()
    }
    assert (2, "cc") not in posts and posts[(2, "dd")] == 1
    assert {r["rid"]: r["dl"] for r in ix2["dl"].collect()} == {1: 2, 2: 2}


def test_bm25_upsert_composes(spark):
    """upsert(upsert(ix, a), b) == index(corpus ∪ a ∪ b) on every
    table (disjoint rids)."""
    from graphragpart1datapipeline_spark.text import (
        bm25_index,
        bm25_upsert,
    )

    rows = [(i, f"w{i % 4} common x{i}") for i in range(12)]
    ix = bm25_index(_docs(spark, rows[:6]))
    ix = bm25_upsert(ix, _docs(spark, rows[6:9]))
    ix = bm25_upsert(ix, _docs(spark, rows[9:]))
    full = bm25_index(_docs(spark, rows))
    for tbl in ("postings", "dl", "dfreq"):
        got = sorted(tuple(r) for r in ix[tbl].collect())
        want = sorted(tuple(r) for r in full[tbl].collect())
        assert got == want, tbl


def test_bm25_version_guard(spark):
    from graphragpart1datapipeline_spark.text import bm25_query, bm25_index

    ix = bm25_index(_docs(spark, [(1, "a")]))
    ix["params"] = spark.createDataFrame([(99,)], "tokenizer_version long")
    with pytest.raises(ValueError, match="tokenizer_version"):
        bm25_query(ix, ["a"])


@pytest.mark.parametrize(
    "rows,k,error",
    [
        # a duplicated id fanned out the postings ⋈ dl join
        # (matched_terms 4 for 2 query terms)
        ([(1, "a b"), (1, "a"), (3, "c")], 10, "duplicate value"),
        # ... and fails even when it ranks below the top k
        ([(1, "a a a b b"), (2, "c d e f a"), (2, "zz"), (3, "q")], 1,
         "duplicate value"),
        # a NULL id counted toward n_docs/avgdl, then dropped silently
        ([(None, "a a"), (2, "a b"), (3, "c")], 10, "NULL value"),
        ([(None, "c"), (2, "a b"), (3, "c")], 10, "NULL value"),
    ],
)
def test_bm25_bad_ids_raise(spark, rows, k, error):
    """Index ids must be unique and non-NULL; a violation fails loudly
    with the id column named instead of returning wrong rows. When two
    concurrent stages both raise, AQE reports them together as one
    Py4JJavaError that carries the same message."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from graphragpart1datapipeline_spark.text import bm25_index, bm25_query

    ix = bm25_index(_docs(spark, rows))
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match=f"{error} in id column 'doc_id'",
    ):
        bm25_query(ix, ["a", "b"], k=k, log_idf=False).collect()


def _emb(spark, ids, dim=8, shift=0.0):
    import math

    rows = []
    for i in ids:
        v = [math.sin(i * 0.7 + j) + shift for j in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_upsert_equals_rebuild(spark, tmp_path):
    """Append-assigning an increment must yield the same index rows as
    a full rebuild (assignment is per-vector independent), and the
    stats baseline must track the admitted corpus."""
    from graphragpart1datapipeline_spark.vector.search import (
        ivf_assignments,
        ivf_build_index,
        ivf_upsert,
    )

    all_v = _emb(spark, range(40))
    cents = all_v.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    path = str(tmp_path / "ivf")
    ivf_build_index(all_v.filter(F.col("vec_id") % 4 != 2), cents, path)
    got = ivf_upsert(path, all_v.filter(F.col("vec_id") % 4 == 2), cents)
    want = ivf_assignments(all_v, cents)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    stats = spark.read.parquet(path + "_stats").collect()[0]
    assert stats["n"] == 40


def test_ivf_upsert_drift_gate_raises(spark, tmp_path):
    """An increment whose vectors no longer fit the trained centroids
    (mean winning cosine far below the build baseline) must raise a
    re-train demand, not silently degrade recall."""
    from graphragpart1datapipeline_spark.vector.search import (
        ivf_build_index,
        ivf_upsert,
    )

    base = _emb(spark, range(20))
    cents = base.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    path = str(tmp_path / "ivf")
    ivf_build_index(base, cents, path)
    # drifted increment: near-orthogonal to the trained distribution
    drifted = spark.createDataFrame(
        [(100 + j, [0.0] * 7 + [float(j + 1)]) for j in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="re-train"):
        ivf_upsert(path, drifted, cents, drift_frac=0.95)


def test_pair_count_probe_matches_verified_superset(spark):
    """return_candidates=True must be a superset of the verified pairs
    (counted-work probes measure pre-verify candidate volume)."""
    from graphragpart1datapipeline_spark.dedup.entity import (
        set_similarity_join,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v"),
         (4, "a b c d e")],
        "doc_id long, etext string",
    )
    cand = set_similarity_join(
        df, "doc_id", "etext", t_num=3, t_den=5, return_candidates=True
    )
    verified = set_similarity_join(df, "doc_id", "etext", t_num=3, t_den=5)
    # candidate stream is CLASS pairs; every verified cross-class pair's
    # classes appear among the candidates
    cand_set = {(r["ca"], r["cb"]) for r in cand.collect()}
    assert (1, 2) in cand_set  # the qualifying class pair
    assert verified.count() >= 2  # (1,2)+(2,4) cross, (1,4) intra


def test_pagerank_warm_start_converges_faster(spark):
    """Warm-starting from the old graph's ranks after an edge increment
    must land STRICTLY closer to the new graph's converged ranks than
    the stale ranks are — the point of resuming instead of recomputing.
    All-integer ranks, so the distances are exact."""
    from graphragpart1datapipeline_spark.graph import pagerank

    old_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    # increment rewires mass toward e/f
    new_edges = old_edges.unionByName(
        spark.createDataFrame(
            [("a", "e"), ("e", "f"), ("f", "e"), ("d", "e"), ("b", "e")],
            "src string, dst string",
        )
    )
    stored = pagerank(old_edges, iters=8)
    warm = pagerank(new_edges, iters=2, init_ranks=stored)
    converged = pagerank(new_edges, iters=16)

    def as_map(df):
        return {r["id"]: r["rank"] for r in df.collect()}

    ref, w, s = as_map(converged), as_map(warm), as_map(stored)
    d_warm = sum(abs(ref[k] - w.get(k, 0)) for k in ref)
    d_stale = sum(abs(ref[k] - s.get(k, 0)) for k in ref)
    assert d_warm < d_stale
    # new nodes (e, f) present with positive mass after the warm rounds
    assert w["e"] > 0 and w["f"] > 0
    # with NO increment, warm-starting from converged ranks is a fixed
    # point (up to integer-division floor jitter of a few units/node)
    warm_same = pagerank(old_edges, iters=1, init_ranks=pagerank(old_edges, iters=16))
    ref_same = as_map(pagerank(old_edges, iters=17))
    drift = sum(abs(ref_same[k] - v) for k, v in as_map(warm_same).items())
    assert drift <= 10 * len(ref_same)


def test_embedding_lsh_incremental_equals_batch_restriction(spark):
    """Incremental new-vs-index pairs must equal the batch bucketed
    join's (new, corpus) cross slice — same buckets, same unit-vector
    dots — and the upsert must compose and replace by rid."""
    from graphragpart1datapipeline_spark.dedup import (
        embedding_lsh_index,
        embedding_lsh_upsert,
        embedding_near_dup_incremental,
        embedding_near_dup_pairs,
    )

    all_v = _emb(spark, range(60), dim=64)
    corpus = all_v.filter(F.col("vec_id") % 3 != 1)
    inc = all_v.filter(F.col("vec_id") % 3 == 1)
    ix = embedding_lsh_upsert(
        embedding_lsh_index(corpus.filter(F.col("vec_id") < 30)),
        corpus.filter(F.col("vec_id") >= 30),
    )
    got = {
        (r["new_id"], r["corpus_id"], round(r["cosine"], 9))
        for r in embedding_near_dup_incremental(
            inc, ix, threshold=0.3
        ).collect()
    }
    batch = embedding_near_dup_pairs(
        all_v, threshold=0.3, bucket_bits=4, dim=64
    ).collect()
    inc_ids = {r["vec_id"] for r in inc.collect()}
    want = set()
    for r in batch:
        a, b, c = r["a"], r["b"], round(r["cosine"], 9)
        if (a in inc_ids) != (b in inc_ids):  # exactly one side is new
            n, co = (a, b) if a in inc_ids else (b, a)
            want.add((n, co, c))
    assert got == want
    # replace semantics: re-upserting a rid with a new vector swaps it
    moved = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 63)], "vec_id long, embedding array<double>"
    )
    ix2 = embedding_lsh_upsert(ix, moved)
    rows = ix2["buckets"].filter(F.col("rid") == 0).collect()
    assert len(rows) == 1 and abs(rows[0]["u"][0] - 1.0) < 1e-12
    # params guard
    with pytest.raises(ValueError, match="parameters differ"):
        embedding_near_dup_incremental(inc, ix, bucket_bits=8)


def test_dedup_keep_best_transitive_and_singletons(spark):
    """Chains A~B~C collapse to ONE survivor (the best-quality member,
    even when the endpoints never paired directly); unpaired docs
    always survive; quality ties break to the smallest id."""
    from graphragpart1datapipeline_spark.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (5, 5.0), (9, 1.0)],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long"
    )
    kept = dedup_keep_best(
        docs, pairs, F.col("score"), id_col="doc_id"
    ).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["quality"]) for r in kept}
    # cluster {1,2,3} -> 2 (best score); {4,5} tie -> 4 (smallest id);
    # 9 unpaired -> survives as its own cluster
    assert set(got) == {2, 4, 9}
    assert got[2][0] == 1 and got[2][1] == 30.0
    assert got[4][0] == 4 and got[9][0] == 9


def test_partition_comparison_golden_and_guards(spark):
    """ARI golden values (identical → 1; known split; independent →
    ~0), the same-node-set guard, and the degenerate-denominator
    convention."""
    from graphragpart1datapipeline_spark.graph.communities import (
        partition_comparison,
    )

    def part(pairs):
        return spark.createDataFrame(pairs, "id string, community string")

    a = part([("1", "x"), ("2", "x"), ("3", "y"), ("4", "y")])
    # identical partition (different label names — ARI is label-free)
    b = part([("1", "p"), ("2", "p"), ("3", "q"), ("4", "q")])
    r = partition_comparison(a, b).collect()[0]
    assert r["n"] == 4 and r["rand_index"] == 1.0 and r["ari"] == 1.0
    # one element moved: contingency {x:{p:2}, y:{p:1,q:1}}
    c = part([("1", "p"), ("2", "p"), ("3", "p"), ("4", "q")])
    r2 = partition_comparison(a, c).collect()[0]
    # hand-computed: n=4, C2=12, A2=2+2=4, B2=6+0=6, T2=2
    # RI=(12-4-6+4)/12=0.5; ARI=2*(12*2-24)/(12*10-2*24)=0/96=0
    assert abs(r2["rand_index"] - 0.5) < 1e-12
    assert abs(r2["ari"] - 0.0) < 1e-12
    # node-set mismatch must raise, not silently intersect
    d = part([("1", "p"), ("2", "p"), ("3", "q")])
    with pytest.raises(ValueError, match="same node set"):
        partition_comparison(a, d)
    # degenerate: both all-singletons -> denominator 0, identical -> 1
    s1 = part([("1", "a"), ("2", "b")])
    s2 = part([("1", "u"), ("2", "v")])
    r3 = partition_comparison(s1, s2).collect()[0]
    assert r3["ari"] == 1.0 and r3["rand_index"] == 1.0


def test_cc_incremental_equals_recompute(spark):
    """One new node merging THREE old components through chained new
    edges must produce exactly CC(old ∪ new): merged label = global
    min member; untouched components keep their label; brand-new
    isolated pairs get their own component."""
    from graphragpart1datapipeline_spark.graph.communities import (
        connected_components,
        connected_components_incremental,
    )

    old = spark.createDataFrame(
        [(10, 11), (20, 21), (30, 31), (40, 41)], "a long, b long"
    )
    new = spark.createDataFrame(
        # node 5 chains comps {10,11}, {20,21}, {30,31} together;
        # (50, 51) is a brand-new component; {40,41} untouched
        [(5, 11), (5, 21), (21, 31), (50, 51)],
        "a long, b long",
    )
    stored = connected_components(old, src="a", dst="b")
    inc = {
        (r["id"], r["component"])
        for r in connected_components_incremental(stored, new).collect()
    }
    full = {
        (r["id"], r["component"])
        for r in connected_components(
            old.unionByName(new), src="a", dst="b"
        ).collect()
    }
    assert inc == full
    as_map = dict(inc)
    assert as_map[31] == 5      # merged cluster takes the global min
    assert as_map[40] == 40 and as_map[41] == 40   # untouched
    assert as_map[51] == 50     # new component

# ---------------------------------------------------------------------------
# Deterministic sketches: bloom / count-min / HLL (q189–q192 primitives)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every inserted key must pass (no false negatives, the structural
    guarantee the pruned join relies on); a disjoint probe set must be
    mostly rejected (the filter actually prunes); non-power-of-two
    num_bits raises."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        bloom_contains,
        bloom_dense,
        bloom_words,
    )

    nb, nh = 1 << 12, 5
    members = spark.createDataFrame(
        [(f"key-{i}",) for i in range(200)], "k string"
    )
    dense = bloom_dense(bloom_words(members, "k", nb, nh), nb)
    hits = members.filter(bloom_contains(F.col("k"), dense, nb, nh)).count()
    assert hits == 200
    others = spark.createDataFrame(
        [(f"other-{i}",) for i in range(1000)], "k string"
    )
    fp = others.filter(bloom_contains(F.col("k"), dense, nb, nh)).count()
    # 200 keys * 5 hashes in 4096 bits -> fill ~0.22, fp ~ 0.22^5 ~ 5e-4
    assert fp < 50
    with pytest.raises(ValueError, match="power of two"):
        bloom_words(members, "k", 1000, nh)


def test_cms_merge_exact_and_one_sided(spark):
    """cms(A)+cms(B) must equal cms(A ∪ B) counter for counter (the
    shard-rollup contract), and every point estimate must be >= the
    true count with equality when width >> distinct keys."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    a = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(50)], "k string"
    )
    b = spark.createDataFrame(
        [(f"k{i % 13}",) for i in range(80)], "k string"
    )
    d, w = 3, 1024
    merged = {
        (r["d"], r["wi"]): r["cnt"]
        for r in cms_merge(cms_build(a, "k", d, w), cms_build(b, "k", d, w)).collect()
    }
    direct = {
        (r["d"], r["wi"]): r["cnt"]
        for r in cms_build(a.unionByName(b), "k", d, w).collect()
    }
    assert merged == direct

    union = a.unionByName(b)
    exact = {r["k"]: r["cnt"] for r in union.groupBy("k").count().withColumnRenamed("count", "cnt").collect()}
    probes = union.select("k").distinct()
    est = {
        r["k"]: r["cms_est"]
        for r in cms_estimate(cms_build(union, "k", d, w), probes, "k", d, w).collect()
    }
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert est[k] >= v
    # 13 distinct keys in 1024 counters: no collision across 3 rows
    assert est == exact


def test_cms_join_size_upper_bound(spark):
    """The inner-product estimate must upper-bound the true equi-join
    cardinality and hit it exactly when width >> keys."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        cms_build,
        cms_join_size_estimate,
    )

    a = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
    b = spark.createDataFrame([(i % 8,) for i in range(64)], "k long")
    exact = a.join(b, "k").count()
    est = cms_join_size_estimate(
        cms_build(a, "k", 4, 2048), cms_build(b, "k", 4, 2048), 4
    ).collect()[0]["est_join_rows"]
    assert est == exact  # 8 keys in 2048 counters: collision-free
    tight = cms_join_size_estimate(
        cms_build(a, "k", 2, 4), cms_build(b, "k", 2, 4), 2
    ).collect()[0]["est_join_rows"]
    assert tight >= exact  # heavy collisions can only overcount


def test_hll_merge_register_exact_and_estimate(spark):
    """Shard-merged registers must equal the direct build register for
    register (max is exact under any split), and the raw estimate must
    land within the expected ~1.04/sqrt(m) relative error band."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    p = 6
    rows = spark.createDataFrame(
        [(f"s{i % 4}", f"v{i}") for i in range(3000)], "shard string, v string"
    )
    sharded = hll_registers(rows, "v", ["shard"], p=p)
    merged = {
        r["register"]: r["rho"] for r in hll_merge(sharded, []).collect()
    }
    direct = {
        r["register"]: r["rho"]
        for r in hll_registers(rows, "v", [], p=p).collect()
    }
    assert merged == direct
    est = hll_estimate(hll_registers(rows, "v", [], p=p), [], p=p).collect()[0]
    assert abs(est["est_ndv"] - 3000) / 3000 < 0.3  # 2.3 sigma at m=64
    assert est["observed_registers"] <= 1 << p
    # per-group estimation path
    per = hll_estimate(sharded, ["shard"], p=p).collect()
    assert len(per) == 4
    for r in per:
        assert abs(r["est_ndv"] - 750) / 750 < 0.35
