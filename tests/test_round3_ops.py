"""Round-3 operators: BM25 ranked retrieval, RRF hybrid fusion,
triangle counting, cohort retention, bigram-LM scoring, Z-order layout.
Goldens are tiny hand-checkable frames; plan tests lock the scale shape
(broadcasts, TakeOrderedAndProject, exchange counts)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphragpart1datapipeline_spark.graph.triangles import (  # noqa: E402
    triangle_counts,
)
from graphragpart1datapipeline_spark.operators.layout import (  # noqa: E402
    skipped_bucket_fraction,
    zorder_bucket_stats,
    zorder_value,
)
from graphragpart1datapipeline_spark.operators.relational import (  # noqa: E402
    cohort_retention,
)
from graphragpart1datapipeline_spark.text.analysis import bm25_topk  # noqa: E402
from graphragpart1datapipeline_spark.text.lm import (  # noqa: E402
    bigram_lm_score,
    bigram_lm_train,
)
from graphragpart1datapipeline_spark.vector.search import rrf_fuse  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- BM25


def test_bm25_scores_and_ranks(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark"),
            (2, "spark merge"),
            (3, "other words only"),
            (4, "merge merge merge merge"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(
        docs, ["spark", "merge"], k=10, log_idf=False
    ).collect()
    # doc 3 matches nothing and must be absent
    assert sorted(r["doc_id"] for r in out) == [1, 2, 4]
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[2]["matched_terms"] == 2
    assert by_id[1]["matched_terms"] == 1
    # ranks are 1..n, unique, ordered by score
    ranks = sorted(r["rank"] for r in out)
    assert ranks == [1, 2, 3]
    top = min(out, key=lambda r: r["rank"])
    assert top["score"] == max(r["score"] for r in out)


def test_bm25_honors_k_and_is_take_ordered(spark):
    docs = spark.createDataFrame(
        [(i, "spark term%d" % i) for i in range(50)],
        "doc_id long, text string",
    )
    df = bm25_topk(docs, ["spark"], k=5, log_idf=False)
    assert df.count() == 5
    assert "TakeOrderedAndProject" in _plan(df)


# ----------------------------------------------------------------- RRF


def test_rrf_fuse_golden(spark):
    a = spark.createDataFrame([(10, 1), (11, 2)], "id long, rank long")
    b = spark.createDataFrame([(11, 1), (12, 2)], "id long, rank long")
    rows = {r["id"]: r for r in rrf_fuse([a, b], k0=60, k=10).collect()}
    assert set(rows) == {10, 11, 12}
    # doc 11 appears in both lists: 1/62 + 1/61
    assert rows[11]["rrf_score"] == 1.0 / 62 + 1.0 / 61
    assert rows[10]["rrf_score"] == 1.0 / 61
    assert rows[12]["rrf_score"] == 1.0 / 62
    assert rows[11]["rank_1"] == 2 and rows[11]["rank_2"] == 1
    assert rows[10]["rank_2"] is None


# ----------------------------------------------------------- triangles


def test_triangle_counts_k4(spark):
    # K4: C(4,3)=4 triangles, every node in exactly 3
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    rows = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}
    # every triangle is credited to each of its 3 nodes
    assert sum(rows.values()) / 3 == 4


def test_triangle_counts_orientation_invariant(spark):
    # triangle 0-1-2 plus a pendant edge; reversed/duplicated edges
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (2, 3), (3, 3)],
        "src long, dst long",
    )
    plain = {
        r["node"]: r["triangles"] for r in triangle_counts(edges).collect()
    }
    assert plain == {0: 1, 1: 1, 2: 1}


# ------------------------------------------------------------- cohorts


def test_cohort_retention_golden(spark):
    # epoch 1970-01-05 is a Monday; week p = floor(days/7)
    ev = spark.createDataFrame(
        [
            (1, "1970-01-05 10:00:00"),  # u1 week0
            (1, "1970-01-13 10:00:00"),  # u1 week1
            (2, "1970-01-06 10:00:00"),  # u2 week0
            (3, "1970-01-13 10:00:00"),  # u3 week1
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {
        (r["cohort_period"], r["period_offset"]): r
        for r in cohort_retention(ev).collect()
    }
    assert rows[(0, 0)]["n_users"] == 2 and rows[(0, 0)]["cohort_size"] == 2
    assert rows[(0, 1)]["n_users"] == 1
    assert rows[(0, 1)]["retention_pct"] == 50.0
    assert rows[(1, 0)]["n_users"] == 1 and rows[(1, 0)]["cohort_size"] == 1
    assert set(rows) == {(0, 0), (0, 1), (1, 0)}


# ------------------------------------------------------------ bigram LM


def test_bigram_lm_train_and_score(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "a c"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    model = {
        (r["w1"], r["w2"]): (r["n2"], r["n1"])
        for r in bigram_lm_train(docs).collect()
    }
    # contexts: 'a'→{b:3, c:1} (n1=4), 'b'→{a:1} (n1=1)
    assert model[("a", "b")] == (3, 4)
    assert model[("a", "c")] == (1, 4)
    assert model[("b", "a")] == (1, 1)
    rows = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    # doc2: one bigram (a,b): floor(3/4*1e6+0.5) = 750000
    assert rows[2]["n_bigrams"] == 1
    assert rows[2]["lm_score_micro"] == 750000
    assert rows[2]["mean_prob_micro"] == 750000.0
    # doc1: (a,b)=750000, (b,a)=1000000, (a,b)=750000
    assert rows[1]["lm_score_micro"] == 2500000
    # empty/null docs preserved with zero score
    for d in (4, 5):
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["lm_score_micro"] == 0
        assert rows[d]["mean_prob_micro"] is None
    assert set(rows) == {1, 2, 3, 4, 5}


def test_bigram_lm_model_broadcasts(spark):
    docs = spark.createDataFrame(
        [(i, "w%d w%d w0" % (i, i + 1)) for i in range(20)],
        "doc_id long, text string",
    )
    p = _plan(bigram_lm_score(docs))
    assert "BroadcastHashJoin" in p


# -------------------------------------------------------------- Z-order


def test_zorder_value_interleave(spark):
    # x=0b011 (3), y=0b101 (5), 3 bits, x at even bit slots:
    # z = x0<<0 | y0<<1 | x1<<2 | y1<<3 | x2<<4 | y2<<5
    #   = 1 | 2 | 4 | 0 | 0 | 32 = 39
    row = (
        spark.range(1)
        .select(
            zorder_value([F.lit(3), F.lit(5)], bits=3).alias("z"),
            zorder_value([F.lit(0), F.lit(0)], bits=3).alias("z0"),
            zorder_value([F.lit(7), F.lit(7)], bits=3).alias("zmax"),
            # clamping: negative → 0, overflow → 2^bits-1
            zorder_value([F.lit(-5), F.lit(9)], bits=3).alias("zclamp"),
        )
        .collect()[0]
    )
    assert row["z"] == 39
    assert row["z0"] == 0
    assert row["zmax"] == 63
    # clamp(-5)=0, clamp(9)=7 → z = y bits only = 2+8+32 = 42
    assert row["zclamp"] == 42


def test_zorder_bucket_stats_single_exchange(spark):
    df = spark.range(1000).select(
        F.col("id").alias("x"), (F.col("id") * 7 % 1000).alias("y")
    )
    stats = zorder_bucket_stats(df, ["x", "y"], bits=10, bucket_bits=4)
    p = _plan(stats)
    # one groupBy exchange + the normalization's 1-row min/max agg and
    # its broadcast — no data-sized join or sort
    assert p.count("Exchange") <= 4
    assert "SortMergeJoin" not in p and "Sort " not in p
    rows = stats.collect()
    assert sum(r["n_rows"] for r in rows) == 1000
    # z-prefix buckets bound BOTH dimensions: every bucket's x-span and
    # y-span must be < the full range (the skipping property), which a
    # single-column sort cannot give for y.
    for r in rows:
        assert r["max_x"] - r["min_x"] < 999
        assert r["max_y"] - r["min_y"] < 999


def test_skipped_bucket_fraction(spark):
    df = spark.range(1024).select(
        F.col("id").alias("x"), F.col("id").alias("y")
    )
    stats = zorder_bucket_stats(df, ["x", "y"], bits=10, bucket_bits=4)
    out = skipped_bucket_fraction(stats, "x", 0, 63).collect()[0]
    assert out["n_buckets"] == out["scanned"] + out["skipped"]
    assert out["skipped"] > 0


# --------------------------------------------------------------- k-core


def test_kcore_peels_pendant_chain(spark):
    # triangle 0-1-2 with pendant chain 2-3-4: 2-core = the triangle,
    # but only after TWO peel rounds (removing 4 drops 3's degree)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],
        "src long, dst long",
    )
    from graphragpart1datapipeline_spark.graph.kcore import kcore_nodes

    # rounds=1 peels node 4; the output degree filter then hides node 3,
    # but its edge survives in the round-1 edge set — node 2 still
    # reports degree 3 (the partially-peeled state)
    one = {
        r["node"]: r["degree"]
        for r in kcore_nodes(edges, k=2, rounds=1).collect()
    }
    assert one == {0: 2, 1: 2, 2: 3}
    rows = {
        r["node"]: r["degree"]
        for r in kcore_nodes(edges, k=2, rounds=2).collect()
    }
    assert rows == {0: 2, 1: 2, 2: 2}
    fixed = {
        r["node"]: r["degree"]
        for r in kcore_nodes(edges, k=2, rounds=None).collect()
    }
    assert fixed == rows


def test_kcore_empty_when_k_too_high(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    from graphragpart1datapipeline_spark.graph.kcore import kcore_nodes

    assert kcore_nodes(edges, k=5, rounds=2).count() == 0


# ----------------------------------------------------------- compaction


def test_compaction_plan_greedy_fill(spark):
    from graphragpart1datapipeline_spark.operators.layout import (
        compaction_plan,
    )

    files = spark.createDataFrame(
        [("f1", 60), ("f2", 60), ("f3", 60), ("f4", 10), ("f5", 200)],
        "path string, bytes long",
    )
    rows = {
        r["path"]: r["group"]
        for r in compaction_plan(files, target_bytes=100).collect()
    }
    # cumsum-before: f1=0, f2=60, f3=120, f4=180, f5=190
    assert rows == {"f1": 0, "f2": 0, "f3": 1, "f4": 1, "f5": 1}


# ----------------------------------------------------------- timeseries


def test_resample_locf_golden(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        resample_locf,
    )

    ev = spark.createDataFrame(
        [
            (1, 1, "1970-01-01 00:00:30", 10.0),
            (2, 1, "1970-01-01 00:00:45", 20.0),  # same bucket, later ts wins
            (3, 1, "1970-01-01 00:03:10", 30.0),  # gap of 2 buckets
            (4, 2, "1970-01-01 00:01:00", 5.0),
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = resample_locf(
        ev, "user_id", "ts", "value", step_seconds=60,
        tiebreak_cols=("event_id",),
    )
    rows = {
        (r["user_id"], r["bucket_start"]): (r["value"], r["observed"])
        for r in out.collect()
    }
    assert rows[(1, 0)] == (20.0, True)  # later event in bucket wins
    assert rows[(1, 60)] == (20.0, False)  # gap-filled
    assert rows[(1, 120)] == (20.0, False)
    assert rows[(1, 180)] == (30.0, True)
    assert rows[(2, 60)] == (5.0, True)
    assert len(rows) == 5  # grid spans per group, no global fill


def test_rolling_time_agg_golden(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        rolling_time_agg,
    )

    ev = spark.createDataFrame(
        [
            (1, 1, "1970-01-01 00:00:00", 1.0),
            (2, 1, "1970-01-01 00:30:00", 2.0),
            (3, 1, "1970-01-01 01:00:00", 4.0),   # exactly 3600s after e1
            (4, 1, "1970-01-01 02:00:01", 8.0),   # everything expired
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["event_id"]: (r["rolling_sum"], r["rolling_n"])
        for r in rolling_time_agg(
            ev, "user_id", "ts", "value", window_seconds=3600
        ).collect()
    }
    assert out[1] == (1.0, 1)
    assert out[2] == (3.0, 2)
    assert out[3] == (7.0, 3)  # frame inclusive at t-3600
    assert out[4] == (8.0, 1)


def test_zorder_normalized_uses_all_buckets(spark):
    # small-range columns must still spread across buckets
    df = spark.range(512).select(
        F.col("id").alias("x"), (F.col("id") % 97).alias("y")
    )
    stats = zorder_bucket_stats(df, ["x", "y"], bits=16, bucket_bits=4)
    assert stats.count() > 4


# ------------------------------------------------------------------ CDC


def test_apply_cdc_golden(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        apply_cdc,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 11.0, 5, "U"),
            (1, "a3", 12.0, 7, "U"),   # later seq wins
            (2, "xx", 0.0, 6, "D"),    # delete
            (4, "d", 40.0, 8, "U"),    # insert of a new key
        ],
        "id long, name string, bal double, seq long, op string",
    )
    rows = {
        r["id"]: (r["name"], r["bal"])
        for r in apply_cdc(base, changes, ["id"], "seq").collect()
    }
    assert rows == {1: ("a3", 12.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_apply_cdc_idempotent(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        apply_cdc,
    )

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, bal double"
    )
    changes = spark.createDataFrame(
        [(1, 99.0, 1, "U"), (2, 0.0, 2, "D")],
        "id long, bal double, seq long, op string",
    )
    once = apply_cdc(base, changes, ["id"], "seq")
    twice = apply_cdc(once, changes, ["id"], "seq")
    assert sorted(r["id"] for r in twice.collect()) == [1]
    assert twice.collect()[0]["bal"] == 99.0


# -------------------------------------------------------------- k-truss


def test_ktruss_golden(spark):
    from graphragpart1datapipeline_spark.graph.truss import ktruss

    # K4 (every edge in 2 triangles) + a triangle 4-5-6 (support 1)
    # + a pendant edge 6-7 (support 0)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 6), (4, 6), (6, 7)], "src long, dst long"
    )
    out = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss(edges, k=4, rounds=2).collect()
    }
    # 4-truss (support >= 2): exactly the K4 edges
    assert set(out) == set(k4)
    assert all(v == 2 for v in out.values())
    # 3-truss keeps both the K4 and the extra triangle, not the pendant
    out3 = {
        (r["a"], r["b"])
        for r in ktruss(edges, k=3, rounds=2).collect()
    }
    assert out3 == set(k4) | {(4, 5), (5, 6), (4, 6)}


def test_ktruss_cascade(spark):
    from graphragpart1datapipeline_spark.graph.truss import ktruss

    # two triangles sharing edge (1,2): 0-1-2 and 1-2-3, plus triangle
    # 3-4-5 hanging off. For k=4 (support >= 2) only (1,2) has support
    # 2 in round 1 — but its companions die, so round 2 must empty it.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)],
        "src long, dst long",
    )
    assert ktruss(edges, k=4, rounds=2).count() == 0


# ----------------------------------------------------- incremental CDC


def test_cdc_upsert_state_out_of_order_delete(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        cdc_live,
        cdc_upsert_state,
    )

    state0 = spark.createDataFrame(
        [(1, 10.0, None, False)],
        "id long, bal double, __cdc_seq long, __cdc_deleted boolean",
    )
    # delete at seq 9 arrives BEFORE an older upsert at seq 5: the
    # tombstone must keep the key dead (a tombstone-less merge would
    # resurrect it)
    d9 = spark.createDataFrame(
        [(1, 0.0, 9, "D")], "id long, bal double, seq long, op string"
    )
    u5 = spark.createDataFrame(
        [(1, 99.0, 5, "U")], "id long, bal double, seq long, op string"
    )
    s1 = cdc_upsert_state(state0, d9, ["id"], "seq")
    s2 = cdc_upsert_state(s1, u5, ["id"], "seq")
    assert cdc_live(s2).count() == 0
    # and the reverse order converges to the same state
    s1b = cdc_upsert_state(state0, u5, ["id"], "seq")
    s2b = cdc_upsert_state(s1b, d9, ["id"], "seq")
    assert cdc_live(s2b).count() == 0


def test_stream_cdc_apply_matches_batch(spark, tmp_path):
    from graphragpart1datapipeline_spark.operators.relational import (
        apply_cdc,
        cdc_live,
    )
    from graphragpart1datapipeline_spark.streaming.cdc import (
        init_cdc_state,
        read_cdc_state,
        stream_cdc_apply,
    )

    base = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(6)], "id long, bal double"
    )
    state_dir = str(tmp_path / "state")
    init_cdc_state(base, state_dir)

    # two change files (micro-batches), seqs interleaved across files
    src = str(tmp_path / "changes")
    spark.createDataFrame(
        [(1, 111.0, 4, "U"), (2, 0.0, 7, "D"), (9, 90.0, 2, "U")],
        "id long, bal double, seq long, op string",
    ).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(1, 222.0, 3, "U"), (2, 20.5, 5, "U"), (3, 33.0, 9, "U")],
        "id long, bal double, seq long, op string",
    ).write.parquet(src + "/f2")

    sdf = spark.readStream.schema(
        "id long, bal double, seq long, op string"
    ).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    q = stream_cdc_apply(
        sdf, state_dir, ["id"], "seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["id"]: r["bal"]
        for r in cdc_live(read_cdc_state(spark, state_dir)).collect()
    }
    all_changes = spark.read.parquet(src + "/f1", src + "/f2")
    expected = {
        r["id"]: r["bal"]
        for r in apply_cdc(base, all_changes, ["id"], "seq").collect()
    }
    assert got == expected
    # the final state saw every micro-batch: at least 2 versions past v0
    import os as _os

    assert len(_os.listdir(state_dir)) >= 3


# -------------------------------------------------- incremental corpus


def _inc_changes(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, seq long, op string"
    )


def test_incremental_corpus_rebuild_equivalence(spark, tmp_path):
    """The core invariant: after ANY batch split of a change feed, the
    incrementally-maintained indexes equal a from-scratch rebuild over
    the final live state."""
    from graphragpart1datapipeline_spark.plans.incremental_demo import (
        apply_increment,
        init_corpus_state,
        read_indexes,
        rebuild_indexes,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
            (3, "red green blue yellow purple"),
        ],
        "doc_id long, text string",
    )
    all_changes = [
        (2, "one two three four five six seven", 10, "U"),  # revision
        (3, None, 11, "D"),                                  # delete
        (4, "totally new document text here", 12, "U"),      # insert
        (2, "one two three four five final", 15, "U"),       # re-revision
        (5, "alpha beta gamma delta epsilon", 13, "U"),      # dup of 1
    ]
    # split A: one batch; split B: two out-of-order batches
    for name, batches in [
        ("one", [all_changes]),
        ("split", [all_changes[3:], all_changes[:3]]),
    ]:
        root = str(tmp_path / name)
        init_corpus_state(spark, root, docs)
        for b in batches:
            apply_increment(spark, root, _inc_changes(spark, b))
        inc = read_indexes(spark, root)
        ref = rebuild_indexes(spark, root)
        for key in ("lsh", "emb"):
            a = sorted(map(tuple, inc[key].collect()))
            b2 = sorted(map(tuple, ref[key].collect()))
            assert a == b2, f"{name}/{key} diverged from rebuild"
    # both splits converge to the same live state
    from graphragpart1datapipeline_spark.operators.relational import cdc_live
    from graphragpart1datapipeline_spark.streaming.cdc import read_cdc_state

    s1 = sorted(
        map(
            tuple,
            cdc_live(
                read_cdc_state(spark, str(tmp_path / "one" / "docs"))
            ).collect(),
        )
    )
    s2 = sorted(
        map(
            tuple,
            cdc_live(
                read_cdc_state(spark, str(tmp_path / "split" / "docs"))
            ).collect(),
        )
    )
    assert s1 == s2
    assert [d for d, _ in s1] == [1, 2, 4, 5]


def test_incremental_corpus_flags_near_dups(spark, tmp_path):
    from graphragpart1datapipeline_spark.plans.incremental_demo import (
        apply_increment,
        init_corpus_state,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "c")
    init_corpus_state(spark, root, docs)
    # a doc's own revision must NOT match its previous index rows
    out = apply_increment(
        spark,
        root,
        _inc_changes(
            spark,
            [(1, "the quick brown fox jumps over the lazy dog today!", 1, "U")],
        ),
    )
    assert out["near_dup_flags"] == 0
    # a near-identical NEW doc must be flagged against the standing index
    out = apply_increment(
        spark,
        root,
        _inc_changes(
            spark,
            [(2, "the quick brown fox jumps over the lazy dog", 2, "U")],
        ),
    )
    assert out["near_dup_flags"] >= 1
    assert out["live_after"] == 2
    # a revision that still near-dups a standing doc is ONE flag: the
    # pair is scored with the revision's new text, never its old one
    s = " ".join(f"w{i}" for i in range(20))
    root = str(tmp_path / "rev")
    init_corpus_state(
        spark,
        root,
        spark.createDataFrame([(1, s), (2, s + " ok")], "doc_id long, text string"),
    )
    out = apply_increment(
        spark, root, _inc_changes(spark, [(1, s + " again", 1, "U")])
    )
    assert out["near_dup_flags"] == 1
    assert (out["changes"], out["touched_keys"], out["live_after"]) == (1, 1, 2)


def _parquet_frame(spark, path, cols):
    """A one-file parquet table (written without a Spark job): the
    one-partition scan that batches arrive as, so ensure_parallelism
    repartitions it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))
    return spark.read.parquet(str(path))


def test_incremental_corpus_evaluates_merge_once(spark, tmp_path, monkeypatch):
    """The CDC merge runs once per increment: both index refreshes
    derive from the committed state read back, so neither plan holds
    the merge's Window or full-outer join. Verification reads the
    candidate pairs once, so the batch's round-robin exchange
    (ensure_parallelism) appears once in the final plan."""
    import pytest

    from graphragpart1datapipeline_spark.dedup import minhash_lsh_incremental
    from graphragpart1datapipeline_spark.plans import incremental_demo as inc

    s = " ".join(f"w{i}" for i in range(20))
    docs = _parquet_frame(
        spark,
        tmp_path / "docs.parquet",
        {"doc_id": [1, 2], "text": [s, "an unrelated document about something else"]},
    )
    root = str(tmp_path / "c")
    inc.init_corpus_state(spark, root, docs)
    plans = {}
    write_next = inc.write_version

    class Captured(Exception):
        pass

    def spy(df, d, v):
        # only the state write is needed (the refresh reads it back);
        # stop once the last frame is captured
        name = os.path.basename(d)
        plans[name] = df._jdf.queryExecution().optimizedPlan().toString()
        if name == "emb":
            raise Captured
        return write_next(df, d, v) if name == "docs" else None

    monkeypatch.setattr(inc, "write_version", spy)
    changes = _parquet_frame(
        spark,
        tmp_path / "changes.parquet",
        {"doc_id": [1, 2], "text": [s + " again", None], "seq": [1, 2], "op": ["U", "D"]},
    )
    with pytest.raises(Captured):
        inc.apply_increment(spark, root, changes)
    assert "Window" in plans["docs"] and "FullOuter" in plans["docs"]
    for k in ("lsh", "emb"):
        assert "Window" not in plans[k] and "FullOuter" not in plans[k], k

    batch = _parquet_frame(
        spark,
        tmp_path / "batch.parquet",
        {"doc_id": [10, 11], "text": [s + " again", "completely novel content here ok"]},
    )
    flags = minhash_lsh_incremental(
        batch, docs, corpus_buckets=spark.read.parquet(os.path.join(root, "lsh", "v0"))
    )
    assert [(r["new_id"], r["corpus_id"]) for r in flags.collect()] == [(10, 1)]
    plan = flags._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("RoundRobinPartitioning") == 1


def test_incremental_corpus_resolves_versions_through_fs(spark, tmp_path):
    """Versions resolve through the session's FileSystem (a ``file:``
    URI root works), an uncommitted ``v{N+1}`` crash leftover is
    skipped by the read, and the next write replaces it and commits."""
    from graphragpart1datapipeline_spark.plans import incremental_demo as inc
    from graphragpart1datapipeline_spark.sources.versioned import read_version

    root = "file://" + str(tmp_path / "c")
    docs_dir = os.path.join(root, "docs")
    inc.init_corpus_state(
        spark,
        root,
        _parquet_frame(
            spark,
            tmp_path / "docs.parquet",
            {"doc_id": [1, 2], "text": ["alpha beta gamma delta", "one two three four"]},
        ),
    )
    leftover = tmp_path / "c" / "docs" / "v1"
    leftover.mkdir()
    _parquet_frame(spark, leftover / "part-0.parquet", {"doc_id": [99], "junk": ["x"]})
    state, v = read_version(spark, docs_dir)
    assert v == 0 and sorted(r["doc_id"] for r in state.collect()) == [1, 2]

    changes = _parquet_frame(
        spark,
        tmp_path / "changes.parquet",
        {"doc_id": [3], "text": ["red green blue yellow"], "seq": [1], "op": ["U"]},
    )
    assert inc.apply_increment(spark, root, changes)["live_after"] == 3
    assert (leftover / "_COMMITTED").exists()
    state, v = read_version(spark, docs_dir)
    assert v == 1 and "junk" not in state.columns
    assert sorted(r["doc_id"] for r in state.collect()) == [1, 2, 3]


def test_ktruss_until_fixed_point(spark):
    from graphragpart1datapipeline_spark.graph.truss import ktruss

    # chain of triangles sharing single edges: fixed point at k=4 is
    # empty, but it takes >2 rounds to drain
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (1, 3), (3, 4), (2, 4)],
        "src long, dst long",
    )
    out = ktruss(edges, k=4, rounds=None)
    assert out.count() == 0


def test_resample_locf_bucket_guard_raises(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from graphragpart1datapipeline_spark.operators.timeseries import (
        resample_locf,
    )

    ev = spark.createDataFrame(
        [(1, 0, 1.0, 1), (1, 10_000, 2.0, 2)],
        "user long, epoch long, value double, event_id long",
    ).withColumn("ts", F.timestamp_seconds(F.col("epoch")))
    with pytest.raises(Exception, match="resample_locf"):
        resample_locf(
            ev, "user", "ts", "value", step_seconds=1,
            tiebreak_cols=("event_id",), max_buckets_per_group=100,
        ).collect()


# ---------------------------------------------------------------------------
# Batch 2: reshape / decay / entity resolution / heavy hitters / sampling
# ---------------------------------------------------------------------------


def test_pivot_agg_count_fills_zero(spark):
    from graphragpart1datapipeline_spark.operators.reshape import pivot_agg

    df = spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "a", 2.0), ("g2", "b", 3.0)],
        "g string, p string, v double",
    )
    out = pivot_agg(df, ["g"], "p", ["a", "b", "c"], "v", agg="count")
    rows = {r["g"]: r for r in out.collect()}
    assert rows["g1"]["a"] == 2 and rows["g1"]["b"] == 0 and rows["g1"]["c"] == 0
    assert rows["g2"]["b"] == 1 and rows["g2"]["a"] == 0


def test_unpivot_roundtrip_shape(spark):
    from graphragpart1datapipeline_spark.operators.reshape import unpivot_long

    df = spark.createDataFrame(
        [(1, 10, 2.5), (2, 20, 5.0)], "id long, a int, b double"
    )
    out = unpivot_long(df, ["id"], ["a", "b"]).collect()
    assert len(out) == 4
    got = {(r["id"], r["metric"]): r["value"] for r in out}
    assert got[(1, "a")] == 10.0 and got[(2, "b")] == 5.0


def test_skyline2d_dominance_cases(spark):
    from graphragpart1datapipeline_spark.operators.reshape import skyline2d

    # (price, size): frontier = (1,5), (2,7); (2,5) dominated by (1,5)
    # via equal-y/strictly-cheaper, (3,7) dominated by (2,7) via
    # equal-y; duplicates of a frontier point both survive.
    df = spark.createDataFrame(
        [(1.0, 5), (2.0, 5), (2.0, 7), (2.0, 7), (3.0, 7), (3.0, 1)],
        "price double, size int",
    )
    out = sorted(
        [(r["price"], r["size"]) for r in skyline2d(df, "price", "size").collect()]
    )
    assert out == [(1.0, 5), (2.0, 7), (2.0, 7)]


def test_ewma_head_renormalizes(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0)], "g long, t long, v double"
    )
    out = {r["t"]: r["ewma"] for r in ewma(df, "g", ["t"], "v", 0.5, 4).collect()}
    assert out[1] == 10.0  # single obs: weight mass renormalizes to 1
    # two obs: (0.5*20 + 0.25*10) / 0.75
    assert abs(out[2] - (0.5 * 20 + 0.25 * 10) / 0.75) < 1e-12


def test_cumulative_distinct_counts_first_seen_only(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        cumulative_distinct,
    )

    rows = [
        (1, 0), (2, 10), (1, 86_400 + 5), (3, 86_400 + 6), (3, 2 * 86_400),
    ]
    df = spark.createDataFrame(rows, "k long, e long").withColumn(
        "ts", F.timestamp_seconds(F.col("e"))
    )
    out = {
        r["bucket_start"]: (r["new_keys"], r["cum_distinct_keys"])
        for r in cumulative_distinct(df, "k", "ts", 86_400).collect()
    }
    assert out[0] == (2, 2) and out[86_400] == (1, 3)
    assert 2 * 86_400 not in out  # key 3 already seen


def test_set_similarity_join_is_lossless_vs_bruteforce(spark):
    """Prefix filtering must find EXACTLY the brute-force pair set on
    seeded random token records (the q122 oracle proves it on real
    data; this pins it on adversarial sizes incl. singleton sets)."""
    import itertools
    import random

    from graphragpart1datapipeline_spark.dedup.entity import set_similarity_join

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(12)]
    recs = [
        (i, " ".join(rng.sample(vocab, rng.randint(1, 6))))
        for i in range(60)
    ]
    df = spark.createDataFrame(recs, "rid long, txt string")
    got = {
        (r["id_a"], r["id_b"])
        for r in set_similarity_join(df, "rid", "txt", 3, 5).collect()
    }
    toksets = {i: frozenset(t.split()) for i, t in recs}
    want = set()
    for a, b in itertools.combinations(sorted(toksets), 2):
        x, y = toksets[a], toksets[b]
        if 5 * len(x & y) >= 3 * len(x | y):
            want.add((a, b))
    assert got == want


def test_global_rank_matches_row_number(spark):
    from pyspark.sql import Window

    from graphragpart1datapipeline_spark.dedup.entity import global_rank

    df = spark.createDataFrame(
        [(i, f"k{i % 7}x{i}") for i in range(50)], "id long, key string"
    ).repartition(5)
    got = global_rank(df, ["key", "id"], rank_col="rn")
    w = Window.orderBy("key", "id")
    want = df.withColumn("rn", F.row_number().over(w).cast("long") - 1)
    assert got.select("id", "rn").subtract(want.select("id", "rn")).count() == 0
    assert want.select("id", "rn").subtract(got.select("id", "rn")).count() == 0


def test_sorted_neighborhood_window_and_distance(spark):
    from graphragpart1datapipeline_spark.dedup.entity import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "alphb"), (3, "alphq"), (4, "zzzzz")],
        "id long, name string",
    )
    out = sorted_neighborhood_pairs(df, "id", "name", window=2, max_distance=1)
    pairs = {(r["id_a"], r["id_b"]): r["rank_gap"] for r in out.collect()}
    # sort order: alpha(1), alphb(2), alphq(3), zzzzz(4)
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) in pairs
    assert (3, 4) not in pairs  # within window but distance 5 > 1


def test_heavy_hitters_exact_threshold(spark):
    from graphragpart1datapipeline_spark.operators.sketches import heavy_hitters

    # 100 rows: 'a' x 40, 'b' x 25, rest 35 distinct singletons.
    rows = [("a",)] * 40 + [("b",)] * 25 + [(f"t{i}",) for i in range(35)]
    df = spark.createDataFrame(rows, "v string").repartition(7)
    out = {r["value"]: r["cnt"] for r in heavy_hitters(df, "v", k=4).collect()}
    # threshold n/k = 25 strict: 'a' (40) qualifies, 'b' (25) does NOT.
    assert out == {"a": 40}


def test_weighted_poisson_sample_clamp_and_determinism(spark):
    from graphragpart1datapipeline_spark.dedup.splits import (
        weighted_poisson_sample,
    )

    rows = [(i, 1.0 if i else 10_000.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w double")
    out1 = {
        r["id"] for r in weighted_poisson_sample(df, "id", "w", 5).collect()
    }
    # row 0 holds ~99% of the weight -> clamped probability 1
    assert 0 in out1
    out2 = {
        r["id"]
        for r in weighted_poisson_sample(
            df.repartition(13), "id", "w", 5
        ).collect()
    }
    assert out1 == out2  # pure function of (id, seed, weights)
    # zero/negative weights never sampled
    df2 = spark.createDataFrame([(1, 0.0), (2, -3.0)], "id long, w double")
    assert weighted_poisson_sample(df2, "id", "w", 5).count() == 0


def test_phrase_search_counts_overlapping(spark):
    from graphragpart1datapipeline_spark.text.analysis import (
        phrase_search,
        positional_postings,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),   # "a b" twice, "a a" zero
            (2, "a a a"),       # "a a" twice (overlapping)
            (3, "b b"),
        ],
        "doc_id long, text string",
    )
    post = positional_postings(df, "doc_id", "text")
    ab = {r["id"]: r["n_matches"] for r in phrase_search(post, ["a", "b"]).collect()}
    assert ab == {1: 2}
    aa = {r["id"]: r["n_matches"] for r in phrase_search(post, ["a", "a"]).collect()}
    assert aa == {2: 2}


def test_not_in_join_null_semantics(spark):
    from graphragpart1datapipeline_spark.operators.joins import not_in_join

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k int, v string"
    )
    right_plain = spark.createDataFrame([(2,), (3,)], "rk int")
    out = {r["v"] for r in not_in_join(left, right_plain, "k", "rk").collect()}
    assert out == {"a"}  # 2 matched, NULL left key excluded
    # any NULL in the subquery -> empty result (three-valued logic)
    right_null = spark.createDataFrame([(2,), (None,)], "rk int")
    assert not_in_join(left, right_null, "k", "rk").count() == 0
    # empty subquery -> ALL left rows, even the NULL key (NOT IN over
    # an empty set is vacuously TRUE in SQL's three-valued logic)
    right_empty = right_plain.filter(F.lit(False))
    out2 = {r["v"] for r in not_in_join(left, right_empty, "k", "rk").collect()}
    assert out2 == {"a", "b", "c"}


def test_grouped_corr_golden(spark):
    import math

    from graphragpart1datapipeline_spark.operators.relational import grouped_corr

    # y = 2x exactly -> corr 1; anti-correlated -> -1; constant -> NULL
    rows = (
        [("p", float(i), float(2 * i)) for i in range(1, 6)]
        + [("n", float(i), float(-i)) for i in range(1, 6)]
        + [("z", float(i), 7.0) for i in range(1, 6)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r["corr"] for r in grouped_corr(df, ["g"], "x", "y").collect()}
    assert out["p"] == 1.0 and out["n"] == -1.0 and out["z"] is None


def test_histogram_drift_tvd_golden(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        histogram_drift,
    )

    a = spark.createDataFrame([(0.5,), (0.5,), (1.5,), (1.5,)], "v double")
    b = spark.createDataFrame([(0.5,), (0.5,), (0.5,), (0.5,)], "v double")
    row = histogram_drift(a, b, "v", 2, 0.0, 2.0).collect()[0]
    # p = (.5, .5), q = (1, 0) -> tvd = .5*(|.5-1| + |.5-0|) = 0.5
    assert row["n_a"] == 4 and row["n_b"] == 4 and row["tvd"] == 0.5
    same = histogram_drift(a, a, "v", 2, 0.0, 2.0).collect()[0]
    assert same["tvd"] == 0.0


def test_event_transitions_golden(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        event_transitions,
    )

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "b"), (2, 1, "b")]
    df = spark.createDataFrame(rows, "g long, t long, s string")
    out = {
        (r["from_state"], r["to_state"]): r["n"]
        for r in event_transitions(df, "g", ["t"], "s").collect()
    }
    assert out == {(None, "a"): 1, ("a", "b"): 1, ("b", "b"): 1, (None, "b"): 1}


def test_debounce_chains_through_suppressed(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import debounce

    # gaps: 0->5->10->100: 5s chain keeps only t=0 even though t=10 is
    # >gap from t=0 (suppression chains); t=100 starts a new burst.
    rows = [(1, 0), (1, 5), (1, 10), (1, 100)]
    df = spark.createDataFrame(rows, "g long, e long").withColumn(
        "ts", F.timestamp_seconds(F.col("e"))
    )
    kept = sorted(
        r["e"] for r in debounce(df, "g", "ts", gap_seconds=6).collect()
    )
    assert kept == [0, 100]


def test_embedding_centroids_long_form(spark):
    from graphragpart1datapipeline_spark.vector.search import (
        embedding_centroids,
    )

    df = spark.createDataFrame(
        [("x", [1.0, 2.0]), ("x", [3.0, 6.0]), ("y", [5.0, 5.0])],
        "label string, embedding array<float>",
    )
    out = {
        (r["label"], r["dim"]): r["mean"]
        for r in embedding_centroids(df, "label").collect()
    }
    assert out == {
        ("x", 0): 2.0, ("x", 1): 4.0, ("y", 0): 5.0, ("y", 1): 5.0,
    }


def test_association_rules_golden(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        association_rules,
    )

    rows = [
        (1, "a"), (1, "b"), (1, "a"),   # basket 1: {a,b} (dup collapsed)
        (2, "a"), (2, "b"),             # basket 2: {a,b}
        (3, "a"), (3, "c"),             # basket 3: {a,c}
        (4, "c"),                       # basket 4: {c}
    ]
    df = spark.createDataFrame(rows, "g long, i string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in association_rules(df, "g", "i", min_pair_support=2).collect()
    }
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    assert (r["n_a"], r["n_b"], r["n_ab"]) == (3, 2, 2)
    assert r["support"] == 0.5            # 2 of 4 baskets
    assert r["lift"] == (2 * 4) / (3 * 2)


def test_rolling_active_users_window_semantics(spark):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        rolling_active_users,
    )

    # user 1 active day 0 and day 1; user 2 active day 0 only
    rows = [(1, 10), (1, 86_400 + 20), (2, 30)]
    df = spark.createDataFrame(rows, "u long, e long").withColumn(
        "ts", F.timestamp_seconds(F.col("e"))
    )
    out = {
        r["day"] // 86_400: r["active_users"]
        for r in rolling_active_users(df, "u", "ts", window_days=2).collect()
    }
    # day 0: both; day 1: u1 (both its days) + u2 (day-0 carry) = 2;
    # day 2: only u1's day-1 activity still in window
    assert out == {0: 2, 1: 2, 2: 1}


def test_exact_kth_smallest_with_duplicates_and_edges(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        exact_kth_smallest,
    )

    vals = [5.0, 1.0, 3.0, 3.0, 3.0, 9.0, 2.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {
        r["k"]: r["value"]
        for r in exact_kth_smallest(df, "v", [1, 4, 7]).collect()
    }
    assert out == {1: 1.0, 4: 3.0, 7: 9.0}
    # constant column short-circuit
    cdf = spark.createDataFrame([(2.0,)] * 5, "v double")
    assert {
        r["k"]: r["value"]
        for r in exact_kth_smallest(cdf, "v", [1, 5]).collect()
    } == {1: 2.0, 5: 2.0}
    import pytest

    with pytest.raises(ValueError):
        exact_kth_smallest(df, "v", [8])  # only 7 non-null rows


def test_kmv_jaccard_estimate_exact_when_small(spark):
    """Below k distinct hashes the sketch is exhaustive, so union /
    Jaccard / intersection estimates are EXACT."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        kmv_jaccard_estimate,
        kmv_sketch,
    )

    a = spark.createDataFrame(
        [(1, v) for v in ["x", "y", "z", "w"]], "g int, v string"
    )
    b = spark.createDataFrame(
        [(1, v) for v in ["y", "z", "q"]], "g int, v string"
    )
    sa = kmv_sketch(a, "v", ["g"], k=256)
    sb = kmv_sketch(b, "v", ["g"], k=256)
    r = kmv_jaccard_estimate(sa, sb, ["g"], k=256).collect()[0]
    assert r["union_est"] == 5.0
    assert r["jaccard_est"] == 2 / 5
    assert r["intersection_est"] == 2.0


def test_quantile_normalize_tie_semantics(spark):
    """q143's min-rank tie collapse must equal percent_rank exactly."""
    from pyspark.sql import Window as W

    import __spark_entry__ as em

    # direct engine check on a duplicate-heavy frame
    from graphragpart1datapipeline_spark.dedup.entity import global_rank

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([5, 3, 3, 3, 9, 5])],
        "id long, v double",
    )
    # numeric leading key: the first-char default is rejected (it is
    # not monotone for numbers), so pass an explicit range bucket
    ranked = global_rank(
        df, ["v", "id"], rank_col="rn",
        bucket_expr=F.floor(F.col("v") / 10),
    )
    w = W.partitionBy("v")
    n1 = float(df.count() - 1)
    got = {
        r["id"]: r["pr"]
        for r in ranked.withColumn("mn", F.min("rn").over(w))
        .select("id", (F.col("mn") / n1).alias("pr"))
        .collect()
    }
    want = {
        r["id"]: r["pr"]
        for r in df.withColumn(
            "pr", F.percent_rank().over(W.orderBy("v"))
        ).collect()
    }
    assert got == want


def test_sequence_gaps_golden(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        sequence_gaps,
    )

    df = spark.createDataFrame(
        [(v,) for v in [1, 2, 5, 6, 10, 3]], "id long"
    )
    got = sorted(
        (r["gap_start"], r["gap_end"], r["missing"])
        for r in sequence_gaps(df, "id").collect()
    )
    assert got == [(4, 4, 1), (7, 9, 3)]
    dense = spark.createDataFrame([(v,) for v in [7, 8, 9]], "id long")
    assert sequence_gaps(dense, "id").count() == 0


def test_fk_violations_counts_orphans(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        fk_violations,
    )

    child = spark.createDataFrame(
        [(1,), (2,), (9,), (None,)], "fk int"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    r = fk_violations([(child, "fk", parent, "pk", "c->p")]).collect()[0]
    assert (r["relation"], r["n_child"], r["n_orphans"]) == ("c->p", 3, 1)


def test_register_views_lists_all_tables(spark, sf_dir):
    from graphragpart1datapipeline_spark.sql import TABLES, register_views

    names = register_views(spark, sf_dir, prefix="t_")
    assert names == [f"t_{t}" for t in TABLES]
    assert spark.table("t_nation").count() == 25


def test_windowed_funnel_deadline_needs_backward_chaining(spark):
    """The case forward min-chaining gets wrong: the EARLIEST signup
    overshoots the window, a later one fits."""
    from graphragpart1datapipeline_spark.operators.relational import (
        windowed_funnel,
    )

    rows = [
        (1, 0, "signup"), (1, 10_000, "signup"),
        (1, 10_100, "click"), (1, 10_200, "purchase"),
        (2, 0, "signup"), (2, 5_000, "click"), (2, 10_000, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, e long, event_type string")
    df = df.withColumn("ts", F.timestamp_seconds(F.col("e")))
    out = {
        r["user_id"]: r["span_seconds"]
        for r in windowed_funnel(
            df, ["signup", "click", "purchase"], 3600
        ).collect()
    }
    # user 1 converts via the SECOND signup (span 200); user 2's only
    # chain spans 10000 > 3600
    assert out == {1: 200}


def test_search_snippets_edges(spark):
    from graphragpart1datapipeline_spark.text.analysis import search_snippets

    df = spark.createDataFrame(
        [(1, "a b target c d"), (2, "target x"), (3, "q r s target")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["p0"], r["snippet"])
        for r in search_snippets(df, ["target"], context=2).collect()
    }
    assert out[1] == (2, "a b target c d")
    assert out[2] == (0, "target x")       # left clip
    assert out[3] == (3, "r s target")     # right clip


def test_round3_parameter_validation(spark):
    import pytest

    from graphragpart1datapipeline_spark.dedup.entity import set_similarity_join
    from graphragpart1datapipeline_spark.operators.timeseries import (
        ewma,
        rolling_active_users,
    )

    df = spark.createDataFrame([(1, "a b")], "id long, t string")
    with pytest.raises(ValueError, match="threshold"):
        set_similarity_join(df, "id", "t", t_num=6, t_den=5)
    ev = spark.createDataFrame([(1, 1, 1.0)], "g long, o long, v double")
    with pytest.raises(ValueError, match="alpha"):
        ewma(ev, "g", ["o"], "v", alpha=1.5)
    with pytest.raises(ValueError, match="k must"):
        ewma(ev, "g", ["o"], "v", k=0)
    ts = ev.withColumn("ts", F.timestamp_seconds(F.col("o")))
    with pytest.raises(ValueError, match="window_days"):
        rolling_active_users(ts, "g", "ts", window_days=0)


# ------------------------------------------------- link prediction


def test_link_prediction_golden(spark):
    """Path graph 1-2-3-4 plus edge 1-5: hand-checked common-neighbor
    pairs, known edges excluded, jaccard exact."""
    from graphragpart1datapipeline_spark.graph.linkpred import (
        link_prediction_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5)], "src int, dst int"
    )
    rows = {
        (r["u"], r["w"]): (r["common"], r["jaccard"])
        for r in link_prediction_scores(edges, top_k=None).collect()
    }
    # neighbors: 1:{2,5} 2:{1,3} 3:{2,4} 4:{3} 5:{1}
    # candidate non-edges sharing a neighbor: (1,3) via 2; (2,4) via 3;
    # (2,5) via 1; (3,5)? common nbr of 3 and 5 -> none. (4,?) none.
    assert rows == {
        (1, 3): (1, round(1 / 3, 6)),
        (2, 4): (1, round(1 / 2, 6)),
        (2, 5): (1, round(1 / 2, 6)),
    }


def test_link_prediction_max_degree_drops_hub_middle(spark):
    """A hub above max_degree stops WEDGING (its neighbor pairs vanish)
    but still appears as an endpoint of other middles' pairs."""
    from graphragpart1datapipeline_spark.graph.linkpred import (
        link_prediction_scores,
    )

    # hub 0 connected to 1..4; plus chain 1-5, 5-2
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (5, 2)],
        "src int, dst int",
    )
    full = {
        (r["u"], r["w"])
        for r in link_prediction_scores(edges, top_k=None).collect()
    }
    capped = {
        (r["u"], r["w"])
        for r in link_prediction_scores(
            edges, top_k=None, max_degree=3
        ).collect()
    }
    # hub-mediated pairs (1,2),(1,3),... only survive via other middles
    assert (3, 4) in full and (3, 4) not in capped
    assert (1, 2) in capped  # still produced via middle 5 and hub? via 5
    for bad in [(-1, 0)]:
        try:
            link_prediction_scores(edges, top_k=bad[0])
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


# ------------------------------------------------- token diversity


def test_token_diversity_golden(spark):
    from graphragpart1datapipeline_spark.text.analysis import token_diversity

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # degenerate: simpson = 0
            (2, "a b c d"),          # fully varied: 1 - 4/16 = 0.75
            (3, "A a b"),            # case-folds: counts {a:2, b:1}
            (4, "   "),              # whitespace-only -> 0 row
            (5, None),               # null -> 0 row
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_types"], r["ttr_micro"], r["simpson_micro"]
        )
        for r in token_diversity(docs).collect()
    }
    assert got[1] == (4, 1, 250000, 0)
    assert got[2] == (4, 4, 1000000, 750000)
    # doc 3: n=3, types=2, ttr=666667 (half-up), simpson = 1-5/9
    assert got[3] == (3, 2, 666667, 444444)
    assert got[4] == (0, 0, None, None)
    assert got[5] == (0, 0, None, None)


# ------------------------------------------------- numeric histogram


def test_numeric_histogram_golden_and_edges(spark):
    from graphragpart1datapipeline_spark.operators.relational import (
        numeric_histogram,
    )

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.5,), (5.0,), (10.0,), (None,)], "v double"
    )
    rows = {
        r["bin"]: (r["lo_edge"], r["hi_edge"], r["cnt"])
        for r in numeric_histogram(df, "v", bins=10).collect()
    }
    # range [0,10], width 1; max is inclusive in last bin
    assert rows[0] == (0.0, 1.0, 1)
    assert rows[1] == (1.0, 2.0, 1)
    assert rows[2] == (2.0, 3.0, 1)
    assert rows[5] == (5.0, 6.0, 1)
    assert rows[9] == (9.0, 10.0, 1)
    assert sum(c for _, _, c in rows.values()) == 5
    # constant column: single bin 0
    const = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    got = numeric_histogram(const, "v", bins=5).collect()
    assert len(got) == 1 and got[0]["bin"] == 0 and got[0]["cnt"] == 2
    # explicit bounds: values clamp into edge bins
    clamped = numeric_histogram(df, "v", bins=2, lo=2.0, hi=4.0).collect()
    assert {r["bin"]: r["cnt"] for r in clamped} == {0: 3, 1: 2}
    try:
        numeric_histogram(df, "v", bins=0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ------------------------------------------------- MAD outliers


def test_mad_outliers_vs_bruteforce(spark):
    import math as _math

    from graphragpart1datapipeline_spark.operators.relational import (
        mad_outliers,
    )

    vals = [1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 4.0, 5.0, 100.0, -50.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id int, v double")
    got = sorted(r["id"] for r in mad_outliers(df, "v", k=3.0).collect())
    sv = sorted(vals)
    med = sv[_math.ceil(len(sv) / 2) - 1]
    dev = sorted(abs(x - med) for x in vals)
    mad = dev[_math.ceil(len(dev) / 2) - 1]
    expect = sorted(
        i for i, x in enumerate(vals) if abs(x - med) > 3.0 * 1.4826 * mad
    )
    assert got == expect and got  # non-empty: 100 and -50 flagged
    # all-null column -> empty result, no crash
    nulls = spark.createDataFrame([(1, None)], "id int, v double")
    assert mad_outliers(nulls, "v").count() == 0
    try:
        mad_outliers(df, "v", k=0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ------------------------------------------------- PassJoin fuzzy join


def test_levenshtein_self_join_adversarial_vs_bruteforce(spark):
    """Shifted edits near segment boundaries, short strings, empties,
    and duplicate classes — against a brute-force O(n^2) replay."""
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from graphragpart1datapipeline_spark.dedup.editdist import (
        levenshtein_self_join,
    )

    vals = [
        "abcdef", "xbcdef", "abXcdef", "bcdef",       # subst/insert/delete
        "abcdefgh", "habcdefg",                        # rotation (shifts)
        "", "a", "ab", "b", "ba",                      # short block
        "abcdef", "ab",                                # duplicate classes
        "zzzzzz", "zzzz",                              # distance 2 delete x2
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, s string"
    )
    for d in (1, 2):
        got = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in levenshtein_self_join(df, "id", "s", d=d).collect()
        )
        expect = sorted(
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(
                enumerate(vals), 2
            )
            if lev(a, b) <= d
        )
        assert got == expect, f"d={d}: {set(expect) ^ set(got)}"
    try:
        levenshtein_self_join(df, "id", "s", d=0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ------------------------------------------------- equi-depth histogram


def test_equidepth_histogram_ties_and_uniform(spark):
    import math as _math

    from graphragpart1datapipeline_spark.operators.relational import (
        equidepth_histogram,
    )

    # uniform 1..100, 10 buckets -> 10 rows of 10
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)],
                               "v double")
    got = {r["bucket"]: r["cnt"]
           for r in equidepth_histogram(df, "v", buckets=10).collect()}
    assert got == {b: 10 for b in range(10)}
    # heavy ties: one value dominates -> collapses into a single bucket
    vals = [1.0] * 95 + [2.0, 3.0, 4.0, 5.0, 6.0]
    tied = spark.createDataFrame([(v,) for v in vals], "v double")
    gt = {r["bucket"]: r["cnt"]
          for r in equidepth_histogram(tied, "v", buckets=4).collect()}
    # brute-force replay of the strict-below convention
    sv = sorted(vals)
    n = len(sv)
    edges = [sv[_math.ceil(i * n / 4) - 1] for i in range(1, 4)]
    expect: dict[int, int] = {}
    for v in vals:
        b = sum(1 for e in edges if e < v)
        expect[b] = expect.get(b, 0) + 1
    assert gt == expect
    # empty / single-bucket edges
    assert equidepth_histogram(
        spark.createDataFrame([], "v double"), "v"
    ).count() == 0
    one = equidepth_histogram(df, "v", buckets=1).collect()
    assert len(one) == 1 and one[0]["cnt"] == 100


# ------------------------------------------------- containment join


def test_containment_join_quote_detection(spark):
    """A short 'quote' fully contained in a long doc scores C=1 in the
    quote->doc direction only; symmetric Jaccard would miss it.
    Includes an identical-set class (both directions) and a
    brute-force replay over all ordered pairs."""
    import itertools

    from graphragpart1datapipeline_spark.dedup.entity import containment_join

    data = {
        1: ["a", "b", "c", "d", "e", "f", "g", "h"],  # long doc
        2: ["c", "d", "e"],                            # quote inside 1
        3: ["x", "y", "z"],                            # unrelated
        4: ["c", "d", "e"],                            # dup class of 2
        5: ["a", "b", "x", "y"],                       # half in 1
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in data.items()], "id int, toks array<string>"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["inter_size"], r["a_size"])
        for r in containment_join(df, "id", "toks", 1, 2).collect()
    )
    expect = sorted(
        (a, b, len(set(sa) & set(sb)), len(set(sa)))
        for (a, sa), (b, sb) in itertools.permutations(data.items(), 2)
        if 2 * len(set(sa) & set(sb)) >= len(set(sa))
    )
    assert got == expect
    # directionality: the quote is contained in the doc, not vice versa
    dirs = {(a, b) for a, b, _, _ in got}
    assert (2, 1) in dirs and (1, 2) not in dirs
    try:
        containment_join(df, "id", "toks", 3, 2)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# Round-4 ADVICE regression tests
# ---------------------------------------------------------------------------


def test_pivot_agg_avg_ignores_null_measures(spark):
    """AVG denominator must count only non-null measures (SQL AVG)."""
    from graphragpart1datapipeline_spark.operators.reshape import pivot_agg

    df = spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "a", None), ("g1", "a", 3.0),
         ("g2", "b", None)],
        "g string, p string, v double",
    )
    rows = {r["g"]: r for r in
            pivot_agg(df, ["g"], "p", ["a", "b"], "v", agg="avg").collect()}
    assert rows["g1"]["a"] == 2.0  # (1+3)/2, NOT (1+3)/3
    assert rows["g2"]["b"] is None  # all-null measure -> NULL like SQL AVG


def test_global_rank_numeric_default_bucket_raises(spark):
    from graphragpart1datapipeline_spark.dedup.entity import global_rank

    df = spark.createDataFrame([(9,), (10,)], "k int")
    try:
        global_rank(df, ["k"])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "monotone" in str(e)
    # explicit monotone bucket_expr works for numeric keys
    got = [
        r["k"] for r in
        global_rank(df, ["k"], bucket_expr=F.floor(F.col("k") / 100))
        .orderBy("rn").collect()
    ]
    assert got == [9, 10]


def test_heavy_hitters_capacity_below_k_raises(spark):
    from graphragpart1datapipeline_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([("a",)], "v string")
    try:
        heavy_hitters(df, "v", k=4, capacity=3)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "capacity" in str(e)


def test_weighted_poisson_sample_bounds(spark):
    from graphragpart1datapipeline_spark.dedup.splits import (
        weighted_poisson_sample,
    )

    df = spark.createDataFrame([(1, 1.0)], "id int, w double")
    try:
        weighted_poisson_sample(df, "id", "w", 300_000_000)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "expected_n" in str(e)
    # large per-row weights that overflowed the old decimal(15,0) total
    # budget (sum(w*scale) > 1e15) now sample correctly
    big = spark.createDataFrame(
        [(i, 2.0e14) for i in range(10)], "id int, w double"
    )
    kept = weighted_poisson_sample(big, "id", "w", 5).count()
    assert 0 < kept <= 10


# ---------------------------------------------------------------------------
# Round-4: incremental ER joins (split-apply == one-shot, index roundtrip)
# ---------------------------------------------------------------------------


def _er_corpus(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "zeta eta theta"),
        (4, "alpha beta gamma delta"),      # duplicate of 1
        (5, "iota kappa"),
        (6, "alpha beta gamma epsilon delta"),
        (9, "unseen tokens here entirely"),
        (10, "alpha beta gamma delta zeta"),  # new batch from here on
        (12, "zeta eta theta iota"),
        (15, "brand new vocabulary only"),
        (18, "alpha beta gamma delta"),     # exact dup of corpus 1/4
    ]
    return spark.createDataFrame(rows, "id int, s string")


def test_set_similarity_incremental_equals_batch_cross_pairs(spark):
    """incremental(new, index(corpus)) must equal the one-shot batch
    join restricted to (new, corpus) cross pairs — the q116-style
    split-apply contract."""
    from graphragpart1datapipeline_spark.dedup.entity import set_similarity_join
    from graphragpart1datapipeline_spark.dedup.incremental import (
        set_similarity_index,
        set_similarity_join_incremental,
    )

    df = _er_corpus(spark)
    corpus = df.filter("id < 10")
    new = df.filter("id >= 10")
    idx = set_similarity_index(corpus, "id", "s", 3, 5)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["inter_size"], r["union_size"])
        for r in set_similarity_join_incremental(
            new, idx, "id", "s", 3, 5
        ).collect()
    )
    batch = set_similarity_join(df, "id", "s", 3, 5).collect()
    want = sorted(
        (max(r["id_a"], r["id_b"]) if max(r["id_a"], r["id_b"]) >= 10
         else min(r["id_a"], r["id_b"]),
         min(r["id_a"], r["id_b"]) if max(r["id_a"], r["id_b"]) >= 10
         else max(r["id_a"], r["id_b"]),
         r["inter_size"], r["union_size"])
        for r in batch
        if (r["id_a"] >= 10) != (r["id_b"] >= 10)
    )
    assert got == want and len(got) > 0


def test_levenshtein_incremental_equals_batch_cross_pairs(spark):
    from graphragpart1datapipeline_spark.dedup.editdist import (
        levenshtein_self_join,
    )
    from graphragpart1datapipeline_spark.dedup.incremental import (
        levenshtein_index,
        levenshtein_join_incremental,
    )

    rows = [
        (1, "carbon"), (2, "carbpn"), (3, "xx"), (4, "carbon"),
        (5, "steel"), (10, "carbin"), (11, "xy"), (12, "steel"),
        (13, "totallydifferent"),
    ]
    df = spark.createDataFrame(rows, "id int, s string")
    corpus, new = df.filter("id < 10"), df.filter("id >= 10")
    idx = levenshtein_index(corpus, "id", "s", d=2)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["dist"])
        for r in levenshtein_join_incremental(
            new, idx, "id", "s", d=2
        ).collect()
    )
    batch = levenshtein_self_join(df, "id", "s", d=2).collect()
    want = sorted(
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]), r["dist"])
        for r in batch
        if (r["id_a"] >= 10) != (r["id_b"] >= 10)
    )
    # the short×short block must contribute: (11 'xy') vs (3 'xx')
    assert (11, 3, 1) in got
    assert got == want and len(got) > 0


def test_containment_incremental_equals_batch_cross_pairs(spark):
    from graphragpart1datapipeline_spark.dedup.entity import containment_join
    from graphragpart1datapipeline_spark.dedup.incremental import (
        containment_index,
        containment_join_incremental,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b"]),
        (3, ["x", "y", "z"]),
        (10, ["a", "b", "c"]),        # contained in 1, contains 2
        (11, ["x", "y", "z", "w"]),   # contains 3
        (12, ["q"]),
    ]
    df = spark.createDataFrame(rows, "id int, toks array<string>")
    corpus, new = df.filter("id < 10"), df.filter("id >= 10")
    idx = containment_index(corpus, "id", "toks", 1, 2)
    got = sorted(
        (r["id_a"], r["id_b"], r["inter_size"], r["a_size"])
        for r in containment_join_incremental(
            new, idx, "id", "toks", 1, 2, direction="both"
        ).collect()
    )
    batch = containment_join(df, "id", "toks", 1, 2).collect()
    want = sorted(
        (r["id_a"], r["id_b"], r["inter_size"], r["a_size"])
        for r in batch
        if (r["id_a"] >= 10) != (r["id_b"] >= 10)
    )
    assert got == want and len(got) > 0
    # direction filter: new_in_corpus only keeps id_a on the new side
    one_dir = containment_join_incremental(
        new, idx, "id", "toks", 1, 2, direction="new_in_corpus"
    ).collect()
    assert all(r["id_a"] >= 10 for r in one_dir)
    assert sorted((r["id_a"], r["id_b"]) for r in one_dir) == sorted(
        (a, b) for a, b, _, _ in got if a >= 10
    )


def test_set_similarity_index_parquet_roundtrip(spark, tmp_path):
    """The index survives a parquet write/read — the persistable
    contract that makes increments compose across snapshots."""
    from graphragpart1datapipeline_spark.dedup.incremental import (
        set_similarity_index,
        set_similarity_join_incremental,
    )

    df = _er_corpus(spark)
    corpus, new = df.filter("id < 10"), df.filter("id >= 10")
    idx = set_similarity_index(corpus, "id", "s", 3, 5)
    reloaded = {}
    for name, frame in idx.items():
        path = str(tmp_path / name)
        frame.write.mode("overwrite").parquet(path)
        reloaded[name] = spark.read.parquet(path)
    direct = sorted(
        map(tuple, set_similarity_join_incremental(
            new, idx, "id", "s", 3, 5).collect())
    )
    from_disk = sorted(
        map(tuple, set_similarity_join_incremental(
            new, reloaded, "id", "s", 3, 5).collect())
    )
    assert direct == from_disk and len(direct) > 0


# ---------------------------------------------------------------------------
# Round-4: hot-key detection + auto-salted join, SCD2 time travel
# ---------------------------------------------------------------------------


def test_detect_hot_keys_exact_threshold(spark):
    from graphragpart1datapipeline_spark.operators.joins import detect_hot_keys

    # key 0: 40/100 rows (hot at 1%^-1=...); keys 1..60 one row each
    rows = [(0,)] * 40 + [(i,) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "k int")
    hot = {(r["k"], r["__cnt"]) for r in
           detect_hot_keys(df, "k", threshold_frac=0.10).collect()}
    assert hot == {(0, 40)}
    # threshold above the hot key's share -> empty
    assert detect_hot_keys(df, "k", threshold_frac=0.5).count() == 0


def test_salted_join_auto_matches_plain_join(spark):
    from graphragpart1datapipeline_spark.operators.joins import salted_join_auto

    left = spark.createDataFrame(
        [(0 if i % 3 == 0 else i, float(i)) for i in range(300)],
        "k int, v double",
    )
    right = spark.createDataFrame(
        [(0, "hot"), (7, "c7"), (8, "c8"), (999, "nomatch")],
        "k int, tag string",
    )
    for how in ("inner", "left", "left_semi", "left_anti"):
        got = sorted(
            map(tuple, salted_join_auto(
                left, right, "k", how=how, threshold_frac=0.05).collect())
        )
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        assert got == want, how
    # no hot keys at all -> falls through to the plain join
    uniform = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "k int, v double"
    )
    got = sorted(map(tuple, salted_join_auto(
        uniform, right, "k", threshold_frac=0.05).collect()))
    assert got == sorted(map(tuple, uniform.join(right, "k").collect()))


def test_salted_join_auto_plan_broadcast_no_cartesian(spark):
    from graphragpart1datapipeline_spark.operators.joins import salted_join_auto

    left = spark.createDataFrame(
        [(0 if i % 2 == 0 else i, float(i)) for i in range(200)],
        "k int, v double",
    )
    right = spark.createDataFrame([(0, "h"), (3, "c")], "k int, tag string")
    df = salted_join_auto(left, right, "k", threshold_frac=0.1)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the per-key salt table joins in broadcast on both sides
    assert "BroadcastHashJoin" in p


def test_scd2_as_of_reproduces_cuts(spark):
    from graphragpart1datapipeline_spark.operators import apply_scd2, scd2_as_of

    current = spark.createDataFrame(
        [(1, "a", 0, None), (2, "b", 0, None)],
        "k int, v string, valid_from long, valid_to long",
    )
    upd1 = spark.createDataFrame([(1, "a2", 10)], "k int, v string, version long")
    upd2 = spark.createDataFrame(
        [(1, "a3", 20), (3, "c", 20)], "k int, v string, version long"
    )
    h = apply_scd2(current, upd1, ["k"], ["v"])
    h = apply_scd2(h, upd2, ["k"], ["v"])
    def cut(v):
        return sorted((r["k"], r["v"]) for r in scd2_as_of(h, v).collect())
    assert cut(5) == [(1, "a"), (2, "b")]
    assert cut(10) == [(1, "a2"), (2, "b")]
    assert cut(15) == [(1, "a2"), (2, "b")]
    assert cut(20) == [(1, "a3"), (2, "b"), (3, "c")]
    assert cut(99) == [(1, "a3"), (2, "b"), (3, "c")]


def test_personalized_pagerank_seed_proximity(spark):
    from graphragpart1datapipeline_spark.graph import (
        pagerank,
        personalized_pagerank,
    )

    # two disjoint 3-cycles; seeding in one must zero the other
    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
         ("b1", "b2"), ("b2", "b3"), ("b3", "b1")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a1",)], "id string")
    r = {x["id"]: x["rank"] for x in
         personalized_pagerank(edges, seeds, iters=4).collect()}
    assert all(r[f"a{i}"] > 0 for i in (1, 2, 3))
    assert all(r[f"b{i}"] == 0 for i in (1, 2, 3))
    # classic pagerank keeps both components ranked
    g = {x["id"]: x["rank"] for x in pagerank(edges, iters=4).collect()}
    assert all(v > 0 for v in g.values())
    # seeds absent from the graph raise instead of silently zeroing
    ghost = spark.createDataFrame([("zz",)], "id string")
    try:
        personalized_pagerank(edges, ghost, iters=1).collect()
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "seed" in str(e)


def test_winnow_fingerprints_guarantee_and_shape(spark):
    """Winnowing invariants: a shared passage of >= w+k-1 words yields
    a shared fingerprint; selection density ~2/(w+1); rightmost-tie
    determinism; short docs drop out."""
    from graphragpart1datapipeline_spark.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = spark.createDataFrame(
        [
            (1, "xx yy " + shared + " zz"),
            (2, "completely different words here " + shared),
            (3, "tiny doc"),  # < k words -> no fingerprints
            (4, "unrelated content about something else entirely ok"),
        ],
        "doc_id int, text string",
    )
    out = winnow_fingerprints(docs, "text", "doc_id", k=5, w=4)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert 3 not in by_doc
    # guarantee: docs 1 and 2 share the 8-word passage (w+k-1 = 8)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[4] & by_doc[1])
    # determinism
    again = winnow_fingerprints(docs, "text", "doc_id", k=5, w=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # zero shuffles: entirely row-local plan
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_incremental_index_param_mismatch_raises(spark):
    """A probe with a different threshold/d than the index was built
    for must raise (the persisted prefix/segment tables are only
    lossless for the build-time parameters) — and the params table
    survives the parquet roundtrip."""
    from graphragpart1datapipeline_spark.dedup.incremental import (
        levenshtein_index,
        levenshtein_join_incremental,
        set_similarity_index,
        set_similarity_join_incremental,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")], "id int, s string"
    )
    idx = set_similarity_index(df, "id", "s", 4, 5)
    try:
        set_similarity_join_incremental(df, idx, "id", "s", 1, 2)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "built with" in str(e)
    lidx = levenshtein_index(df, "id", "s", d=2)
    try:
        levenshtein_join_incremental(df, lidx, "id", "s", d=1)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "built with" in str(e)
    # matching params pass
    assert set_similarity_join_incremental(df, idx, "id", "s", 4, 5).count() >= 0


def test_detect_hot_keys_exact_fraction_and_composite(spark):
    """The exact advertised threshold (not the n/k surrogate), and an
    injective composite key (no concat collisions)."""
    from graphragpart1datapipeline_spark.operators.joins import detect_hot_keys

    # key 0 holds 52/100 rows: hot at frac=0.5? 52 > 50 -> yes;
    # at frac=0.52 -> 52 > 52 is false -> not hot
    rows = [(0,)] * 52 + [(i,) for i in range(1, 49)]
    df = spark.createDataFrame(rows, "k int")
    assert {r["k"] for r in
            detect_hot_keys(df, "k", 0.5).collect()} == {0}
    assert detect_hot_keys(df, "k", 0.52).count() == 0
    # composite keys that a separator-less concat would merge
    comp = spark.createDataFrame(
        [("ab", "c")] * 10 + [("a", "bc")], "k1 string, k2 string"
    )
    hot = {(r["k1"], r["k2"]): r["__cnt"] for r in
           detect_hot_keys(comp, ["k1", "k2"], 0.5).collect()}
    assert hot == {("ab", "c"): 10}


def test_winnow_copy_spans_diagonal_and_cap(spark):
    from graphragpart1datapipeline_spark.text import winnow_copy_spans

    passage = ("one two three four five six seven eight nine ten "
               "eleven twelve thirteen fourteen")
    docs = spark.createDataFrame(
        [
            (1, "prefix words here " + passage + " trailing bits"),
            (2, passage + " different ending entirely now"),
            (3, "no relation to anything else whatsoever in this doc"),
        ],
        "doc_id int, text string",
    )
    rows = winnow_copy_spans(
        docs, "text", "doc_id", k=5, w=4, min_shared=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    # doc1's copy starts at word 3, doc2's at word 0 -> diagonal +3
    assert r["offset"] == 3
    assert r["a_start"] >= 3 and r["b_start"] >= 0
    assert r["n_shared"] >= 2
    assert not any(3 in p for p in pairs)
    # boilerplate cap: a fingerprint present in every doc is dropped
    many = spark.createDataFrame(
        [(i, passage) for i in range(10)], "doc_id int, text string"
    )
    assert winnow_copy_spans(
        many, "text", "doc_id", k=5, w=4, max_postings=5
    ).count() == 0


def test_length_bucketed_batches_invariants(spark):
    """Every batch stays within the padded token budget, batches never
    mix buckets or streams, and assignment is deterministic."""
    from graphragpart1datapipeline_spark.operators.relational import (
        length_bucketed_batches,
    )

    df = spark.createDataFrame(
        [(i, 10 + (i * 37) % 300) for i in range(200)],
        "id int, toks int",
    )
    out = length_bucketed_batches(
        df, "id", "toks", bucket_width=32, batch_tokens=256, n_streams=4
    )
    rows = out.collect()
    from collections import defaultdict
    batches = defaultdict(list)
    for r in rows:
        assert r["padded_len"] == (r["bucket"] + 1) * 32
        assert r["toks"] <= r["padded_len"]
        batches[(r["bucket"], r["stream_id"], r["batch_id"])].append(r)
    for (_, _, _), members in batches.items():
        padded = members[0]["padded_len"]
        # a full batch of batch_size rows fits the budget (when even a
        # single row exceeds it, the floor clamps batch_size to 1)
        bs = max(int(256 // padded), 1)
        assert len(members) <= bs
        if bs > 1:
            assert len(members) * padded <= 256 or len(members) == 1
    again = length_bucketed_batches(
        df, "id", "toks", bucket_width=32, batch_tokens=256, n_streams=4
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    try:
        length_bucketed_batches(df, "id", "toks", bucket_width=0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_pit_join_no_future_leakage(spark):
    """The PIT join must attach the version valid at each fact's OWN
    timestamp — not the latest one — and null-extend facts before any
    history."""
    from graphragpart1datapipeline_spark.operators import apply_scd2, pit_join

    current = spark.createDataFrame(
        [(1, "v0", 0, None)],
        "k int, v string, valid_from long, valid_to long",
    )
    upd = spark.createDataFrame([(1, "v1", 10), (2, "w1", 10)],
                                "k int, v string, version long")
    h = apply_scd2(current, upd, ["k"], ["v"])
    facts = spark.createDataFrame(
        [(100, 1, 5), (101, 1, 10), (102, 1, 15),
         (103, 2, 5), (104, 2, 15)],
        "fid int, k int, ts long",
    )
    got = {r["fid"]: r["v"] for r in
           pit_join(facts, h, ["k"], "ts", payload_cols=["v"]).collect()}
    assert got == {
        100: "v0",   # before the cut -> old value
        101: "v1",   # at the cut -> new value (valid_from <= ts)
        102: "v1",
        103: None,   # key 2 did not exist at ts=5
        104: "w1",
    }


def test_modularity_golden_two_cliques(spark):
    """Exact modularity on a hand-checkable graph: two 3-cliques, the
    true partition, vs the all-in-one partition."""
    from graphragpart1datapipeline_spark.graph.communities import modularity

    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
         ("b1", "b2"), ("b2", "b3"), ("b3", "b1")],
        "src string, dst string",
    )
    good = spark.createDataFrame(
        [(f"{s}{i}", s) for s in ("a", "b") for i in (1, 2, 3)],
        "id string, community string",
    )
    r = modularity(edges, good).collect()[0]
    # S=12, per community: 2*12*3 - 6^2 = 36; q_num = 72; Q = 72/144 = 0.5
    assert r["n_communities"] == 2
    assert r["n_edges"] == 6
    assert r["q_num"] == "72"
    assert r["modularity"] == 0.5
    allone = good.select("id", F.lit("x").alias("community"))
    r1 = modularity(edges, allone).collect()[0]
    # one community: 2*12*6 - 12^2 = 0 -> Q = 0
    assert r1["q_num"] == "0" and r1["modularity"] == 0.0


def test_weighted_louvain_weights_drive_partition(spark):
    """Edge weights must matter: node m ties to clique A by one heavy
    edge and to clique B by one light edge — weighted Louvain puts it
    with A; uniform weights leave it with the (lexically favored)
    merge. Reversed duplicate weighted edges sum."""
    from graphragpart1datapipeline_spark.graph import louvain_communities

    cl = []
    for p in ("a", "b"):
        cl += [(f"{p}{i}", f"{p}{j}", 10) for i in range(3) for j in range(i + 1, 3)]
    edges = spark.createDataFrame(
        cl + [("a0", "m", 50), ("m", "b0", 1)],
        "src string, dst string, w int",
    )
    mem = {r["id"]: r["community"] for r in
           louvain_communities(edges, weight_col="w", levels=2).collect()}
    assert mem["m"] == mem["a0"]
    assert mem["a0"] != mem["b0"]
    # reversed duplicates sum: same edge given as two half-weight rows
    halves = spark.createDataFrame(
        cl + [("a0", "m", 25), ("m", "a0", 25), ("m", "b0", 1)],
        "src string, dst string, w int",
    )
    mem2 = {r["id"]: r["community"] for r in
            louvain_communities(halves, weight_col="w", levels=2).collect()}
    assert mem2 == mem


def test_weighted_pagerank_weights_shift_rank(spark):
    from graphragpart1datapipeline_spark.graph import pagerank

    # hub h points to x with weight 9 and y with weight 1
    edges = spark.createDataFrame(
        [("h", "x", 9), ("h", "y", 1), ("x", "h", 1), ("y", "h", 1)],
        "src string, dst string, w int",
    )
    r = {x["id"]: x["rank"] for x in
         pagerank(edges, iters=3, weight_col="w").collect()}
    assert r["x"] > r["y"]
    # unweighted: duplicate-free edges -> x and y tie exactly
    u = {x["id"]: x["rank"] for x in
         pagerank(edges.drop("w"), iters=3).collect()}
    assert u["x"] == u["y"]
    # duplicate directed rows sum into the weight
    halves = spark.createDataFrame(
        [("h", "x", 5), ("h", "x", 4), ("h", "y", 1),
         ("x", "h", 1), ("y", "h", 1)],
        "src string, dst string, w int",
    )
    r2 = {x["id"]: x["rank"] for x in
          pagerank(halves, iters=3, weight_col="w").collect()}
    assert r2 == r


def test_lsh_multiprobe_superset_and_recall(spark):
    """Multi-probe LSH scans a superset of the single-bucket probe, so
    its candidate set contains the single-probe one and recall can
    only improve; multiprobe=bits scans every bucket = exact."""
    from graphragpart1datapipeline_spark.vector import (
        cosine_topk,
        hash_embed,
        lsh_topk,
    )

    docs = spark.createDataFrame(
        [(i, "w%d w%d w%d alpha" % (i, i * 7 % 23, i * 3 % 11))
         for i in range(80)],
        "doc_id long, text string",
    )
    emb = docs.select("doc_id", hash_embed("text", dim=16, hash_fn="md5").alias("e"))
    q = emb.filter(F.col("doc_id") == 0).select("e").head()[0]
    single = {r["doc_id"] for r in lsh_topk(
        emb, q, k=80, vec_col="e", id_col="doc_id", bits=3).collect()}
    multi = {r["doc_id"] for r in lsh_topk(
        emb, q, k=80, vec_col="e", id_col="doc_id", bits=3,
        multiprobe=1).collect()}
    assert single <= multi
    allb = {r["doc_id"] for r in lsh_topk(
        emb, q, k=80, vec_col="e", id_col="doc_id", bits=3,
        multiprobe=3).collect()}
    exact = {r["doc_id"] for r in cosine_topk(
        emb, q, k=80, vec_col="e", id_col="doc_id").collect()}
    assert allb == exact  # every bucket probed == brute force
    try:
        lsh_topk(emb, q, vec_col="e", id_col="doc_id", bits=2, multiprobe=3)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_stitch_context_reconstructs_token_span(spark):
    """Stitching a hit's window must yield EXACTLY the document's
    contiguous token span covering those chunks (overlap dropped), and
    edge hits clip at document bounds."""
    from graphragpart1datapipeline_spark.text import (
        fixed_stride_chunks,
        stitch_context,
    )

    words = ["w%02d" % i for i in range(50)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id int, text string")
    chunks = fixed_stride_chunks(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=10, overlap_tokens=4,
    )  # stride 6: chunk j covers tokens [6j, 6j+10)
    hits = spark.createDataFrame([(1, 3), (1, 1)], "doc_id int, chunk_index int")
    rows = {r["chunk_index"]: r for r in
            stitch_context(chunks, hits, overlap_tokens=4, context=1).collect()}
    # hit 3 (chunks 2..4): tokens [6*1, 6*3+10) = words[6:28]
    assert rows[3]["n_chunks"] == 3
    assert rows[3]["stitched"] == " ".join(words[6:28])
    # hit 1 clips: chunks 1..2 -> tokens [0, 16)
    assert rows[1]["n_chunks"] == 2
    assert rows[1]["ctx_start"] == 1
    assert rows[1]["stitched"] == " ".join(words[0:16])


def test_stitch_context_duplicate_and_stale_hits(spark):
    """Duplicate hits collapse to one clean row; a stale hit whose
    window has no chunks survives with n_chunks=0 and empty passage."""
    from graphragpart1datapipeline_spark.text import (
        fixed_stride_chunks,
        stitch_context,
    )

    words = ["w%02d" % i for i in range(30)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id int, text string")
    chunks = fixed_stride_chunks(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=10, overlap_tokens=4,
    )
    hits = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 99)], "doc_id int, chunk_index int"
    )
    rows = {r["chunk_index"]: r for r in
            stitch_context(chunks, hits, overlap_tokens=4, context=1).collect()}
    assert len(rows) == 2  # duplicates collapsed
    # hit 2: chunks 1..3 -> tokens [0, 22)
    assert rows[2]["n_chunks"] == 3
    assert rows[2]["stitched"] == " ".join(words[0:22])
    # stale hit: visible empty row, not a silent drop
    assert rows[99]["n_chunks"] == 0
    assert rows[99]["stitched"] == ""
    assert rows[99]["ctx_start"] is None

def test_stitch_context_gap_suppresses_trim(spark):
    """A mid-window GAP (predecessor chunk missing from the serving
    table) must suppress the overlap trim for the chunk after the gap:
    nothing was duplicated across a gap, so trimming would silently
    delete tokens that appear exactly once (round-4 ADVICE fix)."""
    from pyspark.sql import functions as F

    from graphragpart1datapipeline_spark.text import (
        fixed_stride_chunks,
        stitch_context,
    )

    words = ["w%02d" % i for i in range(50)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id int, text string")
    chunks = fixed_stride_chunks(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=10, overlap_tokens=4,
    )  # stride 6: chunk j covers tokens [6j, 6j+10)
    # drop chunk 3 -> hit 3's window {2,3,4} has a gap between 2 and 4
    sparse = chunks.filter(F.col("chunk_index") != 3)
    hits = spark.createDataFrame([(1, 3)], "doc_id int, chunk_index int")
    row = stitch_context(
        sparse, hits, overlap_tokens=4, context=1
    ).collect()[0]
    assert row["n_chunks"] == 2
    assert row["ctx_start"] == 2 and row["ctx_end"] == 4
    # chunk_index is 1-based: chunk j covers tokens [6(j-1), 6(j-1)+10).
    # chunk 2 = words[6:16] whole; chunk 4 = words[18:28] KEPT WHOLE
    # (no predecessor at index 3 -> no duplicated overlap to drop)
    assert row["stitched"] == " ".join(words[6:16] + words[18:28])
    # control: contiguous window still trims (hit 1, full table)
    hits2 = spark.createDataFrame([(1, 1)], "doc_id int, chunk_index int")
    row2 = stitch_context(
        chunks, hits2, overlap_tokens=4, context=1
    ).collect()[0]
    assert row2["stitched"] == " ".join(words[0:16])

def test_weighted_pagerank_nonpositive_weight_raises(spark):
    """Zero/negative summed edge weight would NULL the contribution DIV
    and silently drop rank mass — the plan must raise instead
    (round-4 ADVICE fix, same contract as the 2^62 overflow guard)."""
    from graphragpart1datapipeline_spark.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", -3), ("b", "c", 1)],
        "src string, dst string, w long",
    )
    try:
        pagerank(edges, weight_col="w", iters=2).collect()
        raise AssertionError("expected raise_error on non-positive outdeg")
    except Exception as e:  # Py4J wraps the SparkRuntimeException
        assert "positive" in str(e)


def test_modularity_missing_endpoint_raises(spark):
    """An edge endpoint absent from the membership must fail loudly,
    not silently skew Q (round-4 ADVICE fix)."""
    from graphragpart1datapipeline_spark.graph import modularity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "ghost")], "src string, dst string"
    )
    mem = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "id string, community string"
    )
    try:
        modularity(edges, mem).collect()
        raise AssertionError("expected raise_error on missing endpoint")
    except Exception as e:
        assert "membership" in str(e)
    # full coverage still computes
    mem_full = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("ghost", "y")],
        "id string, community string",
    )
    row = modularity(edges, mem_full).collect()[0]
    assert row["n_edges"] == 2


def test_louvain_gain_precision_warns_past_2_53():
    """(2m)^2 > 2^53 degrades the exact-integer-argmax claim — the
    driver-side check must warn loudly (round-4 ADVICE fix)."""
    import warnings as _w

    from graphragpart1datapipeline_spark.graph.communities import (
        _check_gain_precision,
    )

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        _check_gain_precision(2.0**26)   # (2m)^2 = 2^52: exact, silent
        assert not rec
        _check_gain_precision(2.0**27)   # (2m)^2 = 2^54: warn
        assert len(rec) == 1 and "2^53" in str(rec[0].message)
