"""Property-based tests (hypothesis) — beyond the reference's own test
strategy (SURVEY §5 notes it has none): algebraic invariants of the
relational operators that must hold for ANY input, checked against
driver-side reference implementations on one shared SparkSession.

Data strategies are kept small (Spark round-trips per example are the
cost); hypothesis still explores edge shapes: empty groups, all-equal
sort keys, duplicate rows, unicode text.
"""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphragpart1datapipeline_spark.functions import format_list_natural  # noqa: E402
from graphragpart1datapipeline_spark.operators import (  # noqa: E402
    dedupe_by_priority,
    top_n_per_group,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(0, 3),  # key
        st.integers(-5, 5),  # sort value
        st.integers(0, 99),  # unique-ish id source
    ),
    min_size=0,
    max_size=25,
)


def _reference_dedupe(data):
    # keep-first per key under (value asc, id asc) — driver-side oracle
    best = {}
    for k, v, i in data:
        if k not in best or (v, i) < (best[k][1], best[k][2]):
            best[k] = (k, v, i)
    return sorted(best.values())


@given(rows)
@SETTINGS
def test_dedupe_by_priority_keeps_exactly_min_per_key(spark, data):
    # make ids unique (tiebreak column contract)
    data = [(k, v, idx * 100 + i) for idx, (k, v, i) in enumerate(data)]
    df = spark.createDataFrame(data, "k int, v int, id int") if data else None
    if df is None:
        return
    got = sorted(
        (r["k"], r["v"], r["id"])
        for r in dedupe_by_priority(
            df, keys=["k"], order_by=["v"], tiebreak="id"
        ).collect()
    )
    assert got == _reference_dedupe(data)


@given(rows, st.integers(1, 4))
@SETTINGS
def test_top_n_per_group_invariants(spark, data, n):
    data = [(k, v, idx) for idx, (k, v, _) in enumerate(data)]
    if not data:
        return
    df = spark.createDataFrame(data, "k int, v int, id int")
    out = top_n_per_group(
        df, keys=["k"], order_by=[F.desc("v"), F.asc("id")], n=n, rank_col="rk"
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        group = sorted((d for d in data if d[0] == k), key=lambda d: (-d[1], d[2]))
        expect = group[:n]
        got = sorted(((r["v"], r["id"]) for r in rs))
        assert got == sorted((v, i) for _, v, i in expect)
        assert sorted(r["rk"] for r in rs) == list(range(1, len(expect) + 1))


def _reference_natural(items):
    seen = []
    for x in items:
        if x not in seen:
            seen.append(x)
    if not seen:
        return ""
    if len(seen) == 1:
        return seen[0]
    if len(seen) == 2:
        return f"{seen[0]} and {seen[1]}"
    return ", ".join(seen[:-1]) + ", and " + seen[-1]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("L", "N")),
            min_size=1,
            max_size=6,
        ),
        min_size=0,
        max_size=6,
    )
)
@SETTINGS
def test_format_list_natural_matches_reference(spark, items):
    df = spark.createDataFrame([(items,)], "xs array<string>")
    got = df.select(format_list_natural("xs").alias("s")).head()["s"]
    assert got == _reference_natural(items)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    from graphragpart1datapipeline_spark.graph.communities import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    expected = _union_find_components(edges)
    # component representative = min node id of the component
    assert got == expected


def test_connected_components_long_path_converges_fast(spark):
    """Pointer jumping: a 64-node path resolves well inside the default
    20 rounds (min-propagation alone would need 63)."""
    from graphragpart1datapipeline_spark.graph.communities import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0} and len(got) == 64


temporal_rows = st.lists(
    st.tuples(
        st.integers(0, 2),      # key
        st.integers(0, 100),    # ts (seconds)
        st.integers(0, 9999),   # payload/id source
    ),
    min_size=0,
    max_size=12,
)


@given(left=temporal_rows, right=temporal_rows)
@SETTINGS
def test_asof_backward_matches_bruteforce(spark, left, right):
    from graphragpart1datapipeline_spark.operators import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i * 3 + 1000 * j) for j, (k, t, i) in enumerate(left)] or [(None, None, None)],
        "k int, ts int, lid int",
    ).filter(F.col("k").isNotNull())
    rdf = spark.createDataFrame(
        [(k, t, i * 7 + 1000 * j) for j, (k, t, i) in enumerate(right)] or [(None, None, None)],
        "k int, ts int, rid int",
    ).filter(F.col("k").isNotNull())
    got = {
        (r["k"], r["lid"]): r["asof_ts"]
        for r in asof_join(ldf, rdf, on="k", right_select=["rid"]).collect()
    }
    rrows = rdf.collect()
    for lr in ldf.collect():
        cands = [r["ts"] for r in rrows if r["k"] == lr["k"] and r["ts"] <= lr["ts"]]
        want = max(cands) if cands else None
        assert got[(lr["k"], lr["lid"])] == want


@given(left=temporal_rows, right=temporal_rows)
@SETTINGS
def test_range_join_matches_bruteforce(spark, left, right):
    from graphragpart1datapipeline_spark.operators import range_join

    ldf = spark.createDataFrame(
        [(k, t, 1000 + j) for j, (k, t, _) in enumerate(left)] or [(None, None, None)],
        "k int, epoch int, lid int",
    ).filter(F.col("k").isNotNull()).withColumn(
        "ts", F.timestamp_seconds(F.col("epoch"))
    )
    rdf = spark.createDataFrame(
        [(k, t, 2000 + j) for j, (k, t, _) in enumerate(right)] or [(None, None, None)],
        "k int, epoch int, rid int",
    ).filter(F.col("k").isNotNull()).withColumn(
        "ts", F.timestamp_seconds(F.col("epoch"))
    )
    got = {
        (r["lid"], r["r_rid"])
        for r in range_join(
            ldf.select("k", "ts", "lid"),
            rdf.select("k", "ts", "rid"),
            on="k", lower=-30, upper=10, right_select=["rid"],
        ).collect()
    }
    want = {
        (lr["lid"], rr["rid"])
        for lr in ldf.collect()
        for rr in rdf.collect()
        if lr["k"] == rr["k"] and -30 <= rr["epoch"] - lr["epoch"] <= 10
    }
    assert got == want


pack_rows = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 30)),  # (id source, tokens)
    min_size=0,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(data=pack_rows, capacity=st.integers(1, 40), n_streams=st.integers(1, 4))
@SETTINGS
def test_pack_sequences_invariants(spark, data, capacity, n_streams):
    from graphragpart1datapipeline_spark.operators import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in data] or [(0, 0)], "doc_id long, tokens long"
    )
    if not data:
        df = df.limit(0)
    out = pack_sequences(
        df, "doc_id", "tokens", capacity=capacity, n_streams=n_streams
    ).collect()
    assert len(out) == len(data)
    by_stream: dict = {}
    for r in out:
        assert 0 <= r["stream_id"] < n_streams
        assert 0 <= r["seq_offset"] < capacity
        by_stream.setdefault(r["stream_id"], []).append(r)
    tokens_of = dict(data)
    for rows_ in by_stream.values():
        rows_.sort(key=lambda r: r["doc_id"])
        # replay the packing driver-side: running start over id order
        start = 0
        for r in rows_:
            assert r["seq_id"] == start // capacity
            assert r["seq_offset"] == start % capacity
            start += tokens_of[r["doc_id"]]
    # determinism: identical assignment on rerun
    again = pack_sequences(
        df, "doc_id", "tokens", capacity=capacity, n_streams=n_streams
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---- repeated-passage removal vs driver-side replay ----------------------

passage_docs = st.lists(
    st.lists(st.sampled_from(list("abcde")), min_size=0, max_size=24),
    min_size=1,
    max_size=10,
)


@given(docs=passage_docs, window=st.integers(2, 5))
@SETTINGS
def test_remove_repeated_passages_matches_replay(spark, docs, window):
    from graphragpart1datapipeline_spark.dedup import remove_repeated_passages

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in remove_repeated_passages(
            df, window=window, min_occurrences=2
        ).collect()
    }
    # driver replay: hash every window, count occurrences, mask covered
    from collections import Counter

    wins = Counter()
    per_doc = {}
    for i, _ in rows:
        toks = docs[i] if docs[i] != [] else [""]
        starts = range(0, max(len(toks) - window + 1, 0))
        per_doc[i] = [(s, tuple(toks[s : s + window])) for s in starts]
        wins.update(h for _, h in per_doc[i])
    for i, _ in rows:
        toks = docs[i] if docs[i] != [] else [""]
        covered = set()
        for s, h in per_doc[i]:
            if wins[h] >= 2:
                covered.update(range(s, s + window))
        kept = [t for p, t in enumerate(toks) if p not in covered]
        assert got[i] == (" ".join(kept), len(covered))


# ---- fixed-stride chunks vs driver-side replay ---------------------------

chunk_docs = st.lists(
    st.integers(0, 40), min_size=1, max_size=6
)  # token counts per doc


@given(
    lens=chunk_docs,
    chunk=st.integers(2, 10),
    overlap=st.integers(0, 5),
)
@SETTINGS
def test_fixed_stride_chunks_matches_replay(spark, lens, chunk, overlap):
    from hypothesis import assume

    from graphragpart1datapipeline_spark.text import fixed_stride_chunks

    assume(overlap < chunk)
    stride = chunk - overlap
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n)) if n else "")
        for i, n in enumerate(lens)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = fixed_stride_chunks(
        df, id_col="doc_id", text_col="text",
        chunk_tokens=chunk, overlap_tokens=overlap,
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(lens):
        toks = [f"w{i}_{j}" for j in range(n)] if n else [""]
        total = (
            1
            if len(toks) <= chunk
            else (len(toks) - chunk + stride - 1) // stride + 1
        )
        got = sorted(by_doc[i], key=lambda r: r["chunk_index"])
        assert len(got) == total
        for j, r in enumerate(got):
            want = toks[j * stride : j * stride + chunk]
            assert r["chunk"].split(" ") == want
            assert r["n_tokens"] == len(want)
            assert r["total_chunks"] == total


# ---- BPE training vs driver-side replay ----------------------------------

bpe_corpora = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=6,
)


@given(docs=bpe_corpora, merges=st.integers(1, 4))
@SETTINGS
def test_bpe_train_matches_replay(spark, docs, merges):
    from collections import Counter

    from graphragpart1datapipeline_spark.text import bpe_train

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = [
        (r["rank"], r["pair"], r["merged"], r["freq"])
        for r in bpe_train(df, num_merges=merges).orderBy("rank").collect()
    ]
    # replay: word counts once, then per round pair counts over the
    # space-joined symbol strings and the same greedy-left replace
    wc = Counter(w for words in docs for w in words)
    syms = {w: " " + " ".join(w) + " " for w in wc}
    want = []
    for rank in range(1, merges + 1):
        pc = Counter()
        for w, s in syms.items():
            toks = s.split()
            for a, b in zip(toks, toks[1:]):
                pc[f"{a} {b}"] += wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        pair, freq = best
        merged = pair.replace(" ", "")
        want.append((rank, pair, merged, freq))
        syms = {
            w: s.replace(f" {pair} ", f" {merged} ") for w, s in syms.items()
        }
    assert got == want


# ---------------------------------------------------------------------------
# Round-3 operators vs brute-force replays


graph_edges = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=0,
    max_size=24,
)


def _brute_triangles(pairs):
    import itertools

    adj = {}
    for u, v in pairs:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


@given(edges=graph_edges)
@SETTINGS
def test_triangle_counts_matches_bruteforce(spark, edges):
    from graphragpart1datapipeline_spark.graph.triangles import (
        triangle_counts,
    )

    expected = _brute_triangles(edges)
    df = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    )
    got = {
        r["node"]: r["triangles"] for r in triangle_counts(df).collect()
    }
    assert got == expected


def _peel_truss(pairs, k, rounds):
    """Synchronous k-truss peel in Python: each round keeps the edges
    with >= k-2 common neighbors in the current edge set; ``rounds``
    rounds, or until nothing drops when None. {(a, b): support}."""
    es = {(min(u, v), max(u, v)) for u, v in pairs if u != v}
    r = 0
    while True:
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {(u, v): len(adj[u] & adj[v]) for u, v in es}
        kept = {e: s for e, s in sup.items() if s >= k - 2}
        r += 1
        if len(kept) == len(es) or (rounds is not None and r >= rounds):
            return kept
        es = set(kept)


@given(edges=graph_edges, k=st.integers(3, 5), rounds=st.integers(1, 3))
@SETTINGS
def test_ktruss_matches_python_peel(spark, edges, k, rounds):
    from graphragpart1datapipeline_spark.graph.truss import ktruss

    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    for mode in (rounds, None):
        got = {
            (r["a"], r["b"]): r["support"]
            for r in ktruss(df, k=k, rounds=mode).collect()
        }
        assert got == _peel_truss(edges, k, mode), mode


@given(edges=graph_edges, k=st.integers(2, 4))
@SETTINGS
def test_kcore_fixed_point_matches_bruteforce(spark, edges, k):
    from graphragpart1datapipeline_spark.graph.kcore import kcore_nodes

    # brute force: peel to fixed point
    es = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    while True:
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nes = {(u, v) for u, v in es if u in keep and v in keep}
        if nes == es:
            break
        es = nes
    expected = {}
    for u, v in es:
        expected[u] = expected.get(u, 0) + 1
        expected[v] = expected.get(v, 0) + 1
    expected = {n: d for n, d in expected.items() if d >= k}
    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    got = {
        r["node"]: r["degree"]
        for r in kcore_nodes(df, k=k, rounds=None).collect()
    }
    assert got == expected


bm25_docs = st.lists(
    st.lists(
        st.sampled_from(["spark", "merge", "window", "scan", "x", "y"]),
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=6,
)


@given(docs=bm25_docs)
@SETTINGS
def test_bm25_matches_bruteforce(spark, docs):
    from graphragpart1datapipeline_spark.text.analysis import bm25_topk

    terms = ["spark", "merge"]
    k1, b = 1.2, 0.75
    n = len(docs)
    # mirror the engine's tokenizer: split('') == [''] — an empty doc
    # has document length 1, not 0 (same in the DuckDB oracle)
    dls = [len(d) if d else 1 for d in docs]
    avgdl = sum(dls) / n
    dfreq = {
        t: sum(1 for d in docs if t in d) for t in terms
    }
    expected = {}
    for i, d in enumerate(docs):
        s = 0.0
        m = 0
        for t in terms:
            tf = d.count(t)
            if tf == 0:
                continue
            m += 1
            idf = (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (dls[i] / avgdl))
            )
        if m:
            expected[i] = (round(s, 9), m)
    rows = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (round(r["score"], 9), r["matched_terms"])
        for r in bm25_topk(rows, terms, k=100, log_idf=False).collect()
    }
    assert got == expected


lm_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=0, max_size=5
    ),
    min_size=1,
    max_size=5,
)


@given(docs=lm_docs)
@SETTINGS
def test_bigram_lm_matches_bruteforce(spark, docs):
    import math

    from graphragpart1datapipeline_spark.text.lm import bigram_lm_score

    c2, c1 = {}, {}
    for d in docs:
        for w1, w2 in zip(d, d[1:]):
            c2[(w1, w2)] = c2.get((w1, w2), 0) + 1
            c1[w1] = c1.get(w1, 0) + 1
    expected = {}
    for i, d in enumerate(docs):
        bgs = list(zip(d, d[1:]))
        s = sum(
            math.floor(c2[bg] * 1e6 / c1[bg[0]] + 0.5) for bg in bgs
        )
        expected[i] = (len(bgs), s)
    rows = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score_micro"])
        for r in bigram_lm_score(rows).collect()
    }
    assert got == expected


ts_events = st.lists(
    st.tuples(
        st.integers(0, 2),     # user
        st.integers(0, 500),   # epoch seconds
        st.integers(0, 99),    # value source
    ),
    min_size=1,
    max_size=15,
)


@given(events=ts_events, step=st.sampled_from([60, 120]))
@SETTINGS
def test_resample_locf_matches_bruteforce(spark, events, step):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        resample_locf,
    )

    rows = [
        (u, t, float(v), i) for i, (u, t, v) in enumerate(events)
    ]
    df = (
        spark.createDataFrame(
            rows, "user long, epoch long, value double, event_id long"
        )
        .withColumn("ts", F.timestamp_seconds(F.col("epoch")))
    )
    got = {
        (r["user"], r["bucket_start"]): (r["value"], r["observed"])
        for r in resample_locf(
            df, "user", "ts", "value", step_seconds=step,
            tiebreak_cols=("event_id",),
        ).collect()
    }
    # brute force
    expected = {}
    by_user = {}
    for u, t, v, i in rows:
        by_user.setdefault(u, []).append((t // step * step, t, i, v))
    for u, evs in by_user.items():
        lo = min(b for b, *_ in evs)
        hi = max(b for b, *_ in evs)
        # per-bucket representative: lexicographic max of (ts, id, value)
        per_bucket = {}
        for b, t, i, v in evs:
            cur = per_bucket.get(b)
            if cur is None or (t, i, v) > cur[:3]:
                per_bucket[b] = (t, i, v)
        carried = None
        for b in range(lo, hi + step, step):
            if b in per_bucket:
                carried = per_bucket[b][2]
                expected[(u, b)] = (carried, True)
            else:
                expected[(u, b)] = (carried, False)
    assert got == expected


@given(events=ts_events, window=st.sampled_from([30, 100]))
@SETTINGS
def test_rolling_time_agg_matches_bruteforce(spark, events, window):
    from graphragpart1datapipeline_spark.operators.timeseries import (
        rolling_time_agg,
    )

    rows = [(u, t, float(v), i) for i, (u, t, v) in enumerate(events)]
    df = (
        spark.createDataFrame(
            rows, "user long, epoch long, value double, event_id long"
        )
        .withColumn("ts", F.timestamp_seconds(F.col("epoch")))
    )
    got = {
        r["event_id"]: (r["rolling_sum"], r["rolling_n"])
        for r in rolling_time_agg(
            df, "user", "ts", "value", window_seconds=window
        ).collect()
    }
    for u, t, v, i in rows:
        frame = [
            v2 for u2, t2, v2, _ in rows
            if u2 == u and t - window <= t2 <= t
        ]
        assert got[i] == (sum(frame), len(frame))


@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 3),               # group
            st.integers(0, 40),              # time key
            st.floats(-50, 50, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(1, 6),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_ewma_matches_python_replay(spark, data, k):
    """Batch EWMA == a pure-Python left-associated replay of the same
    lag-chain arithmetic, bit-exact (duplicate (g,t) keys dropped to
    keep the order total)."""
    from graphragpart1datapipeline_spark.operators.timeseries import (
        ewma,
        ewma_weights,
    )

    seen = {}
    for g, t, v in data:
        seen[(g, t)] = float(v)
    rows = [(g, t, v) for (g, t), v in seen.items()]
    df = spark.createDataFrame(rows, "g long, t long, v double")
    got = {
        (r["g"], r["t"]): r["ewma"]
        for r in ewma(df, "g", ["t"], "v", alpha=0.5, k=k).collect()
    }
    weights = ewma_weights(0.5, k)
    series: dict[int, list[tuple[int, float]]] = {}
    for g, t, v in rows:
        series.setdefault(g, []).append((t, v))
    expected = {}
    for g, pts in series.items():
        pts.sort()
        for i, (t, _) in enumerate(pts):
            num = 0.0
            den = 0.0
            for j, wj in enumerate(weights):
                if i - j >= 0:
                    num = num + pts[i - j][1] * wj
                    den = den + wj
                else:
                    num = num + 0.0
                    den = den + 0.0
            expected[(g, t)] = num / den
    assert got == expected


@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500)),
        min_size=1,
        max_size=50,
        unique=True,
    ),
    gap=st.integers(1, 60),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_debounce_matches_island_replay(spark, data, gap):
    from graphragpart1datapipeline_spark.operators.timeseries import debounce

    df = spark.createDataFrame(data, "g long, e long").withColumn(
        "ts", F.timestamp_seconds(F.col("e"))
    )
    got = sorted(
        (r["g"], r["e"]) for r in debounce(df, "g", "ts", gap).collect()
    )
    series: dict[int, list[int]] = {}
    for g, e in data:
        series.setdefault(g, []).append(e)
    expected = []
    for g, es in series.items():
        es.sort()
        prev = None
        for e in es:
            if prev is None or e - prev > gap:
                expected.append((g, e))  # burst start survives
            prev = e
    assert got == sorted(expected)


@given(
    keys=st.lists(st.text("abcxyz", min_size=0, max_size=5), min_size=1, max_size=40),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_global_rank_matches_sorted_enumerate(spark, keys):
    from graphragpart1datapipeline_spark.dedup.entity import global_rank

    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "rid long, key string").repartition(4)
    got = {
        r["rid"]: r["rn"]
        for r in global_rank(df, ["key", "rid"]).collect()
    }
    expected = {
        rid: pos
        for pos, (_, rid) in enumerate(sorted((k, i) for i, k in rows))
    }
    assert got == expected


@given(
    ids=st.lists(st.integers(0, 200), min_size=1, max_size=60, unique=True),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_sequence_gaps_matches_sorted_replay(spark, ids):
    from graphragpart1datapipeline_spark.operators.relational import (
        sequence_gaps,
    )

    df = spark.createDataFrame([(i,) for i in ids], "id long").repartition(3)
    got = sorted(
        (r["gap_start"], r["gap_end"], r["missing"])
        for r in sequence_gaps(df, "id").collect()
    )
    s = sorted(set(ids))
    expected = [
        (a + 1, b - 1, b - a - 1)
        for a, b in zip(s, s[1:])
        if b - a > 1
    ]
    assert got == expected


@given(
    vals=st.lists(st.integers(0, 12), min_size=1, max_size=120),
    k=st.integers(2, 8),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_heavy_hitters_matches_exact_threshold(spark, vals, k):
    """Whatever Misra-Gries does per partition, the final output must be
    EXACTLY the items with true count > n/k — on any data, any k, any
    partitioning."""
    from collections import Counter

    from graphragpart1datapipeline_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame(
        [(str(v),) for v in vals], "v string"
    ).repartition(5)
    got = {r["value"]: r["cnt"] for r in heavy_hitters(df, "v", k=k).collect()}
    n = len(vals)
    expected = {
        str(v): c for v, c in Counter(vals).items() if c * k > n
    }
    assert got == expected


# ---------------------------------------------------------------- round 4

er_texts = st.lists(
    st.tuples(
        st.integers(0, 99),
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps",
                             "zeta", "eta", "theta"]),
            min_size=1, max_size=6,
        ),
    ),
    min_size=2,
    max_size=16,
)


@given(er_texts)
@SETTINGS
def test_set_similarity_incremental_matches_bruteforce(spark, recs):
    """incremental(new, index(corpus)) == brute-force new×corpus pairs
    with Jaccard >= 3/5, on arbitrary small corpora (duplicates,
    unseen-token increments, single-token docs)."""
    from graphragpart1datapipeline_spark.dedup.incremental import (
        set_similarity_index,
        set_similarity_join_incremental,
    )

    data = [
        (idx, " ".join(words)) for idx, (_, words) in enumerate(recs)
    ]
    df = spark.createDataFrame(data, "id int, s string")
    corpus = df.filter(F.col("id") % 2 == 0)
    new = df.filter(F.col("id") % 2 == 1)
    idx = set_similarity_index(corpus, "id", "s", 3, 5)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["inter_size"], r["union_size"])
        for r in set_similarity_join_incremental(
            new, idx, "id", "s", 3, 5
        ).collect()
    )
    toks = {i: set(s.split()) for i, s in data}
    want = sorted(
        (n, c, len(toks[n] & toks[c]), len(toks[n] | toks[c]))
        for n in toks for c in toks
        if n % 2 == 1 and c % 2 == 0
        and 5 * len(toks[n] & toks[c]) >= 3 * len(toks[n] | toks[c])
    )
    assert got == want


@given(st.lists(st.text(alphabet="abc", min_size=0, max_size=6),
                min_size=2, max_size=14))
@SETTINGS
def test_levenshtein_incremental_matches_bruteforce(spark, vals):
    """PassJoin-incremental == brute-force new×corpus levenshtein<=2 on
    arbitrary short strings (shorts, empties, duplicates, equal
    cross-side values)."""
    from graphragpart1datapipeline_spark.dedup.incremental import (
        levenshtein_index,
        levenshtein_join_incremental,
    )

    data = list(enumerate(vals))
    df = spark.createDataFrame(data, "id int, s string")
    corpus = df.filter(F.col("id") % 2 == 0)
    new = df.filter(F.col("id") % 2 == 1)
    idx = levenshtein_index(corpus, "id", "s", d=2)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["dist"])
        for r in levenshtein_join_incremental(
            new, idx, "id", "s", d=2
        ).collect()
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = sorted(
        (n, c, lev(vals[n], vals[c]))
        for n in range(len(vals)) for c in range(len(vals))
        if n % 2 == 1 and c % 2 == 0 and lev(vals[n], vals[c]) <= 2
    )
    assert got == want


@given(st.lists(
    st.sampled_from(["w%d" % i for i in range(6)]),
    min_size=0, max_size=30,
))
@SETTINGS
def test_winnow_fingerprints_matches_python_replay(spark, words):
    """Winnowing selection == driver-side replay of the rightmost-min
    window rule for any word sequence (ties everywhere by design of
    the tiny vocabulary)."""
    import hashlib

    from graphragpart1datapipeline_spark.text import winnow_fingerprints

    k, w = 3, 3
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id int, text string")
    got = sorted(
        (r["pos"], r["fingerprint"])
        for r in winnow_fingerprints(df, "text", "doc_id", k=k, w=w).collect()
    )
    n = len(words) - k + 1
    if n <= 0:
        assert got == []
        return
    hs = [
        int(hashlib.md5(" ".join(words[i:i + k]).encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]
    sel = set()
    for j in range(max(n - w, 0) + 1):
        window = hs[j:j + w]
        hmin = min(window)
        pos = j + max(i for i, h in enumerate(window) if h == hmin)
        sel.add((pos, hmin))
    assert got == sorted(sel)


@given(st.lists(st.integers(0, 5), min_size=0, max_size=40))
@SETTINGS
def test_salted_join_auto_matches_plain_on_random_keys(spark, keys):
    from graphragpart1datapipeline_spark.operators.joins import salted_join_auto

    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)] or [(None, None)],
        "k int, i int",
    )
    right = spark.createDataFrame(
        [(0, "z"), (1, "o"), (9, "none")], "k int, t string"
    )
    got = sorted(map(tuple, salted_join_auto(
        left, right, "k", threshold_frac=0.2).collect()))
    want = sorted(map(tuple, left.join(right, "k").collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Round-5 properties
# ---------------------------------------------------------------------------


def _ref_ari(pairs_a, pairs_b):
    """Driver-side reference ARI/RI via doubled-integer pair counting
    (independent of the Spark implementation's expressions)."""
    from collections import Counter

    n = len(pairs_a)
    ca = Counter(pairs_a.values())
    cb = Counter(pairs_b.values())
    ct = Counter((pairs_a[k], pairs_b[k]) for k in pairs_a)
    A2 = sum(m * (m - 1) for m in ca.values())
    B2 = sum(m * (m - 1) for m in cb.values())
    T2 = sum(m * (m - 1) for m in ct.values())
    C2 = n * (n - 1)
    ri = (C2 - A2 - B2 + 2 * T2) / C2 if C2 else 1.0
    den = C2 * (A2 + B2) - 2 * A2 * B2
    if den == 0:
        ari = 1.0 if ri == 1.0 else 0.0
    else:
        ari = 2 * (C2 * T2 - A2 * B2) / den
    return ri, ari


partition_labels = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 3)),
    min_size=2,
    max_size=20,
)


@given(partition_labels)
@SETTINGS
def test_partition_comparison_matches_reference(spark, labels):
    from graphragpart1datapipeline_spark.graph.communities import (
        partition_comparison,
    )

    pa = {str(i): str(a) for i, (a, _) in enumerate(labels)}
    pb = {str(i): str(b) for i, (_, b) in enumerate(labels)}
    a = spark.createDataFrame(
        [(k, v) for k, v in pa.items()], "id string, community string"
    )
    b = spark.createDataFrame(
        [(k, v) for k, v in pb.items()], "id string, community string"
    )
    row = partition_comparison(a, b).collect()[0]
    ri, ari = _ref_ari(pa, pb)
    assert abs(row["rand_index"] - ri) < 1e-9
    assert abs(row["ari"] - ari) < 1e-9
    # permuting LABEL NAMES never changes either metric
    pb2 = {k: "z" + v for k, v in pb.items()}
    b2 = spark.createDataFrame(
        [(k, v) for k, v in pb2.items()], "id string, community string"
    )
    row2 = partition_comparison(a, b2).collect()[0]
    assert row2["rand_index"] == row["rand_index"]
    assert row2["ari"] == row["ari"]


chunk_params = st.tuples(
    st.integers(5, 60),   # n tokens in doc
    st.integers(4, 12),   # chunk_tokens
    st.integers(0, 3),    # overlap
)


@given(chunk_params, st.integers(0, 10**6))
@SETTINGS
def test_stitch_context_exact_reconstruction_property(spark, p, seed):
    """For ANY (doc length, chunk size, overlap) and any hit, stitching
    the full window over a COMPLETE chunk table reproduces exactly the
    document's contiguous token span covering those chunks."""
    import random as _r

    from graphragpart1datapipeline_spark.text import (
        fixed_stride_chunks,
        stitch_context,
    )

    n, ct, ov = p
    if ov >= ct:
        ov = ct - 1
    rng = _r.Random(seed)
    words = [f"w{i}" for i in range(n)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id int, text string"
    )
    chunks = fixed_stride_chunks(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=ct, overlap_tokens=ov,
    )
    total = chunks.count()
    hit = rng.randint(1, total)  # chunk_index is 1-based
    row = stitch_context(
        chunks,
        spark.createDataFrame([(1, hit)], "doc_id int, chunk_index int"),
        overlap_tokens=ov,
        context=1,
    ).collect()[0]
    stride = ct - ov
    lo = (max(hit - 1, 1) - 1) * stride
    hi = min((min(hit + 1, total) - 1) * stride + ct, n)
    assert row["stitched"] == " ".join(words[lo:hi])


bm25_corpus = st.lists(
    st.tuples(st.integers(0, 40), st.text(alphabet="abc x", min_size=0,
                                          max_size=20)),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[0],
)


@given(bm25_corpus, st.integers(1, 5))
@SETTINGS
def test_bm25_upsert_equivalence_property(spark, corpus, k):
    """For ANY corpus and ANY split, index(part1) ∪ upsert(part2)
    serves bit-identically to a full rebuild index(all) and to the
    one-shot bm25_topk — unicode-ish text, empty docs, and duplicate
    terms included."""
    from graphragpart1datapipeline_spark.text import (
        bm25_index,
        bm25_query,
        bm25_upsert,
    )
    from graphragpart1datapipeline_spark.text.analysis import bm25_topk

    all_docs = spark.createDataFrame(corpus, "doc_id long, text string")
    part1 = all_docs.filter(F.col("doc_id") % k != 0)
    part2 = all_docs.filter(F.col("doc_id") % k == 0)
    ix = bm25_upsert(bm25_index(part1), part2)
    got = bm25_query(ix, ["a", "x"], k=10, log_idf=False).collect()
    want = bm25_query(
        bm25_index(all_docs), ["a", "x"], k=10, log_idf=False
    ).collect()
    one_shot = bm25_topk(all_docs, ["a", "x"], k=10, log_idf=False).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert [r.asDict() for r in one_shot] == [r.asDict() for r in want]


sketch_keys = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=0,
        max_size=8,
    ),
    min_size=1,
    max_size=40,
)


@given(keys=sketch_keys)
@SETTINGS
def test_bloom_never_false_negative_property(spark, keys):
    """For ANY key multiset (dupes, empties, punctuation): every
    inserted key passes the membership probe — the structural guarantee
    q189's pruned join rests on."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        bloom_contains,
        bloom_dense,
        bloom_words,
    )

    nb, nh = 1 << 10, 5
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    dense = bloom_dense(bloom_words(df, "k", nb, nh), nb)
    assert df.filter(~bloom_contains(F.col("k"), dense, nb, nh)).count() == 0


@given(keys=sketch_keys, split=st.integers(min_value=0, max_value=40))
@SETTINGS
def test_cms_one_sided_and_merge_property(spark, keys, split):
    """For ANY key multiset and ANY shard split: cms estimates never
    undercount, and sharded build + merge equals the direct build
    counter for counter."""
    from graphragpart1datapipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    d, w = 3, 64
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    exact = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    cms = cms_build(df, "k", d, w)
    est = {
        r["k"]: r["cms_est"]
        for r in cms_estimate(cms, df.select("k").distinct(), "k", d, w).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    s = min(split, len(keys))
    if 0 < s < len(keys):
        a = spark.createDataFrame([(k,) for k in keys[:s]], "k string")
        b = spark.createDataFrame([(k,) for k in keys[s:]], "k string")
        merged = {
            (r["d"], r["wi"]): r["cnt"]
            for r in cms_merge(
                cms_build(a, "k", d, w), cms_build(b, "k", d, w)
            ).collect()
        }
        direct = {(r["d"], r["wi"]): r["cnt"] for r in cms.collect()}
        assert merged == direct


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grids=st.lists(
        st.lists(
            st.floats(0, 1, allow_nan=False, width=32),
            min_size=16,
            max_size=16,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_dhash_hamming_bounded_by_cells_changed(spark, grids):
    """Changing ONE grid cell flips at most its two adjacent gradient
    bits — the locality property the perceptual hash exists for."""
    from graphragpart1datapipeline_spark.multimodal.assets import (
        dhash_expr,
    )

    rows = [(i, [float(x) for x in g]) for i, g in enumerate(grids)]
    # perturbed twin: nudge cell (i % 16) of each grid
    rows += [
        (
            i + 1000,
            [
                (x + 0.75) if j == i % 16 else x
                for j, x in enumerate(g)
            ],
        )
        for i, g in ((r[0], r[1]) for r in rows)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    fp = {
        r["id"]: r["fp"]
        for r in df.select(
            "id", dhash_expr(F.col("v"), 4, 4).alias("fp")
        ).collect()
    }
    for i, _ in enumerate(grids):
        ham = bin(fp[i] ^ fp[i + 1000]).count("1")
        assert ham <= 2
        assert 0 <= fp[i] < (1 << 12)  # 4*(4-1)=12 bits, sign clear


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=3,
        max_size=10,
        unique_by=lambda v: tuple(v),
    )
)
def test_pq_codes_in_range_and_deterministic(spark, vecs):
    from graphragpart1datapipeline_spark.vector.pq import (
        pq_encode,
        pq_train,
    )

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    ksub = min(2, len(vecs))
    book = pq_train(emb, m=2, ksub=ksub, iters=1, seed=7)
    codes = pq_encode(emb, book)
    got = sorted(map(tuple, codes.collect()))
    # every (vector, subspace) coded exactly once, code in [0, ksub)
    assert len(got) == 2 * len(vecs)
    assert all(0 <= c < ksub for _, _, c in got)
    # bit-for-bit re-run determinism (seeded init, exact means)
    again = sorted(
        map(
            tuple,
            pq_encode(
                emb, pq_train(emb, m=2, ksub=ksub, iters=1, seed=7)
            ).collect(),
        )
    )
    assert again == got


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.text(
            alphabet=st.sampled_from("ab "), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=8,
    )
)
def test_contamination_frac_bounds_and_monotone(spark, docs):
    """overlap_frac stays in [0, 1] and never DECREASES when the
    benchmark grows (more benchmark n-grams can only add hits)."""
    from graphragpart1datapipeline_spark.text.contamination import (
        contamination_report,
        ngram_hash_set,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    small = ngram_hash_set(
        df.filter(F.col("doc_id") == 0).select("text"), n=2
    )
    big = ngram_hash_set(df.select("text"), n=2)
    r_small = {
        r["doc_id"]: r["overlap_frac"]
        for r in contamination_report(df, small, n=2).collect()
    }
    r_big = {
        r["doc_id"]: r["overlap_frac"]
        for r in contamination_report(df, big, n=2).collect()
    }
    for d in r_small:
        assert 0.0 <= r_small[d] <= 1.0
        assert r_big[d] >= r_small[d]


_comp = st.one_of(
    st.sampled_from([0.0, -0.0, 1.0, -1.0, 0.5, 2.0]),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)


@st.composite
def centroid_cases(draw):
    """(book, rows, n_parts): a small ``(part, cid, vector)`` book — every
    part non-empty, cids distinct within a part, vectors drawn from a
    tiny pool so exact ties and zero-norm centroids are common — and
    unique-id rows ``(id, part, vector | None)`` over the book's
    parts."""
    dim = draw(st.integers(1, 3))
    vec = st.lists(_comp, min_size=dim, max_size=dim)
    n_parts = draw(st.integers(1, 2))
    book = []
    for p in range(n_parts):
        cids = draw(st.lists(st.integers(0, 9), min_size=1, max_size=4, unique=True))
        book += [(p, c, draw(vec)) for c in cids]
    rows = draw(
        st.lists(
            st.tuples(st.integers(0, n_parts - 1), st.one_of(st.none(), vec)),
            min_size=1,
            max_size=6,
        )
    )
    return book, [(i, p, v) for i, (p, v) in enumerate(rows)], n_parts


@given(
    case=centroid_cases(),
    metric=st.sampled_from(["cos", "l2sq"]),
    with_part=st.booleans(),
    ragged=st.booleans(),
)
@SETTINGS
def test_nearest_centroid_forks_agree(spark, case, metric, with_part, ragged):
    """The literal fork (driver book) and the broadcast fork (DataFrame
    book) return the same (centroid_id, score) bits per row, NaN
    included; a finite score always beats NaN; ties go to the lowest
    cid; a ragged vector raises in both forks."""
    import math
    import struct

    import pytest

    from graphragpart1datapipeline_spark.vector.search import (
        _nearest_centroid,
        cosine_expr,
        l2sq_expr,
    )

    book, rows, n_parts = case
    if not with_part:
        rows = [(i, 0, v) for i, _, v in rows]
    part_col = "part" if with_part else None
    df = spark.createDataFrame(rows, "id int, part int, v array<double>")
    bdf = spark.createDataFrame(book, "part int, cid int, cv array<double>")

    def bits(x):
        # every NaN is one value to Spark's ordering; sign of zero counts
        if x is None or math.isnan(x):
            return x if x is None else "nan"
        return struct.pack(">d", x)

    def run(b, data=df):
        return {
            (r["id"], r["part"] if with_part else 0): (
                r["centroid_id"], bits(r["score"])
            )
            for r in _nearest_centroid(
                data, b, "v", ["id"], metric, part_col=part_col
            ).collect()
        }

    if ragged:
        # one row longer than the book's vectors fails both forks,
        # naming the vector column
        dims = {len(v) for _, _, v in book}
        bad = df.union(
            spark.createDataFrame(
                [(len(rows), 0, [0.5] * (max(dims) + 1))], df.schema
            )
        )
        for b in (book, bdf):
            with pytest.raises(Exception, match="column 'v' has"):
                run(b, bad)
        return

    lit, brd = run(book), run(bdf)
    assert lit == brd
    assert len(lit) == len(rows)

    # the winner is the min of (rank key, cid) over the row's candidates
    # with NaN after every number (NULL scores sort first)
    rank = l2sq_expr if metric == "l2sq" else (lambda a, b: -cosine_expr(a, b))
    cond = (F.col("part") == F.col("bp")) if with_part else F.lit(True)
    pairs = (
        df.join(bdf.withColumnRenamed("part", "bp"), cond)
        .select("id", "part", "cid", rank(F.col("v"), F.col("cv")).alias("s"))
        .collect()
    )
    cands: dict = {}
    for r in pairs:
        key = (r["id"], r["part"] if with_part else 0)
        s = r["s"]
        order = (0, 0.0) if s is None else (2, 0.0) if math.isnan(s) else (1, s)
        cands.setdefault(key, []).append((order, r["cid"]))
    for key, cs in cands.items():
        (best_order, best_cid) = min(cs)
        assert lit[key][0] == best_cid
        if any(o[0] == 1 for o, _ in cs):
            assert lit[key][1] != "nan"
