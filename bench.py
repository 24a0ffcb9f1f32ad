#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE COMPACT JSON line as the FINAL line of stdout:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "detail_file": ...}.

THE LINE IS LENGTH-BOUNDED. The recording harness keeps only the last
~2,000 characters of stdout; round 4's line grew to 2,883 chars (56
queries + the in-line scale_check block) and was truncated past
parseability (BENCH_r04.json: parsed null). :func:`compact_line`
guarantees < :data:`LINE_LIMIT` (1,900) chars. Since round 11 the
line's membership is DETERMINISTIC: every headline query rides the
line every round (2-decimal line values; ``load`` in the detail file
only), so PERF comparisons never see phantom drops — the full
3-decimal per-query table, the secondary tier, the load sentinel and
the scale_check block always land in ``BENCH_DETAIL.json`` at the
repo root (pointed to by ``detail_file``). Length-locked by
tests/test_bench_line.py, including a driver-sim that parses the last
2,000 chars of the real emission.

Every query executes end-to-end into a noop sink (full compute, no
result materialization on the driver), after a warm-up that triggers
JVM + codegen warm paths.

The ``scale_check`` block is the 1×/K× ratio table for the scale-path
operators (see scale_check.py) with its SCALE_BOUNDS violations — so
scaling regressions (a new shuffle, a lost broadcast, a pair-space
blowup) are recorded mechanically in every round's BENCH_DETAIL, not
just in README prose. Control via $SPARK_GRAFT_BENCH_SCALE (default
"1"; "0" skips the ~4-5 min block) and $SPARK_GRAFT_BENCH_SCALE_K
(default 10). Standalone bound-assert mode (non-zero exit on
violation) remains ``python scale_check.py [K] --assert``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Hard bound on the final stdout line. The recorder keeps the last
# 2,000 chars; 100 chars of margin absorbs a trailing newline plus any
# stray log line that sneaks after us.
LINE_LIMIT = 1900

# Headline set: the heavy representatives of each operator family
# (joins/aggs, rollup, windows, sessionization, dedup families, text
# analysis, vector search, graph traversal). Only SCALE paths belong
# here: q53 (LSH-bucketed embedding near-dup) and q66 (blocked k-NN
# join) represent their families — the exact crossJoin twins (q36/q65)
# are correctness oracles and stay out of the bench.
HEADLINE = [
    "q01_pricing_summary",
    "q02_release_catalog",
    "q03_segment_revenue_topn",
    "q05_regional_revenue",
    "q12_top_words",
    "q18_hourly_windows",
    "q19_sessionization",
    "q20_exact_dedup",
    "q22_language_id",
    "q24_minhash_lsh",
    "q25_vector_topk",
    "q31_multi_hop_graph",
    "q53_embedding_near_dup_lsh",
    "q66_knn_join_blocked",
    "q37_section_split",
    "q38_media_metadata",
    "q40_community_rollup",
    "q42_ivf_topk",
    # round-2 additions: the training-data scale paths
    "q78_global_shuffle_shards",
    "q80_kmeans_clustering",
    "q81_incremental_near_dup",
    "q82_pagerank",
    "q84_kmv_distinct",
    "q85_repeated_passages",
    "q86_sampled_percentiles",
    "q87_leakage_safe_split",
    "q88_bpe_train",
    "q94_label_propagation",
    # round-3 additions: ranked retrieval, fusion, graph cohesion, LM
    # scoring, layout stats — all scale paths
    "q103_bm25_topk",
    "q104_hybrid_rrf",
    "q105_triangle_counts",
    "q107_bigram_lm_score",
    "q108_zorder_layout",
    "q112_resample_locf",
    # q122 runs on a deliberately adversarial low-cardinality key space
    # (true pair structure is quadratic: 1M pairs from 20k records at
    # sf0.1) — correctness-gated at sf0.01; the realistic ER regime is
    # scale_check's "set_similarity" (vocab proportional to corpus).
    "q124_heavy_hitters_words",
    # round-3 batch 3: diversity scoring, profiling, robust outliers —
    # linear scale paths (q152 linkpred stays out: the co-purchase
    # graph's wedge volume at sf0.1 is adversarially dense, like q122)
    "q153_token_diversity",
    "q155_mad_outliers",
    "q157_equidepth_histogram",
    "q127_sorted_neighborhood",
    "q136_embedding_centroids",
    "q140_exact_kth_values",
    # round-4 additions: distributed Leiden, retrieval quality,
    # auto-salted skew join — all scale paths. The incremental ER
    # joins (q161-q163) stay out for the same reason as their batch
    # twins (q122/q156/q158): the part/doc key spaces are adversarially
    # duplicate-heavy at sf0.1; their realistic regime is scale_check's
    # incremental entries.
    "q159_leiden_distributed",
    "q160_ann_recall",
    "q165_salted_join_auto",
    "q166_personalized_pagerank",
    # round-5 additions: the composed serving DAGs (hybrid retrieval →
    # fusion → passage stitch; weighted-seeded GraphRAG walk). NOT
    # benched (families fully headline-covered; whole bench must stay
    # inside the driver's ~10 min recording window): q177 (3× q159's
    # Leiden iterations, ~25 s), q182 (streaming, like q44), q184
    # (q24's minhash + q87's CC + q23's quality recombined). All are
    # oracle-gated every round regardless.
    "q176_rag_serving_end2end",
    "q178_graphrag_retrieval_weighted",
    # incremental retrieval/dedup serving paths (real corpus, bucketed
    # — unlike q161-q163's adversarial key spaces these bench cleanly)
    "q179_bm25_incremental_index",
    "q183_embedding_near_dup_incremental",
    # the ANN-armed serving DAG (IVF probe dense arm) — q176's
    # 100 TB-viable twin; benching both records the ANN speedup
    "q185_rag_serving_ann",
    # round-5 batch 2: explicit bloom join pruning — the fact-side
    # shuffle saver; the sketch family's scale path (cms/hll twins in
    # the secondary tier: counter/register tables, sub-second)
    "q189_bloom_pruned_join",
    # round-6: the MMR-diversified serving DAG (retrieval → RRF → MMR
    # → stitch — the engine's flagship serving answer) and the
    # auto-tuned ANN serving (sweep → pick → serve). NOT benched:
    # q209 (composed daily-maintenance DAG: ~90 s of versioned-index
    # round-trips by design, q144's regime) and q213 (HyperBall
    # profile: the exact-BFS validation column rides the co-purchase
    # graph, adversarially dense at sf0.1 like q152/q193) — both
    # oracle-gated every round regardless.
    "q207_rag_serving_mmr",
    "q211_rag_serving_tuned",
    "q214_salted_join_shared_detection",
    # round 7: per-community extractive summarization (sentence split →
    # shared-token inverted-index pair graph → weighted integer
    # PageRank → top-m) — the T9-closing capability; slice-bound input
    # keeps it cheap. Rotated OUT to the secondary tier to compensate
    # (round-6 verdict task 8): q07 (0.2 s; the rank-window dedup shape
    # is headline via q02, exact dedup via q20) and q27 (0.3 s; the
    # moving-window family is headline via q18 + q112).
    "q222_textrank_summaries",
    # round 8: eval decontamination (corpus 5-gram scan vs broadcast
    # benchmark set — the q85 shingle profile with a semi-join), the
    # full two-stage IVF-PQ serving DAG (joint per-subspace Lloyd +
    # encode + coarse probe + ADC shortlist + exact rerank — the
    # compression layer's scale path end to end), and DSIR selection
    # (bucket-width shuffle + broadcast log-ratio table over the
    # corpus feature stream)
    "q226_contamination_report",
    "q231_ivfpq_serving",
    "q230_dsir_selection",
]

# Secondary tier: sub-second operators whose family is already
# represented above (pruned from the headline in round 5 per the
# round-4 verdict to keep bench wall inside the recording envelope).
# Still timed every round — 1 rep, recorded in BENCH_DETAIL.json only
# — so every scale-path operator keeps a round-over-round trace.
SECONDARY = [
    # q181 = two full pagerank phases; the pagerank scale path is
    # already in the headline twice (q82 classic, q166 personalized)
    "q181_pagerank_warm_start",
    # q180 rebuilds + upserts a persisted parquet index per run (the
    # maintenance op itself) — IO-dominated, 1 detail-file rep suffices
    "q180_ivf_incremental_index",
    # serving-level ANN recall gate (runs both fused arms once) —
    # quality trace, like q160 but post-fusion
    "q186_serving_recall",
    "q114_cdc_apply",
    "q120_ewma_user_value",
    "q123_phrase_search",
    "q125_weighted_order_sample",
    "q134_debounce_events",
    "q146_orderkey_gaps",
    "q154_numeric_histogram",
    "q164_scd2_time_travel",
    "q167_winnow_fingerprints",
    # deterministic sketch twins of q189 (cms point/join-size, hll ndv)
    # — counter/register-table plans, sub-second each
    "q190_cms_point_frequency",
    "q191_cms_join_cardinality",
    "q192_hll_mergeable_ndv",
    # batch 3: BFS rides the q178 co-purchase graph (adversarially
    # dense at sf0.1, like q152 — keep off the headline); excision
    # extends q167's winnowing (already traced); q195 is a 500-vector
    # projection gate
    "q193_bfs_hops",
    "q194_copy_span_excision",
    "q195_jl_projection_recall",
    # batch 4: streaming dedup (streaming family benched via q44-style
    # paths is trigger-latency-bound, 1 rep suffices); DBSCAN rides
    # q53's pair generator (headline) + the CC driver (headline in q87)
    "q196_stream_dedup_native",
    "q197_dbscan_embeddings",
    # batch 5: betweenness rides the same dense co-purchase graph as
    # q193/q178 (headline-covered construction; keep off the headline)
    "q198_betweenness_sampled",
    # batch 6: one-pass quality gate + skew pre-flight (scan-bound)
    "q199_data_quality_suite",
    "q200_join_skew_report",
    # batch 7: assortativity + eccentricity ride the co-purchase graph
    # (dense at sf0.1, off-headline like q193/q198); nprobe sweep is a
    # 500-vector tuning table
    "q201_degree_assortativity",
    "q202_eccentricity_sample",
    "q203_nprobe_recall_sweep",
    # batch 8: serving-side diversity re-rank (candidate-sized work);
    # streaming HLL NDV (trigger-latency-bound like q196); harmonic
    # centrality rides the co-purchase graph (off-headline like q198)
    "q204_mmr_rerank",
    "q205_stream_hll_ndv",
    "q206_harmonic_centrality",
    # round 6: the ANN-armed MMR serving twin (q207's headline trace
    # covers the family; the diff vs q207 is the IVF arm already
    # traced by q185), the nprobe tuning table (500-vector sweep),
    # the mergeable quantile sketch (orders-sized sample build),
    # and the index-deletion verbs (bm25 anti-join shrink; ivf
    # partition-local rewrite — IO-dominated like q180, 1 rep)
    "q208_rag_serving_mmr_ann",
    "q210_ivf_tune",
    "q212_quantile_sketch",
    "q215_bm25_delete",
    "q216_ivf_delete",
    # batched exact ANN (one corpus scan for B queries; the per-query
    # exact scan is already headline via q25) and the sketch-driven
    # per-language quality gate (q22+q23+q212 composed, scan-bound)
    "q217_multi_query_topk",
    "q218_sketch_quality_gate",
    # stats-driven join strategy (arms individually headline via
    # q165/q214), SemDeDup (kmeans + within-cluster pairs — pair work
    # is the k-vs-corpus trade, 1 rep suffices), HyperBall effective
    # diameter (register rounds only, no exact-BFS column)
    "q219_adaptive_join",
    "q220_semdedup",
    "q221_effective_diameter",
    # round 7 rotations from the headline (families still headline-
    # represented: q02/q20 for the dedup windows, q18/q112 for the
    # moving windows) — 1-rep traces continue in BENCH_DETAIL
    "q07_dedupe_priority",
    "q27_moving_agg",
    # round 7: incremental SemDeDup (increment-sized pair probe vs the
    # frozen-centroid index; batch twin q220 already secondary) and the
    # drift-triggered rebuild+retune (full retrain+tune by design —
    # IO/driver-loop dominated like q180, 1 rep suffices). NOT benched:
    # q223 (streaming maintenance loop: versioned-parquet round-trips
    # per micro-batch by design, q209's regime — oracle-gated every
    # round regardless)
    "q225_semdedup_incremental",
    "q224_ivf_drift_retune",
    # round 8: the PII audit rollup (scan-bound regexp counts; the
    # redaction scale path is q60's family); PQ encode and ADC top-k
    # (stage-level traces of headline q231's DAG — each re-runs the
    # same joint Lloyd, 1-rep traces suffice)
    "q227_pii_audit",
    "q228_pq_encode",
    "q229_pq_adc_topk",
    # streaming decontamination gate (trigger-latency-bound like
    # q196/q205; the batch scan shape is headline via q226)
    "q232_stream_decontaminate",
    # PQ quality gate + incremental PQ index (each re-runs the q231
    # Lloyd; the index verbs add IO like q180 — 1-rep traces) and the
    # residual IVFPQ variant (adds the residual join to the same run)
    "q233_pq_recall_gate",
    "q234_pq_incremental",
    "q235_ivfpq_residual",
    # perceptual-hash image near-dup (integer dhash + banded hamming
    # join — the simhash family's plan shape, headline via q24/q53)
    "q236_image_dhash_near_dup",
    # SQ8 scalar quantization (stats + row-local encode + dequant
    # scan — the exact-scan family's plan shape, headline via q25)
    "q237_sq8_topk",
    # round-8 second wave: the NB classifier and CCNet buckets ride
    # the hashed-feature / bigram-LM pipelines already headline via
    # q230/q226; fertility re-runs the q88 BPE train (vocab-table
    # rounds) plus a map-only apply — 1-rep traces suffice
    "q238_nb_classifier",
    "q239_ccnet_buckets",
    "q240_tokenizer_fertility",
    # row-local plan-literal twin of q238 (the streaming gate's scorer)
    "q241_nb_rowlocal_gate",
    # audio offset-histogram matching (exact-hash pigeonhole join —
    # the simhash/dhash banded family's cost profile)
    "q242_audio_offset_match",
    # NB index maintenance verbs (build+upsert / build+delete per run
    # — IO-dominated like q180/q234, 1-rep traces suffice)
    "q243_nb_incremental",
    "q244_nb_delete",
    # k-truss rides the dense co-purchase graph (off-headline like
    # q193/q198/q105's companions; adjacency-intersection rounds)
    "q245_ktruss",
    # retrieval-quality readout (run×qrels joins over serving-sized
    # frames — the q186/q233 gate family's cost profile)
    "q246_retrieval_metrics",
    # round 9: HTML→text extraction (pure regexp chain, scan-bound
    # like q227's PII counts) and video offset matching (the q242
    # audio matcher's exact plan shape over dHash fingerprints).
    "q247_html_extract",
    "q248_video_offset_match",
    # streaming NB maintenance: versioned-parquet round-trips per
    # micro-batch by design (q223's regime) — 1-rep trace so the
    # fold's wall cost is tracked round-over-round (r9 verdict #9)
    "q249_stream_nb_maintenance",
    # URL hygiene: canonicalize+dedup is a scan-bound expression chain
    # + one groupBy; the domain cap is W3's top-k-within-group window;
    # the frontier gate is trigger-latency-bound like q196/q205/q232
    "q250_url_canonical_dedup",
    "q251_domain_cap",
    "q252_url_frontier_gate",
    # WARC ingest: one file-keyed agg + a row-local split/extract
    # chain (the q247 family's cost profile on the packed blobs)
    "q253_warc_ingest",
    # round 10: byte-exact binary WARC reader → decode seam → dHash
    # pairs (two Arrow stages + the q236 banded join; fingerprints
    # localCheckpoint'd so parse+decode run once)
    "q255_warc_binary_image_near_dup",
    # PDF decode seam: one Arrow pass (encode + decode round-trip +
    # sha256) — scan-bound, the q38 media family's cost profile
    "q256_pdf_text_extract",
    # persisted fingerprint index: increment-sized band probe (the
    # q81/q183/q234 incremental family's cost profile on dHash longs)
    "q257_fingerprint_index_incremental",
    # KN backoff trigram: one corpus scan + 5 vocab-bounded groupBys +
    # broadcast-join scoring (the n-gram LM family is headline via
    # q107; this is its higher-order twin)
    "q258_kn_trigram_score",
    # politeness scheduling: one domain-keyed window (q251's shape)
    "q259_politeness_schedule",
    # unigram-LM tokenizer training: one corpus word count + 2 EM
    # rounds of vocab-sized checkpointed DP layers (the q88 BPE
    # two-tier regime; ~100 tiny jobs by design, 1-rep trace)
    "q260_unigram_tokenizer_train",
    # script profiling: scan-bound regexp counts (the q227 profile)
    "q254_script_profile",
    # mime sniff + routed ingest: one binary parse pass fanning to 4
    # map-only branches (sniff fuses into the scan; q255/q256 seams)
    "q261_mime_routed_ingest",
    # robots compliance: KB-sized per-domain parse windows + one
    # broadcast longest-match window over the frontier
    "q262_robots_compliance",
    # unigram encode: vocab-sized DP + broadcast apply (the q260
    # training regime plus one more round of tiny jobs, 1-rep trace)
    "q263_unigram_encode_fertility",
    # KN-based CCNet bucketing: q258's scan+broadcast scoring + a
    # bounded sample job + map-only assignment
    "q264_ccnet_buckets_kn",
    # sitemap seeding: scan-bound loc extraction + canonical groupBy
    # + key anti-join + one domain window
    "q265_sitemap_frontier_seed",
    # streaming crawl ingest: stateless availableNow drain (fixed
    # trigger overhead like q252, not per-row cost)
    "q266_stream_crawl_ingest",
    # exact distributed quantiles: 3 quantiles x 4 histogram passes
    # over a checkpointed long column + rank-proof counts
    "q267_exact_distributed_quantiles",
    # sitemap recrawl: block split + canonical groupBy + key join
    "q268_sitemap_recrawl",
    # lang/script mismatch: scan-bound regexp counts (q254's profile)
    "q269_lang_script_mismatch",
    # redirect resolution: 3 pointer-doubling self-joins on the
    # edge-sized canonical mapping + one terminal probe
    "q270_redirect_resolution",
    # crawl-delay politeness: KB parse windows + broadcast gap join +
    # one domain window
    "q271_crawl_delay_schedule",
]

# Repetitions per query; report the min. The ambient swing on a shared
# box is ~2x (JVM/codegen/scan-cache setup dominates first runs); min-of-3
# is the stable plan cost and makes round-over-round deltas meaningful.
# ADAPTIVE: plans whose (already-JIT-warm) warm-up run exceeds
# HEAVY_CUTOFF seconds get one rep fewer — at 3+ s the plan cost
# dominates ambient noise, and the third rep buys nothing but wall
# (keeps the whole bench inside the driver's ~10 min recording window
# as the headline grows).
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
HEAVY_CUTOFF = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_CUTOFF", "2.5"))

DETAIL_FILE = "BENCH_DETAIL.json"


def compact_line(out: dict, limit: int = LINE_LIMIT) -> str:
    """Serialize ``out`` to a single JSON line PROVABLY under ``limit``
    characters with DETERMINISTIC membership (round-10 verdict #3: the
    old keep-slowest-55 rule made queries near the cut flap in and out
    of the line round-over-round, producing phantom "dropped_from_bench"
    reports for queries that ran and improved — q19 in round 10).

    Determinism is bought with bytes, not by dropping entries: line
    values are rounded to 2 decimals (the detail file keeps 3) and the
    ``load`` sentinel rides the detail file only, which fits the FULL
    headline set under the 1,900-char bound whenever every per-query
    time is < 100 s (slowest headline query is ~8 s; locked by
    tests/test_bench_line.py). The old slowest-first drop loop remains
    solely as a backstop so even a pathological payload (hundreds of
    queries, 5-digit seconds) still yields a parseable line;
    ``queries_in_line``/``queries_total`` record any truncation, and a
    truncated line carries ``"truncated": true`` plus one stderr line
    naming the dropped queries.
    ``scale_check`` never rides the line — it lives in the detail file."""
    base = {
        k: v
        for k, v in out.items()
        if k not in ("queries", "scale_check", "load")
    }
    timings = out.get("queries", {})
    base["queries_total"] = len(timings)
    ranked = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    kept: dict[str, float] = {}
    base["queries"] = kept
    base["queries_in_line"] = 0
    line = json.dumps(base, separators=(",", ":"))
    for name, sec in ranked:
        kept[name] = round(sec, 2)
        base["queries_in_line"] = len(kept)
        cand = json.dumps(base, separators=(",", ":"))
        if len(cand) >= limit:
            # backstop: mark the line and drop the fastest kept entries
            # until the marker fits too
            base["truncated"] = True
            del kept[name]
            base["queries_in_line"] = len(kept)
            line = json.dumps(base, separators=(",", ":"))
            while len(line) >= limit and kept:
                kept.popitem()
                base["queries_in_line"] = len(kept)
                line = json.dumps(base, separators=(",", ":"))
            dropped = [n for n, _ in ranked if n not in kept]
            print(
                f"bench: line backstop dropped {len(dropped)} queries: "
                + ", ".join(dropped),
                file=sys.stderr,
            )
            break
        line = cand
    assert len(line) < limit, (len(line), limit)
    return line


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# canonical implementation lives in scale_check so scale_block can
# load-gate its wall asserts without a circular import (round-10)
from scale_check import load_sentinel  # noqa: E402


def session_hygiene(spark) -> None:
    """Between-tier cleanup for the long bench session: drop Python
    references' checkpoint blocks (ContextCleaner needs the Python GC
    to run before it can unpin localCheckpoint RDD blocks) and nudge
    the JVM. Iterative late-running queries (q159's leiden rounds) are
    the ones that pay for accumulated block-manager state from the ~60
    plans that ran before them."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # pragma: no cover - py4j hiccup is non-fatal
        pass


def main() -> None:
    import __spark_entry__ as entrymod
    from graphragpart1datapipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    spark = get_spark(app_name="graphrag-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # Warm-up: JVM, codegen, parquet footer caches, and the Python
    # worker pool (first mapInPandas otherwise pays worker spawn).
    run_query(queries["q01_pricing_summary"](spark, sf_dir))

    def _ident(batches):
        yield from batches

    run_query(
        spark.range(spark.sparkContext.defaultParallelism * 4)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_ident, schema="id long")
    )

    # Full warm-up pass: each headline query once, untimed. JIT of the
    # codegen'd expression chains (md5/shingle minhash most of all)
    # takes several executions to reach steady state; timing cold runs
    # measures the JVM, not the plan.
    load_start = load_sentinel()
    warm: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        run_query(queries[name](spark, sf_dir))
        warm[name] = time.perf_counter() - t0

    session_hygiene(spark)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        reps = max(REPS, 1)
        if warm[name] > HEAVY_CUTOFF:
            reps = max(reps - 1, 1)
        # the per-query warm-up run is itself a valid sample — min()
        # discards it when codegen made it slow, keeps it when it was
        # the fastest. Heavy queries therefore still see 3 samples
        # (warm + 2 reps) after the adaptive-reps cut, so round-over-
        # round minima stay comparable with the min-of-3 era at no
        # extra wall.
        best = warm[name]
        for _ in range(reps):
            t0 = time.perf_counter()
            run_query(queries[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # Secondary tier: single timed rep (they had no dedicated warm-up;
    # the shared JVM/codegen state from the headline pass is warm
    # enough for sub-second plans, and the detail trace is what we
    # keep, not a tight min-of-3).
    session_hygiene(spark)
    secondary: dict[str, float] = {}
    for name in SECONDARY:
        t0 = time.perf_counter()
        run_query(queries[name](spark, sf_dir))
        secondary[name] = round(time.perf_counter() - t0, 3)

    load_end = load_sentinel()
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "detail_file": DETAIL_FILE,
        # load sentinel: a hot box is visible in the artifact itself
        "load": {"start": load_start, "end": load_end},
    }
    detail = dict(out)
    detail["secondary"] = secondary
    detail["reps"] = REPS
    if os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0":
        from scale_check import BENCH_SUBSET, scale_block

        # K=4 on the regression-prone subset keeps the whole bench
        # inside the per-round time envelope; a quadratic regression
        # still shows ~16x and trips every bound. The standalone
        # calibration run is the full set at K=10
        # (`python scale_check.py 10 --assert`).
        k = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_K", "4"))
        detail["scale_check"] = scale_block(
            spark, sf_dir, k, do_assert=True, only=BENCH_SUBSET
        )
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), DETAIL_FILE),
        "w",
    ) as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # The compact line is the LAST stdout line, alone — the recorder's
    # 2,000-char tail must land inside it (length-locked in tests).
    sys.stdout.flush()
    print(compact_line(out))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
