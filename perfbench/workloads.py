"""The benchmark workloads. Each drives the engine only through public
package functions and checks its outputs against an independent
NumPy or plain-Python computation, outside the timed region.

A workload has four phases:

- ``prepare(d)``: make the seeded inputs under ``d`` (no Spark);
- ``build(d)``: the session-dependent set-up (IVF index, CDC state);
- ``op(i)``: one timed operation, returning what ``check`` needs;
- ``check(out)``: True when the op's outputs are right.

``finish()`` runs a last whole-run check after the timed loop.
"""

from __future__ import annotations

import os
import statistics

import gen
import numpy as np
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from graphragpart1datapipeline_spark.operators.relational import cdc_live
from graphragpart1datapipeline_spark.plans.graphrag_demo import build_graphrag_pipeline
from graphragpart1datapipeline_spark.plans.incremental_demo import (
    apply_increment,
    init_corpus_state,
    read_indexes,
    rebuild_indexes,
)
from graphragpart1datapipeline_spark.plans.pretrain_demo import build_pretrain_pipeline
from graphragpart1datapipeline_spark.text import fixed_stride_chunks, stitch_context
from graphragpart1datapipeline_spark.text.analysis import bm25_topk
from graphragpart1datapipeline_spark.vector import (
    cosine_topk,
    ivf_build_index,
    ivf_topk,
)
from graphragpart1datapipeline_spark.vector.mmr import mmr_rerank
from graphragpart1datapipeline_spark.vector.search import rrf_fuse

# Corpus sizes. index_maintenance has the full size: 84-change batches on
# about 3.4k live docs cost about what smaller ones do (an increment is
# dominated by per-job fixed cost). graphrag_dag has 400 docs, not 5k: on
# 4 cores a 5k-doc DAG run takes about 21 s warm and its first run 55 s,
# which a benchmark repeated about 50 times per comparison cannot afford;
# at 400 docs it takes about 11 s, mostly driver build and job launches.
SIZES = {
    "graphrag_dag": {"docs": 400},
    "pretrain_funnel": {"docs": 400},
    "rag_serving": {"docs": 2000, "requests": 4096},
    "index_maintenance": {"docs": 3400, "upserts": 59, "inserts": 12, "deletes": 12},
}
TINY = {
    "graphrag_dag": {"docs": 60},
    "pretrain_funnel": {"docs": 60},
    "rag_serving": {"docs": 200, "requests": 64},
    "index_maintenance": {"docs": 100, "upserts": 4, "inserts": 2, "deletes": 2},
}


class Workload:
    name = ""
    # the first op in a fresh JVM costs 1.5-4 times a warm one (class
    # loading, codegen compiles, JIT); from the second on ops are within
    # the op-to-op noise of each other
    warmup_ops = 1
    sink_calls: frozenset[str] = frozenset()

    def __init__(self, spark: SparkSession, tracer, seed: int, sizes: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = sizes[self.name]
        self.props: dict = {}
        # per-layer samples from observe(), reported as medians
        self.observed: dict[str, list[float]] = {}

    def prepare(self, d: str) -> None:
        raise NotImplementedError

    def build(self, d: str) -> None:
        pass

    def before_op(self, i: int) -> None:
        """Untimed per-op input preparation."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, out) -> bool:
        return True

    def observe(self, out) -> None:
        """Untimed extra per-layer measurements (traced runs only)."""

    def finish(self) -> bool:
        return True

    def summary(self, times: dict[int, float]) -> dict[str, float]:
        """Workload-specific record metrics over the timed ops."""
        return {"sources.bytes_written_per_op": 0.0, "sources.files_written_per_op": 0.0}


def _plan_ms(df) -> float:
    """Catalyst's optimization + physical planning time for ``df``'s
    query execution, forcing its physical plan. Analysis is left out:
    it runs eagerly while the DataFrame is built (inside the traced
    build spans), and the tracker reports a phase as the stretch from
    its first to its last measurement, which spans the whole build."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(phases.apply(p).durationMs() for p in ("optimization", "planning"))
    )


class _DagWorkload(Workload):
    """One op = one full ``Pipeline.run`` plus its sinks. Every stage
    function is wrapped from outside, so each stage's build time and
    jobs are attributed to it."""

    dag = ""
    sinks: tuple[str, ...] = ()

    def prepare(self, d: str) -> None:
        cols, self.props = gen.corpus(
            self.seed,
            self.size["docs"],
            exact_dup_share=0.1,
            near_dup_share=self.near_dup_share,
            boilerplate_share=self.boilerplate_share,
        )
        self.sf_dir = os.path.join(d, "sf")
        gen.write_documents(cols, self.sf_dir)
        self.cols = cols

    def pipeline(self):
        raise NotImplementedError

    def op(self, i: int):
        p = self.pipeline()
        for st in p.stages:
            st.fn = self.tracer.wrap(f"plans.{self.dag}.{st.name}", st.fn)
        out = p.run(self.spark)
        for s in self.sinks:
            # materialize without collecting
            writer = out[s].write.format("noop").mode("overwrite")
            self.tracer.call(f"plans.{self.dag}.sink", writer.save)
        return out

    def observe(self, out) -> None:
        self.observed.setdefault("spark.plan_ms", []).append(
            sum(_plan_ms(out[s]) for s in self.sinks)
        )


class GraphragDag(_DagWorkload):
    name = "graphrag_dag"
    dag = "graphrag"
    sinks = ("chunk_embeddings", "community_summaries", "search_demo")
    sink_calls = frozenset({"plans.graphrag.sink"})
    near_dup_share = 0.0
    boilerplate_share = 0.0

    def pipeline(self):
        return build_graphrag_pipeline(self.sf_dir)

    def check(self, out) -> bool:
        # exact_dedup keeps the smallest doc_id per distinct text
        first: dict[str, int] = {}
        for doc_id, text in zip(self.cols["doc_id"], self.cols["text"]):
            first.setdefault(text, doc_id)
        want = set(first.values())
        got = {r[0] for r in out["deduped"].select("doc_id").collect()}
        comm = out["communities"].filter(F.col("id").startswith("d"))
        members = {
            int(r[0][1:])
            for r in comm.filter(F.col("community_L0").isNotNull())
            .select("id")
            .collect()
        }
        return got == want and members == want


class PretrainFunnel(_DagWorkload):
    name = "pretrain_funnel"
    dag = "pretrain"
    sinks = ("packed",)
    sink_calls = frozenset({"plans.pretrain.sink"})
    near_dup_share = 0.1
    boilerplate_share = 0.15
    capacity = 512

    def pipeline(self):
        return build_pretrain_pipeline(self.sf_dir, capacity=self.capacity)

    def check(self, out) -> bool:
        # stage row counts never grow along the funnel, and every packed
        # doc starts inside its sequence at the replayed position
        order = [
            "documents", "quality_gated", "exact_deduped", "passage_cleaned",
            "near_deduped", "decontaminated", "rebalanced", "split_assigned",
            "sharded", "packed",
        ]
        counts = [out[s].count() for s in order]
        for s, c in zip(order, counts):
            self.observed.setdefault(f"plans.pretrain.{s}.rows_out", []).append(c)
        # replay concat-then-cut packing: per stream in id order, a doc
        # starts at the running token sum; it must start inside its
        # sequence (offset < capacity) at the position the engine gave
        rows = out["packed"].select(
            "doc_id", "stream_id", "tokens", "seq_id", "seq_offset"
        ).collect()
        ok = True
        run: dict[int, int] = {}
        for r in sorted(rows, key=lambda r: (r["stream_id"], r["doc_id"])):
            start = run.get(r["stream_id"], 0)
            run[r["stream_id"]] = start + r["tokens"]
            ok &= r["seq_id"] == start // self.capacity
            ok &= r["seq_offset"] == start % self.capacity < self.capacity
        return ok and all(a >= b for a, b in zip(counts, counts[1:]))


class RagServing(Workload):
    """Closed loop, one client: each request runs the hybrid retrieval
    chain and collects the answer."""

    name = "rag_serving"
    sink_calls = frozenset({"serve.collect"})

    def prepare(self, d: str) -> None:
        cols, self.props = gen.corpus(self.seed, self.size["docs"], exact_dup_share=0.0)
        self.vecs = gen.embeddings(self.seed, self.size["docs"])
        self.reqs = gen.requests(self.seed, self.vecs, cols["text"], self.size["requests"])
        self.sf_dir = os.path.join(d, "sf")
        gen.write_documents(cols, self.sf_dir)
        gen.write_vectors(self.vecs, os.path.join(self.sf_dir, "embeddings.parquet"), "vec_id")
        # IVF centroids: 16 seeded corpus vectors
        picks = gen.rng_for(self.seed, 6).choice(len(self.vecs), size=16, replace=False)
        gen.write_vectors(
            self.vecs[np.sort(picks)], os.path.join(self.sf_dir, "centroids.parquet"), "cid"
        )
        self.props.update(
            requests=len(self.reqs),
            ivf_share=round(sum(r["arm"] == "ivf" for r in self.reqs) / len(self.reqs), 4),
            dim=int(self.vecs.shape[1]),
        )
        unit = self.vecs.astype(np.float64)
        self.unit = unit / np.linalg.norm(unit, axis=1, keepdims=True)
        self.recall: list[float] = []

    def build(self, d: str) -> None:
        spark = self.spark
        self.docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        self.cents = spark.read.parquet(os.path.join(self.sf_dir, "centroids.parquet"))
        self.assign = ivf_build_index(
            self.emb, self.cents, os.path.join(d, "ivf_index"),
            vec_col="embedding", id_col="vec_id",
            cent_vec_col="embedding", cent_id_col="cid",
        )

    def op(self, i: int):
        r = self.reqs[i % len(self.reqs)]
        call = self.tracer.call
        if r["arm"] == "exact":
            vec = call(
                "vector.cosine_topk", cosine_topk, self.emb, r["vec"], k=100,
                vec_col="embedding", id_col="vec_id",
            )
        else:
            vec = call(
                "vector.ivf_topk", ivf_topk, self.emb, r["vec"], self.cents, k=100,
                vec_col="embedding", id_col="vec_id", cent_vec_col="embedding",
                cent_id_col="cid", nprobe=2, assignments=self.assign,
            )
        vecr = vec.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("vec_id"))).cast("long"),
        ).select(F.col("vec_id").alias("id"), "rank")
        bm = call(
            "text.bm25_topk", bm25_topk, self.docs, r["terms"], text_col="text",
            id_col="doc_id", k=100, log_idf=False,
        ).select(F.col("doc_id").alias("id"), "rank")
        fused = call("vector.rrf_fuse", rrf_fuse, [vecr, bm], id_col="id", k0=60, k=20)
        cands = fused.join(
            self.emb.select(F.col("vec_id").alias("id"), "embedding"), "id", "left"
        )
        sel = call(
            "vector.mmr_rerank", mmr_rerank, cands, k=5, lam=0.7,
            vec_col="embedding", id_col="id", rel_col="rrf_score",
        )
        picked = self.docs.join(
            F.broadcast(sel.select(F.col("id").alias("doc_id"))), "doc_id"
        )
        chunks = call(
            "text.fixed_stride_chunks", fixed_stride_chunks, picked,
            id_col="doc_id", text_col="text", chunk_tokens=32, overlap_tokens=8,
        )
        terms = sorted(r["terms"])
        hits = chunks.select(
            "doc_id", "chunk_index",
            F.size(F.filter(F.split("chunk", " "), lambda t: t.isin(terms))).alias("hits"),
        )
        best = (
            hits.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("chunk_index"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select("doc_id", "chunk_index")
        )
        stitched = call(
            "text.stitch_context", stitch_context, chunks, best, overlap_tokens=8,
            context=1, id_col="doc_id", idx_col="chunk_index", text_col="chunk",
        )
        answer = sel.join(stitched.withColumnRenamed("doc_id", "id"), "id", "left").orderBy("rank")
        rows = call("serve.collect", answer.collect)
        return r, vec, answer, rows

    def observe(self, out) -> None:
        # the answer frame was planned by its own collect: reading the
        # tracker adds no planning
        self.observed.setdefault("spark.plan_ms", []).append(_plan_ms(out[2]))

    def _numpy_topk(self, q: list[float], k: int) -> tuple[np.ndarray, np.ndarray]:
        qv = np.asarray(q, dtype=np.float64)
        scores = self.unit @ (qv / np.linalg.norm(qv))
        order = np.lexsort((np.arange(len(scores)), -scores))[:k]
        return order, scores

    def check(self, out) -> bool:
        r, vec, _answer, rows = out
        if len(rows) != 5 or any(row["stitched"] is None for row in rows):
            return False
        want, scores = self._numpy_topk(r["vec"], 100)
        got = vec.select("vec_id", "score").collect()
        got_ids = {row[0] for row in got}
        # every returned score is the NumPy cosine, to float rounding
        if not got or any(abs(row[1] - scores[row[0]]) > 1e-9 for row in got):
            return False
        if r["arm"] == "ivf":
            # IVF scores only the probed clusters: fewer than k rows is
            # allowed, and recall is a measurement, not a check
            self.recall.append(len(got_ids & set(want.tolist())) / 100.0)
            return len(got) <= 100
        # exact arm: the same top-100 as NumPy, up to ties at the cut
        kth = scores[want[-1]]
        missing = set(want.tolist()) - got_ids
        return len(got) == 100 and all(abs(scores[m] - kth) < 1e-9 for m in missing)

    def summary(self, times: dict[int, float]) -> dict[str, float]:
        out = super().summary(times)
        for arm in ("exact", "ivf"):
            ts = [t for i, t in times.items() if self.reqs[i % len(self.reqs)]["arm"] == arm]
            if ts:
                out[f"serve.{arm}.p50_s"] = statistics.median(ts)
        if self.recall:
            out["vector.ivf_topk.recall_at_100"] = statistics.median(self.recall)
        return out


class IndexMaintenance(Workload):
    """Set-up seeds the CDC state; each op applies one change batch."""

    name = "index_maintenance"

    def prepare(self, d: str) -> None:
        cols, self.props = gen.corpus(self.seed, self.size["docs"], exact_dup_share=0.05)
        self.sf_dir = os.path.join(d, "sf")
        gen.write_documents(cols, self.sf_dir)
        self.feed = gen.ChangeFeed(
            self.seed, dict(zip(cols["doc_id"], cols["text"])),
            gen.vocabulary(self.seed, self.props["vocab_size"]),
        )
        self.feed_dir = os.path.join(d, "feed")
        s = self.size
        # +1: the out-of-order delete every batch carries
        self.props["batch_changes"] = s["upserts"] + s["inserts"] + s["deletes"] + 1

    def build(self, d: str) -> None:
        self.root = os.path.join(d, "state")
        docs = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        init_corpus_state(self.spark, self.root, docs.select("doc_id", "text"))
        # op index -> (bytes, files) the op added to the state
        self.written: dict[int, tuple[int, int]] = {}

    def before_op(self, i: int) -> None:
        s = self.size
        batch = self.feed.batch(s["upserts"], s["inserts"], s["deletes"])
        self.pending = gen.write_changes(
            batch, os.path.join(self.feed_dir, f"b{i}.parquet")
        )
        self.current = i
        self.usage_before = _disk_usage(self.root)

    def op(self, i: int):
        changes = self.spark.read.parquet(self.pending)
        return self.tracer.call(
            "plans.incremental.apply_increment", apply_increment, self.spark, self.root, changes
        )

    def check(self, out) -> bool:
        after, before = _disk_usage(self.root), self.usage_before
        self.written[self.current] = (after[0] - before[0], after[1] - before[1])
        return out["live_after"] == len(self.feed.live)

    def finish(self) -> bool:
        have = read_indexes(self.spark, self.root)
        want = rebuild_indexes(self.spark, self.root)

        def rows(df, cols):
            return sorted(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.select(*cols).collect()
            )

        ok = all(
            rows(have[k], have[k].columns) == rows(want[k], have[k].columns)
            for k in ("lsh", "emb")
        )
        live = {r[0]: r[1] for r in self._live_docs().collect()}
        return ok and live == self.feed.live

    def summary(self, times: dict[int, float]) -> dict[str, float]:
        # ops that raised have no write record
        done = [i for i in times if i in self.written] or list(times)
        written = [self.written.get(i, (0, 0)) for i in done]
        changed = sum(self.feed.changed_bytes[i] for i in done)
        live = sum(len(t.encode()) for t in self.feed.live.values())
        return {
            "sources.bytes_written_per_op": sum(b for b, _ in written) / len(written),
            "sources.files_written_per_op": sum(f for _, f in written) / len(written),
            "sources.write_amp": sum(b for b, _ in written) / changed,
            "sources.space_amp": _disk_usage(self.root)[0] / live,
        }

    def _live_docs(self):
        """The newest committed version of the document state, read
        from its files (``docs/v<N>/_COMMITTED``)."""
        docs = os.path.join(self.root, "docs")
        v = max(
            int(n[1:])
            for n in os.listdir(docs)
            if os.path.exists(os.path.join(docs, n, "_COMMITTED"))
        )
        state = self.spark.read.parquet(os.path.join(docs, f"v{v}"))
        return cdc_live(state).select("doc_id", "text")


def _disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


WORKLOADS = {
    w.name: w for w in (GraphragDag, PretrainFunnel, RagServing, IndexMaintenance)
}
