"""The graphrag DAG computes each shared stage once.

``deduped``, ``articles`` and ``chunk_embeddings`` each have several
readers and pin their own output with an eager ``localCheckpoint``.
These tests lock that: the dedup and the embedder run once per row
whatever the caller reads, the sinks read the pinned chunk lineage, a
second run never reuses the first run's rows, and ``Pipeline.stage``
rejects a repeated stage name.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from graphragpart1datapipeline_spark.plans import Pipeline
from graphragpart1datapipeline_spark.plans import graphrag_demo
from graphragpart1datapipeline_spark.plans.graphrag_demo import build_graphrag_pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_duplicate_stage_name_raises():
    p = Pipeline()

    @p.stage("x")
    def first(s):
        return None

    with pytest.raises(ValueError, match="duplicate stage name"):
        @p.stage("x")
        def second(s):
            return None

    assert [st.fn for st in p.stages] == [first]


def _write_docs(sf_dir, texts) -> set[int]:
    """Write ``documents.parquet`` and return the ids exact dedup keeps
    (the smallest doc_id per distinct text)."""
    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [("en", "de", "fr")[i % 3] for i in range(n)],
            "source": [f"site{i % 4}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        f"{sf_dir}/documents.parquet",
    )
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    return set(first.values())


def _texts(seed: int, n: int, dups: dict[int, int]) -> list[str]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(300)]
    texts = [" ".join(rng.choices(vocab, k=120)) for _ in range(n)]
    for i, j in dups.items():
        texts[i] = texts[j]
    return texts


def test_graphrag_shared_stages_computed_once(spark, tmp_path, monkeypatch):
    """Count per-row calls of the dedup output and of the embedder's
    input with identity Python UDFs; every stage's frame is then read,
    as a caller would. Unpinned, each reader re-runs the lineage."""
    want = _write_docs(tmp_path, _texts(3, 12, {1: 0}))
    sc = spark.sparkContext
    dedup_calls, embed_calls = sc.accumulator(0), sc.accumulator(0)

    def counting(acc):
        def ident(v):
            acc.add(1)
            return v

        return F.udf(ident, StringType())

    count_dedup, count_embed = counting(dedup_calls), counting(embed_calls)
    exact_dedup, hash_embed = graphrag_demo.exact_dedup, graphrag_demo.hash_embed
    monkeypatch.setattr(
        graphrag_demo,
        "exact_dedup",
        lambda docs, **kw: exact_dedup(docs, **kw).withColumn("text", count_dedup("text")),
    )
    monkeypatch.setattr(
        graphrag_demo,
        "hash_embed",
        lambda col, **kw: hash_embed(count_embed(F.col(col)), **kw),
    )

    out = build_graphrag_pipeline(str(tmp_path)).run(spark)
    rows = {name: df.collect() for name, df in out.items()}
    assert {r.doc_id for r in rows["deduped"]} == want
    assert len(rows["search_demo"]) == 5
    assert dedup_calls.value == len(want)
    assert embed_calls.value == len(rows["chunk_embeddings"])
    # the sinks read the pinned chunk lineage, not the mapInPandas stages
    for name in ("chunk_embeddings", "search_demo"):
        plan = _plan(out[name])
        assert "ExistingRDD" in plan, name
        assert "MapInPandas" not in plan and "MapInArrow" not in plan, name


def test_graphrag_rerun_reads_rewritten_file(spark, tmp_path):
    want1 = _write_docs(tmp_path, _texts(1, 12, {1: 0}))
    out1 = build_graphrag_pipeline(str(tmp_path)).run(spark)
    assert {r.doc_id for r in out1["deduped"].collect()} == want1
    # same path, new texts: a plan-matched cache would hand back run 1's rows
    want2 = _write_docs(tmp_path, _texts(2, 12, {5: 4, 9: 2}))
    assert want2 != want1
    out2 = build_graphrag_pipeline(str(tmp_path)).run(spark)
    assert {r.doc_id for r in out2["deduped"].collect()} == want2
