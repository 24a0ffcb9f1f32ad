"""End-to-end GraphRAG pipeline composed from the engine's operators —
the reference's full asset DAG (SURVEY §3.1: extract → normalize/dedup →
graph tables → sections → chunks → context headers → embeddings →
communities → rollups/naming → vector search) re-expressed as one
`plans.Pipeline` over the synthetic documents/embeddings tables.

Every stage is a DataFrame → DataFrame function already verified
individually (COVERAGE.md); this module verifies they COMPOSE: the
output of each stage feeds the next exactly as the reference's I/O
managers hand Parquet between assets (io_managers.py:76-232). A real
deployment swaps hash_embed for a model-backed pandas_udf and the
driver-local community stage for its bounded contract — no plan shape
changes. The stages read more than once pin their output (eager
``localCheckpoint``): ``deduped``, ``articles`` and ``chunk_embeddings``
— the last is read by the caller and by ``search_demo``, so a swapped-in
model embedder runs once per run and both see the same vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup import exact_dedup
from ..functions import context_header
from ..graph.communities import (
    community_name,
    community_rollup,
    detect_communities,
)
from ..operators import top_n_frequency
from ..sources import read_table
from ..text.chunking import recursive_split_chunks
from ..text.sections import split_sections
from ..vector import cosine_topk, hash_embed
from .pipeline import Pipeline


def build_graphrag_pipeline(sf_dir: str, checkpoint_dir: str | None = None) -> Pipeline:
    """Wire the full dataflow. With ``checkpoint_dir``, the chunk table
    materializes to Parquet mid-pipeline (the reference's inter-asset
    handoff seam)."""
    p = Pipeline()
    ckpt = (lambda n: f"{checkpoint_dir}/{n}") if checkpoint_dir else (lambda n: None)

    @p.stage("documents")
    def documents(spark: SparkSession) -> DataFrame:
        return read_table(spark, sf_dir, "documents")

    @p.stage("deduped", deps=["documents"])
    def deduped(spark: SparkSession, docs: DataFrame) -> DataFrame:
        # exact content dedup before any downstream work (cheapest cut);
        # three stages read it. The pin is eager so the dedup runs once
        # before any reader: a lazy one races when two jobs, or the two
        # branches of graph_edges' union, read it first
        return exact_dedup(docs, text_col="text", id_col="doc_id").localCheckpoint(
            eager=True
        )

    @p.stage("articles", deps=["deduped"])
    def articles(spark: SparkSession, docs: DataFrame) -> DataFrame:
        # synthesize sectioned articles (same construction as q37)
        return docs.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").cast("string").alias("id"),
            F.col("lang"),
            F.col("source"),
            F.concat(
                F.substring("text", 1, 80),
                F.lit("\n== Details ==\n"),
                F.substring(F.col("text"), 81, 1 << 30),
            ).alias("text"),
        ).localCheckpoint(eager=True)  # read by sections and chunks

    @p.stage("sections", deps=["articles"])
    def sections(spark: SparkSession, arts: DataFrame) -> DataFrame:
        return split_sections(arts, id_col="id", text_col="text")

    @p.stage("chunks", deps=["sections", "articles"], checkpoint=ckpt("chunks"))
    def chunks(spark: SparkSession, secs: DataFrame, arts: DataFrame) -> DataFrame:
        ch = recursive_split_chunks(
            secs.select(
                F.concat_ws("#", "id", "section").alias("id"),
                F.col("content").alias("text"),
            ),
            id_col="id",
            text_col="text",
            chunk_tokens=48,
            overlap_tokens=8,
        )
        parts = F.split(F.col("id"), "#")
        meta = arts.select(
            F.col("id").alias("doc_id"), "lang", "source"
        )
        enriched = (
            ch.select(
                parts.getItem(0).alias("doc_id"),
                parts.getItem(1).alias("section"),
                "chunk_index",
                "total_chunks",
                F.col("chunk").alias("text"),
            )
            .join(meta, "doc_id")
            .withColumn(
                "text",
                F.concat(
                    context_header(
                        topic=F.concat(F.lit("Doc "), F.col("doc_id")),
                        genres=F.array(F.col("lang")),
                        country=F.col("source"),
                        active_since=F.lit(None).cast("int"),
                        name=F.col("doc_id"),
                        section=F.col("section"),
                    ),
                    F.lit(" "),
                    F.col("text"),
                ),
            )
        )
        return enriched.withColumn(
            "chunk_id",
            F.concat_ws("_", "doc_id", "section", F.col("chunk_index").cast("string")),
        )

    @p.stage("chunk_embeddings", deps=["chunks"])
    def chunk_embeddings(spark: SparkSession, ch: DataFrame) -> DataFrame:
        # read by search_demo and by the caller (the vector store)
        return ch.select(
            "chunk_id", "doc_id", hash_embed("text", dim=32).alias("embedding")
        ).localCheckpoint(eager=True)

    @p.stage("graph_edges", deps=["deduped"])
    def graph_edges(spark: SparkSession, docs: DataFrame) -> DataFrame:
        # bipartite doc→lang and doc→source edges (artist→genre analog)
        d = F.concat(F.lit("d"), F.col("doc_id").cast("string"))
        return (
            docs.select(d.alias("src"), F.concat(F.lit("lang:"), "lang").alias("dst"))
            .unionByName(
                docs.select(
                    d.alias("src"), F.concat(F.lit("src:"), "source").alias("dst")
                )
            )
        )

    @p.stage("communities", deps=["graph_edges"])
    def communities(spark: SparkSession, edges: DataFrame) -> DataFrame:
        return detect_communities(spark, edges, resolutions=(2.0, 0.5))

    @p.stage("community_meta", deps=["communities", "deduped"])
    def community_meta(spark: SparkSession, comm: DataFrame, docs: DataFrame) -> DataFrame:
        members = (
            comm.filter(F.col("id").startswith("d"))
            .select(
                F.expr("substring(id, 2)").cast("long").alias("doc_id"),
                F.col("community_L0").alias("community"),
            )
            .join(docs, "doc_id")
            .select(
                "community",
                F.col("doc_id").cast("string").alias("id"),
                "source",
                F.split(F.trim("text"), r"\s+").alias("words"),
                F.array("lang").alias("langs"),
            )
        )
        rolled = community_rollup(
            members,
            community_col="community",
            id_col="id",
            tags_col="words",
            genres_col="langs",
            country_col="source",
            similar_col="words",
            name_col="id",
        )
        return rolled.withColumn(
            "name", community_name(F.col("top_countries"), F.col("top_genres"))
        )

    @p.stage("community_summaries", deps=["community_meta"])
    def community_summaries(spark: SparkSession, meta: DataFrame) -> DataFrame:
        from ..text.llm import build_summary_prompt, echo_summarizer, generate_with

        prompted = meta.withColumn(
            "prompt",
            build_summary_prompt(
                F.col("name"),
                F.col("member_count"),
                F.col("top_genres"),
                F.col("top_countries"),
                F.col("representative_artists"),
            ),
        )
        return generate_with(
            prompted.select("community", "name", "prompt"),
            prompt_col="prompt",
            generator=echo_summarizer,  # model-backed callable in prod
        )

    @p.stage("search_demo", deps=["chunk_embeddings"])
    def search_demo(spark: SparkSession, emb: DataFrame) -> DataFrame:
        row = emb.orderBy("chunk_id").select("embedding").head()
        return cosine_topk(
            emb, row[0], k=5, vec_col="embedding", id_col="chunk_id"
        )

    return p


def run_graphrag_demo(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> dict[str, DataFrame]:
    return build_graphrag_pipeline(sf_dir, checkpoint_dir).run(spark)
