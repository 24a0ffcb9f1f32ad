"""Incremental corpus curation: keep a curated document state AND its
derived indexes (MinHash-LSH bucket table, hash-embedding vector store)
current from a document CHANGE FEED — without ever recomputing the
corpus. This is the operating mode a 100 TB pipeline actually runs in:
the initial build happens once; every day after that is an increment.

State layout (versioned tables — ``sources/versioned.py`` owns the
layout and the commit protocol):

    root/docs/v{N}   CDC document state (+__cdc_seq, +__cdc_deleted)
    root/lsh/v{N}    (doc_id, band, bucket) LSH index of LIVE docs
    root/emb/v{N}    (doc_id, embedding) hash-embedding store of LIVE docs

The maintained invariant — checked by
test_incremental_corpus_rebuild_equivalence — is REBUILD EQUIVALENCE:
after applying a change feed in ANY batch split, every index equals
what a from-scratch rebuild over the final live state produces. That
holds by induction because each increment replaces exactly the touched
keys' index rows:

    new_index = old_index ⟨anti-join touched⟩ ∪ derive(touched ∧ alive)

and the CDC merge itself is out-of-order-safe (per-key applied seq +
tombstones). Per increment the merge (one change-feed window + one key
full-outer join) runs ONCE, in the state write; the index refresh
reads the touched live rows back from that committed version, then
does one key anti-join per index and derivation over the TOUCHED rows
only. ``live_after`` is observed on the state write; ``changes`` and
``touched_keys`` are one aggregate over the batch.

Near-dup flags against the standing index come from
``minhash_lsh_incremental(corpus_buckets=...)`` — advisory per-batch
output (what to quarantine), while the indexes stay pure functions of
the live state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..dedup.minhash import (
    lsh_bucket_table,
    minhash_lsh_incremental,
    minhash_signatures,
)
from ..operators.relational import cdc_live, cdc_upsert_state
from ..sources.versioned import read_version, write_version
from ..streaming.cdc import init_cdc_state
from ..vector.search import hash_embed

NUM_HASHES = 8
BANDS = 4
EMB_DIM = 16


def _lsh_rows(docs: DataFrame) -> DataFrame:
    sigs = minhash_signatures(
        docs.select("doc_id", "text"), num_hashes=NUM_HASHES
    )
    return lsh_bucket_table(sigs, bands=BANDS)


def _emb_rows(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", hash_embed("text", dim=EMB_DIM).alias("embedding")
    )


def init_corpus_state(
    spark: SparkSession, root: str, docs: DataFrame
) -> None:
    """One-time build: seed the CDC state and derive both indexes from
    the initial live corpus. ``docs`` = (doc_id, text). Re-seeding a
    used ``root`` commits a new version of each, so reads serve the new
    seed."""
    init_cdc_state(docs.select("doc_id", "text"), os.path.join(root, "docs"))
    write_version(_lsh_rows(docs), os.path.join(root, "lsh"))
    write_version(_emb_rows(docs), os.path.join(root, "emb"))


def apply_increment(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    jaccard_threshold: float = 0.7,
) -> dict:
    """Apply one change batch (doc_id, text, seq, op) and refresh both
    indexes for exactly the touched keys. Returns per-stage counts plus
    the advisory near-dup flags of the batch's upserts against the
    standing LSH index (computed BEFORE the index absorbs them)."""
    docs_dir = os.path.join(root, "docs")
    lsh_dir = os.path.join(root, "lsh")
    emb_dir = os.path.join(root, "emb")

    state, sv = read_version(spark, docs_dir)
    old_lsh, lv = read_version(spark, lsh_dir)
    old_emb, ev = read_version(spark, emb_dir)
    touched = changes.select("doc_id").distinct()

    # advisory: which incoming upserts near-duplicate the standing
    # corpus (index rows of keys being replaced excluded — a doc must
    # not match its own previous revision)
    incoming = changes.filter(F.col("op") != "D").select("doc_id", "text")
    flags = minhash_lsh_incremental(
        incoming,
        corpus_df=cdc_live(state).select("doc_id", "text"),
        corpus_buckets=old_lsh.join(touched, "doc_id", "left_anti"),
        num_hashes=NUM_HASHES,
        bands=BANDS,
        jaccard_threshold=jaccard_threshold,
    )

    new_state = cdc_upsert_state(state, changes, ["doc_id"], "seq")
    live = Observation()
    n_live = F.count_if(~F.coalesce(F.col("__cdc_deleted"), F.lit(False)))
    vdir = write_version(new_state.observe(live, n_live.alias("n")), docs_dir, sv + 1)
    committed = spark.read.schema(new_state.schema).parquet(vdir)
    live_touched = cdc_live(committed).join(touched, "doc_id", "left_semi")
    new_lsh = old_lsh.join(touched, "doc_id", "left_anti").unionByName(
        _lsh_rows(live_touched)
    )
    write_version(new_lsh, lsh_dir, lv + 1)
    new_emb = old_emb.join(touched, "doc_id", "left_anti").unionByName(
        _emb_rows(live_touched)
    )
    write_version(new_emb, emb_dir, ev + 1)

    # a struct is never NULL: a NULL key counts once, as in distinct()
    n_changes, n_touched = changes.agg(
        F.count(F.lit(1)), F.count_distinct(F.struct("doc_id"))
    ).first()
    return {
        "changes": n_changes,
        "touched_keys": n_touched,
        "live_after": live.get["n"],
        "near_dup_flags": flags.count(),
    }


def rebuild_indexes(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """From-scratch derivation over the current live state — the
    equivalence target the incremental path must match."""
    live = cdc_live(read_version(spark, os.path.join(root, "docs"))[0])
    return {"lsh": _lsh_rows(live), "emb": _emb_rows(live)}


def read_indexes(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    return {
        k: read_version(spark, os.path.join(root, k))[0] for k in ("lsh", "emb")
    }
