"""Thin named-stage pipeline runner.

The reference's Dagster asset DAG (definitions.py:20-31, deps via
function parameters) becomes a topologically-executed list of stages;
the per-asset Parquet handoffs become optional checkpoint tables (kept
— they are the test/verification seams; SURVEY §3.1). Catalyst replaces
the Polars lazy optimizer, so a stage that doesn't checkpoint hands its
lazy plan to its readers and fuses into their plans.

Fusing is not free: every job that reads an unpinned frame re-runs its
whole lineage. The reference computes each asset once and hands every
consumer the persisted copy (io_managers.py:76-232). Here that is the
stage's own call: a stage whose output is read more than once — by
several stages, by the caller as well as a stage, or several times
inside one stage — returns it pinned with ``localCheckpoint`` (the
graphrag DAG's ``deduped``, ``articles`` and ``chunk_embeddings``; the
pretrain DAG's ``near_deduped`` and ``split_assigned``). A stage read
once, and a source (re-scanning it keeps Parquet column and filter
pruning), stay fused. Pins are local checkpoints, never
``cache()``/``persist()``: the cache matches plans across runs, so a
second run over files rewritten at the same path could reuse the first
run's rows.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    deps: Sequence[str]
    fn: Callable[..., DataFrame]  # receives (spark, *dep_dataframes)
    checkpoint: str | None = None  # parquet path → materialize + re-scan


@dataclass
class Pipeline:
    stages: list[Stage] = field(default_factory=list)

    def stage(
        self,
        name: str,
        deps: Sequence[str] = (),
        checkpoint: str | None = None,
    ):
        if any(st.name == name for st in self.stages):
            raise ValueError(f"duplicate stage name: {name!r}")

        def deco(fn: Callable[..., DataFrame]):
            self.stages.append(Stage(name, deps, fn, checkpoint))
            return fn

        return deco

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        done: dict[str, DataFrame] = {}
        remaining = list(self.stages)
        while remaining:
            progressed = False
            for st in list(remaining):
                if all(d in done for d in st.deps):
                    out = st.fn(spark, *[done[d] for d in st.deps])
                    if st.checkpoint:
                        out.write.mode("overwrite").parquet(st.checkpoint)
                        out = spark.read.parquet(st.checkpoint)
                    done[st.name] = out
                    remaining.remove(st)
                    progressed = True
            if not progressed:
                missing = {d for st in remaining for d in st.deps} - set(done)
                raise ValueError(f"unresolvable stage deps: {sorted(missing)}")
        return done
