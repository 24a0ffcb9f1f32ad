"""``sources.versioned``: the one versioned-table store.

Re-seeding a used state directory serves the new seed (and nothing an
earlier seed built that the new one did not), a stream over
an uninitialised state directory fails before it starts, and a source
guard keeps the ``v{N}`` + ``_COMMITTED`` layout inside the store.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
STORE = REPO / "graphragpart1datapipeline_spark" / "sources" / "versioned.py"


def _doc_ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").distinct().collect())


def test_reseeding_a_root_serves_the_new_seed(spark, tmp_path):
    """A seed is a new version on top of the newest one: re-seeding a
    root that already took an increment must not leave the older,
    higher-numbered version as the one reads serve."""
    from graphragpart1datapipeline_spark.operators.relational import cdc_live
    from graphragpart1datapipeline_spark.plans.incremental_demo import (
        apply_increment,
        init_corpus_state,
        read_indexes,
    )
    from graphragpart1datapipeline_spark.streaming.cdc import read_cdc_state

    root = str(tmp_path / "c")
    init_corpus_state(
        spark,
        root,
        spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "one two three four")],
            "doc_id long, text string",
        ),
    )
    apply_increment(
        spark,
        root,
        spark.createDataFrame(
            [(3, "red green blue yellow", 1, "U")],
            "doc_id long, text string, seq long, op string",
        ),
    )
    init_corpus_state(
        spark,
        root,
        spark.createDataFrame([(9, "a fresh seed text")], "doc_id long, text string"),
    )
    assert _doc_ids(cdc_live(read_cdc_state(spark, os.path.join(root, "docs")))) == [9]
    idx = read_indexes(spark, root)
    assert _doc_ids(idx["lsh"]) == [9]
    assert _doc_ids(idx["emb"]) == [9]


def test_reseeding_maintenance_drops_unbuilt_optional_artifacts(spark, tmp_path):
    """A re-seed without ``pq_m`` / ``nb_label_col`` must not leave the
    earlier seed's PQ index or NB classifier behind: their presence is
    what tells reads and the loop to serve and fold them."""
    from graphragpart1datapipeline_spark.streaming.maintenance import (
        init_maintenance_state,
        read_maintenance_state,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "beta gamma", "de")],
        "doc_id long, text string, lang string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, embedding array<double>",
    )
    work = str(tmp_path / "maint")
    init_maintenance_state(
        docs, emb, cents, work, pq_m=2, pq_ksub=2, nb_label_col="lang"
    )
    state = read_maintenance_state(spark, work)
    assert "pq" in state and "nb" in state
    init_maintenance_state(
        docs.filter("doc_id = 1").select("doc_id", "text"),
        emb.filter("vec_id = 1"),
        cents,
        work,
    )
    state = read_maintenance_state(spark, work)
    assert "pq" not in state and "nb" not in state
    assert _doc_ids(state["docs"]) == [1]
    assert not os.path.exists(os.path.join(work, "pq_codebook"))


def test_stream_cdc_apply_requires_init(spark, tmp_path):
    from graphragpart1datapipeline_spark.streaming.cdc import stream_cdc_apply

    never = str(tmp_path / "never")
    changes = spark.readStream.format("rate").load()
    with pytest.raises(FileNotFoundError, match="never"):
        stream_cdc_apply(changes, never, ["value"], "timestamp")
    assert not spark.streams.active


def test_stream_maintenance_requires_init(spark, tmp_path):
    from graphragpart1datapipeline_spark.streaming.maintenance import (
        stream_maintenance,
    )

    never = str(tmp_path / "never")
    changes = spark.readStream.format("rate").load()
    with pytest.raises(FileNotFoundError, match="never"):
        stream_maintenance(changes, never)
    assert not spark.streams.active


def _layout_uses(path: Path) -> list[int]:
    """Lines of ``path`` that spell the versioned layout: a
    ``_COMMITTED`` string (docstrings aside), a reference to the
    retired ``_latest_version``/``_mark_committed`` helpers, or an
    f-string that builds a ``v{N}`` path segment."""
    tree = ast.parse(path.read_text(), str(path))
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    retired = {"_latest_version", "_mark_committed"}
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "_COMMITTED" in node.value and id(node) not in docstrings:
                found.append(node.lineno)
        elif isinstance(node, ast.Name) and node.id in retired:
            found.append(node.lineno)
        elif isinstance(node, ast.Attribute) and node.attr in retired:
            found.append(node.lineno)
        elif isinstance(node, ast.alias) and node.name in retired:
            found.append(node.lineno)
        elif isinstance(node, ast.JoinedStr):
            parts = node.values
            if any(
                isinstance(a, ast.Constant)
                and (a.value == "v" or a.value.endswith("/v"))
                and isinstance(b, ast.FormattedValue)
                for a, b in zip(parts, parts[1:])
            ):
                found.append(node.lineno)
    return sorted(found)


def test_layout_guard_flags_each_spelling(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        '"""Mentions _COMMITTED in a docstring only."""\n'
        "import os\n"
        "from x import _latest_version\n"
        'a = os.path.join(d, f"v{v}")\n'
        'b = f"{d}/v{v + 1}"\n'
        'c = "_COMMITTED"\n'
        "m._mark_committed(s, d)\n"
        'ok = f"__v{i}"\n'
    )
    assert _layout_uses(probe) == [3, 4, 5, 6, 7]


def test_versioned_layout_lives_in_one_module():
    """Only ``sources/versioned.py`` knows the ``d/v{N}`` layout and the
    ``_COMMITTED`` commit marker; every other module reads and writes
    versioned state through it."""
    files = sorted((REPO / "graphragpart1datapipeline_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    offenders = [
        f"{path.relative_to(REPO)}:{line}"
        for path in files
        if path != STORE
        for line in _layout_uses(path)
    ]
    assert not offenders, offenders
    assert _layout_uses(STORE), "the guard no longer recognises the store's own layout"
