"""``util.local_frame``: driver-built tables as Arrow local relations.

Fork agreement with the list path (``spark.createDataFrame(list,
schema)``) on edge values, the plan shape and job count of the engine's
driver-built tables, and a source guard that keeps every
``createDataFrame`` call inside the helper.
"""

from __future__ import annotations

import ast
import datetime
import math
import os
import struct
import sys
import time
from decimal import Decimal
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphragpart1datapipeline_spark.util import local_frame  # noqa: E402

REPO = Path(__file__).resolve().parent.parent

EDGE_DDL = (
    "i int, l long, f float, d double, b boolean, s string, "
    "a array<double>, dt date, ts timestamp, ntz timestamp_ntz, "
    "dec decimal(12,3), ats array<timestamp>"
)
NAN, INF = float("nan"), float("inf")
EDGE_ROWS = [
    (
        1, 2**62, 0.1, NAN, True, "x", [NAN, -0.0, INF, -INF, None, 0.0],
        datetime.date(2024, 3, 10),
        datetime.datetime(2024, 3, 10, 2, 30),  # DST gap in New York
        datetime.datetime(2024, 3, 10, 2, 30),
        Decimal("123456789.125"),
        [datetime.datetime(2024, 11, 3, 1, 30), None],  # DST fold
    ),
    (None, None, None, -0.0, None, None, [], None, None, None, None, None),
    (
        -(2**31), -(2**63), -0.0, -INF, False, "", None,
        datetime.date(1900, 1, 1),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
        datetime.datetime(1970, 1, 1),
        Decimal("-0.001"),
        [],
    ),
    (
        2**31 - 1, 2**63 - 1, INF, 0.0, True, "é\u0000", [-0.0],
        datetime.date(9999, 12, 31),
        datetime.datetime(2024, 7, 1, 12, 0, 0, 1),
        datetime.datetime(2024, 7, 1, 12, 0, 0, 1),
        Decimal("999999999.999"),
        [datetime.datetime(2000, 1, 1)],
    ),
]


def _key(v):
    """Comparable form of a collected value: floats by bit pattern so
    NaN equals NaN and -0.0 differs from 0.0."""
    if isinstance(v, float):
        return ("f", struct.pack(">d", v))
    if isinstance(v, (list, tuple)):
        return tuple(_key(x) for x in v)
    return v


def _assert_same(spark, rows, schema):
    arrow = local_frame(spark, rows, schema)
    listed = spark.createDataFrame(rows, schema)
    assert arrow.schema == listed.schema
    assert [_key(tuple(r)) for r in arrow.collect()] == [
        _key(tuple(r)) for r in listed.collect()
    ]
    return arrow, listed


@pytest.fixture
def new_york_tz():
    """Run the test with the process in a non-UTC zone with DST."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_local_frame_matches_list_path_on_edge_values(spark, new_york_tz):
    arrow, listed = _assert_same(spark, EDGE_ROWS, EDGE_DDL)

    # the stored instants agree too, not only their local rendering
    def instants(df):
        return df.select(
            F.unix_micros("ts"),
            F.transform("ats", lambda x: F.unix_micros(x)),
            F.unix_date("dt"),
            F.col("ntz").cast("string"),
        ).collect()

    assert instants(arrow) == instants(listed)
    _assert_same(spark, [], EDGE_DDL)


_double = st.one_of(
    st.none(),
    st.sampled_from([NAN, INF, -INF, 0.0, -0.0]),
    st.floats(allow_nan=True, allow_infinity=True),
)


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
            _double,
            _double,
            st.one_of(st.none(), st.booleans()),
            st.one_of(st.none(), st.text(max_size=5)),
            st.one_of(st.none(), st.lists(_double, max_size=4)),
        ),
        max_size=6,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_local_frame_agrees_with_list_path(spark, rows):
    _assert_same(
        spark,
        rows,
        "i int, l long, f float, d double, b boolean, s string, "
        "a array<double>",
    )


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(2**31,)], "x int"),
        ([(-(2**31) - 1,)], "x int"),
        ([(2**63,)], "x long"),
        ([([1, 2**63],)], "x array<long>"),
        ([(1.5,)], "x long"),
        ([("1",)], "x long"),
    ],
)
def test_local_frame_rejects_unrepresentable_values(spark, rows, ddl):
    with pytest.raises((ValueError, TypeError)):
        spark.createDataFrame(rows, ddl)
    with pytest.raises((ValueError, TypeError)):
        local_frame(spark, rows, ddl)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_driver_built_tables_plan_as_local_relations(spark):
    from graphragpart1datapipeline_spark.dedup.incremental import _params_table
    from graphragpart1datapipeline_spark.graph.communities import (
        detect_communities,
    )
    from graphragpart1datapipeline_spark.vector.kmeans import centroids_df
    from graphragpart1datapipeline_spark.vector.mmr import mmr_rerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")],
        "src string, dst string",
    )
    members = detect_communities(
        spark, edges, resolutions=(1.0,), algorithm="leiden-vendored"
    )
    _assert_local(members)
    assert members.count() == 5
    _assert_local(centroids_df(spark, [(0, [1.0, -0.0]), (1, [NAN, 2.0])]))
    cands = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.9), (2, [0.0, 1.0], 0.5)],
        "vec_id long, embedding array<double>, score double",
    )
    _assert_local(mmr_rerank(cands, k=2))
    _assert_local(_params_table(spark, d=2, t_num=7))


def test_check_params_runs_no_job(spark):
    from graphragpart1datapipeline_spark.dedup.incremental import (
        _check_params,
        _params_table,
    )

    index = {"params": _params_table(spark, d=2, t_num=7)}
    sc = spark.sparkContext
    sc.setJobGroup("check-params", "check-params")
    try:
        _check_params(index, "probe", d=2, t_num=7)
        with pytest.raises(ValueError, match="d: index=2 probe=3"):
            _check_params(index, "probe", d=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("check-params")


@pytest.mark.parametrize("id_col", ["doc id", "a-b", "order"])
def test_mmr_rerank_accepts_any_id_column_name(spark, id_col):
    from graphragpart1datapipeline_spark.vector.mmr import mmr_rerank

    rows = [
        ("d1", [1.0, 0.0], 0.99),
        ("d2", [1.0, 0.001], 0.98),
        ("d3", [0.0, 1.0], 0.60),
    ]
    cands = spark.createDataFrame(
        rows, "id string, embedding array<double>, score double"
    )
    want = [
        tuple(r)
        for r in mmr_rerank(cands, k=3, id_col="id").orderBy("rank").collect()
    ]
    got_df = mmr_rerank(
        cands.withColumnRenamed("id", id_col), k=3, id_col=id_col
    )
    assert got_df.columns == ["rank", id_col, "relevance", "mmr_score"]
    assert [tuple(r) for r in got_df.orderBy("rank").collect()] == want
    assert math.isclose(want[0][2], 0.99)


def _create_dataframe_calls(path: Path):
    """(line, enclosing function) of every ``createDataFrame(`` call."""
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((child.lineno, func))
            walk(child, func)

    walk(tree, None)
    return found


def test_driver_built_tables_go_through_local_frame():
    """A ``createDataFrame`` on a Python list plans as a PythonRDD scan
    that starts a Python worker per partition on every read; driver-
    built tables in the engine and the entry module must use
    ``util.local_frame`` instead."""
    util = REPO / "graphragpart1datapipeline_spark" / "util.py"
    files = sorted((REPO / "graphragpart1datapipeline_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    offenders = [
        f"{path.relative_to(REPO)}:{line}"
        for path in files
        for line, func in _create_dataframe_calls(path)
        if not (path == util and func == "local_frame")
    ]
    assert not offenders, offenders
    assert [f for _, f in _create_dataframe_calls(util)] == ["local_frame"]
