"""Driver-built frames (pyjanitor_spark/utils/local.py): rows an
operator holds on the driver become a ``LocalRelation`` with the exact
column types the row-list ``createDataFrame`` path gives, so reading
them starts no Python worker (a row list would be a ``LogicalRDD`` over
a pickled Python RDD)."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F

import pyjanitor_spark as pj
from pyjanitor_spark.operators.dedup import near_dup_clusters
from pyjanitor_spark.utils.local import local_frame


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def test_local_frame_matches_row_list_path(spark):
    ddl = (
        "a long, b int, c string, d double, e date, f timestamp, "
        "g timestamp_ntz, h array<array<double>>, i decimal(10,2), "
        "j map<string,int>, k struct<x:int,y:string>, l binary, m boolean, "
        "n array<bigint>, o float, p short, q byte"
    )
    rows = [
        (
            1, 2, "x", 1.5, datetime.date(2020, 1, 2),
            datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
            datetime.datetime(2021, 5, 6, 7, 8, 9), [[1.0, 2.0], [3.0]],
            decimal.Decimal("1.25"), {"a": 1}, (1, "q"), b"ab", True, [1, 2],
            0.5, 3, 4,
        ),
        (None,) * 17,
    ]
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert _is_local(got)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


_GRAPH = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 10), (20, 20), (30, 31),
          (31, 30), (5, None), (None, None), (40, 41), (41, 42), (40, 42)]


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_near_dup_clusters_small_graph_is_local(spark, id_type):
    """The small-graph labels are a driver-built ``LocalRelation`` whose
    labels equal star contraction's (``small_graph_edges=0``)."""
    pairs = spark.createDataFrame(_GRAPH, "id_1 long, id_2 long").select(
        F.col("id_1").cast(id_type).alias("id_1"),
        F.col("id_2").cast(id_type).alias("id_2"),
    )
    out = near_dup_clusters(pairs, id_col="id")
    star = near_dup_clusters(pairs, id_col="id", small_graph_edges=0)
    assert _is_local(out)
    assert out.schema == star.schema
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {r["id"]: r["cluster_id"] for r in star.collect()}
    assert len(got) == 14


def test_near_dup_clusters_empty_pairs_is_local(spark):
    pairs = spark.createDataFrame([], "id_1 long, id_2 long")
    out = near_dup_clusters(pairs, id_col="id")
    assert _is_local(out)
    assert out.collect() == []
    assert dict(out.dtypes) == {"id": "bigint", "cluster_id": "bigint"}


_VALUE_SETS = [
    [3, 1, 2],
    [0.5, 2.0],
    ["a", "b"],
    [datetime.date(2020, 1, 1), datetime.date(2020, 1, 3)],
    [datetime.datetime(2020, 1, 1, 12), datetime.datetime(2020, 1, 2, 0, 0, 1)],
    [decimal.Decimal("1.50"), decimal.Decimal("2.25")],
    [True, False],
]


@pytest.mark.parametrize("values", _VALUE_SETS, ids=lambda v: type(v[0]).__name__)
def test_complete_dict_spec_keeps_inferred_types(spark, values):
    """A dict value spec takes the types Spark infers for the row list."""
    want = spark.createDataFrame([(v,) for v in values], ["v"])
    grid = pj.expand(want, {"v": values})
    assert _is_local(grid)
    assert grid.schema == want.schema
    assert grid.collect() == want.collect()
    df = spark.createDataFrame([("k1", values[0])], ["k", "v"])
    out = pj.complete(df, "k", {"v": values})
    assert out.schema["v"] == want.schema["v"]
    assert sorted(r["v"] for r in out.collect()) == sorted(values)


def test_bpe_merges_keep_ddl_types(spark):
    df = spark.createDataFrame([("low lower lowest",), ("lower low",)], "text string")
    merges = pj.bpe_train(df, "text", n_merges=3, min_frequency=1)
    assert _is_local(merges)
    assert merges.dtypes == [("rank", "int"), ("left", "string"), ("right", "string")]
    assert [r["rank"] for r in merges.collect()] == [1, 2, 3]
