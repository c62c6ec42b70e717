"""conditional_join differential tests: compare every strategy against
the brute-force crossJoin+filter (the reference's own property-test
approach, ``tests/functions/test_conditional_join.py``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pyjanitor_spark as pj


@pytest.fixture
def df1(spark):
    # canonical range-join pair from the reference docstring
    # (conditional_join.py:99-120)
    return spark.createDataFrame([(2,), (5,), (7,), (1,), (3,), (4,)], ["value_1"])


@pytest.fixture
def df2(spark):
    return spark.createDataFrame(
        [(0, 1), (3, 5), (7, 9), (12, 15), (0, 1), (2, 4), (3, 6), (1, 3)],
        ["value_2A", "value_2B"],
    )


def brute(left, right, conds, how="inner"):
    """crossJoin + filter reference implementation."""
    r = right
    for c in set(left.columns) & set(right.columns):
        r = r.withColumnRenamed(c, f"right_{c}")
    pred = None
    opmap = {
        "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
        ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
        "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    }
    for lc, rc, op in conds:
        rc2 = f"right_{rc}" if rc in left.columns else rc
        c = opmap[op](F.col(lc), F.col(rc2))
        pred = c if pred is None else pred & c
    return left.crossJoin(r).filter(pred)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_range_join_inner(df1, df2):
    conds = [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    got = pj.conditional_join(df1, df2, *conds)
    exp = brute(df1, df2, conds)
    assert rows(got.select("value_1", "value_2A", "value_2B")) == rows(exp)


def test_range_join_bucketized(df1, df2):
    conds = [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    got = pj.conditional_join(df1, df2, *conds, use_bucket=True, bucket_width=2.0)
    exp = brute(df1, df2, conds)
    assert rows(got.select("value_1", "value_2A", "value_2B")) == rows(exp)


def test_single_op_le(df1, df2):
    conds = [("value_1", "value_2A", "<=")]
    got = pj.conditional_join(df1, df2, *conds)
    exp = brute(df1, df2, conds)
    assert rows(got.select("value_1", "value_2A", "value_2B")) == rows(exp)


def test_one_sided_range_bucketized_plan(df1, df2):
    """A pure one-sided range join (only an upper OR lower bound) must
    take the bucketized equi-join path — the open side clamps to the
    left domain edge — never a silent BroadcastNestedLoopJoin."""
    for op in ("<", ">="):
        got = pj.conditional_join(df1, df2, ("value_1", "value_2A", op))
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        exp = brute(df1, df2, [("value_1", "value_2A", op)])
        assert rows(got.select("value_1", "value_2A", "value_2B")) == rows(exp)


def test_not_equal(df1, df2):
    conds = [("value_1", "value_2A", "!=")]
    got = pj.conditional_join(df1, df2, *conds)
    exp = brute(df1, df2, conds)
    assert rows(got.select("value_1", "value_2A", "value_2B")) == rows(exp)


def test_mixed_equi_nonequi(orders, lineitem):
    conds = [
        ("o_orderkey", "l_orderkey", "=="),
        ("o_totalprice", "l_extendedprice", ">"),
    ]
    got = pj.conditional_join(orders, lineitem, *conds)
    exp = brute(orders, lineitem, conds)
    assert got.count() == exp.count()
    # plan check: Catalyst must extract the equi key (no nested loop)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


def test_keep_first(df1, df2):
    conds = [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    got = pj.conditional_join(df1, df2, *conds, keep="first")
    # one row per matching left row
    exp = brute(df1, df2, conds).select("value_1").distinct()
    assert got.count() == exp.count()
    # keep='first' picks the smallest right keys per left row;
    # value_1=2 matches only (1,3)
    first_for_2 = got.filter(F.col("value_1") == 2).collect()
    assert len(first_for_2) == 1
    assert first_for_2[0]["value_2A"] == 1
    # value_1=4 matches (3,5), (2,4)?->no (4<4 false), (3,6), (1,... no
    # 4<3 false) => first by (value_2A asc, value_2B asc) = (3,5)
    first_for_4 = got.filter(F.col("value_1") == 4).collect()
    assert (first_for_4[0]["value_2A"], first_for_4[0]["value_2B"]) == (3, 5)


def test_left_join(df1, df2):
    conds = [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    got = pj.conditional_join(df1, df2, *conds, how="left")
    inner_lefts = {r["value_1"] for r in brute(df1, df2, conds).collect()}
    all_lefts = {r["value_1"] for r in df1.collect()}
    nulls = got.filter(F.col("value_2A").isNull())
    assert {r["value_1"] for r in nulls.collect()} == all_lefts - inner_lefts


def test_indicator(df1, df2):
    conds = [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    got = pj.conditional_join(df1, df2, *conds, how="outer", indicator=True)
    vals = {r["_merge"] for r in got.collect()}
    assert "both" in vals
    assert got.filter(F.col("_merge") == "right_only").count() > 0


def test_bucketized_left_join(df1, df2):
    conds = [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    got = pj.conditional_join(
        df1, df2, *conds, how="left", use_bucket=True, bucket_width=2.0
    )
    plain = pj.conditional_join(df1, df2, *conds, how="left")
    assert rows(got.select("value_1", "value_2A", "value_2B")) == rows(
        plain.select("value_1", "value_2A", "value_2B")
    )


def test_get_join_indices(df1, df2):
    idx = pj.get_join_indices(
        df1, df2, [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    )
    assert idx.columns == ["left_index", "right_index"]
    assert idx.count() == brute(
        df1, df2, [("value_1", "value_2A", ">"), ("value_1", "value_2B", "<")]
    ).count()


def test_collision_prefix(spark):
    a = spark.createDataFrame([(1, 10)], ["k", "v"])
    b = spark.createDataFrame([(1, 20)], ["k", "v"])
    out = pj.conditional_join(a, b, ("k", "k", "=="))
    assert set(out.columns) == {"k", "v", "right_k", "right_v"}


def test_keep_first_tie_deterministic_across_layouts(spark):
    # duplicate right keys with distinct payloads: keep='first' must pick
    # the same row regardless of partition layout
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z"), (2, "y"), (2, "x"), (3, "m")],
        ["k", "payload"],
    )
    outs = []
    for nparts in (1, 7):
        out = pj.conditional_join(
            left.repartition(nparts),
            right.repartition(nparts),
            ("k", "k", "=="),
            keep="first",
        )
        outs.append(sorted((r["k"], r["payload"]) for r in out.collect()))
    assert outs[0] == outs[1]
    # content-based tie-break: equal condition values order by
    # md5(to_json(struct(payload))) — recompute the expected pick from the
    # same hash so the assert documents the contract, not a magic value
    import hashlib

    def md5_first(payloads):
        return min(
            payloads,
            key=lambda p: hashlib.md5(f'{{"payload":"{p}"}}'.encode()).hexdigest(),
        )

    assert outs[0] == [
        (1, md5_first(["a", "b"])),
        (2, md5_first(["x", "y", "z"])),
        (3, "m"),
    ]


def test_keep_last_tie_deterministic(spark):
    import hashlib

    left = spark.createDataFrame([(1,)], ["k"])
    right = spark.createDataFrame([(1, "b"), (1, "a"), (1, "c")], ["k", "payload"])
    out = pj.conditional_join(left, right, ("k", "k", "=="), keep="last")
    expected = max(
        ["a", "b", "c"],
        key=lambda p: hashlib.md5(f'{{"payload":"{p}"}}'.encode()).hexdigest(),
    )
    assert [(r["k"], r["payload"]) for r in out.collect()] == [(1, expected)]


@pytest.mark.parametrize("how", ["right", "outer"])
def test_keep_preserves_unmatched_right_rows(spark, how):
    # reference semantics (_keep_output runs BEFORE the null completion):
    # every right row absent from the kept picks resurfaces as a
    # null-left row — including m2, which matched k=1 but lost the
    # keep='first' pick to m1
    left = spark.createDataFrame([(1,), (2,)], ["k"])
    right = spark.createDataFrame(
        [(1, "m1"), (1, "m2"), (5, "u1"), (6, "u2"), (7, "u3")], ["k", "payload"]
    )
    out = pj.conditional_join(
        left, right, ("k", "k", "=="), how=how, keep="first"
    ).collect()
    unmatched = sorted(r["payload"] for r in out if r["k"] is None)
    assert unmatched == ["m2", "u1", "u2", "u3"]
    matched = [r["payload"] for r in out if r["k"] == 1]
    assert matched == ["m1"]


# AQE knobs under which the two reads of a grouped side coalesce its
# shuffle differently (one read prunes the wide column), so a
# monotonically_increasing_id taken above it differs between the reads
_SMALL_COALESCE = {
    "spark.sql.shuffle.partitions": "16",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32kb",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
}


@pytest.fixture
def small_coalesce(spark):
    old = {k: spark.conf.get(k, None) for k in _SMALL_COALESCE}
    for k, v in _SMALL_COALESCE.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def grouped_sides(spark):
    """(left, right, left copy, right copy): both sides are aggregates
    carrying a wide column, and each copy holds the same rows in a
    ``createDataFrame`` frame, which replays identically."""
    wide = F.lit("z" * 60)
    raw = spark.range(0, 20000, 1, 4).select(
        (F.col("id") % 5000).alias("k"), ((F.col("id") * 7919) % 10000 / 10.0).alias("x0")
    )
    left = raw.groupBy("k").agg(
        F.avg("x0").alias("x"), F.max(F.concat(wide, F.col("x0").cast("string"))).alias("m")
    )
    right = (
        spark.range(400, numPartitions=4)
        .select(
            (F.col("id") % 100 * 10.0).alias("lo"),
            (F.col("id") % 100 * 10.0 + 5).alias("hi"),
            F.concat(wide, F.col("id").cast("string")).alias("tag"),
        )
        .groupBy("lo", "hi")
        .agg(F.max("tag").alias("tag"))
    )
    copy = lambda df: spark.createDataFrame(df.collect(), df.schema)  # noqa: E731
    return left, right, copy(left), copy(right)


@pytest.mark.parametrize("keep", ["all", "first", "last"])
@pytest.mark.parametrize("how", ["left", "right", "outer"])
def test_bucketized_outer_join_on_grouped_sides(grouped_sides, small_coalesce, how, keep):
    """The bucketized outer patch-up reads each side twice; a grouped
    side must give the same rows as the plain join and as the join of
    its materialised copy (matched rows were null-padded and as many
    unmatched rows lost when the re-read renumbered the row ids)."""
    from collections import Counter

    left, right, left_copy, right_copy = grouped_sides
    conds = [("x", "lo", ">="), ("x", "hi", "<")]

    def bag(l, r, bucket):
        out = pj.conditional_join(l, r, *conds, how=how, keep=keep, use_bucket=bucket)
        return Counter(map(tuple, out.collect()))

    want = bag(left_copy, right_copy, False)
    assert bag(left_copy, right_copy, True) == want
    assert bag(left, right_copy, True) == want
    assert bag(left_copy, right, True) == want


def test_get_join_indices_positional(spark):
    left = spark.createDataFrame([(10,), (20,), (30,)], ["a"]).coalesce(1)
    right = spark.createDataFrame([(15,), (25,)], ["b"]).coalesce(1)
    out = pj.get_join_indices(left, right, [("a", "b", ">")])
    got = sorted((r["left_index"], r["right_index"]) for r in out.collect())
    # a=20 > b=15 ; a=30 > b=15,25  -> positions (1,0),(2,0),(2,1)
    assert got == [(1, 0), (2, 0), (2, 1)]


def test_get_join_indices_positional_multipartition(spark):
    left = spark.createDataFrame([(i,) for i in range(50)], ["a"]).repartition(5)
    right = spark.createDataFrame([(49,)], ["b"])
    out = pj.get_join_indices(left, right, [("a", "b", "==")])
    rows = out.collect()
    assert len(rows) == 1
    # the matching left index must be a valid position in [0, 50)
    assert 0 <= rows[0]["left_index"] < 50 and rows[0]["right_index"] == 0


def test_df_columns_right_columns_selection(spark, df1, df2):
    out = pj.conditional_join(
        df1, df2,
        ("value_1", "value_2A", ">="), ("value_1", "value_2B", "<="),
        df_columns=["value_1"], right_columns=["value_2A"],
    )
    assert out.columns == ["value_1", "value_2A"]
    # selection is a projection only: same row multiset as the full join
    full = pj.conditional_join(
        df1, df2, ("value_1", "value_2A", ">="), ("value_1", "value_2B", "<=")
    ).select("value_1", "value_2A")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, full.collect()))


def test_column_selection_with_indicator_and_noop_flags(spark, df1, df2):
    out = pj.conditional_join(
        df1, df2, ("value_1", "value_2A", "=="),
        df_columns=["value_1"], right_columns=["value_2B"],
        indicator=True, how="left", use_numba=True, force=True,
    )
    assert out.columns == ["value_1", "value_2B", "_merge"]
    flags = {r["_merge"] for r in out.collect()}
    assert flags <= {"both", "left_only"}


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "a", 5.0), (2, "a", 10.0), (3, "a", 12.0),
             (4, "b", 3.0), (5, "b", 100.0)],
            "lid int, g string, t double",
        )
        right = spark.createDataFrame(
            [("a", 4.0, "r1"), ("a", 10.0, "r2"), ("a", 11.0, "r3"),
             ("b", 50.0, "r4")],
            "g string, t double, tag string",
        )
        return left, right

    def _pick(self, out):
        return {r["lid"]: r["tag"] for r in out.collect()}

    def test_backward_includes_equality(self, spark):
        left, right = self._frames(spark)
        out = pj.asof_join(left, right, on="t", by="g")
        assert self._pick(out) == {1: "r1", 2: "r2", 3: "r3", 4: None, 5: "r4"}

    def test_forward(self, spark):
        left, right = self._frames(spark)
        out = pj.asof_join(left, right, on="t", by="g", direction="forward")
        assert self._pick(out) == {1: "r2", 2: "r2", 3: None, 4: "r4", 5: None}

    def test_nearest_ties_backward(self, spark):
        left, right = self._frames(spark)
        out = pj.asof_join(left, right, on="t", by="g", direction="nearest")
        assert self._pick(out) == {1: "r1", 2: "r2", 3: "r3", 4: "r4", 5: "r4"}
        # explicit tie: left at 7.5 sits exactly between r1@4... build one
        l2 = spark.createDataFrame([(9, "a", 7.0)], "lid int, g string, t double")
        out2 = pj.asof_join(l2, right, on="t", by="g", direction="nearest")
        assert self._pick(out2) == {9: "r1"}  # |7-4|=3 = |10-7|=3 -> backward

    def test_tolerance_voids_far_matches(self, spark):
        left, right = self._frames(spark)
        out = pj.asof_join(left, right, on="t", by="g", tolerance=2.0)
        assert self._pick(out) == {1: "r1", 2: "r2", 3: "r3", 4: None, 5: None}

    def test_duplicate_right_on_deterministic(self, spark):
        left = spark.createDataFrame([(1, 10.0)], "lid int, t double")
        right = spark.createDataFrame(
            [(5.0, "x"), (5.0, "y")], "t double, tag string"
        )
        outs = {
            pj.asof_join(left.repartition(p), right.repartition(p), on="t")
            .first()["tag"]
            for p in (1, 2, 7)
        }
        assert len(outs) == 1  # content-hash tie-break, layout-stable

    def test_column_collision_suffix(self, spark):
        left, right = self._frames(spark)
        out = pj.asof_join(left, right.withColumnRenamed("tag", "g2"), on="t", by="g")
        assert set(out.columns) == {"lid", "g", "t", "g2", "t_right"}

    def test_single_shuffle_plan(self, spark):
        left, right = self._frames(spark)
        out = pj.asof_join(left, right, on="t", by="g")
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re
        # exactly one hashpartitioning exchange feeds the window(s); no join
        assert "Join" not in plan
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, plan

    def test_bad_direction(self, spark):
        left, right = self._frames(spark)
        import pytest as _pt
        with _pt.raises(ValueError, match="direction"):
            pj.asof_join(left, right, on="t", by="g", direction="sideways")


class TestDatetimeTypedRangeJoins:
    """DATE and TIMESTAMP_NTZ cannot cast straight to double — the
    bucketizer routes every datetime type through timestamp.  NTZ is the
    driver testdata's native timestamp type, so this is the path a plain
    `events x window` range join takes."""

    def test_timestamp_ntz_range_bucketizes(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        l = spark.createDataFrame(
            [(dt.datetime(2020, 1, 5),), (dt.datetime(2021, 1, 1),)], "t timestamp_ntz"
        )
        r = spark.createDataFrame(
            [(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 31), 1)],
            "lo timestamp_ntz, hi timestamp_ntz, rid int",
        )
        out = pj.conditional_join(l, r, ("t", "lo", ">="), ("t", "hi", "<="))
        assert out.count() == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan

    def test_date_range_bucketizes(self, spark):
        import datetime as dt

        l = spark.createDataFrame(
            [(dt.date(2020, 1, 5),), (dt.date(2021, 1, 1),)], "t date"
        )
        r = spark.createDataFrame(
            [(dt.date(2020, 1, 1), dt.date(2020, 1, 31), 1)],
            "lo date, hi date, rid int",
        )
        out = pj.conditional_join(l, r, ("t", "lo", ">="), ("t", "hi", "<="))
        assert out.count() == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan

    def test_native_ntz_parquet_range(self, spark):
        from pyspark.sql import functions as F

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        ors = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        r = ors.select(
            F.col("o_orderdate").alias("lo"),
            (F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("hi"),
        ).limit(50)
        out = pj.conditional_join(
            li.select("l_orderkey", "l_shipdate"), r,
            ("l_shipdate", "lo", ">="), ("l_shipdate", "hi", "<"),
        )
        bad = out.where(
            (F.col("l_shipdate") < F.col("lo")) | (F.col("l_shipdate") >= F.col("hi"))
        ).count()
        assert bad == 0 and out.count() > 0


def test_decimal_typed_verbs_sweep(spark):
    """Decimal columns flow through the numeric verb family without ANSI
    cast errors (the datetime analogue of this sweep caught two real
    bucketizer holes)."""
    from decimal import Decimal

    from pyjanitor_spark.functions.math import apply_math

    d = spark.createDataFrame(
        [
            (Decimal("1.25"), "a"),
            (Decimal("3.75"), "a"),
            (None, "b"),
            (Decimal("10.00"), "b"),
        ],
        "x decimal(10,2), g string",
    )
    assert pj.impute(d, "x", statistic_column_name="mean").count() == 4
    assert pj.min_max_scale(d, column_name="x").count() == 4
    assert pj.bin_numeric(d, "x", "b", bins=[0, 5, 20]).count() == 4
    assert apply_math(d, "x", pj.z_score).count() == 4
    assert pj.groupby_agg(d, by="g", agg="mean", agg_column_name="x", new_column_name="m").count() == 4
    assert pj.quantile_bin(d, "x", "qb", q=2).count() == 4
    assert pj.winsorize(d, "x", lower=0.1, upper=0.9).count() == 4
    assert pj.conditional_join(
        d.select("x"), spark.createDataFrame(
            [(Decimal("1.00"), Decimal("4.00"))], "lo decimal(10,2), hi decimal(10,2)"),
        ("x", "lo", ">="), ("x", "hi", "<="),
    ).count() == 2
