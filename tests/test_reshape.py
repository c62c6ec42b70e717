"""pivot_longer / pivot_wider / complete / expand tests.

Fixture shapes from FIXTURES.md F4-F6 (wide_iris, regex-spec frame,
multi-.value frame, long_steps, abundance)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pyjanitor_spark as pj


@pytest.fixture
def iris(spark):
    return spark.createDataFrame(
        [(5.1, 3.5, 1.4, 0.2, "setosa"), (7.0, 3.2, 4.7, 1.4, "versicolor")],
        ["Sepal.Length", "Sepal.Width", "Petal.Length", "Petal.Width", "Species"],
    )


def test_pivot_longer_simple(iris):
    out = pj.pivot_longer(
        iris, index="Species", names_to="part", values_to="measure"
    )
    rows = out.collect()
    assert len(rows) == 8
    assert set(out.columns) == {"Species", "part", "measure"}
    got = {(r["Species"], r["part"]): r["measure"] for r in rows}
    assert got[("setosa", "Sepal.Length")] == 5.1


def test_pivot_longer_names_sep_dot_value(iris):
    out = pj.pivot_longer(
        iris, index="Species", names_to=[".value", "dim"], names_sep=r"\."
    )
    rows = out.collect()
    # 2 rows per input row (Length / Width), value columns Sepal & Petal
    assert len(rows) == 4
    assert set(out.columns) == {"Species", "dim", "Sepal", "Petal"}
    got = {(r["Species"], r["dim"]): (r["Sepal"], r["Petal"]) for r in rows}
    assert got[("setosa", "Length")] == (5.1, 1.4)
    assert got[("versicolor", "Width")] == (3.2, 1.4)


def test_pivot_longer_names_pattern_groups(spark):
    df = spark.createDataFrame(
        [(1, 2, 3)], ["id", "new_sp_m5564", "newrel_f65"]
    )
    out = pj.pivot_longer(
        df,
        index="id",
        column_names=["new_sp_m5564", "newrel_f65"],
        names_to=["diagnosis", "gender", "age"],
        names_pattern=r"new_?(.+)_(.)(\d+)",
    )
    got = {(r["diagnosis"], r["gender"], r["age"]): r["value"] for r in out.collect()}
    assert got[("sp", "m", "5564")] == 2
    assert got[("rel", "f", "65")] == 3


def test_pivot_longer_multi_value_pairing(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, 4, 50)], ["x_1_mean", "x_2_mean", "y_1_mean", "y_2_mean", "unit"]
    )
    out = pj.pivot_longer(
        df,
        index="unit",
        names_to=["x_mean", "y_mean"],
        names_pattern=[r"^x_", r"^y_"],
    )
    rows = sorted(out.collect(), key=lambda r: r["x_mean"])
    assert len(rows) == 2
    assert (rows[0]["x_mean"], rows[0]["y_mean"]) == (1, 3)
    assert (rows[1]["x_mean"], rows[1]["y_mean"]) == (2, 4)


def test_pivot_longer_spec_escape_hatch(iris):
    spec = [
        {".name": "Sepal.Length", ".value": "len", "part": "sepal"},
        {".name": "Petal.Length", ".value": "len", "part": "petal"},
    ]
    out = pj.pivot_longer_spec(iris, spec, index="Species")
    got = {(r["Species"], r["part"]): r["len"] for r in out.collect()}
    assert got[("setosa", "sepal")] == 5.1
    assert got[("setosa", "petal")] == 1.4


def test_pivot_wider_roundtrip(spark):
    long = spark.createDataFrame(
        [(0.1, 1, "a", 10), (0.1, 2, "a", 20), (0.2, 1, "b", 30), (0.2, 2, "b", 40)],
        ["dep", "step", "label", "value"],
    )
    wide = pj.pivot_wider(long, index=["dep", "label"], names_from="step", values_from="value")
    rows = {(r["dep"], r["label"]): (r["1"], r["2"]) for r in wide.collect()}
    assert rows[(0.1, "a")] == (10, 20)
    assert rows[(0.2, "b")] == (30, 40)


def test_pivot_wider_glue(spark):
    long = spark.createDataFrame(
        [(0.1, 1, 10), (0.1, 2, 20)], ["dep", "step", "a"]
    )
    wide = pj.pivot_wider(
        long, index="dep", names_from="step", values_from="a",
        names_glue="a_{step}",
    )
    assert set(wide.columns) == {"dep", "a_1", "a_2"}


def test_pivot_wider_two_names_from(spark):
    """Two names_from columns label each output column with their values
    joined by names_sep, in single- and multi-value form (pandas
    flattens the column MultiIndex the same way)."""
    long = spark.createDataFrame(
        [(1, "a", "x", 10), (1, "a", "y", 11), (1, "b", "x", 12), (2, "a", "x", 20)],
        "id int, g string, h string, v int",
    )
    wide = pj.pivot_wider(long, index="id", names_from=["g", "h"], values_from="v")
    assert wide.columns == ["id", "a_x", "a_y", "b_x"]
    rows = {r["id"]: r.asDict() for r in wide.collect()}
    assert rows[1] == {"id": 1, "a_x": 10, "a_y": 11, "b_x": 12}
    assert rows[2] == {"id": 2, "a_x": 20, "a_y": None, "b_x": None}
    dash = pj.pivot_wider(
        long.withColumn("w", F.col("v") * 2),
        index="id",
        names_from=["g", "h"],
        values_from=["v", "w"],
        names_sep="-",
    )
    assert dash.columns == ["id", "v-a-x", "v-a-y", "v-b-x", "w-a-x", "w-a-y", "w-b-x"]
    got = {r["id"]: r.asDict() for r in dash.collect()}
    assert got[1]["v-a-y"] == 11 and got[1]["w-b-x"] == 24
    assert got[2]["w-a-x"] == 40 and got[2]["v-b-x"] is None


def test_complete(spark):
    df = spark.createDataFrame(
        [(1999, "Dog", 2), (2000, "Cat", 3)], ["Year", "Taxon", "Abundance"]
    )
    out = pj.complete(df, "Year", "Taxon")
    assert out.count() == 4
    missing = out.filter(F.col("Abundance").isNull()).count()
    assert missing == 2


def test_complete_fill_and_explicit(spark):
    df = spark.createDataFrame(
        [(1999, "Dog", None), (2000, "Cat", 3)],
        "Year int, Taxon string, Abundance int",
    )
    out = pj.complete(df, "Year", "Taxon", fill_value=0, explicit=False)
    got = {(r["Year"], r["Taxon"]): r["Abundance"] for r in out.collect()}
    # pre-existing explicit null NOT filled; synthesized rows filled
    assert got[(1999, "Dog")] is None
    assert got[(1999, "Cat")] == 0
    assert got[(2000, "Dog")] == 0
    out2 = pj.complete(df, "Year", "Taxon", fill_value=0, explicit=True)
    got2 = {(r["Year"], r["Taxon"]): r["Abundance"] for r in out2.collect()}
    assert got2[(1999, "Dog")] == 0


def test_complete_dict_range(spark):
    df = spark.createDataFrame(
        [(1999, "Dog", 2), (2001, "Dog", 3)], ["Year", "Taxon", "Abundance"]
    )
    out = pj.complete(df, {"Year": range(1999, 2002)}, "Taxon")
    assert out.count() == 3


def test_expand_grid(spark):
    out = pj.expand_grid(spark, {"x": [1, 2], "y": ["a", "b", "c"]})
    assert out.count() == 6
    assert out.columns == ["x", "y"]


def test_fill_missing_timestamps(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 0), 1.0),
            (dt.datetime(2024, 1, 1, 3), 2.0),
        ],
        ["ts", "v"],
    )
    out = pj.fill_missing_timestamps(df, "1 hour", column_name="ts")
    assert out.count() == 4  # 0,1,2,3 hours
    assert out.filter(F.col("v").isNull()).count() == 2


def test_pivot_roundtrip_longer_then_wider(spark):
    # pivot_longer followed by pivot_wider recovers the original frame
    import pyjanitor_spark as pj

    df = spark.createDataFrame(
        [(1, 10.0, 0.5), (2, 20.0, 0.7)], ["id", "qty", "tax"]
    )
    long = pj.pivot_longer(
        df, index="id", names_to=["measure"], values_to="val"
    )
    wide = pj.pivot_wider(
        long, index=["id"], names_from="measure", values_from="val"
    )
    got = sorted(map(tuple, wide.select("id", "qty", "tax").collect()))
    exp = sorted(map(tuple, df.collect()))
    assert got == exp


def test_pivot_longer_dropna_and_transform(spark):
    import pyjanitor_spark as pj

    df = spark.createDataFrame(
        [(1, 10.0, None), (2, None, 5.0)],
        "id int, x_2020 double, x_2021 double",
    )
    out = pj.pivot_longer(
        df,
        index="id",
        names_to=["var", "year"],
        names_sep="_",
        values_to="v",
        dropna=True,
        names_transform={"year": "int"},
    )
    rows = {(r["id"], r["year"]): r["v"] for r in out.collect()}
    assert rows == {(1, 2020): 10.0, (2, 2021): 5.0}
    assert dict(out.dtypes)["year"] == "int"


def test_pivot_longer_named_group_pattern(spark):
    import pyjanitor_spark as pj

    df = spark.createDataFrame([(1, 2.0, 3.0)], "id int, wk1 double, wk2 double")
    out = pj.pivot_longer(
        df, index="id", names_to=["week"], names_pattern=r"wk(\d)", values_to="v"
    )
    got = sorted((r["week"], r["v"]) for r in out.collect())
    assert got == [("1", 2.0), ("2", 3.0)]


def test_pivot_longer_pattern_list_pairs_positionally(spark):
    import pyjanitor_spark as pj

    df = spark.createDataFrame(
        [(1, 10.0, 0.1, 20.0, 0.2)],
        "id int, qty_a double, tax_a double, qty_b double, tax_b double",
    )
    out = pj.pivot_longer(
        df, index="id", names_to=["qty", "tax"], names_pattern=["^qty", "^tax"]
    )
    got = sorted((r["qty"], r["tax"]) for r in out.collect())
    assert got == [(10.0, 0.1), (20.0, 0.2)]


def test_fill_direction_all_modes(spark):
    import pyjanitor_spark as pj

    df = spark.createDataFrame(
        [(1, None), (2, 10.0), (3, None), (4, 20.0), (5, None)],
        "ord int, v double",
    )
    for direction, expected in [
        ("down", {1: None, 2: 10.0, 3: 10.0, 4: 20.0, 5: 20.0}),
        ("up", {1: 10.0, 2: 10.0, 3: 20.0, 4: 20.0, 5: None}),
        ("downup", {1: 10.0, 2: 10.0, 3: 10.0, 4: 20.0, 5: 20.0}),
        ("updown", {1: 10.0, 2: 10.0, 3: 20.0, 4: 20.0, 5: 20.0}),
    ]:
        out = pj.fill_direction(df, {"v": direction}, order_by="ord")
        got = {r["ord"]: r["v"] for r in out.collect()}
        assert got == expected, direction


def test_pivot_longer_flat_dict_pattern(spark):
    df = spark.createDataFrame(
        [(514, 545, "Red Sox", 2007, 2008), (573, 526, "Yankees", 2007, 2008)],
        "hr1 int, hr2 int, team string, year1 int, year2 int",
    )
    out = pj.pivot_longer(df, index="team", names_pattern={"year": "year", "hr": "hr"})
    rows = sorted((r["team"], r["year"], r["hr"]) for r in out.collect())
    assert rows == [
        ("Red Sox", 2007, 514), ("Red Sox", 2008, 545),
        ("Yankees", 2007, 573), ("Yankees", 2008, 526),
    ]


def test_pivot_longer_multi_values_to_and_nested_dict(spark):
    df = spark.createDataFrame(
        [("Houston", 4, 10, 40, 16, 20), ("Hoover", 90, 14, 43, 34, 18)],
        "City string, Mango int, Orange int, Watermelon int, Gin int, Vodka int",
    )
    expected_cols = ["City", "Fruit", "Drink", "Pounds", "Ounces"]
    a = pj.pivot_longer(
        df, index=["City"], names_to=("Fruit", "Drink"),
        values_to=("Pounds", "Ounces"), names_pattern=["M|O|W", "G|V"],
    )
    b = pj.pivot_longer(
        df, index=["City"],
        names_pattern={"Fruit": {"Pounds": "M|O|W"}, "Drink": {"Ounces": "G|V"}},
    )
    assert a.columns == expected_cols and b.columns == expected_cols
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    # unpaired third fruit row carries NULL drink/ounces
    assert ("Houston", "Watermelon", None, 40, None) in ra


def test_pivot_longer_values_to_list_requires_list_pattern(spark):
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(TypeError):
        pj.pivot_longer(df, index=[], column_names=["a", "b"],
                        names_to=["x"], values_to=["v"], names_pattern="a")


def test_pivot_wider_names_expand_and_index_expand(spark):
    df = spark.createDataFrame(
        [("x", "a", 1), ("x", "b", 2), ("y", "a", 3)], "id string, grp string, v int"
    )
    out = pj.pivot_wider(df, "id", "grp", "v", names_expand={"grp": ["a", "b", "c"]})
    assert sorted(out.columns) == ["a", "b", "c", "id"]
    assert all(r["c"] is None for r in out.collect())
    out2 = pj.pivot_wider(df, "id", "grp", "v", index_expand={"id": ["x", "y", "z"]})
    rows = {r["id"]: (r["a"], r["b"]) for r in out2.collect()}
    assert rows["z"] == (None, None) and rows["x"] == (1, 2)


def test_pivot_wider_index_expand_keeps_null_index(spark):
    """index_expand joins null-SAFELY: pivot rows whose index is NULL
    keep their values (a plain name-list left join drops them)."""
    df = spark.createDataFrame(
        [("x", "a", 1), (None, "a", 9), (None, "b", 8)],
        "id string, grp string, v int",
    )
    out = pj.pivot_wider(df, "id", "grp", "v", index_expand=True)
    rows = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows[None] == (9, 8)
    assert rows["x"] == (1, None)


def test_ragged_spec_null_slot_uses_group_dtype(spark):
    df = spark.createDataFrame([("x", 1, 1.5)], "id string, v int, w double")
    spec = [
        {".name": "v", ".value": "vv", "k": "1"},
        {".name": "w", ".value": "ww", "k": "2"},
    ]
    out = pj.pivot_longer_spec(df, spec, index=["id"])
    t = dict(out.dtypes)
    assert t["vv"] == "int" and t["ww"] == "double"


def test_case_when_callable_conditions(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1,), (5,), (10,)], "x int")
    out = pj.case_when(
        df,
        lambda d: d["x"] < 3, "low",
        lambda d: d["x"] < 8, lambda d: F.concat(F.lit("mid-"), d["x"].cast("string")),
        column_name="band",
        default="high",
    )
    got = {r["x"]: r["band"] for r in out.collect()}
    assert got == {1: "low", 5: "mid-5", 10: "high"}


class TestPivotRoundtrip:
    """pivot_wider(pivot_longer(df)) must reconstruct the original frame
    when index keys are unique — the tidyr invariant."""

    def test_longer_then_wider_reconstructs(self, spark):
        import random

        rng = random.Random(21)
        rows = [
            (i, round(rng.uniform(0, 9), 3), round(rng.uniform(0, 9), 3),
             round(rng.uniform(0, 9), 3))
            for i in range(50)
        ]
        df = spark.createDataFrame(rows, "id int, m1 double, m2 double, m3 double")
        long = pj.pivot_longer(df, index=["id"], names_to="m", values_to="v")
        assert long.count() == 150
        wide = pj.pivot_wider(long, index=["id"], names_from="m", values_from="v")
        got = sorted(tuple(r) for r in wide.select("id", "m1", "m2", "m3").collect())
        want = sorted(rows)
        assert got == want

    def test_wider_then_longer_reconstructs(self, spark):
        rows = [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0), (2, "b", 4.0)]
        df = spark.createDataFrame(rows, "id int, k string, v double")
        wide = pj.pivot_wider(df, index=["id"], names_from="k", values_from="v")
        long = pj.pivot_longer(
            wide, index=["id"], names_to="k", values_to="v"
        )
        got = sorted(tuple(r) for r in long.collect())
        assert got == sorted(rows)
