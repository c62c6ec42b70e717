"""Differential tests: the REFERENCE pyjanitor executes live (pandas,
from its own read-only checkout — see ``reference_janitor.py``) on the
same inputs as this package's Spark verbs, and full results are
compared as multisets.  This is the reference's own test strategy
turned on itself: instead of re-deriving expected values, the
reference IS the expected value.

Comparison contract: column names must match exactly; rows compare
sorted by every column (Spark output is unordered); floats at 1e-9
relative tolerance; pandas NaN == Spark NULL.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

import pyjanitor_spark as pj
from tests.reference_janitor import _REFERENCE_PATH, load_reference

ref = load_reference()
pytestmark = [pytest.mark.slow] + [pytest.mark.skipif(
    ref is None,
    reason=f"no importable pyjanitor checkout at {_REFERENCE_PATH}",
)]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return None
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def _rows(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    out = []
    for t in pdf[cols].itertuples(index=False):
        out.append(tuple(_norm(v) for v in t))
    return sorted(out, key=repr)


def compare(spark, pandas_expected: pd.DataFrame, spark_out):
    got = spark_out.toPandas()
    assert sorted(got.columns) == sorted(pandas_expected.columns), (
        got.columns,
        pandas_expected.columns,
    )
    a, b = _rows(got), _rows(pandas_expected)
    assert len(a) == len(b), (len(a), len(b))
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12), (ra, rb)
            else:
                assert x == y, (ra, rb)


def _sdf(spark, pdf: pd.DataFrame, schema=None):
    # pandas NaN must land as Spark NULL (createDataFrame keeps float
    # NaN, which is non-null to coalesce/countDistinct/isNull); NaN-free
    # frames convert directly (the object detour breaks int inference).
    # datetime64 columns stay as-is — NaT already converts to NULL, and
    # the object detour would turn Timestamps into structs.
    if pdf.isna().any().any():
        pdf = pdf.copy()
        for c in pdf.columns:
            if pd.api.types.is_datetime64_any_dtype(pdf[c]):
                continue
            if pdf[c].isna().any():
                pdf[c] = pdf[c].astype(object).where(pd.notna(pdf[c]), None)
    if schema is None:
        return spark.createDataFrame(pdf)
    return spark.createDataFrame(pdf, schema)


def test_chained_pipeline_eight_verbs(spark):
    # integration: the reference's method-chaining style, eight verbs
    # deep, compared end-to-end — catches schema-propagation and
    # ordering interactions no single-verb test sees
    raw = pd.DataFrame(
        {
            "Customer Name": ["Ann B", "Bo C", None, "Dee E", "Ed F"],
            "Sale Amount$": ["1,100.50", "(20.00)", "30", None, "55.25"],
            "Region": ["east", "west", "east", None, "west"],
            "Qty": [1.0, None, 3.0, 4.0, 5.0],
        }
    )
    exp = (
        raw.clean_names()
        .rename_column("customer_name", "cust")
        .currency_column_to_numeric("sale_amount$", cleaning_style="accounting")
        .fill_empty(column_names=["region"], value="unknown")
        .impute("qty", statistic_column_name="mean")
        .update_where("qty > 3", "region", "bulk")
        .add_column("src", "crm")
        .flag_nulls(column_name="has_null")
    )
    pj.register_dataframe_methods()
    out = (
        _sdf(spark, raw)
        .clean_names()
        .rename_column("customer_name", "cust")
        .currency_column_to_numeric("sale_amount$", cleaning_style="accounting")
        .fill_empty(column_names=["region"], value="unknown")
        .impute("qty", statistic_column_name="mean")
        .update_where("qty > 3", "region", "bulk")
        .add_column("src", "crm")
        .flag_nulls(column_name="has_null")
    )
    compare(spark, exp, out)


def test_clean_names(spark):
    pdf = pd.DataFrame({"Aloha Ole": [1], "Bell  Chart%": [2], "Animals@#$%^": [3]})
    exp = pdf.clean_names()
    compare(spark, exp, pj.clean_names(_sdf(spark, pdf)))


def test_clean_names_collision_keeps_duplicates(spark):
    # two raw names cleaning to the same label stay duplicates, like the
    # reference — no invented _1 suffixes, no cascaded renames
    pdf = pd.DataFrame({"A B": [1], "a_b": [2], "C": [3]})
    exp = pdf.clean_names()
    out = pj.clean_names(_sdf(spark, pdf))
    assert out.columns == list(exp.columns)
    got = [r for r in out.collect()[0]]
    assert got == [1, 2, 3]


def test_clean_names_nasty_battery(spark):
    # the reference's exact _normalize_1 FIXES set: / : , ? ( ) . -
    # and NBSP -> underscore, apostrophes removed, tabs untouched —
    # swept across every kwargs axis (90 combinations, all engines
    # agree; pinned after the round-9 probe found the set divergence)
    batteries = [
        ["Ünïcode Çol", "naïve café"],
        ["123start", "9lives", "_ok_"],
        ["a__b___c", "__dunder__", "trailing__"],
        ["ALL CAPS!", "mixed#Case$", "dots.in.name"],
        ["()", "--", "  spaces  "],
        ["x", "x ", " x"],
        ["what?col", "a/b", "c:d", "e,f", "it's", "nb\xa0sp"],
    ]
    grids = [
        {}, {"case_type": "snake"}, {"case_type": "preserve"},
        {"remove_special": True}, {"strip_underscores": True},
        {"truncate_limit": 5},
    ]
    for names in batteries:
        for kw in grids:
            exp = list(
                pd.DataFrame([[1] * len(names)], columns=names)
                .clean_names(**kw)
                .columns
            )
            got = list(
                pj.clean_names(
                    spark.createDataFrame([[1] * len(names)], names), **kw
                ).columns
            )
            assert got == exp, (names, kw, exp, got)


def test_clean_names_values_nasty_content(spark):
    # the axis=None VALUES path shares the same normalize chain
    pdf = pd.DataFrame(
        {"v": ["what?val", "a/b:c,d", "it's", "nb\xa0sp", "x-y.z (q)"]}
    )
    exp = pdf.copy().clean_names(axis=None, column_names=["v"])["v"].tolist()
    got = [
        r["v"]
        for r in pj.clean_names(
            _sdf(spark, pdf), axis=None, column_names=["v"]
        ).collect()
    ]
    assert got == exp


def test_clean_names_case_and_underscores(spark):
    pdf = pd.DataFrame({"CamelCase Col": [1], "__lead": [2]})
    exp = pdf.clean_names(case_type="snake", strip_underscores=True)
    compare(
        spark,
        exp,
        pj.clean_names(_sdf(spark, pdf), case_type="snake", strip_underscores=True),
    )


def test_coalesce(spark):
    pdf = pd.DataFrame(
        {"a": [None, 2.0, None], "b": [1.0, None, None], "c": [9.0, 9.0, 9.0]}
    )
    exp = pdf.coalesce("a", "b", "c", target_column_name="out")
    compare(
        spark,
        exp,
        pj.coalesce(_sdf(spark, pdf), ["a", "b", "c"], target_column_name="out"),
    )


def test_fill_empty(spark):
    pdf = pd.DataFrame({"a": [1.0, None, 3.0], "b": [None, "x", None]})
    exp = pdf.fill_empty(column_names="a", value=0.0).fill_empty(
        column_names="b", value="?"
    )
    out = pj.fill_empty(
        pj.fill_empty(_sdf(spark, pdf), "a", 0.0), "b", "?"
    )
    compare(spark, exp, out)


def test_concatenate_columns(spark):
    pdf = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    exp = pdf.concatenate_columns(["a", "b"], "joined", sep="-")
    compare(
        spark,
        exp,
        pj.concatenate_columns(_sdf(spark, pdf), ["a", "b"], "joined", sep="-"),
    )


def test_deconcatenate_column(spark):
    pdf = pd.DataFrame({"k": ["a-1", "b-2"]})
    exp = pdf.deconcatenate_column(
        "k", sep="-", new_column_names=["l", "r"], preserve_position=False
    )
    out = pj.deconcatenate_column(
        _sdf(spark, pdf), "k", sep="-", new_column_names=["l", "r"]
    )
    compare(spark, exp, out)


def test_remove_empty(spark):
    pdf = pd.DataFrame(
        {"a": [1.0, None, None], "b": [None, None, None], "c": ["x", None, None]}
    )
    exp = pdf.remove_empty()
    out = pj.remove_empty(_sdf(spark, pdf, "a double, b double, c string"))
    compare(spark, exp, out)


def test_get_dupes(spark):
    pdf = pd.DataFrame({"a": [1, 1, 2, 3, 3, 3], "b": ["x", "x", "y", "z", "z", "w"]})
    exp = pdf.get_dupes()
    compare(spark, exp, pj.get_dupes(_sdf(spark, pdf)))


def test_filter_string(spark):
    pdf = pd.DataFrame({"s": ["apple", "banana", "cherry", "APPLE"], "v": [1, 2, 3, 4]})
    exp = pdf.filter_string("s", "app", complement=False)
    compare(spark, exp, pj.filter_string(_sdf(spark, pdf), "s", "app"))
    exp2 = pdf.filter_string("s", "app", case=False, complement=True)
    compare(
        spark,
        exp2,
        pj.filter_string(_sdf(spark, pdf), "s", "app", case=False, complement=True),
    )


def test_filter_string_null_contract(spark):
    # default na: both engines refuse null cells (pandas cannot mask with
    # an NA boolean array); na=True/False routes them explicitly
    pdf = pd.DataFrame({"s": ["abc", None, "bcd"]})
    with pytest.raises(Exception):
        pdf.filter_string("s", "b")
    with pytest.raises(Exception):
        pj.filter_string(_sdf(spark, pdf), "s", "b").collect()
    exp = pdf.filter_string("s", "b", na=False)
    out = pj.filter_string(_sdf(spark, pdf), "s", "b", na=False)
    compare(spark, exp, out)
    exp2 = pdf.filter_string("s", "b", na=True, complement=True)
    out2 = pj.filter_string(_sdf(spark, pdf), "s", "b", na=True, complement=True)
    compare(spark, exp2, out2)


def test_filter_column_isin_complement_nulls(spark):
    # ~isin keeps NaN rows (NaN is not a member, so the complement is True)
    pdf = pd.DataFrame({"k": ["a", None, "b"]})
    exp = pdf.filter_column_isin("k", ["a"], complement=True)
    out = pj.filter_column_isin(_sdf(spark, pdf), "k", ["a"], complement=True)
    compare(spark, exp, out)


def test_filter_on(spark):
    pdf = pd.DataFrame({"a": [1, 5, 10], "b": ["x", "y", "z"]})
    exp = pdf.filter_on("a >= 5", complement=False)
    compare(spark, exp, pj.filter_on(_sdf(spark, pdf), "a >= 5"))


def test_string_into_numeric_widens(spark):
    # pandas widens to an object column when a string lands in a numeric
    # one; Spark's analogue is the string supertype (numerics render as
    # their string form) — without this, update_where/case_when ANSI-throw
    # mid-job and na.fill silently SKIPS the mismatched column
    pdf = pd.DataFrame({"x": [1, 5]})
    exp = pdf.update_where("x > 2", "x", "BIG")
    exp["x"] = exp["x"].astype(str)
    out = pj.update_where(_sdf(spark, pdf), "x > 2", "x", "BIG")
    compare(spark, exp, out)
    pdf2 = pd.DataFrame({"x": [1.0, None]})
    exp2 = pdf2.fill_empty(column_names="x", value="missing")
    exp2["x"] = exp2["x"].astype(str)
    out2 = pj.fill_empty(_sdf(spark, pdf2), column_names="x", value="missing")
    compare(spark, exp2, out2)
    exp3 = pdf.case_when(pdf["x"] > 2, "big", pdf["x"], column_name="lab")
    exp3["lab"] = exp3["lab"].astype(str)
    out3 = pj.case_when(_sdf(spark, pdf), F.col("x") > 2, "big", F.col("x"), column_name="lab")
    compare(spark, exp3, out3)


def test_find_replace_impute_widen(spark):
    # same widening contract in find_replace (string replacement into a
    # numeric column; match still compares on the typed column) and
    # impute's value form (the reference mutates in place — copy first)
    pdf = pd.DataFrame({"x": [1, 2, 3]})
    sdf = _sdf(spark, pdf.copy())
    exp = pdf.copy().find_replace(match="exact", x={1: "one"})
    exp["x"] = exp["x"].astype(str)
    compare(spark, exp, pj.find_replace(sdf, match="exact", x={1: "one"}))
    pdf2 = pd.DataFrame({"x": [1.0, None]})
    sdf2 = _sdf(spark, pdf2.copy())
    exp2 = pdf2.copy().impute("x", value="zz")
    exp2["x"] = exp2["x"].astype(str)
    compare(spark, exp2, pj.impute(sdf2, "x", value="zz"))
    # numeric mappings keep the column type
    out = pj.find_replace(_sdf(spark, pdf.copy()), match="exact", x={1: 100})
    assert out.schema["x"].dataType.typeName() == "long"


def test_update_where(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4], "b": [5.0, 6.0, 7.0, 8.0]})
    exp = pdf.update_where((pdf.a > 2), target_column_name="b", target_val=0.0)
    out = pj.update_where(_sdf(spark, pdf), "a > 2", "b", 0.0)
    compare(spark, exp, out)


def test_limit_column_characters(spark):
    pdf = pd.DataFrame({"really_long_name": [1], "really_long_hat": [2], "ok": [3]})
    exp = pdf.limit_column_characters(7, col_separator="_")
    compare(spark, exp, pj.limit_column_characters(_sdf(spark, pdf), 7, "_"))


def test_row_to_names(spark):
    pdf = pd.DataFrame({"a": ["x", "1", "2"], "b": ["y", "3", "4"]})
    exp = pdf.row_to_names(0, remove_rows=True).reset_index(drop=True)
    # Spark frames have no row order: supply the positional order column
    sdf = _sdf(spark, pdf.reset_index().rename(columns={"index": "_row_order"}))
    out = pj.row_to_names(sdf, 0, remove_rows=True).drop("_row_order")
    compare(spark, exp, out)


def test_expand_column(spark):
    pdf = pd.DataFrame({"id": [1, 2], "tags": ["a|b", "b|c"]})
    exp = pdf.expand_column("tags", sep="|", concat=True)
    exp.columns = [str(c) for c in exp.columns]
    compare(spark, exp, pj.expand_column(_sdf(spark, pdf), "tags", sep="|"))


def test_find_replace(spark):
    pdf = pd.DataFrame({"s": ["cat", "dog", "cat"], "v": [1, 2, 3]})
    exp = pdf.find_replace(match="exact", s={"cat": "feline"})
    compare(
        spark, exp, pj.find_replace(_sdf(spark, pdf), match="exact", s={"cat": "feline"})
    )


def test_currency_column_to_numeric(spark):
    pdf = pd.DataFrame({"money": ["$1,000.50", "2,500", "-$10", ""]})
    exp = pdf.currency_column_to_numeric("money")
    compare(spark, exp, pj.currency_column_to_numeric(_sdf(spark, pdf), "money"))


def test_convert_excel_date(spark):
    pdf = pd.DataFrame({"d": [39690, 40000, 41000]})
    exp = pdf.convert_excel_date("d")
    got = pj.convert_excel_date(_sdf(spark, pdf), "d").toPandas()
    assert list(got.columns) == list(exp.columns)
    assert sorted(got["d"].astype(str)) == sorted(exp["d"].astype(str))


def test_convert_unix_date(spark):
    pdf = pd.DataFrame({"d": [1_600_000_000, 1_650_000_000]})
    exp = pdf.convert_unix_date("d")
    got = pj.convert_unix_date(_sdf(spark, pdf), "d").toPandas()
    assert sorted(got["d"].astype(str)) == sorted(exp["d"].astype(str))


def test_bin_numeric(spark):
    pdf = pd.DataFrame({"v": [1.0, 5.0, 9.0, 14.0, 20.0]})
    # float edges so pandas Interval str() renders identically to our
    # JVM-built "(0.0, 5.0]" labels
    exp = pdf.bin_numeric(
        from_column_name="v", to_column_name="bin", bins=[0.0, 5.0, 10.0, 15.0, 20.0]
    )
    exp["bin"] = exp["bin"].astype(str)
    out = pj.bin_numeric(
        _sdf(spark, pdf), "v", "bin", bins=[0.0, 5.0, 10.0, 15.0, 20.0]
    )
    compare(spark, exp, out)


def test_bin_numeric_int_edge_labels(spark):
    # all-int bin lists render "(0, 4]" (pandas keeps the int dtype);
    # any float in the list promotes every edge to "(0.0, 4.0]"
    pdf = pd.DataFrame({"x": [1.0, None, 5.0, 9.0]})
    exp = pdf.bin_numeric(from_column_name="x", to_column_name="b", bins=[0, 4, 10])
    exp["b"] = exp["b"].astype(str)
    out = pj.bin_numeric(_sdf(spark, pdf), "x", "b", bins=[0, 4, 10])
    compare(spark, exp.replace({"b": {"nan": None}}), out)
    pdf2 = pd.DataFrame({"x": [1.0, 5.0]})
    exp2 = pdf2.bin_numeric(from_column_name="x", to_column_name="b", bins=[0, 4.5, 10])
    exp2["b"] = exp2["b"].astype(str)
    out2 = pj.bin_numeric(_sdf(spark, pdf2), "x", "b", bins=[0, 4.5, 10])
    compare(spark, exp2, out2)


def test_expand_column_null_rows(spark):
    # a null cell one-hots to all-zero dummies, not nulls (str.get_dummies)
    pdf = pd.DataFrame({"c": ["a|b", None, "b"], "v": [1, 2, 3]})
    exp = pdf.expand_column("c", sep="|")
    out = pj.expand_column(_sdf(spark, pdf), "c", sep="|")
    compare(spark, exp, out)


def test_truncate_datetime_nat_passthrough(spark):
    pdf = pd.DataFrame({"t": pd.to_datetime(["2020-03-05 10:11:12", None])})
    exp = pdf.truncate_datetime_dataframe("month")
    out = pj.truncate_datetime_dataframe(_sdf(spark, pdf), "month")
    compare(spark, exp, out)


def test_groupby_topk_null_ranked_rows(spark):
    # nlargest/nsmallest rank only non-null values: a null-ranked row is
    # never in the top-k output
    pdf = pd.DataFrame({"g": ["a", "a", "b", "b"], "v": [3.0, None, None, 1.0]})
    exp = pdf.groupby_topk(by="g", column="v", k=1)
    out = pj.groupby_topk(_sdf(spark, pdf), by="g", column="v", k=1)
    compare(spark, exp.reset_index(drop=True), out)


def test_ecdf_null_and_dtype_contracts(spark):
    # reference math.ecdf raises on nulls and non-numeric dtype
    # (math.py:330-376); ours: TypeError eagerly from the schema, nulls
    # via an inline assert_true that rides the existing scan
    from pyjanitor_spark.functions.math import apply_math, ecdf as _ecdf

    pdf = pd.DataFrame({"x": [1.0, None, 3.0]})
    with pytest.raises(ValueError):
        pdf["x"].ecdf()
    with pytest.raises(Exception):
        apply_math(_sdf(spark, pdf), "x", _ecdf, dest="e").collect()
    pdf2 = pd.DataFrame({"x": ["a", "b"]})
    with pytest.raises(TypeError):
        pdf2["x"].ecdf()
    with pytest.raises(TypeError):
        apply_math(_sdf(spark, pdf2), "x", _ecdf)


def test_count_cumulative_unique_nulls(spark):
    # null rows never increment: the reference's groupby drops NaN keys
    pdf = pd.DataFrame({"k": ["a", None, "a", "b", None], "o": range(5)})
    exp = pdf.count_cumulative_unique("k", "n")
    out = pj.count_cumulative_unique(_sdf(spark, pdf), "k", "n", order_by="o")
    compare(spark, exp, out)


def test_filter_on_complement_nulls(spark):
    # complement keeps rows where the criteria is NOT TRUE, including
    # null-evaluating rows (pandas: NaN > 1 is False before the negation)
    pdf = pd.DataFrame({"x": [1.0, None, 3.0]})
    exp = pdf.filter_on("x > 1", complement=True)
    out = pj.filter_on(_sdf(spark, pdf), "x > 1", complement=True)
    compare(spark, exp, out)
    exp2 = pdf.filter_on("x > 1")
    out2 = pj.filter_on(_sdf(spark, pdf), "x > 1")
    compare(spark, exp2, out2)


def test_complete_null_key_value(spark):
    # a null key value is a category of its own in the expansion; the
    # original null-keyed row must rejoin its grid row (null-safe join)
    pdf = pd.DataFrame({"g": ["a", None, "b"], "k": [1, 2, 1], "v": [9, 8, 7]})
    exp = pdf.complete("g", "k")
    out = pj.complete(_sdf(spark, pdf), "g", "k")
    compare(spark, exp, out)


def test_flag_jumps_null_values(spark):
    import janitor.timeseries  # noqa: F401  (registers the method)

    pdf = pd.DataFrame(
        {"v": [1.0, None, 10.0]},
        index=pd.to_datetime(["2020-01-01", "2020-01-02", "2020-01-03"]),
    )
    exp = pdf.flag_jumps(scale="absolute", direction="any", threshold=2).reset_index(
        names="ts"
    )
    sdf = _sdf(spark, pdf.reset_index(names="ts"))
    out = pj.flag_jumps(sdf, ts_column="ts", scale="absolute", direction="any", threshold=2)
    compare(spark, exp, out)


def test_find_replace_null_key_superset(spark):
    # documented superset: the reference refuses null keys outright;
    # ours replaces null cells via a WHEN col IS NULL arm
    pdf = pd.DataFrame({"c": ["x", None, "y"]})
    import numpy as np

    with pytest.raises(ValueError):
        pdf.find_replace(match="exact", c={np.nan: "missing"})
    out = pj.find_replace(_sdf(spark, pdf), match="exact", c={None: "missing"}).toPandas()
    assert sorted(out["c"]) == ["missing", "x", "y"]


def test_factorize_columns_nulls_appearance(spark):
    # nulls code to -1; order_by reproduces pandas first-appearance codes
    pdf = pd.DataFrame({"k": ["b", None, "a", "b", None], "o": range(5)})
    exp = pdf.factorize_columns("k")
    out = pj.factorize_columns(_sdf(spark, pdf), "k", order_by="o")
    compare(spark, exp, out)


def test_fill_direction_all_null_column(spark):
    # a column with no non-null values stays all-null under any direction
    pdf = pd.DataFrame({"x": pd.Series([None, None, None], dtype=object), "o": [1, 2, 3]})
    exp = pdf.fill_direction(x="down")
    sdf = spark.createDataFrame(pdf, "x string, o long")
    out = pj.fill_direction(sdf, x="down", order_by="o")
    compare(spark, exp, out)


def test_round_to_fraction(spark):
    pdf = pd.DataFrame({"v": [1.1, 2.26, 3.51]})
    exp = pdf.round_to_fraction("v", denominator=4)
    compare(spark, exp, pj.round_to_fraction(_sdf(spark, pdf), "v", 4))


def test_min_max_scale(spark):
    pdf = pd.DataFrame({"v": [1.0, 3.0, 5.0, 9.0]})
    exp = pdf.min_max_scale(column_name="v")
    compare(spark, exp, pj.min_max_scale(_sdf(spark, pdf), column_name="v"))


def test_groupby_agg_transform(spark):
    pdf = pd.DataFrame({"k": ["a", "a", "b", "b", "b"], "v": [1, 2, 3, 4, 10]})
    exp = pdf.groupby_agg(
        by="k", new_column_name="avg_v", agg_column_name="v", agg="mean"
    )
    compare(spark, exp, pj.groupby_agg(_sdf(spark, pdf), "k", "avg_v", "v", "mean"))


def test_groupby_agg_nunique_differential(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "a", "a", "b", "b"], "v": [1, 1, 2, 5, None]}
    )
    exp = pdf.groupby_agg(
        by="k", new_column_name="n", agg_column_name="v", agg="nunique"
    )
    compare(spark, exp, pj.groupby_agg(_sdf(spark, pdf), "k", "n", "v", "nunique"))


def test_conditional_join_inner(spark):
    left = pd.DataFrame({"a": [1, 2, 3, 4], "b": [10, 20, 30, 40]})
    right = pd.DataFrame({"c": [2, 3, 9], "d": ["x", "y", "z"]})
    exp = left.conditional_join(right, ("a", "c", ">"))
    out = pj.conditional_join(_sdf(spark, left), _sdf(spark, right), ("a", "c", ">"))
    compare(spark, exp, out)


def test_conditional_join_mixed(spark):
    left = pd.DataFrame({"k": [1, 1, 2, 2], "a": [5, 15, 25, 35]})
    right = pd.DataFrame({"k2": [1, 2, 2], "lo": [0, 20, 30]})
    exp = left.conditional_join(right, ("k", "k2", "=="), ("a", "lo", ">="))
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("k", "k2", "=="), ("a", "lo", ">=")
    )
    compare(spark, exp, out)


def test_pivot_longer_names_sep(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2], "x_a": [1.0, 2.0], "x_b": [3.0, 4.0], "y_a": [5.0, 6.0]}
    )
    exp = pdf.pivot_longer(index="id", names_to=("var", "grp"), names_sep="_")
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to=("var", "grp"), names_sep="_"
    )
    compare(spark, exp, out)


def test_pivot_longer_dot_value(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2], "ht_1": [1.1, 2.1], "ht_2": [1.2, 2.2], "wt_1": [9.0, 8.0],
         "wt_2": [7.0, 6.0]}
    )
    exp = pdf.pivot_longer(
        index="id", names_to=(".value", "time"), names_sep="_"
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to=(".value", "time"), names_sep="_"
    )
    compare(spark, exp, out)


def test_complete(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "b"], "item": [1, 2, 2], "v": [10.0, 20.0, 30.0]}
    )
    exp = pdf.complete("g", "item")
    compare(spark, exp, pj.complete(_sdf(spark, pdf), "g", "item"))


def test_flag_nulls(spark):
    pdf = pd.DataFrame({"a": [1.0, None], "b": [None, "x"]})
    exp = pdf.flag_nulls(column_name="null_flag")
    compare(spark, exp, pj.flag_nulls(_sdf(spark, pdf), column_name="null_flag"))


def test_dropnotnull(spark):
    pdf = pd.DataFrame({"a": [1.0, None, 3.0], "b": ["x", "y", "z"]})
    exp = pdf.dropnotnull("a")
    compare(spark, exp, pj.dropnotnull(_sdf(spark, pdf), "a"))


def test_factorize_columns(spark):
    pdf = pd.DataFrame({"s": ["b", "a", "b", "c"]})
    # our default IS deterministic sorted order; the reference reaches
    # it via pd.factorize(sort=True)
    exp = pdf.factorize_columns(column_names="s", sort=True)
    compare(spark, exp, pj.factorize_columns(_sdf(spark, pdf), column_names="s"))


def test_jitter_moments(spark):
    # jitter is random on both engines: compare moments, not values
    pdf = pd.DataFrame({"v": [10.0] * 2000})
    exp = pdf.jitter("v", "j", scale=1.0, random_state=7)
    out = pj.jitter(_sdf(spark, pdf), "v", "j", scale=1.0, random_state=7).toPandas()
    assert abs(out["j"].mean() - exp["j"].mean()) < 0.15
    assert abs(out["j"].std() - exp["j"].std()) < 0.15


# ---- batch 2: ordered verbs, reshape, group-by, selection ----


def test_case_when(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4], "b": ["w", "x", "y", "z"]})
    sdf = _sdf(spark, pdf)
    exp = pdf.case_when(
        pdf.a < 2, "small", pdf.a < 4, "mid", "big", column_name="size"
    )
    out = pj.case_when(
        sdf, "a < 2", "small", "a < 4", "mid",
        default="big", column_name="size",
    )
    compare(spark, exp, out)


def test_impute_value_and_statistic(spark):
    pdf = pd.DataFrame({"v": [1.0, None, 3.0, None], "g": ["a", "a", "b", "b"]})
    exp = pdf.impute("v", value=0.0)
    compare(spark, exp, pj.impute(_sdf(spark, pdf), "v", value=0.0))
    exp2 = pd.DataFrame({"v": [1.0, None, 3.0]}).impute(
        "v", statistic_column_name="mean"
    )
    out2 = pj.impute(
        _sdf(spark, pd.DataFrame({"v": [1.0, None, 3.0]})),
        "v",
        statistic_column_name="mean",
    )
    compare(spark, exp2, out2)


def test_groupby_topk(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "v": [3, 1, 2, 9, 8], "x": list("pqrst")}
    )
    exp = pdf.groupby_topk(by="g", column="v", k=2, ascending=True)
    compare(
        spark, exp, pj.groupby_topk(_sdf(spark, pdf), "g", "v", 2, ascending=True)
    )


def test_take_first(spark):
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [2, 1, 5], "x": ["p", "q", "r"]})
    exp = pdf.take_first(subset="g", by="v", ascending=True)
    compare(spark, exp, pj.take_first(_sdf(spark, pdf), "g", "v", ascending=True))


def test_sort_column_value_order(spark):
    pdf = pd.DataFrame({"s": ["hi", "lo", "mid", "lo"], "v": [1, 2, 3, 4]})
    order = {"lo": 0, "mid": 1, "hi": 2}
    exp = pdf.sort_column_value_order("s", order)
    got = pj.sort_column_value_order(_sdf(spark, pdf), "s", order).toPandas()
    # row SET must match and the s-sequence must follow the rank order
    assert sorted(got["v"]) == sorted(exp["v"])
    assert [order[s] for s in got["s"]] == sorted(order[s] for s in pdf["s"])


def test_truncate_datetime(spark):
    pdf = pd.DataFrame(
        {"t": pd.to_datetime(["2021-03-14 15:09:26", "2020-12-31 23:59:59"])}
    )
    exp = pdf.truncate_datetime_dataframe("month")
    got = pj.truncate_datetime_dataframe(_sdf(spark, pdf), "month").toPandas()
    assert sorted(got["t"].astype(str)) == sorted(exp["t"].astype(str))


def test_convert_matlab_date(spark):
    pdf = pd.DataFrame({"d": [737125.0, 738000.5]})
    exp = pdf.convert_matlab_date("d")
    got = pj.convert_matlab_date(_sdf(spark, pdf), "d").toPandas()
    # compare to second precision (reference keeps float microseconds)
    a = sorted(got["d"].astype("datetime64[s]").astype(str))
    b = sorted(exp["d"].astype("datetime64[s]").astype(str))
    assert a == b, (a, b)


def test_transform_column(spark):
    pdf = pd.DataFrame({"v": [1.0, 4.0, 9.0]})
    sdf = _sdf(spark, pdf)
    exp = pdf.transform_column("v", lambda x: x**0.5, dest_column_name="r")
    # expression fast path; the reference's elementwise scalar callable
    # is the Arrow pandas_udf fallback, covered by unit tests
    out = pj.transform_column(
        sdf, "v", lambda c: c**0.5, dest_column_name="r", elementwise=False
    )
    compare(spark, exp, out)


def test_transform_column_series_wise_ufunc(spark):
    # the reference's canonical elementwise=False form: a vectorized
    # Series function (np.sqrt) — runs per Arrow batch on our side, with
    # the input column's dtype as the default return type
    import numpy as np

    pdf = pd.DataFrame({"x": [1.0, 4.0, 9.0]})
    exp = pdf.transform_column("x", np.sqrt, elementwise=False)
    out = pj.transform_column(_sdf(spark, pdf), "x", np.sqrt, elementwise=False)
    compare(spark, exp, out)
    exp2 = pdf.transform_columns(["x"], np.sqrt, suffix="_sq", elementwise=False)
    out2 = pj.transform_columns(_sdf(spark, pdf), ["x"], np.sqrt, suffix="_sq", elementwise=False)
    compare(spark, exp2, out2)
    pdf3 = pd.DataFrame({"t": ["ab", "cde"]})
    exp3 = pdf3.transform_column("t", lambda s: s.str.upper(), elementwise=False)
    out3 = pj.transform_column(
        _sdf(spark, pdf3), "t", lambda s: s.str.upper(), elementwise=False
    )
    compare(spark, exp3, out3)


def test_currency_column_accounting_style(spark):
    pdf = pd.DataFrame({"c": ["1,000.50", "(2,500.00)", "3.25"]})
    exp = pdf.currency_column_to_numeric("c", cleaning_style="accounting")
    out = pj.currency_column_to_numeric(_sdf(spark, pdf), "c", cleaning_style="accounting")
    compare(spark, exp, out)


def test_label_encode(spark):
    pdf = pd.DataFrame({"s": ["b", "a", "b", "c"]})
    # the reference's codes follow first appearance -> supply the order
    sdf = _sdf(spark, pdf.reset_index().rename(columns={"index": "_row_order"}))
    exp = pdf.label_encode("s")
    out = pj.label_encode(sdf, "s", order_by="_row_order").drop("_row_order")
    compare(spark, exp, out)


def test_add_columns(spark):
    pdf = pd.DataFrame({"a": [1, 2]})
    exp = pdf.add_columns(b=10, c="x")
    compare(spark, exp, pj.add_columns(_sdf(spark, pdf), b=10, c="x"))


def test_expand_grid(spark):
    others = {"a": [1, 2], "b": ["x", "y", "z"]}
    exp = ref.expand_grid(others=others)
    exp.columns = ["_".join(map(str, c)) if isinstance(c, tuple) else str(c)
                   for c in exp.columns]
    out = pj.expand_grid(spark, others=others)
    got = out.toPandas()
    assert sorted(map(tuple, got.values.tolist())) == sorted(
        map(tuple, exp.values.tolist())
    )


def test_fill_direction(spark):
    pdf = pd.DataFrame({"v": [None, 1.0, None, 3.0, None]})
    sdf = _sdf(spark, pdf.reset_index().rename(columns={"index": "_row_order"}))
    exp = pdf.fill_direction(v="down")
    out = pj.fill_direction(sdf, {"v": "down"}, order_by="_row_order").drop(
        "_row_order"
    )
    compare(spark, exp, out)


def test_count_cumulative_unique_differential(spark):
    pdf = pd.DataFrame({"s": ["a", "b", "a", "c", "b", "d"]})
    exp = pdf.count_cumulative_unique("s", "n")
    sdf = _sdf(spark, pdf.reset_index().rename(columns={"index": "_row_order"}))
    out = pj.count_cumulative_unique(sdf, "s", "n", order_by="_row_order").drop(
        "_row_order"
    )
    compare(spark, exp, out)


def test_shuffle_multiset(spark):
    pdf = pd.DataFrame({"v": [1, 2, 3, 4, 5]})
    exp = pdf.shuffle(random_state=3)
    got = pj.shuffle(_sdf(spark, pdf), random_state=3).toPandas()
    assert sorted(got["v"]) == sorted(exp["v"])  # permutation identity


def test_process_text(spark):
    pdf = pd.DataFrame({"s": ["Hello World", "Spark SQL"]})
    exp = pdf.process_text("s", string_function="lower")
    compare(spark, exp, pj.process_text(_sdf(spark, pdf), "s", "lower"))
    exp2 = pdf.process_text("s", string_function="replace", pat="o", repl="0")
    compare(
        spark,
        exp2,
        pj.process_text(_sdf(spark, pdf), "s", "replace", pat="o", repl="0"),
    )


def test_move_rows_differential(spark):
    pdf = pd.DataFrame({"v": [10, 20, 30, 40]})
    exp = pdf.move(source=0, target=3, position="before", axis=0)
    sdf = _sdf(spark, pdf.reset_index().rename(columns={"index": "_row_order"}))
    got = pj.move(sdf, source=0, target=3, position="before", axis=0).toPandas()
    assert got["v"].tolist() == exp["v"].tolist()


def test_select_columns(spark):
    pdf = pd.DataFrame({"a_x": [1], "a_y": [2], "b_x": [3]})
    exp = pdf.select_columns("a_*")
    compare(spark, exp, pj.select_columns(_sdf(spark, pdf), "a_*"))
    exp2 = pdf.select_columns("*_x", invert=True)
    compare(spark, exp2, pj.select_columns(_sdf(spark, pdf), "*_x", invert=True))


def test_pivot_wider(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 1, 2, 2],
            "name": ["a", "b", "a", "b"],
            "val": [1.0, 2.0, 3.0, 4.0],
        }
    )
    exp = pdf.pivot_wider(index="id", names_from="name", values_from="val")
    out = pj.pivot_wider(
        _sdf(spark, pdf), index="id", names_from="name", values_from="val"
    )
    compare(spark, exp, out)


# ---- batch 3: join how-variants, reshape patterns, timeseries, math ----


def test_conditional_join_left_right_outer(spark):
    left = pd.DataFrame({"a": [1, 2, 3, 8], "b": [10, 20, 30, 40]})
    right = pd.DataFrame({"c": [2, 3, 9], "d": ["x", "y", "z"]})
    for how in ("left", "right", "outer"):
        exp = left.conditional_join(right, ("a", "c", "<"), how=how)
        out = pj.conditional_join(
            _sdf(spark, left), _sdf(spark, right), ("a", "c", "<"), how=how
        )
        compare(spark, exp, out)


def test_conditional_join_indicator(spark):
    left = pd.DataFrame({"a": [1, 5], "b": [10, 20]})
    right = pd.DataFrame({"c": [2, 3]})
    exp = left.conditional_join(right, ("a", "c", "<"), how="outer", indicator=True)
    exp["_merge"] = exp["_merge"].astype(str)
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", "<"),
        how="outer", indicator=True,
    )
    compare(spark, exp, out)


def test_conditional_join_df_columns(spark):
    left = pd.DataFrame({"a": [1, 2], "b": [10, 20], "junk": ["p", "q"]})
    right = pd.DataFrame({"c": [0, 1], "d": ["x", "y"]})
    exp = left.conditional_join(
        right, ("a", "c", ">"), df_columns=["a", "b"], right_columns=["d"]
    )
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", ">"),
        df_columns=["a", "b"], right_columns=["d"],
    )
    compare(spark, exp, out)


def test_pivot_longer_names_pattern(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2], "new_sp_m014": [3, 4], "new_rel_f65": [5, 6]}
    )
    exp = pdf.pivot_longer(
        index="id",
        names_to=("diagnosis", "gender", "age"),
        names_pattern=r"new_?(.+)_(.)(.+)",
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf),
        index="id",
        names_to=("diagnosis", "gender", "age"),
        names_pattern=r"new_?(.+)_(.)(.+)",
    )
    compare(spark, exp, out)


def test_pivot_longer_single_name(spark):
    pdf = pd.DataFrame({"id": [1], "x": [2.0], "y": [3.0]})
    exp = pdf.pivot_longer(index="id", names_to="var", values_to="val")
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to="var", values_to="val"
    )
    compare(spark, exp, out)


def test_coalesce_string_default_widens(spark):
    pdf = pd.DataFrame({"a": [None, 2.0], "b": [None, None]})
    exp = pdf.copy().coalesce("a", "b", target_column_name="t", default_value="none")
    exp["t"] = exp["t"].astype(str)
    sdf = spark.createDataFrame([(None, None), (2.0, None)], "a double, b double")
    out = pj.coalesce(sdf, ["a", "b"], target_column_name="t", default_value="none")
    compare(spark, exp, out)


def test_coalesce_default_value(spark):
    pdf = pd.DataFrame({"a": [None, 2.0], "b": [None, None]})
    sdf = _sdf(spark, pdf, "a double, b double")
    exp = pdf.coalesce("a", "b", target_column_name="out", default_value=-1.0)
    out = pj.coalesce(sdf, ["a", "b"], target_column_name="out", default_value=-1.0)
    compare(spark, exp, out)


def test_get_dupes_subset(spark):
    pdf = pd.DataFrame({"a": [1, 1, 2], "b": ["x", "y", "z"]})
    exp = pdf.get_dupes("a")
    compare(spark, exp, pj.get_dupes(_sdf(spark, pdf), "a"))


def test_janitor_error_type_parity(spark):
    # the reference's timeseries contracts raise janitor.JanitorError;
    # ours raises pj.JanitorError (a ValueError subclass, so both catch
    # styles work)
    import janitor
    import janitor.timeseries  # noqa: F401

    pdf = pd.DataFrame(
        {"v": [1.0]}, index=pd.to_datetime(["2020-01-01"])
    )
    with pytest.raises(janitor.errors.JanitorError):
        pdf.flag_jumps(scale="bogus")
    sdf = spark.createDataFrame([(1, 1.0)], "ts int, v double")
    with pytest.raises(pj.JanitorError):
        pj.flag_jumps(sdf, ts_column="ts", scale="bogus")
    with pytest.raises(ValueError):
        pj.flag_jumps(sdf, ts_column="ts", direction="sideways")


def test_timeseries_flag_jumps(spark):
    try:
        import janitor.timeseries  # noqa: F401  (registers the methods)
    except Exception:
        pytest.skip("reference timeseries module not importable")
    ts = pd.DataFrame(
        {
            "t": pd.to_datetime(
                ["2021-01-01 00:00", "2021-01-01 01:00", "2021-01-01 05:00"]
            ),
            "v": [1.0, 2.0, 10.0],
        }
    )
    exp = ts.set_index("t").flag_jumps(
        scale="absolute", direction="any", threshold=2
    )
    out = pj.flag_jumps(
        _sdf(spark, ts), ts_column="t", columns=["v"],
        scale="absolute", direction="any", threshold=2,
    )
    got = out.toPandas()
    assert sorted(got["v_jump_flag"].astype(int)) == sorted(
        exp["v_jump_flag"].astype(int)
    )


def test_math_z_score(spark):
    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0, 10.0]})
    exp_series = pdf["v"].z_score()
    exp = pd.DataFrame({"v": pdf["v"], "z": exp_series})
    from pyjanitor_spark import functions as pjm

    out = pjm.apply_math(_sdf(spark, pdf), "v", pjm.z_score, dest="z")
    compare(spark, exp, out)


def test_math_ecdf(spark):
    pdf = pd.DataFrame({"v": [3.0, 1.0, 2.0, 2.0]})
    x, y = pdf["v"].ecdf()
    exp = pd.DataFrame({"v": x, "q": y}).drop_duplicates(subset="v", keep="last")
    from pyjanitor_spark import functions as pjm

    got = (
        pjm.apply_math(_sdf(spark, pdf), "v", pjm.ecdf, dest="q")
        .toPandas()
        .drop_duplicates(subset="v")
        .sort_values("v")
    )
    exp = exp.sort_values("v")
    assert got["v"].tolist() == exp["v"].tolist()
    for a, b in zip(got["q"], exp["q"]):
        assert math.isclose(a, b, rel_tol=1e-9), (a, b)


# ---- batch 4: asof vs pandas merge_asof, misc parity ----


def test_asof_join_vs_pandas_merge_asof(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    left = pd.DataFrame(
        {
            "g": rng.choice(["a", "b"], 40),
            "t": np.sort(rng.uniform(0, 100, 40)),
            "lid": range(40),
        }
    )
    right = pd.DataFrame(
        {
            "g": rng.choice(["a", "b"], 25),
            "t": np.sort(rng.uniform(0, 100, 25)),
            "price": rng.uniform(1, 9, 25).round(3),
        }
    )
    for direction in ("backward", "forward", "nearest"):
        exp = pd.merge_asof(
            left.sort_values("t"),
            right.sort_values("t"),
            on="t",
            by="g",
            direction=direction,
            suffixes=("", "_right"),
        )
        out = pj.asof_join(
            _sdf(spark, left), _sdf(spark, right), on="t", by="g",
            direction=direction,
        ).toPandas()
        # our output carries the matched right `on` value; pandas doesn't
        a = exp.sort_values("lid")["price"].tolist()
        b = out.sort_values("lid")["price"].tolist()
        assert len(a) == len(b)
        for x, y in zip(a, b):
            ok = (pd.isna(x) and pd.isna(y)) or (
                not pd.isna(x) and not pd.isna(y) and abs(x - y) < 1e-9
            )
            assert ok, (direction, x, y)


def test_asof_join_tolerance_vs_pandas(spark):
    left = pd.DataFrame({"t": [1.0, 5.0, 20.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"t": [0.5, 4.0, 10.0], "v": [10.0, 20.0, 30.0]})
    exp = pd.merge_asof(
        left, right, on="t", direction="backward", tolerance=2.0,
        suffixes=("", "_right"),
    )
    out = pj.asof_join(
        _sdf(spark, left), _sdf(spark, right), on="t", direction="backward",
        tolerance=2.0,
    ).toPandas()
    a = exp.sort_values("lid")["v"].tolist()
    b = out.sort_values("lid")["v"].tolist()
    for x, y in zip(a, b):
        assert (pd.isna(x) and pd.isna(y)) or x == y, (a, b)


def test_also_then(spark):
    pdf = pd.DataFrame({"a": [1, 2]})
    seen = []
    exp = pdf.also(lambda d: seen.append(len(d))).then(lambda d: d.assign(b=1))
    out = pj.then(
        pj.also(_sdf(spark, pdf), lambda d: seen.append(d.columns)),
        lambda d: d.withColumn("b", F.lit(1)),
    )
    compare(spark, exp, out)
    assert len(seen) == 2


def test_groupby_agg_dropna_false(spark):
    pdf = pd.DataFrame({"k": ["a", None, "a", None], "v": [1, 2, 3, 4]})
    exp = pdf.groupby_agg(
        by="k", new_column_name="s", agg_column_name="v", agg="sum", dropna=False
    )
    out = pj.groupby_agg(
        _sdf(spark, pdf), "k", "s", "v", "sum", dropna=False
    )
    compare(spark, exp, out)


def test_deconcatenate_preserve_position(spark):
    pdf = pd.DataFrame({"k": ["a-1", "b-2"], "z": [9, 8]})
    exp = pdf.deconcatenate_column(
        "k", sep="-", new_column_names=["l", "r"], preserve_position=True
    )
    out = pj.deconcatenate_column(
        _sdf(spark, pdf), "k", sep="-", new_column_names=["l", "r"],
        preserve_position=True,
    )
    compare(spark, exp, out)


def test_convert_excel_date_multi(spark):
    pdf = pd.DataFrame({"d1": [40000, 41000], "d2": [39000, 39500]})
    exp = pdf.convert_excel_date(["d1", "d2"])
    got = pj.convert_excel_date(_sdf(spark, pdf), ["d1", "d2"]).toPandas()
    for c in ("d1", "d2"):
        assert sorted(got[c].astype(str)) == sorted(exp[c].astype(str)), c


# ---- batch 5: conditional_join keep matrix, pivot_wider expand,
# ---- complete explicit=False, long-tail verb parity ----
#
# keep alignment note: the reference's keep='first'/'last' picks the
# min/max right INDEX per left row (utils.py:687-697); this package
# picks by right CONDITION-column order (layout-stable — positions are
# undefined in a distributed frame).  The frames below sort the right
# side ascending by its condition columns with unique values, so index
# order == condition order and both picks coincide exactly.


def _cj_keep_frames():
    left = pd.DataFrame({"a": [1, 3, 5, 7, 9], "lid": [0, 1, 2, 3, 4]})
    right = pd.DataFrame({"c": [0, 2, 4, 6, 8], "d": ["p", "q", "r", "s", "t"]})
    return left, right


@pytest.mark.parametrize("keep", ["first", "last"])
@pytest.mark.parametrize("how", ["inner", "left", "right", "outer"])
def test_conditional_join_keep_how_matrix(spark, keep, how):
    left, right = _cj_keep_frames()
    exp = left.conditional_join(right, ("a", "c", "<"), how=how, keep=keep)
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", "<"), how=how, keep=keep
    )
    compare(spark, exp, out)


@pytest.mark.parametrize("keep", ["first", "last"])
def test_conditional_join_keep_two_conditions(spark, keep):
    left = pd.DataFrame({"a": [2, 5, 8], "lid": [0, 1, 2]})
    # ascending by (lo, hi): index order == condition-column order
    right = pd.DataFrame({"lo": [0, 1, 4, 7], "hi": [3, 6, 9, 12]})
    exp = left.conditional_join(
        right, ("a", "lo", ">"), ("a", "hi", "<"), keep=keep
    )
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "lo", ">"), ("a", "hi", "<"),
        keep=keep,
    )
    compare(spark, exp, out)


def test_conditional_join_keep_with_indicator(spark):
    left, right = _cj_keep_frames()
    exp = left.conditional_join(
        right, ("a", "c", "<"), how="left", keep="first", indicator=True
    )
    exp["_merge"] = exp["_merge"].astype(str)
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", "<"),
        how="left", keep="first", indicator=True,
    )
    compare(spark, exp, out)


def test_conditional_join_keep_ne(spark):
    left = pd.DataFrame({"a": [0, 4], "lid": [0, 1]})
    right = pd.DataFrame({"c": [0, 4, 8]})
    exp = left.conditional_join(right, ("a", "c", "!="), keep="last")
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", "!="), keep="last"
    )
    compare(spark, exp, out)


def test_pivot_wider_names_expand(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 1, 2],
            "name": pd.Categorical(
                ["a", "b", "a"], categories=["a", "b", "c"]
            ),
            "val": [1.0, 2.0, 3.0],
        }
    )
    exp = pdf.pivot_wider(
        index="id", names_from="name", values_from="val", names_expand=True
    )
    out = pj.pivot_wider(
        _sdf(spark, pdf.assign(name=pdf["name"].astype(str))),
        index="id", names_from="name", values_from="val",
        names_expand={"name": ["a", "b", "c"]},
    )
    compare(spark, exp, out)


def test_pivot_wider_index_expand(spark):
    pdf = pd.DataFrame(
        {
            "id": pd.Categorical([1, 1, 3], categories=[1, 2, 3]),
            "name": ["a", "b", "a"],
            "val": [1.0, 2.0, 3.0],
        }
    )
    exp = pdf.pivot_wider(
        index="id", names_from="name", values_from="val", index_expand=True
    )
    exp["id"] = exp["id"].astype(int)
    out = pj.pivot_wider(
        _sdf(spark, pdf.assign(id=pdf["id"].astype(int))),
        index="id", names_from="name", values_from="val",
        index_expand={"id": [1, 2, 3]},
    )
    compare(spark, exp, out)


def test_pivot_wider_multi_values_from(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 1, 2, 2],
            "name": ["a", "b", "a", "b"],
            "x": [1.0, 2.0, 3.0, 4.0],
            "y": [9.0, 8.0, 7.0, 6.0],
        }
    )
    exp = pdf.pivot_wider(index="id", names_from="name", values_from=["x", "y"])
    out = pj.pivot_wider(
        _sdf(spark, pdf), index="id", names_from="name", values_from=["x", "y"]
    )
    compare(spark, exp, out)


def test_pivot_wider_names_glue(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2], "name": ["a", "a"], "val": [1.0, 2.0]}
    )
    exp = pdf.pivot_wider(
        index="id", names_from="name", values_from="val",
        names_glue="{name}_val",
    )
    out = pj.pivot_wider(
        _sdf(spark, pdf), index="id", names_from="name", values_from="val",
        names_glue="{name}_val",
    )
    compare(spark, exp, out)


def test_complete_explicit_false(spark):
    # explicit=False fills ONLY the newly-exposed rows; pre-existing
    # nulls stay null (reference complete.py merge-indicator trick)
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "b"],
            "item": [1, 2, 1],
            "v": [10.0, None, 30.0],
        }
    )
    exp = pdf.complete("g", "item", fill_value={"v": 0.0}, explicit=False)
    out = pj.complete(
        _sdf(spark, pdf), "g", "item", fill_value={"v": 0.0}, explicit=False
    )
    compare(spark, exp, out)


def test_complete_fill_value_explicit_true(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "b"], "item": [1, 2, 1], "v": [10.0, None, 30.0]}
    )
    exp = pdf.complete("g", "item", fill_value={"v": 0.0})
    out = pj.complete(_sdf(spark, pdf), "g", "item", fill_value={"v": 0.0})
    compare(spark, exp, out)


def test_complete_by_group(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "b", "b"],
            "yr": [2020, 2021, 2020, 2022],
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    exp = pdf.complete("yr", by="g")
    out = pj.complete(_sdf(spark, pdf), "yr", by="g")
    compare(spark, exp, out)


def test_complete_by_fill_explicit_combos(spark):
    # the full by x fill_value x explicit matrix (VERDICT r8 task 8) —
    # the reference threads all three through one merge-indicator path
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "b", "b"],
            "yr": [2020, 2021, 2020, 2022],
            "v": [1.0, None, 3.0, 4.0],
        }
    )
    for explicit in (True, False):
        exp = pdf.copy().complete(
            "yr", by="g", fill_value={"v": 0.0}, explicit=explicit
        )
        out = pj.complete(
            _sdf(spark, pdf), "yr", by="g",
            fill_value={"v": 0.0}, explicit=explicit,
        )
        compare(spark, exp, out)


def test_complete_by_sort_row_order(spark):
    # sort=True with by: ordered by the completed keys, exactly the
    # reference's output row order (not just set equality)
    pdf = pd.DataFrame(
        {
            "g": ["b", "a", "b", "a"],
            "yr": [2022, 2021, 2020, 2020],
            "v": [4.0, 2.0, 3.0, 1.0],
        }
    )
    exp = pdf.copy().complete("yr", by="g", sort=True)
    out = pj.complete(_sdf(spark, pdf), "yr", by="g", sort=True).toPandas()
    erows = [
        tuple(None if pd.isna(x) else x for x in r)
        for r in exp.itertuples(index=False)
    ]
    grows = [
        tuple(None if pd.isna(x) else x for x in r)
        for r in out.itertuples(index=False)
    ]
    assert erows == grows


def test_complete_list_spec_with_fill(spark):
    # list spec = observed combinations move together (tidyr nesting),
    # crossed against the scalar spec, exposed rows filled
    pdf = pd.DataFrame(
        {"g": ["a", "b"], "s": ["x", "y"], "item": [1, 2], "v": [1.0, 2.0]}
    )
    exp = pdf.copy().complete(["g", "s"], "item", fill_value={"v": -1.0})
    out = pj.complete(
        _sdf(spark, pdf), ["g", "s"], "item", fill_value={"v": -1.0}
    )
    compare(spark, exp, out)


def test_complete_dict_callable_spec(spark):
    # dict value may be a callable over the FRAME (reference
    # expand_grid.py passes df); both engines densify 1..3
    pdf = pd.DataFrame({"item": [1, 3], "v": [1.0, 2.0]})
    exp = pdf.copy().complete(
        {"item": lambda d: range(int(d["item"].min()), int(d["item"].max()) + 1)}
    )
    out = pj.complete(
        _sdf(spark, pdf),
        {"item": lambda d: range(1, 4)},
    )
    compare(spark, exp, out)


def test_complete_string_fill_widens_numeric(spark):
    # a string fill_value landing in a float column: pandas mixes the
    # object column; the typed analogue widens the column to string
    # (fill_empty's documented rule, now shared by complete) — values
    # agree under str(); explicit=False keeps pre-existing nulls
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "b"],
            "item": [1, 2, 1],
            "v": [1.0, None, 3.0],
            "s": ["p", None, "q"],
        }
    )
    for explicit in (True, False):
        exp = pdf.copy().complete(
            "g", "item", fill_value="zz", explicit=explicit
        )
        out = pj.complete(
            _sdf(spark, pdf), "g", "item", fill_value="zz", explicit=explicit
        ).toPandas()
        key = ["g", "item"]
        e = exp.sort_values(key).reset_index(drop=True)
        o = out.sort_values(key).reset_index(drop=True)
        for c in ("v", "s"):
            for a, b in zip(e[c], o[c]):
                if pd.isna(a) or b is None:
                    assert pd.isna(a) and b is None, (c, a, b)
                else:
                    assert str(a) == str(b), (c, a, b)


def test_pivot_wider_multi_values_column_order(spark):
    # pandas flattens the (value, label) MultiIndex VALUES-major
    # (v1|a, v1|b, v2|a, v2|b); Spark's pivot emits labels-major —
    # the output must be reordered to match
    pdf = pd.DataFrame(
        {"id": [1, 1], "n": ["a", "b"], "v1": [1.0, 2.0], "v2": [3.0, 4.0]}
    )
    for sep in ("|", "_"):
        exp = pdf.copy().pivot_wider(
            index="id", names_from="n", values_from=["v1", "v2"],
            names_sep=sep,
        )
        out = pj.pivot_wider(
            _sdf(spark, pdf), index="id", names_from="n",
            values_from=["v1", "v2"], names_sep=sep,
        )
        assert out.columns == list(exp.columns), (sep, exp.columns, out.columns)
        compare(spark, exp, out)


def test_pivot_wider_names_expand_ordered_categorical(spark):
    # ordered categorical names_from with an UNUSED leading level:
    # names_expand emits a column per level in category order
    pdf = pd.DataFrame(
        {
            "id": [1, 2],
            "name": pd.Categorical(
                ["b", "a"], categories=["c", "b", "a"], ordered=True
            ),
            "val": [1.0, 2.0],
        }
    )
    exp = pdf.pivot_wider(
        index="id", names_from="name", values_from="val", names_expand=True
    )
    out = pj.pivot_wider(
        _sdf(spark, pdf.assign(name=pdf["name"].astype(str))),
        index="id", names_from="name", values_from="val",
        names_expand={"name": ["c", "b", "a"]},
    )
    assert out.columns == list(exp.columns)
    compare(spark, exp, out)


def test_pivot_longer_names_transform(spark):
    pdf = pd.DataFrame({"id": [1], "wk1": [5.0], "wk2": [6.0]})
    exp = pdf.pivot_longer(
        index="id", names_to="week", names_pattern=r"wk(\d)",
        names_transform={"week": int},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to="week", names_pattern=r"wk(\d)",
        names_transform={"week": "int"},
    )
    compare(spark, exp, out)


def test_pivot_longer_list_pattern(spark):
    pdf = pd.DataFrame(
        {"id": [1], "x_lo": [1.0], "x_hi": [2.0], "y_lo": [3.0], "y_hi": [4.0]}
    )
    exp = pdf.pivot_longer(
        index="id", names_to=["xs", "ys"], names_pattern=["^x", "^y"]
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to=["xs", "ys"],
        names_pattern=["^x", "^y"],
    )
    compare(spark, exp, out)


def test_reorder_columns(spark):
    pdf = pd.DataFrame({"a": [1], "b": [2], "c": [3]})
    exp = pdf.reorder_columns(["c", "a"])
    out = pj.reorder_columns(_sdf(spark, pdf), ["c", "a"])
    got = out.toPandas()
    assert list(got.columns) == list(exp.columns)
    compare(spark, exp, out)


def test_move_column(spark):
    pdf = pd.DataFrame({"a": [1], "b": [2], "c": [3]})
    exp = pdf.move(source="c", target="a", position="before", axis=1)
    out = pj.move(_sdf(spark, pdf), source="c", target="a", position="before")
    got = out.toPandas()
    assert list(got.columns) == list(exp.columns)
    compare(spark, exp, out)


def test_rename_columns_mapping(spark):
    pdf = pd.DataFrame({"a": [1], "b": [2]})
    exp = pdf.rename_columns({"a": "x", "b": "y"})
    out = pj.rename_columns(_sdf(spark, pdf), {"a": "x", "b": "y"})
    compare(spark, exp, out)


def test_drop_constant_columns_differential(spark):
    pdf = pd.DataFrame({"a": [1, 1, 1], "b": [1, 2, 3], "c": ["z", "z", "z"]})
    exp = pdf.drop_constant_columns()
    out = pj.drop_constant_columns(_sdf(spark, pdf))
    compare(spark, exp, out)


def test_change_type_differential(spark):
    pdf = pd.DataFrame({"a": ["1", "2"], "b": [1.7, 2.2]})
    exp = pdf.change_type("a", int).change_type("b", str)
    out = pj.change_type(pj.change_type(_sdf(spark, pdf), "a", "int"), "b", "string")
    got = out.toPandas()
    assert sorted(got["a"]) == sorted(exp["a"])
    assert sorted(got["b"]) == sorted(exp["b"])


def test_change_type_unknown_option(spark):
    pdf = pd.DataFrame({"a": ["1", "x"]})
    sdf = _sdf(spark, pdf)
    with pytest.raises(ValueError):
        pdf.change_type("a", int, ignore_exception="coerce")
    with pytest.raises(ValueError):
        pj.change_type(sdf, "a", "int", ignore_exception="coerce")


def test_jitter_error_contracts(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0], "s": ["a", "b"]})
    sdf = _sdf(spark, pdf)
    for exc, kwargs in [
        (TypeError, dict(column_name="x", dest_column_name="j", scale="big")),
        (ValueError, dict(column_name="x", dest_column_name="j", scale=0)),
        (ValueError, dict(column_name="x", dest_column_name="j", scale=-1.5)),
        (TypeError, dict(column_name="s", dest_column_name="j", scale=1.0)),
        (ValueError, dict(column_name="x", dest_column_name="j", scale=1.0, clip=(1, 2, 3))),
        (ValueError, dict(column_name="x", dest_column_name="j", scale=1.0, clip=(5, 1))),
    ]:
        with pytest.raises(exc):
            pdf.jitter(**kwargs)
        with pytest.raises(exc):
            pj.jitter(sdf, **kwargs)


def test_remove_columns_differential(spark):
    pdf = pd.DataFrame({"a": [1], "b": [2], "c": [3]})
    exp = pdf.remove_columns(["b"])
    out = pj.remove_columns(_sdf(spark, pdf), ["b"])
    compare(spark, exp, out)


def test_filter_date_differential(spark):
    pdf = pd.DataFrame(
        {
            "d": pd.to_datetime(
                ["2020-01-15", "2020-06-15", "2021-01-15", "2021-06-15"]
            ),
            "v": [1, 2, 3, 4],
        }
    )
    exp = pdf.filter_date("d", start_date="2020-03-01", end_date="2021-03-01")
    out = pj.filter_date(
        _sdf(spark, pdf), "d", start_date="2020-03-01", end_date="2021-03-01"
    )
    got = sorted(out.toPandas()["v"])
    assert got == sorted(exp["v"])


def test_filter_date_years_months(spark):
    pdf = pd.DataFrame(
        {
            "d": pd.to_datetime(
                ["2020-01-15", "2020-06-15", "2021-01-15", "2021-06-15"]
            ),
            "v": [1, 2, 3, 4],
        }
    )
    exp = pdf.filter_date("d", years=[2021], months=[1])
    out = pj.filter_date(_sdf(spark, pdf), "d", years=[2021], months=[1])
    assert sorted(out.toPandas()["v"]) == sorted(exp["v"])


def test_filter_column_isin_differential(spark):
    pdf = pd.DataFrame({"k": ["a", "b", "c"], "v": [1, 2, 3]})
    exp = pdf.filter_column_isin("k", ["a", "c"])
    out = pj.filter_column_isin(_sdf(spark, pdf), "k", ["a", "c"])
    compare(spark, exp, out)


def test_case_when_three_branches(spark):
    pdf = pd.DataFrame({"v": [1, 5, 9, 13]})
    exp = pdf.case_when(
        pdf.v < 4, "low",
        pdf.v < 8, "mid",
        pdf.v < 12, "high",
        "top",
        column_name="band",
    )
    sdf = _sdf(spark, pdf)
    out = pj.case_when(
        sdf,
        F.col("v") < 4, "low",
        F.col("v") < 8, "mid",
        F.col("v") < 12, "high",
        "top",
        column_name="band",
    )
    compare(spark, exp, out)


def test_math_log_exp(spark):
    pdf = pd.DataFrame({"v": [-1.0, 0.5, 2.0, 10.0]})
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")
        exp_log = pdf["v"].log(error="ignore")
    exp_exp = pdf["v"].exp()
    from pyjanitor_spark.functions import math as pjm

    sdf = _sdf(spark, pdf)
    got = (
        sdf.select(
            "v",
            pjm.log(F.col("v")).alias("ln"),
            pjm.exp(F.col("v")).alias("ex"),
        )
        .toPandas()
        .sort_values("v")
    )
    ref_frame = pd.DataFrame(
        {"v": pdf["v"], "ln": exp_log, "ex": exp_exp}
    ).sort_values("v")
    for c in ("ln", "ex"):
        a, b = got[c].to_numpy(), ref_frame[c].to_numpy()
        for x, y in zip(a, b):
            if pd.isna(y):
                assert x is None or pd.isna(x)
            else:
                assert math.isclose(x, y, rel_tol=1e-9), c


def test_row_to_names_multirow(spark):
    # multiple promoted rows give the reference MultiIndex columns; the
    # flat-Spark stand-in is the "_"-joined name (SURVEY §1.4, same
    # convention as collapse_levels)
    pdf = pd.DataFrame({"x": ["p", "q", "r", "s"], "y": ["1", "2", "3", "4"]})
    exp = pdf.row_to_names([0, 1], remove_rows=True)
    exp.columns = ["_".join(map(str, c)) for c in exp.columns]
    sdf = _sdf(spark, pdf.reset_index(names="_row_order"))
    out = pj.row_to_names(
        sdf, row_numbers=[0, 1], remove_rows=True, order_by="_row_order"
    ).drop("_row_order")
    compare(spark, exp, out)


def test_groupby_topk_ascending(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "v": [3, 1, 2, 9, 7]}
    )
    exp = pdf.groupby_topk(by="g", column="v", k=2, ascending=True)
    out = pj.groupby_topk(_sdf(spark, pdf), by="g", column="v", k=2, ascending=True)
    compare(spark, exp.reset_index(drop=True), out)


def test_impute_statistic_modes(spark):
    pdf = pd.DataFrame({"v": [1.0, None, 3.0, 3.0]})
    for stat in ("median", "mode", "minimum", "maximum"):
        exp = pdf.copy().impute("v", statistic_column_name=stat)
        out = pj.impute(_sdf(spark, pdf), "v", statistic_column_name=stat)
        compare(spark, exp, out)


def test_fill_missing_timestamps_differential(spark):
    ts = pd.to_datetime(
        ["2021-01-01 00:00", "2021-01-01 02:00", "2021-01-01 05:00"]
    )
    pdf = pd.DataFrame({"ts": ts, "v": [1.0, 2.0, 3.0]})
    import janitor.timeseries  # noqa: F401  (registers the method)

    exp = (
        pdf.set_index("ts")
        .pipe(
            lambda d: __import__("janitor").timeseries.fill_missing_timestamps(
                d, frequency="1h"
            )
        )
        .reset_index()
        .rename(columns={"index": "ts"})
    )
    out = pj.fill_missing_timestamps(_sdf(spark, pdf), "1 hour", column_name="ts")
    got = out.toPandas().sort_values("ts").reset_index(drop=True)
    exp = exp.sort_values("ts").reset_index(drop=True)
    assert list(got["ts"].astype(str)) == list(exp["ts"].astype(str))
    a = got["v"].to_numpy()
    b = exp["v"].to_numpy()
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert (pd.isna(x) and pd.isna(y)) or x == y


# ---- batch 6: null semantics, selection patterns, text methods ----


def test_conditional_join_null_range_ops(spark):
    # nulls never satisfy </>=; both engines drop them from inner output
    left = pd.DataFrame({"a": [1.0, None, 3.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"c": [2.0, None], "rid": [0, 1]})
    for op in ("<", ">="):
        exp = left.conditional_join(right, ("a", "c", op))
        out = pj.conditional_join(
            _sdf(spark, left), _sdf(spark, right), ("a", "c", op)
        )
        compare(spark, exp, out)


def test_conditional_join_null_ne(spark):
    # pandas `!=`: null is unequal to EVERYTHING, including null — all
    # 3x2 pairs qualify except the equal non-null ones
    left = pd.DataFrame({"a": [1.0, None, 3.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"c": [2.0, None], "rid": [0, 1]})
    exp = left.conditional_join(right, ("a", "c", "!="))
    out = pj.conditional_join(_sdf(spark, left), _sdf(spark, right), ("a", "c", "!="))
    compare(spark, exp, out)


def test_conditional_join_null_left_completion(spark):
    # null left rows are unmatched under '<' and must null-complete
    left = pd.DataFrame({"a": [1.0, None, 3.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"c": [2.0, None], "rid": [0, 1]})
    exp = left.conditional_join(right, ("a", "c", "<"), how="left")
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", "<"), how="left"
    )
    compare(spark, exp, out)


def test_conditional_join_null_eq_mixed(spark):
    # '==' never matches nulls in either engine (the reference rejects
    # equality-ONLY conditional joins, so pair it with an inequality)
    left = pd.DataFrame(
        {"k": [1.0, None, 2.0], "a": [5.0, 5.0, 5.0], "lid": [0, 1, 2]}
    )
    right = pd.DataFrame({"k2": [None, 2.0], "c": [9.0, 9.0], "rid": [0, 1]})
    exp = left.conditional_join(right, ("k", "k2", "=="), ("a", "c", "<"))
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("k", "k2", "=="), ("a", "c", "<")
    )
    compare(spark, exp, out)


def test_update_where_string_condition(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    exp = pdf.update_where("a > 1", "b", "BIG")
    out = pj.update_where(_sdf(spark, pdf), "a > 1", "b", "BIG")
    compare(spark, exp, out)


def test_select_columns_glob_and_invert(spark):
    import warnings as _w

    pdf = pd.DataFrame({"id": [1], "x_a": [2], "x_b": [3], "yy": [4]})
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        exp = pdf.select_columns("x_*")
        exp_inv = pdf.select_columns("x_*", invert=True)
    compare(spark, exp, pj.select_columns(_sdf(spark, pdf), "x_*"))
    compare(spark, exp_inv, pj.select_columns(_sdf(spark, pdf), "x_*", invert=True))


def test_select_columns_regex(spark):
    import re
    import warnings as _w

    pdf = pd.DataFrame({"id": [1], "x_a": [2], "x_b": [3], "yy": [4]})
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        exp = pdf.select_columns(re.compile("^x_"))
    compare(spark, exp, pj.select_columns(_sdf(spark, pdf), re.compile("^x_")))


def test_encode_categorical_values_stable(spark):
    # categorical dtype is a pandas storage detail; values pass through
    pdf = pd.DataFrame({"k": ["b", "a", "b"], "v": [1, 2, 3]})
    exp = pdf.encode_categorical("k").astype({"k": str})
    out = pj.encode_categorical(_sdf(spark, pdf), "k")
    compare(spark, exp, out)


def test_encode_categorical_error_contracts(spark):
    # identity on Spark data, but the argument contract matches the
    # reference: column_names/kwargs mutual exclusion, column existence,
    # and kwarg value validation (order string / unique non-null array)
    pdf = pd.DataFrame({"k": ["b", "a", "b"], "v": [1, 2, 3]})
    sdf = _sdf(spark, pdf)
    with pytest.raises(ValueError):
        pdf.encode_categorical("k", v="sort")
    with pytest.raises(ValueError):
        pj.encode_categorical(sdf, "k", v="sort")
    for kwargs in [
        dict(zzz="sort"),
        dict(k="alphabetical"),
        dict(k=["a", None]),
        dict(k=["a", "a"]),
        dict(k=[]),
    ]:
        with pytest.raises((ValueError, TypeError)):
            pdf.encode_categorical(**kwargs)
        with pytest.raises((ValueError, TypeError)):
            pj.encode_categorical(sdf, **kwargs)
    # valid kwarg forms pass through with values intact
    for kwargs in [dict(k="sort"), dict(k="appearance"), dict(k=["b", "a"]), dict(k=None)]:
        exp = pdf.encode_categorical(**kwargs).astype({"k": str})
        compare(spark, exp, pj.encode_categorical(sdf, **kwargs))


def test_process_text_title_word_boundaries(spark):
    # str.title() restarts a word after ANY non-alpha, not just spaces —
    # "a-b-c" -> "A-B-C"; routed through the pandas fallback, not initcap
    pdf = pd.DataFrame({"t": ["a-b-c", "tab\there", "MiXeD 123x", "plain words"]})
    exp = pdf.process_text("t", string_function="title")
    out = pj.process_text(_sdf(spark, pdf), "t", "title")
    compare(spark, exp, out)


def test_process_text_methods_sweep(spark):
    # one pass over the dispatch table's hot methods vs the live
    # reference on boundary-rich strings (empties, padding, mixed case)
    texts = ["Hello World", "  padded  ", "UPPER", "lower", "MiXeD 123", "a-b-c", ""]
    cases = [
        ("lower", {}, "string"), ("upper", {}, "string"),
        ("capitalize", {}, "string"), ("strip", {}, "string"),
        ("lstrip", {}, "string"), ("rstrip", {}, "string"),
        ("swapcase", {}, "string"), ("casefold", {}, "string"),
        ("removeprefix", {"prefix": "He"}, "string"),
        ("removesuffix", {"suffix": "c"}, "string"),
        ("repeat", {"repeats": 2}, "string"),
        ("replace", {"pat": "l", "repl": "L"}, "string"),
    ]
    for m, kw, rt in cases:
        pdf = pd.DataFrame({"t": texts})
        exp = pdf.process_text("t", string_function=m, **kw)
        out = pj.process_text(_sdf(spark, pdf), "t", m, return_type=rt, **kw)
        compare(spark, exp, out)


def test_process_text_kwarg_edges(spark):
    # keyword surfaces pandas honors that naive Spark mappings drop:
    # negative slice bounds, case=False contains, literal 1-char split
    # pats with n= max-splits, sign-aware zfill, tuple prefixes,
    # occurrence-limited replace
    cases = [
        ("slice", {"start": -3}, ["abcdef", "ab"], "string"),
        ("slice", {"start": 1, "stop": -1}, ["abcdef", "ab"], "string"),
        ("contains", {"pat": "HELLO", "case": False}, ["hello world", "bye"], "boolean"),
        ("zfill", {"width": 4}, ["-7", "+7", "7", "longer"], "string"),
        ("replace", {"pat": "a", "repl": "X", "n": 1}, ["banana"], "string"),
    ]
    for m, kw, texts, rt in cases:
        pdf = pd.DataFrame({"t": texts})
        exp = pdf.process_text("t", string_function=m, **kw)
        out = pj.process_text(_sdf(spark, pdf), "t", m, return_type=rt, **kw)
        got = out.toPandas()["t"].tolist()
        want = exp["t"].tolist()
        assert [bool(x) if isinstance(w, bool) else x for x, w in zip(got, want)] == want, (m, got, want)
    # split with n= compares element-wise (array column)
    pdf = pd.DataFrame({"t": ["a-b-c", "x"]})
    exp = pdf.process_text("t", string_function="split", pat="-", n=1)["t"].tolist()
    got = pj.process_text(_sdf(spark, pdf), "t", "split", pat="-", n=1).toPandas()["t"].tolist()
    assert [list(v) for v in got] == [list(v) for v in exp]
    # tuple prefixes
    pdf2 = pd.DataFrame({"t": ["apple", "beta", "cat"]})
    exp2 = pdf2.process_text("t", string_function="startswith", pat=("a", "b"))["t"].tolist()
    got2 = pj.process_text(_sdf(spark, pdf2), "t", "startswith", return_type="boolean", pat=("a", "b")).toPandas()["t"].tolist()
    assert [bool(v) for v in got2] == exp2


def test_process_text_more_methods(spark):
    pdf = pd.DataFrame({"s": ["  pad  ", "x  ", " y"]})
    exp = pdf.process_text("s", string_function="strip")
    compare(spark, exp, pj.process_text(_sdf(spark, pdf), "s", "strip"))
    pdf2 = pd.DataFrame({"s": ["abcdef", "xy"]})
    exp2 = pdf2.process_text("s", string_function="slice", start=1, stop=4)
    compare(
        spark, exp2,
        pj.process_text(_sdf(spark, pdf2), "s", "slice", start=1, stop=4),
    )


def test_transform_columns_suffix(spark):
    pdf = pd.DataFrame({"x": [1.0, 4.0], "y": [9.0, 16.0]})
    import numpy as np

    exp = pdf.transform_columns(["x", "y"], np.sqrt, suffix="_sq")
    out = pj.transform_columns(
        _sdf(spark, pdf), ["x", "y"], F.sqrt, suffix="_sq"
    )
    compare(spark, exp, out)


def test_conditional_join_date_typed_range(spark):
    # DATE columns cannot cast to double directly (ANSI suggests
    # UNIX_DATE) — the bucketizer routes them through timestamp; the
    # reference only accepts datetime64, so expected values come from
    # that and our DATE output is timestamp-normalized for compare
    L = pd.DataFrame(
        {"d": pd.to_datetime(["2020-01-05", "2020-03-01", "2021-01-01"]), "lid": [0, 1, 2]}
    )
    R = pd.DataFrame(
        {
            "lo": pd.to_datetime(["2020-01-01", "2020-02-01"]),
            "hi": pd.to_datetime(["2020-01-31", "2020-06-30"]),
            "rid": [10, 11],
        }
    )
    sl = spark.createDataFrame(L).withColumn("d", F.col("d").cast("date"))
    sr = (
        spark.createDataFrame(R)
        .withColumn("lo", F.col("lo").cast("date"))
        .withColumn("hi", F.col("hi").cast("date"))
    )
    for how in ("inner", "left", "right", "outer"):
        exp = L.conditional_join(R, ("d", "lo", ">="), ("d", "hi", "<="), how=how)
        out = pj.conditional_join(sl, sr, ("d", "lo", ">="), ("d", "hi", "<="), how=how)
        for c in ("d", "lo", "hi"):
            out = out.withColumn(c, F.col(c).cast("timestamp"))
        compare(spark, exp, out)


def test_conditional_join_equality_only_superset(spark):
    # documented superset: the reference refuses equality-only condition
    # lists; ours runs them as a null-safe hash join (same '==' pairing
    # as the mixed form)
    L = pd.DataFrame({"k": [1.0, 2.0, None], "lid": [0, 1, 2]})
    R = pd.DataFrame({"k": [1.0, None], "rid": [10, 11]})
    with pytest.raises(ValueError):
        L.conditional_join(R, ("k", "k", "=="))
    out = pj.conditional_join(_sdf(spark, L), _sdf(spark, R), ("k", "k", "==")).toPandas()
    assert sorted(out["lid"].tolist()) == [0, 2]


def test_conditional_join_timestamp_range(spark):
    # non-numeric (timestamp) range conditions: the bucketizer casts
    # timestamps to seconds; semantics must match pandas datetime compare
    left = pd.DataFrame(
        {
            "t": pd.to_datetime(
                ["2021-01-01", "2021-03-01", "2021-06-01", "2021-09-01"]
            ),
            "lid": [0, 1, 2, 3],
        }
    )
    right = pd.DataFrame(
        {
            "start": pd.to_datetime(["2021-02-01", "2021-05-01"]),
            "end": pd.to_datetime(["2021-04-01", "2021-10-01"]),
            "rid": [0, 1],
        }
    )
    exp = left.conditional_join(right, ("t", "start", ">"), ("t", "end", "<"))
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("t", "start", ">"), ("t", "end", "<")
    )
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    assert got == sorted(zip(exp["lid"], exp["rid"]))


def test_conditional_join_string_inequality(spark):
    # the REFERENCE rejects non-numeric/datetime non-equi conditions
    # (conditional_join.py dtype check); this engine is a superset —
    # lexicographic string inequality works via the plain-join fallback
    # (strings can't bucketize: cast-to-double is null)
    left = pd.DataFrame({"s": ["apple", "mango", "zebra"], "lid": [0, 1, 2]})
    right = pd.DataFrame({"cut": ["banana", "yak"], "rid": [0, 1]})
    with pytest.raises(TypeError, match="non equi-join"):
        left.conditional_join(right, ("s", "cut", "<"))
    out = pj.conditional_join(_sdf(spark, left), _sdf(spark, right), ("s", "cut", "<"))
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    exp = sorted(
        (l, r)
        for l, s in enumerate(["apple", "mango", "zebra"])
        for r, c in enumerate(["banana", "yak"])
        if s < c
    )
    assert got == exp


# ---- batch 7: parameter variants on already-covered verbs ----


def test_bin_numeric_right_false(spark):
    pdf = pd.DataFrame({"v": [0.0, 2.0, 5.0, 7.0, 10.0]})
    exp = pdf.bin_numeric(
        from_column_name="v", to_column_name="b",
        bins=[0, 5, 10], labels=["lo", "hi"], right=False,
    )
    exp["b"] = exp["b"].astype(str)
    out = pj.bin_numeric(
        _sdf(spark, pdf), "v", "b", bins=[0, 5, 10], labels=["lo", "hi"],
        right=False,
    )
    compare(spark, exp.replace({"b": {"nan": None}}), out)


def test_bin_numeric_include_lowest(spark):
    pdf = pd.DataFrame({"v": [0.0, 2.0, 5.0, 7.0]})
    exp = pdf.bin_numeric(
        from_column_name="v", to_column_name="b",
        bins=[0, 5, 10], labels=["lo", "hi"], include_lowest=True,
    )
    exp["b"] = exp["b"].astype(str)
    out = pj.bin_numeric(
        _sdf(spark, pdf), "v", "b", bins=[0, 5, 10], labels=["lo", "hi"],
        include_lowest=True,
    )
    compare(spark, exp.replace({"b": {"nan": None}}), out)


def test_round_to_fraction_digits(spark):
    pdf = pd.DataFrame({"v": [1.2345, 2.7182, 3.9999]})
    exp = pdf.round_to_fraction("v", denominator=3, digits=2)
    out = pj.round_to_fraction(_sdf(spark, pdf), "v", denominator=3, digits=2)
    compare(spark, exp, out)


def test_min_max_scale_feature_range_subset(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [10.0, 20.0, 30.0]})
    exp = pdf.min_max_scale(feature_range=(-1, 1), column_name="x")
    out = pj.min_max_scale(
        _sdf(spark, pdf), feature_range=(-1, 1), column_name="x"
    )
    compare(spark, exp, out)


def test_complete_dict_spec(spark):
    pdf = pd.DataFrame({"item": [1, 3], "v": [10.0, 30.0]})
    exp = pdf.complete({"item": [1, 2, 3, 4]})
    out = pj.complete(_sdf(spark, pdf), {"item": [1, 2, 3, 4]})
    compare(spark, exp, out)


def test_pivot_longer_multi_index(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2], "grp": ["a", "b"], "x_1": [1.0, 2.0], "x_2": [3.0, 4.0]}
    )
    exp = pdf.pivot_longer(
        index=["id", "grp"], names_to=("var", "t"), names_sep="_"
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index=["id", "grp"], names_to=("var", "t"), names_sep="_"
    )
    compare(spark, exp, out)


def test_flag_nulls_existing_column_raises(spark):
    pdf = pd.DataFrame({"x": [1], "null_flag": [0]})
    with pytest.raises(ValueError):
        pdf.flag_nulls()
    with pytest.raises(ValueError):
        pj.flag_nulls(_sdf(spark, pdf))


def test_flag_nulls_subset(spark):
    pdf = pd.DataFrame(
        {"a": [1.0, None, 3.0], "b": [None, None, "x"], "c": [1, 2, 3]}
    )
    exp = pdf.flag_nulls(column_name="flag", columns=["a"])
    out = pj.flag_nulls(_sdf(spark, pdf), column_name="flag", columns=["a"])
    compare(spark, exp, out)


def test_convert_unix_date_differential(spark):
    pdf = pd.DataFrame({"t": [0, 86400, 1609459200]})
    exp = pdf.convert_unix_date("t")
    got = pj.convert_unix_date(_sdf(spark, pdf), "t").toPandas()
    assert sorted(got["t"].astype(str)) == sorted(exp["t"].astype(str))


def test_groupby_topk_within_ties(spark):
    pdf = pd.DataFrame({"g": ["a"] * 4, "v": [5, 5, 3, 1], "id": [0, 1, 2, 3]})
    exp = pdf.groupby_topk(by="g", column="v", k=3)
    out = pj.groupby_topk(_sdf(spark, pdf), by="g", column="v", k=3)
    # tie order among equal v differs; compare the multiset of kept v
    assert sorted(out.toPandas()["v"]) == sorted(exp["v"])


def test_concatenate_columns_ignore_empty(spark):
    # DOCUMENTED DEVIATION: the reference runs astype(str) BEFORE its
    # fillna(""), so a null becomes the literal token "None"/"nan" and
    # survives ignore_empty (concatenate_columns.py:61-73) — against its
    # own docstring ("Ignore null values if exists").  This engine
    # honors the documented intent: null segments drop.
    pdf = pd.DataFrame({"a": ["x", None], "b": ["1", "2"]})
    exp = pdf.concatenate_columns(["a", "b"], "j", sep="-", ignore_empty=True)
    assert list(exp["j"]) == ["x-1", "None-2"]  # the astype artifact
    out = pj.concatenate_columns(
        _sdf(spark, pdf), ["a", "b"], "j", sep="-", ignore_empty=True
    )
    got = {r["b"]: r["j"] for r in out.collect()}
    assert got == {"1": "x-1", "2": "2"}


def test_conditional_join_two_left_range_columns(spark):
    # ranges on TWO different left columns: the bucketizer requires one
    # left point column, so this takes the exact fallback — semantics
    # must still match the reference
    left = pd.DataFrame(
        {"a": [1, 5, 9], "b": [10, 6, 2], "lid": [0, 1, 2]}
    )
    right = pd.DataFrame({"c": [4, 8], "d": [5, 9], "rid": [0, 1]})
    exp = left.conditional_join(right, ("a", "c", "<"), ("b", "d", ">"))
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "c", "<"), ("b", "d", ">")
    )
    compare(spark, exp, out)


def test_conditional_join_three_conditions(spark):
    left = pd.DataFrame(
        {"k": [1, 1, 2, 2], "a": [3, 7, 3, 7], "b": [9, 5, 9, 5], "lid": range(4)}
    )
    right = pd.DataFrame(
        {"k2": [1, 2], "lo": [2, 4], "hi": [8, 10], "rid": [0, 1]}
    )
    exp = left.conditional_join(
        right, ("k", "k2", "=="), ("a", "lo", ">"), ("b", "hi", "<")
    )
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right),
        ("k", "k2", "=="), ("a", "lo", ">"), ("b", "hi", "<"),
    )
    compare(spark, exp, out)


def test_conditional_join_le_ge_bounds(spark):
    # inclusive bounds both sides
    left = pd.DataFrame({"a": [2, 4, 6], "lid": [0, 1, 2]})
    right = pd.DataFrame({"lo": [2, 4], "hi": [4, 6], "rid": [0, 1]})
    exp = left.conditional_join(right, ("a", "lo", ">="), ("a", "hi", "<="))
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right), ("a", "lo", ">="), ("a", "hi", "<=")
    )
    compare(spark, exp, out)


def test_fill_direction_updown_downup(spark):
    pdf = pd.DataFrame(
        {"u": [None, 1.0, None, 3.0, None], "d": [None, 5.0, None, 7.0, None]}
    )
    sdf = _sdf(spark, pdf.reset_index().rename(columns={"index": "_row_order"}))
    exp = pdf.fill_direction(u="updown", d="downup")
    out = pj.fill_direction(
        sdf, {"u": "updown", "d": "downup"}, order_by="_row_order"
    ).drop("_row_order")
    compare(spark, exp, out)


def test_process_text_arrow_fallback_methods(spark):
    # swapcase/zfill have no Spark builtin — the Arrow pandas fallback
    # must agree with pandas .str exactly
    pdf = pd.DataFrame({"s": ["AbC", "xYz", "Q"]})
    exp = pdf.process_text("s", string_function="swapcase")
    compare(spark, exp, pj.process_text(_sdf(spark, pdf), "s", "swapcase"))
    pdf2 = pd.DataFrame({"s": ["7", "42", "1234"]})
    exp2 = pdf2.process_text("s", string_function="zfill", width=3)
    compare(spark, exp2, pj.process_text(_sdf(spark, pdf2), "s", "zfill", width=3))


def test_fill_empty_multi_columns(spark):
    pdf = pd.DataFrame({"a": [1.0, None], "b": [None, 2.0]})
    exp = pdf.fill_empty(column_names=["a", "b"], value=0.0)
    out = pj.fill_empty(_sdf(spark, pdf), ["a", "b"], 0.0)
    compare(spark, exp, out)


def test_clean_names_accents_truncate(spark):
    pdf = pd.DataFrame({"Café Menü": [1], "Überläng_name_xyz": [2]})
    exp = pdf.clean_names(strip_accents=True, truncate_limit=8)
    compare(
        spark, exp,
        pj.clean_names(_sdf(spark, pdf), strip_accents=True, truncate_limit=8),
    )


def test_clean_names_values_mode(spark):
    # axis=None cleans VALUES inside the given columns, not the header
    pdf = pd.DataFrame({"raw": ["Hello World", "Café@Crème", "A__B"], "v": [1, 2, 3]})
    exp = pdf.clean_names(axis=None, column_names="raw", remove_special=True)
    out = pj.clean_names(
        _sdf(spark, pdf), axis=None, column_names="raw", remove_special=True
    )
    compare(spark, exp, out)


# ---- batch 8: more parameter surfaces ----


def test_min_max_scale_jointly(spark):
    pdf = pd.DataFrame({"x": [0.0, 5.0], "y": [10.0, 20.0]})
    exp = pdf.min_max_scale(column_name=["x", "y"], jointly=True)
    out = pj.min_max_scale(_sdf(spark, pdf), column_name=["x", "y"], jointly=True)
    compare(spark, exp, out)


def test_deconcatenate_autoname(spark):
    pdf = pd.DataFrame({"k": ["a-1", "b-2"]})
    exp = pdf.deconcatenate_column("k", sep="-", autoname="part")
    out = pj.deconcatenate_column(_sdf(spark, pdf), "k", sep="-", autoname="part")
    compare(spark, exp, out)


def test_currency_column_cast_non_numeric(spark):
    pdf = pd.DataFrame({"m": ["$1.50", "REORDER", "2.00"]})
    exp = pdf.currency_column_to_numeric("m", cast_non_numeric={"REORDER": 99.0})
    out = pj.currency_column_to_numeric(
        _sdf(spark, pdf), "m", cast_non_numeric={"REORDER": 99.0}
    )
    compare(spark, exp, out)


def test_currency_column_fill_all_non_numeric(spark):
    pdf = pd.DataFrame({"m": ["$1.50", "junk", "2.00"]})
    exp = pdf.currency_column_to_numeric("m", fill_all_non_numeric=0.0)
    out = pj.currency_column_to_numeric(
        _sdf(spark, pdf), "m", fill_all_non_numeric=0.0
    )
    compare(spark, exp, out)


def test_find_replace_regex_match(spark):
    pdf = pd.DataFrame({"s": ["cat-1", "dog-2", "catfish"], "v": [1, 2, 3]})
    exp = pdf.find_replace(match="regex", s={r"^cat.*": "feline"})
    out = pj.find_replace(_sdf(spark, pdf), match="regex", s={r"^cat.*": "feline"})
    compare(spark, exp, out)


def test_find_replace_regex_whole_cell_and_sequential(spark):
    # reference regex semantics (find_replace.py:176-178): str.contains
    # CONDITION -> whole-cell assignment, NOT substring substitution;
    # entries apply sequentially, so a later pattern sees earlier
    # replacements ("abc123" -> "N" -> "Z")
    pdf = pd.DataFrame({"s": ["abc123", "x9y", "none"]})
    exp = pdf.copy().find_replace(match="regex", s={r"(\d+)": "N", "^N$": "Z"})
    out = pj.find_replace(
        _sdf(spark, pdf), match="regex", s={r"(\d+)": "N", "^N$": "Z"}
    )
    compare(spark, exp, out)


def test_currency_accounting_dash_is_zero(spark):
    # the accounting dash: a cell that is exactly "-" (after strip/
    # comma/paren processing) means zero (reference
    # currency_column_to_numeric.py:101 .replace({"-": 0.0}))
    pdf = pd.DataFrame({"m": ["(1,000.00)", "2,000.00", "-", "  (5) "]})
    exp = pdf.copy().currency_column_to_numeric("m", cleaning_style="accounting")
    out = pj.currency_column_to_numeric(
        _sdf(spark, pdf), "m", cleaning_style="accounting"
    )
    compare(spark, exp, out)


def test_bin_numeric_default_label_rendering(spark):
    # pd.cut's default labels: computed bins pad the open end by 0.1% of
    # the range ("(0.991, 4.0]"), include_lowest pads 10^-3 and promotes
    # int edges to float ("(0.999, 4.0]"), right=False pads the LAST
    # edge ("[7.0, 10.009)"), degenerate min==max pads ±0.1%|x|
    cases = [
        ([1.0, 2.5, 5.0, 9.0, 10.0], dict(bins=3)),
        ([1.0, 2.5, 5.0, 9.0, 10.0], dict(bins=3, right=False)),
        ([1.0, 2.5, 5.0, 9.0, 10.0], dict(bins=[1, 4, 7, 10], include_lowest=True)),
        ([1.0, 2.5, 5.0, 9.0, 10.0], dict(bins=[1, 4, 7, 10])),
        ([1.0, 2.5, 5.0, 9.0, 10.0], dict(bins=[1.5, 4.25, 9.75])),
        ([5.0, 5.0], dict(bins=2)),
        ([0.0001, 0.0002, 0.0009], dict(bins=2)),
    ]
    for vals, kw in cases:
        pdf = pd.DataFrame({"v": vals})
        exp = pdf.copy().bin_numeric(
            from_column_name="v", to_column_name="b", **kw
        )["b"].astype(str)
        out = pj.bin_numeric(_sdf(spark, pdf), "v", "b", **kw).toPandas()["b"]
        e = sorted("None" if x == "nan" else x for x in exp)
        g = sorted("None" if x is None else str(x) for x in out)
        assert e == g, (kw, e, g)


def test_process_text_unicode_parity_sweep(spark):
    # python str semantics are UNICODE-aware: .isalpha() on accented
    # words, \\d matching arabic-indic digits, strip() removing NBSP/
    # NEL/\\x1c-\\x1f — Java regex needs (?U) and \\p{..} classes
    # (round-9 sweep; values compared as str, numeric dtype widening
    # from pandas' NaN column is the documented typed-column analogue)
    corpus = [
        "", " ", "Hello World", "aBc123", "  padded  ", "ünïcödé",
        "١٢٣", "𝟙𝟚", "\xa0", "ΣΙΓΜΑ", "σιγμα", "\x85pad\x85", "\x1c\x1d",
    ]
    cases = [
        ("strip", {}), ("lstrip", {}), ("rstrip", {}),
        ("strip", {"to_strip": "ab"}),
        ("isdigit", {}), ("isalpha", {}), ("isalnum", {}), ("isspace", {}),
        ("isupper", {}), ("islower", {}),
        ("contains", {"pat": r"\d+"}),
        ("replace", {"pat": r"\d+", "repl": "#", "regex": True}),
        ("replace", {"pat": r"\w+", "repl": "W", "regex": True}),
        ("findall", {"pat": r"\w+"}),
    ]
    pdf = pd.DataFrame({"t": corpus + [None]})
    sdf = _sdf(spark, pdf)

    def same(a, b):
        if isinstance(a, (list, tuple)) or "ndarray" in str(type(a)):
            return b is not None and list(a) == list(b)
        if pd.isna(a):
            return b is None
        return str(a) == str(b)

    for m, kw in cases:
        exp = pdf.copy().process_text("t", string_function=m, **kw)["t"].tolist()
        got = [r["t"] for r in pj.process_text(sdf, "t", m, **kw).collect()]
        for i, (a, b) in enumerate(zip(exp, got)):
            assert same(a, b), (m, kw, repr(corpus[i] if i < len(corpus) else None), a, b)


def test_case_when_default_is_always_literal(spark):
    # the reference's default is a literal even when the string names a
    # column, and default=None yields NULL rows — never a fallback to an
    # existing column of the same name (case_when.py:181-199)
    pdf = pd.DataFrame({"v": [1, 10], "w": [100, 200]})
    exp = pdf.copy().case_when("v > 5", "w", default=0, column_name="r")
    out = pj.case_when(
        _sdf(spark, pdf), "v > 5", "w", default=0, column_name="r"
    ).toPandas()
    # mixed str/int branches: pandas mixes the object column; the typed
    # analogue widens to string — compare str-rendered
    e = {r.v: str(r.r) for r in exp.itertuples()}
    g = {r["v"]: str(r["r"]) for r in out.to_dict("records")}
    assert e == g, (e, g)
    # overwrite an EXISTING column with default=None: unmatched rows
    # become NULL, not their previous value
    exp2 = pdf.copy().case_when("v > 5", "big", column_name="w")
    out2 = pj.case_when(_sdf(spark, pdf), "v > 5", "big", column_name="w")
    g = {r["v"]: r["w"] for r in out2.collect()}
    e = {r.v: (None if pd.isna(r.w) else r.w) for r in exp2.itertuples()}
    assert g == e, (e, g)


def test_case_when_callable_condition(spark):
    pdf = pd.DataFrame({"v": [1, 10]})
    exp = pdf.case_when(lambda d: d.v > 5, "big", "small", column_name="size")
    out = pj.case_when(
        _sdf(spark, pdf),
        lambda d: F.col("v") > 5, "big", "small",
        column_name="size",
    )
    compare(spark, exp, out)


def test_process_text_get_string_and_array(spark):
    # strings: char at index, negative from the end, OOB -> null
    pdf = pd.DataFrame({"s": ["abc", "x", ""]})
    for i in (0, 1, 2, -1, 5):
        exp = pdf.process_text("s", string_function="get", i=i)
        out = pj.process_text(_sdf(spark, pdf), "s", "get", i=i)
        compare(spark, exp, out)
    # arrays: element at index, OOB -> null (ANSI try_element_at)
    sdf = spark.createDataFrame([(["a", "b"],), (["z"],)], "s array<string>")
    got = [r["s"] for r in pj.process_text(sdf, "s", "get", i=1).collect()]
    assert sorted(got, key=str) == sorted(["b", None], key=str)


# ---------------------------------------------------------------------------
# batch 8: the last reference test files with no differential coverage —
# add_column(s), cartesian_product, collapse_levels, data_description,
# drop_duplicate_columns, expand, join_apply, pivot_longer_spec,
# rename_column, select, select_rows, sort_naturally, to_datetime, toset,
# truncate_datetime, unionize_dataframe_categories.
# ---------------------------------------------------------------------------


def test_add_column_scalar_and_list(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3]})
    exp = pdf.add_column("b", 7).add_column("c", ["x", "y", "z"])
    out = pj.add_column(pj.add_column(_sdf(spark, pdf), "b", 7), "c", ["x", "y", "z"])
    compare(spark, exp, out)


def test_add_column_fill_remaining(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4, 5]})
    exp = pdf.add_column("b", ["p", "q"], fill_remaining=True)
    out = pj.add_column(_sdf(spark, pdf), "b", ["p", "q"], fill_remaining=True)
    compare(spark, exp, out)


def test_add_columns_kwargs(spark):
    pdf = pd.DataFrame({"a": [1, 2]})
    exp = pdf.add_columns(b=0.5, c="z")
    out = pj.add_columns(_sdf(spark, pdf), b=0.5, c="z")
    compare(spark, exp, out)


def test_cartesian_product_function(spark):
    a = pd.DataFrame({"x": [1, 2, 3]})
    b = pd.DataFrame({"y": ["p", "q"], "z": [0.1, 0.2]})
    import importlib

    exp = importlib.import_module("janitor.functions.expand_grid").cartesian_product(
        a, b
    )
    out = pj.cartesian_product(_sdf(spark, a), _sdf(spark, b))
    compare(spark, exp, out)


def test_collapse_levels_matches_reference_naming(spark):
    # pandas: a genuine MultiIndex column frame; spark: the struct-column
    # model (explode_index builds it from the flat names, collapse_levels
    # re-flattens) — the differential pins the NAMING rules to the
    # reference's (sep-join, trailing level kept)
    pdf = pd.DataFrame(
        {
            ("max", "speed"): [1, 2],
            ("max", "height"): [3, 4],
            ("min", "speed"): [5, 6],
        }
    )
    exp = pdf.collapse_levels(sep="_")
    flat = spark.createDataFrame(
        [(1, 3, 5), (2, 4, 6)], ["max_speed", "max_height", "min_speed"]
    )
    out = pj.collapse_levels(pj.explode_index(flat, names_sep="_"), sep="_")
    compare(spark, exp, out)


def test_data_description_counts(spark):
    pdf = pd.DataFrame({"k": [1, 2, 3, 4], "s": ["a", None, "c", None]})
    ref = pdf.data_description.df.reset_index()
    out_full = pj.data_description(_sdf(spark, pdf))
    # exact column surface (type VALUES are engine dtypes — pandas
    # int64/object vs Spark bigint/string — only names align)
    assert out_full.columns == list(ref.columns)
    exp = ref[["column_name", "count", "pct_missing", "description"]]
    out = out_full.select("column_name", "count", "pct_missing", "description")
    compare(spark, exp, out)


def test_drop_constant_columns_null_edges(spark):
    # the reference drops where nunique()==1 with nulls ignored: an
    # all-null column stays, one repeated non-null value drops even
    # when nulls sit among the repeats
    pdf = pd.DataFrame(
        {
            "c": [1, 1, 1],
            "mix": [1.0, None, 2.0],
            "alln": pd.Series([None] * 3, dtype=object),
            "constnull": [5.0, 5.0, None],
            "d": ["x", "y", "z"],
        }
    )
    exp = pdf.drop_constant_columns()
    sdf = spark.createDataFrame(
        [(1, 1.0, None, 5.0, "x"), (1, None, None, 5.0, "y"), (1, 2.0, None, None, "z")],
        "c long, mix double, alln string, constnull double, d string",
    )
    out = pj.drop_constant_columns(sdf)
    assert sorted(out.columns) == sorted(exp.columns)


def test_drop_duplicate_columns_first_and_second(spark):
    pdf = pd.concat(
        [
            pd.DataFrame({"a": [1, 2], "b": [3, 4]}),
            pd.DataFrame({"a": [9, 8]}),
        ],
        axis=1,
    )
    sdf = spark.createDataFrame([(1, 3, 9), (2, 4, 8)], ["z1", "z2", "z3"]).toDF(
        "a", "b", "a"
    )
    for nth in (0, 1):
        exp = pdf.drop_duplicate_columns("a", nth_index=nth)
        out = pj.drop_duplicate_columns(sdf, "a", nth_index=nth)
        compare(spark, exp, out)


def test_expand_str_and_dict(spark):
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [1, 2, 2]})
    exp = pdf.expand("g", "v", {"year": [2020, 2021]})
    out = pj.expand(_sdf(spark, pdf), "g", "v", {"year": [2020, 2021]})
    compare(spark, exp, out)


def test_join_apply_product(spark):
    left = pd.DataFrame({"k": [1, 2], "a": [10, 20]})
    right = pd.DataFrame({"k": [1, 2], "b": [3, 4]})
    # the reference's join_apply merges then applies row-wise; express the
    # same contract directly in pandas (merge + apply) to avoid its
    # index-join calling convention
    merged = left.merge(right, on="k")
    merged["prod"] = merged.apply(lambda d: d["a"] * d["b"], axis=1)
    out = pj.join_apply(
        _sdf(spark, left),
        _sdf(spark, right),
        lambda d: d["a"] * d["b"],
        on="k",
        new_column_name="prod",
    )
    compare(spark, merged, out)


def test_pivot_longer_spec_frame(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2], "x_1": [0.1, 0.2], "x_2": [0.3, 0.4]}
    )
    spec = pd.DataFrame(
        {
            ".name": ["x_1", "x_2"],
            ".value": ["x", "x"],
            "time": ["1", "2"],
        }
    )
    exp = ref.pivot_longer_spec(pdf, spec=spec)
    out = pj.pivot_longer_spec(
        _sdf(spark, pdf),
        [
            {".name": "x_1", ".value": "x", "time": "1"},
            {".name": "x_2", ".value": "x", "time": "2"},
        ],
        index=["id"],
    )
    compare(spark, exp, out)


def test_rename_column_basic(spark):
    pdf = pd.DataFrame({"a": [1], "b": [2]})
    exp = pdf.rename_column("a", "a_new")
    compare(spark, exp, pj.rename_column(_sdf(spark, pdf), "a", "a_new"))


def test_select_columns_kwarg_form(spark):
    pdf = pd.DataFrame({"id": [1], "score_a": [2], "score_b": [3]})
    exp = pdf.select(columns=["score_*"])
    out = pj.select(_sdf(spark, pdf), "score_*")
    compare(spark, exp, out)


def test_select_rows_int_labels(spark):
    # RangeIndex labels == positions, so the reference's label-based
    # select(index=...) meets our positional select_rows on the same rows
    pdf = pd.DataFrame({"o": range(6), "v": list("abcdef")})
    exp = pdf.select(index=[0, 2, 5])
    out = pj.select_rows(_sdf(spark, pdf), [0, 2, 5])
    compare(spark, exp, out)


def test_sort_naturally_wells(spark):
    pdf = pd.DataFrame(
        {"Well": ["A21", "A3", "A21", "B2", "B51", "B12"], "Value": [1, 2, 13, 3, 4, 7]}
    )
    exp = pdf.sort_naturally("Well")
    out = pj.sort_naturally(_sdf(spark, pdf), "Well")
    # order matters here: compare the ordered Well sequences, then the frame
    assert [r["Well"] for r in out.collect()] == exp["Well"].tolist()
    compare(spark, exp, out)


def test_to_datetime_fmt(spark):
    vals = ["2021-01-02", "2022-03-04", None]
    sdf = spark.createDataFrame([(v,) for v in vals], "d string")
    # the reference's to_datetime assigns in place — build the Spark frame
    # BEFORE running it
    exp = pd.DataFrame({"d": vals}).to_datetime("d", format="%Y-%m-%d")
    out = pj.to_datetime(sdf, "d", format="%Y-%m-%d")
    got = [r["d"] for r in out.collect()]
    want = [None if pd.isna(v) else v.to_pydatetime() for v in exp["d"]]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_to_datetime_pandas_kwargs(spark):
    # the reference forwards kwargs to pd.to_datetime; errors='coerce',
    # dayfirst and unit are the ones its callers use
    pdf = pd.DataFrame({"d": ["2020-01-02", "garbage", "2021-03-04"]})
    exp = pdf.copy().to_datetime("d", errors="coerce")
    out = pj.to_datetime(_sdf(spark, pdf), "d", errors="coerce")
    compare(spark, exp, out)
    pdf2 = pd.DataFrame({"d": ["02/01/2020", "05/04/2021"]})
    exp2 = pdf2.copy().to_datetime("d", dayfirst=True)
    out2 = pj.to_datetime(_sdf(spark, pdf2), "d", dayfirst=True)
    compare(spark, exp2, out2)
    pdf3 = pd.DataFrame({"d": [1580000000, 1600000000]})
    exp3 = pdf3.copy().to_datetime("d", unit="s")
    out3 = pj.to_datetime(_sdf(spark, pdf3), "d", unit="s")
    compare(spark, exp3, out3)


def test_to_datetime_raise_on_garbage(spark):
    pdf = pd.DataFrame({"d": ["2020-01-02", "garbage"]})
    with pytest.raises(Exception):
        pd.to_datetime(pdf["d"])
    with pytest.raises(Exception):
        pj.to_datetime(_sdf(spark, pdf), "d").collect()


def test_toset_matches(spark):
    pdf = pd.DataFrame({"v": [1, 2, 3, 5, 5]})
    exp = pdf["v"].toset()
    assert pj.toset(_sdf(spark, pdf), "v") == exp


def test_truncate_datetime_dataframe_parts(spark):
    from datetime import datetime

    x = datetime(2022, 3, 21, 9, 1, 15, 666)
    pdf = pd.DataFrame({"dt": [x], "v": [1.5]})
    for part in ("second", "minute", "HOUR", "Day", "month", "yeaR"):
        exp = pdf.truncate_datetime_dataframe(part)
        out = pj.truncate_datetime_dataframe(_sdf(spark, pdf), part)
        got = [r["dt"] for r in out.collect()]
        assert got == list(exp["dt"]), (part, got, list(exp["dt"]))


def test_unionize_dataframe_categories_values(spark):
    a = pd.DataFrame({"c": pd.Categorical(["x", "y"]), "v": [1, 2]})
    b = pd.DataFrame({"c": pd.Categorical(["y", "z"]), "v": [3, 4]})
    exp_a, exp_b = ref.unionize_dataframe_categories(a, b)
    sa = spark.createDataFrame([("x", 1), ("y", 2)], ["c", "v"])
    sb = spark.createDataFrame([("y", 3), ("z", 4)], ["c", "v"])
    out_a, out_b = pj.unionize_dataframe_categories(sa, sb)
    compare(spark, exp_a.astype({"c": str}), out_a)
    compare(spark, exp_b.astype({"c": str}), out_b)


def test_select_index_and_columns_kwargs(spark):
    # select(index=, columns=) picks rows and columns together; rows= is
    # the reference's deprecated alias; args + kwargs raise
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": [4, 5, 6]})
    exp = pdf.select(index=pdf["a"] > 1, columns=["b"])
    out = pj.select(_sdf(spark, pdf), index=F.col("a") > 1, columns=["b"])
    compare(spark, exp, out)
    out2 = pj.select(_sdf(spark, pdf), rows=F.col("a") > 1, columns=["b"])
    compare(spark, exp, out2)
    with pytest.raises(ValueError):
        pdf.select("a", columns=["b"])
    with pytest.raises(ValueError):
        pj.select(_sdf(spark, pdf), "a", columns=["b"])


def test_select_rows_invert_nulls(spark):
    # inverted row predicates keep null-evaluating rows, like a pandas
    # boolean-mask complement
    pdf = pd.DataFrame({"x": [1.0, None, 3.0]})
    exp = pdf.select_rows(pdf["x"] > 2, invert=True)
    out = pj.select_rows(_sdf(spark, pdf), F.col("x") > 2, invert=True)
    compare(spark, exp, out)


def test_count_cumulative_unique_case_contract(spark):
    # case_sensitive=False demands a string-like column in both engines
    pdf = pd.DataFrame({"k": [1, 2, 1], "o": range(3)})
    with pytest.raises(TypeError):
        pdf.count_cumulative_unique("k", "n", case_sensitive=False)
    with pytest.raises(TypeError):
        pj.count_cumulative_unique(
            _sdf(spark, pdf), "k", "n", case_sensitive=False, order_by="o"
        )
    pdfs = pd.DataFrame({"k": ["a", "A", "b"], "o": range(3)})
    exp = pdfs.count_cumulative_unique("k", "n", case_sensitive=False)
    out = pj.count_cumulative_unique(
        _sdf(spark, pdfs), "k", "n", case_sensitive=False, order_by="o"
    )
    compare(spark, exp, out)


def test_select_columns_boolean_mask(spark):
    pdf = pd.DataFrame(
        {"id": [1], "M_start_date_1": [2], "M_end_date_2": [3], "other": [5]}
    )
    mask = [True, False, True, False]
    exp = pdf.select_columns(mask)
    compare(spark, exp, pj.select_columns(_sdf(spark, pdf), mask))


def test_select_columns_duplicates_preserved(spark):
    pdf = pd.DataFrame({"id": [1], "M_start_1": [2], "M_end_1": [3]})
    exp = pdf.select_columns(["M_*", "*_1"])
    out = pj.select(_sdf(spark, pdf), ["M_*", "*_1"])
    assert list(out.columns) == list(exp.columns)
    # dup-named output frames can't round-trip through compare(); check
    # the row values positionally
    assert list(out.first()) == list(exp.iloc[0])


def test_select_columns_dedup_on_invert(spark):
    pdf = pd.DataFrame({"id": [1], "a": [2], "b": [3]})
    exp = pdf.select_columns(["id", "id"], invert=True)
    compare(spark, exp, pj.select_columns(_sdf(spark, pdf), ["id", "id"], invert=True))


def test_complete_fill_value_scalar_taxonomy(spark):
    pdf = pd.DataFrame(
        {
            "Year": [1999, 2000, 2004, 1999, 2004],
            "Taxon": ["Saccharina", "Saccharina", "Saccharina", "Agarum", "Agarum"],
            "Abundance": [4, 5, 2, 1, 8],
        }
    )
    exp = pdf.complete("Year", "Taxon", fill_value=0, sort=False)
    out = pj.complete(_sdf(spark, pdf), "Year", "Taxon", fill_value=0)
    compare(spark, exp, out)


def test_complete_fill_value_contracts(spark):
    pdf = pd.DataFrame({"g": [1, 2], "i": [1, 2], "v": [1.0, 2.0]})
    sdf = _sdf(spark, pdf)
    for bad_kwargs, exc in [
        ({"fill_value": pd.Series([1, 2])}, TypeError),
        ({"fill_value": {"cities": 0}}, ValueError),
        ({"sort": 11}, TypeError),
        ({"explicit": 11}, TypeError),
    ]:
        with pytest.raises(exc):
            pdf.complete("g", "i", **bad_kwargs)
        with pytest.raises(exc):
            pj.complete(sdf, "g", "i", **bad_kwargs)


def test_complete_scalar_fill_string_column_casts(spark):
    # pandas puts the raw scalar into the object column; Spark columns are
    # typed, so the fill casts to the column type ("0") — the crash, not
    # the repr, is the contract under test
    pdf = pd.DataFrame(
        {"g": [1, 2], "i": [1, 2], "name": ["a", None]}
    )
    out = pj.complete(_sdf(spark, pdf), "g", "i", fill_value=0)
    got = {(r["g"], r["i"]): r["name"] for r in out.collect()}
    assert got[(1, 2)] == "0" and got[(2, 1)] == "0" and got[(1, 1)] == "a"
    # the original explicit null ALSO fills under explicit=True
    assert got[(2, 2)] == "0"


def test_pivot_longer_melt_everything(spark):
    # neither index nor column_names: every column melts (pandas melt
    # default), like the reference
    pdf = pd.DataFrame({"ht1": [2.8], "ht2": [3.4]})
    exp = pdf.pivot_longer(names_to="m", values_to="v")
    out = pj.pivot_longer(_sdf(spark, pdf), names_to="m", values_to="v")
    compare(spark, exp, out)


def test_groupby_agg_composite_callable(spark):
    # a 1-arg callable returning a composite aggregate (max - min) rides
    # the grouped path, where it is natively one aggregate expression
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 3.0, 5.0]})
    exp = pdf.groupby_agg(
        by="g", agg=lambda s: s.max() - s.min(), agg_column_name="v", new_column_name="r"
    )
    out = pj.groupby_agg(
        _sdf(spark, pdf),
        by="g",
        agg=lambda c: F.max(c) - F.min(c),
        agg_column_name="v",
        new_column_name="r",
    )
    compare(spark, exp, out)


def test_complete_list_grouping(spark):
    # a list spec means "observed combinations of these columns" (tidyr
    # nesting), crossed with the other specs
    pdf = pd.DataFrame(
        {"a": ["x", "x", "y"], "b": [1, 1, 2], "c": ["p", "q", "p"], "v": [1, 2, 3]}
    )
    exp = pdf.complete(["a", "b"], "c")
    out = pj.complete(_sdf(spark, pdf), ["a", "b"], "c")
    compare(spark, exp, out)


def test_expand_grid_name_collision_raises(spark):
    with pytest.raises(ValueError, match="collide"):
        pj.expand_grid(
            spark, {"v": [1, 2], "d": _sdf(spark, pd.DataFrame({"v": ["x"]}))}
        )


def test_pivot_longer_error_contracts(spark):
    pdf = pd.DataFrame({"famid": [1], "birth": [1], "ht1": [2.8], "ht2": [3.4]})
    sdf = _sdf(spark, pdf)
    for kwargs in [
        dict(names_sep="_", names_pattern="x"),
        dict(names_to=("a", "a"), names_pattern="(h)(t)"),
        dict(values_to="famid"),
        dict(values_to="num", names_to="num"),
    ]:
        with pytest.raises(ValueError):
            pdf.pivot_longer(index=["famid", "birth"], **kwargs)
        with pytest.raises(ValueError):
            pj.pivot_longer(sdf, index=["famid", "birth"], **kwargs)


def test_pivot_wider_default_index_tidyr(spark):
    # index=None takes the remaining columns (tidyr id_cols default); the
    # reference's index=None leans on the pandas row index instead, so the
    # oracle here passes the index explicitly
    pdf = pd.DataFrame(
        {
            "id": [1, 1, 2, 2],
            "n": ["a", "b", "a", "b"],
            "v": [10, 20, 30, 40],
        }
    )
    exp = pdf.pivot_wider(index="id", names_from="n", values_from="v")
    out = pj.pivot_wider(_sdf(spark, pdf), names_from="n", values_from="v")
    compare(spark, exp, out)


def test_pivot_wider_error_contracts(spark):
    pdf = pd.DataFrame({"id": [1], "n": ["a"], "v": [2]})
    sdf = _sdf(spark, pdf)
    with pytest.raises(ValueError):
        pdf.pivot_wider(index="id", names_from=None, values_from="v")
    with pytest.raises(ValueError):
        pj.pivot_wider(sdf, index="id", names_from=None, values_from="v")
    for bad in ("zz", ["zz"]):
        with pytest.raises(KeyError):
            pdf.pivot_wider(index=bad, names_from="n", values_from="v")
        with pytest.raises(KeyError):
            pj.pivot_wider(sdf, index=bad, names_from="n", values_from="v")


def test_row_to_names_remove_above_only(spark):
    pdf = pd.DataFrame({"a": ["n1", "x", "y", "z"], "b": ["n2", "p", "q", "r"]})
    exp = pdf.row_to_names(1, remove_rows=False, remove_rows_above=True)
    out = pj.row_to_names(_sdf(spark, pdf), 1, remove_rows=False, remove_rows_above=True)
    compare(spark, exp, out)


def test_move_multi_column_block(spark):
    mdf = pd.DataFrame({"a": [1, 2], "b": [3, 4], "c": [5, 6], "d": [7, 8]})
    sdf = _sdf(spark, mdf)
    for src, tgt, pos in [
        (["a", "b"], "d", "after"),
        (["d", "a"], "b", "before"),
        (["b", "c"], None, "after"),
    ]:
        exp = mdf.move(src, tgt, position=pos, axis=1)
        out = pj.move(sdf, src, tgt, position=pos, axis=1)
        assert list(out.columns) == list(exp.columns), (src, tgt, pos)
        compare(spark, exp, out)


def test_filter_date_column_date_options_format(spark):
    # the reference parses the COLUMN via column_date_options and
    # `format` applies only to start/end strings (filter.py:186-294)
    vals = ["05/01/2020", "15/06/2020", "01/03/2021"]
    sdf = spark.createDataFrame([(v, i) for i, v in enumerate(vals)], "d string, v int")
    pdf = pd.DataFrame({"d": vals, "v": range(3)})
    exp = pdf.filter_date(
        "d", years=[2020], column_date_options={"format": "%d/%m/%Y"}
    )
    out = pj.filter_date(
        sdf, "d", years=[2020], column_date_options={"format": "%d/%m/%Y"}
    )
    assert sorted(r["v"] for r in out.collect()) == sorted(exp["v"])


def test_filter_date_format_applies_to_bounds(spark):
    vals = ["2020-01-05", "2020-06-15", "2021-03-01"]
    sdf = spark.createDataFrame([(v, i) for i, v in enumerate(vals)], "d string, v int")
    pdf = pd.DataFrame({"d": vals, "v": range(3)})
    exp = pdf.filter_date(
        "d", start_date="01/02/2020", end_date="31/12/2020", format="%d/%m/%Y"
    )
    out = pj.filter_date(
        sdf, "d", start_date="01/02/2020", end_date="31/12/2020", format="%d/%m/%Y"
    )
    assert sorted(r["v"] for r in out.collect()) == sorted(exp["v"])


def test_impute_mode_tie_breaks_low(spark):
    pdf = pd.DataFrame({"v": [1.0, None, 3.0, None, 5.0], "k": range(5)})
    exp = pdf.impute("v", statistic_column_name="mode")
    out = pj.impute(_sdf(spark, pdf), "v", statistic_column_name="mode")
    compare(spark, exp, out)


def test_concatenate_columns_null_intent(spark):
    # the reference's astype(str) renders None as the literal "None"
    # before fillna("") can catch it (concatenate_columns.py:61-62); we
    # follow the documented intent: null -> empty segment, and
    # ignore_empty collapses the separator too
    sdf = spark.createDataFrame([("x", 1), (None, 2)], "a string, b bigint")
    keep = pj.concatenate_columns(sdf, ["a", "b"], "j", sep="-", ignore_empty=False)
    drop = pj.concatenate_columns(sdf, ["a", "b"], "j", sep="-", ignore_empty=True)
    assert {r["j"] for r in keep.collect()} == {"x-1", "-2"}
    assert {r["j"] for r in drop.collect()} == {"x-1", "2"}


def test_process_text_count_findall_wrap(spark):
    vals = ["cat hat", "dog", "bird cat", None]
    sdf = spark.createDataFrame([(v,) for v in vals], "s string")
    pdf = pd.DataFrame({"s": vals})
    # count -> regexp_count builtin
    exp = list(pdf.process_text("s", string_function="count", pat="cat")["s"])
    got = [r["s"] for r in pj.process_text(sdf, "s", "count", pat="cat").collect()]
    assert sorted(map(repr, got), key=str) == sorted(
        (repr(None if pd.isna(v) else int(v)) for v in exp), key=str
    )
    # findall -> regexp_extract_all builtin (pandas: [] no-match, NaN null)
    exp = list(pdf.process_text("s", string_function="findall", pat="[a-z]+at")["s"])
    got = [r["s"] for r in pj.process_text(sdf, "s", "findall", pat="[a-z]+at").collect()]
    exp_n = [None if not isinstance(v, list) and pd.isna(v) else list(v) for v in exp]
    assert sorted(map(repr, got)) == sorted(map(repr, exp_n))
    # wrap rides the pandas fallback
    exp = list(pdf.process_text("s", string_function="wrap", width=3)["s"])
    got = [r["s"] for r in pj.process_text(sdf, "s", "wrap", width=3).collect()]
    assert sorted(map(repr, got)) == sorted(
        repr(None if pd.isna(v) else v) for v in exp
    )


def test_transform_column_type_changing_ufunc_on_int(spark):
    # ADVICE r7 (medium): np.sqrt on an INT column — pandas widens to
    # float64; the Arrow fallback must not pin the input's int type
    # (transforms.py _default_return_type widens numeric -> double)
    import numpy as np

    pdf = pd.DataFrame({"x": [1, 4, 9]})
    sdf = _sdf(spark, pdf)
    exp = pdf.copy().transform_column("x", np.sqrt, elementwise=False)
    out = pj.transform_column(sdf, "x", np.sqrt, elementwise=False)
    assert dict(out.dtypes)["x"] == "double"
    compare(spark, exp, out)
    # elementwise scalar callable that cannot ride the Column probe
    # (math.sqrt rejects Columns) — same widening on the map path
    exp2 = pdf.copy().transform_column("x", lambda v: math.sqrt(v) + 0.25)
    out2 = pj.transform_column(sdf, "x", lambda v: math.sqrt(v) + 0.25)
    compare(spark, exp2, out2)


def test_groupby_topk_non_numeric_nulls_sort_last(spark):
    # ADVICE r7: non-numeric ranking columns take the reference's
    # sort_values().head(k) fallback (groupby_topk.py:118-119) where NaN
    # sorts LAST and still appears when a group has < k non-null values;
    # numeric columns keep the nlargest/nsmallest null-drop semantics
    pdf = pd.DataFrame(
        {"g": ["a", "a", "b", "b", "c"], "s": ["x", None, None, "q", None]}
    )
    sdf = _sdf(spark, pdf)
    for k, ascending in [(2, True), (1, False), (1, True)]:
        exp = pdf.groupby_topk(by="g", column="s", k=k, ascending=ascending)
        out = pj.groupby_topk(sdf, by="g", column="s", k=k, ascending=ascending)
        compare(spark, exp.reset_index(drop=True), out)


def test_process_text_replace_literal(spark):
    # ADVICE r7: regex=False is a LITERAL replacement — 'a.b' must not
    # match 'axb', and '$'/'\' in the replacement are not group refs
    pdf = pd.DataFrame({"s": ["a.b", "axb", "ca.bd", None]})
    sdf = _sdf(spark, pdf)
    exp = pdf.copy().process_text(
        "s", string_function="replace", pat="a.b", repl="$Z\\w", regex=False
    )
    out = pj.process_text(sdf, "s", "replace", pat="a.b", repl="$Z\\w", regex=False)
    compare(spark, exp, out)


def test_row_to_names_slice_and_list_validation(spark):
    pdf = pd.DataFrame(
        {"a": ["h", "x", "y", "z"], "b": ["i", "p", "q", "r"]}
    )
    sdf = _sdf(spark, pdf.reset_index(names="_row_order"))
    # slice promotion (step=None): rows 1..2 -> two-level names, our flat
    # stand-in joins with '_' (same convention as the [0,1] list test)
    exp = pdf.row_to_names(slice(1, 3), remove_rows=True, remove_rows_above=True)
    exp.columns = ["_".join(map(str, c)) for c in exp.columns]
    out = pj.row_to_names(
        sdf,
        slice(1, 3),
        remove_rows=True,
        remove_rows_above=True,
        order_by="_row_order",
    ).drop("_row_order")
    compare(spark, exp, out)
    # ADVICE r7: list + remove_rows_above raises in BOTH engines
    # (ref row_to_names.py:189-194)
    with pytest.raises(ValueError, match="applicable"):
        pdf.row_to_names([0, 2], remove_rows_above=True)
    with pytest.raises(ValueError, match="applicable"):
        pj.row_to_names(sdf, [0, 2], remove_rows_above=True, order_by="_row_order")
    # slice with a step raises in both
    with pytest.raises(ValueError, match="step"):
        pdf.row_to_names(slice(0, 3, 2))
    with pytest.raises(ValueError, match="step"):
        pj.row_to_names(sdf, slice(0, 3, 2), order_by="_row_order")


def test_flag_jumps_dict_and_strict_forms(spark):
    # per-column dict criteria + strict (ref timeseries.py:355-392):
    # missing dict keys take the reference defaults percentage/any/0.0
    try:
        import janitor.timeseries  # noqa: F401  (registers the methods)
    except Exception:
        pytest.skip("reference timeseries module not importable")
    ts = pd.DataFrame(
        {
            "t": pd.date_range("2020-01-01", periods=6, freq="h"),
            "c1": [1.0, 1.1, 3.0, 2.9, 0.5, 0.6],
            "c2": [10.0, 9.0, 9.1, 20.0, 19.0, 2.0],
        }
    )
    kw = dict(
        scale=dict(c1="absolute", c2="percentage"),
        direction=dict(c1="increasing", c2="any"),
        threshold=dict(c1=1, c2=0.5),
    )
    exp = ts.set_index("t").flag_jumps(**kw).reset_index()
    out = pj.flag_jumps(
        _sdf(spark, ts), ts_column="t", columns=["c1", "c2"], **kw
    ).toPandas()
    for c in ("c1_jump_flag", "c2_jump_flag"):
        assert list(out.sort_values("t")[c].astype(int)) == list(
            exp.sort_values("t")[c].astype(int)
        ), c
    # strict=True flags ONLY dict-named columns
    exp_s = ts.set_index("t").flag_jumps(
        scale=dict(c2="absolute"), threshold=2, strict=True
    ).reset_index()
    out_s = pj.flag_jumps(
        _sdf(spark, ts), ts_column="t", scale=dict(c2="absolute"),
        threshold=2, strict=True,
    ).toPandas()
    assert [c for c in out_s.columns if c.endswith("_jump_flag")] == ["c2_jump_flag"]
    assert list(out_s.sort_values("t")["c2_jump_flag"].astype(int)) == list(
        exp_s.sort_values("t")["c2_jump_flag"].astype(int)
    )
    # strict with no dict raises in BOTH engines
    with pytest.raises(Exception, match="strict"):
        ts.set_index("t").flag_jumps(scale="absolute", strict=True)
    with pytest.raises(pj.JanitorError, match="strict"):
        pj.flag_jumps(_sdf(spark, ts), ts_column="t", scale="absolute", strict=True)
    # reference DEFAULT scale is percentage — parity on the bare call
    exp_d = ts.set_index("t").flag_jumps(threshold=0.5).reset_index()
    out_d = pj.flag_jumps(
        _sdf(spark, ts), ts_column="t", columns=["c1", "c2"], threshold=0.5
    ).toPandas()
    for c in ("c1_jump_flag", "c2_jump_flag"):
        assert list(out_d.sort_values("t")[c].astype(int)) == list(
            exp_d.sort_values("t")[c].astype(int)
        ), c


def test_process_text_typed_fallbacks_and_center(spark):
    # fallback-only .str methods that return non-strings must declare
    # the pandas dtype (rfind/index -> numeric, istitle/match -> bool) —
    # previously the string default died in the Arrow batch transfer;
    # pad(side='both')/center follow CPython str.center's odd-margin rule
    pdf = pd.DataFrame({"s": ["cat", "a-b", "Hello World", None, "xx", "abcd"]})
    sdf_ = _sdf(spark, pdf)

    def norm(v):
        if v is None or (not isinstance(v, str) and pd.isna(v)):
            return None
        if isinstance(v, (bool,)):
            return v
        if isinstance(v, float) and v.is_integer():
            return int(v)
        return v

    for fn, kw in [
        ("rfind", dict(sub="l")),
        ("istitle", {}),
        ("isnumeric", {}),
        ("match", dict(pat="[a-z]+")),
        ("pad", dict(width=7, side="both", fillchar="-")),
        ("pad", dict(width=6, side="both", fillchar="*")),
        ("center", dict(width=9, fillchar="=")),
        ("center", dict(width=6)),
    ]:
        exp = [
            norm(v)
            for v in pdf.copy().process_text("s", string_function=fn, **kw)["s"]
        ]
        got = [
            norm(r["s"])
            for r in pj.process_text(sdf_, "s", fn, **kw).collect()
        ]
        assert sorted(map(repr, exp)) == sorted(map(repr, got)), (fn, kw, exp, got)


def test_asof_join_allow_exact_matches_false(spark):
    # merge_asof(allow_exact_matches=False) differential: equal-`on`
    # right rows must NOT match; all three directions + tolerance
    left = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "t": [1.0, 3.0, 5.0, 2.0, 4.0],
         "lv": [10, 20, 30, 40, 50]}
    )
    right = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "t": [1.0, 3.0, 4.5, 2.0, 3.5],
         "rv": [1.1, 3.3, 4.4, 2.2, 3.6]}
    )
    sl, sr = _sdf(spark, left), _sdf(spark, right)
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 1.0):
            kw = dict(tolerance=tol) if tol is not None else {}
            exp = pd.merge_asof(
                left.sort_values("t"), right.sort_values("t"),
                on="t", by="g", direction=direction,
                allow_exact_matches=False, **kw,
            )
            out = pj.asof_join(
                sl, sr, on="t", by="g", direction=direction,
                allow_exact_matches=False, tolerance=tol,
            ).toPandas()
            e = sorted(
                (r.g, r.t, r.lv, None if pd.isna(r.rv) else r.rv)
                for r in exp.itertuples(index=False)
            )
            g = sorted(
                (r.g, r.t, r.lv, None if pd.isna(r.rv) else r.rv)
                for r in out[["g", "t", "lv", "rv"]].itertuples(index=False)
            )
            assert e == g, (direction, tol, e, g)
    # allow_exact_matches=True unchanged (regression guard)
    exp = pd.merge_asof(left.sort_values("t"), right.sort_values("t"),
                        on="t", by="g", direction="backward")
    out = pj.asof_join(sl, sr, on="t", by="g", direction="backward").toPandas()
    assert sorted(exp["rv"].fillna(-1)) == sorted(out["rv"].fillna(-1))


def test_groupby_agg_size_counts_null_rows(spark):
    # pandas size counts every row incl. null agg values; count does not
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [1.0, None, 2.0]})
    sdf_ = _sdf(spark, pdf)
    for agg in ("size", "count"):
        exp = pdf.copy().groupby_agg(
            by="g", agg=agg, agg_column_name="v", new_column_name="n"
        )
        out = pj.groupby_agg(
            sdf_, by="g", agg=agg, agg_column_name="v", new_column_name="n"
        )
        compare(spark, exp, out)


def test_change_type_python_and_numpy_dtypes(spark):
    # the reference's astype surface: python types and numpy dtype names
    import numpy as np

    pdf = pd.DataFrame({"s": ["1", "2", "3"], "v": [1.5, 2.5, 3.5]})
    sdf_ = _sdf(spark, pdf)
    exp = pdf.copy().change_type("s", dtype=float)
    out = pj.change_type(sdf_, "s", dtype=float)
    compare(spark, exp, out)
    exp2 = pdf.copy().change_type("v", dtype=str)
    out2 = pj.change_type(sdf_, "v", dtype=str)
    compare(spark, exp2, out2)
    exp3 = pdf.copy().change_type("s", dtype=np.int64)
    out3 = pj.change_type(sdf_, "s", dtype=np.int64)
    compare(spark, exp3, out3)
    # bad cast still raises without ignore_exception
    bad = pd.DataFrame({"s": ["1", "x"]})
    with pytest.raises(Exception):
        bad.copy().change_type("s", dtype=float)
    with pytest.raises(Exception):
        pj.change_type(_sdf(spark, bad), "s", dtype=float).collect()


def test_fill_empty_numeric_into_string_column(spark):
    # pandas fillna(0) stores the number in the object column; a Spark
    # string column takes its string rendering rather than LOSING the
    # fill (na.fill silently skips mismatched columns)
    pdf = pd.DataFrame({"a": [1.0, None], "s": ["x", None]})
    out = pj.fill_empty(
        _sdf(spark, pdf, "a double, s string"), ["a", "s"], value=0
    ).toPandas()
    assert sorted(out["a"].tolist()) == [0.0, 1.0]
    assert sorted(out["s"].tolist()) == ["0", "x"]
    # pure-numeric fills keep their dtypes (no accidental widening)
    out2 = pj.fill_empty(_sdf(spark, pdf, "a double, s string"), "a", value=0)
    assert dict(out2.dtypes)["a"] == "double"


def test_conditional_join_cross_dtype_superset(spark):
    # documented superset #2: the reference's search kernels require
    # identical dtypes on both sides of a condition and raise TypeError
    # (conditional_join.py:423-444); Spark's coercion compares int vs
    # double exactly, so ours returns the correct interval join
    left = pd.DataFrame({"li": [1, 5, 9], "lv": ["a", "b", "c"]})
    right = pd.DataFrame({"rlo": [0.5, 4.0], "rhi": [2.5, 6.0], "rv": [100, 200]})
    with pytest.raises(TypeError, match="same type"):
        left.conditional_join(right, ("li", "rlo", ">="), ("li", "rhi", "<="))
    out = pj.conditional_join(
        _sdf(spark, left), _sdf(spark, right),
        ("li", "rlo", ">="), ("li", "rhi", "<="),
    ).toPandas()
    got = sorted((r.li, r.rv) for r in out[["li", "rv"]].itertuples(index=False))
    # brute-force expectation: 1 in [0.5, 2.5], 5 in [4, 6]
    assert got == [(1, 100), (5, 200)], got


def test_select_rows_label_slice(spark):
    # a slice with string bounds is a LABEL slice, inclusive of both
    # endpoints like .loc (ref select.py:300-316); ours predicates on
    # the _row_order column (pushdown-friendly, no positional machinery)
    pdf = pd.DataFrame({"v": [10, 20, 30, 40]}, index=["a", "b", "c", "d"])
    exp = pdf.select_rows(slice("b", "d"))
    sdf_ = _sdf(spark, pdf.reset_index(names="_row_order"))
    out = pj.select_rows(sdf_, slice("b", "d")).drop("_row_order")
    compare(spark, exp, out)
    # open-ended label slices
    exp2 = pdf.select_rows(slice(None, "c"))
    out2 = pj.select_rows(sdf_, slice(None, "c")).drop("_row_order")
    compare(spark, exp2, out2)
    # stepped label slices are not supported here (the reference resolves
    # them positionally via the index — no scalable analogue)
    with pytest.raises(ValueError, match="step"):
        pj.select_rows(sdf_, slice("a", "d", 2))
    # int slices keep the package's documented iloc-position contract
    # (the reference reads them as inclusive label slices on a range
    # index — that divergence predates this test and is documented in
    # the select_rows docstring)
    exp3 = pdf.reset_index(drop=True).iloc[1:3]
    out3 = pj.select_rows(sdf_, slice(1, 3)).drop("_row_order")
    compare(spark, exp3, out3)


def test_process_text_non_string_column_raises(spark):
    # the reference's .str accessor refuses non-string values; ours
    # raises eagerly from the schema instead of silently casting
    pdf = pd.DataFrame({"n": [1, 22, 333]})
    with pytest.raises(AttributeError, match="str accessor"):
        pdf.process_text("n", string_function="len")
    with pytest.raises(TypeError, match="string"):
        pj.process_text(_sdf(spark, pdf), "n", "len")
    # array columns stay allowed (pandas .str works on object lists)
    adf = spark.createDataFrame([([1, 2],), ([3],)], "n array<int>")
    got = [r["n"] for r in pj.process_text(adf, "n", "len").collect()]
    assert sorted(got) == [1, 2]


def test_fill_empty_fractional_and_bool_fills_widen(spark):
    # a fractional float into an int column widens to double (pandas
    # keeps 2.5 — int-with-NaN is float64 there); a bool fill lands as
    # its string rendering on non-boolean columns instead of being
    # silently skipped by na.fill
    sdf_ = spark.createDataFrame([(1, "x"), (None, None)], "v int, s string")
    out = pj.fill_empty(sdf_, "v", value=2.5)
    assert dict(out.dtypes)["v"] == "double"
    assert sorted(r["v"] for r in out.collect()) == [1.0, 2.5]
    # integral floats keep the int dtype (no gratuitous widening)
    out2 = pj.fill_empty(sdf_, "v", value=2.0)
    assert dict(out2.dtypes)["v"] == "int"
    out3 = pj.fill_empty(sdf_, ["s"], value=True)
    assert sorted(out3.toPandas()["s"].tolist()) == ["True", "x"]


def test_change_type_spark_strings_not_hijacked(spark):
    # 'float'/'int' as STRINGS keep their Spark meaning; the python
    # TYPES give pandas semantics; numpy dtype names map either way
    import numpy as np

    pdf = pd.DataFrame({"v": [1.5, 2.5]})
    sdf_ = _sdf(spark, pdf)
    assert dict(pj.change_type(sdf_, "v", "float").dtypes)["v"] == "float"
    assert dict(pj.change_type(sdf_, "v", "int").dtypes)["v"] == "int"
    assert dict(pj.change_type(sdf_, "v", float).dtypes)["v"] == "double"
    assert dict(pj.change_type(sdf_, "v", int).dtypes)["v"] == "bigint"
    assert dict(pj.change_type(sdf_, "v", np.float32).dtypes)["v"] == "float"
    assert dict(pj.change_type(sdf_, "v", "float64").dtypes)["v"] == "double"


def test_convert_excel_date_subday_precision(spark):
    # fractional-day serials keep sub-second precision (ADVICE r8 /
    # VERDICT "What's wrong" #2: the old path truncated to whole
    # seconds).  pandas keeps ns, Spark timestamps are micros — agree
    # to within 2 microseconds (0.5 µs rounding + float64 error)
    serials = [44197.0000057870370,  # +0.5 s
               44197.5,              # noon
               33333.1234567,        # arbitrary fraction
               0.000011574074]       # ~1 s after origin
    pdf = pd.DataFrame({"d": serials})
    exp = pdf.copy().convert_excel_date("d")["d"]
    got = pj.convert_excel_date(_sdf(spark, pdf), "d").toPandas()["d"]
    for g, e in zip(sorted(got), sorted(exp)):
        assert abs((g - e).total_seconds()) < 2e-6, (g, e)


def test_convert_matlab_unix_subsecond_precision(spark):
    # the excel micros rule applies to the whole convert_*_date family:
    # fractional datenums / epochs keep sub-second precision
    pdf = pd.DataFrame({"d": [737000.5, 737000.2500057870, 700000.0]})
    exp = pdf.copy().convert_matlab_date("d")["d"]
    got = pj.convert_matlab_date(_sdf(spark, pdf), "d").toPandas()["d"]
    for g, e in zip(sorted(got), sorted(exp)):
        assert abs((g - e).total_seconds()) < 2e-6, (g, e)
    pdf = pd.DataFrame({"d": [1600000000.5, 1600000000.25, 1600000000.0]})
    exp = pdf.copy().convert_unix_date("d")["d"]
    got = pj.convert_unix_date(_sdf(spark, pdf), "d").toPandas()["d"]
    for g, e in zip(sorted(got), sorted(exp)):
        assert abs((g - e).total_seconds()) < 2e-6, (g, e)


def test_count_cumulative_unique_case_insensitive(spark):
    pdf = pd.DataFrame({"s": ["A", "a", "B", "b", "C"]})
    exp = pdf.copy().count_cumulative_unique(
        "s", dest_column_name="n", case_sensitive=False
    )
    out = pj.count_cumulative_unique(
        _sdf(spark, pdf), "s", dest_column_name="n", case_sensitive=False
    ).toPandas()
    assert sorted(out["n"]) == sorted(exp["n"])


def test_convert_excel_date_string_serials_superset(spark):
    # documented superset: string-typed serial columns convert (the
    # reference raises on object dtype — not compatible with origin)
    pdf = pd.DataFrame({"d": ["44197", "44198.5"]})
    with pytest.raises(Exception, match="origin"):
        pdf.copy().convert_excel_date("d")
    out = pj.convert_excel_date(_sdf(spark, pdf), "d").toPandas()
    # values equal the numeric-serial conversion
    num = pd.DataFrame({"d": [44197.0, 44198.5]}).convert_excel_date("d")
    assert sorted(out["d"].astype(str)) == sorted(num["d"].astype(str))


# ---- round 10: pivot_longer exotic spec forms (VERDICT r9 task 7) ----
# the reference's 96-test matrix out-covered this repo on dict-form
# names_pattern and multi-.value x names_transform combos; each case
# below runs the live reference on the same frame and compares multisets.


def _fruit(n=3):
    return pd.DataFrame(
        {
            "City": ["Houston", "Austin", "Hoover"][:n],
            "State": ["Texas", "Texas", "Alabama"][:n],
            "Mango": [4.0, 10.0, 90.0][:n],
            "Orange": [10.0, 8.0, 14.0][:n],
            "Watermelon": [40.0, 99.0, 43.0][:n],
            "Gin": [16.0, 200.0, 34.0][:n],
            "Vodka": [20.0, 33.0, 18.0][:n],
        }
    )


def test_pivot_longer_flat_dict_pattern(spark):
    # flat dict {value_col: regex}: keys NAME the value columns
    pdf = pd.DataFrame(
        {"id": [1, 2], "m_a": [1.0, 2.0], "m_b": [3.0, 4.0], "t_x": [5.0, 6.0]}
    )
    exp = pdf.pivot_longer(index="id", names_pattern={"M": "^m", "Task": "^t"})
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_pattern={"M": "^m", "Task": "^t"}
    )
    compare(spark, exp, out)


def test_pivot_longer_flat_dict_pattern_fruit(spark):
    pdf = _fruit()
    exp = pdf.pivot_longer(
        index=["City", "State"],
        names_pattern={"Pounds": r"M|O|W", "Ounces": r"G|V"},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf),
        index=["City", "State"],
        names_pattern={"Pounds": r"M|O|W", "Ounces": r"G|V"},
    )
    compare(spark, exp, out)


def test_pivot_longer_nested_dict_pattern(spark):
    # nested dict {label_col: {value_col: regex}}: outer keys carry the
    # matched column NAME, inner keys the values
    pdf = _fruit()
    pat = {"Fruit": {"Pounds": r"M|O|W"}, "Drink": {"Ounces": r"G|V"}}
    exp = pdf.pivot_longer(index=["City", "State"], names_pattern=pat)
    out = pj.pivot_longer(
        _sdf(spark, pdf), index=["City", "State"], names_pattern=pat
    )
    compare(spark, exp, out)


def test_pivot_longer_nested_dict_with_names_transform(spark):
    # names_transform on the label columns; 'category' has no Spark
    # analog (values compare equal as strings), so the Spark side
    # casts to string explicitly
    pdf = _fruit()
    pat = {"Fruit": {"Pounds": r"M|O|W"}, "Drink": {"Ounces": r"G|V"}}
    exp = pdf.pivot_longer(
        index=["City", "State"],
        names_pattern=pat,
        names_transform={"Fruit": "category", "Drink": "category"},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf),
        index=["City", "State"],
        names_pattern=pat,
        names_transform={"Fruit": "string", "Drink": "string"},
    )
    exp = exp.copy()
    exp["Fruit"] = exp["Fruit"].astype(object).where(exp["Fruit"].notna(), None)
    exp["Drink"] = exp["Drink"].astype(object).where(exp["Drink"].notna(), None)
    compare(spark, exp, out)


def test_pivot_longer_values_to_tuple_single(spark):
    # values_to as a 1-tuple with a 1-list names_pattern
    pdf = _fruit()
    exp = pdf.pivot_longer(
        index=["City", "State"],
        column_names=["Mango", "Orange", "Watermelon"],
        names_to=("Fruit"),
        values_to=("Pounds",),
        names_pattern=[r"M|O|W"],
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf),
        index=["City", "State"],
        column_names=["Mango", "Orange", "Watermelon"],
        names_to=("Fruit"),
        values_to=("Pounds",),
        names_pattern=[r"M|O|W"],
    )
    compare(spark, exp, out)


def test_pivot_longer_values_to_pair_with_transform(spark):
    # 2-list names_pattern + 2-tuple values_to + per-label transform
    pdf = _fruit()
    exp = pdf.pivot_longer(
        index=["City", "State"],
        names_to=("Fruit", "Drink"),
        values_to=("Pounds", "Ounces"),
        names_pattern=[r"M|O|W", r"G|V"],
        names_transform={"Fruit": "string", "Drink": "string"},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf),
        index=["City", "State"],
        names_to=("Fruit", "Drink"),
        values_to=("Pounds", "Ounces"),
        names_pattern=[r"M|O|W", r"G|V"],
        names_transform={"Fruit": "string", "Drink": "string"},
    )
    compare(spark, exp, out)


def test_pivot_longer_multi_dot_value_concatenates(spark):
    # two .value groups concatenate into ONE output column name
    pdf = pd.DataFrame(
        {
            "id": [1, 2],
            "x_1_mean": [1.0, 2.0],
            "x_2_mean": [3.0, 4.0],
            "y_1_mean": [5.0, 6.0],
            "y_2_mean": [7.0, 8.0],
        }
    )
    args = dict(
        index="id",
        names_to=(".value", "time", ".value"),
        names_pattern=r"(x|y)_([12])_(mean)",
    )
    exp = pdf.pivot_longer(**args)
    out = pj.pivot_longer(_sdf(spark, pdf), **args)
    compare(spark, exp, out)


def test_pivot_longer_dot_value_second_position(spark):
    # .value NOT first: names_to=("time", ".value")
    pdf = pd.DataFrame(
        {"id": [1, 2], "1_ht": [1.0, 2.0], "2_ht": [3.0, 4.0],
         "1_wt": [5.0, 6.0], "2_wt": [7.0, 8.0]}
    )
    args = dict(index="id", names_to=("time", ".value"), names_sep="_")
    exp = pdf.pivot_longer(**args)
    out = pj.pivot_longer(_sdf(spark, pdf), **args)
    compare(spark, exp, out)


def test_pivot_longer_dot_value_with_int_transform(spark):
    pdf = pd.DataFrame(
        {"id": [1], "ht_1": [1.5], "ht_2": [2.5], "wt_1": [9.0], "wt_2": [8.0]}
    )
    exp = pdf.pivot_longer(
        index="id", names_to=(".value", "time"), names_sep="_",
        names_transform={"time": int},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to=(".value", "time"),
        names_sep="_", names_transform={"time": "int"},
    )
    compare(spark, exp, out)


def test_pivot_longer_dot_value_float_transform_ragged(spark):
    # the reference's wide_to_long parity case: ragged sub-labels
    # (result_1 has no treatment partner at colname 1.0 after float cast
    # -- wait, it does pair with treatment_1.1? no: groups are by the
    # label value, NaN where a group lacks a member)
    pdf = pd.DataFrame(
        {
            "treatment_1.1": [1.0, 2.0],
            "treatment_2.1": [3.0, 4.0],
            "result_1.2": [5.0, 6.0],
            "result_1": [0.0, 9.0],
            "A": ["X1", "X2"],
        }
    )
    exp = pdf.pivot_longer(
        index="A", names_to=(".value", "colname"), names_sep="_",
        names_transform={"colname": float},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="A", names_to=(".value", "colname"),
        names_sep="_", names_transform={"colname": "double"},
    )
    compare(spark, exp, out)


def test_pivot_longer_dot_value_only(spark):
    # names_to is JUST .value: labels vanish, only value columns remain
    pdf = pd.DataFrame(
        {"id": [1, 2], "x_1": [1.0, 2.0], "x_2": [3.0, 4.0],
         "y_1": [5.0, 6.0], "y_2": [7.0, 8.0]}
    )
    args = dict(index="id", names_to=".value", names_pattern=r"(.+)_\d")
    exp = pdf.pivot_longer(**args)
    out = pj.pivot_longer(_sdf(spark, pdf), **args)
    compare(spark, exp, out)


def test_pivot_longer_three_way_names_sep(spark):
    # label - .value - label split across three segments
    pdf = pd.DataFrame(
        {
            "id": [1],
            "a_ht_x": [1.0],
            "a_wt_x": [2.0],
            "b_ht_y": [3.0],
            "b_wt_y": [4.0],
        }
    )
    args = dict(
        index="id", names_to=("grp", ".value", "tag"), names_sep="_"
    )
    exp = pdf.pivot_longer(**args)
    out = pj.pivot_longer(_sdf(spark, pdf), **args)
    compare(spark, exp, out)


def test_pivot_longer_column_names_only(spark):
    # column_names given, index inferred as the complement
    pdf = pd.DataFrame(
        {"id": [1, 2], "keep": ["a", "b"], "v1": [1.0, 2.0], "v2": [3.0, 4.0]}
    )
    args = dict(column_names=["v1", "v2"], names_to="var", values_to="val")
    exp = pdf.pivot_longer(**args)
    out = pj.pivot_longer(_sdf(spark, pdf), **args)
    compare(spark, exp, out)


def test_pivot_longer_single_group_regex(spark):
    # single regex with ONE capture group, names_to a plain string;
    # non-matching columns stay put (reference drops non-matchers from
    # the melt set only when index/column_names say so)
    pdf = pd.DataFrame({"id": [1], "wk1": [5.0], "wk2": [6.0]})
    args = dict(index="id", names_to="week", names_pattern=r"wk(\d)")
    exp = pdf.pivot_longer(**args)
    out = pj.pivot_longer(_sdf(spark, pdf), **args)
    compare(spark, exp, out)


def test_pivot_longer_dict_pattern_error_contracts(spark):
    # names_to must be None with a dict names_pattern (reference
    # ValueError); mirrored here
    pdf = _fruit()
    pat = {"Fruit": {"Pounds": r"M|O|W"}, "Drink": {"Ounces": r"G|V"}}
    with pytest.raises(ValueError):
        pdf.pivot_longer(
            index=["City", "State"], names_to=("Fruit", "Drink"),
            names_pattern=pat,
        )
    with pytest.raises(ValueError):
        pj.pivot_longer(
            _sdf(spark, pdf), index=["City", "State"],
            names_to=("Fruit", "Drink"), names_pattern=pat,
        )


def test_pivot_longer_multi_dot_value_with_transform(spark):
    # multi-.value AND a names_transform on the surviving label
    pdf = pd.DataFrame(
        {
            "id": [1, 2],
            "a_1_min": [1.0, 2.0],
            "a_2_min": [3.0, 4.0],
            "b_1_min": [5.0, 6.0],
            "b_2_min": [7.0, 8.0],
        }
    )
    exp = pdf.pivot_longer(
        index="id", names_to=(".value", "t", ".value"),
        names_pattern=r"(a|b)_(\d)_(min)", names_transform={"t": int},
    )
    out = pj.pivot_longer(
        _sdf(spark, pdf), index="id", names_to=(".value", "t", ".value"),
        names_pattern=r"(a|b)_(\d)_(min)", names_transform={"t": "int"},
    )
    compare(spark, exp, out)
