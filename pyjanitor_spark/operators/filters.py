"""Row filters / predicates.

Every verb here compiles to a single ``Filter`` node that Catalyst pushes
into the parquet scan (PushedFilters) where the predicate allows, so these
are scan-time operations at 100 TB — no shuffle, no UDF.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import probe
from pyjanitor_spark.utils.select import resolve_columns

__all__ = [
    "filter_string",
    "filter_on",
    "filter_date",
    "filter_column_isin",
    "dropnotnull",
    "get_dupes",
    "remove_empty",
    "update_where",
    "case_when",
    "flag_nulls",
]


def filter_string(
    df: DataFrame,
    column_name: str,
    search_string: str,
    complement: bool = False,
    case: bool = True,
    flags: int = 0,
    na: Any = None,
    regex: bool = True,
) -> DataFrame:
    """Keep rows where the column matches (ref ``filter.py:21-105``:
    pandas ``str.contains`` == unanchored search, with its full
    keyword surface).

    ``regex=False`` is a literal substring test; ``case=False``
    case-folds; ``flags`` accepts ``re.IGNORECASE|re.DOTALL|
    re.MULTILINE|re.VERBOSE`` (compiled into inline ``(?...)`` groups —
    JVM regex understands the same letters); ``na`` substitutes the
    match result for NULL values (pandas default propagates NaN, which
    a filter drops on BOTH complement settings — same here)."""
    import re as _re

    if regex:
        inline = ""
        known = {
            _re.IGNORECASE: "i",
            _re.DOTALL: "s",
            _re.MULTILINE: "m",
            _re.VERBOSE: "x",
        }
        rest = flags
        for f, letter in known.items():
            if flags & f:
                inline += letter
                rest &= ~f
        if rest:
            raise ValueError(f"unsupported regex flags: {rest}")
        if not case:
            inline += "i"
        pat = f"(?{inline}){search_string}" if inline else search_string
        pred = F.col(column_name).rlike(pat)
    else:
        col = F.col(column_name)
        lit = F.lit(search_string)
        if not case:
            col, lit = F.lower(col), F.lower(lit)
        pred = col.contains(lit)
    if na is not None:
        pred = F.when(F.col(column_name).isNull(), F.lit(bool(na))).otherwise(pred)
    else:
        # pandas refuses to mask with an NA-containing boolean array —
        # the reference raises on null cells unless na= is given; the
        # guard rides the filter's own scan (no separate action)
        guard = F.assert_true(
            F.col(column_name).isNotNull(),
            F.lit(
                f"filter_string: column {column_name!r} contains nulls; "
                "pass na=True/False to choose their fate"
            ),
        )
        pred = F.when(guard.isNull(), pred)
    return df.filter(~pred if complement else pred)


def filter_on(df: DataFrame, criteria: str, complement: bool = False) -> DataFrame:
    """Filter with a SQL expression string (ref ``filter.py:114-182``;
    Spark SQL replaces ``df.query``).

    ``complement=True`` keeps rows where the criteria is NOT TRUE —
    including rows where it evaluates NULL — matching pandas
    ``query("not (...)")``, where NaN comparisons are already False
    before the negation."""
    pred = F.expr(criteria)
    return df.filter(~F.coalesce(pred, F.lit(False)) if complement else pred)


def filter_date(
    df: DataFrame,
    column_name: str,
    start_date: str | _dt.date | None = None,
    end_date: str | _dt.date | None = None,
    years: list[int] | None = None,
    months: list[int] | None = None,
    days: list[int] | None = None,
    column_date_options: dict | None = None,
    format: str | None = None,
) -> DataFrame:
    """Filter by date range and/or year/month/day membership (ref
    ``filter.py:186-294``).  All predicates are scan-pushable.

    Mirroring the reference: ``format`` parses only the ``start_date`` /
    ``end_date`` strings; the COLUMN parses via
    ``column_date_options={'format': ...}`` (or plain ``to_timestamp``
    for string columns) and, as in the reference, the parsed column
    replaces the original in the output."""
    from pyjanitor_spark.operators.transforms import strftime_to_java

    opts = column_date_options or {}
    col_fmt = strftime_to_java(opts.get("format"))
    if col_fmt is not None:
        df = df.withColumn(column_name, F.to_timestamp(F.col(column_name), col_fmt))
    elif opts or dict(df.dtypes).get(column_name) == "string":
        df = df.withColumn(column_name, F.to_timestamp(F.col(column_name)))
    col = F.col(column_name)

    def _bound(v):
        if isinstance(v, str) and format is not None:
            return _dt.datetime.strptime(v, format)
        return v

    preds: list[Column] = []
    if start_date is not None:
        preds.append(col >= F.lit(_bound(start_date)).cast("timestamp"))
    if end_date is not None:
        preds.append(col <= F.lit(_bound(end_date)).cast("timestamp"))
    if years:
        preds.append(F.year(col).isin([int(y) for y in years]))
    if months:
        preds.append(F.month(col).isin([int(m) for m in months]))
    if days:
        preds.append(F.dayofmonth(col).isin([int(d) for d in days]))
    if not preds:
        return df
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return df.filter(out)


def filter_column_isin(
    df: DataFrame, column_name: str, iterable: Any, complement: bool = False
) -> DataFrame:
    """Membership filter (ref ``filter.py:298-359``).  For large value
    sets prefer a broadcast semi-join; ``isin`` literal lists are fine up
    to ~10k values."""
    values = list(iterable)
    if not values:
        raise ValueError("iterable must be non-empty")
    pred = F.col(column_name).isin(values)
    # complement keeps null rows: pandas isin treats NaN as not-a-member
    # (False), so ~isin is True for them
    return df.filter(~F.coalesce(pred, F.lit(False)) if complement else pred)


def dropnotnull(df: DataFrame, column_name: str) -> DataFrame:
    """Keep rows where the column IS null (ref ``dropnotnull.py:13-42``)."""
    return df.filter(F.col(column_name).isNull())


def get_dupes(df: DataFrame, column_names: Any | None = None) -> DataFrame:
    """All rows that are duplicated on the subset (ref
    ``get_dupes.py:13-84``: pandas ``duplicated(keep=False)``).

    window count over the subset — one shuffle on the subset keys; at
    scale this is the minimal-cost plan (hash partition once)."""
    from pyspark.sql import Window

    subset = resolve_columns(df, column_names) if column_names else df.columns
    w = Window.partitionBy(*subset)
    return (
        df.withColumn("__dupe_ct", F.count(F.lit(1)).over(w))
        .filter(F.col("__dupe_ct") > 1)
        .drop("__dupe_ct")
    )


def remove_empty(df: DataFrame, *, rows: bool = True, columns: bool = True) -> DataFrame:
    """Drop all-null rows and/or all-null columns (ref
    ``remove_empty.py:8-47`` — the reference always drops BOTH, so both
    default on).  Column removal: ``probe`` runs one per-column count
    aggregate (and its ``share`` pin's stages on a replay-unstable
    input), and the output reads the probed frame; pass
    ``columns=False`` to skip it when the schema is known dense."""
    out = df
    if rows:
        out = out.na.drop(how="all")
    if columns:
        out, (row,) = probe(
            out, lambda f: f.agg(*[F.count(F.col(c)).alias(c) for c in f.columns])
        )
        empty = [c for c in out.columns if row[c] == 0]
        if empty:
            out = out.drop(*empty)
    return out


def update_where(
    df: DataFrame,
    conditions: Column | str,
    target_column_name: str,
    target_val: Any,
) -> DataFrame:
    """Conditional update: ``df.loc[cond, col] = val`` (ref
    ``update_where.py:14-92``).  The reference's own Spark port compiles
    to CASE WHEN SQL (``spark/functions.py:92-174``); same here.

    A string value written into a numeric column widens the column to
    STRING — Spark's nearest analogue of the object column pandas
    widens to (surviving numerics render as their string form; without
    this the ANSI runtime cast of the string to the numeric type
    throws mid-job)."""
    if isinstance(conditions, str):
        cond = F.expr(conditions)
    elif isinstance(conditions, Column):
        cond = conditions
    else:
        # same contract the reference enforces on non-boolean conditions
        # (update_where.py:82-88), stated for the Spark model
        raise ValueError(
            "conditions should be a Column expression or a SQL string "
            f"evaluating to boolean; got {type(conditions).__name__}"
        )
    if target_column_name in df.columns:
        base = F.col(target_column_name)
        t = df.schema[target_column_name].dataType.typeName()
        if isinstance(target_val, str) and t not in ("string", "varchar", "char"):
            base = base.cast("string")
    else:
        base = F.lit(None)
    val = target_val if isinstance(target_val, Column) else F.lit(target_val)
    return df.withColumn(target_column_name, F.when(cond, val).otherwise(base))


def case_when(
    df: DataFrame, *args: Any, column_name: str, default: Any = None
) -> DataFrame:
    """SQL CASE WHEN over (condition, value)* pairs (ref
    ``case_when.py:23-133``).  Conditions may be Columns, SQL strings
    (the reference's ``df.eval`` strings map to ``F.expr``), or callables
    taking the DataFrame and returning a boolean Column (ref
    ``case_when.py:112-119`` applies callables to the frame); values may
    likewise be callables returning a Column.

    An odd trailing argument is the default (the reference's legacy
    positional form, ``case_when.py:96-105``); it is only read when the
    ``default=`` keyword is unset."""
    if len(args) % 2 == 1 and len(args) >= 3 and default is None:
        *args, default = args
    if len(args) < 2 or len(args) % 2 != 0:
        raise ValueError("provide (condition, value) pairs")
    pairs = []
    for cond, value in zip(args[::2], args[1::2]):
        if callable(cond) and not isinstance(cond, Column):
            cond = cond(df)
        if callable(value) and not isinstance(value, Column):
            value = value(df)
        c = F.expr(cond) if isinstance(cond, str) else cond
        pairs.append((c, value))
    # the reference's default is ALWAYS a literal/Series — a string that
    # happens to name a column stays a string, and default=None yields
    # NULL rows (case_when.py:181-199: pd.Series([default]) masked), it
    # does NOT fall back to an existing column of the same name
    if callable(default) and not isinstance(default, Column):
        default = default(df)  # ref case_when.py:180 apply_if_callable
    if isinstance(default, Column):
        default_col, default_is_str = default, False
    else:
        default_col, default_is_str = F.lit(default), isinstance(default, str)
    # mixed branch types: a python-str literal next to a Column or
    # non-str branch would make Spark runtime-cast the string to the
    # numeric type (ANSI throw mid-job); pandas widens to object — the
    # Spark analogue is the string supertype, so widen every branch
    branch_is_str = [isinstance(v, str) for _, v in pairs] + [default_is_str]
    widen = any(branch_is_str) and not all(branch_is_str)
    expr = None
    for c, value in pairs:
        v = value if isinstance(value, Column) else F.lit(value)
        if widen:
            v = v.cast("string")
        expr = F.when(c, v) if expr is None else expr.when(c, v)
    if widen:
        default_col = default_col.cast("string")
    return df.withColumn(column_name, expr.otherwise(default_col))


def flag_nulls(
    df: DataFrame,
    column_name: str = "null_flag",
    columns: Any | None = None,
) -> DataFrame:
    """0/1 flag: any-null across the chosen columns (ref
    ``flag_nulls.py:13-85``; a pre-existing flag column raises like the
    reference instead of silently overwriting)."""
    if column_name in df.columns:
        raise ValueError(f"{column_name} column already exists!")
    subset = resolve_columns(df, columns) if columns else df.columns
    pred = F.lit(False)
    for c in subset:
        pred = pred | F.col(c).isNull()
    return df.withColumn(column_name, pred.cast("int"))
