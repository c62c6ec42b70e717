"""Missing-data verbs: coalesce, fill, impute, fill_direction.

``coalesce``/``fill_empty``/``impute`` are pure expressions (scan-time).
``fill_direction`` needs an order: it uses ``last(ignorenulls)`` /
``first(ignorenulls)`` windows.  With a ``by`` partition the window is
parallel; without one it is a global ordered window — correct but
single-task for the final pass, documented (SURVEY.md §4 order contract).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyjanitor_spark.utils.order import ensure_order_column
from pyjanitor_spark.utils.pin import probe
from pyjanitor_spark.utils.select import resolve_columns

__all__ = ["coalesce", "fill_empty", "impute", "fill_direction"]


def coalesce(
    df: DataFrame,
    column_names: Any,
    target_column_name: str | None = None,
    default_value: Any | None = None,
) -> DataFrame:
    """First non-null across N columns (ref ``coalesce.py:14-134``) —
    maps to the exact built-in ``F.coalesce``.

    A string ``default_value`` falling back into numeric source columns
    widens the result to the string supertype (same contract as
    ``fill_empty``; the reference's fillna widens to object)."""
    cols = resolve_columns(df, column_names)
    if len(cols) < 2 and default_value is None:
        raise ValueError("provide >= 2 columns (or a default_value)")
    widen = isinstance(default_value, str) and any(
        df.schema[c].dataType.typeName() not in ("string", "varchar", "char")
        for c in cols
    )
    exprs = [F.col(c).cast("string") if widen else F.col(c) for c in cols]
    if default_value is not None:
        exprs.append(F.lit(default_value))
    target = target_column_name or cols[0]
    return df.withColumn(target, F.coalesce(*exprs))


def fill_empty(df: DataFrame, column_names: Any, value: Any) -> DataFrame:
    """Fill nulls in selected columns (ref ``fill.py:137-206``).

    A type-mismatched fill never gets lost or corrupted (``na.fill``
    would silently SKIP mismatched columns, and silently TRUNCATE a
    float into an integer column): a string fill into a numeric column
    widens that column to STRING (Spark's analogue of the object column
    pandas widens to); a numeric or boolean fill into a string column
    lands as its string rendering; a fractional float fill into an
    integer column widens the column to DOUBLE (pandas keeps 2.5 in the
    float64 column an int-with-NaN column already is)."""
    cols = resolve_columns(df, column_names)
    str_types = ("string", "varchar", "char")
    int_types = ("byte", "short", "integer", "long")
    if isinstance(value, str):
        widen = {
            c: F.col(c).cast("string")
            for c in cols
            if df.schema[c].dataType.typeName() not in str_types
        }
        if widen:
            df = df.withColumns(widen)
        return df.na.fill(value, subset=cols)
    if isinstance(value, bool):
        other = [
            c for c in cols if df.schema[c].dataType.typeName() != "boolean"
        ]
        if other:
            # pandas stores the bool in the object column; the string
            # rendering is the typed-column analogue (same family as the
            # string-widening above)
            sval = str(value)
            df = df.withColumns(
                {c: F.coalesce(F.col(c).cast("string"), F.lit(sval)) for c in other}
            )
            cols = [c for c in cols if c not in other]
        return df.na.fill(value, subset=cols) if cols else df
    if isinstance(value, (int, float)):
        str_cols = [
            c for c in cols if df.schema[c].dataType.typeName() in str_types
        ]
        if str_cols:
            sval = str(value)
            df = df.withColumns(
                {c: F.coalesce(F.col(c), F.lit(sval)) for c in str_cols}
            )
            cols = [c for c in cols if c not in str_cols]
        if isinstance(value, float) and not value.is_integer():
            widen = {
                c: F.col(c).cast("double")
                for c in cols
                if df.schema[c].dataType.typeName() in int_types
            }
            if widen:
                df = df.withColumns(widen)
        if not cols:
            return df
    return df.na.fill(value, subset=cols)


_STATS = {
    "mean": F.avg,
    "average": F.avg,
    # exact interpolating percentile, matching pandas Series.median()
    # on even counts (percentile_approx returns a member element — off
    # by half a gap whenever the non-null count is even)
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    # deterministic=True -> lowest of the most-frequent values, matching
    # pandas Series.mode().iloc[0] (sorted ascending)
    "mode": lambda c: F.mode(c, True),
    "minimum": F.min,
    "min": F.min,
    "maximum": F.max,
    "max": F.max,
    "sum": F.sum,
}


def impute(
    df: DataFrame,
    column_names: Any,
    value: Any | None = None,
    statistic_column_name: str | None = None,
) -> DataFrame:
    """Fill nulls with a scalar or a column statistic (ref
    ``impute.py:17-142``).  Statistic path: ``probe`` runs ONE aggregate
    of all statistics (and its ``share`` pin's stages on a
    replay-unstable input), then a null-safe ``coalesce`` over the
    probed frame.  Documented superset: ``'sum'`` is accepted as a
    statistic (the reference's dict stops at max)."""
    cols = resolve_columns(df, column_names)
    if (value is None) == (statistic_column_name is None):
        raise ValueError("exactly one of value / statistic_column_name")
    if value is not None:
        # same widening contract as fill_empty: a string fill into a
        # numeric column widens it (na.fill would silently skip it)
        return fill_empty(df, cols, value)
    stat = _STATS.get(statistic_column_name)
    if stat is None:
        raise KeyError(f"unknown statistic {statistic_column_name!r}")
    df, (row,) = probe(df, lambda f: f.agg(*[stat(F.col(c)).alias(c) for c in cols]))
    return df.withColumns(
        {c: F.coalesce(F.col(c), F.lit(row[c])) for c in cols if row[c] is not None}
    )


def fill_direction(
    df: DataFrame,
    directions: dict[str, str] | None = None,
    order_by: str | None = None,
    by: Any | None = None,
    **kwargs: str,
) -> DataFrame:
    """Per-column ffill ('down'), bfill ('up'), 'updown', 'downup' (ref
    ``fill.py:25-127``).  Requires an order column; optional ``by`` makes
    the window partition-parallel (the scale path).  Directions may be
    passed as a dict or as keyword pairs like the reference
    (``fill_direction(v='down')``)."""
    directions = {**(directions or {}), **kwargs}
    if not directions:
        raise ValueError("provide at least one column: direction pair")
    df, ocol, added = ensure_order_column(df, order_by)
    part = resolve_columns(df, by) if by is not None else []
    base_down = Window.partitionBy(*part).orderBy(F.col(ocol)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    base_up = Window.partitionBy(*part).orderBy(F.col(ocol)).rowsBetween(
        0, Window.unboundedFollowing
    )
    updates = {}
    for c, direction in directions.items():
        down = F.last(F.col(c), ignorenulls=True).over(base_down)
        up = F.first(F.col(c), ignorenulls=True).over(base_up)
        if direction == "down":
            updates[c] = down
        elif direction == "up":
            updates[c] = up
        elif direction == "updown":
            updates[c] = F.coalesce(up, down)
        elif direction == "downup":
            updates[c] = F.coalesce(down, up)
        else:
            raise ValueError(f"bad direction {direction!r} for {c!r}")
    out = df.withColumns(updates)
    return out.drop(ocol) if added else out
