"""Completion / expansion verbs: expose implicit-missing rows.

``expand`` builds the cartesian product of per-column value sets
(tidyr expand; ref ``expand_grid.py:141-366``); ``complete`` left-joins
the original frame onto that grid (ref ``complete.py:13-342``).

Scale design: each value set is a ``distinct`` (one shuffle, tiny
output); the grid is built by chained ``crossJoin`` of the DISTINCT
sets (small × small — never the data itself); the final join streams the
big table once against the (usually broadcastable) grid.  ``explicit=
False`` fill uses a presence indicator from the left join — no second
pass over the data.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyjanitor_spark.utils.local import local_frame
from pyjanitor_spark.utils.pin import probe

__all__ = ["expand", "expand_grid", "cartesian_product", "complete", "fill_missing_timestamps"]


def _value_set(df: DataFrame, spec: Any, spark: SparkSession) -> DataFrame:
    """One column-spec -> a small one-or-more-column distinct DataFrame."""
    if isinstance(spec, str):
        return df.select(spec).distinct()
    if isinstance(spec, (list, tuple)) and all(isinstance(s, str) for s in spec):
        # grouped columns: their OBSERVED combinations (tidyr nesting)
        return df.select(*spec).distinct()
    if isinstance(spec, dict):
        # {name: iterable | DataFrame | callable(df)->iterable}
        (name, values), = spec.items()
        if isinstance(values, DataFrame):
            return values
        if callable(values):
            values = values(df)
        vals = [(v,) for v in values]
        # the types Spark's own inference gives this row list
        return local_frame(spark, vals, spark._inferSchemaFromList(vals, [name]))
    if isinstance(spec, DataFrame):
        return spec
    raise TypeError(f"unsupported expand spec: {type(spec)!r}")


def expand(df: DataFrame, *specs: Any, by: Any | None = None) -> DataFrame:
    """Cartesian product of the value sets of the given column specs
    (ref ``expand_grid.py:141-366``).  With ``by``, the product is built
    within each group (distinct by-keys crossed per-group via join)."""
    spark = df.sparkSession
    if by is None:
        grids = [_value_set(df, s, spark) for s in specs]
        out = grids[0]
        for g in grids[1:]:
            out = out.crossJoin(g)
        return out
    by_cols = [by] if isinstance(by, str) else list(by)
    # per-group value sets: distinct (by, col) pairs, joined on by-keys.
    # Each join key is the group key — co-partitioned hash joins, no
    # cartesian blowup beyond the semantic output size.
    grids = [df.select(*by_cols, *( [s] if isinstance(s, str) else list(s) )).distinct()
             if isinstance(s, (str, list, tuple))
             else _value_set(df, s, spark).crossJoin(df.select(*by_cols).distinct())
             for s in specs]
    out = grids[0]
    for g in grids[1:]:
        out = out.join(g, on=by_cols, how="inner")
    return out


def expand_grid(spark: SparkSession, others: dict[str, Any]) -> DataFrame:
    """Cartesian product of named arrays/frames (ref
    ``expand_grid.py:27-137``).  Spark's crossJoin replaces the
    mgrid/dtype trick (SURVEY.md §4).

    Documented naming divergence: the reference emits MultiIndex
    columns ``(key, position-or-frame-column)`` (flattened elsewhere as
    ``v_0`` / ``df_k``); this keeps FLAT names — the dict key for
    array values, the frame's own column names for DataFrame values —
    because Spark has no column MultiIndex.  Colliding names raise
    instead of silently duplicating."""
    if not others:
        raise ValueError("others must be non-empty")
    out_names = []
    for name, values in others.items():
        out_names.extend(values.columns if isinstance(values, DataFrame) else [name])
    dupes = {n for n in out_names if out_names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"expand_grid output names collide: {sorted(dupes)}; rename the "
            "frame columns or dict keys (the reference disambiguates via "
            "MultiIndex columns, which Spark does not have)"
        )
    frames = []
    for name, values in others.items():
        if isinstance(values, DataFrame):
            frames.append(values)
        else:
            # JVM-side literal frame (single partition): createDataFrame
            # would build a Python-RDD-backed scan whose tasks each spin
            # up Python workers — multiplied by the cross-join's task
            # grid that dominated the wall clock
            frames.append(
                spark.range(0, 1, 1, 1).select(
                    F.explode(F.array(*[F.lit(v) for v in values])).alias(name)
                )
            )
    out = frames[0]
    for f in frames[1:]:
        out = out.crossJoin(f)
    return out


def cartesian_product(*dfs: DataFrame) -> DataFrame:
    """Cross-join N DataFrames (ref ``expand_grid.py:406-...``)."""
    if not dfs:
        raise ValueError("need at least one DataFrame")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.crossJoin(d)
    return out


def complete(
    df: DataFrame,
    *specs: Any,
    sort: bool = False,
    by: Any | None = None,
    fill_value: Any | dict | None = None,
    explicit: bool = True,
) -> DataFrame:
    """Expose implicit-missing combinations as explicit null rows (ref
    ``complete.py:13-342``).

    grid = expand(specs[, by]) LEFT-joined by the original frame.
    ``fill_value`` fills the value columns; ``explicit=False`` fills ONLY
    newly-created rows (presence indicator from the join, mirroring the
    reference's merge ``indicator`` trick); ``sort=True`` orders the
    output by the completed key columns (one range exchange — the
    reference's ``sort=`` flag)."""
    if not isinstance(sort, bool):
        raise TypeError("sort should be a boolean.")
    if not isinstance(explicit, bool):
        raise TypeError("explicit should be a boolean.")
    if fill_value is not None and not isinstance(fill_value, dict):
        if hasattr(fill_value, "__len__") and not isinstance(fill_value, str):
            raise TypeError(
                "fill_value should either be a dictionary or a scalar value."
            )
    grid = expand(df, *specs, by=by)
    keys = grid.columns
    # presence indicator BEFORE the join (any non-key column could be null
    # legitimately)
    marked = df.withColumn("__present", F.lit(1))
    # null-safe key equality: a null key value is a category of its own in
    # the expansion (pd.unique keeps NaN), so the original null-keyed rows
    # must rejoin their grid row instead of dangling
    tmp = {k: f"__ck_{i}" for i, k in enumerate(keys)}
    marked = marked.withColumnsRenamed(tmp)
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(tmp[k]))
        cond = c if cond is None else (cond & c)
    joined = grid.join(marked, cond, how="left").drop(*tmp.values())
    value_cols = [c for c in df.columns if c not in set(keys)]
    out = joined
    if fill_value is not None:
        if isinstance(fill_value, dict):
            missing = [c for c in fill_value if c not in df.columns]
            if missing:
                raise ValueError(
                    f"fill_value names columns not in the frame: {missing}"
                )
            fills = fill_value
        else:
            fills = {c: fill_value for c in value_cols}
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        updates = {}
        for c, v in fills.items():
            if c not in value_cols:
                continue
            if hasattr(v, "__len__") and not isinstance(v, str):
                raise ValueError(f"The value for {c} should be a scalar.")
            # type-mismatched fills follow fill_empty's widening rules
            # (missing.py:49-106): a string/bool fill into a non-string
            # column widens the column to STRING (the typed analogue of
            # pandas' object column) instead of dying on the ANSI cast;
            # a fractional float into an int column widens to DOUBLE;
            # otherwise the fill casts to the column's type (a scalar 0
            # filling a string column becomes "0")
            tn = dtypes[c].typeName()
            base = F.col(c)
            if isinstance(v, bool) and tn != "boolean":
                base, lit = base.cast("string"), F.lit(str(v))
            elif isinstance(v, str) and tn not in ("string", "varchar", "char"):
                base, lit = base.cast("string"), F.lit(v)
            elif (
                isinstance(v, float)
                and not v.is_integer()
                and tn in ("byte", "short", "integer", "long")
            ):
                base, lit = base.cast("double"), F.lit(v)
            else:
                lit = F.lit(v).cast(dtypes[c])
            if explicit:
                updates[c] = F.coalesce(base, lit)
            else:
                updates[c] = F.when(
                    F.col("__present").isNull() & base.isNull(), lit
                ).otherwise(base)
        out = out.withColumns(updates)
    if sort:
        out = out.orderBy(*[F.col(k) for k in keys])
    return out.drop("__present")


def fill_missing_timestamps(
    df: DataFrame,
    frequency: str,
    column_name: str = "ts",
    first_time_stamp: Any | None = None,
    last_time_stamp: Any | None = None,
    by: Any | None = None,
) -> DataFrame:
    """Reindex against a regular timestamp grid (ref
    ``timeseries.py:14-76``).

    Grid generated JVM-side: ``sequence(min, max, interval)`` +
    ``explode`` — one row per grid point, no driver materialization.
    ``frequency`` is a Spark interval string ('1 hour', '15 minutes').
    With ``by``, a grid per group (min/max per group via one agg).

    Actions: without ``by`` and with either grid end missing, ONE at call
    time — a ``collect`` of the column's min/max (``utils.pin.probe``).
    When ``df`` does not replay identically (a shuffle, join or
    nondeterministic expression upstream) the probe pins it first, so
    the call also runs ``df``'s shuffle and broadcast stages (adaptive
    query execution materialises them; see ``utils.pin.pin``), and the
    output's join reads the stored rows instead of re-running ``df``.
    Every other call runs no job."""
    interval = F.expr(f"INTERVAL {frequency}")
    if by is None:
        if first_time_stamp is None or last_time_stamp is None:
            df, (row,) = probe(
                df, lambda f: f.agg(F.min(column_name).alias("mn"), F.max(column_name).alias("mx"))
            )
            lo = first_time_stamp or row["mn"]
            hi = last_time_stamp or row["mx"]
        else:
            lo, hi = first_time_stamp, last_time_stamp
        grid = df.sparkSession.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"), interval
                )
            ).alias(column_name)
        )
        return grid.join(df, on=column_name, how="left")
    by_cols = [by] if isinstance(by, str) else list(by)
    bounds = df.groupBy(*by_cols).agg(
        F.min(column_name).alias("__mn"), F.max(column_name).alias("__mx")
    )
    grid = bounds.select(
        *by_cols,
        F.explode(F.sequence(F.col("__mn"), F.col("__mx"), interval)).alias(column_name),
    )
    return grid.join(df, on=by_cols + [column_name], how="left")
