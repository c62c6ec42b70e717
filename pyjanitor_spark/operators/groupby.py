"""Group-by / ordered-window verbs.

All grouped verbs compile to ``Window.partitionBy(keys)`` — exactly ONE
hash shuffle on the group keys, partial aggregation map-side where Spark
supports it.  Verbs that need a TOTAL order (``count_cumulative_unique``,
``ecdf``) use the partition-offset pattern (``utils.order``) instead of a
global single-task window.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyjanitor_spark.utils.order import ensure_order_column, partitioned_cumsum
from pyjanitor_spark.utils.pin import share
from pyjanitor_spark.utils.select import resolve_columns

__all__ = [
    "groupby_agg",
    "groupby_topk",
    "take_first",
    "count_cumulative_unique",
    "shuffle",
    "sort_naturally",
    "sort_column_value_order",
]

_AGGS = {
    "mean": F.avg, "average": F.avg, "avg": F.avg,
    "sum": F.sum, "min": F.min, "max": F.max,
    # pandas count is non-null only; size counts every row incl. nulls
    "count": F.count, "size": lambda c: F.count(F.lit(1)),
    "std": F.stddev, "var": F.variance,
    # exact interpolating percentile — pandas groupby median
    # interpolates on even counts; percentile_approx picks a member
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "nunique": F.countDistinct,  # grouped path only; see _WINDOWED_AGGS
}

# aggregates needing a custom windowed form.  approx_nunique:
# HyperLogLog++ (~2% default rse) — fixed-size sketch state, safe
# inside a window at any cardinality.  Exact "nunique" deliberately
# does NOT appear here: distinct aggregates are rejected inside
# windows and the size(collect_set) workaround materializes every
# distinct value in per-window state — unbounded memory that a
# high-cardinality group blows up at corpus scale (measured 11.4s vs
# ~2s at sf0.1).  Exact nunique instead takes the two-phase path in
# ``groupby_agg``: groupBy(keys).countDistinct (map-side partial
# aggregation, bounded state) joined back on the keys — two shuffles
# of tiny data, AQE broadcasts the per-group side when small.
_WINDOWED_AGGS = {
    "approx_nunique": lambda c, w: F.approx_count_distinct(c).over(w),
}


def groupby_agg(
    df: DataFrame,
    by: Any,
    new_column_name: str | list | tuple | dict,
    agg_column_name: str | list | tuple | None = None,
    agg: str | list | tuple | None = None,
    dropna: bool = True,
    order_by: str | None = None,
) -> DataFrame:
    """Grouped aggregate broadcast back to every row (ref
    ``groupby_agg.py:19-107`` == groupby().transform(agg)).

    Plan: named whole-group aggregates compile to
    ``groupBy(keys).agg(...)`` + join-back on the keys — only the
    map-side PARTIAL aggregates shuffle (bounded state, skew-immune),
    and AQE turns the join-back into a broadcast hash join whenever the
    group count is small, so the wide rows never shuffle at all.  This
    beats the window form (full shuffle + sort of every row, with as
    few tasks as there are groups) at any scale.  The window path is
    kept for the order-sensitive forms: ``order_by=`` (deterministic
    first/last) and user callables, which by contract receive the
    window.  Nulls form their own group natively (== dropna=False);
    ``dropna=True`` nulls out the result for null-keyed rows, matching
    pandas.

    Multi-aggregate forms (pandas ``.transform`` list parity):

    * ``new_column_name={'out': ('src', 'agg'), ...}`` — dict spec;
    * equal-length lists for ``new_column_name`` / ``agg_column_name``
      / ``agg``, paired positionally.

    ``order_by`` — sort the window by this column (whole-group frame
    kept, so sum/avg/… are unaffected).  Required for DETERMINISTIC
    ``first``/``last``: without it those aggregates return whatever row
    the partition layout delivers first — layout-dependent output, the
    exact nondeterminism pandas row order hides (the ``_row_order``
    contract, ``utils/order.py``).
    """
    keys = resolve_columns(df, by)
    if order_by is not None:
        if order_by not in df.columns:
            raise KeyError(f"order column {order_by!r} not in DataFrame")
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(order_by))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
    else:
        w = Window.partitionBy(*keys)
    if isinstance(new_column_name, dict):
        specs = {n: (c, a) for n, (c, a) in new_column_name.items()}
    elif isinstance(new_column_name, (list, tuple)):
        if (
            not isinstance(agg_column_name, (list, tuple))
            or not isinstance(agg, (list, tuple))
            or len({len(new_column_name), len(agg_column_name), len(agg)}) != 1
        ):
            raise ValueError(
                "list-form groupby_agg needs equal-length lists for "
                "new_column_name, agg_column_name, and agg"
            )
        specs = dict(zip(new_column_name, zip(agg_column_name, agg)))
    else:
        specs = {new_column_name: (agg_column_name, agg)}
    null_key = None
    if dropna:
        for k in keys:
            cond = F.col(k).isNull()
            null_key = cond if null_key is None else (null_key | cond)
    # route each spec: grouped (groupBy + join-back) vs windowed.
    # nunique is ALWAYS grouped (distinct aggregates are rejected in
    # windows, and the size(collect_set) workaround holds every
    # distinct value in per-window state — unbounded at corpus scale);
    # other named aggs are grouped unless order_by was given (whole-
    # group frames are order-insensitive, but the order_by contract
    # promises a window for deterministic first/last).  1-arg callables
    # without order_by ALSO go grouped: inside groupBy().agg() a
    # composite like max(c)-min(c) is natively one aggregate expression,
    # where the window form's single trailing ``.over`` could never bind
    # its inner aggregates; 2-arg ``(col, window)`` callables keep the
    # window they were written against.
    grouped_specs: dict[str, "F.Column"] = {}
    window_specs: dict[str, tuple] = {}
    distinct_names: set[str] = set()
    buffered_names: set[str] = set()
    for name, (col, a) in specs.items():
        if a == "nunique":
            distinct_names.add(name)
            grouped_specs[name] = F.countDistinct(F.col(col))
        elif callable(a) and order_by is None and _required_params(a) <= 1:
            buffered_names.add(name)  # unknown expr: treat as buffered
            grouped_specs[name] = a(F.col(col))
        elif callable(a) or order_by is not None:
            window_specs[name] = (col, a)
        elif a == "approx_nunique":
            grouped_specs[name] = F.approx_count_distinct(F.col(col))
        elif a in _AGGS:
            if a == "median":
                # TypedImperative percentile: buffers a per-group value
                # counts map, no codegen
                buffered_names.add(name)
            grouped_specs[name] = _AGGS[a](F.col(col))
        else:
            raise KeyError(f"unsupported agg {a!r}")
    new_cols = {}
    for name, (col, a) in window_specs.items():
        expr = _agg_expr(a, col, w)
        if null_key is not None:
            expr = F.when(null_key, F.lit(None)).otherwise(expr)
        new_cols[name] = expr
    out = df.withColumns(new_cols) if new_cols else df
    if grouped_specs:
        # Distinct aggregates trigger Catalyst's two-phase rewrite: ALL
        # sibling aggregates first partial-aggregate at (keys, distinct
        # col) granularity.  For a buffered TypedImperative sibling
        # (median's percentile counts map) that builds one buffer PER
        # (group, distinct value) instead of per group — measured 2.1 s
        # vs 0.5 + 0.7 s for median+nunique at sf0.1 on 600k rows.  Run
        # the distinct aggs in their OWN groupBy and join both bounded
        # per-group tables back (one extra broadcast-sized join, values
        # identical).
        distinct = {
            n: e for n, e in grouped_specs.items() if n in distinct_names
        }
        rest = {
            n: e for n, e in grouped_specs.items() if n not in distinct_names
        }
        if distinct and (buffered_names & set(rest)):
            out = _join_grouped_aggs(out, df, keys, rest, dropna)
            out = _join_grouped_aggs(out, df, keys, distinct, dropna)
        else:
            out = _join_grouped_aggs(out, df, keys, grouped_specs, dropna)
    # restore the caller's column order (join-back appends at the end)
    want = df.columns + [n for n in specs if n not in df.columns]
    return out.select(*want)


def _join_grouped_aggs(
    out: DataFrame,
    src: DataFrame,
    keys: list[str],
    grouped_specs: dict[str, "F.Column"],
    dropna: bool,
) -> DataFrame:
    """Attach per-group aggregate values via groupBy + join-back.

    The aggregates run with bounded state (map-side partial
    aggregation, hash shuffle of partials only); the per-group result
    is one row per group, so AQE turns the join-back into a broadcast
    hash join whenever the key cardinality is small — the wide rows
    never shuffle.  At high key cardinality both sides hash-shuffle on
    the keys, which is what the window form costs anyway (minus its
    sort).

    ``dropna=True``: a plain equality join leaves null-keyed rows
    unmatched → their values are NULL, matching pandas transform over
    ``groupby(dropna=True)``.  ``dropna=False``: null keys form their
    own group, so the join is null-safe.
    """
    # temp names: a spec may OVERWRITE an existing column, and the join
    # must not create a duplicate name — withColumn below replaces
    # in-place (or appends for new names)
    tmp = {n: f"__ga_{i}" for i, n in enumerate(grouped_specs)}
    aggs = [expr.alias(tmp[n]) for n, expr in grouped_specs.items()]
    grouped = src.groupBy(*keys).agg(*aggs)
    grouped = grouped.select(
        *[F.col(k).alias(f"__gk_{i}") for i, k in enumerate(keys)],
        *[F.col(t) for t in tmp.values()],
    )
    cond = None
    for i, k in enumerate(keys):
        c = (
            out[k] == grouped[f"__gk_{i}"]
            if dropna
            else out[k].eqNullSafe(grouped[f"__gk_{i}"])
        )
        cond = c if cond is None else (cond & c)
    joined = out.join(grouped, cond, "left")
    joined = joined.withColumns({n: F.col(t) for n, t in tmp.items()})
    return joined.drop(
        *[f"__gk_{i}" for i in range(len(keys))], *tmp.values()
    )


def _required_params(fn) -> int:
    """Count REQUIRED params: builtins like F.first/F.last carry
    defaulted extras (ignorenulls=True) and must take the 1-arg
    single-aggregate path, not receive the Window positionally."""
    import inspect

    try:
        return sum(
            1
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            not in (
                inspect.Parameter.VAR_POSITIONAL,
                inspect.Parameter.VAR_KEYWORD,
            )
        )
    except (TypeError, ValueError):
        return 1


def _agg_expr(agg, agg_column_name: str, w) -> "F.Column":
    """One windowed aggregate expression (shared by every spec form)."""
    if callable(agg):
        # reference accepts callables (groupby_agg.py agg param).  A
        # 1-arg callable must return a SINGLE aggregate (``.over`` binds
        # to the outermost expression only — a composite like max-min
        # would leave its inner aggregates group-less, which is why the
        # order_by-free composite form routes through groupBy().agg()
        # upstream); composite expressions under order_by take a 2-arg
        # ``(col, window)`` callable and attach ``.over`` per aggregate
        # themselves.
        nparams = _required_params(agg)
        if nparams >= 2:
            expr = agg(F.col(agg_column_name), w)
        else:
            expr = agg(F.col(agg_column_name)).over(w)
    elif agg in _WINDOWED_AGGS:
        expr = _WINDOWED_AGGS[agg](F.col(agg_column_name), w)
    elif agg in _AGGS:
        expr = _AGGS[agg](F.col(agg_column_name)).over(w)
    else:
        raise KeyError(f"unsupported agg {agg!r}")
    return expr


def groupby_topk(
    df: DataFrame,
    by: Any,
    column: str,
    k: int,
    dropna: bool = True,
    ascending: bool = True,
    ignore_index: bool = True,
) -> DataFrame:
    """Top-k rows per group by column order (ref ``groupby_topk.py:13-125``).
    row_number over partitioned window — single shuffle, streams at scale.
    ``dropna=True`` (pandas groupby default) excludes null-keyed groups;
    ``False`` ranks the null group like any other."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = resolve_columns(df, by)
    if dropna:
        for kcol in keys:
            df = df.filter(F.col(kcol).isNotNull())
    # both reference paths — nlargest/nsmallest (numeric/temporal) and
    # the sort_values-then-head(k) TypeError fallback (object/bool) — rank
    # the non-null values and then PAD with the group's null rows when
    # fewer than k non-nulls exist (pandas nsmallest([NaN], 1) returns
    # the NaN row; fuzz-pinned in test_fuzz_differential5).  nulls-LAST
    # ordering reproduces exactly that: non-null top-k first, null rows
    # fill the remainder.  Which null rows pad is row-order-dependent in
    # pandas and layout-dependent here — the same latitude ties among
    # equal ranked values already have.
    order = (
        F.col(column).asc_nulls_last()
        if ascending
        else F.col(column).desc_nulls_last()
    )
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def take_first(
    df: DataFrame, subset: Any, by: str, ascending: bool = True
) -> DataFrame:
    """First row per group after sort (ref ``take_first.py:10-46``)."""
    return groupby_topk(df, subset, by, 1, ascending=ascending)


def count_cumulative_unique(
    df: DataFrame,
    column_name: str,
    dest_column_name: str,
    case_sensitive: bool = True,
    order_by: str | None = None,
) -> DataFrame:
    """Running count of distinct values seen so far (ref
    ``count_cumulative_unique.py:13-112``).  Null values never
    increment the count — the reference's ``groupby(counter)`` drops
    NaN keys, so a NaN row carries the previous total forward.

    Scalable two-stage plan: flag the first occurrence per value
    (parallel window partitioned by the value), then a partition-
    parallel running sum of the flags via ``partitioned_cumsum`` —
    range-repartition on the order column, per-partition partial sums,
    broadcast offsets, in-partition cumulative window.  No single-task
    stage anywhere (the old plan's global ``Window.orderBy`` funneled
    every row through one task).

    With a user-supplied ``order_by`` (which must uniquely identify
    rows — ties have no defined running-count order anyway), only the
    narrow ``(order, value)`` projection flows through the window +
    cumsum pipeline and the result joins back by order key: wide rows
    are shuffled once (the join) and never materialized by the cumsum's
    layout pin.  The narrow branch and the join-back both read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``: an input that
    does not replay identically is pinned, so every row gets the count
    its own read produced, and under adaptive query execution that pin
    runs the upstream's shuffle stages when the call is made.  Without
    ``order_by`` the generated id is only consistent within a single
    pinned plan, so the full frame takes the cumsum path directly (its
    layout pin runs the upstream's shuffle stages and the range
    exchange when the call is made)."""
    if not case_sensitive:
        t = df.schema[column_name].dataType.typeName()
        if t not in ("string", "varchar", "char"):
            # matches the reference's contract (count_cumulative_unique.py
            # :92-105): case folding only means something on strings
            raise TypeError(
                "case_sensitive=False can only be used with a string-like "
                f"type. Column {column_name} is {t} type."
            )
    df, ocol, added = ensure_order_column(df, order_by)
    val = F.col(column_name) if case_sensitive else F.lower(F.col(column_name))
    if not added:
        df = share(df)
        narrow = df.select(F.col(ocol), val.alias("__v"))
        w_first = Window.partitionBy("__v").orderBy(F.col(ocol))
        flagged = narrow.withColumn(
            "__is_first",
            ((F.row_number().over(w_first) == 1) & F.col("__v").isNotNull()).cast("long"),
        ).drop("__v")
        cum = partitioned_cumsum(flagged, "__is_first", ocol, dest_column_name)
        # null-safe equi-join: a (single, per the uniqueness contract)
        # NULL order key must not silently drop its row
        right = cum.select(
            F.col(ocol).alias("__ccu_o"), F.col(dest_column_name)
        )
        return (
            df.join(right, F.col(ocol).eqNullSafe(F.col("__ccu_o")), "left")
            .drop("__ccu_o")
        )
    w_first = Window.partitionBy(val).orderBy(F.col(ocol))
    flagged = df.withColumn(
        "__is_first",
        ((F.row_number().over(w_first) == 1) & val.isNotNull()).cast("long"),
    )
    out = partitioned_cumsum(flagged, "__is_first", ocol, dest_column_name).drop(
        "__is_first"
    )
    return out.drop(ocol)


def shuffle(
    df: DataFrame, random_state: int | None = None, reset_index: bool = True
) -> DataFrame:
    """Random row permutation (ref ``shuffle.py:10-55``).
    ``reset_index`` is accepted for API parity and is a no-op — Spark
    frames carry no index (the ``_row_order`` contract)."""
    return df.orderBy(F.rand(random_state) if random_state is not None else F.rand())


def sort_naturally(
    df: DataFrame,
    column_name: str,
    ascending: bool = True,
    dest: str | None = None,
    **natsorted_kwargs: Any,
) -> DataFrame:
    """Natural sort on a string column (ref ``sort_naturally.py:11-87``):
    digit runs compare numerically ("x2" < "x10").

    Sort key built JVM-side: zero-pad every digit run to 20 chars so
    lexicographic order == natural order.  No UDF.  ``dest`` keeps the
    computed key as a column (row order itself can't be verified by an
    unordered compare; the key can).

    CONTRACT — digit runs are compared numerically up to 20 digits
    (covers every value up to 10^20 − 1, i.e. beyond int64); a run
    LONGER than 20 digits keeps its excess digits un-padded, so two
    runs both exceeding 20 digits compare lexicographically rather than
    numerically (natsort would compare their full numeric values).
    Inputs with >20-digit integer runs embedded in strings are outside
    this verb's supported domain.  ``natsorted_kwargs`` (the
    reference's natsort ``alg=`` flags) are not supported — passing any
    raises."""
    if natsorted_kwargs:
        raise NotImplementedError(
            f"natsort algorithm flags are not supported: {sorted(natsorted_kwargs)}"
        )
    key = F.regexp_replace(
        F.col(column_name).cast("string"), r"(\d+)", r"00000000000000000000$1"
    )
    key = F.regexp_replace(key, r"0*(\d{20})", r"$1")
    out = df.withColumn(dest, key) if dest is not None else df
    key_col = F.col(dest) if dest is not None else key
    return out.orderBy(key_col.asc() if ascending else key_col.desc())


def sort_column_value_order(
    df: DataFrame, column: str, column_value_order: dict, columns: Any | None = None
) -> DataFrame:
    """Sort by a user-supplied value->rank mapping (ref
    ``sort_column_value_order.py:10-76``).  CASE WHEN rank expression —
    no join needed for small mappings."""
    if not column_value_order:
        raise ValueError("column_value_order must be non-empty")
    expr = None
    for value, rank in column_value_order.items():
        cond = F.col(column) == F.lit(value)
        expr = F.when(cond, F.lit(rank)) if expr is None else expr.when(cond, F.lit(rank))
    expr = expr.otherwise(F.lit(None))
    extra = [F.col(c) for c in resolve_columns(df, columns)] if columns else []
    return df.orderBy(expr.asc_nulls_last(), *extra)
