"""Column projection / renaming / reordering verbs.

All are pure projections — Catalyst collapses them into the scan's
ReadSchema, so they are zero-cost at any scale.  The few verbs whose
output *schema depends on data* (``drop_constant_columns``,
``row_to_names``) run one bounded driver-side action and document it
(SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.order import ORDER_COL, ensure_order_column
from pyjanitor_spark.utils.pin import probe
from pyjanitor_spark.utils.select import resolve_columns
from pyjanitor_spark.utils.strings import make_unique

__all__ = [
    "select",
    "select_columns",
    "select_rows",
    "get_columns",
    "rename_column",
    "rename_columns",
    "reorder_columns",
    "move",
    "remove_columns",
    "drop_duplicate_columns",
    "drop_constant_columns",
    "limit_column_characters",
    "row_to_names",
    "collapse_levels",
    "explode_index",
    "change_index_dtype",
    "also",
    "then",
    "get_features_targets",
]


def select(
    df: DataFrame,
    *args: Any,
    index: Any = None,
    columns: Any = None,
    rows: Any = None,
    axis: str = "columns",
    invert: bool = False,
) -> DataFrame:
    """Unified row/column selection (ref ``select.py:332-447``): names,
    globs, regexes, slices, boolean masks, callables, DropLabel.
    Overlapping selectors repeat the column, as the reference's
    ``select`` does.  ``index=`` selects rows (``rows=`` is the
    reference's deprecated alias), ``columns=`` selects columns;
    variable args route by ``axis``."""
    if rows is not None and index is None:
        index = rows  # the reference's deprecated alias
    if args:
        if index is not None or columns is not None:
            raise ValueError(
                "Either provide variable args with the axis parameter, "
                "or provide arguments to the index and/or columns parameters."
            )
        if axis == "index":
            return select_rows(df, *args, invert=invert)
        if axis == "columns":
            return df.select(*resolve_columns(df, *args, invert=invert, dedupe=False))
        raise ValueError("axis should be either 'index' or 'columns'.")
    out = df
    if index is not None:
        out = select_rows(out, index, invert=invert)
    if columns is not None:
        out = out.select(*resolve_columns(out, columns, invert=invert, dedupe=False))
    return out


def select_columns(df: DataFrame, *args: Any, invert: bool = False) -> DataFrame:
    """Deprecated alias of :func:`select` (ref ``select.py:34-251``)."""
    return select(df, *args, invert=invert)


def select_rows(df: DataFrame, *args: Any, invert: bool = False) -> DataFrame:
    """Row selection (ref ``select.py:261-327``).

    Spark rows carry no labels; selectors are

    * SQL predicate strings or ``Column`` conditions — the scalable row
      address (the reference itself recommends ``.loc`` over this verb);
    * ``int`` / ``slice`` / list-of-int POSITIONS in the frame's current
      order (the ``_row_order`` contract) — pandas ``.iloc`` parity,
      resolved through ``positional_index`` (partition-offset pattern,
      no single-task stage).  Negative positions and open-ended or
      negative slice bounds need the row count, only when such a
      selector appears: the call then runs one bounded count job
      through :func:`~pyjanitor_spark.utils.pin.probe` (plus its pin's
      upstream stages on a replay-unstable input), and the positions
      are read from that same run of the input.
    * a slice with NON-int bounds (``slice("b", "d")``) is a LABEL
      slice on the ``_row_order`` column, inclusive of BOTH endpoints
      like pandas ``.loc`` (ref ``select.py:300-316``) — a pure range
      predicate on the order column (pushes down to the scan; no
      positional machinery).  Needs a monotonic unique order column,
      the same precondition pandas puts on label slices; step is not
      supported.

    Multiple selectors OR together, matching label-list union semantics.
    """
    if not args:
        return df

    def is_label_slice(a: Any) -> bool:
        return isinstance(a, slice) and any(
            x is not None and not isinstance(x, int)
            for x in (a.start, a.stop)
        )

    def is_pos(a: Any) -> bool:
        return (
            isinstance(a, (int, slice))
            and not isinstance(a, bool)
            and not is_label_slice(a)
            or (
                isinstance(a, (list, tuple))
                and bool(a)
                and all(isinstance(x, int) and not isinstance(x, bool) for x in a)
            )
        )

    label_slices = [a for a in args if is_label_slice(a)]
    pos_args = [a for a in args if is_pos(a)]
    pred_args = [a for a in args if not is_pos(a) and not is_label_slice(a)]
    conds = [F.expr(a) if isinstance(a, str) else a for a in pred_args]
    d = df
    for a in label_slices:
        if a.step is not None:
            raise ValueError(
                "select_rows: step is not supported in a label slice"
            )
        if ORDER_COL not in df.columns:
            raise KeyError(
                "select_rows: a label slice addresses the _row_order "
                "column, which this frame does not carry"
            )
        lab = F.col(ORDER_COL)
        c = F.lit(True)
        if a.start is not None:
            c = c & (lab >= F.lit(a.start))
        if a.stop is not None:
            c = c & (lab <= F.lit(a.stop))  # .loc slices include the stop
        conds.append(c)
    if pos_args:
        from pyjanitor_spark.utils.order import positional_index

        needs_n = any(
            (isinstance(a, int) and a < 0)
            or (
                isinstance(a, slice)
                and (
                    (a.start or 0) < 0
                    or (a.stop is None)
                    or (a.stop is not None and a.stop < 0)
                    or (a.step or 1) < 0
                )
            )
            or (isinstance(a, (list, tuple)) and any(x < 0 for x in a))
            for a in pos_args
        )
        n = None
        if needs_n:
            df, ((n,),) = probe(df, lambda f: f.agg(F.count(F.lit(1))))

        def fix(i: int) -> int:
            return i + n if i < 0 else i

        d = positional_index(df, "__srow")
        p = F.col("__srow")
        for a in pos_args:
            if isinstance(a, int):
                conds.append(p == fix(a))
            elif isinstance(a, (list, tuple)):
                conds.append(p.isin([fix(x) for x in a]))
            else:  # slice — normalize to ascending [start, stop) + step
                step = a.step or 1
                if step < 0:
                    # pandas iloc semantics: walk backwards from start
                    start = fix(a.start) if a.start is not None else n - 1
                    stop = fix(a.stop) if a.stop is not None else -1
                    c = (p <= start) & (p > stop) & (
                        (F.lit(start) - p) % F.lit(-step) == 0
                    )
                else:
                    start = fix(a.start) if a.start is not None else 0
                    stop = fix(a.stop) if a.stop is not None else n
                    c = (p >= start) & (p < stop) & (
                        (p - F.lit(start)) % F.lit(step) == 0
                    )
                conds.append(c)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    # invert keeps rows where the selector is NOT TRUE — including rows
    # where a predicate evaluates NULL, matching pandas boolean masks
    # (NaN comparisons are already False before the complement)
    out = d.filter(~F.coalesce(cond, F.lit(False)) if invert else cond)
    return out.drop("__srow") if pos_args else out


def get_columns(df: DataFrame, label: Any) -> DataFrame:
    """Select columns by any selector, usable mid-chain on grouped data in
    the reference (ref ``select.py:477-497``); here a plain projection."""
    return df.select(*resolve_columns(df, label))


def rename_column(df: DataFrame, old_column_name: str, new_column_name: str) -> DataFrame:
    """ref ``rename_columns.py:17-66``"""
    if old_column_name not in df.columns:
        raise KeyError(f"{old_column_name!r} not present")
    return df.withColumnRenamed(old_column_name, new_column_name)


def rename_columns(
    df: DataFrame,
    new_column_names: dict[str, str] | None = None,
    function: Callable[[str], str] | None = None,
) -> DataFrame:
    """Rename via mapping or a function over all names (ref
    ``rename_columns.py:68-135``)."""
    if new_column_names is None and function is None:
        raise ValueError("pass new_column_names or function")
    if new_column_names:
        missing = set(new_column_names) - set(df.columns)
        if missing:
            raise KeyError(f"columns not present: {sorted(missing)}")
        return df.withColumnsRenamed(new_column_names)
    return df.toDF(*[function(c) for c in df.columns])


def reorder_columns(df: DataFrame, column_order: Any) -> DataFrame:
    """Put given columns first, keep the rest in current order (ref
    ``reorder_columns.py:12-73``)."""
    front = resolve_columns(df, column_order)
    rest = [c for c in df.columns if c not in set(front)]
    return df.select(*front, *rest)


def move(
    df: DataFrame,
    source: Any,
    target: Any = None,
    position: str = "before",
    axis: int | None = None,
) -> DataFrame:
    """Move a column OR a block of rows before/after a target (ref
    ``move.py:13-133``).

    * ``axis=1`` (or a string ``source``): column reorder — a pure
      projection.
    * ``axis=0`` (or an int / list-of-int ``source``): ROW move by
      POSITION in the frame's current order (the reference moves by
      index label; positions are the ``_row_order``-contract analog).
      The moved block lands immediately before/after the ``target``
      position, preserving its internal order; the result is a
      range-sorted frame, so downstream positional verbs
      (``positional_index``, ``select_rows`` positions, ``row_to_names``)
      see the new order.  Negative positions, and a frame-edge move
      ``position='after'``, count from the end: the call then runs one
      bounded count job through :func:`~pyjanitor_spark.utils.pin.probe`
      (plus its pin's upstream stages on a replay-unstable input), and
      the output is built from that same run of the input.  Plan:
      ``positional_index`` + one total sort on the adjusted key — no
      single-task stage.

    ``axis=None`` infers: string source = column, int/list = rows.
    """
    if position not in ("before", "after"):
        raise ValueError(f"position must be 'before' or 'after', got {position!r}")
    row_move = axis == 0 or (
        axis is None
        and not isinstance(source, bool)
        and (
            isinstance(source, int)
            or (
                isinstance(source, (list, tuple))
                and source
                and all(
                    isinstance(s, int) and not isinstance(s, bool) for s in source
                )
            )
        )
    )
    if not row_move:
        # a block of columns moves together, preserving its requested
        # order (ref move.py:13-133 supports multi-column sources)
        srcs = (
            [source]
            if isinstance(source, str) and source in df.columns
            else resolve_columns(df, source)
        )
        block = set(srcs)
        cols = [c for c in df.columns if c not in block]
        if target is None:
            idx = 0 if position == "before" else len(cols)
        else:
            if not isinstance(target, str):
                raise TypeError("column move target must be a column name")
            t = cols.index(target)
            idx = t if position == "before" else t + 1
        cols[idx:idx] = srcs
        return df.select(*cols)

    from pyjanitor_spark.utils.order import positional_index

    srcs = [source] if isinstance(source, int) else sorted(set(source))
    if not srcs or not all(isinstance(s, int) for s in srcs):
        raise TypeError("row move needs an int or list-of-int source")
    if target is not None and not isinstance(target, int):
        raise TypeError("row move target must be an int position")
    needs_n = (
        any(s < 0 for s in srcs)
        or (target is not None and target < 0)
        or (target is None and position == "after")
    )
    n = None
    if needs_n:
        df, ((n,),) = probe(df, lambda f: f.agg(F.count(F.lit(1))))

    def fix(i: int) -> int:
        return i + n if i < 0 else i

    srcs = sorted({fix(s) for s in srcs})
    if target is None:
        # frame-edge move: there is no anchor ROW, so the block may
        # freely contain the edge position (e.g. move rows [0, 5] to
        # the front → [0, 5, 1, 2, ...]); the sort key is simply
        # before-everything / after-everything
        tkey = -0.5 if position == "before" else float(n) - 0.5
    else:
        t = fix(target)
        if t in srcs:
            raise ValueError("target position cannot be inside the moved block")
        tkey = float(t) - 0.5 if position == "before" else float(t) + 0.5
    d = positional_index(df, "__mvp")
    p = F.col("__mvp")
    key = F.when(p.isin(srcs), F.lit(tkey)).otherwise(p.cast("double"))
    # secondary key p keeps the moved block's internal order AND the
    # target row's relative position vs the block (t sorts after t-0.5,
    # before t+0.5)
    return d.orderBy(key.asc(), p.asc()).drop("__mvp")


def remove_columns(df: DataFrame, column_names: Any) -> DataFrame:
    """ref ``remove_columns.py:19-57``"""
    return df.drop(*resolve_columns(df, column_names))


def drop_duplicate_columns(df: DataFrame, column_name: str, nth_index: int = 0) -> DataFrame:
    """Among duplicate-NAMED columns drop the nth occurrence, keeping the
    rest (ref ``drop_duplicate_columns.py:10-64`` — ``nth_index`` selects
    which duplicate to REMOVE).  Spark allows duplicate names after
    joins; selection must be positional — and ``df[i]`` is NOT (PySpark
    resolves it via ``self.columns[item]``, i.e. by name, which throws
    AMBIGUOUS_REFERENCE exactly when this verb is needed), so we
    ``toDF`` through unique temporary names and alias back."""
    positions = [i for i, c in enumerate(df.columns) if c == column_name]
    if not positions:
        raise KeyError(column_name)
    removed = positions[nth_index]  # IndexError on out-of-range, like df.iloc
    names = df.columns
    tmp = [f"__ddc_{i}" for i in range(len(names))]
    keep_idx = [i for i in range(len(names)) if i != removed]
    return df.toDF(*tmp).select(*[F.col(tmp[i]).alias(names[i]) for i in keep_idx])


def drop_constant_columns(df: DataFrame) -> DataFrame:
    """Drop columns with a single unique value (ref
    ``drop_constant_columns.py``).  One bounded driver action through
    :func:`~pyjanitor_spark.utils.pin.probe`: a single agg pass
    computing min==max per column (null-aware) — scales as one
    map-reduce over the data, no per-column jobs — plus the pin's
    upstream stages on a replay-unstable input; the output is built
    from the same run of the input."""
    aggs = []
    for c in df.columns:
        aggs.append(F.min(F.col(c)).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"__max_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"__cnt_{c}"))
        aggs.append(F.count(F.lit(1)).alias(f"__tot_{c}"))
    df, (row,) = probe(df, lambda f: f.agg(*aggs))
    drop = []
    for c in df.columns:
        mn, mx, cnt, tot = (
            row[f"__min_{c}"],
            row[f"__max_{c}"],
            row[f"__cnt_{c}"],
            row[f"__tot_{c}"],
        )
        if tot == 0:
            continue
        # the reference keeps columns where nunique != 1, and nunique
        # ignores nulls: an all-null column stays (nunique 0), while one
        # non-null value repeated stays dropped even among nulls
        if cnt > 0 and mn == mx:
            drop.append(c)
    return df.drop(*drop) if drop else df


def limit_column_characters(df: DataFrame, column_length: int, col_separator: str = "_") -> DataFrame:
    """Truncate names to N chars, de-dup with numeric suffixes (ref
    ``limit_column_characters.py:10-92``).

    Documented divergence: the reference forwards negative lengths into
    a Python slice (``name[:-1]`` chops one char — an accident of its
    implementation); here non-positive lengths raise."""
    if column_length < 1:
        raise ValueError("column_length must be >= 1")
    truncated = [c[:column_length] for c in df.columns]
    seen: dict[str, int] = {}
    out = []
    for n in truncated:
        if n not in seen:
            seen[n] = 0
            out.append(n)
        else:
            seen[n] += 1
            out.append(f"{n}{col_separator}{seen[n]}")
    return df.toDF(*out)


def row_to_names(
    df: DataFrame,
    row_numbers: int | slice | list[int] = 0,
    remove_rows: bool = False,
    remove_rows_above: bool = False,
    reset_index: bool = False,
    order_by: str | None = None,
) -> DataFrame:
    """Promote row(s) to column names (ref ``row_to_names.py:16-96``).
    ``reset_index`` is accepted for API parity and is a no-op — Spark
    frames carry no index (the ``_row_order`` contract).

    ``row_numbers`` may be an int, a bounded non-negative slice (step
    must be None, like the reference, ``row_to_names.py:147-150``; start/
    stop must be concrete non-negative positions — an open or negative
    slice would force an unbounded collect at scale), or a list of ints.
    ``remove_rows_above`` is valid only with an int or slice — the
    reference raises for list-valued ``row_numbers``
    (``row_to_names.py:189-194``) because non-contiguous promoted rows
    have no well-defined "above".

    Needs an order column ("row k" is positional).  One bounded driver
    action collects just the designated row(s) (LIMIT k+1 under the order
    — cheap) through :func:`~pyjanitor_spark.utils.pin.probe`, plus the
    pin's upstream stages on a replay-unstable input; the output is
    built from the same run of the input."""
    if isinstance(row_numbers, slice):
        if row_numbers.step is not None:
            raise ValueError(
                "The step argument for slice is not supported in row_to_names."
            )
        start = 0 if row_numbers.start is None else row_numbers.start
        stop = row_numbers.stop
        if stop is None or start < 0 or stop < 0:
            raise ValueError(
                "row_to_names: slice start/stop must be concrete non-negative "
                "positions (an open or negative slice would require scanning "
                "the whole frame to resolve)"
            )
        rows = list(range(start, stop))
        if not rows:
            raise ValueError(f"row_to_names: empty slice {row_numbers!r}")
    elif isinstance(row_numbers, int):
        rows = [row_numbers]
    else:
        if remove_rows_above:
            # ref row_to_names.py:189-194 — contiguity is not guaranteed
            raise ValueError(
                "The remove_rows_above argument is applicable "
                "only if the row_numbers argument is an integer "
                "or a slice."
            )
        rows = list(row_numbers)
    k = max(rows) + 1

    def first_rows(f: DataFrame) -> DataFrame:
        f, ocol, _ = ensure_order_column(f, order_by)
        return f.orderBy(F.col(ocol)).limit(k)

    # the replay decision is taken on the caller's frame: an added
    # monotonically_increasing_id order is stable over a stable frame
    df, head = probe(df, first_rows)
    df, ocol, added = ensure_order_column(df, order_by)
    if len(head) <= max(rows):
        # same failure the reference's df.iloc[row] hits, named clearly
        raise ValueError(
            f"row_to_names: row {max(rows)} requested but the frame has "
            f"only {len(head)} row(s)"
        )
    # the order column is the pandas-index stand-in, and pandas does not
    # promote the index into a name — only DATA columns rename
    data_cols = [c for c in df.columns if c != ocol]
    picked = [head[r] for r in rows]
    if len(picked) == 1:
        names = [str(picked[0][c]) for c in data_cols]
    else:
        names = ["_".join(str(p[c]) for p in picked) for c in data_cols]
    out = df
    if remove_rows:
        # drop the promoted rows: they are the rows with order-rank in `rows`
        ranks = {head[r][ocol] for r in rows}
        out = out.filter(~F.col(ocol).isin(list(ranks)))
    if remove_rows_above:
        # drop strictly ABOVE the first promoted row; the promoted rows
        # themselves survive unless remove_rows also asked for them
        # (ref row_to_names.py:83-93)
        cutoff = head[min(rows)][ocol]
        out = out.filter(F.col(ocol) >= cutoff)
    mapping = dict(zip(data_cols, make_unique(names)))
    out = out.withColumnsRenamed({o: n for o, n in mapping.items() if o != n})
    if added:
        out = out.drop(ocol)
    return out


def collapse_levels(
    df: DataFrame, sep: str = "_", glue: str | None = None, axis: str = "columns"
) -> DataFrame:
    """Flatten 'MultiIndex' columns (ref ``collapse_levels.py:11-155``).
    Only ``axis='columns'`` exists on Spark (no row MultiIndex).

    MultiIndex columns map to ``StructType`` columns in our model
    (SURVEY.md §1.4), so this flattens every struct column into one
    output column per field, named ``f"{col}{sep}{field}"`` (or
    ``glue.format(...)`` with ``{0}``/``{1}`` placeholders).  Non-struct
    columns pass through — a frame that never went through
    :func:`explode_index` is returned unchanged, matching the
    reference's single-level no-op."""
    from pyspark.sql.types import StructType

    out: list[F.Column] = []
    changed = False
    for field in df.schema.fields:
        if isinstance(field.dataType, StructType):
            changed = True
            for sub in field.dataType.fieldNames():
                name = (
                    glue.format(field.name, sub)
                    if glue is not None
                    else f"{field.name}{sep}{sub}"
                )
                out.append(F.col(field.name)[sub].alias(name))
        else:
            out.append(F.col(field.name))
    return df.select(*out) if changed else df


def explode_index(
    df: DataFrame,
    names_sep: str | None = None,
    names_pattern: str | None = None,
    axis: str = "columns",
    level_names: list | None = None,
) -> DataFrame:
    """Split flat column names into 'MultiIndex' columns (ref
    ``explode_index.py:15-112``).

    MultiIndex columns map to ``StructType`` columns (SURVEY.md §1.4):
    ``max_speed_mean`` / ``max_speed_median`` with ``names_sep='_'``
    become one struct column ``max`` with fields ``speed_mean`` and
    ``speed_median`` (we split on the FIRST separator occurrence — two
    levels, the Spark-natural nesting depth); columns whose name has no
    separator pass through unchanged.  ``names_pattern`` uses the first
    regex group as the struct name and the second as the field name.  :func:`collapse_levels` is the exact inverse.
    ``level_names`` is accepted for signature parity (struct columns
    carry no axis-level names).
    """
    import re as _re

    if axis != "columns":
        raise ValueError(
            "axis='index' requires a row index; Spark rows are unlabelled "
            "(SURVEY.md §1.4) — only axis='columns' is supported"
        )
    if (names_sep is None) == (names_pattern is None):
        raise ValueError("provide exactly one of names_sep or names_pattern")

    groups: dict[str, list[tuple[str, str]]] = {}
    passthrough: dict[str, None] = {}
    order: list[tuple[str, bool]] = []  # (name, is_struct) in first-seen order
    for c in df.columns:
        if names_sep is not None:
            parts = c.split(names_sep, 1)
            head, rest = (parts[0], parts[1]) if len(parts) == 2 else (None, None)
        else:
            m = _re.search(names_pattern, c)
            if m and len(m.groups()) >= 2 and m.group(1) and m.group(2):
                head, rest = m.group(1), m.group(2)
            else:
                head, rest = None, None
        if head is None:
            passthrough[c] = None
            order.append((c, False))
        else:
            if head not in groups:
                order.append((head, True))
            groups.setdefault(head, []).append((c, rest))

    if not groups:
        return df
    out: list[F.Column] = []
    for name, is_struct in order:
        if not is_struct:
            out.append(F.col(name))
        else:
            fields = [F.col(src).alias(fld) for src, fld in groups[name]]
            out.append(F.struct(*fields).alias(name))
    return df.select(*out)


def change_index_dtype(df: DataFrame, dtype: str, axis: str = "index") -> DataFrame:
    """Cast the row-order column (ref ``change_index_dtype.py:14-...``).

    The pandas row index maps to our explicit order column
    (``ORDER_COL``, SURVEY.md §1.4); this casts it.  Raises if the frame
    has no order column — there is no implicit index to cast on Spark.
    """
    from pyjanitor_spark.utils.order import ORDER_COL

    if axis != "index":
        raise ValueError("only axis='index' exists; column dtypes use change_type")
    if ORDER_COL not in df.columns:
        raise ValueError(
            f"no explicit order column {ORDER_COL!r}; Spark frames have no "
            "implicit row index (SURVEY.md §1.4) — add one with "
            "ensure_order_column first"
        )
    return df.withColumn(ORDER_COL, F.col(ORDER_COL).cast(dtype))


def also(df: DataFrame, func: Callable[[DataFrame], Any], *args: Any, **kwargs: Any) -> DataFrame:
    """Call a side-effect function, return df unchanged (ref ``also.py:10-48``)."""
    func(df, *args, **kwargs)
    return df


def then(df: DataFrame, func: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Apply fn(df)->df (ref ``then.py:16-49``; == DataFrame.transform)."""
    return func(df)


def get_features_targets(
    df: DataFrame,
    target_column_names: Any,
    feature_column_names: Any | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split into (features, targets) frames (ref ``ml.py:16-75``)."""
    targets = resolve_columns(df, target_column_names)
    if feature_column_names is not None:
        feats = resolve_columns(df, feature_column_names)
    else:
        tset = set(targets)
        feats = [c for c in df.columns if c not in tset]
    return df.select(*feats), df.select(*targets)
