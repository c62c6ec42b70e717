"""Reshape verbs: pivot_longer (tidyr unpivot) and pivot_wider.

``pivot_longer`` follows the reference's two-stage design (SURVEY.md §3
entry 3): (a) a pure-Python SPEC BUILDER over ``df.columns`` — regex /
separator matching, ``.value`` placeholders (ref ``pivot.py:1044-1306``)
— producing a spec table mapping each old column to its label values and
target value-column; (b) a Spark EXECUTOR compiling the spec to a single
``stack(n, ...)`` expression — one narrow JVM-side generator, no shuffle,
no UDF; output rows = n_labels × input rows, streamed.

``pivot_wider`` compiles to ``groupBy(index).pivot(names, values).agg``
with the pivot label list learned in one bounded distinct action
(schema-from-data, SURVEY.md §4) so Spark plans a single-pass pivot
aggregate; the action and the pivot read one pinned per-cell
pre-aggregate, so the upstream runs once.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyjanitor_spark.utils.local import local_frame
from pyjanitor_spark.utils.pin import probe
from pyjanitor_spark.utils.select import resolve_columns

__all__ = ["pivot_longer", "pivot_longer_spec", "pivot_wider"]


# ---------------------------------------------------------------- spec

def _build_spec(
    column_names: list[str],
    names_to: list[str],
    names_sep: str | None,
    names_pattern: str | list[str] | None,
    values_to: str | list[str],
) -> list[dict]:
    """Spec rows: {'.name': old_col, '.value': target_value_col,
    <label_col>: label_value, ...} (ref spec builders
    ``pivot.py:1044-1306``, re-derived from documented semantics)."""
    spec: list[dict] = []
    if isinstance(names_pattern, (list, tuple)):
        # positional pairing: columns matching pattern[i] belong to group
        # i; the k-th match of each group pairs into output row k
        groups: list[list[str]] = [[] for _ in names_pattern]
        for c in column_names:
            for i, pat in enumerate(names_pattern):
                if re.search(pat, c):
                    groups[i].append(c)
                    break
        width = max(len(g) for g in groups)
        if isinstance(values_to, (list, tuple)):
            # multiple values_to (ref pivot.py:258-313, incl. the nested
            # dict form): names_to[i] becomes a LABEL column carrying the
            # matched original column name; values_to[i] carries values
            if len(values_to) != len(names_to):
                raise ValueError("values_to list must align with names_to")
            for k in range(width):
                for i, (lname, vname) in enumerate(zip(names_to, values_to)):
                    if k < len(groups[i]):
                        spec.append(
                            {
                                ".name": groups[i][k],
                                ".value": vname,
                                lname: groups[i][k],
                                "__row": k,
                            }
                        )
            return spec
        # single values_to: names_to[i] IS the value-column name
        for k in range(width):
            for i, vname in enumerate(names_to):
                if k < len(groups[i]):
                    spec.append({".name": groups[i][k], ".value": vname, "__row": k})
        return spec
    for c in column_names:
        if names_sep is not None:
            parts = re.split(names_sep, c)
        elif names_pattern is not None:
            m = re.search(names_pattern, c)
            if not m:
                continue
            parts = list(m.groups()) if m.groups() else [m.group(0)]
        else:
            parts = [c]
        if len(parts) != len(names_to):
            raise ValueError(
                f"column {c!r} split into {len(parts)} parts; names_to has {len(names_to)}"
            )
        row: dict = {".name": c}
        value_name = values_to
        for part, dest in zip(parts, names_to):
            if dest == ".value":
                value_name = part if row.get("__v") is None else row["__v"] + part
                row["__v"] = value_name
            else:
                row[dest] = part
        row[".value"] = value_name
        row.pop("__v", None)
        spec.append(row)
    return spec


def _common_type(df: DataFrame, cols: list[str]) -> str | None:
    """Least-surprising common cast for a stack value group."""
    types = {dict(df.dtypes)[c] for c in cols}
    if len(types) == 1:
        return None
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    if types <= numeric:
        return "double"
    return "string"


def _execute_spec(
    df: DataFrame,
    spec: list[dict],
    index: list[str],
    dropna: bool,
    names_transform: dict[str, str] | None,
) -> DataFrame:
    # label columns = first-seen-order union over ALL spec rows (rows of
    # a multi-values_to spec each carry only their own group's label)
    label_cols: list[str] = []
    for r in spec:
        for k in r:
            if k not in (".name", ".value", "__row") and k not in label_cols:
                label_cols.append(k)

    # no label columns at all (names_to = just ".value"): pair the k-th
    # column of each value group positionally (the reference's implicit
    # cumcount index — pivot.py .value-only path), else every spec row
    # would collapse into a single group
    if not label_cols and spec and "__row" not in spec[0]:
        counters: dict[str, int] = {}
        for r in spec:
            k = counters.get(r[".value"], 0)
            counters[r[".value"]] = k + 1
            r["__row"] = k

    # group spec rows: one stack row per distinct label tuple (or __row id)
    def gkey(r):
        return r.get("__row", tuple(r.get(lc) for lc in label_cols))

    groups: dict[Any, dict] = {}
    order: list[Any] = []
    for r in spec:
        k = gkey(r)
        if k not in groups:
            groups[k] = {"labels": {lc: None for lc in label_cols}, "vals": {}}
            order.append(k)
        for lc in label_cols:
            if r.get(lc) is not None:
                groups[k]["labels"][lc] = r[lc]
        groups[k]["vals"][r[".value"]] = r[".name"]
    value_names: list[str] = []
    for r in spec:
        if r[".value"] not in value_names:
            value_names.append(r[".value"])
    casts = {
        v: _common_type(df, [r[".name"] for r in spec if r[".value"] == v])
        for v in value_names
    }
    # one stack() expression: n label-tuples, each row emits label literals
    # + the mapped source columns (NULL where a group lacks a column)
    parts: list[str] = []
    for k in order:
        g = groups[k]
        for lc in label_cols:
            v = g["labels"][lc]
            parts.append("NULL" if v is None else "'" + str(v).replace("'", "\\'") + "'")
        for v in value_names:
            src = g["vals"].get(v)
            if src is None:
                # NULL slot typed as the VALUE GROUP's own dtype (ragged
                # multi-.value specs have per-group types, not row 0's)
                group_type = casts[v] or next(
                    dict(df.dtypes)[r[".name"]] for r in spec if r[".value"] == v
                )
                parts.append(f"CAST(NULL AS {group_type})")
            elif casts[v]:
                parts.append(f"CAST(`{src}` AS {casts[v]})")
            else:
                parts.append(f"`{src}`")
    out_cols = label_cols + value_names
    stack_expr = (
        f"stack({len(order)}, {', '.join(parts)}) as ({', '.join('`'+c+'`' for c in out_cols)})"
    )
    out = df.selectExpr(*[f"`{c}`" for c in index], stack_expr)
    if dropna:
        pred = F.lit(False)
        for v in value_names:
            pred = pred | F.col(v).isNotNull()
        out = out.filter(pred)
    if names_transform:
        out = out.withColumns(
            {c: F.col(c).cast(t) for c, t in names_transform.items() if c in out.columns}
        )
    return out


def pivot_longer(
    df: DataFrame,
    index: Any | None = None,
    column_names: Any | None = None,
    names_to: str | list[str] | None = None,
    values_to: str | list[str] = "value",
    names_sep: str | None = None,
    names_pattern: str | list[str] | dict | None = None,
    names_transform: dict[str, str] | None = None,
    dropna: bool = False,
    sort_by_appearance: bool = False,
    column_level: int | str | None = None,
    ignore_index: bool = True,
) -> DataFrame:
    """tidyr-style unpivot (ref ``pivot.py:26-410``): ``names_to`` may
    contain ``.value`` placeholders; ``names_sep`` or ``names_pattern``
    split old column names into the new label values.

    ``names_pattern`` forms (ref ``pivot.py:225-313``):

    * single regex (with groups) — labels from the groups;
    * list of regexes — positional pairing, ``names_to[i]`` names group
      i's VALUE column (or, with a list ``values_to``, names_to[i] is a
      LABEL column carrying the matched column name and ``values_to[i]``
      the value column);
    * flat dict ``{value_col: regex}`` — shorthand for the list form with
      ``names_to`` taken from the keys;
    * nested dict ``{label_col: {value_col: regex}}`` — outer keys →
      names_to, inner keys → values_to.

    ``sort_by_appearance``: Spark's ``stack`` already emits each input
    row's unpivoted entries consecutively (appearance order) and frames
    carry no global order; when a ``_row_order`` column is present the
    result is additionally sorted by it.  ``column_level`` selects a
    MultiIndex header level (``pivot.py:32``) — flat names are the only
    Spark column model, so any non-default value raises;
    ``ignore_index`` is pandas row-index bookkeeping, accepted as a
    no-op (rows are unlabelled here)."""
    if column_level is not None and column_level != 0:
        raise ValueError(
            "column_level refers to MultiIndex column levels; Spark "
            "column names are flat (use collapse_levels first)"
        )
    if names_sep is not None and names_pattern is not None:
        raise ValueError(
            "Only one of names_pattern or names_sep should be provided."
        )
    if isinstance(names_pattern, dict) and names_to is not None:
        # ref pivot.py:765: the dict keys ARE the names
        raise ValueError(
            "names_to should be None when names_pattern is a dictionary"
        )
    if names_to is None:
        names_to = "variable"
    nt = [names_to] if isinstance(names_to, str) else list(names_to)
    # repeated .value is legal (the groups concatenate); only real
    # label duplicates are errors
    non_value = [x for x in nt if x != ".value"]
    if len(set(non_value)) != len(non_value):
        raise ValueError("names_to contains duplicate labels.")
    if isinstance(values_to, str) and ".value" not in nt:
        if values_to in nt:
            raise ValueError(f"values_to {values_to!r} is also in names_to.")
        if values_to in df.columns:
            raise ValueError(
                f"values_to {values_to!r} already exists as a column name."
            )
    if index is not None:
        idx = resolve_columns(df, index)
        cols = (
            resolve_columns(df, column_names)
            if column_names is not None
            else [c for c in df.columns if c not in set(idx)]
        )
    elif column_names is not None:
        cols = resolve_columns(df, column_names)
        idx = [c for c in df.columns if c not in set(cols)]
    else:
        # neither given: melt every column, like the reference (its
        # pandas row index survives as the only id; here the _row_order
        # contract column, when present, plays that part)
        idx = [c for c in df.columns if c == "_row_order"]
        cols = [c for c in df.columns if c != "_row_order"]
    if isinstance(names_pattern, dict):
        vals = list(names_pattern.values())
        if vals and all(isinstance(v, dict) for v in vals):
            # nested dict: outer keys -> names_to, inner -> values_to
            nt = list(names_pattern.keys())
            values_to = [next(iter(v.keys())) for v in vals]
            names_pattern = [next(iter(v.values())) for v in vals]
        else:
            # flat dict: keys name the value columns directly
            nt = list(names_pattern.keys())
            names_pattern = vals
    else:
        nt = [names_to] if isinstance(names_to, str) else list(names_to)
    if isinstance(values_to, (list, tuple)) and not isinstance(
        names_pattern, (list, tuple)
    ):
        raise TypeError(
            "values_to can be a list/tuple only if names_pattern is a list/tuple"
        )
    spec = _build_spec(cols, nt, names_sep, names_pattern, values_to)
    if not spec:
        raise ValueError("no columns matched the pivot_longer spec")
    out = _execute_spec(df, spec, idx, dropna, names_transform)
    if sort_by_appearance and "_row_order" in out.columns:
        out = out.orderBy("_row_order")
    return out


def pivot_longer_spec(
    df: DataFrame,
    spec: list[dict],
    index: Any | None = None,
    dropna: bool = False,
    names_transform: dict[str, str] | None = None,
) -> DataFrame:
    """Escape hatch: user-supplied spec rows ``{'.name': old_column,
    '.value': value_column, <label>: value, ...}`` (ref
    ``pivot.py:413-553``)."""
    used = {r[".name"] for r in spec}
    idx = (
        resolve_columns(df, index)
        if index is not None
        else [c for c in df.columns if c not in used]
    )
    for r in spec:
        r.setdefault(".value", "value")
    return _execute_spec(df, spec, idx, dropna, names_transform)


# ---------------------------------------------------------------- wider

def pivot_wider(
    df: DataFrame,
    index: Any | None = None,
    names_from: Any = None,
    values_from: Any = None,
    names_sep: str = "_",
    names_glue: str | None = None,
    flatten_levels: bool = True,
    reset_index: bool = True,
    names_expand: bool | dict = False,
    index_expand: bool | dict = False,
    fill_value: Any | None = None,
) -> DataFrame:
    """long -> wide (ref ``pivot.py:1865-2201``): groupBy(index)
    .pivot(names_from, <learned labels>).agg(first(values_from)).

    (index, names_from) combinations are unique in the reference's
    contract, so ``first()`` is exact.  The input is first reduced to
    one row per (index, names_from) cell,
    ``groupBy(index, names_from).agg(first(v) for v in values_from)``;
    the label list and the pivot both read that frame.

    Actions: ONE, at call time — a ``collect`` of the distinct
    names_from tuples of the cell frame (``utils.pin.probe``), which
    yields the pivot labels and the ``names_expand`` levels.  The cell
    frame always holds an aggregate, so the probe pins it: the call
    runs the input's shuffle stages and the cell aggregate (see
    ``utils.pin.pin``), and the output's pivot, ``index_expand`` grid
    and the caller's sink read the stored cells instead of re-running
    the upstream.  ``names_expand`` given as a dict that lists every
    names_from column needs no data to plan: the call then runs no job
    and the output reads the input lazily.

    ``names_expand`` (ref ``pivot.py:2116-2147``): produce a column for
    EVERY combination of the names_from levels — the cartesian product of
    per-column level lists — not just observed combinations; absent
    combinations come out all-NULL (or ``fill_value``).  ``index_expand``
    is the row-side analog: one output row per combination of index
    levels.  Levels are the observed distincts, or pass a dict
    ``{column: [categories]}`` to supply explicit category lists (the
    Spark stand-in for the reference's CategoricalDtype categories).

    ``flatten_levels=False`` (MultiIndex output columns,
    ``pivot.py:1870``) has no Spark representation — flat names are the
    only column model — so it raises; ``reset_index`` is pandas index
    bookkeeping, accepted as a no-op (the index columns are already
    ordinary columns here)."""
    if not flatten_levels:
        raise ValueError(
            "flatten_levels=False (MultiIndex columns) has no Spark "
            "representation; column names are always flat"
        )
    if names_from is None:
        raise ValueError("names_from is required.")
    if values_from is None:
        raise ValueError("values_from is required.")
    names = resolve_columns(df, names_from)
    values = resolve_columns(df, values_from)
    if index is None:
        # tidyr's id_cols default: everything not in names_from/values_from
        # (the reference's index=None leans on the pandas row index, which
        # Spark frames don't have)
        taken = set(names) | set(values)
        idx = [c for c in df.columns if c not in taken]
        if not idx:
            raise ValueError(
                "index=None needs at least one remaining column to group "
                "by; Spark frames have no row index to fall back on"
            )
    else:
        idx = resolve_columns(df, index)
    # one row per (index, names) cell; the names are cast to string, the
    # label type, before grouping, so cells split exactly as labels do
    ncols = [f"__n{i}" for i in range(len(names))]
    cells = df.groupBy(
        *idx, *[F.col(c).cast("string").alias(n) for c, n in zip(names, ncols)]
    ).agg(*[F.first(F.col(v), ignorenulls=False).alias(f"__v{i}") for i, v in enumerate(values)])
    if len(names) == 1:
        cells = cells.withColumn("__pname", F.col(ncols[0]))
    else:
        cells = cells.withColumn("__pname", F.concat_ws(names_sep, *ncols))
    explicit = names_expand if isinstance(names_expand, dict) else {}
    if names_expand and all(c in explicit for c in names):
        frame, rows = cells, []
    else:
        frame, rows = probe(cells, lambda f: f.select(*ncols, "__pname").distinct())
    if names_expand:
        from itertools import product

        per_col = [
            [str(v) for v in explicit[c]] if c in explicit
            else sorted({r[i] for r in rows} - {None})
            for i, c in enumerate(names)
        ]
        labels = [names_sep.join(combo) for combo in product(*per_col)]
    else:
        # Spark's ascending string order: NULL first, then code points
        labels = sorted({r["__pname"] for r in rows}, key=lambda s: (s is not None, s or ""))
    if len(values) == 1:
        agg = [F.first(F.col("__v0"), ignorenulls=False).alias("__v")]
    else:
        agg = [F.first(F.col(f"__v{i}"), ignorenulls=False).alias(v) for i, v in enumerate(values)]
    out = frame.groupBy(*idx).pivot("__pname", labels).agg(*agg)
    # normalize output names: single value -> bare label; multi-value ->
    # value<sep>label (pandas MultiIndex flattening order)
    renames: dict[str, str] = {}
    multi_order: dict[tuple, str] = {}
    for c in out.columns:
        if c in idx:
            continue
        if len(values) == 1:
            label = c[:-4] if c.endswith("___v") else c
            new = label
            if names_glue:
                new = names_glue.format(**_glue_args(names, label, names_sep, values[0]))
            renames[c] = new
        else:
            # spark names these "<label>_<valuealias>"
            for v in values:
                if c.endswith(f"_{v}"):
                    label = c[: -(len(v) + 1)]
                    new = f"{v}{names_sep}{label}"
                    if names_glue:
                        new = names_glue.format(
                            **_glue_args(names, label, names_sep, v)
                        )
                    renames[c] = new
                    multi_order[(v, label)] = new
                    break
    out = out.withColumnsRenamed(renames)
    if len(values) > 1:
        # pandas flattens the (value, label) MultiIndex VALUES-major
        # (v1|a, v1|b, v2|a, v2|b); Spark's pivot emits labels-major —
        # reorder to match
        ordered = [c for c in out.columns if c in set(idx)] + [
            multi_order[(v, lab)]
            for v in values
            for lab in labels
            if (v, lab) in multi_order
        ]
        if sorted(ordered) == sorted(out.columns):
            out = out.select(*ordered)
    if index_expand:
        # row-side expansion: cross join of per-column index levels (tiny
        # frames, broadcast; observed levels come from the cell frame),
        # left-joined to the pivot result — absent combinations appear as
        # all-NULL rows
        types = dict(df.dtypes)
        grid: DataFrame | None = None
        for c in idx:
            if isinstance(index_expand, dict) and c in index_expand:
                lv = local_frame(
                    df.sparkSession,
                    [(v,) for v in index_expand[c]],
                    f"`{c}` string",
                ).select(F.col(c).cast(types[c]))
            else:
                lv = frame.select(c).distinct()
            grid = lv if grid is None else grid.crossJoin(lv)
        # null-SAFE equality: distinct() keeps a NULL level, and a plain
        # name-list join (null != null) would silently drop pivot rows
        # whose index contains NULL
        cond = None
        for c in idx:
            e = grid[c].eqNullSafe(out[c])
            cond = e if cond is None else cond & e
        out = grid.join(out, cond, "left").select(
            *[grid[c] for c in idx],
            *[out[c] for c in out.columns if c not in idx],
        )
    if fill_value is not None:
        out = out.na.fill(fill_value, subset=[c for c in out.columns if c not in idx])
    return out


def _glue_args(names: list[str], label: str, names_sep: str, value_name: str) -> dict:
    parts = label.split(names_sep) if len(names) > 1 else [label]
    args = {n: p for n, p in zip(names, parts)}
    args["_value"] = value_name
    args.setdefault("value", value_name)
    return args
