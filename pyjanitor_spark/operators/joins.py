"""conditional_join — equi / non-equi / mixed joins.

Reference semantics: ``janitor/functions/conditional_join.py:30-283``
(conditions ``(left_col, right_col, op)`` AND-combined, op ∈
``==,!=,>,>=,<,<=``; ``how`` ∈ inner/left/right/outer; ``keep`` ∈
all/first/last; ``indicator`` flag).  The reference's physical layer
(binary-search kernels, IEJoin regions, numba JIT —
``functions/utils.py:300-684``, ``_numba.py``) is NOT ported: on Spark,

* mixed equi+non-equi → ``df.join(right, on=expr, how)``: Catalyst
  extracts the equality keys into a hash/sort-merge join and applies the
  inequalities as join residuals — the scalable plan.
* pure non-equi RANGE conditions → Spark's default is a nested-loop
  (broadcast) join, O(n·m) at scale.  ``use_bucket=True`` activates the
  interval-bucketization rewrite (equi-join on overlapping bucket ids +
  residual filter) — the same idea as the reference's sort+search range
  optimization and Databricks' RANGE_JOIN hint, expressed as a plain
  DataFrame composition so Catalyst still handles the physical join.
* ``keep='first'/'last'`` → ``row_number()`` over a per-left-row window
  ordered by the right condition columns, then by every remaining right
  data column — a content-based total order, so the pick is stable
  across partition layouts and AQE reruns (documented divergence from
  the reference's right-row-position order, which has no distributed
  meaning).  Unmatched right rows under ``how='right'/'outer'`` are
  always preserved.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import probe, share

__all__ = ["conditional_join", "get_join_indices", "asof_join"]

_OPS = {"==", "!=", ">", ">=", "<", "<="}
_L_ID = "__cj_left_id"
_R_ID = "__cj_right_id"


def _build_condition(lcol: Column, rcol: Column, op: str) -> Column:
    if op == "==":
        # reference parity (pandas merge): null KEYS match null keys —
        # pd.merge pairs NaN with NaN, so the reference's equi
        # conditions are null-safe.  eqNullSafe still plans as a hash
        # join on the key.
        return lcol.eqNullSafe(rcol)
    if op == "!=":
        # reference parity (pandas `!=`): a null compares UNEQUAL to
        # everything, including another null — so null rows match every
        # row under `!=`.  Spark's `!=` yields NULL (no match) there;
        # spell out the three-way truth table instead.
        return lcol.isNull() | rcol.isNull() | (lcol != rcol)
    if op == ">":
        return lcol > rcol
    if op == ">=":
        return lcol >= rcol
    if op == "<":
        return lcol < rcol
    if op == "<=":
        return lcol <= rcol
    raise ValueError(f"unsupported operator {op!r}")


def _num_cast(col: "F.Column", dtype: str) -> "F.Column":
    """Order-preserving numeric view for bucketization.  DATE and
    TIMESTAMP_NTZ cannot cast to double directly (ANSI suggests
    UNIX_DATE); route every datetime type through timestamp (epoch
    seconds) — both operands shift identically, so bucket membership
    and ``asof_join``'s tolerance deltas are exact."""
    if dtype.startswith(("date", "timestamp")):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


_BUCKETABLE = ("byte", "short", "integer", "long", "float", "double", "decimal",
               "timestamp", "timestamp_ntz", "date", "boolean")


def _band_column(df: DataFrame, right: DataFrame, conditions) -> str | None:
    """The left point column a pure non-equi join bucketizes on, or None
    when the shape doesn't fit (no range condition, several left
    columns, or a non-bucketizable dtype) and the plain join runs.

    Bucketization maps values onto the NUMERIC line, which is only
    order-isomorphic for numeric / datetime / boolean columns — a
    lexicographic string range ("10" < "2") disagrees with its numeric
    cast, and under ANSI mode the cast on a non-numeric string THROWS."""
    range_ops = [c for c in conditions if c[2] in (">", ">=", "<", "<=")]
    lcols = {c[0] for c in range_ops}
    if not range_ops or len(lcols) != 1:
        return None
    ltypes = {f.name: f.dataType.typeName() for f in df.schema.fields}
    rtypes = {f.name: f.dataType.typeName() for f in right.schema.fields}
    for lc, rc, _op in range_ops:
        if not (ltypes[lc].startswith(_BUCKETABLE) and rtypes[rc].startswith(_BUCKETABLE)):
            return None
    return next(iter(lcols))


def _left_range(
    df: DataFrame, lo_col: str
) -> tuple[DataFrame, tuple[float, float] | None]:
    """Min/max of the left point column, probed with ``utils.pin.probe``:
    returns the frame the join must read (``df``, or its pin when ``df``
    does not replay identically) and the range, None when the column is
    all-NULL.  One bounded agg action (parquet footer stats make it a
    metadata scan on unfiltered reads)."""
    num = _num_cast(F.col(lo_col), df.schema[lo_col].dataType.typeName())
    frame, (row,) = probe(
        df, lambda f: f.agg(F.min(num).alias("mn"), F.max(num).alias("mx"))
    )
    if row["mn"] is None or row["mx"] is None:
        return frame, None
    return frame, (float(row["mn"]), float(row["mx"]))


def conditional_join(
    df: DataFrame,
    right: DataFrame,
    *conditions: tuple[str, str, str],
    how: str = "inner",
    df_columns: Any | None = None,
    right_columns: Any | None = None,
    keep: str = "all",
    indicator: bool | str = False,
    use_bucket: bool | None = None,
    bucket_width: float | None = None,
    use_numba: bool = False,
    force: bool = False,
) -> DataFrame:
    """Join on arbitrary AND-combined comparison conditions.

    ``use_bucket=None`` (default) auto-enables the interval-bucketized
    rewrite for PURE range joins (no equality condition): Spark's native
    plan for those is a nested loop — O(n·m) — which is only viable when
    one side broadcasts.  Pass ``use_bucket=False`` to force the native
    plan (can win when the right side is tiny), ``True`` to force
    bucketization.  Mixed equi+non-equi joins always use the native
    hash/sort-merge join on the equality keys.

    Jobs at call time (the lazy contract's exceptions):

    * the bucketized rewrite runs one action, a ``collect`` of the left
      point column's min/max (``utils.pin.probe``) that sizes the
      buckets.  When the left side does not replay identically (a
      shuffle, join or nondeterministic expression upstream) the probe
      pins it first, so the call also runs the left upstream's shuffle
      and broadcast stages (adaptive query execution materialises them;
      see ``utils.pin.pin``), and the join reads the stored rows: the
      probe and the output share one run of the left upstream.
    * with ``how`` right/outer/full, the bucketized outer patch-up
      reads the right side twice, so a right side that does not replay
      identically is pinned too, and its row ids agree between the
      reads; that pin runs the right upstream's stages.

    Any other call runs no job.

    Colliding right-side column names are prefixed ``right_`` in the
    output (flat-name stand-in for the reference's left/right
    MultiIndex header, ``conditional_join.py:1151-1171``).

    ``df_columns``/``right_columns`` select each side's OUTPUT columns
    (any select syntax; conditions may reference unselected columns —
    they join and are then projected away).  ``use_numba``/``force``
    (ref ``conditional_join.py:38-40``) pick pandas physical strategies;
    Catalyst owns that choice here, so they are accepted no-ops.

    Documented supersets: (1) equality-ONLY condition lists work
    (null-safe hash join, same '==' null-pairing as the mixed form); the
    reference rejects them outright ("Equality only joins are not
    supported") and redirects to pd.merge.  (2) cross-numeric-dtype
    conditions work (int vs double compares exactly under Spark's type
    coercion); the reference's search kernels demand identical dtypes
    and raise TypeError (``conditional_join.py:423-444``)."""
    if not conditions:
        raise ValueError("provide at least one (left, right, op) condition")
    if how not in ("inner", "left", "right", "outer", "full"):
        raise ValueError(f"bad how {how!r}")
    if keep not in ("all", "first", "last"):
        raise ValueError(f"bad keep {keep!r}")
    for lc, rc, op in conditions:
        if op not in _OPS:
            raise ValueError(f"unsupported operator {op!r}")
        if lc not in df.columns:
            raise KeyError(f"left column {lc!r} missing")
        if rc not in right.columns:
            raise KeyError(f"right column {rc!r} missing")

    eq_conds = [c for c in conditions if c[2] == "=="]
    if use_bucket is None:
        # pure non-equi join: Catalyst would plan a nested loop — default
        # to the scalable bucketized rewrite
        use_bucket = not eq_conds
    # keep + right/outer rebuilds the right-null completion from the
    # POST-keep matches (reference: _keep_output runs on the matched
    # index arrays before the null completion), so it needs right ids
    keep_right_rebuild = keep != "all" and how in ("right", "outer", "full")
    # pure range join: the left point column's min/max is probed, and
    # the join reads the probe's frame (the pin of a left side that
    # does not replay identically), so both share one run of the
    # upstream.  The rule is decided on the caller's input: the id
    # column added below is itself nondeterministic.
    rng = None
    band = _band_column(df, right, conditions) if use_bucket and not eq_conds else None
    if band is not None:
        df, rng = _left_range(df, band)
    bucketized = rng is not None
    # the outer patch-up re-reads the right side too, and its row ids
    # must agree between the reads
    if bucketized and how in ("right", "outer", "full"):
        right = share(right)
    need_ids = keep != "all" or bool(indicator) or (bucketized and how != "inner")
    left = df.withColumn(_L_ID, F.monotonically_increasing_id()) if need_ids else df
    rgt = (
        right.withColumn(_R_ID, F.monotonically_increasing_id())
        if (bool(indicator) or keep_right_rebuild or (bucketized and how != "inner"))
        else right
    )

    # rename colliding right columns up front so the join output is flat
    collisions = set(left.columns) & set(rgt.columns)
    rmap = {c: f"right_{c}" for c in collisions}
    rgt = rgt.withColumnsRenamed(rmap)

    def rname(c: str) -> str:
        return rmap.get(c, c)

    pred = None
    for lc, rc, op in conditions:
        c = _build_condition(left[lc], rgt[rname(rc)], op)
        pred = c if pred is None else (pred & c)

    # keep + right/outer: join WITHOUT the right-null completion ('inner',
    # or 'left' so outer keeps its unmatched-left rows — those are
    # unaffected by keep), pick per left row, then append a null-left row
    # for every right row absent from the kept picks (reference
    # semantics: keep='last' can orphan right rows that only matched as
    # non-picked candidates, and they must resurface as right_only rows)
    join_how = ("left" if how in ("outer", "full") else "inner") if keep_right_rebuild else how
    if bucketized:
        joined = _bucketized_join(
            left, rgt, rname, band, rng, conditions, pred, join_how, bucket_width
        )
    else:
        joined = left.join(rgt, on=pred, how="full" if join_how == "outer" else join_how)

    if keep != "all":
        # order by the right condition columns, then a SINGLE md5 of the
        # remaining right columns (json-serialized struct) — a content-
        # based tie-break, so right rows tying on the condition values
        # cannot flip across partition layouts or AQE reruns, with a
        # comparator bounded at 32 bytes however wide the right table is
        # (the old key sorted every remaining column).  Rows still tied
        # after that are identical, so either pick is the same output;
        # to_json also covers map columns, which aren't directly orderable.
        cond_rnames = [rname(rc) for _, rc, _ in conditions]
        rest = sorted(set(rname(c) for c in right.columns) - set(cond_rnames))
        tie = (
            [F.md5(F.to_json(F.struct(*[F.col(c) for c in rest])))] if rest else []
        )
        order_cols = [F.col(c) for c in cond_rnames] + tie
        order = (
            [c.asc_nulls_last() for c in order_cols]
            if keep == "first"
            else [c.desc_nulls_last() for c in order_cols]
        )
        w = Window.partitionBy(_L_ID).orderBy(*order)
        joined = (
            joined.withColumn("__cj_rn", F.row_number().over(w))
            .filter(F.col("__cj_rn") == 1)
            .drop("__cj_rn")
        )
        if keep_right_rebuild:
            kept_rids = joined.select(_R_ID).where(F.col(_R_ID).isNotNull())
            missing_right = rgt.join(kept_rids, on=_R_ID, how="left_anti")
            joined = joined.unionByName(missing_right, allowMissingColumns=True)

    if indicator:
        name = indicator if isinstance(indicator, str) else "_merge"
        joined = joined.withColumn(
            name,
            F.when(F.col(_L_ID).isNotNull() & F.col(_R_ID).isNotNull(), "both")
            .when(F.col(_L_ID).isNotNull(), "left_only")
            .otherwise("right_only"),
        )
    if df_columns is not None or right_columns is not None:
        from pyjanitor_spark.utils.select import resolve_columns

        lsel = resolve_columns(df, df_columns) if df_columns is not None else df.columns
        rsel = (
            resolve_columns(right, right_columns)
            if right_columns is not None
            else right.columns
        )
        out_cols = list(lsel) + [rname(c) for c in rsel]
        if indicator:
            out_cols.append(indicator if isinstance(indicator, str) else "_merge")
        return joined.select(*out_cols)
    drop = [c for c in (_L_ID, _R_ID) if c in joined.columns]
    return joined.drop(*drop)


def _bucketized_join(
    left: DataFrame,
    rgt: DataFrame,
    rname,
    lcol: str,
    rng: tuple[float, float],
    conditions: list[tuple[str, str, str]],
    pred: Column,
    how: str,
    width: float | None,
) -> DataFrame:
    """Interval-bucketization for pure non-equi range joins.

    For a band ``left.x BETWEEN f(right)`` (one or two range conditions
    on one left column ``lcol``, whose min/max is ``rng``), assign each
    left row bucket ``floor(x/w)`` and each right row the SPAN of
    buckets its admissible interval covers (``sequence`` +
    ``explode``); equi-join on bucket id (hash shuffle, scalable) then
    apply the exact residual predicate.  Mirrors the intent of the
    reference's sorted range search
    (``conditional_join.py:1004-1148``) with a shuffle-friendly plan.

    Two properties keep the bucket explosion bounded regardless of how
    wide the right intervals are relative to the left domain:

    * intervals are CLAMPED to [left_min, left_max] first — right rows
      that cannot match explode to zero rows, and no interval covers
      more buckets than the left domain has;
    * width targets ~256 buckets over the left span (beyond the point
      where buckets stop pruning, extra granularity only multiplies the
      replicated right rows)."""
    range_ops = [c for c in conditions if c[2] in (">", ">=", "<", "<=")]
    ltype = left.schema[lcol].dataType.typeName()
    lo_expr = None  # lower bound for left.x from right side
    hi_expr = None
    for lc, rc, op in range_ops:
        r = _num_cast(F.col(rname(rc)), rgt.schema[rname(rc)].dataType.typeName())
        if op in (">", ">="):  # x > r  -> r is a lower bound
            lo_expr = r if lo_expr is None else F.greatest(lo_expr, r)
        else:  # x < r -> upper bound
            hi_expr = r if hi_expr is None else F.least(hi_expr, r)
    mn, mx = rng
    # ONE-SIDED conditions (only a lower or only an upper bound from the
    # right) still bucketize: the open side clamps to the left domain
    # edge already probed, so the admissible interval is bounded
    # exactly like the two-sided case.  Without this the plan silently
    # fell back to a BroadcastNestedLoopJoin — O(n*m) at scale for a
    # query as plain as (x > cutoff).  The pair OUTPUT of an unselective
    # one-sided range join is inherently quadratic; bucketization keeps
    # the COMPUTE proportional to output + ~256 replicated right rows.
    if lo_expr is None:
        lo_expr = F.lit(mn)
    if hi_expr is None:
        hi_expr = F.lit(mx)
    span = mx - mn
    w = width or (span / 256.0 if span > 0 else 1.0)
    lb = left.withColumn(
        "__cj_bkt", F.floor(_num_cast(F.col(lcol), ltype) / F.lit(w))
    )
    glo = F.greatest(lo_expr, F.lit(mn))
    ghi = F.least(hi_expr, F.lit(mx))
    rb = rgt.withColumn(
        "__cj_bkt",
        F.explode(
            F.when(
                glo <= ghi,
                F.sequence(F.floor(glo / F.lit(w)), F.floor(ghi / F.lit(w))),
            ).otherwise(F.array().cast("array<long>"))
        ),
    )
    if how == "inner":
        out = lb.join(rb, on=["__cj_bkt"], how="inner").filter(pred)
        return out.drop("__cj_bkt")
    # outer variants: compute inner matches, then add unmatched sides
    inner = lb.join(rb, on=["__cj_bkt"], how="inner").filter(pred).drop("__cj_bkt")
    return _patch_outer(left, rgt, inner, how)


def _patch_outer(left: DataFrame, rgt: DataFrame, inner: DataFrame, how: str) -> DataFrame:
    rtypes = dict(rgt.dtypes)
    ltypes = dict(left.dtypes)
    out = inner
    if how in ("left", "outer", "full") and _L_ID in inner.columns:
        matched = inner.select(_L_ID).distinct()
        unmatched = left.join(matched, on=_L_ID, how="left_anti")
        unmatched = unmatched.withColumns(
            {c: F.lit(None).cast(t) for c, t in rtypes.items()}
        )
        out = out.unionByName(unmatched.select(out.columns))
    if how in ("right", "outer", "full") and _R_ID in inner.columns:
        matched = inner.select(_R_ID).distinct()
        unmatched = rgt.join(matched, on=_R_ID, how="left_anti")
        unmatched = unmatched.withColumns(
            {c: F.lit(None).cast(t) for c, t in ltypes.items()}
        )
        out = out.unionByName(unmatched.select(out.columns))
    return out


def get_join_indices(
    df: DataFrame, right: DataFrame, conditions: list[tuple[str, str, str]]
) -> DataFrame:
    """Matching (left_index, right_index) POSITIONAL row-index pairs (ref
    ``conditional_join.py:559-560`` returns numpy positional indices).
    Indices are 0-based positions in each frame's current row order."""
    from pyjanitor_spark.utils.order import positional_index

    left = positional_index(df, "left_index")
    rgt = positional_index(right, "right_index")
    pred = None
    for lc, rc, op in conditions:
        c = _build_condition(left[lc], rgt[rc], op)
        pred = c if pred is None else (pred & c)
    return left.join(rgt, on=pred, how="inner").select("left_index", "right_index")


def asof_join(
    df: DataFrame,
    right: DataFrame,
    on: str,
    by: str | list[str] | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    right_columns: list[str] | None = None,
    suffix: str = "_right",
    allow_exact_matches: bool = True,
) -> DataFrame:
    """As-of join (pandas ``merge_asof`` semantics): for every left row,
    attach the single right row whose ``on`` value is the nearest
    preceding (``backward``, with equality), nearest following
    (``forward``), or nearest overall (``nearest``, ties to backward)
    within the same ``by`` group; unmatched left rows keep NULLs.

    The reference has no as-of join (``conditional_join`` covers general
    non-equi ranges); this is the dedicated time-series primitive.

    Spark-first plan — NO JOIN AT ALL: both sides union on the
    ``(by, on)`` sort key and one window (``last(..., ignorenulls)``
    over preceding rows / ``first`` over following) carries the most
    recent right payload struct to each left row.  Total cost is ONE
    shuffle+sort on ``(by, on)`` regardless of match fan-in — no
    per-row search, no range explosion, no skew amplification beyond
    the group key itself.  With ``by=None`` the sort is a single total
    order (use only when one global timeline genuinely exists).

    ``tolerance`` (in ``on`` units; seconds for timestamps) voids
    matches farther than the bound.  Right rows sharing an ``on`` value
    within a group resolve deterministically by payload content hash
    (the repo's ``keep`` tie-break convention).

    ``allow_exact_matches=False`` (merge_asof parity) makes the match
    strict: the plan is identical — equal-``on`` right rows just sort on
    the other side of the left row, falling out of the window frame.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"bad direction {direction!r}")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    left = df
    rcols = right_columns or [
        c for c in right.columns if c != on and c not in by_cols
    ]
    # the right payload carries its own `on` value for tolerance/nearest
    payload = F.struct(
        F.col(on).alias("__on"), *[F.col(c) for c in rcols]
    )
    rtype = right.select(payload.alias("__r")).schema["__r"].dataType
    lstruct = F.struct(*[F.col(c) for c in left.columns])
    ltype = left.select(lstruct.alias("__l")).schema["__l"].dataType

    lside = left.select(
        *[F.col(c).alias(f"__by{i}") for i, c in enumerate(by_cols)],
        F.col(on).alias("__on"),
        F.lit(1).alias("__side"),
        lstruct.alias("__l"),
        F.lit(None).cast(rtype).alias("__r"),
    )
    rside = right.select(
        *[F.col(c).alias(f"__by{i}") for i, c in enumerate(by_cols)],
        F.col(on).alias("__on"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(ltype).alias("__l"),
        payload.alias("__r"),
    )
    u = lside.unionByName(rside)
    bys = [F.col(f"__by{i}") for i in range(len(by_cols))]
    tie = F.md5(F.to_json(F.col("__r")))
    # backward: right rows sort BEFORE left at equal `on` (side 0 < 1)
    # so the preceding frame includes exact-equality matches; with
    # allow_exact_matches=False they sort AFTER and fall out of it
    back_side = (
        F.col("__side").asc() if allow_exact_matches else F.col("__side").desc()
    )
    w_back = (
        Window.partitionBy(*bys)
        .orderBy(F.col("__on").asc(), back_side, tie.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward: flip the side order so equal-`on` right rows land in the
    # following frame (same exchange, second sort); strict mode flips back
    fwd_side = (
        F.col("__side").desc() if allow_exact_matches else F.col("__side").asc()
    )
    w_fwd = (
        Window.partitionBy(*bys)
        .orderBy(F.col("__on").asc(), fwd_side, tie.asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # deltas in `on` units, through the numeric view bucketization uses
    on_t = u.schema["__on"].dataType.simpleString()

    def num(c):
        return _num_cast(c, on_t)

    picked = None
    if direction in ("backward", "nearest"):
        b = F.last(F.col("__r"), ignorenulls=True).over(w_back)
        if tolerance is not None:
            b = F.when(num(F.col("__on")) - num(b["__on"]) <= tolerance, b)
        picked = b
    if direction in ("forward", "nearest"):
        f = F.first(F.col("__r"), ignorenulls=True).over(w_fwd)
        if tolerance is not None:
            f = F.when(num(f["__on"]) - num(F.col("__on")) <= tolerance, f)
        if direction == "forward":
            picked = f
        else:  # nearest: smaller |delta| wins, ties to backward
            b = picked
            d_b = num(F.col("__on")) - num(b["__on"])
            d_f = num(f["__on"]) - num(F.col("__on"))
            picked = (
                F.when(b.isNull(), f)
                .when(f.isNull(), b)
                .when(d_f < d_b, f)
                .otherwise(b)
            )
    out = u.withColumn("__pick", picked).filter(F.col("__side") == 1)
    lnames = set(left.columns)
    sel = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    for c in rcols:
        name = c + suffix if c in lnames else c
        sel.append(F.col(f"__pick.{c}").alias(name))
    on_r = on + suffix if on in lnames else on
    sel.append(F.col("__pick.__on").alias(on_r))
    return out.select(*sel)
