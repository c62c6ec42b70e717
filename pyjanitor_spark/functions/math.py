"""Series math transforms (ref ``janitor/math.py``, 377 LoC).

Each pointwise reference Series method becomes a Column-expression
function usable in ``select``/``withColumn``; the frame-level wrapper
``apply_math(df, col, fn)`` mirrors the method-chaining form.  The three
whole-column statistics (``softmax``, ``z_score``, ``ecdf``) exist only
through ``apply_math`` — their bare Column forms raise, because the only
Column encoding is a single-task empty-partition/global window, and no
verb in this package may silently plan one.  ``apply_math`` computes
them with broadcast-joined aggregates / a distinct-value prefix sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "log", "exp", "sigmoid", "softmax", "logit", "normal_cdf", "probit",
    "z_score", "ecdf", "apply_math",
]


def log(col: Column, error: str = "warn") -> Column:
    """ln with domain guard: <=0 -> null (ref ``math.py:14-58``)."""
    return F.when(col <= 0, F.lit(None)).otherwise(F.log(col))


def exp(col: Column) -> Column:
    """ref ``math.py:62-83``"""
    return F.exp(col)


def sigmoid(col: Column) -> Column:
    """1/(1+exp(-x)) (ref ``math.py:87-114``)"""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-col))


def softmax(col: Column) -> Column:
    """exp(x)/sum(exp(x)) over the whole column (ref ``math.py:118-150``).

    The only Column-expression encoding of a whole-column statistic is
    an empty-partition window, which funnels ALL rows through one task —
    a silent scale-killer, so the bare form REFUSES.  Use
    ``apply_math(df, c, softmax)``: max-subtracted broadcast-joined
    aggregates, fully parallel."""
    raise ValueError(
        "softmax is a whole-column statistic; the Column form would plan a "
        "single-task global window. Use apply_math(df, column, softmax) — "
        "it computes the same result via broadcast-joined aggregates."
    )


def logit(col: Column, error: str = "warn") -> Column:
    """log(p/(1-p)), domain (0,1) else null (ref ``math.py:154-203``)."""
    return F.when((col <= 0) | (col >= 1), F.lit(None)).otherwise(
        F.log(col / (F.lit(1.0) - col))
    )


def normal_cdf(col: Column) -> Column:
    """Phi(x) = 0.5*(1+erf(x/sqrt(2))) (ref ``math.py:207-229``)."""
    return F.lit(0.5) * (F.lit(1.0) + _erf(col / F.sqrt(F.lit(2.0))))


def _erf(x: Column) -> Column:
    """Abramowitz-Stegun 7.1.26 rational approximation of erf (|eps|<1.5e-7)
    as a pure expression — keeps the whole pipeline in codegen."""
    a1, a2, a3, a4, a5, p = (
        0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429, 0.3275911
    )
    sign = F.when(x < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(p) * ax)
    y = F.lit(1.0) - (
        ((((F.lit(a5) * t + F.lit(a4)) * t) + F.lit(a3)) * t + F.lit(a2)) * t + F.lit(a1)
    ) * t * F.exp(-ax * ax)
    return sign * y


def probit(col: Column, error: str = "warn") -> Column:
    """Inverse normal CDF via Acklam's rational approximation (public
    algorithm; |rel err| < 1.15e-9) — pure expression, no scipy UDF
    (ref ``math.py:233-280``)."""
    p = col
    # coefficients
    A = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    B = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    C = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    D = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    plow, phigh = 0.02425, 1 - 0.02425

    def poly(coeffs, x):
        out = F.lit(float(coeffs[0]))
        for c in coeffs[1:]:
            out = out * x + F.lit(float(c))
        return out

    q_low = F.sqrt(F.lit(-2.0) * F.log(p))
    low = poly(C, q_low) / (poly(D, q_low) * q_low + F.lit(1.0))

    q_mid = p - F.lit(0.5)
    r = q_mid * q_mid
    mid = poly(A, r) * q_mid / (poly(B, r) * r + F.lit(1.0))

    q_hi = F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))
    hi = -(poly(C, q_hi)) / (poly(D, q_hi) * q_hi + F.lit(1.0))

    return (
        F.when((p <= 0) | (p >= 1), F.lit(None))
        .when(p < plow, low)
        .when(p <= phigh, mid)
        .otherwise(hi)
    )


def z_score(col: Column) -> Column:
    """(x - mean)/std over the whole column (ref ``math.py:284-326``).
    Whole-column statistic — the bare Column form refuses (it would be
    a single-task empty-partition window); use
    ``apply_math(df, column, z_score)`` (broadcast-joined aggregates)."""
    raise ValueError(
        "z_score is a whole-column statistic; the Column form would plan a "
        "single-task global window. Use apply_math(df, column, z_score) — "
        "it computes the same result via a broadcast-joined aggregate."
    )


def ecdf(col: Column) -> Column:
    """Empirical CDF: fraction of values <= x (ref ``math.py:330-377``).
    Whole-column statistic — the bare Column form refuses (``cume_dist``
    over a total order is a single-task window); use
    ``apply_math(df, column, ecdf)``: the distinct-value CDF of
    ``utils.order.value_cdf``, no single-task stage."""
    raise ValueError(
        "ecdf is a whole-column statistic; the Column form would plan a "
        "single-task cume_dist window. Use apply_math(df, column, ecdf) — "
        "it computes the same result via a distinct-value prefix sum."
    )


def apply_math(df: DataFrame, column_name: str, fn, dest: str | None = None) -> DataFrame:
    """Frame-level wrapper: ``apply_math(df, 'x', sigmoid)``.

    The whole-column statistics start from ``share(df)`` (the statistic
    and the rows read one run of it): ``z_score`` and ``softmax`` attach
    one-row aggregates by broadcast, ``ecdf`` joins back the
    distinct-value CDF of ``utils.order.value_cdf``.  Call-time jobs:
    the ``share`` pin's stages on a replay-unstable input, and for
    ``ecdf`` the value counts' ``groupBy`` stage.  Everything else is the
    plain expression."""
    dest = dest or column_name
    col = F.col(column_name)
    if fn not in (z_score, softmax, ecdf):
        return df.withColumn(dest, fn(col))
    from pyjanitor_spark.utils.pin import share

    if fn is ecdf:
        # reference contract (math.py:330-376): a non-numeric dtype is a
        # TypeError at once, from the schema
        numeric = ("integer", "long", "double", "float", "short", "byte", "decimal")
        if df.schema[column_name].dataType.typeName() not in numeric:
            raise TypeError(f"ecdf: column {column_name!r} dtype should be numeric.")
    df = share(df)
    if fn is z_score:
        stats = df.agg(
            F.avg(col).alias("__mu"), F.stddev(col).alias("__sd")
        )
        # sd == 0 (constant column) is pandas 0/0 = NaN -> null; under
        # ANSI the bare division would THROW.  sd null (single row)
        # falls out null through the when too.
        return (
            df.crossJoin(F.broadcast(stats))
            .withColumn(
                dest,
                F.when(F.col("__sd") != 0, (col - F.col("__mu")) / F.col("__sd")),
            )
            .drop("__mu", "__sd")
        )
    if fn is softmax:
        mx = df.agg(F.max(col).alias("__mx"))
        with_mx = df.crossJoin(F.broadcast(mx))
        tot = with_mx.agg(F.sum(F.exp(col - F.col("__mx"))).alias("__tot"))
        return (
            with_mx.crossJoin(F.broadcast(tot))
            .withColumn(dest, F.exp(col - F.col("__mx")) / F.col("__tot"))
            .drop("__mx", "__tot")
        )
    from pyjanitor_spark.utils.order import value_cdf

    # null values raise (reference contract): an inline assert_true
    # rides the value counts' own scan and the join-back instead of a
    # separate eager count action
    guard = F.assert_true(
        col.isNotNull(), F.lit(f"ecdf: column {column_name!r} contains nulls; drop them first.")
    )
    df = df.withColumn(column_name, F.when(guard.isNull(), col))
    cdf = value_cdf(df, column_name).select(
        F.col(column_name).alias("__ecdf_v"),
        (F.col("__cum").cast("double") / F.col("__n")).alias("__ecdf_out"),
    )
    return (
        df.join(cdf, col == F.col("__ecdf_v"), "left")
        .withColumn(dest, F.col("__ecdf_out"))
        .drop("__ecdf_v", "__ecdf_out")
    )
