"""Column transforms / scalar functions.

Everything here compiles to built-in Column expressions (whole-stage
codegen) unless the user hands us an arbitrary Python callable, in which
case ``transform_column`` falls back to an Arrow-batched pandas_udf —
the documented slow path (SURVEY.md §2.11).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import probe, share
from pyjanitor_spark.utils.select import resolve_columns

__all__ = [
    "transform_column",
    "transform_columns",
    "process_text",
    "find_replace",
    "change_type",
    "currency_column_to_numeric",
    "convert_excel_date",
    "convert_matlab_date",
    "convert_unix_date",
    "to_datetime",
    "truncate_datetime_dataframe",
    "bin_numeric",
    "round_to_fraction",
    "jitter",
    "min_max_scale",
    "factorize_columns",
    "label_encode",
    "encode_categorical",
    "unionize_dataframe_categories",
    "concatenate_columns",
    "deconcatenate_column",
    "expand_column",
    "add_column",
    "add_columns",
    "winsorize",
    "quantile_bin",
    "quantiles",
    "robust_scale",
]


_NUMERIC_SIMPLE_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _default_return_type(input_type: str | None, fallback: str) -> str:
    """Default pandas_udf return type when the caller didn't pin one.

    Numeric inputs default to ``double``: pandas itself widens — np.sqrt
    on an int64 Series returns float64 — and declaring the input's exact
    integer type makes Arrow fail mid-job with an unsafe-cast error for
    any type-changing callable.  Widening int->double is value-preserving
    for the Arrow batch sizes in play (pass ``return_type=`` explicitly
    for int64 values beyond 2**53 or to pin a non-default type)."""
    if input_type is None:
        return fallback
    t = input_type.lower()
    if t in _NUMERIC_SIMPLE_TYPES or t.startswith("decimal"):
        return "double"
    return input_type


def _as_expr(
    function: Any,
    col: Column,
    elementwise: bool,
    return_type: str = None,
    input_type: str | None = None,
):
    """Column-expression fast path, pandas_udf fallback."""
    if isinstance(function, Column):
        return function
    if not elementwise:
        # Column->Column callables stay on the JVM fast path; a genuine
        # series-wise callable (np.sqrt, lambda s: s.str.len(), the
        # reference's vectorizable form, transform_columns.py:22-60)
        # runs per Arrow batch.  The batch contract matches the
        # reference's ("takes a Series, returns a sequence of identical
        # length"): row-local vectorized functions are exact; a
        # whole-column statistic does not fit either engine's contract
        # here (apply_math carries those).  Default return type: numeric
        # inputs widen to double (np.sqrt int->float64, exactly as pandas
        # computes it), other inputs keep their type; pass return_type=
        # when the function changes the type some other way.
        try:
            probe = function(col)
            if isinstance(probe, Column):
                return probe
        except Exception:
            pass
        from pyspark.sql.functions import pandas_udf

        rt = return_type or _default_return_type(input_type, "double")

        @pandas_udf(rt)
        def _series_udf(s):
            import pandas as pd  # noqa: F401

            out = function(s)
            return out if isinstance(out, pd.Series) else pd.Series(list(out))

        return _series_udf(col)
    # even under elementwise=True, a callable that maps Column -> Column
    # (F.sqrt, lambda c: c * 2, ...) IS the expression — use it directly
    # so Spark-native callables ride codegen instead of an Arrow UDF.
    # Genuine scalar callables can't slip through: applied to a Column
    # they raise (PySpark forbids bool conversion; type errors) or
    # return a non-Column, both of which fall back.
    try:
        probe = function(col)
        if isinstance(probe, Column):
            return probe
    except Exception:
        pass
    # elementwise python callable -> vectorized pandas_udf (Arrow batches)
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    rt = return_type or _default_return_type(input_type, "string")

    @pandas_udf(rt)
    def _udf(s):
        return s.map(function)

    return _udf(col)


def transform_column(
    df: DataFrame,
    column_name: str,
    function: Callable | Column,
    dest_column_name: str | None = None,
    elementwise: bool = True,
    return_type: str | None = None,
) -> DataFrame:
    """Apply a function to one column (ref ``transform_columns.py:22-124``).

    Pass a function building Column expressions (``elementwise=False``,
    fast JVM path) or an arbitrary scalar callable (``elementwise=True``,
    Arrow pandas_udf)."""
    dest = dest_column_name or column_name
    in_t = df.schema[column_name].dataType.simpleString() if column_name in df.columns else None
    return df.withColumn(
        dest, _as_expr(function, F.col(column_name), elementwise, return_type, in_t)
    )


def transform_columns(
    df: DataFrame,
    column_names: Any,
    function: Callable | Column,
    suffix: str | None = None,
    new_column_names: dict[str, str] | None = None,
    elementwise: bool = True,
    return_type: str | None = None,
) -> DataFrame:
    """Apply to many columns with optional suffix / rename dict (ref
    ``transform_columns.py:127-239``)."""
    cols = resolve_columns(df, column_names)
    updates = {}
    for c in cols:
        dest = c
        if suffix:
            dest = c + suffix
        if new_column_names and c in new_column_names:
            dest = new_column_names[c]
        in_t = df.schema[c].dataType.simpleString()
        updates[dest] = _as_expr(function, F.col(c), elementwise, return_type, in_t)
    return df.withColumns(updates)


# --- process_text: pandas .str method name -> Spark builtin dispatch -----
# (ref ``process_text.py:25-115`` exposes any pd.Series.str method by name)

def _pt_replace(col, pat, repl, regex=True, n=-1, **_):
    if n is not None and n >= 0:
        # occurrence-limited replace has no JVM builtin — exact fallback
        return _str_fallback("replace", pat=pat, repl=repl, regex=regex, n=n)(col)
    if not regex:
        # pandas str.replace(regex=False) is a LITERAL replacement on both
        # sides; regexp_replace always regex-interprets its pattern (even
        # a Column pattern) and treats $/\ specially in the replacement
        import re as _re

        return F.regexp_replace(
            col, _re.escape(pat), repl.replace("\\", "\\\\").replace("$", "\\$")
        )
    # (?U): python3 re classes (\d \w \s) are unicode-aware by default;
    # Java's are ASCII without UNICODE_CHARACTER_CLASS
    return F.regexp_replace(col, "(?U)" + pat, repl)


def _pt_translate(col, table):
    """``str.translate`` with a real ``str.maketrans`` table: keys are
    ordinals (or 1-char strings), values are ordinals, strings, or None
    (deletion).  1:1 mappings and deletions compile to ``F.translate``
    (chars in ``matching`` beyond the end of ``replace`` are deleted);
    multi-char replacements need the pandas fallback."""
    src: list[str] = []
    dst: list[str] = []
    multi = False
    for k, v in table.items():
        ch = chr(k) if isinstance(k, int) else str(k)
        if v is None:
            rep = ""
        elif isinstance(v, int):
            rep = chr(v)
        else:
            rep = str(v)
        if len(rep) > 1:
            multi = True
        src.append(ch)
        dst.append(rep)
    if not multi:
        # deletions must sort last so every kept char lines up positionally
        pairs = sorted(zip(src, dst), key=lambda p: p[1] == "")
        return F.translate(
            col, "".join(p[0] for p in pairs), "".join(p[1] for p in pairs)
        )
    return _str_fallback("translate", table=table)(col)


def _str_fallback(string_function: str, return_type: str = "string", **kwargs):
    """Arrow-batched pandas_udf over the real ``pd.Series.str`` method —
    the reflection fallback for methods with no Spark builtin (ref
    ``process_text.py:98-106`` exposes any method by name).  Slow path by
    design; the dispatch table above covers the hot ones."""

    def apply(col: Column) -> Column:
        import pandas as pd  # noqa: F401
        from pyspark.sql.functions import pandas_udf

        if not hasattr(pd.Series([], dtype="object").str, string_function):
            raise KeyError(
                f"string_function {string_function!r} is not a pandas .str method"
            )

        want_str = str(return_type).startswith(("string", "varchar", "char"))

        @pandas_udf(return_type)
        def _udf(s):
            res = getattr(s.str, string_function)(**kwargs)
            if want_str and res.dtype.kind not in ("O", "U", "S"):
                # an explicitly requested string return of a numeric/bool
                # method (e.g. rfind, match) — Arrow refuses int64->string,
                # so stringify non-null values here
                res = res.astype("object").where(res.notna(), None)
                res = res.map(lambda x: None if x is None else str(x))
            return res

        return _udf(col)

    return apply


def _pt_slice(col, start=None, stop=None, step=None):
    """pandas str.slice with negative bounds (python slicing); step!=1
    keeps the exact pandas fallback."""
    if step not in (None, 1):
        return _str_fallback("slice", start=start, stop=stop, step=step)(col)
    n = F.length(col)
    start = 0 if start is None else int(start)
    s = F.lit(start) if start >= 0 else F.greatest(n + F.lit(start), F.lit(0))
    e = n if stop is None else (F.lit(int(stop)) if stop >= 0 else n + F.lit(int(stop)))
    e = F.least(e, n)
    return col.substr(s + 1, F.greatest(e - s, F.lit(0)))


# python str.isspace()/strip() whitespace: ASCII \s + unicode space
# separators + NEL + the \x1c-\x1f separators
_PY_WS = "[\\s\\p{Z}-]"


def _pt_contains(col, pat, regex=True, case=True, flags=0, **kw):
    if flags:
        return _str_fallback(
            "contains",
            return_type="boolean",
            pat=pat,
            regex=regex,
            case=case,
            flags=flags,
        )(col)
    if regex:
        return col.rlike("(?U)" + ("(?i)" if not case else "") + pat)
    if not case:
        return F.lower(col).contains(pat.lower())
    return col.contains(pat)


def _pt_split(col, pat=" ", n=-1, regex=None, **kw):
    """pandas treats a 1-char pat as a LITERAL unless regex=True; its
    ``n`` is max splits (Spark's limit = n+1)."""
    import re as _re

    if regex is False or (regex is None and len(pat) == 1):
        pat = _re.escape(pat)
    else:
        # python3 re unicode classes (see _pt_replace)
        pat = "(?U)" + pat
    limit = -1 if n is None or n < 0 else n + 1
    return F.split(col, pat, limit)


def _pt_zfill(col, width):
    """pandas zfill pads AFTER a leading sign ("-7".zfill(4) == "-007")
    and never truncates beyond-width strings."""
    body_pad = F.concat(
        col.substr(1, 1),
        F.lpad(col.substr(F.lit(2), F.length(col)), width - 1, "0"),
    )
    return F.when(F.length(col) >= width, col).otherwise(
        F.when(col.rlike(r"^[+-]"), body_pad).otherwise(F.lpad(col, width, "0"))
    )


def _pt_affix(side):
    def apply(col, pat):
        pats = pat if isinstance(pat, (tuple, list)) else (pat,)
        cond = None
        for p_ in pats:
            c = col.startswith(p_) if side == "start" else col.endswith(p_)
            cond = c if cond is None else (cond | c)
        return cond

    return apply


# fallback-only .str methods that return non-strings: declare the Arrow
# type pandas produces, or the batch transfer dies with a cryptic cast
# error ("Expected a string or bytes dtype, got int64").  Numeric ones
# declare double because pandas itself widens to float64 whenever a null
# row is present (and int64 -> double is an Arrow-safe cast when not).
_STR_FALLBACK_TYPES = {
    "rfind": "double",
    "index": "double",
    "rindex": "double",
    "istitle": "boolean",
    "isnumeric": "boolean",
    "isdecimal": "boolean",
    "isidentifier": "boolean",
    "match": "boolean",
    "fullmatch": "boolean",
}

_STR_DISPATCH: dict[str, Callable[..., Column]] = {

    "lower": lambda col: F.lower(col),
    "upper": lambda col: F.upper(col),
    # NOTE: no "title" entry — pandas str.title() restarts a word after
    # ANY non-alpha ("a-b-c" -> "A-B-C", tabs too) while initcap only
    # splits on spaces; title takes the exact pandas fallback instead
    "capitalize": lambda col: F.concat(
        F.upper(F.substring(col, 1, 1)), F.lower(col.substr(F.lit(2), F.length(col)))
    ),
    # python str.strip() removes UNICODE whitespace (NBSP, \x85,
    # \x1c-\x1f); Spark's trim family is ASCII-space only
    "strip": lambda col, to_strip=None: (
        F.regexp_replace(col, f"^{_PY_WS}+|{_PY_WS}+$", "")
        if to_strip is None
        else F.btrim(col, F.lit(to_strip))
    ),
    "lstrip": lambda col: F.regexp_replace(col, f"^{_PY_WS}+", ""),
    "rstrip": lambda col: F.regexp_replace(col, f"{_PY_WS}+$", ""),
    "len": lambda col: F.length(col),
    "contains": _pt_contains,
    "startswith": _pt_affix("start"),
    "endswith": _pt_affix("end"),
    "replace": _pt_replace,
    "count": lambda col, pat, **kw: F.regexp_count(col, F.lit("(?U)" + pat)),
    "findall": lambda col, pat, **kw: F.regexp_extract_all(col, F.lit("(?U)" + pat), F.lit(0)),
    "split": _pt_split,
    "slice": _pt_slice,
    # "get" is dtype-aware (string vs array) — handled in process_text
    # pandas pad/zfill never TRUNCATE a string longer than width;
    # Spark's lpad/rpad do — guard on length (zfill is also sign-aware)
    "zfill": _pt_zfill,
    # side='both' follows CPython str.center (what pandas calls): left
    # margin = floor(marg/2) PLUS one extra when both the margin and the
    # width are odd — the legacy `marg // 2 + (marg & width & 1)` rule
    "pad": lambda col, width, side="left", fillchar=" ": F.when(
        F.length(col) >= width, col
    ).otherwise(
        F.lpad(col, width, fillchar)
        if side == "left"
        else F.rpad(col, width, fillchar)
        if side == "right"
        else F.rpad(
            F.lpad(
                col,
                (
                    F.length(col)
                    + F.floor((F.lit(width) - F.length(col)) / 2)
                    + ((F.lit(width) - F.length(col)) % 2) * (width % 2)
                ).cast("int"),
                fillchar,
            ),
            width,
            fillchar,
        )
    ),
    "center": lambda col, width, fillchar=" ": _STR_DISPATCH["pad"](
        col, width, side="both", fillchar=fillchar
    ),
    "extract": lambda col, pat, group=1, **kw: F.regexp_extract(col, pat, group),
    "find": lambda col, sub: F.instr(col, sub) - 1,
    "repeat": lambda col, repeats: F.repeat(col, repeats),
    "removeprefix": lambda col, prefix: F.when(col.startswith(prefix), col.substr(F.lit(len(prefix) + 1), F.length(col))).otherwise(col),
    "removesuffix": lambda col, suffix: F.when(col.endswith(suffix), col.substr(F.lit(1), F.length(col) - len(suffix))).otherwise(col),
    # unicode-aware like python's str predicates (Java \p{..} property
    # classes): "ünïcödé".isalpha() is True, unicode digits count, the
    # cased-char guard for isupper/islower is any letter, not just ASCII
    "isdigit": lambda col: col.rlike(r"^\p{Nd}+$"),
    "isalpha": lambda col: col.rlike(r"^\p{L}+$"),
    "isalnum": lambda col: col.rlike(r"^[\p{L}\p{Nd}]+$"),
    "isspace": lambda col: col.rlike(f"^{_PY_WS}+$"),
    "isupper": lambda col: (col == F.upper(col)) & col.rlike(r"\p{L}"),
    "islower": lambda col: (col == F.lower(col)) & col.rlike(r"\p{L}"),
    "cat": lambda col, others=None, sep="": F.concat_ws(sep, col, *(others or [])),
    "translate": _pt_translate,
}


def process_text(
    df: DataFrame,
    column_name: str,
    string_function: str,
    return_type: str | None = None,
    **kwargs: Any,
) -> DataFrame:
    """Apply a pandas ``.str`` method by name (ref
    ``process_text.py:25-115`` exposes any method via reflection).

    Methods in the dispatch table compile to Spark builtins (codegen'd
    expressions — the hot path); any other genuine ``.str`` method (e.g.
    ``swapcase``, ``wrap``, ``casefold``, ``normalize``) runs through an
    Arrow-batched pandas_udf on the real pandas implementation.
    ``return_type`` sets the fallback's Spark result type; left at the
    ``None`` sentinel it is inferred per method (``_STR_FALLBACK_TYPES``
    knows e.g. ``count -> long``), so an explicit ``'string'`` is
    honored verbatim."""
    col_t = dict(df.dtypes).get(column_name)
    if col_t is None:
        raise KeyError(f"{column_name!r} not present")
    # startswith, not equality: Spark renders parameterized types as
    # "varchar(10)" / "char(5)"
    if not col_t.startswith(("string", "varchar", "char", "array")):
        # the reference's .str accessor refuses non-string values
        # ("Can only use .str accessor with string values!"); arrays
        # stay allowed — pandas .str methods work on object lists
        raise TypeError(
            f"process_text: column {column_name!r} has type {col_t}; "
            ".str methods apply to string (or array) columns only"
        )
    if string_function == "len" and col_t.startswith("array"):
        # pandas .str.len on object lists returns element counts
        return df.withColumn(column_name, F.size(F.col(column_name)))
    if string_function == "get":
        # pandas .str.get works on strings (char at python index, NaN
        # out-of-bounds, negatives from the end) AND on list values.
        # element_at is wrong on both counts here: it rejects strings
        # outright and THROWS on out-of-bounds arrays under ANSI mode.
        i = int(kwargs["i"])
        col = F.col(column_name)
        if dict(df.dtypes)[column_name].startswith("array"):
            return df.withColumn(
                column_name, F.try_element_at(col, F.lit(i + 1 if i >= 0 else i))
            )
        n = F.length(col)
        pos = F.lit(i) + 1 if i >= 0 else n + F.lit(i) + 1
        char = col.substr(pos, F.lit(1))
        return df.withColumn(
            column_name, F.when((pos >= 1) & (pos <= n), char)
        )
    fn = _STR_DISPATCH.get(string_function)
    if fn is None:
        if return_type is None:
            return_type = _STR_FALLBACK_TYPES.get(string_function, "string")
        fn = _str_fallback(string_function, return_type=return_type, **kwargs)
        return df.withColumn(column_name, fn(F.col(column_name)))
    return df.withColumn(column_name, fn(F.col(column_name), **kwargs))


def find_replace(df: DataFrame, match: str = "exact", **mappings: dict) -> DataFrame:
    """Dict-based exact or regex replacement per column (ref
    ``find_replace.py:18-178``); kwargs are column=dict pairs.

    Regex match is the reference's semantics EXACTLY: a pattern that
    matches ANYWHERE in the cell replaces the WHOLE cell with the value
    (``find_replace.py:176-178``: ``str.contains`` condition then
    ``df.loc[cond] = v``), applied sequentially per mapping entry (a
    later pattern sees earlier replacements) — NOT a substring
    substitution.

    Documented superset: a ``None`` key in an exact mapping replaces
    null cells (the reference raises and redirects to ``fillna`` —
    ``find_replace.py:157-167``; here the null branch is a plain
    ``WHEN col IS NULL`` arm, no reason to refuse it).  Null cells pass
    through the regex branch untouched (the reference's boolean mask
    errors on them)."""
    if match not in ("exact", "regex"):
        raise ValueError("match must be 'exact' or 'regex'")
    updates = {}
    for colname, mapping in mappings.items():
        col = F.col(colname)
        expr = None
        if match == "exact":
            # a string replacement landing in a numeric column widens
            # the OUTPUT to the string supertype (pandas object-column
            # analogue); the match itself still compares on the typed
            # column, so numeric keys keep exact-equality semantics
            numeric_col = (
                colname in df.columns
                and df.schema[colname].dataType.typeName()
                not in ("string", "varchar", "char")
            )
            widen = numeric_col and any(isinstance(v, str) for v in mapping.values())
            for old, new in mapping.items():
                cond = col.isNull() if old is None else (col == F.lit(old))
                rep = F.lit(new).cast("string") if widen else F.lit(new)
                expr = F.when(cond, rep) if expr is None else expr.when(cond, rep)
            updates[colname] = expr.otherwise(col.cast("string") if widen else col)
        else:
            out = col
            for pat, new in mapping.items():
                # whole-cell replacement on a contains-match; rlike is
                # an unanchored search, same as pandas str.contains
                out = F.when(
                    out.rlike(pat), F.lit(new).cast("string")
                ).otherwise(out.cast("string"))
            updates[colname] = out
    return df.withColumns(updates)


# python TYPE objects map to the pandas-equivalent Spark type; applied
# only to non-string dtype arguments so the valid Spark type strings
# "int" and "float" keep their Spark meaning for existing callers
_PYTYPE_TO_SPARK = {
    "int": "bigint",  # pandas astype(int) -> int64
    "float": "double",
    "str": "string",
    "bool": "boolean",
}

# numpy/pandas dtype NAMES that are not valid Spark type strings — safe
# to remap even when passed as strings
_NPNAME_TO_SPARK = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "float32": "float", "float64": "double",
    "object": "string",
    "datetime64[ns]": "timestamp",
}


def _spark_dtype(dtype: Any) -> str:
    """Accept the reference's astype surface — python types (``float``),
    numpy dtypes / dtype strings — alongside Spark type strings (which
    pass through untouched: ``'float'`` as a STRING stays Spark
    FloatType; pass the python type ``float`` for pandas semantics)."""
    if isinstance(dtype, type):
        name = dtype.__name__
        return _PYTYPE_TO_SPARK.get(name, _NPNAME_TO_SPARK.get(name, name))
    if not isinstance(dtype, str):
        name = str(dtype)  # np.dtype and friends stringify canonically
        return _NPNAME_TO_SPARK.get(name, name)
    return _NPNAME_TO_SPARK.get(dtype, dtype)


def change_type(
    df: DataFrame,
    column_name: Any,
    dtype: Any,
    ignore_exception: bool | str = False,
) -> DataFrame:
    """astype on column(s) (ref ``change_type.py:19-113`` — the
    reference's ``column_name`` accepts a single label or a list, so
    does this).  ``dtype`` takes python types (``float``, ``str``),
    numpy dtype names, or Spark type strings.

    ``ignore_exception='fillna'`` == try_cast (bad values -> null);
    ``'keep_values'`` keeps originals where the cast fails (string
    supertype).

    Documented rendering divergence: float -> str uses the JVM's
    ``Double.toString`` (``1.0E-5``), not python repr (``1e-05``) —
    values agree, the scientific-notation spelling differs (fuzz-pinned
    envelope in ``test_fuzz_differential6``)."""
    if ignore_exception and ignore_exception not in ("fillna", "keep_values"):
        raise ValueError("Unknown option for ignore_exception")
    dtype = _spark_dtype(dtype)
    cols = resolve_columns(df, column_name)
    updates = {}
    for c in cols:
        if ignore_exception == "fillna":
            updates[c] = F.col(c).try_cast(dtype)
        elif ignore_exception == "keep_values":
            updates[c] = F.coalesce(
                F.col(c).try_cast(dtype).cast("string"), F.col(c).cast("string")
            )
        else:
            updates[c] = F.col(c).cast(dtype)
    return df.withColumns(updates)


def currency_column_to_numeric(
    df: DataFrame,
    column_name: str,
    cleaning_style: str | None = None,
    cast_non_numeric: dict | None = None,
    fill_all_non_numeric: float | None = None,
    remove_non_numeric: bool = False,
) -> DataFrame:
    """Strip currency garbage -> double (ref
    ``currency_column_to_numeric.py:12-197``).

    ``cleaning_style='accounting'``: the reference's exact pipeline
    (``currency_column_to_numeric.py:95-104``): strip, drop commas,
    drop every ``)``, turn every ``(`` into ``-``, and a cell that is
    then exactly ``-`` means ZERO (the accounting dash).  Documented
    superset: a residual non-numeric cell becomes NULL (try_cast)
    where pandas ``astype(float)`` raises."""
    if cleaning_style not in (None, "accounting"):
        raise ValueError(
            "`cleaning_style` is expected to be one of ('accounting', None). "
            f"Got {cleaning_style!r} instead."
        )
    if cleaning_style == "accounting":
        raw = F.trim(F.col(column_name).cast("string"))
        no_comma = F.regexp_replace(raw, ",", "")
        signed = F.regexp_replace(
            F.regexp_replace(no_comma, r"\)", ""), r"\(", "-"
        )
        return df.withColumn(
            column_name,
            F.when(signed == "-", F.lit(0.0)).otherwise(
                signed.try_cast("double")
            ),
        )
    raw = F.col(column_name).cast("string")
    cleaned = F.regexp_replace(raw, r"[^0-9.\-eE+]", "")
    num = cleaned.try_cast("double")
    expr = num
    if cast_non_numeric:
        for key, val in cast_non_numeric.items():
            expr = F.when(raw == F.lit(key), F.lit(float(val))).otherwise(expr)
    if fill_all_non_numeric is not None:
        expr = F.coalesce(expr, F.lit(float(fill_all_non_numeric)))
    out = df.withColumn(column_name, expr)
    if remove_non_numeric:
        out = out.filter(F.col(column_name).isNotNull())
    return out


def convert_excel_date(df: DataFrame, column_name: Any) -> DataFrame:
    """Excel serial -> date, origin 1899-12-30 (ref
    ``convert_date.py:12-58``).  Accepts one column or a list like the
    reference's ``column_names``.  Documented superset: string-typed
    serial columns cast and convert (parquet/CSV pipelines often carry
    serials as text); the reference's pandas path raises on object
    dtype.  Fractional-day serials keep sub-second precision to the
    microsecond (Spark timestamps are micros; pandas ``unit='D'`` keeps
    ns — the last three digits are below Excel's own resolution)."""
    expr = lambda c: F.timestamp_micros(  # noqa: E731
        F.unix_timestamp(F.lit("1899-12-30 00:00:00")) * F.lit(1000000).cast("long")
        + F.round(F.col(c).cast("double") * 86400.0 * 1e6).cast("long")
    )
    return df.withColumns({c: expr(c) for c in resolve_columns(df, column_name)})


def convert_matlab_date(df: DataFrame, column_name: Any) -> DataFrame:
    """MATLAB datenum -> timestamp: days since year 0; epoch offset
    719529 days = 1970-01-01 (ref ``convert_date.py:60-103``).
    Accepts one column or a list like the reference.  Fractional-day
    serials keep sub-second precision to the microsecond (the
    convert_excel_date rule)."""
    expr = lambda c: F.timestamp_micros(  # noqa: E731
        F.round(
            (F.col(c).cast("double") - F.lit(719529.0)) * 86400.0 * 1e6
        ).cast("long")
    )
    return df.withColumns({c: expr(c) for c in resolve_columns(df, column_name)})


def convert_unix_date(df: DataFrame, column_name: Any) -> DataFrame:
    """Epoch seconds -> timestamp (ref ``convert_date.py:113-153``).
    Accepts one column or a list like the reference.  Fractional-second
    epochs keep microsecond precision (pandas ``unit='s'`` keeps ns;
    integer epochs are exact either way)."""
    return df.withColumns(
        {
            c: F.timestamp_micros(
                F.round(F.col(c).cast("double") * 1e6).cast("long")
            )
            for c in resolve_columns(df, column_name)
        }
    )


_STRFTIME_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%j": "DDD",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE", "%p": "a",
    "%%": "%",
}


def strftime_to_java(format: str | None) -> str | None:
    """Translate strftime directives (``%Y-%m-%d`` …) to Java datetime
    patterns when a ``%`` is present; Java-style patterns pass through."""
    if not format or "%" not in format:
        return format
    out, i = [], 0
    while i < len(format):
        tok = format[i : i + 2]
        if tok in _STRFTIME_TO_JAVA:
            out.append(_STRFTIME_TO_JAVA[tok])
            i += 2
        else:
            out.append(format[i])
            i += 1
    return "".join(out)


def to_datetime(
    df: DataFrame,
    column_name: str,
    format: str | None = None,
    errors: str = "raise",
    dayfirst: bool = False,
    unit: str | None = None,
) -> DataFrame:
    """``pd.to_datetime`` passthrough (ref ``to_datetime.py:19-69``
    forwards its kwargs to ``pd.to_datetime``).

    Accepts either Spark/Java datetime patterns or the strftime codes the
    reference's pandas callers use (``%Y-%m-%d`` …).  Supported pandas
    kwargs: ``errors='coerce'`` (unparseable -> null, via
    ``try_to_timestamp``; the default ``'raise'`` surfaces the ANSI
    parse error), ``unit`` ('D'/'s'/'ms'/'us'/'ns' epoch numbers —
    double-precision arithmetic, exact to the microsecond), and
    ``dayfirst`` (tries day-month-year slash/dash patterns before the
    ISO default — the common reference usage; pandas' per-row format
    sniffing has no JVM analogue)."""
    if errors not in ("raise", "coerce"):
        raise ValueError(
            f"errors={errors!r} not supported (pandas deprecated 'ignore'; "
            "use 'raise' or 'coerce')"
        )
    col = F.col(column_name)
    if unit is not None:
        scale = {"D": 1.0 / 86400, "s": 1.0, "ms": 1e3, "us": 1e6, "ns": 1e9}
        if unit not in scale:
            raise ValueError(f"unsupported unit {unit!r}")
        expr = F.timestamp_seconds(col.cast("double") / F.lit(scale[unit]))
        return df.withColumn(column_name, expr)
    format = strftime_to_java(format)
    if format:
        candidates = [format]
    elif dayfirst:
        candidates = ["d/M/yyyy HH:mm:ss", "d/M/yyyy", "d-M-yyyy", None]
    else:
        candidates = [None]
    parsed = [
        F.try_to_timestamp(col, F.lit(f)) if f else F.try_to_timestamp(col)
        for f in candidates
    ]
    expr = F.coalesce(*parsed) if len(parsed) > 1 else parsed[0]
    if errors == "raise":
        # fail like pandas when a non-null input parses to nothing; the
        # guard rides the projection itself (no separate action)
        guard = F.assert_true(
            col.isNull() | expr.isNotNull(),
            F.concat(F.lit(f"to_datetime: unparseable value in {column_name!r}: "), col),
        )
        expr = F.when(guard.isNull(), expr)
    return df.withColumn(column_name, expr)


def truncate_datetime_dataframe(df: DataFrame, datepart: str) -> DataFrame:
    """Truncate ALL timestamp columns to year/month/day/hour/minute/second
    (ref ``truncate_datetime.py:10-77``)."""
    part = datepart.lower()
    if part not in ("year", "month", "day", "hour", "minute", "second"):
        raise ValueError(f"bad datepart {datepart!r}")
    ts_cols = [f.name for f in df.schema.fields if f.dataType.typeName() in ("timestamp", "timestamp_ntz")]
    return df.withColumns({c: F.date_trunc(part, F.col(c)) for c in ts_cols})


def bin_numeric(
    df: DataFrame,
    from_column_name: str,
    to_column_name: str,
    bins: int | list[float],
    labels: list[str] | None = None,
    right: bool = True,
    include_lowest: bool = False,
) -> DataFrame:
    """``pd.cut`` into labeled bins (ref ``bin_numeric.py:19-79``, which
    forwards ``right``/``include_lowest`` to ``pd.cut``).

    Explicit bin edges compile to a chained CASE WHEN (codegen), lazy;
    integer ``bins`` probes min/max with one aggregate then pd.cut's
    equal-width edges, including its boundary padding (0.1% of the
    range on the open end; ±0.1%·|x| when min == max) and its default
    label rendering (`_round_frac` at inferred precision ≥ 3, repr
    floats, int edges shown as ints unless ``include_lowest`` injects
    the float pad).  ``right=True`` bins are ``(lo, hi]``;
    ``right=False`` bins are ``[lo, hi)``.  The integer-``bins``
    aggregate runs through ``probe`` (with its ``share`` pin's stages on
    a replay-unstable input), and the output reads the probed frame."""
    if isinstance(bins, int) and bins < 1:
        raise ValueError("bins must be >= 1")

    import math

    def _round_frac(x: float, precision: int) -> float:
        # pandas.core.reshape.tile._round_frac — np.around, NOT python
        # round: np.around scales by 10**digits and rounds the product,
        # so for tiny magnitudes it can land one ulp away from the
        # correctly-rounded decimal (1.4e-45 → 1.3999999999999999e-45).
        # Label parity requires reproducing that exact arithmetic.
        if x == 0 or not math.isfinite(x):
            return x
        frac, whole = math.modf(x)
        if whole == 0:
            digits = -int(math.floor(math.log10(abs(frac)))) - 1 + precision
        else:
            digits = precision
        import numpy as np

        return float(np.around(x, digits))

    def _infer_prec(breaks: list[float]) -> int:
        # pandas _infer_precision: smallest precision >= 3 keeping the
        # rounded breaks unique; falls back to the base precision
        for prec in range(3, 20):
            rounded = [_round_frac(b, prec) for b in breaks]
            if len(set(rounded)) == len(rounded):
                return prec
        return 3

    def _fmt_breaks(breaks: list[float], adjust_first: bool = False) -> list[str]:
        # pandas tile.py _format_labels: precision is inferred on the
        # UNADJUSTED breaks, every break rounded at it, and only then is
        # 10**-precision subtracted from the first rounded break
        # (right-closed include_lowest)
        prec = _infer_prec(breaks)
        rounded = [_round_frac(b, prec) for b in breaks]
        if adjust_first:
            rounded[0] = rounded[0] - 10**-prec
        return [repr(r) for r in rounded]

    col = F.col(from_column_name)
    int_bins = isinstance(bins, int)
    if int_bins:
        df, (row,) = probe(df, lambda f: f.agg(F.min(col).alias("mn"), F.max(col).alias("mx")))
        lo, hi = float(row["mn"]), float(row["mx"])
        if lo == hi:
            pad = 0.001 * abs(lo) if lo != 0 else 0.001
            lo, hi = lo - pad, hi + pad
            edges = [lo + i * (hi - lo) / bins for i in range(bins + 1)]
        else:
            edges = [lo + i * (hi - lo) / bins for i in range(bins + 1)]
            rng_pad = (hi - lo) * 0.001
            if right:
                edges[0] -= rng_pad
            else:
                edges[-1] += rng_pad
    else:
        edges = [float(b) for b in bins]
    if labels is not None and len(labels) != len(edges) - 1:
        raise ValueError("labels must have len(bins)-1 entries")
    # pd.cut casts explicit bins to a common dtype before rendering the
    # interval labels: an all-int bin list prints "(0, 4]", any float in
    # the list promotes every edge to "(0.0, 4.0]"; include_lowest
    # injects the float 10^-precision pad, promoting int edges to float
    label_edges = list(edges)
    adjust_first = not int_bins and right and include_lowest
    if (
        not int_bins
        and not adjust_first
        and all(isinstance(b, int) and not isinstance(b, bool) for b in bins)
    ):
        shown = [str(int(e)) for e in label_edges]
    else:
        shown = _fmt_breaks(label_edges, adjust_first=adjust_first)
    expr = None
    for i in range(len(edges) - 1):
        lo_e, hi_e = edges[i], edges[i + 1]
        if right:
            lab = labels[i] if labels else f"({shown[i]}, {shown[i + 1]}]"
            cond = (col > F.lit(lo_e)) & (col <= F.lit(hi_e))
            if i == 0 and include_lowest and not int_bins:
                # int bins need no special case: the padded first edge
                # already sits strictly below the column minimum
                cond = (col >= F.lit(lo_e)) & (col <= F.lit(hi_e))
        else:
            lab = labels[i] if labels else f"[{shown[i]}, {shown[i + 1]})"
            cond = (col >= F.lit(lo_e)) & (col < F.lit(hi_e))
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    return df.withColumn(to_column_name, expr)


def quantile_bin(
    df: DataFrame,
    from_column_name: str,
    to_column_name: str,
    q: int,
    labels: list[str] | None = None,
) -> DataFrame:
    """Equal-frequency binning (the scalable ``pd.qcut`` analog missing
    from the reference, which only wraps ``pd.cut`` — ``bin_numeric``).

    Contract: bin(v) = ``floor((cnt_le(v) - 1) * q / n)`` where
    ``cnt_le(v)`` counts non-null rows with value ``<= v`` and ``n`` the
    non-null count — i.e. a tie group shares the bin of its LAST-ranked
    member (equal values can never split across bins; a heavy-hitter
    group lands in the upper of its candidate bins, mirroring
    ``pd.qcut(duplicates="drop")`` collapsing).  Deterministic — no RNG,
    no row-order dependence — hence engine-reproducible and
    oracle-checkable, unlike approx-percentile edges.  NULL values get a
    NULL bin (``pd.qcut`` NaN behavior).

    Scale shape: rank is computed on the DISTINCT values, not the rows
    (``utils.order.value_cdf``: an inclusive prefix sum of the value
    counts, no single-task stage), then one join back on value.  With
    ``k`` distinct values the heavy side of every stage is O(k), so a
    100 TB column with bounded cardinality bins at scan cost; a
    near-unique column degrades gracefully to the sort-based rank it
    would need anyway.

    The counts and the join-back read ``share(df)``.  Call-time jobs:
    the value counts' ``groupBy`` stage, and the ``share`` pin's stages
    on a replay-unstable input.
    """
    from ..utils.order import value_cdf

    if q < 1:
        raise ValueError("q must be >= 1")
    if labels is not None and len(labels) != q:
        raise ValueError("labels must have exactly q entries")
    df = share(df)
    binned = value_cdf(df, from_column_name).select(
        from_column_name,
        F.floor((F.col("__cum") - 1) * F.lit(float(q)) / F.col("__n")).alias(
            to_column_name
        ),
    )
    out = df.join(binned, on=from_column_name, how="left")
    if labels is not None:
        out = out.withColumn(
            to_column_name,
            F.element_at(
                F.array(*[F.lit(x) for x in labels]),
                (F.col(to_column_name) + 1).cast("int"),
            ),
        )
    return out.select(*df.columns, to_column_name)


def round_to_fraction(
    df: DataFrame, column_name: str, denominator: float, digits: int | None = None
) -> DataFrame:
    """Round to nearest 1/denominator (ref ``round_to_fraction.py:14-74``).

    ``bround``, not ``round``: the reference rounds via ``np.round``,
    which is half-to-EVEN — Spark's ``round`` is half-up, so exact .5
    multiples (1.25 at denominator 2) would land one step high
    (fuzz-pinned)."""
    if denominator <= 0:
        raise ValueError("denominator must be positive")
    col = F.bround(F.col(column_name) * denominator) / denominator
    if digits is not None:
        col = F.bround(col, digits)
    return df.withColumn(column_name, col)


def jitter(
    df: DataFrame,
    column_name: str,
    dest_column_name: str,
    scale: float,
    clip: tuple[float, float] | None = None,
    random_state: int | None = None,
    key_column: str | None = None,
) -> DataFrame:
    """Add gaussian noise, optional clip (ref ``jitter.py:13-110``).

    Two noise sources:

    * default — Spark ``randn`` (seedable but stream-order-dependent:
      a repartition changes which row gets which draw);
    * ``key_column=`` — DETERMINISTIC per-row Gaussian via Box-Muller
      over two md5-derived uniforms of the salted key (salt =
      ``random_state``).  The same row gets the same noise on any
      cluster layout, in any engine — the reproducible form a 100 TB
      re-run wants, and the one the correctness oracle can recompute
      (same pattern as ``deterministic_sample``).
    """
    if not isinstance(scale, (int, float)) or isinstance(scale, bool):
        raise TypeError("scale should be one of (<class 'int'>, <class 'float'>).")
    if scale <= 0:
        raise ValueError("`scale` must be a numeric value greater than 0.")
    numeric = ("integer", "long", "double", "float", "short", "byte", "decimal")
    if df.schema[column_name].dataType.typeName() not in numeric:
        raise TypeError(f"{column_name} must be a numeric column.")
    if clip is not None:
        clip = tuple(clip)
        if len(clip) != 2:
            raise ValueError("`clip` must be an iterable of length 2.")
        if clip[1] < clip[0]:
            raise ValueError("`clip[0]` must be less than or equal to `clip[1]`.")
    if key_column is not None:
        # u1, u2 from two disjoint 8-hex windows of one md5; +0.5 keeps
        # u1 strictly inside (0, 1) so ln(u1) is finite
        salt = "" if random_state is None else str(random_state)
        h = F.md5(
            F.concat(F.lit(f"jit:{salt}:"), F.col(key_column).cast("string"))
        )
        mod = F.lit(16 ** 8)
        u1 = (F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 0.5) / mod
        u2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("double") / mod
        two_pi = 2.0 * 3.141592653589793
        noise = F.sqrt(-2.0 * F.log(u1)) * F.cos(F.lit(two_pi) * u2)
    else:
        noise = F.randn(random_state) if random_state is not None else F.randn()
    col = F.col(column_name) + noise * F.lit(float(scale))
    if clip is not None:
        col = F.greatest(F.lit(float(clip[0])), F.least(F.lit(float(clip[1])), col))
    return df.withColumn(dest_column_name, col)


def min_max_scale(
    df: DataFrame,
    feature_range: tuple[float, float] = (0.0, 1.0),
    column_name: Any | None = None,
    jointly: bool = False,
) -> DataFrame:
    """Scale to feature range, per-column or jointly (ref
    ``min_max_scale.py:21-191``).  One 1-row min/max aggregate of all
    columns broadcast back to the rows, both reading ``share(df)``;
    call-time jobs: the ``share`` pin's stages on a replay-unstable
    input, else none.  Nulls are skipped like pandas' NaN: ``jointly``
    takes ``least``/``greatest`` of the column bounds, so an all-null
    column stays null and the others scale over their joint range."""
    lo_t, hi_t = float(feature_range[0]), float(feature_range[1])
    if hi_t <= lo_t:
        raise ValueError("feature_range must be (low, high) with high > low")
    cols = resolve_columns(df, column_name) if column_name is not None else [
        f.name for f in df.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float", "short", "byte", "decimal")
    ]
    if not cols:
        raise ValueError("min_max_scale: there are no numeric columns to scale")
    df = share(df)
    if jointly:
        mins = [F.min(F.col(c)) for c in cols]
        maxs = [F.max(F.col(c)) for c in cols]
        stats = df.agg(
            (F.least(*mins) if len(cols) > 1 else mins[0]).alias("__mn0"),
            (F.greatest(*maxs) if len(cols) > 1 else maxs[0]).alias("__mx0"),
        )
        bounds = {c: ("__mn0", "__mx0") for c in cols}
    else:
        bounds = {c: (f"__mn{i}", f"__mx{i}") for i, c in enumerate(cols)}
        stats = df.agg(
            *[F.min(F.col(c)).alias(bounds[c][0]) for c in cols],
            *[F.max(F.col(c)).alias(bounds[c][1]) for c in cols],
        )
    # pandas: (x - min) / 0 is 0/0 = NaN for a constant column (and an
    # all-null column stays null); under ANSI the naive division would
    # THROW, and any non-null stand-in would be an invented value.
    # Reference operation ORDER, min_max_scale.py:192: multiply by the
    # new range BEFORE dividing by the old — the two associations differ
    # by an ulp on some inputs (fuzz-pinned)
    updates = {
        c: F.when(
            F.col(mx) != F.col(mn),
            (F.col(c) - F.col(mn)) * F.lit(hi_t - lo_t) / (F.col(mx) - F.col(mn))
            + F.lit(lo_t),
        )
        for c, (mn, mx) in bounds.items()
    }
    return df.crossJoin(F.broadcast(stats)).withColumns(updates).drop(*stats.columns)


def factorize_columns(
    df: DataFrame, column_names: Any, suffix: str = "_enc", order_by: str | None = None
) -> DataFrame:
    """Integer codes per column (ref ``factorize_columns.py:12-66``).

    Default: deterministic sorted-order codes via ``dense_rank`` —
    documented divergence from pandas first-appearance order (SURVEY.md
    §2.7), which has no meaning without a row order.  With ``order_by``
    (any column that defines the frame's row order — the ``_row_order``
    contract, ``utils/order.py``), codes follow FIRST-APPEARANCE order
    exactly like ``pd.factorize``: per value, take ``min(order_by)``
    (one partial-agg shuffle over distinct values), then dense-rank the
    distinct frame by that first position.  Either way the ranking
    window runs over the value-DISTINCT frame only (bounded vocabulary,
    never the full data) and joins back broadcast.  Nulls get code -1
    like pandas.

    The codes and the rows read ``share(df)``; call-time jobs: the
    ``share`` pin's stages on a replay-unstable input, else none."""
    cols = resolve_columns(df, column_names)
    if order_by is not None and order_by not in df.columns:
        raise KeyError(f"order column {order_by!r} not in DataFrame")
    df = share(df)
    out = df
    for c in cols:
        # dense_rank over a value-distinct frame, broadcast-joined back:
        # avoids a global single-task window over the full data.
        if order_by is not None:
            firsts = (
                df.where(F.col(c).isNotNull())
                .groupBy(c)
                .agg(F.min(order_by).alias("__first_pos"))
            )
            # tie-break by value: two values first appearing at the same
            # order key have no defined pandas order — keep it deterministic
            w = Window.orderBy(F.col("__first_pos"), F.col(c))
            codes = firsts.withColumn(
                f"{c}{suffix}", F.dense_rank().over(w) - 1
            ).drop("__first_pos")
        else:
            w = Window.orderBy(F.col(c))
            codes = (
                df.select(c).where(F.col(c).isNotNull()).distinct()
                .withColumn(f"{c}{suffix}", F.dense_rank().over(w) - 1)
            )
        out = out.join(F.broadcast(codes), on=c, how="left")
        out = out.withColumn(f"{c}{suffix}", F.coalesce(F.col(f"{c}{suffix}"), F.lit(-1)))
    return out


def label_encode(
    df: DataFrame, column_names: Any, order_by: str | None = None
) -> DataFrame:
    """Deprecated alias of factorize_columns (ref ``label_encode.py``).
    The reference's codes follow FIRST APPEARANCE; pass ``order_by``
    (the ``_row_order`` contract) to reproduce that — without it codes
    are deterministic sorted-order (the documented divergence)."""
    return factorize_columns(df, column_names, suffix="_enc", order_by=order_by)


def encode_categorical(df: DataFrame, column_names: Any = None, **kwargs: Any) -> DataFrame:
    """Categorical dtype is metadata-only on Spark (strings stay strings;
    ref ``encode_categorical.py:16-166``).  Category lists for
    ``complete``/``pivot_wider`` expansion are passed to those verbs
    directly.  Identity on the data, but the reference's argument
    contract is enforced so misuse fails the same way
    (``encode_categorical.py:114-117`` mutual exclusion,
    ``:168-230`` kwarg checks)."""
    if column_names is not None and kwargs:
        raise ValueError("Only one of `column_names` or `kwargs` can be provided.")
    if column_names is not None:
        resolve_columns(df, column_names)
        return df
    missing = set(kwargs) - set(df.columns)
    if missing:
        raise ValueError(f"{sorted(missing)} not present in dataframe columns!")
    for column_name, value in kwargs.items():
        if value is None:
            continue
        if isinstance(value, str):
            if value not in ("sort", "appearance"):
                raise ValueError(
                    f"category order argument for {column_name} should be "
                    "'appearance' or 'sort'."
                )
            continue
        if not isinstance(value, (list, tuple, set)) and not hasattr(value, "__array__"):
            raise TypeError(f"{value} should be list-like or a string.")
        seq = list(value)
        if not seq:
            raise ValueError(
                "Kindly ensure there is at least one non-null value "
                "in the array provided."
            )
        if any(v is None for v in seq):
            raise ValueError("Kindly ensure there are no nulls in the array provided.")
        if len(set(seq)) != len(seq):
            raise ValueError(
                "Kindly provide unique, non-null values for the array provided."
            )
    return df


def unionize_dataframe_categories(
    *dataframes: DataFrame, column_names: Any = None
) -> list[DataFrame]:
    """Union categorical dtypes across frames before concatenation (ref
    ``functions/utils.py:40-137``).

    Spark categoricals are plain strings (SURVEY.md §1.4) — a union of
    string columns never degrades to a wider dtype, so no category-set
    reconciliation is needed.  Validates inputs and returns them
    unchanged; kept so reference pipelines run verbatim."""
    if not dataframes:
        raise ValueError("pass at least one DataFrame")
    for d in dataframes:
        if not isinstance(d, DataFrame):
            raise TypeError("inputs must be Spark DataFrames")
    return list(dataframes)


def concatenate_columns(
    df: DataFrame,
    column_names: Any,
    new_column_name: str,
    sep: str = "-",
    ignore_empty: bool = True,
) -> DataFrame:
    """String-concat N cols (ref ``concatenate_columns.py:12-75``).

    Follows the reference's DOCUMENTED semantics — nulls become empty
    strings, and ``ignore_empty`` drops empty segments (``concat_ws``
    natively) — not its ``astype(str)`` wart that renders None as the
    literal string ``"None"`` before ``fillna`` can catch it
    (``concatenate_columns.py:61-62``)."""
    cols = resolve_columns(df, column_names)
    if len(cols) < 2:
        raise ValueError("at least two columns")
    if ignore_empty:
        # concat_ws skips nulls; also strip genuinely-empty strings so
        # their separators collapse, as remove_empty_string does
        parts = [
            F.when(F.col(c).cast("string") == "", None)
            .otherwise(F.col(c).cast("string"))
            for c in cols
        ]
        expr = F.concat_ws(sep, *parts)
    else:
        expr = F.concat_ws(
            sep, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
        )
    return df.withColumn(new_column_name, expr)


def deconcatenate_column(
    df: DataFrame,
    column_name: str,
    new_column_names: list[str] | None = None,
    sep: str | None = None,
    pattern: str | None = None,
    preserve_position: bool = False,
    autoname: str | None = None,
) -> DataFrame:
    """Split one col into N (ref ``deconcatenate_column.py:14-151``).

    With ``autoname`` alone the output WIDTH comes from the data (the
    reference reads it off the expanded frame): one bounded
    ``max(size(split(...)))`` aggregate run by ``probe``, same contract
    as ``expand_column``."""
    if sep is None and pattern is None:
        raise ValueError("provide sep or pattern")
    import re as _re

    split_pat = pattern if pattern is not None else _re.escape(sep)
    arr = F.split(F.col(column_name), split_pat)
    if new_column_names is None:
        if not autoname:
            raise ValueError("provide new_column_names or autoname")
        df, (row,) = probe(df, lambda f: f.agg(F.max(F.size(arr))))
        width = row[0] or 0
        new_column_names = list(range(width))
    if autoname:
        new_column_names = [f"{autoname}{i + 1}" for i in range(len(new_column_names))]
    # F.get, not getItem: under ANSI mode (Spark 4 default) getItem
    # THROWS on a ragged row with fewer parts; get returns NULL — the
    # pandas split behavior
    updates = {
        name: F.get(arr, i) for i, name in enumerate(new_column_names)
    }
    out = df.withColumns(updates)
    if preserve_position:
        # insert the new columns at the source column's position
        idx = df.columns.index(column_name)
        cols = [c for c in df.columns if c != column_name]
        cols[idx:idx] = new_column_names
        out = out.select(*cols)
    return out


def expand_column(
    df: DataFrame, column_name: str, sep: str = "|", concat: bool = True
) -> DataFrame:
    """One-hot expand a delimited string col (ref ``expand_column.py:13-85``
    == ``str.get_dummies``).  One bounded distinct query learns the
    token vocabulary (schema-from-data, SURVEY.md §4), then pure
    ``array_contains`` expressions — no explode/pivot shuffle.  ``probe``
    runs the vocabulary query (with its ``share`` pin's stages on a
    replay-unstable input), and the output reads the probed frame."""
    import re as _re

    arr = F.split(F.col(column_name), _re.escape(sep))
    df, toks = probe(
        df,
        lambda f: f.select(F.explode(arr).alias("t"))
        .where(F.col("t") != "")
        .distinct()
        .orderBy("t"),
    )
    clash = [r["t"] for r in toks if r["t"] in df.columns]
    if clash and concat:
        # the reference's join raises the same way ("columns overlap")
        raise ValueError(
            f"expand_column: dummy column(s) {clash} collide with existing "
            "columns"
        )
    # null input rows one-hot to all-zeros like str.get_dummies (NaN has
    # no tokens), so the dummies never carry nulls downstream
    updates = {
        r["t"]: F.coalesce(F.array_contains(arr, r["t"]).cast("int"), F.lit(0))
        for r in toks
    }
    out = df.withColumns(updates)
    if not concat:
        out = out.select(*updates.keys())
    return out


# hard cap on list-form add_column: the values become ONE array literal
# in the plan, so this path is for small reference lists only — a larger
# sequence belongs in a DataFrame join (or a parquet side table)
_ADD_COLUMN_MAX_VALUES = 10_000


def add_column(df: DataFrame, column_name: str, value: Any, fill_remaining: bool = False) -> DataFrame:
    """Append a scalar/expression/iterable column (ref
    ``add_columns.py:18-145``).

    * scalar or ``Column`` — a pure projection, any size.
    * list/tuple of values — pandas parity via the zip-with-order form:
      a ``positional_index`` (partition-offset pattern, no single-task
      stage) indexes into the values array; ``fill_remaining=True``
      cycles the values when shorter than the frame (ref
      ``add_columns.py:96-118``), otherwise the length must equal the
      row count: ``probe`` runs one count aggregate, and the index is
      built from the probed frame.  "Row
      order" is the frame's current order per the ``_row_order``
      contract (``utils/order.py``).  Bounded at
      ``_ADD_COLUMN_MAX_VALUES`` values — the list rides the plan as an
      array literal, so a longer sequence should be joined as a
      DataFrame instead (the error says so)."""
    if isinstance(value, Column):
        return df.withColumn(column_name, value)
    if isinstance(value, (list, tuple)) or type(value).__name__ == "ndarray":
        vals = list(value)
        if not vals:
            raise ValueError("add_column: empty values iterable")
        if len(vals) > _ADD_COLUMN_MAX_VALUES:
            raise ValueError(
                f"add_column: {len(vals)} values exceeds "
                f"{_ADD_COLUMN_MAX_VALUES}; join a DataFrame on a key "
                f"instead of inlining the sequence into the plan"
            )
        from ..utils.order import positional_index

        arr = F.array(*[F.lit(v) for v in vals])
        if fill_remaining:
            idx = (F.col("__add_pos") % F.lit(len(vals))) + 1
        else:
            df, ((n_rows,),) = probe(df, lambda f: f.agg(F.count(F.lit(1))))
            if n_rows != len(vals):
                raise ValueError(
                    f"add_column: {len(vals)} values for {n_rows} rows; "
                    f"pass fill_remaining=True to cycle"
                )
            idx = F.col("__add_pos") + 1
        d = positional_index(df, "__add_pos")
        return d.withColumn(
            column_name, F.element_at(arr, idx.cast("int"))
        ).drop("__add_pos")
    return df.withColumn(column_name, F.lit(value))


def add_columns(
    df: DataFrame, fill_remaining: bool = False, **kwargs: Any
) -> DataFrame:
    """Append several scalar/expression/iterable columns (ref
    ``add_columns.py:146-200``).  Iterable values route through
    :func:`add_column` (zip-with-order; ``fill_remaining=True``
    cycles short sequences like the reference)."""
    out = df
    scalars = {}
    for k, v in kwargs.items():
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            out = add_column(out, k, v, fill_remaining=fill_remaining)
        else:
            scalars[k] = v if isinstance(v, Column) else F.lit(v)
    return out.withColumns(scalars) if scalars else out


def winsorize(
    df: DataFrame,
    column_name: str,
    dest: str | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Clip a numeric column to its [``lower``, ``upper``] empirical
    quantiles — the standard outlier-taming transform before scaling /
    feature extraction.  In-place when ``dest`` is None; NULL passes
    through.

    Cutpoint definition (deterministic, engine-reproducible, no
    interpolation): the ``q`` cutpoint is the smallest value ``v`` with
    ``cnt_le(v) / n >= q`` — the inclusive empirical CDF, the same
    tie-safe contract :func:`quantile_bin` uses (approx-percentile
    edges would not be oracle-checkable).

    Scale shape: both cutpoints are ONE bounded row from
    :func:`quantiles`, broadcast back to the rows.  The cutpoints and
    the rows read ``share(df)``; call-time jobs as :func:`quantile_bin`.
    """
    if not (0.0 <= lower <= upper <= 1.0):
        raise ValueError("need 0 <= lower <= upper <= 1")
    df = share(df)
    col = F.col(column_name)
    cuts = quantiles(df, column_name, [lower, upper]).select(
        F.col("q_0").alias("__lo"), F.col("q_1").alias("__hi")
    )
    out = df.crossJoin(F.broadcast(cuts)).withColumn(
        dest or column_name,
        F.when(
            col.isNotNull(),
            F.least(F.greatest(col, F.col("__lo")), F.col("__hi")),
        ),
    )
    return out.drop("__lo", "__hi")


def quantiles(df: DataFrame, column_name: str, qs: list[float]) -> DataFrame:
    """Exact empirical quantiles of a numeric column as ONE bounded row
    (columns ``q_0, q_1, ...`` in ``qs`` order) — the cut engine behind
    :func:`winsorize` / :func:`robust_scale`, exposed for reuse.

    Each quantile is the smallest value whose inclusive ECDF reaches
    ``q`` (tie-safe, deterministic, engine-reproducible — see
    :func:`quantile_bin`).  Cost: ``utils.order.value_cdf`` (whose
    ``groupBy`` stage the call runs) and one 1-row aggregate over it;
    never a raw-row sort or global window.
    """
    from ..utils.order import value_cdf

    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    frac = F.col("__cum") / F.col("__n")
    return value_cdf(df, column_name).agg(
        *[
            F.min(
                F.when(frac >= F.lit(float(q)), F.col(column_name))
            ).alias(f"q_{i}")
            for i, q in enumerate(qs)
        ]
    )


def robust_scale(
    df: DataFrame,
    column_name: str,
    dest: str | None = None,
) -> DataFrame:
    """Median/IQR scaling: ``(x - median) / (q75 - q25)`` — the
    outlier-robust alternative to :func:`min_max_scale` / ``z_score``
    (a handful of extreme values cannot move the center or the scale).
    Quantiles use the tie-safe ECDF definition of :func:`quantiles`;
    a zero IQR (constant-dominated column) yields NULL rather than an
    ANSI divide-by-zero; NULL passes through.  One bounded 1-row
    quantile aggregate broadcast over the rows, both reading
    ``share(df)``; call-time jobs as :func:`quantile_bin`.
    """
    df = share(df)
    cuts = quantiles(df, column_name, [0.25, 0.5, 0.75]).select(
        F.col("q_0").alias("__q1"),
        F.col("q_1").alias("__med"),
        F.col("q_2").alias("__q3"),
    )
    col = F.col(column_name)
    iqr = F.col("__q3") - F.col("__q1")
    out = df.crossJoin(F.broadcast(cuts)).withColumn(
        dest or column_name,
        F.when(
            col.isNotNull() & (iqr != 0), (col - F.col("__med")) / iqr
        ),
    )
    return out.drop("__q1", "__med", "__q3")
