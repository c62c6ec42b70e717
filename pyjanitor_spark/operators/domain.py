"""Domain packs (ref ``janitor/{finance,biology,engineering,chemistry}.py``)
re-expressed Spark-first, plus the deprecated ``join_apply`` and the
``toset`` / ``data_description`` conveniences.

Design: every domain verb resolves its tiny domain input (FASTA file,
unit factor, inflation rate) ON THE DRIVER, then applies it as a
broadcast join or a literal column expression — the 100 TB side of the
plan never sees the domain library.  Network-dependent reference verbs
(World Bank lookup in ``inflate_currency``, ``convert_stock``) accept
the resolved scalar directly so the engine stays offline-deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyjanitor_spark.utils.local import local_frame

__all__ = [
    "join_fasta",
    "convert_units",
    "inflate_currency",
    "convert_currency",
    "convert_stock",
    "get_symbol",
    "join_apply",
    "toset",
    "data_description",
    "skipna",
    "skiperror",
]


def _parse_fasta(path: str) -> list[tuple[str, str]]:
    """Minimal driver-side FASTA parser (id = token after '>', sequence =
    concatenated following lines).  Ref ``janitor/biology.py:22-78`` uses
    Biopython; the format is trivial enough to parse directly."""
    records: list[tuple[str, str]] = []
    name: str | None = None
    seq: list[str] = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            if line.startswith(">"):
                if name is not None:
                    records.append((name, "".join(seq)))
                name = line[1:].split()[0]
                seq = []
            else:
                seq.append(line)
    if name is not None:
        records.append((name, "".join(seq)))
    return records


def join_fasta(
    df: DataFrame,
    filename: str,
    id_col: str,
    column_name: str = "sequence",
) -> DataFrame:
    """Left-join sequences from a FASTA file by record id (ref
    ``janitor/biology.py:22-78``).

    The FASTA file is parsed on the driver (small by construction) and
    BROADCAST — the big side never shuffles."""
    recs = _parse_fasta(filename)
    fasta = local_frame(
        df.sparkSession, recs, f"`{id_col}` string, `{column_name}` string"
    )
    return df.join(F.broadcast(fasta), on=id_col, how="left")


# factor table for the offline path of convert_units; unyt (the
# reference's engine, janitor/engineering.py:22-89) is used when
# importable, this table otherwise.  Factors are exact SI definitions.
_UNIT_FACTORS: dict[tuple[str, str], float] = {
    ("m", "km"): 1e-3,
    ("km", "m"): 1e3,
    ("m", "cm"): 1e2,
    ("cm", "m"): 1e-2,
    ("g", "kg"): 1e-3,
    ("kg", "g"): 1e3,
    ("s", "ms"): 1e3,
    ("ms", "s"): 1e-3,
    ("mi", "km"): 1.609344,
    ("km", "mi"): 1 / 1.609344,
    ("lb", "kg"): 0.45359237,
    ("kg", "lb"): 1 / 0.45359237,
}


def convert_units(
    df: DataFrame,
    column_name: str,
    existing_units: str,
    to_units: str,
    dest_column_name: str | None = None,
) -> DataFrame:
    """Unit conversion (ref ``janitor/engineering.py:22-89``): resolve the
    scalar factor on the driver (unyt if installed, exact SI table
    otherwise), then one multiply expression — no UDF."""
    factor: float | None = None
    try:  # pragma: no cover - unyt not in this container
        import unyt  # type: ignore

        factor = float(unyt.unyt_quantity(1, existing_units).to(to_units).value)
    except Exception:
        factor = _UNIT_FACTORS.get((existing_units, to_units))
    if factor is None:
        raise ValueError(f"no conversion {existing_units!r} -> {to_units!r}")
    dest = dest_column_name or column_name
    return df.withColumn(dest, F.col(column_name) * F.lit(factor))


def inflate_currency(
    df: DataFrame,
    column_name: str,
    country: str | None = None,
    currency_year: int | None = None,
    to_year: int | None = None,
    rate: float | None = None,
) -> DataFrame:
    """Inflate a currency column to another year's value (ref
    ``janitor/finance.py:539-694``).

    The reference fetches the deflator from the World Bank API at call
    time (driver-side network).  This engine takes the resolved ``rate``
    multiplier directly (pass the deflator ratio); the optional
    country/year args are kept for API parity and used only to build the
    error message when ``rate`` is omitted."""
    if rate is None:
        raise ValueError(
            "inflate_currency needs rate= (the deflator multiplier); "
            f"resolve it driver-side for {country!r} "
            f"{currency_year}->{to_year} (network lookups are not done "
            "inside the engine)"
        )
    return df.withColumn(column_name, F.col(column_name) * F.lit(float(rate)))


def convert_currency(*args: Any, **kwargs: Any) -> None:
    """Deliberately unavailable, mirroring the reference: the backing
    exchange-rate API is dead and ``janitor/finance.py:407-436`` raises
    at call time.  Use :func:`inflate_currency` with a driver-resolved
    ``rate`` instead."""
    raise NotImplementedError(
        "convert_currency is disabled (upstream API no longer exists; the "
        "reference raises too).  Resolve a rate driver-side and use "
        "inflate_currency(df, col, rate=...)."
    )


def convert_stock(stock_symbol: str, company: dict[str, str] | None = None) -> str:
    """Stock ticker -> company name (ref ``janitor/finance.py:697-…``,
    a web lookup).  Network stays outside the engine: pass ``company``,
    a driver-resolved ``{symbol: name}`` mapping."""
    if company is None:
        raise ValueError(
            "convert_stock needs company= (a driver-resolved {symbol: name} "
            "mapping); the engine performs no network lookups"
        )
    return company[stock_symbol.upper()]


def get_symbol(company_name: str, symbols: dict[str, str] | None = None) -> str | None:
    """Company name -> ticker (ref ``janitor/finance.py:728-…``); the
    inverse of :func:`convert_stock`, same driver-resolved-mapping
    contract.  Returns None when not found (reference behavior)."""
    if symbols is None:
        raise ValueError(
            "get_symbol needs symbols= (a driver-resolved {name: symbol} "
            "mapping); the engine performs no network lookups"
        )
    for name, sym in symbols.items():
        if name.lower() == company_name.lower():
            return sym
    return None


def skipna(fn: Callable) -> Callable:
    """Wrap a scalar callable so nulls pass through untouched (ref
    ``janitor/utils.py:416-444``) — for ``transform_column``'s
    pandas_udf path, where the reference applies user fns to NaNs."""

    def wrapper(x: Any) -> Any:
        return None if x is None else fn(x)

    wrapper.__name__ = getattr(fn, "__name__", "skipna_wrapped")
    return wrapper


def skiperror(fn: Callable, return_x: bool = False, return_val: Any = None) -> Callable:
    """Wrap a scalar callable so exceptions yield ``return_val`` (or the
    input itself with ``return_x=True``) instead of failing the task
    (ref ``janitor/utils.py:447-485``).  At 100 TB a one-in-a-billion
    malformed value must not kill the job."""

    def wrapper(x: Any) -> Any:
        try:
            return fn(x)
        except Exception:
            return x if return_x else return_val

    wrapper.__name__ = getattr(fn, "__name__", "skiperror_wrapped")
    return wrapper


def join_apply(
    df: DataFrame,
    right: DataFrame,
    func: Callable,
    on: Any,
    how: str = "inner",
    new_column_name: str = "applied",
) -> DataFrame:
    """Join then apply a row-wise function (ref ``join_apply.py:10-75``,
    deprecated there).  ``func`` builds a Column expression from the
    joined frame; arbitrary Python callables belong in
    ``transform_column`` (pandas_udf path)."""
    joined = df.join(right, on=on, how=how)
    return joined.withColumn(new_column_name, func(joined))


def toset(df: DataFrame, column_name: str) -> set:
    """Distinct values of a column as a Python set (ref
    ``toset.py:18-51``).  Collect action by design — convenience only."""
    return {r[0] for r in df.select(column_name).distinct().collect()}


def data_description(
    df: DataFrame, descriptions: dict | list | None = None
) -> DataFrame:
    """Per-column summary with the reference accessor's exact column
    surface — ``column_name, type, count, pct_missing, description``
    (ref ``accessors/data_description.py:20-34``; the index there is
    ``column_name``, an ordinary column here).  ``descriptions`` mirrors
    ``set_description``: a dict ``{column: text}`` or a full-length
    list (length mismatch raises like the reference).

    ONE aggregate pass over the data (all per-column counts in a single
    job), reshaped driver-side into the small summary frame."""
    if isinstance(descriptions, list):
        if len(descriptions) != len(df.columns):
            raise ValueError(
                f"Length of description list ({len(descriptions)}) does "
                "not match number of columns in DataFrame "
                f"({len(df.columns)})"
            )
        desc = dict(zip(df.columns, descriptions))
    else:
        desc = descriptions or {}
    spark = df.sparkSession
    total_and_counts = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(F.col(c)).alias(c) for c in df.columns],
    ).head()
    n = total_and_counts["__n"]
    dtypes = dict(df.dtypes)
    rows = [
        (
            c,
            dtypes[c],
            int(total_and_counts[c]),
            float(1.0 - total_and_counts[c] / n) if n else 0.0,
            desc.get(c, ""),
        )
        for c in df.columns
    ]
    return local_frame(
        spark,
        rows,
        "column_name string, type string, count long, "
        "pct_missing double, description string",
    )
