"""Deterministic, hash-based sampling for reproducible training-data
pipelines.

``df.sample()`` is seed-dependent on partitioning (a repartition changes
which rows you get), which makes pipeline re-runs non-reproducible at
cluster scale.  These verbs key the keep/drop decision on a hash of the
ROW's identity instead: the same row always makes the same decision, on
any cluster layout, in any engine (md5 is engine-portable, so the DuckDB
oracle recomputes the identical sample).

No reference analog (pyjanitor's ``shuffle``/``jitter`` are RNG-based);
this is the 100 TB-pipeline replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import probe

__all__ = [
    "deterministic_sample",
    "stratified_sample",
    "split_train_holdout",
    "mix_corpora",
    "take_token_budget",
    "weighted_sample",
]

_MOD = 1_000_000


def _hash_bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 1e6) from md5 of the salted key — first 8
    hex chars = 32 uniform bits, mod 1e6."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _MOD


def deterministic_sample(
    df: DataFrame,
    column_name: str,
    fraction: float,
    salt: str = "",
    dest: str | None = None,
) -> DataFrame:
    """Keep each row iff ``hash(salt:key) mod 1e6 < fraction*1e6``.

    Per-row expression, no shuffle, no RNG — rerunning on a different
    partitioning/cluster yields byte-identical output.  ``dest`` keeps
    all rows and adds a boolean flag instead of filtering."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    keep = _hash_bucket(F.col(column_name), salt) < F.lit(int(fraction * _MOD))
    if dest is not None:
        return df.withColumn(dest, keep)
    return df.filter(keep)


def stratified_sample(
    df: DataFrame,
    strata_column: str,
    key_column: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (the reproducible analog of
    ``df.sampleBy``) — e.g. downsample web text to 10% but keep 100% of
    books.  ``fractions`` maps stratum value -> keep fraction."""
    bad = {k: v for k, v in fractions.items() if not 0.0 <= v <= 1.0}
    if bad or not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"fractions must be in [0, 1]; bad: {bad or default_fraction}")
    bucket = _hash_bucket(F.col(key_column), salt)
    thresh = F.lit(int(default_fraction * _MOD))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_column) == F.lit(value), F.lit(int(frac * _MOD))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def split_train_holdout(
    df: DataFrame,
    column_name: str,
    holdout_fraction: float = 0.01,
    salt: str = "split",
    dest: str = "is_holdout",
) -> DataFrame:
    """Stable train/holdout assignment: the same document lands on the
    same side across pipeline versions (critical for decontamination —
    a holdout doc must never drift into training data on a re-run)."""
    if not 0.0 < holdout_fraction < 1.0:
        raise ValueError("holdout_fraction must be in (0, 1)")
    return df.withColumn(
        dest, _hash_bucket(F.col(column_name), salt) < F.lit(int(holdout_fraction * _MOD))
    )


def mix_corpora(
    df: DataFrame,
    source_column: str,
    key_column: str,
    proportions: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Rebalance a multi-source corpus to target mixture PROPORTIONS —
    the training-data mixing step ("20% code, 30% books, 50% web"):
    downsample each source deterministically so the OUTPUT proportions
    match ``proportions``, keeping as much total data as feasible.

    The binding source is the one whose available rows run out first at
    the target mix: feasible total ``N = min_s(n_s / p_s)``; each source
    then keeps ``f_s = p_s * N / n_s`` of its rows via the same
    md5-bucket rule as :func:`deterministic_sample` (layout-stable,
    engine-reproducible).  Sources absent from ``proportions`` are
    DROPPED.  One bounded per-source count aggregate (len(proportions)
    rows) plus a single filter pass — no shuffle of the data itself.
    The count is a :func:`~pyjanitor_spark.utils.pin.probe` and the
    sample is drawn from the probed frame, so both read one run of
    ``df``.  Call-time jobs: the probe (the pin's stages on a
    replay-unstable input, then the per-source ``collect``).

    Proportions must be positive and sum to ~1 (tolerance 1e-6).
    Expected realized mix error is the sampler's binomial noise,
    O(1/sqrt(n_s * f_s)) per source.
    """
    if not proportions:
        raise ValueError("proportions must be non-empty")
    if any(p <= 0 for p in proportions.values()):
        raise ValueError("proportions must be positive (drop a source by omitting it)")
    total = sum(proportions.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"proportions must sum to 1, got {total}")
    # bounded: one row per source in `proportions`
    df, rows = probe(
        df.filter(F.col(source_column).isin(list(proportions))),
        lambda f: f.groupBy(source_column).agg(F.count(F.lit(1)).alias("__n")),
    )
    counts = {r[source_column]: r["__n"] for r in rows}
    missing = sorted(set(proportions) - set(counts))
    if missing:
        raise ValueError(f"sources not present in data: {missing}")
    n_target = min(counts[s] / p for s, p in proportions.items())
    fractions = {
        s: min(1.0, (p * n_target) / counts[s]) for s, p in proportions.items()
    }
    return stratified_sample(
        df, source_column, key_column, fractions, default_fraction=0.0, salt=salt
    )


def weighted_sample(
    df: DataFrame,
    weight_column: str,
    k: int,
    key_column: str,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement of ``k`` rows
    (Efraimidis–Spirakis A-ES): each
    row gets priority ``ln(u) / w`` with ``u`` a uniform in (0, 1)
    derived from ``md5(salt:key)``; the ``k`` rows with the LARGEST
    priorities are distributed exactly as sequential weighted draws
    without replacement (Efraimidis & Spirakis 2006, u^(1/w) in log
    space).

    The quality-weighted corpus subset op ("sample 1M docs by quality
    score"): one scan + TakeOrdered top-k — no shuffle, no RNG state,
    layout- and rerun-stable like :func:`deterministic_sample`, and the
    md5-derived uniforms are engine-portable (the DuckDB oracle
    recomputes the identical sample).

    Rows with a NULL or non-positive weight are excluded — a zero
    weight can never be drawn; pandas ``sample(weights=)`` raises on
    negatives, but a distributed expression path cannot validate
    per-row without an extra full scan, so they are filtered
    (documented divergence).  Ties (identical priorities) break on the
    key column.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_column).cast("string")))
    # 13 hex nibbles = 52 uniform bits: exact in BIGINT and DOUBLE
    u = (
        F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint").cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**52))
    w = F.col(weight_column).cast("double")
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__ws_pri", F.log(u) / w)
        .orderBy(F.col("__ws_pri").desc(), F.col(key_column).asc())
        .limit(k)
        .drop("__ws_pri")
    )


def take_token_budget(
    df: DataFrame,
    column_name: str,
    budget: int,
    order_by: str,
    mode: str = "whitespace",
    dest: str | None = None,
) -> DataFrame:
    """Keep rows, in ``order_by`` order, while the RUNNING token total
    stays within ``budget`` — "give me the first 10B tokens of this
    corpus" (epoch sizing, curriculum prefixes, budget-capped exports).

    A row is kept iff the cumulative token count up to and including it
    is <= ``budget``, so the kept set never exceeds the budget (the
    boundary row that would cross it is dropped).  Running total rides
    :func:`~pyjanitor_spark.utils.order.partitioned_cumsum` — range
    repartition + per-partition partials + broadcast offsets, no
    single-task stage.  ``dest`` keeps every row and adds the
    cumulative-token column instead of filtering.  The running sum
    carries every column, so ``partitioned_cumsum`` pins its
    range-exchanged frame: under adaptive query execution the call
    runs the upstream's shuffle stages and the range exchange.
    """
    from pyjanitor_spark.operators.text_analysis import tokens
    from pyjanitor_spark.utils.order import partitioned_cumsum

    if budget < 0:
        raise ValueError("budget must be >= 0")
    if order_by not in df.columns:
        raise KeyError(f"order column {order_by!r} not in DataFrame")
    cum_col = dest or "__cum_tokens"
    with_n = df.withColumn(
        "__n_tok", F.size(tokens(F.col(column_name), mode))
    )
    cum = partitioned_cumsum(with_n, "__n_tok", order_by, cum_col).drop("__n_tok")
    if dest is not None:
        return cum
    return cum.filter(F.col(cum_col) <= F.lit(int(budget))).drop(cum_col)
