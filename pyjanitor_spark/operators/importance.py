"""Data-selection importance weighting for training-data pipelines.

DSIR (Data Selection with Importance Resampling, Xie et al. 2023,
arXiv:2302.03169) scores each source document by how much more likely
its hashed n-gram profile is under a TARGET domain corpus than under
the source corpus; resampling source data proportionally to
``exp(logw)`` shifts the mixture toward the target domain.  The
standard recipe: ``dsir_weights`` -> ``weighted_sample`` (or a
threshold filter).

The reference has no analogue; this is a training-data pipeline
extension (build brief) in the :mod:`classify`/:mod:`sampling` family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.operators.text_analysis import word_shingles
from pyjanitor_spark.utils.pin import probe, share

__all__ = ["dsir_weights"]

# order-independent exact summation (double addition is order-dependent
# across partitions; same rule as classify._DEC)
_DEC = "decimal(27,18)"


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    column_name: str,
    id_col: str,
    n: int = 2,
    num_buckets: int = 4096,
    k: float = 0.5,
    dest: str = "dsir_logw",
) -> DataFrame:
    """Attach DSIR hashed importance LOG-weights: ``logw(doc) = Σ_gram
    [ ln p_target(bucket) − ln p_source(bucket) ]`` over the doc's
    (lowercased, whitespace-token) word ``n``-grams, each gram hashed
    into ``num_buckets`` md5 buckets, both distributions add-``k``
    smoothed.

    ``df`` IS the source corpus (every scored gram bucket is present in
    the source counts by construction); ``target`` is the domain you
    want more of — typically a small curated frame with the same text
    column.  Documents with no grams get ``logw = 0``.

    Plan (100 TB shape): one tokenize pass over each corpus into
    ≤ ``num_buckets``-row count tables, one bounded 1-row total per
    side, a ≤ ``num_buckets``-row log-ratio table BROADCAST-joined to
    the exploded source grams, and one groupBy-sum per doc in DECIMAL
    (layout-independent) — no collect of anything unbounded.  The
    source counts, the per-doc grams and the join-back read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``.

    Call-time jobs: the ``share`` pin's stages on a replay-unstable
    ``df``, then one :func:`~pyjanitor_spark.utils.pin.probe` of the
    joined count tables (their shuffle stages and a one-row ``collect``
    of the totals), so the totals and the ratio table read one run.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if num_buckets < 2:
        raise ValueError("num_buckets must be >= 2")
    if k <= 0:
        raise ValueError("smoothing k must be > 0")

    def gram_buckets(frame, *keep):
        g = F.explode(
            word_shingles(F.lower(F.col(column_name)), n, distinct=False)
        ).alias("__g")
        h = F.md5(F.col("__g"))
        b = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % num_buckets
        return frame.select(*keep, g).select(*keep, b.alias("__b"))

    df = share(df)
    src = gram_buckets(df).groupBy("__b").agg(F.count(F.lit(1)).alias("__cs"))
    tgt = gram_buckets(target).groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
    # bounded: one row (sums over <= num_buckets rows)
    joined, (tot,) = probe(
        src.join(tgt, "__b", "full").na.fill(0, ["__cs", "__ct"]),
        lambda j: j.agg(F.sum("__cs").alias("s"), F.sum("__ct").alias("t")),
    )
    S, T = int(tot["s"] or 0), int(tot["t"] or 0)
    if T == 0:
        raise ValueError("target corpus has no n-grams to estimate from")
    kb = float(k * num_buckets)
    table = joined.select(
        "__b",
        (
            F.log((F.col("__ct") + F.lit(float(k))) / F.lit(T + kb))
            - F.log((F.col("__cs") + F.lit(float(k))) / F.lit(S + kb))
        ).alias("__lr"),
    )
    perdoc = (
        gram_buckets(df, F.col(id_col))
        .join(F.broadcast(table), "__b", "left")
        .groupBy(id_col)
        .agg(F.sum(F.col("__lr").cast(_DEC)).alias("__logw_dec"))
    )
    return (
        df.join(perdoc, id_col, "left")
        .withColumn(
            dest, F.coalesce(F.col("__logw_dec").cast("double"), F.lit(0.0))
        )
        .drop("__logw_dec")
    )
