"""Feature-hashing text vectorization (hashing-trick TF-IDF).

Turns a text column into fixed-dimension sparse/dense TF-IDF vectors
without any vocabulary fitting step — the "hashing trick" (Weinberger et
al., *Feature Hashing for Large Scale Multitask Learning*, ICML 2009):
token → ``md5`` → bucket in ``[0, dim)``.  No vocabulary means no
driver-side state, no second pass, and no 100 GB broadcast of a
billion-term dictionary — the classic scale failure of fitted
vectorizers.  Collisions are the accepted trade (bounded by ``dim``).

Everything is Column expressions + three aggregations:

1. ``explode`` tokens → ``groupBy(id, bucket)`` counts — the only
   full-size shuffle, keyed on (id, bucket) with map-side combine;
2. document frequency: ``groupBy(bucket)`` over the tf rows — output is
   at most ``dim`` rows, broadcast back;
3. (``as_vector=True`` only) ``groupBy(id)`` to assemble the dense
   array via ``map_from_entries`` + ``transform(sequence(...))``.

``md5``-based bucketing keeps the result engine-reproducible (the
DuckDB oracle recomputes identical buckets).  The long-form output
(``as_vector=False``) is the 100 TB shape — (id, bucket, weight) rows
feed joins and similarity ops without materializing dense arrays.

Output composes with ``similarity.cosine_topk`` / ``ivf_topk`` /
``lsh_bucket_topk`` and ``dedup.embedding_near_dup`` — an end-to-end
text → vector → ANN / near-dup pipeline with no external model.

No reference analog; part of the training-data pipeline pack.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.expr import let
from ..utils.pin import pin, share
from .text_analysis import BPE_ISH_PATTERN, tokens

__all__ = ["hashed_tfidf", "bm25_score"]


def hashed_tfidf(
    df: DataFrame,
    column_name: str,
    id_column: str,
    dim: int = 1024,
    dest: str = "tfidf",
    mode: str = "whitespace",
    lowercase: bool = True,
    l2_normalize: bool = False,
    as_vector: bool = True,
) -> DataFrame:
    """TF-IDF vectors over hashed token buckets.

    ``weight(d, b) = tf(d, b) * (ln((1 + N) / (1 + df(b))) + 1)`` —
    smoothed IDF (sklearn's ``smooth_idf`` formulation, public docs),
    where ``N`` counts documents with at least one token and ``df(b)``
    counts documents hitting bucket ``b``.

    * ``as_vector=True``: returns ``df`` with a dense
      ``array<double>`` column ``dest`` of length ``dim`` (docs with no
      tokens get the zero vector).  Feed this to the ANN ops.
    * ``as_vector=False``: returns long form ``(id_column, bucket,
      weight)`` — only non-zero entries, no dense materialization; the
      shape to keep at corpus scale when ``dim`` is large.
    * ``l2_normalize``: scale each document's weights to unit L2 norm
      (cosine similarity becomes a dot product) — one extra
      ``partitionBy(id)`` window, still fully parallel.

    With ``as_vector=True`` the tf table and the join-back read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``.  Call-time
    jobs: that ``share`` pin's stages on a replay-unstable input, and
    the tf pin's shuffle stage (adaptive query execution runs it when
    the pin is taken).
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    col = F.col(column_name)
    if lowercase:
        col = F.lower(col)
    tok = F.explode(F.filter(tokens(col, mode), lambda t: t != "")).alias("__tok")
    if as_vector:
        # the tf table and the join-back both read df
        df = share(df)
    exploded = df.select(F.col(id_column), tok)
    bucket = (
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10).cast("bigint")
        % F.lit(dim)
    ).alias("bucket")
    tf = exploded.select(id_column, bucket).groupBy(id_column, "bucket").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    # tf feeds three consumers (weighted, dfreq, ndocs) — unpinned, the
    # token explode + md5 bucketing + two-level aggregate would plan
    # three times; pinned, the corpus is tokenized once and the
    # (id, bucket, tf) table — at most docs x dim rows — is re-read
    tf = pin(tf)
    dfreq = tf.groupBy("bucket").agg(F.count(F.lit(1)).alias("__df"))
    ndocs = tf.agg(F.count_distinct(F.col(id_column)).alias("__n"))
    weighted = (
        tf.join(F.broadcast(dfreq), "bucket")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "weight",
            F.col("__tf")
            * (
                F.log((F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("__df")))
                + F.lit(1.0)
            ),
        )
    )
    if l2_normalize:
        from pyspark.sql import Window

        w = Window.partitionBy(id_column)
        weighted = weighted.withColumn(
            "weight",
            F.col("weight") / F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(w)),
        )
    long_form = weighted.select(id_column, "bucket", "weight")
    if not as_vector:
        return long_form

    dense = (
        long_form.groupBy(id_column)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("weight")))
            ).alias("__m")
        )
        .withColumn(
            dest,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0.0)),
            ),
        )
        .select(id_column, dest)
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    return (
        df.join(dense, on=id_column, how="left")
        .withColumn(dest, F.coalesce(F.col(dest), zero))
    )


def bm25_score(
    df: DataFrame,
    column_name: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    dest: str = "bm25",
    mode: str = "whitespace",
    lowercase: bool = True,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a literal ``query``
    (Robertson et al.; the Lucene ``+1`` idf form so scores are never
    negative) — the ranking half of a retrieval pipeline, next to the
    vector ANN ops.

    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with ``idf(t) = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1)``.

    Shape: the query's few terms become per-term ``tf`` expressions over
    the ``let``-bound token array (one split per row, zero shuffles on
    the data side); corpus statistics (N, avgdl, per-term df) are ONE
    tiny aggregate broadcast back.  No explode, no joins on the data.
    The statistics and the rows read ``share(df)``; call-time jobs: the
    ``share`` pin's stages on a replay-unstable input, else none.
    """
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("need k1 >= 0 and 0 <= b <= 1 (BM25 ranges)")
    if lowercase:
        query = query.lower()
    if mode == "whitespace":
        terms = [t for t in query.strip().split() if t]
    else:
        terms = re.findall(BPE_ISH_PATTERN, query)
    # de-dup, keep order: repeated query terms don't double-count in BM25
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("query has no tokens")
    col = F.lower(F.col(column_name)) if lowercase else F.col(column_name)

    def eq_term(term):
        # NB: a default-arg capture (lambda x, t=t: ...) would read as a
        # TWO-parameter lambda, which Spark's HOFs bind as (element,
        # index) — a closure keeps the arity at 1
        return lambda x: x == F.lit(term)

    def feats(tk):
        clean = F.filter(tk, lambda x: x != "")
        return let(
            clean,
            lambda c: F.struct(
                F.size(c).alias("dl"),
                *[
                    F.size(F.filter(c, eq_term(t))).alias(f"tf_{i}")
                    for i, t in enumerate(terms)
                ],
            ),
        )

    toks = F.coalesce(tokens(col, mode), F.array().cast("array<string>"))
    featured = share(df).withColumn("__f", let(toks, feats))
    stats = featured.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.col("__f.dl")).alias("__avgdl"),
        *[
            F.sum((F.col(f"__f.tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    norm = F.when(
        F.col("__avgdl") > 0,
        F.lit(1.0 - b) + F.lit(b) * (F.col("__f.dl") / F.col("__avgdl")),
    ).otherwise(F.lit(1.0))
    score = None
    for i in range(len(terms)):
        tf = F.col(f"__f.tf_{i}")
        idf = F.log(
            (F.col("__n") - F.col(f"__df_{i}") + 0.5) / (F.col(f"__df_{i}") + 0.5)
            + 1.0
        )
        part = idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm)
        score = part if score is None else score + part
    drop = ["__f", "__n", "__avgdl"] + [f"__df_{i}" for i in range(len(terms))]
    return (
        featured.crossJoin(F.broadcast(stats))
        .withColumn(dest, score)
        .drop(*drop)
    )
