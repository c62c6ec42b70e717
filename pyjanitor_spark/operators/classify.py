"""Text classification for corpus filtering: multinomial Naive Bayes.

The classic training-data quality/domain classifier (the linear-model
family CCNet/fastText-style filters come from), expressed entirely as
DataFrame aggregations — no iterative optimization, so training is two
shuffles and scoring is one join + one pivot regardless of corpus size.

The reference has no classifier; this is a training-data pipeline
extension (see build brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.operators.text_analysis import tokens
from pyjanitor_spark.utils.local import local_frame
from pyjanitor_spark.utils.pin import probe, share

__all__ = ["nb_train", "nb_score"]

# decimal type for order-independent exact summation of per-token log
# likelihoods (double addition is order-dependent across partitions)
_DEC = "decimal(27,18)"


def _toks(col):
    t = tokens(F.lower(col))
    return F.filter(t, lambda x: x != "")


def nb_train(
    df: DataFrame,
    text_col: str,
    label_col: str,
    k: float = 1.0,
    min_count: int = 1,
) -> DataFrame:
    """Train a multinomial Naive Bayes model over lowercased whitespace
    tokens with add-``k`` smoothing.

    Returns a persistable MODEL FRAME: one row per (token, label) for
    every vocabulary token × label — ``llk = ln((c(token,label) + k) /
    (n_label + k·V))`` — plus one PRIOR row per label with
    ``token = NULL`` and ``llk = ln(docs_label / docs_total)``.
    ``min_count`` prunes vocabulary by total corpus count (hapax tokens
    dominate model size at corpus scale, same rationale as
    ``ngram_lm_score``).

    Null-labeled rows are DROPPED from training (the pandas groupby
    convention this package follows everywhere: NaN keys form no group).

    Plan: the per-class doc-count aggregate is the one
    :func:`~pyjanitor_spark.utils.pin.probe` of the labeled rows (its
    bounded one-row-per-class ``collect`` also yields the label list
    and the doc total), and the tokenize pass into (label, token)
    counts reads the probed frame, so both see one run of ``df``; the
    dense vocab × label grid is an ``explode`` over the driver-known
    label list — no corpus cross join; class totals join back by label
    (tiny, broadcast), and ``k·V`` rides the plan as a broadcast
    one-row aggregate rather than a blocking driver ``count()``.

    Call-time jobs: the probe (the pin's stages on a replay-unstable
    ``df``, then the per-class ``collect``).
    """
    if k <= 0:
        raise ValueError("smoothing k must be > 0")
    lab = F.col(label_col).cast("string")
    # bounded: one row per class; also carries the label list + doc total
    labeled, ndoc_rows = probe(
        df.filter(lab.isNotNull()),
        lambda f: f.groupBy(lab.alias("label")).agg(F.count(F.lit(1)).alias("d")),
    )
    if not ndoc_rows:
        raise ValueError("nb_train: no non-null-labeled rows to train on")
    labels = sorted(r["label"] for r in ndoc_rows)
    total_docs = sum(r["d"] for r in ndoc_rows)
    toks = labeled.select(
        lab.alias("label"), F.explode(_toks(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("label", "token").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.groupBy("token")
        .agg(F.sum("c").alias("tc"))
        .filter(F.col("tc") >= min_count)
        .select("token")
    )
    # k·V is the same IEEE double product as a driver count would give
    # (V is exact in a double below 2^53), so llk is bit-identical
    vcount = vocab.agg(
        (F.lit(float(k)) * F.count(F.lit(1)).cast("double")).alias("__kV")
    )
    dense = vocab.select(
        "token", F.explode(F.array(*[F.lit(x) for x in labels])).alias("label")
    )
    grid = dense.join(counts, ["token", "label"], "left").na.fill(0, ["c"])
    totals = grid.groupBy("label").agg(F.sum("c").alias("n"))
    model = (
        grid.join(F.broadcast(totals), "label")
        .crossJoin(F.broadcast(vcount))
        .select(
            "token",
            "label",
            F.log((F.col("c") + F.lit(float(k))) / (F.col("n") + F.col("__kV"))).alias("llk"),
        )
    )
    # priors from the already-collected per-class counts; ln stays on
    # the JVM so the value matches the oracle's ln bit-for-bit
    priors = local_frame(
        df.sparkSession,
        [(r["label"], r["d"]) for r in ndoc_rows],
        "label string, d long",
    ).select(
        F.lit(None).cast("string").alias("token"),
        "label",
        F.log(F.col("d") / F.lit(float(total_docs))).alias("llk"),
    )
    return model.unionByName(priors)


def nb_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
    dest: str = "nb_pred",
    keep_scores: bool = False,
) -> DataFrame:
    """Score documents against an :func:`nb_train` model frame and
    attach the argmax-class prediction (ties break to the first label
    in sorted order — fully deterministic: per-class scores sum the
    token log-likelihoods in DECIMAL, so they are independent of row
    order and partitioning).

    Tokens outside the model vocabulary are skipped (the smoothed model
    is dense over vocabulary × labels, so every known token scores
    every class); a document with no known tokens gets the prior-only
    argmax.  ``keep_scores=True`` additionally attaches one
    ``nb_score_<label>`` double column per class.

    Plan: ONE equi-join of exploded tokens against the model and ONE
    pivot on the driver-known label list — no per-class scans, no
    nested loops.  The model is always the BROADCAST side: left to its
    own estimates Catalyst broadcasts the EXPLODED CORPUS TOKEN STREAM
    instead (explode passes the scan's size estimate through
    unchanged), collecting the probe side onto the driver — backwards
    at every scale.  The model is vocabulary × labels (bounded,
    ``min_count``-pruned).

    The token stream and the join-back read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``; the priors come
    from a :func:`~pyjanitor_spark.utils.pin.probe` of the model, and
    its token rows from the probed frame, so both read one run of a
    freshly trained model.  Call-time jobs: the model probe (the pin's
    stages on a replay-unstable model, such as :func:`nb_train`'s
    output, then a one-row-per-class ``collect``), and the ``share``
    pin's stages on a replay-unstable ``df``.
    """
    # bounded: one row per class
    model, prior_rows = probe(model, lambda m: m.filter(F.col("token").isNull()))
    if not prior_rows:
        raise ValueError("model frame carries no prior rows (token IS NULL)")
    if any(r["label"] is None for r in prior_rows):
        raise ValueError("model frame carries a null label")
    priors = {r["label"]: r["llk"] for r in prior_rows}
    labels = sorted(priors)
    mtok = F.broadcast(model.filter(F.col("token").isNotNull()))
    df = share(df)
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(_toks(F.col(text_col))).alias("token")
    )
    pivoted = (
        toks.join(mtok, "token")
        .groupBy("__id")
        .pivot("label", labels)
        .agg(F.sum(F.col("llk").cast(_DEC)))
    )
    # rename the pivot columns POSITIONALLY (pivot emits them in the
    # given label order): label values may contain dots or collide with
    # payload column names, so they never pass through F.col parsing
    safe = [f"__nb_{i}" for i in range(len(labels))]
    pivoted = pivoted.toDF("__id", *safe)
    out = df.join(
        pivoted.withColumnRenamed("__id", id_col), id_col, "left"
    )
    scores = {
        lab: (
            F.coalesce(F.col(safe[i]).cast("double"), F.lit(0.0))
            + F.lit(float(priors[lab]))
        )
        for i, lab in enumerate(labels)
    }
    # argmax with ties to the FIRST label: array_max over (score, -index)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    scores[lab].alias("s"), F.lit(-i).alias("r")
                )
                for i, lab in enumerate(labels)
            ]
        )
    )
    idx_to_label = F.element_at(
        F.array(*[F.lit(x) for x in labels]), -best["r"] + 1
    )
    out = out.withColumn(dest, idx_to_label)
    if keep_scores:
        out = out.withColumns(
            {f"nb_score_{lab}": scores[lab] for lab in labels}
        )
    return out.drop(*safe)
