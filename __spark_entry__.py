"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL for the correctness gate.

Column names are aliased identically on both sides (the driver sorts
columns by name before value-hashing).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import pyjanitor_spark as pj
from pyjanitor_spark.functions import math as pjm

KEYS = ["l_orderkey", "l_linenumber"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyjanitor_spark.sources import read_table

    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: clean_names -> filter_date -> window groupby_agg on
    sf0.001 lineitem (SURVEY.md §7 phase 0)."""
    li = _t(spark, "/root/testdata/sf0.001", "lineitem")
    out = (
        li.transform(lambda d: pj.clean_names(d))
        .transform(
            lambda d: pj.filter_date(
                d, "l_shipdate", start_date="1994-01-01", end_date="1996-12-31"
            )
        )
        .transform(
            lambda d: pj.groupby_agg(
                d,
                by=["l_returnflag", "l_linestatus"],
                new_column_name="avg_qty",
                agg_column_name="l_quantity",
                agg="mean",
            )
        )
        .select("l_returnflag", "l_linestatus", "avg_qty")
        .distinct()
    )
    return out


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_groupby_agg(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        pj.groupby_agg(li, ["l_returnflag"], "avg_qty", "l_quantity", "mean")
        .select("l_returnflag", "avg_qty")
        .distinct()
    )


def q_clean_names(spark, sf):
    li = _t(spark, sf, "lineitem").withColumnsRenamed(
        {"l_orderkey": "L OrderKey", "l_quantity": "L Quantity@#", "l_returnflag": "Return-Flag"}
    )
    return pj.clean_names(li, remove_special=True).select(
        "l_orderkey", "l_quantity", "return_flag"
    )


def q_filter_date(spark, sf):
    _utc(spark)
    li = _t(spark, sf, "lineitem")
    out = pj.filter_date(
        li, "l_shipdate", start_date="1994-01-01", end_date="1996-12-31",
        months=[1, 2, 3],
    )
    return out.select(*KEYS, F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"))


def q_filter_string(spark, sf):
    o = _t(spark, sf, "orders")
    return pj.filter_string(o, "o_orderpriority", "URGENT").select(
        "o_orderkey", "o_orderpriority"
    )


def q_filter_on(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.filter_on(li, "l_quantity > 30 AND l_discount < 0.05").select(
        *KEYS, "l_quantity", "l_discount"
    )


def q_filter_isin(spark, sf):
    c = _t(spark, sf, "customer")
    return pj.filter_column_isin(c, "c_mktsegment", ["BUILDING", "AUTOMOBILE"]).select(
        "c_custkey", "c_mktsegment"
    )


def q_case_when(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.case_when(
        li,
        F.col("l_extendedprice") < 1000, "low",
        F.col("l_extendedprice") < 5000, "mid",
        column_name="price_band",
        default="high",
    )
    return out.select(*KEYS, "price_band")


def q_update_where(spark, sf):
    o = _t(spark, sf, "orders")
    out = pj.update_where(o, "o_totalprice < 5000", "o_orderpriority", "0-LOW")
    return out.select("o_orderkey", "o_orderpriority")


def q_flag_nulls(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "ws", F.nullif(F.col("l_returnflag"), F.lit("N"))
    )
    return pj.flag_nulls(li, "null_flag", ["ws"]).select(*KEYS, "null_flag")


def q_coalesce(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "ws", F.nullif(F.col("l_returnflag"), F.lit("N"))
    )
    return pj.coalesce(li, ["ws", "l_linestatus"], "merged").select(*KEYS, "merged")


def q_fill_empty(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "ws", F.nullif(F.col("l_returnflag"), F.lit("N"))
    )
    return pj.fill_empty(li, ["ws"], "X").select(*KEYS, "ws")


def q_impute_mean(spark, sf):
    # mean AND median statistics: median is Spark's exact interpolating
    # percentile (pandas parity on even non-null counts) — the DuckDB
    # oracle's median() interpolates identically
    li = (
        _t(spark, sf, "lineitem")
        .withColumn(
            "q2",
            F.when(F.col("l_discount") > 0.05, F.lit(None)).otherwise(
                F.col("l_quantity")
            ),
        )
        .withColumn(
            "q3",
            F.when(F.col("l_tax") > 0.04, F.lit(None)).otherwise(
                F.col("l_quantity").cast("double")
            ),
        )
    )
    out = pj.impute(li, ["q2"], statistic_column_name="mean")
    out = pj.impute(out, ["q3"], statistic_column_name="median")
    return out.select(*KEYS, "q2", "q3")


def q_get_dupes(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.get_dupes(li, ["l_partkey", "l_suppkey"]).select(
        "l_partkey", "l_suppkey", *KEYS
    )


def q_dropnotnull(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "ws", F.nullif(F.col("l_returnflag"), F.lit("N"))
    )
    return pj.dropnotnull(li, "ws").select(*KEYS)


def q_concatenate_columns(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.concatenate_columns(
        li, ["l_returnflag", "l_linestatus"], "flag_status", sep="-"
    ).select(*KEYS, "flag_status")


def q_deconcatenate_column(spark, sf):
    o = _t(spark, sf, "orders")
    return pj.deconcatenate_column(
        o, "o_orderpriority", ["pnum", "pword"], sep="-"
    ).select("o_orderkey", "pnum", "pword")


def q_change_type(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.change_type(li, ["l_quantity"], "int").select(*KEYS, "l_quantity")


def q_convert_excel_date(spark, sf):
    _utc(spark)
    li = _t(spark, sf, "lineitem").withColumn(
        "excel_date", F.datediff(F.col("l_shipdate"), F.lit("1899-12-30"))
    )
    out = pj.convert_excel_date(li, "excel_date")
    return out.select(*KEYS, F.date_format("excel_date", "yyyy-MM-dd").alias("excel_date"))


def q_convert_unix_date(spark, sf):
    _utc(spark)
    ev = _t(spark, sf, "events").withColumn("ts_rt", F.unix_timestamp("ts"))
    out = pj.convert_unix_date(ev, "ts_rt")
    return out.select(
        "event_id", F.date_format("ts_rt", "yyyy-MM-dd HH:mm:ss").alias("ts_str")
    )


def q_truncate_datetime(spark, sf):
    _utc(spark)
    ev = _t(spark, sf, "events")
    out = pj.truncate_datetime_dataframe(ev, "month")
    return out.select("event_id", F.date_format("ts", "yyyy-MM-dd").alias("ts_month"))


def q_bin_numeric(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.bin_numeric(
        li, "l_quantity", "qty_bin", bins=[0, 10, 25, 50], labels=["low", "mid", "high"]
    )
    return out.select(*KEYS, "qty_bin")


def q_round_to_fraction(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.round_to_fraction(li, "l_extendedprice", 4).select(
        *KEYS, F.col("l_extendedprice").alias("price_q")
    )


def q_min_max_scale(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.min_max_scale(li, column_name=["l_quantity"])
    return out.select(*KEYS, F.col("l_quantity").alias("qty_scaled"))


def q_groupby_topk(spark, sf):
    o = _t(spark, sf, "orders")
    return pj.groupby_topk(o, ["o_orderpriority"], "o_orderkey", 3).select(
        "o_orderpriority", "o_orderkey"
    )


def q_take_first(spark, sf):
    o = _t(spark, sf, "orders")
    return pj.take_first(o, ["o_custkey"], "o_orderkey").select(
        "o_custkey", "o_orderkey"
    )


def q_factorize_columns(spark, sf):
    c = _t(spark, sf, "customer")
    return pj.factorize_columns(c, ["c_mktsegment"]).select(
        "c_custkey", "c_mktsegment", "c_mktsegment_enc"
    )


def q_count_cumulative_unique(spark, sf):
    ev = _t(spark, sf, "events")
    return pj.count_cumulative_unique(
        ev, "user_id", "ccu", order_by="event_id"
    ).select("event_id", "ccu")


def q_z_score(spark, sf):
    # scalable form: broadcast-joined aggregate, not a 1-task global window
    c = _t(spark, sf, "customer")
    return pjm.apply_math(c, "c_acctbal", pjm.z_score, dest="z").select(
        "c_custkey", "z"
    )


def q_sigmoid(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(*KEYS, pjm.sigmoid(F.col("l_discount")).alias("sig"))


def q_log(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(*KEYS, pjm.log(F.col("l_discount")).alias("ln_disc"))


def q_softmax(spark, sf):
    # scalable form: broadcast-joined aggregates, not a 1-task global window
    li = _t(spark, sf, "lineitem")
    return pjm.apply_math(li, "l_tax", pjm.softmax, dest="sm").select(*KEYS, "sm")


def q_ecdf(spark, sf):
    # scalable form: parallel sort + offset ranks, not a 1-task cume_dist window
    li = _t(spark, sf, "lineitem")
    return pjm.apply_math(li, "l_quantity", pjm.ecdf, dest="qty_ecdf").select(
        *KEYS, "l_quantity", "qty_ecdf"
    )


def q_process_text(spark, sf):
    c = _t(spark, sf, "customer").withColumn("cust_num", F.col("c_name"))
    out = pj.process_text(c, "cust_num", "extract", pat=r"#(\d+)")
    return out.select("c_custkey", "cust_num")


def q_find_replace(spark, sf):
    ev = _t(spark, sf, "events")
    out = pj.find_replace(
        ev, match="exact", event_type={"click": "c", "view": "v", "purchase": "p"}
    )
    return out.select("event_id", "event_type")


def q_column_ops(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.select(li, "l_orderkey", "l_q*", re.compile("flag$"))
    out = pj.reorder_columns(out, ["l_quantity"])
    out = pj.rename_column(out, "l_quantity", "qty")
    return out


def q_drop_constant_columns(spark, sf):
    li = _t(spark, sf, "lineitem").select(*KEYS, "l_quantity").withColumn(
        "const", F.lit(1)
    )
    return pj.drop_constant_columns(li)


def q_expand_column(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return pj.expand_column(d, "lang", sep="|")


def q_currency_to_numeric(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "money", F.concat(F.lit("$"), F.col("l_extendedprice").cast("string"))
    )
    return pj.currency_column_to_numeric(li, "money").select(*KEYS, "money")


def q_transform_column(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.transform_column(
        li, "l_quantity", lambda c: c * 2, dest_column_name="qty2", elementwise=False
    )
    return out.select(*KEYS, "qty2")


def q_conditional_join_equi(spark, sf):
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = pj.conditional_join(
        o, li,
        ("o_orderkey", "l_orderkey", "=="),
        ("o_totalprice", "l_extendedprice", ">"),
    )
    return out.select("o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice")


def q_conditional_join_range(spark, sf):
    p = _t(spark, sf, "part").select("p_partkey", "p_retailprice")
    s = _t(spark, sf, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").alias("lo"),
        (F.col("s_acctbal") + 500).alias("hi"),
    )
    out = pj.conditional_join(
        p, s, ("p_retailprice", "lo", ">"), ("p_retailprice", "hi", "<"),
        use_bucket=True,
    )
    return out.select("p_partkey", "s_suppkey", "lo", "hi")


def q_conditional_join_keep_first(spark, sf):
    p = _t(spark, sf, "part").select("p_partkey", "p_retailprice")
    s = _t(spark, sf, "supplier").select(
        F.col("s_acctbal").alias("lo"), (F.col("s_acctbal") + 500).alias("hi")
    )
    out = pj.conditional_join(
        p, s, ("p_retailprice", "lo", ">"), ("p_retailprice", "hi", "<"),
        keep="first",
    )
    return out.select("p_partkey", "lo", "hi")


def q_conditional_join_left(spark, sf):
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    out = pj.conditional_join(
        o, li,
        ("o_orderkey", "l_orderkey", "=="),
        ("o_totalprice", "l_extendedprice", "<"),
        how="left",
    )
    return out.select("o_orderkey", "o_totalprice", "l_linenumber", "l_extendedprice")


def q_conditional_join_outer(spark, sf):
    r = _t(spark, sf, "region").select("r_regionkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    out = pj.conditional_join(
        r, n, ("r_regionkey", "n_regionkey", "=="), ("r_regionkey", "n_nationkey", ">"),
        how="outer",
    )
    return out.select("r_regionkey", "n_nationkey", "n_regionkey")


def q_conditional_join_right(spark, sf):
    # how='right': all lineitem rows survive, orders columns null-padded
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = pj.conditional_join(
        o, li,
        ("o_orderkey", "l_orderkey", "=="),
        ("o_totalprice", "l_extendedprice", "<"),
        how="right",
    )
    return out.select(
        "o_orderkey", "o_totalprice", "l_linenumber", "l_extendedprice"
    )


def q_conditional_join_range_open(spark, sf):
    # ONE-SIDED pure range join (only an upper bound from the right):
    # must take the bucketized path with the open side clamped to the
    # left domain edge — previously a silent BroadcastNestedLoopJoin
    p = _t(spark, sf, "part").select("p_partkey", "p_retailprice")
    s = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 1200).select(
        "s_suppkey", "s_acctbal"
    )
    out = pj.conditional_join(p, s, ("p_retailprice", "s_acctbal", "<"))
    return out.select("p_partkey", "p_retailprice", "s_suppkey", "s_acctbal")


def q_pivot_longer(spark, sf):
    li = _t(spark, sf, "lineitem").select(
        *KEYS, "l_quantity", "l_discount", "l_tax"
    )
    return pj.pivot_longer(li, index=KEYS, names_to="measure", values_to="val")


def q_pivot_wider(spark, sf):
    li = _t(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sq")
    )
    return pj.pivot_wider(
        agg, index="l_returnflag", names_from="l_linestatus", values_from="sq"
    )


def q_complete(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") <= 5)
    base = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("int").alias("qty")
    ).agg(F.count(F.lit(1)).alias("n"))
    return pj.complete(base, "l_returnflag", "qty")


def q_expand(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.expand(li, "l_returnflag", "l_linestatus")


def q_fill_missing_timestamps(spark, sf):
    _utc(spark)
    ev = _t(spark, sf, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = pj.fill_missing_timestamps(hourly, "1 hour", column_name="hr")
    return out.select(
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hr_str"), "n"
    )


def q_fill_direction(spark, sf):
    ev = _t(spark, sf, "events").withColumn(
        "v2", F.when(F.col("event_type") == "click", F.lit(None)).otherwise(F.col("value"))
    )
    out = pj.fill_direction(ev, {"v2": "down"}, order_by="event_id", by=["user_id"])
    return out.select("event_id", "v2")


def q_sort_naturally(spark, sf):
    # the ORDER can't be hash-compared (the compare sorts rows), but the
    # computed natural key can — expose it via dest=
    p = _t(spark, sf, "part")
    return pj.sort_naturally(p, "p_brand", dest="natural_key").select(
        "p_partkey", "p_brand", "natural_key"
    )


# --------------------------------------------------------------------------
# training-data pipeline ops (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------

def _docs(spark, sf):
    # documents is a single small parquet file -> one input split; the
    # hash-heavy pipeline ops want full parallelism, and the raw-text
    # shuffle is trivial next to the per-row md5 work
    return _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_dedupe_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return pj.dedupe_exact(d, "text", "doc_id").select("doc_id", "source")


def q_fingerprint(spark, sf):
    d = _docs(spark, sf)
    d = pj.fingerprint(d, "text", dest="fp_exact", mode="exact")
    d = pj.fingerprint(d, "text", dest="fp_rolling", mode="rolling")
    return d.select("doc_id", "fp_exact", "fp_rolling")


def q_simhash(spark, sf):
    d = _docs(spark, sf)
    return pj.simhash(d, "text", bits=32).select("doc_id", "simhash")


def q_minhash_lsh(spark, sf):
    d = _docs(spark, sf)
    return pj.minhash_lsh_pairs(d, "doc_id", "text", k=8, bands=4, shingle_n=3)


def q_ngram_jaccard(spark, sf):
    # default max_doc_freq=10_000 never bites at sf0.01 (max shingle
    # doc-freq there is 7) -> still exact vs the all-shingle oracle.
    # GATE-INPUT cap (multiblock precedent, r11): doc_id < 5000 is a
    # no-op at sf0.01/sf0.1 (max doc_id 499/4999) so the correctness
    # compare is untouched; on a 10x-replicated ~sf1 corpus it bounds an
    # input whose true-pair OUTPUT is quadratic by construction (10x body
    # replication -> ~100x qualifying pairs), which is a property of
    # the synthetic replication, not of the plan.  Exact mode's real
    # scale adjudication lives in SCALE.md; the full-input entry for
    # this family at that scale is ngram_jaccard_sampled.
    d = _docs(spark, sf).filter(F.col("doc_id") < 5000)
    return pj.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)


def q_ngram_jaccard_capped(spark, sf):
    # cap=3 BITES at sf0.01 (shingles with doc-freq up to 7 exist):
    # pins the stop-shingle-cut semantics — dropped from both the
    # intersection stream and the per-doc sizes — against a DuckDB
    # oracle that implements the same cut
    d = _docs(spark, sf)
    return pj.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5, max_doc_freq=3
    )


def q_ngram_jaccard_sampled(spark, sf):
    # shingle_sample=0.3: deterministic md5 shingle-space sampling
    # (mod-hash sketch) — the sampled space is bit-reproducible in
    # DuckDB (same first-8-nibble md5 cut), so the gate is an EXACT
    # hash compare of the estimator's output, statistical noise and
    # all; threshold lowered to 0.3 so sampled estimates ≠ 1.0 pass
    d = _docs(spark, sf)
    return pj.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.3, shingle_sample=0.3
    )


def _embs(spark, sf):
    # embeddings is one small parquet file -> one input split; the dot-
    # product-heavy similarity ops want all cores
    return _t(spark, sf, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_embedding_near_dup(spark, sf):
    e = _embs(spark, sf)
    return pj.embedding_near_dup(
        e, "vec_id", "embedding", threshold=0.4, block_col="label"
    )


def q_near_dup_multiblock(spark, sf):
    # drives the BLAS pair stage's ROW-BLOCK SPLIT (engages only above
    # ~2048 rows per block, which no plain sf0.01 gate reaches): FIVE
    # key-shifted copies of the whole table land in ONE block (sf0.01:
    # 500 vectors -> 2500 rows -> 2 row blocks); clone pairs score
    # cos=1.0 exactly, natural pairs join them above the 0.93 cut
    # input CAPPED at the first 600 vec_ids: this is a CORRECTNESS gate
    # for the row-block split (600*5 = 3000 rows -> 3 row blocks), not a
    # scale test — uncapped, the one-block design cost grows
    # quadratically with SF (227 s at ~sf1 in the r11 sweep; the
    # hot-block scale story lives in SCALE.md + the split gates)
    e = (
        _t(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 600)
        .select("vec_id", "embedding")
    )
    # r14: ONE scan + offset explode instead of a 5-branch self-union —
    # the union read the SAME 600-row parquet slice five times (5 scan
    # subtrees in the plan); exploding the shift offsets produces the
    # identical row multiset from one scan (guide 6: don't re-read what
    # you already have).  Same ids, same embeddings, same single-block
    # Arrow stage downstream.
    u = (
        e.select(
            "vec_id",
            "embedding",
            F.explode(
                F.array(*[F.lit(i * 100000) for i in (0, 1, 2, 3, 4)])
            ).alias("__off"),
        )
        .select(
            (F.col("vec_id") + F.col("__off")).alias("vec_id"),
            "embedding",
        )
        .withColumn("__blk", F.lit(1))
    )
    # pair-SET comparison only: ~800 clone pairs score cos = 1.0 up to
    # an ulp, and engine-order float noise would shuffle the driver's
    # sorted-row compare; the plain embedding_near_dup gate attests the
    # cos values themselves
    return pj.embedding_near_dup(
        u, "vec_id", "embedding", threshold=0.93, block_col="__blk"
    ).select("id_1", "id_2")


def _query_vec(spark, sf):
    e = _embs(spark, sf)
    # fetch the query vector from the RAW table (filter reaches the scan);
    # going through _embs' repartition would shuffle everything first
    row = (
        _t(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return e, [float(v) for v in row[0]]


def q_cosine_topk(spark, sf):
    e, qv = _query_vec(spark, sf)
    return pj.cosine_topk(e, qv, "embedding", "vec_id", k=10)


def q_lsh_bucket_topk(spark, sf):
    e, qv = _query_vec(spark, sf)
    return pj.lsh_bucket_topk(e, qv, "embedding", "vec_id", k=10, planes=8)


def q_ivf_topk(spark, sf):
    # centroids sum in DECIMAL (exact, order-independent) so the oracle
    # reproduces them bit-for-bit despite distributed aggregation
    e, qv = _query_vec(spark, sf)
    return pj.ivf_topk(e, qv, "embedding", "vec_id", "label", k=10, nprobe=2)


def q_kmeans_assign(spark, sf):
    # deterministic Lloyd: hash-seeded init, decimal-exact means, 2
    # rounds; the oracle unrolls the identical arithmetic in SQL
    e, _ = _query_vec(spark, sf)
    return pj.kmeans_assign(e, "embedding", "vec_id", k=4, iters=2).select(
        "vec_id", "cluster"
    )


def q_winsorize(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.winsorize(li, "l_extendedprice", dest="wz", lower=0.05, upper=0.95)
    return out.select("l_orderkey", "l_linenumber", "wz")


def q_robust_scale(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.robust_scale(li, "l_quantity", dest="rs")
    return out.select("l_orderkey", "l_linenumber", "rs")


def q_normalize_text(spark, sf):
    d = _docs(spark, sf)
    return pj.normalize_text(d, "text", dest="norm").select("doc_id", "norm")


def q_dup_span_fraction(spark, sf):
    # cross-document exact-substring duplication score; k=5 so the
    # template-similar synthetic docs produce a meaningful spread
    d = _docs(spark, sf)
    return pj.dup_span_fraction(d, "doc_id", "text", k=5).select(
        "doc_id", "dup_fraction"
    )


def q_asof_join(spark, sf):
    # every event picks its user's most recent prior (or same-instant)
    # purchase; (user_id, ts) is unique in the data so the pick is
    # unambiguous for the oracle comparison
    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = pj.asof_join(
        ev.select("event_id", "user_id", "ts"), purchases, on="ts", by="user_id"
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.col("ts_right").alias("purchase_ts"),
    )


def q_semdedup(spark, sf):
    # SemDeDup on the label clusters; eps=0.3 because the synthetic
    # embeddings are near-orthogonal (max within-cluster cos ~0.47) —
    # at 0.3 about 1% of within-cluster pairs form semantic-dup groups
    e, _ = _query_vec(spark, sf)
    return pj.semdedup(e, "embedding", "vec_id", "label", eps=0.3).select(
        "vec_id", "label"
    )


def q_semdedup_split(spark, sf):
    # the SAME semantics as q_semdedup but through the triangle-split
    # hot-cluster path: the largest sf0.01 label cluster (59 rows x 64
    # dims = 3776 cells) exceeds max_cluster_cells=3000, so the 'auto'
    # pre-flight routes around the in-task abort into the split
    # pipeline, where the 500-cell budget splits each cluster 6-8 ways
    # (sub-tasks of ~15 rows, well under the per-sub-task cap) — pair
    # sub-tasks + distributed components must reproduce the in-task
    # union-find output exactly, so this gate shares semdedup's oracle
    # SQL verbatim
    e, _ = _query_vec(spark, sf)
    return pj.semdedup(
        e,
        "embedding",
        "vec_id",
        "label",
        eps=0.3,
        max_cluster_cells=3000,
        split="auto",
        auto_split_cells=500,
    ).select("vec_id", "label")


def q_near_dup_split(spark, sf):
    # q_embedding_near_dup through split sub-tasks: a 1000-cell budget
    # against the 2816-3776-cell sf0.01 label blocks (44-59 rows x 64
    # dims) splits them 3 or 4 ways, so blocks of one call get
    # different factors — same oracle
    e = _embs(spark, sf)
    return pj.embedding_near_dup(
        e,
        "vec_id",
        "embedding",
        threshold=0.4,
        block_col="label",
        split="auto",
        auto_split_cells=1000,
    )


def q_near_dup_autosplit(spark, sf):
    # split='auto': per-block factor sized by the rows×dim window;
    # auto_split_cells=2000 sends every sf0.01 label block (44-59 rows
    # × 64 dims) to a 2-way triangle split, so the gate exercises the
    # dynamic task builder, not the m=1 degenerate case — same oracle
    # as embedding_near_dup
    e = _embs(spark, sf)
    return pj.embedding_near_dup(
        e,
        "vec_id",
        "embedding",
        threshold=0.4,
        block_col="label",
        split="auto",
        auto_split_cells=2000,
    )


def q_semdedup_auto(spark, sf):
    # split='auto' with a tiny per-sub-block budget: every cluster is
    # over budget, but at sf0.01 the largest holds ~14 % of the pair
    # work, under the 20 % straggler share, so the bounded pre-flight
    # keeps the in-task path — output must equal the in-task
    # union-find, so this shares semdedup's oracle SQL verbatim
    e, _ = _query_vec(spark, sf)
    return pj.semdedup(
        e,
        "embedding",
        "vec_id",
        "label",
        eps=0.3,
        split="auto",
        auto_split_cells=500,
    ).select("vec_id", "label")


def q_token_count(spark, sf):
    d = _docs(spark, sf)
    return pj.token_count(d, "text").select("doc_id", "n_tokens")


def q_quality_score(spark, sf):
    d = _docs(spark, sf)
    return pj.quality_score(d, "text").select(
        "doc_id", "q_len", "q_punct", "q_stop", "q_wordlen", "quality"
    )


def q_gopher_repetition(spark, sf):
    # the Gopher repetition-filter signal suite (text_analysis.py):
    # dup line/para fractions + top/dup n-gram char fractions, the
    # documented count*len upper-bound semantics clamped at 1.0
    d = _docs(spark, sf)
    return pj.gopher_repetition(d, "doc_id", "text")



def q_gopher_repetition_exact(spark, sf):
    # exact=True span-union semantics (DataTrove/Dolma threshold
    # parity): char-interval union of repeated-gram occurrences, not
    # the count*len upper bound.  Reduced n-set keeps the SQL oracle
    # (token offsets + gaps-and-islands interval union) reviewable.
    d = _docs(spark, sf)
    return pj.gopher_repetition(
        d, "doc_id", "text", top_ns=(2,), dup_ns=(5,), exact=True
    )


def q_language_id(spark, sf):
    d = _docs(spark, sf)
    return pj.language_id(d, "text").select("doc_id", "lang", "lang_pred")


def q_binary_metadata(spark, sf):
    d = _t(spark, sf, "documents")
    d = pj.attach_binary(d, "text")
    return pj.binary_metadata(d).select("doc_id", "n_bytes", "magic", "digest")


def q_decode_features(spark, sf):
    # mapInPandas decode: PNG/WAV decode for real (stdlib codec /
    # wave); these text payloads take the tagged kind='raw' fallback,
    # which the oracle mirrors byte-for-byte through
    # hex(encode(text)) stripe means.  The PNG/WAV decode paths are
    # value-checked in tests/test_multimodal_decode.py (generated
    # fixtures) — binary media can't ride the parquet text column.
    d = _t(spark, sf, "documents")
    return pj.decode_features(pj.attach_binary(d, "text"))


def q_frame_sample(spark, sf):
    # vectorized mapInPandas frame demux; oracle samples the same bytes
    # via hex(encode(text)) strided extraction
    d = _t(spark, sf, "documents")
    return pj.frame_sample(pj.attach_binary(d, "text"), every=64)


def q_resize_payload(spark, sf):
    # mapInPandas resize stub -> rows-only check (binary output)
    d = _t(spark, sf, "documents")
    out = pj.resize_payload(pj.attach_binary(d, "text"), target_bytes=32)
    return out.select("doc_id", "orig_bytes", F.length("payload").alias("n_bytes"))


def q_flag_jumps(spark, sf):
    ev = _t(spark, sf, "events")
    out = pj.flag_jumps(
        ev,
        ts_column="event_id",
        columns="value",
        by=["user_id"],
        scale="absolute",
        threshold=5.0,
    )
    return out.select("event_id", "value_jump_flag")


def q_exp(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(*KEYS, pjm.exp(F.col("l_discount")).alias("e"))


def q_logit(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(*KEYS, pjm.logit(F.col("l_discount")).alias("lg"))


def q_normal_cdf(spark, sf):
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey", pjm.normal_cdf(F.col("c_acctbal") / 5000.0).alias("ncdf")
    )


def q_probit(spark, sf):
    li = _t(spark, sf, "lineitem")
    # l_discount in [0, 0.1] -> shift into (0,1) interior
    return li.select(*KEYS, pjm.probit(F.col("l_discount") + 0.2).alias("pb"))


def q_convert_matlab_date(spark, sf):
    _utc(spark)
    li = _t(spark, sf, "lineitem").withColumn(
        "mat", F.lit(719529.0) + F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    )
    out = pj.convert_matlab_date(li, "mat")
    return out.select(*KEYS, F.date_format("mat", "yyyy-MM-dd").alias("mat_day"))


def q_remove_empty(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "allnull", F.lit(None).cast("string")
    ).withColumn(
        "ws", F.when(F.col("l_returnflag") == "N", None).otherwise(F.col("l_returnflag"))
    )
    rowdrop = pj.remove_empty(
        li.select("l_orderkey", "l_linenumber", "ws", "allnull"), rows=True, columns=True
    )
    return rowdrop.select(*KEYS, "ws")


def q_limit_column_characters(spark, sf):
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    out = pj.limit_column_characters(li, 6)
    return out  # l_orde, l_line, l_quan


def q_label_encode(spark, sf):
    o = _t(spark, sf, "orders")
    return pj.label_encode(o, ["o_orderpriority"]).select(
        "o_orderkey", "o_orderpriority_enc"
    )


def q_add_columns(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.add_columns(li, flag=F.lit(1), disc2=F.col("l_discount") * 2)
    return out.select(*KEYS, "flag", "disc2")


def q_expand_grid(spark, sf):
    li = _t(spark, sf, "lineitem")
    flags = li.select("l_returnflag").distinct()
    out = pj.expand_grid(
        spark, {"prio": ["HI", "LO"], "flag": flags, "seg": ["A", "B", "C"]}
    )
    return out.select("prio", "l_returnflag", "seg")


def q_cartesian_product(spark, sf):
    r = _t(spark, sf, "region").select("r_regionkey")
    n = _t(spark, sf, "nation").select("n_nationkey")
    return pj.cartesian_product(r, n)


def q_pivot_longer_spec(spark, sf):
    li = _t(spark, sf, "lineitem")
    spec = [
        {".name": "l_quantity", ".value": "val", "measure": "qty"},
        {".name": "l_tax", ".value": "val", "measure": "tax"},
    ]
    out = pj.pivot_longer_spec(
        li.select(*KEYS, "l_quantity", "l_tax"), spec, index=KEYS
    )
    return out.select(*KEYS, "measure", F.col("val").cast("double").alias("val"))


def q_encode_categorical(spark, sf):
    # metadata-only in the Spark model: strings stay strings
    c = _t(spark, sf, "customer")
    out = pj.encode_categorical(c, ["c_mktsegment"])
    return out.select("c_custkey", "c_mktsegment")


def q_move_reorder(spark, sf):
    li = _t(spark, sf, "lineitem").select(*KEYS, "l_quantity", "l_tax")
    out = pj.move(pj.reorder_columns(li, ["l_tax"]), "l_quantity", "l_tax", "after")
    assert out.columns == ["l_tax", "l_quantity", "l_orderkey", "l_linenumber"]
    return out


def q_shuffle(spark, sf):
    # random permutation — but a permutation preserves the row MULTISET,
    # and the driver's compare sorts rows before hashing, so the identity
    # select IS a sound oracle: it proves no row was dropped, duplicated,
    # or mutated.  (Order itself is untestable/random by design.)
    o = _t(spark, sf, "orders")
    return pj.shuffle(o.select("o_orderkey", "o_totalprice"), random_state=42)


def q_jitter(spark, sf):
    # keyed deterministic gaussian (Box-Muller over md5 uniforms):
    # engine-reproducible, so the oracle recomputes identical noise.
    # (The default randn path remains inherently stream-specific and is
    # covered by distribution units instead.)
    ev = _t(spark, sf, "events")
    out = pj.jitter(
        ev, "value", "v_j", scale=1.0, clip=(0.0, 100.0),
        random_state=7, key_column="event_id",
    )
    return out.select("event_id", "v_j")


def q_sort_column_value_order(spark, sf):
    # total-order output: driver compare re-sorts, so values check like a set
    o = _t(spark, sf, "orders")
    out = pj.sort_column_value_order(
        o, "o_orderpriority", {"1-URGENT": 0, "2-HIGH": 1, "3-MEDIUM": 2}
    )
    return out.select("o_orderkey", "o_orderpriority")


def q_data_description(spark, sf):
    c = _t(spark, sf, "customer")
    return pj.data_description(c)


def q_convert_units(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.convert_units(li, "l_quantity", "kg", "lb", dest_column_name="qty_lb")
    return out.select(*KEYS, "qty_lb")


def q_inflate_currency(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = pj.inflate_currency(li, "l_extendedprice", rate=1.23)
    return out.select(*KEYS, "l_extendedprice")


def q_dedupe_against(spark, sf):
    # incremental dedup: new batch (non-en docs) against the kept corpus
    # (en docs) — rows of the batch are never compared with each other
    d = _docs(spark, sf)
    new = d.filter(F.col("lang") != "en")
    ref = d.filter(F.col("lang") == "en")
    return pj.dedupe_against(new, ref, "doc_id", "text").select("doc_id")


def q_near_dup_clusters(spark, sf):
    d = _docs(spark, sf)
    pairs = pj.minhash_lsh_pairs(d, "doc_id", "text", k=8, bands=4, shingle_n=3)
    return pj.near_dup_clusters(pairs, nodes=d, id_col="doc_id")


def q_near_dup_clusters_contracted(spark, sf):
    # r13: the DISTRIBUTED star-contraction path (small_graph_edges=0
    # disables the count-gated driver union-find fast path) against the
    # SAME closure oracle — attests path equivalence, the same-oracle
    # split-gate pattern (semdedup_split / near_dup_split precedent)
    d = _docs(spark, sf)
    pairs = pj.minhash_lsh_pairs(d, "doc_id", "text", k=8, bands=4, shingle_n=3)
    return pj.near_dup_clusters(
        pairs, nodes=d, id_col="doc_id", small_graph_edges=0
    )


def q_dedupe_near(spark, sf):
    d = _docs(spark, sf)
    return pj.dedupe_near(d, "doc_id", "text").select("doc_id")


def q_repetition_score(spark, sf):
    d = _docs(spark, sf)
    return pj.repetition_score(d, "text", shingle_n=2).select(
        "doc_id", "rep_word_frac", "rep_ngram_frac"
    )


def q_pii_redact(spark, sf):
    # the synthetic corpus carries no PII; inject a deterministic email +
    # SSN/phone per doc so the redaction path is actually exercised
    d = _docs(spark, sf).withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789"))
            .when(F.col("doc_id") % 3 == 1, F.lit(" tel 555-123-4567"))
            .otherwise(F.lit("")),
        ),
    )
    return pj.pii_redact(d, "text2").select(
        "doc_id", "text2_redacted", "pii_email_count", "pii_ssn_count", "pii_phone_count"
    )


def q_deterministic_sample(spark, sf):
    d = _t(spark, sf, "documents")
    return pj.deterministic_sample(d, "doc_id", 0.25, salt="s").select("doc_id")


def q_stratified_sample(spark, sf):
    d = _t(spark, sf, "documents")
    return pj.stratified_sample(
        d, "lang", "doc_id", {"en": 0.5, "de": 0.2}, default_fraction=0.05, salt="s"
    ).select("doc_id", "lang")


def q_split_train_holdout(spark, sf):
    d = _t(spark, sf, "documents")
    return pj.split_train_holdout(d, "doc_id", holdout_fraction=0.1).select(
        "doc_id", "is_holdout"
    )


def q_dsir_weights(spark, sf):
    # DSIR hashed importance log-weights: source = all documents,
    # target = the English slice (domain up-weighting); 64 md5 buckets,
    # bigram profile, add-0.5 smoothing.  Oracle replicates the bucket
    # arithmetic and the DECIMAL-exact per-doc sum
    d = _t(spark, sf, "documents")
    tgt = d.filter(F.col("lang") == "en")
    return pj.dsir_weights(
        d, tgt, "text", "doc_id", n=2, num_buckets=64, k=0.5
    ).select("doc_id", "dsir_logw")


def q_weighted_sample(spark, sf):
    # Efraimidis-Spirakis weighted sample without replacement: priority
    # ln(u)/w from md5-derived uniforms, TakeOrdered top-k; the oracle
    # recomputes the identical priorities (engine-portable md5 + IEEE
    # double ln/div — the jitter/kmeans oracle pattern)
    d = _t(spark, sf, "documents")
    return pj.weighted_sample(d, "n_chars", 50, "doc_id", salt="ws").select(
        "doc_id", "n_chars"
    )


def q_groupby_agg_nunique(spark, sf):
    li = _t(spark, sf, "lineitem")
    return pj.groupby_agg(li, ["l_returnflag"], "n_status", "l_linestatus", "nunique").select(
        *KEYS, "n_status"
    )


def q_bloom_dedupe_against(spark, sf):
    d = _t(spark, sf, "documents")
    new_batch = d.filter(F.col("lang") != "en")
    corpus = d.filter(F.col("lang") == "en")
    return pj.bloom_dedupe_against(new_batch, corpus, "text").select("doc_id")


def q_top_ngrams(spark, sf):
    d = _t(spark, sf, "documents")
    return pj.top_ngrams(d, "text", n=2, k=20)


def q_chunk_text(spark, sf):
    d = _t(spark, sf, "documents")
    return pj.chunk_text(d, "text", max_tokens=64).select(
        "doc_id", "chunk_id", "chunk", "chunk_n_tokens"
    )


def q_sessionize(spark, sf):
    # session_window on a BATCH frame: same semantics the streaming verb
    # applies with a watermark; oracle is gaps-and-islands SQL
    _utc(spark)
    from pyjanitor_spark.streaming.verbs import sessionize

    e = _t(spark, sf, "events")
    out = sessionize(
        e, "ts", "10 minutes", by=["user_id"], aggs={"n_events": ("event_id", "count")}
    )
    return out.select(
        "user_id",
        F.date_format(F.col("session.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


def q_windowed_agg(spark, sf):
    # the streaming module's core agg on a BATCH frame (window() is a
    # plain expression there); oracle = DuckDB time_bucket
    _utc(spark)
    from pyjanitor_spark.streaming.verbs import windowed_agg

    e = _t(spark, sf, "events")
    out = windowed_agg(
        e, "ts", "1 hour",
        aggs={"n_events": ("event_id", "count"), "sum_value": ("value", "sum")},
        by=["event_type"],
    )
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_running_counter(spark, sf):
    # batch fallback of the applyInPandasWithState streaming counter
    _utc(spark)
    from pyjanitor_spark.streaming.verbs import running_counter

    e = _t(spark, sf, "events")
    out = running_counter(e, by=["user_id"], ts_column="ts")
    return out.select(
        "user_id",
        "n_events",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


def q_top_domains(spark, sf):
    # synthetic deterministic URLs appended per doc (same trick as the
    # pii_redact query — the corpus text itself carries no URLs)
    d = _t(spark, sf, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" see http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/page and https://www.mirror"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.org/x"),
        ),
    )
    return pj.top_domains(d, "text2", k=10)


_DEMO_XLSX = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".demo_xlsx", "demo.xlsx")


def q_xlsx_table(spark, sf):
    # deterministic generated workbook (sf-independent fixture, like the
    # expand_grid literals); declared table T1 over Data!A1:B3
    from pyjanitor_spark.sources import xlsx_table
    from pyjanitor_spark.sources._xlsx import build_demo_workbook

    build_demo_workbook(_DEMO_XLSX)
    return xlsx_table(spark, _DEMO_XLSX, table="T1")


def q_xlsx_cells(spark, sf):
    from pyjanitor_spark.sources import xlsx_cells
    from pyjanitor_spark.sources._xlsx import build_demo_workbook

    build_demo_workbook(_DEMO_XLSX)
    return xlsx_cells(spark, _DEMO_XLSX)


# rdkit-free chemistry fallback fixture: literal molecules with
# hand-derived formulas/weights (IUPAC 2021 table), including one
# invalid SMILES that must yield an all-null descriptor row
_DEMO_SMILES = [
    (1, "CCO"),
    (2, "CC(=O)Oc1ccccc1C(=O)O"),
    (3, "Cn1cnc2c1c(=O)n(C)c(=O)n2C"),
    (4, "C(=O)(O)c1ccccc1"),
    (5, "NCCc1ccc(O)c(O)c1"),
    (6, "c1ccc2ccccc2c1"),
    (7, "[Na+].[Cl-]"),
    (8, "CS(=O)C"),
    (9, "O"),
    (10, "not a smiles"),
]


def q_smiles_descriptors(spark, sf):
    df = spark.createDataFrame(_DEMO_SMILES, "id int, smiles string")
    out = pj.smiles_descriptors(df, "smiles")
    return out.select(
        "id",
        F.col("mol_formula").alias("formula"),
        F.round("mol_mol_weight", 3).alias("mol_weight"),
        F.col("mol_num_h_donors").alias("num_h_donors"),
        F.col("mol_num_h_acceptors").alias("num_h_acceptors"),
        F.col("mol_ring_count").alias("ring_count"),
        F.col("mol_heavy_atoms").alias("heavy_atoms"),
        F.col("mol_net_charge").alias("net_charge"),
    )


def q_ngram_lm_score(spark, sf):
    # self-trained bigram stupid-backoff LM quality signal; exercises
    # the seen-bigram path, the unigram backoff, and the <2-token NULL
    d = _docs(spark, sf)
    return pj.ngram_lm_score(d, "text").select("doc_id", "lm_logprob")


def q_bpe_encode(spark, sf):
    # fixed literal merge table (rank order) on literal text; the oracle
    # rows are the hand-executed BPE merge sequence for each word
    merges = [
        ("l", "o"), ("lo", "w"), ("lo", "w</w>"),
        ("e", "r</w>"), ("e", "s"), ("es", "t</w>"),
    ]
    df = spark.createDataFrame(
        [(1, "low lower lowest widest"), (2, "go")], "id int, text string"
    )
    out = pj.bpe_encode(df, "text", merges)
    return out.select(
        "id", F.posexplode("bpe_tokens").alias("pos", "token")
    )


def q_process_text_fallback(spark, sf):
    # exercises the pandas .str reflection fallback (no builtin mapping)
    c = _t(spark, sf, "customer")
    return pj.process_text(c, "c_name", "casefold").select("c_custkey", "c_name")


def q_hash_columns(spark, sf):
    # salted pseudonymization: md5 (truncated) + sha256, NULL-preserving
    c = _t(spark, sf, "customer")
    out = pj.hash_columns(c, "c_name", salt="p", truncate=16)
    out = pj.hash_columns(out, "c_mktsegment", salt="p", algo="sha256")
    return out.select("c_custkey", "c_name", "c_mktsegment")


def q_quantile_bin(spark, sf):
    # l_quantity has ~50 distinct values over 60k rows: exercises the
    # ties-share-a-bin contract on every row
    li = _t(spark, sf, "lineitem")
    return pj.quantile_bin(li, "l_quantity", "qbin", 4).select(
        "l_orderkey", "l_linenumber", "l_quantity", "qbin"
    )


def q_hashed_tfidf(spark, sf):
    # long form (id, bucket, weight): the corpus-scale output shape
    d = _docs(spark, sf)
    return pj.hashed_tfidf(d, "text", "doc_id", dim=64, as_vector=False)


def q_bm25_score(spark, sf):
    # expression-only retrieval scoring; stats are one broadcast agg
    d = _docs(spark, sf)
    return pj.bm25_score(d, "text", "spark window join").select("doc_id", "bm25")


def q_contamination(spark, sf):
    # decontamination: docs vs a "benchmark" slice of the same corpus
    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return pj.contamination_score(corpus, bench, "doc_id", "text", shingle_n=3)


def q_assign_packs(spark, sf):
    # fixed-token-budget sequence packing in doc_id order
    d = _docs(spark, sf)
    return pj.assign_packs(d, "text", 500, "doc_id").select("doc_id", "pack_id")


def q_dedupe_near_best(spark, sf):
    # keep_by: survive the LONGEST doc of each near-dup cluster (ties ->
    # min id), not the min-id one
    d = _docs(spark, sf).withColumn("__ln", F.length("text"))
    return pj.dedupe_near(d, "doc_id", "text", keep_by="__ln").select("doc_id")


def q_url_normalize(spark, sf):
    # deterministic synthetic URLs exercise every normalization path;
    # the oracle derives the EXPECTED canonical form independently
    d = _t(spark, sf, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("HTTPS://Example.COM:443/p"), sid,
                        F.lit("?utm_source=x&id="), sid, F.lit("#f")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("http://site"), (F.col("doc_id") % 7).cast("string"),
                       F.lit(".org:80/a")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("http://h.io/p?gclid=1&x="), sid))
        .otherwise(F.concat(F.lit("not a url "), sid))
    )
    return pj.url_normalize(d.withColumn("url", url), "url")


def q_top_collocations(spark, sf):
    # PMI phrase mining: two count shuffles + broadcast totals + TakeOrdered
    d = _docs(spark, sf)
    return pj.top_collocations(d, "text", k=10, min_count=5)


def q_simhash_pairs(spark, sf):
    # banded Hamming blocking (pigeonhole-exact); oracle brute-forces
    # all pairs — equality proves the banding loses nothing
    d = _docs(spark, sf)
    return pj.simhash_pairs(d, "doc_id", "text", bits=48, bands=4, max_hamming=3)


def q_heavy_hitters(spark, sf):
    # exact heavy hitters: output bounded by 1/min_share rows
    d = _t(spark, sf, "documents")
    return pj.heavy_hitters(d, "lang", 0.05)


def q_mix_corpora(spark, sf):
    # mixture rebalancing: feasible-total math + per-source hash sampling
    d = _t(spark, sf, "documents")
    return pj.mix_corpora(
        d, "source", "doc_id", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    ).select("doc_id", "source")


def q_take_token_budget(spark, sf):
    # budget-capped prefix: running token total via partitioned_cumsum
    d = _docs(spark, sf)
    return pj.take_token_budget(d, "text", 5000, "doc_id").select("doc_id")


def q_move_rows(spark, sf):
    # move(axis=0): first five rows (by event_id order) land after
    # position 99; the new order is observable via the positional index
    from pyjanitor_spark.utils.order import positional_index

    ev = _t(spark, sf, "events").select("event_id").orderBy("event_id")
    mv = pj.move(ev, source=[0, 1, 2, 3, 4], target=99, position="after", axis=0)
    return positional_index(mv, "new_pos").select("event_id", "new_pos")


def q_remove_duplicated_spans(spark, sf):
    # Lee-2021 ExactSubstr CUT action: tokens under cross-doc duplicated
    # 5-gram spans removed, untouched docs byte-identical
    d = _docs(spark, sf)
    return pj.remove_duplicated_spans(d, "doc_id", "text", k=5).select(
        "doc_id", "text"
    )


def q_add_column_values(spark, sf):
    # list-form add_column: zip-with-order via positional_index over a
    # range-sorted frame; the oracle mirrors with row_number()
    ev = _t(spark, sf, "events").select("event_id").orderBy("event_id")
    return pj.add_column(ev, "bucket3", ["a", "b", "c"], fill_remaining=True)


def q_factorize_appearance(spark, sf):
    # first-appearance-order codes (pandas pd.factorize parity) driven by
    # the _row_order contract: min(order) per value -> dense_rank
    c = _t(spark, sf, "customer")
    return pj.factorize_columns(
        c, ["c_mktsegment"], order_by="c_custkey"
    ).select("c_custkey", "c_mktsegment", "c_mktsegment_enc")


def q_groupby_agg_multi(spark, sf):
    # dict multi-agg form: both aggregates share the ONE window shuffle
    li = _t(spark, sf, "lineitem")
    return (
        pj.groupby_agg(
            li,
            ["l_returnflag"],
            {
                "sum_qty": ("l_quantity", "sum"),
                "max_price": ("l_extendedprice", "max"),
                "n_parts": ("l_partkey", "nunique"),
                # exact interpolating percentile (pandas median parity)
                "med_qty": ("l_quantity", "median"),
            },
        )
        .select("l_returnflag", "sum_qty", "max_price", "n_parts", "med_qty")
        .distinct()
    )


def q_conditional_join_keep_last(spark, sf):
    p = _t(spark, sf, "part").select("p_partkey", "p_retailprice")
    s = _t(spark, sf, "supplier").select(
        F.col("s_acctbal").alias("lo"), (F.col("s_acctbal") + 500).alias("hi")
    )
    out = pj.conditional_join(
        p, s, ("p_retailprice", "lo", ">"), ("p_retailprice", "hi", "<"),
        keep="last",
    )
    return out.select("p_partkey", "lo", "hi")


def q_conditional_join_indicator(spark, sf):
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = pj.conditional_join(
        o, li,
        ("o_orderkey", "l_orderkey", "=="),
        ("o_totalprice", "l_extendedprice", "<"),
        how="left",
        indicator=True,
    )
    return out.select(
        "o_orderkey", "o_totalprice", "l_linenumber", "l_extendedprice", "_merge"
    )


# ---- round-7 long-tail gates (VERDICT r6 task 2) ----

def q_row_to_names(spark, sf):
    # promote rows 0+1 (by the explicit n_nationkey order) to the column
    # name, then drop them; the order column is the pandas-index stand-in
    # and keeps its own name
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    out = pj.row_to_names(
        n, row_numbers=[0, 1], remove_rows=True, order_by="n_nationkey"
    )
    return out.select("n_nationkey", "NATION_0_NATION_1")


def q_drop_duplicate_columns(spark, sf):
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("val"),
        F.col("l_extendedprice").alias("val"),
    )
    out = pj.drop_duplicate_columns(li, "val", nth_index=1)
    return out.select("l_orderkey", "l_linenumber", "val")


def q_to_datetime(spark, sf):
    _utc(spark)
    li = _t(spark, sf, "lineitem").select(
        *KEYS, F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_s")
    )
    out = pj.to_datetime(li, "ship_s", format="yyyy-MM-dd")
    return out.select(
        *KEYS, F.date_format("ship_s", "yyyy-MM-dd HH:mm:ss").alias("parsed_s")
    )


def q_sort_timestamps_monotonically(spark, sf):
    _utc(spark)
    ev = _t(spark, sf, "events").select("ts")
    out = pj.sort_timestamps_monotonically(
        ev, "ts", direction="decreasing", strict=True
    )
    return out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s")
    )


def q_get_join_indices(spark, sf):
    # positional indices are defined by each frame's current row order, so
    # pin both orders with an explicit total sort first
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey").orderBy(
        "c_custkey"
    )
    n = _t(spark, sf, "nation").select("n_nationkey").orderBy("n_nationkey")
    out = pj.get_join_indices(c, n, [("c_nationkey", "n_nationkey", "==")])
    return out.select(
        F.col("left_index").cast("long").alias("left_index"),
        F.col("right_index").cast("long").alias("right_index"),
    )


def q_read_csvs(spark, sf):
    # round-trip: split nation into two CSV shards (written under the
    # repo's cache dir — the only writable location), read them back as
    # ONE frame through read_csvs' glob + schema-check path
    import hashlib

    from pyjanitor_spark.sources import read_csvs

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    d = f"/root/repo/.cache/csv_fixture/{tag}"
    os.makedirs(d, exist_ok=True)
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    nat.filter(F.col("n_nationkey") < 12).toPandas().to_csv(
        f"{d}/nation_a.csv", index=False
    )
    nat.filter(F.col("n_nationkey") >= 12).toPandas().to_csv(
        f"{d}/nation_b.csv", index=False
    )
    out = read_csvs(spark, f"{d}/nation_*.csv")
    return out.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


def q_orc_roundtrip(spark, sf):
    # write_orc -> read_orc round-trip (sinks.py): partitioned by
    # returnflag + sorted within partitions on orderkey so the ORC
    # stripe stats are exercised; the read-back must equal the plain
    # parquet projection (oracle reads the same rows from lineitem)
    import hashlib

    from pyjanitor_spark.sources import read_orc, write_orc

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    d = f"/root/repo/.cache/orc_fixture/{tag}"
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    write_orc(
        li, d, partition_by=["l_returnflag"], sort_by=["l_orderkey"]
    )
    out = read_orc(spark, d)
    # hive partition column comes back last and typed string — restore
    # the original projection order/type for the oracle compare
    return out.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
    )


def q_csv_roundtrip(spark, sf):
    # write_csv (hive-partitioned) -> read back with an explicit schema
    # (sinks.py:99): content must equal the source projection.  The
    # partition column returns last/string; restore order and types.
    import hashlib

    from pyjanitor_spark.sources.sinks import read_csv, write_csv

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    d = f"/root/repo/.cache/csv_fixture/{tag}"
    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    )
    write_csv(o, d, partition_by=["o_orderstatus"])
    out = read_csv(
        spark,
        d,
        schema="o_orderkey long, o_totalprice double, o_orderpriority string",
        basePath=d,
    )
    return out.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
    )


def q_json_roundtrip(spark, sf):
    # write_json (hive-partitioned JSON-lines) -> schema'd read back
    # (sinks.py:116); content equals the source projection
    import hashlib

    from pyjanitor_spark.sources.sinks import write_json

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    d = f"/root/repo/.cache/json_fixture/{tag}"
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    write_json(c, d, partition_by=["c_mktsegment"])
    out = spark.read.schema(
        "c_custkey long, c_name string, c_acctbal double"
    ).option("basePath", d).json(d)
    return out.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.col("c_mktsegment").cast("string").alias("c_mktsegment"),
    )


def q_bucketed_roundtrip(spark, sf):
    # write_bucketed_table -> catalog read-back (sinks.py:132,273): the
    # shuffle paid at write time, content equal to the source; the gate
    # also proves the catalog metadata round-trips (bucketBy+sortBy)
    import hashlib

    from pyjanitor_spark.sources.sinks import (
        read_bucketed_table,
        write_bucketed_table,
    )

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    name = f"pj_gate_part_{tag}"
    p = _t(spark, sf, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    # a prior SESSION's managed-table location can survive on disk while
    # this session's in-memory catalog has no such table; clear both or
    # saveAsTable raises LOCATION_ALREADY_EXISTS
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = f"{wh.removeprefix('file:')}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    write_bucketed_table(p, name, bucket_by=["p_partkey"], num_buckets=4,
                         sort_by=["p_partkey"])
    return read_bucketed_table(spark, name).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )


def q_zorder_roundtrip(spark, sf):
    # write_zordered -> plain parquet read-back (sinks.py:238): the
    # Morton clustering reorders rows/files but the CONTENT is the
    # source projection — layout is exercised, values are gated
    import hashlib

    from pyjanitor_spark.sources.sinks import write_zordered

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    d = f"/root/repo/.cache/zorder_fixture/{tag}"
    ev = _t(spark, sf, "events").select("event_id", "user_id", "value")
    write_zordered(ev, d, zorder_by=["user_id", "value"], num_files=4)
    return spark.read.parquet(d).select("event_id", "user_id", "value")


# ---- round-7 second wave: struct-index verbs, pipe combinators, sources ----

def q_collapse_levels(spark, sf):
    # MultiIndex stand-in: a struct column flattens to {col}_{field}
    n = _t(spark, sf, "nation")
    d = n.select(
        "n_nationkey",
        F.struct(
            F.col("n_name").alias("nm"), F.col("n_regionkey").alias("rk")
        ).alias("info"),
    )
    return pj.collapse_levels(d)


def q_explode_index(spark, sf):
    # inverse: flat m_* names group into one struct column via the
    # pattern form (names_sep='_' would split the l_* keys too)
    li = _t(spark, sf, "lineitem").select(
        *KEYS,
        F.col("l_quantity").alias("m_qty"),
        F.col("l_extendedprice").alias("m_price"),
    )
    ex = pj.explode_index(li, names_pattern=r"^(m)_(.*)$")
    return ex.select(
        *KEYS, F.col("m.qty").alias("qty"), F.col("m.price").alias("price")
    )


def q_join_apply(spark, sf):
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    out = pj.join_apply(
        c, n,
        lambda d: d["c_acctbal"] + d["n_regionkey"],
        on=c["c_nationkey"] == n["n_nationkey"],
        new_column_name="score",
    )
    return out.select("c_custkey", "score")


def q_change_index_dtype(spark, sf):
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    d = n.withColumn("_row_order", F.col("n_nationkey").cast("int"))
    out = pj.change_index_dtype(d, "double")
    return out.select(F.col("_row_order").alias("idx_d"), "n_name")


def q_read_commandline(spark, sf):
    import hashlib

    from pyjanitor_spark.sources import read_commandline

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    d = f"/root/repo/.cache/csv_fixture/{tag}"
    os.makedirs(d, exist_ok=True)
    path = f"{d}/region.csv"
    _t(spark, sf, "region").toPandas().to_csv(path, index=False)
    out = read_commandline(spark, f"cat {path}")
    return out.select(
        F.col("r_regionkey").cast("long").alias("r_regionkey"), "r_name"
    )


def q_also_then(spark, sf):
    # also() runs a side effect and passes the frame through; then()
    # applies fn(df)->df — chained, they must be the plain filter
    o = _t(spark, sf, "orders")
    seen: dict = {}
    out = pj.then(
        pj.also(o, lambda d: seen.update(ncols=len(d.columns))),
        lambda d: pj.filter_on(d, "o_totalprice > 100000"),
    )
    assert seen["ncols"] == len(o.columns)
    return out.select("o_orderkey", "o_totalprice")


def q_toset(spark, sf):
    # toset() is a bounded driver action by design (ref toset.py:18-51 —
    # a Python set of distinct values); re-framed as rows for the gate.
    # o_orderpriority has 5 distinct values at any SF.
    o = _t(spark, sf, "orders")
    vals = pj.toset(o, "o_orderpriority")
    assert isinstance(vals, set)
    return spark.createDataFrame([(v,) for v in sorted(vals)], "val string")


def q_get_columns(spark, sf):
    # get_index_labels resolves mixed selectors (glob + compiled regex,
    # ref select.py:450-474); get_columns projects them (select.py:477-497)
    import re as _re

    li = _t(spark, sf, "lineitem")
    labels = pj.get_index_labels(li, ["l_orderkey", "l_*price", _re.compile("quantity$")])
    assert labels == ["l_orderkey", "l_extendedprice", "l_quantity"], labels
    return pj.get_columns(li, labels)


def q_pq_encode(spark, sf):
    # product quantization: deterministic per-subspace Lloyd (m=2 sub-
    # codebooks of k=2, 1 round) then quantize every vector to 2 codes;
    # the oracle unrolls the identical per-subspace arithmetic in SQL.
    # Codes projected as SCALAR columns (element_at) — the driver's
    # pandas canonicalizer cannot sort/hash raw array<int> cells
    e, _ = _query_vec(spark, sf)
    cb = pj.pq_train(e, "embedding", "vec_id", m=2, k=2, iters=1)
    enc = pj.pq_encode(e, "embedding", cb)
    return enc.select(
        "vec_id",
        F.element_at("pq_code", 1).alias("c1"),
        F.element_at("pq_code", 2).alias("c2"),
    )


def q_pq_topk(spark, sf):
    # end-to-end ADC search: train + encode inline, score via the literal
    # m*k distance-table lookup, TakeOrdered top-20
    e, qv = _query_vec(spark, sf)
    return pj.pq_topk(
        e, qv, "embedding", "vec_id", k=20, m=2, codebook_k=2, iters=1
    )


def q_ivf_pq_topk(spark, sf):
    # IVF routing (decimal-exact label centroids, nprobe=2) + global PQ
    # codebooks + ADC scan of the probed clusters only
    e, qv = _query_vec(spark, sf)
    return pj.ivf_pq_topk(
        e, qv, "embedding", "vec_id", "label",
        k=10, nprobe=2, m=2, codebook_k=2, iters=1,
    )


def q_nb_classify(spark, sf):
    # train the multinomial NB on the corpus labels, score the same
    # corpus (self-classification — the standard quality-filter loop);
    # decimal llk sums make the argmax layout-independent
    d = _t(spark, sf, "documents")
    model = pj.nb_train(d, "text", "lang", k=1.0, min_count=2)
    return pj.nb_score(d, model, "text", "doc_id").select("doc_id", "nb_pred")


def q_unionize_categories(spark, sf):
    # unionize_dataframe_categories validates + reconciles category sets
    # before concatenation (ref functions/utils.py:40-137); Spark
    # categoricals are plain strings so the frames pass through — the
    # gate proves the reference pipeline (unionize -> concat -> groupby)
    # runs verbatim and the union loses no category values
    c = _t(spark, sf, "customer")
    lo = c.filter(F.col("c_acctbal") < 0)
    hi = c.filter(F.col("c_acctbal") >= 0)
    a, b = pj.unionize_dataframe_categories(lo, hi, column_names="c_mktsegment")
    return (
        a.unionByName(b)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Every entry is checked against its oracle_sql() twin by
    # tools/check_correctness.py; tests/test_oracle_gate.py runs the
    # entries whose verbs the perfbench workloads call.
    return {
        "row_to_names": q_row_to_names,
        "drop_duplicate_columns": q_drop_duplicate_columns,
        "to_datetime": q_to_datetime,
        "sort_timestamps_monotonically": q_sort_timestamps_monotonically,
        "get_join_indices": q_get_join_indices,
        "read_csvs": q_read_csvs,
        "orc_roundtrip": q_orc_roundtrip,
        # round-11 sink roundtrip gates (same recipe as orc_roundtrip)
        "csv_roundtrip": q_csv_roundtrip,
        "json_roundtrip": q_json_roundtrip,
        "bucketed_roundtrip": q_bucketed_roundtrip,
        "zorder_roundtrip": q_zorder_roundtrip,
        "ecdf": q_ecdf,
        "z_score": q_z_score,
        "softmax": q_softmax,
        "count_cumulative_unique": q_count_cumulative_unique,
        "quantile_bin": q_quantile_bin,
        "winsorize": q_winsorize,
        "robust_scale": q_robust_scale,
        "take_token_budget": q_take_token_budget,
        "assign_packs": q_assign_packs,
        "move_rows": q_move_rows,
        "factorize_appearance": q_factorize_appearance,
        "shuffle": q_shuffle,
        "get_dupes": q_get_dupes,
        "take_first": q_take_first,
        "xlsx_table": q_xlsx_table,
        "xlsx_cells": q_xlsx_cells,
        "fill_direction": q_fill_direction,
        "flag_jumps": q_flag_jumps,
        "exp": q_exp,
        "logit": q_logit,
        "normal_cdf": q_normal_cdf,
        "probit": q_probit,
        "dedupe_exact": q_dedupe_exact,
        "fingerprint": q_fingerprint,
        "simhash": q_simhash,
        "minhash_lsh_pairs": q_minhash_lsh,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "ngram_jaccard_sampled": q_ngram_jaccard_sampled,
        "embedding_near_dup": q_embedding_near_dup,
        "near_dup_multiblock": q_near_dup_multiblock,
        "semdedup_split": q_semdedup_split,
        "near_dup_split": q_near_dup_split,
        "semdedup_auto": q_semdedup_auto,
        "near_dup_autosplit": q_near_dup_autosplit,
        "gopher_repetition_exact": q_gopher_repetition_exact,
        "cosine_topk": q_cosine_topk,
        "lsh_bucket_topk": q_lsh_bucket_topk,
        "ivf_topk": q_ivf_topk,
        "asof_join": q_asof_join,
        "dup_span_fraction": q_dup_span_fraction,
        "normalize_text": q_normalize_text,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "gopher_repetition": q_gopher_repetition,
        "language_id": q_language_id,
        "binary_metadata": q_binary_metadata,
        "resize_payload": q_resize_payload,
        "dedupe_near_best": q_dedupe_near_best,
        "contamination": q_contamination,
        "chunk_text": q_chunk_text,
        "expand_grid": q_expand_grid,
        "cartesian_product": q_cartesian_product,
        "sort_naturally": q_sort_naturally,
        "case_when": q_case_when,
        "update_where": q_update_where,
        "flag_nulls": q_flag_nulls,
        "coalesce": q_coalesce,
        "fill_empty": q_fill_empty,
        "impute": q_impute_mean,
        "groupby_topk": q_groupby_topk,
        "dropnotnull": q_dropnotnull,
        "concatenate_columns": q_concatenate_columns,
        "deconcatenate_column": q_deconcatenate_column,
        "change_type": q_change_type,
        "convert_excel_date": q_convert_excel_date,
        "convert_unix_date": q_convert_unix_date,
        "truncate_datetime": q_truncate_datetime,
        "bin_numeric": q_bin_numeric,
        "round_to_fraction": q_round_to_fraction,
        "groupby_agg": q_groupby_agg,
        "groupby_agg_multi": q_groupby_agg_multi,
        "groupby_agg_nunique": q_groupby_agg_nunique,
        "simhash_pairs": q_simhash_pairs,
        "semdedup": q_semdedup,
        "conditional_join_right": q_conditional_join_right,
        "conditional_join_range_open": q_conditional_join_range_open,
        "conditional_join_equi": q_conditional_join_equi,
        "conditional_join_range": q_conditional_join_range,
        "conditional_join_left": q_conditional_join_left,
        "conditional_join_outer": q_conditional_join_outer,
        "conditional_join_keep_first": q_conditional_join_keep_first,
        "conditional_join_keep_last": q_conditional_join_keep_last,
        "conditional_join_indicator": q_conditional_join_indicator,
        "add_column_values": q_add_column_values,
        "hashed_tfidf": q_hashed_tfidf,
        "convert_matlab_date": q_convert_matlab_date,
        "remove_empty": q_remove_empty,
        "limit_column_characters": q_limit_column_characters,
        "label_encode": q_label_encode,
        "encode_categorical": q_encode_categorical,
        "convert_units": q_convert_units,
        "inflate_currency": q_inflate_currency,
        "data_description": q_data_description,
        "min_max_scale": q_min_max_scale,
        "pivot_wider": q_pivot_wider,
        "factorize_columns": q_factorize_columns,
        "kmeans_assign": q_kmeans_assign,
        "url_normalize": q_url_normalize,
        "heavy_hitters": q_heavy_hitters,
        "hash_columns": q_hash_columns,
        "decode_features": q_decode_features,
        "frame_sample": q_frame_sample,
        "jitter": q_jitter,
        "windowed_agg": q_windowed_agg,
        "remove_duplicated_spans": q_remove_duplicated_spans,
        "mix_corpora": q_mix_corpora,
        "pivot_longer": q_pivot_longer,
        "complete": q_complete,
        "expand": q_expand,
        "fill_missing_timestamps": q_fill_missing_timestamps,
        "sigmoid": q_sigmoid,
        "log": q_log,
        "process_text": q_process_text,
        "find_replace": q_find_replace,
        "column_ops": q_column_ops,
        "drop_constant_columns": q_drop_constant_columns,
        "expand_column": q_expand_column,
        "currency_column_to_numeric": q_currency_to_numeric,
        "transform_column": q_transform_column,
        "clean_names": q_clean_names,
        "filter_date": q_filter_date,
        "filter_string": q_filter_string,
        "filter_on": q_filter_on,
        "filter_column_isin": q_filter_isin,
        "sort_column_value_order": q_sort_column_value_order,
        "pivot_longer_spec": q_pivot_longer_spec,
        "sessionize": q_sessionize,
        "running_counter": q_running_counter,
        "bm25_score": q_bm25_score,
        "top_domains": q_top_domains,
        "smiles_descriptors": q_smiles_descriptors,
        "ngram_lm_score": q_ngram_lm_score,
        "bpe_encode": q_bpe_encode,
        "top_collocations": q_top_collocations,
        "near_dup_clusters": q_near_dup_clusters,
        "near_dup_clusters_contracted": q_near_dup_clusters_contracted,
        "dedupe_near": q_dedupe_near,
        "dedupe_against": q_dedupe_against,
        "repetition_score": q_repetition_score,
        "pii_redact": q_pii_redact,
        "deterministic_sample": q_deterministic_sample,
        "stratified_sample": q_stratified_sample,
        "split_train_holdout": q_split_train_holdout,
        "bloom_dedupe_against": q_bloom_dedupe_against,
        "top_ngrams": q_top_ngrams,
        "process_text_fallback": q_process_text_fallback,
        "add_columns": q_add_columns,
        "move_reorder": q_move_reorder,
        "collapse_levels": q_collapse_levels,
        "explode_index": q_explode_index,
        "join_apply": q_join_apply,
        "change_index_dtype": q_change_index_dtype,
        "read_commandline": q_read_commandline,
        "also_then": q_also_then,
        # round-8: the last gateable §2 verbs — only xarray stays ungated
        "toset": q_toset,
        "get_columns": q_get_columns,
        "unionize_categories": q_unionize_categories,
        # round-8 new similarity-scale ops
        "pq_encode": q_pq_encode,
        "pq_topk": q_pq_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "nb_classify": q_nb_classify,
        # round-9 new scale ops
        "weighted_sample": q_weighted_sample,
        "dsir_weights": q_dsir_weights,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # ---- round-7 second wave ----
        "collapse_levels": (
            "SELECT n_nationkey, n_name AS info_nm, n_regionkey AS info_rk "
            "FROM nation"
        ),
        "explode_index": (
            "SELECT l_orderkey, l_linenumber, l_quantity AS qty, "
            "l_extendedprice AS price FROM lineitem"
        ),
        "join_apply": (
            "SELECT c_custkey, c_acctbal + n_regionkey AS score "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey"
        ),
        "change_index_dtype": (
            "SELECT CAST(n_nationkey AS DOUBLE) AS idx_d, n_name FROM nation"
        ),
        "read_commandline": (
            "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region"
        ),
        "also_then": (
            "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000"
        ),
        # ---- round-8 last gateable verbs ----
        "toset": "SELECT DISTINCT o_orderpriority AS val FROM orders",
        "get_columns": "SELECT l_orderkey, l_extendedprice, l_quantity FROM lineitem",
        "unionize_categories": (
            "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment"
        ),
        # ---- round-7 long-tail gates ----
        "row_to_names": (
            'SELECT n_nationkey, n_name AS "NATION_0_NATION_1" FROM nation '
            "WHERE n_nationkey >= 2"
        ),
        "drop_duplicate_columns": (
            # nth_index=1 DROPS the second duplicate (l_extendedprice),
            # keeping l_quantity (ref drop_duplicate_columns.py:10-64)
            "SELECT l_orderkey, l_linenumber, l_quantity AS val FROM lineitem"
        ),
        "to_datetime": (
            "SELECT l_orderkey, l_linenumber, "
            "strftime(strptime(strftime(l_shipdate, '%Y-%m-%d'), '%Y-%m-%d'), "
            "'%Y-%m-%d %H:%M:%S') AS parsed_s FROM lineitem"
        ),
        "sort_timestamps_monotonically": (
            # strict=True drops duplicate timestamps; ts is the only column
            # so the surviving set is DISTINCT ts (row order washes out in
            # the driver's sorted hash)
            "SELECT DISTINCT strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s FROM events"
        ),
        "get_join_indices": (
            "WITH l AS (SELECT c_nationkey, row_number() OVER (ORDER BY c_custkey) - 1 "
            "AS left_index FROM customer), "
            "r AS (SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey) - 1 "
            "AS right_index FROM nation) "
            "SELECT left_index, right_index FROM l JOIN r "
            "ON l.c_nationkey = r.n_nationkey"
        ),
        "read_csvs": (
            # the Spark side round-trips nation through two CSV shards; the
            # content equals the source table
            "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, "
            "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"
        ),
        "orc_roundtrip": (
            # the Spark side round-trips through a partitioned+sorted ORC
            # sink; the content equals the source projection
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
            "CAST(l_linenumber AS BIGINT) AS l_linenumber, "
            "CAST(l_quantity AS DOUBLE) AS l_quantity, "
            "CAST(l_returnflag AS VARCHAR) AS l_returnflag FROM lineitem"
        ),
        "csv_roundtrip": (
            "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, "
            "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
            "o_orderpriority, CAST(o_orderstatus AS VARCHAR) AS o_orderstatus "
            "FROM orders"
        ),
        "json_roundtrip": (
            "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, "
            "CAST(c_acctbal AS DOUBLE) AS c_acctbal, "
            "CAST(c_mktsegment AS VARCHAR) AS c_mktsegment FROM customer"
        ),
        "bucketed_roundtrip": (
            "SELECT p_partkey, p_brand, p_size, p_retailprice FROM part"
        ),
        "zorder_roundtrip": (
            "SELECT event_id, user_id, value FROM events"
        ),
        "groupby_agg": (
            "SELECT l_returnflag, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY l_returnflag"
        ),
        "clean_names": (
            "SELECT l_orderkey, l_quantity, l_returnflag AS return_flag FROM lineitem"
        ),
        "filter_date": (
            "SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1994-01-01' "
            "AND l_shipdate <= TIMESTAMP '1996-12-31' AND month(l_shipdate) IN (1,2,3)"
        ),
        "filter_string": (
            "SELECT o_orderkey, o_orderpriority FROM orders "
            "WHERE regexp_matches(o_orderpriority, 'URGENT')"
        ),
        "filter_on": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem "
            "WHERE l_quantity > 30 AND l_discount < 0.05"
        ),
        "filter_column_isin": (
            "SELECT c_custkey, c_mktsegment FROM customer "
            "WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')"
        ),
        "case_when": (
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN l_extendedprice < 1000 THEN 'low' "
            "WHEN l_extendedprice < 5000 THEN 'mid' ELSE 'high' END AS price_band "
            "FROM lineitem"
        ),
        "update_where": (
            "SELECT o_orderkey, CASE WHEN o_totalprice < 5000 THEN '0-LOW' "
            "ELSE o_orderpriority END AS o_orderpriority FROM orders"
        ),
        "flag_nulls": (
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN nullif(l_returnflag, 'N') IS NULL THEN 1 ELSE 0 END AS null_flag "
            "FROM lineitem"
        ),
        "coalesce": (
            "SELECT l_orderkey, l_linenumber, "
            "coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS merged FROM lineitem"
        ),
        "fill_empty": (
            "SELECT l_orderkey, l_linenumber, "
            "coalesce(nullif(l_returnflag, 'N'), 'X') AS ws FROM lineitem"
        ),
        "impute": (
            "SELECT l_orderkey, l_linenumber, coalesce("
            "CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity END, "
            "(SELECT avg(CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity END) "
            "FROM lineitem)) AS q2, coalesce("
            "CASE WHEN l_tax > 0.04 THEN NULL ELSE CAST(l_quantity AS DOUBLE) END, "
            "(SELECT median(CASE WHEN l_tax > 0.04 THEN NULL "
            "ELSE CAST(l_quantity AS DOUBLE) END) FROM lineitem)) AS q3 "
            "FROM lineitem"
        ),
        "get_dupes": (
            "SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber FROM lineitem "
            "QUALIFY count(*) OVER (PARTITION BY l_partkey, l_suppkey) > 1"
        ),
        "dropnotnull": (
            "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'N'"
        ),
        "concatenate_columns": (
            "SELECT l_orderkey, l_linenumber, "
            "concat_ws('-', l_returnflag, l_linestatus) AS flag_status FROM lineitem"
        ),
        "deconcatenate_column": (
            "SELECT o_orderkey, split_part(o_orderpriority, '-', 1) AS pnum, "
            "split_part(o_orderpriority, '-', 2) AS pword FROM orders"
        ),
        "change_type": (
            "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS l_quantity "
            "FROM lineitem"
        ),
        "convert_excel_date": (
            "SELECT l_orderkey, l_linenumber, "
            "strftime(DATE '1899-12-30' + CAST(date_diff('day', DATE '1899-12-30', "
            "CAST(l_shipdate AS DATE)) AS INT), '%Y-%m-%d') AS excel_date FROM lineitem"
        ),
        "convert_unix_date": (
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str FROM events"
        ),
        "truncate_datetime": (
            "SELECT event_id, strftime(date_trunc('month', ts), '%Y-%m-%d') AS ts_month "
            "FROM events"
        ),
        "bin_numeric": (
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN l_quantity >= 0 AND l_quantity <= 10 THEN 'low' "
            "WHEN l_quantity > 10 AND l_quantity <= 25 THEN 'mid' "
            "WHEN l_quantity > 25 AND l_quantity <= 50 THEN 'high' END AS qty_bin "
            "FROM lineitem"
        ),
        "round_to_fraction": (
            "SELECT l_orderkey, l_linenumber, round(l_extendedprice * 4) / 4 AS price_q "
            "FROM lineitem"
        ),
        "min_max_scale": (
            "SELECT l_orderkey, l_linenumber, "
            "(l_quantity - min(l_quantity) OVER ()) / "
            "(max(l_quantity) OVER () - min(l_quantity) OVER ()) AS qty_scaled FROM lineitem"
        ),
        "groupby_topk": (
            "SELECT o_orderpriority, o_orderkey FROM orders QUALIFY "
            "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) <= 3"
        ),
        "take_first": (
            "SELECT o_custkey, o_orderkey FROM orders QUALIFY "
            "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1"
        ),
        "factorize_columns": (
            "SELECT c_custkey, c_mktsegment, CAST(dense_rank() OVER (ORDER BY c_mktsegment) "
            "- 1 AS INT) AS c_mktsegment_enc FROM customer"
        ),
        "factorize_appearance": (
            "WITH firsts AS (SELECT c_mktsegment, min(c_custkey) AS fp "
            "FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY c_mktsegment), "
            "codes AS (SELECT c_mktsegment, CAST(dense_rank() OVER "
            "(ORDER BY fp, c_mktsegment) - 1 AS INT) AS enc FROM firsts) "
            "SELECT c_custkey, c_mktsegment, COALESCE(enc, -1) AS c_mktsegment_enc "
            "FROM customer LEFT JOIN codes USING (c_mktsegment)"
        ),
        "groupby_agg_multi": (
            "SELECT l_returnflag, sum(l_quantity) AS sum_qty, "
            "max(l_extendedprice) AS max_price, "
            "CAST(count(DISTINCT l_partkey) AS INT) AS n_parts, "
            "median(CAST(l_quantity AS DOUBLE)) AS med_qty "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "count_cumulative_unique": (
            "WITH t AS (SELECT event_id, row_number() OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS rn FROM events) "
            "SELECT event_id, CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER "
            "(ORDER BY event_id) AS BIGINT) AS ccu FROM t"
        ),
        "z_score": (
            "SELECT c_custkey, (c_acctbal - avg(c_acctbal) OVER ()) / "
            "stddev_samp(c_acctbal) OVER () AS z FROM customer"
        ),
        "sigmoid": (
            "SELECT l_orderkey, l_linenumber, 1.0 / (1.0 + exp(-l_discount)) AS sig "
            "FROM lineitem"
        ),
        "log": (
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN l_discount <= 0 THEN NULL ELSE ln(l_discount) END AS ln_disc "
            "FROM lineitem"
        ),
        "softmax": (
            # duckdb rejects nested window calls -> hoist exp() into a CTE
            "WITH t AS (SELECT l_orderkey, l_linenumber, "
            "exp(l_tax - max(l_tax) OVER ()) AS e FROM lineitem) "
            "SELECT l_orderkey, l_linenumber, e / sum(e) OVER () AS sm FROM t"
        ),
        "ecdf": (
            "SELECT l_orderkey, l_linenumber, l_quantity, "
            "cume_dist() OVER (ORDER BY l_quantity) AS qty_ecdf FROM lineitem"
        ),
        "process_text": (
            "SELECT c_custkey, regexp_extract(c_name, '#(\\d+)', 1) AS cust_num "
            "FROM customer"
        ),
        "find_replace": (
            "SELECT event_id, CASE event_type WHEN 'click' THEN 'c' "
            "WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p' ELSE event_type END "
            "AS event_type FROM events"
        ),
        "column_ops": (
            "SELECT l_quantity AS qty, l_orderkey, l_returnflag FROM lineitem"
        ),
        "drop_constant_columns": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"
        ),
        "expand_column": (
            "SELECT doc_id, lang, "
            "CAST(lang = 'de' AS INT) AS de, CAST(lang = 'en' AS INT) AS en, "
            "CAST(lang = 'es' AS INT) AS es, CAST(lang = 'fr' AS INT) AS fr, "
            "CAST(lang = 'zh' AS INT) AS zh FROM documents"
        ),
        "currency_column_to_numeric": (
            "SELECT l_orderkey, l_linenumber, l_extendedprice AS money FROM lineitem"
        ),
        "transform_column": (
            "SELECT l_orderkey, l_linenumber, l_quantity * 2 AS qty2 FROM lineitem"
        ),
        "conditional_join_equi": (
            "SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            "AND o_totalprice > l_extendedprice"
        ),
        "conditional_join_range": (
            "SELECT p_partkey, s_suppkey, s_acctbal AS lo, s_acctbal + 500 AS hi "
            "FROM part, supplier WHERE p_retailprice > s_acctbal "
            "AND p_retailprice < s_acctbal + 500"
        ),
        "conditional_join_keep_first": (
            "WITH j AS (SELECT p_partkey, s_acctbal AS lo, s_acctbal + 500 AS hi "
            "FROM part, supplier WHERE p_retailprice > s_acctbal "
            "AND p_retailprice < s_acctbal + 500) "
            "SELECT p_partkey, lo, hi FROM j QUALIFY "
            "row_number() OVER (PARTITION BY p_partkey ORDER BY lo, hi) = 1"
        ),
        "conditional_join_keep_last": (
            "WITH j AS (SELECT p_partkey, s_acctbal AS lo, s_acctbal + 500 AS hi "
            "FROM part, supplier WHERE p_retailprice > s_acctbal "
            "AND p_retailprice < s_acctbal + 500) "
            "SELECT p_partkey, lo, hi FROM j QUALIFY "
            "row_number() OVER (PARTITION BY p_partkey ORDER BY lo DESC, hi DESC) = 1"
        ),
        "conditional_join_indicator": (
            "SELECT o_orderkey, o_totalprice, l_linenumber, l_extendedprice, "
            "CASE WHEN l_orderkey IS NOT NULL THEN 'both' ELSE 'left_only' END "
            "AS _merge "
            "FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey "
            "AND o_totalprice < l_extendedprice"
        ),
        "conditional_join_left": (
            "SELECT o_orderkey, o_totalprice, l_linenumber, l_extendedprice "
            "FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey "
            "AND o_totalprice < l_extendedprice"
        ),
        "conditional_join_outer": (
            "SELECT r_regionkey, n_nationkey, n_regionkey "
            "FROM region FULL OUTER JOIN nation ON r_regionkey = n_regionkey "
            "AND r_regionkey > n_nationkey"
        ),
        "conditional_join_right": (
            "SELECT o_orderkey, o_totalprice, l_linenumber, l_extendedprice "
            "FROM orders RIGHT JOIN lineitem ON o_orderkey = l_orderkey "
            "AND o_totalprice < l_extendedprice"
        ),
        "conditional_join_range_open": (
            "SELECT p_partkey, p_retailprice, s_suppkey, s_acctbal "
            "FROM part JOIN (SELECT s_suppkey, s_acctbal FROM supplier "
            "WHERE s_acctbal < 1200) s ON p_retailprice < s_acctbal"
        ),
        "pivot_longer": (
            "SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val "
            "FROM lineitem UNION ALL "
            "SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem "
            "UNION ALL "
            "SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"
        ),
        "pivot_wider": (
            "SELECT l_returnflag, "
            "sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS \"F\", "
            "sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS \"O\" "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "complete": (
            "WITH base AS (SELECT l_returnflag, CAST(l_quantity AS INT) AS qty, "
            "count(*) AS n FROM lineitem WHERE l_quantity <= 5 GROUP BY 1, 2), "
            "flags AS (SELECT DISTINCT l_returnflag FROM base), "
            "qtys AS (SELECT DISTINCT qty FROM base) "
            "SELECT flags.l_returnflag, qtys.qty, base.n FROM flags "
            "CROSS JOIN qtys LEFT JOIN base USING (l_returnflag, qty)"
        ),
        "expand": (
            "SELECT f.l_returnflag, s.l_linestatus FROM "
            "(SELECT DISTINCT l_returnflag FROM lineitem) f CROSS JOIN "
            "(SELECT DISTINCT l_linestatus FROM lineitem) s"
        ),
        "fill_missing_timestamps": (
            "WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n "
            "FROM events GROUP BY 1), "
            "grid AS (SELECT unnest(generate_series((SELECT min(hr) FROM h), "
            "(SELECT max(hr) FROM h), INTERVAL '1 hour')) AS hr) "
            "SELECT strftime(grid.hr, '%Y-%m-%d %H:%M:%S') AS hr_str, h.n "
            "FROM grid LEFT JOIN h ON grid.hr = h.hr"
        ),
        "fill_direction": (
            "SELECT event_id, last_value(CASE WHEN event_type = 'click' THEN NULL "
            "ELSE value END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v2 FROM events"
        ),
        "groupby_agg_nunique": (
            "SELECT l_orderkey, l_linenumber, CAST(g.n AS INT) AS n_status "
            "FROM lineitem JOIN (SELECT l_returnflag, "
            "count(DISTINCT l_linestatus) AS n FROM lineitem GROUP BY 1) g "
            "USING (l_returnflag)"
        ),
        "bloom_dedupe_against": (
            "SELECT doc_id FROM documents WHERE lang <> 'en' AND text NOT IN "
            "(SELECT text FROM documents WHERE lang = 'en')"
        ),
        "top_ngrams": (
            f"WITH toks AS (SELECT {_TOKS} AS t FROM documents), "
            "g AS (SELECT unnest(list_transform(generate_series(1, "
            "greatest(len(t) - 1, 0)), i -> t[i] || ' ' || t[i+1])) AS ngram "
            "FROM toks) "
            "SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram "
            "ORDER BY cnt DESC, ngram LIMIT 20"
        ),
        "process_text_fallback": (
            # casefold == lower for the ASCII customer names
            "SELECT c_custkey, lower(c_name) AS c_name FROM customer"
        ),
        # the xlsx queries read the deterministic generated workbook
        # (build_demo_workbook): literal oracles, like expand_grid
        "xlsx_table": (
            "SELECT 'ab' AS name, CAST(1.0 AS DOUBLE) AS qty "
            "UNION ALL SELECT 'cd', CAST(2.5 AS DOUBLE)"
        ),
        "xlsx_cells": (
            'SELECT * FROM (VALUES '
            "('Data', CAST(1 AS INT), CAST(1 AS INT), 'A1', 's', 'name'), "
            "('Data', 1, 2, 'B1', 's', 'qty'), "
            "('Data', 2, 1, 'A2', 's', 'ab'), "
            "('Data', 2, 2, 'B2', 'n', '1'), "
            "('Data', 2, 3, 'C2', 'f', '=SUM(B2:B3)'), "
            "('Data', 3, 1, 'A3', 's', 'cd'), "
            "('Data', 3, 2, 'B3', 'n', '2.5')"
            ') t(sheet, "row", "column", coordinate, data_type, value)'
        ),
        # hand-executed BPE merge sequences for the literal merge table:
        # low -> low</w>; lower -> low + er</w>; lowest -> low + est</w>;
        # widest -> w i d est</w>; go -> g o</w> (no merge applies)
        "bpe_encode": (
            "SELECT * FROM (VALUES "
            "(CAST(1 AS INT), CAST(0 AS INT), 'low</w>'), "
            "(1, 1, 'low'), (1, 2, 'er</w>'), "
            "(1, 3, 'low'), (1, 4, 'est</w>'), "
            "(1, 5, 'w'), (1, 6, 'i'), (1, 7, 'd'), (1, 8, 'est</w>'), "
            "(2, 0, 'g'), (2, 1, 'o</w>')"
            ") t(id, pos, token)"
        ),
        # stupid backoff: S = c_xy/c_x when the bigram survives
        # min_count=2 pruning, else 0.4 * c_w2 / T; doc score = avg(ln S)
        "ngram_lm_score": (
            "WITH base AS (SELECT doc_id, list_transform("
            "string_split_regex(trim(text), '\\s+'), x -> lower(x)) AS t "
            "FROM documents WHERE trim(text) <> ''), "
            "uni AS (SELECT w, count(*) AS c FROM "
            "(SELECT unnest(t) AS w FROM base) GROUP BY w), "
            "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS T FROM uni), "
            "bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM base, "
            "unnest(generate_series(1, len(t)-1)) AS u(i)), "
            "bi AS (SELECT w1, w2, count(*) AS c_xy FROM bg "
            "GROUP BY w1, w2 HAVING count(*) >= 2), "
            "scored AS (SELECT g.doc_id, CASE WHEN b.c_xy IS NOT NULL "
            "THEN ln(b.c_xy * 1.0 / u1.c) "
            "ELSE ln(0.4 * u2.c / (SELECT T FROM tot)) END AS s "
            "FROM bg g LEFT JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2 "
            "JOIN uni u1 ON g.w1 = u1.w JOIN uni u2 ON g.w2 = u2.w) "
            "SELECT d.doc_id, sc.lm_logprob FROM documents d LEFT JOIN "
            "(SELECT doc_id, avg(s) AS lm_logprob FROM scored "
            "GROUP BY doc_id) sc ON d.doc_id = sc.doc_id"
        ),
        # literal oracle hand-derived from the public SMILES grammar +
        # IUPAC 2021 atomic weights (NOT generated by the parser)
        "smiles_descriptors": (
            "SELECT * FROM (VALUES "
            "(CAST(1 AS INT), 'C2H6O', CAST(46.069 AS DOUBLE), "
            "CAST(1 AS INT), CAST(1 AS INT), CAST(0 AS INT), "
            "CAST(3 AS INT), CAST(0 AS INT)), "
            "(2, 'C9H8O4', 180.159, 1, 4, 1, 13, 0), "
            "(3, 'C8H10N4O2', 194.194, 0, 6, 2, 14, 0), "
            "(4, 'C7H6O2', 122.123, 1, 2, 1, 9, 0), "
            "(5, 'C8H11NO2', 153.181, 3, 3, 1, 11, 0), "
            "(6, 'C10H8', 128.174, 0, 0, 2, 10, 0), "
            "(7, 'ClNa', 58.44, 0, 0, 0, 2, 0), "
            "(8, 'C2H6OS', 78.129, 0, 1, 0, 4, 0), "
            "(9, 'H2O', 18.015, 1, 1, 0, 1, 0), "
            "(10, NULL, NULL, NULL, NULL, NULL, NULL, NULL)"
            ") t(id, formula, mol_weight, num_h_donors, num_h_acceptors, "
            "ring_count, heavy_atoms, net_charge)"
        ),
        "chunk_text": (
            f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents "
            "WHERE trim(text) <> ''), "
            "u AS (SELECT doc_id, t, len(t) AS n FROM toks), "
            "st AS (SELECT doc_id, t, n, "
            "unnest(generate_series(1, n, 64)) AS s FROM u) "
            "SELECT doc_id, CAST((s - 1) / 64 AS INT) AS chunk_id, "
            "array_to_string(t[s : least(s + 63, n)], ' ') AS chunk, "
            "CAST(least(n - s + 1, 64) AS INT) AS chunk_n_tokens FROM st"
        ),
        "sessionize": (
            # gaps-and-islands: Spark's session_window end is EXCLUSIVE, so an
            # event landing exactly `gap` after the previous one starts a new
            # session — hence >= (not >) in the break condition
            "WITH t AS (SELECT user_id, event_id, ts, CASE WHEN "
            "lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE "
            "THEN 1 ELSE 0 END AS brk FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s AS (SELECT user_id, event_id, ts, sum(brk) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM t) "
            "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
            "count(event_id) AS n_events FROM s GROUP BY user_id, sid"
        ),
        "windowed_agg": (
            "SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), "
            "'%Y-%m-%d %H:%M:%S') AS win_start, event_type, "
            "CAST(count(event_id) AS BIGINT) AS n_events, "
            "sum(value) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        "running_counter": (
            "SELECT user_id, count(*) AS n_events, "
            "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts "
            "FROM events GROUP BY user_id"
        ),
        "top_domains": (
            "WITH t AS (SELECT text || ' see http://site' || "
            "CAST(doc_id % 7 AS VARCHAR) || "
            "'.example.com/page and https://www.mirror' || "
            "CAST(doc_id % 3 AS VARCHAR) || '.example.org/x' AS text2 "
            "FROM documents), "
            "u AS (SELECT unnest(regexp_extract_all(text2, "
            "'https?://[^\\s\"''<>)\\]}]+')) AS url FROM t), "
            "d AS (SELECT regexp_replace(lower(regexp_extract(url, "
            "'https?://([^/:\\s]+)', 1)), '^www\\.', '') AS domain FROM u) "
            "SELECT domain, count(*) AS cnt FROM d WHERE domain <> '' "
            "GROUP BY domain ORDER BY cnt DESC, domain LIMIT 10"
        ),
        "contamination": (
            f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
            f"sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks), "
            "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0), "
            "corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0), "
            "tot AS (SELECT doc_id, count(*) AS n FROM corp GROUP BY 1), "
            "m AS (SELECT doc_id, count(*) AS m FROM corp "
            "WHERE s IN (SELECT s FROM bench) GROUP BY 1) "
            "SELECT d.doc_id, COALESCE(mm.m / t.n, 0.0) AS contamination "
            "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d "
            "LEFT JOIN tot t ON d.doc_id = t.doc_id "
            "LEFT JOIN m mm ON d.doc_id = mm.doc_id"
        ),
        "assign_packs": (
            f"WITH tk AS (SELECT doc_id, len({_TOKS}) AS ntok FROM documents) "
            "SELECT doc_id, CAST(GREATEST(FLOOR((sum(ntok) OVER (ORDER BY doc_id) "
            "- 1) / 500.0), 0) AS BIGINT) AS pack_id FROM tk"
        ),
        "url_normalize": (
            "SELECT doc_id, CASE doc_id % 4 "
            "WHEN 0 THEN 'https://example.com/p' || doc_id || '?id=' || doc_id "
            "WHEN 1 THEN 'http://site' || (doc_id % 7) || '.org/a' "
            "WHEN 2 THEN 'http://h.io/p?x=' || doc_id "
            "ELSE 'not a url ' || doc_id END AS url FROM documents"
        ),
        "top_collocations": (
            f"WITH tk AS (SELECT {_TOKS} AS t FROM documents), "
            "uni AS (SELECT unnest(t) AS w FROM tk), "
            "uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1), "
            "bt AS (SELECT list_transform(generate_series(1, len(t) - 1), "
            "i -> t[i] || ' ' || t[i+1]) AS bg FROM tk), "
            "bi0 AS (SELECT unnest(bg) AS bg FROM bt), "
            "bc AS (SELECT bg, count(*) AS c_xy FROM bi0 GROUP BY 1 "
            "HAVING count(*) >= 5), "
            "tot AS (SELECT (SELECT sum(c) FROM uc) AS t, "
            "(SELECT count(*) FROM bi0) AS b), "
            "j AS (SELECT split_part(bg, ' ', 1) AS w1, "
            "split_part(bg, ' ', 2) AS w2, c_xy FROM bc) "
            "SELECT j.w1, j.w2, j.c_xy, "
            "ln((j.c_xy / tot.b) / ((x.c / tot.t) * (y.c / tot.t))) AS pmi "
            "FROM j JOIN uc x ON j.w1 = x.w JOIN uc y ON j.w2 = y.w, tot "
            "ORDER BY pmi DESC, w1, w2 LIMIT 10"
        ),
        "simhash_pairs": (
            f"WITH s AS ({_simhash_sql(48)}) "
            "SELECT a.doc_id AS id_1, b.doc_id AS id_2, "
            "bit_count(xor(a.simhash, b.simhash)) AS hamming "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        "bm25_score": (
            "WITH tk AS (SELECT doc_id, coalesce(list_filter("
            "string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''), []) "
            "AS toks FROM documents), "
            "f AS (SELECT doc_id, len(toks) AS dl, "
            "len(list_filter(toks, x -> x = 'spark')) AS tf_0, "
            "len(list_filter(toks, x -> x = 'window')) AS tf_1, "
            "len(list_filter(toks, x -> x = 'join')) AS tf_2 FROM tk), "
            "s AS (SELECT count(*) AS n, avg(dl) AS avgdl, "
            "sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0, "
            "sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1, "
            "sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2 FROM f), "
            "nrm AS (SELECT f.*, s.*, CASE WHEN s.avgdl > 0 "
            "THEN 0.25 + 0.75 * (f.dl / s.avgdl) ELSE 1.0 END AS norm FROM f, s) "
            "SELECT doc_id, "
            "ln((n - df_0 + 0.5) / (df_0 + 0.5) + 1.0) * (tf_0 * 2.2) / (tf_0 + 1.2 * norm) + "
            "ln((n - df_1 + 0.5) / (df_1 + 0.5) + 1.0) * (tf_1 * 2.2) / (tf_1 + 1.2 * norm) + "
            "ln((n - df_2 + 0.5) / (df_2 + 0.5) + 1.0) * (tf_2 * 2.2) / (tf_2 + 1.2 * norm) "
            "AS bm25 FROM nrm"
        ),
        "heavy_hitters": (
            "WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1), "
            "t AS (SELECT count(*) AS tot FROM documents) "
            "SELECT c.lang, c.cnt, c.cnt / t.tot AS share FROM c, t "
            "WHERE c.cnt / t.tot >= 0.05"
        ),
        "hash_columns": (
            "SELECT c_custkey, "
            "CASE WHEN c_name IS NULL THEN NULL "
            "ELSE substr(md5('p:' || c_name), 1, 16) END AS c_name, "
            "CASE WHEN c_mktsegment IS NULL THEN NULL "
            "ELSE sha256('p:' || c_mktsegment) END AS c_mktsegment FROM customer"
        ),
        "quantile_bin": (
            "WITH c AS (SELECT l_quantity AS v, count(*) AS cnt FROM lineitem "
            "WHERE l_quantity IS NOT NULL GROUP BY 1), "
            "r AS (SELECT v, CAST(FLOOR((sum(cnt) OVER (ORDER BY v) - 1) * 4.0 "
            "/ (SELECT count(*) FROM lineitem WHERE l_quantity IS NOT NULL)) "
            "AS BIGINT) AS qbin FROM c) "
            "SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, r.qbin "
            "FROM lineitem l JOIN r ON l.l_quantity = r.v"
        ),
        "hashed_tfidf": (
            "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
            "trim(lower(text)), '\\s+')) AS tok FROM documents), "
            f"tf AS (SELECT doc_id, {_hex8_int('md5(tok)')} % 64 "
            "AS bucket, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2), "
            "dfq AS (SELECT bucket, count(*) AS dfreq FROM tf GROUP BY 1), "
            "n AS (SELECT count(DISTINCT doc_id) AS n FROM tf) "
            "SELECT tf.doc_id, tf.bucket, "
            "tf.tf * (ln((1.0 + n.n) / (1.0 + dfq.dfreq)) + 1.0) AS weight "
            "FROM tf JOIN dfq USING (bucket), n"
        ),
        # sort_naturally: the ORDER is not hash-comparable, but the
        # computed natural key is — verified value-wise here
        "sort_naturally": (
            r"SELECT p_partkey, p_brand, regexp_replace(regexp_replace("
            r"CAST(p_brand AS VARCHAR), '(\d+)', '00000000000000000000\1', 'g'), "
            r"'0*(\d{20})', '\1', 'g') AS natural_key FROM part"
        ),
        # decode_features / frame_sample: rows-only (see q_*)
        **_pipeline_oracles(),
        **_sampling_oracles(),
        **_cluster_oracles(),
    }


def _poly_sql(coeffs: list[float], var: str) -> str:
    """Horner form matching ``functions/math.py:poly`` association order:
    (((c0*x + c1)*x + c2)*x + ...)."""
    out = repr(coeffs[0])
    for c in coeffs[1:]:
        out = f"({out} * {var} + {c!r})"
    return out


def _normal_cdf_sql() -> str:
    # mirrors math.py _erf (Abramowitz-Stegun 7.1.26), same op order
    a = [1.061405429, -1.453152027, 1.421413741, -0.284496736, 0.254829592]
    poly = _poly_sql(a, "t")
    return (
        "WITH t0 AS (SELECT c_custkey, (c_acctbal / 5000.0) / sqrt(2.0) AS x "
        "FROM customer), "
        "t1 AS (SELECT c_custkey, CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS sgn, "
        "abs(x) AS ax FROM t0), "
        "t2 AS (SELECT c_custkey, sgn, ax, 1.0 / (1.0 + 0.3275911 * ax) AS t "
        "FROM t1) "
        f"SELECT c_custkey, 0.5 * (1.0 + sgn * (1.0 - {poly} * t * exp(-ax * ax))) "
        "AS ncdf FROM t2"
    )


def _probit_sql() -> str:
    # mirrors math.py probit (Acklam); the query feeds p in [0.2, 0.3],
    # which is entirely the central branch
    A = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    B = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    pa = _poly_sql(A, "r")
    pb = _poly_sql(B, "r")
    return (
        "WITH t0 AS (SELECT l_orderkey, l_linenumber, l_discount + 0.2 AS p "
        "FROM lineitem), "
        "t1 AS (SELECT l_orderkey, l_linenumber, p, p - 0.5 AS q, "
        "(p - 0.5) * (p - 0.5) AS r FROM t0) "
        "SELECT l_orderkey, l_linenumber, CASE WHEN p <= 0 OR p >= 1 THEN NULL "
        f"ELSE {pa} * q / ({pb} * r + 1.0) END AS pb FROM t1"
    )


# --------------------------------------------------------------------------
# pipeline-op oracles (documents / embeddings)
# --------------------------------------------------------------------------

_NORM_TEXT = "trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS = "string_split_regex(trim(text), '\\s+')"
# word 3-gram shingles over token list t (empty when <3 tokens)
_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(t)-2, 0)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)
_STOP_SQL = (
    "['the','a','an','and','or','of','to','in','is','it','that','for','on',"
    "'with','as','at','by','this','be','are']"
)
# cosine similarity between DOUBLE[] columns a and b (same fold order as
# Spark's sequential aggregate/zip_with)
def _normalize_text_sql() -> str:
    """Oracle generated from the SAME folding tables the Spark verb
    uses (single source of truth, like the LID profiles)."""
    from pyjanitor_spark.operators.text_analysis import (
        _ACCENT_DST,
        _ACCENT_SRC,
        _PUNCT_DST,
        _PUNCT_SRC,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    return (
        "SELECT doc_id, trim(regexp_replace(translate(lower(translate("
        "regexp_replace(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', "
        "'', 'g'), "
        f"'{q(_PUNCT_SRC)}', '{q(_PUNCT_DST)}')), "
        f"'{q(_ACCENT_SRC)}', '{q(_ACCENT_DST)}'), "
        "'\\s+', ' ', 'g')) AS norm FROM documents"
    )


def _kmeans_sql(k: int, iters: int) -> str:
    """Generated oracle for kmeans_assign: the same hash-seeded init,
    DECIMAL-exact centroid means, elementwise squared distances, and
    first-min tie-break, unrolled over `iters` Lloyd rounds."""

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> (x[1]-x[2])*(x[1]-x[2])))"
        )

    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), ",
        "s0 AS (SELECT row_number() OVER (ORDER BY "
        "md5('km:' || CAST(vec_id AS VARCHAR))) - 1 AS c, v FROM "
        "(SELECT vec_id, v FROM e ORDER BY "
        f"md5('km:' || CAST(vec_id AS VARCHAR)) LIMIT {k})), ",
    ]
    prev = "s0"
    for it in range(1, iters + 1):
        parts.append(
            f"a{it} AS (SELECT e.vec_id, e.v, (SELECT s.c FROM {prev} s "
            f"ORDER BY {d2('e.v', 's.v')} ASC, s.c ASC LIMIT 1) AS c FROM e), "
        )
        parts.append(
            f"m{it} AS (SELECT c, i, "
            "CAST(SUM(CAST(val AS DECIMAL(27,10))) AS DOUBLE)/COUNT(*) AS m "
            f"FROM (SELECT a.c, t.i AS i, a.v[t.i] AS val FROM a{it} a, "
            "UNNEST(generate_series(1, len(a.v))) AS t(i)) GROUP BY c, i), "
        )
        parts.append(
            f"g{it} AS (SELECT c, list(m ORDER BY i) AS v FROM m{it} GROUP BY c), "
        )
        parts.append(
            f"s{it} AS (SELECT p.c, COALESCE(g.v, p.v) AS v FROM {prev} p "
            f"LEFT JOIN g{it} g ON p.c = g.c), "
        )
        prev = f"s{it}"
    return "".join(parts).rstrip(", ") + (
        f" SELECT e.vec_id, (SELECT s.c FROM {prev} s ORDER BY "
        f"{d2('e.v', 's.v')} ASC, s.c ASC LIMIT 1) AS cluster FROM e"
    )


def _pq_sql(
    m: int, k: int, iters: int, what: str, topn: int = 20, nprobe: int = 0
) -> str:
    """Generated oracle for pq_encode / pq_topk / ivf_pq_topk:
    per-subspace Lloyd with the same hash-seeded init (k global seed
    rows, sliced per subspace), DECIMAL-exact means, first-min
    tie-break, then either the code array (``what='encode'``) or the
    summed ADC distances to vec_id 0's query vector (``what='topk'``).
    ``nprobe > 0`` adds the IVF routing CTEs (decimal-exact label
    centroids ranked by cosine, same as the ivf_topk oracle) and scores
    only the probed clusters.  Mirrors ``_kmeans_sql`` unrolled per
    subspace (dim=64 in the embeddings table)."""
    dsub = 64 // m

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> (x[1]-x[2])*(x[1]-x[2])))"
        )

    def sl(expr: str, s: int) -> str:
        return f"{expr}[{s * dsub + 1}:{(s + 1) * dsub}]"

    parts = [
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v "
        "FROM embeddings), ",
        "sd AS (SELECT row_number() OVER (ORDER BY "
        "md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS c, v FROM "
        "(SELECT vec_id, v FROM e ORDER BY "
        f"md5('pq:' || CAST(vec_id AS VARCHAR)) LIMIT {k})), ",
    ]
    if nprobe:
        parts.append(
            "px AS (SELECT label, t.i AS i, v[t.i] AS val FROM e, "
            "UNNEST(generate_series(1, len(v))) AS t(i)), "
            "cent AS (SELECT label, i, "
            "CAST(SUM(CAST(val AS DECIMAL(27,10))) AS DOUBLE)/COUNT(*) AS c "
            "FROM px GROUP BY label, i), "
            "carr AS (SELECT label, list(c ORDER BY i) AS cv FROM cent "
            "GROUP BY label), "
            "probe AS (SELECT label FROM carr, "
            "(SELECT v AS qv FROM e WHERE vec_id = 0) q ORDER BY "
            + _cos("carr.cv", "q.qv")
            + f" DESC, label LIMIT {nprobe}), "
        )
    prevs = []
    for s in range(m):
        parts.append(f"s0_{s} AS (SELECT c, {sl('v', s)} AS v FROM sd), ")
        prevs.append(f"s0_{s}")
    for it in range(1, iters + 1):
        for s in range(m):
            prev = prevs[s]
            parts.append(
                f"a{it}_{s} AS (SELECT e.vec_id, {sl('e.v', s)} AS sv, "
                f"(SELECT s.c FROM {prev} s ORDER BY "
                f"{d2(sl('e.v', s), 's.v')} ASC, s.c ASC LIMIT 1) AS c FROM e), "
            )
            parts.append(
                f"m{it}_{s} AS (SELECT c, i, "
                "CAST(SUM(CAST(val AS DECIMAL(27,10))) AS DOUBLE)/COUNT(*) AS m "
                f"FROM (SELECT a.c, t.i AS i, a.sv[t.i] AS val FROM a{it}_{s} a, "
                "UNNEST(generate_series(1, len(a.sv))) AS t(i)) GROUP BY c, i), "
            )
            parts.append(
                f"g{it}_{s} AS (SELECT c, list(m ORDER BY i) AS v "
                f"FROM m{it}_{s} GROUP BY c), "
            )
            parts.append(
                f"s{it}_{s} AS (SELECT p.c, COALESCE(g.v, p.v) AS v FROM {prev} p "
                f"LEFT JOIN g{it}_{s} g ON p.c = g.c), "
            )
            prevs[s] = f"s{it}_{s}"
    body = "".join(parts)
    if what == "encode":
        # one scalar column per subspace code (c1..cm) — mirrors the
        # gate's element_at projection; the driver canonicalizer can
        # hash scalars but not array cells
        codes = ", ".join(
            f"(SELECT CAST(s.c AS INT) FROM {prevs[s]} s ORDER BY "
            f"{d2(sl('e.v', s), 's.v')} ASC, s.c ASC LIMIT 1) AS c{s + 1}"
            for s in range(m)
        )
        return body.rstrip(", ") + (
            f" SELECT e.vec_id, {codes} FROM e"
        )
    terms = " + ".join(
        f"(SELECT {d2(sl('(SELECT v FROM e WHERE vec_id = 0)', s), 's.v')} "
        f"FROM {prevs[s]} s ORDER BY "
        f"{d2(sl('e.v', s), 's.v')} ASC, s.c ASC LIMIT 1)"
        for s in range(m)
    )
    src = "e JOIN probe USING (label)" if nprobe else "e"
    return body.rstrip(", ") + (
        f" SELECT e.vec_id, {terms} AS adc_dist FROM {src} "
        f"ORDER BY adc_dist ASC, e.vec_id ASC LIMIT {topn}"
    )


def _cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _simhash_sql(bits: int = 32) -> str:
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(ds, d -> "
        f"(((strpos('0123456789abcdef', substr(d, {b // 4 + 1}, 1)) - 1) "
        f">> {b % 4}) & 1) * 2 - 1)) > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(bits)
    )
    return (
        f"WITH t AS (SELECT doc_id, list_transform(list_distinct({_TOKS}), "
        f"x -> md5(x)) AS ds FROM documents) "
        f"SELECT doc_id, CAST({votes} AS BIGINT) AS simhash FROM t"
    )


def _minhash_band_sql(k: int = 8, bands: int = 4) -> str:
    r = k // bands
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i}:' || x)))" for i in range(k)
    )
    band_key = " ".join(
        f"WHEN {b} THEN " + " || '|' || ".join(f"m[{b * r + j + 1}]" for j in range(r))
        for b in range(bands)
    )
    return (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"sh AS (SELECT doc_id, {_SHINGLES} AS s FROM toks), "
        f"sig AS (SELECT doc_id, [{sig}] AS m FROM sh WHERE len(s) > 0), "
        f"bk AS (SELECT doc_id, band, CASE band {band_key} END AS key "
        f"FROM sig, (SELECT unnest(range({bands})) AS band)) "
        f"SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 "
        f"FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key "
        f"AND a.doc_id < b.doc_id"
    )


def _lsh_plane_sql(plane: int) -> str:
    # sign of sum_d v[d] * s(p,d); s from last hex char of md5('lsh:p:d')
    sign = (
        f"CASE WHEN (strpos('0123456789abcdef', substr(md5('lsh:{plane}:' || "
        f"CAST(d - 1 AS VARCHAR)), 32, 1)) - 1) % 2 = 1 THEN 1.0 ELSE -1.0 END"
    )
    return (
        f"CASE WHEN list_sum(list_transform(generate_series(1, len(v)), "
        f"d -> v[d] * ({sign}))) > 0 THEN '1' ELSE '0' END"
    )


def _byte_at(pos: str) -> str:
    """DuckDB: integer value of 1-BASED byte ``pos`` of a blob exposed
    as its UPPERCASE hex string ``hx`` (hex pair at 2*pos-1, 2*pos)."""
    return (
        f"((strpos('0123456789ABCDEF', substr(hx, 2 * ({pos}) - 1, 1)) - 1) * 16 + "
        f"(strpos('0123456789ABCDEF', substr(hx, 2 * ({pos}), 1)) - 1))"
    )


def _stripe_mean(i: int) -> str:
    """DuckDB: mean byte value of fake-decode stripe ``i`` (0-based) —
    bytes [i*st, min((i+1)*st, n)) 1-based as generate_series, empty
    stripes contribute 0 (same max(len,1) denominator as the Spark
    side)."""
    lo = f"{i} * st + 1"
    hi = f"least(({i} + 1) * st, n)"
    return (
        f"(COALESCE(list_sum(list_transform(generate_series({lo}, {hi}), "
        f"k -> {_byte_at('k')})), 0) * 1.0 / "
        f"greatest({hi} - ({i} * st), 1))"
    )


def _hexn_int(h: str, n: int) -> str:
    """DuckDB: integer value of the first ``n`` hex nibbles of
    expression ``h`` (Spark: ``conv(substring(h,1,n),16,10)``).
    n <= 15 keeps the value exact in BIGINT and DOUBLE."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1) * {16 ** (n - p)}"
        for p in range(1, n + 1)
    ) + ")"


def _hex8_int(h: str) -> str:
    """DuckDB: integer value of the first 8 hex nibbles of expression
    ``h`` (Spark equivalent: ``conv(substring(h,1,8),16,10)``)."""
    return _hexn_int(h, 8)


def _bands_with_lang_sql(k: int = 8, bands: int = 4) -> str:
    """CTE prefix: (doc_id, lang, band, key) MinHash band keys."""
    r = k // bands
    sig = ", ".join(
        f"list_min(list_transform(s, x -> md5('{i}:' || x)))" for i in range(k)
    )
    band_key = " ".join(
        f"WHEN {b} THEN " + " || '|' || ".join(f"m[{b * r + j + 1}]" for j in range(r))
        for b in range(bands)
    )
    return (
        f"WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents), "
        f"sh AS (SELECT doc_id, lang, {_SHINGLES} AS s FROM toks), "
        f"sig AS (SELECT doc_id, lang, [{sig}] AS m FROM sh WHERE len(s) > 0), "
        f"bk AS (SELECT doc_id, lang, band, CASE band {band_key} END AS key "
        f"FROM sig, (SELECT unnest(range({bands})) AS band)) "
    )


def _cluster_oracles() -> dict[str, str]:
    """Connected components over the (engine-reproducible) MinHash-LSH
    pair graph, as a DuckDB recursive transitive closure — feasible at
    oracle scale; the Spark side uses log-round label propagation."""
    mh = _minhash_band_sql(8, 4)
    closure = (
        "WITH RECURSIVE edges AS ("
        f"SELECT id_1 AS src, id_2 AS dst FROM ({mh}) "
        f"UNION SELECT id_2, id_1 FROM ({mh})), "
        "reach(src, dst) AS ("
        "SELECT src, dst FROM edges "
        "UNION "
        "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), "
        "cl AS (SELECT src, least(src, min(dst)) AS c FROM reach GROUP BY src) "
    )
    return {
        "near_dup_clusters": (
            closure + "SELECT d.doc_id, COALESCE(cl.c, d.doc_id) AS cluster_id "
            "FROM documents d LEFT JOIN cl ON d.doc_id = cl.src"
        ),
        # same-oracle path gate: the distributed star-contraction path
        # must reproduce the driver union-find labeling verbatim
        "near_dup_clusters_contracted": (
            closure + "SELECT d.doc_id, COALESCE(cl.c, d.doc_id) AS cluster_id "
            "FROM documents d LEFT JOIN cl ON d.doc_id = cl.src"
        ),
        "dedupe_near": (
            closure + "SELECT d.doc_id FROM documents d LEFT JOIN cl "
            "ON d.doc_id = cl.src WHERE COALESCE(cl.c, d.doc_id) = d.doc_id"
        ),
        "dedupe_near_best": (
            closure + "SELECT doc_id FROM ("
            "SELECT d.doc_id, row_number() OVER ("
            "PARTITION BY COALESCE(cl.c, d.doc_id) "
            "ORDER BY length(d.text) DESC, d.doc_id) AS rn "
            "FROM documents d LEFT JOIN cl ON d.doc_id = cl.src) WHERE rn = 1"
        ),
        "dedupe_against": (
            _bands_with_lang_sql(8, 4)
            + ", hit AS (SELECT DISTINCT n.doc_id FROM bk n "
            "JOIN bk r ON n.band = r.band AND n.key = r.key "
            "WHERE n.lang <> 'en' AND r.lang = 'en') "
            "SELECT d.doc_id FROM documents d WHERE d.lang <> 'en' "
            "AND d.doc_id NOT IN (SELECT doc_id FROM hit)"
        ),
    }


def _sampling_oracles() -> dict[str, str]:
    bucket = _hex8_int("h") + " % 1000000"
    pii_email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    pii_ssn = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
    pii_phone = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
    return {
        "repetition_score": (
            f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "u AS (SELECT doc_id, toks, len(toks) AS n FROM t) "
            "SELECT doc_id, "
            "CASE WHEN n > 0 THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n "
            "ELSE 0.0 END AS rep_word_frac, "
            "CASE WHEN n - 1 > 0 THEN 1.0 - CAST(len(list_distinct("
            "list_transform(generate_series(1, n - 1), i -> toks[i] || ' ' || toks[i+1])"
            ")) AS DOUBLE) / (n - 1) ELSE 0.0 END AS rep_ngram_frac FROM u"
        ),
        "pii_redact": (
            "WITH t AS (SELECT doc_id, text || ' contact user' || "
            "CAST(doc_id AS VARCHAR) || '@example.com' || "
            "(CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' "
            "WHEN doc_id % 3 = 1 THEN ' tel 555-123-4567' ELSE '' END) AS text2 "
            "FROM documents) "
            "SELECT doc_id, "
            f"regexp_replace(regexp_replace(regexp_replace(text2, "
            f"'{pii_email}', '[EMAIL]', 'g'), '{pii_ssn}', '[SSN]', 'g'), "
            f"'{pii_phone}', '[PHONE]', 'g') AS text2_redacted, "
            f"CAST(len(regexp_extract_all(text2, '{pii_email}')) AS INT) AS pii_email_count, "
            f"CAST(len(regexp_extract_all(text2, '{pii_ssn}')) AS INT) AS pii_ssn_count, "
            f"CAST(len(regexp_extract_all(text2, '{pii_phone}')) AS INT) AS pii_phone_count "
            "FROM t"
        ),
        "deterministic_sample": (
            "WITH t AS (SELECT doc_id, md5('s:' || CAST(doc_id AS VARCHAR)) AS h "
            f"FROM documents) SELECT doc_id FROM t WHERE {bucket} < 250000"
        ),
        "stratified_sample": (
            "WITH t AS (SELECT doc_id, lang, md5('s:' || CAST(doc_id AS VARCHAR)) "
            f"AS h FROM documents) SELECT doc_id, lang FROM t WHERE {bucket} < "
            "(CASE WHEN lang = 'en' THEN 500000 WHEN lang = 'de' THEN 200000 "
            "ELSE 50000 END)"
        ),
        "split_train_holdout": (
            "WITH t AS (SELECT doc_id, md5('split:' || CAST(doc_id AS VARCHAR)) "
            f"AS h FROM documents) SELECT doc_id, {bucket} < 100000 "
            "AS is_holdout FROM t"
        ),
        # DSIR: identical md5 buckets + identical smoothed log-ratios
        # (IEEE ln over identical integer counts) + DECIMAL per-doc sum
        "dsir_weights": (
            "WITH tok AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents), "
            "g AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(t)-1, 0)), "
            "i -> t[i] || ' ' || t[i+1])) AS g FROM tok), "
            f"b AS (SELECT doc_id, ({_hexn_int('md5(g)', 8)} % 64) AS b FROM g), "
            "tokt AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t "
            "FROM documents WHERE lang = 'en'), "
            "gt AS (SELECT unnest(list_transform("
            "generate_series(1, greatest(len(t)-1, 0)), "
            "i -> t[i] || ' ' || t[i+1])) AS g FROM tokt), "
            f"bt AS (SELECT ({_hexn_int('md5(g)', 8)} % 64) AS b FROM gt), "
            "src AS (SELECT b, COUNT(*) AS cs FROM b GROUP BY b), "
            "tgt AS (SELECT b, COUNT(*) AS ct FROM bt GROUP BY b), "
            "j AS (SELECT COALESCE(src.b, tgt.b) AS b, "
            "COALESCE(cs, 0) AS cs, COALESCE(ct, 0) AS ct "
            "FROM src FULL JOIN tgt ON src.b = tgt.b), "
            "tot AS (SELECT SUM(cs) AS s, SUM(ct) AS tt FROM j), "
            "lr AS (SELECT b, ln((ct + 0.5) / (tt + 32.0)) - "
            "ln((cs + 0.5) / (s + 32.0)) AS lr FROM j, tot), "
            "pd AS (SELECT doc_id, CAST(SUM(CAST(lr AS DECIMAL(27,18))) "
            "AS DOUBLE) AS w FROM b JOIN lr USING (b) GROUP BY doc_id) "
            "SELECT d.doc_id, COALESCE(pd.w, 0.0) AS dsir_logw "
            "FROM documents d LEFT JOIN pd USING (doc_id)"
        ),
        # A-ES: identical md5-derived uniforms + IEEE ln/div -> identical
        # priorities -> identical top-k set (ties by doc_id)
        "weighted_sample": (
            "WITH t AS (SELECT doc_id, n_chars, "
            "md5('ws:' || CAST(doc_id AS VARCHAR)) AS h FROM documents "
            "WHERE n_chars IS NOT NULL AND n_chars > 0), "
            f"p AS (SELECT doc_id, n_chars, ln(({_hexn_int('h', 13)} + 0.5) "
            f"/ {float(2 ** 52)!r}) / CAST(n_chars AS DOUBLE) AS pri FROM t) "
            "SELECT doc_id, n_chars FROM p "
            "ORDER BY pri DESC, doc_id ASC LIMIT 50"
        ),
    }


def _pipeline_oracles() -> dict[str, str]:
    quality = (
        f"WITH t AS (SELECT doc_id, text, {_TOKS} AS toks, "
        "length(text) AS n_chars, "
        "length(regexp_replace(text, '[^.,;:!?''\"()]', '', 'g')) AS punct "
        "FROM documents), "
        "u AS (SELECT doc_id, len(toks) AS n_tok, n_chars, punct, "
        f"len(list_intersect(list_transform(toks, x -> lower(x)), {_STOP_SQL})) "
        "AS stop_hits FROM t), "
        "v AS (SELECT doc_id, least(n_tok / 100.0, 1.0) AS q_len, "
        "CASE WHEN n_chars > 0 THEN 1.0 - least(punct * 10.0 / n_chars, 1.0) "
        "ELSE 0.0 END AS q_punct, "
        "least(stop_hits / 5.0, 1.0) AS q_stop, "
        "CASE WHEN n_tok > 0 AND n_chars * 1.0 / n_tok >= 3.0 "
        "AND n_chars * 1.0 / n_tok <= 10.0 THEN 1.0 ELSE 0.5 END AS q_wordlen "
        "FROM u) "
        "SELECT doc_id, q_len, q_punct, q_stop, q_wordlen, "
        "(q_len + q_punct + q_stop + q_wordlen) / 4.0 AS quality FROM v"
    )
    # trigram rank-weight profiles and the language order both come from
    # the SAME module constants the Spark side uses, so the two can
    # never drift — the tie cascade is generated, not hand-written
    from pyjanitor_spark.operators.text_analysis import (
        _LANG_ORDER,
        _TRIGRAM_PROFILES,
    )

    def _tri_score(lang: str) -> str:
        arms = " ".join(
            f"WHEN '{t}' THEN {w}"
            for t, w in sorted(_TRIGRAM_PROFILES[lang].items())
        )
        return (
            "coalesce(list_sum(list_transform(tris, "
            f"t -> CASE t {arms} ELSE 0 END)), 0)"
        )

    score_cols = ", ".join(f"{_tri_score(l)} AS s_{l}" for l in _LANG_ORDER)
    all_scores = ", ".join(f"s_{l}" for l in _LANG_ORDER)
    # earlier language wins a tie: lang_i is picked iff its score is >=
    # every LATER language's score (earlier ones already failed)
    arms = []
    for i, l in enumerate(_LANG_ORDER[:-1]):
        later = " AND ".join(f"s_{l} >= s_{m}" for m in _LANG_ORDER[i + 1:])
        arms.append(f"WHEN {later} THEN '{l}'")
    cascade = " ".join(arms) + f" ELSE '{_LANG_ORDER[-1]}'"
    lang = (
        "WITH n AS (SELECT doc_id, lang, text, "
        "' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS norm "
        "FROM documents), "
        "t AS (SELECT doc_id, lang, text, list_distinct(CASE WHEN "
        "length(norm) >= 3 THEN list_transform(generate_series(1, "
        "length(norm) - 2), i -> substr(norm, i, 3)) "
        "ELSE []::VARCHAR[] END) AS tris FROM n), "
        f"s AS (SELECT doc_id, lang, text, {score_cols} FROM t) "
        "SELECT doc_id, lang, "
        "CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh' "
        f"WHEN greatest({all_scores}) = 0 THEN 'und' "
        f"{cascade} END AS lang_pred FROM s"
    )
    jaccard = (
        "WITH toks AS (SELECT doc_id, "
        f"{_TOKS} AS t FROM documents WHERE doc_id < 5000), "
        f"sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_1, id_2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_1 "
        "JOIN sizes sb ON sb.doc_id = id_2 "
        "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5"
    )
    # the stop-shingle cut: shingles with doc-freq > 3 removed from BOTH
    # the intersection stream and the per-doc sizes (dedup.py cap path)
    jaccard_capped = (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks), "
        "keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 3), "
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_1, id_2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_1 "
        "JOIN sizes sb ON sb.doc_id = id_2 "
        "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5"
    )
    # mod-hash shingle sampling (shingle_sample=0.3): keep a shingle
    # iff its first-8-nibble md5 integer < round(0.3 * 2^32) — the
    # identical cut dedup.py applies, so Spark and DuckDB compute the
    # same sampled space and the estimator compares bit-for-bit
    _sample_cut = 1288490189  # int(round(0.3 * 4294967296))
    jaccard_sampled = (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks), "
        "sh AS (SELECT doc_id, s FROM sh0 "
        f"WHERE {_hex8_int('md5(s)')} < {_sample_cut}), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_1, id_2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_1 "
        "JOIN sizes sb ON sb.doc_id = id_2 "
        "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3"
    )
    near_dup = (
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v "
        "FROM embeddings) "
        "SELECT a.vec_id AS id_1, b.vec_id AS id_2, "
        + _cos("a.v", "b.v")
        + " AS cos FROM e a JOIN e b ON a.label = b.label "
        "AND a.vec_id < b.vec_id WHERE " + _cos("a.v", "b.v") + " >= 0.4"
    )
    near_dup_multiblock = (
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings WHERE vec_id < 600), "
        "e AS (SELECT vec_id, v FROM base "
        "UNION ALL SELECT vec_id + 100000, v FROM base "
        "UNION ALL SELECT vec_id + 200000, v FROM base "
        "UNION ALL SELECT vec_id + 300000, v FROM base "
        "UNION ALL SELECT vec_id + 400000, v FROM base) "
        "SELECT a.vec_id AS id_1, b.vec_id AS id_2 "
        "FROM e a JOIN e b ON a.vec_id < b.vec_id "
        "WHERE " + _cos("a.v", "b.v") + " >= 0.93"
    )
    topk = (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0) "
        "SELECT e.vec_id, " + _cos("e.v", "q.qv") + " AS cos "
        "FROM e, q ORDER BY cos DESC, e.vec_id LIMIT 10"
    )
    bucket = " || ".join(_lsh_plane_sql(p) for p in range(8))
    lsh_topk = (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket} AS bkt FROM e), "
        "q AS (SELECT v AS qv, bkt AS qb FROM b WHERE vec_id = 0) "
        "SELECT b.vec_id, " + _cos("b.v", "q.qv") + " AS cos "
        "FROM b, q WHERE b.bkt = q.qb ORDER BY cos DESC, b.vec_id LIMIT 10"
    )
    # centroids sum in DECIMAL (exact, order-independent) with ONE final
    # double rounding — matching the Spark side bit-for-bit
    ivf = (
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), "
        "px AS (SELECT label, t.i AS i, v[t.i] AS val FROM e, "
        "UNNEST(generate_series(1, len(v))) AS t(i)), "
        "cent AS (SELECT label, i, CAST(SUM(CAST(val AS DECIMAL(27,10))) AS DOUBLE) "
        "/ COUNT(*) AS c FROM px GROUP BY label, i), "
        "carr AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label), "
        "probe AS (SELECT label FROM carr, q ORDER BY "
        + _cos("carr.cv", "q.qv")
        + " DESC, label LIMIT 2) "
        "SELECT e.vec_id, " + _cos("e.v", "q.qv") + " AS cos "
        "FROM e JOIN probe USING (label), q ORDER BY cos DESC, e.vec_id LIMIT 10"
    )
    # SemDeDup: within-label pairs >= eps close transitively (recursive
    # CTE), keep per group the member farthest from its decimal-exact
    # label centroid (lowest cos, ties on vec_id)
    semdd = (
        "WITH RECURSIVE e AS "
        "(SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
        "p AS (SELECT a.vec_id AS s, b.vec_id AS t FROM e a JOIN e b "
        "ON a.label = b.label AND a.vec_id < b.vec_id WHERE "
        + _cos("a.v", "b.v")
        + " >= 0.3), "
        "edges AS (SELECT s, t FROM p UNION SELECT t, s FROM p), "
        "reach(src, dst) AS (SELECT s, t FROM edges UNION "
        "SELECT r.src, e2.t FROM reach r JOIN edges e2 ON r.dst = e2.s), "
        "cl AS (SELECT src, least(src, min(dst)) AS c FROM reach GROUP BY src), "
        "grp AS (SELECT e.vec_id, e.label, COALESCE(cl.c, e.vec_id) AS g "
        "FROM e LEFT JOIN cl ON e.vec_id = cl.src), "
        "px AS (SELECT label, t.i AS i, v[t.i] AS val FROM e, "
        "UNNEST(generate_series(1, len(v))) AS t(i)), "
        "cent AS (SELECT label, i, CAST(SUM(CAST(val AS DECIMAL(27,10))) AS DOUBLE) "
        "/ COUNT(*) AS c FROM px GROUP BY label, i), "
        "carr AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label), "
        "ctr AS (SELECT e.vec_id, " + _cos("e.v", "carr.cv") + " AS cent "
        "FROM e JOIN carr USING (label)) "
        "SELECT vec_id, label FROM ("
        "SELECT grp.vec_id, grp.label, row_number() OVER ("
        "PARTITION BY grp.g ORDER BY ctr.cent ASC, grp.vec_id) AS rn "
        "FROM grp JOIN ctr ON grp.vec_id = ctr.vec_id) WHERE rn = 1"
    )
    return {
        # span = word 5-gram; flagged when >= 2 distinct docs share it;
        # score = flagged spans / total spans per doc (NULL under 5 toks)
        "dup_span_fraction": (
            "WITH t AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS t FROM documents), "
            "sp AS (SELECT doc_id, "
            "md5(array_to_string(t[i : i + 4], ' ')) AS h FROM t, "
            "unnest(generate_series(1, len(t) - 4)) AS u(i) "
            "WHERE len(t) >= 5), "
            "fl AS (SELECT h FROM sp GROUP BY h "
            "HAVING count(DISTINCT doc_id) >= 2), "
            "tot AS (SELECT doc_id, count(*) AS n FROM sp GROUP BY doc_id), "
            "dup AS (SELECT sp.doc_id, count(*) AS d FROM sp "
            "JOIN fl USING (h) GROUP BY sp.doc_id) "
            "SELECT docs.doc_id, CASE WHEN tot.n IS NOT NULL THEN "
            "COALESCE(dup.d, 0) * 1.0 / tot.n END AS dup_fraction "
            "FROM documents docs LEFT JOIN tot ON docs.doc_id = tot.doc_id "
            "LEFT JOIN dup ON docs.doc_id = dup.doc_id"
        ),
        # the CUT action over the same 5-gram span model as
        # dup_span_fraction: union the covered token positions, rebuild
        # affected docs, leave the rest byte-identical
        "remove_duplicated_spans": (
            "WITH t AS (SELECT doc_id, text, "
            "string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
            "sp AS (SELECT doc_id, i, "
            "md5(array_to_string(toks[i : i + 4], ' ')) AS h FROM t, "
            "unnest(generate_series(1, len(toks) - 4)) u(i) "
            "WHERE len(toks) >= 5), "
            "fl AS (SELECT h FROM sp GROUP BY h "
            "HAVING count(DISTINCT doc_id) >= 2), "
            "cov AS (SELECT DISTINCT s.doc_id, v.j FROM "
            "(SELECT sp.doc_id, sp.i FROM sp JOIN fl USING (h)) s, "
            "unnest(generate_series(s.i, s.i + 4)) v(j)), "
            "tok AS (SELECT doc_id, i, toks[i] AS tok FROM t, "
            "unnest(generate_series(1, len(toks))) u(i)), "
            "kept AS (SELECT tok.doc_id, "
            "string_agg(tok.tok, ' ' ORDER BY tok.i) AS txt "
            "FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id "
            "AND tok.i = cov.j WHERE cov.j IS NULL GROUP BY tok.doc_id), "
            "rw AS (SELECT d.doc_id, COALESCE(kept.txt, '') AS txt FROM "
            "(SELECT DISTINCT doc_id FROM cov) d "
            "LEFT JOIN kept USING (doc_id)) "
            "SELECT docs.doc_id, COALESCE(rw.txt, docs.text) AS text "
            "FROM documents docs LEFT JOIN rw ON docs.doc_id = rw.doc_id"
        ),
        # DuckDB's native ASOF JOIN is the independent oracle: the
        # inequality picks the greatest p.ts <= e.ts per user
        "asof_join": (
            "SELECT e.event_id, e.user_id, p.purchase_value, "
            "p.ts AS purchase_ts FROM events e ASOF LEFT JOIN "
            "(SELECT user_id, ts, value AS purchase_value FROM events "
            "WHERE event_type = 'purchase') p "
            "ON e.user_id = p.user_id AND e.ts >= p.ts"
        ),
        "semdedup": semdd,
        "kmeans_assign": _kmeans_sql(4, 2),
        "pq_encode": _pq_sql(2, 2, 1, "encode"),
        "pq_topk": _pq_sql(2, 2, 1, "topk", 20),
        "ivf_pq_topk": _pq_sql(2, 2, 1, "topk", 10, nprobe=2),
        # multinomial NB self-classification: identical tokenize, add-1
        # smoothing over a min_count=2 vocabulary, decimal llk sums,
        # argmax ties to the first label
        "nb_classify": (
            "WITH d AS (SELECT doc_id, lang, list_filter("
            "string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS t "
            "FROM documents), "
            "tok AS (SELECT doc_id, lang, unnest(t) AS token FROM d), "
            "cnt AS (SELECT lang AS label, token, count(*) AS c "
            "FROM tok GROUP BY 1, 2), "
            "voc AS (SELECT token FROM cnt GROUP BY token HAVING sum(c) >= 2), "
            "labs AS (SELECT DISTINCT lang AS label FROM documents), "
            "grid AS (SELECT v.token, l.label, COALESCE(c.c, 0) AS c "
            "FROM voc v CROSS JOIN labs l "
            "LEFT JOIN cnt c ON c.token = v.token AND c.label = l.label), "
            "tot AS (SELECT label, SUM(c) AS n FROM grid GROUP BY label), "
            "mod AS (SELECT g.token, g.label, "
            "ln((g.c + 1.0) / (t.n + 1.0 * (SELECT COUNT(*) FROM voc))) AS llk "
            "FROM grid g JOIN tot t USING (label)), "
            "pri AS (SELECT lang AS label, ln(COUNT(*) * 1.0 / "
            "(SELECT COUNT(*) FROM documents)) AS p FROM documents GROUP BY lang), "
            "sc AS (SELECT tok.doc_id, m.label, "
            "SUM(CAST(m.llk AS DECIMAL(27,18))) AS s "
            "FROM tok JOIN mod m ON tok.token = m.token GROUP BY 1, 2), "
            "fl AS (SELECT d.doc_id, p.label, "
            "COALESCE(CAST(sc.s AS DOUBLE), 0.0) + p.p AS score "
            "FROM d CROSS JOIN pri p "
            "LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = p.label) "
            "SELECT doc_id, label AS nb_pred FROM "
            "(SELECT doc_id, label, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, label ASC) AS rn FROM fl) WHERE rn = 1"
        ),
        "normalize_text": _normalize_text_sql(),
        # cutpoint = smallest v with cnt_le(v)/n >= q (inclusive ECDF,
        # the quantile_bin tie-safe contract)
        "winsorize": (
            "WITH c AS (SELECT l_extendedprice AS v, count(*) AS cnt "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY v), "
            "cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM c), "
            "n AS (SELECT sum(cnt) AS n FROM c), "
            "cuts AS (SELECT min(CASE WHEN cum * 1.0 / n.n >= 0.05 "
            "THEN v END) AS lo, min(CASE WHEN cum * 1.0 / n.n >= 0.95 "
            "THEN v END) AS hi FROM cum, n) "
            "SELECT l.l_orderkey, l.l_linenumber, CASE WHEN "
            "l.l_extendedprice IS NULL THEN NULL ELSE "
            "least(greatest(l.l_extendedprice, cuts.lo), cuts.hi) END AS wz "
            "FROM lineitem l, cuts"
        ),
        # (x - median) / (q75 - q25) with the same ECDF cut rule
        "robust_scale": (
            "WITH c AS (SELECT l_quantity AS v, count(*) AS cnt "
            "FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY v), "
            "cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM c), "
            "n AS (SELECT sum(cnt) AS n FROM c), "
            "cuts AS (SELECT "
            "min(CASE WHEN cum * 1.0 / n.n >= 0.25 THEN v END) AS q1, "
            "min(CASE WHEN cum * 1.0 / n.n >= 0.5 THEN v END) AS med, "
            "min(CASE WHEN cum * 1.0 / n.n >= 0.75 THEN v END) AS q3 "
            "FROM cum, n) "
            "SELECT l.l_orderkey, l.l_linenumber, CASE WHEN "
            "l.l_quantity IS NOT NULL AND cuts.q3 - cuts.q1 <> 0 THEN "
            "(l.l_quantity - cuts.med) / (cuts.q3 - cuts.q1) END AS rs "
            "FROM lineitem l, cuts"
        ),
        "dedupe_exact": (
            "SELECT doc_id, source FROM documents QUALIFY "
            f"doc_id = min(doc_id) OVER (PARTITION BY {_NORM_TEXT})"
        ),
        "fingerprint": (
            f"WITH t AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp_exact, "
            f"{_TOKS} AS t FROM documents) "
            f"SELECT doc_id, fp_exact, "
            f"list_min(list_transform({_SHINGLES}, x -> md5(x))) AS fp_rolling "
            "FROM t"
        ),
        "simhash": _simhash_sql(32),
        "minhash_lsh_pairs": _minhash_band_sql(8, 4),
        "ngram_jaccard_pairs": jaccard,
        "ngram_jaccard_capped": jaccard_capped,
        "ngram_jaccard_sampled": jaccard_sampled,
        "embedding_near_dup": near_dup,
        "near_dup_multiblock": near_dup_multiblock,
        # split='auto' gates: small auto_split_cells budgets force the
        # window-sized per-block split / the pre-flight split decision;
        # output contract is IDENTITY with the unsplit plans
        "semdedup_split": semdd,
        "near_dup_split": near_dup,
        "semdedup_auto": semdd,
        "near_dup_autosplit": near_dup,
        "cosine_topk": topk,
        "lsh_bucket_topk": lsh_topk,
        "ivf_topk": ivf,
        "token_count": (
            f"SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents"
        ),
        "quality_score": quality,
        "gopher_repetition": (
            # Gopher repetition suite: the documented count*len
            # upper-bound formulas, clamped at 1.0 (text_analysis.py)
            "WITH tok AS (SELECT doc_id, length(text) AS chars, "
            r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w "
            "FROM documents), "
            "ln AS (SELECT doc_id, "
            "list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)), s -> s <> '') AS ls, "
            r"list_filter(list_transform(string_split_regex(text, '\n{2,}'), s -> trim(s)), s -> s <> '') AS ps "
            "FROM documents), "
            "base AS (SELECT t.doc_id, t.chars, "
            "CASE WHEN len(l.ls) > 0 THEN 1.0 - CAST(len(list_distinct(l.ls)) AS DOUBLE)/len(l.ls) ELSE 0.0 END AS dup_line_frac, "
            "CASE WHEN len(l.ps) > 0 THEN 1.0 - CAST(len(list_distinct(l.ps)) AS DOUBLE)/len(l.ps) ELSE 0.0 END AS dup_para_frac "
            "FROM tok t JOIN ln l USING (doc_id)), "
            "g AS (SELECT t.doc_id, v.n, array_to_string(list_slice(t.w, u.i, u.i + v.n - 1), ' ') AS gram "
            "FROM tok t CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) v(n), "
            "unnest(generate_series(1, len(t.w) - v.n + 1)) AS u(i)), "
            "cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram), "
            "ranked AS (SELECT doc_id, n, c * length(gram) AS tc, "
            "row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn FROM cnt), "
            "pivt AS (SELECT doc_id, max(CASE WHEN n=2 THEN tc END) AS t2, "
            "max(CASE WHEN n=3 THEN tc END) AS t3, max(CASE WHEN n=4 THEN tc END) AS t4 "
            "FROM ranked WHERE rn = 1 GROUP BY doc_id), "
            "pivd AS (SELECT doc_id, max(CASE WHEN n=5 THEN dc END) AS d5, "
            "max(CASE WHEN n=6 THEN dc END) AS d6, max(CASE WHEN n=7 THEN dc END) AS d7, "
            "max(CASE WHEN n=8 THEN dc END) AS d8, max(CASE WHEN n=9 THEN dc END) AS d9, "
            "max(CASE WHEN n=10 THEN dc END) AS d10 FROM "
            "(SELECT doc_id, n, sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS dc "
            "FROM cnt GROUP BY doc_id, n) GROUP BY doc_id) "
            "SELECT b.doc_id, b.dup_line_frac, b.dup_para_frac, "
            "CASE WHEN b.chars > 0 AND t2 IS NOT NULL THEN least(1.0, CAST(t2 AS DOUBLE)/b.chars) ELSE 0.0 END AS top_2_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND t3 IS NOT NULL THEN least(1.0, CAST(t3 AS DOUBLE)/b.chars) ELSE 0.0 END AS top_3_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND t4 IS NOT NULL THEN least(1.0, CAST(t4 AS DOUBLE)/b.chars) ELSE 0.0 END AS top_4_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d5 IS NOT NULL THEN least(1.0, CAST(d5 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_5_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d6 IS NOT NULL THEN least(1.0, CAST(d6 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_6_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d7 IS NOT NULL THEN least(1.0, CAST(d7 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_7_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d8 IS NOT NULL THEN least(1.0, CAST(d8 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_8_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d9 IS NOT NULL THEN least(1.0, CAST(d9 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_9_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d10 IS NOT NULL THEN least(1.0, CAST(d10 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_10_gram_char_frac "
            "FROM base b LEFT JOIN pivt USING (doc_id) LEFT JOIN pivd USING (doc_id)"
        ),
        "gopher_repetition_exact": (
            # span-union semantics: token char offsets in the
            # whitespace-normalized text (starts from cumulative token
            # lengths), per-(doc,n,gram) occurrence counts, interval
            # union via gaps-and-islands; denominator = original length
            "WITH tok AS (SELECT doc_id, length(text) AS chars, "
            r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w "
            "FROM documents), "
            "ln AS (SELECT doc_id, "
            "list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)), s -> s <> '') AS ls, "
            r"list_filter(list_transform(string_split_regex(text, '\n{2,}'), s -> trim(s)), s -> s <> '') AS ps "
            "FROM documents), "
            "base AS (SELECT t.doc_id, t.chars, "
            "CASE WHEN len(l.ls) > 0 THEN 1.0 - CAST(len(list_distinct(l.ls)) AS DOUBLE)/len(l.ls) ELSE 0.0 END AS dup_line_frac, "
            "CASE WHEN len(l.ps) > 0 THEN 1.0 - CAST(len(list_distinct(l.ps)) AS DOUBLE)/len(l.ps) ELSE 0.0 END AS dup_para_frac "
            "FROM tok t JOIN ln l USING (doc_id)), "
            "pos AS (SELECT t.doc_id, u.i AS i, t.w[u.i] AS tk "
            "FROM tok t, unnest(generate_series(1, len(t.w))) AS u(i)), "
            "stt AS (SELECT doc_id, i, tk, "
            "sum(length(tk)+1) OVER (PARTITION BY doc_id ORDER BY i) - length(tk) - 1 AS s FROM pos), "
            "starts AS (SELECT doc_id, list(s ORDER BY i) AS st FROM stt GROUP BY doc_id), "
            "g AS (SELECT t.doc_id, v.n AS n, "
            "array_to_string(list_slice(t.w, u.i, u.i + v.n - 1), ' ') AS gram, "
            "r.st[u.i] AS s, r.st[u.i + v.n - 1] + length(t.w[u.i + v.n - 1]) AS e "
            "FROM tok t JOIN starts r USING (doc_id), (VALUES (2),(5)) v(n), "
            "unnest(generate_series(1, len(t.w) - v.n + 1)) AS u(i)), "
            "cnt AS (SELECT doc_id, n, gram, s, e, "
            "count(*) OVER (PARTITION BY doc_id, n, gram) AS c FROM g), "
            "topg AS (SELECT doc_id, n, gram AS tg FROM "
            "(SELECT doc_id, n, gram, row_number() OVER (PARTITION BY doc_id, n "
            "ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn "
            "FROM (SELECT DISTINCT doc_id, n, gram, c FROM cnt)) WHERE rn = 1), "
            "spans AS (SELECT doc_id, n, 'dup' AS kind, s, e FROM cnt WHERE c >= 2 AND n = 5 "
            "UNION ALL SELECT c.doc_id, c.n, 'top' AS kind, c.s, c.e FROM cnt c "
            "JOIN topg t ON c.doc_id = t.doc_id AND c.n = t.n AND c.gram = t.tg WHERE c.n = 2), "
            "isl AS (SELECT doc_id, n, kind, s, e, CASE WHEN s > coalesce(max(e) OVER "
            "(PARTITION BY doc_id, n, kind ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) "
            "THEN 1 ELSE 0 END AS brk FROM spans), "
            "isl2 AS (SELECT doc_id, n, kind, s, e, sum(brk) OVER "
            "(PARTITION BY doc_id, n, kind ORDER BY s, e) AS gid FROM isl), "
            "uni AS (SELECT doc_id, n, kind, sum(mx - mn) AS u FROM "
            "(SELECT doc_id, n, kind, gid, min(s) AS mn, max(e) AS mx FROM isl2 "
            "GROUP BY doc_id, n, kind, gid) GROUP BY doc_id, n, kind), "
            "piv AS (SELECT doc_id, max(CASE WHEN kind = 'top' AND n = 2 THEN u END) AS t2, "
            "max(CASE WHEN kind = 'dup' AND n = 5 THEN u END) AS d5 FROM uni GROUP BY doc_id) "
            "SELECT b.doc_id, b.dup_line_frac, b.dup_para_frac, "
            "CASE WHEN b.chars > 0 AND t2 IS NOT NULL THEN least(1.0, CAST(t2 AS DOUBLE)/b.chars) ELSE 0.0 END AS top_2_gram_char_frac, "
            "CASE WHEN b.chars > 0 AND d5 IS NOT NULL THEN least(1.0, CAST(d5 AS DOUBLE)/b.chars) ELSE 0.0 END AS dup_5_gram_char_frac "
            "FROM base b LEFT JOIN piv USING (doc_id)"
        ),
        "language_id": lang,
        "binary_metadata": (
            "SELECT doc_id, octet_length(encode(text)) AS n_bytes, "
            "strpos('0123456789abcdef', substr(lower(hex(encode(text))), 1, 1)) "
            "* 16 - 16 + strpos('0123456789abcdef', "
            "substr(lower(hex(encode(text))), 2, 1)) - 1 AS magic, "
            "md5(text) AS digest FROM documents"  # md5(VARCHAR) hashes UTF-8 bytes = Spark md5(binary payload)
        ),
        "flag_jumps": (
            "WITH t AS (SELECT event_id, value, lag(value) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS prev FROM events) "
            "SELECT event_id, CASE WHEN prev IS NULL THEN 0 "
            "WHEN abs(value - prev) > 5.0 THEN 1 ELSE 0 END AS value_jump_flag "
            "FROM t"
        ),
        "data_description": " UNION ALL ".join(
            f"SELECT '{c}' AS column_name, '{t}' AS type, "
            f"count({c}) AS count, "
            f"1.0 - count({c}) * 1.0 / count(*) AS pct_missing, "
            f"'' AS description FROM customer"
            for c, t in [
                ("c_custkey", "bigint"),
                ("c_name", "string"),
                ("c_nationkey", "int"),
                ("c_acctbal", "double"),
                ("c_mktsegment", "string"),
            ]
        ),
        "convert_units": (
            "SELECT l_orderkey, l_linenumber, "
            "l_quantity * (1.0 / 0.45359237) AS qty_lb FROM lineitem"
        ),
        "exp": (
            "SELECT l_orderkey, l_linenumber, exp(l_discount) AS e FROM lineitem"
        ),
        "logit": (
            "SELECT l_orderkey, l_linenumber, CASE WHEN l_discount <= 0 OR "
            "l_discount >= 1 THEN NULL ELSE ln(l_discount / (1.0 - l_discount)) "
            "END AS lg FROM lineitem"
        ),
        "normal_cdf": _normal_cdf_sql(),
        "probit": _probit_sql(),
        "convert_matlab_date": (
            "SELECT l_orderkey, l_linenumber, strftime(DATE '1970-01-01' + "
            "CAST((719529.0 + date_diff('day', DATE '1970-01-01', "
            "CAST(l_shipdate AS DATE))) - 719529.0 AS INT), '%Y-%m-%d') "
            "AS mat_day FROM lineitem"
        ),
        "remove_empty": (
            "SELECT l_orderkey, l_linenumber, nullif(l_returnflag, 'N') AS ws "
            "FROM lineitem"
        ),
        "limit_column_characters": (
            "SELECT l_orderkey AS l_orde, l_linenumber AS l_line, "
            "l_quantity AS l_quan FROM lineitem"
        ),
        "label_encode": (
            "SELECT o_orderkey, CAST(dense_rank() OVER (ORDER BY o_orderpriority) "
            "- 1 AS INT) AS o_orderpriority_enc FROM orders"
        ),
        "add_columns": (
            "SELECT l_orderkey, l_linenumber, 1 AS flag, l_discount * 2 AS disc2 "
            "FROM lineitem"
        ),
        "expand_grid": (
            "SELECT prio, l_returnflag, seg FROM (VALUES ('HI'), ('LO')) p(prio) "
            "CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem) f "
            "CROSS JOIN (VALUES ('A'), ('B'), ('C')) s(seg)"
        ),
        "cartesian_product": (
            "SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation"
        ),
        "pivot_longer_spec": (
            "SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS val "
            "FROM lineitem UNION ALL "
            "SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem"
        ),
        "encode_categorical": (
            "SELECT c_custkey, c_mktsegment FROM customer"
        ),
        "move_reorder": (
            "SELECT l_tax, l_quantity, l_orderkey, l_linenumber FROM lineitem"
        ),
        "sort_column_value_order": (
            "SELECT o_orderkey, o_orderpriority FROM orders"
        ),
        "resize_payload": (
            "SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS orig_bytes, "
            "32 AS n_bytes FROM documents"
        ),
        # jitter: the randn stream is engine-specific -> rows-only.
        # shuffle: a permutation preserves the row multiset and the
        # compare sorts rows, so identity-select is a sound oracle.
        "shuffle": (
            "SELECT o_orderkey, o_totalprice FROM orders"
        ),
        # multimodal raw path over UTF-8 text payloads: DuckDB reads the
        # same bytes through hex(encode(text)); stripe means / strided
        # byte sampling mirror _fake_decode / frame_sample exactly
        "decode_features": (
            "WITH t AS (SELECT doc_id, hex(encode(text)) AS hx, "
            "octet_length(encode(text)) AS n FROM documents), "
            "p AS (SELECT doc_id, hx, n, greatest(n // 4, 1) AS st FROM t) "
            "SELECT doc_id, CAST(n AS INT) AS n_bytes, 'raw' AS kind, "
            "CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height, "
            "CAST(NULL AS INT) AS channels, "
            f"CASE WHEN n = 0 THEN 0.0 ELSE ({_stripe_mean(0)} + "
            f"{_stripe_mean(1)} + {_stripe_mean(2)} + {_stripe_mean(3)}) / 4 "
            "END AS feat_mean, "
            "CAST(4 AS INT) AS feat_dim FROM p"
        ),
        "frame_sample": (
            "WITH t AS (SELECT doc_id, hex(encode(text)) AS hx, "
            "octet_length(encode(text)) AS n FROM documents) "
            "SELECT doc_id, CAST(j AS INT) AS frame_no, "
            f"CAST({_byte_at('64 * j + 1')} AS INT) AS value "
            "FROM t, unnest(generate_series(0, CAST(floor((n - 1) / 64.0) "
            "AS BIGINT))) u(j) WHERE n > 0"
        ),
        # keyed jitter: Box-Muller over two 8-hex windows of one md5,
        # identical float op order to the Spark expression
        "jitter": (
            "WITH t AS (SELECT event_id, value, "
            "md5('jit:7:' || CAST(event_id AS VARCHAR)) AS h FROM events) "
            "SELECT event_id, greatest(0.0, least(100.0, value + "
            f"(sqrt(-2.0 * ln(({_hex8_int('h')} + 0.5) / 4294967296)) * "
            "cos(6.283185307179586 * "
            "((strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 268435456 + "
            "(strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 16777216 + "
            "(strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 1048576 + "
            "(strpos('0123456789abcdef', substr(h, 12, 1)) - 1) * 65536 + "
            "(strpos('0123456789abcdef', substr(h, 13, 1)) - 1) * 4096 + "
            "(strpos('0123456789abcdef', substr(h, 14, 1)) - 1) * 256 + "
            "(strpos('0123456789abcdef', substr(h, 15, 1)) - 1) * 16 + "
            "(strpos('0123456789abcdef', substr(h, 16, 1)) - 1)) "
            "/ 4294967296)) * 1.0)) AS v_j FROM t"
        ),
        # mixture math mirrored exactly: feasible total N = min(n_s/p_s),
        # per-source threshold floor(min(1, p*N/n) * 1e6), same md5 bucket
        "mix_corpora": (
            "WITH avail AS (SELECT source, CAST(count(*) AS DOUBLE) AS n "
            "FROM documents WHERE source IN ('src0','src1','src2') "
            "GROUP BY source), "
            "p AS (SELECT source, n, CASE source WHEN 'src0' THEN 0.5 "
            "WHEN 'src1' THEN 0.3 ELSE 0.2 END AS prop FROM avail), "
            "nt AS (SELECT min(n / prop) AS v FROM p), "
            "fr AS (SELECT source, CAST(floor(least(1.0, (prop * nt.v) / n) "
            "* 1000000) AS BIGINT) AS thr FROM p, nt), "
            "t AS (SELECT doc_id, source, "
            "md5('mix:' || CAST(doc_id AS VARCHAR)) AS h FROM documents) "
            "SELECT t.doc_id, t.source FROM t JOIN fr USING (source) "
            # NB: the `bucket` local is rebound to the LSH-plane macro
            # further up; inline the md5-bucket macro explicitly here
            f"WHERE {_hex8_int('t.h')} % 1000000 < fr.thr"
        ),
        "take_token_budget": (
            "WITH t AS (SELECT doc_id, "
            "len(string_split_regex(trim(text), '\\s+')) AS n FROM documents), "
            "c AS (SELECT doc_id, sum(n) OVER (ORDER BY doc_id) AS cum FROM t) "
            "SELECT doc_id FROM c WHERE cum <= 5000"
        ),
        "move_rows": (
            "WITH t AS (SELECT event_id, row_number() OVER (ORDER BY event_id) "
            "- 1 AS rn FROM events), "
            "k AS (SELECT event_id, rn, CASE WHEN rn BETWEEN 0 AND 4 "
            "THEN 99.5 ELSE rn * 1.0 END AS key FROM t) "
            "SELECT event_id, CAST(row_number() OVER (ORDER BY key, rn) - 1 "
            "AS BIGINT) AS new_pos FROM k"
        ),
        "add_column_values": (
            "SELECT event_id, list_extract(['a','b','c'], "
            "CAST((row_number() OVER (ORDER BY event_id) - 1) % 3 AS INT) + 1) "
            "AS bucket3 FROM events"
        ),
        "inflate_currency": (
            "SELECT l_orderkey, l_linenumber, l_extendedprice * 1.23 "
            "AS l_extendedprice FROM lineitem"
        ),
    }
