"""The benchmark's workloads, each driven only through the public
``pyjanitor_spark`` API on the generated inputs.

A workload object is built once per run.  ``prepare`` runs outside the
timed region (ground truth); ``op(i)`` is one timed
operation and returns an ``Op`` (``op(-1)`` is the untimed warm-up);
``check(i, op)`` verifies a timed operation's output against the ground truth and raises ``WrongOutput``
when it is wrong.  ``trace_extras`` runs once, after the timed loop and
only in the traced run, for counters that need extra Spark jobs.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen

# quality floors: a run below one is not correct
FLOORS = {"dup_removed_frac": 0.95, "unique_kept_frac": 0.95}


class WrongOutput(Exception):
    """An operation finished but its output failed verification."""


@dataclass
class Op:
    items: int  # input rows the operation consumed (documents, lineitems)
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    data: str  # generated inputs (read-only)
    work: str  # scratch directory owned by this run
    tracer: object


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's marker files excluded."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _read_output(out: str, op: Op):
    """Read a sink's output as pandas, record its size, then delete it."""
    op.info["bytes_written"], op.info["files_written"] = _dir_stats(out)
    t = pq.read_table(out).to_pandas()
    shutil.rmtree(out, ignore_errors=True)
    return t


def _sink(ctx: Ctx, df, out: str) -> None:
    """``pj.write_parquet`` with, when traced, the plan forced first so
    planning time shows apart from execution."""
    import pyjanitor_spark as pj

    t = ctx.tracer
    if t.enabled:
        with t.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    t.call("sinks.write_parquet", pj.write_parquet, df, out)


class Curation:
    """The README cookbook pipeline, verbatim, ending in ``write_parquet``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.final = None

    def prepare(self) -> None:
        import pyjanitor_spark as pj

        spark = self.ctx.spark
        with open(os.path.join(self.ctx.data, "truth.json")) as fh:
            truth = json.load(fh)["docs"]
        self.n_docs = len(truth)
        self.kind = {d["doc_id"]: d["kind"] for d in truth}
        keeper: dict[int, int] = {}
        for d in truth:
            if d["kind"] == "dup":
                keeper[d["group"]] = min(keeper.get(d["group"], d["doc_id"]), d["doc_id"])
        # the holdout split is a non-dedup filter: ask the library which
        # ids it holds out, so the fractions count only eligible docs
        ids = spark.createDataFrame([(d["doc_id"],) for d in truth], "doc_id long")
        hold = pj.split_train_holdout(ids, "doc_id", holdout_fraction=0.05)
        held = {r[0] for r in hold.filter("is_holdout").select("doc_id").collect()}
        self.should_keep = {
            d["doc_id"] for d in truth
            if d["doc_id"] not in held
            and (d["kind"] == "unique" or (d["kind"] == "dup" and keeper[d["group"]] == d["doc_id"]))
        }
        self.should_drop = {
            d["doc_id"] for d in truth
            if d["doc_id"] not in held and d["kind"] == "dup" and keeper[d["group"]] != d["doc_id"]
        }
        self.must_filter = {d["doc_id"] for d in truth if d["kind"] in ("foreign", "repetitive")}

    def pipeline(self, out: str):
        import pyjanitor_spark as pj
        from pyspark.sql import functions as F

        t, spark = self.ctx.tracer, self.ctx.spark
        docs = spark.read.parquet(os.path.join(self.ctx.data, "documents.parquet"))

        docs = t.call("text_analysis.language_id", pj.language_id, docs, "text")
        docs = t.call("text_analysis.quality_score", pj.quality_score, docs, "text")
        docs = docs.filter((F.col("lang_pred") == "en") & (F.col("quality") > 0.3))

        rep = t.call("text_analysis.gopher_repetition", pj.gopher_repetition, docs, "doc_id", "text")
        keep = rep.filter(
            (F.col("dup_line_frac") <= 0.30)
            & (F.col("top_2_gram_char_frac") <= 0.20)
            & (F.col("dup_5_gram_char_frac") <= 0.15)
        ).select("doc_id")
        docs = docs.join(keep, "doc_id", "left_semi")

        docs = t.call("dedup.dedupe_exact", pj.dedupe_exact, docs, "text", id_col="doc_id")
        self.pre_near = docs
        docs = t.call("dedup.dedupe_near", pj.dedupe_near, docs, id_col="doc_id",
                      column_name="text", jaccard_threshold=0.8)

        bench = docs.limit(5).select(F.col("text").alias("bench_text"))
        scores = t.call("dedup.contamination_score", pj.contamination_score, docs, bench,
                        id_col="doc_id", column_name="text", benchmark_column="bench_text")
        clean = scores.filter(F.col("contamination") < 0.5).select("doc_id")
        docs = docs.join(clean, "doc_id", "left_semi")

        docs = t.call("sampling.split_train_holdout", pj.split_train_holdout, docs,
                      "doc_id", holdout_fraction=0.05)
        train = docs.filter(~F.col("is_holdout"))
        train = t.call("text_analysis.assign_packs", pj.assign_packs, train, "text",
                       max_tokens=2048, order_by="doc_id")
        final = train.select("doc_id", "pack_id")
        _sink(self.ctx, final, out)
        return final

    def op(self, i: int) -> Op:
        self.final = self.pipeline(os.path.join(self.ctx.work, f"out-{i}"))
        return Op(items=self.n_docs)

    def check(self, i: int, op: Op) -> None:
        out = os.path.join(self.ctx.work, f"out-{i}")
        t = _read_output(out, op)
        ids = t["doc_id"].tolist()
        if len(ids) != len(set(ids)):
            raise WrongOutput("duplicate doc_id in output")
        if set(ids) - set(self.kind):
            raise WrongOutput("output holds ids that are not in the input")
        if set(ids) & self.must_filter:
            raise WrongOutput(f"{len(set(ids) & self.must_filter)} foreign/repetitive docs kept")
        srt = t.sort_values("doc_id")["pack_id"]
        if srt.isna().any() or (srt.diff().fillna(0) < 0).any():
            raise WrongOutput("pack ids missing or not monotone in doc_id order")
        kept = set(ids)
        op.info["dup_removed_frac"] = len(self.should_drop - kept) / max(1, len(self.should_drop))
        op.info["unique_kept_frac"] = len(self.should_keep & kept) / max(1, len(self.should_keep))
        _check_floors(op.info)

    def trace_extras(self) -> dict:
        import pyjanitor_spark as pj

        cand = pj.minhash_lsh_pairs(self.pre_near, "doc_id", "text", mode="all")
        n_cand = cand.count()
        n_ver = pj.ngram_jaccard_pairs(self.pre_near, "doc_id", "text", threshold=0.8,
                                       candidates=cand).count()
        return {
            "dedup.lsh_candidates": n_cand,
            "dedup.lsh_verified": n_ver,
            "dedup.pair_yield": n_ver / n_cand if n_cand else 0.0,
            **_plans(self.final),
        }


class Wrangle:
    """The classic tabular verb chain on TPC-H-style tables."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.final = None
        self.frames: dict = {}

    def prepare(self) -> None:
        with open(os.path.join(self.ctx.data, "truth.json")) as fh:
            self.expected = json.load(fh)["expected"]
        self.n_rows = pq.read_metadata(os.path.join(self.ctx.data, "lineitem.parquet")).num_rows

    def pipeline(self, out: str):
        import pyjanitor_spark as pj
        from pyspark.sql import functions as F

        t, spark, d = self.ctx.tracer, self.ctx.spark, self.ctx.data
        tables = {
            n: t.call("sources.read_table", pj.read_table, spark, os.path.join(d, f"{n}.parquet"))
            for n in ("lineitem", "orders", "part", "supplier")
        }
        li, o, p, s = (t.call("clean_names.clean_names", pj.clean_names, df) for df in tables.values())

        x = li.join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        x = t.call("filters.filter_date", pj.filter_date, x, "o_orderdate",
                   start_date=gen.WRANGLE_START, end_date=gen.WRANGLE_END)
        x = t.call("filters.case_when", pj.case_when, x,
                   F.col("l_quantity") < 10, F.lit("small"),
                   F.col("l_quantity") < 30, F.lit("medium"),
                   default=F.lit("large"), column_name="qty_band")
        x = t.call("missing.coalesce", pj.coalesce, x, ["l_discount", "l_tax"], "disc",
                   default_value=0.0)
        x = x.withColumn("net", F.col("l_extendedprice") * (1 - F.col("disc")))
        x = t.call("groupby.groupby_agg", pj.groupby_agg, x, by="l_partkey",
                   new_column_name="part_mean_net", agg_column_name="net", agg="mean")
        top = t.call("groupby.groupby_topk", pj.groupby_topk, x, by="l_partkey", column="net",
                     k=3, ascending=False)
        top = t.call("math.apply_math", pj.functions.apply_math, top, "net", pj.z_score, dest="net_z")
        j = t.call("joins.conditional_join", pj.conditional_join,
                   top, s.select("s_creditlo", "s_credithi"),
                   ("net", "s_creditlo", ">="), ("net", "s_credithi", "<"), use_bucket=True)
        j = j.join(p.select(F.col("p_partkey").alias("l_partkey"), "p_brand"), "l_partkey")
        long = t.call("reshape.pivot_longer", pj.pivot_longer,
                      j.select("p_brand", "qty_band", "net", "part_mean_net", "net_z"),
                      index=["p_brand", "qty_band"],
                      column_names=["net", "part_mean_net", "net_z"],
                      names_to="measure", values_to="value")
        agg = long.groupBy("p_brand", "qty_band", "measure").agg(F.sum("value").alias("value"))
        comp = t.call("complete.complete", pj.complete, agg, "p_brand", "qty_band", "measure",
                      fill_value={"value": 0.0})
        wide = t.call("reshape.pivot_wider", pj.pivot_wider, comp, index=["p_brand", "measure"],
                      names_from="qty_band", values_from="value")
        _sink(self.ctx, wide, out)
        self.frames = {"joins.conditional_join.rows_out": j, "complete.complete.rows_out": comp}
        return wide

    def op(self, i: int) -> Op:
        self.final = self.pipeline(os.path.join(self.ctx.work, f"out-{i}"))
        return Op(items=self.n_rows)

    def check(self, i: int, op: Op) -> None:
        out = os.path.join(self.ctx.work, f"out-{i}")
        t = _read_output(out, op)
        cols = ["p_brand", "measure", "large", "medium", "small"]
        if sorted(t.columns) != sorted(cols):
            raise WrongOutput(f"unexpected columns {sorted(t.columns)}")
        got = sorted(tuple(r) for r in t[cols].itertuples(index=False))
        want = sorted(tuple(r[:5]) for r in self.expected)
        if len(got) != len(want):
            raise WrongOutput(f"{len(got)} rows, expected {len(want)}")
        for g, w in zip(got, want):
            if g[:2] != w[:2] or not all(
                math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-6) for a, b in zip(g[2:], w[2:])
            ):
                raise WrongOutput(f"row {g} differs from expected {w}")

    def trace_extras(self) -> dict:
        rows = {k: df.count() for k, df in self.frames.items()}
        want = self.expected[0][5]
        if rows["joins.conditional_join.rows_out"] != want:
            raise WrongOutput(f"conditional_join gave {rows['joins.conditional_join.rows_out']} "
                              f"rows, expected {want}")
        return {**rows, **_plans(self.final)}


def _check_floors(info: dict) -> None:
    for k, floor in FLOORS.items():
        if k in info and info[k] < floor:
            raise WrongOutput(f"{k} = {info[k]:.4f} is below the floor {floor}")


def _plans(df) -> dict:
    from pyjanitor_spark.plans import scale_report

    rep = scale_report(df)
    return {f"plans.{k}": rep[k] for k in ("shuffles", "broadcast_joins", "codegen_stages")}


WORKLOADS = {
    "curation": Curation,
    "wrangle": Wrangle,
}
