"""Plan-shape tests: pin the physical properties that matter at 100 TB.

Each test asserts a property of the optimized plan (pushdown, pruning,
shuffle count, broadcast, codegen) rather than a result — regressions
here are perf bugs even when results stay correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import pyjanitor_spark as pj
from pyjanitor_spark.plans import (
    broadcast_join_count,
    codegen_stage_count,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
import pytest


def test_filter_pushdown_reaches_scan(lineitem):
    out = pj.filter_on(
        pj.filter_column_isin(lineitem, "l_returnflag", ["A"]),
        "l_quantity > 30",
    ).select("l_orderkey", "l_quantity")
    pf = " ".join(pushed_filters(out))
    assert "l_returnflag" in pf and "l_quantity" in pf


def test_column_pruning_reaches_scan(lineitem):
    out = pj.clean_names(lineitem).select("l_orderkey", "l_quantity")
    cols = scan_columns(out)
    assert cols == {"l_orderkey", "l_quantity"}


def test_expression_verbs_are_shuffle_free(lineitem):
    out = pj.case_when(
        pj.coalesce(
            pj.clean_names(lineitem), ["l_returnflag", "l_linestatus"],
            target_column_name="m",
        ),
        F.col("l_quantity") > 30, F.lit("hi"), column_name="band", default="lo",
    )
    assert shuffle_count(out) == 0
    assert codegen_stage_count(out) >= 1


def test_groupby_agg_single_shuffle(lineitem):
    out = pj.groupby_agg(
        lineitem, by=["l_returnflag"], new_column_name="s",
        agg_column_name="l_quantity", agg="sum",
    )
    # window aggregate broadcast back to rows: exactly one shuffle on the key
    assert shuffle_count(out) == 1


def test_groupby_topk_single_shuffle(orders):
    out = pj.groupby_topk(orders, by=["o_orderpriority"], column="o_totalprice", k=3)
    assert shuffle_count(out) == 1


def test_conditional_join_equi_uses_equi_keys(lineitem, orders):
    out = pj.conditional_join(
        orders, lineitem,
        ("o_orderkey", "l_orderkey", "=="),
        ("o_totalprice", "l_extendedprice", ">"),
    )
    # must plan a real equi join (hash/sort-merge), not a nested loop
    from pyjanitor_spark.plans import executed_plan

    plan = executed_plan(out)
    assert "SortMergeJoin" in plan or "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_shuffles_on_band_keys_only(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = pj.minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4)
    from pyjanitor_spark.plans import executed_plan

    plan = executed_plan(pairs)
    # candidate generation must be an equi join on (band, key) — never a
    # cross/nested-loop pair enumeration
    assert "NestedLoop" not in plan


def test_small_dim_join_broadcasts(spark):
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    out = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    assert broadcast_join_count(out) == 1
    assert shuffle_count(out) == 0


def test_dedupe_exact_hashes_before_shuffle(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pj.dedupe_exact(docs, "text", "doc_id")
    # one shuffle, keyed on the md5 (32 bytes) — not on raw document text
    assert shuffle_count(out) == 1
    from pyjanitor_spark.plans import executed_plan

    assert "md5" in executed_plan(out)


def test_minhash_pair_generation_is_join_free(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = pj.minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4)
    from pyjanitor_spark.plans import executed_plan

    # bucketed in-task pair emit: the signature pipeline is computed
    # once; any Join node means the self-join shape regressed
    assert "Join" not in executed_plan(pairs)


def test_ngram_jaccard_avoids_scan_side_shingle_filters(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pj.ngram_jaccard_pairs(docs, "doc_id", "text")
    from pyjanitor_spark.plans import executed_plan

    plan = executed_plan(out)
    # the regression shape computed per-doc sizes as size(word_shingles)
    # on the base table: pushdown re-inlined the whole shingle pipeline
    # into the file scan's DataFilters (evaluated on a single input task,
    # out of codegen) — 30x slower at sf0.1
    assert "DataFilters: [(size(" not in plan
    assert "NestedLoop" not in plan


def test_expand_grid_literals_are_jvm_side(spark, lineitem):
    flags = lineitem.select("l_returnflag").distinct()
    out = pj.expand_grid(spark, {"p": ["HI", "LO"], "f": flags, "s": ["A", "B"]})
    from pyjanitor_spark.plans import executed_plan

    # createDataFrame literals would appear as Python-RDD scans whose
    # tasks spin up Python workers across the cross-join task grid
    assert "ExistingRDD" not in executed_plan(out)


def test_sampling_verbs_are_shuffle_free(documents):
    assert shuffle_count(pj.deterministic_sample(documents, "doc_id", 0.5)) == 0
    assert shuffle_count(
        pj.stratified_sample(documents, "lang", "doc_id", {"en": 0.5})
    ) == 0
    assert shuffle_count(pj.split_train_holdout(documents, "doc_id")) == 0
    assert shuffle_count(pj.pii_redact(documents, "text")) == 0


def test_scalable_ecdf_has_no_global_window(lineitem):
    """apply_math ecdf: every Window must have a partition spec — a
    windowspecdefinition with no partition keys funnels all rows into
    one task."""
    from pyjanitor_spark.functions import math as pjm
    from pyjanitor_spark.plans import executed_plan

    out = pjm.apply_math(lineitem, "l_quantity", pjm.ecdf, dest="e")
    plan = executed_plan(out)
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            # partitioned specs read windowspecdefinition(<keys>, ... ORDER/frame)
            spec = line.split("windowspecdefinition(", 1)[1]
            assert not spec.startswith("specifiedwindowframe"), line
            head = spec.split(",")[0]
            assert head.strip(), line


def test_ngram_jaccard_candidates_filter_before_count(documents):
    """The candidates semi-join must sit BELOW the pair-count aggregate
    in the plan (filter the quadratic stream before it shuffles)."""
    from pyjanitor_spark.plans import executed_plan

    cand = pj.minhash_lsh_pairs(documents, "doc_id", "text")
    out = pj.ngram_jaccard_pairs(
        documents, "doc_id", "text", threshold=0.5, candidates=cand
    )
    plan = executed_plan(out)
    lines = plan.splitlines()
    semi_idx = [i for i, l in enumerate(lines) if "LeftSemi" in l]
    agg_idx = [
        i for i, l in enumerate(lines)
        if "HashAggregate" in l and "count(1)" in l and "id_1" in l
    ]
    assert semi_idx and agg_idx
    # deeper in the tree = larger line index; the semi join feeding the
    # pair-count agg must appear below the top pair-count aggregate
    assert max(semi_idx) > min(agg_idx)


def test_bloom_probe_is_broadcast(documents):
    """The bitmap rides into the scan as a broadcast, never a shuffle of
    the probed side."""
    from pyjanitor_spark.plans import executed_plan

    ref = documents.filter(F.col("lang") == "en")
    new = documents.filter(F.col("lang") != "en")
    out = pj.bloom_dedupe_against(new, ref, "text", exact=False)
    plan = executed_plan(out)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan
    assert "Exchange hashpartitioning" not in plan


def test_count_cumulative_unique_no_global_window(lineitem):
    """The running-total stage must be the partition-offset pattern:
    every row-spanning window is partitioned by __pid (the only
    unpartitioned window is the tiny #partitions-row offsets agg), and
    the offsets table joins back via broadcast."""
    from pyjanitor_spark.plans import broadcast_join_count, executed_plan

    out = pj.count_cumulative_unique(
        lineitem.select("l_orderkey", "l_returnflag"), "l_returnflag", "cum_u"
    )
    assert broadcast_join_count(out) >= 1
    plan = executed_plan(out)
    # the old single-task shape ordered a row-level window by _row_order
    # with no partition keys: windowspecdefinition(_row_order ...
    for line in plan.splitlines():
        if "windowspecdefinition(_row_order" in line:
            raise AssertionError(f"global row-level window regressed: {line}")


def test_positional_index_offsets_broadcast(lineitem):
    """positional_index: the per-partition offset table joins back via
    broadcast (tiny), not a shuffle of the data."""
    from pyjanitor_spark.plans import broadcast_join_count
    from pyjanitor_spark.utils.order import positional_index

    out = positional_index(lineitem.select("l_orderkey"), "idx")
    assert broadcast_join_count(out) >= 1


@pytest.mark.slow  # heavy brute/sweep: builder gate


@pytest.mark.slow  # registry-wide sweep: builder gate
def test_registry_scale_lint(spark):
    """Registry-wide lint: NO query's physical plan may contain a
    cartesian product or nested-loop join unless it is on the explicit
    whitelist of documented 1-row broadcast stat attaches (a
    crossJoin(broadcast(<1-row aggregate>)) plans as
    BroadcastNestedLoopJoin — bounded and intended).  Any new quadratic
    join sneaking into ANY registered query fails here by name."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    # queries whose plan legitimately contains a broadcast nested-loop /
    # cartesian: every entry is a <=1-row (or k-row bounded) broadcast
    # attach, documented in the verb's docstring
    ONE_ROW_ATTACH = {
        "min_max_scale",     # min/max 1-row agg attach
        "z_score",           # mean/std 1-row agg attach
        "softmax",           # max+sum 1-row agg attach
        "ecdf",              # n 1-row agg attach
        "count_cumulative_unique",  # partitioned_cumsum offsets (<=#partitions rows)
        "quantile_bin",      # cut points 1-row attach
        "winsorize",         # 2-quantile 1-row attach
        "robust_scale",      # 3-quantile 1-row attach
        "hashed_tfidf",      # n_docs 1-row attach
        "bm25_score",        # avgdl/N 1-row attach
        "nb_classify",       # nb_train's k*V 1-row attach
        "ngram_lm_score",    # unigram/bigram totals 1-row attach
        "top_collocations",  # PMI T/B totals 1-row attach
        "heavy_hitters",     # global totals 1-row attach (ungrouped form)
        "expand_grid",       # cartesian by definition (bounded VALUES)
        "cartesian_product", # cartesian by definition
        "complete",          # bounded category-combination expansion
        "expand",            # bounded category-combination expansion
        "language_id",       # merged weight-map 1-row attach
        "contamination",     # bench-shingle broadcast semi-join
        "kmeans_assign",     # broadcast-offsets / bounded k-row attaches
        "semdedup",          # centroid broadcast attach
        "dedupe_near_best",  # centroid/keep-by bounded attach
        "ivf_topk",          # nprobe centroid pruning attach
        "add_column_values", # positional_index offsets broadcast
        "normal_cdf",        # erf constants fold; offsets attach if any
        "probit",
        "xlsx_table",        # driver-parsed literal frames
        "xlsx_cells",
    }
    bad = {}
    for name, q in e.queries().items():
        try:
            plan = q(spark, sf)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # construction failure is its own bug
            bad[name] = f"build error: {ex}"
            continue
        has_nl = ("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan)
        if has_nl and name not in ONE_ROW_ATTACH:
            bad[name] = "unwhitelisted cartesian/nested-loop join"
    assert not bad, f"scale lint failures: {bad}"


@pytest.mark.slow  # heavy brute/sweep: builder gate


@pytest.mark.slow  # registry-wide sweep: builder gate
def test_registry_generate_broadcast_lint(spark):
    """Registry-wide lint #2 (r10): every BroadcastExchange whose build
    subtree contains a Generate (explode) must be on the reviewed
    whitelist.

    Why: Catalyst's static size estimate passes UNCHANGED through
    Generate and Aggregate, so a frame whose true size is SUPERLINEAR
    in its scan (a pair stream) can be estimated broadcastable while
    actually being gigabytes — the static planner then builds it on the
    driver and OOMs (found live: ngram_jaccard_pairs' inter aggregate at
    ~sf1; fixed with hint('merge')).  Frames whose true size is LINEAR
    in the scan (per-doc sizes tables, bucketized dims, id lists) are
    safe: their estimate tracks the input, so at real scale the planner
    switches to sort-merge on its own.  The whitelist records that
    review per entry; any NEW generate-fed broadcast fails here by
    name and needs the same linear-vs-superlinear argument."""
    import __spark_entry__ as e
    from pyjanitor_spark.plans import generate_fed_broadcasts

    sf = "/root/testdata/sf0.001"
    REVIEWED = {
        # pair family: remaining broadcasts are per-doc sizes tables /
        # id lists (linear; the quadratic inter side is merge-hinted).
        # sampled variant shares the identical sizes-broadcast shape
        # (reviewed r12: BuildRight side is one row per doc_id)
        "ngram_jaccard_pairs", "ngram_jaccard_capped",
        "ngram_jaccard_sampled", "dedupe_against",
        "remove_duplicated_spans", "semdedup",
        # split mode shares semdedup's k-row centroid attach; its
        # broadcast subtree contains the centroid posexplode, and the
        # build side is n_clusters rows by construction (bounded) —
        # semdedup_auto is the same plan routed by the pre-flight
        "semdedup_split", "semdedup_auto",
        # bucketized range join: right side exploded into range buckets;
        # estimate derives from the real FileScan, growth factor is
        # buckets-per-row (small constant)
        "conditional_join_range", "conditional_join_range_open",
        "conditional_join_keep_first", "conditional_join_keep_last",
        # bounded stat / model attaches that pass through an explode
        "hashed_tfidf", "top_collocations", "contamination",
        "nb_classify", "expand_grid",
        # r14: seen/backoff model tables broadcast into the probe
        # stage — build sides are DISTINCT bigrams (count>=min_count)
        # and the unigram vocabulary: SUBLINEAR in the token scan
        # (dedup'd aggregates, not a pair stream); the probe stream
        # never exchanges.  The model is always broadcast.
        "ngram_lm_score",
        # per-doc n-gram fraction table: one row per doc_id (LINEAR in
        # the scan; the estimate tracks the input, so at real scale the
        # planner switches to sort-merge on its own).  exact mode joins
        # back the span-union fraction table — one row per (doc, n),
        # same linear class (reviewed r12: LeftOuter BuildRight on
        # doc_id)
        "gopher_repetition", "gopher_repetition_exact",
    }
    bad = {}
    for name, q in e.queries().items():
        try:
            n = generate_fed_broadcasts(q(spark, sf))
        except Exception as ex:
            bad[name] = f"build error: {ex}"
            continue
        if n and name not in REVIEWED:
            bad[name] = f"{n} unreviewed generate-fed broadcast(s)"
    assert not bad, f"generate-broadcast lint failures: {bad}"


def test_generate_fed_broadcasts_detector(spark):
    # the detector itself: explode-derived build side counts, plain
    # small-dim broadcast does not
    from pyspark.sql import functions as F

    from pyjanitor_spark.plans import generate_fed_broadcasts

    big = spark.range(1000).withColumn("k", F.col("id") % 10)
    dim = spark.range(10).select(
        F.col("id").alias("k"), F.explode(F.array(F.lit("a"), F.lit("b"))).alias("v")
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    j = big.join(F.broadcast(dim), "k")
    assert generate_fed_broadcasts(j) == 1
    plain = big.join(F.broadcast(spark.range(10).select(F.col("id").alias("k"))), "k")
    assert generate_fed_broadcasts(plain) == 0


def test_scale_report(lineitem):
    from pyjanitor_spark.plans import scale_report

    out = pj.groupby_agg(
        pj.filter_on(lineitem, "l_quantity > 30"),
        ["l_returnflag"], "s", "l_quantity", "sum",
    ).select("l_orderkey", "s")
    rep = scale_report(out)
    assert rep["shuffles"] >= 1
    assert rep["cartesian"] is False
    assert any("l_quantity" in f for f in rep["pushed_filters"])
    assert "l_returnflag" in rep["scan_columns"]
    # AQE hides codegen span ids until the final plan; just require the key
    assert rep["codegen_stages"] >= 0
    # a 1-row broadcast attach flags cartesian=True (documented pattern)
    from pyjanitor_spark.functions.math import apply_math, z_score
    rep2 = scale_report(apply_math(lineitem, "l_quantity", z_score, dest="z"))
    assert rep2["cartesian"] is True


def test_capped_jaccard_pair_aggregate_never_broadcasts(spark):
    """ADVICE r13: the capped ngram_jaccard path pins its bucket table
    with a lazy localCheckpoint, relying on lazy-checkpoint LogicalRDDs
    carrying their origin subtree's size statistics (Spark 3.4+,
    enforced by pyjanitor_spark.MIN_SPARK_VERSION) plus the merge hint
    to keep Catalyst from BROADCASTING the quadratic pair aggregate
    (the r10 driver-OOM plan).  Assert the shape mechanically: no
    BroadcastExchange subtree may contain the (id_1, id_2) pair-count
    aggregate."""
    import re

    from pyjanitor_spark.plans import executed_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pj.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_doc_freq=3
    )
    lines = executed_plan(out).splitlines()

    def depth(line):
        m = re.search(r"[+:]- ", line)
        return m.start() if m else len(line) - len(line.lstrip(" :*"))

    pair_agg = re.compile(r"HashAggregate.*keys=\[id_1.*id_2.*count")
    assert any(pair_agg.search(l) for l in lines), (
        "pair-count aggregate not found in plan — update the matcher"
    )
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = depth(line)
        for sub in lines[i + 1:]:
            if sub.strip() and depth(sub) <= d and re.search(r"[+:]- ", sub):
                break
            assert not pair_agg.search(sub), (
                "pair aggregate under a BroadcastExchange — the r10 "
                "driver-OOM broadcast plan is back:\n" + line + "\n" + sub
            )


def test_nb_train_single_action_kv_in_plan(spark, monkeypatch):
    """r14: nb_train's k*V smoothing constant rides the model plan as a
    broadcast one-row aggregate (crossJoin of vocab.agg) instead of a
    blocking driver count() — one action per train, not two.  Assert
    (a) building the model frame calls no DataFrame ``count()`` (checked
    by making it raise, which does not depend on how AQE splits a query
    into jobs) and (b) the plan carries the __kV broadcast attach."""
    from pyjanitor_spark.plans import executed_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def no_count(self):
        raise AssertionError("nb_train ran a driver count()")

    with monkeypatch.context() as m:
        m.setattr(type(docs), "count", no_count)
        model = pj.nb_train(docs, "text", "lang", k=1.0, min_count=2)
    plan = executed_plan(model)
    assert "__kV" in plan, "k*V broadcast attach missing from the model plan"


def test_star_contraction_no_mid_round_distinct(spark):
    """r14: the distributed star-contraction round carries exactly one
    distinct per round (the trailing edge dedup); the mid-round distinct
    between large-star and small-star was a full extra exchange with no
    semantic effect (the window min is duplicate-insensitive and the
    trailing distinct collapses repeats).  Differential-check the two
    shapes on a graph WITH multi-edges so the dropped dedup is actually
    exercised."""
    rows = [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4), (1, 3), (10, 11),
            (11, 12), (5, 5), (20, 21), (21, 22), (22, 23), (23, 24)]
    pairs = spark.createDataFrame(rows, "id_1 long, id_2 long")
    out = {
        r["id"]: r["cluster_id"]
        for r in pj.near_dup_clusters(
            pairs, id_col="id", small_graph_edges=0
        ).collect()
    }
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 5: 5,
            20: 20, 21: 20, 22: 20, 23: 20, 24: 20}
    assert out == want, out
