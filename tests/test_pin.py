"""The pin policy (pyjanitor_spark/utils/pin.py): every checkpoint the
library takes goes through ``pin``, every "pin unless replay-stable"
decision goes through ``share`` (so a verb that reads its input twice
reads one run of the upstream), every pre-flight read of the data goes
through ``probe`` (so the probe and the verb's output share one run of
the upstream), and a deployment that sets
``SparkContext.setCheckpointDir`` gets durable pins everywhere."""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import pyjanitor_spark as pj

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pyjanitor_spark"
)


def _offenders(pattern: re.Pattern, paths: list[str]) -> list[str]:
    out = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if pattern.search(line):
                    rel = os.path.relpath(path, PKG)
                    out.append(f"{rel}:{lineno}: {line.strip()}")
    return out


def _outside_pin_module() -> list[str]:
    allowed = os.path.join(PKG, "utils", "pin.py")
    return [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(PKG)
        for name in files
        if name.endswith(".py") and os.path.join(root, name) != allowed
    ]


def test_checkpoint_calls_only_in_pin_module():
    """A checkpoint call anywhere else would be a second pin policy.
    Streaming's ``checkpointLocation`` option is not a call and does
    not match."""
    call = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    offenders = _offenders(call, _outside_pin_module())
    assert not offenders, "checkpoint outside utils/pin.py:\n" + "\n".join(offenders)


def test_replay_rule_only_in_share():
    """``share`` is the one "pin unless replay-stable" decision: a verb
    that asks ``_plan_is_deterministic`` itself would be a second
    replay policy."""
    offenders = _offenders(re.compile(r"_plan_is_deterministic"), _outside_pin_module())
    assert not offenders, "replay rule outside utils/pin.py:\n" + "\n".join(offenders)


# (module, function) -> why its bare action is a bounded, single read
# of a frame nothing else re-reads, or no Spark action at all
_BARE_ACTIONS = {
    ("operators/similarity.py", "_train_codebooks"):
        "Lloyd seeds (k rows) and rounds (m*k rows each) read the "
        "trainer's own pinned input",
    ("operators/similarity.py", "_probed_clusters"): "nprobe centroid ids",
    ("operators/similarity.py", "_pq_collect_cents"): "m*k codebook rows",
    ("operators/similarity.py", "_cluster_groups"): "pyarrow Array.take in a task",
    ("operators/tokenize.py", "bpe_train"):
        "the top word_limit word counts are the trainer's only read",
    ("operators/tokenize.py", "_merge_list"): "n_merges rows of a merge table",
    ("operators/domain.py", "toset"): "returns a Python set by contract",
    ("operators/domain.py", "data_description"):
        "one aggregate row; the summary is built from it alone",
    ("operators/dedup.py", "bloom_build"):
        "bitmap words (<= shards * m/64 rows) are the index's only read",
    ("operators/dedup.py", "_is_proper_stars"):
        "per-round convergence test over that round's pinned edges",
    ("operators/dedup.py", "_pairs"): "pyarrow Array.take in a task",
}


def _enclosing_function(path: str, lineno: int) -> str | None:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    spans = [
        (node.end_lineno - node.lineno, node.name)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.lineno <= lineno <= node.end_lineno
    ]
    return min(spans)[1] if spans else None


def test_probing_verbs_have_no_bare_actions():
    """A verb reads data before it can plan through ``utils.pin.probe``;
    a bare action would run the upstream once for the read and again
    for the output.  Every module under ``operators/`` and
    ``functions/`` (and the sinks) is checked; ``_BARE_ACTIONS`` names
    the few functions whose action is exempt, each with its reason.
    Spark's ``F.first(col)`` aggregate takes an argument and does not
    match."""
    action = re.compile(
        r"\.(collect|first|count|toPandas|toLocalIterator|isEmpty)\(\)|\.(take|head)\("
    )
    paths = [
        os.path.join(root, name)
        for sub in ("operators", "functions")
        for root, _dirs, files in os.walk(os.path.join(PKG, sub))
        for name in files
        if name.endswith(".py")
    ] + [os.path.join(PKG, "sources", "sinks.py")]
    offenders, used = [], set()
    for hit in _offenders(action, paths):
        rel, lineno, _ = hit.split(":", 2)
        key = (rel, _enclosing_function(os.path.join(PKG, rel), int(lineno)))
        if key in _BARE_ACTIONS:
            used.add(key)
        else:
            offenders.append(hit)
    assert not offenders, "bare action outside utils.pin.probe:\n" + "\n".join(offenders)
    assert used == set(_BARE_ACTIONS), f"stale exemptions: {set(_BARE_ACTIONS) - used}"


def test_driver_rows_become_frames_only_via_local_frame():
    """Operators build a frame from driver-side rows only through
    ``utils.local.local_frame`` (an Arrow-built ``LocalRelation``): a
    row list handed to ``createDataFrame`` is a pickled Python RDD that
    starts Python workers on every read.  ``sources/`` readers are
    exempt: each builds a frame once from an external file, and the
    type inference of that call is part of the reader's contract."""
    paths = [
        os.path.join(root, name)
        for sub in ("operators", "functions")
        for root, _dirs, files in os.walk(os.path.join(PKG, sub))
        for name in files
        if name.endswith(".py")
    ]
    offenders = _offenders(re.compile(r"createDataFrame\("), paths)
    assert not offenders, "frame from driver rows outside local_frame:\n" + "\n".join(
        offenders
    )


def _coin():
    """A fair coin-flip UDF that flips anew on every read.  It reads
    ``os.urandom``: Python workers forked from one daemon start from the
    same ``random`` state, so ``random.random()`` flips can repeat
    between two reads and let a verb that reads its input twice pass."""
    from pyspark.sql.types import BooleanType

    return F.udf(lambda _: os.urandom(1)[0] < 128, BooleanType()).asNondeterministic()


def _counted(spark, n):
    """``n`` rows whose every column derives from one accumulator-counting
    Python UDF evaluated above a shuffle: the accumulator counts how many
    times the upstream ran (no query can prune the UDF away), and the
    shuffle makes the frame replay-unstable, so the probe pins it."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    k = F.udf(tick, "long")("id")
    df = spark.range(n, numPartitions=2).repartition(3).select(k.alias("k")).select(
        F.floor(F.col("k") / 3).alias("id"),
        F.concat(F.lit("g"), (F.col("k") % 3).cast("string")).alias("grp"),
        F.col("k").cast("double").alias("v"),
        (F.col("k") * 2).cast("double").alias("w"),
        F.timestamp_seconds(F.col("k") * 7200).alias("ts"),
    )
    return df, acc


_PIVOTS = {
    "plain": {},
    "names_expand": {"names_expand": True},
    "index_expand": {"index_expand": True},
    "two_values": {"values_from": ["v", "w"]},
}


@pytest.mark.parametrize("case", sorted(_PIVOTS))
def test_pivot_wider_runs_upstream_once(spark, case):
    df, acc = _counted(spark, 21)
    kw = {"index": "id", "names_from": "grp", "values_from": "v", **_PIVOTS[case]}
    out = pj.pivot_wider(df.drop("ts"), **kw)
    assert len(out.collect()) == 7
    assert acc.value == 21


def test_bucketized_conditional_join_runs_upstream_once(spark):
    df, acc = _counted(spark, 200)
    right = spark.createDataFrame([(0.0, 10.0), (50.0, 60.0), (100.0, 400.0)], "lo double, hi double")
    out = pj.conditional_join(df, right, ("v", "lo", ">="), ("v", "hi", "<"), use_bucket=True)
    assert len(out.collect()) == 10 + 10 + 100
    assert acc.value == 200


def test_fill_missing_timestamps_runs_upstream_once(spark):
    df, acc = _counted(spark, 50)
    out = pj.fill_missing_timestamps(df, "1 hour", "ts")
    assert len(out.collect()) == 99
    assert acc.value == 50


def test_write_zordered_runs_upstream_once(spark, tmp_path):
    df, acc = _counted(spark, 200)
    pj.write_zordered(df, str(tmp_path / "z"), ["v", "ts"], num_files=2)
    assert spark.read.parquet(str(tmp_path / "z")).count() == 200
    assert acc.value == 200


def test_z_score_runs_upstream_once(spark):
    df, acc = _counted(spark, 30)
    out = pj.functions.apply_math(df, "v", pj.z_score, dest="z")
    assert len(out.collect()) == 30
    assert acc.value == 30


_PREFLIGHT = {
    "impute": lambda df: pj.impute(df, "v", statistic_column_name="mean"),
    # rows=False: the all-null row filter would be pushed below the
    # projection and call the counting UDF twice per row in one run
    "remove_empty": lambda df: pj.remove_empty(df, rows=False),
    "bin_numeric": lambda df: pj.bin_numeric(df, "v", "b", bins=3),
    "deconcatenate_column": lambda df: pj.deconcatenate_column(df, "grp", sep="g", autoname="p"),
    "expand_column": lambda df: pj.expand_column(df, "grp"),
    # distinct: a bare row count would prune the counting UDF away
    "add_column": lambda df: pj.add_column(df.distinct(), "c", list(range(30))),
}


@pytest.mark.parametrize("verb", sorted(_PREFLIGHT))
def test_preflight_verbs_run_upstream_once(spark, verb):
    """A verb that reads the data before it can plan builds its output
    from the frame ``probe`` returns: the probe and the output read one
    run of the upstream."""
    df, acc = _counted(spark, 30)
    assert len(_PREFLIGHT[verb](df).collect()) == 30
    assert acc.value == 30


def test_min_max_scale_runs_no_job_on_a_replay_stable_input(spark, monkeypatch):
    """The min/max aggregate is a lazy one-row broadcast attach: building
    the output calls no driver action (checked by making them raise,
    which does not depend on how adaptive execution splits jobs)."""
    df = spark.range(5).select((F.col("id") * 2).cast("double").alias("v"))

    def no_action(self, *args, **kwargs):
        raise AssertionError("min_max_scale ran a driver action")

    with monkeypatch.context() as m:
        for name in ("first", "collect", "count", "head", "take", "toPandas"):
            m.setattr(type(df), name, no_action)
        out = pj.min_max_scale(df, column_name="v")
    assert sorted(r["v"] for r in out.collect()) == [0.0, 0.25, 0.5, 0.75, 1.0]


def _counted_docs(spark, n):
    """``_counted`` as documents: a unique long ``doc_id`` and a ``text``
    that is one of three bodies, so each body is an exact-duplicate
    cluster and no two bodies reach Jaccard 0.8."""
    df, acc = _counted(spark, n)
    body = F.concat(F.lit("alpha beta gamma delta epsilon "), F.col("grp"))
    return df.select(F.col("v").cast("long").alias("doc_id"), body.alias("text")), acc


def test_dedupe_near_runs_upstream_once(spark):
    df, acc = _counted_docs(spark, 30)
    out = pj.dedupe_near(df, "doc_id", "text", jaccard_threshold=0.8)
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2]
    assert acc.value == 30


@pytest.mark.parametrize("split", [1, "auto"])
def test_semdedup_runs_upstream_once(spark, split):
    """The pair stage, the centroids and the kept-row filter (and, with
    'auto', the pre-flight) read one run of the input.  Each of the
    three clusters holds two exact-duplicate groups, [1, 0] on even ids
    and [1, 1] on odd ones; every member of a group ties on its
    centroid cosine, so the smallest id is kept.  The 1-cell budget
    sends 'auto' through the split pipeline."""
    df, acc = _counted(spark, 30)
    emb = F.array(F.lit(1.0), (F.col("v") % 2).cast("double"))
    df = df.select(F.col("v").cast("long").alias("vid"), "grp", emb.alias("emb"))
    out = pj.semdedup(df, "emb", "vid", "grp", eps=0.9, split=split, auto_split_cells=1)
    assert sorted(r["vid"] for r in out.collect()) == [0, 1, 2, 3, 4, 5]
    assert acc.value == 30


def test_ngram_lm_score_runs_upstream_once(spark):
    """The model, the probe stream and the join-back read one run of
    the input; the scores equal those of the same rows read from a
    replay-stable frame."""
    df, acc = _counted_docs(spark, 30)
    got = {r["doc_id"]: r["lm_logprob"] for r in pj.ngram_lm_score(df, "text").collect()}
    assert acc.value == 30
    plain = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon g{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    want = {r["doc_id"]: r["lm_logprob"] for r in pj.ngram_lm_score(plain, "text").collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[i] - want[i]) < 1e-12 for i in want)


def test_contamination_score_runs_upstream_once(spark):
    df, acc = _counted_docs(spark, 30)
    bench = spark.createDataFrame([("alpha beta gamma delta epsilon g1",)], "text string")
    out = pj.contamination_score(df, bench, "doc_id", "text", shingle_n=3)
    got = {r["doc_id"]: r["contamination"] for r in out.collect()}
    assert got == {i: (1.0 if i % 3 == 1 else 0.75) for i in range(30)}
    assert acc.value == 30


def test_assign_packs_runs_upstream_once(spark):
    df, acc = _counted_docs(spark, 30)
    out = pj.assign_packs(df, "text", max_tokens=12, order_by="doc_id")
    got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    assert got == {i: max(0, (6 * (i + 1) - 1) // 12) for i in range(30)}
    assert acc.value == 30


def test_assign_packs_on_nondeterministic_input(spark):
    """The running sum and the join-back must read one run of an input
    that differs on every read: every row gets a pack, and the packs
    are the serial packing of exactly the rows returned."""
    df = (
        spark.range(2000, numPartitions=4)
        .filter(_coin()("id"))
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 5 + 1).cast("int")))
            .alias("text"),
        )
    )
    rows = sorted(
        (r["doc_id"], r["pack_id"])
        for r in pj.assign_packs(df, "text", max_tokens=7, order_by="doc_id").collect()
    )
    assert rows and all(p is not None for _, p in rows)
    packs = [p for _, p in rows]
    assert packs == sorted(packs)
    cum, want = 0, []
    for i, _ in rows:
        cum += i % 5 + 1
        want.append(max(0, (cum - 1) // 7))
    assert packs == want


# Runs in its own Spark session: Spark has no public way to unset a
# checkpoint dir, so setting one in the shared test session would turn
# every later pin in the suite into a reliable checkpoint.
_DURABLE_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
import pyjanitor_spark as pj

sys.path.insert(0, sys.argv[2])
from test_index_model import UNSTABLE_KINDS, check_index_and_cumsum

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir(sys.argv[1])
# a 12-node chain (several contraction rounds) plus a separate pair
pairs = spark.createDataFrame(
    [(i, i + 1) for i in range(12)] + [(40, 41)], "id_1 long, id_2 long"
)
out = pj.near_dup_clusters(pairs, id_col="id", small_graph_edges=0)
print("LABELS " + json.dumps({r["id"]: r["cluster_id"] for r in out.collect()}))
# the consistency pins must read one materialisation on this path too
for kind in UNSTABLE_KINDS:
    check_index_and_cumsum(spark, kind)
# the checkpoint files must hold the rows the first action saw, not a
# recomputation: a nondeterministic UDF would draw new values
import os
from pyspark.sql import functions as F
from pyjanitor_spark.utils.pin import pin
draw = F.udf(
    lambda _: int.from_bytes(os.urandom(6), "big") / 2**48, "double"
).asNondeterministic()
pinned = pin(spark.range(200).repartition(2).withColumn("r", draw("id")))
first = sorted(map(tuple, pinned.collect()))
print("PIN_STABLE " + json.dumps(first == sorted(map(tuple, pinned.collect()))))
spark.stop()
"""


def test_pin_durable_checkpoint_dir(tmp_path):
    """near_dup_clusters labels, and the positional_index /
    partitioned_cumsum checks on unstable inputs, hold when every pin
    is also a reliable checkpoint, and checkpoint files get written."""
    ckpt = tmp_path / "ckpt"
    path = [os.path.dirname(PKG), os.environ.get("PYTHONPATH")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in path if p))
    proc = subprocess.run(
        [sys.executable, "-c", _DURABLE_SCRIPT, str(ckpt), os.path.dirname(__file__)],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("LABELS "))
    labels = {int(k): v for k, v in json.loads(line[len("LABELS "):]).items()}
    want = {i: 0 for i in range(13)}
    want.update({40: 40, 41: 40})
    assert labels == want
    assert "PIN_STABLE true" in proc.stdout.splitlines()
    written = [
        os.path.join(d, f) for d, _s, fs in os.walk(ckpt) for f in fs
        if f.startswith("part-")
    ]
    assert written, f"no reliable checkpoint files under {ckpt}"


def test_count_cumulative_unique_on_nondeterministic_input(spark):
    """With ``order_by`` the running count and its join-back must read
    one run of an input that differs on every read."""
    df = spark.range(2000, numPartitions=4).filter(_coin()("id")).select(
        "id", (F.col("id") % 13).alias("val")
    )
    rows = sorted(
        (r["id"], r["cnt"])
        for r in pj.count_cumulative_unique(df, "val", "cnt", order_by="id").collect()
    )
    seen, want = set(), []
    for i, _ in rows:
        seen.add(i % 13)
        want.append((i, len(seen)))
    assert rows and rows == want


def _coin_filtered(spark):
    """2000 ids filtered by a coin flip that differs on every read, with
    a value column ``v`` that ties ids in pairs."""
    return spark.range(2000, numPartitions=4).filter(_coin()("id")).select(
        "id", (F.col("id") / 2).cast("long").alias("v")
    )


def test_quantile_bin_on_nondeterministic_input(spark):
    """The value counts and the join-back read one run of the input:
    every row gets a bin, the bin of its value among the rows returned."""
    df = _coin_filtered(spark)
    rows = [(r["v"], r["bin"]) for r in pj.quantile_bin(df, "v", "bin", q=4).collect()]
    assert rows and all(b is not None for _, b in rows)
    vals = sorted(v for v, _ in rows)
    n = len(vals)
    le = {v: sum(1 for x in vals if x <= v) for v in set(vals)}
    assert all(b == (le[v] - 1) * 4 // n for v, b in rows)


def test_ecdf_on_nondeterministic_input(spark):
    """``apply_math(..., ecdf)``: every row's ecdf is the fraction of the
    returned rows whose value is at most its own."""
    df = _coin_filtered(spark)
    rows = [(r["v"], r["e"]) for r in pj.functions.apply_math(df, "v", pj.ecdf, dest="e").collect()]
    assert rows and all(e is not None for _, e in rows)
    vals = sorted(v for v, _ in rows)
    n = len(vals)
    le = {v: sum(1 for x in vals if x <= v) for v in set(vals)}
    assert all(e == le[v] / n for v, e in rows)


def _bm25(texts, terms, k1=1.2, b=0.75):
    """Okapi BM25 of each text against ``terms``, computed serially."""
    import math

    docs = [t.split() for t in texts]
    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    dfs = [sum(1 for d in docs if t in d) for t in terms]
    out = []
    for d in docs:
        norm = 1.0 - b + b * len(d) / avgdl
        score = 0.0
        for t, df_t in zip(terms, dfs):
            tf = d.count(t)
            idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
            score += idf * tf * (k1 + 1.0) / (tf + k1 * norm)
        out.append(score)
    return out


def _zscores(vals):
    n = len(vals)
    mu = sum(vals) / n
    sd = (sum((v - mu) ** 2 for v in vals) / (n - 1)) ** 0.5
    return [(v - mu) / sd for v in vals]


def _quantile(vals, q):
    """The smallest value whose inclusive ECDF reaches ``q``."""
    s = sorted(vals)
    return next(v for i, v in enumerate(s, 1) if i / len(s) >= q)


def _check_z_score(df):
    rows = [(r["v"], r["z"]) for r in pj.functions.apply_math(df, "v", pj.z_score, dest="z").collect()]
    want = _zscores([v for v, _ in rows])
    assert [z for _, z in rows] == pytest.approx(want, rel=1e-9, abs=1e-12)


def _check_softmax(df):
    import math

    rows = [(r["v"], r["s"]) for r in pj.functions.apply_math(df, "v", pj.softmax, dest="s").collect()]
    mx = max(v for v, _ in rows)
    tot = sum(math.exp(v - mx) for v, _ in rows)
    assert [s for _, s in rows] == pytest.approx([math.exp(v - mx) / tot for v, _ in rows], rel=1e-9)


def _check_winsorize(df):
    rows = [(r["v"], r["w"]) for r in pj.winsorize(df, "v", dest="w", lower=0.1, upper=0.9).collect()]
    vals = [v for v, _ in rows]
    lo, hi = _quantile(vals, 0.1), _quantile(vals, 0.9)
    assert [w for _, w in rows] == [min(max(v, lo), hi) for v in vals]


def _check_robust_scale(df):
    rows = [(r["v"], r["r"]) for r in pj.robust_scale(df, "v", dest="r").collect()]
    vals = [v for v, _ in rows]
    q1, med, q3 = (_quantile(vals, q) for q in (0.25, 0.5, 0.75))
    assert [r for _, r in rows] == pytest.approx([(v - med) / (q3 - q1) for v in vals], rel=1e-12)


def _check_min_max_scale(df):
    rows = [(r["id"], r["v"]) for r in pj.min_max_scale(df, column_name="v").collect()]
    ids = [i for i, _ in rows]
    lo, hi = min(ids), max(ids)
    assert [v for _, v in rows] == pytest.approx([(i - lo) / (hi - lo) for i in ids], rel=1e-12)


def _check_heavy_hitters(df):
    out = pj.heavy_hitters(df.select((F.col("id") % 7).alias("k")), "k", min_share=1e-9).collect()
    n = sum(r["cnt"] for r in out)
    assert sum(r["share"] for r in out) == pytest.approx(1.0, rel=1e-12)
    assert all(r["share"] == r["cnt"] / n for r in out)


def _check_bm25_score(df):
    text = F.concat_ws(
        " ",
        F.array_repeat(F.lit("w"), (F.col("id") % 5 + 1).cast("int")),
        F.when(F.col("id") % 3 == 0, F.lit("x")),
    )
    rows = [(r["t"], r["bm25"]) for r in pj.bm25_score(df.select(text.alias("t")), "t", "w x").collect()]
    want = _bm25([t for t, _ in rows], ["w", "x"])
    assert [s for _, s in rows] == pytest.approx(want, rel=1e-9)


_STATISTICS = {
    "z_score": _check_z_score,
    "softmax": _check_softmax,
    "winsorize": _check_winsorize,
    "robust_scale": _check_robust_scale,
    "min_max_scale": _check_min_max_scale,
    "heavy_hitters": _check_heavy_hitters,
    "bm25_score": _check_bm25_score,
}


@pytest.mark.parametrize("verb", list(_STATISTICS))
def test_column_statistic_on_nondeterministic_input(spark, verb):
    """A verb that attaches a whole-column statistic to its rows reads
    one run of its input: the output equals the serial computation over
    the rows it returned.  ``v`` is unique per row (``v = id``)."""
    df = _coin_filtered(spark).select("id", F.col("id").cast("double").alias("v"))
    _STATISTICS[verb](df)


_FACTORIZE = {
    "factorize_columns": lambda df: pj.factorize_columns(df, "s"),
    "label_encode": lambda df: pj.label_encode(df, "s", order_by="id"),
}


@pytest.mark.parametrize("verb", list(_FACTORIZE))
def test_factorize_on_nondeterministic_input(spark, verb):
    """The codes and the rows read one run of the input: on unique
    string values filtered by a coin flip that differs on every read,
    every row's code is its value's rank among the values returned
    (sorted order and first-appearance order agree here)."""
    df = _coin_filtered(spark).select("id", F.format_string("s%04d", "id").alias("s"))
    rows = [(r["s"], r["s_enc"]) for r in _FACTORIZE[verb](df).collect()]
    assert rows
    rank = {s: i for i, s in enumerate(sorted(s for s, _ in rows))}
    assert all(code == rank[s] for s, code in rows)


def test_factorize_columns_runs_upstream_once(spark):
    df, acc = _counted(spark, 30)
    out = pj.factorize_columns(df, ["grp", "id"])
    assert len(out.collect()) == 30
    assert acc.value == 30


def _span_text(i):
    """A shared 5-token prefix, 5 tokens shared by the ids with the same
    ``i % 7`` and 5 tokens of the doc's own: with ``k=5`` every doc has
    duplicated spans (so every doc of the run shows up in
    ``duplicated_spans``) and spans of its own."""
    return " ".join(
        ["alpha", "beta", "gamma", "delta", "epsilon"]
        + [f"{t}{i % 7}" for t in "vwxyz"]
        + [f"{t}{i}" for t in "pqrst"]
    )


def _own_text(i):
    """Eight tokens no other id shares: only an exact copy collides."""
    return " ".join(f"{t}{i}" for t in "abcdefgh")


def _dedupe_against_evens(spark, df):
    """``dedupe_against`` with a reference holding exact copies of the
    even ids' texts (under other ids)."""
    ref = spark.createDataFrame(
        [(10_000 + i, _own_text(i)) for i in range(0, 400, 2)], "doc_id long, text string"
    )
    return pj.dedupe_against(df, ref, "doc_id", "text")


_DEDUP_VERBS = {
    "duplicated_spans": (
        _span_text, lambda spark, df: pj.duplicated_spans(df, "doc_id", "text", k=5)
    ),
    "dup_span_fraction": (
        _span_text, lambda spark, df: pj.dup_span_fraction(df, "doc_id", "text", k=5)
    ),
    "remove_duplicated_spans": (
        _span_text, lambda spark, df: pj.remove_duplicated_spans(df, "doc_id", "text", k=5)
    ),
    "dedupe_against": (_own_text, _dedupe_against_evens),
}


@pytest.mark.parametrize("verb", list(_DEDUP_VERBS))
def test_dedup_verb_on_nondeterministic_input(spark, verb):
    """A dedup verb that reads its input more than once reads one run of
    it: on 400 docs filtered by a coin flip that differs on every read,
    the output equals the verb run on exactly the docs that came back."""
    text, run = _DEDUP_VERBS[verb]
    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(400)], "doc_id long, text string"
    ).filter(_coin()("doc_id"))
    got = sorted(map(tuple, run(spark, docs).collect()), key=repr)
    ids = sorted({r[0] for r in got})
    assert ids
    back = spark.createDataFrame([(i, text(i)) for i in ids], "doc_id long, text string")
    assert got == sorted(map(tuple, run(spark, back).collect()), key=repr)


def _components(edges):
    """The connected components of ``edges`` as a set of frozensets."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups = {}
    for x in list(parent):
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values()}


@pytest.mark.parametrize("mode", ["all", "star"])
def test_lsh_pairs_equal_band_table_self_join(spark, mode):
    """``minhash_lsh_pairs`` emits the pairs of a self-join of
    ``minhash_band_buckets`` on (band, key), the table ``dedupe_against``
    and ``streaming_dedupe_near`` probe: every pair in ``mode='all'``,
    the same connected components in ``mode='star'``."""
    rows = []
    for i in range(60):
        toks = [f"w{i % 10}_{j}" for j in range(12)]
        if i >= 20:
            toks[i % 12] = f"x{i}"
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_1"], r["id_2"])
        for r in pj.minhash_lsh_pairs(docs, "doc_id", "text", mode=mode).collect()
    }
    b = pj.minhash_band_buckets(docs, "doc_id", "text")
    x, y = b.alias("x"), b.alias("y")
    joined = {
        (r[0], r[1])
        for r in x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select("x.doc_id", "y.doc_id")
        .collect()
    }
    assert joined
    if mode == "all":
        assert pairs == joined
    else:
        assert _components(pairs) == _components(joined)


def _coin_ids(spark, keep=()):
    """``id`` over 2000 ids in 4 ordered partitions, filtered by a coin
    flip that differs on every read; the ids in ``keep`` always pass."""
    return spark.range(2000, numPartitions=4).filter(
        _coin()("id") | F.col("id").isin(list(keep))
    )


def _check_select_rows_last(spark):
    got = [r["id"] for r in pj.select_rows(_coin_ids(spark, keep=[1999]), -1).collect()]
    assert got == [1999]


def _check_move_to_end(spark):
    df = _coin_ids(spark, keep=[0, 1999])
    got = [r["id"] for r in pj.move(df, [0, -1], position="after", axis=0).collect()]
    assert got[-2:] == [0, 1999]
    assert got[:-2] == sorted(got[:-2]) and 0 not in got[:-2]


def _check_drop_constant_columns(spark):
    import os

    from pyspark.sql.types import IntegerType

    bit = F.udf(lambda _: os.urandom(1)[0] & 1, IntegerType()).asNondeterministic()
    df = spark.range(2).select(*[bit(F.col("id") + i).alias(f"c{i}") for i in range(16)])
    rows = pj.drop_constant_columns(df).collect()
    assert len(rows) == 2
    assert all(rows[0][c] != rows[1][c] for c in rows[0].asDict())


def _check_row_to_names(spark):
    df = _coin_ids(spark).select("id", (F.col("id") * 10).alias("v"))
    out = pj.row_to_names(df, [0, 1, 2, 3], order_by="id")
    (name,) = [c for c in out.columns if c != "id"]
    promoted = [int(x) // 10 for x in name.split("_")]
    assert sorted(r["id"] for r in out.collect())[:4] == promoted


_POSITIONAL = {
    "select_rows": _check_select_rows_last,
    "move": _check_move_to_end,
    "drop_constant_columns": _check_drop_constant_columns,
    "row_to_names": _check_row_to_names,
}


@pytest.mark.parametrize("verb", list(_POSITIONAL))
def test_column_verb_on_nondeterministic_input(spark, verb):
    """A verb that reads its input before it can plan builds its output
    from the run it read: the row count behind a negative position, the
    constant columns and the promoted rows all belong to the rows that
    come back."""
    _POSITIONAL[verb](spark)


def _docs_with_label(df):
    """``_counted_docs`` plus a two-class ``lang``.  The label can never
    be null, so the optimizer drops ``nb_train``'s null-label filter: a
    filter on a column derived from the counting UDF would be pushed
    below the shuffle and call the UDF twice per row in one run."""
    return df.withColumn("lang", F.when(F.col("text").endswith("g1"), "a").otherwise("b"))


def _nb_model(spark):
    """A Naive Bayes model trained on a replay-stable frame of the three
    ``_counted_docs`` bodies."""
    train = spark.createDataFrame(
        [(f"alpha beta gamma delta epsilon g{i % 3}", f"g{i % 3}") for i in range(9)],
        "text string, lang string",
    )
    return pj.nb_train(train, "text", "lang")


_CORPUS_MODEL = {
    "hashed_tfidf": lambda spark, df: pj.hashed_tfidf(df, "text", "doc_id", dim=16),
    "dsir_weights": lambda spark, df: pj.dsir_weights(
        df,
        spark.createDataFrame([("alpha beta gamma g1",)], "text string"),
        "text",
        "doc_id",
    ),
    "nb_train": lambda spark, df: pj.nb_train(_docs_with_label(df), "text", "lang"),
    "nb_score": lambda spark, df: pj.nb_score(df, _nb_model(spark), "text", "doc_id"),
    "top_collocations": lambda spark, df: pj.top_collocations(df, "text", k=5, min_count=1),
    "bloom_dedupe_against": lambda spark, df: pj.bloom_dedupe_against(
        df, spark.range(12).select(F.col("id").alias("doc_id")), "doc_id"
    ),
}


@pytest.mark.parametrize("verb", sorted(_CORPUS_MODEL))
def test_corpus_model_verb_runs_upstream_once(spark, verb):
    """A corpus-model verb that reads its input in more than one branch,
    or reads data before it can plan, reads one run of the upstream:
    its output equals the same verb on a replay-stable frame of the
    same rows."""
    df, acc = _counted_docs(spark, 30)
    got = sorted(map(tuple, _CORPUS_MODEL[verb](spark, df).collect()), key=repr)
    assert acc.value == 30
    plain = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon g{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    assert got == sorted(map(tuple, _CORPUS_MODEL[verb](spark, plain).collect()), key=repr)


def test_mix_corpora_runs_upstream_once(spark):
    """The per-source count is a probe, and the sample is drawn from the
    probed frame.  The counting UDF is marked nondeterministic here, so
    the source filter stays above it: pushed below the shuffle, the
    filter would call a deterministic UDF twice per row in one run."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    k = F.udf(tick, "long").asNondeterministic()("id")
    df = spark.range(30, numPartitions=2).repartition(3).select(k.alias("doc_id"))
    plain = spark.range(30).select(F.col("id").alias("doc_id"))

    def mix(frame):
        frame = frame.withColumn("grp", F.concat(F.lit("g"), (F.col("doc_id") % 3).cast("string")))
        out = pj.mix_corpora(frame, "grp", "doc_id", {"g0": 0.5, "g1": 0.5})
        return sorted(r["doc_id"] for r in out.collect())

    got = mix(df)
    assert acc.value == 30
    assert got == mix(plain)


def test_bloom_dedupe_against_runs_reference_once(spark):
    """With ``exact=True`` the bitmap (and its sizing count) and the
    verify anti-join read one run of the reference."""
    ref, acc = _counted_docs(spark, 12)
    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    got = sorted(r["doc_id"] for r in pj.bloom_dedupe_against(docs, ref, "doc_id").collect())
    assert got == list(range(12, 30))
    assert acc.value == 12


def _model_text(i):
    """Two classes of vocabulary plus tokens shared by the ids with the
    same ``i % 5``, so document frequencies, gram buckets and class
    scores all depend on which docs are in the run."""
    cls = ["red", "blue"][i % 2]
    return " ".join([f"{cls}{j}" for j in range(i % 4 + 1)] + [f"s{i % 5}", f"u{i}"])


def _nb_score_two_class(spark, df):
    train = spark.createDataFrame(
        [(_model_text(i), ["red", "blue"][i % 2]) for i in range(40)],
        "text string, lang string",
    )
    model = pj.nb_train(train, "text", "lang")
    return pj.nb_score(df, model, "text", "doc_id", keep_scores=True)


_DIVERGENT = {
    "hashed_tfidf": lambda spark, df: pj.hashed_tfidf(df, "text", "doc_id", dim=32),
    "dsir_weights": lambda spark, df: pj.dsir_weights(
        df,
        spark.createDataFrame([(_model_text(i),) for i in range(0, 40, 3)], "text string"),
        "text",
        "doc_id",
        num_buckets=64,
    ),
    "nb_score": _nb_score_two_class,
}


@pytest.mark.parametrize("verb", list(_DIVERGENT))
def test_corpus_model_verb_on_nondeterministic_input(spark, verb):
    """On 400 docs filtered by a coin flip that differs on every read,
    the output equals the verb run on exactly the docs that came back."""
    run = _DIVERGENT[verb]
    docs = spark.createDataFrame(
        [(i, _model_text(i)) for i in range(400)], "doc_id long, text string"
    ).filter(_coin()("doc_id"))
    got = sorted(map(tuple, run(spark, docs).collect()), key=repr)
    ids = sorted({r[0] for r in got})
    assert ids
    back = spark.createDataFrame([(i, _model_text(i)) for i in ids], "doc_id long, text string")
    assert got == sorted(map(tuple, run(spark, back).collect()), key=repr)
