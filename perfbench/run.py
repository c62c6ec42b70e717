"""pyjanitor_spark end-to-end benchmark.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 25 --trace 0

Run from the root of a source checkout.  One run:

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench_cache/``; never timed);
2. starts a set-up probe and the worker together, each a fresh process
   with a fresh Spark session (``setup_s`` is the median of the two
   set-ups, so it is the set-up time of two sessions started at once;
   the probe must have exited before the worker starts timing);
3. the worker warms up with one untimed operation on a smaller input
   (``WARMUP_SIZES``), then times
   ``round(--seconds / OP_SECONDS)`` operations (about ``--seconds`` of
   operation time on a 4-vCPU machine), verifying every output against
   the ground truth; ``cpu_s`` is the median over them of the CPU
   seconds the whole process tree spent in one operation, the JVM's JIT
   compiler threads excluded (``procs.tree_cpu_s``);
4. prints a human-readable report and, as the last line, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}`` holding the
   end-to-end metrics (``--trace 0``) or the per-layer metrics of a
   traced run (``--trace 1``).

Peak RSS and CPU time are taken over the worker's whole process tree
(Python driver, JVM, Python workers).  Scratch files live under
``.perfbench_work/`` and
are removed at the end; a traced run keeps its spans and per-layer JSON
under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402

# input size per workload: documents for curation, lineitem rows for wrangle
SIZES = {"curation": 1000, "wrangle": 200_000}
# input size of the untimed warm-up operation: a smaller input of the same
# shape loads the same classes, compiles the same plans and starts the
# Python workers at a fraction of the cost
WARMUP_SIZES = {"curation": 100, "wrangle": 200_000}
# seconds one timed operation takes on a 4-vCPU machine: a run times
# round(--seconds / OP_SECONDS) operations, a fixed count, so that which
# operations are timed (and where they sit on the JIT warm-up curve) does
# not depend on how busy the host is
OP_SECONDS = {"curation": 12.5, "wrangle": 7.5}
RUN_TIMEOUT_S = 170

# on a shared host the wall time of an operation swings with the load of
# other tenants far more than its CPU time does, so the bounded pipeline
# metric is CPU time; wall time, throughput and peak RSS are reported in
# the traced run (workload.*)
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

_SECONDS = ("session.start_s", "session.import_s", "session.first_job_s")
_CALLS = (
    "sources.read_table", "text_analysis.language_id", "text_analysis.quality_score",
    "text_analysis.gopher_repetition", "text_analysis.assign_packs", "dedup.dedupe_exact",
    "dedup.dedupe_near", "dedup.contamination_score", "sampling.split_train_holdout",
    "clean_names.clean_names", "filters.filter_date", "filters.case_when", "missing.coalesce",
    "math.apply_math", "groupby.groupby_agg", "groupby.groupby_topk", "joins.conditional_join",
    "reshape.pivot_longer", "reshape.pivot_wider", "complete.complete", "sinks.write_parquet",
)
_EAGER = (
    "text_analysis.assign_packs", "dedup.dedupe_near", "joins.conditional_join",
    "reshape.pivot_wider",
)
# Spark counters of the steps that launch jobs, per step job group
_STEP_COUNTERS = {
    "tasks": "count", "task_wait_ms": "ms", "executor_run_ms": "ms",
    "executor_cpu_ms": "ms", "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
}
PER_LAYER = {
    **{k: "s" for k in _SECONDS},
    **{f"{k}.call_s": "s" for k in _CALLS},
    **{f"{k}.eager_jobs": "count" for k in _EAGER},
    "spark.sinks.write_parquet.jobs": "count",
    **{f"spark.{s}.{k}": u for s in (*_EAGER, "sinks.write_parquet") for k, u in _STEP_COUNTERS.items()},
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified": "count",
    "dedup.pair_yield": "fraction",
    "joins.conditional_join.rows_out": "rows",
    "complete.complete.rows_out": "rows",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "plans.shuffles": "count",
    "plans.broadcast_joins": "count",
    "plans.codegen_stages": "count",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_wait_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "workload.wall_s": "s",
    "workload.rows_per_s": "rows/s",
    "workload.peak_rss_mb": "MB",
    "workload.traced_wall_s": "s",
    "workload.trace_overhead_s": "s",
    "workload.dup_removed_frac": "fraction",
    "workload.unique_kept_frac": "fraction",
    "workload.failed_frac": "fraction",
}


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.peak = max(self.peak, procs.tree_rss_bytes(self.pid))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def spawn_worker(args: list[str], env: dict) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--spawn-epoch", repr(time.time()), *args]
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)


def worker_result(proc: subprocess.Popen, timeout: float) -> dict:
    """Wait for a worker to exit and return its JSON result line."""
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        procs.kill_tree(proc.pid)
        proc.communicate()
        raise RuntimeError(f"worker timed out after {timeout:.0f} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker exited with {proc.returncode}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyjanitor_spark", "__init__.py")):
        print("run from the root of a pyjanitor_spark checkout", file=sys.stderr)
        return 2
    t_start = time.time()
    import gen

    size = SIZES[a.workload]
    data = gen.ensure_inputs(os.path.join(root, ".perfbench_cache"), a.workload, a.seed, size)
    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    warm = gen.ensure_inputs(os.path.join(root, ".perfbench_cache"), a.workload, a.seed,
                             WARMUP_SIZES[a.workload])
    common = ["--workload", a.workload, "--data", data, "--warm-data", warm]
    probe = spawn_worker([*common, "--work", os.path.join(work, "probe"), "--setup-only"], env)
    n_ops = max(1, round(a.seconds / OP_SECONDS[a.workload]))
    worker = spawn_worker([*common, "--work", os.path.join(work, "main"),
                           "--ops", str(n_ops), "--trace", str(a.trace)], env)
    sampler = RssSampler(worker.pid)
    sampler.start()
    try:
        setups = [worker_result(probe, timeout=90)["setup_s"]]
        probe_end = time.time()
        res = worker_result(worker, timeout=RUN_TIMEOUT_S - (time.time() - t_start))
        setups.append(res["setup_s"])
        if probe_end > res["timed_start"]:
            res["errors"].append("the set-up probe was still running when timing started")
        if a.trace:
            keep = os.path.join(root, ".perfbench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "main", "spans.json"),
                        os.path.join(keep, f"{a.workload}-{a.seed}-spans.json"))
    finally:
        sampler.stop()
        for proc in (probe, worker):
            if proc.poll() is None:
                procs.kill_tree(proc.pid)
                proc.communicate()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    e2e = {"setup_s": statistics.median(setups), "cpu_s": res["cpu_s"]}
    wall = {"wall_s": res["wall_s"], "rows_per_s": res["rows_per_s"],
            "peak_rss_mb": sampler.peak / 2**20}
    correct = failed == 0 and not res["errors"] and attempted > 0
    print(f"workload={a.workload} seed={a.seed} input_rows={size} attempted={attempted} "
          f"failed={failed} setups_s={[round(s, 3) for s in setups]} "
          f"op_walls_s={[round(w, 3) for w in res['walls']]} "
          f"op_cpus_s={[round(c, 3) for c in res['cpus']]} "
          f"phases_s={ {k: round(v, 3) for k, v in res['session'].items()} }")
    for name, xs in (("cpu_s", res["cpus"]), ("wall_s", res["walls"])):
        if xs:
            q1, med, q3 = (statistics.quantiles(xs, n=4, method="inclusive")
                           if len(xs) > 1 else xs * 3)
            print(f"op {name} over {len(xs)} timed untraced operation(s): "
                  f"q1 {q1:.4g}  median {med:.4g}  q3 {q3:.4g}")
    for err in res["errors"]:
        print(f"error: {err}")
    units = {**END_TO_END, "wall_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
    for k, v in {**e2e, **wall, **res["quality"], "failed_frac": failed / max(1, attempted)}.items():
        print(f"  {k:<20} {v:.6g} {units.get(k, 'fraction')}")

    if a.trace:
        layers = {
            **res["layers"],
            **dict(zip(_SECONDS, (res["session"][k.split(".")[1]] for k in _SECONDS))),
            "sinks.bytes_written": res["sink"]["bytes_written"],
            "sinks.files_written": res["sink"]["files_written"],
            **{f"workload.{k}": v for k, v in wall.items()},
            "workload.traced_wall_s": res["traced_wall_s"],
            "workload.trace_overhead_s": res["traced_wall_s"] - res["wall_s"],
            "workload.failed_frac": failed / max(1, attempted),
            **{f"workload.{k}": v for k, v in res["quality"].items()},
        }
        with open(os.path.join(root, ".perfbench_out", f"{a.workload}-{a.seed}-layers.json"), "w") as fh:
            json.dump(layers, fh, indent=1, sort_keys=True)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
