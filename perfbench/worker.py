"""One benchmark process: start the session, run one workload for a
fixed number of timed operations, verify every output, and print one
JSON line.

Started by ``run.py``; ``--spawn-epoch`` is the wall-clock time at which
the parent started this process, so ``setup_s`` covers interpreter
start, session start, the library import and a first trivial job.
With ``--setup-only`` the process exits once set up.

In the traced run (``--trace 1``) Spark's event log is on, and the timed
operations alternate between traced (spans and job groups) and untraced;
the difference of their median walls is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procs  # noqa: E402
import session  # noqa: E402


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_op(spans, name, value) -> float:
    """Median over operations of ``value(span)`` summed over the spans
    called ``name`` in each operation."""
    by_op: dict = {}
    for s in spans:
        if s["name"] == name:
            by_op[s["op"]] = by_op.get(s["op"], 0.0) + value(s)
    return _median(list(by_op.values()))


def layer_metrics(spans, groups) -> dict:
    """Per-layer metrics from the spans and the per-group Spark counters:
    ``<span>.call_s``, ``<span>.eager_jobs`` and ``spark.<span>.<counter>``
    per span name, and the ``spark.<counter>`` totals summed over each
    operation's groups."""
    from tracing import COUNTERS

    zero = dict.fromkeys(COUNTERS, 0)
    out: dict = {}
    for name in sorted({s["name"] for s in spans}):
        out[f"{name}.call_s"] = _per_op(spans, name, lambda s: s["end"] - s["start"])
        for k in COUNTERS:
            out[f"spark.{name}.{k}"] = _per_op(
                spans, name, lambda s: groups.get(s["group"], zero)[k])
        out[f"{name}.eager_jobs"] = out[f"spark.{name}.jobs"]
    per_op: dict = {}
    for s in spans:
        acc = per_op.setdefault(s["op"], dict.fromkeys(COUNTERS, 0))
        for k in COUNTERS:
            acc[k] += groups.get(s["group"], zero)[k]
    for k in COUNTERS:
        out[f"spark.{k}"] = _median([v[k] for v in per_op.values()])
    out["spark.plan_ms"] = out.pop("spark.plan.call_s", 0.0) * 1000
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warm-data", required=True, help="inputs of the warm-up operation")
    ap.add_argument("--work", required=True)
    ap.add_argument("--ops", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-epoch", type=float, required=True)
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args(argv)

    event_dir = os.path.join(a.work, "events") if a.trace else None
    spark, phases = session.start(a.work, event_dir)
    setup_s = time.time() - a.spawn_epoch
    if a.setup_only:
        session.stop(spark)
        print(json.dumps({"setup_s": setup_s, **phases}))
        return 0

    from tracing import Tracer, read_event_log
    from workloads import FLOORS, WORKLOADS, Ctx, WrongOutput

    tracer = Tracer(spark, False, run_id=a.workload)
    wl = WORKLOADS[a.workload](Ctx(spark=spark, data=a.data, work=a.work, tracer=tracer))
    t0 = time.perf_counter()
    wl.prepare()
    warm = wl
    if a.warm_data != a.data:
        warm = WORKLOADS[a.workload](Ctx(spark=spark, data=a.warm_data, work=a.work, tracer=tracer))
        warm.prepare()
    t1 = time.perf_counter()

    attempted = failed = 0
    errors: list[str] = []
    done: list = []  # (op, wall_s, cpu_s, traced) of verified timed operations
    me = os.getpid()

    def run_op(i: int, timed: bool, traced: bool, w=wl) -> None:
        nonlocal attempted, failed
        attempted += timed
        tracer.enabled = traced
        c0 = procs.tree_cpu_s(me)
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=i):
                op = w.op(i)
            wall = time.perf_counter() - t0
            cpu = procs.tree_cpu_s(me) - c0
            tracer.enabled = False  # verification is not part of the op
            if timed:
                wl.check(i, op)
        except WrongOutput as e:
            failed += timed
            errors.append(f"op {i}: wrong output: {e}")
            return
        except Exception:  # an operation that raises counts as failed
            failed += timed
            errors.append(f"op {i}: {traceback.format_exc(limit=3)}")
            return
        finally:
            tracer.enabled = False
        if timed:
            done.append((op, wall, cpu, traced))

    run_op(-1, timed=False, traced=False, w=warm)  # warm-up: JIT, codegen caches, Python workers
    phases.update(prepare_s=t1 - t0, warmup_s=time.perf_counter() - t1)
    timed_start = time.time()
    for i in range(max(a.ops, 2 if a.trace else 1)):
        run_op(i, timed=True, traced=bool(a.trace) and i % 2 == 0)

    plain = [(op, w, c) for op, w, c, traced in done if not traced]
    walls = [w for _op, w, _c in plain]
    cpus = [c for _op, _w, c in plain]
    info = [op.info for op, _w, _c, _t in done]
    quality = {
        k: statistics.fmean([x[k] for x in info]) for k in FLOORS if info and k in info[0]
    }
    for k, v in quality.items():
        if v < FLOORS[k]:
            errors.append(f"run: {k} = {v:.4f} is below the floor {FLOORS[k]}")
    items = sum(op.items for op, _w, _c in plain)
    res = {
        "workload": a.workload,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "setup_s": setup_s,
        "timed_start": timed_start,
        "session": phases,
        "walls": walls,
        "wall_s": _median(walls),
        "cpus": cpus,
        "cpu_s": _median(cpus),
        "rows_per_s": items / sum(walls) if walls else 0.0,
        "quality": quality,
        "sink": {k: _median([x[k] for x in info]) for k in ("bytes_written", "files_written")},
    }

    if a.trace:
        try:
            extras = wl.trace_extras()
        except WrongOutput as e:
            extras = {}
            errors.append(f"run: {e}")
        app_id = spark.sparkContext.applicationId
        session.stop(spark)
        groups = read_event_log(os.path.join(event_dir, app_id))
        traced = [w for _op, w, _c, t in done if t]
        res["traced_wall_s"] = _median(traced)
        res["layers"] = {**layer_metrics(tracer.spans, groups), **extras}
        tracer.dump(os.path.join(a.work, "spans.json"))
    else:
        session.stop(spark)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
