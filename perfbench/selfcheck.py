"""Self-checks of the benchmark itself, at the smallest input sizes.

    python3 perfbench/selfcheck.py

Run from the root of the checkout (it reads ``BENCHMARK.json`` there).
Checks that

1. the same seed gives identical input checksums and another seed
   different ones, for every workload's generator;
2. every metric name matches ``[A-Za-z0-9_.-]+`` and the workloads and
   metrics (names and units) agree with ``BENCHMARK.json``;
3. the event-log parser gives the expected counts on a tiny recorded
   Spark event log (``testdata/eventlog_tiny.jsonl``).

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from tracing import read_event_log  # noqa: E402

SMALLEST = {"curation": 60, "wrangle": 2000}

# recorded from a session start (two ungrouped jobs: 4 tasks, then 1) and
# two traced spans: "tiny/0" summed a 2-partition range (partial and
# final aggregate: 2 + 1 tasks), "tiny/1" counted a 4-partition range by
# key and repartitioned into 3 (4 + 4 + 3 tasks); the event log keeps
# only the events and fields the parser reads
EVENT_LOG_EXPECTED = {
    "": {"jobs": 2, "stages": 2, "tasks": 5},
    "tiny/0": {"jobs": 1, "stages": 2, "tasks": 3, "records_read": 1000},
    "tiny/1": {"jobs": 1, "stages": 3, "tasks": 11},
}


def check_seeds(tmp: str) -> list[str]:
    problems = []
    for wl, size in SMALLEST.items():
        sums = []
        for k, seed in enumerate((1, 1, 2)):
            path = gen.ensure_inputs(os.path.join(tmp, str(k)), wl, seed, size)
            sums.append(gen.input_checksum(path))
        if sums[0] != sums[1]:
            problems.append(f"{wl}: the same seed gave different inputs")
        if sums[0] == sums[2]:
            problems.append(f"{wl}: different seeds gave identical inputs")
    return problems


def check_names(bench_path: str) -> list[str]:
    problems = []
    with open(bench_path) as fh:
        bench = json.load(fh)
    ok = re.compile(r"[A-Za-z0-9_.-]+")
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        if not ok.fullmatch(name):
            problems.append(f"bad metric name {name!r}")
    for key, ours in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        theirs = {m["name"]: m["unit"] for m in bench[key]}
        if theirs != ours:
            diff = sorted(set(theirs.items()) ^ set(ours.items()))
            problems.append(f"{key} disagrees with BENCHMARK.json: {diff}")
    if sorted(w["name"] for w in bench["workloads"]) != sorted(run.SIZES):
        problems.append("workloads disagree with BENCHMARK.json")
    return problems


def check_event_log() -> list[str]:
    groups = read_event_log(os.path.join(HERE, "testdata", "eventlog_tiny.jsonl"))
    problems = []
    for group, want in EVENT_LOG_EXPECTED.items():
        got = groups.get(group, {})
        for k, v in want.items():
            if got.get(k) != v:
                problems.append(f"event log {group}.{k}: got {got.get(k)}, expected {v}")
    if groups["tiny/1"]["shuffle_write_bytes"] <= 0 or groups["tiny/1"]["executor_run_ms"] < 0:
        problems.append("event log tiny/1: shuffle bytes or run time not parsed")
    return problems


def main() -> int:
    tmp = os.path.join(os.getcwd(), ".perfbench_work", "selfcheck")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        problems = check_seeds(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    problems += check_names(os.path.join(os.getcwd(), "BENCHMARK.json"))
    problems += check_event_log()
    for p in problems:
        print(f"FAIL {p}")
    print("selfcheck ok" if not problems else f"selfcheck: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
