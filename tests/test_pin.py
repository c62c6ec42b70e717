"""The pin policy (pyjanitor_spark/utils/pin.py): every checkpoint the
library takes goes through ``pin``, and a deployment that sets
``SparkContext.setCheckpointDir`` gets durable pins everywhere."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pyjanitor_spark"
)


def test_checkpoint_calls_only_in_pin_module():
    """A checkpoint call anywhere else would be a second pin policy.
    Streaming's ``checkpointLocation`` option is not a call and does
    not match."""
    call = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    allowed = os.path.join(PKG, "utils", "pin.py")
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if call.search(line):
                        rel = os.path.relpath(path, PKG)
                        offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, "checkpoint outside utils/pin.py:\n" + "\n".join(offenders)


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
import random
from pyspark.sql import functions as F
from pyjanitor_spark.utils.pin import pin
draw = F.udf(lambda _: random.random(), "double").asNondeterministic()
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
