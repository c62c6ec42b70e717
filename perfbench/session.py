"""The benchmark's Spark session, sized to the machine it runs on.

``local[nproc]`` with ``nproc`` shuffle partitions, a driver heap far
below the machine's memory, no UI and no console progress bars; every
scratch directory (Spark local dirs, JVM temp files, the optional event
log) lives under the run's own work directory.
"""

from __future__ import annotations

import os
import time

DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start(work: str, event_log_dir: str | None = None) -> tuple[object, dict]:
    """Start the session, import the library and run a first trivial job.

    Returns ``(spark, phases)`` with the seconds spent in each phase:
    ``start_s`` (JVM + session), ``import_s`` (``import pyjanitor_spark``)
    and ``first_job_s``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files of pyspark's gateway handshake and of both JVMs (the
    # spark-submit launcher and the driver) stay inside the work directory
    # compiler threads stay alive so their CPU time can be told apart
    # from the work's (``procs.tree_cpu_s``)
    jvm_opts = f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    n = nproc()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap makes peak RSS depend on the work, not on
        # when the collector chose to grow the heap
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} {jvm_opts}")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    import pyjanitor_spark  # noqa: F401

    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "import_s": t2 - t1, "first_job_s": t3 - t2}


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited (the JVM exits
    once its stdin, held by this process, is closed)."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)
