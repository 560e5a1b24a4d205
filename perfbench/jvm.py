"""Start, measure and stop the Spark driver JVM of one benchmark process."""

from __future__ import annotations

import time

SHUFFLE_PARTITIONS = 8


def start_spark(cores: int, extra_conf: dict[str, str] | None = None):
    """Cold set-up as a user pays it: ``get_spark`` then a first trivial job.
    Returns the session and the set-up timings."""
    t0 = time.perf_counter()
    from pgs_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.ui.showConsoleProgress": "false", **(extra_conf or {})},
    )
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0, "session.first_job_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
