"""Session lifetime, set-up and the closed timing loop."""

from __future__ import annotations

import os
import subprocess
import time

from . import stats
from .tracing import descendants

SETUPS = 3
#: a crawl_write job takes 8-17 s, longer than the timed loop; two jobs
#: halve the weight of one slow job in the median
MIN_JOBS = 2


def start_session(app: str, ui: bool):
    """``graby_spark.session.get_spark``'s session; with ``ui`` the same
    configuration plus the web UI, whose REST endpoint the traced run
    reads stage metrics from."""
    from pyspark.sql import SparkSession

    from graby_spark.session import get_spark

    if not ui:
        spark = get_spark(app_name=app)
    else:
        original = SparkSession.Builder.getOrCreate

        def with_ui(builder):
            builder.config("spark.ui.enabled", "true").config("spark.ui.port", "0")
            return original(builder)

        SparkSession.Builder.getOrCreate = with_ui
        try:
            spark = get_spark(app_name=app)
        finally:
            SparkSession.Builder.getOrCreate = original
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.05)


def set_up(wl, spark_start_s: float, count: int = SETUPS) -> tuple[float, list[float]]:
    """Set up ``wl``: materialize its input into fresh files ``count`` times,
    then run one untimed warm-up job over the last copy.  Returns the
    set-up time (session start + median materialization + warm-up job) and
    each materialization's seconds.  The session start and the warm-up
    happen once per process by nature; the median damps the noise of the
    part that repeats."""
    materialize = []
    for k in range(count):
        t0 = time.perf_counter()
        wl.materialize(k)
        materialize.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.job()
    warm_up = time.perf_counter() - t0
    return spark_start_s + stats.median(materialize) + warm_up, materialize


def timed_loop(wl, seconds: float) -> list[float]:
    """Run ``wl.job`` back to back until ``seconds`` have passed and at least
    :data:`MIN_JOBS` jobs ran.  Returns each job's wall time."""
    walls: list[float] = []
    started = time.perf_counter()
    while len(walls) < MIN_JOBS or time.perf_counter() - started < seconds:
        wl.drop_old_outputs()
        # write back what set-up and earlier jobs wrote, so that the disk
        # does not do it during this job
        os.sync()
        t0 = time.perf_counter()
        wl.job()
        walls.append(time.perf_counter() - t0)
    return walls
