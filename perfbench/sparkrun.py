"""Start and stop the driver's Spark session inside the checkout.

Spark, the JVM and the package zip all write scratch files to the temp
directory; pointing ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's
``java.io.tmpdir`` at the benchmark's work directory keeps every write
inside the checkout. ``stop`` ends the JVM and waits for every process the
session started.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import time

from . import procmon


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(checkout: str, work: str) -> None:
    """Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # HotSpot writes its perf-counter file to /tmp whatever java.io.tmpdir says
    no_perf = "-XX:-UsePerfData"
    submit_opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    launcher_opts = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(nproc()),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_SUBMIT_OPTS=f"{submit_opts} -Djava.io.tmpdir={tmp} {no_perf}".strip(),
        SPARK_LAUNCHER_OPTS=f"{launcher_opts} {no_perf}".strip(),
        # executor-side Python workers import the benchmark's counting chain
        PYTHONPATH=os.pathsep.join(
            p for p in (checkout, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def start():
    """The program's own session factory on ``local[nproc]``; returns the
    session and its start time in seconds."""
    t0 = time.perf_counter()
    from dshackle_archive_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session, end the JVM, and wait for its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = procmon.descendants(os.getpid()) - {os.getpid()}
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = procmon.wait_gone(started, 20)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        procmon.wait_gone(left, 10)
