"""What the benchmark pins about the system under test, and how it
starts Spark.  Shared by the benchmark process and the dashboard
server process it launches.

The pins, each recorded in every run's output:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (``nproc``);
  the program otherwise defaults to ``local[32]``.
- ``SPARK_GRAFT_DRIVER_MEM`` = 2g, below physical RAM; the program's
  16g default can exceed it.
- ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside the run's work directory.
- ``PYTHONPATH`` = the checkout root, so Python workers can import the
  program's pandas UDFs whatever the working directory.
- ``spark.ui.showConsoleProgress`` off, the JVM's ``java.io.tmpdir`` in
  the work directory, no JVM perf-data file, and, in a traced run, an
  uncompressed single-file event log.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = "world_vaccination_coverage_etl_spark"
DRIVER_MEM = "2g"


def pin_env(work: str) -> dict[str, str]:
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PERFBENCH_WORK": work,
        # the JVM spark-submit runs first, to build the Spark JVM's command line
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pins)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pins


def event_log_dir() -> str:
    return os.path.join(os.environ["PERFBENCH_WORK"], "eventlog")


def start_spark(app_name: str, traced: bool):
    """The program's own session factory with the pins; returns the
    session and the seconds ``get_spark`` took (JVM launch included)."""
    from world_vaccination_coverage_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark(app_name, extra_conf=conf)
    return spark, time.time() - t0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM
    exits when its stdin closes, and takes its Python daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def op_span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


def write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)
