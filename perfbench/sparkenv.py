"""Session set-up shared by the runner and the set-up probe.

Everything the run, its Spark session and the JVM write goes under
the run's work directory inside the checkout (``PERFBENCH_WORK``):
Spark's local dirs, Python's and Java's temp dirs. The session comes
from the package's own factory, ``plans.session.get_spark``, on
``local[nproc]`` with a 1 GiB driver heap.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from relationalize_spark.plans import session

DRIVER_MEM = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def point_env_at(work: str) -> None:
    """Route every temp and scratch write of this process and the
    processes it starts (the JVM, set-up probes) into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PERFBENCH_WORK=work,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # -UsePerfData: no hsperfdata file in the system temp dir (the
        # MXBean counters the traced run reads do not need it)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )


def start_session(extra_conf: dict[str, str] | None = None) -> SparkSession:
    n = cores()
    conf = {"spark.ui.showConsoleProgress": "false"}
    conf.update(extra_conf or {})
    spark = session.get_spark(
        app="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop the session and wait for its JVM to exit (it exits when
    its stdin closes)."""
    gateway = SparkContext._gateway
    spark.stop()
    jvm_proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        jvm_proc.wait(timeout=60)
