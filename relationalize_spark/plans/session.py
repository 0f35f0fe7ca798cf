"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; on a real cluster the same
settings hold except parallelism knobs, which AQE re-plans at runtime
(coalescing small shuffle partitions, splitting skewed ones), so the
static ``shuffle.partitions`` value only sets the *upper bound* of
initial tasks.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

_T = TypeVar("_T")
_R = TypeVar("_R")

#: Every multi-table sink maps its per-table calls over a driver thread
#: pool of this size (``each_table``). Most of a small table's Spark job
#: is driver latency (Catalyst analysis, job submission, file commit,
#: result transfer) that concurrent submission overlaps across tables:
#: Py4J releases the GIL during JVM calls, and the tables' jobs share
#: the executors. Measured on the 70-table wide-dynamic stream, same
#: session (BASELINE.md r8): steady per-batch 50.0 s serial -> 35.2 s
#: at 8 threads (1.42x; 16 threads no better — the residue is
#: executor-side job work plus lock-serialized analysis).
_WRITE_POOL_SIZE = 8


def get_spark(
    app: str = "relationalize-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A local or cluster session with the settings below; ``extra_conf``
    entries are applied last, so they override any of them.

    PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is off: with it on,
    every Column function walks the Python stack, tries to import
    IPython and makes about five extra py4j calls, which more than
    doubles the driver round trips of a dynamic-JSON micro-batch. Pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    to get call sites back in error messages. PySpark reads the flag
    once per process, from the session active when the first Column is
    built, so a session built some other way must set it before that
    happens for the setting to take effect.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    # Local mode packs every "executor" thread into the driver JVM, whose
    # default heap is 1g — N threads sharing 1g starves hash maps long
    # before the machine is full (observed: BytesToBytesMap OOM in the
    # MinHash verify join at ~50k docs on a 128 GiB box). Size the heap
    # like a real executor; on a cluster this setting is inert for
    # executors and merely gives the driver sane headroom. Only effective
    # for the process that launches the JVM (set before getOrCreate).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")

    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.driver.memory", mem)
        # Fix the heap at its max and fault its pages in at launch:
        # lazily-grown heaps stall mid-query in virtualized hosts
        # (observed: random 6-16 s single-query pauses with -Xmx16g).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast conversion — essential at 100 TB where static
        # estimates are wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Runtime Bloom-filter join pruning: when one side of a shuffle
        # join is selective, inject a bloom filter of its join keys into
        # the other side's scan so non-matching rows die at the source
        # instead of riding the shuffle. At 100 TB this is the difference
        # between shuffling the full fact table and shuffling the ~1%
        # that survives the dimension's predicate.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Arrow for any pandas UDF boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Dimension tables (region/nation/supplier/part at any SF that
        # fits) should broadcast rather than shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        # No per-Column call-site capture (see the docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one session conf for the scope of a ``with`` block, then put
    back what was there before, on success and on exception alike. A
    key that was not set explicitly is unset again, so it falls back
    to its default instead of being pinned to it."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def each_table(fn: Callable[[_T], _R], items: Iterable[_T]) -> Iterator[_R]:
    """Yield ``fn(item)`` for every item, in input order, with the calls
    running concurrently on a driver pool of ``_WRITE_POOL_SIZE``
    threads; every call is submitted at the first ``next()``.

    A failing call re-raises when its result is reached, after the pool
    has joined (calls already running finish, calls not yet started are
    dropped); ``close()`` on the iterator joins it the same way, so a
    caller that may stop early closes it in a ``finally``. Each call
    runs with the calling thread's local properties and job tags at
    that first ``next()`` (``pyspark.inheritable_thread_target``), so
    job groups, descriptions and scheduler pools reach its jobs."""
    items = list(items)
    if not items:
        return
    target = inheritable_thread_target(SparkSession.active())(fn)
    with ThreadPoolExecutor(max_workers=_WRITE_POOL_SIZE) as ex:
        yield from ex.map(target, items)
