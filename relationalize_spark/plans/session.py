"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; on a real cluster the same
settings hold except parallelism knobs, which AQE re-plans at runtime
(coalescing small shuffle partitions, splitting skewed ones), so the
static ``shuffle.partitions`` value only sets the *upper bound* of
initial tasks.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app: str = "relationalize-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
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
