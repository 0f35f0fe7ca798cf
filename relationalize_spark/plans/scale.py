"""Scale utilities: skew mitigation and shuffle-free co-located joins.

AQE handles most skew at runtime (splitting oversized partitions in
sort-merge joins); these helpers cover the cases it can't:

- ``salted_count_distinct``: COUNT(DISTINCT v) per key shuffles every
  (key, v) pair to one reducer per key — a single hot key melts one
  task. Salting by hash(value) splits each key across N reducers and
  a cheap second phase sums the per-bucket distinct counts (correct
  because a value's bucket is a function of the value: no double
  counting across buckets).
- ``replicated_skew_join``: broadcast is impossible when the build
  side is large AND a probe key is hot. Replicate the build side N
  ways and route each probe row to a deterministic replica, so the
  hot key's rows spread over N tasks.
- ``write_bucketed`` / co-located joins: pre-shuffle both tables into
  the same bucket layout once at write time; every subsequent join or
  aggregation on the bucket key runs with NO exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt__"


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the
    cluster's default parallelism) ONLY if it currently has fewer
    partitions. Compute-heavy per-row operators (shingling, MinHash
    signatures, SimHash, vector math) otherwise inherit the scan's
    partitioning — and a small parquet file is one row group, i.e. ONE
    task hogging one core while the rest idle. At real scale inputs
    already exceed the threshold and this is a no-op (checking
    partition count is plan metadata, no job).

    ``key``: repartition by hash of this high-cardinality column
    instead of round-robin. A keyless ``repartition(n)`` first pays a
    local sort of its input (``spark.sql.execution.sortBeforeRepartition``,
    on by default since SPARK-23207, so retried tasks reproduce the
    same row-to-partition assignment); hashing a deterministic key
    needs no such sort AND is retry-safe by construction. Measured on
    the r11 bench (q01, 600k-row single-row-group scan): keyed 0.78 s
    vs round-robin 0.85 s vs unpartitioned 1.28 s. Only pass columns
    with many distinct values per the skew guidance (a low-cardinality
    key would hash-collide into few partitions)."""
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    if key is not None:
        return df.repartition(min_partitions, key)
    return df.repartition(min_partitions)


#: Default fanout sizing for iterative drivers (Lloyd's, gradient
#: descent): one task comfortably handles ~64k rows when the per-task
#: work is a vectorized matmul / expression fold plus a bounded
#: partial aggregate. See ``right_size_partitions``.
ROWS_PER_TASK = 65_536


def right_size_partitions(
    df: DataFrame, n_rows: int, rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """Partition ``df`` to ``clamp(ceil(n_rows / rows_per_task), 1,
    defaultParallelism)``: ``repartition`` up when the source
    under-splits, ``coalesce`` down (shuffle-free) when a tiny frame
    is fanned too wide. The complement of :func:`ensure_parallelism`
    for ITERATED frames: an iterative driver (k-means, GD) re-reads
    the same persisted frame max_iter times, so paying 2x
    defaultParallelism task launches per iteration for a few hundred
    rows dominates the fit (measured r11-opt: 0.8-1.1 s/Lloyd's
    iteration on 500 vectors at local[32]; ~0.15 s right-sized). At
    real scale ``n_rows / rows_per_task`` exceeds the core count and
    the clamp keeps every core busy exactly as before. Only
    result-neutral when cross-row aggregation is order-free (BIGINT
    lattice sums) — which every replayable iterative operator in this
    repo guarantees."""
    target = max(
        1,
        min(
            df.sparkSession.sparkContext.defaultParallelism,
            -(-n_rows // rows_per_task),
        ),
    )
    current = df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    if current > target:
        return df.coalesce(target)
    return df


def salted_count_distinct(
    df: DataFrame,
    key: str,
    value: str,
    buckets: int = 16,
) -> DataFrame:
    """Skew-proof COUNT(DISTINCT value) GROUP BY key, two-phase."""
    salted = df.withColumn(_SALT, F.pmod(F.xxhash64(F.col(value)), F.lit(buckets)))
    partial = salted.groupBy(key, _SALT).agg(
        F.countDistinct(value).alias("__partial__")
    )
    return partial.groupBy(key).agg(
        F.sum("__partial__").alias(f"n_distinct_{value}")
    )


def replicated_skew_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    replicas: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the right side replicated ``replicas`` ways.

    Each left row picks one replica deterministically (hash of its
    full content), so rows of a hot key land on ``replicas`` different
    reducers instead of one. Output equals the plain join; cost is a
    ``replicas``-times larger right shuffle — use when the right side
    is small-ish but above broadcast size and the left is skewed.

    Only left-preserving joins are allowed: with the right side
    replicated, an unmatched right row would be emitted once per
    replica under right/full outer semantics.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(
            f"replicated_skew_join supports {sorted(allowed)}, got {how!r}: "
            "right/full outer would duplicate unmatched right rows "
            "once per replica"
        )
    keys = [on] if isinstance(on, str) else list(on)
    row_hash = F.xxhash64(*[F.col(c) for c in left.columns])
    l = left.withColumn(_SALT, F.pmod(row_hash, F.lit(replicas)))
    r = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(replicas).select(
                F.col("id").cast("int").alias(_SALT)
            )
        )
    )
    joined = l.join(r, keys + [_SALT], how)
    return joined.drop(_SALT)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist with a fixed bucket layout (hash-partitioned files +
    metastore metadata). Joins/aggregations between tables bucketed on
    the same key and count read with zero exchange."""
    spark = df.sparkSession
    if mode == "overwrite":
        # saveAsTable(overwrite) still fails with LOCATION_ALREADY_EXISTS
        # when the warehouse directory survives from a session whose
        # metastore (in-memory catalog) is gone; drop both explicitly
        # so re-runs are idempotent.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        location = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        import shutil

        shutil.rmtree(f"{location}/{table.lower()}", ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
