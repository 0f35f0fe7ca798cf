"""Engine-replayable cardinality sketches.

q94 covers Spark's built-in approximate aggregates (HLL++,
DataSketches HLL, GK quantiles) — partial-aggregatable and the right
production tools, but their register layouts are engine-specific, so
the driver can only rows-check them. This module adds the classic
K-Minimum-Values sketch (Bar-Yossef et al. 2002) built from an
md5-derived 60-bit hash that EVERY SQL engine computes identically:
the whole sketch — the k minima themselves and the estimate — replays
bit-for-bit in DuckDB, giving the sketch family a full value oracle
(q126) alongside q94's declared rows-only row.

Estimator: with h uniform on [0, M) and m distinct values, the k-th
smallest hash h_(k) satisfies E[h_(k)/M] ~ k/(m+1); the standard
unbiased KMV estimate is ``(k-1) * M / h_(k)`` with relative error
~ 1/sqrt(k-2). When a group has fewer than k distinct values the
sketch IS the distinct set and the count is exact.

Scale shape: stage 1 dedups ``(group, hash)`` — an ordinary
partial-aggregated shuffle keyed by group+hash, never a per-group
collect of raw values; stage 2 takes the per-group k smallest via a
rank window keyed by group. Shuffle volume is O(distinct), output
O(groups x k). The sketches MERGE by construction (k smallest of a
union = k smallest of the per-sketch minima union), so shards built
independently combine without re-reading data — pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lattice import floor_lattice

#: Hash domain: 60 bits of md5, the largest md5 prefix that stays
#: exactly representable (and identically computable) as a signed
#: 64-bit integer in both Spark and DuckDB.
KMV_M = 2**60


def kmv_hash(value: Column) -> Column:
    """Uniform 60-bit hash on [0, 2^60): leading 15 hex chars of md5.
    DuckDB replay: ``CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(value), 1, 15), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    n_salts: int = 64,
) -> DataFrame:
    """Per-group KMV sketch of ``count distinct value_col``.

    Returns one row per group:
    ``(*group_cols, kmv_minima array<long>, kmv_n_distinct long,
    kmv_estimate double)`` — ``kmv_minima`` is the sorted k smallest
    distinct hashes (fewer when the group has < k distinct values, in
    which case the estimate is the exact count). NULL values are
    ignored (matching COUNT(DISTINCT) semantics).

    The per-group min-k is computed in two exact stages so no task
    ever ranks a whole group: stage A takes the k smallest within
    each of ``n_salts`` hash-derived buckets per group (task size ~
    distinct/n_salts), stage B takes the k smallest of the surviving
    ``<= n_salts * k`` candidates per group. min-k of per-bucket
    min-k equals the global min-k because a bucket's dropped elements
    are all larger than its kept k-th — same values as a single
    global window (pinned in tests), without the one-task-per-group
    window a low-cardinality ``group_cols`` would otherwise serialize
    on at 100 TB.
    """
    h = kmv_hash(F.col(value_col))
    dedup = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("__h__"))
        .distinct()
    )
    salt = F.pmod(F.col("__h__"), F.lit(n_salts))
    wa = Window.partitionBy(*group_cols, salt).orderBy("__h__")
    survivors = (
        dedup.withColumn("__rka__", F.row_number().over(wa))
        .where(F.col("__rka__") <= k)
        .drop("__rka__")
    )
    w = Window.partitionBy(*group_cols).orderBy("__h__")
    ranked = survivors.withColumn("__rk__", F.row_number().over(w)).where(
        F.col("__rk__") <= k
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("__h__")).alias("kmv_minima"),
        F.count(F.lit(1)).alias("__n_min__"),
    )
    kth = F.element_at("kmv_minima", k)
    estimate = F.when(
        F.col("__n_min__") < k, F.col("__n_min__").cast("double")
    ).otherwise(
        # kth is an exact md5-derived BIGINT so the quotient is
        # bit-identical everywhere and the lattice replays outright
        floor_lattice(F.lit(float(k - 1)) * F.lit(float(KMV_M)) / kth, 6)
    )
    return agg.select(
        *group_cols,
        "kmv_minima",
        F.col("__n_min__").cast("long").alias("kmv_n_distinct"),
        estimate.alias("kmv_estimate"),
    )


def kmv_merge(
    sketches: DataFrame,
    group_cols: list[str],
    k: int = 64,
    minima_col: str = "kmv_minima",
) -> DataFrame:
    """Combine per-shard sketches that share ``group_cols``: the union
    of minima, re-deduped, re-topped at k — equal by construction to
    the sketch of the union of the underlying data. Input rows only
    carry the k-element arrays, so merging S shards costs
    O(groups x k x S), independent of the data."""
    exploded = sketches.select(
        *group_cols, F.explode(minima_col).alias("__h__")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h__")
    ranked = exploded.withColumn("__rk__", F.row_number().over(w)).where(
        F.col("__rk__") <= k
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("__h__")).alias(minima_col),
        F.count(F.lit(1)).alias("__n_min__"),
    )
    kth = F.element_at(minima_col, k)
    estimate = F.when(
        F.col("__n_min__") < k, F.col("__n_min__").cast("double")
    ).otherwise(
        # kth is an exact md5-derived BIGINT so the quotient is
        # bit-identical everywhere and the lattice replays outright
        floor_lattice(F.lit(float(k - 1)) * F.lit(float(KMV_M)) / kth, 6)
    )
    return agg.select(
        *group_cols,
        minima_col,
        F.col("__n_min__").cast("long").alias("kmv_n_distinct"),
        estimate.alias("kmv_estimate"),
    )


def kmv_pairwise(
    sketches: DataFrame,
    group_col: str,
    k: int = 64,
    minima_col: str = "kmv_minima",
    n_col: str = "kmv_n_distinct",
    max_groups: int | None = 1024,
) -> DataFrame:
    """All ``a < b`` group pairs of one sketch frame with their
    overlap estimates — e.g. vocabulary overlap between document
    sources. The pair join carries only the k-element minima arrays
    (groups x k longs), so the quadratic pairing is over SKETCHES,
    never over data.

    The non-equi ``a < b`` join is a nested loop by design — fine for
    source-level sketch frames (S^2/2 pair rows), catastrophic if a
    caller passes per-document sketches. ``max_groups`` embeds a
    runtime guard in the plan: a broadcast 1-row count of the sketch
    frame is asserted ``<= max_groups`` before any pair row is built,
    so exceeding the documented pair budget fails loudly instead of
    launching an S^2 nested loop. Catalyst reuses the sketch
    aggregation exchange between the count and the join sides, so the
    guard adds no extra pass over the data. Pass ``max_groups=None``
    only when the cardinality is known-bounded by construction; for
    genuinely large S, pre-band the groups (e.g. join on an LSH band
    key) instead of raising the budget.
    """
    a = sketches.select(
        F.col(group_col).alias("a"),
        F.col(minima_col).alias("__ma__"),
        F.col(n_col).alias("__na__"),
    )
    if max_groups is not None:
        guard = sketches.agg(F.count(F.lit(1)).alias("__s__"))
        # The guard lives in a FILTER, not a projected column: Catalyst
        # prunes unprojected expressions (a bare assert_true column, or
        # anything a .count() doesn't need), but a filter must evaluate
        # for every row, so the raise fires under any terminal action.
        msg = F.concat(
            F.lit("kmv_pairwise: sketch frame has "),
            F.col("__s__"),
            F.lit(
                f" groups > max_groups={max_groups}; the a<b pairing is "
                "quadratic over groups. Pre-band the groups or raise "
                "max_groups explicitly."
            ),
        )
        a = (
            a.crossJoin(F.broadcast(guard))
            .where(
                F.when(F.col("__s__") <= max_groups, F.lit(True)).otherwise(
                    F.raise_error(msg).cast("boolean")
                )
            )
            .drop("__s__")
        )
    b = sketches.select(
        F.col(group_col).alias("b"),
        F.col(minima_col).alias("__mb__"),
        F.col(n_col).alias("__nb__"),
    )
    j = a.join(b, F.col("a") < F.col("b"))
    return j.select("a", "b", *_set_stat_cols(k))


def _set_stat_cols(k: int) -> list[Column]:
    """The three overlap-estimate columns over a joined frame carrying
    ``__ma__/__na__/__mb__/__nb__`` (Beyer et al. 2007): ``union_est``
    over the k smallest of the merged minima, ``jaccard_est`` as the
    share of those k in both sketches, ``intersection_est`` as their
    product; all exact when both sketches are exhaustive."""
    merged = F.array_sort(F.array_union("__ma__", "__mb__"))
    x = F.slice(merged, 1, k)
    in_both = lambda v: F.array_contains("__ma__", v) & F.array_contains(
        "__mb__", v
    )
    # Estimator branch: matches among the k smallest of the union (rho).
    inter_k = F.size(F.filter(x, in_both))
    # Exact branch: both sketches are exhaustive, so the merged union IS
    # A∪B and the intersection must be counted over ALL of it — |A∪B|
    # can reach 2k-2, and members ranked past k are still intersection.
    inter_full = F.size(F.filter(merged, in_both))
    exact = (F.col("__na__") < k) & (F.col("__nb__") < k)
    kth = F.element_at(x, k)
    # all inputs are exact integers or md5-derived BIGINTs, so every
    # latticed estimate is bit-identical in any engine
    union_est = F.when(exact, F.size(merged).cast("double")).otherwise(
        floor_lattice(F.lit(float(k - 1)) * F.lit(float(KMV_M)) / kth, 6)
    )
    jaccard = F.when(
        exact,
        floor_lattice(
            inter_full.cast("double") / F.greatest(F.size(merged), F.lit(1)), 6
        ),
    ).otherwise(floor_lattice(inter_k.cast("double") / F.lit(float(k)), 6))
    return [
        jaccard.alias("jaccard_est"),
        union_est.alias("union_est"),
        floor_lattice(jaccard * union_est, 6).alias("intersection_est"),
    ]
