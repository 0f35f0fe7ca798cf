"""Pre-flight skew diagnostics.

At 100 TB the difference between a join that finishes and one that
melts a reducer is usually ONE hot key. ``skew_report`` answers the
question to ask before shipping a shuffle: *how skewed is the key*.
It is cheap relative to the jobs it de-risks (one partial-aggregated
count).

The remediation toolkit lives next door in :mod:`plans.scale`
(salting, replicated skew joins, bucketed co-location) —
``skew_report`` tells you when to reach for it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class SkewReport:
    """Outcome of :func:`skew_report`."""

    total_rows: int
    distinct_keys: int
    top_keys: list[tuple]  # (key value(s)..., count)
    top_share: float  # heaviest key's fraction of all rows
    p99_to_mean: float  # p99 key count / mean key count
    recommendation: str


def skew_report(
    df: DataFrame,
    keys: str | list[str],
    top_n: int = 10,
    heavy_share: float = 0.01,
) -> SkewReport:
    """Key-distribution report for a prospective join/groupBy on
    ``keys``: one map-side-combined count per key, then a bounded
    driver-side summary (top_n rows + three scalars).

    ``recommendation`` applies the repo's rules of thumb: a single
    key holding more than ``heavy_share`` of all rows will bottleneck
    one reducer at scale -> salt it (`plans.scale.salted_*`) or
    replicate the build side (`replicated_skew_join`); moderate tail
    skew is what AQE's skew-join splitting absorbs; flat keys need
    nothing.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n__"))
    summary = counts.agg(
        F.sum("__n__").alias("rows"),
        F.count(F.lit(1)).alias("nkeys"),
        F.max("__n__").alias("mx"),
        F.expr("percentile_approx(__n__, 0.99)").alias("p99"),
        F.avg("__n__").alias("mean"),
    ).first()
    top = [
        tuple(r)[:-1] + (r["__n__"],)
        for r in counts.orderBy(F.desc("__n__")).limit(top_n).collect()
    ]
    share = (summary.mx or 0) / max(summary.rows or 1, 1)
    p99_ratio = float(summary.p99 or 0) / max(float(summary.mean or 1), 1e-9)
    max_ratio = float(summary.mx or 0) / max(float(summary.mean or 1), 1e-9)
    # hot = big in absolute terms AND far above a flat distribution
    # (a perfectly uniform 100-key frame has share 1% per key — that
    # is parallelism, not skew)
    if share >= heavy_share and max_ratio > 5:
        rec = (
            f"heaviest key holds {share:.1%} of rows — salt the aggregation "
            "(plans.scale.salted_count_distinct pattern) or use "
            "replicated_skew_join for the join form"
        )
    elif p99_ratio > 10:
        rec = (
            f"long tail (p99/mean = {p99_ratio:.0f}x) — keep AQE skew-join "
            "splitting on (session default); no manual action needed"
        )
    else:
        rec = "distribution is flat — plain hash partitioning is fine"
    return SkewReport(
        total_rows=int(summary.rows or 0),
        distinct_keys=int(summary.nkeys or 0),
        top_keys=top,
        top_share=share,
        p99_to_mean=p99_ratio,
        recommendation=rec,
    )
