"""Z-order (Morton curve) layout keys for multi-column data skipping.

Parquet scans prune row groups and files by min/max statistics. A sort
on one column gives perfect pruning on that column and NONE on any
other; interleaving the bits of several columns gives every file a
tight bounding box in ALL of them, so selective filters on any of the
z-ordered columns skip most files. This is the layout trick behind
Delta/Iceberg OPTIMIZE ZORDER, implemented here as plain Catalyst
expressions (shift/mask/or — whole-stage-codegen'd, no UDF) so it
works on stock parquet: compute the key, ``repartitionByRange`` +
sort on it, write.

Columns are first normalized to ``bits``-wide integer ranks via a
broadcast 1-row min/max aggregate (two passes over the input: one
tiny agg, one write — the same cost profile as any global sort).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def _interleave(cols: list[Column], bits: int) -> Column:
    """Bit-interleave equal-width integer columns into one long."""
    n = len(cols)
    parts = []
    for i, c in enumerate(cols):
        for b in range(bits):
            # bit b of column i lands at position b*n + i
            parts.append(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return reduce(lambda a, x: a.bitwiseOR(x), parts).cast("long")


def add_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 10, key_col: str = "zkey"
) -> DataFrame:
    """Append a Morton key over ``cols`` (numeric). ``bits`` per column
    — 10 bits x 2 cols = 20-bit key, plenty for file-level skipping."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        ranks.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top),
            ).cast("long")
        )
    return df.withColumn(key_col, _interleave(ranks, bits))
