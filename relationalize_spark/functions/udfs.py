"""User-defined-function surface: Arrow-vectorized pandas UDFs and
grouped-map transforms.

The engine's rule is built-ins first (everything else in this repo is
pure Catalyst); this module is the sanctioned escape hatch and the
pattern to copy when real per-row Python is unavoidable — always
``pandas_udf``/``applyInPandas`` (Arrow batch transfer, ~10-100x
row-at-a-time Python UDFs), never ``udf()``.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf


@pandas_udf("int")
def pandas_token_count(text: pd.Series) -> pd.Series:
    """Vectorized token counter (same contract as the Catalyst
    expression in operators/text.py — used to validate the UDF path
    against the same SQL oracle)."""
    return text.str.split().str.len().astype("int32")


def grouped_demean(
    df: DataFrame, key_col: str, value_col: str, out_col: str = "demeaned"
) -> DataFrame:
    """Per-group mean-centering via applyInPandas (grouped-map).

    The mean uses ``math.fsum`` — the correctly-rounded exact sum —
    which equals CAST(exact-decimal-SUM AS DOUBLE) in SQL engines, so
    results are bit-comparable to a SQL oracle despite crossing the
    Python boundary.
    """
    out_schema = (
        f"{key_col} {df.schema[key_col].dataType.simpleString()}, "
        f"{value_col} {df.schema[value_col].dataType.simpleString()}, "
        f"{out_col} double"
    )

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy()
        mean = math.fsum(vals) / len(vals)
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                value_col: pdf[value_col],
                out_col: vals - mean,
            }
        )

    return df.select(key_col, value_col).groupBy(key_col).applyInPandas(
        demean, schema=out_schema
    )

