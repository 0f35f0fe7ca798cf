"""Custom stateful streaming operators via applyInPandasWithState.

These are the cases Structured Streaming's built-in aggregations can't
express: per-key state that must survive across micro-batches (and
restarts, via the checkpoint) with custom transition logic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_exact_dedup(
    stream_df: DataFrame,
    key_col: str = "fp",
) -> DataFrame:
    """Emit only the first-ever row per key across the whole stream.

    State per key is a single "seen" flag (tiny, bounded by distinct
    keys); duplicates arriving in any later micro-batch — or after a
    restart — are dropped. This is the streaming form of content-hash
    deduplication for a document ingest pipeline: feed it rows keyed
    by fingerprint (see operators/text.py) and sink the survivors.
    """
    schema = stream_df.schema

    def dedup(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            # Key already seen in a previous batch: drain and drop.
            for _ in batches:
                pass
            return
        first = None
        for pdf in batches:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
        state.update((True,))
        if first is not None:
            yield first

    return stream_df.groupBy(key_col).applyInPandasWithState(
        dedup,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
