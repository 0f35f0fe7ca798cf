from .relationalize_stream import (
    parquet_table_sink,
    relationalize_stream,
    sessionize_stream,
    windowed_counts,
)
from .stateful import streaming_exact_dedup

__all__ = [
    "parquet_table_sink",
    "relationalize_stream",
    "sessionize_stream",
    "windowed_counts",
    "streaming_exact_dedup",
]
