"""File sinks for relationalized tables.

Mirrors the reference's output surface (reference utils.py:5-28 and
the CSV/gzip-JSONL examples) on top of Spark writers: JSONL, CSV with
the sorted-header contract (reference schema.py:98-114 drives the
CSV field order in examples/local_fs_example_csv_output.py:52-59),
parquet (the scale default), and a dict-of-tables convenience writer
for relationalize output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.session import each_table
from ..schema import Schema


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_csv_sorted(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    schema: Schema | None = None,
) -> None:
    """CSV with header, columns sorted by name — the reference's
    deterministic column contract. When a choice Schema is given, its
    output_columns() (split choice columns, sorted) define the order;
    missing columns error early rather than silently misalign."""
    cols = schema.output_columns() if schema else sorted(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"DataFrame lacks schema columns: {missing}")
    df.select(*cols).write.mode(mode).option("header", "true").csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_tables(
    tables: dict[str, DataFrame],
    base_path: str,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write every derived table under ``{base_path}/{table}`` — the
    batch counterpart of the streaming parquet_table_sink.

    The writes run concurrently on the driver pool every multi-table
    sink shares (``plans.session.each_table``): a small table's write
    job is mostly driver latency, which the pool overlaps across
    tables. The first failing table's error (in ``tables`` order)
    raises once the pool has joined; tables whose write had not
    started by then are not written."""

    def write(name: str) -> None:
        tables[name].write.mode(mode).format(format).save(f"{base_path}/{name}")

    list(each_table(write, tables))
