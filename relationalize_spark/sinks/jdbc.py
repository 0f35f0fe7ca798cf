"""Warehouse sinks: JDBC write with schema-driven DDL, plus the
stage-to-object-store + COPY pattern the reference uses for Redshift
(reference examples/s3_redshift_example.py:138-184) and Postgres
(examples/full_pokemon_psql_pipeline.py:130-170).

No database drivers ship in this environment, so ``write_jdbc`` only
assembles the plan (options + DDL); issuing it requires the target's
JDBC jar on the Spark classpath. The COPY statement generators are
pure string templating and fully tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import types as T
from ..operators.relationalize import _q
from ..schema import Schema


def jdbc_column_types(schema: Schema) -> str:
    """``createTableColumnTypes`` option value from a choice Schema:
    choice columns are split per member type, names sorted — the same
    layout generate_ddl produces. Identifiers are backtick-quoted:
    Spark parses this option with its OWN SQL parser (it is a Spark
    schema string, not target-database DDL — verified by executing
    the lane against embedded Derby), so double-quoted identifiers
    are a parse error here even though the emitted CREATE uses the
    target dialect's quoting."""
    def typ(tag: str) -> str:
        return schema.dialect.jdbc_overrides.get(tag) or schema.dialect.type_map[tag]

    return ", ".join(sorted(f"{_q(c)} {typ(t)}" for c, t in schema._split_columns()))


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    schema: Schema,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
):
    """Configure (and start, if a driver is available) a JDBC write
    with warehouse types pre-declared from the inferred Schema."""
    writer = (
        df.write.mode(mode)
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("createTableColumnTypes", jdbc_column_types(schema))
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    return writer


#: Spark bundles Derby (its default Hive-metastore backend), so the
#: embedded driver is on every stock classpath — an executable JDBC
#: target with zero external dependencies.
DERBY_EMBEDDED_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_memory_url(name: str) -> str:
    """In-memory embedded Derby URL — lives inside the driver JVM, no
    server process; ``;create=true`` makes first contact create it."""
    return f"jdbc:derby:memory:{name};create=true"


def load_tables_jdbc(
    tables: dict[str, "DataFrame"],
    url: str,
    *,
    properties: dict[str, str] | None = None,
    dialect_name: str = "derby",
    batchsize: int = 10_000,
) -> dict[str, int]:
    """EXECUTED warehouse-load lane over a real JDBC connection: per
    relationalized table, CREATE with schema-driven column types +
    bulk INSERT via ``df.write.jdbc`` (the reference's flagship
    pipeline stage, reference
    examples/full_pokemon_psql_pipeline.py:130-170), then a read-back
    count validation through the same connection. Returns read-back
    row counts per table.

    Works against any JDBC target whose driver is on the classpath;
    the test environment runs it for real against Spark's bundled
    embedded Derby (``derby_memory_url``) — no server, no new jars —
    which upgrades the Postgres/Redshift lane from plan-generation to
    an actually-executed ``write.jdbc`` path. At scale the write is
    the standard partition-parallel JDBC insert (``batchsize`` rows
    per round trip per partition); for columnar warehouses prefer the
    staged-COPY plan (``redshift_copy_sql``) or the parquet hand-off
    (``sinks/duckdb_load.py``).
    """
    from ..dialects import DIALECTS
    from ..operators.infer import schema_of_dataframe

    spark = None
    counts: dict[str, int] = {}
    props = dict(properties or {})
    for name, df in tables.items():
        spark = df.sparkSession
        s = schema_of_dataframe(df)
        bad = {c: t for c, t in s.columns.items() if t.startswith(T.UNSUPPORTED_PREFIX)}
        if bad:
            raise ValueError(
                f"table {name!r} has non-relational columns {bad}; "
                "run relationalize first"
            )
        s.dialect = DIALECTS[dialect_name]
        write_jdbc(
            df, url, name, s, mode="overwrite", properties=props, batchsize=batchsize
        ).save()
        counts[name] = spark.read.jdbc(url, name, properties=props).count()
    return counts


def redshift_copy_sql(
    table: str,
    s3_path: str,
    iam_role: str,
    region: str = "us-east-1",
    gzip: bool = True,
    json_format: str = "auto ignorecase",
) -> str:
    """COPY statement for parquet/JSONL staged on S3 — the reference's
    bulk-load path with TRUNCATECOLUMNS + GZIP."""
    opts = f"json '{json_format}' TRUNCATECOLUMNS region '{region}'"
    if gzip:
        opts += " GZIP"
    return (
        f"COPY {table} FROM '{s3_path}' IAM_ROLE '{iam_role}' {opts};"
    )


def postgres_load_plan(schema: Schema, table: str, db_schema: str = "public") -> list[str]:
    """The reference's DROP -> CREATE -> (COPY) -> ANALYZE sequence as
    statements; COPY itself streams client-side via the driver."""
    d = schema.dialect
    name = f"{d.ident(db_schema)}.{d.ident(table)}"
    return [
        f"DROP TABLE IF EXISTS {name};",
        schema.generate_ddl(table, db_schema),
        f"ANALYZE {name};",
    ]
