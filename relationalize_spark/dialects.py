"""SQL DDL dialects.

Same role as the reference's dialect layer (reference
relationalize/sql_dialects.py:12-71): map the type-tag vocabulary to
warehouse column types and render a CREATE TABLE statement. Kept as
plain string templating — the generated DDL feeds
``df.write.jdbc(createTableColumnTypes=...)`` or a pre-create step.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import types as T

_COLUMN_JOINER = "\n    , "


@dataclass
class SQLDialect:
    """A DDL dialect: a tag->SQL-type mapping plus quoting rules."""

    name: str
    type_map: dict[str, str]
    quote: str = '"'
    #: Overrides for ``createTableColumnTypes`` (sinks/jdbc.py): that
    #: option is parsed by SPARK's SQL parser, so entries must be
    #: Spark-parseable type names; the JDBC dialect then maps them to
    #: engine DDL itself (e.g. Derby: STRING -> CLOB). Only needed
    #: where ``type_map`` uses an engine-only name like CLOB/BLOB.
    jdbc_overrides: dict[str, str] = field(default_factory=dict)

    def ident(self, name: str) -> str:
        """Quote an identifier. A relationalized table or column name
        can contain any character the source JSON keys had, so an
        embedded quote char is doubled and cannot break out of (or
        inject into) the statement."""
        q = self.quote
        return q + name.replace(q, q * 2) + q

    def column_def(self, column: str, tag: str) -> str:
        return f"{self.ident(column)} {self.type_map[tag]}"

    def create_table(self, schema: str, table: str, column_defs: list[str]) -> str:
        return (
            f"CREATE TABLE IF NOT EXISTS {self.ident(schema)}.{self.ident(table)} "
            f"(\n    {_COLUMN_JOINER.join(column_defs)}\n);"
        )


POSTGRES = SQLDialect(
    name="postgres",
    type_map={
        T.INT: "BIGINT",
        T.FLOAT: "FLOAT",
        T.STR: "VARCHAR(65535)",
        T.BOOL: "BOOLEAN",
        T.DATETIME: "TIMESTAMP",
        T.DATE: "DATE",
        T.BINARY: "BYTEA",
        # A column observed only as null has no information; the
        # reference maps it to BOOLEAN (smallest type).
        T.NONE: "BOOLEAN",
    },
)

REDSHIFT = SQLDialect(
    name="redshift",
    type_map={
        T.INT: "BIGINT",
        T.FLOAT: "DOUBLE PRECISION",
        T.STR: "VARCHAR(65535)",
        T.BOOL: "BOOLEAN",
        T.DATETIME: "TIMESTAMP",
        T.DATE: "DATE",
        T.BINARY: "VARBYTE",
        T.NONE: "BOOLEAN",
    },
)

DUCKDB = SQLDialect(
    name="duckdb",
    type_map={
        T.INT: "BIGINT",
        T.FLOAT: "DOUBLE",
        T.STR: "VARCHAR",
        T.BOOL: "BOOLEAN",
        T.DATETIME: "TIMESTAMP",
        T.DATE: "DATE",
        T.BINARY: "BLOB",
        T.NONE: "BOOLEAN",
    },
)

SPARK_SQL = SQLDialect(
    name="spark",
    type_map={
        T.INT: "BIGINT",
        T.FLOAT: "DOUBLE",
        T.STR: "STRING",
        T.BOOL: "BOOLEAN",
        T.DATETIME: "TIMESTAMP",
        T.DATE: "DATE",
        T.BINARY: "BINARY",
        T.NONE: "BOOLEAN",
    },
    quote="`",
)

MYSQL = SQLDialect(
    name="mysql",
    type_map={
        T.INT: "BIGINT",
        T.FLOAT: "DOUBLE",
        # TEXT rather than VARCHAR(65535): MySQL row-size limit (64KB
        # across ALL columns) makes wide VARCHAR tables un-creatable.
        T.STR: "TEXT",
        T.BOOL: "TINYINT(1)",
        T.DATETIME: "DATETIME(6)",
        T.DATE: "DATE",
        T.BINARY: "LONGBLOB",
        T.NONE: "TINYINT(1)",
    },
    quote="`",
)

BIGQUERY = SQLDialect(
    name="bigquery",
    type_map={
        T.INT: "INT64",
        T.FLOAT: "FLOAT64",
        T.STR: "STRING",
        T.BOOL: "BOOL",
        # DATETIME, not TIMESTAMP: the engine's inferred datetimes are
        # zone-less wall-clock values (the reference's epoch-or-string
        # ambiguity, reference README.md:43); BigQuery TIMESTAMP would
        # re-interpret them as UTC instants on load.
        T.DATETIME: "DATETIME",
        T.DATE: "DATE",
        T.BINARY: "BYTES",
        T.NONE: "BOOL",
    },
    quote="`",
)

DERBY = SQLDialect(
    name="derby",
    type_map={
        T.INT: "BIGINT",
        T.FLOAT: "DOUBLE",
        # CLOB, not VARCHAR: Spark's built-in DerbyDialect binds
        # StringType parameters (incl. setNull) as CLOB, and Derby
        # rejects CLOB bindings against a VARCHAR column — verified by
        # executing the lane (tests/test_jdbc_derby.py). Derby's
        # VARCHAR also caps at 32672, which CLOB sidesteps.
        T.STR: "CLOB",
        T.BOOL: "BOOLEAN",
        T.DATETIME: "TIMESTAMP",
        T.DATE: "DATE",
        T.BINARY: "BLOB",
        T.NONE: "BOOLEAN",
    },
    jdbc_overrides={T.STR: "STRING", T.BINARY: "BINARY"},
)

SQLITE = SQLDialect(
    name="sqlite",
    type_map={
        T.INT: "INTEGER",
        T.FLOAT: "REAL",
        T.STR: "TEXT",
        # SQLite has no BOOLEAN/DATETIME storage classes; INTEGER and
        # TEXT are the documented affinities for them.
        T.BOOL: "INTEGER",
        T.DATETIME: "TEXT",
        T.DATE: "TEXT",
        T.BINARY: "BLOB",
        T.NONE: "INTEGER",
    },
)

DIALECTS = {
    d.name: d
    for d in (POSTGRES, REDSHIFT, DUCKDB, SPARK_SQL, MYSQL, BIGQUERY, SQLITE, DERBY)
}
DEFAULT_DIALECT = POSTGRES
