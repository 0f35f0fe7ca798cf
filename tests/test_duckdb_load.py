"""Executed load path: relationalize -> DDL -> CREATE -> bulk load ->
validate, against a real embedded engine (the reference's
full_pokemon_psql_pipeline stage run for real, not plan-only)."""

import datetime
import math

import duckdb
import pyspark.sql.functions as F
import pytest

from relationalize_spark.operators.audit import table_checksum
from relationalize_spark.operators.relationalize import relationalize
from relationalize_spark.sinks.duckdb_load import load_tables_to_duckdb


def test_full_load_pipeline_checksum_validated(spark, tmp_path):
    nested = spark.createDataFrame(
        [
            (1, "alpha", [10, 20, 30]),
            (2, "beta", []),
            (3, None, [7]),
        ],
        "id long, name string, scores array<int>",
    )
    tables = relationalize(nested, "users", key_cols=["id"])
    con = duckdb.connect()
    counts = load_tables_to_duckdb(tables, con, tmp_dir=str(tmp_path))
    assert counts["users"] == 3 and counts["users_scores"] == 4

    # reference-style count validation AND the strong form: the loaded
    # table is value-identical to the Spark frame (q113 checksum
    # recipe, NULL sentinel included)
    for name, df in tables.items():
        cols = df.columns
        got = table_checksum(df, cols).first()
        rendered = ", ".join(
            f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in cols
        )
        want = con.execute(
            f"SELECT count(*), count(DISTINCT r), "
            f"bit_xor(CAST(('0x' || substr(md5(r), 1, 15)) AS BIGINT)) "
            f'FROM (SELECT concat_ws(chr(31), {rendered}) AS r '
            f'FROM "main"."{name}")'
        ).fetchone()
        assert (got.n_rows, got.distinct_rows, got.checksum) == want


def test_load_rejects_unrelationalized_input(spark, tmp_path):
    nested = spark.createDataFrame(
        [(1, [1, 2])], "id long, xs array<int>"
    )
    with pytest.raises(ValueError, match="non-relational"):
        load_tables_to_duckdb({"t": nested}, duckdb.connect(), tmp_dir=str(tmp_path))


def test_load_real_testdata_table(spark, sf_dir, tmp_path):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    con = duckdb.connect()
    counts = load_tables_to_duckdb({"customer_dim": c}, con, tmp_dir=str(tmp_path))
    assert counts["customer_dim"] == c.count()
    assert con.execute(
        "SELECT count(*) FROM main.customer_dim WHERE c_name IS NULL"
    ).fetchone()[0] == 0


def test_load_names_zero_column_table(spark, tmp_path):
    # hygiene can drop every column of a table (an all-`{}` corpus);
    # DuckDB's own error would not say which table
    con = duckdb.connect()
    with pytest.raises(ValueError, match="table 'root' has no columns"):
        load_tables_to_duckdb({"root": spark.range(1).select()}, con, tmp_dir=str(tmp_path))
    assert con.execute("SELECT count(*) FROM duckdb_tables()").fetchone()[0] == 0


def test_load_validates_every_table_before_the_first_create(spark, tmp_path):
    # a bad table k must not leave tables 1..k-1 loaded
    con = duckdb.connect()
    good = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError, match="table 'root' has no columns"):
        load_tables_to_duckdb(
            {"good": good, "root": spark.range(1).select()}, con, tmp_dir=str(tmp_path)
        )
    nested = spark.createDataFrame([(1, [1, 2])], "id long, xs array<int>")
    with pytest.raises(ValueError, match="table 'bad' has non-relational"):
        load_tables_to_duckdb({"good": good, "bad": nested}, con, tmp_dir=str(tmp_path))
    assert con.execute("SELECT count(*) FROM duckdb_tables()").fetchone()[0] == 0


def test_load_counts_follow_input_order(spark, tmp_path):
    # the loads overlap on the driver pool; counts keep the dict's order
    base = spark.range(12)
    tables = {f"t{n}": base.where(f"id < {n}") for n in (9, 2, 11, 0, 5, 7, 1, 3, 10, 4)}
    con = duckdb.connect()
    counts = load_tables_to_duckdb(tables, con, tmp_dir=str(tmp_path))
    assert list(counts.items()) == [(name, int(name[1:])) for name in tables]
    for name, n in counts.items():
        assert con.execute(f"SELECT count(*) FROM main.{name}").fetchone()[0] == n


# One row per edge: the extremes, then an all-null row. Spark's session
# time zone is UTC (plans/session.py), so the TIMESTAMP literals are
# UTC instants.
_EDGE_ROWS_SQL = """
SELECT * FROM VALUES
 (CAST('-9223372036854775808' AS BIGINT), CAST('NaN' AS DOUBLE), '', true,
  DATE'0001-01-01', TIMESTAMP'2024-03-10 12:30:05',
  TIMESTAMP_NTZ'2024-03-10 12:30:05', CAST(12345678.91 AS DECIMAL(10,2)), X''),
 (CAST('9223372036854775807' AS BIGINT), CAST(-0.5 AS DOUBLE), 'héllo', false,
  DATE'9999-12-31', TIMESTAMP'1969-12-31 23:59:59.999999',
  TIMESTAMP_NTZ'1900-01-01 00:00:00', CAST(-0.01 AS DECIMAL(10,2)), X'00FF'),
 (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
 AS t(i, d, s, b, dt, ts, ntz, dec, bin)
"""

# What the engine holds after the load, whatever the connection's time
# zone: a Spark timestamp lands as the naive UTC wall clock.
_EDGE_ROWS_LOADED = [
    (-(2**63), "NaN", "", True, datetime.date(1, 1, 1),
     datetime.datetime(2024, 3, 10, 12, 30, 5),
     datetime.datetime(2024, 3, 10, 12, 30, 5), 12345678.91, b""),
    (2**63 - 1, -0.5, "héllo", False, datetime.date(9999, 12, 31),
     datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
     datetime.datetime(1900, 1, 1, 0, 0), -0.01, b"\x00\xff"),
    (None,) * 9,
]

_EDGE_DDL_TYPES = {
    "i": "BIGINT", "d": "DOUBLE", "s": "VARCHAR", "b": "BOOLEAN",
    "dt": "DATE", "ts": "TIMESTAMP", "ntz": "TIMESTAMP", "dec": "DOUBLE",
    "bin": "BLOB",
}


@pytest.mark.parametrize("time_zone", ["UTC", "America/New_York"])
def test_load_keeps_every_ddl_type_under_any_time_zone(spark, tmp_path, time_zone):
    df = spark.sql(_EDGE_ROWS_SQL)
    con = duckdb.connect()
    con.execute(f"SET TimeZone='{time_zone}'")
    counts = load_tables_to_duckdb(
        {"edges": df, "edges_empty": df.where("false")}, con, tmp_dir=str(tmp_path)
    )
    assert counts == {"edges": 3, "edges_empty": 0}
    for table in ("edges", "edges_empty"):
        described = con.execute(f"DESCRIBE main.{table}").fetchall()
        assert {r[0]: r[1] for r in described} == _EDGE_DDL_TYPES
    rows = con.execute(
        "SELECT i, d, s, b, dt, ts, ntz, dec, bin FROM main.edges ORDER BY i NULLS LAST"
    ).fetchall()
    # NaN equals nothing, itself included; compare it as a marker
    rows = [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]
    assert rows == _EDGE_ROWS_LOADED


def test_load_writes_no_file(spark, tmp_path):
    tables = relationalize(
        spark.createDataFrame([(1, [10, 20])], "id long, scores array<int>"),
        "users",
        key_cols=["id"],
    )
    counts = load_tables_to_duckdb(tables, duckdb.connect(), tmp_dir=str(tmp_path))
    assert counts == {"users": 1, "users_scores": 2}
    assert list(tmp_path.rglob("*")) == []
