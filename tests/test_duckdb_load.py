"""Executed load path: relationalize -> DDL -> CREATE -> bulk load ->
validate, against a real embedded engine (the reference's
full_pokemon_psql_pipeline stage run for real, not plan-only)."""

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
