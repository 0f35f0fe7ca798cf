"""Schema/choice-type semantics, mirroring reference test/schema.test.py."""

import pytest

from relationalize_spark.schema import Schema
from relationalize_spark import types as T

CASE_1 = {"1": 1, "2": "foobar", "3": False, "4": 1.2}
CASE_2 = {"1": "foobar", "2": 9.9, "3": True, "4": 9.5}

CASE_1_DDL = """
CREATE TABLE IF NOT EXISTS "public"."test" (
    "1" BIGINT
    , "2" VARCHAR(65535)
    , "3" BOOLEAN
    , "4" FLOAT
);
""".strip()

CASE_2_DDL = """
CREATE TABLE IF NOT EXISTS "public"."test" (
    "1_int" BIGINT
    , "1_str" VARCHAR(65535)
    , "2_float" FLOAT
    , "2_str" VARCHAR(65535)
    , "3" BOOLEAN
    , "4" FLOAT
);
""".strip()


def test_all_types_no_choice():
    s = Schema()
    s.observe(CASE_1)
    assert s == {"1": "int", "2": "str", "3": "bool", "4": "float"}


def test_choice_creation():
    s = Schema()
    s.observe(CASE_1)
    s.observe(CASE_2)
    assert s == {"1": "c-int-str", "2": "c-float-str", "3": "bool", "4": "float"}


def test_merge_noop():
    s = Schema()
    s.observe(CASE_1)
    merged = Schema.merge(s, s)
    assert merged == s


def test_merge_choice_and_equivalence_to_sequential():
    s1, s2 = Schema(), Schema()
    s1.observe(CASE_1)
    s2.observe(CASE_2)
    merged = Schema.merge(s1, s2)
    sequential = Schema()
    sequential.observe(CASE_1)
    sequential.observe(CASE_2)
    assert merged == sequential
    assert merged == {"1": "c-int-str", "2": "c-float-str", "3": "bool", "4": "float"}


def test_merge_is_associative_and_commutative():
    s1, s2 = Schema(), Schema()
    s1.observe(CASE_1)
    s2.observe(CASE_2)
    a = Schema.merge(Schema.merge(s1, s2), s1)
    b = Schema.merge(s2, Schema.merge(s1, s1))
    assert a == b


def test_convert_no_choice():
    s = Schema()
    s.observe(CASE_1)
    assert s.convert_record(CASE_1) == CASE_1


def test_convert_with_choice():
    s = Schema()
    s.observe(CASE_1)
    s.observe(CASE_2)
    assert s.convert_record(CASE_1) == {
        "1_int": 1,
        "2_str": "foobar",
        "3": False,
        "4": 1.2,
    }
    assert s.convert_record(CASE_2) == {
        "1_str": "foobar",
        "2_float": 9.9,
        "3": True,
        "4": 9.5,
    }


def test_convert_unknown_choice_type_raises():
    s = Schema({"1": "c-int-str"})
    with pytest.raises(ValueError):
        s.convert_record({"1": 1.5})


def test_convert_drops_unknown_keys():
    s = Schema({"1": "int"})
    assert s.convert_record({"1": 1, "zzz": 2}) == {"1": 1}


def test_golden_ddl_no_choice():
    s = Schema()
    s.observe(CASE_1)
    assert s.generate_ddl("test") == CASE_1_DDL


def test_golden_ddl_choice():
    s = Schema()
    s.observe(CASE_1)
    s.observe(CASE_2)
    assert s.generate_ddl("test") == CASE_2_DDL


def test_none_lattice():
    s = Schema()
    s.observe({"1": None})
    assert s == {"1": "none"}
    s.observe({"1": 1})
    assert s == {"1": "int"}
    s.observe({"1": "foobar"})
    assert s == {"1": "c-int-str"}
    s.observe({"1": None})  # null never widens an existing type
    assert s == {"1": "c-int-str"}
    # convert(null) passes through un-suffixed
    assert s.convert_record({"1": None}) == {"1": None}


def test_none_merge():
    assert Schema.merge({"1": "none"}, {"1": "none"}) == {"1": "none"}
    assert Schema.merge({"1": "none"}, {"1": "int"}) == {"1": "int"}
    assert Schema.merge({"1": "c-int-none"}, {"1": "none"}) == {"1": "int"}


def test_drop_null_columns():
    s = Schema({"a": "none", "b": "int", "c": "none"})
    assert s.drop_null_columns() == 2
    assert s == {"b": "int"}


def test_output_columns():
    s = Schema()
    s.observe(CASE_1)
    s.observe(CASE_2)
    assert s.output_columns() == ["1_int", "1_str", "2_float", "2_str", "3", "4"]


def test_drop_special_char_columns():
    s = Schema()
    s.observe({"abc ": 1, "def@#": 1, "$$ghi": 1, "jkl": 1, "!@#mno": 1})
    assert s.drop_special_char_columns() == 3
    assert sorted(s.columns) == ["abc ", "jkl"]


def test_drop_duplicate_columns():
    s = Schema()
    s.observe({"ABc ": 1, "DEf ": 1, "ghi": 1, "jkl": 1, "ABC": 1, "abc ": 1, "JkL": 1})
    assert s.drop_duplicate_columns() == 2
    assert sorted(s.columns) == ["ABC", "ABc ", "DEf ", "ghi", "jkl"]


def test_serialize_roundtrip():
    s = Schema()
    s.observe(CASE_1)
    s.observe(CASE_2)
    assert Schema.deserialize(s.serialize()) == s


def test_bool_before_int():
    assert T.tag_of_value(True) == "bool"
    assert T.tag_of_value(1) == "int"
    assert T.tag_of_value(1.0) == "float"


def test_unsupported_type_tag():
    assert T.tag_of_value({"x": 1}).startswith("unsupported:")


def test_golden_ddl_new_dialects():
    """MySQL / BigQuery / SQLite dialects (beyond the reference's
    Postgres-only layer, reference sql_dialects.py:12-71): backtick
    or double-quote identifier rules and engine-correct type maps
    (MySQL TEXT not wide VARCHAR - 64KB row limit; BigQuery DATETIME
    not TIMESTAMP - inferred datetimes are zone-less wall clock;
    SQLite storage-class affinities)."""
    from relationalize_spark.dialects import DIALECTS

    s = Schema(dialect=DIALECTS["mysql"])
    s.observe(CASE_1)
    assert s.generate_ddl("test") == (
        "CREATE TABLE IF NOT EXISTS `public`.`test` (\n"
        "    `1` BIGINT\n"
        "    , `2` TEXT\n"
        "    , `3` TINYINT(1)\n"
        "    , `4` DOUBLE\n"
        ");"
    )
    s = Schema(dialect=DIALECTS["bigquery"])
    s.observe(CASE_1)
    assert s.generate_ddl("test") == (
        "CREATE TABLE IF NOT EXISTS `public`.`test` (\n"
        "    `1` INT64\n"
        "    , `2` STRING\n"
        "    , `3` BOOL\n"
        "    , `4` FLOAT64\n"
        ");"
    )
    s = Schema(dialect=DIALECTS["sqlite"])
    s.observe(CASE_1)
    assert s.generate_ddl("test") == (
        'CREATE TABLE IF NOT EXISTS "public"."test" (\n'
        '    "1" INTEGER\n'
        '    , "2" TEXT\n'
        '    , "3" INTEGER\n'
        '    , "4" REAL\n'
        ");"
    )


def test_spark_dialect_ddl_quotes_table_with_backticks():
    """The Spark dialect quotes the table name with the same rule as its
    columns: Spark's parser rejects a double-quoted table identifier."""
    from relationalize_spark.dialects import DIALECTS

    s = Schema({"a": "int"}, dialect=DIALECTS["spark"])
    assert s.generate_ddl("x`y", schema="p") == (
        "CREATE TABLE IF NOT EXISTS `p`.`x``y` (\n    `a` BIGINT\n);"
    )


def test_sqlite_ddl_is_valid():
    """SQLite ships with Python - execute the generated DDL for real
    (the only dialect whose engine exists in this container besides
    DuckDB)."""
    import sqlite3

    from relationalize_spark.dialects import DIALECTS

    s = Schema(dialect=DIALECTS["sqlite"])
    s.observe(CASE_1)
    s.observe(CASE_2)
    ddl = s.generate_ddl("test", schema="main")
    con = sqlite3.connect(":memory:")
    con.execute(ddl)
    cols = [r[1] for r in con.execute("PRAGMA table_info(test)")]
    assert cols == ["1_int", "1_str", "2_float", "2_str", "3", "4"]
