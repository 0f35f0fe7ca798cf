"""End-to-end dynamic JSON pipeline: type-faithful ingestion, choice
inference, conversion — mirroring the reference's README/mock-LMS
scenarios (FIXTURES.md §B/§C)."""

import json
import os

import pyspark
import pytest
from pyspark.sql import functions as F

from relationalize_spark.operators.infer import (
    infer_and_convert,
    schema_of_dataframe,
)
from relationalize_spark.sources.jsonl import (
    parse_variant_schema,
    relationalize_json,
)


def vdf(spark, objs):
    return spark.createDataFrame(
        [(json.dumps(o),) for o in objs], "value string"
    ).select(F.parse_json("value").alias("v"))


def rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


# -- parser ------------------------------------------------------------------

def test_parse_variant_schema_roundtrip():
    t = parse_variant_schema(
        "OBJECT<a: VARIANT, `a b`: BIGINT, arr: ARRAY<OBJECT<k: DECIMAL(21,1)>>, z: STRING>"
    )
    assert t.kind == "object"
    assert set(t.fields) == {"a", "a b", "arr", "z"}
    assert t.fields["a"].leaf_type == "VARIANT"
    assert t.fields["arr"].element.fields["k"].leaf_type == "DECIMAL(21,1)"


@pytest.mark.parametrize(
    "bad, pos",
    [
        ("OBJECT<a:BIGINT>", 8),  # missing the space after ':'
        ("ARRAY<BIGINT", 12),  # unterminated array
        ("BIGINT>x", 6),  # trailing content
    ],
)
def test_parse_variant_schema_rejects_malformed(bad, pos):
    # a ValueError, not an assert: under ``python -O`` these inputs
    # used to parse to a wrong tree without any error
    with pytest.raises(ValueError, match=rf"at {pos} in {bad!r}"):
        parse_variant_schema(bad)


# -- choice semantics through the full pipeline ------------------------------

def test_choice_split_mixed_types(spark):
    out = relationalize_json(
        vdf(
            spark,
            [
                {"1": 1, "2": "foobar", "3": False, "4": 1.2},
                {"1": "foobar", "2": 9.9, "3": True, "4": 9.5},
            ],
        ),
        "root",
    )
    schema = out.schemas["root"]
    # Schema keeps the reference semantics: original names, choice tags
    assert schema.columns == {
        "1": "c-int-str",
        "2": "c-float-str",
        "3": "bool",
        "4": "float",
    }
    assert schema.output_columns() == ["1_int", "1_str", "2_float", "2_str", "3", "4"]
    got = sorted(rows(out["root"]), key=lambda r: str(r))
    assert {"1_int": 1, "1_str": None, "2_float": None, "2_str": "foobar", "3": False, "4": 1.2} in got
    assert {"1_int": None, "1_str": "foobar", "2_float": 9.9, "2_str": None, "3": True, "4": 9.5} in got


def test_dynamic_flatten_collision_last_write_wins(spark):
    """ADVICE r5 (low): a real sibling column ``b_x`` alongside a
    conflicted key ``b`` whose object rows carry field ``x`` — the
    dynamic flatten's generated ``b_x`` collides with the sibling.
    The pinned choice is last-write-wins in schema field order
    (``b`` < ``b_x`` alphabetically, so the REAL sibling wins),
    matching both the module-level flatten contract and what the
    reference's ``temp_d.update`` produces for row dicts whose key
    order matches (reference relationalize.py:114-117)."""
    out = relationalize_json(
        vdf(
            spark,
            [
                {"k": 1, "b": 5, "b_x": 100},
                {"k": 2, "b": {"x": 7}, "b_x": 200},
            ],
        ),
        "root",
    )
    got = sorted(rows(out["root"]), key=lambda r: r["k"])
    # the sibling's values survive; the variant's flattened 7 is
    # overwritten column-wise (not per-row patched)
    assert [r["b_x"] for r in got] == [100, 200]
    # the scalar lane of b keeps row 1's value, null where b was
    # object (a single observed scalar tag gets no choice suffix)
    assert [r.get("b") for r in got] == [5, None]


def test_mixed_int_float_produces_choice(spark):
    """Round-1 ADVICE regression: schema_of_variant_agg numerically
    merges BIGINT+DECIMAL (1 and 2.5 -> DECIMAL(21,1)); the pipeline
    must still emit the reference's c-float-int choice, not a silent
    DOUBLE coercion that turns 1 into 1.0."""
    out = relationalize_json(
        vdf(spark, [{"m": 1, "p": 2.5}, {"m": 2.5, "p": 3.25}]), "root"
    )
    schema = out.schemas["root"]
    assert schema.columns == {"m": "c-float-int", "p": "float"}
    assert schema.output_columns() == ["m_float", "m_int", "p"]
    got = sorted(rows(out["root"]), key=lambda r: str(r))
    assert {"m_int": 1, "m_float": None, "p": 2.5} in got
    assert {"m_int": None, "m_float": 2.5, "p": 3.25} in got


def test_inferred_choice_schema_tags(spark):
    df = vdf(
        spark,
        [
            {"1": 1, "2": "foobar", "3": False, "4": 1.2},
            {"1": "foobar", "2": 9.9, "3": True, "4": 9.5},
        ],
    )
    out = relationalize_json(df, "root", convert=False)
    # Raw (unconverted) table keeps variant columns; run inference
    converted, schema = infer_and_convert(out["root"])
    assert schema.columns["1"] == "c-int-str"
    assert schema.columns["2"] == "c-float-str"
    assert schema.columns["3"] == "bool"
    assert schema.columns["4"] == "float"


def test_mixed_array_elements_choice_via_fused_analysis(spark):
    """``v`` is a VARIANT position of the whole-object merge, and the
    one path-keyed stats round reads its elements (``v[]``) one level
    ahead, so the child table's ``v__val_`` is planned with no further
    action. Mixed int/str/object elements must still produce the
    child's choice columns, and object elements spread into ``v_a``."""
    out = relationalize_json(
        vdf(
            spark,
            [
                {"k": 1, "v": [1, "two", {"a": 7}]},
                {"k": 2, "v": 5},
                {"k": 3, "v": [3.5]},
            ],
        ),
        "root",
    )
    # child table: elements split per-row — ints/strings/floats into
    # choice lanes, object elements spread into v_a
    child = sorted(rows(out["root_v"]), key=lambda r: (r["v__rid_"], r["v__index_"]))
    assert out.schemas["root_v"].columns["v__val_"] == "c-float-int-str"
    got = [
        (r["v__index_"], r.get("v__val__int"), r.get("v__val__str"),
         r.get("v__val__float"), r.get("v_a"))
        for r in child
    ]
    # row 1's three elements then row 3's single float element
    assert (0, 1, None, None, None) in got
    assert (1, None, "two", None, None) in got
    assert (2, None, None, None, 7) in got
    assert (0, None, None, 3.5, None) in got
    # parent: scalar rows keep their value in the int lane, array rows
    # hold the rid string
    parent = {r["k"]: r for r in rows(out["root"])}
    assert parent[2]["v_int"] == 5
    assert parent[1]["v_str"] and parent[1]["v_str"].startswith("R_")


@pytest.mark.parametrize(
    "objs",
    [
        # conflicted top-level key + array child with uniform elements
        [{"k": 1, "v": 10}, {"k": 2, "v": [1, 2]}, {"k": 3, "v": {"a": 1, "b": "p"}}],
        # bulk shape: struct-derived conflict (cust.tier) + fractional
        # element field (items[].price), three levels deep
        [
            {"id": 1, "cust": {"tier": 1}, "items": [{"price": 1.5, "tags": ["a"]}]},
            {"id": 2, "cust": {"tier": "gold"}, "items": [{"price": 2.25, "tags": []}]},
        ],
    ],
    ids=["conflicted_key", "bulk_shape"],
)
def test_analysis_is_merge_plus_one_stats_round(spark, objs, monkeypatch):
    """The dynamic pipeline's analysis is TWO eager actions: the
    whole-object merge (sources/jsonl.py) and one path-keyed stats
    round (operators/relationalize.py), with no per-level aggregate
    after them. Actions are counted at ``DataFrame.collect`` (which
    ``first``/``head`` also reach) by their first caller outside
    pyspark, and every Spark job the build launches must come from
    one of those actions (AQE splits one action into several jobs)."""
    import traceback

    df = vdf(spark, objs)
    pyspark_dir = os.path.dirname(pyspark.__file__)
    callers = []
    collect = type(df).collect

    def counting_collect(self):
        frame = next(
            f for f in reversed(traceback.extract_stack()[:-1])
            if not f.filename.startswith(pyspark_dir)
        )
        callers.append(os.path.basename(frame.filename))
        return collect(self)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    monkeypatch.setattr(type(df), "collect", counting_collect)
    out = relationalize_json(df, "root", convert=False)
    monkeypatch.undo()
    out.unpersist()
    after = set(tracker.getJobIdsForGroup(None))
    sites = set()
    for jid in after - before:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds:
            si = tracker.getStageInfo(sid)
            if si:
                sites.add(si.name.split("\n")[0])
    assert callers == ["jsonl.py", "relationalize.py"], callers
    # every job came from a counted action (Spark names its stages
    # after the counting wrapper, the first frame outside pyspark)
    assert sites and all(__file__ in s for s in sites), sites


def test_none_lattice_through_pipeline(spark):
    out = relationalize_json(
        vdf(spark, [{"a": None, "b": None}, {"a": 1, "b": None}]), "root"
    )
    schema = out.schemas["root"]
    assert schema.columns["a"] == "int"
    assert schema.columns["b"] == "none"
    vals = sorted(rows(out["root"]), key=str)
    assert [r["a"] for r in vals] in ([None, 1], [1, None])
    assert all(r["b"] is None for r in vals)


def test_readme_users_scenario(spark):
    """README.md users: created_at int epoch OR str ISO -> c-int-str;
    nested contact struct flattens; connections scalar array."""
    users = [
        {
            "username": "ada",
            "created_at": 1596751499,
            "contact": {"email_address": "a@x.com", "phone_number": 5551234},
            "connections": ["bob"],
        },
        {
            "username": "bob",
            "created_at": "2020-08-06T21:04:58",
            "contact": {
                "email_address": "b@x.com",
                "phone_number": 5559876,
                "address": {"city": "Springfield"},
            },
            "connections": [],
        },
    ]
    out = relationalize_json(vdf(spark, users), "users", key_cols=None)
    assert set(out.tables) == {"users", "users_connections"}
    s = out.schemas["users"].columns
    assert s["created_at"] == "c-int-str"
    assert s["contact_email_address"] == "str"
    assert s["contact_address_city"] == "str"
    parents = {r["username"]: r for r in rows(out["users"])}
    assert parents["ada"]["created_at_int"] == 1596751499
    assert parents["bob"]["created_at_str"] == "2020-08-06T21:04:58"
    # empty array still got a rid; only ada has a child row
    assert parents["bob"]["connections"] is not None
    children = rows(out["users_connections"])
    assert len(children) == 1
    assert children[0]["connections__val_"] == "bob"
    assert children[0]["connections__rid_"] == parents["ada"]["connections"]


def test_nested_array_of_arrays_json(spark):
    out = relationalize_json(vdf(spark, [{"1": [[1], [2, "x"]]}]), "root")
    assert set(out.tables) == {"root", "root_1", "root_1__val_"}
    leaves = rows(out["root_1__val_"])
    # mixed int/str element -> choice on the grandchild value column
    s = out.schemas["root_1__val_"].columns
    assert s["1__val___val_"] == "c-int-str"
    got = {(r["1__val___val__int"], r["1__val___val__str"]) for r in leaves}
    assert got == {(1, None), (2, None), (None, "x")}


def test_mock_lms_shape(spark, tmp_path):
    """mock LMS users fixture shape written as real JSONL on disk."""
    lines = [
        {
            "user_id": "u1",
            "created_at": 1600000000,
            "name": "A",
            "email": "a@x.com",
            "enrollments": [
                {"course_id": "c1", "timestamp": 1600000001},
                {"course_id": "c2", "timestamp": 1600000002},
            ],
        },
        {
            "user_id": "u2",
            "created_at": 1600000003,
            "name": "B",
            "email": "b@x.com",
            "enrollments": [],
        },
    ]
    p = tmp_path / "users.jsonl"
    p.write_text("\n".join(json.dumps(x) for x in lines))
    out = relationalize_json(str(p), "users", spark=spark, key_cols=["user_id"])
    assert set(out.tables) == {"users", "users_enrollments"}
    assert out.schemas["users"].columns == {
        "user_id": "str",
        "created_at": "int",
        "name": "str",
        "email": "str",
        "enrollments": "str",
    }
    assert out.schemas["users_enrollments"].columns == {
        "enrollments_course_id": "str",
        "enrollments_timestamp": "int",
        "enrollments__rid_": "str",
        "enrollments__index_": "int",
    }
    children = sorted(rows(out["users_enrollments"]), key=lambda r: r["enrollments__index_"])
    assert [c["enrollments_course_id"] for c in children] == ["c1", "c2"]
    ddl = out.schemas["users"].generate_ddl("users")
    assert '"created_at" BIGINT' in ddl


def test_static_schema_of_dataframe(spark):
    df = spark.range(3).select(
        F.col("id"),
        F.lit("x").alias("s"),
        F.lit(1.5).alias("f"),
        F.current_timestamp().alias("ts"),
    )
    s = schema_of_dataframe(df)
    assert s.columns == {"id": "int", "s": "str", "f": "float", "ts": "datetime"}


def test_case_sensitive_keys(spark):
    """JSON keys differing only in case are distinct columns (the
    reference's dicts are case-sensitive; Spark's default resolver is
    not — the pipeline scopes case-sensitive analysis internally)."""
    out = relationalize_json(
        vdf(spark, [{"col": 1, "Col": 2, "COL": 3}]), "root"
    )
    [row] = rows(out["root"])
    assert row == {"col": 1, "Col": 2, "COL": 3}
    s = out.schemas["root"]
    assert s.drop_duplicate_columns() == 2  # hygiene op cleans them
    # and the surrounding session's resolver setting is untouched
    assert spark.conf.get("spark.sql.caseSensitive") == "false"


def test_generated_ddl_loads_into_duckdb(spark, tmp_path):
    """End-to-end warehouse load against a REAL engine: relationalize
    mixed-type JSONL, generate duckdb-dialect DDL, create the table,
    load the converted rows, and read them back — proving the DDL and
    the converted layout agree (the reference's Postgres/Redshift
    pipelines, minus the network)."""
    import duckdb

    src = tmp_path / "users.jsonl"
    src.write_text(
        "\n".join(
            [
                '{"id": 1, "joined": "2020-01-01", "score": 7, "active": true}',
                '{"id": 2, "joined": 1577836800, "score": 6.5, "active": false}',
                '{"id": 3, "joined": null, "score": null, "active": true}',
            ]
        )
    )
    out = relationalize_json(str(src), "users", spark=spark, key_cols=["id"])
    from relationalize_spark.dialects import DUCKDB

    users = out["users"]
    sch = out.schemas["users"]
    sch.dialect = DUCKDB
    ddl = sch.generate_ddl("users", schema="main")

    con = duckdb.connect()
    con.execute(ddl)
    cols = sorted(users.columns)
    pdf = users.select(*cols).toPandas()
    con.register("src_rows", pdf)
    con.execute(
        f"INSERT INTO main.users ({', '.join(cols)}) "
        f"SELECT {', '.join(cols)} FROM src_rows"
    )
    back = con.sql("SELECT * FROM main.users ORDER BY id").df()
    assert back.shape[0] == 3
    # choice column joined -> int/str split survived typed load
    assert {"joined_int", "joined_str"} <= set(back.columns)
    assert back.loc[0, "joined_str"] == "2020-01-01"
    assert back.loc[1, "joined_int"] == 1577836800
    assert bool(back.loc[2, "active"]) is True
