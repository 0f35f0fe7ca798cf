"""Relationalize golden tests, mirroring reference test/relationalize.test.py.

Each CASE mirrors the reference's fixture shapes (FIXTURES.md §A).
Deterministic hash rids make exact assertions possible; referential
integrity (parent cell == every child ``__rid_``) and ``__index_``
order are asserted the same way the reference tests do.
"""

import json
import re

import pytest

from relationalize_spark import relationalize

RID_RE = re.compile(r"^R_[a-f0-9]{32}$")


def df_from_json(spark, objs):
    return spark.read.json(spark.sparkContext.parallelize([json.dumps(o) for o in objs]))


def rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_case1_flat_passthrough(spark):
    out = relationalize(df_from_json(spark, [{"1": 1, "2": "foobar", "3": False, "4": 1.2}]), "root")
    assert set(out) == {"root"}
    assert rows(out["root"]) == [{"1": 1, "2": "foobar", "3": False, "4": 1.2}]


def test_case3_scalar_array(spark):
    out = relationalize(df_from_json(spark, [{"1": [1, 2], "2": "foobar"}]), "root")
    assert set(out) == {"root", "root_1"}
    [parent] = rows(out["root"])
    assert parent["2"] == "foobar"
    rid = parent["1"]
    assert RID_RE.match(rid)
    children = sorted(rows(out["root_1"]), key=lambda r: r["1__index_"])
    assert children == [
        {"1__val_": 1, "1__rid_": rid, "1__index_": 0},
        {"1__val_": 2, "1__rid_": rid, "1__index_": 1},
    ]


def test_case4_struct_array(spark):
    out = relationalize(
        df_from_json(
            spark,
            [{"1": [{"2": "foobar", "3": 1}, {"2": "barfoo", "3": 3}], "2": "foobar"}],
        ),
        "root",
    )
    assert set(out) == {"root", "root_1"}
    [parent] = rows(out["root"])
    rid = parent["1"]
    assert RID_RE.match(rid)
    children = sorted(rows(out["root_1"]), key=lambda r: r["1__index_"])
    assert children == [
        {"1_2": "foobar", "1_3": 1, "1__rid_": rid, "1__index_": 0},
        {"1_2": "barfoo", "1_3": 3, "1__rid_": rid, "1__index_": 1},
    ]


def test_case5_array_of_arrays(spark):
    out = relationalize(df_from_json(spark, [{"1": [[1], [2, 3]]}]), "root")
    assert set(out) == {"root", "root_1", "root_1__val_"}
    [parent] = rows(out["root"])
    rid1 = parent["1"]
    mids = sorted(rows(out["root_1"]), key=lambda r: r["1__index_"])
    assert [m["1__rid_"] for m in mids] == [rid1, rid1]
    assert [m["1__index_"] for m in mids] == [0, 1]
    inner_rids = [m["1__val_"] for m in mids]
    assert all(RID_RE.match(r) for r in inner_rids)
    assert inner_rids[0] != inner_rids[1]
    leaves = sorted(
        rows(out["root_1__val_"]),
        key=lambda r: (r["1__val___rid_"] != inner_rids[0], r["1__val___index_"]),
    )
    assert leaves == [
        {"1__val___val_": 1, "1__val___rid_": inner_rids[0], "1__val___index_": 0},
        {"1__val___val_": 2, "1__val___rid_": inner_rids[1], "1__val___index_": 0},
        {"1__val___val_": 3, "1__val___rid_": inner_rids[1], "1__val___index_": 1},
    ]


def test_case6_scalar_array_inside_struct_array(spark):
    out = relationalize(
        df_from_json(
            spark,
            [
                {
                    "1": [
                        {"2": "foobar", "3": [1, 2]},
                        {"2": "barfoo", "3": [3, 4]},
                    ],
                    "2": "foobar",
                }
            ],
        ),
        "root",
    )
    assert set(out) == {"root", "root_1", "root_1_3"}
    [parent] = rows(out["root"])
    rid = parent["1"]
    mids = sorted(rows(out["root_1"]), key=lambda r: r["1__index_"])
    assert [m["1_2"] for m in mids] == ["foobar", "barfoo"]
    assert all(m["1__rid_"] == rid for m in mids)
    leaf_rids = [m["1_3"] for m in mids]
    assert all(RID_RE.match(r) for r in leaf_rids)
    leaves = rows(out["root_1_3"])
    by_rid = {}
    for leaf in leaves:
        by_rid.setdefault(leaf["1_3__rid_"], []).append(leaf)
    assert sorted(
        v["1_3__val_"] for v in by_rid[leaf_rids[0]]
    ) == [1, 2]
    assert sorted(
        v["1_3__val_"] for v in by_rid[leaf_rids[1]]
    ) == [3, 4]


def test_case7_pure_struct_flatten(spark):
    out = relationalize(df_from_json(spark, [{"1": {"2": 1, "3": "foobar"}}]), "root")
    assert set(out) == {"root"}
    assert rows(out["root"]) == [{"1_2": 1, "1_3": "foobar"}]


def test_case8_array_of_arrays_of_structs(spark):
    out = relationalize(
        df_from_json(spark, [{"1": [[{"2": 3}, {"2": 4}], [{"2": 5}, {"2": 6}]]}]),
        "root",
    )
    assert set(out) == {"root", "root_1", "root_1__val_"}
    [parent] = rows(out["root"])
    mids = sorted(rows(out["root_1"]), key=lambda r: r["1__index_"])
    assert all(m["1__rid_"] == parent["1"] for m in mids)
    leaves = rows(out["root_1__val_"])
    assert {leaf["1__val__2"] for leaf in leaves} == {3, 4, 5, 6}
    grouped = {}
    for leaf in leaves:
        grouped.setdefault(leaf["1__val___rid_"], []).append(leaf)
    assert set(grouped) == {m["1__val_"] for m in mids}
    for members in grouped.values():
        assert sorted(m["1__val___index_"] for m in members) == [0, 1]


def test_empty_array_keeps_rid_with_zero_children(spark):
    out = relationalize(
        df_from_json(spark, [{"id": "a", "xs": [1]}, {"id": "b", "xs": []}]),
        "root",
        key_cols=["id"],
    )
    parents = {r["id"]: r for r in rows(out["root"])}
    assert RID_RE.match(parents["a"]["xs"])
    assert RID_RE.match(parents["b"]["xs"])  # rid minted even for []
    children = rows(out["root_xs"])
    assert len(children) == 1
    assert children[0]["xs__rid_"] == parents["a"]["xs"]


def test_null_array_gives_null_cell_and_no_children(spark):
    out = relationalize(
        df_from_json(spark, [{"id": "a", "xs": [7]}, {"id": "b", "xs": None}]),
        "root",
        key_cols=["id"],
    )
    parents = {r["id"]: r for r in rows(out["root"])}
    assert parents["b"]["xs"] is None
    assert len(rows(out["root_xs"])) == 1


def test_rids_are_deterministic_across_recomputation(spark):
    df = df_from_json(spark, [{"id": "a", "xs": [1, 2]}])
    out1 = relationalize(df, "root", key_cols=["id"])
    out2 = relationalize(df, "root", key_cols=["id"])
    assert rows(out1["root"]) == rows(out2["root"])
    assert sorted(rows(out1["root_xs"]), key=str) == sorted(rows(out2["root_xs"]), key=str)


def test_flatten_collision_last_write_wins(spark):
    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            ST.StructField("a_b", ST.LongType()),
            ST.StructField(
                "a", ST.StructType([ST.StructField("b", ST.LongType())])
            ),
        ]
    )
    df = spark.createDataFrame([(2, (1,))], schema)
    out = relationalize(df, "root")
    assert rows(out["root"]) == [{"a_b": 1}]


def test_generated_link_columns_win_over_user_fields(spark):
    """A list-element struct carrying user fields ``_rid_``/``_index_``
    would flatten onto exactly the generated ``xs__rid_``/
    ``xs__index_``. The reference writes its injected keys INTO the
    element dict (reference relationalize.py:82-93), so the generated
    values win and the user fields are gone."""
    df = spark.createDataFrame(
        [(1, [(7, "user", 99), (8, "user", 98)])],
        "id long, xs array<struct<v: long, _rid_: string, _index_: long>>",
    )
    out = relationalize(df, "root", key_cols=["id"])
    assert set(out) == {"root", "root_xs"}
    [parent] = rows(out["root"])
    rid = parent["xs"]
    assert RID_RE.match(rid)
    assert out["root_xs"].columns == ["xs_v", "xs__rid_", "xs__index_"]
    children = sorted(rows(out["root_xs"]), key=lambda r: r["xs__index_"])
    assert children == [
        {"xs_v": 7, "xs__rid_": rid, "xs__index_": 0},
        {"xs_v": 8, "xs__rid_": rid, "xs__index_": 1},
    ]


def test_uuid_mode(spark):
    df = df_from_json(spark, [{"id": "a", "xs": [1, 2]}])
    out = relationalize(df, "root", rid_mode="uuid")
    [parent] = rows(out["root"])
    children = rows(out["root_xs"])
    assert all(c["xs__rid_"] == parent["xs"] for c in children)
    assert RID_RE.match(parent["xs"])


def test_uuid_mode_leaves_no_cache_and_keeps_links(spark):
    """uuid rids are pinned per level without a CacheManager entry that
    nobody frees, and every child row still finds exactly one parent
    row by its rid."""
    spark.catalog.clearCache()  # entries earlier tests left are not this test's
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame(
        [(1, [[1, 2], [3]], [4, 5]), (2, [[6], []], []), (3, None, [7])],
        "id long, a array<array<int>>, b array<int>",
    )
    out = relationalize(df, "root", key_cols=["id"], rid_mode="uuid")
    assert set(out) == {"root", "root_a", "root_a__val_", "root_b"}
    counts = {n: t.count() for n, t in out.items()}
    assert counts == {"root": 3, "root_a": 4, "root_a__val_": 4, "root_b": 3}
    assert cache.isEmpty()
    for parent, col, child in (
        ("root", "a", "root_a"),
        ("root", "b", "root_b"),
        ("root_a", "a__val_", "root_a__val_"),
    ):
        p, c = out[parent], out[child]
        # every child row joins one parent row, and parent rids are unique
        assert p.join(c, p[f"`{col}`"] == c[f"`{col}__rid_`"]).count() == counts[child]
        rids = p.select(col).where(p[f"`{col}`"].isNotNull())
        assert rids.distinct().count() == rids.count()


def test_weird_column_names(spark):
    """JSON keys with dots, spaces, and backticks must survive the
    schema-driven flatten/explode planning."""
    out = relationalize(
        df_from_json(
            spark,
            [{"a.b": 1, "c d": {"e`f": 2}, "list col": [{"x.y": 3}]}],
        ),
        "root",
    )
    assert set(out) == {"root", "root_list col"}
    [parent] = rows(out["root"])
    assert parent["a.b"] == 1
    assert parent["c d_e`f"] == 2
    assert RID_RE.match(parent["list col"])
    [child] = rows(out["root_list col"])
    assert child["list col_x.y"] == 3
    assert child["list col__rid_"] == parent["list col"]


def test_map_column_splits_into_child_table(spark):
    from relationalize_spark.operators.relationalize import relationalize

    df = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"c": 3}), (3, None), (4, {})],
        "id long, props map<string,int>",
    )
    tables = relationalize(df, "t", key_cols=["id"])
    assert set(tables) == {"t", "t_props"}
    parent = {r.id: r.props for r in tables["t"].collect()}
    assert parent[3] is None
    assert parent[4] is not None and parent[4].startswith("R_")
    child = tables["t_props"].collect()
    assert sorted(tables["t_props"].columns) == sorted(
        ["props__key_", "props__val_", "props__rid_", "props__index_"]
    )
    # rows link back to the parent cell rid; empty map has no rows
    by_rid = {}
    for r in child:
        by_rid.setdefault(r.props__rid_, []).append((r.props__key_, r.props__val_))
    assert sorted(by_rid[parent[1]]) == [("a", 1), ("b", 2)]
    assert sorted(by_rid[parent[2]]) == [("c", 3)]
    assert parent[4] not in by_rid
    assert len(child) == 3


def test_map_of_struct_values_recurses(spark):
    from relationalize_spark.operators.relationalize import relationalize

    df = spark.createDataFrame(
        [(1, {"x": {"u": 5, "tags": ["p", "q"]}})],
        "id long, m map<string,struct<u:int,tags:array<string>>>",
    )
    tables = relationalize(df, "t", key_cols=["id"])
    assert set(tables) == {"t", "t_m", "t_m__val__tags"}
    row = tables["t_m"].collect()[0]
    assert row.m__key_ == "x" and row.m__val__u == 5
    grand = tables["t_m__val__tags"].collect()
    assert sorted(r["m__val__tags__val_"] for r in grand) == ["p", "q"]


def test_roundtrip_property_random_nested(spark):
    """Round-trip property on randomized nested rows: re-nesting every
    child table by (rid, index) reconstructs the original arrays
    exactly — checked over a deterministic pseudo-random batch that
    mixes empty/null arrays, struct elements, maps, and duplicates."""
    import random

    from pyspark.sql import functions as F

    from relationalize_spark.operators.relationalize import relationalize

    rng = random.Random(20260813)
    rows = []
    for i in range(200):
        arr = (
            None
            if rng.random() < 0.15
            else [
                {"v": rng.randint(-5, 5), "s": rng.choice(["a", "b", None])}
                for _ in range(rng.randint(0, 4))
            ]
        )
        m = None if rng.random() < 0.2 else {
            rng.choice("xyz"): rng.randint(0, 9)
            for _ in range(rng.randint(0, 3))
        }
        rows.append((i, arr, m))
    df = spark.createDataFrame(
        rows,
        "id long, items array<struct<v:int,s:string>>, props map<string,int>",
    )
    tables = relationalize(df, "r", key_cols=["id"])
    parent, items, props = tables["r"], tables["r_items"], tables["r_props"]

    renested = (
        parent.join(
            items.groupBy("items__rid_").agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "items__index_",
                            F.struct(
                                F.col("items_v").alias("v"),
                                F.col("items_s").alias("s"),
                            ).alias("e"),
                        )
                    )
                ).alias("pairs")
            ),
            parent.items == F.col("items__rid_"),
            "left",
        )
        .select(
            "id",
            F.when(
                F.col("items").isNotNull(),
                F.coalesce(
                    F.transform("pairs", lambda p: p.e),
                    F.array().cast("array<struct<v:int,s:string>>"),
                ),
            ).alias("rebuilt"),
        )
        .collect()
    )
    orig = {r[0]: r[1] for r in rows}
    for row in renested:
        want = orig[row.id]
        got = (
            None
            if row.rebuilt is None
            else [{"v": e.v, "s": e.s} for e in row.rebuilt]
        )
        assert got == want, (row.id, got, want)

    # map side: entry multiset per parent row matches the source dict
    m_renested = {
        r.id: r.entries
        for r in parent.join(
            props.groupBy("props__rid_").agg(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(F.struct("props__key_", "props__val_"))
                    )
                ).alias("entries")
            ),
            parent.props == F.col("props__rid_"),
            "left",
        )
        .select("id", "entries")
        .collect()
    }
    for i, _, m in rows:
        got = m_renested.get(i)
        if m is None:
            assert got is None
        else:
            assert (got or {}) == m, (i, got, m)
