"""The dynamic pipeline's corpus analysis: degenerate corpora,
path-keyed position stats (``operators/relationalize.py``) and the
typed-frame cache the output tables read (``sources/jsonl.py``)."""

import importlib
import re

import pytest
from pyspark.sql import functions as F

from relationalize_spark.sources.jsonl import relationalize_json


def _write(tmp_path, lines):
    p = tmp_path / "in.jsonl"
    p.write_text("".join(line + "\n" for line in lines))
    return str(p)


# -- degenerate corpora: exact errors and outputs ------------------------------

@pytest.mark.parametrize(
    "lines, message",
    [
        (["[1, 2]", "[3]"], "got array ()"),
        (["5", "6"], "got leaf (BIGINT)"),
        (['{"a": 1}', "7", '{"a": 2}'], "got leaf (VARIANT)"),
        ([], "got leaf (VOID)"),
        (["null", "null"], "got leaf (VOID)"),
    ],
    ids=["top_level_array", "top_level_scalar", "objects_and_scalar", "empty_file", "all_null"],
)
def test_degenerate_corpus_raises(spark, tmp_path, lines, message):
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError) as exc:
        relationalize_json(_write(tmp_path, lines), "root", spark=spark)
    assert type(exc.value) is ValueError
    assert str(exc.value) == f"top-level JSON must be objects, {message}"
    # a raise leaves nothing cached
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached


def test_all_empty_objects_give_columnless_root(spark, tmp_path):
    out = relationalize_json(_write(tmp_path, ["{}", "{}"]), "root", spark=spark)
    assert list(out.tables) == ["root"]
    assert out["root"].columns == []
    assert out["root"].count() == 2
    assert out.schemas["root"].columns == {}
    out.unpersist()


# -- path-keyed stats ------------------------------------------------------------

def test_flattened_name_collision_keeps_plain_key_stats(spark, tmp_path):
    """``a.b`` (int/str) flattens to ``a_b`` next to a plain ``a_b``
    key (float/int): the plain key wins the name (last write wins) and
    its own tags, not ``a.b``'s."""
    out = relationalize_json(
        _write(tmp_path, ['{"a": {"b": 1}, "a_b": 1.5}', '{"a": {"b": "s"}, "a_b": 2}']),
        "root",
        spark=spark,
    )
    assert out.schemas["root"].columns == {"a_b": "c-float-int"}
    got = {(r["a_b_float"], r["a_b_int"]) for r in out["root"].collect()}
    assert got == {(None, 2), (1.5, None)}
    out.unpersist()


def test_conflict_inside_conflicted_branch_takes_two_rounds(spark, tmp_path, monkeypatch):
    """``v[].a.b`` is a VARIANT position that only the stats of
    ``v[]`` reveal, and the first round's lookahead reaches ``v[]``
    but not ``v[].a.b``: the build runs exactly one more round."""
    rel = importlib.import_module("relationalize_spark.operators.relationalize")

    rounds = []
    stats_round = rel._stats_round

    def counting(df, positions):
        rounds.append(sorted(map(str, positions)))
        return stats_round(df, positions)

    monkeypatch.setattr(rel, "_stats_round", counting)
    out = relationalize_json(
        _write(
            tmp_path,
            ['{"v": [{"a": {"b": 1}}]}', '{"v": [{"a": {"b": "x"}}, 3]}', '{"v": 5}'],
        ),
        "root",
        spark=spark,
    )
    assert len(rounds) == 2, rounds
    assert out.schemas["root_v"].columns["v_a_b"] == "c-int-str"
    got = {
        (r["v__index_"], r["v_a_b_int"], r["v_a_b_str"], r["v__val_"])
        for r in out["root_v"].collect()
    }
    assert got == {(0, None, "x", None), (0, 1, None, None), (1, None, None, 3)}
    out.unpersist()


# -- the typed-frame cache ---------------------------------------------------------

# bulk_nested's shape: a fractional-or-int ``total``, a struct-derived
# int/str conflict ``cust.tier``, an always-fractional element field
# ``items[].price`` and a grandchild ``items[].tags``
_ORDERS = [
    '{"id": 1, "total": 10, "cust": {"id": 7, "tier": 1},'
    ' "items": [{"sku": "a", "price": 1.505, "tags": ["x", "y"]}]}',
    '{"id": 2, "total": 12.5, "cust": {"id": 8, "tier": "gold"},'
    ' "items": [{"sku": "b", "price": 2.255, "tags": []},'
    ' {"sku": "c", "price": 3.5, "tags": ["z"]}]}',
]


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _plan(df):
    """``(node names, expression strings)`` of ``df``'s physical plan.
    An ``InMemoryTableScan`` is a leaf here: the plan that filled the
    cache is not walked."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    names, exprs, todo = [], [], [plan]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        exprs.append(node.expressions().toString())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names, exprs


def test_caller_cache_is_untouched(spark):
    src = spark.createDataFrame(
        [('{"a": 1, "b": [1, 2]}',), ('{"a": "x"}',)], "value string"
    ).select(F.parse_json("value").alias("v")).persist()
    src.count()
    level = src.storageLevel
    relationalize_json(src, "root").unpersist()
    assert src.is_cached
    assert src.storageLevel == level
    src.unpersist()


def test_typed_cache_is_released(spark, tmp_path):
    cached = _persisted(spark)
    out = relationalize_json(_write(tmp_path, _ORDERS), "orders", spark=spark, key_cols=["id"])
    # the stats round filled the one typed cache
    assert _persisted(spark) == cached + 1
    assert {t: df.count() for t, df in out.tables.items()} == {
        "orders": 2, "orders_items": 3, "orders_items_tags": 3,
    }
    out.unpersist()
    assert _persisted(spark) == cached


def test_too_deep_nesting_releases_typed_cache(spark, tmp_path, monkeypatch):
    """24 levels of arrays raise while planning, after the stats round
    (``x`` is a VARIANT position) has filled the typed cache."""
    rel = importlib.import_module("relationalize_spark.operators.relationalize")
    after_round = []
    stats_round = rel._stats_round

    def recording(df, positions):
        stats = stats_round(df, positions)
        after_round.append(_persisted(spark))
        return stats

    monkeypatch.setattr(rel, "_stats_round", recording)
    cached = _persisted(spark)
    deep = "[" * 24 + "1" + "]" * 24
    with pytest.raises(ValueError, match=r"^nesting exceeds 24 levels while planning"):
        relationalize_json(
            _write(tmp_path, ['{"x": 1.5, "a": %s}' % deep, '{"x": 2}']), "root", spark=spark
        )
    assert after_round == [cached + 1]
    assert _persisted(spark) == cached


def test_tables_read_the_typed_cache(spark, tmp_path):
    """No output table re-runs the whole-object cast of the parse
    column ``v``: each reads the typed frame's in-memory scan."""
    out = relationalize_json(_write(tmp_path, _ORDERS), "orders", spark=spark, key_cols=["id"])
    assert list(out.tables) == ["orders", "orders_items", "orders_items_tags"]
    for t, df in out.tables.items():
        names, exprs = _plan(df)
        assert "InMemoryTableScan" in names, (t, names)
        assert not [e for e in exprs if re.search(r"\bv#\d+", e)], (t, exprs)
    out.unpersist()


def test_scalar_only_variant_column_skips_object_strip(spark, tmp_path):
    """``items_price`` holds only floats: no per-row object strip."""
    out = relationalize_json(_write(tmp_path, _ORDERS), "orders", spark=spark, key_cols=["id"])
    _, exprs = _plan(out["orders_items"])
    assert not [e for e in exprs if "SchemaOfVariant" in e], exprs
    out.unpersist()
