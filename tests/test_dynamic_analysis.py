"""The dynamic pipeline's corpus analysis: degenerate corpora and
path-keyed position stats (``operators/relationalize.py``)."""

import importlib

import pytest

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
    # the raise releases the persisted parse
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
