"""Golden-output lock for the dynamic JSON pipeline.

``relationalize_json`` runs on a fixed set of seeded corpora and its
observable output is compared with a recorded fixture
(``tests/fixtures/parity_lock/<corpus>.json``): the table set, every
table's column order, the ``Schema`` tags in order, and every table's
rows, canonicalized by ``canonicalize`` (rids relabelled by their
parent/child linkage, nulls dropped, rows sorted).

The corpora cover the deep, wide and collision-heavy shapes of the
differential suite (``gen_corpus``, ``gen_wide_corpus``) and small
versions of the two perfbench shapes, so any change to how the
pipeline analyses or plans a corpus must leave every output
byte-for-byte the same. One ~100-object corpus runs in the default
lane; the rest are slow-marked.

Regenerate the fixtures (only when an output change is intended) with

    python tests/test_parity_lock.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "parity_lock")
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "perfbench")]

from corpora import bulk_nested, stream_demux  # noqa: E402
from test_differential_reference import (  # noqa: E402
    canonicalize,
    gen_corpus,
    gen_wide_corpus,
)


def _with_seq(lines: list[str]) -> list[dict]:
    # canonicalize anchors root rows on a unique ``_seq``
    return [dict(json.loads(line), _seq=i) for i, line in enumerate(lines)]


def _stream_objects() -> list[dict]:
    batches, _ = stream_demux(7, 4, 30)
    return _with_seq([line for batch in batches for line in batch])


#: corpus name -> objects; the first one runs in the default lane
CORPORA = {
    "deep_s7_100": lambda: gen_corpus(7, 100),
    "deep_s101_150": lambda: gen_corpus(101, 150),
    "deep_s202_150": lambda: gen_corpus(202, 150),
    "deep_s303_150": lambda: gen_corpus(303, 150),
    "wide_s20260815_250": lambda: gen_wide_corpus(20260815, 250),
    "bulk_s7_80": lambda: _with_seq(bulk_nested(7, 80)[0]),
    "stream_s7_120": _stream_objects,
}
FAST = "deep_s7_100"


def build(spark, objs: list[dict], path: str) -> dict:
    """The observable output of ``relationalize_json`` on ``objs``."""
    from relationalize_spark.sources.jsonl import relationalize_json

    with open(path, "w", encoding="utf-8") as f:
        for o in objs:
            f.write(json.dumps(o) + "\n")
    res = relationalize_json(path, "root", spark=spark)
    try:
        rows = {t: [r.asDict() for r in df.collect()] for t, df in res.tables.items()}
        return {
            "tables": sorted(res.tables),
            "columns": {t: res.tables[t].columns for t in sorted(res.tables)},
            "schemas": {t: list(res.schemas[t].columns.items()) for t in sorted(res.tables)},
            "rows": canonicalize(rows),
        }
    finally:
        res.unpersist()


def _fixture_path(name: str) -> str:
    return os.path.join(FIXTURES, f"{name}.json")


def _normalize(out: dict) -> dict:
    # the fixture's JSON form: tuples become lists, keys sort
    return json.loads(json.dumps(out, sort_keys=True))


@pytest.mark.parametrize(
    "corpus",
    [c if c == FAST else pytest.param(c, marks=pytest.mark.slow) for c in CORPORA],
)
def test_output_matches_golden(spark, tmp_path, corpus):
    with open(_fixture_path(corpus), encoding="utf-8") as f:
        golden = json.load(f)
    got = _normalize(build(spark, CORPORA[corpus](), str(tmp_path / "in.jsonl")))
    assert got["tables"] == golden["tables"]
    for t in golden["tables"]:
        assert got["columns"][t] == golden["columns"][t], t
        assert got["schemas"][t] == golden["schemas"][t], t
        assert got["rows"][t] == golden["rows"][t], t


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(HERE))
    from relationalize_spark.plans.session import get_spark

    spark = get_spark(app="parity-lock", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(FIXTURES, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        for name, make in CORPORA.items():
            out = _normalize(build(spark, make(), os.path.join(tmp, "in.jsonl")))
            with open(_fixture_path(name), "w", encoding="utf-8") as f:
                json.dump(out, f, sort_keys=True, indent=1, ensure_ascii=False)
                f.write("\n")
            print(name, len(out["tables"]), "tables")
    spark.stop()
