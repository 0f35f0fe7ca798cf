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

A seeded multi-batch stream (``demux_batches``) is locked the same way
through ``JsonStreamDemux``: its ``finalize`` rows, its running
``schemas`` tags, its table set and the error each rejected batch
raises (default lane).

Regenerate the fixtures (only when an output change is intended) with

    python tests/test_parity_lock.py [<fixture name> ...]
"""

from __future__ import annotations

import json
import os
import random
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

#: demux batch kinds, in stream order: structure-stable batches and one
#: batch per kind of structural drift, then two rejected batches. An
#: all-null leaf fits the running analysis; an all-null object does
#: not (cast by itself it is a ``none``-tagged column of its own).
DEMUX_KINDS = [
    "base", "base", "new_top_key", "stable", "new_class", "stable",
    "new_obj_key", "new_elem_class", "all_null_leaf", "all_null_object", "stable",
    "not_objects", "objects_and_scalar", "stable",
]
DEMUX_LINES = 24


def demux_batches(seed: int = 13) -> list[list[str]]:
    """JSON lines per micro-batch of the demux parity corpus. ``v`` is
    an int, an array of ints or an ``{a, b}`` object in every batch, so
    a batch drifts only where its kind says so; ``_seq`` is unique
    across the stream (``canonicalize`` anchors root rows on it)."""
    rng = random.Random(seed)
    seq = 0
    late = False
    out = []
    for kind in DEMUX_KINDS:
        if kind == "not_objects":
            out.append([json.dumps([rng.randint(0, 9)]) for _ in range(DEMUX_LINES)])
            continue
        late = late or kind == "new_top_key"
        lines = []
        for j in range(DEMUX_LINES):
            m = j % 3
            if m == 0:
                v = rng.randint(0, 999)
                if kind == "new_class" and j % 2:
                    v = rng.random() < 0.5
            elif m == 1:
                v = [rng.randint(0, 9) for _ in range(rng.randint(0, 3))]
                if kind == "new_elem_class":
                    v.append(rng.choice(["x", "y"]))
            else:
                a = rng.choice([rng.randint(0, 99), round(rng.uniform(0, 9), 2), "na"])
                v = {"a": a, "b": rng.choice(["lo", "hi"])}
                if kind == "new_obj_key":
                    v["c"] = rng.randint(0, 5)
            o = {
                "_seq": seq,
                "k": rng.randint(0, 10**6),
                "v": v,
                "tags": rng.sample(["p", "q", "r"], rng.randint(0, 2)),
                "o": {"x": rng.randint(0, 50), "y": rng.choice(["s", "t"])},
            }
            if late:
                o["late"] = f"L{rng.randrange(100)}"
            if kind == "all_null_leaf":
                o["o"]["x"] = None
                if late:
                    o["late"] = None
            if kind == "all_null_object":
                o["o"] = None
            lines.append(json.dumps(o))
            seq += 1
        if kind == "objects_and_scalar":
            lines.insert(DEMUX_LINES // 2, "7")
        out.append(lines)
    return out


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


def build_demux(spark, batches: list[list[str]], base: str) -> dict:
    """The observable output of a ``JsonStreamDemux`` fed ``batches``:
    each rejected batch's error, then the running schemas and the
    canonicalized ``finalize`` rows."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    demux = JsonStreamDemux(base, "root")
    errors = {}
    for i, lines in enumerate(batches):
        batch = spark.createDataFrame([(line,) for line in lines], "value string")
        try:
            demux.process_batch(batch, i)
        except ValueError as e:
            errors[str(i)] = str(e)
    tables = demux.finalize(spark)
    rows = {t: [r.asDict() for r in df.collect()] for t, df in tables.items()}
    return {
        "tables": sorted(tables),
        "columns": {t: tables[t].columns for t in sorted(tables)},
        "schemas": {t: list(demux.schemas[t].columns.items()) for t in sorted(tables)},
        "errors": errors,
        "rows": canonicalize(rows),
    }


DEMUX_FIXTURE = "demux_s13"


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


def test_demux_output_matches_golden(spark, tmp_path):
    with open(_fixture_path(DEMUX_FIXTURE), encoding="utf-8") as f:
        golden = json.load(f)
    got = _normalize(build_demux(spark, demux_batches(), str(tmp_path / "demux")))
    assert got["errors"] == golden["errors"]
    assert got["tables"] == golden["tables"]
    for t in golden["tables"]:
        assert got["columns"][t] == golden["columns"][t], t
        assert got["schemas"][t] == golden["schemas"][t], t
        assert got["rows"][t] == golden["rows"][t], t


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(HERE))
    from relationalize_spark.plans.session import get_spark

    # regenerate the named fixtures, or all of them
    names = sys.argv[1:] or [*CORPORA, DEMUX_FIXTURE]
    spark = get_spark(app="parity-lock", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(FIXTURES, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        for name in names:
            if name == DEMUX_FIXTURE:
                out = build_demux(spark, demux_batches(), os.path.join(tmp, name))
            else:
                out = build(spark, CORPORA[name](), os.path.join(tmp, f"{name}.jsonl"))
            out = _normalize(out)
            with open(_fixture_path(name), "w", encoding="utf-8") as f:
                json.dump(out, f, sort_keys=True, indent=1, ensure_ascii=False)
                f.write("\n")
            print(name, len(out["tables"]), "tables")
    spark.stop()
