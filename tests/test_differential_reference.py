"""Differential fuzz against the ACTUAL reference implementation.

The reference package is pure Python and sits importable at
/root/reference; until r5 the repo only mirrored its 8 published test
CASEs (reference test/relationalize.test.py:11-28) and
hypothesis-tested its own algebra. This suite runs BOTH pipelines on
the same randomized nested JSON and diffs everything observable:

- the set of output tables,
- every table's row multiset (rids canonicalized through the
  parent/child linkage, since the reference generates random uuid4
  rids and this engine deterministic md5 ones — deviation documented
  at operators/relationalize.py:37),
- the inferred Schema dict, the converted (choice-split) rows,
  generate_output_columns(), and the full Postgres CREATE TABLE DDL
  string (both engines render the identical format).

Known, documented equivalences applied before comparison:

- null-vs-absent: the reference distinguishes a key explicitly null
  from a key absent (its rows simply omit absent keys); a DataFrame
  cannot, so null-valued cells are dropped from both sides' rows.
- the reference MUTATES its input objects (it injects `_rid_` /
  `_index_` keys into nested list-element dicts in place, reference
  relationalize.py:82-93) — it gets a deep copy. That same behavior
  is why colliding user keys named `_rid_`/`_index_` are silently
  overwritten by generated values in both engines (regression-pinned
  here with an explicit case).
"""

from __future__ import annotations

import copy
import io
import json
import random
import re
import sys

import pytest

REF_PATH = "/root/reference"


def _load_reference():
    if REF_PATH not in sys.path:
        sys.path.insert(0, REF_PATH)
    try:
        import relationalize as ref  # noqa: F401

        return ref
    except Exception:  # pragma: no cover - environment without the ref
        return None


ref_pkg = _load_reference()
#: slow lane (r10): exclude with -m "not slow" for the fast mid-round
#: loop; the full suite stays the end-of-round gate.
pytestmark = [
    pytest.mark.skipif(
        ref_pkg is None, reason="reference package not importable"
    ),
    pytest.mark.slow,
]

RID_RE = re.compile(r"^R_[0-9a-f]{32}$")


# -- random nested-JSON generator -------------------------------------------

KEYS = [
    "a", "b", "c", "k1", "K1", "tag s", "nested", "items", "müx", "deep",
    # quoting stressors: regex-special, SQL-identifier-special, and
    # Spark-column-path-special characters in key names
    "do.t", "ba`ck", 'qu"ote',
]


def _gen_value(rng: random.Random, depth: int):
    kinds = ["int", "float", "str", "bool", "none", "datestr", "numstr"]
    if depth > 0:
        kinds += ["dict", "list_scalar", "list_dict", "list_list", "list_mixed"]
    kind = rng.choice(kinds)
    if kind == "int":
        return rng.randint(-(10**12), 10**12)
    if kind == "float":
        return round(rng.uniform(-1e6, 1e6), 6)
    if kind == "str":
        return rng.choice(["alpha", "beta gamma", "ünïcode", "", "x" * 40])
    if kind == "bool":
        return rng.random() < 0.5
    if kind == "none":
        return None
    if kind == "datestr":
        return f"20{rng.randint(10, 30)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"
    if kind == "numstr":
        return rng.choice(["123", "1.5", "007", "-4"])
    if kind == "dict":
        return _gen_obj(rng, depth - 1, n_keys=rng.randint(0, 3))
    if kind == "list_scalar":
        return [_gen_scalar(rng) for _ in range(rng.randint(0, 4))]
    if kind == "list_dict":
        return [
            _gen_obj(rng, depth - 1, n_keys=rng.randint(0, 3))
            for _ in range(rng.randint(0, 3))
        ]
    if kind == "list_list":
        return [
            [_gen_scalar(rng) for _ in range(rng.randint(0, 3))]
            for _ in range(rng.randint(0, 3))
        ]
    # list_mixed: scalars of different types (choice __val_ columns)
    return [_gen_scalar(rng) for _ in range(rng.randint(1, 4))]


def _gen_scalar(rng: random.Random):
    return rng.choice(
        [rng.randint(-999, 999), round(rng.uniform(-9, 9), 3), "w", True, None]
    )


def _gen_obj(rng: random.Random, depth: int, n_keys: int) -> dict:
    out = {}
    for _ in range(n_keys):
        out[rng.choice(KEYS)] = _gen_value(rng, depth)
    return out


def gen_corpus(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    corpus = []
    for i in range(n):
        o = _gen_obj(rng, depth=2, n_keys=rng.randint(1, 5))
        o["_seq"] = i  # unique row key (drives deterministic rids)
        corpus.append(o)
    return corpus


# -- reference pipeline -------------------------------------------------------

def run_reference(objs: list[dict]):
    """relationalize -> per-table Schema inference -> convert, all on
    the reference package. Returns {table: (schema_obj, raw_rows,
    converted_rows)}."""
    from relationalize import Relationalize, Schema

    captured: dict[str, str] = {}

    class Buf(io.StringIO):
        def __init__(self, name: str):
            super().__init__()
            self._name = name

        def close(self):  # capture on close — Relationalize closes outputs
            captured[self._name] = self.getvalue()
            super().close()

    with Relationalize("root", create_output=Buf) as r:
        r.relationalize(copy.deepcopy(objs))  # the reference mutates input

    out = {}
    for name, content in captured.items():
        rows = [json.loads(line) for line in content.splitlines() if line]
        s = Schema()
        for row in rows:
            s.read_object(row)
        converted = [s.convert_object(row) for row in rows]
        out[name] = (s, rows, converted)
    return out


# -- spark pipeline -----------------------------------------------------------

def run_spark(spark, objs: list[dict], tmp_path, rid_mode: str = "hash"):
    from relationalize_spark.sources.jsonl import relationalize_json

    p = str(tmp_path / "in.jsonl")
    with open(p, "w") as f:
        for o in objs:
            f.write(json.dumps(o) + "\n")
    res = relationalize_json(p, "root", spark=spark, rid_mode=rid_mode)
    out = {}
    for name, df in res.tables.items():
        rows = [r.asDict() for r in df.collect()]
        out[name] = (res.schemas[name], rows)
    res.unpersist()
    return out


# -- canonicalization ---------------------------------------------------------

def canonicalize(tables: dict[str, list[dict]]) -> dict[str, list[str]]:
    """Relabel every rid by its linkage position so both engines'
    outputs become directly comparable: a rid's label is
    (label-of-parent-row, column); a child row's identity is
    (label-of-its-rid, index). Root rows anchor on their unique _seq.
    Tables are processed parent-before-child (name length order).
    Null-valued cells are dropped (null-vs-absent equivalence)."""
    labels: dict[str, str] = {}

    def row_label(table: str, row: dict) -> str:
        if table == "root":
            return f"root[{row['_seq']}]"
        path = table[len("root_"):]
        rid = row.get(f"{path}__rid_")
        idx = row.get(f"{path}__index_")
        return f"{labels.get(rid, '?' + str(rid))}[{idx}]"

    # two passes: first assign labels to every rid VALUE found in rows
    # (owned by the containing row + column), walking parents first so
    # child-row labels resolve.
    for table in sorted(tables, key=len):
        for row in tables[table]:
            rl = row_label(table, row)
            for col, val in row.items():
                if isinstance(val, str) and RID_RE.match(val) and not col.endswith("_rid_"):
                    labels[val] = f"{rl}.{col}"

    out: dict[str, list[str]] = {}
    for table, rows in tables.items():
        canon = []
        for row in rows:
            new = {}
            for col, val in row.items():
                if val is None:
                    continue  # null-vs-absent equivalence
                if isinstance(val, str) and RID_RE.match(val):
                    new[col] = labels.get(val, "?" + val)
                else:
                    new[col] = val
            canon.append(json.dumps(new, sort_keys=True, ensure_ascii=False))
        out[table] = sorted(canon)
    return out


# -- the differential ---------------------------------------------------------

#: One full-size corpus (the VERDICT bar: >= 1000 objects per run)
#: plus a smaller second seed for shape diversity at tolerable suite
#: runtime (each run costs ~2 Spark jobs per discovered table, and the
#: exotic key pool discovers ~90 tables).
RUNS = [(20260814, 1200), (4242, 400)]


@pytest.mark.parametrize("seed,n_objects", RUNS)
def test_differential_vs_reference(spark, tmp_path, seed, n_objects):
    objs = gen_corpus(seed, n_objects)
    ref = run_reference(objs)
    got_all = run_spark(spark, objs, tmp_path)
    _assert_equivalent(ref, got_all)


def _assert_equivalent(ref, got_all):
    """Full observable-equivalence battery (tables A, rows B, schemas
    C, output columns D, DDL E) shared by every pipeline differential.
    MUTATES ref's schemas (phantom-none normalization) so hygiene
    comparisons can run on the aligned schemas afterwards."""
    # Plan-time vs row-time table discovery (documented deviation):
    # this engine emits a child relation for every array PATH, even
    # when every array at it happened to be empty; the reference only
    # creates an output file on its first written row. Empty tables
    # carry strictly more information, not less — drop them for the
    # comparison and pin that they are the ONLY extra tables.
    got = {t: v for t, v in got_all.items() if v[1]}
    for t in set(got_all) - set(got):
        assert t not in ref or not ref[t][1], t

    # A. same table set
    assert set(ref) == set(got), (set(ref) ^ set(got))

    # B. converted rows, rid-canonicalized, per table
    ref_rows = canonicalize({t: conv for t, (_, _, conv) in ref.items()})
    got_rows = canonicalize({t: rows for t, (_, rows) in got.items()})
    for t in sorted(ref):
        assert ref_rows[t] == got_rows[t], (
            t,
            [x for x in ref_rows[t] if x not in got_rows[t]][:3],
            [x for x in got_rows[t] if x not in ref_rows[t]][:3],
        )

    # C. inferred schema dicts; D. output columns; E. Postgres DDL.
    # One DOCUMENTED schema deviation is normalized first (see
    # relationalize_spark/schema.py module docstring): a key holding
    # an explicit JSON null in one row and an object in another keeps
    # a phantom all-null `none` column in the reference's schema
    # (next to its flattened children — or ALONE when the only object
    # observed was `{}`, which flattens to zero children); this
    # engine's merge absorbs the null into the object branch, so the
    # column vanishes. Assert the diff is EXACTLY that class — a
    # ref-side `none`-typed column absent on our side — then compare
    # with those columns removed. The rule deliberately does NOT
    # prove an object was ever observed at the path (the `{}` shape
    # leaves no schema evidence); the behavior this must not mask —
    # a key that is null in EVERY row keeps its `none` column — is
    # pinned separately by test_all_null_key_keeps_none_column.
    for t in sorted(ref):
        ref_schema, _, _ = ref[t]
        our_schema, _ = got[t]
        rs, os_ = dict(ref_schema.schema), dict(our_schema.columns)

        phantom = {
            k for k in set(rs) - set(os_) if rs[k] == "none"
        }
        for k in phantom:
            del ref_schema.schema[k]
        rs = dict(ref_schema.schema)
        assert rs == os_, (t, {k: (rs.get(k), os_.get(k)) for k in set(rs) ^ set(os_) or set(rs)})
        assert (
            ref_schema.generate_output_columns() == our_schema.output_columns()
        ), t
        # DDL compared under a fixed safe table name: for a table name
        # containing the quote character the engines deliberately
        # differ — this engine escapes it ("qu""ote", valid SQL), the
        # reference interpolates it raw (broken CREATE statement) —
        # the r5 identifier-escaping fix, not a semantic divergence.
        # COLUMN-identifier escaping inside the DDL body is still
        # compared in full (both engines escape column names).
        assert ref_schema.generate_ddl("t") == our_schema.generate_ddl("t"), t
    return got


# -- wide-dynamic fast gate + hygiene edges (r7; VERDICT r6 items 4-5) -------

#: Keys engineered so EVERY one is branch-conflicted somewhere in the
#: corpus, with the hygiene edge cases the r5/r6 verdicts asked to pin
#: differentially: a casefold-duplicate pair (w1/W1), special-char
#: names (drop_special_char_columns targets), and an always-null key.
WIDE_KEYS = [f"w{i}" for i in range(20)] + ["W1", "sp key", "do.t2"]


def gen_wide_corpus(seed: int, n: int) -> list[dict]:
    """200-400 objects, 20+ sibling array paths, every key conflicted
    — the corpus SHAPE that made the r6 fused branch-analysis blow its
    driver heap (many sibling child tables at one nesting level, every
    column variant). Small enough to run in ~1 min against the
    reference, where the 1200-object case (~5 min) is the per-round
    deep check. Without the reference, tests/test_parity_lock.py
    locks this corpus's output (seed 20260815, 250 objects) and is
    the gate for any change to relationalize's analysis or
    _expand_variants."""
    rng = random.Random(seed)
    corpus = []
    for i in range(n):
        o = {"_seq": i, "allnull": None}
        for k in rng.sample(WIDE_KEYS, rng.randint(6, 10)):
            kind = rng.choice(["scalar", "list_scalar", "list_dict", "dict"])
            if kind == "scalar":
                o[k] = _gen_scalar(rng)
            elif kind == "list_scalar":
                o[k] = [_gen_scalar(rng) for _ in range(rng.randint(0, 3))]
            elif kind == "list_dict":
                o[k] = [
                    {
                        "p": _gen_scalar(rng),
                        "q": rng.choice([rng.randint(0, 9), [1, 2], {"z": 1}]),
                    }
                    for _ in range(rng.randint(0, 2))
                ]
            else:
                o[k] = {"f1": _gen_scalar(rng), "f2": rng.choice([3, "s", [4], None])}
        corpus.append(o)
    return corpus


def test_differential_wide_dynamic_with_hygiene(spark, tmp_path):
    """The fast wide-dynamic differential (see gen_wide_corpus), plus
    the column-hygiene pass (O12-O14, ref schema.py:144-192) applied
    to BOTH engines' pipeline-produced schemas: identical dropped-column
    lists, post-drop schemas, and DDL. The corpus guarantees each drop
    fires: `allnull` (null column), `sp key`/`do.t2`/`tag s` paths
    (special chars), w1/W1 (casefold duplicates)."""
    objs = gen_wide_corpus(20260815, 250)
    ref = run_reference(objs)
    got = _assert_equivalent(ref, run_spark(spark, objs, tmp_path))
    for t in sorted(ref):
        ref_schema, _, _ = ref[t]  # phantom-normalized by _assert_equivalent
        our_schema, _ = got[t]
        assert ref_schema.drop_null_columns() == our_schema.drop_null_columns(), t
        assert (
            ref_schema.drop_special_char_columns()
            == our_schema.drop_special_char_columns()
        ), t
        assert (
            ref_schema.drop_duplicate_columns()
            == our_schema.drop_duplicate_columns()
        ), t
        # Casefold-duplicate survivor DEVIATION (schema.py
        # drop_duplicate_columns docstring): the reference keeps the
        # row-arrival-first member, the pipeline the sorted-first one.
        # Assert any post-drop diff is EXACTLY such pairs, remove
        # them from both sides, then compare the rest in full.
        only_ref = set(ref_schema.schema) - set(our_schema.columns)
        only_ours = set(our_schema.columns) - set(ref_schema.schema)
        assert {k.casefold() for k in only_ref} == {
            k.casefold() for k in only_ours
        }, t
        for k in only_ref:
            del ref_schema.schema[k]
        for k in only_ours:
            del our_schema.columns[k]
        assert dict(ref_schema.schema) == dict(our_schema.columns), t
        assert ref_schema.generate_ddl("t") == our_schema.generate_ddl("t"), t


def test_differential_uuid_rid_mode(spark, tmp_path):
    """One seeded corpus end-to-end with rid_mode='uuid' (the
    reference-exact randomness mode, carried r5 item 7): uuid rids are
    R_+32hex like hash rids, so the same linkage canonicalization
    applies and the full battery must hold — pins that the uuid lane's
    per-level cache keeps parent and child rid values consistent."""
    objs = gen_corpus(777, 300)
    ref = run_reference(objs)
    _assert_equivalent(ref, run_spark(spark, objs, tmp_path, rid_mode="uuid"))


def test_all_null_key_keeps_none_column(spark, tmp_path):
    """Guard for the phantom-none normalization above: a key that is
    null in EVERY row (never an object) must KEEP its `none` column on
    BOTH engines — in every shape the relaxed phantom rule could
    otherwise excuse (ADVICE r7): top-level, inside list-element
    dicts, under a flattened object branch, under a DEEP object
    branch, and under an object inside a list-element dict — so the
    rule cannot mask an engine regression that drops all-null columns
    outright anywhere in the tree."""
    objs = [
        {
            "_seq": 0,
            "z": None,
            "b": [{"x": None, "y": 1, "o": {"w": None}}],
            "c": {"u": None, "v": 2, "deep": {"d": None}},
        },
        {
            "_seq": 1,
            "z": None,
            "b": [{"y": 2, "o": {"w": None}}],
            "c": {"u": None, "v": 3, "deep": {"d": None}},
        },
    ]
    ref = run_reference(objs)
    got = _assert_equivalent(ref, run_spark(spark, objs, tmp_path))
    for table, col in [
        ("root", "z"),  # top-level
        ("root", "c_u"),  # object branch
        ("root", "c_deep_d"),  # deep object branch
        ("root_b", "b_x"),  # list-element dict
        ("root_b", "b_o_w"),  # object inside list-element dict
    ]:
        assert got[table][0].columns[col] == "none", (table, col)
        assert dict(ref[table][0].schema)[col] == "none", (table, col)


def test_generated_rid_wins_over_user_rid_key(spark, tmp_path):
    """User JSON carrying literal `_rid_`/`_index_` keys inside
    list-element dicts: the reference silently overwrites them with
    its injected values (in-place dict write, last-write-wins); the
    Spark operator must do the same — drop the user fields, not die
    with AMBIGUOUS_REFERENCE (found by this suite's first probe)."""
    objs = [{"_seq": 0, "xs": [{"v": 1, "_rid_": "user", "_index_": 99}]}]
    ref = run_reference(objs)
    got = run_spark(spark, objs, tmp_path)
    assert set(ref) == set(got) == {"root", "root_xs"}
    ref_rows = canonicalize({t: conv for t, (_, _, conv) in ref.items()})
    got_rows = canonicalize({t: rows for t, (_, rows) in got.items()})
    assert ref_rows["root_xs"] == got_rows["root_xs"]
    # the user's values are gone on both sides
    assert '"xs_v": 1' in got_rows["root_xs"][0]
    assert "user" not in got_rows["root_xs"][0]
    assert '"xs__index_": 0' in got_rows["root_xs"][0]


# -- pure-Python schema-algebra differential (hypothesis) --------------------
#
# The relationalize differential above exercises inference through the
# Spark pipeline; these drive the SCHEMA ALGEBRA head-to-head on raw
# Python records — incremental observation, shard merge, hygiene, and
# DDL — so every path of the type lattice is pinned against the
# reference, not just the paths the pipeline happens to produce.

from hypothesis import given, settings
from hypothesis import strategies as st

_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=8),
)
_records = st.lists(
    st.dictionaries(
        st.sampled_from(["a", "b", "B", "c d", "e-f", "g!", "ü"]),
        _scalars,
        max_size=4,
    ),
    min_size=1,
    max_size=12,
)


def _ref_schema(records):
    from relationalize import Schema as RefSchema

    s = RefSchema()
    for r in records:
        s.read_object(r)
    return s


def _our_schema(records):
    from relationalize_spark.schema import Schema

    s = Schema()
    for r in records:
        s.observe(r)
    return s


@settings(max_examples=300, deadline=None)
@given(_records)
def test_schema_inference_matches_reference(records):
    ref, ours = _ref_schema(records), _our_schema(records)
    assert dict(ref.schema) == dict(ours.columns)
    assert ref.generate_output_columns() == ours.output_columns()
    assert ref.generate_ddl("t") == ours.generate_ddl("t")


@settings(max_examples=150, deadline=None)
@given(_records, _records)
def test_schema_merge_matches_reference(recs_a, recs_b):
    from relationalize import Schema as RefSchema
    from relationalize_spark.schema import Schema

    ref = RefSchema.merge(_ref_schema(recs_a).schema, _ref_schema(recs_b).schema)
    ours = Schema.merge(_our_schema(recs_a), _our_schema(recs_b))
    assert dict(ref.schema) == dict(ours.columns)
    # merge == observing the concatenation, on both engines
    both_ref = _ref_schema(recs_a + recs_b)
    assert dict(ref.schema) == dict(both_ref.schema)
    assert dict(ours.columns) == dict(_our_schema(recs_a + recs_b).columns)


@settings(max_examples=150, deadline=None)
@given(_records)
def test_schema_hygiene_matches_reference(records):
    ref, ours = _ref_schema(records), _our_schema(records)
    assert ref.drop_null_columns() == ours.drop_null_columns()
    assert ref.drop_special_char_columns() == ours.drop_special_char_columns()
    assert ref.drop_duplicate_columns() == ours.drop_duplicate_columns()
    assert dict(ref.schema) == dict(ours.columns)


@settings(max_examples=200, deadline=None)
@given(_records)
def test_convert_object_matches_reference(records):
    """Row conversion under the inferred schema: identical outputs
    (modulo the DOCUMENTED deviation, schema.py:11-18 — convert drops
    None-valued keys absent from the schema in both of the reference's
    strategies only sometimes; normalize by dropping None values)."""
    ref, ours = _ref_schema(records), _our_schema(records)
    for r in records:
        a = {k: v for k, v in ref.convert_object(r).items() if v is not None}
        b = {k: v for k, v in ours.convert_record(r).items() if v is not None}
        assert a == b


# -- the reference's OWN example data ----------------------------------------

REF_LMS = "/root/reference/examples/example_data/mock_lms_data.json"


@pytest.mark.skipif(not __import__("os").path.exists(REF_LMS),
                    reason="reference example data absent")
def test_differential_on_reference_example_data(spark, tmp_path):
    """Both engines on the reference's own shipped example corpus
    (examples/example_data/mock_lms_data.json — the dataset its README
    walkthrough and local_fs_example.py use): full equivalence of
    tables, rid-canonicalized rows, schemas, output columns, and DDL.
    A `_seq` line number is injected identically on both sides (the
    canonicalizer anchors root rows on it)."""
    with open(REF_LMS) as f:
        objs = [json.loads(line) for line in f if line.strip()]
    for i, o in enumerate(objs):
        o["_seq"] = i
    ref = run_reference(objs)
    got_all = run_spark(spark, objs, tmp_path)
    got = {t: v for t, v in got_all.items() if v[1]}
    assert set(ref) == set(got)
    ref_rows = canonicalize({t: conv for t, (_, _, conv) in ref.items()})
    got_rows = canonicalize({t: rows for t, (_, rows) in got.items()})
    for t in sorted(ref):
        assert ref_rows[t] == got_rows[t], t
    for t in sorted(ref):
        ref_schema, _, _ = ref[t]
        our_schema, _ = got[t]
        assert dict(ref_schema.schema) == dict(our_schema.columns), t
        assert ref_schema.generate_output_columns() == our_schema.output_columns(), t
        assert ref_schema.generate_ddl("t") == our_schema.generate_ddl("t"), t
