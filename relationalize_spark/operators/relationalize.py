"""Core relationalize: nested DataFrame -> flat, rid-linked tables.

Spark-first re-expression of the reference transform (reference
relationalize/relationalize.py:48-130). The reference walks *rows*
recursively in Python; here we walk the *schema* at plan time and emit
one declarative plan per output table — pure column projections plus
one positional explode — so Catalyst/Tungsten own execution, predicate
pushdown, and whole-stage codegen, and no Python runs per row.

Semantics preserved (verified against reference test cases, see
tests/test_relationalize.py):

- struct fields flatten to ``{parent}_{child}`` columns
  (reference relationalize.py:95-119; delimiter ``_``).
- every array path ``p`` becomes a child table ``{root}_{p}`` whose
  rows carry ``{p}__rid_`` (FK to the parent cell), ``{p}__index_``
  (0-based position) and, for scalar/array elements, ``{p}__val_``
  (reference relationalize.py:82-93, 9-13).
- the parent cell is replaced by the generated rid; an *empty* array
  keeps its rid with zero child rows (an inner positional explode,
  not the outer one — reference relationalize.py:104-111), while a
  *null* array yields a null parent cell and no child rows.
- arrays of arrays chain through ``__val_`` paths into grandchild
  tables (reference test/relationalize.test.py:111-184).
- flattening collisions (``{"a": {"b": 1}}`` vs ``{"a_b": 2}``) are
  last-write-wins, matching the reference's dict merge
  (reference relationalize.py:113-117).

Spark-native extension (documented): ``MapType`` columns — the
dynamic-keys JSON object, which the reference's dict model never
distinguishes from structs — split out like arrays into a child
table of ``{p}__rid_``/``{p}__index_``/``{p}__key_``/``{p}__val_``
rows via ``map_entries``; nested struct/array/map values keep
recursing. A null map yields a null parent cell and no child rows;
an empty map keeps its rid with zero child rows.

Deviation (documented): rids are ``R_`` + 32 hex like the reference's
``R_<uuid4.hex>`` (reference relationalize.py:125-130), but by default
they are *deterministic* — ``md5(table, path, row-key)`` — because a
nondeterministic uuid() is recomputed differently per Spark task retry
and would break parent/child linkage without forcing a full
materialization barrier. ``rid_mode="uuid"`` restores reference
behavior and pins each level's rids with a lazy local checkpoint.
"""

from __future__ import annotations

from typing import Literal, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

try:  # Spark >= 4: VARIANT columns carry per-row dynamic JSON typing
    from pyspark.sql.types import VariantType
except ImportError:  # pragma: no cover - older Spark
    class VariantType:  # type: ignore[no-redef]
        pass

DELIM = "_"
RID = f"{DELIM}rid{DELIM}"      # column suffix: {path}__rid_
VAL = f"{DELIM}val{DELIM}"      # column suffix: {path}__val_
INDEX = f"{DELIM}index{DELIM}"  # column suffix: {path}__index_
KEY = f"{DELIM}key{DELIM}"      # column suffix: {path}__key_ (maps)

_ROW_KEY = "__relationalize_row_key__"
_ELEM = "__relationalize_elem__"
#: guard on nesting depth: the deepest chain of child tables planned
_MAX_DEPTH = 24


def _q(name: str) -> str:
    """Backtick-quote a column name for use in F.col paths."""
    return "`" + name.replace("`", "``") + "`"


#: path step for "every element" of an array (or every value of a
#: map, or of an array-valued VARIANT) and for "every key" of a map; a
#: struct field or object key is the step of its own name. A column's
#: JSON path is a tuple of steps from the input frame's top level.
_EACH, _KEYS = 0, 1


def _flatten_structs(
    df: DataFrame, paths: dict[str, tuple], prefixes: dict[str, str] | None = None
) -> tuple[DataFrame, dict[str, tuple]]:
    """Expand every StructType column into ``{parent}_{child}`` columns
    (``{prefixes[parent]}_{child}`` where given), repeating until no
    structs remain. Later names win on collision; ``paths`` (column ->
    JSON path) follows the winners."""
    while any(
        isinstance(f.dataType, StructType)
        for f in df.schema.fields
        if f.name != _ROW_KEY
    ):
        cols: dict[str, Column] = {}
        new_paths: dict[str, tuple] = {}
        for f in df.schema.fields:
            if f.name == _ROW_KEY or not isinstance(f.dataType, StructType):
                cols[f.name] = F.col(_q(f.name))
                new_paths[f.name] = paths.get(f.name)
                continue
            prefix = (prefixes or {}).get(f.name, f.name)
            for sub in f.dataType.fields:
                flat = f"{prefix}{DELIM}{sub.name}"
                cols[flat] = F.col(f"{_q(f.name)}.{_q(sub.name)}").alias(flat)
                new_paths[flat] = paths[f.name] + (sub.name,)
        df = df.select(*[c.alias(n) for n, c in cols.items()])
        paths, prefixes = new_paths, None
    return df, paths


def _hash_rid(table: str, path: str) -> Column:
    seed = F.concat_ws("\x1f", F.lit(table), F.lit(path), F.col(_ROW_KEY))
    return F.concat(F.lit("R"), F.lit(DELIM), F.md5(seed))


def _is_arr(c: str) -> Column:
    return F.schema_of_variant(F.col(_q(c))).startswith("ARRAY")


def _is_obj(c: str) -> Column:
    return F.schema_of_variant(F.col(_q(c))).startswith("OBJECT")


def _obj_prefix(c: str) -> str:
    """Flatten prefix for a variant column's object branch. The
    reference flattens an exploded element dict with the ARRAY PATH as
    prefix (``recs`` -> ``recs_p``, reference relationalize.py:95-119),
    and this engine parks exploded variant elements in ``{path}__val_``
    — so the element-column suffix is stripped before prefixing, while
    a top-level dynamic key keeps its own name (``b`` -> ``b_k``)."""
    suffix = f"{DELIM}{VAL}"  # "__val_"
    return c[: -len(suffix)] if c.endswith(suffix) else c


def _type_positions(dt, path: tuple):
    """The VARIANT positions in a Spark type: struct fields, array
    elements and map values, at any depth."""
    if isinstance(dt, VariantType):
        yield path
    elif isinstance(dt, StructType):
        for f in dt.fields:
            yield from _type_positions(f.dataType, path + (f.name,))
    elif isinstance(dt, ArrayType):
        yield from _type_positions(dt.elementType, path + (_EACH,))
    elif isinstance(dt, MapType):
        yield from _type_positions(dt.valueType, path + (_EACH,))


def _cast_positions(node, path: tuple):
    """The VARIANT positions in a merged-schema tree cast by
    ``_cast_ddl``: its conflicted, all-null and fractional leaves."""
    from ..sources.jsonl import _cast_ddl

    if node.kind == "object":
        for k, child in node.fields.items():
            yield from _cast_positions(child, path + (k,))
    elif node.kind == "array":
        yield from _cast_positions(node.element, path + (_EACH,))
    elif _cast_ddl(node) == "variant":
        yield path


def _lookups(path: tuple, stats: dict):
    """The VARIANT positions at or below ``path`` that planning looks
    up: ``path`` itself, the elements of its array branch, and the
    VARIANT positions of its object branch as cast by its merged
    object schema — as far as ``stats`` says those branches exist. A
    position ``stats`` does not hold is yielded, but not walked."""
    yield path
    if path not in stats:
        return
    observed, obj = stats[path]
    if "arr" in observed:
        yield from _lookups(path + (_EACH,), stats)
    if "obj" in observed:
        for p in _cast_positions(obj, path):
            yield from _lookups(p, stats)


def _flat(arrays: Column) -> Column:
    """Flatten an array of arrays, skipping null inner arrays."""
    return F.flatten(F.filter(arrays, lambda a: a.isNotNull()))


def _values_at(types: dict, path: tuple) -> Column:
    """``array<variant>`` of every value a row holds at VARIANT
    position ``path``. Typed struct fields and arrays are read as they
    are, VARIANT ones through the casts planning applies to them;
    arrays are walked with ``transform``, so a position inside an
    array costs no generator."""

    def at(col: Column, dt, steps: tuple) -> Column:
        if not steps:
            return F.array(col)
        step, rest = steps[0], steps[1:]
        if step == _EACH:
            if isinstance(dt, ArrayType):
                arr, et = col, dt.elementType
            elif isinstance(dt, MapType):
                arr, et = F.map_values(col), dt.valueType
            else:
                arr, et = F.try_variant_get(col, "$", "array<variant>"), VariantType()
            return _flat(F.transform(arr, lambda e: at(e, et, rest)))
        if isinstance(dt, StructType):
            return at(col.getField(step), dt[step].dataType, rest)
        obj = F.try_variant_get(col, "$", f"struct<{_q(step)}: variant>")
        return at(obj.getField(step), VariantType(), rest)

    return at(F.col(_q(path[0])), types[path[0]], path[1:])


def _value_class(v: Column) -> Column:
    """A VARIANT value's class: ``arr``, ``obj`` or its scalar
    reference tag (``none`` for a JSON null, null for SQL NULL)."""
    from .infer import ref_tag_from_schema_str

    sov = F.schema_of_variant(v)
    return (
        F.when(sov.startswith("ARRAY"), F.lit("arr"))
        .when(sov.startswith("OBJECT"), F.lit("obj"))
        .otherwise(ref_tag_from_schema_str(sov))
    )


def _stats_round(df: DataFrame, positions: list[tuple]) -> dict[tuple, tuple]:
    """ONE eager action over ``df``: the class set (``arr``/``obj``/
    scalar reference tags) and the merged object-branch schema of
    every position in ``positions``, and the same pair one level
    further down — for the elements of each position's array branch
    and for each key of its object branch. Rows are grouped by
    ``(position, child)``, so the aggregate is as wide for a thousand
    positions as for one."""
    from ..sources.jsonl import parse_variant_schema

    types = {f.name: f.dataType for f in df.schema.fields}
    pv = df.select(
        F.inline(F.array(*[
            F.struct(F.lit(i).alias("p"), _values_at(types, path).alias("vs"))
            for i, path in enumerate(positions)
        ]))
    ).select("p", F.explode("vs").alias("v"))

    def child(kind: int, key: Column, x: Column) -> Column:
        return F.struct(F.lit(kind).alias("kind"), key.alias("key"), x.alias("v"))

    # each value itself (kind 0), each element of its array branch (1)
    # and each key of its object branch (2)
    nokey = F.lit(None).cast("string")
    v = F.col("v")
    elems = F.try_variant_get(v, "$", "array<variant>")
    fields = F.map_entries(F.try_variant_get(v, "$", "map<string,variant>"))
    children = _flat(F.array(
        F.array(child(0, nokey, v)),
        F.transform(elems, lambda e: child(1, nokey, e)),
        F.transform(fields, lambda kv: child(2, kv["key"], kv["value"])),
    ))
    is_obj = F.col("cls") == "obj"
    rows = (
        pv.select("p", F.inline(children))
        .select("p", "kind", "key", "v", _value_class(v).alias("cls"))
        .groupBy("p", "kind", "key")
        .agg(
            F.collect_set("cls").alias("cset"),
            F.schema_of_variant_agg(F.when(is_obj, F.col("v"))).alias("os"),
        )
        .collect()
    )
    out = {path: (set(), None) for path in positions}
    for r in rows:
        step = ((), (_EACH,), (r["key"],))[r["kind"]]
        obj = parse_variant_schema(r["os"]) if r["os"] else None
        out[positions[r["p"]] + step] = (set(r["cset"]), obj)
    for path in positions:
        # an array branch whose arrays are all empty has no elements
        out.setdefault(path + (_EACH,), (set(), None))
    return out


def _position_stats(df: DataFrame, stats: dict[tuple, tuple]) -> None:
    """Fill ``stats`` with the class set and merged object-branch
    schema of every VARIANT position planning will meet that it does
    not hold yet, keyed by JSON path.

    A VARIANT position is a path in the JSON tree (struct fields and
    array elements at any depth) whose type is VARIANT: where the
    corpus-wide schema merge conflicted or saw a fractional number
    (sources/jsonl.py:_cast_ddl), and, once their stats are known,
    the positions inside a VARIANT position's array and object
    branches. One round (``_stats_round``) reads every missing
    position off ``df`` itself — never off a per-table lineage, so
    the plan does not grow with the table count — and looks one level
    ahead; a further round runs only for positions the lookahead
    still missed (a conflict inside a conflicted branch). When
    ``stats`` already covers every position, no round runs. Planning
    itself then runs no Spark action."""
    roots = [p for f in df.schema.fields for p in _type_positions(f.dataType, (f.name,))]
    while todo := list(dict.fromkeys(
        p for r in roots for p in _lookups(r, stats) if p not in stats
    )):
        stats.update(_stats_round(df, todo))


def _expand_variants(
    tdf: DataFrame, paths: dict[str, tuple], stats: dict[tuple, tuple]
) -> tuple[DataFrame, dict[str, tuple], dict[str, bool], dict[str, set]]:
    """Per-row dynamic typing for VARIANT columns — the reference's
    row-walk semantics (reference relationalize.py:48-119) recovered
    on top of plan-time relationalize.

    A VARIANT column exists exactly where the corpus-wide schema merge
    conflicted (e.g. ``b`` is a list in one row, a scalar in another,
    an object in a third). The reference handles that per row; a
    static plan cannot — unless the plan itself is derived from the
    data. ``stats`` (``_position_stats``, keyed by each column's JSON
    path in ``paths``) says per column whether any row holds an array,
    an object or a scalar, and the merged schema of the object rows.
    This function then

    - flattens the object branch into ``{prefix}_{field}`` columns
      (conflicted fields come back as VARIANT and are handled by the
      next loop iteration — nesting depth bounds the iteration). When
      a generated name collides with a sibling column (real top-level
      ``b_x`` alongside variant ``b`` whose object rows carry field
      ``x``), the LATER field in schema order wins — the module-level
      flatten contract (last-write-wins, mirroring the reference's
      ``temp_d.update`` dict merge, reference relationalize.py:114-117;
      the reference's winner is row-dict key order, which a set-based
      engine canonicalizes to schema order). Pinned in tests/
      test_jsonl_pipeline.py::test_dynamic_flatten_collision_last_write_wins.
      The winner keeps its own path, so its stats are its own.
    - keeps the scalar + array branches in the original column (the
      array branch is split out by the caller's normal child-table
      machinery, elements staying VARIANT so grandchildren recurse),
    - drops the column entirely when no row holds a scalar or array
      (the reference's flatten consumes pure-object keys — no column
      remains).

    Returns the expanded frame and its paths, ``{column:
    has_array_branch}``, and ``{column: set of observed scalar
    reference tags}`` — the latter fed forward as inference hints so
    ``infer_and_convert`` does not re-scan for tags the stats already
    hold.
    """
    from ..sources.jsonl import _cast_ddl

    arr_flags: dict[str, bool] = {}
    tag_sets: dict[str, set[str]] = {}
    analyzed: set[str] = set()
    obj_tmp: dict[str, str] = {}  # tmp struct col -> flatten prefix
    while True:
        tdf, paths = _flatten_structs(tdf, paths, obj_tmp)
        vcols = [
            f.name
            for f in tdf.schema.fields
            if isinstance(f.dataType, VariantType)
            and f.name != _ROW_KEY
            and f.name not in analyzed
        ]
        if not vcols:
            return tdf, paths, arr_flags, tag_sets
        keep: dict[str, Column] = {}
        keep_paths: dict[str, tuple] = {}
        obj_tmp = {}
        idx = {c: i for i, c in enumerate(vcols)}
        for f in tdf.schema.fields:
            c = f.name
            if c not in idx:
                keep[c], keep_paths[c] = F.col(_q(c)), paths.get(c)
                continue
            observed, obj = stats[paths[c]]
            scalars = observed - {"arr", "obj"}
            tag_sets[c] = scalars
            analyzed.add(c)
            if "arr" in observed or scalars:
                # arrays/scalars stay put; strip the object branch only
                # where one was observed (the strip is a per-row
                # schema_of_variant)
                keep[c], keep_paths[c] = F.col(_q(c)), paths[c]
                if "obj" in observed:
                    keep[c] = F.when(~_is_obj(c), keep[c])
                arr_flags[c] = "arr" in observed
            if "obj" in observed and obj.kind == "object" and obj.fields:
                tmp = f"__vobj{DELIM}{idx[c]}__"
                keep[tmp] = F.try_variant_get(F.col(_q(c)), "$", _cast_ddl(obj))
                keep_paths[tmp] = paths[c]
                obj_tmp[tmp] = _obj_prefix(c)
        tdf = tdf.select(*[col.alias(n) for n, col in keep.items()])
        paths = keep_paths


def relationalize(
    df: DataFrame,
    name: str,
    *,
    key_cols: Sequence[str] | None = None,
    rid_mode: Literal["hash", "uuid"] = "hash",
    infer_hints: dict | None = None,
    position_stats: dict | None = None,
) -> dict[str, DataFrame]:
    """Flatten ``df`` into a dict of flat DataFrames keyed by table name.

    Parameters
    ----------
    df: input with arbitrarily nested struct/array columns.
    name: root table name; child tables are ``{name}_{path}``.
    key_cols: columns that uniquely identify a row. Used to derive
        deterministic rids. Defaults to *all* top-level columns
        serialized as JSON — exact duplicate rows would then share
        rids (children join to both); pass a real key at scale.
    rid_mode: ``"hash"`` (deterministic, default) or ``"uuid"``
        (reference-exact randomness; each level with split-outs is
        pinned by a lazy ``localCheckpoint``: its first action stores
        the rows, every table of the level reads them back, and the
        blocks go with the returned frames instead of staying in the
        session's cache).
    infer_hints: optional caller-provided dict, filled with
        ``{table: {column: normalized tag}}`` for variant columns
        whose observed tags the position stats already hold — feed
        to ``infer_and_convert(tag_hints=...)`` to skip its per-table
        tag scan (tables assembled by multi-parent union are omitted;
        they fall back to the scan).
    position_stats: optional caller-provided dict of VARIANT-position
        stats keyed by JSON path (``_position_stats``). Positions it
        holds are planned from it, not re-read; the stats round adds
        the ones it lacks, so after the call it holds every position
        planning read.

    A frame with VARIANT columns costs one eager stats action over
    ``df`` before planning (``_position_stats``; a second only for a
    conflict inside a conflicted branch; none when ``position_stats``
    covers every position); a typed frame costs none.
    A chain of child tables deeper than ``_MAX_DEPTH`` (24) raises
    ``ValueError``.
    """
    if key_cols:
        row_key = F.to_json(F.struct(*[F.col(_q(c)) for c in key_cols]))
    else:
        row_key = F.to_json(F.struct(*[F.col(_q(c)) for c in df.columns]))

    stats = {} if position_stats is None else position_stats
    _position_stats(df, stats)
    out: dict[str, DataFrame] = {}
    hint_sets: dict[str, dict[str, set] | None] = {}
    _process(
        df.withColumn(_ROW_KEY, row_key), {c: (c,) for c in df.columns}, stats,
        name, name, rid_mode, out, _MAX_DEPTH, hint_sets,
    )
    if infer_hints is not None:
        from .. import types as T

        for t, cols in hint_sets.items():
            if cols is None:
                continue
            infer_hints[t] = {
                c: (T.normalize(s) if s else T.NONE) for c, s in cols.items()
            }
    return out


def _union_aligned(a: DataFrame, b: DataFrame) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` that first lifts
    columns whose types disagree between the two sides to VARIANT —
    the same branch-vs-branch type conflict the per-row dynamic walk
    creates (one parent's merged object schema saw only BIGINTs at a
    field, the other saw mixed types and kept VARIANT). The type
    inference step downstream tags variant scalars identically, so
    the lift is observationally free."""
    at = {f.name: f.dataType for f in a.schema.fields}
    bt = {f.name: f.dataType for f in b.schema.fields}
    conflicted = [c for c in at if c in bt and at[c] != bt[c]]
    if conflicted:
        a = a.withColumns(
            {c: F.col(_q(c)).cast("variant") for c in conflicted}
        )
        b = b.withColumns(
            {c: F.col(_q(c)).cast("variant") for c in conflicted}
        )
    return a.unionByName(b, allowMissingColumns=True)


def _process(
    tdf: DataFrame,
    paths: dict[str, tuple],
    stats: dict[tuple, tuple],
    table: str,
    root: str,
    rid_mode: str,
    out: dict[str, DataFrame],
    depth_left: int,
    hint_sets: dict[str, dict[str, set] | None],
) -> None:
    if depth_left <= 0:
        raise ValueError(
            f"nesting exceeds {_MAX_DEPTH} levels while planning table {table!r}"
        )
    tdf, paths, var_arr, var_tags = _expand_variants(tdf, paths, stats)
    types = {f.name: f.dataType for f in tdf.schema.fields if f.name != _ROW_KEY}

    # Every link path splits out into a child table: {p: (has_rid,
    # exploded)}, in emission order — typed arrays, then VARIANT
    # columns whose rows include arrays (per-row dynamic split-out,
    # the reference's row-walk: a key can be a list in one row and a
    # scalar in another; the scalar rows keep their value, the list
    # rows get a rid into the child table), then maps (Spark-native
    # extension, the reference's JSON model has none: the dynamic-keys
    # object splits out into (rid, index, key, value) rows via
    # map_entries). Nested struct/array/map values keep recursing.
    links: dict[str, tuple[Column, Column]] = {}
    for p, dt in types.items():
        if isinstance(dt, ArrayType):
            links[p] = (F.col(_q(p)).isNotNull(), F.col(_q(p)))
    for p, has_arr in var_arr.items():
        if has_arr:
            arr = F.try_variant_get(F.col(_q(p)), "$", "array<variant>")
            links[p] = (_is_arr(p), arr)
    for p, dt in types.items():
        if isinstance(dt, MapType):
            links[p] = (F.col(_q(p)).isNotNull(), F.map_entries(F.col(_q(p))))

    # Materialize one rid column per link path on the working frame so
    # parent and child plans agree on the value. A variant path gets
    # its rid only on rows where the value actually IS an array (other
    # rows keep their scalar).
    rid_col = {p: f"__rid{DELIM}{i}__" for i, p in enumerate(links)}
    for p, (has_rid, _) in links.items():
        if rid_mode == "hash":
            rid = _hash_rid(table, p)
        else:
            rid = F.concat(
                F.lit("R"), F.lit(DELIM), F.regexp_replace(F.expr("uuid()"), "-", "")
            )
        tdf = tdf.withColumn(rid_col[p], F.when(has_rid, rid))
    if rid_mode == "uuid" and links:
        # uuid() is nondeterministic: parent and child are separate
        # actions, so pin the values once. A local checkpoint, not a
        # cache: a lost block fails the read instead of recomputing
        # other uuids, and its blocks go with the frames that read it
        # (nobody gets this frame to unpersist a cache of it).
        tdf = tdf.localCheckpoint(eager=False)

    parent_cols = []
    for f in tdf.schema.fields:
        if f.name == _ROW_KEY or f.name in rid_col.values():
            continue
        if f.name in rid_col and isinstance(f.dataType, VariantType):
            # dynamic column: list rows -> rid (as a VARIANT string so
            # the column stays one type), scalar rows keep their value
            # — the reference's row-walk output exactly; the rid later
            # lands in the choice column's `_str` lane like any other
            # observed string.
            ridv = F.parse_json(
                F.concat(F.lit('"'), F.col(_q(rid_col[f.name])), F.lit('"'))
            )
            parent_cols.append(
                F.when(F.col(_q(rid_col[f.name])).isNotNull(), ridv)
                .otherwise(F.col(_q(f.name)))
                .alias(f.name)
            )
        elif f.name in rid_col:
            parent_cols.append(F.col(_q(rid_col[f.name])).alias(f.name))
        else:
            parent_cols.append(F.col(_q(f.name)))
    parent_df = tdf.select(*parent_cols)
    if table in out:
        # The same flattened path can surface from different parents
        # (e.g. key "b_items" both as an object-branch field of a
        # top-level "b" object and as a field of "b"'s list elements
        # — both name the child table {root}_b_items). The reference
        # APPENDS to one output file per table name (reference
        # relationalize.py:57-66, outputs keyed by name), so
        # same-named tables union; missing columns null-fill, exactly
        # like the reference's absent keys. Inference hints for such
        # multi-parent tables are dropped (union type-lifting can turn
        # typed columns variant); they fall back to the tag scan.
        out[table] = _union_aligned(out[table], parent_df)
        hint_sets[table] = None
    else:
        out[table] = parent_df
        present = {f.name for f in parent_df.schema.fields}
        hint_sets[table] = {
            c: (set(scal) | ({"str"} if var_arr.get(c) else set()))
            for c, scal in var_tags.items()
            if c in present
        }

    for p, (has_rid, arr) in links.items():
        rid_name = f"{p}{DELIM}{RID}"
        index_name = f"{p}{DELIM}{INDEX}"
        # element columns {suffix: (field of the exploded element, path
        # step)}: a map entry's key and value; a struct element's
        # fields; otherwise — scalar, nested array (recursing into a
        # grandchild table) or VARIANT element (the child's
        # _expand_variants spreads its object rows per row, like the
        # reference's recursion) — the element itself as {p}__val_.
        dt = types[p]
        if isinstance(dt, MapType):
            elems = {KEY: ("key", (_KEYS,)), VAL: ("value", (_EACH,))}
        elif isinstance(dt, ArrayType) and isinstance(dt.elementType, StructType):
            elems = {s.name: (s.name, (_EACH, s.name)) for s in dt.elementType.fields}
        else:
            elems = {VAL: (None, (_EACH,))}
        # A user field named `_rid_`/`_index_` inside a list-element
        # dict would flatten to exactly the generated child columns.
        # The reference mutates its injected keys INTO the element dict
        # (reference relationalize.py:82-93 — last write wins, so the
        # generated values overwrite the user's); mirror that by
        # dropping the colliding user fields rather than failing
        # analysis with an ambiguous reference.
        elems = {
            f"{p}{DELIM}{s}": e
            for s, e in elems.items()
            if f"{p}{DELIM}{s}" not in (rid_name, index_name)
        }
        exploded = tdf.where(has_rid).select(
            F.col(_q(rid_col[p])).alias(rid_name),
            F.posexplode(arr).alias(index_name, _ELEM),
        )
        child_key = F.concat_ws(
            ":", F.col(_q(rid_name)), F.col(_q(index_name)).cast("string")
        )
        child = exploded.select(
            *[
                F.col(f"{_q(_ELEM)}.{_q(sub)}" if sub else _q(_ELEM)).alias(flat)
                for flat, (sub, _) in elems.items()
            ],
            F.col(_q(rid_name)),
            F.col(_q(index_name)),
            child_key.alias(_ROW_KEY),
        )
        child_paths = {flat: paths[p] + step for flat, (_, step) in elems.items()}
        _process(
            child, child_paths, stats, f"{root}{DELIM}{p}", root, rid_mode, out,
            depth_left - 1, hint_sets,
        )
