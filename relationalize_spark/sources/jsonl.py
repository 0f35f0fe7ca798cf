"""Type-faithful JSONL ingestion via Spark VARIANT.

The reference streams raw JSON objects and distinguishes int/float/
bool/str per *row* (reference schema.py:304-319). ``spark.read.json``
would unify mixed-type keys to string and lose that, so this module
reads lines as text, parses them to VARIANT (JVM-side, type-
preserving), computes the merged structural schema in one pass with
``schema_of_variant_agg``, and casts to a concrete struct in which
conflicted, all-null and fractional leaves stay VARIANT. The existing
:func:`relationalize` then reads those VARIANT positions in one stats
round and splits out tables, and :func:`infer_and_convert` resolves
the VARIANT leaves into choice columns — the full reference pipeline
(relationalize -> Schema -> convert, reference README.md:50-95) as
two eager analysis actions, the table writes, and zero per-row
Python.
"""

from __future__ import annotations

import functools
import threading
from dataclasses import dataclass, field, replace

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.infer import infer_and_convert
from ..operators.relationalize import (
    VariantType,
    _cast_positions,
    _flat,
    _lookups,
    _q,
    _value_class,
    _values_at,
    relationalize,
)
from ..plans.session import session_conf
from ..schema import Schema


def read_jsonl_variant(spark: SparkSession, path: str) -> DataFrame:
    """One VARIANT column ``v`` per JSONL line; blank lines dropped."""
    return (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(F.parse_json("value").alias("v"))
    )


# -- merged-schema string parser --------------------------------------------
# schema_of_variant_agg returns e.g.
#   OBJECT<a: VARIANT, `a b`: BIGINT, arr: ARRAY<OBJECT<k: DOUBLE>>>
# Leaves are Spark DDL type names (plus OBJECT/VARIANT extensions).


@dataclass
class VNode:
    kind: str  # "object" | "array" | "leaf"
    leaf_type: str = ""
    fields: dict[str, "VNode"] = field(default_factory=dict)
    element: "VNode | None" = None


def parse_variant_schema(s: str) -> VNode:
    pos = 0

    def malformed(what: str) -> ValueError:
        return ValueError(f"malformed variant schema: {what} at {pos} in {s!r}")

    def parse_type() -> VNode:
        nonlocal pos
        if s.startswith("OBJECT<", pos):
            pos += len("OBJECT<")
            node = VNode("object")
            while s[pos] != ">":
                name = parse_name()
                if not s.startswith(": ", pos):
                    raise malformed("expected ': '")
                pos += 2
                node.fields[name] = parse_type()
                if s.startswith(", ", pos):
                    pos += 2
            pos += 1
            return node
        if s.startswith("ARRAY<", pos):
            pos += len("ARRAY<")
            node = VNode("array", element=parse_type())
            if not s.startswith(">", pos):
                raise malformed("expected '>'")
            pos += 1
            return node
        # leaf: runs to the next top-level ',' or '>'; may itself
        # contain angle-free parens like DECIMAL(21,1).
        start = pos
        depth = 0
        while pos < len(s):
            ch = s[pos]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and ch in ",>":
                break
            pos += 1
        return VNode("leaf", leaf_type=s[start:pos].strip())

    def parse_name() -> str:
        nonlocal pos
        if s[pos] == "`":
            end = pos + 1
            out = []
            while True:
                if s[end] == "`":
                    if end + 1 < len(s) and s[end + 1] == "`":
                        out.append("`")
                        end += 2
                        continue
                    break
                out.append(s[end])
                end += 1
            name = "".join(out)
            pos = end + 1
            return name
        end = s.index(":", pos)
        name = s[pos:end]
        pos = end
        return name

    node = parse_type()
    if pos != len(s):
        raise malformed("trailing content")
    return node


def _cast_ddl(node: VNode) -> str:
    """DDL for the variant->struct cast: conflicted (VARIANT) and
    all-null (VOID) leaves stay VARIANT; everything else keeps its
    type.

    Fractional-numeric leaves (DECIMAL/DOUBLE/FLOAT) ALSO stay
    VARIANT: ``schema_of_variant_agg`` numerically merges BIGINT with
    DECIMAL (values 1 and 2.5 -> DECIMAL(21,1)), so a typed cast here
    would silently coerce mixed int/float keys to DOUBLE and the
    reference's c-float-int choice column could never arise. Keeping
    them VARIANT routes them through the per-row tag aggregation in
    operators/infer.py, which emits the choice split for genuinely
    mixed keys and a plain DOUBLE column for all-float keys — exactly
    the reference's behavior (ref schema.py:194-257)."""
    if node.kind == "object":
        parts = [f"{_q(k)}: {_cast_ddl(child)}" for k, child in node.fields.items()]
        return "struct<" + ", ".join(parts) + ">"
    if node.kind == "array":
        return f"array<{_cast_ddl(node.element)}>"
    t = node.leaf_type.upper()
    if t in ("VARIANT", "VOID") or t.startswith("DECIMAL") or t in ("DOUBLE", "FLOAT"):
        return "variant"
    return node.leaf_type.lower()


def merged_variant_schema(df: DataFrame, column: str = "v") -> VNode:
    merged = df.agg(F.schema_of_variant_agg(column).alias("s")).collect()[0].s
    return parse_variant_schema(merged)


# -- running analysis state -------------------------------------------------
# A stream of batches keeps the merged schema tree and the position stats
# of the batches it has planned. A batch whose own merge and stats fit
# inside them is planned from them, with no stats round.


def _void(node: VNode) -> bool:
    return node.kind == "leaf" and node.leaf_type.upper() == "VOID"


def _join(a: VNode, b: VNode) -> VNode:
    """Merged schema of two corpora: object keys unite (in the sorted
    order ``schema_of_variant_agg`` emits), an all-null side takes the
    other, and any other disagreement is a VARIANT leaf."""
    if _void(a):
        return b
    if _void(b):
        return a
    if a.kind == b.kind == "object":
        return VNode("object", fields={
            k: _join(a.fields[k], b.fields[k])
            if k in a.fields and k in b.fields
            else a.fields.get(k, b.fields.get(k))
            for k in sorted(a.fields.keys() | b.fields.keys())
        })
    if a.kind == b.kind == "array":
        return VNode("array", element=_join(a.element, b.element))
    if a.kind == b.kind == "leaf" and a.leaf_type == b.leaf_type:
        return a
    return VNode("leaf", leaf_type="VARIANT")


def _fits(b: VNode, t: VNode) -> bool:
    """True when casting by ``t`` (``_cast_ddl``) keeps every value a
    corpus with merged schema ``b`` holds and plans the same columns:
    no new key, no typed leaf of another type. Anything fits a VARIANT
    position of ``t`` (its stats decide), and an all-null leaf fits
    anything but an object: cast by itself, it is a column of its own
    (tagged ``none``) where ``t`` flattens the object into its keys."""
    if t.kind == "leaf" and _cast_ddl(t) == "variant":
        return True
    if _void(b):
        return t.kind != "object"
    if b.kind != t.kind:
        return False
    if b.kind == "object":
        return all(k in t.fields and _fits(c, t.fields[k]) for k, c in b.fields.items())
    if b.kind == "array":
        return _fits(b.element, t.element)
    return _cast_ddl(b) == _cast_ddl(t)


def _reaches(t: VNode, b: VNode | None) -> bool:
    """True when a corpus with merged schema ``b`` (None: it has no
    value there) holds an array at every array of ``t``: planning by
    ``t`` then splits out no child table the corpus has no rows for."""
    if t.kind == "array":
        return b is not None and b.kind == "array" and _reaches(t.element, b.element)
    if t.kind == "object":
        fields = b.fields if b is not None and b.kind == "object" else {}
        return all(_reaches(c, fields.get(k)) for k, c in t.fields.items())
    return True


#: consecutive batches that did not fit after which a stream stops
#: reading the running analysis's positions (``_observe``) until a
#: batch adds nothing to it: one drift is a stream event (a key
#: appears), a second in a row a stream that has not settled, whose
#: batches would pay the position reads and the stats round both
_MAX_DRIFTS = 2


@dataclass(frozen=True)
class Analysis:
    """What planning a corpus needs: its merged schema tree (cast by
    ``_cast_ddl``) and the class set and object-branch schema of its
    VARIANT positions, keyed by JSON path
    (operators/relationalize.py:_position_stats); and, for a stream,
    how many batches in a row did not fit it."""

    tree: VNode
    stats: dict[tuple, tuple]
    drifts: int = field(default=0, compare=False)
    #: ``observer``'s columns per variant column name: a stream reads
    #: every batch through the same ones, and building them costs
    #: ~520 py4j round trips (~0.09 s) per batch of the stream
    #: benchmark's shape, against ~25 when they are reused
    _observers: dict = field(default_factory=dict, compare=False, repr=False)

    @functools.cached_property
    def positions(self) -> list[tuple]:
        """Every VARIANT position planning from this state looks up,
        including ones ``stats`` does not hold."""
        roots = _cast_positions(self.tree, ())
        return list(dict.fromkeys(p for r in roots for p in _lookups(r, self.stats)))

    def fits(self, tree: VNode, stats: dict[tuple, tuple]) -> bool:
        """True when a batch with merged schema ``tree`` and, at
        ``positions``, the stats ``stats`` is planned exactly by this
        state: it fits the tree, and at every position it shows no
        class and no object key the state lacks; and it reaches every
        child table the state splits out — each array of the tree, and
        each position's array branch and the arrays of its object
        branch — so planning by the state writes no table the batch
        has no rows for."""

        def covered(path: tuple, observed: set, obj: VNode | None) -> bool:
            if path not in self.stats:
                return False
            known, known_obj = self.stats[path]
            return (
                observed <= known
                and ("obj" not in observed or _fits(obj, known_obj))
                and ("arr" not in known or "arr" in observed)
                and ("obj" not in known or _reaches(known_obj, obj))
            )

        return (
            _fits(tree, self.tree)
            and _reaches(self.tree, tree)
            and all(covered(p, *stats[p]) for p in self.positions)
        )

    def observer(self, vcol: str) -> tuple[Column, Column, list[Column]]:
        """``_observe``'s generator, group key and aggregates over a
        parse whose variant column is ``vcol``; built once per state."""
        if vcol not in self._observers:
            types = {vcol: VariantType()}

            def tagged(i: int, values: Column) -> Column:
                return F.transform(
                    values, lambda x: F.struct(F.lit(i).alias("p"), x.alias("v"))
                )

            pv = F.explode(_flat(F.array(*[
                tagged(i, _values_at(types, (vcol,) + path))
                for i, path in enumerate([(), *self.positions])
            ]))).alias("pv")
            # position 0 is the whole object: no class, and every row merges
            p, v = F.col("pv.p"), F.col("pv.v")
            self._observers[vcol] = pv, p.alias("p"), [
                F.collect_set(F.when(p != 0, _value_class(v))).alias("cset"),
                F.schema_of_variant_agg(
                    F.when((p == 0) | (_value_class(v) == "obj"), v)
                ).alias("os"),
            ]
        return self._observers[vcol]

    def merge(self, tree: VNode, stats: dict[tuple, tuple]) -> "Analysis":
        """This state joined with the tree and stats of a batch that
        did not fit it (one more drift)."""
        out = dict(self.stats)
        for p, (observed, obj) in stats.items():
            if p in out:
                known, known_obj = out[p]
                observed = known | observed
                if known_obj is not None:
                    obj = known_obj if obj is None else _join(known_obj, obj)
            out[p] = (observed, obj)
        return Analysis(_join(self.tree, tree), out, self.drifts + 1)

    def settled(self) -> "Analysis":
        """This state with no drift counted."""
        if not self.drifts:
            return self
        return replace(self, drifts=0, _observers=self._observers)


def _observe(vdf: DataFrame, vcol: str, prior: Analysis) -> tuple[VNode, dict]:
    """ONE eager action over the parse ``vdf``: its whole-object merged
    schema and, at every position ``prior`` plans, its class set and
    object-branch schema. The positions are read off the parse with
    ``_values_at``, so no typed frame is needed first."""
    pv, p, aggs = prior.observer(vcol)
    got = {r["p"]: r for r in vdf.select(pv).groupBy(p).agg(*aggs).collect()}
    # no row at all merges to VOID, as the ungrouped merge does
    tree = parse_variant_schema(got[0]["os"] if 0 in got else "VOID")
    stats = {}
    for i, path in enumerate(prior.positions, 1):
        r = got.get(i)
        stats[path] = (
            (set(r["cset"]), parse_variant_schema(r["os"]) if r["os"] else None)
            if r is not None
            else (set(), None)
        )
    return tree, stats


#: persisted typed frames by ``semanticHash()``: Spark keeps one cache
#: entry for equal plans, so two results over the same corpus share it,
#: and only the last one to release it may unpersist it
_holders: dict[int, int] = {}
_holders_lock = threading.Lock()


def _hold(df: DataFrame) -> DataFrame:
    key = df.semanticHash()
    with _holders_lock:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _holders[key] = _holders.get(key, 0) + 1
    return df


def _release(df: DataFrame) -> None:
    key = df.semanticHash()
    with _holders_lock:
        _holders[key] -= 1
        if not _holders[key]:
            del _holders[key]
            df.unpersist()


@dataclass
class RelationalizedJson:
    """Output of the end-to-end dynamic pipeline: one flat, converted
    DataFrame per discovered table plus its choice Schema, and the
    analysis of everything seen so far (pass it as the next batch's
    ``prior``)."""

    tables: dict[str, DataFrame]
    schemas: dict[str, Schema]
    analysis: Analysis
    _typed: DataFrame | None = None

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def __iter__(self):
        return iter(self.tables)

    def unpersist(self) -> None:
        """Release the cached typed frame the tables read (call after
        they have been written; further reads of them would re-parse
        and re-cast the JSON). The cache stays while another result
        over the same corpus still holds it; a second call does
        nothing. A caller-supplied source is untouched."""
        if self._typed is not None:
            _release(self._typed)
            self._typed = None


def relationalize_json(
    source: DataFrame | str,
    name: str,
    *,
    spark: SparkSession | None = None,
    key_cols: list[str] | None = None,
    convert: bool = True,
    rid_mode: str = "hash",
    prior: Analysis | None = None,
) -> RelationalizedJson:
    """Full dynamic pipeline: JSONL path (or variant DataFrame) ->
    rid-linked flat tables with choice columns resolved.

    Jobs: two eager actions. One whole-object merge
    (``merged_variant_schema``) fixes the typed cast, and one
    ``relationalize`` stats round over the typed frame reads every
    VARIANT position it leaves — class set, object-branch schema and
    scalar tags, keyed by JSON path (operators/relationalize.py:
    _position_stats); only a conflict inside a conflicted branch adds
    a further round. Planning the tables runs no action, and the
    stats' tags make ``infer_and_convert`` scan-free. All per-row work
    is JVM-side variant casts and projections.

    ``prior`` is the ``analysis`` of the batches before this one (a
    stream). The merge then also reads this batch's class set and
    object-branch schema at every position ``prior`` plans, in the
    same action (``_observe``). When both fit inside ``prior`` (no new
    key, no typed leaf turned conflicted, no new class, no new object
    key; an all-null leaf fits anything but an object) and the batch
    has rows for every child table ``prior`` splits out, the tables
    are planned from ``prior``, with no stats round: one eager action
    in all. Otherwise the batch is analysed and planned as without
    ``prior``, and the result's ``analysis`` is ``prior`` merged with
    what it showed. After ``_MAX_DRIFTS`` such batches in a row the
    positions are not read (the merge runs alone, as without
    ``prior``) until a batch adds nothing to ``prior`` and has rows for
    its typed arrays: a stream that keeps drifting would pay the
    position reads on top of the stats round.

    The pipeline is inherently multi-pass (schema union needs every
    row before the typed cast exists — same reason the reference
    iterates the file twice, ref README.md:60-77). The merge reads the
    source; the typed frame — each object cast once to the merged
    struct — is persisted MEMORY_AND_DISK, filled by the stats round
    (or, without one, by the first table read) and left cached for the
    caller's materialization, so every table reads struct columns
    instead of re-running the whole-object cast. Call ``.unpersist()``
    on the result after writing the tables. A caller-supplied
    ``source`` is never persisted or released here.
    """
    if isinstance(source, str):
        if spark is None:
            raise ValueError("pass spark= when source is a path")
        vdf = read_jsonl_variant(spark, source)
    else:
        vdf = source
    [vcol] = vdf.columns

    # JSON keys are case-sensitive (the reference's Python dicts treat
    # "col" and "Col" as distinct; its drop_duplicate_columns exists
    # precisely to clean such pairs *later*). Spark resolves column
    # names case-insensitively by default and would throw
    # AMBIGUOUS_REFERENCE while we build the plans, so flip the session
    # to case-sensitive for the (eager) analysis phase and restore.
    with session_conf(vdf.sparkSession, "spark.sql.caseSensitive", "true"):
        observe = prior is not None and prior.drifts < _MAX_DRIFTS
        if observe:
            tree, seen = _observe(vdf, vcol, prior)
        else:
            tree, seen = merged_variant_schema(vdf, vcol), {}
        if tree.kind != "object":
            raise ValueError(
                f"top-level JSON must be objects, got {tree.kind} ({tree.leaf_type})"
            )
        stable = observe and prior.fits(tree, seen)
        plan = prior if stable else Analysis(tree, {})
        typed = _hold(vdf.select(
            F.try_variant_get(F.col(vcol), "$", _cast_ddl(plan.tree)).alias("__r__")
        ).select("__r__.*"))
        stats = dict(plan.stats)
        try:
            tables, schemas = _plan_tables(typed, name, key_cols, convert, rid_mode, stats)
        except BaseException:
            # no RelationalizedJson reaches the caller to release it
            _release(typed)
            raise
    if prior is None:
        analysis = Analysis(tree, stats)
    elif stable:
        analysis = prior.settled()
    else:
        analysis = prior.merge(tree, {**seen, **stats})
        if not observe and analysis == prior and _reaches(prior.tree, tree):
            # read without the positions, this batch added nothing to
            # the state and reached its tables: the stream has settled,
            # and the next batch reads the positions again
            analysis = prior.settled()
    return RelationalizedJson(tables, schemas, analysis, _typed=typed)


def _plan_tables(
    typed: DataFrame,
    name: str,
    key_cols: list[str] | None,
    convert: bool,
    rid_mode: str,
    stats: dict[tuple, tuple],
) -> tuple[dict[str, DataFrame], dict[str, Schema]]:
    """``relationalize_json``'s stats round (for the positions
    ``stats`` lacks; it fills them in) and planning over its persisted
    typed frame; the first action fills the cache."""
    hints: dict[str, dict[str, str]] = {}
    raw_tables = relationalize(
        typed, name, key_cols=key_cols, rid_mode=rid_mode, infer_hints=hints,
        position_stats=stats,
    )
    tables: dict[str, DataFrame] = {}
    schemas: dict[str, Schema] = {}
    for tname, tdf in raw_tables.items():
        if convert:
            # branch-analysis tag hints make inference scan-free
            # for single-parent tables (see infer_and_convert)
            tables[tname], schemas[tname] = infer_and_convert(
                tdf, tag_hints=hints.get(tname)
            )
        else:
            # untyped output still needs REAL observed tags (a key
            # conflicted within this frame must record e.g.
            # c-int-str, not a raw-variant placeholder) so that
            # downstream Schema.merge — the streaming demux's
            # cross-batch accumulation — composes correctly.
            from ..operators.infer import infer_schema

            tables[tname], schemas[tname] = tdf, infer_schema(
                tdf, tag_hints=hints.get(tname)
            )
    return tables, schemas
