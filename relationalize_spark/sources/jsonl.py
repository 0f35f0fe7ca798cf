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

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.infer import infer_and_convert
from ..operators.relationalize import _q, relationalize
from ..plans.session import session_conf
from ..schema import Schema


def read_jsonl_variant(
    spark: SparkSession, path: str, column: str = "v"
) -> DataFrame:
    """One VARIANT column per JSONL line; blank lines dropped."""
    return (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(F.parse_json("value").alias(column))
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


@dataclass
class RelationalizedJson:
    """Output of the end-to-end dynamic pipeline: one flat, converted
    DataFrame per discovered table plus its choice Schema."""

    tables: dict[str, DataFrame]
    schemas: dict[str, Schema]
    _typed: DataFrame | None = None

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def __iter__(self):
        return iter(self.tables)

    def unpersist(self) -> None:
        """Release the cached typed frame the tables read (call after
        they have been written; further reads of them would re-parse
        and re-cast the JSON). A caller-supplied source is untouched."""
        if self._typed is not None:
            self._typed.unpersist()


def relationalize_json(
    source: DataFrame | str,
    name: str,
    *,
    spark: SparkSession | None = None,
    key_cols: list[str] | None = None,
    convert: bool = True,
    rid_mode: str = "hash",
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

    The pipeline is inherently multi-pass (schema union needs every
    row before the typed cast exists — same reason the reference
    iterates the file twice, ref README.md:60-77). The merge reads the
    source; the typed frame — each object cast once to the merged
    struct — is persisted MEMORY_AND_DISK, filled by the stats round
    and left cached for the caller's materialization, so every table
    reads struct columns instead of re-running the whole-object cast.
    Call ``.unpersist()`` on the result after writing the tables. A
    caller-supplied ``source`` is never persisted or released here.
    """
    if isinstance(source, str):
        if spark is None:
            raise ValueError("pass spark= when source is a path")
        vdf = read_jsonl_variant(spark, source)
    else:
        vdf = source
    [vcol] = vdf.columns
    tree = merged_variant_schema(vdf, vcol)
    if tree.kind != "object":
        raise ValueError(
            f"top-level JSON must be objects, got {tree.kind} ({tree.leaf_type})"
        )

    # JSON keys are case-sensitive (the reference's Python dicts treat
    # "col" and "Col" as distinct; its drop_duplicate_columns exists
    # precisely to clean such pairs *later*). Spark resolves column
    # names case-insensitively by default and would throw
    # AMBIGUOUS_REFERENCE while we build the plans, so flip the session
    # to case-sensitive for the (eager) analysis phase and restore.
    with session_conf(vdf.sparkSession, "spark.sql.caseSensitive", "true"):
        typed = vdf.select(
            F.try_variant_get(F.col(vcol), "$", _cast_ddl(tree)).alias("__r__")
        ).select("__r__.*").persist(StorageLevel.MEMORY_AND_DISK)
        try:
            tables, schemas = _plan_tables(typed, name, key_cols, convert, rid_mode)
        except BaseException:
            # no RelationalizedJson reaches the caller to release it
            typed.unpersist()
            raise
    return RelationalizedJson(tables, schemas, _typed=typed)


def _plan_tables(
    typed: DataFrame,
    name: str,
    key_cols: list[str] | None,
    convert: bool,
    rid_mode: str,
) -> tuple[dict[str, DataFrame], dict[str, Schema]]:
    """``relationalize_json``'s stats round and planning over its
    persisted typed frame; the first action fills the cache."""
    hints: dict[str, dict[str, str]] = {}
    raw_tables = relationalize(
        typed, name, key_cols=key_cols, rid_mode=rid_mode, infer_hints=hints
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
