"""Distributed choice-type schema inference and conversion.

The reference infers a per-column type union incrementally on one
thread (reference schema.py:194-257) or merges per-shard schemas
(schema.py:259-302). Here the same algebra runs as ONE distributed
aggregation: each row contributes its per-column type tag, tags are
collect_set-combined map-side, and the driver folds the resulting sets
through :func:`relationalize_spark.types.normalize` — the identical
none-absorption/collapse lattice. ``Schema.merge`` remains available
for cross-job shard merging; partition-parallel inference is exactly
that merge distributed by Spark.

Conversion (reference schema.py:31-96) is a pure projection: each
choice column becomes one column per member type, populated only when
the row's runtime tag matches — no Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from .. import types as T
from ..schema import Schema
from .relationalize import _q

#: Spark DataType -> reference tag
_SPARK_TYPE_TAGS: dict[type, str] = {
    ST.BooleanType: T.BOOL,
    ST.ByteType: T.INT,
    ST.ShortType: T.INT,
    ST.IntegerType: T.INT,
    ST.LongType: T.INT,
    ST.FloatType: T.FLOAT,
    ST.DoubleType: T.FLOAT,
    ST.DecimalType: T.FLOAT,
    ST.StringType: T.STR,
    ST.CharType: T.STR,
    ST.VarcharType: T.STR,
    ST.TimestampType: T.DATETIME,
    ST.TimestampNTZType: T.DATETIME,
    ST.DateType: T.DATE,
    ST.BinaryType: T.BINARY,
    ST.NullType: T.NONE,
}


def tag_of_spark_type(dt: ST.DataType) -> str:
    tag = _SPARK_TYPE_TAGS.get(type(dt))
    if tag is None:
        return f"{T.UNSUPPORTED_PREFIX}{dt.simpleString()}"
    return tag


def schema_of_dataframe(df: DataFrame) -> Schema:
    """Static Schema from a typed DataFrame's dtypes (Spark columns are
    single-typed, so no choices arise here)."""
    return Schema({f.name: tag_of_spark_type(f.dataType) for f in df.schema.fields})


#: variant-tag (schema_of_variant output) -> reference tag, as a Column
def ref_tag_expr(variant_col: Column) -> Column:
    return ref_tag_from_schema_str(F.schema_of_variant(variant_col))


def ref_tag_from_schema_str(tag: Column) -> Column:
    """Reference tag from an already-computed ``schema_of_variant``
    string column (lets callers that need the raw schema string too —
    relationalize's branch analysis — compute it once per row)."""
    return (
        F.when(tag == "BOOLEAN", T.BOOL)
        .when(tag == "BIGINT", T.INT)
        .when(tag.startswith("DECIMAL") | (tag == "DOUBLE") | (tag == "FLOAT"), T.FLOAT)
        .when(tag == "STRING", T.STR)
        .when(tag == "VOID", T.NONE)
        .when(tag.startswith("TIMESTAMP"), T.DATETIME)
        .when(tag == "DATE", T.DATE)
        .when(tag == "BINARY", T.BINARY)
        .otherwise(F.concat(F.lit(T.UNSUPPORTED_PREFIX), tag))
    )


#: reference tag -> extraction target type for try_variant_get
_EXTRACT_TYPES = {
    T.BOOL: "boolean",
    T.INT: "bigint",
    T.FLOAT: "double",
    T.STR: "string",
    T.DATETIME: "timestamp",
    T.DATE: "date",
    T.BINARY: "binary",
}


def observed_variant_tags(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """One aggregation: per variant column, the set of reference tags
    observed across all rows (SQL-null = field absent contributes
    nothing; variant-null contributes ``none``), normalized through the
    choice lattice. This IS the distributed version of the reference's
    read_object/merge pair."""
    if not cols:
        return {}
    aggs = [
        F.collect_set(ref_tag_expr(F.col(_q(c)))).alias(c)
        for c in cols
    ]
    row = df.agg(*aggs).collect()[0]
    out = {}
    for c in cols:
        tags = row[c] or []
        out[c] = T.normalize(tags) if tags else T.NONE
    return out


def convert_choice_columns(
    df: DataFrame, members_by_col: dict[str, str]
) -> DataFrame:
    """Split each variant column into per-type sub-columns according to
    its (choice) tag — the reference's convert_object as a projection
    (reference schema.py:31-96): value lands in ``{col}_{tag}`` when
    its runtime tag matches; nulls land nowhere; a single-typed column
    keeps its name; a none-only column becomes null BOOLEAN (matching
    the DDL mapping for ``none``)."""
    projections: list[Column] = []
    for f in df.schema.fields:
        name = f.name
        if not isinstance(f.dataType, ST.VariantType):
            projections.append(F.col(_q(name)))
            continue
        tag = members_by_col.get(name, T.NONE)
        col = F.col(_q(name))
        if tag == T.NONE:
            projections.append(F.lit(None).cast("boolean").alias(name))
            continue
        if not T.is_choice(tag):
            target = _EXTRACT_TYPES.get(tag)
            if target is None:  # unsupported: keep raw JSON string
                projections.append(col.cast("string").alias(name))
            else:
                projections.append(
                    F.try_variant_get(col, "$", target).alias(name)
                )
            continue
        row_tag = ref_tag_expr(col)
        for member in T.choice_members(tag):
            if member == T.NONE:
                continue
            target = _EXTRACT_TYPES.get(member)
            if target is None:
                extracted = col.cast("string")
            else:
                extracted = F.try_variant_get(col, "$", target)
            projections.append(
                F.when(row_tag == member, extracted).alias(f"{name}_{member}")
            )
    return df.select(*projections)


def infer_schema(
    df: DataFrame, tag_hints: dict[str, str] | None = None
) -> Schema:
    """The Schema of a (possibly variant-carrying) table WITHOUT
    converting it: variant columns get their observed (choice) tags —
    hinted ones free, unhinted via the one-aggregation scan — typed
    columns their static tag. This is the ``infer_and_convert``
    inference half alone, for callers that keep the data untyped (the
    streaming demux appends raw rows and must still record e.g.
    ``c-int-str`` for a key that conflicted WITHIN one batch, so the
    cross-batch Schema.merge sees real tags, never a raw-variant
    placeholder)."""
    variant_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, ST.VariantType)
    ]
    members = {c: t for c, t in (tag_hints or {}).items() if c in variant_cols}
    members.update(
        observed_variant_tags(df, [c for c in variant_cols if c not in members])
    )
    return Schema(
        {
            f.name: members[f.name]
            if f.name in members
            else tag_of_spark_type(f.dataType)
            for f in df.schema.fields
        }
    )


def infer_and_convert(
    df: DataFrame, tag_hints: dict[str, str] | None = None
) -> tuple[DataFrame, Schema]:
    """Infer the choice schema of a table containing variant columns,
    convert it to the flat split-column layout, and return both the
    converted frame and the Schema (for DDL / hygiene ops).

    ``tag_hints`` maps column -> already-normalized tag for columns
    whose observed tags are known from an earlier pass —
    relationalize's path-keyed position stats collect them in the
    SAME round that decides object/array split-out
    (operators/relationalize.py:_position_stats), so the dynamic
    pipeline's inference runs no scan of its own. Hinted columns skip
    the scan; any unhinted variant columns (e.g. of a table unioned
    from several parents) still get the one-aggregation inference."""
    schema = infer_schema(df, tag_hints)
    members = {
        f.name: schema.columns[f.name]
        for f in df.schema.fields
        if isinstance(f.dataType, ST.VariantType)
    }
    converted = convert_choice_columns(df, members)
    return converted, schema
