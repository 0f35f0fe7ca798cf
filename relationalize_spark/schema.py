"""Choice-supporting schema for flattened rows.

Reproduces the observable behavior of the reference ``Schema``
(reference relationalize/schema.py:13-319): incremental inference,
associative merge, choice-column conversion, column hygiene, and DDL
generation — re-expressed on top of the pure type algebra in
:mod:`relationalize_spark.types` so the same logic runs on the driver
*and* as the combine step of a distributed aggregation
(:mod:`relationalize_spark.operators.infer`).

Known deviations from the reference (documented, intentional):

- ``convert_record`` always drops record keys absent from the schema,
  including ``None``-valued ones. (The reference keeps unknown keys
  when their value is None in exactly one of its two internal
  iteration strategies — an order-dependent quirk we do not copy.)
- ``merge`` accepts Schema objects as well as plain dicts.
- Phantom ``none`` columns for null-or-object keys: when the SAME key
  holds an explicit JSON null in one row and an object in another
  (``{"b": {"a": null}}`` + ``{"b": {"a": {"x": 1}}}``), the
  reference's schema keeps ``b_a: none`` (from the null row)
  alongside the flattened ``b_a_x`` — a column that is all-null by
  construction. The list-element form behaves identically: a list
  mixing dict elements with explicit nulls keeps a ``{path}__val_:
  none`` column next to the flattened ``{path}_*`` element fields. This engine's schema merge absorbs the null into the
  object branch (``schema_of_variant_agg`` semantics), so the
  ``none`` column is not emitted; no row data differs (the cell is
  null either way — pinned by tests/test_differential_reference.py).
  Reproducing the phantom column would cost a per-object-path
  null-witness scan, or demote every nested object field to VARIANT
  (one aggregate pass per nesting level on every corpus) — the wrong
  trade for an observationally empty BOOLEAN DDL column.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from typing import Any

from . import types as T
from .dialects import DEFAULT_DIALECT, SQLDialect

#: Characters allowed (besides alphanumerics) by drop_special_char_columns.
DEFAULT_ALLOWED_CHARS = frozenset({" ", "-", "_"})


class Schema:
    """A ``dict[column -> type tag]`` with choice-type semantics."""

    def __init__(
        self,
        columns: dict[str, str] | None = None,
        dialect: SQLDialect = DEFAULT_DIALECT,
    ):
        self.columns: dict[str, str] = dict(columns) if columns else {}
        self.dialect = dialect

    # -- inference ---------------------------------------------------------

    def observe(self, record: dict[str, Any]) -> None:
        """Fold one flat record into the schema (reference schema.py:194-199)."""
        for key, value in record.items():
            tag = T.tag_of_value(value)
            current = self.columns.get(key)
            self.columns[key] = tag if current is None else T.unify(current, tag)

    @staticmethod
    def merge(*schemas: "Schema | dict[str, str]") -> "Schema":
        """Associative, commutative union of schemas (reference schema.py:259-302)."""
        merged: dict[str, str] = {}
        for s in schemas:
            cols = s.columns if isinstance(s, Schema) else s
            for key, tag in cols.items():
                merged[key] = tag if key not in merged else T.unify(merged[key], tag)
        return Schema(merged)

    # -- conversion --------------------------------------------------------

    def convert_record(self, record: dict[str, Any]) -> dict[str, Any]:
        """Route values of choice columns into ``{col}_{tag}`` sub-columns.

        Non-choice columns pass through untouched; ``None`` passes
        through under the un-suffixed name; keys absent from the schema
        are dropped; a value whose tag is outside a choice column's
        members raises (reference schema.py:31-96).
        """
        out: dict[str, Any] = {}
        for key, value in record.items():
            tag = self.columns.get(key)
            if tag is None:
                continue
            if value is None:
                out[key] = None
                continue
            if not T.is_choice(tag):
                out[key] = value
                continue
            value_tag = T.tag_of_value(value)
            if value_tag not in T.choice_members(tag):
                raise ValueError(
                    f"value of type {value_tag!r} for column {key!r} is outside "
                    f"its choice schema {tag!r}"
                )
            out[f"{key}_{value_tag}"] = value
        return out

    def _split_columns(self) -> Iterator[tuple[str, str]]:
        """``(column, tag)`` per converted column: choice columns split
        per member tag, ``none`` members excluded (reference
        schema.py:98-142)."""
        for key, tag in self.columns.items():
            if not T.is_choice(tag):
                yield key, tag
                continue
            for member in T.choice_members(tag):
                if member != T.NONE:
                    yield f"{key}_{member}", member

    def output_columns(self) -> list[str]:
        """Sorted final column list — reference schema.py:98-114."""
        return sorted(col for col, _ in self._split_columns())

    # -- column hygiene ----------------------------------------------------

    def drop_null_columns(self) -> int:
        """Remove columns only ever observed as null (reference schema.py:144-157)."""
        doomed = [k for k, tag in self.columns.items() if tag == T.NONE]
        for k in doomed:
            del self.columns[k]
        return len(doomed)

    def drop_special_char_columns(
        self, allowed_chars: Iterable[str] = DEFAULT_ALLOWED_CHARS
    ) -> int:
        """Remove columns whose name contains characters outside
        alphanumerics + ``allowed_chars`` (reference schema.py:159-174)."""
        allowed = set(allowed_chars)
        doomed = [
            k
            for k in self.columns
            if any(not (ch.isalnum() or ch in allowed) for ch in k)
        ]
        for k in doomed:
            del self.columns[k]
        return len(doomed)

    def drop_duplicate_columns(self) -> int:
        """Remove case-insensitive duplicate names, keeping the first
        (reference schema.py:176-192 — the docstring there says
        case-*sensitive* but the code casefolds; we follow the code).

        DOCUMENTED DEVIATION: "first" is this schema's column order.
        For a hand-built Schema observed row-by-row that is the
        reference's row-arrival order exactly; for a schema produced
        by the distributed pipeline it is the merged variant tree's
        canonical (sorted) key order — a distributed scan has no
        single row-arrival order, so which member of a casefold pair
        survives is deterministic (sorted-first) rather than
        corpus-order-dependent. Pinned differentially in
        tests/test_differential_reference.py::
        test_differential_wide_dynamic_with_hygiene."""
        seen: set[str] = set()
        doomed: list[str] = []
        for k in self.columns:
            folded = k.casefold()
            if folded in seen:
                doomed.append(k)
            else:
                seen.add(folded)
        for k in doomed:
            del self.columns[k]
        return len(doomed)

    # -- DDL / serialization -----------------------------------------------

    def generate_ddl(self, table: str, schema: str = "public") -> str:
        """CREATE TABLE for the converted (choice-split) layout, with
        column definitions sorted (reference schema.py:116-142)."""
        defs = sorted(self.dialect.column_def(c, t) for c, t in self._split_columns())
        return self.dialect.create_table(schema, table, defs)

    def serialize(self) -> str:
        return json.dumps(self.columns)

    @staticmethod
    def deserialize(content: str) -> "Schema":
        return Schema(json.loads(content))

    # -- dunder conveniences -------------------------------------------------

    def __eq__(self, other: object) -> bool:
        if isinstance(other, Schema):
            return self.columns == other.columns
        if isinstance(other, dict):
            return self.columns == other
        return NotImplemented

    def __repr__(self) -> str:
        return f"Schema({self.columns!r})"

    def __len__(self) -> int:
        return len(self.columns)
