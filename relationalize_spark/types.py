"""Column-type vocabulary and the choice-type algebra.

Reproduces the observable semantics of the reference type system
(reference: relationalize/types.py:1-30, relationalize/schema.py:304-319)
as a small set of pure functions over type *tags*:

- base tags: ``bool int float str none datetime``
- choice tags: ``c-<member>-<member>-...`` with members sorted
  alphabetically and never containing ``none``
- escape hatch: ``unsupported:<repr>`` for values outside the vocabulary

The union (``unify``) is commutative and associative, so the same
function implements both incremental observation (reference
schema.py:214-257) and shard merging (reference schema.py:259-302) —
and therefore distributes over Spark partitions as a tree-reduce.
"""

from __future__ import annotations

from collections.abc import Iterable

BOOL = "bool"
INT = "int"
FLOAT = "float"
STR = "str"
NONE = "none"
DATETIME = "datetime"
DATE = "date"
BINARY = "binary"

CHOICE_PREFIX = "c-"
CHOICE_SEP = "-"
UNSUPPORTED_PREFIX = "unsupported:"

#: Tags that can appear as members of a choice column.
BASE_TAGS = (BOOL, DATETIME, DATE, FLOAT, INT, NONE, STR, BINARY)


def is_choice(tag: str) -> bool:
    """True for a multi-type ("choice") column tag like ``c-int-str``."""
    return tag.startswith(CHOICE_PREFIX)


def choice_members(tag: str) -> list[str]:
    """Member base tags of a choice tag (``c-int-str`` -> [int, str])."""
    if not is_choice(tag):
        return [tag]
    return tag[len(CHOICE_PREFIX):].split(CHOICE_SEP)


def normalize(tags: Iterable[str]) -> str:
    """Collapse a set of observed base tags into a single column tag.

    ``none`` is absorbing-neutral: it is stripped from any mix, an
    empty result degrades to ``none``, and a singleton collapses to the
    base tag (reference schema.py:240-247, 290-297).
    """
    members = sorted({t for t in tags if t != NONE})
    if not members:
        return NONE
    if len(members) == 1:
        return members[0]
    return CHOICE_PREFIX + CHOICE_SEP.join(members)


def unify(a: str, b: str) -> str:
    """Union of two column tags (either may itself be a choice)."""
    if a == b:
        return a
    observed: set[str] = set(choice_members(a))
    observed.update(choice_members(b))
    return normalize(observed)


def tag_of_value(value: object) -> str:
    """Type tag for a runtime Python value.

    ``bool`` is tested before ``int`` because ``bool`` subclasses
    ``int`` in Python (reference schema.py:309-312).
    """
    if isinstance(value, bool):
        return BOOL
    if isinstance(value, int):
        return INT
    if isinstance(value, float):
        return FLOAT
    if isinstance(value, str):
        return STR
    if value is None:
        return NONE
    return f"{UNSUPPORTED_PREFIX}{type(value)}"
