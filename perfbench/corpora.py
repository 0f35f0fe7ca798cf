"""Seeded corpus generators for the paper-path benchmark.

Each generator takes the seed as an argument, returns the corpus as
JSON lines, and returns its predictions next to it: the table set the
pipeline must discover, the row count of every table, and the choice
tags the corpus was designed to force. The run compares the
pipeline's outputs against these predictions outside the timed
region.

The shapes:

- ``bulk_nested``: order-like objects three levels deep (root ->
  ``items`` -> ``items_tags``). ``total`` is an int in some rows and a
  float in others, ``cust.tier`` an int or a string, and every element
  ``price`` is fractional.
- ``stream_demux``: dynamic lines where ``v`` is an int, a two-element
  list or an object whose leaf ``a`` is an int, a float or a string;
  the key ``late`` first appears halfway through the stream.
"""

from __future__ import annotations

import json
import random
from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Prediction:
    """What the pipeline must produce for a corpus."""

    rows: Counter = field(default_factory=Counter)  # table -> row count
    tags: dict[tuple[str, str], str] = field(default_factory=dict)

    @property
    def tables(self) -> set[str]:
        return set(self.rows)

    def add(self, other: "Prediction") -> None:
        self.rows.update(other.rows)
        self.tags.update(other.tags)


def _dumps(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


# -- bulk_nested ---------------------------------------------------------

BULK_ROOT = "orders"
_TAG_WORDS = ["new", "sale", "gift", "bulk", "fragile", "eco", "promo"]
_CITIES = ["Oslo", "Lima", "Pune", "Kobe", "Graz", "Reno", "Cork", "Nice"]


def bulk_nested(seed: int, n: int) -> tuple[list[str], Prediction]:
    rng = random.Random(seed)
    lines = []
    items_total = 0
    tags_total = 0
    for i in range(n):
        items = []
        for _ in range(rng.randint(1, 4)):
            tags = rng.sample(_TAG_WORDS, rng.randint(0, 3))
            tags_total += len(tags)
            items.append(
                {
                    "sku": f"S{rng.randrange(10**6):06d}",
                    "qty": rng.randint(1, 9),
                    "price": rng.randrange(100, 100000) / 100 + 0.005,
                    "tags": tags,
                }
            )
        items_total += len(items)
        # alternate the designed choices so every corpus of >= 2
        # objects holds both members of each
        total = rng.randint(1, 9999) if i % 2 else round(rng.uniform(1, 9999), 2)
        tier = rng.randint(1, 5) if i % 2 else rng.choice(["gold", "silver"])
        lines.append(
            _dumps(
                {
                    "id": i,
                    "total": total,
                    "cust": {
                        "id": rng.randrange(10**7),
                        "tier": tier,
                        "name": f"c{rng.randrange(10**5)}",
                    },
                    "ship": {"city": rng.choice(_CITIES), "zip": f"{rng.randrange(10**5):05d}"},
                    "items": items,
                    "note": "x" * rng.randint(0, 40),
                }
            )
        )
    pred = Prediction(
        rows=Counter(
            {
                BULK_ROOT: n,
                f"{BULK_ROOT}_items": items_total,
                f"{BULK_ROOT}_items_tags": tags_total,
            }
        ),
        tags={
            (BULK_ROOT, "total"): "c-float-int",
            (BULK_ROOT, "cust_tier"): "c-int-str",
            (f"{BULK_ROOT}_items", "items_price"): "float",
        },
    )
    return lines, pred


# -- stream_demux --------------------------------------------------------

STREAM_ROOT = "dyn"
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def stream_demux(
    seed: int, batches: int, lines_per_batch: int
) -> tuple[list[list[str]], list[Prediction]]:
    """``batches`` micro-batches of JSON lines, and one Prediction per
    batch (sum a prefix to predict a partially processed stream)."""
    rng = random.Random(seed)
    out: list[list[str]] = []
    preds: list[Prediction] = []
    k = 0
    for b in range(batches):
        batch = []
        pred = Prediction(rows=Counter({STREAM_ROOT: lines_per_batch}))
        for j in range(lines_per_batch):
            m = (k + b) % 3  # every batch holds all three variants of v
            if m == 0:
                v = rng.randint(0, 10**6)
            elif m == 1:
                v = [rng.randint(0, 99), rng.randint(0, 6)]
                pred.rows[f"{STREAM_ROOT}_v"] += 2
            else:
                a = rng.choice([rng.randint(0, 999), round(rng.uniform(0, 99), 2), "na"])
                v = {"a": a, "b": rng.choice(_PRIORITIES)}
            tags = rng.sample(_TAG_WORDS, rng.randint(0, 2))
            pred.rows[f"{STREAM_ROOT}_tags"] += len(tags)
            o = {"k": k, "v": v, "tags": tags}
            if b >= batches // 2:
                o["late"] = f"L{rng.randrange(1000)}"
            batch.append(_dumps(o))
            k += 1
        pred.tags[(STREAM_ROOT, "v")] = "c-int-str"
        if b >= batches // 2:
            pred.tags[(STREAM_ROOT, "late")] = "str"
        out.append(batch)
        preds.append(pred)
    return out, preds
