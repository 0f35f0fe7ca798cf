"""Every name a package ``__all__`` exports resolves: a deleted
function must take its export entry with it."""

import importlib

PACKAGES = (
    "relationalize_spark",
    "relationalize_spark.operators",
    "relationalize_spark.sources",
    "relationalize_spark.sinks",
    "relationalize_spark.streaming",
    "relationalize_spark.plans",
    "relationalize_spark.functions",
)


def test_every_all_entry_resolves():
    stale = []
    for name in PACKAGES:
        mod = importlib.import_module(name)
        assert mod.__all__, name
        stale += [f"{name}.{e}" for e in mod.__all__ if not hasattr(mod, e)]
    assert stale == []
