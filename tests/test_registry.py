"""Pin the query registry's import-time order and oracles.

The correctness gate records only the first 50 registry entries, so the
order of the declaration in ``relationalize_spark/queries.py`` is part of
its contract. A rotation moves lines there and updates ``ORDER_SHA256``
here in the same commit. Imports only; starts no Spark session.
"""

import hashlib
import json

from relationalize_spark.queries import REGISTRY

ORDER_SHA256 = "8e91fd80e271235800f5115399ba56ad34bca9e76009de9b7b3a73de01b62fb7"


def test_registry_order_and_oracles_pinned():
    seq = [[name, sql or ""] for name, (_, sql) in REGISTRY.items()]
    assert hashlib.sha256(json.dumps(seq).encode()).hexdigest() == ORDER_SHA256


def test_registry_size_and_oracle_count():
    assert len(REGISTRY) == 152
    assert sum(1 for _, sql in REGISTRY.values() if sql) == 149
