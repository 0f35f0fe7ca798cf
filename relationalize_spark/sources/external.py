"""External ingestion sources: MongoDB collection exports and REST
APIs, landing as newline-delimited JSON for the dynamic pipeline.

Mirrors the reference's demonstrated surface (ref
``examples/full_mongodb_psql_pipeline.py:66-74`` exports a pymongo
cursor to JSONL with ``json.dumps(doc, default=str)``; ref
``examples/full_pokemon_psql_pipeline.py:60-76`` walks a paginated
REST listing and dumps each entity). The export step is driver-side
by design: these are bounded administrative extracts (one collection
dump, one API walk) that FEED the distributed pipeline — at real
scale the same extracts land on object storage from the operational
side and enter through :func:`jsonl_to_tables` /
``sources.jsonl.read_jsonl_variant`` identically.

Both exporters take an injectable client/fetch factory so they are
unit-testable without network or a running database; the pymongo /
urllib imports are deferred and optional.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import SparkSession

from .jsonl import RelationalizedJson, read_jsonl_variant, relationalize_json


def export_documents_to_jsonl(docs: Iterable[dict], path: str) -> int:
    """Write an iterable of JSON-able documents (e.g. a pymongo
    cursor) to a JSONL file; non-JSON types (ObjectId, datetime)
    serialize via ``default=str`` exactly like the reference export.
    Returns the number of documents written."""
    n = 0
    with open(path, "w") as f:
        for doc in docs:
            f.write(json.dumps(doc, default=str))
            f.write("\n")
            n += 1
    return n


def mongo_export_jsonl(
    path: str,
    connection_string: str,
    database: str,
    collection: str,
    query: dict | None = None,
    client_factory: Callable | None = None,
) -> int:
    """Export one MongoDB collection to JSONL.

    ``client_factory(connection_string)`` must return a pymongo-style
    client (``client[db][coll].find(query)``); default is
    ``pymongo.MongoClient`` when pymongo is installed. Tests inject a
    fake factory — no network or server needed.
    """
    if client_factory is None:
        try:
            import pymongo
        except ImportError as e:  # pragma: no cover - env constraint
            raise ImportError(
                "pymongo is not installed; pass client_factory= to use "
                "a custom client (or export JSONL out-of-band and use "
                "jsonl_to_tables directly)"
            ) from e
        client_factory = pymongo.MongoClient
    client = client_factory(connection_string)
    cursor = client[database][collection].find(query or {})
    return export_documents_to_jsonl(cursor, path)


def _default_fetch_json(url: str) -> dict:  # pragma: no cover - network
    import urllib.request

    with urllib.request.urlopen(url) as resp:
        return json.loads(resp.read().decode("utf-8"))


def rest_export_jsonl(
    path: str,
    listing_url: str,
    items_key: str = "results",
    detail_url_key: str | None = "url",
    next_key: str | None = None,
    drop_fields: tuple[str, ...] = (),
    fetch_json: Callable[[str], dict] | None = None,
    max_items: int | None = None,
) -> int:
    """Walk a REST listing endpoint and export one JSONL line per
    entity, following the reference's pokeAPI shape: fetch the
    listing, then (optionally) fetch each item's ``detail_url_key``
    for the full entity, dropping ``drop_fields`` (the reference
    drops ``sprites`` to keep downstream column names bounded).

    ``next_key`` follows cursor pagination in the listing response.
    ``fetch_json(url) -> dict`` is injectable for tests; the default
    uses urllib.
    """
    fetch = fetch_json or _default_fetch_json

    def entities() -> Iterator[dict]:
        n = 0
        url: str | None = listing_url
        while url:
            page = fetch(url)
            for item in page.get(items_key, []):
                if detail_url_key and detail_url_key in item:
                    entity = fetch(item[detail_url_key])
                else:
                    entity = item
                for fld in drop_fields:
                    entity.pop(fld, None)
                yield entity
                n += 1
                if max_items is not None and n >= max_items:
                    return
            url = page.get(next_key) if next_key else None

    return export_documents_to_jsonl(entities(), path)


def jsonl_to_tables(
    spark: SparkSession, path: str, root_name: str
) -> RelationalizedJson:
    """JSONL file -> fully relationalized tables: VARIANT ingest,
    distributed schema inference with choice splitting, nested-array
    split-out with rid linkage. The Spark half of the reference's
    export->Relationalize->convert pipelines.

    The tables read a cached typed frame; call ``.unpersist()`` on the
    result after they have been written."""
    vdf = read_jsonl_variant(spark, path)
    return relationalize_json(vdf, root_name)
