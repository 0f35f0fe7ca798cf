"""Mongo-export and REST-export sources, driven end-to-end into the
relationalize pipeline with injected fakes (no network, no server)."""

import datetime
import json

import pyspark.sql.functions as F

from relationalize_spark.sources.external import (
    export_documents_to_jsonl,
    jsonl_to_tables,
    mongo_export_jsonl,
    rest_export_jsonl,
)
from relationalize_spark.sources.jsonl import RelationalizedJson


class _FakeCollection:
    def __init__(self, docs):
        self._docs = docs
        self.seen_query = None

    def find(self, query):
        self.seen_query = query
        return iter(self._docs)


class _FakeClient(dict):
    def __init__(self, uri, docs):
        self.uri = uri
        self.coll = _FakeCollection(docs)

    def __getitem__(self, db):
        return {"users": self.coll}


MONGO_DOCS = [
    {"_id": "oid1", "name": "ada", "age": 36,
     "joined": datetime.datetime(2024, 1, 2, 3, 4, 5),
     "tags": [{"t": "admin"}, {"t": "eng"}]},
    {"_id": "oid2", "name": "bob", "age": "unknown", "tags": []},
]


def test_mongo_export_writes_reference_shaped_jsonl(tmp_path):
    path = str(tmp_path / "users.jsonl")
    holder = {}

    def factory(uri):
        holder["client"] = _FakeClient(uri, MONGO_DOCS)
        return holder["client"]

    n = mongo_export_jsonl(path, "mongodb://x", "appdb", "users",
                           client_factory=factory)
    assert n == 2
    assert holder["client"].coll.seen_query == {}
    lines = [json.loads(l) for l in open(path)]
    # non-JSON types serialized via default=str, like the reference
    assert lines[0]["joined"] == "2024-01-02 03:04:05"
    assert lines[0]["tags"][1]["t"] == "eng"


def test_mongo_export_relationalizes_with_choice_and_children(spark, tmp_path):
    path = str(tmp_path / "users.jsonl")
    export_documents_to_jsonl(MONGO_DOCS, path)
    tables = jsonl_to_tables(spark, path, "users")
    root = tables["users"]
    # int/str conflict on age -> choice split
    assert "age_int" in root.columns and "age_str" in root.columns
    assert tables["users_tags"].count() == 2
    joined = root.join(
        tables["users_tags"],
        root.tags == F.col("tags__rid_"),
    )
    assert joined.count() == 2


def test_jsonl_to_tables_releases_its_cache(spark, tmp_path):
    path = str(tmp_path / "users.jsonl")
    export_documents_to_jsonl(MONGO_DOCS, path)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    out = jsonl_to_tables(spark, path, "users")
    assert type(out) is RelationalizedJson
    assert out["users_tags"].count() == 2
    assert persisted().size() == before + 1
    out.unpersist()
    assert persisted().size() == before


POKE_LISTING = {
    "results": [
        {"name": "bulbasaur", "url": "https://api/pokemon/1"},
        {"name": "ivysaur", "url": "https://api/pokemon/2"},
    ]
}
POKE_DETAIL = {
    "https://api/pokemon/1": {
        "id": 1, "name": "bulbasaur", "weight": 69,
        "sprites": {"front": "x.png"},
        "types": [{"slot": 1, "type": {"name": "grass"}}],
    },
    "https://api/pokemon/2": {
        "id": 2, "name": "ivysaur", "weight": 130,
        "sprites": {"front": "y.png"},
        "types": [{"slot": 1, "type": {"name": "grass"}},
                  {"slot": 2, "type": {"name": "poison"}}],
    },
}


def _fake_fetch(url):
    if url == "https://api/pokemon?limit=100000":
        return POKE_LISTING
    return POKE_DETAIL[url]


def test_rest_export_follows_listing_and_drops_fields(tmp_path):
    path = str(tmp_path / "pokemon.jsonl")
    n = rest_export_jsonl(
        path,
        "https://api/pokemon?limit=100000",
        drop_fields=("sprites",),
        fetch_json=_fake_fetch,
    )
    assert n == 2
    lines = [json.loads(l) for l in open(path)]
    assert [l["name"] for l in lines] == ["bulbasaur", "ivysaur"]
    assert all("sprites" not in l for l in lines)


def test_rest_export_relationalizes_nested_types(spark, tmp_path):
    path = str(tmp_path / "pokemon.jsonl")
    rest_export_jsonl(
        path,
        "https://api/pokemon?limit=100000",
        drop_fields=("sprites",),
        fetch_json=_fake_fetch,
    )
    tables = jsonl_to_tables(spark, path, "pokemon")
    assert tables["pokemon"].count() == 2
    types = tables["pokemon_types"]
    assert types.count() == 3
    assert set(types.columns) >= {"types_slot", "types_type_name",
                                  "types__rid_", "types__index_"}


def test_rest_export_cursor_pagination(tmp_path):
    pages = {
        "p1": {"items": [{"id": 1}], "next": "p2"},
        "p2": {"items": [{"id": 2}], "next": None},
    }
    path = str(tmp_path / "paged.jsonl")
    n = rest_export_jsonl(
        path, "p1", items_key="items", detail_url_key=None,
        next_key="next", fetch_json=lambda u: pages[u],
    )
    assert n == 2
    assert [json.loads(l)["id"] for l in open(path)] == [1, 2]
