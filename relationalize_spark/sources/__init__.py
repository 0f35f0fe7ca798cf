from .external import (
    export_documents_to_jsonl,
    jsonl_to_tables,
    mongo_export_jsonl,
    rest_export_jsonl,
)
from .jsonl import read_jsonl_variant, relationalize_json
from .readers import read_binary_files, read_parquet
from .tables import load_table, load_tables, register_views

__all__ = [
    "export_documents_to_jsonl",
    "jsonl_to_tables",
    "mongo_export_jsonl",
    "rest_export_jsonl",
    "read_jsonl_variant",
    "relationalize_json",
    "read_binary_files",
    "read_parquet",
    "load_table",
    "load_tables",
    "register_views",
]
