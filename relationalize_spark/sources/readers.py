"""Thin file-source wrappers: the scan layer of the engine.

All of these are native Spark readers (predicate pushdown, column
pruning, partition discovery over directory globs and ``s3a://``
paths come built in); the wrappers pin the options the engine relies
on and document the reference mapping (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Messy-input ingestion with a quarantine lane: rows that parse
    against ``schema`` flow through; malformed lines (bad JSON, type
    mismatch under PERMISSIVE-null corruption) land in a second
    DataFrame carrying the raw line for replay. One scan feeds both —
    Spark's PERMISSIVE mode fills ``_corrupt_record`` per row, and the
    good/bad split is two filters over the same cached parse, so the
    100 TB cost is one pass, not two.

    The reference crashes on unparseable lines (json.loads in its
    iterator, reference relationalize.py:56-63); a warehouse load at
    scale needs the bad 0.01% quarantined, not the job dead.
    """
    from pyspark.sql import functions as F

    # text scan + from_json rather than the JSON source's
    # _corrupt_record column: Spark refuses corrupt-column-only
    # queries without caching the whole parse
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    # text formulation splits lanes from one scan with no cache.
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    parsed = raw.select(
        F.from_json(
            "value",
            schema + ", _corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r"),
        F.col("value"),
    )
    is_bad = F.col("r").isNull() | F.col("r._corrupt").isNotNull()
    good = parsed.filter(~is_bad).select("r.*").drop("_corrupt")
    bad = parsed.filter(is_bad).select(F.col("value").alias("raw_line"))
    return good, bad


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Media ingestion: every matching file as one row of
    (path, modificationTime, length, content binary) via Spark's
    ``binaryFile`` source — the scan that feeds
    operators/multimodal.py. ``glob`` filters by file name (e.g.
    ``*.wav``); ``max_bytes`` guards the executor against a rogue
    multi-GB object (rows above it are filtered AFTER the listing but
    BEFORE content is materialized downstream — length is a listing
    column, so the filter prunes on metadata, not bytes read).

    Scale note: one row per file means a corpus of many tiny files
    should be packed into fewer, larger files upstream; the source
    parallelizes by files, not by bytes.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("length") <= max_bytes)
    return df
