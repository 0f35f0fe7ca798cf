"""Operational robustness: corrupt-record quarantine, schema-drift
reads, small-files compaction."""

import json

import pyspark.sql.functions as F
import pytest

from relationalize_spark.plans.scale import compact_files
from relationalize_spark.plans.session import session_conf
from relationalize_spark.sources.readers import (
    read_jsonl_quarantine,
    read_parquet_evolving,
)


def test_quarantine_splits_good_and_bad_lines(spark, tmp_path):
    src = tmp_path / "in.jsonl"
    src.write_text(
        "\n".join(
            [
                json.dumps({"id": 1, "name": "ok"}),
                '{"id": 2, "name": "unterminated',       # bad JSON
                json.dumps({"id": 3, "name": "fine"}),
                "not json at all",
            ]
        )
    )
    good, bad = read_jsonl_quarantine(spark, str(src), "id bigint, name string")
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    raws = [r["raw_line"] for r in bad.collect()]
    assert len(raws) == 2 and any("unterminated" in r for r in raws)
    # quarantined lines are replayable raw text
    assert "not json at all" in raws


def test_read_parquet_evolving_fills_missing_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id int, name string").write.parquet(
        path + "/day=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id int, name string, score double"
    ).write.parquet(path + "/day=2")

    df = read_parquet_evolving(spark, path)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None        # pre-drift file reads as NULL
    assert rows[2]["score"] == 9.5
    assert {"id", "name", "score", "day"} <= set(df.columns)


def test_compact_files_reduces_file_count(spark, tmp_path):
    src, out = str(tmp_path / "small"), str(tmp_path / "compacted")
    df = spark.range(10_000).select("id", (F.col("id") % 7).alias("k"))
    df.repartition(64).write.parquet(src)          # 64 tiny files
    assert len(spark.read.parquet(src).inputFiles()) == 64

    n = compact_files(spark, src, out, target_mb=512)
    assert n == 1                                   # KBs of data -> one file
    assert len(spark.read.parquet(out).inputFiles()) == 1
    assert spark.read.parquet(out).count() == 10_000
    assert (
        spark.read.parquet(out).agg(F.sum("id")).collect()[0][0]
        == df.agg(F.sum("id")).collect()[0][0]
    )


def test_session_conf_restored_after_exception(spark):
    """session_conf puts back what it found — a value, or no value at
    all — when the scope raises. Conf reads only; no Spark job."""
    key = "spark.relationalize.test.scoped"
    try:
        for before in (None, "outer"):
            if before is not None:
                spark.conf.set(key, before)
            with pytest.raises(RuntimeError, match="boom"):
                with session_conf(spark, key, "inner"):
                    assert spark.conf.get(key) == "inner"
                    raise RuntimeError("boom")
            assert spark.conf.get(key, None) == before
    finally:
        spark.conf.unset(key)
