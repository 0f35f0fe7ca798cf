"""Sinks (jsonl/csv/parquet/jdbc-DDL) and multimodal plumbing tests."""

import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from relationalize_spark.operators.multimodal import (
    audio_features,
    image_features,
    sample_frames,
)
from relationalize_spark.schema import Schema
from relationalize_spark.sinks.jdbc import (
    jdbc_column_types,
    postgres_load_plan,
    redshift_copy_sql,
    write_jdbc,
)
from relationalize_spark.sinks.writers import (
    write_csv_sorted,
    write_jsonl,
    write_parquet,
    write_tables,
)


@pytest.fixture()
def small(spark):
    return spark.createDataFrame(
        [(2, "b", 2.5), (1, "a", 1.5)], "zid long, alpha string, m double"
    )


def test_jsonl_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "j")
    write_jsonl(small, p)
    back = spark.read.json(p)
    assert back.count() == 2


def test_csv_sorted_header(spark, small, tmp_path):
    p = str(tmp_path / "c")
    write_csv_sorted(small.repartition(1), p)
    [f] = glob.glob(f"{p}/part-*.csv")
    header = open(f).readline().strip()
    assert header == "alpha,m,zid"


def test_csv_with_choice_schema(spark, tmp_path):
    s = Schema({"a": "c-int-str", "b": "bool"})
    df = spark.createDataFrame(
        [(1, None, True)], "a_int long, a_str string, b boolean"
    )
    p = str(tmp_path / "cc")
    write_csv_sorted(df.repartition(1), p, schema=s)
    [f] = glob.glob(f"{p}/part-*.csv")
    assert open(f).readline().strip() == "a_int,a_str,b"
    with pytest.raises(ValueError):
        write_csv_sorted(df.drop("a_str"), str(tmp_path / "bad"), schema=s)


def test_write_tables(spark, small, tmp_path):
    write_tables({"t1": small, "t2": small}, str(tmp_path / "tabs"))
    assert spark.read.parquet(str(tmp_path / "tabs" / "t1")).count() == 2
    assert spark.read.parquet(str(tmp_path / "tabs" / "t2")).count() == 2


def _tables_of(spark, small):
    return {
        "t1": small,
        "t2": small.where("zid > 1"),
        "t3": small.select("alpha"),
        "t4": spark.range(5).withColumnRenamed("id", "n"),
    }


def _data_files(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_")) or f == "_SUCCESS"
    )


def test_write_tables_matches_one_by_one_writes(spark, small, tmp_path):
    """The pooled writer lands the same tables, files and rows as
    writing each table by itself."""
    tables = _tables_of(spark, small)
    pooled, serial = str(tmp_path / "pooled"), str(tmp_path / "serial")
    write_tables(tables, pooled)
    for name, df in tables.items():
        write_parquet(df, f"{serial}/{name}")
    assert sorted(os.listdir(pooled)) == sorted(tables)
    for name in tables:
        got = spark.read.parquet(f"{pooled}/{name}")
        want = spark.read.parquet(f"{serial}/{name}")
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
        # part files carry a per-write uuid; compare the layout by count
        files = _data_files(f"{pooled}/{name}")
        assert len(files) == len(_data_files(f"{serial}/{name}"))
        assert "_SUCCESS" in files


def test_write_tables_raises_the_failing_tables_error_after_the_pool_joins(
    spark, small, tmp_path
):
    tables = _tables_of(spark, small)
    tables["t2"] = small.select(
        F.when(F.col("zid") > 0, F.raise_error(F.lit("t2 cannot be written")))
        .otherwise(F.col("alpha"))
        .alias("alpha")
    )
    before = set(threading.enumerate())
    base = str(tmp_path / "tabs")
    with pytest.raises(Exception, match="t2 cannot be written"):
        write_tables(tables, base)
    assert set(threading.enumerate()) <= before
    # the tables around the failing one were submitted with it and
    # finished before the error surfaced
    for name in ("t1", "t3", "t4"):
        assert os.path.exists(f"{base}/{name}/_SUCCESS")
    assert not os.path.exists(f"{base}/t2/_SUCCESS")


def test_write_tables_jobs_carry_the_callers_job_group(spark, small, tmp_path):
    """Local properties reach the pool threads: every job of a pooled
    write_tables call belongs to the caller's job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "write-tables-job-group"
    first = jsc.dagScheduler().numTotalJobs()
    sc.setJobGroup(group, "pooled write_tables")
    try:
        write_tables(_tables_of(spark, small), str(tmp_path / "tabs"))
    finally:
        sc._jsc.clearJobGroup()
    last = jsc.dagScheduler().numTotalJobs()
    jsc.listenerBus().waitUntilEmpty()
    assert last - first >= 4
    assert sorted(sc.statusTracker().getJobIdsForGroup(group)) == list(range(first, last))


def test_jdbc_plan(small):
    s = Schema({"a": "c-int-str", "b": "bool", "z": "none"})
    assert (
        jdbc_column_types(s)
        == "`a_int` BIGINT, `a_str` VARCHAR(65535), `b` BOOLEAN, `z` BOOLEAN"
    )
    w = write_jdbc(small, "jdbc:postgresql://h/db", "t", s)
    assert w is not None  # plan assembles without a driver
    plan = postgres_load_plan(s, "users")
    assert plan[0] == 'DROP TABLE IF EXISTS "public"."users";'
    assert "CREATE TABLE IF NOT EXISTS" in plan[1]
    # names carrying '"' are escaped in DROP/ANALYZE exactly as in CREATE
    plan = postgres_load_plan(Schema({"a": "int"}), 'x"y', 'p"q')
    assert plan[0] == 'DROP TABLE IF EXISTS "p""q"."x""y";'
    assert plan[1].startswith('CREATE TABLE IF NOT EXISTS "p""q"."x""y" (')
    assert plan[2] == 'ANALYZE "p""q"."x""y";'
    sql = redshift_copy_sql("t", "s3://b/k", "arn:aws:iam::1:role/r")
    assert sql.startswith("COPY t FROM 's3://b/k'") and "GZIP" in sql


@pytest.fixture()
def binary_docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "abcdefgh" * 20), (3, None)],
        "doc_id long, text string",
    ).select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
    )


def test_image_features_deterministic(binary_docs):
    rows = {r.doc_id: r for r in image_features(binary_docs).collect()}
    r1 = rows[1]
    n = len(b"hello world")
    assert r1.n_bytes == n
    assert r1.width == n % 512 + 16
    assert r1.height == (n * 31) % 512 + 16
    assert abs(r1.mean_byte - sum(b"hello world") / n) < 1e-9
    assert len(r1.features) == 8
    assert abs(sum(r1.features) - 1.0) < 1e-6


def test_sample_frames(binary_docs):
    frames = sample_frames(binary_docs, n_frames=4).collect()
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f)
    assert len(by_doc[2]) == 4
    assert sorted(f.frame_idx for f in by_doc[2]) == [0, 1, 2, 3]
    assert all(f.frame_bytes == 40 for f in by_doc[2])


def _wav_bytes(freq_hz, rate=8000, seconds=0.25, amplitude=0.5):
    import io
    import math
    import struct
    import wave

    n = int(rate * seconds)
    samples = [
        int(amplitude * 32767 * math.sin(2 * math.pi * freq_hz * i / rate))
        for i in range(n)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def test_audio_features_decodes_real_wav(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, bytearray(_wav_bytes(440))),
            (2, bytearray(_wav_bytes(880))),
            (3, bytearray(b"not audio at all")),
            (4, None),
        ],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: r for r in audio_features(df).collect()}
    r1 = rows[1]
    assert r1.sample_rate == 8000 and r1.n_channels == 1
    assert r1.n_samples == 2000
    assert abs(r1.duration_s - 0.25) < 1e-9
    # sine RMS = amplitude/sqrt(2)
    assert abs(r1.rms - 0.5 / math.sqrt(2)) < 0.01
    # zero crossings of a sine ~ 2 * freq / rate
    assert abs(r1.zero_crossing_rate - 2 * 440 / 8000) < 0.01
    assert abs(rows[2].zero_crossing_rate - 2 * 880 / 8000) < 0.01
    # non-WAV payloads yield NULL features, not a failed job
    assert rows[3].sample_rate is None and rows[3].n_bytes == 16
    assert rows[4].n_bytes is None
