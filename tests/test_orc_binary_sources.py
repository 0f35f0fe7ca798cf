"""The binaryFile media-ingestion scan feeding the multimodal
operators."""

import numpy as np
from pyspark.sql import functions as F

from relationalize_spark.operators.multimodal import decode_images
from relationalize_spark.sources.readers import read_binary_files


def test_binary_files_scan_feeds_decode(spark, tmp_path):
    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    ppm = b"P6\n6 4\n255\n" + arr.tobytes()
    (tmp_path / "a.ppm").write_bytes(ppm)
    (tmp_path / "b.ppm").write_bytes(ppm)
    (tmp_path / "ignore.txt").write_bytes(b"not an image")
    (tmp_path / "huge.ppm").write_bytes(ppm + b"\0" * 10_000)

    df = read_binary_files(spark, str(tmp_path), glob="*.ppm", max_bytes=1000)
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 2  # txt excluded by glob, huge by max_bytes

    decoded = decode_images(
        df.select(F.col("path").alias("doc_id"), "content"), "content", ("doc_id",)
    ).collect()
    assert all(r.format == "ppm" and (r.height, r.width) == (4, 6) for r in decoded)
