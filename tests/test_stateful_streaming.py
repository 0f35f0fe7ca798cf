"""Cross-batch stateful operators: dedup state must survive between
micro-batches and across query restarts on the same checkpoint."""

import json

import pytest

from relationalize_spark.streaming.stateful import streaming_exact_dedup

#: slow lane (r10, r8 verdict item 7): exclude with -m "not slow" for
#: the fast mid-round loop; the full suite stays the end-of-round gate.
pytestmark = pytest.mark.slow


SCHEMA = "fp string, doc_id long"


def _run_batch(spark, src, ckpt, out):
    # File sink (not memory): memory sinks cannot recover from a
    # checkpoint, and the whole point here is restart recovery.
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = (
        streaming_exact_dedup(stream, "fp")
        .writeStream.format("parquet")
        .option("path", str(out))
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_dedup_across_batches_and_restarts(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    (src / "b0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"fp": "a", "doc_id": 1},
                {"fp": "a", "doc_id": 2},  # duplicate within batch
                {"fp": "b", "doc_id": 3},
            ]
        )
    )
    _run_batch(spark, src, ckpt, out)
    first = {(r.fp, r.doc_id) for r in spark.read.parquet(str(out)).collect()}
    assert {fp for fp, _ in first} == {"a", "b"}
    assert len(first) == 2

    # Second file, new query on the SAME checkpoint: 'a' and 'b' must
    # stay deduplicated via restored state; only 'c' survives.
    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"fp": "a", "doc_id": 9},
                {"fp": "c", "doc_id": 10},
                {"fp": "b", "doc_id": 11},
            ]
        )
    )
    _run_batch(spark, src, ckpt, out)
    after = {(r.fp, r.doc_id) for r in spark.read.parquet(str(out)).collect()}
    assert after == first | {("c", 10)}
