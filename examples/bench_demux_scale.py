"""r8 measurement harness (VERDICT r7 items 4-5): JsonStreamDemux at
scale.

A. Per-batch latency vs discovered-table count: the same wide-dynamic
   corpus (gen_wide_corpus, every key branch-conflicted, ~50 tables)
   fed through process_batch repeatedly, vs a narrow 3-table corpus —
   separates the per-table driver floor (Catalyst analysis + one write
   job + one schema-file write per table) from per-row cost.
B. Read-side line dedup A/B (the digest key ``read_quarantine``
   uses) at 1x / 100x line counts: no-dedup scan vs
   full-line-key dropDuplicates (the pre-r8 shape) vs digest-key
   (xxhash64+md5) dedup, on short (~60 B) lines.
C. The same dedup-key A/B on document-scale (~330 B) lines, cold and
   warm — where the digest key wins ~2x.
E. Schema-stable ``_schema.json`` write skip: steady-state batches on
   the wide corpus with the fast path on vs forced off.

Run:  python examples/bench_demux_scale.py
Prints one human-readable block; numbers land in BASELINE.md.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

from pyspark.sql import functions as F  # noqa: E402

from relationalize_spark.plans.session import get_spark  # noqa: E402
from relationalize_spark.streaming.relationalize_stream import (  # noqa: E402
    JsonStreamDemux,
)


def main() -> None:
    from test_differential_reference import gen_wide_corpus

    spark = get_spark(
        app="demux-scale", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="demux_scale_")

    # ---- A. per-batch latency vs table count ----------------------------
    wide_lines = [json.dumps(o) for o in gen_wide_corpus(20260815, 250)]
    narrow_lines = [
        json.dumps({"k": i, "xs": [i, i + 1], "y": str(i)}) for i in range(250)
    ]
    for label, lines in (("narrow", narrow_lines), ("wide", wide_lines)):
        base = os.path.join(work, f"a_{label}")
        demux = JsonStreamDemux(base, "root", key_cols=None)
        batch = spark.createDataFrame([(ln,) for ln in lines], "value string")
        times = []
        for b in range(4):
            t0 = time.monotonic()
            demux.process_batch(batch, b)
            times.append(round(time.monotonic() - t0, 2))
        n_tables = len(demux.schemas)
        print(
            f"A {label}: tables={n_tables} rows/batch={len(lines)} "
            f"batch_secs={times} (first=discovery, rest=steady)"
        )
        steady = sum(times[1:]) / 3
        print(
            f"A {label}: steady per-batch={steady:.2f}s "
            f"-> {steady / n_tables * 1000:.0f} ms/table"
        )

    # ---- B. read-side dedup A/B at 1x / 100x ----------------------------
    # corpus: q130-shaped dynamic JSONL lines derived from orders sf0.01
    from relationalize_spark.sources.tables import load_table

    o = load_table(spark, "/root/testdata/sf0.01", "orders")

    def line_expr(key):
        return F.concat(
            F.lit('{"k": '),
            key.cast("string"),
            F.lit(', "v": '),
            F.when(F.col("o_orderkey") % 3 == 0, F.col("o_custkey").cast("string"))
            .when(
                F.col("o_orderkey") % 3 == 1,
                F.concat(
                    F.lit("["),
                    (F.col("o_custkey") % 100).cast("string"),
                    F.lit(", "),
                    (F.col("o_orderkey") % 7).cast("string"),
                    F.lit("]"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit('{"a": '),
                    (F.col("o_custkey") % 1000).cast("string"),
                    F.lit(', "b": "'),
                    F.col("o_orderpriority"),
                    F.lit('"}'),
                )
            ),
            F.lit("}"),
        )

    for mult, tag in ((1, "1x"), (100, "100x")):
        # genuinely distinct lines at 100x (replica id salts the key),
        # matching real replay amplification (~2x dup) better than 100
        # byte-identical copies would
        src = o.crossJoin(
            spark.range(mult).withColumnRenamed("id", "rep")
        ).select(
            line_expr(
                F.col("o_orderkey") + F.col("rep") * F.lit(10_000_000)
            ).alias("value")
        )
        flat_dir = os.path.join(work, f"b_flat_{tag}")
        src.write.mode("overwrite").text(flat_dir)
        n = spark.read.text(flat_dir).count()

        def t(fn):
            t0 = time.monotonic()
            fn()
            return round(time.monotonic() - t0, 2)

        rd = lambda: spark.read.option("recursiveFileLookup", "true").text(  # noqa: E731
            flat_dir
        ).where(F.length(F.trim("value")) > 0)
        noop = lambda df: df.select(  # noqa: E731
            F.parse_json("value").alias("v")
        ).selectExpr("to_json(v) j").write.format("noop").mode(
            "overwrite"
        ).save()
        t_scan = t(lambda: noop(rd()))
        t_full = t(lambda: noop(rd().dropDuplicates(["value"])))
        t_digest = t(
            lambda: noop(
                rd()
                .withColumn("__d1__", F.xxhash64("value"))
                .withColumn("__d2__", F.md5("value"))
                .dropDuplicates(["__d1__", "__d2__"])
            )
        )
        print(
            f"B {tag}: lines={n} scan={t_scan}s full-line-dedup={t_full}s "
            f"digest-dedup={t_digest}s"
        )

    # ---- C. dedup key A/B on document-scale (~330 B) lines --------------
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    long_dir = os.path.join(work, "c_long")
    d.crossJoin(spark.range(200).withColumnRenamed("id", "rep")).select(
        F.to_json(
            F.struct(
                (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias(
                    "doc_id"
                ),
                F.col("text"),
            )
        ).alias("value")
    ).write.mode("overwrite").text(long_dir)

    def timed(fn):
        t0 = time.monotonic()
        fn()
        return round(time.monotonic() - t0, 2)

    rd_long = lambda: spark.read.option(  # noqa: E731
        "recursiveFileLookup", "true"
    ).text(long_dir).where(F.length(F.trim("value")) > 0)
    noop_v = lambda df: df.select(  # noqa: E731
        F.parse_json("value").alias("v")
    ).selectExpr("to_json(v) j").write.format("noop").mode("overwrite").save()
    for rep in (1, 2):  # second rep = warm numbers (codegen paid)
        t_full = timed(lambda: noop_v(rd_long().dropDuplicates(["value"])))
        t_digest = timed(
            lambda: noop_v(
                rd_long()
                .withColumn("__d1__", F.xxhash64("value"))
                .withColumn("__d2__", F.md5("value"))
                .dropDuplicates(["__d1__", "__d2__"])
            )
        )
        print(
            f"C long-lines rep{rep}: full-line={t_full}s digest={t_digest}s"
        )

    # ---- E. schema-stable write skip A/B (r10, verdict item 5) ----------
    # Steady-state batches on the wide corpus with the _schema.json
    # fast path ON (default) vs forced OFF (clearing the written-set
    # before each batch forces every table's rewrite — the pre-r10
    # behavior). Same session, same corpus, same instance shape.
    base = os.path.join(work, "e_skip")
    demux = JsonStreamDemux(base, "root", key_cols=None)
    batch = spark.createDataFrame([(ln,) for ln in wide_lines], "value string")
    demux.process_batch(batch, 0)  # discovery
    n_tables = len(demux.schemas)
    for label in ("skip_on", "skip_off", "skip_on2"):
        times = []
        for b in range(3):
            if label == "skip_off":
                demux._written_schemas.clear()
            t0 = time.monotonic()
            demux.process_batch(batch, 100 + b)
            times.append(time.monotonic() - t0)
        print(
            f"E {label}: tables={n_tables} "
            f"steady per-batch={sum(times) / 3:.2f}s "
            f"({sum(times) / 3 / n_tables * 1000:.0f} ms/table) "
            f"batches={[round(t, 2) for t in times]}"
        )

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
