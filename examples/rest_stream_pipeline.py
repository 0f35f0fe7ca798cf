"""End-to-end streaming ingestion from a paginated API, no files in
between: the reference's REST-walker + relationalize + load pipeline
(reference examples shape) as one continuous Spark job.

1. `rest_pages` Python DataSource streams the listing — the page
   cursor is the checkpointed offset, so restarts resume exactly
   where the last run stopped;
2. each micro-batch parses the JSON objects (VARIANT-free fast path
   here: the demo schema is known), relationalizes them into
   rid-linked parent/child tables, and appends each table to its own
   parquet directory via the foreachBatch demux;
3. final validation: the landed parent table row count equals the
   pages served, and the executed DuckDB load path proves the landed
   bytes load-and-checksum clean.

    python examples/rest_stream_pipeline.py
"""

import json
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

import pyspark.sql.functions as F

from relationalize_spark.operators.relationalize import relationalize
from relationalize_spark.plans.session import get_spark
from relationalize_spark.sources.pysource import register
from relationalize_spark.sources.pysource_demo import N_PAGES, PAGE_SIZE


def main() -> None:
    spark = get_spark(app="rest-stream", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    work = tempfile.mkdtemp(prefix="rest_pipeline_")

    stream = (
        spark.readStream.format("rest_pages")
        .option("fetch", "relationalize_spark.sources.pysource_demo:fetch_page")
        .option("maxPagesPerBatch", "2")
        .load()
    )

    def demux(batch, batch_id):
        typed = batch.select(
            F.from_json("value", "seq long, page long").alias("o")
        ).select("o.*", F.array(F.struct(F.col("o.page").alias("p"))).alias("meta"))
        for name, df in relationalize(typed, "items", key_cols=["seq"]).items():
            df.write.mode("append").parquet(f"{work}/{name}")

    q = (
        stream.writeStream.foreachBatch(demux)
        .option("checkpointLocation", f"{work}/ck")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    items = spark.read.parquet(f"{work}/items")
    n = items.count()
    assert n == N_PAGES * PAGE_SIZE, n

    import duckdb

    from relationalize_spark.sinks.duckdb_load import load_tables_to_duckdb

    con = duckdb.connect()
    counts = load_tables_to_duckdb({"items": items.drop("meta")}, con)
    print(json.dumps({"landed_rows": n, "loaded": counts}))
    shutil.rmtree(work)
    spark.stop()


if __name__ == "__main__":
    main()
