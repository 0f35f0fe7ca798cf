"""The paper-path workloads, driven through the public API.

Every workload generates its corpus from the seed and writes it under
the run's work directory before any timing starts. A *unit* is what
one timed sample covers:

- ``bulk_nested``: one full pass, ``relationalize_json`` -> column
  hygiene -> ``generate_ddl`` -> ``load_tables_to_duckdb``.
- ``stream_demux``: one ``JsonStreamDemux.process_batch`` micro-batch;
  after the stream, ``finalize`` -> ``write_tables`` lands the typed
  tables.

Each unit's outputs are checked against the generator's predictions
by each workload's ``check``, which the runner calls outside the
timed region (after every pass; after ``land`` for the stream). It
returns the number of mismatches.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import functions as F

from relationalize_spark.sinks import duckdb_load, writers
from relationalize_spark.sources import jsonl
from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

from corpora import BULK_ROOT, STREAM_ROOT, Prediction, bulk_nested, stream_demux

#: corpus sizes, fixed so every seed does the same amount of work.
#: A warm bulk pass costs about 1.4 s whatever its size plus about
#: 0.06 ms per object (see README.md), so at this size the rows do
#: about 60% of the work.
BULK_OBJECTS = 40_000
#: the bulk corpus lands as this many JSONL part files, like an export
#: does, so its parse is split into as many tasks
BULK_PARTS = 8
STREAM_BATCHES = 20
STREAM_LINES = 1_000


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _hygiene(result) -> tuple[dict, dict]:
    """Column hygiene + DDL for every table of a RelationalizedJson:
    drop null, special-character and casefold-duplicate columns,
    project each frame onto the surviving output columns and render
    its DDL. Returns (tables, tags observed before hygiene)."""
    tables = {}
    tags = {}
    for name, df in result.tables.items():
        schema = result.schemas[name]
        tags[name] = dict(schema.columns)
        schema.drop_null_columns()
        schema.drop_special_char_columns()
        schema.drop_duplicate_columns()
        keep = set(schema.output_columns())
        schema.generate_ddl(name)
        tables[name] = df.select(*[F.col(_q(c)) for c in df.columns if c in keep])
    return tables, tags


def _tag_mismatches(pred: Prediction, tags: dict[str, dict[str, str]]) -> int:
    return sum(
        1 for (t, c), want in pred.tags.items() if tags.get(t, {}).get(c) != want
    )


def _choice_cols(tags: dict[str, dict[str, str]]) -> int:
    return sum(1 for cols in tags.values() for t in cols.values() if t.startswith("c-"))


def _count_mismatches(pred: Prediction, counts: dict[str, int]) -> int:
    return sum(1 for t, n in counts.items() if pred.rows.get(t) != n)


def _parquet_counts(con, base: str, names) -> dict[str, int]:
    return {
        t: con.execute(
            "SELECT count(*) FROM read_parquet(?)", [f"{base}/{t}/*.parquet"]
        ).fetchone()[0]
        for t in names
    }


class BulkNested:
    objects = BULK_OBJECTS

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        lines, self.pred = bulk_nested(seed, self.objects)
        self.path = os.path.join(work, "bulk")
        os.makedirs(self.path)
        for p in range(BULK_PARTS):
            _write_lines(os.path.join(self.path, f"part-{p:05d}.jsonl"), lines[p::BULK_PARTS])

    def run_unit(self, i: int) -> tuple[float, float]:
        """One pass; returns (wall seconds, sink seconds)."""
        t0 = time.perf_counter()
        res = jsonl.relationalize_json(
            self.path, BULK_ROOT, spark=self.spark, key_cols=["id"]
        )
        tables, tags = _hygiene(res)
        t1 = time.perf_counter()
        con = duckdb.connect()
        try:
            counts = duckdb_load.load_tables_to_duckdb(
                tables, con, tmp_dir=os.path.join(self.work, "duck")
            )
        finally:
            con.close()
        t2 = time.perf_counter()
        res.unpersist()
        t3 = time.perf_counter()
        self.discovered, self.counts, self.tags = set(res.tables), counts, tags
        return t3 - t0, t2 - t1

    def check(self) -> int:
        self.rows_out = sum(self.counts.values())
        return (
            int(self.discovered != self.pred.tables)
            + int(set(self.counts) != self.pred.tables)
            + _count_mismatches(self.pred, self.counts)
            + _tag_mismatches(self.pred, self.tags)
        )

    def choice_cols(self) -> int:
        return _choice_cols(self.tags)


class StreamDemux:
    objects = STREAM_LINES
    batches = STREAM_BATCHES

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        batches, self.preds = stream_demux(seed, self.batches, self.objects)
        self.paths = []
        for b, lines in enumerate(batches):
            path = os.path.join(work, f"stream_{b:03d}.jsonl")
            _write_lines(path, lines)
            self.paths.append(path)
        self.out = os.path.join(work, "stream_out")
        self.demux = JsonStreamDemux(
            os.path.join(work, "demux"), STREAM_ROOT, key_cols=["k"]
        )
        self.done = 0

    def run_unit(self, i: int) -> tuple[float, float]:
        """Micro-batch ``i``; returns (wall seconds, 0)."""
        batch = self.spark.read.text(self.paths[i])
        t0 = time.perf_counter()
        self.demux.process_batch(batch, i)
        t1 = time.perf_counter()
        self.done = i + 1
        return t1 - t0, 0.0

    def land(self) -> float:
        """``finalize`` + ``write_tables`` of the typed tables."""
        t0 = time.perf_counter()
        tables = self.demux.finalize(self.spark)
        writers.write_tables(tables, self.out)
        t1 = time.perf_counter()
        self.landed = set(tables)
        return t1 - t0

    def check(self) -> int:
        """Finalized tables, row counts and tags against the
        prediction for the batches processed so far."""
        pred = Prediction()
        for p in self.preds[: self.done]:
            pred.add(p)
        tags = {t: s.columns for t, s in self.demux.schemas.items()}
        con = duckdb.connect()
        try:
            counts = _parquet_counts(con, self.out, self.landed)
        finally:
            con.close()
        self.rows_out = sum(counts.values())
        return (
            int(self.landed != pred.tables)
            + _count_mismatches(pred, counts)
            + _tag_mismatches(pred, tags)
        )

    def choice_cols(self) -> int:
        return _choice_cols({t: s.columns for t, s in self.demux.schemas.items()})


WORKLOADS = {
    "bulk_nested": BulkNested,
    "stream_demux": StreamDemux,
}
