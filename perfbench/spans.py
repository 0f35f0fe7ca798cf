"""Span recorder for the traced run (``--trace 1``).

It wraps the package's public functions where their callers look them
up (module attributes and class attributes), so no package file
changes and the untraced run executes none of this. Each call becomes
a span: name, parent, start, end and a snapshot of Spark and JVM
counters at both ends. Spans stay in memory until the run ends; then
``metrics`` folds them into the per-layer numbers and ``dump`` writes
them out.

Counters read at each span boundary:

- jobs: the DAG scheduler's job-id counter. A delta counts every job
  submitted inside the span, including those the demux's write-pool
  threads submit without a job group;
- JIT and GC time: the JVM's compilation and garbage-collector MXBeans;
- codegen: the number of compiles (``CodegenMetrics``'s compilation
  histogram) and the cumulative compile time (``CodeGenerator``).

Task time, shuffle-write bytes and failed tasks come from the status
store's stage data of the span's own jobs, read once when the run
ends. (The executor summaries are no substitute: in local mode their
``totalDuration`` grows with wall time while no task runs.)

A span's *self* value is its own delta minus its child spans' deltas.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb

import relationalize_spark.operators.infer as infer_mod
from relationalize_spark.schema import Schema
from relationalize_spark.sinks import duckdb_load, writers
from relationalize_spark.sources import jsonl
from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

#: layout of a span's totals: wall seconds, then the counter deltas
WALL, JOBS, TASK_MS, SHUFFLE, FAILED, JIT_MS, GC_MS, CG_COMPILES, CG_NS = range(9)

LAYERS = ("session", "jsonl", "relationalize", "infer", "schema", "sink", "demux")


@dataclass
class Span:
    name: str
    parent: "Span | None"
    unit: object
    counted: bool
    t0: float
    c0: tuple
    t1: float = 0.0
    c1: tuple = ()
    children: list = field(default_factory=list)

    def total(self, stage_sums: list[tuple]) -> tuple:
        """(wall, jobs, task ms, shuffle bytes, failed tasks, JIT ms,
        GC ms, codegen compiles, codegen ns) over the whole span;
        ``stage_sums[j]`` sums the stage metrics of jobs below ``j``."""
        j0, j1 = self.c0[0], self.c1[0]
        stages = tuple(b - a for a, b in zip(stage_sums[j0], stage_sums[j1]))
        rest = tuple(b - a for a, b in zip(self.c0, self.c1))
        return (self.t1 - self.t0, rest[0]) + stages + rest[1:]

    def self_values(self, stage_sums: list[tuple]) -> tuple:
        own = self.total(stage_sums)
        for ch in self.children:
            own = tuple(a - b for a, b in zip(own, ch.total(stage_sums)))
        return own


class _TimedConnection:
    """DuckDB connection whose ``execute`` time goes to the tracer
    while a span is open (the load's DuckDB side, as opposed to its
    Spark parquet write)."""

    def __init__(self, con, tracer: "Tracer"):
        self._con = con
        self._tracer = tracer

    def execute(self, *args, **kwargs):
        t = time.perf_counter()
        try:
            return self._con.execute(*args, **kwargs)
        finally:
            if self._tracer.stack:
                self._tracer.add("sink.duckdb_s", time.perf_counter() - t)

    def __getattr__(self, name):
        return getattr(self._con, name)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.unit: object = None
        self.counted = False
        self.counts: Counter = Counter()
        self.tables: set[str] = set()
        self.cache_mb = 0.0
        self._schema_files: dict[str, tuple] = {}
        self._patched: list[tuple] = []

    @staticmethod
    def session_conf() -> dict[str, str]:
        # keep every job and stage of the run in the status store
        return {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}

    def attach(self, spark, session_start_s: float) -> None:
        self.spark = spark
        self.cores = int(spark.sparkContext.defaultParallelism)
        sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._dag = sc.dagScheduler()
        self._sc = sc
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._cg_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        now = time.perf_counter()
        # the session span covers JVM launch to ready: its counters
        # are the JVM's totals at that point
        c = self.read()
        self.session = Span("session", None, None, True, now - session_start_s, (0,) * len(c), now, c)

    # -- counters and spans ----------------------------------------------

    def read(self) -> tuple:
        return (
            self._dag.numTotalJobs(),
            self._jit.getTotalCompilationTime(),
            sum(g.getCollectionTime() for g in self._gcs),
            self._cg_hist.getCount(),
            self._cg.compileTime(),
        )

    def begin_unit(self, unit, counted: bool) -> None:
        """Spans opened from now on belong to ``unit``; only counted
        units enter the per-layer metrics."""
        self.unit = unit
        self.counted = counted

    def add(self, key: str, value: float) -> None:
        if self.counted:
            self.counts[key] += value

    def _open(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, parent, self.unit, self.counted, time.perf_counter(), self.read())
        if parent is not None:
            parent.children.append(sp)
        self.stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.c1 = self.read()
        sp.t1 = time.perf_counter()
        self.stack.pop()
        self.spans.append(sp)

    # -- wrapping --------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = owner.__dict__[attr]
        static = isinstance(orig, staticmethod)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self._open(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, out)
                return out
            finally:
                self._close(sp)

        setattr(owner, attr, staticmethod(traced) if static else traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        self._wrap(jsonl, "relationalize_json", "jsonl", self._after_build)
        self._wrap(jsonl, "relationalize", "relationalize", self._after_relationalize)
        self._wrap(jsonl, "infer_and_convert", "infer")
        self._wrap(infer_mod, "infer_schema", "infer", self._after_infer)
        for attr in ("drop_null_columns", "drop_special_char_columns", "drop_duplicate_columns"):
            self._wrap(Schema, attr, "schema", self._after_drop)
        self._wrap(Schema, "generate_ddl", "schema")
        self._wrap(Schema, "merge", "schema")
        self._wrap(duckdb_load, "load_tables_to_duckdb", "sink")
        self._wrap(writers, "write_tables", "sink")
        self._wrap(JsonStreamDemux, "process_batch", "demux", self._after_batch)
        self._wrap(JsonStreamDemux, "finalize", "demux")
        plain_connect = duckdb.connect
        self._patched.append((duckdb, "connect", plain_connect))
        duckdb.connect = lambda *a, **k: _TimedConnection(plain_connect(*a, **k), self)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- per-call observations -------------------------------------------

    def _after_build(self, args, kwargs, out) -> None:
        infos = self._sc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.cache_mb = max(self.cache_mb, mb)

    def _after_relationalize(self, args, kwargs, out) -> None:
        if self.counted:
            self.tables.update(out)

    def _after_infer(self, args, kwargs, out) -> None:
        df = args[0]
        hints = args[1] if len(args) > 1 else kwargs.get("tag_hints")
        variant = [f.name for f in df.schema.fields if f.dataType.typeName() == "variant"]
        self.add("infer.variant_cols", len(variant))
        self.add("infer.hinted_cols", sum(1 for c in variant if c in (hints or {})))

    def _after_drop(self, args, kwargs, out) -> None:
        self.add("schema.dropped_cols", out)

    def _after_batch(self, args, kwargs, out) -> None:
        """Count ``_schema.json`` rewrites: each one lands through a
        fresh temp file and a rename, so it changes the file's inode."""
        demux = args[0]
        for t in demux.schemas:
            st = os.stat(os.path.join(demux.base_path, t, "_schema.json"))
            key = (st.st_ino, st.st_mtime_ns)
            self.add("demux.schema_checks", 1)
            if self._schema_files.get(t) != key:
                self.add("demux.schema_writes", 1)
            self._schema_files[t] = key

    # -- fold ------------------------------------------------------------

    @functools.cached_property
    def stage_sums(self) -> list[tuple]:
        """Prefix sums over job ids of (task ms, shuffle-write bytes,
        failed tasks), from every stage attempt of every job; read
        once, after the last traced job."""
        jvm = self.spark._jvm
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        sums = [(0, 0, 0)]
        for jid in range(self._dag.numTotalJobs()):
            task_ms = shuffle = failed = 0
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), False, no_status, False, no_quantiles)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    task_ms += st.executorRunTime()
                    shuffle += st.shuffleWriteBytes()
                    failed += st.numFailedTasks()
            last = sums[-1]
            sums.append((last[0] + task_ms, last[1] + shuffle, last[2] + failed))
        return sums

    def dump(self, path: str) -> None:
        """Write every span as one JSON line: its id, its parent's id,
        the unit it ran in, start and end (seconds since the session
        span began) and its totals, laid out as ``WALL..CG_NS``."""
        stage_sums = self.stage_sums
        spans = [self.session] + self.spans
        ids = {id(s): i for i, s in enumerate(spans)}
        base = self.session.t0
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(spans):
                rec = {
                    "id": i,
                    "parent": ids[id(s.parent)] if s.parent is not None else None,
                    "name": s.name,
                    "unit": s.unit,
                    "counted": s.counted,
                    "start": round(s.t0 - base, 6),
                    "end": round(s.t1 - base, 6),
                    "total": s.total(stage_sums),
                }
                f.write(json.dumps(rec) + "\n")

    def metrics(self, choice_cols: int) -> dict[str, tuple[float, str]]:
        stage_sums = self.stage_sums
        spans = [s for s in self.spans if s.counted]
        by_layer = {name: [0.0] * 9 for name in LAYERS}
        by_layer["session"] = list(self.session.total(stage_sums))
        for s in spans:
            acc = by_layer[s.name]
            for i, v in enumerate(s.self_values(stage_sums)):
                acc[i] += v
        top_jsonl = [s for s in spans if s.name == "jsonl" and (s.parent is None or s.parent.name != "jsonl")]
        batches = [
            s.total(stage_sums)[JOBS]
            for s in spans
            if s.name == "demux" and isinstance(s.unit, int) and s.unit > 0 and s.parent is None
        ]
        land = [s.total(stage_sums)[JOBS] for s in spans if s.unit == "land" and s.parent is None]
        c = self.counts
        out = {
            "session.start_s": (by_layer["session"][WALL], "s"),
            "jsonl.build_s": (sum(s.total(stage_sums)[WALL] for s in top_jsonl), "s"),
            "jsonl.build_jobs": (sum(s.total(stage_sums)[JOBS] for s in top_jsonl), "count"),
            "jsonl.cache_mb": (self.cache_mb, "MB"),
            "relationalize.self_s": (by_layer["relationalize"][WALL], "s"),
            "relationalize.jobs": (by_layer["relationalize"][JOBS], "count"),
            "relationalize.tables": (len(self.tables), "count"),
            "infer.self_s": (by_layer["infer"][WALL], "s"),
            "infer.jobs": (by_layer["infer"][JOBS], "count"),
            "infer.hinted_ratio": (
                c["infer.hinted_cols"] / c["infer.variant_cols"] if c["infer.variant_cols"] else 0.0,
                "ratio",
            ),
            "schema.self_s": (by_layer["schema"][WALL], "s"),
            "schema.choice_cols": (choice_cols, "count"),
            "schema.dropped_cols": (c["schema.dropped_cols"], "count"),
            "sink.write_s": (by_layer["sink"][WALL] - c["sink.duckdb_s"], "s"),
            "sink.jobs": (by_layer["sink"][JOBS], "count"),
            "sink.rows_out": (c["sink.rows_out"], "count"),
            "sink.duckdb_s": (c["sink.duckdb_s"], "s"),
            "demux.batch_jobs": (statistics.median(batches) if batches else 0, "count"),
            "demux.schema_writes": (c["demux.schema_writes"], "count"),
            "demux.schema_skip_ratio": (
                1 - c["demux.schema_writes"] / c["demux.schema_checks"] if c["demux.schema_checks"] else 0.0,
                "ratio",
            ),
            "demux.finalize_jobs": (sum(land), "count"),
        }
        for name in LAYERS:
            v = by_layer[name]
            wall = v[WALL]
            out.update(
                {
                    f"{name}.task_s": (v[TASK_MS] / 1e3, "s"),
                    f"{name}.busy": (v[TASK_MS] / 1e3 / (wall * self.cores) if wall > 0 else 0.0, "ratio"),
                    f"{name}.shuffle_bytes": (v[SHUFFLE], "bytes"),
                    f"{name}.failed_tasks": (v[FAILED], "count"),
                    f"{name}.jit_ms": (v[JIT_MS], "ms"),
                    f"{name}.gc_ms": (v[GC_MS], "ms"),
                    f"{name}.codegen_compiles": (v[CG_COMPILES], "count"),
                    f"{name}.codegen_ms": (v[CG_NS] / 1e6, "ms"),
                }
            )
        return out
