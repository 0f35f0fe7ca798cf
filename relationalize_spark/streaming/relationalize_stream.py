"""Structured Streaming surface.

The reference's single-pass design (write rows as they stream,
reference relationalize.py:54-63) maps to Structured Streaming
directly:

- ``relationalize_stream``: the multi-output demux. A streaming query
  can only have one sink, so the dynamic table fan-out runs inside
  ``foreachBatch``: each micro-batch is relationalized (same plan-time
  operator as batch — schema comes from the stream's fixed schema) and
  each derived table is handed to a user sink callback, mirroring the
  reference's ``create_output`` factory hook (relationalize.py:29).
- ``windowed_counts``: watermarked tumbling-window aggregation — the
  streaming analog of q17_events_hourly; late rows beyond the
  watermark are dropped, state is bounded.
- ``sessionize_stream``: gap-based sessions via the native
  ``session_window`` (stateful, watermark-bounded) — the streaming
  analog of q18_sessionization without custom state handling.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.streaming import DataStreamWriter

from ..operators.relationalize import _q, _type_positions, relationalize
from ..plans.session import each_table, session_conf
from ..schema import Schema

if TYPE_CHECKING:
    from ..sources.jsonl import Analysis

TableSink = Callable[[str, DataFrame, int], None]


# -- Hadoop-FS text helpers (work on local / HDFS / s3a alike) ---------------

def _fs_for(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_write_text(spark: SparkSession, path_str: str, content: str) -> None:
    """Atomic-replace text write: write ``{path}.tmp`` fully, then
    swap it in. A direct ``fs.create(p, True)`` truncates the existing
    file before the new bytes land, so a crash mid-write would destroy
    the previous (still valid) content — for ``_schema.json`` that
    would break the "on-disk schema covers on-disk rows" invariant.
    With the tmp dance every crash window leaves a recoverable state:
    mid-tmp-write -> old file intact; between delete and rename -> the
    complete tmp survives and ``_recover`` finishes the swap."""
    fs, p = _fs_for(spark, path_str)
    tmp_str = path_str + ".tmp"
    _, tmp = _fs_for(spark, tmp_str)
    out = fs.create(tmp, True)  # creates parent dirs, overwrites
    try:
        out.write(content.encode("utf-8"))
    finally:
        out.close()
    # HDFS/local rename refuses to overwrite: delete then rename.
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise RuntimeError(f"rename {tmp_str} -> {path_str} failed")


def _fs_read_text(spark: SparkSession, path_str: str) -> str | None:
    fs, p = _fs_for(spark, path_str)
    if not fs.exists(p):
        return None
    stm = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stm, "UTF-8")
    finally:
        stm.close()


def _fs_ls(spark: SparkSession, path_str: str) -> list[tuple[str, bool]]:
    """``(name, is_directory)`` per entry; empty for a missing path."""
    fs, p = _fs_for(spark, path_str)
    if not fs.exists(p):
        return []
    return [(s.getPath().getName(), s.isDirectory()) for s in fs.listStatus(p)]


def _hidden(name: str) -> bool:
    """``_``/``.`` prefixed — metadata, same filter Spark's readers use."""
    return name.startswith(("_", "."))


def _fs_has_data_files(spark: SparkSession, path_str: str) -> bool:
    """True if the directory holds any non-hidden file, recursing into
    subdirectories (the per-batch ``batch=<n>`` layout)."""
    return any(
        not _hidden(name)
        and (not is_dir or _fs_has_data_files(spark, f"{path_str}/{name}"))
        for name, is_dir in _fs_ls(spark, path_str)
    )


def relationalize_stream(
    stream_df: DataFrame,
    name: str,
    sink: TableSink,
    *,
    key_cols: list[str] | None = None,
) -> DataStreamWriter:
    """Demux a nested stream into per-table sinks.

    ``sink(table_name, flat_df, batch_id)`` is called once per derived
    table per micro-batch; implementations typically append to one
    parquet/Delta path per table. Returns the unstarted writer so the
    caller picks trigger/checkpoint options.

    VARIANT columns are rejected loudly: the dynamic relationalize
    plan is derived from each batch's DATA (the position stats of
    operators/relationalize.py:_position_stats), so two
    micro-batches can resolve a conflicted key to different branch
    sets and write divergent child-table schemas into the same sink
    path. Dynamic streams go through ``JsonStreamDemux``, which
    lands untyped rows per batch (the reference's single-pass append,
    reference relationalize.py:57-80) and aligns the typed view to a
    running merged schema at finalize.
    """
    # positions carry the column name, so each is a non-empty (truthy) path
    bad = [
        f.name
        for f in stream_df.schema.fields
        if any(_type_positions(f.dataType, (f.name,)))
    ]
    if bad:
        raise ValueError(
            f"relationalize_stream: column(s) {bad} carry VARIANT data; "
            "per-batch dynamic planning would write divergent child-table "
            "schemas across micro-batches. Use JsonStreamDemux for "
            "dynamic streams."
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        for table_name, table_df in relationalize(
            batch_df, name, key_cols=key_cols
        ).items():
            sink(table_name, table_df, batch_id)

    return stream_df.writeStream.foreachBatch(process_batch)


@dataclass
class JsonStreamDemux:
    """Streaming demux for DYNAMIC (variant-carrying) corpora — the
    reference's single-pass semantics made micro-batch:

    - each batch runs the dynamic relationalize (plan-from-data) with
      ``convert=False`` and lands every derived table's rows as JSONL
      under ``{base_path}/{table}/batch={batch_id}`` — untyped, so
      batches that resolve a conflicted key differently (scalar vs
      list vs object rows) add to the SAME table without schema
      conflict, like the reference's append-to-one-output
      (reference relationalize.py:57-80);
    - a running per-table ``Schema`` accumulates across batches via
      the same merge algebra the reference applies across rows
      (``Schema.merge``, reference schema.py:259-302);
    - ``finalize(spark)`` reads each table's accumulated JSONL back
      and imposes the MERGED schema (convert_choice_columns), so the
      typed view is consistent no matter how branches were spread
      over batches.

    Delivery is exactly-once by construction: each batch directory is
    written with OVERWRITE, so a replayed batch (foreachBatch retries
    it after a crash) replaces its own previous, possibly partial,
    output — no read-side dedup, and safe even under uuid rid_mode
    where replayed lines are not byte-identical. The ``_quarantine``
    lane is at-least-once (malformed lines append raw);
    ``read_quarantine`` dedups byte-identical replays on read-back.

    The running merged schemas are DURABLE, not driver-only: after
    each batch the merged schema is written to
    ``{base_path}/{table}/_schema.json`` (underscore-prefixed, so data
    readers ignore it) BEFORE that batch's rows land — the on-disk
    schema is always a superset of the on-disk rows, so a crash
    between the two writes only leaves schema columns the replayed
    batch will re-land. A fresh demux instance (checkpoint restart)
    recovers every table's schema from these files on first use;
    ``finalize`` refuses loudly if ``base_path`` holds rows this
    layout cannot vouch for — a table directory with no recoverable
    schema (e.g. written by something other than this demux), rows
    outside ``batch=<n>/`` or a ``__rows__`` tree (both left by
    removed layouts) — rather than emit a silently narrowed or
    duplicated view.

    Scale shape: per batch this is the batch pipeline (projections
    over the batch's cached typed frame), planned against a running
    analysis: the merged schema tree and position stats of the batches
    landed so far (sources/jsonl.py:Analysis). Each batch makes one
    analysis action over its parse that merges the batch's whole
    objects and reads the class set and object-branch schema at every
    VARIANT position of the running analysis. A structure-stable batch
    — no new key, no typed leaf turned conflicted, no new class at a
    position, no new object key, and rows for every child table found
    so far — is planned from the running analysis with no stats round,
    and its first table write fills the cache. A batch that drifts
    runs the bulk path's path-keyed stats round too, and its result
    merges into the running analysis; the check runs before any write,
    so schema-before-rows holds as is. After two drifting batches in a
    row, batches skip the position reads (and so the check) until one
    adds nothing to the running analysis. A restarted
    instance starts with no running analysis, so its first batch takes
    the drifting path. The running schemas are driver-side
    dicts of column tags — O(columns), not O(rows) — and the per-batch
    persistence is one tiny metadata file per table.

    MICRO-BATCH SIZING (measured, BASELINE.md r8): per-batch latency
    scales with DISCOVERED TABLE COUNT (one Catalyst analysis + one
    write job + one schema write each), independent of row count —
    ~0.5 s/table through the driver pool every multi-table sink shares
    (``plans.session._WRITE_POOL_SIZE``, 8 threads; ~0.7 s/table when
    submitted serially): a 70-table dynamic stream has a ~35 s
    per-batch floor even at 250 rows/batch. Size triggers so the batch interval is well above
    0.5 s x expected table count (multi-minute triggers or
    AvailableNow for wide corpora; rows are effectively free next to
    the per-table floor), and pre-split corpora expected to discover
    hundreds of tables into one demux per family.
    """

    base_path: str
    name: str
    key_cols: list[str] | None = None
    quarantine: bool = False
    schemas: dict[str, Schema] = field(default_factory=dict)
    #: batch_id -> number of malformed lines quarantined in that batch
    #: (write-time Observation, no second scan; cleared with the
    #: instance — durable corruption telemetry is the _quarantine dir).
    quarantine_counts: dict[int, int] = field(default_factory=dict, init=False)
    _recovered: bool = field(default=False, init=False, repr=False)
    #: last serialized schema known to be ON DISK per table — the
    #: schema-stable fast path (r8 verdict item 3 / r9 item 5): after
    #: discovery, most batches change no table's schema, so the
    #: per-table _schema.json rewrite (one driver FS round trip per
    #: table per batch — delete + write + rename) is skipped when the
    #: merged serialization is unchanged. Crash-safe: the skip only
    #: fires when the on-disk schema ALREADY equals the merged one,
    #: so schema-superset-of-rows still holds; the dict is repopulated
    #: from disk by _recover on restart.
    _written_schemas: dict[str, str] = field(
        default_factory=dict, init=False, repr=False
    )
    #: merged schema tree and position stats of the batches landed so
    #: far (sources/jsonl.py:Analysis), the ``prior`` of the next batch;
    #: driver-only — a restarted instance starts without it
    _analysis: Analysis | None = field(default=None, init=False, repr=False)

    def _parse_schema(self, content: str, path_str: str) -> Schema:
        try:
            return Schema.deserialize(content)
        except Exception as e:  # noqa: BLE001 - re-raise loud + actionable
            raise RuntimeError(
                f"JsonStreamDemux: {path_str} exists but does not parse "
                f"as a serialized Schema ({e!r}); rows under its table "
                "directory cannot be typed consistently. Was it written "
                "by something other than JsonStreamDemux?"
            ) from e

    def _recover(self, spark: SparkSession) -> None:
        """Merge any persisted per-table schemas under base_path into
        the running state (no-op after the first call). Raises for a
        table directory holding rows without a recoverable
        _schema.json — rows with no schema would silently vanish from
        finalize() — for rows directly in a table directory, which the
        removed flat append layout wrote and whose replay copies
        nothing dedups any more, and for a ``__rows__`` tree, whose
        rows the removed one-write-per-batch layout wrote and finalize
        no longer reads. Other underscore/dot-prefixed directories
        are metadata, not tables (``_quarantine``, checkpoint
        leftovers). Crash-window recovery: a complete
        ``_schema.json.tmp`` stranded by a crash between
        _fs_write_text's delete and rename is adopted (and the swap
        finished); a table dir whose only content is an unparsable
        tmp — crash mid-FIRST-schema-write, before any row landed —
        is skipped, the replayed batch rewrites it."""
        if self._recovered:
            return
        for t, is_dir in _fs_ls(spark, self.base_path):
            if not is_dir:
                continue
            if t == "__rows__":
                raise RuntimeError(
                    f"JsonStreamDemux: {self.base_path}/__rows__ holds rows "
                    "of the removed one-write-per-batch layout, which "
                    "finalize() no longer reads; they would silently drop "
                    "out of the typed view. Move them into per-table "
                    "directories or start from a fresh base_path."
                )
            if _hidden(t):
                continue
            tdir = f"{self.base_path}/{t}"
            spath = f"{tdir}/_schema.json"
            content = _fs_read_text(spark, spath)
            if content is not None:
                schema = self._parse_schema(content, spath)
                on_disk = content
            else:
                tmp = _fs_read_text(spark, spath + ".tmp")
                has_rows = _fs_has_data_files(spark, tdir)
                if tmp is None and not has_rows:
                    continue  # empty shell dir — nothing to recover
                if tmp is None:
                    raise RuntimeError(
                        f"JsonStreamDemux: table directory "
                        f"{tdir} has no _schema.json; its rows "
                        "cannot be typed consistently. Was it written by "
                        "something other than JsonStreamDemux?"
                    )
                try:
                    schema = self._parse_schema(tmp, spath + ".tmp")
                except RuntimeError:
                    if has_rows:  # rows exist but no valid schema: loud
                        raise
                    continue  # partial tmp, zero rows: replay rewrites
                # finish the interrupted swap so the dir is clean again
                _fs_write_text(spark, spath, tmp)
                on_disk = tmp
            flat = [n for n, d in _fs_ls(spark, tdir) if not d and not _hidden(n)]
            if flat:
                raise RuntimeError(
                    f"JsonStreamDemux: table directory {tdir} holds rows "
                    f"outside batch=<n>/ ({flat[0]}) — the removed flat "
                    "append layout, whose replayed batches left duplicates "
                    "nothing dedups any more. Move them into batch=<n> "
                    "directories or start from a fresh base_path."
                )
            self.schemas[t] = Schema.merge(
                self.schemas.get(t, Schema()), schema
            )
            # seed the schema-stable fast path ONLY when the merged
            # running schema serializes to exactly what is on disk
            # (always true for a fresh instance; a pre-seeded
            # instance's wider schema must still be written out)
            ser = self.schemas[t].serialize()
            if ser == on_disk:
                self._written_schemas[t] = ser
        self._recovered = True

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.jsonl import relationalize_json

        spark = batch_df.sparkSession
        self._recover(spark)
        f = batch_df.schema.fields
        if len(f) == 1 and isinstance(f[0].dataType, ST.StringType):
            # raw JSONL lines -> one variant column
            col = batch_df.columns[0]
            lines = batch_df.where(F.length(F.trim(col)) > 0)
            if self.quarantine:
                # the streaming analog of the batch quarantine lane
                # (sources/readers.py:read_jsonl_quarantine): malformed
                # lines append raw to {base_path}/_quarantine for
                # replay instead of killing the stream. Default stays
                # fail-loud (parse_json throws), matching the
                # reference's json.loads crash (reference
                # relationalize.py:56-63). The malformed count rides
                # the write itself as an Observation (no second scan)
                # into ``quarantine_counts[batch_id]``.
                from pyspark.sql import Observation

                parsed = lines.select(
                    F.col(col).alias("__line__"),
                    F.try_parse_json(F.col(col)).alias("v"),
                )
                obs = Observation()
                parsed.where(F.col("v").isNull()).select(
                    F.col("__line__")
                ).observe(obs, F.count(F.lit(1)).alias("malformed")).write.mode(
                    "append"
                ).text(f"{self.base_path}/_quarantine")
                # plain assignment, not accumulation: a replayed batch
                # (same batch_id through the same instance) re-observes
                # the same lines, and the metric is documented as
                # per-batch malformed count — idempotent under replay,
                # consistent with read_quarantine()'s deduped view.
                self.quarantine_counts[batch_id] = int(obs.get["malformed"])
                batch_df = parsed.where(F.col("v").isNotNull()).select("v")
            else:
                batch_df = lines.select(F.parse_json(F.col(col)).alias("v"))
        out = relationalize_json(
            batch_df, self.name, key_cols=self.key_cols, convert=False,
            prior=self._analysis,
        )
        # JSON keys are case-sensitive (the reference keeps "w1" and
        # "W1" distinct until drop_duplicate_columns is asked for);
        # the table WRITES below must run case-sensitive too or the
        # writer rejects casefold-duplicate columns
        # (COLUMN_ALREADY_EXISTS) and kills the stream.
        try:
            with session_conf(spark, "spark.sql.caseSensitive", "true"):
                # running-schema merges are serial driver dict updates
                # (cheap, and self.schemas must not race) ...
                for t in out.tables:
                    self.schemas[t] = Schema.merge(
                        self.schemas.get(t, Schema()), out.schemas[t]
                    )

                def write_one(t: str) -> None:
                    # schema first, rows second (see class docstring).
                    # Schema-stable fast path: when the merged schema
                    # serializes to exactly what is already on disk,
                    # the rewrite is a no-op — skip the per-table FS
                    # round trip (delete + write + rename). After
                    # discovery settles, every batch takes this branch
                    # for every table (measured in
                    # examples/bench_demux_scale.py E).
                    ser = self.schemas[t].serialize()
                    if self._written_schemas.get(t) != ser:
                        _fs_write_text(
                            spark, f"{self.base_path}/{t}/_schema.json", ser
                        )
                        self._written_schemas[t] = ser
                    # idempotent landing zone: a replayed batch
                    # OVERWRITES its own directory (exactly-once)
                    out.tables[t].write.mode("overwrite").json(
                        f"{self.base_path}/{t}/batch={batch_id}"
                    )

                # ... the per-table writes are independent (disjoint
                # directories, one shared cached typed frame) and
                # driver-latency bound, so they overlap on the pool.
                list(each_table(write_one, out.tables))
            self._analysis = out.analysis
        finally:
            out.unpersist()

    def attach(self, stream_df: DataFrame) -> DataStreamWriter:
        """Wire onto a stream; caller picks trigger/checkpoint."""
        return stream_df.writeStream.foreachBatch(self.process_batch)

    def finalize(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Typed view of everything landed so far: per table, parse
        the JSONL back to one variant column per merged-schema key and
        split choice columns — the reference's convert pass with the
        cross-batch schema. The tables are planned concurrently on the
        driver pool (``plans.session.each_table``): each plan's
        directory check, file listing and analysis is driver latency.
        The returned dict keeps ``schemas``' table order."""
        from ..operators.infer import convert_choice_columns

        self._recover(spark)

        def plan(t: str) -> DataFrame:
            tdir = f"{self.base_path}/{t}"
            # every batch=N subdir, read without partition discovery
            # (no `batch` column); the read skips _-prefixed metadata.
            # A dir with only _schema.json (crash before the first
            # landing) has no rows to read.
            if _fs_has_data_files(spark, tdir):
                lines = spark.read.option("recursiveFileLookup", "true").text(tdir)
            else:
                lines = spark.createDataFrame([], "value string")
            lines = lines.where(F.length(F.trim("value")) > 0)
            cols = self.schemas[t].columns
            ddl = ", ".join(f"{_q(c)}: variant" for c in cols)
            flat = lines.select(
                F.try_variant_get(F.parse_json("value"), "$", f"struct<{ddl}>").alias(
                    "__r__"
                )
            ).select("__r__.*")
            return convert_choice_columns(flat, cols)

        names = list(self.schemas)
        with session_conf(spark, "spark.sql.caseSensitive", "true"):
            return dict(zip(names, each_table(plan, names)))

    def read_quarantine(
        self, spark: SparkSession, *, dedup_replays: bool = True
    ) -> DataFrame:
        """The quarantined raw lines as a one-column (``value``)
        DataFrame. Delivery into ``_quarantine`` is AT-LEAST-ONCE
        (the append in process_batch replays on retry), so the default
        drops byte-identical lines on read-back, keyed on a 192-bit
        digest pair (xxhash64 + md5): shuffle comparisons touch 24-byte
        keys instead of whole documents, and collision across BOTH
        digests is ~2^-96 — negligible against corpus sizes. Pass
        ``dedup_replays=False`` to audit raw delivery (e.g. to count
        replay amplification)."""
        qpath = f"{self.base_path}/_quarantine"
        fs, p = _fs_for(spark, qpath)
        if not fs.exists(p):
            # no quarantined line yet (quarantine=False, or no batch
            # has misparsed): the natural answer is 0 rows, not a
            # PATH_NOT_FOUND crash at the monitoring caller.
            return spark.createDataFrame([], "value string")
        q = spark.read.option("recursiveFileLookup", "true").text(qpath)
        if dedup_replays:
            q = (
                q.withColumn("__d1__", F.xxhash64("value"))
                .withColumn("__d2__", F.md5("value"))
                .dropDuplicates(["__d1__", "__d2__"])
                .drop("__d1__", "__d2__")
            )
        return q


def parquet_table_sink(base_path: str) -> TableSink:
    """A TableSink appending each derived table under its own
    directory — the streaming counterpart of the reference's
    local-file output factory (reference utils.py:5-17)."""

    def sink(table_name: str, df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(f"{base_path}/{table_name}")

    return sink


def _instant_ts(df: DataFrame, ts_col: str) -> DataFrame:
    """Event-time watermarks reject TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); coerce NTZ event time to an
    instant (wall clock taken as UTC, session-timezone-independent)."""
    from pyspark.sql import types as T

    from ..functions.timeutil import as_instant

    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, T.TimestampNTZType):
        df = df.withColumn(ts_col, as_instant(F.col(ts_col), dtype))
    return df


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts; state for windows older
    than the watermark is evicted, so memory is bounded regardless of
    stream length."""
    stream_df = _instant_ts(stream_df, ts_col)
    groups = [F.window(F.col(ts_col), window).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*groups)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(c) for c in (group_cols or [])],
            "n_events",
        )
    )


def sessionize_stream(
    stream_df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessions with native session_window state."""
    stream_df = _instant_ts(stream_df, ts_col)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )
