"""Structured Streaming tests: file-source micro-batches through the
relationalize demux, watermarked windows, session windows."""

import json

import pytest
from pyspark.sql import functions as F

from relationalize_spark.streaming.relationalize_stream import (
    parquet_table_sink,
    relationalize_stream,
    sessionize_stream,
    windowed_counts,
)

#: slow lane (r10, r8 verdict item 7): exclude with -m "not slow" for
#: the fast mid-round loop; the full suite stays the end-of-round gate.
pytestmark = pytest.mark.slow


USERS_SCHEMA = (
    "user_id string, enrollments array<struct<course_id: string, ts: long>>"
)


@pytest.fixture()
def users_stream(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"user_id": "u1", "enrollments": [{"course_id": "c1", "ts": 1}, {"course_id": "c2", "ts": 2}]},
        {"user_id": "u2", "enrollments": []},
    ]
    (src / "part-0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    return spark.readStream.schema(USERS_SCHEMA).json(str(src))


def test_relationalize_stream_demux(spark, users_stream, tmp_path):
    out = tmp_path / "out"
    q = (
        relationalize_stream(
            users_stream, "users", parquet_table_sink(str(out)), key_cols=["user_id"]
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    users = spark.read.parquet(str(out / "users"))
    children = spark.read.parquet(str(out / "users_enrollments"))
    assert users.count() == 2
    assert children.count() == 2
    parent = {r.user_id: r.enrollments for r in users.collect()}
    assert all(
        c.enrollments__rid_ == parent["u1"] for c in children.collect()
    )
    assert sorted(c.enrollments_course_id for c in children.collect()) == ["c1", "c2"]


def test_windowed_counts(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:10:00", "event_type": "a"},
        {"ts": "2024-01-01 00:50:00", "event_type": "a"},
        {"ts": "2024-01-01 01:10:00", "event_type": "b"},
    ]
    (src / "p.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts string, event_type string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = windowed_counts(stream, "ts", "1 hour", "2 hours", ["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("select * from win_counts").collect()
    }
    assert res[("2024-01-01 00:00:00", "a")] == 2
    assert res[("2024-01-01 01:00:00", "b")] == 1


def test_sessionize_stream(spark, tmp_path):
    src = tmp_path / "sess"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:00:00", "user_id": "u1"},
        {"ts": "2024-01-01 00:10:00", "user_id": "u1"},  # same session
        {"ts": "2024-01-01 02:00:00", "user_id": "u1"},  # new session
    ]
    (src / "p.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts string, user_id string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        sessionize_stream(stream, "ts", "user_id", gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows_out = spark.sql("select * from sessions").collect()
    assert len(rows_out) == 2
    assert sorted(r.n_events for r in rows_out) == [1, 2]


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Incremental restart: a second run over the SAME checkpoint must
    process only files that arrived since the first run — the old
    batch is neither reprocessed nor double-written. This is the
    offset-tracking contract a 100 TB incremental ingestion leans on:
    restarts are free, reprocessing is impossible."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def emit(name, ids):
        (src / name).write_text(
            "\n".join(_json.dumps({"id": i, "v": i * 10}) for i in ids)
        )

    def run_once():
        q = (
            spark.readStream.schema("id long, v long")
            .json(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    emit("batch-0.jsonl", [1, 2, 3])
    run_once()
    first = sorted(r.id for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]

    emit("batch-1.jsonl", [4, 5])
    run_once()
    second = sorted(r.id for r in spark.read.parquet(out).collect())
    assert second == [1, 2, 3, 4, 5]  # old batch not duplicated

    run_once()  # nothing new: a restart with no input writes nothing
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == second


def test_relationalize_stream_rejects_variant(spark, tmp_path):
    """VERDICT r5 item 3 (guard half): per-batch dynamic planning can
    write divergent child-table schemas, so the schema-rigid demux
    refuses VARIANT streams loudly and points at JsonStreamDemux."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "f.jsonl").write_text('{"k": 1}\n')
    vstream = (
        spark.readStream.text(str(src)).select(F.parse_json("value").alias("v"))
    )
    with pytest.raises(ValueError, match="JsonStreamDemux"):
        relationalize_stream(vstream, "root", parquet_table_sink(str(tmp_path)))


def test_json_stream_demux_dynamic_key(spark, tmp_path):
    """VERDICT r5 item 3: scalar-then-list-then-object micro-batches
    for the SAME key land one consistent table set. Each file is its
    own micro-batch (maxFilesPerTrigger=1), so the three batches
    resolve key ``b`` to three different branch sets; the demux
    appends untyped JSONL (the reference's single-pass append,
    reference relationalize.py:57-80) and finalize() imposes the
    cross-batch merged schema."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.jsonl").write_text('{"k": 1, "b": 5}\n')
    (src / "b1.jsonl").write_text('{"k": 2, "b": [10, 20]}\n')
    (src / "b2.jsonl").write_text('{"k": 3, "b": {"x": 7}}\n')

    demux = JsonStreamDemux(str(tmp_path / "out"), "root", key_cols=["k"])
    q = (
        demux.attach(
            spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # the running schema merged b across batches: int (batch 0) +
    # rid str (batch 1), object branch flattened to b_x (batch 2)
    assert demux.schemas["root"].columns["b"] == "c-int-str"
    assert demux.schemas["root"].columns["b_x"] == "int"

    tables = demux.finalize(spark)
    assert set(tables) == {"root", "root_b"}
    root = {r["k"]: r.asDict() for r in tables["root"].collect()}
    assert len(root) == 3
    assert root[1]["b_int"] == 5 and root[1]["b_str"] is None
    assert root[3]["b_x"] == 7 and root[3]["b_int"] is None
    rid = root[2]["b_str"]
    assert rid and rid.startswith("R_")
    children = sorted(
        (r.asDict() for r in tables["root_b"].collect()),
        key=lambda r: r["b__index_"],
    )
    assert [c["b__val_"] for c in children] == [10, 20]
    assert all(c["b__rid_"] == rid for c in children)


def test_json_stream_demux_restart_recovers_schemas(spark, tmp_path):
    """ADVICE r6 medium: the running per-table schema merge must
    survive a checkpoint restart. Batch 1 goes through one demux
    instance (key ``xs`` as a list -> child table root_xs); a FRESH
    instance (simulating a restarted foreachBatch) processes batch 2
    (new key ``b``, no ``xs``). finalize() on the fresh instance must
    still type the pre-restart table and columns — recovered from the
    persisted ``_schema.json`` files, not driver memory."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = str(tmp_path / "out")
    d1 = JsonStreamDemux(base, "root", key_cols=["k"])
    d1.process_batch(
        spark.createDataFrame([('{"k": 1, "xs": [1, 2]}',)], "value string"), 0
    )
    assert "root_xs" in d1.schemas

    d2 = JsonStreamDemux(base, "root", key_cols=["k"])  # restart
    d2.process_batch(
        spark.createDataFrame([('{"k": 2, "b": 7}',)], "value string"), 1
    )
    # pre-restart state recovered and merged, not dropped
    assert "root_xs" in d2.schemas
    assert "xs" in d2.schemas["root"].columns
    tables = d2.finalize(spark)
    assert set(tables) == {"root", "root_xs"}
    root = {r["k"]: r.asDict() for r in tables["root"].collect()}
    assert root[1]["xs"].startswith("R_") and root[1]["b"] is None
    assert root[2]["b"] == 7 and root[2]["xs"] is None
    kids = sorted(
        (r.asDict() for r in tables["root_xs"].collect()),
        key=lambda r: r["xs__index_"],
    )
    assert [c["xs__val_"] for c in kids] == [1, 2]


def test_json_stream_demux_schema_stable_write_skip(spark, tmp_path):
    """r10 (r8 verdict item 3 / r9 item 5): after discovery, a batch
    that changes no table's schema skips the per-table _schema.json
    rewrite; a batch that WIDENS a schema still writes; a restarted
    instance seeds the fast path from disk; the typed view is
    unaffected either way."""
    import importlib

    # NB: attribute import would grab the same-named FUNCTION the
    # package re-exports; we need the module to patch _fs_write_text
    rs = importlib.import_module(
        "relationalize_spark.streaming.relationalize_stream"
    )

    base = str(tmp_path / "out")
    writes: list[str] = []
    real = rs._fs_write_text

    def counting(spark_, path, content):
        if path.endswith("_schema.json"):
            writes.append(path)
        return real(spark_, path, content)

    d1 = rs.JsonStreamDemux(base, "root", key_cols=["k"])
    line = '{"k": 1, "xs": [1, 2]}'
    try:
        rs._fs_write_text = counting
        d1.process_batch(
            spark.createDataFrame([(line,)], "value string"), 0
        )
        first = len(writes)
        assert first == 2  # root + root_xs, discovery batch writes
        # schema-stable batch: same structure, zero schema writes
        d1.process_batch(
            spark.createDataFrame([('{"k": 2, "xs": [3]}',)], "value string"),
            1,
        )
        assert len(writes) == first
        # widening batch: new key -> root's schema rewrites (only root)
        d1.process_batch(
            spark.createDataFrame(
                [('{"k": 3, "xs": [4], "b": 9}',)], "value string"
            ),
            2,
        )
        assert len(writes) == first + 1
        # restart: fresh instance seeds the fast path from disk, so a
        # schema-stable batch through it also skips every rewrite
        d2 = rs.JsonStreamDemux(base, "root", key_cols=["k"])
        d2.process_batch(
            spark.createDataFrame(
                [('{"k": 4, "xs": [5], "b": 1}',)], "value string"
            ),
            3,
        )
        assert len(writes) == first + 1
    finally:
        rs._fs_write_text = real
    tables = d2.finalize(spark)
    root = {r["k"]: r.asDict() for r in tables["root"].collect()}
    assert len(root) == 4 and root[4]["b"] == 1
    kids = [r["xs__val_"] for r in tables["root_xs"].collect()]
    assert sorted(kids) == [1, 2, 3, 4, 5]


def test_json_stream_demux_refuses_uncovered_table_dir(spark, tmp_path):
    """A table directory under base_path with rows but no recoverable
    _schema.json must fail loudly (fail-loud convention), not vanish
    from the typed view."""
    import pytest

    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = tmp_path / "out"
    (base / "root_mystery").mkdir(parents=True)
    (base / "root_mystery" / "part-0.json").write_text('{"a": 1}\n')
    demux = JsonStreamDemux(str(base), "root")
    with pytest.raises(RuntimeError, match="no _schema.json"):
        demux.finalize(spark)


def test_json_stream_demux_schema_only_dir(spark, tmp_path):
    """Crash-window edge of the schema-first write ordering: a table
    directory holding _schema.json but no data yet (crash between the
    two writes; the batch will replay) finalizes to an EMPTY typed
    table, not an error."""
    from relationalize_spark.streaming.relationalize_stream import (
        JsonStreamDemux,
        _fs_write_text,
    )

    base = str(tmp_path / "out")
    _fs_write_text(spark, f"{base}/root/_schema.json", '{"k": "int"}')
    demux = JsonStreamDemux(base, "root")
    tables = demux.finalize(spark)
    assert set(tables) == {"root"}
    assert tables["root"].count() == 0
    assert tables["root"].columns == ["k"]


def test_json_stream_demux_quarantine(spark, tmp_path):
    """Streaming analog of the batch quarantine lane: with
    quarantine=True a malformed line lands raw under
    {base_path}/_quarantine (for replay) while good lines flow;
    _recover must NOT mistake the _quarantine directory for an
    untyped table. Default stays fail-loud."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = str(tmp_path / "out")
    batch = spark.createDataFrame(
        [('{"k": 1, "v": 5}',), ("{oops not json",), ('{"k": 2, "v": 6}',)],
        "value string",
    )
    demux = JsonStreamDemux(base, "root", key_cols=["k"], quarantine=True)
    demux.process_batch(batch, 0)
    tables = demux.finalize(spark)
    assert sorted(r["k"] for r in tables["root"].collect()) == [1, 2]
    quarantined = spark.read.text(f"{base}/_quarantine").collect()
    assert [r["value"] for r in quarantined] == ["{oops not json"]
    # a fresh instance (restart) recovers cleanly past _quarantine
    d2 = JsonStreamDemux(base, "root", key_cols=["k"], quarantine=True)
    assert sorted(r["k"] for r in d2.finalize(spark)["root"].collect()) == [1, 2]


def test_json_stream_demux_schema_write_atomic(spark, tmp_path):
    """ADVICE r7 medium: _schema.json replacement must be atomic.
    Every crash window of the tmp-write-then-swap leaves a recoverable
    state: (a) a complete stranded .tmp (crash between delete and
    rename) is adopted and the swap finished; (b) an unparsable
    _schema.json raises the loud actionable RuntimeError, not a raw
    JSONDecodeError; (c) a dir whose only content is a partial .tmp
    and NO rows (crash mid-first-schema-write — schema-first ordering
    guarantees no rows yet) is skipped for the replay to rewrite;
    (d) rows present with only a partial .tmp raises loud."""
    import pytest

    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    # (a) stranded complete tmp, no dst
    base = str(tmp_path / "a")
    d = JsonStreamDemux(base, "root", key_cols=["k"])
    d.process_batch(spark.createDataFrame([('{"k": 1}',)], "value string"), 0)
    import os
    sj = os.path.join(base, "root", "_schema.json")
    os.rename(sj, sj + ".tmp")
    d2 = JsonStreamDemux(base, "root", key_cols=["k"])
    tables = d2.finalize(spark)
    assert [r["k"] for r in tables["root"].collect()] == [1]
    assert os.path.exists(sj)  # swap self-healed

    # (b) unparsable dst -> loud RuntimeError naming the file
    base_b = tmp_path / "b"
    (base_b / "root").mkdir(parents=True)
    (base_b / "root" / "_schema.json").write_text("{ truncated")
    (base_b / "root" / "part-0.json").write_text('{"k": 1}\n')
    with pytest.raises(RuntimeError, match="does not parse"):
        JsonStreamDemux(str(base_b), "root").finalize(spark)

    # (c) partial tmp only, zero rows -> skipped
    base_c = tmp_path / "c"
    (base_c / "root").mkdir(parents=True)
    (base_c / "root" / "_schema.json.tmp").write_text("{ trunc")
    assert JsonStreamDemux(str(base_c), "root").finalize(spark) == {}

    # (d) partial tmp with rows -> loud
    base_d = tmp_path / "d"
    (base_d / "root").mkdir(parents=True)
    (base_d / "root" / "_schema.json.tmp").write_text("{ trunc")
    (base_d / "root" / "part-0.json").write_text('{"k": 1}\n')
    with pytest.raises(RuntimeError, match="does not parse"):
        JsonStreamDemux(str(base_d), "root").finalize(spark)


def test_json_stream_demux_quarantine_metrics_and_replay(spark, tmp_path):
    """VERDICT r7 item 7 + ADVICE r7 low: per-batch malformed-line
    counts ride the quarantine write as an Observation
    (quarantine_counts[batch_id]), and read_quarantine() dedups
    byte-identical replayed quarantine lines by default (the
    _quarantine lane itself is at-least-once)."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = str(tmp_path / "out")
    batch = spark.createDataFrame(
        [('{"k": 1}',), ("{oops",), ("also bad",)], "value string"
    )
    d1 = JsonStreamDemux(base, "root", key_cols=["k"], quarantine=True)
    d1.process_batch(batch, 0)
    assert d1.quarantine_counts == {0: 2}
    d2 = JsonStreamDemux(base, "root", key_cols=["k"], quarantine=True)
    d2.process_batch(batch, 0)  # replayed batch re-appends
    assert d2.quarantine_counts == {0: 2}
    raw = d2.read_quarantine(spark, dedup_replays=False).collect()
    assert len(raw) == 4  # at-least-once visible on request
    clean = sorted(r["value"] for r in d2.read_quarantine(spark).collect())
    assert clean == ["also bad", "{oops"]


def test_json_stream_demux_exactly_once_layout(spark, tmp_path):
    """VERDICT r7 item 5: the demux lands each batch under
    {table}/batch={id} with per-directory overwrite, so a replayed
    batch REPLACES its previous output instead of re-appending —
    single delivery with NO finalize-side dedup shuffle, and restart
    recovery still works through the same _schema.json files."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [('{"k": 1, "xs": [7, 8]}',), ('{"k": 2, "xs": [9]}',)], "value string"
    )
    b1 = spark.createDataFrame([('{"k": 3, "b": 5}',)], "value string")
    d1 = JsonStreamDemux(base, "root", key_cols=["k"])
    d1.process_batch(b0, 0)
    d2 = JsonStreamDemux(base, "root", key_cols=["k"])
    d2.process_batch(b0, 0)  # replay of batch 0 after restart
    d2.process_batch(b1, 1)

    tables = d2.finalize(spark)  # no read-side dedup
    root = {r["k"]: r.asDict() for r in tables["root"].collect()}
    assert len(root) == 3 and tables["root"].count() == 3
    assert root[3]["b"] == 5
    kids = sorted(
        (r.asDict() for r in tables["root_xs"].collect()),
        key=lambda r: (r["xs__rid_"], r["xs__index_"]),
    )
    assert len(kids) == 3
    assert [c["xs__val_"] for c in kids if c["xs__rid_"] == root[1]["xs"]] == [7, 8]


def test_json_stream_demux_within_batch_conflict(spark, tmp_path):
    """r8: a key conflicted WITHIN one micro-batch (int, list, and
    object rows in the same batch) must record its observed choice
    tags — not a raw-variant placeholder — so the running Schema.merge
    and finalize produce the same choice columns as the cross-batch
    case (sources/jsonl.py convert=False path via infer_schema)."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = str(tmp_path / "out")
    batch = spark.createDataFrame(
        [
            ('{"k": 1, "v": 5}',),
            ('{"k": 2, "v": [3, 4]}',),
            ('{"k": 3, "v": {"a": 1, "b": "x"}}',),
        ],
        "value string",
    )
    demux = JsonStreamDemux(base, "root", key_cols=["k"])
    demux.process_batch(batch, 0)
    assert demux.schemas["root"].columns["v"] == "c-int-str"
    assert demux.schemas["root_v"].columns["v__val_"] == "int"
    tables = demux.finalize(spark)
    root = {r["k"]: r.asDict() for r in tables["root"].collect()}
    assert root[1]["v_int"] == 5 and root[1]["v_str"] is None
    assert root[2]["v_str"].startswith("R_")
    assert root[3]["v_a"] == 1 and root[3]["v_b"] == "x"
    kids = sorted(
        (r.asDict() for r in tables["root_v"].collect()),
        key=lambda r: r["v__index_"],
    )
    assert [c["v__val_"] for c in kids] == [3, 4]


def test_json_stream_demux_casefold_duplicate_keys(spark, tmp_path):
    """r8 (found by the wide-corpus scale harness): JSON keys are
    case-sensitive, so a batch carrying both "w1" and "W1" must append
    and finalize cleanly — without the case-sensitive wrap around the
    table writes the JSON writer throws COLUMN_ALREADY_EXISTS and
    kills the stream."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = str(tmp_path / "out")
    demux = JsonStreamDemux(base, "root", key_cols=["k"])
    demux.process_batch(
        spark.createDataFrame(
            [('{"k": 1, "w1": 5, "W1": "x"}',)], "value string"
        ),
        0,
    )
    assert {"w1", "W1"} <= set(demux.schemas["root"].columns)
    tables = demux.finalize(spark)
    row = tables["root"].collect()[0].asDict()
    assert row["w1"] == 5 and row["W1"] == "x"


def test_json_stream_demux_write_pool_parity(spark, tmp_path):
    """r8: the 8-thread write pool's output after a replayed batch
    (same instance, same batch_id) must EXACTLY equal a run with no
    replay — same discovered schemas, same finalize values — because
    each pool task owns one table end to end (schema-before-rows,
    then an overwrite of that table's own batch directory). A fresh
    instance (checkpoint restart) finalizes to the same view from
    disk alone."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    lines = [
        ('{"k": 1, "b": 5, "c": [1, 2]}',),
        ('{"k": 2, "b": [10], "d": {"x": 1}}',),
        ('{"k": 3, "b": {"y": "s"}, "c": [3]}',),
    ]
    batch = spark.createDataFrame(lines, "value string")

    def snap(d):
        tables = d.finalize(spark)
        return (
            {t: s.serialize() for t, s in d.schemas.items()},
            {
                t: sorted(repr(tuple(r)) for r in df.collect())
                for t, df in sorted(tables.items())
            },
        )

    outs = {}
    for label, replay in (("once", False), ("replayed", True)):
        d = JsonStreamDemux(str(tmp_path / label), "root", key_cols=["k"])
        d.process_batch(batch, 0)
        if replay:
            d.process_batch(batch, 0)
        d.process_batch(batch, 1)
        outs[label] = snap(d)
    assert outs["replayed"] == outs["once"]
    restarted = JsonStreamDemux(
        str(tmp_path / "replayed"), "root", key_cols=["k"]
    )
    assert snap(restarted) == outs["once"]


def test_json_stream_demux_refuses_leftover_rows_tree(spark, tmp_path):
    """Rows under {base_path}/__rows__ (the one-write-per-batch layout,
    since removed) are no longer read by finalize(); a base_path
    holding them must fail loudly, naming the directory, instead of
    silently dropping those rows from the typed view."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    base = tmp_path / "out"
    rows = base / "__rows__" / "batch=0"
    rows.mkdir(parents=True)
    (rows / "part-0.txt").write_text('{"k": 1}\n')
    with pytest.raises(RuntimeError, match=r"/__rows__ holds rows of the removed"):
        JsonStreamDemux(str(base), "root").finalize(spark)


def test_json_stream_demux_refuses_flat_layout_rows(spark, tmp_path):
    """Rows directly in a table directory, outside batch=<n>/, are what
    the removed flat append layout wrote; its replayed batches left
    duplicates that finalize() no longer dedups. A base_path holding
    them must fail loudly, naming the directory, instead of emitting
    a view that may count rows twice."""
    from relationalize_spark.streaming.relationalize_stream import (
        JsonStreamDemux,
        _fs_write_text,
    )

    base = tmp_path / "out"
    _fs_write_text(spark, f"{base}/events/_schema.json", '{"k": "int"}')
    (base / "events" / "part-00000.json").write_text('{"k": 1}\n{"k": 1}\n')
    with pytest.raises(
        RuntimeError, match=r"/events holds rows outside batch=<n>/.*fresh base_path"
    ):
        JsonStreamDemux(str(base), "events").finalize(spark)


def test_read_quarantine_missing_dir_is_empty(spark, tmp_path):
    """r8 review: a clean stream (quarantine never triggered, or
    quarantine=False) has no _quarantine directory — the monitoring
    answer is 0 rows, not PATH_NOT_FOUND."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    d = JsonStreamDemux(str(tmp_path / "out"), "root", key_cols=["k"])
    d.process_batch(spark.createDataFrame([('{"k": 1}',)], "value string"), 0)
    q = d.read_quarantine(spark)
    assert q.columns == ["value"] and q.count() == 0


def test_quarantine_counts_idempotent_under_replay(spark, tmp_path):
    """r8 review: replaying the same batch through the SAME instance
    must not inflate the per-batch malformed metric."""
    from relationalize_spark.streaming.relationalize_stream import JsonStreamDemux

    d = JsonStreamDemux(
        str(tmp_path / "out"), "root", key_cols=["k"], quarantine=True
    )
    batch = spark.createDataFrame([('{"k": 1}',), ("{bad",)], "value string")
    d.process_batch(batch, 0)
    d.process_batch(batch, 0)  # same instance, same batch_id (replay)
    assert d.quarantine_counts == {0: 1}
