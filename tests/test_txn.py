"""Commit-marker protocol tests (streaming/txn.py): a writer dying at
the worst moment — after its data files are fully written but before
the manifest rename — must leave the table byte-identical to the
previous committed version, and a retry must land cleanly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_pipeline_spark.streaming import txn
from kafka_spark_streaming_pipeline_spark.streaming.txn import (
    AtomicParquetTable,
    ConcurrentWriteError,
    fs_exists,
)

SCHEMA = "stream_id string, chunk_index long, sequence_number long, payload string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, table):
    df = table.read(spark)
    assert df is not None
    return sorted(tuple(r) for r in df.drop("__commit").collect())


def _fail_publish(monkeypatch):
    """Simulate the writer dying between data write and commit rename."""

    def boom(fs, root, version, manifest):
        raise RuntimeError("simulated writer crash before commit")

    monkeypatch.setattr(txn, "_publish", boom)


def test_crash_before_commit_preserves_upsert_table(spark, tmp_path, monkeypatch):
    """The merge-on-read upsert table: a log append that dies before its
    manifest rename is invisible, and the retried batch wins its key."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        latest_view,
    )

    path = str(tmp_path / "t")
    table = AtomicParquetTable(path)
    keys = ["stream_id", "chunk_index"]
    append_log_upsert(_df(spark, [("s1", 0, 1, "v1"), ("s2", 0, 1, "v1")]), path, batch_id=0)
    before = _snapshot(spark, table)
    v_before = table.version(spark)

    _fail_publish(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated"):
        append_log_upsert(_df(spark, [("s1", 0, 2, "TORN")]), path, batch_id=1)
    # the half-written commit is invisible: same version, same rows
    assert table.version(spark) == v_before
    assert _snapshot(spark, table) == before

    monkeypatch.undo()
    # retry after "restart" lands normally
    append_log_upsert(_df(spark, [("s1", 0, 2, "v2")]), path, batch_id=1)
    rows = {(r.stream_id, r.chunk_index): r.payload
            for r in latest_view(spark, path, keys, "sequence_number").collect()}
    assert rows == {("s1", 0): "v2", ("s2", 0): "v1"}


def test_crash_mid_compaction_preserves_log(spark, tmp_path, monkeypatch):
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    keys = ["stream_id", "chunk_index"]
    append_log_upsert(_df(spark, [("s1", 0, 1, "v1"), ("s1", 1, 1, "v1")]), path, batch_id=1)
    append_log_upsert(_df(spark, [("s1", 0, 2, "v2")]), path, batch_id=2)
    before = sorted(tuple(r) for r in latest_view(spark, path, keys, "sequence_number").collect())

    _fail_publish(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_log(spark, path, keys, "sequence_number")
    # uncompacted log intact, view unchanged
    assert sorted(tuple(r) for r in latest_view(spark, path, keys, "sequence_number").collect()) == before

    monkeypatch.undo()
    compact_log(spark, path, keys, "sequence_number")
    assert sorted(tuple(r) for r in latest_view(spark, path, keys, "sequence_number").collect()) == before
    # post-compaction the physical log is one row per key
    assert AtomicParquetTable(path).read(spark).count() == 2


def test_compacted_rows_lose_to_fresh_checkpoint_batch_zero(spark, tmp_path):
    """Folded rows are stamped __commit=-1, so a stream restarted on a
    FRESH checkpoint (batch ids starting over at 0) deterministically
    beats compacted history in latest_view — a 0-stamp would tie and
    let the stale row nondeterministically win."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    keys = ["stream_id", "chunk_index"]
    append_log_upsert(_df(spark, [("s1", 0, 5, "old")]), path, batch_id=7)
    compact_log(spark, path, keys, "sequence_number")
    folded = AtomicParquetTable(path).read(spark).collect()
    assert [r["__commit"] for r in folded] == [-1]

    # fresh checkpoint: the restarted stream's first batch is id 0, and
    # its write must win even with a LOWER order_col value
    append_log_upsert(_df(spark, [("s1", 0, 1, "new")]), path, batch_id=0)
    got = {(r.stream_id, r.chunk_index): r.payload
           for r in latest_view(spark, path, keys, "sequence_number").collect()}
    assert got == {("s1", 0): "new"}


def test_concurrent_commit_one_winner(spark, tmp_path):
    """Rename-if-absent is the put-if-absent primitive: a second writer
    preparing the same version loses with ConcurrentWriteError and the
    winner's data is untouched."""
    root = str(tmp_path / "t")
    table = AtomicParquetTable(root)
    table.append(_df(spark, [("s1", 0, 1, "a")]).withColumn("__commit", F.lit(0)))
    fs = txn._FS(spark, root)
    # hand-roll a racing commit for the NEXT version, then let the
    # table try to publish the same version
    v = table.version(spark) + 1
    txn._publish(fs, root, v, {"version": v, "partition_col": None, "entries": []})
    with pytest.raises(ConcurrentWriteError):
        txn._publish(fs, root, v, {"version": v, "partition_col": None, "entries": []})


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    root = str(tmp_path / "t")
    table = AtomicParquetTable(root)
    table.append(_df(spark, [("s1", 0, 1, "a")]))
    table.append(_df(spark, [("s1", 1, 1, "b")]))
    assert table.read(spark).count() == 2
    table.overwrite(table.read(spark))
    removed = table.vacuum(spark)
    assert len(removed) == 2  # the two superseded append dirs
    assert table.read(spark).count() == 2
    assert fs_exists(spark, root)


def test_vacuum_spares_appends_in_flight_after_compaction(spark, tmp_path, monkeypatch):
    """An append that resolved the version a compaction just published
    has written its data dir (and then its temporary manifest) but not
    yet renamed the manifest when a vacuum runs.  Both are staged for a
    version after the latest commit, so vacuum must keep them and the
    append must commit a readable version."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    keys = ["stream_id", "chunk_index"]
    append_log_upsert(_df(spark, [("s1", 0, 1, "a")]), path, batch_id=0)
    compact_log(spark, path, keys, "sequence_number", quiesced=False)

    # vacuum between the data write and the manifest write
    publish = txn._publish

    def vacuum_then_publish(fs, root, version, manifest):
        AtomicParquetTable(root).vacuum(spark)
        publish(fs, root, version, manifest)

    monkeypatch.setattr(txn, "_publish", vacuum_then_publish)
    append_log_upsert(_df(spark, [("s1", 1, 1, "b")]), path, batch_id=1)
    monkeypatch.undo()

    # vacuum between the temporary manifest write and its rename
    rename = txn._FS.rename

    def vacuum_then_rename(fs, src, dst):
        AtomicParquetTable(path).vacuum(spark)
        return rename(fs, src, dst)

    monkeypatch.setattr(txn._FS, "rename", vacuum_then_rename)
    append_log_upsert(_df(spark, [("s1", 2, 1, "c")]), path, batch_id=2)
    monkeypatch.undo()

    got = {(r.stream_id, r.chunk_index): r.payload
           for r in latest_view(spark, path, keys, "sequence_number").collect()}
    assert got == {("s1", 0): "a", ("s1", 1): "b", ("s1", 2): "c"}


def test_time_travel_reads_and_vacuum_expires(spark, tmp_path):
    table = AtomicParquetTable(str(tmp_path / "tt"))
    df1 = spark.range(3).withColumn("tag", F.lit("a"))
    df2 = spark.range(3, 5).withColumn("tag", F.lit("b"))
    v1 = table.append(df1)
    v2 = table.append(df2)
    v3 = table.overwrite(spark.range(100, 101).withColumn("tag", F.lit("c")))
    assert (v1, v2, v3) == (1, 2, 3)
    # commit files are immutable, data dirs never rewritten: every
    # un-vacuumed version reads exactly as published
    assert table.read(spark, version=1).count() == 3
    assert table.read(spark, version=2).count() == 5
    assert table.read(spark).count() == 1
    with pytest.raises(KeyError, match="version 9"):
        table.read(spark, version=9)
    table.vacuum(spark)
    assert table.read(spark).count() == 1  # latest unaffected
    with pytest.raises(KeyError, match="vacuumed"):
        table.read(spark, version=1)


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """Row-level diff between immutable snapshots: inserted / deleted /
    updated keys, unchanged keys absent — the audit companion to time
    travel."""
    from kafka_spark_streaming_pipeline_spark.streaming.txn import snapshot_diff

    table = AtomicParquetTable(str(tmp_path / "diff"))
    v1 = table.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "tag", "val"]
        )
    )
    v2 = table.overwrite(
        spark.createDataFrame(
            [(1, "a", 10),          # unchanged
             (2, "b", 99),          # updated
             (4, "d", 40)],         # inserted; 3 deleted
            ["id", "tag", "val"],
        )
    )
    out = {r.id: r.change for r in snapshot_diff(spark, table, ["id"], v1, v2).collect()}
    assert out == {2: "updated", 3: "deleted", 4: "inserted"}

    # v_new defaults to the latest snapshot
    out2 = {r.id: r.change for r in snapshot_diff(spark, table, ["id"], v1).collect()}
    assert out2 == out

    # diff of a version against itself is empty
    assert snapshot_diff(spark, table, ["id"], v2, v2).count() == 0

    # NULL-swap updates are real updates: ('x', NULL) -> (NULL, 'x')
    # must be reported (a null-skipping digest would hash them equal)
    v3 = table.overwrite(
        spark.createDataFrame([(1, "x", None)], "id int, tag string, note string")
    )
    v4 = table.overwrite(
        spark.createDataFrame([(1, None, "x")], "id int, tag string, note string")
    )
    nulls = {r.id: r.change for r in snapshot_diff(spark, table, ["id"], v3, v4).collect()}
    assert nulls == {1: "updated"}
