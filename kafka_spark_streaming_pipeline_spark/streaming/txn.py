"""Crash-atomic parquet tables via a commit-marker protocol, and the
replay-safe commit log every streaming sink writes on top of them.

The reference gets mutation atomicity from MongoDB document upserts
(spark_job/spark_streaming.py:322-337) — a mid-crash leaves the
previous document, never a torn table.  Plain ``mode("overwrite")``
parquet has no such guarantee: a failure between delete and rewrite
loses the live table.  This module closes that window with the same
mechanism Delta Lake uses on HDFS-compatible storage, re-implemented
on nothing but the Hadoop ``FileSystem`` API that ships with Spark:

- Data files are IMMUTABLE: every commit writes a fresh
  ``data/<version>-<uuid>/`` directory and never touches existing
  ones.
- A commit is ONE atomic operation: rename of a fully-written
  manifest to ``_commits/<version>.json``.  Hadoop ``rename`` is
  atomic and fails if the destination exists, so it doubles as
  put-if-absent — two racing writers produce one winner and one
  clean ``ConcurrentWriteError`` (optimistic concurrency, exactly
  Delta's HDFS LogStore contract).  On S3, rename is not atomic and
  this needs an external put-if-absent coordinator (as Delta's S3
  LogStore does); the protocol itself is unchanged.
- Readers resolve the highest committed version and read ONLY the
  directories its manifest lists.  A writer crash at any point before
  the rename leaves garbage data dirs that no manifest references —
  invisible to every reader, reclaimed by ``vacuum``.

``CommitLog`` is the exactly-once layer: foreachBatch replays a batch
under its original id, so every appended row carries that id in
``__commit`` and readers keep one copy per commit (the
replayable-batch-id contract of Structured Streaming sinks, standing
in for the reference's idempotent upserts keyed on
(stream_id, chunk_index)).

All path probing goes through the Hadoop FileSystem API, so the table
works on any scheme Spark can reach (file://, hdfs://, s3a://...) —
never ``os.path``, which silently reports False for remote stores.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

_COMMITS = "_commits"
_DATA = "data"
_TMP = "_tmp-"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer was preparing."""


class _FS:
    """Thin Hadoop FileSystem wrapper (scheme-agnostic path ops)."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self.fs = self._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def write_text(self, p: str, text: str) -> None:
        out = self.fs.create(self.path(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, p: str) -> str:
        stream = self.fs.open(self.path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> bool:
        return self.fs.rename(self.path(src), self.path(dst))

    def list_names(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(self.path(p))]

    def delete(self, p: str) -> None:
        self.fs.delete(self.path(p), True)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that works on any Hadoop-reachable scheme."""
    return _FS(spark, path).exists(path)


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _staged_name(version: int) -> str:
    """Name of a data dir or temporary manifest being prepared for
    ``version``: the version prefix lets ``vacuum`` tell an in-flight
    write from garbage without trusting file timestamps."""
    return f"{version:020d}-{uuid.uuid4().hex[:12]}"


def _staged_version(name: str) -> int:
    """The version a staged name was prepared for; 0 for commit files
    and for names written before the prefix existed."""
    head, sep, _ = name.removeprefix(_TMP).partition("-")
    return int(head) if sep and head.isdigit() else 0


def _publish(fs: _FS, root: str, version: int, manifest: dict) -> None:
    """The ONE atomic step: fully write the manifest to a temp name,
    then rename it to its version slot.  Rename-if-absent is the
    put-if-absent commit primitive; losing the race raises instead of
    clobbering the winner."""
    fs.fs.mkdirs(fs.path(f"{root}/{_COMMITS}"))
    tmp = f"{root}/{_COMMITS}/{_TMP}{_staged_name(version)}.json"
    final = f"{root}/{_COMMITS}/{_commit_name(version)}"
    fs.write_text(tmp, json.dumps(manifest))
    if not fs.rename(tmp, final):
        fs.delete(tmp)
        raise ConcurrentWriteError(
            f"version {version} of {root} was committed by another writer"
        )


class AtomicParquetTable:
    """A parquet table whose every mutation is an atomic commit:
    ``append`` (the merge-on-read log shape) or ``overwrite``."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    # ------------------------------------------------------------ resolve

    def _resolve(self, fs: _FS) -> tuple[int, dict | None]:
        names = fs.list_names(f"{self.root}/{_COMMITS}")
        versions = [
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        ]
        if not versions:
            return 0, None
        v = max(versions)
        return v, json.loads(fs.read_text(f"{self.root}/{_COMMITS}/{_commit_name(v)}"))

    def version(self, spark: SparkSession) -> int:
        return self._resolve(_FS(spark, self.root))[0]

    # --------------------------------------------------------------- read

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """The latest committed snapshot; ``None`` if nothing committed.

        ``version`` time-travels to an older commit: every commit file
        is immutable and data dirs are never rewritten, so any version
        not yet vacuumed reads exactly as it was published (the same
        mechanism as Delta's VERSION AS OF).  Raises KeyError for a
        version that never existed or whose commit was vacuumed."""
        fs = _FS(spark, self.root)
        if version is None:
            _, manifest = self._resolve(fs)
        else:
            commit = f"{self.root}/{_COMMITS}/{_commit_name(version)}"
            if not fs.exists(commit):
                raise KeyError(
                    f"version {version} does not exist at {self.root} "
                    "(never committed, or vacuumed)"
                )
            manifest = json.loads(fs.read_text(commit))
        if manifest is None or not manifest["entries"]:
            return None
        parts = [spark.read.parquet(f"{self.root}/{e['dir']}") for e in manifest["entries"]]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -------------------------------------------------------------- write

    def _commit(self, fs: _FS, df: DataFrame, version: int, kept: list[dict]) -> int:
        """Write ``df`` to a fresh data dir and publish it, after the
        ``kept`` entries, as ``version``."""
        rel = f"{_DATA}/{_staged_name(version)}"
        df.write.parquet(f"{self.root}/{rel}")
        entries = kept + [{"dir": rel, "partitions": None}]
        _publish(
            fs,
            self.root,
            version,
            {"version": version, "partition_col": None, "entries": entries},
        )
        return version

    def append(self, df: DataFrame) -> int:
        """Commit ``df`` as new immutable files alongside the existing
        ones (merge-on-read log append).  O(batch) work, crash-atomic."""
        fs = _FS(df.sparkSession, self.root)
        version, manifest = self._resolve(fs)
        return self._commit(fs, df, version + 1, manifest["entries"] if manifest else [])

    def overwrite(self, df: DataFrame, expect_version: int | None = None) -> int:
        """Atomically replace the whole table content (compaction /
        full rewrite).  Old dirs stay until ``vacuum`` — a reader that
        resolved the previous version keeps a consistent snapshot.

        ``expect_version`` makes the replace a compare-and-swap: the
        new manifest publishes at ``expect_version + 1``, and if any
        writer committed that slot in the meantime ``_publish``'s
        rename-if-absent raises ConcurrentWriteError and the table is
        untouched — the guard compaction needs so a concurrently
        appended batch can never be silently dropped by a fold computed
        from an older snapshot."""
        fs = _FS(df.sparkSession, self.root)
        version = self._resolve(fs)[0] if expect_version is None else expect_version
        return self._commit(fs, df, version + 1, [])

    # ------------------------------------------------------------- vacuum

    def vacuum(self, spark: SparkSession) -> list[str]:
        """Delete data dirs unreferenced by the LATEST manifest and all
        superseded commit files.  Safe once no reader still holds an
        older snapshot (the caller's retention decision, as with
        Delta's VACUUM).

        Data dirs and temporary manifests staged for a version AFTER
        the latest commit belong to a writer that has not published
        yet (an append that resolved the latest version a moment ago)
        and are never reclaimed; a staged version at or below the
        latest can no longer be published, so it is garbage."""
        fs = _FS(spark, self.root)
        version, manifest = self._resolve(fs)
        if manifest is None:
            return []
        live = {e["dir"].split("/", 1)[1] for e in manifest["entries"]}
        removed = []
        for name in fs.list_names(f"{self.root}/{_DATA}"):
            if name not in live and _staged_version(name) <= version:
                fs.delete(f"{self.root}/{_DATA}/{name}")
                removed.append(name)
        for name in fs.list_names(f"{self.root}/{_COMMITS}"):
            if (
                name.endswith(".json")
                and name != _commit_name(version)
                and _staged_version(name) <= version
            ):
                fs.delete(f"{self.root}/{_COMMITS}/{name}")
        return removed


# ------------------------------------------------------------ commit log

COMMIT = "__commit"

#: per-commit dedup keys: column names, or a function of the log's data
#: columns returning them (for logs whose key set is schema-derived)
DedupKeys = Sequence[str] | Callable[[list[str]], Sequence[str]]


def _drop_replays_behind_watermark(log: DataFrame) -> DataFrame:
    """Replay guard for logs compacted ONLINE: folded rows encode the
    highest batch id they absorbed as ``__commit = -(wm + 2)``; a batch
    the stream replays after a crash re-appends under its ORIGINAL id
    <= wm, and since its first copy was folded away, per-commit dedup
    alone can no longer drop it.  This filter can: keep folded rows
    (negative) and live rows with ``__commit > wm`` only.  Quiesced
    compaction stamps -1, which decodes to wm = -1 — every live row
    passes.  The watermark is derived IN-PLAN (tiny aggregate,
    broadcast back); no driver-side collect."""
    wm = log.agg(
        F.coalesce(
            F.max(F.when(F.col(COMMIT) < -1, -F.col(COMMIT) - 2)),
            F.lit(-1),
        ).alias("__wm")
    )
    return (
        log.crossJoin(F.broadcast(wm))
        .filter((F.col(COMMIT) < 0) | (F.col(COMMIT) > F.col("__wm")))
        .drop("__wm")
    )


def _stamp_folded(folded: DataFrame, log: DataFrame, quiesced: bool) -> DataFrame:
    """Attach the ``__commit`` stamp compaction puts on folded rows.

    Quiesced: -1 — folded history can never collide with a stream
    restarted on a FRESH checkpoint (ids restart at 0), which is the
    supported restart path after an offline compaction.

    Online: -(wm + 2) where wm is the highest batch id being folded
    (carried forward across successive online folds) — safe to run
    UNDER a live stream, because a replayed uncheckpointed batch
    (id <= wm) is dropped by ``_drop_replays_behind_watermark`` while
    future batches (id > wm) merge normally.  Before restarting on a
    fresh checkpoint, run one quiesced compaction to reset the stamp
    to -1.  The watermark is a tiny in-plan aggregate broadcast onto
    the folded rows."""
    if quiesced:
        return folded.withColumn(COMMIT, F.lit(-1))
    wm = log.agg(
        F.coalesce(
            F.max(
                F.when(F.col(COMMIT) >= 0, F.col(COMMIT)).otherwise(-F.col(COMMIT) - 2)
            ),
            F.lit(-1),
        ).alias("__fold_wm")
    )
    return (
        folded.crossJoin(F.broadcast(wm))
        .withColumn(COMMIT, -(F.col("__fold_wm") + F.lit(2)))
        .drop("__fold_wm")
    )


def _rows_of(
    log: DataFrame,
    dedup_on: DedupKeys | None = None,
    latest_on: Sequence[str] | None = None,
    order: Sequence[Column] = (),
) -> DataFrame:
    """The replay-guarded data rows of a log snapshot, ``__commit``
    dropped: one copy per (commit, ``dedup_on``) when given, or only
    the newest row per ``latest_on`` key (newest commit first, then
    ``order``) when given."""
    log = _drop_replays_behind_watermark(log)
    if callable(dedup_on):
        dedup_on = dedup_on([c for c in log.columns if c != COMMIT])
    if dedup_on is not None:
        log = log.dropDuplicates([COMMIT, *dedup_on])
    if latest_on is not None:
        w = W.partitionBy(*latest_on).orderBy(F.col(COMMIT).desc(), *order)
        log = (
            log.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return log.drop(COMMIT)


class CommitLog:
    """An append-only log of per-batch partials over an
    ``AtomicParquetTable``, exactly-once under foreachBatch replay.

    Every row carries a ``__commit`` stamp: the batch id (>= 0) for
    rows a sink appended, -1 for rows a quiesced compaction folded,
    and -(wm + 2) for rows an online compaction folded after absorbing
    batches up to id wm.  A replayed batch re-appends identical rows
    under its original id, so readers that keep one copy per commit
    (``rows(dedup_on=...)``) see it once; replays of batches an online
    fold already absorbed are dropped by the in-band watermark.  Sinks
    supply only their partial and their fold."""

    def __init__(self, root: str):
        self.table = AtomicParquetTable(root)

    @staticmethod
    def batch_sink(body: Callable[[DataFrame, int], None]):
        """A foreachBatch function running ``body`` on non-empty
        micro-batches only."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            body(batch_df, batch_id)

        return sink

    def sink(self, partial: Callable[[DataFrame], DataFrame]):
        """A foreachBatch function appending ``partial(batch)`` for
        every non-empty micro-batch, stamped with its batch id."""
        return self.batch_sink(lambda df, batch_id: self.append(partial(df), batch_id))

    def append(self, df: DataFrame, batch_id: int) -> int:
        """Crash-atomic O(batch) append of ``df`` stamped with
        ``batch_id``; the log is never read on this path."""
        return self.table.append(df.withColumn(COMMIT, F.lit(batch_id)))

    def rows(
        self,
        spark: SparkSession,
        dedup_on: DedupKeys | None = None,
        latest_on: Sequence[str] | None = None,
        order: Sequence[Column] = (),
        exclude: int | None = None,
        missing: str | None = None,
    ) -> DataFrame:
        """The latest snapshot's replay-guarded rows (see ``_rows_of``).

        ``exclude`` drops one commit's rows — a sink reading its own
        history must not see the first attempt of the batch it is
        replaying.  A log with no committed version raises
        FileNotFoundError, or yields an empty frame of the ``missing``
        schema when one is given."""
        log = self.table.read(spark)
        if log is None:
            if missing is None:
                raise FileNotFoundError(f"no committed version at {self.table.root}")
            return spark.createDataFrame([], missing)
        if exclude is not None:
            log = log.filter(F.col(COMMIT) != exclude)
        return _rows_of(log, dedup_on, latest_on, order)

    def compact(
        self,
        spark: SparkSession,
        fold: Callable[[DataFrame], DataFrame] | None = None,
        dedup_on: DedupKeys | None = None,
        latest_on: Sequence[str] | None = None,
        order: Sequence[Column] = (),
        quiesced: bool = True,
    ) -> None:
        """Replace the log by ``fold`` of its rows (read as in ``rows``),
        the background compaction that bounds read amplification.  The
        fold must itself be a valid partial so live appends keep
        composing with it.

        One version is resolved and exactly that snapshot is read; the
        fold and the online watermark both derive from it, and the
        result publishes with compare-and-swap at version+1.  A batch
        the live stream commits meanwhile makes the CAS fail with
        ConcurrentWriteError, table untouched, instead of being
        silently dropped — the caller re-runs compaction.  A crash
        mid-compaction leaves the uncompacted log intact; superseded
        files are vacuumed only after the new version is live.

        ``quiesced=True`` requires a stopped, fully-checkpointed stream:
        a folded batch whose checkpoint commit had not landed would be
        replayed under its original id and double-count.
        ``quiesced=False`` is safe under a live stream (see
        ``_stamp_folded``)."""
        table = self.table
        version = table.version(spark)
        if version == 0:
            raise FileNotFoundError(f"no committed version at {table.root}")
        log = table.read(spark, version=version)
        folded = _rows_of(log, dedup_on, latest_on, order)
        if fold is not None:
            folded = fold(folded)
        table.overwrite(_stamp_folded(folded, log, quiesced), expect_version=version)
        table.vacuum(spark)


def snapshot_diff(
    spark: SparkSession,
    table: "AtomicParquetTable",
    keys: list[str],
    v_old: int,
    v_new: int | None = None,
) -> DataFrame:
    """Row-level diff between two committed snapshots (the audit
    companion to time travel — Delta's CDF shape computed after the
    fact): one row per changed key with ``change`` in
    ('inserted', 'deleted', 'updated').

    Works on any two not-yet-vacuumed versions because commits are
    immutable.  Scale shape: ONE full-outer join keyed on ``keys``
    (hash-spread, map-side combinable md5 row digests computed below
    the join), so the cost is a single co-partitioned shuffle of the
    two snapshots — never a collect, never per-row Python.  Rows
    whose digests match are dropped BEFORE the output (unchanged keys
    never leave the join stage)."""
    old = table.read(spark, version=v_old)
    new = table.read(spark, version=v_new) if v_new is not None else table.read(spark)
    if old is None or new is None:
        raise FileNotFoundError(f"missing snapshot(s) at {table.root}")

    def digested(df: DataFrame, tag: str) -> DataFrame:
        non_key = [c for c in df.columns if c not in keys]
        # NULL-sensitive encoding: concat_ws silently drops nulls AND
        # their separators, so ('x', NULL) and (NULL, 'x') would hash
        # identically; tag every cell with a null marker first
        cells = [
            F.when(F.col(c).isNull(), F.lit("\x00"))
            .otherwise(F.concat(F.lit("\x01"), F.col(c).cast("string")))
            for c in non_key
        ]
        digest = F.md5(F.concat_ws("\x1f", *cells))
        return df.select(*keys, digest.alias(f"__d_{tag}"))

    j = digested(old, "old").join(digested(new, "new"), keys, "full_outer")
    change = (
        F.when(F.col("__d_old").isNull(), F.lit("inserted"))
        .when(F.col("__d_new").isNull(), F.lit("deleted"))
        .when(F.col("__d_old") != F.col("__d_new"), F.lit("updated"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change")
    )
