"""Versioned snapshot table with optimistic concurrency control.

`state.snapshot_overwrite` is correct under the reference's own operating
model — one cron process (updatescript.py runs single-threaded, once a day).
This module is the concurrent-writer form of the same keep-latest upsert:
immutable versioned data plus an exclusive-create commit log that picks
exactly one winner per version.

Layout:

    <path>/_log/<version 20d>.commit   -- marker; its CONTENT is the name of
                                          the winning data dir
    <path>/_v<version 20d>-<uuid12>/   -- immutable parquet snapshot, staged
                                          under a name UNIQUE to one writer

Protocol (writer):
  1. observe committed version v (max marker);
  2. write the new snapshot to a dir name no other writer can collide with
     (`_stage_dir`). A crash here leaves an orphan dir that no marker
     references: readers never see it and it never wedges later writers;
  3. publish `_log/{v+1}.commit` exclusively (`_publish`): the content is
     written to a private temp file which is then `os.link`ed to the marker
     path. link(2) fails with EEXIST if a racer already committed, and
     succeeds with the full content in place. The loser removes only its
     own staged dir and raises `ConcurrentWriteError`; `merge_keep_latest`
     instead re-reads (now including the winner's rows) and retries.

A marker is created only after its data dir is fully written, so a marker
implies readable data. Reads resolve the head version once and read an
immutable directory, so readers never block writers.

Superseded versions' dirs and crashed writers' orphan `_v*` dirs are not
reclaimed: nothing in the package deletes them. Time travel, the change
data feed, restore, write-audit-publish, OPTIMIZE, partition compaction,
vacuum and the partition-pruned merge had no caller in the package; they
are in git history at 65b28ee.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from metrics_database_cron_script_spark.state import read_state, write_schema_marker


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer raced for."""


class VersionedSnapshot:
    """Keep-latest snapshot table with OCC (reference R9 `update_one` upsert,
    updatescript.py:131 — safe under concurrent writers, unlike the
    single-writer `state.snapshot_overwrite`)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, "_log")

    def _marker(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.commit")

    def _resolve_data_dir(self, version: int) -> str:
        """Data dir the committed marker of `version` names."""
        with open(self._marker(version)) as f:
            return os.path.join(self.path, f.read().strip())

    def version(self) -> int:
        """Latest committed version, or -1 for an empty table. The commit
        markers alone define the version sequence."""
        return max(self.history(), default=-1)

    def history(self) -> list[int]:
        """All committed versions, ascending."""
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".commit"):
                try:
                    out.append(int(name[: -len(".commit")]))
                except ValueError:
                    continue
        return sorted(out)

    def read(self, schema=None) -> DataFrame:
        """Snapshot-isolated read of the latest committed version, in its
        committed schema (`state.read_state`). An empty typed DataFrame for
        a never-committed table (requires `schema` — a DDL string or a
        StructType)."""
        v = self.version()
        if v < 0:
            if schema is None:
                raise FileNotFoundError(
                    f"versioned table {self.path} has no committed version "
                    "and no bootstrap schema was given"
                )
            return self.spark.createDataFrame([], schema)
        return read_state(self.spark, self._resolve_data_dir(v))

    def _stage_dir(self, version: int) -> str:
        """A staging path no concurrent writer can collide with."""
        return os.path.join(
            self.path, f"_v{version:020d}-{uuid.uuid4().hex[:12]}"
        )

    def _publish(self, version: int, data_dir: str) -> None:
        """Atomically commit `data_dir` (already fully written) as `version`.
        Loser cleans up ONLY its own staged dir and raises."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(os.path.basename(data_dir))
            f.flush()
            os.fsync(f.fileno())
        try:
            # link(2): exclusive create WITH content already in place — a
            # reader can never observe a half-written marker.
            os.link(tmp, self._marker(version))
        except FileExistsError:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{self.path}: version {version} was committed by another "
                "writer — re-read and retry"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _check_expected(self, observed: int, expected_version) -> None:
        """OCC precheck for a read-modify-write commit."""
        if expected_version is not None and observed != expected_version:
            raise ConcurrentWriteError(
                f"{self.path}: expected version {expected_version}, found "
                f"{observed} — another writer committed; re-read and retry"
            )

    def overwrite(self, df: DataFrame, expected_version: int | None = None) -> int:
        """Commit `df` as the next version. `expected_version` (from
        `version()` at the start of the caller's read-modify-write) makes
        the commit conditional: if anyone committed in between, raise
        instead of silently overwriting their update. Returns the new
        version."""
        observed = self.version()
        self._check_expected(observed, expected_version)
        target = observed + 1
        data = self._stage_dir(target)
        df.write.mode("overwrite").parquet(data)
        write_schema_marker(data, df.schema)
        self._publish(target, data)
        return target

    def merge_keep_latest(
        self,
        new: DataFrame,
        key: str,
        order_cols: list[str],
        max_retries: int = 5,
    ) -> int:
        """R9 keep-latest MERGE under OCC: read the snapshot, union the
        batch, keep the max-`order_cols` row per `key`, commit conditionally;
        on a lost race re-read (now INCLUDING the winner's rows) and retry —
        no update is ever silently dropped. Returns the committed version.

        Ties: the batch row replaces the stored row only when its order
        tuple is STRICTLY greater — on equal tuples the stored row wins,
        deterministically (the window tiebreaks on a stored-first origin
        flag). `state.snapshot_overwrite` breaks the same tie the other way,
        for the incoming row. Ties WITHIN one batch remain unspecified
        unless order tuples are unique per key.

        The merged plan is written straight into `overwrite`'s stage dir:
        it reads version v's immutable files, and the stage name is unique,
        so nothing needs materializing first. Rewrites the WHOLE snapshot
        per commit — right for small dimension / stats tables (the
        reference's case)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            v = self.version()
            # a commit landing between version() and read() makes the
            # conditional overwrite below raise, so the merge retries
            base = self.read(new.schema)
            merged = base.withColumn("__src", F.lit(0)).unionByName(
                new.withColumn("__src", F.lit(1)), allowMissingColumns=True
            )
            w = Window.partitionBy(key).orderBy(
                *[F.col(c).desc() for c in order_cols], F.col("__src").asc()
            )
            latest = (
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src")
            )
            try:
                return self.overwrite(latest, expected_version=v)
            except ConcurrentWriteError as e:
                last_err = e
                continue
        raise last_err  # type: ignore[misc]
