"""State management: watermark table, idempotent append, snapshot overwrite.

The reference keeps state in MongoDB: a single-row `lastUpdated` watermark
(updatescript.py:151-152, read at :223), per-row `find_one` insert guards
(R14), and `update_one` upserts (R9). On plain Parquet those become:

- `Watermark`: a one-row parquet table, overwritten atomically via
  write-new-then-swap; committed LAST in the pipeline (the reference commits
  it before its step 5 — the §3 ordering hazard we deliberately fix).
- `idempotent_append`: left_anti against the sink's existing keys, then a
  staged append audited by one root-level observation (row count plus
  optional `audit` rules) — batch-level exactly-once on re-run, zero
  per-row probes, no extra job for the audit.
- `snapshot_overwrite`: keep-latest-per-key window over old ∪ new, full
  rewrite — the plain-Parquet form of MERGE…WHEN MATCHED UPDATE. With a
  Delta/Iceberg runtime the same call sites become MERGE INTO (import-gated,
  not available in this image).

All writers are directory-swap atomic: write to `<path>.tmp-<pid>`, then
rename over the old directory — a crash mid-write leaves the previous
committed state intact. These primitives assume the reference's own
operating model: ONE writer (a daily cron). Within that writer, appends
to DISJOINT sinks may run from concurrent threads of one session: they
touch no session conf and take no lock. For concurrent writers use
`versioned.VersionedSnapshot` — same keep-latest MERGE semantics under
optimistic concurrency (exclusive-create commit log, conflict-detect,
retry), the hand-rolled form of what Delta/Iceberg provide.
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.operators.expectations import observe_rules


def _exists(path: str) -> bool:
    return os.path.exists(path)


def atomic_overwrite(df: DataFrame, path: str) -> None:
    """Materialize `df` and atomically replace the table directory at `path`
    (write to a temp dir, rename-swap, drop the old) — the overwrite
    primitive every snapshot-shaped state table shares. Callers must pass a
    plan that does not read `path` itself unless it is already materialized
    (localCheckpoint(eager=True) cuts that lineage)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if _exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if _exists(old):
        shutil.rmtree(old)


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a state table, or an empty typed DataFrame if it doesn't exist
    yet (first run bootstrap)."""
    if _exists(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema)


class Watermark:
    """Single-row watermark table (reference `lastUpdated`, R25)."""

    EPOCH = datetime.datetime(1970, 1, 1)

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.path = os.path.join(state_dir, "watermark.parquet")

    def read(self) -> datetime.datetime:
        if not _exists(self.path):
            return self.EPOCH
        row = self.spark.read.parquet(self.path).collect()
        return row[0]["lastUpdated"] if row else self.EPOCH

    def commit(self, ts: datetime.datetime) -> None:
        df = self.spark.createDataFrame([(ts,)], "lastUpdated timestamp")
        atomic_overwrite(df, self.path)


def _publish_parquet_files(stage: str, path: str) -> None:
    """Make a staged write's data files visible in the sink, preserving
    the partition-directory layout. First-ever publish is ONE atomic
    directory rename — there is never a window where the sink exists
    without schema-bearing files (an empty sink dir bricks every later
    read). Subsequent publishes rename files into the existing tree;
    directories are only created when a file is about to land in them
    (a crash can at worst leave an empty partition subdir, which parquet
    partition discovery ignores). Part-file names carry task UUIDs, so
    renames never collide with existing sink files."""
    if not _exists(path):
        os.rename(stage, path)
        return
    for root, _dirs, files in os.walk(stage):
        rel = os.path.relpath(root, stage)
        out = path if rel == "." else os.path.join(path, rel)
        data = [n for n in files if n.startswith(("part-", ".part-"))]
        if not data:
            continue
        os.makedirs(out, exist_ok=True)
        for name in data:
            os.rename(os.path.join(root, name), os.path.join(out, name))


def _stage_audit_publish(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    audit: dict[str, Column] | None = None,
) -> int:
    """The stage-audit-publish core of both appends: write `df` ONCE to a
    sibling `<path>.stage-*` dir with its row count and the `audit` rules'
    violation counts riding the write as one observation, then rename the
    staged files into the sink only when every rule held and the count is
    non-zero. A violated rule drops the stage, leaves the sink untouched
    and raises AssertionError naming the rule. Returns the count.

    The observation is the ROOT of the written plan
    (operators.expectations.observe_rules on the final frame). AQE's
    empty-relation propagation replaces a runtime-empty subtree, with any
    observation inside it, by an empty relation, and reading such an
    observation then fails in a JVM assertion; a root observation always
    resolves, to 0 on an empty batch. So no caller observation may sit
    below the append's anti-join: express a per-row invariant as an
    `audit` rule instead."""
    # Reap stage dirs stranded by a previous crashed run (the finally
    # below can't run under SIGKILL). Single-writer model (module
    # docstring): any pre-existing stage is dead by definition.
    parent, base = os.path.split(path.rstrip("/"))
    parent = parent or "."
    if os.path.isdir(parent):
        for n in os.listdir(parent):
            if n.startswith(f"{base}.stage-"):
                shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
    observed, resolve = observe_rules(df, audit)
    stage = f"{path}.stage-{uuid.uuid4().hex[:8]}"
    try:
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        metrics = resolve()
        n = metrics.pop("rows")
        violated = {rule: v for rule, v in metrics.items() if v}
        if violated:
            raise AssertionError(
                f"{path}: audit failed, append aborted — "
                + "; ".join(f"{rule}: {v} rows" for rule, v in violated.items())
            )
        if n:
            _publish_parquet_files(stage, path)
        return n
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def idempotent_append(
    new: DataFrame,
    path: str,
    key: str,
    partition_by: list[str] | None = None,
    audit: dict[str, Column] | None = None,
    fence=None,
) -> int:
    """R14 as a set operation: append only rows whose `key` is absent from
    the sink. Returns the number of rows appended. The existing-keys side is
    a single-column scan (column pruning) — broadcastable while small,
    shuffle-hash at scale. `partition_by` lays the sink out for partition
    pruning (the SURVEY §7.0 fact layout: chain + day).

    Stage-audit-publish shape: the batch is written ONCE to a sibling
    staging dir with the appended-row count riding the write as a
    `df.observe` metric at the plan root (count-then-write would run the
    anti-join twice — a full second scan of the batch at 100 TB), and the
    staged files are then renamed into the sink. Consequences the naive
    append lacks:

    - an all-zero batch publishes NOTHING — no schema-less partitioned
      dir that bricks the next read, no empty part-file accumulation on
      replays; the stage dir is simply dropped;
    - `audit` (optional `{name: Column}` predicates every appended row
      must satisfy; NULL passes, as in `operators.expectations`) is
      counted by the same root observation: a violation aborts the
      append before anything becomes visible, with the sink untouched
      (see pipelines.update_tx_enriched's I3 rule);
    - a crash mid-rename leaves some fresh keyed rows visible; the
      replay's anti-join skips exactly those, so batch idempotency and
      exactly-once row content are preserved (same guarantee, smaller
      window than the previous in-place append).

    `fence` (optional Column predicate over SINK columns) bounds the
    anti-join's existing-keys side to the rows that could possibly collide
    with this batch — the frontier fence. For a watermark-scanned batch
    (R2, updatescript.py:59: every batch row has ts > watermark over an
    IMMUTABLE source) a sink row can only share a key with a batch row if
    its own ts > watermark, i.e. it was published by a run that crashed
    before committing the watermark. Passing
    ``fence=(F.col("ts") > F.lit(watermark))`` therefore shrinks the
    existing-side scan from O(sink history) to the crash-overlap window —
    empty on every healthy run — while preserving exactly the same append
    set. The predicate reaches the parquet scan (PushedFilters), and with
    stats-bearing timestamps (session.py pins TIMESTAMP_MICROS) prunes
    whole row groups: on a 100 TB sink the fence reads metadata, not
    history. CORRECTNESS CONTRACT: the caller must guarantee that any sink
    row NOT satisfying `fence` cannot share `key` with any batch row; the
    watermark contract above is the canonical instance."""
    if _exists(path):
        existing = new.sparkSession.read.parquet(path)
        if fence is not None:
            existing = existing.filter(fence)
        new = new.join(existing.select(key), key, "left_anti")
    return _stage_audit_publish(new, path, partition_by, audit)


def staged_append(df: DataFrame, path: str) -> int:
    """Stage-audit-publish append WITHOUT the key anti-join — for callers
    whose batch is, by construction, exactly the missing rows (round 12:
    the dedup edge refreshes, whose crash-replay suppression dedupes at
    full (bucket, member) granularity that idempotent_append's
    single-column key cannot express — a replayed batch arrives here as
    an EMPTY frame, never as duplicate rows). Same protocol guarantees as
    idempotent_append: the batch is written once to a sibling stage dir
    with its row count riding as a root observe metric, a zero-row batch
    publishes NOTHING (the stage is dropped — no empty part-file
    accumulation on replays), and the staged files are renamed in, so a
    reader never sees a half-written file. Returns the appended count."""
    return _stage_audit_publish(df, path)


def snapshot_overwrite(
    new: DataFrame, path: str, key: str, order_cols: list[str]
) -> None:
    """R9 keep-latest snapshot: old ∪ new → row_number()==1 per key by
    `order_cols` desc → atomic rewrite."""
    spark = new.sparkSession
    # __src breaks order_cols ties in favor of the INCOMING row: a replay
    # with the same explicit run_ts over changed data must
    # deterministically keep the regenerated stats, not an arbitrary
    # survivor of an exact orderBy tie.
    tagged_new = new.withColumn("__src", F.lit(1))
    if _exists(path):
        old = spark.read.parquet(path).withColumn("__src", F.lit(0))
        merged = old.unionByName(tagged_new, allowMissingColumns=True)
    else:
        merged = tagged_new
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc() for c in order_cols], F.col("__src").desc()
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    # The window result must be materialized before the source directory is
    # replaced: localCheckpoint cuts the lineage back to the old files.
    atomic_overwrite(latest.localCheckpoint(eager=True), path)


def compact(spark: SparkSession, path: str, target_mb: int = 128) -> int:
    """Small-files compaction: incremental idempotent appends accumulate one
    file per batch; periodically bin-pack the table back to ~target_mb files
    (the maintenance job every parquet lake needs — Delta's OPTIMIZE, by
    hand). Returns the resulting file count. Delegates to
    operators.maintenance.compact — the INCREMENTAL implementation (only
    sub-half-target files are rewritten, full-size files carried as
    hardlinks, partition-aware, crash-recovering staging) — so there is one
    compaction semantics in the engine, not a whole-history-rewrite twin."""
    from metrics_database_cron_script_spark.operators.maintenance import (
        compact as _compact,
    )

    return _compact(spark, path, target_mb=target_mb)
