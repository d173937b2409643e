"""State management: watermark table, idempotent append, snapshot overwrite.

The reference keeps state in MongoDB: a single-row `lastUpdated` watermark
(updatescript.py:151-152, read at :223), per-row `find_one` insert guards
(R14), and `update_one` upserts (R9). On plain Parquet those become:

- `Watermark`: a one-row `lastUpdated` marker, committed LAST in the
  pipeline (the reference commits it before its step 5 — the §3 ordering
  hazard we deliberately fix).
- `idempotent_append`: left_anti against the sink's existing keys, then a
  staged append audited by one root-level observation (row count plus
  optional `audit` rules) — batch-level exactly-once on re-run, zero
  per-row probes, no extra job for the audit.
- `snapshot_overwrite`: keep-latest-per-key window over old ∪ new, full
  rewrite — the plain-Parquet form of MERGE…WHEN MATCHED UPDATE. With a
  Delta/Iceberg runtime the same call sites become MERGE INTO (import-gated,
  not available in this image).

The control plane runs no Spark job:

- Schema markers. Every state write (`atomic_overwrite`, both staged
  appends, `operators.maintenance.compact`'s swap of a flat table) leaves
  the schema a reader sees in `<table>/_schema.json` (partition columns
  last, as partition discovery appends them). `read_state` reads with
  that schema and skips Parquet footer inference, which is a one-task
  Spark job per read; a table written before the marker existed falls
  back to inference. The marker is invisible to Spark's file source and
  to `*.parquet` globs. `versioned.VersionedSnapshot` writes the same
  marker into each version it commits.
- Scalar markers (the watermark, the P7/P8 frontiers) are one-row Parquet
  files written and read on the driver with pyarrow (`commit_scalar`,
  `read_scalar`), in the layout Spark would write (INT64 micros,
  UTC-adjusted, for timestamps). A commit writes a hidden temp file in
  the marker directory and renames it onto `part-00000.parquet`, so
  the marker is never absent once committed and a reader sees the old or
  the new value; a first commit killed before its rename leaves only the
  temp file, which reads as never committed, and the next commit reaps
  it.

Durable effects. Every rename or replace of state in the package goes
through `_rename` (`os.replace`), and a crash leaves at most a staged
sibling of the table it was writing, named `<table>.<kind>-<id>`:

- `.tmp-*`: a new copy, written but not yet swapped in. `replace_table`
  (which `atomic_overwrite` and P8's index bootstrap use) fills it, then
  `_swap` moves it in with two renames: the table to `<table>.old-*`, the
  tmp dir to the table; the old copy is dropped last. Compaction
  (`operators.maintenance.compact`) swaps each packed leaf with the same
  `_swap`, staged under `<table>.__compact-*/{tmp,old}/<leaf>`.
- `.stage-*`: a staged append (`_stage_audit_publish`), whose files are
  renamed one by one into the table.

`recover(path)` heals one table: an old copy whose target is absent (a
crash between a swap's two renames) is moved back; any other old copy is
dropped; the table's `.tmp-*`, `.stage-*` and `.__compact-*` leftovers are
reaped. Each writer heals its own table before it reads it, and
`pipelines.run_batch` heals every table of its state dir
(`recover_tables`) before any step reads. A crash in a swap therefore
leaves the old or the new table, never none; a crash inside a publish
leaves some of the batch's files in the table, which the replay's fenced
anti-join absorbs. The plan `atomic_overwrite` writes may read `path`
itself: every row is in the tmp dir before either rename.

These primitives assume the reference's own operating model: ONE writer
(a daily cron). Within that writer, appends to DISJOINT sinks may run
from concurrent threads of one session: they touch no session conf and
take no lock. For concurrent writers use
`versioned.VersionedSnapshot.merge_keep_latest`: the keep-latest MERGE
under optimistic concurrency (exclusive-create commit log,
conflict-detect, retry). The two break an order-column tie differently:
`snapshot_overwrite` keeps the incoming row, `merge_keep_latest` the
stored one. `VersionedSnapshot`'s time travel, change feed, restore,
vacuum and partition-pruned merge are in git history at 65b28ee.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from metrics_database_cron_script_spark.operators.expectations import observe_rules

SCHEMA_MARKER = "_schema.json"
SCALAR_FILE = "part-00000.parquet"


def write_schema_marker(data_dir: str, schema: StructType) -> None:
    """Persist the schema readers of `data_dir` should use, inside it.
    Underscore-prefixed files are invisible to Spark's file source, and
    compaction's swap moves the marker with the data. Under schema
    evolution it is what makes a table of mixed-schema files safe to
    read: untouched files keep their old schema, and the explicit-schema
    read NULL-pads added columns / widens promoted types per file instead
    of letting footer inference pick a random file's schema.

    Every field is recorded nullable, at every depth: Spark reads a file
    source as nullable whatever the marker says, and the writer's
    nullability is a property of the plan that wrote it (a first snapshot
    can prove a total non-null that an old ∪ new rewrite cannot), so an
    exact copy would make the marker depend on the table's write
    history."""
    with open(os.path.join(data_dir, SCHEMA_MARKER), "w") as f:
        f.write(json.dumps(_all_nullable(json.loads(schema.json()))))


_NULLABILITY = ("nullable", "containsNull", "valueContainsNull")


def _all_nullable(schema_json):
    """A schema's JSON form with every nullability flag set true (field
    metadata is left as written)."""
    if isinstance(schema_json, list):
        return [_all_nullable(v) for v in schema_json]
    if not isinstance(schema_json, dict):
        return schema_json
    return {
        k: True if k in _NULLABILITY else v if k == "metadata" else _all_nullable(v)
        for k, v in schema_json.items()
    }


def read_schema_marker(data_dir: str) -> StructType | None:
    """The marked schema of `data_dir`, or None for data written before
    the marker (footer inference remains its contract)."""
    p = os.path.join(data_dir, SCHEMA_MARKER)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return StructType.fromJson(json.load(f))


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """Read a state table with its marked schema: no footer inference, so
    no Spark job. Unmarked (older) state falls back to inference."""
    schema = read_schema_marker(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _rename(src: str, dst: str) -> None:
    """The one rename of durable state in the package; `os.replace`, so a
    file (or an empty directory) at `dst` is replaced atomically."""
    os.replace(src, dst)


def _swap(tmp: str, path: str, old: str) -> None:
    """Put the complete directory `tmp` in the place of `path`: rename
    `path` (when present) to `old`, `tmp` to `path`, then drop `old`. A
    crash between the two renames leaves `path` absent and its only copy
    at `old`, which `recover` moves back."""
    if os.path.exists(path):
        os.makedirs(os.path.dirname(old), exist_ok=True)
        _rename(path, old)
    _rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def replace_table(path: str, write: Callable[[str], None]) -> None:
    """Replace the table directory at `path` with the one `write(tmp)`
    fills at a sibling `<path>.tmp-*` (data files and markers), through
    `_swap`. The table is healed first."""
    recover(path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    write(tmp)
    _swap(tmp, path, f"{path}.old-{uuid.uuid4().hex[:8]}")


def atomic_overwrite(df: DataFrame, path: str) -> None:
    """Write `df` with its schema marker and atomically replace the table
    directory at `path` (`replace_table`) — the overwrite primitive every
    snapshot-shaped state table shares. `df` may read `path` itself: the
    write job finishes before either rename, so no eager checkpoint is
    needed."""

    def write(tmp: str) -> None:
        df.write.mode("overwrite").parquet(tmp)
        write_schema_marker(tmp, df.schema)

    replace_table(path, write)


_STAGED = (".old-", ".tmp-", ".stage-", ".__compact-")


def recover(path: str) -> list[str]:
    """Heal the table at `path` after a crashed run (module docstring,
    durable effects): restore an old copy whose target is absent, drop
    every other old copy, reap the table's `.tmp-*`, `.stage-*` and
    `.__compact-*` leftovers. Idempotent; one listdir when there is
    nothing to heal. Returns the restored paths (the table, or its
    partition leaves): a restore changes the file listing without a
    Spark write, so a caller holding frames over the table refreshes
    them (`spark.catalog.refreshByPath`)."""
    parent, base = os.path.split(path.rstrip("/"))
    path, parent = os.path.join(parent, base), parent or "."
    restored: list[str] = []
    for n in sorted(os.listdir(parent)) if os.path.isdir(parent) else []:
        if not n.startswith(tuple(base + kind for kind in _STAGED)):
            continue
        staged = os.path.join(parent, n)
        if n.startswith(f"{base}.old-") and not os.path.exists(path):
            _rename(staged, path)
            restored.append(path)
        elif n.startswith(f"{base}.__compact-"):
            old_root = os.path.join(staged, "old")
            # list the leaves before renaming any: renaming directories
            # out from under an os.walk skips subtrees
            for root, _dirs, files in list(os.walk(old_root)):
                rel = os.path.relpath(root, old_root)
                leaf = path if rel == "__root__" else os.path.join(path, rel)
                if any(f.endswith(".parquet") for f in files) and not os.path.exists(leaf):
                    _rename(root, leaf)
                    restored.append(leaf)
        shutil.rmtree(staged, ignore_errors=True)
    return restored


def recover_tables(state_dir: str) -> list[str]:
    """`recover` every table of `state_dir` that has leftovers (a table
    may be present only as its old copy): one listdir on a healthy run.
    Returns the restored paths."""
    names = os.listdir(state_dir)
    tables = sorted({n[: n.rindex(k)] for n in names for k in _STAGED if k in n})
    return [p for t in tables for p in recover(os.path.join(state_dir, t))]


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a state table, or an empty typed DataFrame if it doesn't exist
    yet (first run bootstrap)."""
    if os.path.exists(path):
        return read_state(spark, path)
    return spark.createDataFrame([], schema)


def commit_scalar(path: str, column: str, value: int | datetime.datetime) -> None:
    """Commit a one-row marker (`column` = `value`, a long or a timestamp)
    on the driver: write a hidden temp file inside `path`, `os.replace`
    it onto `path/part-00000.parquet`, then unlink whatever else the
    directory holds (part files of the Spark-written layout, a crashed
    commit's temp file). A crash at any point leaves the old or the new
    value readable. Timestamps are stored as Spark stores them: INT64
    micros, UTC-adjusted, converted from the datetime exactly as
    `createDataFrame` would."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(value, datetime.datetime):
        arr = pa.array([TimestampType().toInternal(value)], pa.int64()).cast(
            pa.timestamp("us", tz="UTC")
        )
    else:
        arr = pa.array([int(value)], pa.int64())
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{SCALAR_FILE}.tmp-{uuid.uuid4().hex[:8]}")
    pq.write_table(pa.table({column: arr}), tmp)
    _rename(tmp, os.path.join(path, SCALAR_FILE))
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if name != SCALAR_FILE and os.path.isfile(p):
            os.unlink(p)


def read_scalar(path: str, column: str) -> int | datetime.datetime | None:
    """The value of a one-row marker, or None when it was never committed
    (no directory, or one holding no part file: a first commit killed
    before its rename leaves only its hidden temp file). Reads the
    canonical file, else the directory (the Spark-written layout of
    markers committed before `commit_scalar`); a timestamp comes back as
    the naive datetime `collect()` would return."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = [n for n in os.listdir(path) if n.startswith("part-")] if os.path.isdir(path) else []
    if not parts:
        return None
    col = pq.read_table(
        os.path.join(path, SCALAR_FILE) if SCALAR_FILE in parts else path, columns=[column]
    ).column(column)
    if len(col) == 0:
        return None
    if pa.types.is_timestamp(col.type):
        # INT96 markers come back as nanoseconds
        us = col.cast(pa.timestamp("us", col.type.tz), safe=False).cast(pa.int64())
        return TimestampType().fromInternal(us[0].as_py())
    return col[0].as_py()


class Watermark:
    """Single-row watermark marker (reference `lastUpdated`, R25)."""

    EPOCH = datetime.datetime(1970, 1, 1)

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.path = os.path.join(state_dir, "watermark.parquet")

    def read(self) -> datetime.datetime:
        ts = read_scalar(self.path, "lastUpdated")
        return self.EPOCH if ts is None else ts

    def commit(self, ts: datetime.datetime) -> None:
        commit_scalar(self.path, "lastUpdated", ts)


def _publish_parquet_files(stage: str, path: str) -> None:
    """Make a staged write's data files visible in the sink, preserving
    the partition-directory layout. First-ever publish is ONE atomic
    directory rename — there is never a window where the sink exists
    without schema-bearing files (an empty sink dir bricks every later
    read). Subsequent publishes rename files into the existing tree;
    directories are only created when a file is about to land in them
    (a crash can at worst leave an empty partition subdir, which parquet
    partition discovery ignores). Part-file names carry task UUIDs, so
    renames never collide with existing sink files. The stage's schema
    marker lands last, replacing the sink's."""
    if not os.path.exists(path):
        _rename(stage, path)
        return
    for root, _dirs, files in os.walk(stage):
        rel = os.path.relpath(root, stage)
        out = path if rel == "." else os.path.join(path, rel)
        data = [n for n in files if n.startswith(("part-", ".part-"))]
        if not data:
            continue
        os.makedirs(out, exist_ok=True)
        for name in data:
            _rename(os.path.join(root, name), os.path.join(out, name))
    _rename(os.path.join(stage, SCHEMA_MARKER), os.path.join(path, SCHEMA_MARKER))


def _stage_audit_publish(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    audit: dict[str, Column] | None = None,
) -> int:
    """The stage-audit-publish core of both appends: write `df` ONCE to a
    sibling `<path>.stage-*` dir with its row count and the `audit` rules'
    violation counts riding the write as one observation, then rename the
    staged files and the schema marker into the sink only when every rule
    held and the count is non-zero. A violated rule drops the stage,
    leaves the sink untouched and raises AssertionError naming the rule.
    Returns the count.

    The observation is the ROOT of the written plan
    (operators.expectations.observe_rules on the final frame). AQE's
    empty-relation propagation replaces a runtime-empty subtree, with any
    observation inside it, by an empty relation, and reading such an
    observation then fails in a JVM assertion; a root observation always
    resolves, to 0 on an empty batch. So no caller observation may sit
    below the append's anti-join: express a per-row invariant as an
    `audit` rule instead."""
    observed, resolve = observe_rules(df, audit)
    stage = f"{path}.stage-{uuid.uuid4().hex[:8]}"
    try:
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        # the schema a reader sees: partition discovery appends the
        # partition columns after the data columns
        schema = df.schema
        last = partition_by or []
        write_schema_marker(stage, StructType(
            [f for f in schema if f.name not in last] + [schema[c] for c in last]
        ))
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
    recover(path)
    if os.path.exists(path):
        existing = read_state(new.sparkSession, path)
        if fence is not None:
            existing = existing.filter(fence)
        # the USING join moves `key` first; keep the batch's column order,
        # so every file of the sink and its schema marker share one order
        new = new.join(existing.select(key), key, "left_anti").select(*new.columns)
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
    recover(path)
    return _stage_audit_publish(df, path)


def snapshot_overwrite(
    new: DataFrame, path: str, key: str, order_cols: list[str]
) -> None:
    """R9 keep-latest snapshot: old ∪ new → row_number()==1 per key by
    `order_cols` desc → atomic rewrite."""
    spark = new.sparkSession
    recover(path)  # before the read: a swap window leaves `path` absent
    # __src breaks order_cols ties in favor of the INCOMING row: a replay
    # with the same explicit run_ts over changed data must
    # deterministically keep the regenerated stats, not an arbitrary
    # survivor of an exact orderBy tie.
    tagged_new = new.withColumn("__src", F.lit(1))
    if os.path.exists(path):
        old = read_state(spark, path).withColumn("__src", F.lit(0))
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
    atomic_overwrite(latest, path)

