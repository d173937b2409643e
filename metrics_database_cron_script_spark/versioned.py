"""Versioned snapshot table with optimistic concurrency control.

`state.snapshot_overwrite` is correct under the reference's own operating
model — one cron process (updatescript.py runs single-threaded, once a day).
This module is the CONCURRENT-WRITER upgrade the plain directory swap cannot
give: the same protocol Delta Lake / Iceberg use, reduced to its primitive —
immutable versioned data + an atomic exclusive-create commit log that picks
exactly one winner per version.

Layout:

    <path>/_log/<version 20d>.commit   -- marker; its CONTENT is the name of
                                          the winning data dir (legacy empty
                                          markers mean `_v<version 20d>`)
    <path>/_v<version 20d>-<uuid8>/    -- immutable parquet snapshot, staged
                                          under a name UNIQUE to one writer

Protocol (writer):
  1. observe committed version v (max marker);
  2. write the new snapshot to a dir name no other writer can collide with:
     `_v{v+1:020d}-{uuid}`. A crash here leaves an ORPHAN dir — invisible to
     readers (no marker references it), reaped by `vacuum`, and NEVER able to
     wedge later writers (no shared staging slot exists);
  3. atomically publish `_log/{v+1}.commit` whose content names the staged
     dir. Publication is exclusive: the content is written to a private temp
     file which is then `os.link`ed to the marker path — link(2) fails with
     EEXIST if any racer already committed, and succeeds with the full
     content in place (no half-written marker window). Exactly one concurrent
     writer wins; the loser removes ONLY ITS OWN staged dir and raises
     `ConcurrentWriteError` (or retries its whole read-modify-write in
     `merge_keep_latest*`). No writer ever touches a path another writer
     created, so a loser's cleanup cannot delete a winner's data.

The commit marker is created ONLY AFTER its data dir is fully written, so a
marker implies readable data; a data dir without a marker is an aborted
write. link(2)/O_EXCL are atomic on POSIX and HDFS; on S3-class stores the
same slot needs a conditional PUT / DynamoDB mutex — exactly Delta's
deployment matrix. Readers never block writers and vice versa (snapshot
isolation: a reader resolves a version once and reads an immutable
directory).

`merge_keep_latest_partitioned` is the O(delta) upgrade of the keep-latest
MERGE: only partitions present in the batch are rewritten; every untouched
partition of the previous snapshot is carried into the new version by
HARDLINK (byte-identical, no data copy, old-version vacuum safe because the
inodes stay alive through the new version's links). On an object store the
same carry-forward would be a manifest entry instead of a link — the commit
marker already is that manifest's root.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from metrics_database_cron_script_spark.state import (
    read_schema_marker,
    read_state,
    write_schema_marker,
)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer raced for."""


def _can_upcast(spark: SparkSession, from_type, to_type) -> bool:
    """True iff `from_type` → `to_type` is a lossless (widening) cast.

    Delegates to Spark's `Cast.canUpCast` — the planner's own up-cast rule
    (int→long, float→double, decimal widening, anything→string on 4.x) —
    via the JVM DataType json bridge, with a conservative Python fallback
    covering the numeric ladder if the internal class ever moves."""
    try:
        jvm = spark._jvm
        dt = jvm.org.apache.spark.sql.types.DataType
        return bool(
            jvm.org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
                dt.fromJson(from_type.json()), dt.fromJson(to_type.json())
            )
        )
    except Exception:
        # Fallback must be conservative in the REFUSING direction: this
        # gate exists to block lossy casts, so when the JVM probe is
        # unavailable only approve the unambiguous widenings (integral
        # ladder, float→double, identical types). Decimals are NOT ranked
        # as one type — decimal(38,18)→decimal(5,0) is narrowing — so any
        # decimal change is refused here; worst case a legitimate widen
        # errors out, never a silent truncation.
        if from_type == to_type:
            return True
        ladder = ["byte", "short", "int", "bigint"]

        def rank(t) -> int:
            s = t.simpleString()
            return ladder.index(s) if s in ladder else -1

        a, b = rank(from_type), rank(to_type)
        if a >= 0 and b >= 0 and a <= b:
            return True
        return (
            from_type.simpleString() == "float"
            and to_type.simpleString() == "double"
        )


def _link_tree(src: str, dst: str) -> None:
    """Recreate `src`'s tree under `dst` with hardlinks (copy on EXDEV).
    Byte-identity of the carried files is by construction: a hardlink IS the
    same inode."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for name in files:
            s = os.path.join(root, name)
            d = os.path.join(out, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def _hive_partition_cols(data_dir: str) -> list[str]:
    """Partition columns of a hive-layout data dir, outermost first —
    detected from `col=value` directory names; [] for a flat layout."""
    cols: list[str] = []
    cur = data_dir
    while os.path.isdir(cur):
        sub = [
            n
            for n in os.listdir(cur)
            if "=" in n and os.path.isdir(os.path.join(cur, n))
        ]
        if not sub:
            break
        col = sub[0].split("=", 1)[0]
        if not col or any(not n.startswith(f"{col}=") for n in sub):
            break
        cols.append(col)
        cur = os.path.join(cur, sub[0])
    return cols


class VersionedSnapshot:
    """Keep-latest snapshot table with OCC (reference R9 `update_one` upsert,
    updatescript.py:131 — safe under concurrent writers, unlike the
    single-writer `state.snapshot_overwrite`)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, "_log")

    # ------------------------------------------------------------- versions

    def _legacy_data_dir(self, version: int) -> str:
        return os.path.join(self.path, f"_v{version:020d}")

    # kept under the old name for callers/tests that simulate legacy layouts
    _data_dir = _legacy_data_dir

    def _marker(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.commit")

    def _resolve_data_dir(self, version: int) -> str:
        """Data dir a committed marker points at. Empty marker content is the
        pre-unique-staging layout (`_v{version}`)."""
        try:
            with open(self._marker(version)) as f:
                name = f.read().strip()
        except OSError:
            name = ""
        return os.path.join(self.path, name) if name else self._legacy_data_dir(version)

    def version(self) -> int:
        """Latest committed version, or -1 for an empty table. The commit
        markers alone DEFINE the version sequence; a marker whose data dir
        was deleted out-of-band is corruption and surfaces as a read error
        on that version, never as a silent fallback to an older snapshot."""
        return max(self.history(), default=-1)

    def history(self) -> list[int]:
        """All committed versions, ascending — those still readable are the
        ones `vacuum`'s retention window kept."""
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

    # ---------------------------------------------------------------- reads

    def read(self, schema=None, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read — the latest committed version by default,
        or time travel to an explicit `version` (must be committed and not
        vacuumed). An empty typed DataFrame for a never-committed table
        (requires `schema` — a DDL string or a StructType)."""
        if version is not None:
            hist = self.history()
            if version not in hist:
                raise FileNotFoundError(
                    f"versioned table {self.path} has no committed version "
                    f"{version}; history: {hist}"
                )
            if not os.path.isdir(self._resolve_data_dir(version)):
                raise FileNotFoundError(
                    f"versioned table {self.path} version {version} was "
                    "vacuumed (or its data dir was deleted out-of-band)"
                )
            return self._read_version(version)
        v = self.version()
        if v < 0:
            if schema is None:
                raise FileNotFoundError(
                    f"versioned table {self.path} has no committed version "
                    "and no bootstrap schema was given"
                )
            return self.spark.createDataFrame([], schema)
        return self._read_version(v)

    def _read_version(self, version: int) -> DataFrame:
        """Read one committed version in ITS OWN committed schema (the
        reader contract: each version renders the schema it was committed
        with — added columns NULL-padded and widened types promoted over
        any hardlink-carried old-schema files; pre-marker versions keep
        footer inference)."""
        return read_state(self.spark, self._resolve_data_dir(version))

    # --------------------------------------------------------------- writes

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
        """Shared OCC precheck for read-modify-write commits."""
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

    def wap_overwrite(
        self,
        df: DataFrame,
        rules: dict,
        expected_version: int | None = None,
        max_violations: int = 0,
    ) -> tuple[int, dict]:
        """Write-audit-publish (Iceberg's WAP pattern): stage the full
        snapshot write, audit it against declarative expectations, and
        only then publish the commit marker — a batch that fails its
        rules never becomes a readable version. The audit costs ZERO
        extra jobs: the per-rule violation counts ride the staging write
        itself as `df.observe` metrics
        (operators/expectations.observe_rules — null rule results pass,
        SQL-constraint style), so audit-then-publish is one pass over the
        data plus a marker link. On violation the stage dir is removed
        and ExpectationsFailed carries the counts; on an OCC race the
        normal publish loser path applies. Returns (version, metrics)."""
        from metrics_database_cron_script_spark.operators.expectations import (
            ExpectationsFailed,
            observe_rules,
        )

        observed = self.version()
        self._check_expected(observed, expected_version)
        audited, resolve = observe_rules(df, rules)
        target = observed + 1
        data = self._stage_dir(target)
        audited.write.mode("overwrite").parquet(data)
        write_schema_marker(data, audited.schema)
        metrics = resolve()
        violations = sum(v for k, v in metrics.items() if k != "rows")
        if violations > max_violations:
            shutil.rmtree(data, ignore_errors=True)
            raise ExpectationsFailed(
                f"{self.path}: audit failed ({violations} violations > "
                f"{max_violations} allowed) — commit aborted, no version "
                "published",
                metrics,
            )
        self._publish(target, data)
        return target, metrics

    def restore(
        self, version: int, expected_version: int | None = None
    ) -> int:
        """RESTORE (Delta's `RESTORE TABLE ... TO VERSION`): re-commit an
        older version's content as the NEW head — rollback that preserves
        history (the bad versions stay time-travelable until vacuum) and
        goes through the same OCC publish as every other commit. Zero
        data copy: the new version's files are hardlinks of the restored
        version's (`_link_tree` — the same inode carry-forward the
        partitioned MERGE uses), so restore costs O(files), not O(bytes),
        and vacuum stays safe because removal only unlinks names."""
        observed = self.version()
        self._check_expected(observed, expected_version)
        if version not in self.history():
            raise FileNotFoundError(
                f"{self.path}: no committed version {version}"
            )
        src = self._resolve_data_dir(version)
        if not os.path.isdir(src):
            raise FileNotFoundError(
                f"{self.path}: version {version} was vacuumed — "
                "its data is gone"
            )
        target = observed + 1
        data = self._stage_dir(target)
        _link_tree(src, data)
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

        Tie semantics match the Delta MERGE wrapper exactly: the batch row
        replaces the stored row only when its order tuple is STRICTLY
        greater — on equal tuples the stored row wins, deterministically
        (the window tiebreaks on a stored-first origin flag, not on
        whichever row the shuffle happened to order first). Ties WITHIN one
        batch remain unspecified on both backends unless order tuples are
        unique per key.

        Rewrites the WHOLE snapshot per commit — right for small dimension /
        stats tables (the reference's case). For a large fact table use
        `merge_keep_latest_partitioned`, which rewrites only the partitions
        the batch touches."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            v = self.version()
            base = (
                self.read()
                if v >= 0
                else self.spark.createDataFrame([], new.schema)
            )
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
            # materialize BEFORE commit: the plan reads version v's files,
            # which stay immutable — but localCheckpoint also keeps the
            # write cost out of the race window
            staged = latest.localCheckpoint(eager=True)
            try:
                return self.overwrite(staged, expected_version=v)
            except ConcurrentWriteError as e:
                last_err = e
                continue
        raise last_err  # type: ignore[misc]

    def merge_keep_latest_partitioned(
        self,
        new: DataFrame,
        key: str,
        order_cols: list[str],
        partition_col: str,
        max_retries: int = 5,
        derive=None,
    ) -> int:
        """Partition-pruned keep-latest MERGE: O(partitions touched by the
        batch), not O(table). The snapshot is stored partitioned by
        `partition_col`; only partitions with batch rows are re-deduped and
        rewritten, every other partition of the previous version is carried
        forward by hardlink — byte-identical, no data read or copied.

        REQUIRES `key` → `partition_col` to be a functional dependency (a
        key never moves between partitions — e.g. key=(user_id, day),
        partition_col=day), the same contract as Delta's replaceWhere-style
        MERGE. If a key did move, its old-partition row would survive
        untouched.

        OCC semantics are identical to `merge_keep_latest`: conditional
        commit on the version observed at read time, full re-read + retry on
        a lost race."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        prefix = f"{partition_col}="
        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            v = self.version()
            target_stage = self._stage_dir(v + 1)
            old_dir = self._resolve_data_dir(v) if v >= 0 else None
            old_partitioned = old_dir is not None and any(
                n.startswith(prefix) for n in os.listdir(old_dir)
            )
            if v >= 0:
                base = self.read()
                # Partition-TYPE evolution (e.g. committed double 'day=2.0'
                # dirs, int batch): old dir names render values under the
                # old type, so neither name-matched carry-forward nor the
                # committed-schema read (which parses dir values in the NEW
                # type) can use them. This commit falls back to a FULL
                # rewrite under the new type — Delta's behavior for a
                # partition-schema change — and subsequent commits prune
                # again.
                drift = (
                    old_partitioned
                    and partition_col in base.columns
                    and base.schema[partition_col].dataType
                    != new.schema[partition_col].dataType
                )
                if old_partitioned and not drift:
                    # prune the base scan to touched partitions only —
                    # partition_col is directory-encoded, so this filter is
                    # partition pruning at the source, not a full scan
                    # (filter BEFORE the type re-align cast below, or the
                    # cast expression would defeat pruning). NULL partition
                    # values need the explicit isNull branch: isin() with a
                    # None element evaluates NULL and would silently DROP
                    # every previously-committed null-partition row while
                    # the batch recreates that directory — a lost-update.
                    touched = [
                        r[0]
                        for r in new.select(partition_col).distinct().collect()
                    ]
                    non_null = [t for t in touched if t is not None]
                    cond = (
                        F.col(partition_col).isin(non_null)
                        if non_null
                        else F.lit(False)
                    )
                    if len(non_null) != len(touched):
                        cond = cond | F.col(partition_col).isNull()
                    base = base.filter(cond)
                if partition_col not in base.columns:
                    # unpartitioned previous version that never carried the
                    # column (e.g. upgrading a plain snapshot to a derived
                    # hash-bucket layout): silently unioning would park every
                    # surviving base row in the NULL partition — permanently
                    # violating the key→partition dependency. Require the
                    # caller's derivation instead.
                    if derive is None:
                        raise ValueError(
                            f"{self.path}: previous version has no "
                            f"{partition_col!r} column; pass `derive=` (the "
                            "expression that computes it from each row) to "
                            "upgrade an unpartitioned snapshot"
                        )
                    base = base.withColumn(partition_col, derive)
                # partition directories round-trip through Spark's partition
                # type inference (day=2024-01-01 comes back as DATE);
                # re-align to the batch's declared type so unionByName
                # stays exact
                base = base.withColumn(
                    partition_col,
                    F.col(partition_col).cast(
                        new.schema[partition_col].dataType
                    ),
                )
                # else: previous version predates partitioning — fall back to
                # a full rewrite this once; subsequent commits are pruned
                # stored-first origin flag: equal order tuples keep the
                # STORED row deterministically (same tie rule as
                # merge_keep_latest and the Delta MERGE wrapper)
                merged = base.withColumn("__src", F.lit(0)).unionByName(
                    new.withColumn("__src", F.lit(1)),
                    allowMissingColumns=True,
                )
            else:
                merged = new.withColumn("__src", F.lit(1))
            w = Window.partitionBy(key).orderBy(
                *[F.col(c).desc() for c in order_cols], F.col("__src").asc()
            )
            latest = (
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src")
            )
            latest.write.mode("overwrite").partitionBy(partition_col).parquet(
                target_stage
            )
            # the committed schema is the MERGED one (batch ∪ base, with
            # the partition col where the hive write layout puts it on
            # read-back: last); carried-forward old-schema partitions are
            # NULL-padded/widened through this marker at read time
            write_schema_marker(
                target_stage,
                latest.select(
                    *[c for c in latest.columns if c != partition_col],
                    partition_col,
                ).schema,
            )
            if old_partitioned and not drift:
                # carry forward: any old partition dir Spark did NOT rewrite
                # (i.e. absent from the stage) is linked over unchanged.
                # Touched partitions always appear in the stage because
                # keep-latest never produces an empty touched partition, and
                # (same partition type — drift took the full-rewrite path)
                # their staged dir names render identically to the old ones.
                for name in os.listdir(old_dir):
                    if not name.startswith(prefix):
                        continue
                    dst = os.path.join(target_stage, name)
                    if not os.path.exists(dst):
                        _link_tree(os.path.join(old_dir, name), dst)
            try:
                self._publish(v + 1, target_stage)
                return v + 1
            except ConcurrentWriteError as e:
                last_err = e
                continue
        raise last_err  # type: ignore[misc]

    # ----------------------------------------------------------- maintenance

    def compact_partitions(
        self,
        partition_col: str,
        partitions: list | None = None,
        max_retries: int = 5,
    ) -> int:
        """Small-file compaction as a NORMAL versioned commit: rewrite the
        selected partitions (default: all with more than one data file)
        each into a single file via coalesce(1)-per-partition, carry every
        other partition forward by hardlink, publish under OCC. Readers
        never see a half-compacted table (snapshot isolation), a racing
        writer costs a retry exactly like any other commit, and time travel
        to pre-compaction versions keeps working until `vacuum` reaps them.
        Row content is untouched — only the file layout changes. Returns
        the committed version."""
        prefix = f"{partition_col}="
        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            v = self.version()
            if v < 0:
                raise FileNotFoundError(f"{self.path}: nothing to compact")
            old_dir = self._resolve_data_dir(v)
            part_dirs = [n for n in os.listdir(old_dir) if n.startswith(prefix)]
            if not part_dirs:
                raise ValueError(
                    f"{self.path}: version {v} is not partitioned by "
                    f"{partition_col!r}"
                )
            if partitions is not None:
                wanted = {f"{partition_col}={p}" for p in partitions}
                targets = [n for n in part_dirs if n in wanted]
            else:
                targets = [
                    n
                    for n in part_dirs
                    if sum(
                        f.endswith(".parquet")
                        for f in os.listdir(os.path.join(old_dir, n))
                    )
                    > 1
                ]
            stage = self._stage_dir(v + 1)
            os.makedirs(stage, exist_ok=True)
            old_schema = read_schema_marker(old_dir)
            if old_schema is not None:
                write_schema_marker(stage, old_schema)
            for name in part_dirs:
                if name in targets:
                    # per-partition single-file rewrite: the read is pruned
                    # to one directory, the write is one task
                    self.spark.read.parquet(
                        os.path.join(old_dir, name)
                    ).coalesce(1).write.mode("overwrite").parquet(
                        os.path.join(stage, name)
                    )
                else:
                    _link_tree(
                        os.path.join(old_dir, name), os.path.join(stage, name)
                    )
            try:
                self._publish(v + 1, stage)
                return v + 1
            except ConcurrentWriteError as e:
                last_err = e
                continue
        raise last_err  # type: ignore[misc]

    def optimize(
        self,
        cluster_cols: list[str],
        n_files: int = 8,
        zorder: bool = False,
        max_retries: int = 5,
    ) -> int:
        """OPTIMIZE [ZORDER BY]: rewrite the current snapshot through
        `operators.layout.clustered_write` as a NORMAL versioned commit —
        rows untouched, file layout re-clustered so parquet min/max
        envelopes become prunable along `cluster_cols` (every clustered
        column at once with `zorder=True`). Same OCC semantics as every
        other commit: readers keep snapshot isolation, a racing writer
        costs a retry, pre-optimize versions stay time-travelable until
        vacuumed. This is Delta's OPTIMIZE ZORDER reduced to the same
        primitives as the rest of this module."""
        from metrics_database_cron_script_spark.operators.layout import (
            clustered_write,
        )

        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            v = self.version()
            if v < 0:
                raise FileNotFoundError(f"{self.path}: nothing to optimize")
            stage = self._stage_dir(v + 1)
            # preserve the head's hive partition layout — flattening it
            # would break compact_partitions / partition-pruned MERGE /
            # changes() pruning on the post-optimize table
            part_cols = _hive_partition_cols(self._resolve_data_dir(v))
            src = self.read()
            clustered_write(
                src,
                stage,
                cluster_cols,
                n_files=n_files,
                zorder=zorder,
                partition_cols=part_cols or None,
            )
            if part_cols:
                # clustered hive layout reads the partition cols back last
                src = src.select(
                    *[c for c in src.columns if c not in part_cols],
                    *part_cols,
                )
            write_schema_marker(stage, src.schema)
            try:
                self._publish(v + 1, stage)
                return v + 1
            except ConcurrentWriteError as e:
                last_err = e
                continue
        raise last_err  # type: ignore[misc]

    def _partition_file_map(self, data_dir: str) -> dict[str, set]:
        """{partition dirname ('' when unpartitioned): {(file, inode, size)}}
        over the version's parquet files. Inode equality is the hardlink
        carry-forward signature: a partition whose (file, inode, size) set
        is identical across two versions is byte-identical BY CONSTRUCTION
        (merge_keep_latest_partitioned / compact_partitions link untouched
        partitions instead of rewriting them), so the diff can skip it
        without reading a byte."""
        out: dict[str, set] = {}
        for root, _dirs, files in os.walk(data_dir):
            rel = os.path.relpath(root, data_dir)
            part = "" if rel == "." else rel
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(root, f))
                out.setdefault(part, set()).add((f, st.st_ino, st.st_size))
        return out

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two committed versions (Delta CDF's
        read surface, derived by snapshot diff — this table versions whole
        snapshots, not row-level deltas, so the feed is computed, not
        stored).

        Without `keys`: multiset row diff — rows only in `to_version` come
        back `_change_type='insert'`, rows only in `from_version`
        `'delete'` (exceptAll both ways: one full-row shuffle over the
        partitions that actually differ).

        With `keys` (unique per snapshot — the keep-latest contract):
        key-classified feed with Delta's vocabulary — `insert`, `delete`,
        and changed keys emitting BOTH `update_preimage` (old values) and
        `update_postimage` (new values). One full-outer key join +
        array/explode, same single-pass shape as the SCD2 merge.

        Scale: partitions whose (file, inode, size) sets match across the
        two versions are pruned BEFORE any read — after a partition-pruned
        MERGE the diff reads only the partitions that commit touched, so
        CDF cost is O(delta-touched partitions), not O(table)."""
        from pyspark.sql import functions as F

        v2 = self.version() if to_version is None else to_version
        hist = self.history()
        for v in (from_version, v2):
            if v not in hist:
                raise FileNotFoundError(
                    f"versioned table {self.path} has no committed version "
                    f"{v}; history: {hist}"
                )
            if not os.path.isdir(self._resolve_data_dir(v)):
                raise FileNotFoundError(
                    f"versioned table {self.path} version {v} was vacuumed "
                    "(or its data dir was deleted out-of-band)"
                )
        d_old = self._resolve_data_dir(from_version)
        d_new = self._resolve_data_dir(v2)
        m_old = self._partition_file_map(d_old)
        m_new = self._partition_file_map(d_new)
        changed = sorted(
            p
            for p in set(m_old) | set(m_new)
            if m_old.get(p) != m_new.get(p)
        )

        def _side(data_dir: str, fmap: dict[str, set]) -> DataFrame | None:
            sel = [p for p in changed if p in fmap]
            if not sel:
                return None  # nothing differing on this side
            # each side reads in ITS committed schema: the selected dirs
            # can mix file schemas (a carried-forward partition rewritten
            # under an older schema), and footer inference would pick one
            # file's layout at random — the marker NULL-pads/widens instead
            committed = read_schema_marker(data_dir)
            reader = self.spark.read
            if committed is not None:
                reader = reader.schema(committed)
            if sel == [""]:
                return reader.parquet(data_dir)
            return reader.option("basePath", data_dir).parquet(
                *[os.path.join(data_dir, p) for p in sel]
            )

        old = _side(d_old, m_old)
        new = _side(d_new, m_new)
        if old is None and new is None:
            # identical snapshots (or from == to): empty feed, stable schema
            schema = read_state(self.spark, d_new).schema
            empty = self.spark.createDataFrame([], schema)
            old = new = empty
        elif old is None:
            old = self.spark.createDataFrame([], new.schema)
        elif new is None:
            new = self.spark.createDataFrame([], old.schema)

        # Schema evolution across the diffed boundary: merges legitimately
        # add columns (unionByName allowMissingColumns, partitioned
        # derive= upgrades), widen a column's type, and a partition column
        # reads back in a different position. Align both sides to the
        # union of columns — missing ones null-filled, shared columns cast
        # to the NEW version's type (the current reader contract, Delta's
        # read-old-versions-in-current-schema behavior) — so the feed
        # reports an added column as null→value updates and survives an
        # int→long widen instead of crashing on positional exceptAll /
        # mismatched-type eqNullSafe.
        types = {f.name: f.dataType for f in old.schema.fields}
        types.update({f.name: f.dataType for f in new.schema.fields})
        # The old→new casts must be LOSSLESS (widening): a long→int or
        # string→int "alignment" would silently truncate or nullify
        # old-side values in the CDF output. Gate on Spark's own up-cast
        # rule (Cast.canUpCast — the same predicate Dataset.as uses) and
        # surface narrowing as an error instead of corrupt diffs.
        narrowing = [
            (f.name, f.dataType, types[f.name])
            for f in old.schema.fields
            if f.dataType != types[f.name]
            and not _can_upcast(self.spark, f.dataType, types[f.name])
        ]
        if narrowing:
            detail = ", ".join(
                f"{n}: {a.simpleString()} -> {b.simpleString()}"
                for n, a, b in narrowing
            )
            raise ValueError(
                "changes(): schema evolution across the diffed versions "
                f"narrows column types ({detail}); refusing to cast the old "
                "side lossily. Diff adjacent versions that share a lossless "
                "type lineage, or read both sides explicitly."
            )
        if old.columns != new.columns or any(
            f.dataType != types[f.name] for f in old.schema.fields
        ):
            all_cols = list(new.columns) + [
                c for c in old.columns if c not in set(new.columns)
            ]

            def _align(df: DataFrame) -> DataFrame:
                have = {f.name: f.dataType for f in df.schema.fields}
                return df.select(
                    *[
                        (
                            F.col(c).cast(types[c]).alias(c)
                            if have[c] != types[c]
                            else F.col(c)
                        )
                        if c in have
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in all_cols
                    ]
                )

            old, new = _align(old), _align(new)

        if keys is None:
            ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
            del_ = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
            return ins.unionByName(del_)

        vals = [c for c in new.columns if c not in keys]
        o = old.select(
            *keys, F.struct(*[F.col(c).alias(c) for c in vals]).alias("__o")
        )
        n = new.select(
            *keys, F.struct(*[F.col(c).alias(c) for c in vals]).alias("__n")
        )
        j = o.join(n, on=list(keys), how="full_outer")
        has_o = F.col("__o").isNotNull()
        has_n = F.col("__n").isNotNull()
        updated = has_o & has_n & ~F.col("__o").eqNullSafe(F.col("__n"))

        def _tagged(row_col: str, tag: str):
            return F.struct(
                F.col(row_col).alias("row"), F.lit(tag).alias("_change_type")
            )

        emitted = F.array_compact(
            F.array(
                F.when(has_o & ~has_n, _tagged("__o", "delete")),
                F.when(~has_o & has_n, _tagged("__n", "insert")),
                F.when(updated, _tagged("__o", "update_preimage")),
                F.when(updated, _tagged("__n", "update_postimage")),
            )
        )
        return (
            j.select(*keys, F.explode(emitted).alias("__c"))
            .select(*keys, "__c.row.*", "__c._change_type")
        )

    def vacuum(self, keep: int = 2) -> list[str]:
        """Drop data dirs of superseded versions (keeping the latest `keep`)
        and ORPHAN data dirs (staged by crashed/defeated writers — no commit
        marker references them). Returns the removed paths. Hardlink
        carry-forward makes this safe for retained versions: removing a
        superseded version's dir only unlinks ITS names; inodes shared with
        a retained version survive. Like Delta's VACUUM, a reader pinned to
        an ancient version can lose it — `keep` is the retention window.
        Orphan reaping assumes no writer is mid-stage while vacuum runs (run
        it from the same maintenance schedule as compaction)."""
        current = self.version()
        removed = []
        if not os.path.isdir(self.path):
            return removed
        retained = {
            os.path.basename(self._resolve_data_dir(v))
            for v in self.history()
            if v > current - keep
        }
        for name in os.listdir(self.path):
            if not name.startswith("_v"):
                continue
            if name in retained:
                continue
            p = os.path.join(self.path, name)
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
        return removed
