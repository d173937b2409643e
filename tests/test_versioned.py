"""Optimistic-concurrency snapshot table (versioned.py): commit protocol,
conflict detection, retry convergence, crash orphans, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.versioned import (
    ConcurrentWriteError,
    VersionedSnapshot,
)

SCHEMA = "user_id long, ts timestamp, value double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted((r["user_id"], str(r["ts"]), r["value"]) for r in df.collect())


def test_versions_bump_and_read_latest(spark, tmp_path):
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    assert t.version() == -1
    assert t.read(SCHEMA).count() == 0  # bootstrap

    v1 = t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 10.0)]))
    assert v1 == 0 and t.version() == 0
    v2 = t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 2), 20.0)]))
    assert v2 == 1
    assert _rows(t.read()) == [(1, "2024-01-02 00:00:00", 20.0)]


def test_stale_expected_version_raises(spark, tmp_path):
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    base = t.version()  # -1
    t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]))  # someone commits
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(_df(spark, [(2, dt.datetime(2024, 1, 1), 2.0)]), expected_version=base)
    # unconditional commit still works and the loser's data did not land
    assert t.read().count() == 1


def test_lost_race_full_staging_does_not_clobber_winner(spark, tmp_path):
    """The FULL race, data staging included: both writers observed v and both
    stage real data; writer A commits (stage + marker) while B is between its
    stage write and its marker attempt. B must lose, B's cleanup must remove
    ONLY B's own staged dir, and A's committed data must remain readable —
    the scenario a shared `_v{v+1}` staging slot corrupts (loser's rmtree
    deleting the winner's committed dir)."""
    import datetime as dt

    path = str(tmp_path / "snap")
    t = VersionedSnapshot(spark, path)
    t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]))  # v0
    v = t.version()

    class Racer(VersionedSnapshot):
        """Writer A performs its ENTIRE commit right before B's publish."""

        def _publish(self, version, data_dir):
            if version == v + 1 and not os.path.exists(self._marker(version)):
                VersionedSnapshot(self.spark, self.path).overwrite(
                    _df(self.spark, [(5, dt.datetime(2024, 3, 1), 5.0)])
                )
            return super()._publish(version, data_dir)

    b = Racer(spark, path)
    with pytest.raises(ConcurrentWriteError):
        b.overwrite(_df(spark, [(9, dt.datetime(2024, 2, 1), 9.0)]), expected_version=v)
    # the winner's commit survived B's loss-cleanup intact and readable
    assert t.version() == v + 1
    assert _rows(t.read()) == [(5, "2024-03-01 00:00:00", 5.0)]
    # B's own staged dir is gone: the only _v dirs left are marker-referenced
    referenced = {os.path.basename(t._resolve_data_dir(k)) for k in t.history()}
    staged = {n for n in os.listdir(path) if n.startswith("_v")}
    assert staged == referenced


def test_crashed_stage_never_wedges_later_writers(spark, tmp_path):
    """A crashed writer's orphan staged dir (data written, no marker) must
    not block subsequent commits: unique staging means the next writer
    succeeds on its FIRST attempt, no retry or manual vacuum needed."""
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]))  # v0
    # crashed writer: staged data for v1 under its unique dir, never marked
    orphan = t._stage_dir(1)
    _df(spark, [(7, dt.datetime(2024, 9, 9), 7.0)]).write.parquet(orphan)

    v = t.overwrite(
        _df(spark, [(2, dt.datetime(2024, 1, 2), 2.0)]), expected_version=0
    )
    assert v == 1
    assert _rows(t.read()) == [(2, "2024-01-02 00:00:00", 2.0)]
    assert os.path.isdir(orphan)  # untouched until vacuum
    assert orphan in t.vacuum(keep=2)


def test_legacy_empty_marker_layout_still_readable(spark, tmp_path):
    """Tables committed by the pre-unique-staging layout (empty marker,
    data at `_v{version}`) keep working: read, version, and the next commit
    continuing the sequence."""
    import datetime as dt

    path = str(tmp_path / "snap")
    t = VersionedSnapshot(spark, path)
    # construct the legacy layout by hand
    _df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]).write.parquet(
        t._legacy_data_dir(0)
    )
    os.makedirs(t.log_dir, exist_ok=True)
    with open(t._marker(0), "x"):
        pass  # legacy zero-byte marker
    assert t.version() == 0
    assert _rows(t.read()) == [(1, "2024-01-01 00:00:00", 1.0)]
    v = t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 2), 2.0)]))
    assert v == 1
    assert _rows(t.read()) == [(1, "2024-01-02 00:00:00", 2.0)]


def test_merge_keep_latest_retries_and_loses_no_update(spark, tmp_path):
    """Writer B's read-modify-write races a sneaky writer A committing midway:
    B must retry on the conflict and the final snapshot must contain BOTH
    updates (no lost update — the failure mode plain snapshot_overwrite has
    under concurrency)."""
    import datetime as dt

    path = str(tmp_path / "snap")
    t = VersionedSnapshot(spark, path)
    t.merge_keep_latest(
        _df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]), key="user_id", order_cols=["ts"]
    )

    fired = {"done": False}

    class SneakyRace(VersionedSnapshot):
        """First overwrite attempt is preempted by writer A committing user 2."""

        def overwrite(self, df, expected_version=None):
            if not fired["done"]:
                fired["done"] = True
                VersionedSnapshot(self.spark, self.path).merge_keep_latest(
                    _df(self.spark, [(2, dt.datetime(2024, 1, 5), 5.0)]),
                    key="user_id",
                    order_cols=["ts"],
                )
            return super().overwrite(df, expected_version)

    b = SneakyRace(spark, path)
    b.merge_keep_latest(
        _df(spark, [(1, dt.datetime(2024, 1, 3), 3.0)]), key="user_id", order_cols=["ts"]
    )
    assert fired["done"]
    assert _rows(t.read()) == [
        (1, "2024-01-03 00:00:00", 3.0),  # B's update survived the retry
        (2, "2024-01-05 00:00:00", 5.0),  # A's interleaved update not lost
    ]


def test_orphan_stage_invisible_and_vacuumed(spark, tmp_path):
    """A crash between data write and marker create leaves an orphan dir:
    readers must not see it; vacuum must reap it (and superseded versions)."""
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    for day, val in [(1, 1.0), (2, 2.0), (3, 3.0)]:
        t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, day), val)]))
    # simulate a crashed writer: staged data for v3, no marker
    _df(spark, [(7, dt.datetime(2024, 9, 9), 7.0)]).write.parquet(t._data_dir(3))
    assert t.version() == 2
    assert _rows(t.read()) == [(1, "2024-01-03 00:00:00", 3.0)]

    removed = t.vacuum(keep=1)
    assert t._data_dir(3) in removed  # orphan reaped
    assert t._resolve_data_dir(0) in removed  # superseded
    assert t._resolve_data_dir(1) in removed
    assert os.path.isdir(t._resolve_data_dir(2))  # current retained
    assert _rows(t.read()) == [(1, "2024-01-03 00:00:00", 3.0)]

    # next commit after vacuum continues the version sequence
    v = t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 9), 9.0)]))
    assert v == 3 and t.version() == 3


def test_time_travel_and_history(spark, tmp_path):
    """read(version=k) returns the exact historical snapshot while it is
    retained; vacuumed versions raise instead of silently redirecting."""
    import datetime as dt



    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    for day, val in [(1, 1.0), (2, 2.0), (3, 3.0)]:
        t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, day), val)]))
    assert t.history() == [0, 1, 2]

    assert _rows(t.read(version=0)) == [(1, "2024-01-01 00:00:00", 1.0)]
    assert _rows(t.read(version=1)) == [(1, "2024-01-02 00:00:00", 2.0)]
    assert _rows(t.read()) == [(1, "2024-01-03 00:00:00", 3.0)]

    with pytest.raises(FileNotFoundError, match="no committed version 9"):
        t.read(version=9)

    t.vacuum(keep=1)
    assert t.history() == [0, 1, 2]  # the log is permanent; data dirs are not
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(version=0)
    assert _rows(t.read(version=2)) == [(1, "2024-01-03 00:00:00", 3.0)]


# ---------------------------------------------------------------------------
# partition-pruned MERGE


PSCHEMA = "user_id long, day string, value double"


def _pdf(spark, rows):
    return spark.createDataFrame(rows, PSCHEMA)


def _prows(df):
    # str() the partition column: Spark's partition inference reads
    # day=2024-01-01 back as a DATE, which stringifies to the same literal
    return sorted((r["user_id"], str(r["day"]), r["value"]) for r in df.collect())


def _part_files(data_dir, part_name):
    """{relative file path: (inode, size)} for one partition subdir."""
    out = {}
    root = os.path.join(data_dir, part_name)
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def test_partitioned_merge_prunes_and_carries_byte_identical(spark, tmp_path):
    """A batch touching one partition must rewrite ONLY that partition: the
    untouched partitions of the new version are the previous version's files
    carried by hardlink — same inodes, hence byte-identical by construction —
    and the merged result is still exact keep-latest."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    base = [
        (1, "2024-01-01", 1.0),
        (2, "2024-01-02", 2.0),
        (3, "2024-01-03", 3.0),
    ]
    v0 = t.merge_keep_latest_partitioned(
        _pdf(spark, base), key="user_id", order_cols=["value"], partition_col="day"
    )
    assert v0 == 0

    batch = [(2, "2024-01-02", 20.0), (4, "2024-01-02", 4.0)]
    v1 = t.merge_keep_latest_partitioned(
        _pdf(spark, batch), key="user_id", order_cols=["value"], partition_col="day"
    )
    assert v1 == 1
    assert _prows(t.read()) == [
        (1, "2024-01-01", 1.0),
        (2, "2024-01-02", 20.0),  # keep-latest replaced
        (3, "2024-01-03", 3.0),
        (4, "2024-01-02", 4.0),  # new key in touched partition
    ]
    # time travel still sees the pre-merge snapshot
    assert _prows(t.read(version=0)) == sorted(base)

    d0, d1 = t._resolve_data_dir(0), t._resolve_data_dir(1)
    for untouched in ("day=2024-01-01", "day=2024-01-03"):
        f0, f1 = _part_files(d0, untouched), _part_files(d1, untouched)
        assert f0 == f1 and f0  # same names, same inodes => byte-identical
    # the touched partition was genuinely rewritten (no shared inodes)
    t0 = {ino for ino, _ in _part_files(d0, "day=2024-01-02").values()}
    t1 = {ino for ino, _ in _part_files(d1, "day=2024-01-02").values()}
    assert not (t0 & t1)

    # vacuuming the old version must not damage the carried partitions
    t.vacuum(keep=1)
    assert _prows(t.read()) == [
        (1, "2024-01-01", 1.0),
        (2, "2024-01-02", 20.0),
        (3, "2024-01-03", 3.0),
        (4, "2024-01-02", 4.0),
    ]


def test_partitioned_merge_occ_concurrent_writer(spark, tmp_path):
    """A racer committing mid-merge must cost the loser a retry, not an
    update: both writers' rows appear in the final snapshot."""
    path = str(tmp_path / "snap")
    t = VersionedSnapshot(spark, path)
    t.merge_keep_latest_partitioned(
        _pdf(spark, [(1, "2024-01-01", 1.0)]),
        key="user_id", order_cols=["value"], partition_col="day",
    )

    fired = {"done": False}

    class SneakyRace(VersionedSnapshot):
        def _publish(self, version, data_dir):
            if not fired["done"]:
                fired["done"] = True
                VersionedSnapshot(self.spark, self.path).merge_keep_latest_partitioned(
                    _pdf(self.spark, [(2, "2024-01-02", 2.0)]),
                    key="user_id", order_cols=["value"], partition_col="day",
                )
            return super()._publish(version, data_dir)

    b = SneakyRace(spark, path)
    b.merge_keep_latest_partitioned(
        _pdf(spark, [(1, "2024-01-01", 10.0)]),
        key="user_id", order_cols=["value"], partition_col="day",
    )
    assert fired["done"]
    assert _prows(t.read()) == [
        (1, "2024-01-01", 10.0),  # loser retried, update kept
        (2, "2024-01-02", 2.0),  # racer's interleaved commit not lost
    ]


def test_partitioned_merge_keeps_null_partition_rows(spark, tmp_path):
    """NULL partition values must survive a later batch that also carries a
    NULL-partition row: isin([None]) evaluates NULL and would silently drop
    every previously-committed null-partition row (found in round-4
    review)."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.merge_keep_latest_partitioned(
        _pdf(spark, [(1, None, 1.0), (2, "2024-01-02", 2.0)]),
        key="user_id", order_cols=["value"], partition_col="day",
    )
    t.merge_keep_latest_partitioned(
        _pdf(spark, [(3, None, 3.0)]),  # touches ONLY the null partition
        key="user_id", order_cols=["value"], partition_col="day",
    )
    assert _prows(t.read()) == [
        (1, "None", 1.0),  # earlier null-partition row NOT lost
        (2, "2024-01-02", 2.0),
        (3, "None", 3.0),
    ]


def test_partitioned_merge_requires_derive_for_columnless_base(spark, tmp_path):
    """Upgrading a snapshot whose schema never had the partition column:
    without `derive` the merge must refuse loudly (silently unioning would
    park every old row in the NULL partition); with `derive` the old rows
    get their computed partition and nothing is lost."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "user_id long, value double")
    )
    batch = spark.createDataFrame(
        [(3, 30.0)], "user_id long, value double"
    ).withColumn("bucket", F.pmod(F.col("user_id"), F.lit(2)))
    with pytest.raises(ValueError, match="derive"):
        t.merge_keep_latest_partitioned(
            batch, key="user_id", order_cols=["value"], partition_col="bucket"
        )
    t.merge_keep_latest_partitioned(
        batch, key="user_id", order_cols=["value"], partition_col="bucket",
        derive=F.pmod(F.col("user_id"), F.lit(2)),
    )
    got = sorted(
        (r["user_id"], r["value"], int(r["bucket"])) for r in t.read().collect()
    )
    assert got == [(1, 10.0, 1), (2, 20.0, 0), (3, 30.0, 1)]


def test_compact_partitions_is_a_versioned_commit(spark, tmp_path):
    """Compaction must reduce file counts in multi-file partitions, carry
    single-file partitions by hardlink, change NO row, and commit as a new
    version (old version still time-travelable)."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    # build a snapshot where day=2024-01-01 has several small files: the
    # dedupe window hashes users across shuffle tasks and each task writes
    # its own file into the day directory — pin 4 non-adaptive shuffle
    # partitions for the setup merge so the fragmentation is deterministic
    many = spark.createDataFrame(
        [(i, "2024-01-01", float(i)) for i in range(20)], PSCHEMA
    )
    old_conf = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        t.merge_keep_latest_partitioned(
            many, key="user_id", order_cols=["value"], partition_col="day"
        )
        t.merge_keep_latest_partitioned(
            _pdf(spark, [(100, "2024-01-02", 1.0)]),
            key="user_id", order_cols=["value"], partition_col="day",
        )
    finally:
        for k, v in old_conf.items():
            spark.conf.set(k, v)
    v_before = t.version()
    before_rows = _prows(t.read())
    d_before = t._resolve_data_dir(v_before)

    def n_files(d, part):
        return sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(d, part))
        )

    assert n_files(d_before, "day=2024-01-01") > 1

    v_after = t.compact_partitions("day")
    assert v_after == v_before + 1
    d_after = t._resolve_data_dir(v_after)
    assert n_files(d_after, "day=2024-01-01") == 1  # compacted
    # single-file partition carried by hardlink (same inodes)
    assert _part_files(d_before, "day=2024-01-02") == _part_files(
        d_after, "day=2024-01-02"
    )
    assert _prows(t.read()) == before_rows  # content untouched
    assert _prows(t.read(version=v_before)) == before_rows  # time travel


def test_optimize_zorder_is_a_versioned_commit(spark, tmp_path):
    """OPTIMIZE ZORDER: same rows, new version, prunable file envelopes on
    both cluster columns; the pre-optimize version stays time-travelable."""
    from metrics_database_cron_script_spark.operators.layout import (
        pruning_fraction,
    )

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    rows = [(i, f"2024-01-{(i % 9) + 1:02d}", float((i * 37) % 1000)) for i in range(4000)]
    t.overwrite(spark.createDataFrame(rows, PSCHEMA))
    before = _prows(t.read())
    v0 = t.version()

    v1 = t.optimize(["value", "user_id"], n_files=16, zorder=True)
    assert v1 == v0 + 1
    assert _prows(t.read()) == before  # content untouched
    assert _prows(t.read(version=v0)) == before  # time travel intact

    d = t._resolve_data_dir(v1)
    v_lo, v_hi = 400.0, 450.0
    assert pruning_fraction(d, "value", v_lo, v_hi) >= 0.25
    assert pruning_fraction(d, "user_id", 1000, 1200) >= 0.25
    # the un-optimized version's layout prunes nothing (arrival order)
    assert pruning_fraction(t._resolve_data_dir(v0), "value", v_lo, v_hi) == 0.0


def test_partitioned_merge_upgrades_unpartitioned_base(spark, tmp_path):
    """First partitioned merge over a snapshot written unpartitioned (plain
    `overwrite`) falls back to one full rewrite — nothing is dropped — and
    subsequent merges prune."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(_pdf(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)]))
    t.merge_keep_latest_partitioned(
        _pdf(spark, [(3, "2024-01-03", 3.0)]),
        key="user_id", order_cols=["value"], partition_col="day",
    )
    assert _prows(t.read()) == [
        (1, "2024-01-01", 1.0),
        (2, "2024-01-02", 2.0),
        (3, "2024-01-03", 3.0),
    ]
    # now partition-encoded: next merge carries untouched days by hardlink
    d1 = t._resolve_data_dir(t.version())
    t.merge_keep_latest_partitioned(
        _pdf(spark, [(1, "2024-01-01", 11.0)]),
        key="user_id", order_cols=["value"], partition_col="day",
    )
    d2 = t._resolve_data_dir(t.version())
    assert _part_files(d1, "day=2024-01-02") == _part_files(d2, "day=2024-01-02")


# ----------------------------------------------------------- change data feed


def test_changes_unkeyed_insert_delete(spark, tmp_path):
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    t.overwrite(_df(spark, [(1, d1, 1.0), (2, d1, 2.0), (3, d1, 3.0)]))
    t.overwrite(_df(spark, [(1, d1, 1.0), (2, d2, 2.5), (4, d1, 4.0)]))
    feed = sorted(
        (r["user_id"], r["value"], r["_change_type"])
        for r in t.changes(0, 1).collect()
    )
    assert feed == [
        (2, 2.0, "delete"),
        (2, 2.5, "insert"),
        (3, 3.0, "delete"),
        (4, 4.0, "insert"),
    ]


def test_changes_keyed_update_images(spark, tmp_path):
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    t.overwrite(_df(spark, [(1, d1, 1.0), (2, d1, 2.0), (3, d1, 3.0)]))
    t.overwrite(_df(spark, [(1, d1, 1.0), (2, d2, 2.5), (4, d1, 4.0)]))
    feed = sorted(
        (r["user_id"], r["value"], r["_change_type"])
        for r in t.changes(0, keys=["user_id"]).collect()
    )
    # unchanged key 1 emits nothing; key 2 emits both images
    assert feed == [
        (2, 2.0, "update_preimage"),
        (2, 2.5, "update_postimage"),
        (3, 3.0, "delete"),
        (4, 4.0, "insert"),
    ]


def test_changes_prunes_untouched_partitions(spark, tmp_path):
    """After a partition-pruned MERGE, the feed must READ only the touched
    partition: untouched partitions are inode-identical (hardlink carry-
    forward) and are pruned before any scan — asserted via inputFiles()."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    base = [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)]
    t.merge_keep_latest_partitioned(
        _pdf(spark, base), key="user_id", order_cols=["value"], partition_col="day"
    )
    batch = [(2, "2024-01-02", 20.0), (4, "2024-01-02", 4.0)]
    t.merge_keep_latest_partitioned(
        _pdf(spark, batch), key="user_id", order_cols=["value"], partition_col="day"
    )

    feed = t.changes(0, 1, keys=["user_id"])
    got = sorted(
        (r["user_id"], str(r["day"]), r["value"], r["_change_type"])
        for r in feed.collect()
    )
    assert got == [
        (2, "2024-01-02", 2.0, "update_preimage"),
        (2, "2024-01-02", 20.0, "update_postimage"),
        (4, "2024-01-02", 4.0, "insert"),
    ]
    read_files = feed.inputFiles()
    assert read_files and all("day=2024-01-02" in f for f in read_files)


def test_changes_identical_versions_empty_with_schema(spark, tmp_path):
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]))
    feed = t.changes(0, 0)
    assert feed.count() == 0
    assert feed.columns == ["user_id", "ts", "value", "_change_type"]


def test_changes_validates_versions(spark, tmp_path):
    import datetime as dt

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]))
    with pytest.raises(FileNotFoundError):
        t.changes(0, 7)
    for _ in range(3):
        t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 2), 2.0)]))
    t.vacuum(keep=1)
    with pytest.raises(FileNotFoundError):
        t.changes(0)


def test_restore_recommits_old_content_zero_copy(spark, tmp_path):
    """RESTORE promotes an old version's content as the new head, keeps
    the full history time-travelable, shares inodes with the restored
    version (no byte copy), and respects OCC."""
    import os

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    for n in (3, 5, 7):
        t.overwrite(spark.range(0, n).toDF("id"))
    assert t.history() == [0, 1, 2]
    new_v = t.restore(0)
    assert new_v == 3
    assert t.read().count() == 3  # head content == version 0
    assert t.read(version=2).count() == 7  # rollback kept history
    # zero-copy: every restored file shares an inode with version 0's dir
    src = t._resolve_data_dir(0)
    dst = t._resolve_data_dir(3)
    src_inodes = {
        os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(src)
        for f in fs
    }
    dst_files = [
        os.path.join(r, f) for r, _d, fs in os.walk(dst) for f in fs
    ]
    assert dst_files and all(
        os.stat(p).st_ino in src_inodes for p in dst_files
    )


def test_restore_occ_and_validation(spark, tmp_path):
    import pytest as _pytest

    from metrics_database_cron_script_spark.versioned import (
        ConcurrentWriteError,
    )

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(spark.range(0, 2).toDF("id"))
    t.overwrite(spark.range(0, 4).toDF("id"))
    with _pytest.raises(ConcurrentWriteError):
        t.restore(0, expected_version=0)  # stale view: head is 1
    with _pytest.raises(FileNotFoundError, match="no committed version"):
        t.restore(99)
    t.overwrite(spark.range(0, 6).toDF("id"))
    t.vacuum(keep=1)
    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(0)


def test_wap_publishes_clean_batch_with_metrics(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    v, m = t.wap_overwrite(
        spark.range(0, 10).toDF("id"), {"nonneg": F.col("id") >= 0}
    )
    assert v == 0 and m == {"rows": 10, "nonneg": 0}
    assert t.read().count() == 10


def test_wap_audits_empty_batch_as_zero_counts(spark, tmp_path):
    """Violation counts over an empty snapshot are 0, not NULL: the audit
    resolves and the empty version publishes."""
    from pyspark.sql import functions as F

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    v, m = t.wap_overwrite(
        spark.range(0, 0).toDF("id"),
        {"nonneg": F.col("id") >= 0, "small": F.col("id") < 5},
    )
    assert v == 0 and m == {"rows": 0, "nonneg": 0, "small": 0}
    assert t.read().count() == 0


def test_wap_aborts_dirty_batch_without_a_version(spark, tmp_path):
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.expectations import (
        ExpectationsFailed,
    )

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(spark.range(0, 5).toDF("id"))
    with _pytest.raises(ExpectationsFailed) as ei:
        t.wap_overwrite(
            spark.range(-3, 7).toDF("id"), {"nonneg": F.col("id") >= 0}
        )
    assert ei.value.metrics == {"rows": 10, "nonneg": 3}
    # no version published, no stage garbage left behind
    assert t.history() == [0]
    assert t.read().count() == 5
    stages = [
        n
        for n in os.listdir(t.path)
        if n.startswith("_v") and n != os.path.basename(t._resolve_data_dir(0))
    ]
    assert stages == []


def test_wap_tolerates_allowed_violations(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    v, m = t.wap_overwrite(
        spark.range(-1, 9).toDF("id"),
        {"nonneg": F.col("id") >= 0},
        max_violations=1,
    )
    assert v == 0 and m["nonneg"] == 1
    assert t.read().count() == 10


def test_optimize_preserves_partition_layout(spark, tmp_path):
    """Regression: optimize() used to rewrite a hive-partitioned snapshot
    as flat files, breaking compact_partitions / partition-pruned MERGE /
    changes() pruning downstream. It must re-cluster WITHIN the same
    partition-directory layout."""
    import os

    from pyspark.sql import functions as F

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    df = spark.range(0, 2000).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 4).cast("string").alias("__bucket"),
        (F.col("id") * 7 % 1000).cast("double").alias("value"),
    )
    stage = t._stage_dir(0)
    df.write.partitionBy("__bucket").parquet(stage)
    t._publish(0, stage)
    before = sorted(
        (r["user_id"], r["value"]) for r in t.read().collect()
    )

    v1 = t.optimize(["user_id"], n_files=4)
    d1 = t._resolve_data_dir(v1)
    assert sorted(
        n for n in os.listdir(d1) if n.startswith("__bucket=")
    ) == ["__bucket=0", "__bucket=1", "__bucket=2", "__bucket=3"]
    assert sorted(
        (r["user_id"], r["value"]) for r in t.read().collect()
    ) == before
    # and compaction still recognizes the layout post-optimize
    t.compact_partitions("__bucket")


def test_changes_across_schema_evolution(spark, tmp_path):
    """Regression: a change feed spanning a column-adding merge used to
    crash (positional exceptAll / missing struct field). Added columns
    must surface as null→value images instead."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double"))
    t.merge_keep_latest(
        spark.createDataFrame(
            [(2, 21.0, "eu"), (3, 30.0, "us")], "k int, v double, region string"
        ),
        key="k",
        order_cols=["v"],
    )
    # keyless multiset diff: must not crash, inserts/deletes balance
    unkeyed = t.changes(0, 1)
    assert unkeyed.filter("_change_type = 'insert'").count() >= 2
    # keyed: the added column appears as null in preimages
    keyed = t.changes(0, 1, keys=["k"])
    pre = keyed.filter("_change_type = 'update_preimage' AND k = 2").collect()
    assert len(pre) == 1 and pre[0]["region"] is None
    post = keyed.filter("_change_type = 'update_postimage' AND k = 2").collect()
    assert len(post) == 1 and post[0]["region"] == "eu"


def test_changes_across_type_widening(spark, tmp_path):
    """Regression (round-4 advice): a column present in BOTH versions with
    a widened type (int→long) reached exceptAll/eqNullSafe with mismatched
    types and crashed. Shared columns must be cast to the NEW version's
    type — the current-schema reader contract."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
    t.overwrite(spark.createDataFrame([(1, 10), (2, 21)], "k int, v long"))
    unkeyed = t.changes(0, 1)
    assert dict(unkeyed.dtypes)["v"] == "bigint"
    ins = {(r["k"], r["v"]) for r in unkeyed.filter("_change_type='insert'").collect()}
    dels = {(r["k"], r["v"]) for r in unkeyed.filter("_change_type='delete'").collect()}
    assert ins == {(2, 21)} and dels == {(2, 20)}
    keyed = t.changes(0, 1, keys=["k"])
    pre = keyed.filter("_change_type = 'update_preimage'").collect()
    post = keyed.filter("_change_type = 'update_postimage'").collect()
    assert [(r["k"], r["v"]) for r in pre] == [(2, 20)]
    assert [(r["k"], r["v"]) for r in post] == [(2, 21)]
    # k=1 is byte-identical after the widen-cast: no feed row
    assert keyed.filter("k = 1").count() == 0


def test_changes_across_type_narrowing_raises(spark, tmp_path):
    """Round-5 advice: changes() used to cast shared columns to the NEW
    version's type unconditionally — a long→int or string→int narrowing
    silently truncated/nullified old-side values in the CDF output. A
    narrowing evolution must surface as an error, not corrupt diffs."""
    import pytest

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(
        spark.createDataFrame([(1, 2**40), (2, 20)], "k int, v long")
    )
    t.overwrite(spark.createDataFrame([(1, 10), (2, 21)], "k int, v int"))
    with pytest.raises(ValueError, match="narrows"):
        t.changes(0, 1)
    with pytest.raises(ValueError, match="narrows"):
        t.changes(0, 1, keys=["k"])


def test_partitioned_merge_partition_type_drift_no_duplicates(spark, tmp_path):
    """Regression (round-4 advice): carry-forward matched old partition
    dirs to staged dirs by literal name. A batch whose partition_col type
    renders values differently (committed double → 'day=1.0', batch int →
    'day=1') used to carry the touched partition's old dir forward BESIDE
    its rewrite, duplicating keys. Round 5: partition-TYPE drift now takes
    a one-time FULL rewrite under the new type (old-typed dir names can't
    be parsed by the committed-schema read), so the result must be
    deduplicated AND uniformly re-typed."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(1, 1.0, 10.0), (2, 2.0, 20.0)], "k int, day double, v double"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    # batch renders day as int → staged dir 'day=1', committed dir 'day=1.0'
    t.merge_keep_latest_partitioned(
        spark.createDataFrame([(1, 1, 11.0)], "k int, day int, v double"),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    got = sorted((r["k"], float(r["day"]), r["v"]) for r in t.read().collect())
    assert got == [(1, 1.0, 11.0), (2, 2.0, 20.0)], got


# ------------------------------------------------- round 5: schema evolution


def test_partitioned_merge_added_column_null_pads_carry_forward(spark, tmp_path):
    """A batch that ADDS a column while touching one partition: the other
    partitions are carried forward by hardlink with their OLD-schema files,
    and the committed-schema marker must NULL-pad them at read time instead
    of footer inference picking a random file's layout."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 2, 20.0), (3, 2, 30.0)], "k int, day int, v double"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(1, 1, 11.0, "eu")], "k int, day int, v double, region string"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    got = sorted(
        (r["k"], r["day"], r["v"], r["region"]) for r in t.read().collect()
    )
    assert got == [(1, 1, 11.0, "eu"), (2, 2, 20.0, None), (3, 2, 30.0, None)], got
    # day=2 was carried forward by hardlink, not rewritten
    import os

    d0 = t._resolve_data_dir(0)
    d1 = t._resolve_data_dir(1)

    def inodes(d, part):
        p = os.path.join(d, part)
        return {os.stat(os.path.join(p, f)).st_ino for f in os.listdir(p)
                if f.endswith(".parquet")}

    assert inodes(d0, "day=2") == inodes(d1, "day=2")


def test_reader_contract_old_versions_keep_their_schema(spark, tmp_path):
    """Time travel renders each version in the schema IT committed —
    v0 has no `region`, the head does."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    t.overwrite(spark.createDataFrame([(1, 10, "eu")], "k int, v int, region string"))
    assert t.read(version=0).columns == ["k", "v"]
    assert t.read(version=1).columns == ["k", "v", "region"]
    assert t.read().columns == ["k", "v", "region"]


def test_changes_across_partitioned_added_column(spark, tmp_path):
    """CDF across a partitioned schema-evolving merge: the added column
    appears as null→value in the touched partition's update rows; the
    untouched partition stays out of the feed entirely (inode pruning)."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 2, 20.0)], "k int, day int, v double"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(1, 1, 11.0, "eu")], "k int, day int, v double, region string"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    feed = t.changes(0, 1, keys=["k"]).collect()
    assert {r["k"] for r in feed} == {1}  # day=2 pruned, not even read
    pre = [r for r in feed if r["_change_type"] == "update_preimage"]
    post = [r for r in feed if r["_change_type"] == "update_postimage"]
    assert len(pre) == 1 and pre[0]["region"] is None and pre[0]["v"] == 10.0
    assert len(post) == 1 and post[0]["region"] == "eu" and post[0]["v"] == 11.0


def test_compact_and_restore_preserve_evolved_schema(spark, tmp_path):
    """Maintenance commits must carry the schema marker: compaction rewrites
    files but not rows; restore hardlinks an old version — both readable in
    the schema their content committed with."""
    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 2, 20.0)], "k int, day int, v double"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    t.merge_keep_latest_partitioned(
        spark.createDataFrame(
            [(3, 1, 30.0, "eu")], "k int, day int, v double, region string"
        ),
        key="k",
        order_cols=["v"],
        partition_col="day",
    )
    t.compact_partitions("day")
    got = sorted((r["k"], r["region"]) for r in t.read().collect())
    assert got == [(1, None), (2, None), (3, "eu")], got
    t.restore(0)
    assert t.read().columns == ["k", "v", "day"]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_can_upcast_fallback_refuses_decimal_narrowing():
    """Review fix: if the JVM Cast.canUpCast probe is unavailable, the
    pure-python fallback must refuse anything but the unambiguous
    widenings — especially decimal precision narrowing, the exact lossy
    cast the gate exists to block."""
    from pyspark.sql import types as T

    from metrics_database_cron_script_spark.versioned import _can_upcast

    class BrokenJvm:
        @property
        def _jvm(self):
            raise RuntimeError("probe unavailable")

    fs = BrokenJvm()
    assert _can_upcast(fs, T.IntegerType(), T.LongType())
    assert _can_upcast(fs, T.FloatType(), T.DoubleType())
    assert _can_upcast(fs, T.DecimalType(10, 2), T.DecimalType(10, 2))
    assert not _can_upcast(fs, T.DecimalType(38, 18), T.DecimalType(5, 0))
    assert not _can_upcast(fs, T.LongType(), T.DecimalType(1, 0))
    assert not _can_upcast(fs, T.LongType(), T.IntegerType())
    assert not _can_upcast(fs, T.StringType(), T.IntegerType())
