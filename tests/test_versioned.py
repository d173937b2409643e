"""Optimistic-concurrency snapshot table (versioned.py): commit protocol,
conflict detection, retry convergence, crash orphans, and the public
surface staying what the package calls."""

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
    succeeds on its FIRST attempt, no retry or cleanup needed."""
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
    assert os.path.isdir(orphan)  # left in place: nothing reclaims orphans


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


def test_merge_keep_latest_leaves_no_cached_rdd(spark, tmp_path):
    """merge_keep_latest returns a version number, so an RDD it cached
    could never be released by anyone: after a merge, Spark's storage
    holds no RDD it did not hold before."""
    import datetime as dt

    def cached() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.overwrite(_df(spark, [(1, dt.datetime(2024, 1, 1), 1.0)]))
    before = cached()
    t.merge_keep_latest(
        _df(spark, [(1, dt.datetime(2024, 1, 2), 2.0), (2, dt.datetime(2024, 1, 1), 3.0)]),
        key="user_id",
        order_cols=["ts"],
    )
    assert cached() - before == set()
    assert _rows(t.read()) == [
        (1, "2024-01-02 00:00:00", 2.0),
        (2, "2024-01-01 00:00:00", 3.0),
    ]


def test_every_public_method_has_a_caller():
    """Every public VersionedSnapshot method is reached from outside the
    class: called by name from a package module or root script that
    imports versioned.py, or from a method so reached. A method only tests
    call is surface nothing runs. Starts no Spark."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "metrics_database_cron_script_spark"
    src = pkg / "versioned.py"
    cls = next(
        n
        for n in ast.parse(src.read_text()).body
        if isinstance(n, ast.ClassDef) and n.name == "VersionedSnapshot"
    )
    methods = {f.name: f for f in cls.body if isinstance(f, ast.FunctionDef)}

    def called(tree) -> set[str]:
        return {
            n.func.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        }

    def imports_versioned(tree) -> bool:
        return any(
            isinstance(n, ast.ImportFrom) and (n.module or "").endswith(".versioned")
            for n in ast.walk(tree)
        )

    outside: set[str] = set()
    for path in [*pkg.rglob("*.py"), *root.glob("*.py")]:
        tree = ast.parse(path.read_text())
        if path != src and imports_versioned(tree):
            outside |= called(tree)
    reached = {"__init__"} | (outside & set(methods))
    todo = list(reached)
    while todo:
        for name in called(methods[todo.pop()]) & set(methods):
            if name not in reached:
                reached.add(name)
                todo.append(name)
    public = {n for n in methods if not n.startswith("_")}
    assert public - reached == set()
