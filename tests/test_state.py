from __future__ import annotations

import datetime

import pytest


def test_watermark_roundtrip(spark, tmp_path):
    from metrics_database_cron_script_spark.state import Watermark

    wm = Watermark(spark, str(tmp_path))
    assert wm.read() == Watermark.EPOCH
    ts = datetime.datetime(2024, 2, 3, 4, 5, 6)
    wm.commit(ts)
    assert wm.read() == ts
    ts2 = datetime.datetime(2024, 3, 1)
    wm.commit(ts2)  # overwrite, not append
    assert wm.read() == ts2


def test_idempotent_append(spark, tmp_path):
    from metrics_database_cron_script_spark.state import idempotent_append

    path = str(tmp_path / "t.parquet")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert idempotent_append(df1, path, key="k") == 2
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")
    assert idempotent_append(df2, path, key="k") == 1  # only k=3 is new
    assert spark.read.parquet(path).count() == 3


def test_snapshot_overwrite_keeps_latest(spark, tmp_path):
    from metrics_database_cron_script_spark.state import snapshot_overwrite

    path = str(tmp_path / "s.parquet")
    v1 = spark.createDataFrame([("x", 1, 10.0), ("y", 1, 20.0)], "k string, ver long, val double")
    snapshot_overwrite(v1, path, key="k", order_cols=["ver"])
    v2 = spark.createDataFrame([("x", 2, 11.0)], "k string, ver long, val double")
    snapshot_overwrite(v2, path, key="k", order_cols=["ver"])
    rows = {r["k"]: (r["ver"], r["val"]) for r in spark.read.parquet(path).collect()}
    assert rows == {"x": (2, 11.0), "y": (1, 20.0)}


def test_compact_bin_packs_small_files(spark, tmp_path):
    import glob

    from metrics_database_cron_script_spark.operators.maintenance import compact
    from metrics_database_cron_script_spark.state import idempotent_append

    path = str(tmp_path / "frag.parquet")
    # 10 micro-appends → ≥10 part files
    for i in range(10):
        df = spark.createDataFrame([(i, float(i))], "k long, v double")
        idempotent_append(df, path, key="k")
    before = len(glob.glob(f"{path}/part-*"))
    assert before >= 10
    compact(spark, path, target_mb=128)
    after = len(glob.glob(f"{path}/part-*"))
    assert after == 1
    rows = {r["k"] for r in spark.read.parquet(path).collect()}
    assert rows == set(range(10))


def test_compact_reduces_files_and_preserves_rows(spark, tmp_path):
    """Small-file compaction: 40 single-row appends collapse to one
    target-sized file, content identical, directory swap leaves no temp
    dirs behind."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
        parquet_file_count,
    )
    from metrics_database_cron_script_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "events_sink")
    ev = load_table(spark, SF_SMOKE, "events").limit(40).drop("props")
    for chunk in range(4):
        ev.filter(F.col("event_id") % 4 == chunk).repartition(10).write.mode(
            "append"
        ).parquet(path)
    before = parquet_file_count(path)
    assert before >= 20
    orig = sorted(r["event_id"] for r in spark.read.parquet(path).collect())

    after = compact(spark, path, target_mb=64)
    assert after < before
    assert sorted(r["event_id"] for r in spark.read.parquet(path).collect()) == orig
    import os

    assert not os.path.exists(path + "__compact_tmp")
    assert not os.path.exists(path + "__compact_old")


def test_compact_preserves_partitioned_layout(spark, tmp_path):
    """Partition-aware compaction: each chain=... leaf is rewritten in
    place; the partition directory structure and partition-column values
    survive."""
    import os

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import compact
    from metrics_database_cron_script_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "chained")
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .limit(60)
        .drop("props")
        .withColumn("chain", F.when(F.col("event_id") % 2 == 0, "dot").otherwise("ksm"))
    )
    for _ in range(3):
        ev.repartition(8).write.mode("append").partitionBy("chain").parquet(path)
    orig = sorted(
        (r["event_id"], r["chain"]) for r in spark.read.parquet(path).collect()
    )

    compact(spark, path, target_mb=64)
    assert sorted(os.listdir(path)) >= ["chain=dot", "chain=ksm"] or set(
        os.listdir(path)
    ) >= {"chain=dot", "chain=ksm"}
    got = sorted(
        (r["event_id"], r["chain"]) for r in spark.read.parquet(path).collect()
    )
    assert got == orig


APPENDS = ("idempotent_append", "staged_append")


def _appender(primitive: str, path: str, **kw):
    """One call shape for both stage-audit-publish primitives:
    idempotent_append anti-joins on `event_id` (with `kw`), staged_append
    appends the batch as given."""
    from metrics_database_cron_script_spark import state

    if primitive == "idempotent_append":
        return lambda df: state.idempotent_append(df, path, key="event_id", **kw)
    return lambda df: state.staged_append(df, path)


@pytest.mark.parametrize("primitive", APPENDS)
def test_empty_first_append_leaves_no_sink(spark, tmp_path, primitive):
    """Regression: an all-empty FIRST batch on a partitioned sink used to
    create a schema-less directory (only _SUCCESS) that bricked every
    subsequent read with UNABLE_TO_INFER_SCHEMA. Staged publish drops the
    empty stage instead — the sink simply does not exist yet, and the
    next non-empty batch bootstraps it normally."""
    import os

    path = str(tmp_path / "sink.parquet")
    append = _appender(primitive, path, partition_by=["chain"])
    empty = spark.createDataFrame([], "event_id long, chain string")
    assert append(empty) == 0
    assert not os.path.exists(path)
    rows = spark.createDataFrame([(1, "dot")], "event_id long, chain string")
    assert append(rows) == 1
    assert spark.read.parquet(path).count() == 1


@pytest.mark.parametrize("primitive", APPENDS)
def test_empty_replays_accumulate_no_files(spark, tmp_path, primitive):
    """Regression: all-duplicate replays (the streaming foreachBatch idle
    case) must not grow the sink's file count with empty part files.
    staged_append has no key anti-join; its callers' replays arrive as
    EMPTY frames (the edge refresh's suppression), so that is its replay."""
    import os

    path = str(tmp_path / "sink.parquet")
    append = _appender(primitive, path)
    batch = spark.range(0, 5).toDF("event_id")
    replay = batch if primitive == "idempotent_append" else batch.limit(0)
    assert append(batch) == 5
    files_before = sorted(os.listdir(path))
    for _ in range(3):
        assert append(replay) == 0
    assert sorted(os.listdir(path)) == files_before


@pytest.mark.parametrize("primitive", APPENDS)
def test_append_reaps_stranded_stage_dir(spark, tmp_path, primitive):
    """A `<sink>.stage-*` dir stranded by a killed run is removed by the
    next append of either primitive; another sink's stage is left alone."""
    import os

    stranded = tmp_path / "sink.parquet.stage-x"
    stranded.mkdir()
    (stranded / "part-00000.parquet").write_bytes(b"torn")
    (tmp_path / "other.parquet.stage-y").mkdir()
    append = _appender(primitive, str(tmp_path / "sink.parquet"))
    assert append(spark.range(0, 3).toDF("event_id")) == 3
    assert sorted(os.listdir(tmp_path)) == ["other.parquet.stage-y", "sink.parquet"]


def test_audit_abort_leaves_sink_untouched(spark, tmp_path):
    """A violated `audit` rule must abort the append with the sink exactly
    as it was — the write-blocking gate update_tx_enriched relies on — and
    name the rule and its violation count."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.state import idempotent_append

    path = str(tmp_path / "sink.parquet")
    idempotent_append(spark.range(0, 3).toDF("event_id"), path, key="event_id")
    before = sorted(os.listdir(path))

    with _pytest.raises(AssertionError, match="audit failed") as ei:
        idempotent_append(
            spark.range(10, 20).toDF("event_id"), path,
            key="event_id", audit={"below 15": F.col("event_id") < 15},
        )
    assert "below 15: 5 rows" in str(ei.value)
    assert sorted(os.listdir(path)) == before
    assert spark.read.parquet(path).count() == 3
    # no stage garbage next to the sink either
    assert [n for n in os.listdir(str(tmp_path)) if ".stage-" in n] == []


def test_audit_resolves_on_runtime_empty_shuffle_join_under_aqe(spark, tmp_path):
    """The hazard the root-level audit exists for: with AQE on and
    broadcast joins off, a filter that is empty only at run time,
    shuffle-joined to a table, is replaced by an empty relation — an
    observation below the join would then fail in a JVM assertion. The
    append's own root observation resolves: 0 rows, no violation, and the
    session's excluded optimizer rules are left as they were."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.state import idempotent_append
    from tests.conftest import set_confs

    src = str(tmp_path / "t.parquet")
    spark.range(0, 50).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") % 3).alias("v"),
    ).write.parquet(src)
    path = str(tmp_path / "sink.parquet")
    key = "spark.sql.adaptive.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    with set_confs(
        spark,
        spark__sql__adaptive__enabled="true",
        spark__sql__autoBroadcastJoinThreshold="-1",
    ):
        t = spark.read.parquet(src)
        audit = {"v in range": F.col("v") < 3}
        assert idempotent_append(t, path, key="event_id", audit=audit) == 50
        # joined on `k`, so the append's anti-join on event_id re-shuffles
        empty = t.filter(F.col("v") > 10).select("k").join(t, "k")
        assert idempotent_append(empty, path, key="event_id", audit=audit) == 0
    assert spark.conf.get(key, None) == before
    assert spark.read.parquet(path).count() == 50


def test_concurrent_appends_to_disjoint_sinks(spark, tmp_path):
    """Appends to disjoint sinks run from concurrent threads of one session
    (P5's pool): each returns its own count, a violated rule aborts only
    its own append, and no stage dir is left behind."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.state import idempotent_append

    audit = {"small ids": F.col("event_id") < 100}

    def append(i):
        path = str(tmp_path / f"sink{i}.parquet")
        hi = 200 if i == 0 else i + 1  # sink 0's batch violates the rule
        return idempotent_append(
            spark.range(0, hi).toDF("event_id"), path, key="event_id", audit=audit
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [pool.submit(append, i) for i in range(6)]
            with _pytest.raises(AssertionError, match="small ids: 100 rows"):
                futs[0].result(timeout=300)
            assert [f.result(timeout=300) for f in futs[1:]] == [2, 3, 4, 5, 6]
    finally:
        sys.setswitchinterval(interval)
    assert sorted(os.listdir(tmp_path)) == [f"sink{i}.parquet" for i in range(1, 6)]
    for i in range(1, 6):
        assert spark.read.parquet(str(tmp_path / f"sink{i}.parquet")).count() == i + 1


def test_idempotent_append_fence_bounds_existing_scan(spark, tmp_path):
    """Round 10: the frontier fence must (a) preserve exactly-once append
    semantics across a full replay AND a crash-overlap partial publish, and
    (b) reach the sink scan as a pushed parquet filter, so the existing-keys
    side is the crash window — not O(sink history)."""
    import datetime

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.state import idempotent_append

    sink = str(tmp_path / "fenced.parquet")
    wm = datetime.datetime(2024, 1, 10)

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (
                F.lit(datetime.datetime(2024, 1, 1))
                + F.make_interval(days=F.col("id"))
            ).alias("ts"),
        )

    # history: ts <= watermark (ids 0..9 → Jan 2..11? keep strictly <= wm)
    hist = mk(0, 9)  # Jan 1+0d .. Jan 9 → all <= Jan 10
    assert idempotent_append(hist, sink, key="event_id") == 9

    fence = F.col("ts") > F.lit(wm)
    batch = mk(10, 15)  # Jan 11..15, all > wm
    # crash-overlap: pre-publish PART of the batch (simulates mid-rename)
    assert idempotent_append(mk(10, 12), sink, key="event_id", fence=fence) == 2
    # replay of the full batch appends exactly the missing 3 rows
    assert idempotent_append(batch, sink, key="event_id", fence=fence) == 3
    # full replay is a no-op
    assert idempotent_append(batch, sink, key="event_id", fence=fence) == 0
    total = spark.read.parquet(sink).count()
    assert total == 14
    assert spark.read.parquet(sink).select("event_id").distinct().count() == 14

    # plan check: the fence is pushed to the sink's parquet scan
    existing = spark.read.parquet(sink).filter(fence)
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(ts" in plan


@pytest.mark.parametrize("window", ["compact", "overwrite_rename_1", "overwrite_rename_2"])
def test_compact_recovery_restores_leaf_lost_between_renames(
    spark, tmp_path, monkeypatch, window
):
    """Crash window hardening (round 10): a run that died BETWEEN the two
    swap renames leaves the leaf's only copy under staging/old. The next
    state.recover (run by compact() itself and by run_batch) must move it
    back — a blind staging reap here would be data loss. The same swap
    under atomic_overwrite, killed after its first rename or after its
    second (before the old copy is dropped), recovers to the old or the
    new table, never to none."""
    import os
    import shutil

    from metrics_database_cron_script_spark import state
    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
        parquet_file_count,
    )
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.state import recover
    from tests.conftest import SF_SMOKE

    if window != "compact":
        path = str(tmp_path / "snap.parquet")
        state.atomic_overwrite(spark.range(0, 5), path)

        class Killed(BaseException):
            pass

        renames = []
        real = state._rename

        def dying(src, dst):
            real(src, dst)
            renames.append(dst)
            if len(renames) == int(window[-1]):
                raise Killed

        with monkeypatch.context() as m:
            m.setattr(state, "_rename", dying)
            with pytest.raises(Killed):
                state.atomic_overwrite(spark.range(10, 13), path)
        assert os.path.exists(path) == (window == "overwrite_rename_2")
        recover(path)
        spark.catalog.refreshByPath(path)
        want = list(range(0, 5)) if window == "overwrite_rename_1" else [10, 11, 12]
        assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == want
        assert os.listdir(tmp_path) == ["snap.parquet"]
        return

    path = str(tmp_path / "sink")
    ev = load_table(spark, SF_SMOKE, "events").limit(30).drop("props")
    ev.repartition(6).write.parquet(path)
    orig = sorted(r["event_id"] for r in spark.read.parquet(path).collect())

    # simulate the crash: leaf renamed into staging/old, replacement never
    # landed (tmp still holds it), table root gone
    staging = path + ".__compact-deadbeef"
    os.makedirs(os.path.join(staging, "tmp"))
    os.makedirs(os.path.join(staging, "old"))
    os.rename(path, os.path.join(staging, "old", "__root__"))
    assert not os.path.exists(path)

    recover(path)
    assert not os.path.exists(staging)
    assert sorted(r["event_id"] for r in spark.read.parquet(path).collect()) == orig

    # and the superseded-copy case: staging/old exists but the leaf was
    # already swapped back in (crash after rename #2) → staging discarded,
    # live leaf untouched
    os.makedirs(os.path.join(staging, "old"))
    shutil.copytree(path, os.path.join(staging, "old", "__root__"))
    n_before = parquet_file_count(path)
    recover(path)
    assert not os.path.exists(staging)
    assert parquet_file_count(path) == n_before
    assert sorted(r["event_id"] for r in spark.read.parquet(path).collect()) == orig

    # compact() itself heals leftovers before staging anew
    os.makedirs(os.path.join(staging, "tmp", "__root__"))
    compact(spark, path, target_mb=64)
    assert not os.path.exists(staging)
    assert sorted(r["event_id"] for r in spark.read.parquet(path).collect()) == orig


def test_compact_recovery_partitioned_leaf(spark, tmp_path):
    """Same crash window for a partitionBy layout: only the lost leaf is
    restored; surviving leaves and their content are untouched."""
    import os

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.state import recover
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "chained")
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .limit(40)
        .drop("props")
        .withColumn("chain", F.when(F.col("event_id") % 2 == 0, "dot").otherwise("ksm"))
    )
    ev.write.partitionBy("chain").parquet(path)
    orig = sorted(r["event_id"] for r in spark.read.parquet(path).collect())

    staging = path + ".__compact-cafebabe"
    os.makedirs(os.path.join(staging, "old"))
    os.rename(
        os.path.join(path, "chain=dot"), os.path.join(staging, "old", "chain=dot")
    )
    recover(path)
    assert not os.path.exists(staging)
    spark.catalog.refreshByPath(path)
    assert sorted(r["event_id"] for r in spark.read.parquet(path).collect()) == orig


def test_compact_is_incremental_big_files_untouched(spark, tmp_path):
    """Round 10: compaction must be O(bytes since last compaction), never
    O(sink history) — files already at target size are carried across the
    swap as hardlinks (same inode), only the small-file debt is read and
    rewritten. Otherwise a daily-triggered compaction silently becomes a
    full-history rewrite every run."""
    import os

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
        parquet_file_count,
    )

    path = str(tmp_path / "sink")
    # "yesterday's packed output": one file guaranteed over the 1 MB target
    big_df = spark.range(0, 2_000_000).select(
        F.col("id"), (F.col("id") * 2654435761 % 1000000007).alias("v")
    )
    big_df.coalesce(1).write.parquet(path)
    big_name, = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert os.path.getsize(os.path.join(path, big_name)) >= 1024 * 1024
    big_inode = os.stat(os.path.join(path, big_name)).st_ino
    # today's debt: 10 tiny files
    spark.range(0, 50).select(
        F.col("id"), (F.col("id") * 7 % 97).alias("v")
    ).repartition(10).write.mode("append").parquet(path)
    spark.catalog.refreshByPath(path)
    rows_before = spark.read.parquet(path).count()
    n_before = parquet_file_count(path)
    assert n_before == 11

    after = compact(spark, path, target_mb=1)
    spark.catalog.refreshByPath(path)
    # the big file survived AS THE SAME INODE (hardlink, not a rewrite)
    assert os.path.exists(os.path.join(path, big_name))
    assert os.stat(os.path.join(path, big_name)).st_ino == big_inode
    # the 10 small files packed down; content identical
    assert after < n_before
    assert spark.read.parquet(path).count() == rows_before


def test_compact_reaches_fixpoint_second_run_noop(spark, tmp_path):
    """Compacting twice must leave the file set IDENTICAL the second time:
    packed output must never count as packable debt again (the `< target`
    vs `< target/2` boundary — output lands just under target, so a
    naive threshold re-packs yesterday's output every run, turning the
    daily maintenance into a full-history rewrite)."""
    import os

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
    )

    path = str(tmp_path / "sink")
    # enough data that the packed output is a nontrivial file, split into
    # genuine small-file debt
    spark.range(0, 1_000_000).select(
        F.col("id"), (F.col("id") * 2654435761 % 1000000007).alias("v")
    ).repartition(25).write.parquet(path)

    compact(spark, path, target_mb=1)
    files_1 = sorted(
        (f, os.path.getsize(os.path.join(path, f)), os.stat(os.path.join(path, f)).st_ino)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert len(files_1) < 25

    compact(spark, path, target_mb=1)
    files_2 = sorted(
        (f, os.path.getsize(os.path.join(path, f)), os.stat(os.path.join(path, f)).st_ino)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    # same names, same sizes, same inodes — nothing was rewritten
    assert files_2 == files_1


def test_compact_multi_leaf_is_one_job(spark, tmp_path):
    """A partitioned table with many packable leaves (the IVF index's cell
    layout, a date-partitioned fact at 100 TB) must compact as ONE Spark
    job, not one per leaf — per-leaf jobs cost O(partitions) scheduler
    floors for kilobytes of work each. Layout and content must survive the
    grouped basePath → repartition(pcols) → partitionBy round-trip."""
    import os

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
        parquet_file_count,
    )

    path = str(tmp_path / "cells")
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 8).alias("cell")
    )
    # 3 appends × 8 cells × several files each = plenty of debt per leaf
    for _ in range(3):
        df.repartition(4).write.mode("append").partitionBy("cell").parquet(path)
    spark.catalog.refreshByPath(path)
    want = sorted(
        (r["id"], r["cell"]) for r in spark.read.parquet(path).collect()
    )
    n_before = parquet_file_count(path)
    assert n_before >= 8 * 3

    sc = spark.sparkContext
    sc.setJobGroup("t_compact_grouped", "compaction job count probe")
    try:
        after = compact(spark, path, target_mb=64)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("t_compact_grouped")
    # O(1) in the leaf count: file-listing job + schema probe + the
    # shuffle stage + the write stage (AQE runs them as separate jobs).
    # The per-leaf implementation this replaced paid ≥1 write job PER
    # LEAF — 8 leaves here, thousands on a date-partitioned sink.
    assert len(jobs) <= 5, f"expected O(1) jobs, got {len(jobs)}"

    spark.catalog.refreshByPath(path)
    assert after <= 8 + 1
    assert sorted(os.listdir(path)) and all(
        d.startswith("cell=") or d.startswith("_") or d.startswith(".")
        for d in os.listdir(path)
    )
    got = sorted(
        (r["id"], r["cell"]) for r in spark.read.parquet(path).collect()
    )
    assert got == want


def test_compact_refuses_mixed_flat_partitioned_layout(spark, tmp_path):
    """Parquet files at the table root NEXT TO partition directories mean
    partition inference is already silently dropping rows for every
    reader; compaction must refuse loudly rather than entrench (or
    worsen) the corruption."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
    )

    path = str(tmp_path / "mixed")
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 2).alias("chain")
    )
    df.repartition(6).write.partitionBy("chain").parquet(path)
    # simulate the corrupting flat append: copy a leaf file to the root
    leaf = os.path.join(path, "chain=0")
    parts = [f for f in sorted(os.listdir(leaf)) if f.endswith(".parquet")]
    assert len(parts) >= 3
    for i, f in enumerate(parts[:3]):
        shutil.copy(os.path.join(leaf, f), os.path.join(path, f"flat-{i}.parquet"))

    with _pytest.raises(ValueError, match="mixed flat/partitioned"):
        compact(spark, path, target_mb=64)


def test_compact_refuses_mixed_layout_even_when_stray_is_unpackable(
    spark, tmp_path
):
    """ADVICE r11 (low): the mixed-layout refusal must run over ALL leaves,
    not just the packable ones — a SINGLE parquet file at the table root
    (len(small) < min_files, so never in `plan`) previously slipped past
    the guard and compaction proceeded on the corrupt layout."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
    )

    path = str(tmp_path / "mixed_one")
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 2).alias("chain")
    )
    df.repartition(6).write.partitionBy("chain").parquet(path)
    leaf = os.path.join(path, "chain=0")
    parts = [f for f in sorted(os.listdir(leaf)) if f.endswith(".parquet")]
    # exactly ONE stray root file: unpackable on its own, still corrupting
    shutil.copy(os.path.join(leaf, parts[0]), os.path.join(path, "flat-0.parquet"))

    with _pytest.raises(ValueError, match="mixed flat/partitioned"):
        compact(spark, path, target_mb=64)


def test_compact_refuses_partition_value_collision(spark, tmp_path):
    """ADVICE r11 (medium): two partition dirs whose names decode to the
    SAME typed value (cell=08 and cell=8) re-encode into one canonical
    staged leaf. The old subset guard (staged <= expected) passed and the
    swap silently merged cell=08's rows into cell=8 while cell=08 kept its
    original files — duplicated rows. Compaction must refuse before any
    swap, leaving both leaves byte-identical."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact,
    )

    path = str(tmp_path / "coll")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 2 + 8).alias("cell")  # cells 8 and 9
    )
    df.repartition(4).write.partitionBy("cell").parquet(path)
    # forge the collision: the cell=9 leaf renamed to the non-canonical
    # spelling of 8 (as a buggy external writer would produce)
    os.rename(os.path.join(path, "cell=9"), os.path.join(path, "cell=08"))
    before = {
        leaf: sorted(os.listdir(os.path.join(path, leaf)))
        for leaf in ("cell=08", "cell=8")
    }

    with _pytest.raises(ValueError, match="round-trip"):
        compact(spark, path, target_mb=64)

    # refusal happened BEFORE any swap: both leaves untouched
    after = {
        leaf: sorted(os.listdir(os.path.join(path, leaf)))
        for leaf in ("cell=08", "cell=8")
    }
    assert after == before
    assert not [
        d for d in os.listdir(os.path.dirname(path)) if "__compact-" in d
    ]


def test_recover_staging_reports_restored_leaves(spark, tmp_path):
    """state.recover returns the restored leaf paths so callers can
    refresh Spark's cached FileIndex (ADVICE r11, low): a restore changes
    the listing without a Spark write, and skipping the refresh leaves a
    stale index that can throw FILE_NOT_EXIST on the next read."""
    import os

    from metrics_database_cron_script_spark.state import recover

    path = str(tmp_path / "sink")
    spark.range(0, 10).write.parquet(path)

    # nothing to heal → empty
    assert recover(path) == []

    staging = path + ".__compact-deadbeef"
    os.makedirs(os.path.join(staging, "old"))
    os.rename(path, os.path.join(staging, "old", "__root__"))
    assert recover(path) == [path]
    assert spark.read.parquet(path).count() == 10

    # superseded copy (target exists again) → discarded, nothing restored
    import shutil

    os.makedirs(os.path.join(staging, "old"))
    shutil.copytree(path, os.path.join(staging, "old", "__root__"))
    assert recover(path) == []
