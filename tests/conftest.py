from __future__ import annotations

import contextlib
import datetime
import os
import re
import shutil
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from metrics_database_cron_script_spark import get_spark

    s = get_spark("tests")
    yield s


# Kill points of the crash sweep (tests/test_crash_sweep.py), taken in the
# runs of `days`: name -> (run, pattern). The copy is taken after the
# first rename of that run (0 the bootstrap, 1 the next day) whose
# "<src> -> <dst>", relative to the state dir, matches the pattern.
CRASH_POINTS = {
    "boot_p7_edges_swap": (0, r"^phash_edges\.parquet\.tmp-\w+ -> phash_edges\.parquet$"),
    "boot_p8_index_swap": (0, r"^ivf_index\.parquet\.tmp-\w+ -> ivf_index\.parquet$"),
    "p2_first_tx_file": (1, r"^tx_enriched\.parquet\.stage-\w+/part-"),
    "p3_stats_swap": (1, r"^stats\.parquet -> stats\.parquet\.old-"),
    "p5_first_aum_file": (1, r"^sink_aum\.parquet\.stage-\w+/chain=\w+/part-"),
    "p6_rollup_swap": (1, r"^daily_rollup\.parquet -> daily_rollup\.parquet\.old-"),
    "p7_hashes_published": (1, r" -> phash_hashes\.parquet/_schema\.json$"),
    "p8_first_index_file": (1, r"^ivf_index\.parquet\.stage-\w+/cell=\d+/part-"),
    "before_watermark_commit": (1, r" -> ivf_frontier\.parquet/part-00000\.parquet$"),
    "p9_index_leaf_swap": (1, r"^ivf_index\.parquet/cell=\d+ -> ivf_index\.parquet\.__compact-"),
}


def _copy_state(src: str, dst: str) -> None:
    """Copy a state dir as it is on disk now. Spark tasks may still be
    writing staged dirs: files and dirs that vanish mid-copy are skipped
    (os.walk ignores a dir it can no longer list)."""
    for root, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(out, exist_ok=True)
        for name in files:
            with contextlib.suppress(FileNotFoundError):
                shutil.copy2(os.path.join(root, name), os.path.join(out, name))


@pytest.fixture(scope="session")
def days_and_kills(spark, tmp_path_factory):
    """A bootstrap and a next day at fixture scale. Day 0 holds the events
    up to a cut and the first ~70 % of documents and embeddings; day 1 is
    the whole fixture. Returns (day0 source dir, state after day 0, state
    after day 1, {kill point: state copy}); the state dirs are read-only
    for the tests. While the runs last, `state._rename` is faked: after
    each CRASH_POINTS rename lands, the whole state dir is copied, which is
    what a kill at that instant would leave. Renames hold one lock, so no
    pooled write renames mid-copy."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark import state as ST
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources import load_table

    root = tmp_path_factory.mktemp("markers")
    day0 = str(root / "day0")
    events = load_table(spark, SF_SMOKE, "events")
    events.filter(F.col("ts") <= F.lit(datetime.datetime(2024, 1, 15))).write.parquet(
        f"{day0}/events.parquet"
    )
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        df = load_table(spark, SF_SMOKE, table)
        cut = df.agg(F.expr(f"percentile({key}, 0.7)")).collect()[0][0]
        df.filter(F.col(key) <= F.lit(int(cut))).write.parquet(f"{day0}/{table}.parquet")

    state = str(root / "state")
    kills: dict[str, str] = {}
    run = 0  # which run of the two is going: the kill points name it
    lock = threading.Lock()
    real = ST._rename

    def rename(src: str, dst: str) -> None:
        with lock:
            real(src, dst)
            moved = f"{os.path.relpath(src, state)} -> {os.path.relpath(dst, state)}"
            for name, (r, pattern) in CRASH_POINTS.items():
                if r == run and name not in kills and re.search(pattern, moved):
                    kills[name] = str(root / "kills" / name)
                    _copy_state(state, kills[name])

    ST._rename = rename
    try:
        run_batch(spark, day0, state)
        boot = str(root / "boot")
        shutil.copytree(state, boot)
        run = 1
        r = run_batch(spark, SF_SMOKE, state)
    finally:
        ST._rename = real
    assert r["tx_appended"] > 0
    assert r["image_dedup"]["batch_docs"] > 0
    assert r["embed_index"]["batch_vectors"] > 0
    return day0, boot, state, kills


@pytest.fixture(scope="session")
def days(days_and_kills):
    """(day0 source dir, state after day 0, state after day 1) of
    `days_and_kills`; both state dirs are read-only for the tests."""
    return days_and_kills[:3]


@pytest.fixture(autouse=True, scope="module")
def _release_dead_spark_blocks():
    """After each module, collect the frames it left unreferenced and run a
    JVM GC, so Spark's context cleaner drops their localCheckpoint and
    broadcast blocks. Without this, storage memory held by earlier modules
    is freed only whenever a GC happens to run, and a later module's
    execution memory depends on that timing."""
    yield
    import gc

    from pyspark import SparkContext

    gc.collect()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc._jvm.System.gc()


def spark_job_ids(spark) -> set[int]:
    """Ids of the jobs in Spark's status store (ids count up from 0), once
    the listener bus has delivered every submitted job to it."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = getattr(sc._jvm, "scala.jdk.javaapi.CollectionConverters")
    jobs = conv.asJava(sc._jsc.sc().statusStore().jobsList(None))
    return {j.jobId() for j in jobs}


@contextlib.contextmanager
def set_confs(spark, **kv):
    """Set SQL confs for a block and restore prior values on exit; `__` in
    a kwarg name stands for `.` (spark__sql__cbo__enabled). Shared by the
    planner-evidence suites (AQE/DPP/runtime-filter/CBO)."""
    old = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, str(v))
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)
