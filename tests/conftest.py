from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from metrics_database_cron_script_spark import get_spark

    s = get_spark("tests")
    yield s


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
