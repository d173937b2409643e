"""SparkSession factory with scale-aware defaults.

Local test profile runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster minus the master/memory lines: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), UTC session
timezone (oracle comparability), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "metrics_database_cron_script_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Sized to the working set, not the 200 default: the rule is
        # ~64 MB/partition — thousands of partitions at 100 TB, single
        # digits at benchmark scale (per-task scheduling overhead dominates
        # sub-MB partitions; measured 1.5× on the sf0.1 headline set).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Keep AQE's parallelism-first coalescing (Spark's default): never
        # coalesce below total-core parallelism. Size-only coalescing
        # (parallelismFirst=false) collapses small shuffles to 1-2 partitions
        # and serializes sorts/windows — measured 10.5 s → 8.3 s on the sf0.1
        # headline set when switched back. At 100 TB partitions exceed the
        # 64 MB advisory anyway, so the setting only matters at the small end.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Accept subset co-partitioning for joins: a side already
        # hash-partitioned on a PREFIX of the join keys (e.g. the q21
        # order-window feeding a join on (orderkey, suppkey)) satisfies
        # clustering without a second fact-wide exchange. Spark's default
        # (true) would re-shuffle BOTH sides on the full key set — strictly
        # more data motion for plans that deliberately reuse one
        # partitioning across agg → window → join stages.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INT64 micros, not the INT96 legacy default: INT96 parquet carries
        # NO min/max column statistics, so a pushed timestamp predicate
        # (e.g. the append-sink frontier fence, state.idempotent_append)
        # can never skip a row group. Micros timestamps make watermark
        # filters metadata-prunable — on a 100 TB sink the fence scan
        # touches only the row groups overlapping the crash window.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Ad-hoc overrides for config experiments / site tuning:
    # SPARK_GRAFT_EXTRA_CONF="spark.foo=1;spark.bar=2"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    confs = {}
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        confs[k.strip()] = v.strip()
    # Python workers unpickle the package's functions (mapInPandas bodies,
    # Python data sources) by import path, so they need the package's
    # parent directory on their path even when the driver reached the
    # package through sys.path alone. A value set above is kept after it;
    # Spark itself adds the launching environment's PYTHONPATH.
    worker_path = confs.get(_WORKER_PATH)
    confs[_WORKER_PATH] = os.pathsep.join(filter(None, (_PACKAGE_ROOT, worker_path)))
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
