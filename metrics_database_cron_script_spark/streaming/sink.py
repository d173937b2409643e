"""Streaming sinks into the engine's state layer via foreachBatch.

- `stream_to_idempotent_sink`: each micro-batch lands through
  `state.idempotent_append`, so the sink is exactly-once at the row level
  even across stream restarts and replayed batches (the checkpoint gives
  at-least-once delivery; the anti-join turns it into exactly-once — the
  same guarantee the reference fakes with per-row `find_one` probes,
  updatescript.py:62).
- `stream_rollup_maintenance`: an epoch-guarded aggregate merge into the
  daily rollup.

The keep-latest streaming sink into a `versioned.VersionedSnapshot`, with
its hash-bucketed partition-pruned merge, had no caller in the package; it
is in git history at 65b28ee."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metrics_database_cron_script_spark.state import idempotent_append
from metrics_database_cron_script_spark.streaming.structured import read_events_stream


def stream_to_idempotent_sink(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    key: str = "event_id",
    query_name: str = "stream_sink",
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain the events stream into an idempotent parquet sink. Returns the
    number of rows in the sink afterwards."""
    events = read_events_stream(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        idempotent_append(batch_df, sink_path, key=key)

    q = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import os

    # an all-empty stream publishes nothing (staged append drops empty
    # batches) — the sink legitimately doesn't exist yet
    return (
        spark.read.parquet(sink_path).count() if os.path.exists(sink_path) else 0
    )


def stream_rollup_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_path: str,
    checkpoint_dir: str,
    query_name: str = "stream_rollup",
    max_files_per_trigger: int | None = None,
    money: bool = False,
) -> DataFrame:
    """Streaming twin of pipelines.update_rollup (P6): maintain the standing
    daily rollup from the events stream via foreachBatch.

    `money=True` runs sum_value in DECIMAL(28,18) (daily_rollup's money
    mode): decimal addition is order-independent, so the maintained rollup
    equals the batch aggregate EXACTLY — no float accumulation-order
    tolerance — regardless of micro-batch boundaries (round-9: removes the
    1e-9 sum_value carve-out from the streaming/batch equality claim).

    An aggregate MERGE is not idempotent (a replayed micro-batch silently
    double-counts — no key to anti-join on), and foreachBatch is only
    at-least-once, so each merge is guarded by the batch's epoch_id. The
    epoch rides INSIDE the state table (a constant `epoch` column), so the
    state and its progress marker commit in the SAME atomic directory swap —
    no window where one is written and the other is not. A replayed epoch
    (epoch_id ≤ max committed) is skipped whole.

    Epoch ids are only meaningful WITHIN one checkpoint lineage — a fresh
    checkpoint restarts them at 0, and trusting them across lineages would
    silently skip real data (the first batch of a new checkpoint re-reads
    everything under epoch 0). The state therefore records the streaming
    query's stable id (the UUID Spark persists in `<checkpoint>/metadata`),
    NOT the checkpoint path: wiping and recreating a checkpoint at the same
    path mints a new UUID, so the guard still refuses — a path-keyed guard
    would match and silently skip the whole replay. Either keep the
    checkpoint, or drop the state and rebuild.

    Returns the final rollup (without the guard columns)."""
    from metrics_database_cron_script_spark.operators.reference_ops import (
        daily_rollup,
        merge_daily_rollups,
    )
    from metrics_database_cron_script_spark.state import atomic_overwrite, read_or_empty

    from pyspark.sql import functions as F

    sum_type = "decimal(28,18)" if money else "double"
    schema = (
        f"day date, n bigint, sum_value {sum_type}, min_value double, "
        "max_value double, epoch bigint, lineage string"
    )
    guard_cols = ["epoch", "lineage"]

    def _query_id() -> str:
        # Spark writes `<checkpoint>/metadata` ({"id": "<uuid>"}) when the
        # query starts, before the first micro-batch, and REUSES it on
        # restart from the same checkpoint — so by batch time it always
        # exists, and a wiped/recreated checkpoint carries a fresh UUID.
        # checkpointLocation accepts plain paths AND URIs (file:/, hdfs:/,
        # s3a:/ …): local forms read directly, remote schemes go through
        # the same Hadoop FileSystem Spark itself uses.
        import json
        import os as _os
        from urllib.parse import urlparse

        parsed = urlparse(checkpoint_dir)
        if parsed.scheme in ("", "file"):
            local = parsed.path if parsed.scheme == "file" else checkpoint_dir
            with open(_os.path.join(local, "metadata")) as f:
                return str(json.load(f)["id"])
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "metadata")
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        stream = fs.open(jpath)
        try:
            data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return str(json.loads(data)["id"])

    # the query id is constant for the run; resolving it per micro-batch
    # re-reads the checkpoint metadata (a remote FS round-trip on
    # hdfs://s3a checkpoints) for an invariant string — cache on first use
    qid_cache: list[str] = []

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        snap_full = read_or_empty(spark, state_path, schema)
        # Money-mode guard: merge_daily_rollups adopts the SNAPSHOT's
        # sum_value type (reference_ops.merge_daily_rollups), so merging
        # decimal deltas into a pre-existing double snapshot would silently
        # cast them to double and void the documented exactness guarantee.
        # Fail fast with a migration hint instead.
        snap_type = snap_full.schema["sum_value"].dataType.simpleString()
        if snap_type != sum_type:
            raise ValueError(
                f"rollup state at {state_path} stores sum_value as "
                f"{snap_type} but money={money} requires {sum_type} — "
                "merging would adopt the snapshot's type and silently lose "
                f"{'decimal exactness' if money else 'the double layout'}. "
                "Migrate the snapshot (cast sum_value and atomic_overwrite) "
                "or rerun with the matching money mode."
            )
        head = snap_full.agg(
            F.max("epoch").alias("e"), F.max("lineage").alias("l")
        ).collect()[0]
        if not qid_cache:
            qid_cache.append(_query_id())
        qid = qid_cache[0]
        # Migration: state written before the lineage guard switched from
        # checkpoint PATH to query UUID stores the path. With the original
        # checkpoint still in place that state is intact — accept the legacy
        # value once; the merge below rewrites lineage to the query id, so
        # the next batch compares UUIDs again. (A recreated checkpoint at
        # the same path carries a fresh UUID *in its metadata*, which the
        # epoch guard can't see under path-lineage — but a recreated
        # checkpoint also replays from scratch, and the epoch monotonicity
        # check below rejects the replayed epochs, so the legacy window is
        # no weaker than the code that wrote that state.)
        legacy = head["l"] == checkpoint_dir
        if head["l"] is not None and head["l"] != qid and not legacy:
            raise ValueError(
                f"rollup state at {state_path} was built under streaming "
                f"query lineage {head['l']!r}; this run's checkpoint "
                f"({checkpoint_dir!r}) carries query id {qid!r} — a fresh or "
                "recreated checkpoint restarts epoch ids at 0, so continuing "
                "would silently drop the replay. Keep the original checkpoint "
                "or delete the state to rebuild from scratch."
            )
        if head["e"] is not None and epoch_id <= head["e"]:
            return  # replayed epoch: merging again would double-count
        merged = (
            merge_daily_rollups(
                snap_full.drop(*guard_cols), daily_rollup(batch_df, money=money)
            )
            .withColumn("epoch", F.lit(epoch_id).cast("long"))
            .withColumn("lineage", F.lit(qid))
        )
        atomic_overwrite(merged, state_path)  # merged reads state_path: allowed

    import os

    # Inverse lineage mismatch: an EXISTING checkpoint with committed
    # progress but ABSENT/empty state means the source files it already
    # committed will never replay — "rebuilding" that way silently loses
    # all prior history. Refuse up front, symmetrical to the in-batch
    # lineage check.
    commits_dir = os.path.join(checkpoint_dir, "commits")
    has_commits = os.path.isdir(commits_dir) and any(
        not n.startswith(".") for n in os.listdir(commits_dir)
    )
    state_exists = os.path.isdir(state_path)
    if has_commits and not state_exists:
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} has committed progress but the "
            f"rollup state {state_path!r} is missing — restarting would "
            "rebuild from only post-restart data. Delete the checkpoint "
            "along with the state to rebuild from scratch."
        )

    events = read_events_stream(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger
    )
    q = (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # read_or_empty: a drained stream with zero micro-batches (empty source)
    # never created the state directory
    return read_or_empty(spark, state_path, schema).drop(*guard_cols)
