from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_stream_to_idempotent_sink_exactly_once(spark, tmp_path):
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.streaming.sink import (
        stream_to_idempotent_sink,
    )

    sink = str(tmp_path / "sink.parquet")
    total = load_table(spark, SF_SMOKE, "events").count()

    n1 = stream_to_idempotent_sink(
        spark, SF_SMOKE, sink, str(tmp_path / "ckpt1"), query_name="t_sink1"
    )
    assert n1 == total

    # replay with a FRESH checkpoint: the file source re-delivers everything;
    # the anti-join sink must not duplicate a single row
    n2 = stream_to_idempotent_sink(
        spark, SF_SMOKE, sink, str(tmp_path / "ckpt2"), query_name="t_sink2"
    )
    assert n2 == total
    ids = spark.read.parquet(sink).select("event_id").distinct().count()
    assert ids == total


def test_stream_rollup_matches_batch_and_skips_replayed_epochs(spark, tmp_path):
    """The epoch-guarded foreachBatch merge must (a) converge to the exact
    from-scratch daily rollup after draining the stream, and (b) be a no-op
    when an epoch is replayed (at-least-once delivery → exactly-once merge)."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.reference_ops import daily_rollup
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.streaming.sink import (
        stream_rollup_maintenance,
    )
    from tests.conftest import SF_SMOKE

    state = str(tmp_path / "rollup.parquet")
    got_df = stream_rollup_maintenance(
        spark, SF_SMOKE, state, str(tmp_path / "ckpt"), query_name="t_stream_rollup"
    )

    def canon(df):
        return sorted(
            (str(r["day"]), r["n"], round(r["sum_value"], 6))
            for r in df.collect()
        )

    want = canon(daily_rollup(load_table(spark, SF_SMOKE, "events")))
    assert canon(got_df) == want

    # A FRESH checkpoint over existing state must be refused loudly: its
    # epoch ids restart at 0, so trusting them would silently skip real
    # data (first batch re-reads everything under epoch 0).
    import pytest as _pytest

    with _pytest.raises(Exception) as ei:
        stream_rollup_maintenance(
            spark, SF_SMOKE, state, str(tmp_path / "ckpt2"),
            query_name="t_stream_rollup2",
        )
    assert "checkpoint" in str(ei.value)

    # Restarting under the SAME checkpoint is the supported replay path:
    # no new files → no batches → state unchanged.
    same = stream_rollup_maintenance(
        spark, SF_SMOKE, state, str(tmp_path / "ckpt"), query_name="t_stream_rollup3"
    )
    assert canon(same) == want


def test_stream_rollup_money_mode_exact_across_microbatches(spark, tmp_path):
    """money=True (round-9): sum_value rides DECIMAL(28,18) through every
    micro-batch merge, so the maintained rollup must equal the batch
    aggregate EXACTLY — no float tolerance — even with one-file triggers
    forcing many merge steps (the accumulation-order stress). Also pins
    the type contract: the returned sum_value is decimal(28,18), and the
    18-dp grid round-trips the double inputs' exact decimal expansions."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from metrics_database_cron_script_spark.operators.reference_ops import daily_rollup
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.streaming.sink import (
        stream_rollup_maintenance,
    )

    state = str(tmp_path / "rollup_money.parquet")
    got_df = stream_rollup_maintenance(
        spark, SF_SMOKE, state, str(tmp_path / "ckpt_money"),
        query_name="t_rollup_money", max_files_per_trigger=1, money=True,
    )
    assert got_df.schema["sum_value"].dataType == T.DecimalType(28, 18)

    def canon(df):
        return sorted(
            (str(r["day"]), r["n"], r["sum_value"], r["min_value"], r["max_value"])
            for r in df.collect()
        )

    want = canon(
        daily_rollup(load_table(spark, SF_SMOKE, "events"), money=True)
    )
    got = canon(got_df)
    assert got == want and len(got) > 1
    assert all(isinstance(r[2], Decimal) for r in got)


def test_stream_rollup_refuses_wiped_and_recreated_checkpoint(spark, tmp_path):
    """Ops wipes the checkpoint DIRECTORY CONTENTS but restarts at the same
    path: epoch ids restart at 0 while the state's committed max is high, so
    a path-keyed guard would silently skip the entire replay. The lineage is
    bound to the streaming query's stable UUID (minted fresh when the
    checkpoint is recreated), so this must refuse loudly."""
    import shutil

    import pytest

    from metrics_database_cron_script_spark.streaming.sink import (
        stream_rollup_maintenance,
    )

    state = str(tmp_path / "rollup.parquet")
    ckpt = str(tmp_path / "ckpt")
    stream_rollup_maintenance(
        spark, SF_SMOKE, state, ckpt, query_name="t_wiped_ckpt1"
    )

    shutil.rmtree(ckpt)  # same path, fresh contents → fresh query UUID

    with pytest.raises(Exception) as ei:
        stream_rollup_maintenance(
            spark, SF_SMOKE, state, ckpt, query_name="t_wiped_ckpt2"
        )
    assert "lineage" in str(ei.value) or "query id" in str(ei.value)


def test_stream_rollup_accepts_legacy_path_lineage_once(spark, tmp_path):
    """Migration path: state written by the pre-UUID guard stores the
    checkpoint PATH in `lineage`. Restarting over its original (path-equal)
    checkpoint must be ACCEPTED — refusing would force a full state rebuild
    for every pre-existing deployment — while remaining exactly-once (the
    epoch guard still rejects the replayed epochs). A wiped checkpoint at a
    DIFFERENT path still refuses."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.reference_ops import daily_rollup
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.state import atomic_overwrite
    from metrics_database_cron_script_spark.streaming.sink import (
        stream_rollup_maintenance,
    )

    state = str(tmp_path / "rollup.parquet")
    ckpt = str(tmp_path / "ckpt")
    stream_rollup_maintenance(spark, SF_SMOKE, state, ckpt, query_name="t_legacy1")

    # simulate legacy state: lineage column holds the checkpoint PATH
    legacy = spark.read.parquet(state).withColumn("lineage", F.lit(ckpt))
    atomic_overwrite(legacy.localCheckpoint(eager=True), state)

    # recreated checkpoint at the SAME path (the legacy world's lineage key):
    # accepted, and the epoch guard keeps the replay from double-merging
    shutil.rmtree(ckpt)
    got = stream_rollup_maintenance(
        spark, SF_SMOKE, state, ckpt, query_name="t_legacy2"
    )
    want = sorted(
        (str(r["day"]), r["n"], round(r["sum_value"], 6))
        for r in daily_rollup(load_table(spark, SF_SMOKE, "events")).collect()
    )
    assert sorted(
        (str(r["day"]), r["n"], round(r["sum_value"], 6)) for r in got.collect()
    ) == want

    # a different checkpoint path matches neither the UUID nor the legacy
    # path value -> still refused loudly
    with pytest.raises(Exception) as ei:
        stream_rollup_maintenance(
            spark, SF_SMOKE, state, str(tmp_path / "other_ckpt"),
            query_name="t_legacy3",
        )
    assert "lineage" in str(ei.value) or "query id" in str(ei.value)


def test_stream_to_idempotent_sink_empty_stream_returns_zero(spark, tmp_path):
    """Regression: an all-empty stream publishes nothing (staged append
    drops empty batches), so the sink never exists — the drain must
    return 0, not crash on the final read."""
    import os

    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.streaming.sink import (
        stream_to_idempotent_sink,
    )

    empty_sf = str(tmp_path / "sf_empty")
    os.makedirs(empty_sf)
    load_table(spark, SF_SMOKE, "events").limit(0).write.parquet(
        f"{empty_sf}/events.parquet"
    )
    sink = str(tmp_path / "sink.parquet")
    n = stream_to_idempotent_sink(
        spark, empty_sf, sink, str(tmp_path / "ckpt"), query_name="t_sink_e"
    )
    assert n == 0
    assert not os.path.exists(sink)


def test_stream_rollup_money_mode_mismatch_refuses(spark, tmp_path):
    """Round 10 (ADVICE): merging decimal deltas into a pre-existing
    DOUBLE-typed snapshot would adopt the snapshot's type (merge_daily_rollups
    keeps the snapshot's sum_value dtype) and silently void the money-mode
    exactness guarantee — the run must fail fast with a migration hint, in
    BOTH directions."""
    import pytest

    from metrics_database_cron_script_spark.streaming.sink import (
        stream_rollup_maintenance,
    )

    state = str(tmp_path / "rollup.parquet")
    stream_rollup_maintenance(
        spark, SF_SMOKE, state, str(tmp_path / "ckpt1"), query_name="t_money1"
    )  # builds a double-typed snapshot

    with pytest.raises(Exception) as ei:
        stream_rollup_maintenance(
            spark, SF_SMOKE, state, str(tmp_path / "ckpt2"),
            query_name="t_money2", money=True,
        )
    assert "sum_value" in str(ei.value) and "money" in str(ei.value)
