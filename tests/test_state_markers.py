"""Control-plane markers (state.py): schema-marked state reads, driver-side
scalar markers, legacy (unmarked, Spark-written) state carried forward, and
a killed marker commit that never leaves the marker absent."""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from tests.conftest import SF_SMOKE, spark_job_ids

# the one-row markers and their column
SCALARS = {"watermark": "lastUpdated", "phash_frontier": "frontier", "ivf_frontier": "frontier"}


def _tables(state: str) -> list[str]:
    return sorted(n[: -len(".parquet")] for n in os.listdir(state) if n.endswith(".parquet"))


def _rows(df) -> list[str]:
    """Order-free row content; floats to 10 significant digits, so sums
    merged in another order still compare equal."""

    def norm(v):
        return float(f"{v:.10g}") if isinstance(v, float) else v

    return sorted(repr(tuple(norm(v) for v in r)) for r in df.collect())


def test_read_state_schema_matches_footer_inference(spark, days):
    """Every state table a bootstrap and a next day write carries a
    schema marker, and reading with it gives the schema footer inference
    gives: the same columns, in the same order, of the same types
    (partition columns last)."""
    from metrics_database_cron_script_spark.state import SCHEMA_MARKER, read_state

    _day0, _boot, state = days
    tables = _tables(state)
    assert {"prices", "tx_enriched", "stats", "daily_rollup", "sink_aum",
            "seen_users", "phash_edges", "ivf_index"} <= set(tables)
    for name in tables:
        if name in SCALARS:
            continue
        path = f"{state}/{name}.parquet"
        assert os.path.isfile(f"{path}/{SCHEMA_MARKER}"), name
        got = [(f.name, f.dataType) for f in read_state(spark, path).schema]
        want = [(f.name, f.dataType) for f in spark.read.parquet(path).schema]
        assert got == want, name


def test_schema_marker_survives_compaction(spark, days, tmp_path):
    """P9 compaction keeps each sink's marker: hardlinked into the swapped
    root of a flat sink, untouched at the root of a partitioned one
    (`chain=`, `cell=`). Each sink is first re-appended in two disjoint
    batches so it has small files to pack; rows are unchanged and read
    back with the marker."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import run_maintenance
    from metrics_database_cron_script_spark.state import (
        SCHEMA_MARKER,
        idempotent_append,
        read_state,
    )

    state = str(tmp_path / "state")
    shutil.copytree(days[2], state)
    sinks = {"tx_enriched": ("event_id", None), "sink_aum": ("event_id", ["chain"]),
             "ivf_index": ("vec_id", ["cell"])}

    def marker(name):
        with open(f"{state}/{name}.parquet/{SCHEMA_MARKER}") as fh:
            return fh.read()

    before = {}
    for name, (key, parts) in sinks.items():
        path = f"{state}/{name}.parquet"
        df = read_state(spark, path)
        rows, schema = df.collect(), df.schema
        shutil.rmtree(path)
        batch = spark.createDataFrame(rows, schema)
        # both halves hold both key parities, so every partition leaf
        # gets files from each append
        for half in (F.col(key) % 4 < 2, F.col(key) % 4 >= 2):
            assert idempotent_append(batch.filter(half), path, key=key, partition_by=parts) > 0
        before[name] = (marker(name), _rows(read_state(spark, path)))

    report = run_maintenance(spark, state, trigger_files=2)
    for name in sinks:
        assert report[name]["files_after"] < report[name]["files_before"], name
        rows = _rows(read_state(spark, f"{state}/{name}.parquet"))
        assert (marker(name), rows) == before[name], name


def test_control_plane_runs_no_spark_job(spark, days, tmp_path):
    """Watermark read and commit, both frontier commits and reads, and a
    marked state read add no job to Spark's status store; an unmarked read
    of the same table does (its footer inference), so the count sees
    jobs."""
    from metrics_database_cron_script_spark.state import (
        Watermark,
        commit_scalar,
        read_scalar,
        read_state,
    )

    state = str(tmp_path / "state")
    shutil.copytree(days[2], state)
    before = max(spark_job_ids(spark), default=-1)
    wm = Watermark(spark, state)
    ts = wm.read() + datetime.timedelta(days=1)
    wm.commit(ts)
    assert wm.read() == ts
    for name in ("phash_frontier", "ivf_frontier"):
        path = f"{state}/{name}.parquet"
        hi = read_scalar(path, "frontier") + 1
        commit_scalar(path, "frontier", hi)
        assert read_scalar(path, "frontier") == hi
    for name in ("tx_enriched", "sink_aum", "daily_rollup"):
        assert read_state(spark, f"{state}/{name}.parquet").columns
    assert [j for j in spark_job_ids(spark) if j > before] == []

    spark.read.parquet(f"{state}/tx_enriched.parquet")
    assert [j for j in spark_job_ids(spark) if j > before]


def test_legacy_state_is_read_and_continued(spark, days, tmp_path):
    """State written before the markers existed: no `_schema.json`
    anywhere, and the watermark and frontiers as Spark part files. The
    replayed day reads the same watermark and frontiers and appends
    nothing, and the next day leaves every table equal to the
    uninterrupted run's."""
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.state import (
        SCALAR_FILE,
        SCHEMA_MARKER,
        read_scalar,
    )

    day0, boot, final = days
    legacy = str(tmp_path / "legacy")
    shutil.copytree(boot, legacy)
    for root, _dirs, files in os.walk(legacy):
        if SCHEMA_MARKER in files:
            os.unlink(os.path.join(root, SCHEMA_MARKER))
    for name, col in SCALARS.items():
        path = f"{legacy}/{name}.parquet"
        value = read_scalar(path, col)
        shutil.rmtree(path)
        kind = "timestamp" if isinstance(value, datetime.datetime) else "long"
        spark.createDataFrame([(value,)], f"{col} {kind}").write.parquet(path)
        assert SCALAR_FILE not in os.listdir(path)
        assert read_scalar(path, col) == read_scalar(f"{boot}/{name}.parquet", col)

    replay = run_batch(spark, day0, legacy)
    assert replay["prices_appended"] == 0 and replay["tx_appended"] == 0
    assert all(v == 0 for v in replay["routing_appended"].values())
    assert replay["rollup_days_touched"] == 0
    assert replay["image_dedup"] == {"batch_docs": 0, "hashes_appended": 0}
    assert replay["embed_index"]["batch_vectors"] == 0

    run_batch(spark, SF_SMOKE, legacy)
    assert _tables(legacy) == _tables(final)
    for name in _tables(final):
        a, b = f"{legacy}/{name}.parquet", f"{final}/{name}.parquet"
        if name in SCALARS:
            assert read_scalar(a, SCALARS[name]) == read_scalar(b, SCALARS[name]), name
        else:
            assert _rows(spark.read.parquet(a)) == _rows(spark.read.parquet(b)), name


@pytest.mark.parametrize("layout", ["driver", "spark"])
def test_killed_marker_commit_leaves_old_or_new_value(spark, tmp_path, monkeypatch, layout):
    """A marker commit killed before its `os.replace` leaves the old value,
    one killed after it (before the leftovers are unlinked) the new one;
    the marker path is never absent, and the next commit reaps what the
    killed ones left. Starts from either layout: a driver-written marker
    or a Spark-written one."""
    from metrics_database_cron_script_spark.state import SCALAR_FILE, commit_scalar, read_scalar

    path = str(tmp_path / "frontier.parquet")
    if layout == "spark":
        spark.createDataFrame([(5,)], "frontier long").write.parquet(path)
    else:
        commit_scalar(path, "frontier", 5)

    class Killed(Exception):
        pass

    def die(*_a, **_k):
        raise Killed

    with monkeypatch.context() as m:
        m.setattr(os, "replace", die)
        with pytest.raises(Killed):
            commit_scalar(path, "frontier", 6)
    assert read_scalar(path, "frontier") == 5
    assert [r["frontier"] for r in spark.read.parquet(path).collect()] == [5]

    with monkeypatch.context() as m:
        m.setattr(os, "unlink", die)
        with pytest.raises(Killed):
            commit_scalar(path, "frontier", 7)
    assert read_scalar(path, "frontier") == 7

    commit_scalar(path, "frontier", 8)
    assert os.listdir(path) == [SCALAR_FILE]
    assert read_scalar(path, "frontier") == 8
    assert [r["frontier"] for r in spark.read.parquet(path).collect()] == [8]
