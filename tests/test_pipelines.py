"""Pipeline semantics: idempotency (run-twice no-op), watermark progression,
crash-safe ordering — SURVEY.md §5.2."""

from __future__ import annotations

import datetime

import pytest

from tests.conftest import SF_SMOKE, spark_job_ids


@pytest.fixture()
def state_dir(tmp_path):
    return str(tmp_path / "state")


def test_run_batch_then_rerun_is_noop(spark, state_dir):
    import os

    from metrics_database_cron_script_spark.pipelines import APPEND_SINKS, run_batch

    def sink_rows():
        # a sink missing after a run reads as None, so one appearing in
        # the replay counts as a change too
        out = {}
        for name in APPEND_SINKS:
            path = os.path.join(state_dir, f"{name}.parquet")
            out[name] = (
                sorted(map(repr, spark.read.parquet(path).collect()))
                if os.path.isdir(path)
                else None
            )
        return out

    r1 = run_batch(spark, SF_SMOKE, state_dir)
    assert r1["prices_appended"] > 0
    assert r1["tx_appended"] > 0
    routing1 = r1["routing_appended"]
    assert routing1["nominations"] > 0 and routing1["aum"] > 0
    before = sink_rows()

    # Idempotency: identical input, watermark now advanced → nothing new.
    r2 = run_batch(spark, SF_SMOKE, state_dir)
    assert r2["prices_appended"] == 0
    assert r2["tx_appended"] == 0
    assert all(v == 0 for v in r2["routing_appended"].values())
    after = sink_rows()
    assert {n for n in APPEND_SINKS if after[n] != before[n]} == set()


def test_watermark_commits_last_and_advances(spark, state_dir):
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.state import Watermark

    wm = Watermark(spark, state_dir)
    assert wm.read() == Watermark.EPOCH
    r = run_batch(spark, SF_SMOKE, state_dir)
    assert wm.read() == r["watermark_out"] > Watermark.EPOCH


def test_partial_batch_then_full(spark, state_dir, tmp_path):
    """Crash-replay: a run that processed only pre-cutoff data, then a full
    run — union of appends must equal one clean full run (exactly-once)."""
    from metrics_database_cron_script_spark.pipelines import run_batch

    cut = datetime.datetime(2024, 1, 15)
    r1 = run_batch(spark, SF_SMOKE, state_dir, run_ts=cut)
    r2 = run_batch(spark, SF_SMOKE, state_dir)

    clean_dir = str(tmp_path / "clean")
    rc = run_batch(spark, SF_SMOKE, clean_dir)

    for sink in ("sink_nominations", "sink_amountstaked", "sink_aum", "tx_enriched"):
        a = spark.read.parquet(f"{state_dir}/{sink}.parquet")
        b = spark.read.parquet(f"{clean_dir}/{sink}.parquet")
        assert a.count() == b.count(), sink
        assert a.select("event_id").subtract(b.select("event_id")).count() == 0, sink


def test_tx_enrich_raises_on_missing_price_day(spark, tmp_path):
    """Invariant I3 (SURVEY.md §8.P2): the reference crashes on a tx whose
    day has no price row; our engine must fail loudly, not drop silently."""
    import datetime

    import pytest as _pytest
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import (
        update_prices,
        update_tx_enriched,
    )
    from metrics_database_cron_script_spark.operators.reference_ops import daily_price_dim
    from metrics_database_cron_script_spark.sources import load_table

    state = str(tmp_path / "state")
    events = load_table(spark, SF_SMOKE, "events")
    # a price dim missing the final day of data
    partial_dim = daily_price_dim(events.filter(F.to_date("ts") < "2024-01-30"))
    update_prices(spark, events, state, price_source=partial_dim)
    with _pytest.raises(AssertionError, match="price dim incomplete"):
        update_tx_enriched(spark, events, state, datetime.datetime(2024, 1, 15))


def test_rollup_maintained_incrementally_and_exactly(spark, state_dir):
    """P6: after a batch, the persisted rollup must EQUAL the from-scratch
    daily aggregate (the defining invariant of incremental view
    maintenance), and a re-run must touch zero days and change nothing."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.reference_ops import daily_rollup
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources import load_table

    r1 = run_batch(spark, SF_SMOKE, state_dir)
    assert r1["rollup_days_touched"] > 0
    path = state_dir + "/daily_rollup.parquet"

    def canon(df):
        return sorted(
            (str(r["day"]), r["n"], round(r["sum_value"], 6), r["min_value"], r["max_value"])
            for r in df.collect()
        )

    got = canon(spark.read.parquet(path))
    want = canon(daily_rollup(load_table(spark, SF_SMOKE, "events")))
    assert got == want

    r2 = run_batch(spark, SF_SMOKE, state_dir)
    assert r2["rollup_days_touched"] == 0
    assert canon(spark.read.parquet(path)) == got


def test_rollup_merges_two_half_batches_to_the_same_result(spark, state_dir, tmp_path):
    """Split the fixture at its midpoint watermark and run two batches; the
    merged rollup must equal the single-batch rollup bit-for-bit on counts
    and to 6dp on sums (state stays unrounded, so two merges cannot drift)."""
    import datetime

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.reference_ops import daily_rollup
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    # NTZ → LTZ → double (NTZ rejects numeric casts; session TZ is pinned UTC)
    mid = ev.agg(
        F.expr("percentile(cast(cast(ts as timestamp) as double), 0.5)")
    ).collect()[0][0]
    mid_ts = datetime.datetime.utcfromtimestamp(mid)

    run_batch(spark, SF_SMOKE, state_dir, run_ts=mid_ts)
    r2 = run_batch(spark, SF_SMOKE, state_dir)
    assert r2["rollup_days_touched"] > 0  # second half actually merged

    def canon(df):
        return sorted(
            (str(r["day"]), r["n"], round(r["sum_value"], 6))
            for r in df.collect()
        )

    got = canon(spark.read.parquet(state_dir + "/daily_rollup.parquet"))
    want = canon(daily_rollup(ev))
    assert got == want


def test_image_dedup_incremental_equals_full_and_replays(spark, state_dir, tmp_path):
    """P7 (round 9): the daily driver's incremental image-dedup state must
    (a) after a batch refresh EQUAL the from-scratch phash_star_state over
    the full corpus (the IVM invariant, hub displacement included), (b) be
    a no-op on replay (frontier unmoved, edge state identical), and (c)
    recover from the crash window where edges committed but the hash-store
    frontier did not — the replayed batch must reproduce the same edges."""
    import shutil

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.functions import multimodal as M
    from metrics_database_cron_script_spark.pipelines import update_image_dedup
    from metrics_database_cron_script_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    split = docs.agg(F.expr("percentile(doc_id, 0.7)")).collect()[0][0]
    day0 = str(tmp_path / "day0")
    docs.filter(F.col("doc_id") <= split).write.parquet(day0 + "/documents.parquet")

    r0 = update_image_dedup(spark, day0, state_dir)
    assert r0["bootstrap_docs"] > 0

    # simulate the crash window later: snapshot the pre-batch hash store
    # AND the frontier marker (round 10 — the marker commits after the
    # store, so any crash before the store completed also leaves the
    # marker at its pre-batch value)
    hashes_p = state_dir + "/phash_hashes.parquet"
    edges_p = state_dir + "/phash_edges.parquet"
    frontier_p = state_dir + "/phash_frontier.parquet"
    pre_store = str(tmp_path / "store-backup")
    pre_frontier = str(tmp_path / "frontier-backup")
    shutil.copytree(hashes_p, pre_store)
    shutil.copytree(frontier_p, pre_frontier)

    r1 = update_image_dedup(spark, SF_SMOKE, state_dir)
    assert r1["batch_docs"] > 0 and r1["hashes_appended"] == r1["batch_docs"]

    def canon_edges(df):
        return sorted(
            (r["chunk_id"], r["chunk"], r["doc_a"], r["doc_b"], r["hamming"])
            for r in df.collect()
        )

    got = canon_edges(spark.read.parquet(edges_p))
    full_hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(docs))
    want = canon_edges(M.phash_star_state(full_hashes)[2])
    assert got == want and len(got) > 0

    # replay: same source, frontier already advanced → no-op
    r2 = update_image_dedup(spark, SF_SMOKE, state_dir)
    assert r2 == {"batch_docs": 0, "hashes_appended": 0}
    assert canon_edges(spark.read.parquet(edges_p)) == got

    # crash window: edges/chunks committed, hash store (and therefore the
    # marker, which commits after it) NOT advanced — the replay re-runs
    # the batch against the already-refreshed edge state and must
    # converge to the identical result
    shutil.rmtree(hashes_p)
    shutil.copytree(pre_store, hashes_p)
    shutil.rmtree(frontier_p)
    shutil.copytree(pre_frontier, frontier_p)
    r3 = update_image_dedup(spark, SF_SMOKE, state_dir)
    assert r3["batch_docs"] == r1["batch_docs"]
    assert canon_edges(spark.read.parquet(edges_p)) == got


def test_run_batch_reports_image_dedup_and_skips_eventsonly_dirs(
    spark, state_dir, tmp_path
):
    """run_batch carries P7: with a documents table the first run
    bootstraps image state under state_dir and the second is a frontier
    no-op; an events-only source dir (the P1–P6 state-replay shape) skips
    with a note instead of failing."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources import load_table

    r1 = run_batch(spark, SF_SMOKE, state_dir)
    assert r1["image_dedup"]["bootstrap_docs"] > 0
    import os

    for rel in ("phash_chunks", "phash_hashes", "phash_edges"):
        assert os.path.isdir(state_dir + f"/{rel}.parquet")
    r2 = run_batch(spark, SF_SMOKE, state_dir)
    assert r2["image_dedup"] == {"batch_docs": 0, "hashes_appended": 0}

    events_only = str(tmp_path / "eventsonly")
    load_table(spark, SF_SMOKE, "events").limit(50).write.parquet(
        events_only + "/events.parquet"
    )
    r3 = run_batch(spark, events_only, str(tmp_path / "state2"))
    assert r3["image_dedup"] == {"skipped": "no documents table"}


def test_rollup_survives_crash_before_watermark_commit(spark, state_dir):
    """Crash window: the rollup overwrite succeeded but the run died before
    the watermark commit. The replayed run re-derives the same interval —
    the rollup's own in-state `merged_through` frontier must make that
    replay a no-op instead of double-merging (the watermark alone cannot:
    it is committed last, after all sinks)."""
    import datetime

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import update_rollup
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.state import Watermark

    ev = load_table(spark, SF_SMOKE, "events")
    run_ts = ev.agg(F.max("ts")).collect()[0][0]
    import os

    os.makedirs(state_dir, exist_ok=True)
    n1 = update_rollup(spark, ev, state_dir, run_ts)
    assert n1 > 0
    before = sorted(
        (str(r["day"]), r["n"]) for r in spark.read.parquet(
            state_dir + "/daily_rollup.parquet"
        ).collect()
    )
    # replay of the same interval — the crash-before-watermark-commit scenario
    n2 = update_rollup(spark, ev, state_dir, run_ts)
    assert n2 == 0
    after = sorted(
        (str(r["day"]), r["n"]) for r in spark.read.parquet(
            state_dir + "/daily_rollup.parquet"
        ).collect()
    )
    assert after == before


def test_run_batch_empty_source_is_a_noop(spark, tmp_path):
    """Regression: an empty events table must neither crash on missing
    price state nor commit a NULL watermark (which would filter out every
    future row forever)."""
    import os

    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.state import Watermark

    empty_sf = str(tmp_path / "sf_empty")
    os.makedirs(empty_sf)
    load_table(spark, SF_SMOKE, "events").limit(0).write.parquet(
        f"{empty_sf}/events.parquet"
    )
    state = str(tmp_path / "state")
    report = run_batch(spark, empty_sf, state)
    assert report.get("empty_source") is True
    assert Watermark(spark, state).read() == Watermark.EPOCH


def test_routing_first_touch_replay_deterministic(spark, tmp_path):
    """Regression: first-touch derives from the watermark-fenced immutable
    source, so a partially-published AUM sink (crash mid-rename) must not
    change the replayed row set — the replay restores exactly the clean
    run's sink."""
    import datetime
    import os

    from metrics_database_cron_script_spark.pipelines import update_routing
    from metrics_database_cron_script_spark.sources import load_table

    events = load_table(spark, SF_SMOKE, "events")
    wm = datetime.datetime(2024, 1, 15)

    clean = str(tmp_path / "clean")
    update_routing(spark, events, clean, wm)
    expect = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{clean}/sink_aum.parquet").collect()
    )

    crashed = str(tmp_path / "crashed")
    update_routing(spark, events, crashed, wm)
    # simulate a partial publish: drop one chain partition's files entirely
    aum = f"{crashed}/sink_aum.parquet"
    victim = next(
        os.path.join(aum, d) for d in os.listdir(aum) if d.startswith("chain=")
    )
    import shutil

    shutil.rmtree(victim)
    # replay with the SAME watermark (it never advanced)
    update_routing(spark, events, crashed, wm)
    got = sorted(tuple(r) for r in spark.read.parquet(aum).collect())
    assert got == expect


def test_stats_replay_tie_breaks_to_new_row(spark, tmp_path):
    """Regression: a replayed update_stats with the same explicit run_ts
    over changed data must keep the REGENERATED stats row, not an
    arbitrary survivor of the orderBy tie."""
    import datetime

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import update_stats
    from metrics_database_cron_script_spark.sources import load_table

    state = str(tmp_path / "state")
    events = load_table(spark, SF_SMOKE, "events")
    ts = datetime.datetime(2024, 2, 1)
    update_stats(spark, events, state, ts)
    # "backfill": the data changed, replay with the SAME run_ts
    changed = events.filter(F.col("value") > 100.0)
    update_stats(spark, changed, state, ts)
    got = spark.read.parquet(f"{state}/stats.parquet")
    # the second (filtered) run must have won the tie deterministically
    from metrics_database_cron_script_spark.operators.reference_ops import tx_view

    expect = tx_view(changed).groupBy("chain").agg(F.sum("value").alias("s"))
    a = {r["chain"]: round(r["totalAmountStaked"], 6) for r in got.collect()}
    b = {r["chain"]: round(r["s"], 6) for r in expect.collect()}
    assert a == b


def test_run_batch_replay_noop_under_aqe(spark, state_dir, monkeypatch):
    """Round-7 regression: at SFXL scale (AQE gated ON) the REPLAY run's
    empty batch crashed the I3 observation gate — AQE's empty-relation
    propagation eliminated the CollectMetrics nodes and Observation.get
    died in a JVM assertion. The staged write now observes its row count
    and audit rules at the plan root (state._stage_audit_publish), which
    always resolves; this pins the replay no-op with AQE pinned on at
    fixture scale, and that the append leaves the session's
    excludedRules conf as it found it."""
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources.tables import (
        invalidate_caches,
    )

    monkeypatch.setenv("SPARK_GRAFT_AQE", "on")
    invalidate_caches()
    key = "spark.sql.adaptive.optimizer.excludedRules"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    try:
        r1 = run_batch(spark, SF_SMOKE, state_dir)
        assert r1["tx_appended"] > 0
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        r2 = run_batch(spark, SF_SMOKE, state_dir)  # crashed before the fix
        assert r2["tx_appended"] == 0
        assert r2["prices_appended"] == 0
        assert all(v == 0 for v in r2["routing_appended"].values())
    finally:
        monkeypatch.delenv("SPARK_GRAFT_AQE", raising=False)
        invalidate_caches()
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before, "excludedRules conf leaked out of the append"


def test_routing_seen_ledger_incremental_across_runs(spark, tmp_path):
    """Round 10: the persisted first-touch ledger must make run N+1 flag
    first_touch exactly like the old O(history) source derivation — a user
    whose first successful tx landed in run N is NOT first-touch in run
    N+1 — and the ledger itself must equal the source-derived seen set
    after each committed run."""
    import datetime

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import update_routing
    from metrics_database_cron_script_spark.operators.reference_ops import tx_view
    from metrics_database_cron_script_spark.sources import load_table

    events = load_table(spark, SF_SMOKE, "events")
    wm1 = datetime.datetime(2024, 1, 10)
    wm2 = datetime.datetime(2024, 1, 20)
    state = str(tmp_path / "state")

    update_routing(spark, events, state, wm1)   # bootstrap + batch (wm1, ...]
    # sabotage-resistant check: ledger == source-derived first touches
    ledger = spark.read.parquet(f"{state}/seen_users.parquet")
    want = (
        tx_view(events)
        .filter(F.col("successful"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    assert sorted(map(tuple, ledger.collect())) == sorted(map(tuple, want.collect()))

    # now rewind to a mid-state and advance: run over (wm1, wm2], then
    # (wm2, ...] — the second run must flag NO user already seen <= wm2
    state2 = str(tmp_path / "state2")
    early = events.filter(F.col("ts") <= F.lit(wm2))
    update_routing(spark, early, state2, wm1)
    r2 = update_routing(spark, events, state2, wm2)
    aum2 = spark.read.parquet(f"{state2}/sink_aum.parquet")
    # every user first-touched in run 1 (first_ts <= wm2) appears exactly
    # once as a stake-volume first-touch row across BOTH runs combined:
    # re-flagging in run 2 would produce a second row with a new event_id
    first_rows = (
        aum2.join(
            tx_view(events).filter(F.col("successful"))
            .groupBy("user_id").agg(F.min("event_id").alias("first_eid")),
            "user_id",
        )
        .filter(F.col("event_id") == F.col("first_eid"))
    )
    per_user = first_rows.groupBy("user_id").count().filter("count > 1")
    assert per_user.count() == 0
    assert r2["aum"] > 0
    # and the two-phase sink equals the single-run-from-scratch sink
    clean = str(tmp_path / "clean_all")
    update_routing(spark, events, clean, wm1)
    a = sorted(map(tuple, spark.read.parquet(f"{clean}/sink_aum.parquet").collect()))
    b = sorted(map(tuple, aum2.collect()))
    assert a == b


def test_embedding_index_incremental_replay_and_probe_equivalence(spark, tmp_path):
    """Round 10 (P8): the daily ANN-index maintenance must (a) bootstrap a
    cell-partitioned index and serve probes identical to a fresh
    same-centers probe over the full corpus, (b) append only the new
    vectors on the next day with the SAME frozen centers, (c) be a byte-
    identical no-op on replay, and (d) recover a crash-overlap partial
    publish without duplicating or losing rows."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.functions import similarity as S
    from metrics_database_cron_script_spark.pipelines import update_embedding_index
    from metrics_database_cron_script_spark.sources import load_table

    def tree_digest(root):
        h = hashlib.md5()
        for dp, _dn, fs in sorted(os.walk(root)):
            for f in sorted(fs):
                p = os.path.join(dp, f)
                h.update(os.path.relpath(p, root).encode())
                h.update(open(p, "rb").read())
        return h.hexdigest()

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cut = 400
    day0 = str(tmp_path / "day0")
    os.makedirs(day0)
    emb.filter(F.col("vec_id") <= cut).write.parquet(f"{day0}/embeddings.parquet")
    state = str(tmp_path / "state")
    os.makedirs(state)

    r0 = update_embedding_index(spark, day0, state)
    assert r0["bootstrap_vectors"] == cut + 1

    # (b) incremental append from the grown source, frozen centers
    r1 = update_embedding_index(spark, SF_SMOKE, state)
    total = emb.count()
    assert r1["batch_vectors"] == total - (cut + 1)
    idx = spark.read.parquet(f"{state}/ivf_index.parquet")
    assert idx.count() == total
    assert idx.select("vec_id").distinct().count() == total

    # (a)+(probe gate): served probe == fresh probe on the same frozen centers
    import json

    centers = json.load(open(f"{state}/ivf_index.parquet/_ivf_centers.json"))["centers"]
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    served = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in S.ivf_index_probe(
            spark, f"{state}/ivf_index.parquet", queries, k=5
        ).collect()
    }
    fresh = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in S.ivf_probe_matmul(
            S.ivf_assign_fixed(emb, centers), queries, centers, k=5
        ).collect()
    }
    assert served == fresh and len(served) > 0

    # (c) replay no-op: byte-identical index, frontier unchanged
    d_before = tree_digest(f"{state}/ivf_index.parquet")
    r2 = update_embedding_index(spark, SF_SMOKE, state)
    assert r2["batch_vectors"] == 0
    assert tree_digest(f"{state}/ivf_index.parquet") == d_before

    # (d) crash overlap: roll the frontier marker back (as if the append
    # published but the marker commit died) — replay must append nothing
    # new (fenced anti-join absorbs the already-published rows) and
    # converge to the same content
    from metrics_database_cron_script_spark.state import atomic_overwrite

    atomic_overwrite(
        spark.createDataFrame([(cut,)], "frontier long"),
        f"{state}/ivf_frontier.parquet",
    )
    r3 = update_embedding_index(spark, SF_SMOKE, state)
    assert r3["batch_vectors"] == 0  # all crash-window rows already present
    idx2 = spark.read.parquet(f"{state}/ivf_index.parquet")
    assert idx2.count() == total
    assert idx2.select("vec_id").distinct().count() == total


def test_embedding_index_bootstrap_on_empty_embeddings(spark, tmp_path):
    """P8 on an empty embeddings table bootstraps nothing: no index, no
    frontier, no error (a failing fit would stop run_batch before the
    watermark commit). The first day with vectors then bootstraps."""
    import os

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.pipelines import update_embedding_index
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    day0 = str(tmp_path / "day0")
    os.makedirs(day0)
    emb.limit(0).write.parquet(f"{day0}/embeddings.parquet")
    state = str(tmp_path / "state")
    os.makedirs(state)

    r0 = update_embedding_index(spark, day0, state)
    assert r0 == {"bootstrap_vectors": 0, "batch_vectors": 0}
    assert not os.path.exists(f"{state}/ivf_index.parquet")
    assert not os.path.exists(f"{state}/ivf_frontier.parquet")

    r1 = update_embedding_index(spark, SF_SMOKE, state)
    assert r1 == {"bootstrap_vectors": emb.count(), "batch_vectors": 0}
    frontier = spark.read.parquet(f"{state}/ivf_frontier.parquet").collect()
    assert frontier[0]["frontier"] == emb.agg(F.max("vec_id")).collect()[0][0]


def test_embedding_index_bootstrap_job_budget(spark, tmp_path):
    """P8's bootstrap is one aggregate (count and max vec_id), one sample
    collect for the driver-side fit and the cell-partitioned write; the
    frontier commit is driver-side file I/O: at most 4 Spark jobs. The
    MLlib fit it replaced ran 18, most of them k-means passes over the
    sample."""
    from metrics_database_cron_script_spark.pipelines import update_embedding_index

    state = str(tmp_path / "state")
    before = max(spark_job_ids(spark), default=-1)
    r = update_embedding_index(spark, SF_SMOKE, state)
    ran = [j for j in spark_job_ids(spark) if j > before]
    assert r["bootstrap_vectors"] > 0
    assert len(ran) <= 4, f"P8 bootstrap ran {len(ran)} jobs"


def test_stats_incremental_matches_full_recompute_and_survives_crash(spark, tmp_path):
    """Round 10: P3's running totals maintain incrementally through the
    stats ledger — (a) two fenced runs must equal the one-shot full
    recompute to float-increment tolerance, (b) a crash-replay (ledger row
    published, watermark not advanced) must regenerate the identical
    stats row and not double-count, and (c) the daily cost carries no
    full-history aggregate (the batch scan is watermark-fenced)."""
    import datetime

    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.reference_ops import tx_view
    from metrics_database_cron_script_spark.pipelines import update_stats
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.state import Watermark

    events = load_table(spark, SF_SMOKE, "events")
    wm1 = datetime.datetime(2024, 1, 15)
    ts1 = datetime.datetime(2024, 1, 15)
    ts2 = datetime.datetime(2024, 3, 1)

    # (a) two-phase: bootstrap through wm1, then increment the tail
    state = str(tmp_path / "state")
    early = events.filter(F.col("ts") <= F.lit(wm1))
    update_stats(spark, early, state, ts1, Watermark.EPOCH)
    update_stats(spark, events, state, ts2, wm1)
    got = {
        r["chain"]: (r["totalAmountCurrentlyManaged"], r["totalAmountStaked"])
        for r in spark.read.parquet(f"{state}/stats.parquet").collect()
    }
    want = {
        r["chain"]: (r["acm"], r["staked"])
        for r in tx_view(events)
        .groupBy("chain")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
            ).alias("acm"),
            F.sum("value").alias("staked"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for c in want:
        for g, w in zip(got[c], want[c]):
            assert abs(g - w) <= 1e-6 * max(1.0, abs(w)), (c, g, w)

    # (b) crash-replay: ledger row for ts2 exists, watermark still wm1 →
    # rerun regenerates the same totals, ledger append dedups, stats
    # content unchanged
    before = sorted(map(tuple, spark.read.parquet(f"{state}/stats.parquet").collect()))
    ledger_n = spark.read.parquet(f"{state}/stats_ledger.parquet").count()
    update_stats(spark, events, state, ts2, wm1)
    after = sorted(map(tuple, spark.read.parquet(f"{state}/stats.parquet").collect()))
    assert after == before
    assert spark.read.parquet(f"{state}/stats_ledger.parquet").count() == ledger_n

    # (c) next-day run from the committed frontier: base comes from the
    # ledger, the batch window is empty → totals unchanged
    ts3 = datetime.datetime(2024, 4, 1)
    update_stats(spark, events, state, ts3, ts2)
    final = {
        r["chain"]: (r["totalAmountCurrentlyManaged"], r["totalAmountStaked"])
        for r in spark.read.parquet(f"{state}/stats.parquet").collect()
    }
    assert final == got


def test_p9_compaction_bin_packs_sinks_and_preserves_replay(spark, state_dir):
    """Round 10 (P9): the daily driver's maintenance step must (a) leave
    low-file-count sinks alone on a normal run, (b) bin-pack a sink whose
    file count crossed the trigger with content bit-identical, and (c)
    leave the idempotency fences working — a replay after compaction still
    appends nothing."""
    from metrics_database_cron_script_spark.operators.maintenance import (
        parquet_file_count,
    )
    from metrics_database_cron_script_spark.pipelines import (
        run_batch,
        run_maintenance,
    )

    r1 = run_batch(spark, SF_SMOKE, state_dir)
    # fresh state dir: nothing should have enough files to trigger
    assert r1["compaction"] == {}

    sink = f"{state_dir}/tx_enriched.parquet"  # flat-layout sink
    # fragment the sink the way months of daily appends would: same
    # content, many tiny files (a mid-test append of new rows would have
    # to respect each sink's partitionBy layout; a rewrite sidesteps that)
    rows = spark.read.parquet(sink).collect()
    cur_rows = sorted(r["event_id"] for r in rows)
    import shutil as _sh

    _sh.rmtree(sink)
    spark.createDataFrame(rows).repartition(24).write.parquet(sink)
    spark.catalog.refreshByPath(sink)
    n_files = parquet_file_count(sink)
    assert n_files >= 16

    rep = run_maintenance(spark, state_dir)
    assert "tx_enriched" in rep
    assert rep["tx_enriched"]["files_after"] < rep["tx_enriched"]["files_before"]
    after_rows = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert after_rows == cur_rows

    # replay after compaction: fences intact, nothing appended, and the
    # maintenance step itself is a no-op now
    r2 = run_batch(spark, SF_SMOKE, state_dir)
    assert r2["prices_appended"] == 0
    assert r2["tx_appended"] == 0
    assert all(v == 0 for v in r2["routing_appended"].values())
    assert r2["compaction"] == {}


def test_run_batch_heals_crashed_compaction_before_reading_sinks(
    spark, state_dir, tmp_path
):
    """ADVICE r11 (high): a crash between compaction's two swap renames
    leaves a sink absent with its only copy under staging/old. If the next
    run's P1-P8 read (and recreate) the sink BEFORE healing, a later
    heal (state.recover) treats staging/old as superseded and
    deletes the sink's entire history. run_batch must heal at the START."""
    import datetime as _dt
    import os

    from metrics_database_cron_script_spark.pipelines import run_batch

    cut = _dt.datetime(2024, 1, 15)
    run_batch(spark, SF_SMOKE, state_dir, run_ts=cut)
    sink = f"{state_dir}/tx_enriched.parquet"
    pre_ids = {r["event_id"] for r in spark.read.parquet(sink).collect()}
    assert pre_ids

    # simulate the crash window: flat sink root renamed into staging/old,
    # replacement never landed
    staging = sink + ".__compact-deadbeef"
    os.makedirs(os.path.join(staging, "tmp"))
    os.makedirs(os.path.join(staging, "old"))
    os.rename(sink, os.path.join(staging, "old", "__root__"))
    assert not os.path.exists(sink)

    run_batch(spark, SF_SMOKE, state_dir)
    assert not os.path.exists(staging)

    # the sink must equal one clean uninterrupted history (heal-then-append),
    # not just the post-cut batch (recreate-then-reap = permanent data loss)
    clean_dir = str(tmp_path / "clean")
    run_batch(spark, SF_SMOKE, clean_dir)
    got = {r["event_id"] for r in spark.read.parquet(sink).collect()}
    want = {
        r["event_id"]
        for r in spark.read.parquet(f"{clean_dir}/tx_enriched.parquet").collect()
    }
    assert pre_ids <= got
    assert got == want
