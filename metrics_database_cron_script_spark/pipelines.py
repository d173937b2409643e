"""The five reference pipelines (SURVEY.md §8 P1–P5) as one parameterized,
idempotent, crash-safe batch run.

Differences from the reference, by design (SURVEY.md §3/§7):
- ONE shared incremental scan feeds P2 and P5 (the reference re-scans,
  updatescript.py:59 vs :155);
- one parameterized pipeline handles both chains via the `chain` column
  (the reference duplicates ~100 LoC per chain, R24);
- the watermark commits LAST, after every sink succeeded (the reference
  commits it before step 5 — a crash there permanently skips data);
- every sink append is anti-join idempotent, and every durable effect is
  a rename through the state layer (state.py, durable effects) that
  `run_batch` heals on every table before any step reads, so a run killed
  at any point replays to the state an uninterrupted run leaves
  (tests/test_crash_sweep.py).

State layout under `state_dir`: `prices.parquet`, `tx_enriched.parquet`,
`stats.parquet`, `sink_nominations.parquet`, `sink_amountstaked.parquet`,
`sink_aum.parquet`, `seen_users.parquet` (first-touch ledger: user_id +
first_ts, watermark-fenced on read), `daily_rollup.parquet`
(incrementally merged, P6),
`phash_chunks.parquet` + `phash_hashes.parquet` + `phash_edges.parquet`
+ `phash_frontier.parquet` (incremental image near-dup state and its
frontier marker, P7), `ivf_index.parquet` + `ivf_frontier.parquet`
(cell-partitioned ANN index + its explicit frontier marker, P8),
`watermark.parquet`. The append sinks are bin-packed by the P9
compaction step (`run_maintenance`) once their file count crosses the
trigger — content-identical rewrites, so none of the fences/frontiers
above notice.

The control plane runs no Spark job: state tables are read with the
schema their writer marked (`state.read_state`), and the watermark and
frontier markers are one-row files committed and read on the driver
(`state.commit_scalar` / `state.read_scalar`).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metrics_database_cron_script_spark import state as ST
from metrics_database_cron_script_spark.operators import reference_ops as R
from metrics_database_cron_script_spark.sources import load_table


def _sink(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, f"{name}.parquet")


def update_prices(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    price_source: DataFrame | None = None,
) -> int:
    """P1: day-spine anti-join against the existing price table, append only
    missing days (updatescript.py:27-54). By default the 'fetch' is the daily
    avg from events (fixture stand-in for CoinGecko); pass `price_source`
    ({date, price}, e.g. from `sources.rest.rest_point_source` with the
    injected fetcher) to run the true REST-dimension path — driver-side
    fetch at day cardinality, broadcast into the plan (R6/R7)."""
    dim = price_source if price_source is not None else R.daily_price_dim(events)
    return ST.idempotent_append(dim, _sink(state_dir, "prices"), key="date")


def update_tx_enriched(
    spark: SparkSession, events: DataFrame, state_dir: str, watermark: datetime.datetime
) -> int:
    """P2: watermark scan → anti-join dedup → broadcast price join → dollar
    CASE → append (updatescript.py:57-108). Price rows come from the P1
    state table, as in the reference (step 2 depends on step 1)."""
    tx = R.tx_view(events.filter(F.col("ts") > F.lit(watermark)))
    # read_or_empty: with an all-empty source the prices sink legitimately
    # does not exist yet (staged appends publish nothing for 0 rows)
    price = ST.read_or_empty(
        spark, _sink(state_dir, "prices"), "date date, price double"
    )
    joined = tx.join(F.broadcast(price), F.to_date(tx["ts"]) == price["date"], "left")
    dollar = (
        F.when(~F.col("successful"), F.lit(0.0))
        .when(F.col("stake") == F.col("alreadyBonded"), F.col("stake") * F.col("price"))
        .otherwise(F.abs(F.col("stake") - F.col("alreadyBonded")) * F.col("price"))
    )
    enriched = joined.select(
        "event_id", "ts", "user_id", "chain", "successful", "stake",
        "alreadyBonded", "price", dollar.alias("txDollarValue"),
    )
    # Invariant I3: the reference crashes on a missing price day; we fail
    # loudly instead of dropping the tx. The LEFT join keeps such a tx
    # with a NULL price, and the append's audit rule counts those rows in
    # the observation that already carries its row count (the root of the
    # staged write — zero extra jobs). A violation aborts with
    # tx_enriched untouched, before anything is published.
    # Frontier fence (round 10): the batch is watermark-scanned over an
    # immutable source, so a sink row can only collide with a batch
    # event_id if its own ts > watermark — the anti-join needs the
    # crash-overlap window, not O(sink history). See idempotent_append.
    return ST.idempotent_append(
        enriched,
        _sink(state_dir, "tx_enriched"),
        key="event_id",
        audit={"price dim incomplete": F.col("price").isNotNull()},
        fence=F.col("ts") > F.lit(watermark),
    )


def update_stats(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    run_ts: datetime.datetime,
    watermark: datetime.datetime = ST.Watermark.EPOCH,
) -> None:
    """P3: one latest-snapshot stats row per chain (updatescript.py:111-147;
    the reference upserts over the first doc — keep-latest per chain here).

    Round 10: maintained INCREMENTALLY. The reference (and rounds 1-9)
    re-aggregated the FULL event history every run — at 100 TB that is a
    daily full-table scan for two running sums. The totals are plain
    associative sums, so they maintain exactly like the P6 rollup: a
    `stats_ledger.parquet` keeps one (chain, totals, through_ts) row per
    committed run; this run reads the base FENCED by
    `through_ts <= watermark` (rows a crashed run published carry
    through_ts > watermark and are excluded — the seen_users discipline),
    adds the batch window's sums (`ts > watermark`, the R2 scan), appends
    the new ledger row (fenced idempotent append — a crash replay
    regenerates the identical row and dedups), and snapshot-overwrites the
    user-facing stats table as before. O(batch) per run, one-time
    O(history) bootstrap when the ledger is missing. Increment order makes
    the float totals differ from a monolithic re-sum in the last ulp —
    run-to-run determinism (what the replay checks pin) is unaffected
    because base and delta are both deterministic. Assumes the immutable
    append-only source every pipeline here contracts on; a direct call
    without `watermark` degenerates to the old full recompute (EPOCH fence
    → empty base)."""
    ledger_p = _sink(state_dir, "stats_ledger")
    base_schema = (
        "chain string, totalAmountCurrentlyManaged double, "
        "totalAmountStaked double, through_ts timestamp"
    )
    base = ST.read_or_empty(spark, ledger_p, base_schema).filter(
        F.col("through_ts") <= F.lit(watermark)
    )
    w = Window.partitionBy("chain").orderBy(F.col("through_ts").desc())
    base = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "chain",
            F.col("totalAmountCurrentlyManaged").alias("__base_acm"),
            F.col("totalAmountStaked").alias("__base_staked"),
        )
    )
    tx = R.tx_view(events).filter(F.col("ts") > F.lit(watermark))
    delta = tx.groupBy("chain").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("__d_acm"),
        F.sum("value").alias("__d_staked"),
    )
    totals = (
        base.join(delta, "chain", "full_outer")
        .select(
            "chain",
            (
                F.coalesce(F.col("__base_acm"), F.lit(0.0))
                + F.coalesce(F.col("__d_acm"), F.lit(0.0))
            ).alias("totalAmountCurrentlyManaged"),
            (
                F.coalesce(F.col("__base_staked"), F.lit(0.0))
                + F.coalesce(F.col("__d_staked"), F.lit(0.0))
            ).alias("totalAmountStaked"),
        )
        .localCheckpoint(eager=True)  # ledger append + snapshot read this twice
    )
    ST.idempotent_append(
        totals.withColumn("through_ts", F.lit(run_ts)).withColumn(
            "__k", F.concat_ws("@", F.col("chain"), F.lit(str(run_ts)))
        ),
        ledger_p,
        key="__k",
        # >=: a replay after the watermark commit has run_ts == watermark
        # and regenerates the rows it keyed then; run_ts >= watermark, so
        # rows below the fence can never share a key with this batch
        fence=F.col("through_ts") >= F.lit(watermark),
    )
    stats = totals.withColumn(
        "percentMarketCaptured",
        F.round(
            100.0
            * F.col("totalAmountCurrentlyManaged")
            / F.col("totalAmountStaked"),
            6,
        ),
    ).withColumn("date", F.lit(run_ts))
    ST.snapshot_overwrite(stats, _sink(state_dir, "stats"), key="chain", order_cols=["date"])


def update_routing(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    watermark: datetime.datetime,
) -> dict[str, int]:
    """P5: routing matrix → three idempotent sink appends
    (updatescript.py:154-218). First-touch is computed against the
    persisted `seen_users` ledger fenced by the watermark (plus the
    intra-batch window) — equivalent to the reference's persisted-sink
    probe under the commit protocol, replay-deterministic where the sink
    probe is not, and O(users), not O(event history), per run (see the
    seen_ledger comment below). All four appends are frontier-fenced: no
    step scans sink history on a healthy run."""
    tx = R.tx_view(events)
    batch = tx.filter((F.col("ts") > F.lit(watermark)) & F.col("successful"))
    aum_path = _sink(state_dir, "sink_aum")
    # First-touch must be REPLAY-DETERMINISTIC. Deriving "seen" from the
    # mutable AUM sink means a crash between a partial publish and the
    # watermark commit changes the regenerated row SET on replay (the
    # half-published batch marks its own users seen, so the replay emits
    # different volumes that the event_id anti-join cannot reconcile).
    # Round 10: the seen set lives in a persisted first-touch LEDGER
    # `seen_users.parquet` (user_id, first_ts), read FENCED by
    # first_ts <= watermark — rows published by a crashed run carry
    # first_ts > watermark and are excluded, so the filtered ledger equals
    # the source-derived set (every user with a successful tx at
    # ts <= watermark, by induction over committed runs) and gives the
    # same answer across crash replays, WITHOUT the O(history) distinct
    # the source derivation paid on every run. A missing ledger
    # (bootstrap, or state from before the ledger existed) is rebuilt from
    # the immutable source once — the reference's persisted-sink probe
    # (updatescript.py:175) made crash-safe.
    seen_path = _sink(state_dir, "seen_users")
    seen_bootstrap = not os.path.exists(seen_path)
    if seen_bootstrap:
        seen_ledger = (
            tx.filter((F.col("ts") <= F.lit(watermark)) & F.col("successful"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("first_ts"))
        )
    else:
        seen_ledger = ST.read_state(spark, seen_path).filter(
            F.col("first_ts") <= F.lit(watermark)
        )
    seen_pre = seen_ledger.select("user_id")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        batch.join(seen_pre.withColumn("__seen", F.lit(True)), "user_id", "left")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("first_touch", F.col("__seen").isNull() & (F.col("__rn") == 1))
        .withColumn("delta", F.col("stake") - F.col("alreadyBonded"))
        .persist()  # three sinks × (count + write) read this — compute once
    )
    cols = ["event_id", "ts", "user_id", "chain"]
    nominations = flagged.filter(
        (F.col("delta") == 0) | ((F.col("delta") > 0) & (F.col("chain") == "kusama"))
    ).select(
        *cols,
        F.when(F.col("delta") == 0, F.col("stake")).otherwise(F.col("delta")).alias("volume"),
    )
    amountstaked = flagged.filter(
        (F.col("delta") > 0) & (F.col("chain") == "polkadot")
    ).select(*cols, F.col("delta").alias("volume"))
    aum = flagged.filter((F.col("delta") != 0) | F.col("first_touch")).select(
        *cols,
        F.when(F.col("first_touch"), F.col("stake")).otherwise(F.col("delta")).alias("volume"),
    )
    by_chain = ["chain"]  # SURVEY §7.0 fact layout → partition pruning
    # Frontier fence (round 10): every batch row has ts > watermark (R2
    # scan over the immutable source), so only sink rows in the
    # crash-overlap window (ts > watermark — published by a run that died
    # before its watermark commit) can collide with a batch key. The fence
    # turns each sink's anti-join build side from O(full sink history)
    # into a metadata-pruned scan that is EMPTY on every healthy run —
    # the last O(history) term in the daily path.
    fence = F.col("ts") > F.lit(watermark)

    from concurrent.futures import ThreadPoolExecutor

    try:
        # Fill the shared persist ONCE before the sink appends fan out:
        # four independent writes read `flagged`, and concurrent first
        # touches of an unfilled cache serialize on (or duplicate) the
        # block computes — one eager count pays the events scan + window
        # exactly once, then every append is a cached-batch read
        # (guide §5 caching / §2.6 overlapping jobs).
        flagged.count()
        # Ledger maintenance: this batch's first-touch users join the seen
        # set with their true global first_ts (first_touch ⇒ no successful
        # tx ≤ watermark, so the batch minimum IS the global minimum). On
        # bootstrap the derived history ledger rides the same append (a
        # missing sink appends everything). The first_ts fence keeps a
        # crash-overlap replay from scanning ledger history, mirroring the
        # event sinks.
        new_seen = flagged.filter(F.col("first_touch")).select(
            "user_id", F.col("ts").alias("first_ts")
        )
        if seen_bootstrap:
            new_seen = seen_ledger.unionByName(new_seen)
        # The four appends are independent fenced writes to DISJOINT sinks
        # (crash in any subset is absorbed by each sink's own fence on
        # replay — the commit point is the caller's watermark, which waits
        # for all of them), so they are submitted to one pool and their
        # Spark jobs overlap: each append reads its count from its own
        # root observation and touches no session conf, so the appends
        # share nothing but the cached `flagged`. perfbench measures the
        # overlap as `pipelines.p5_append_overlap` (summed append walls
        # over the wall that covers them); read it with
        # `spark.p5_routing.*`.
        jobs = {
            "nominations": lambda: ST.idempotent_append(
                nominations, _sink(state_dir, "sink_nominations"), key="event_id",
                partition_by=by_chain, fence=fence,
            ),
            "amountstaked": lambda: ST.idempotent_append(
                amountstaked, _sink(state_dir, "sink_amountstaked"), key="event_id",
                partition_by=by_chain, fence=fence,
            ),
            "aum": lambda: ST.idempotent_append(
                aum, aum_path, key="event_id", partition_by=by_chain, fence=fence,
            ),
            "seen_ledger": lambda: ST.idempotent_append(
                new_seen, seen_path, key="user_id",
                fence=F.col("first_ts") > F.lit(watermark),
            ),
        }
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futs = {name: pool.submit(fn) for name, fn in jobs.items()}
            results = {name: f.result() for name, f in futs.items()}
        return {
            "nominations": results["nominations"],
            "amountstaked": results["amountstaked"],
            "aum": results["aum"],
        }
    finally:
        flagged.unpersist()


def update_rollup(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    run_ts: datetime.datetime,
) -> int:
    """P6 (engine extension beyond the reference): incremental maintenance of
    the standing daily rollup (hypertable-rollup shape). The batch delta is
    aggregated (O(new rows), map-side combined) and merged into the
    persisted rollup by `merge_daily_rollups` — full-outer on day + coalesce
    over decomposable stats, never a history recompute. Stats stay UNROUNDED
    in state so repeated merges cannot drift (readers round at the edge).

    Exactly-once subtleties the append sinks don't have: an aggregate merge
    has NO idempotency key (a re-merged row is invisible, just wrong), so
    (a) the batch interval must be CLOSED on both ends, and (b) the lower
    bound must come from the ROLLUP STATE ITSELF (`merged_through`, a
    constant column riding in the state table) rather than the shared
    watermark — the watermark commits after all sinks, so a crash between
    this overwrite and the watermark commit would otherwise re-merge the
    same interval on replay. With the in-state frontier, state and progress
    marker commit in ONE atomic directory swap (same design as the
    streaming twin's epoch guard) and a replayed batch sees an empty
    interval. Both failure modes are test-caught (split-batch equivalence,
    crash-replay) in tests/test_pipelines.py.

    Jobs: the batch delta is one row per touched day, so one `collect`
    both counts it and brings it to the driver as a local relation for
    the merge; the merge then runs as the overwrite's one write job (the
    rollup is read with its marked schema, and `merged_through` costs an
    aggregate only once the rollup exists).

    Returns the number of days touched by this batch's delta."""
    path = _sink(state_dir, "daily_rollup")
    schema = (
        "day date, n bigint, sum_value double, min_value double, "
        "max_value double, merged_through timestamp_ntz"
    )
    snap_full = ST.read_or_empty(spark, path, schema)
    # Absent/deleted state bootstraps from EPOCH — a FULL backfill — never
    # from the shared watermark: a non-EPOCH watermark with no rollup state
    # (state deleted for rebuild, or P6 deployed onto a pre-P6 state_dir)
    # would silently and permanently exclude all pre-watermark history.
    merged_through = ST.Watermark.EPOCH
    if os.path.exists(path):
        row = snap_full.agg(F.max("merged_through").alias("m")).collect()[0]
        if row["m"] is not None:
            merged_through = row["m"]
    delta = R.daily_rollup(
        events.filter(
            (F.col("ts") > F.lit(merged_through)) & (F.col("ts") <= F.lit(run_ts))
        )
    )
    rows = delta.collect()
    if not rows:
        return 0
    delta = spark.createDataFrame(rows, delta.schema)
    merged = R.merge_daily_rollups(snap_full.drop("merged_through"), delta).withColumn(
        "merged_through", F.lit(run_ts).cast("timestamp_ntz")
    )
    # rewrite is O(total days) rows — trivially small; the plan reads the
    # rollup it replaces, which atomic_overwrite allows
    ST.atomic_overwrite(merged, path)
    return len(rows)


def update_image_dedup(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> dict[str, object]:
    """P7 (engine extension, round 9): incremental IMAGE near-dup state
    maintenance in the daily driver — the image twin of the text dedup
    path, running `multimodal.refresh_phash_star_edges` against state
    persisted under the same `state_dir` as P1–P6.

    State: `phash_chunks.parquet` (hamming-LSH index), `phash_hashes.
    parquet` (aHash store), `phash_edges.parquet` (bucket-attributed
    scored star edges), `phash_frontier.parquet` (explicit progress
    marker — round 10, a one-row file committed on the driver with
    `state.commit_scalar`, so neither its commit nor its read runs a
    Spark job). The batch frontier was originally max(doc_id)
    IN THE HASH STORE, but a derived frontier is crash-unsafe: a store
    append that dies mid-publish leaves SOME batch rows visible, so the
    derived max can land past rows that never published and the replay
    would silently skip them. The marker closes that window the same way
    P8's does: committed AFTER the store append, so a crash anywhere
    leaves it at the previous batch boundary and the replay re-runs the
    whole batch — the fenced anti-joins (doc_id > frontier, the
    idempotent_append fence contract) absorb whatever the crashed run
    already published. Pre-marker state migrates by deriving the
    frontier from the store once (correct for any state written by a
    COMPLETED run). Commit order: edges commit first — as an O(batch)
    delta APPEND on the monotone daily contract (round 12: no hub
    displacement ⇒ refreshed state ≡ old edges ∪ new_scored; a replayed
    batch's delta is emptied by the refresh's edge-level suppression, so
    the append is idempotent), or the pre-round-12 full overwrite when a
    hub was displaced — then chunks, then the hash store, then the
    marker LAST.

    Cost per day is O(batch decode+hash) plus the O(batch) carry-forward
    refresh (only new edges are scored; the chunk index and hash store
    are scanned, never rebuilt) — never a corpus rescan. Skips (with a
    note) when the source has no documents table (events-only state
    dirs)."""
    from metrics_database_cron_script_spark.functions import multimodal as M
    from metrics_database_cron_script_spark.sources.tables import table_path

    if not os.path.exists(table_path(sf_dir, "documents")):
        return {"skipped": "no documents table"}
    docs = load_table(spark, sf_dir, "documents")
    chunks_p = _sink(state_dir, "phash_chunks")
    hashes_p = _sink(state_dir, "phash_hashes")
    edges_p = _sink(state_dir, "phash_edges")
    frontier_p = _sink(state_dir, "phash_frontier")

    if not os.path.isdir(hashes_p):
        hashes = M.ahash_from_blobs(
            M.synthetic_bmp_blobs(docs)
        ).localCheckpoint(eager=True)
        chunks, store, edges = M.phash_star_state(hashes)
        ST.atomic_overwrite(edges, edges_p)
        ST.atomic_overwrite(chunks, chunks_p)
        ST.atomic_overwrite(store, hashes_p)
        row = hashes.agg(
            F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("m")
        ).collect()[0]
        if row["m"] is not None:
            ST.commit_scalar(frontier_p, "frontier", row["m"])  # marker LAST
        return {"bootstrap_docs": row["n"], "batch_docs": 0}

    store = ST.read_state(spark, hashes_p)
    frontier = ST.read_scalar(frontier_p, "frontier")
    if frontier is None:
        # pre-marker state: written by a completed run, so the store max
        # IS the batch boundary — derive once, the marker takes over below
        frontier = store.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    batch_docs = docs.filter(F.col("doc_id") > F.lit(frontier))
    batch_hashes = M.ahash_from_blobs(
        M.synthetic_bmp_blobs(batch_docs)
    ).localCheckpoint(eager=True)  # batch pays its decode ONCE
    n_batch = batch_hashes.count()
    if n_batch == 0:
        return {"batch_docs": 0, "hashes_appended": 0}
    # a crashed run may have published part of this batch into the store —
    # drop those rows from the refresh's "existing" side so membership
    # stays exact, and let the fenced appends absorb the rest
    store_pre = store.filter(F.col("doc_id") <= F.lit(frontier))
    chunks = ST.read_state(spark, chunks_p)
    edges = ST.read_state(spark, edges_p)
    parts: dict = {}
    new_edges = M.refresh_phash_star_edges(
        chunks, store_pre, edges, batch_hashes, _parts=parts
    )
    if parts["displaced_empty"]:
        # Base+delta edge state (round 12, VERDICT item 4): the daily
        # frontier contract makes every P7 batch monotone (doc_id >
        # frontier), so no bucket hub is ever displaced and the refreshed
        # state is EXACTLY old edges ∪ new_scored — append the O(batch)
        # delta instead of rewriting the O(state) snapshot (the previous
        # atomic_overwrite was ~the whole P7 wall at SFXL: 2.5 M images'
        # edge rows rewritten daily for a 40 k-doc batch). staged_append
        # publishes complete files only; replay safety is unchanged — a
        # replayed batch's delta is EMPTIED by the refresh's edge-level
        # suppression, so nothing is appended twice (the crash-window
        # test pins this). The snapshot read-view stays a plain read of
        # edges_p; P9 compaction owns the file-count budget (phash_edges
        # is in APPEND_SINKS).
        ST.staged_append(parts["new_scored"], edges_p)
    else:
        # non-monotone ingest (hub displacement): carried ≠ old edges —
        # full rewrite (the plan reads edges_p, which atomic_overwrite
        # allows), exactly the pre-round-12 path
        ST.atomic_overwrite(new_edges, edges_p)
    fence = F.col("doc_id") > F.lit(frontier)
    ST.idempotent_append(
        M.phash_chunks(batch_hashes), chunks_p, key="doc_id", fence=fence
    )
    appended = ST.idempotent_append(
        batch_hashes, hashes_p, key="doc_id", fence=fence
    )
    hi = batch_hashes.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    ST.commit_scalar(frontier_p, "frontier", hi)  # AFTER the store append
    return {"batch_docs": n_batch, "hashes_appended": appended}


def update_embedding_index(
    spark: SparkSession, sf_dir: str, state_dir: str, n_cells: int = 16
) -> dict[str, object]:
    """P8 (engine extension, round 10): incremental ANN-index maintenance
    in the daily driver — the embeddings twin of P7's image state. The
    cell-partitioned IVF index (similarity.ivf_index_write layout: one
    directory per coarse cell, centers in the _ivf_centers.json sidecar)
    is bootstrapped once from the full corpus, then each day's new
    vectors are assigned to the FROZEN coarse centers (ivf_assign_fixed
    over the sidecar centers — the standard IVF maintenance contract;
    re-fitting would silently re-shape every existing cell, so a re-fit
    is an explicit rebuild, not a daily side effect) and appended to
    their cell directories.

    The bootstrap is one aggregate (count and max vec_id: the fit's
    sample size, the frontier, and the written count, since the write
    emits every row), ivf_fit's one sample collect for its driver-side
    k-means and the cell-partitioned write (assigned by the same
    ivf_assign_fixed the daily append runs): 4 Spark jobs. The index,
    its centers sidecar and its schema marker are written to a staged
    copy and swapped in at once (`state.replace_table`). The frontier
    commit and, on a daily run, its read are driver-side file I/O
    (`state.commit_scalar` / `read_scalar`) and run none. An
    empty embeddings table bootstraps nothing and leaves index and
    frontier absent, so the first day with vectors bootstraps.

    Crash safety differs from P7 deliberately: a derived frontier
    (max key IN the state) can advance past unpublished rows when an
    append crashes mid-publish, so P8 keeps an EXPLICIT frontier marker
    (`ivf_frontier.parquet`, watermark-style) committed AFTER the append.
    The bootstrap runs whenever the index or the marker is absent, so a
    bootstrap killed between its index swap and its first frontier
    commit bootstraps again on the replay. A crash between append and
    marker commit leaves index rows above the frontier; the replay's
    anti-join is fenced on exactly that window (`vec_id > frontier` —
    the idempotent_append fence contract), so the replay appends only
    the missing rows and never rescans the index.
    Probes (similarity.ivf_index_probe) read only probed cell dirs —
    static partition pruning; equivalence with a fresh same-centers probe
    is gated in tests/test_pipelines.py. Single-writer like all P1-P7
    state: `versioned.VersionedSnapshot` rewrites a whole snapshot per
    commit, so it does not fit this cell-partitioned index (its
    partition-pruned merge is in git history at 65b28ee). Skips when the
    source has no embeddings table."""
    import json as _json

    from metrics_database_cron_script_spark.functions import similarity as S
    from metrics_database_cron_script_spark.sources.tables import table_path

    if not os.path.exists(table_path(sf_dir, "embeddings")):
        return {"skipped": "no embeddings table"}
    emb = load_table(spark, sf_dir, "embeddings")
    index_p = _sink(state_dir, "ivf_index")
    frontier_p = _sink(state_dir, "ivf_frontier")

    frontier = ST.read_scalar(frontier_p, "frontier")
    if frontier is None or not os.path.isdir(index_p):
        row = emb.agg(
            F.count(F.lit(1)).alias("n"), F.max("vec_id").alias("m")
        ).collect()[0]
        if row["n"] == 0:
            return {"bootstrap_vectors": 0, "batch_vectors": 0}

        def write(tmp: str) -> None:
            centers = S.ivf_index_write(emb, tmp, n_cells=n_cells, n_rows=row["n"])
            ST.write_schema_marker(tmp, S.ivf_assign_fixed(emb, centers).schema)

        ST.replace_table(index_p, write)  # index, sidecar and marker at once
        ST.commit_scalar(frontier_p, "frontier", row["m"])  # frontier LAST
        return {"bootstrap_vectors": row["n"], "batch_vectors": 0}

    batch = emb.filter(F.col("vec_id") > F.lit(frontier))
    # one cheap agg decides no-op BEFORE any staged write: on a replay the
    # pushed vec_id predicate prunes the source scan to row-group stats
    # and the empty batch skips the append machinery entirely
    row = batch.agg(F.max("vec_id").alias("m")).collect()[0]
    if row["m"] is None:
        return {"batch_vectors": 0, "frontier_in": frontier}
    with open(os.path.join(index_p, "_ivf_centers.json")) as fh:
        centers = _json.load(fh)["centers"]
    assigned = S.ivf_assign_fixed(batch, centers)
    appended = ST.idempotent_append(
        assigned,
        index_p,
        key="vec_id",
        partition_by=["cell"],
        fence=F.col("vec_id") > F.lit(frontier),
    )
    ST.commit_scalar(frontier_p, "frontier", row["m"])  # AFTER the append
    return {"batch_vectors": appended, "frontier_in": frontier}


def run_batch(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    run_ts: datetime.datetime | None = None,
) -> dict[str, object]:
    """The cron-equivalent driver (updatescript.py:221-241), re-ordered so the
    watermark commit is the LAST effect. Explicit `run_ts` (reference's
    datetime.now(), :224) keeps runs replayable: a run killed at any
    point replays, after the heal below, to the state an uninterrupted
    run leaves (tests/test_crash_sweep.py kills it after each kind of
    durable effect)."""
    os.makedirs(state_dir, exist_ok=True)
    # Heal every table BEFORE any step reads one (state.recover_tables,
    # one listdir when nothing crashed). A crash between a swap's two
    # renames leaves a table (or a compacted partition leaf) absent with
    # its only copy parked beside it; a step that read first would see a
    # missing table and rebuild it from scratch — the rollup re-merged
    # from EPOCH, an append sink recreated with just the new batch and its
    # parked history then dropped as superseded.
    if ST.recover_tables(state_dir):
        # the heal changed listings without a Spark write: drop every
        # cached FileIndex under state_dir (a stale one throws
        # FILE_NOT_EXIST)
        spark.catalog.refreshByPath(state_dir)
    events = load_table(spark, sf_dir, "events")
    wm_store = ST.Watermark(spark, state_dir)
    watermark = wm_store.read()
    if run_ts is None:
        row = events.agg(F.max("ts").alias("m")).collect()[0]
        run_ts = row["m"]
    if run_ts is None:
        # empty source: nothing to process — and committing a NULL
        # watermark would make every future `ts > lit(None)` scan filter
        # out ALL rows forever. No-op, watermark untouched.
        return {
            "watermark_in": watermark,
            "watermark_out": watermark,
            "empty_source": True,
        }

    report: dict[str, object] = {"watermark_in": watermark}
    report["prices_appended"] = update_prices(spark, events, state_dir)
    report["tx_appended"] = update_tx_enriched(spark, events, state_dir, watermark)
    update_stats(spark, events, state_dir, run_ts, watermark)
    report["routing_appended"] = update_routing(spark, events, state_dir, watermark)
    report["rollup_days_touched"] = update_rollup(spark, events, state_dir, run_ts)
    report["image_dedup"] = update_image_dedup(spark, sf_dir, state_dir)
    report["embed_index"] = update_embedding_index(spark, sf_dir, state_dir)
    wm_store.commit(run_ts)
    # LAST among the data effects, after every sink (fixes §3 hazard).
    # Compaction runs AFTER the commit on purpose: it changes file layout,
    # never row content, so a crash mid-compaction can cost at most a
    # re-compaction — the watermark must not wait on maintenance.
    report["compaction"] = run_maintenance(spark, state_dir)
    report["watermark_out"] = run_ts
    return report


# Append sinks whose file count grows with every cron run, compacted by
# P9. The overwrite snapshots (stats, daily_rollup, watermark, frontier
# markers) rewrite themselves each run and stay at a bounded file count —
# never listed here: compacting a snapshot buys nothing the next
# overwrite doesn't reset.
APPEND_SINKS = (
    "prices",
    "tx_enriched",
    "sink_aum",
    "sink_nominations",
    "sink_amountstaked",
    "stats_ledger",
    "seen_users",
    "phash_chunks",
    "phash_hashes",
    # phash_edges moved from snapshot-shaped to base+delta in round 12
    # (update_image_dedup appends the O(batch) refresh delta on the
    # monotone path): P9's bin-packing is the compact step that keeps the
    # snapshot read-view's file count bounded
    "phash_edges",
    "ivf_index",
)


def run_maintenance(
    spark: SparkSession,
    state_dir: str,
    trigger_files: int = 16,
    target_mb: int = 64,
) -> dict[str, dict[str, int]]:
    """P9: small-file compaction over the append sinks (engine extension —
    the reference appends documents to Mongo collections forever,
    updatescript.py:168-218, and leaves layout to the storage engine;
    a parquet lake must do its own bin-packing or daily appends turn a
    100 TB table into millions of files and scan PLANNING starts to
    dominate scans).

    Policy: a sink is compacted only once its table-wide file count
    reaches `trigger_files` — daily appends then amortize to one rewrite
    per ~trigger_files runs per sink, so maintenance cost stays
    O(files-written-since-last-compaction), not O(history). Content is
    bit-for-bit preserved (rows, not files, carry the idempotency fences
    and frontier markers, so replay semantics are untouched — pinned by
    tests/test_pipelines.py). Crash-safe through the state layer: a
    compaction that died between a leaf's two swap renames is healed by
    `state.recover`, which the next `run_batch` runs on every table before
    any step reads and `compact` runs again on its own table; every
    compacted path is refreshed in the session catalog (Spark caches file
    listings per path; a stale FileIndex after an in-place swap throws
    FILE_NOT_EXIST on the next read)."""
    from metrics_database_cron_script_spark.operators import maintenance as M

    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    # Trigger gating stays SEQUENTIAL (metadata-only, one walk per sink),
    # then the per-sink compact jobs run OVERLAPPED
    # from a small thread pool (guide §2.6: Spark happily schedules
    # several jobs at once; these are independent single-job rewrites of
    # DISJOINT sink directories whose walls are mostly scheduling floor +
    # small writes, so the daily P9 wall collapses from the SUM of the
    # per-sink walls to roughly their MAX — measured 9.3 s → ~3 s at
    # SFXL). Each sink's staging dir is its own (uuid-suffixed, sibling
    # of the sink), so concurrent compactions share no filesystem state.
    # Each compact heals its own table first (state.recover).
    report: dict[str, dict[str, int]] = {}
    todo: list[tuple[str, str, int]] = []
    for name in APPEND_SINKS:
        path = _sink(state_dir, name)
        if not os.path.isdir(path):
            continue
        before = M.parquet_file_count(path)
        if before < trigger_files:
            continue
        todo.append((name, path, before))
    if not todo:
        return report

    def _compact_one(job: tuple[str, str, int]):
        name, path, before = job
        t0 = _time.perf_counter()
        after = M.compact(spark, path, target_mb=target_mb)
        spark.catalog.refreshByPath(path)
        return name, before, after, round(_time.perf_counter() - t0, 3)

    # 3 in flight: enough to back-fill each job's scheduling tail without
    # the tiny rewrites fighting for executor slots (guide §2.6)
    with ThreadPoolExecutor(max_workers=min(3, len(todo))) as pool:
        results = list(pool.map(_compact_one, todo))
    for name, before, after, wall in results:
        if after != before:
            report[name] = {
                "files_before": before,
                "files_after": after,
                "wall_s": wall,
            }
    return report
