#!/usr/bin/env python
"""End-to-end DAILY-RUN benchmark at SFXL (round-6 verdict item 2).

Every pipeline has been measured in isolation; this measures the
reference's actual workload — ONE cron-equivalent daily job — at the scale
the joins/aggs were calibrated at:

- `run_batch` (pipelines.py: P1 prices, P2 tx-enrich, P3 stats, P5 routing,
  P6 rollup, watermark committed LAST) over the 4.6 GiB SFXL events table
  (256× sf0.1, ~15.5 M events), traced per step from outside by
  perfbench's span tracer (each step's wall, plus its Spark jobs, tasks,
  shuffle and executor time read back from the status store) — the bench
  drives the REAL driver, it does not re-implement the sequence;
- the LLM-data half of a daily run against the 12.8 M-doc decade corpus:
  incremental EXACT dedup (bloom-pruned anti-join of the batch against the
  persisted seen-hash set) and the verified near-dup CLUSTER REFRESH from
  persisted state (refresh_verified_star_edges → components), with the
  refreshed edge state written for day N+1;
- a REPLAY of the same run_batch: the idempotency contract (anti-join
  sinks, in-state rollup frontier, keep-latest stats with the stored-wins
  tie rule) must make the second run a no-op — append sinks byte-identical
  (digested), snapshot state content-identical (value-hashed; the OCC
  tables write a new version DIRECTORY on replay, so byte-identity is the
  wrong check there and the artifact says which check each table got).

Day-0 bootstrap (state built from everything before the last day) is
measured separately — it is the one-time cost, not the daily one. The
daily batch is the final day of events / the top replica of docs.

Usage:
    python bench_daily_sfxl.py [sfxl_dir] [--decade DIR]

Writes BENCH_DAILY_SFXL.json (one JSON object, indent=1), merged over the
committed one, only when the run measured the dataset that file records
(`write_artifact`); any other run prints its result and writes nothing.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))

import layers  # noqa: E402  (perfbench's span-to-metric rules)
from spans import Tracer, spark_counters  # noqa: E402

DOC_STRIDE = 10_000


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def _traced(spark, tracer, fn):
    """Run `fn` (a run_batch call) once under the tracer: its result, its
    wall, each step's wall (`steps`) and each step's Spark counters
    (`spark`, steps that ran jobs only), derived by perfbench's
    `span_metrics` from the spans and the status store's job records."""
    tracer.spans.clear()
    jobs_before = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    first_job = jobs_before.last().jobId() + 1 if jobs_before.size() else 0
    out, wall = _timed(fn)
    m = layers.span_metrics(tracer.spans, spark_counters(spark, first_job))
    steps = {s: round(m[f"pipelines.{s}_s"], 3) for s in layers.PIPELINE_STEPS.values()}
    counters = {
        s: {k: round(m[f"spark.{s}.{k}"], 3) for k in layers.STEP_COUNTERS}
        for s in layers.STEP_KEYS
        if m[f"spark.{s}.jobs"]
    }
    return out, wall, {"steps": steps, "spark": counters}


def _tree_digest(root: str) -> str:
    """Order-independent byte digest of every file under `root`."""
    h = hashlib.md5()
    for dp, _dn, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def build_fastpath_state(spark, docs, root, provenance):
    """verified_star_state(portable=False) — the xxhash64 fast path — with
    parquet round-trips between stages so the shingle relation is computed
    once. The store (8-byte hashed shingles) doubles as the signature
    input, so NO raw-string relation is ever materialized: the portable
    md5 pipeline's min(string) aggregation falls back to sort-based
    aggregation and sort-spilled this 550 M-row build off a 250 GB disk;
    min(long) hash-aggregates in place. The sf0.01 oracle checks the
    portable mode; refresh ≡ full holds per mode. `provenance` is written
    next to the state as its reuse key. Returns per-stage walls."""
    from metrics_database_cron_script_spark.functions import dedup as D

    shutil.rmtree(root, ignore_errors=True)
    walls = {}
    t0 = time.perf_counter()
    D.word_shingles(docs, hashed=True).write.parquet(
        os.path.join(root, "store")
    )
    walls["store_s"] = round(time.perf_counter() - t0, 3)
    store = spark.read.parquet(os.path.join(root, "store"))
    t0 = time.perf_counter()
    nh = D.MINHASH_DEFAULTS.num_hashes
    D.lsh_bands(D.minhash_signatures(store, nh), nh).write.parquet(
        os.path.join(root, "bands")
    )
    walls["bands_s"] = round(time.perf_counter() - t0, 3)
    bands = spark.read.parquet(os.path.join(root, "bands"))
    t0 = time.perf_counter()
    D.scored_star_edges(bands, store).write.parquet(
        os.path.join(root, "edges")
    )
    walls["edges_s"] = round(time.perf_counter() - t0, 3)
    walls["total_s"] = round(sum(walls.values()), 3)
    # a later bench run must not silently refresh a batch against state
    # built from a DIFFERENT corpus (underscore prefix — Spark readers
    # ignore the file)
    with open(os.path.join(root, "_provenance.json"), "w") as fh:
        json.dump(provenance, fh)
    return walls


def state_provenance(root):
    """The provenance marker written by build_fastpath_state, or None."""
    p = os.path.join(root, "_provenance.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def write_artifact(path: str, out: dict, totals: dict) -> bool:
    """Merge `out` over the artifact at `path` and write it, only when the
    artifact records the dataset this run measured: the same `corpus` row
    totals (`events_total`, `docs_total`) as `totals`. Any other run (a
    fixture-scale smoke run, say) prints its result and leaves the file
    alone; to record a new dataset, remove the artifact first. Returns
    whether the file was written."""
    merged = dict(out)
    if os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        recorded = prior.get("corpus", {})
        if any(recorded.get(k) != totals[k] for k in ("events_total", "docs_total")):
            print(json.dumps(out, indent=1, default=str))
            print(
                f"{path} records another dataset ({recorded.get('events_total')}"
                f" events, {recorded.get('docs_total')} docs); not written",
                file=sys.stderr,
            )
            return False
        merged = {**prior, **out}
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1, default=str)
    print(json.dumps(merged, indent=1, default=str))
    return True


def run_streaming_twin(spark, sfxl: str, phase) -> None:
    """Round-7 verdict item 5: the SAME daily work through the STREAMING
    path at SFXL, with sink equality asserted against the batch
    computation. Three surfaces, each drained with processAllAvailable
    (available-now semantics) over multi-file micro-batches
    (maxFilesPerTrigger=32 → ~8 micro-batches over the 256-file SFXL
    events table — the per-micro-batch machinery actually executes,
    instead of one mega-batch):

    - streaming_events_sink (R8 twin): events → idempotent append sink;
      content-hash equal to the events table itself, and a checkpoint
      RESTART appends nothing (streaming replay no-op).
    - streaming_tx_pipeline (P2 twin): tx_view → broadcast price join →
      conditional dollar value → idempotent sink; content-hash equal to
      the batch enrichment frame (identical logical functions, per-row
      deterministic, so the equality is EXACT).
    - streaming_rollup (P6 twin): epoch-guarded aggregate merge;
      compared to the batch daily_rollup with sum_value rounded to 6 dp
      (micro-batch accumulation sums partials in a different order, so
      the last-ulp float digits legitimately differ — n/min/max are
      exact)."""
    from pyspark.sql import functions as F

    from metrics_database_cron_script_spark.operators.reference_ops import (
        daily_price_dim,
        daily_rollup,
        tx_view,
    )
    from metrics_database_cron_script_spark.sources.tables import load_table
    from metrics_database_cron_script_spark.streaming.pipeline import enrich
    from metrics_database_cron_script_spark.streaming.sink import (
        stream_rollup_maintenance,
        stream_to_idempotent_sink,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    scratch = os.path.join(here, ".bench_cache", "daily-sfxl-streaming")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    events = load_table(spark, sfxl, "events")
    n_events = events.count()
    mfpt = 32

    def content_hash(df):
        # timestamps cast to long micros so LTZ-vs-NTZ surface types
        # (identical instants under the pinned UTC session tz) hash equal
        cols = [
            F.col(c).cast("timestamp").cast("long").alias(c)
            if t.startswith("timestamp")
            else F.col(c)
            for c, t in df.dtypes
        ]
        proj = df.select(*cols)
        row = proj.agg(
            F.sum(
                F.xxhash64(*sorted(proj.columns)).cast("decimal(38,0)")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return (str(row["h"]), row["n"])

    # ---- R8 twin: raw events through the idempotent append sink -----------
    sink = os.path.join(scratch, "events_sink.parquet")
    ckpt = os.path.join(scratch, "ckpt-events")
    rows, wall = _timed(
        lambda: stream_to_idempotent_sink(
            spark, sfxl, sink, ckpt, max_files_per_trigger=mfpt
        )
    )
    h_sink = content_hash(spark.read.parquet(sink))
    h_batch = content_hash(events)
    # restart from the same checkpoint: no new files → nothing appended
    digest_before = _tree_digest(sink)
    rows2, wall_replay = _timed(
        lambda: stream_to_idempotent_sink(
            spark, sfxl, sink, ckpt, max_files_per_trigger=mfpt
        )
    )
    phase("streaming_events_sink", {
        "rows": rows,
        "wall_s": wall,
        "max_files_per_trigger": mfpt,
        "content_equal_batch": h_sink == h_batch,
        "restart_wall_s": wall_replay,
        "restart_rows": rows2,
        "restart_sink_byte_identical": _tree_digest(sink) == digest_before,
    })
    assert h_sink == h_batch, ("events sink != events table", h_sink, h_batch)
    assert rows2 == rows

    # ---- P2 twin: the enrichment pipeline in streaming execution ----------
    from metrics_database_cron_script_spark.streaming.pipeline import (
        run_streaming_tx_pipeline,
    )

    tx_state = os.path.join(scratch, "txstate")
    rows, wall = _timed(
        lambda: run_streaming_tx_pipeline(spark, sfxl, tx_state)
    )
    stream_tx = spark.read.parquet(os.path.join(tx_state, "tx_enriched.parquet"))
    batch_tx = enrich(tx_view(events), daily_price_dim(events))
    h_stream, h_batch = content_hash(stream_tx), content_hash(batch_tx)
    phase("streaming_tx_pipeline", {
        "rows": rows,
        "wall_s": wall,
        "content_equal_batch": h_stream == h_batch,
        "note": "stream-static broadcast price join + CASE dollar value; "
        "per-row deterministic, so equality with the batch P2 frame is "
        "exact content-hash",
    })
    assert h_stream == h_batch, ("tx stream != batch", h_stream, h_batch)

    # ---- P6 twin: epoch-guarded rollup maintenance ------------------------
    # money=True: sum_value accumulates in DECIMAL(28,18) through BOTH the
    # streaming merges and the batch aggregate, so equality is EXACT
    # content-hash — no accumulation-order tolerance (round-9: the 1e-9
    # sum_value carve-out is gone; every P6 stat is now bit-compared).
    roll_state = os.path.join(scratch, "rollup.parquet")
    roll_ckpt = os.path.join(scratch, "ckpt-rollup")
    roll, wall = _timed(
        lambda: stream_rollup_maintenance(
            spark, sfxl, roll_state, roll_ckpt,
            max_files_per_trigger=mfpt, money=True,
        )
    )
    n_days = roll.count()
    h_roll = content_hash(roll)
    h_batch_roll = content_hash(daily_rollup(events, money=True))
    # restart: committed epochs are skipped whole, state content unchanged
    roll2, wall_replay = _timed(
        lambda: stream_rollup_maintenance(
            spark, sfxl, roll_state, roll_ckpt,
            max_files_per_trigger=mfpt, money=True,
        )
    )
    phase("streaming_rollup", {
        "days": n_days,
        "events": n_events,
        "wall_s": wall,
        "content_equal_batch": h_roll == h_batch_roll,
        "restart_wall_s": wall_replay,
        "restart_content_identical": content_hash(roll2) == h_roll,
        "note": "ALL stats exact (content-hash): sum_value in "
        "DECIMAL(28,18) money mode on both paths — decimal addition is "
        "order-independent across micro-batch boundaries",
    })
    assert h_roll == h_batch_roll, ("rollup stream != batch", h_roll, h_batch_roll)
    assert content_hash(roll2) == h_roll


def main() -> None:
    args = list(sys.argv[1:])
    streaming_only = "--streaming-only" in args
    if streaming_only:
        args.remove("--streaming-only")
    decade_dir = None
    if "--decade" in args:
        i = args.index("--decade")
        decade_dir = args[i + 1]
        del args[i : i + 2]
    here = os.path.dirname(os.path.abspath(__file__))
    sfxl = args[0] if args else os.path.join(here, ".bench_cache", "sfxl")
    if decade_dir is None:
        decade_dir = os.path.join(here, ".bench_cache", "sfxl-docs")

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from pyspark.sql import functions as F

    # wrap the program's modules BEFORE anything binds their functions
    tracer = Tracer()
    layers.install(tracer)

    from metrics_database_cron_script_spark import get_spark
    from metrics_database_cron_script_spark.functions import bloom as B
    from metrics_database_cron_script_spark.functions import dedup as D
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.sources.tables import load_table

    spark = get_spark("bench_daily_sfxl")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"metric": "daily_sfxl", "sf_dir": sfxl, "decade_dir": decade_dir}

    def phase(key, obj):
        out[key] = obj
        print(json.dumps({key: obj}, default=str), file=sys.stderr, flush=True)

    artifact = os.path.join(here, "BENCH_DAILY_SFXL.json")
    if streaming_only:
        # keep every already-measured batch phase, add/replace only the
        # streaming-twin rows
        run_streaming_twin(spark, sfxl, phase)
        totals = {
            "events_total": load_table(spark, sfxl, "events").count(),
            "docs_total": load_table(spark, sfxl, "documents").count(),
        }
        write_artifact(artifact, out, totals)
        return

    scratch = os.path.join(here, ".bench_cache", "daily-sfxl")
    shutil.rmtree(scratch, ignore_errors=True)
    state_dir = os.path.join(scratch, "state")
    day0_dir = os.path.join(scratch, "day0")
    os.makedirs(day0_dir, exist_ok=True)

    # ---- source fencing: yesterday's view of the events table -------------
    events = load_table(spark, sfxl, "events")
    max_ts = events.agg(F.max("ts").alias("m")).collect()[0]["m"]
    cutoff = (max_ts - datetime.timedelta(days=1)).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    n_total = events.count()
    _, wall_fence = _timed(
        lambda: events.filter(F.col("ts") <= F.lit(cutoff))
        .write.parquet(os.path.join(day0_dir, "events.parquet"))
    )
    n_day0 = spark.read.parquet(os.path.join(day0_dir, "events.parquet")).count()
    # documents fence for P7 (image dedup in the driver, round 9): day 0
    # carries ~97% of the docs corpus; the daily batch is the id tail —
    # same one-day shape as the events fence
    docs_all = load_table(spark, sfxl, "documents")
    max_doc = docs_all.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    doc_cut = max_doc - max(1, (max_doc + 1) // 32)
    docs_all.filter(F.col("doc_id") <= F.lit(doc_cut)).write.parquet(
        os.path.join(day0_dir, "documents.parquet")
    )
    n_docs = docs_all.count()
    n_docs0 = docs_all.filter(F.col("doc_id") <= F.lit(doc_cut)).count()
    # embeddings fence for P8 (ANN-index maintenance in the driver, round
    # 10): same id-tail shape as the docs fence — day 0 bootstraps the
    # cell-partitioned index, the daily batch appends the tail vectors
    emb_all = load_table(spark, sfxl, "embeddings")
    max_vec = emb_all.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
    vec_cut = max_vec - max(1, (max_vec + 1) // 32)
    emb_all.filter(F.col("vec_id") <= F.lit(vec_cut)).write.parquet(
        os.path.join(day0_dir, "embeddings.parquet")
    )
    n_vecs = emb_all.count()
    n_vecs0 = emb_all.filter(F.col("vec_id") <= F.lit(vec_cut)).count()
    phase("corpus", {
        "events_total": n_total,
        "events_day0": n_day0,
        "events_daily_batch": n_total - n_day0,
        "cutoff": str(cutoff),
        "fence_write_s": wall_fence,
        "docs_total": n_docs,
        "docs_day0": n_docs0,
        "docs_daily_batch": n_docs - n_docs0,
        "vectors_total": n_vecs,
        "vectors_day0": n_vecs0,
        "vectors_daily_batch": n_vecs - n_vecs0,
    })

    # ---- day 0: bootstrap the pipeline state (one-time) -------------------
    rep0, wall_day0, steps0 = _traced(
        spark, tracer, lambda: run_batch(spark, day0_dir, state_dir, run_ts=cutoff)
    )
    phase("day0_bootstrap", {
        "wall_s": wall_day0,
        **steps0,
        "tx_appended": rep0["tx_appended"],
        "routing_appended": rep0["routing_appended"],
        "image_bootstrap_docs": rep0["image_dedup"].get("bootstrap_docs"),
        "ivf_bootstrap_vectors": rep0["embed_index"].get("bootstrap_vectors"),
    })

    # ---- THE daily job, pipelines half: run_batch over the grown source ---
    rep, wall_daily, steps = _traced(
        spark, tracer, lambda: run_batch(spark, sfxl, state_dir, run_ts=max_ts)
    )
    sink_digests = {
        name: _tree_digest(os.path.join(state_dir, f"{name}.parquet"))
        for name in (
            "prices", "tx_enriched", "sink_nominations",
            "sink_amountstaked", "sink_aum",
        )
    }
    image_edges_digest = _tree_digest(
        os.path.join(state_dir, "phash_edges.parquet")
    )
    ivf_index_digest = _tree_digest(
        os.path.join(state_dir, "ivf_index.parquet")
    )
    phase("daily_pipelines", {
        "wall_s": wall_daily,
        **steps,
        "prices_appended": rep["prices_appended"],
        "tx_appended": rep["tx_appended"],
        "routing_appended": rep["routing_appended"],
        "rollup_days_touched": rep["rollup_days_touched"],
        "image_batch_docs": rep["image_dedup"].get("batch_docs"),
        "image_hashes_appended": rep["image_dedup"].get("hashes_appended"),
        "ivf_vectors_appended": rep["embed_index"].get("batch_vectors"),
        "compaction": rep["compaction"],
        "watermark_out": str(rep["watermark_out"]),
    })

    # ---- THE daily job, training-data half (decade docs corpus) -----------
    ddocs = load_table(spark, decade_dir, "documents").select(
        "doc_id", "text", "source"
    )
    batch_lo = (
        ddocs.agg(F.max("doc_id")).collect()[0][0] // DOC_STRIDE
    ) * DOC_STRIDE
    corpus = ddocs.filter(F.col("doc_id") < batch_lo)
    batch = ddocs.filter(F.col("doc_id") >= batch_lo)
    n_corpus, n_batch = corpus.count(), batch.count()

    # state: the verified-star state over the corpus (reused when its
    # provenance matches) + the seen-hash set for exact dedup
    vstate = os.path.join(here, ".bench_cache", "decade-vstate")
    provenance = {
        "decade_dir": os.path.realpath(decade_dir),
        "corpus_filter": f"doc_id < {batch_lo}",
        "corpus_docs": n_corpus,
    }
    # reuse is keyed on PROVENANCE, not mere existence: refreshing this
    # batch against state built from a different corpus would silently
    # produce wrong components in the committed artifact
    state_reused = (
        os.path.isdir(os.path.join(vstate, "edges"))
        and state_provenance(vstate) == provenance
    )
    if not state_reused:
        walls_vstate = build_fastpath_state(
            spark, corpus, vstate, provenance=provenance
        )
        phase("dedup_state_build", {"reused": False, **walls_vstate})
    else:
        phase("dedup_state_build", {"reused": True, **provenance})
    seen_path = os.path.join(scratch, "seen-hashes")
    _, wall_seen = _timed(
        lambda: corpus.select(
            F.xxhash64(D.normalized_text()).alias("h")
        ).distinct().write.parquet(seen_path)
    )
    phase("dedup_day0_seen_hashes", {"wall_s": wall_seen})

    dedup_steps: dict[str, float] = {}
    # step 1: incremental exact dedup — bloom-pruned anti-join vs the
    # persisted seen-hash set (O(batch) probe; only bloom-positive rows
    # reach the anti-join)
    t0 = time.perf_counter()
    batch_keys = batch.select(
        "doc_id", F.xxhash64(D.normalized_text()).alias("h")
    )
    seen = spark.read.parquet(seen_path)
    fresh = B.bloom_pruned_anti_join(
        batch_keys, seen.select(F.col("h")), key="h",
        expected_items=max(1, n_corpus),
    )
    n_fresh = fresh.count()
    dedup_steps["exact_dedup_s"] = round(time.perf_counter() - t0, 3)
    # step 2: append today's new hashes into the seen set (day N+1 input)
    t0 = time.perf_counter()
    fresh.select("h").distinct().write.mode("append").parquet(seen_path)
    dedup_steps["seen_append_s"] = round(time.perf_counter() - t0, 3)
    # step 3: verified near-dup cluster refresh from persisted state.
    bands = spark.read.parquet(os.path.join(vstate, "bands"))
    store = spark.read.parquet(os.path.join(vstate, "store"))
    edges = spark.read.parquet(os.path.join(vstate, "edges"))
    next_edges = os.path.join(scratch, "edges-next")
    edges_delta = os.path.join(scratch, "edges-delta")
    parts: dict = {}
    # the refresh CALL is inside the timed region: it eagerly materializes
    # its O(batch) decision relations (see refresh_verified_star_edges).
    # Round 12 (VERDICT item 4, base+delta state): on the monotone daily
    # contract no bucket hub is displaced, so the refreshed state is
    # EXACTLY old edges ∪ new_scored and the daily WRITE is the O(batch)
    # delta, not the O(state) snapshot (48.6 M rows/day of pure rewrite at
    # the decade corpus). The snapshot read-view is base ∪ delta (below);
    # production merges deltas with the P9-style compact step. The timed
    # region is unchanged in methodology: refresh call + the state write
    # the day actually performs.
    t0 = time.perf_counter()
    refreshed = D.refresh_verified_star_edges(
        bands, store, edges, batch, _parts=parts
    )
    if parts["displaced_empty"]:
        parts["new_scored"].write.parquet(edges_delta)
        edge_write_mode = "delta_append"
    else:
        refreshed.write.parquet(next_edges)
        edge_write_mode = "full_rewrite"
    dedup_steps["edge_refresh_s"] = round(time.perf_counter() - t0, 3)
    dedup_steps["edge_write_mode"] = edge_write_mode
    if edge_write_mode == "delta_append":
        edges_view = edges.unionByName(spark.read.parquet(edges_delta))
        dedup_steps["edge_delta_rows"] = spark.read.parquet(edges_delta).count()
        # diagnostic (untimed): the base ∪ delta read view must be
        # content-identical to the full refreshed frame the function
        # returns — the reconstruction proof for the delta layout
        def _edge_hash(df):
            return str(
                df.agg(
                    F.sum(
                        F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
                    ).alias("h"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0].asDict()
            )

        dedup_steps["edge_view_equals_full_refresh"] = _edge_hash(
            edges_view
        ) == _edge_hash(refreshed)
    else:
        edges_view = spark.read.parquet(next_edges)
    t0 = time.perf_counter()
    comps = D.connected_components(
        edges_view
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
        .distinct()
    )
    comp_row = (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.max("k").alias("max_cluster"),
        )
        .collect()[0]
    )
    dedup_steps["components_s"] = round(time.perf_counter() - t0, 3)
    dedup_steps["total_s"] = round(
        sum(v for v in dedup_steps.values() if isinstance(v, float)), 3
    )
    phase("daily_dedup", {
        "corpus_docs": n_corpus,
        "batch_docs": n_batch,
        "exact_fresh_docs": n_fresh,
        "n_components": comp_row["n_components"],
        "max_cluster": comp_row["max_cluster"],
        "steps": dedup_steps,
        "wall_s": dedup_steps["total_s"],
    })

    out["daily_total_wall_s"] = round(
        out["daily_pipelines"]["wall_s"] + out["daily_dedup"]["wall_s"], 3
    )

    # ---- replay: the same daily run must be a no-op ------------------------
    def content_hash(df):
        return str(
            df.agg(
                F.sum(
                    F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
                ).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0].asDict()
        )

    stats_path = os.path.join(state_dir, "stats.parquet")
    _STATS_SCHEMA = (
        "chain string, totalAmountCurrentlyManaged double, "
        "totalAmountStaked double, percentMarketCaptured double, "
        "date timestamp"
    )
    from metrics_database_cron_script_spark import state as ST

    stats_before = content_hash(
        ST.read_or_empty(spark, stats_path, _STATS_SCHEMA)
    )

    rep_r, wall_replay, steps_r = _traced(
        spark, tracer, lambda: run_batch(spark, sfxl, state_dir, run_ts=max_ts)
    )
    sink_digests_r = {
        name: _tree_digest(os.path.join(state_dir, f"{name}.parquet"))
        for name in sink_digests
    }

    # replay the dedup refresh too: re-ingesting the same batch must leave
    # the edge state content-identical (the distinct membership guard).
    # Under the round-12 delta layout the replayed day's write is its
    # delta — which must be EMPTY (the refresh's posting/edge suppression
    # absorbs the re-ingested batch), leaving the base ∪ delta view
    # untouched by construction; the full-rewrite fallback keeps the
    # original whole-state content comparison.
    r_parts: dict = {}
    replayed = D.refresh_verified_star_edges(
        bands, store, edges_view, batch, _parts=r_parts
    )
    if r_parts["displaced_empty"]:
        edges_equal = r_parts["new_scored"].count() == 0
    else:
        next_edges_r = os.path.join(scratch, "edges-next-replay")
        replayed.write.parquet(next_edges_r)
        edges_equal = content_hash(edges_view) == content_hash(
            spark.read.parquet(next_edges_r)
        )
    phase("replay", {
        "wall_s": wall_replay,
        **steps_r,
        "appends": {
            "prices": rep_r["prices_appended"],
            "tx": rep_r["tx_appended"],
            "routing": rep_r["routing_appended"],
            "rollup_days": rep_r["rollup_days_touched"],
        },
        "append_sinks_byte_identical": sink_digests_r == sink_digests,
        "stats_content_identical": content_hash(
            ST.read_or_empty(spark, stats_path, _STATS_SCHEMA)
        ) == stats_before,
        "rollup_days_touched_on_replay": rep_r["rollup_days_touched"],
        "dedup_edge_state_content_identical": edges_equal,
        "image_batch_docs_on_replay": rep_r["image_dedup"].get("batch_docs"),
        "image_edges_byte_identical": _tree_digest(
            os.path.join(state_dir, "phash_edges.parquet")
        ) == image_edges_digest,
        "ivf_vectors_appended_on_replay": rep_r["embed_index"].get("batch_vectors"),
        "ivf_index_byte_identical": _tree_digest(
            os.path.join(state_dir, "ivf_index.parquet")
        ) == ivf_index_digest,
        "compaction_on_replay": rep_r["compaction"],
        "note": "append sinks are BYTE-identical (untouched dirs); stats "
        "is an OCC keep-latest snapshot — replay writes a new version "
        "directory with identical CONTENT (stored-wins tie rule), so the "
        "check there is the value hash; the rollup frontier makes the "
        "replay interval empty (0 days touched, no write)",
    })

    ok = (
        rep_r["prices_appended"] == 0
        and rep_r["tx_appended"] == 0
        and all(v == 0 for v in rep_r["routing_appended"].values())
        and rep_r["rollup_days_touched"] == 0
        and rep_r["image_dedup"].get("batch_docs") == 0
        and rep_r["embed_index"].get("batch_vectors") == 0
        and _tree_digest(os.path.join(state_dir, "ivf_index.parquet"))
        == ivf_index_digest
        and _tree_digest(os.path.join(state_dir, "phash_edges.parquet"))
        == image_edges_digest
        and sink_digests_r == sink_digests
        and edges_equal
    )
    # ---- P9 compaction micro-bench: measured value of bin-packing ---------
    # Fragment a COPY of the enriched-tx sink into ~240 small files (what
    # eight months of daily appends look like), then measure a keyed scan
    # before/after compact(). The win is file-open + planning overhead —
    # exactly the term that grows unbounded without maintenance.
    frag_dir = os.path.join(scratch, "frag-tx")
    tx_path = os.path.join(state_dir, "tx_enriched.parquet")
    spark.read.parquet(tx_path).repartition(240).write.parquet(frag_dir)
    spark.catalog.refreshByPath(frag_dir)

    def keyed_scan(path):
        df = spark.read.parquet(path)
        return df.groupBy(F.to_date("ts").alias("d")).count().count()

    from metrics_database_cron_script_spark.operators.maintenance import (
        compact, parquet_file_count,
    )
    _, scan_frag = _timed(lambda: keyed_scan(frag_dir))
    files_before = parquet_file_count(frag_dir)
    rows_before = spark.read.parquet(frag_dir).count()
    _, compact_wall = _timed(lambda: compact(spark, frag_dir, target_mb=64))
    spark.catalog.refreshByPath(frag_dir)
    files_after = parquet_file_count(frag_dir)
    _, scan_packed = _timed(lambda: keyed_scan(frag_dir))
    phase("sink_compaction_micro", {
        "files_before": files_before,
        "files_after": files_after,
        "rows_preserved": spark.read.parquet(frag_dir).count() == rows_before,
        "compact_wall_s": compact_wall,
        "keyed_scan_fragmented_s": scan_frag,
        "keyed_scan_compacted_s": scan_packed,
        "note": "same rows, same query; the delta is file-open/planning "
        "overhead that daily appends accrete without P9",
    })

    out["replay_noop"] = ok
    # keep the streaming-twin rows already measured, replace every batch
    # phase
    write_artifact(artifact, out, out["corpus"])
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
