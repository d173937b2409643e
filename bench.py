#!/usr/bin/env python
"""Headline benchmark: engine queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed by the same registry entry the driver checks for
correctness; timing covers plan construction + full materialization
(count-style drain, no driver-side collect of payload rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # reference semantics (the engine's raison d'être)
    "r_tx_enrich",
    "r_aum_routing",
    "r_upsert_snapshot",
    # relational core
    "c_hash_agg",
    "c_inner_join",
    "c_range_join",
    "c_window_rank",
    "c_topk_per_group",
    # streaming-shaped
    "s_session",
    # llm-pipeline
    "x_text_tokens",
    "x_near_dup_minhash",
    "x_embed_cosine_topk",
    # added end of round 1 (baseline for future rounds)
    "c_multi_join",
    "x_tfidf",
    "x_ngram_jaccard",
    # TPC-H classics + sub-document dedup (round-1 close)
    "c_tpch_q1_shape",
    "c_tpch_q9_shape",
    "c_tpch_q21_shape",
    "x_chunk_dedup",
]


def bench_dir(src_sf_dir: str) -> str:
    """Resolve the directory the bench reads: a presplit multi-file copy of
    the driver fixtures (sources/presplit.py — the realistic many-files
    layout; single-file single-row-group parquet caps every scan at one
    task). SPARK_GRAFT_PRESPLIT=off pins the raw layout."""
    if os.environ.get("SPARK_GRAFT_PRESPLIT", "") == "off":
        return src_sf_dir
    from metrics_database_cron_script_spark.sources.presplit import presplit
    from metrics_database_cron_script_spark.sources.tables import TABLES, table_path

    # already multi-file (e.g. the synthetic sf1 built by gen_sfxl.py):
    # nothing to split, read it as-is
    if not any(os.path.isfile(table_path(src_sf_dir, t)) for t in TABLES):
        return src_sf_dir

    tag = src_sf_dir.rstrip("/").rsplit("/", 1)[-1]
    dst = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_cache", f"{tag}-presplit"
    )
    try:
        return presplit(src_sf_dir, dst)
    except Exception:
        return src_sf_dir  # raw fixtures remain a correct fallback


def count_jobs_tasks(spark, group: str) -> tuple[int, int]:
    """Plan-structural (jobs, tasks) launched under job group `group` —
    the two halves of the local fixed-cost floor. Tasks are deduped by
    STAGE id: under AQE a downstream job's stageIds lists upstream
    already-executed stages too, and counting them once per referencing
    job would inflate the floor ~2×. Returns (-1, -1) when the status
    tracker is unavailable (callers must treat that as 'no floor claim',
    never a negative bound). Called by run_query once per timed run."""
    try:
        tracker = spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        seen_stages: set[int] = set()
        tasks = 0
        for jid in job_ids:
            jinfo = tracker.getJobInfo(jid)
            if jinfo is None:
                continue
            for sid in jinfo.stageIds:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sinfo = tracker.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(job_ids), tasks
    except Exception:
        return -1, -1


def run_query(spark, fn, sf_dir: str, runs: int = 3) -> dict:
    """Time one registered query: min/max of `runs` full materializations
    plus the Spark job count of the final run (job count is the per-action
    fixed-cost driver at toy scale — reported so round-over-round deltas are
    attributable)."""
    times = []
    jobs = 0
    tasks = 0
    for i in range(runs):
        group = f"bench-{id(fn)}-{i}"
        spark.sparkContext.setJobGroup(group, "bench")
        try:
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
            assert n >= 0
            jobs, tasks = count_jobs_tasks(spark, group)
        finally:
            spark.sparkContext.setJobGroup("", "")
    return {
        "s": round(min(times), 3),
        "max_s": round(max(times), 3),
        "jobs": jobs,
        "tasks": tasks,
    }


def noise_control(spark, sf_dir: str) -> dict:
    """Machine-state control probes (round 10, verdict item 6): three
    fixed workloads whose PLANS never change across rounds, so a
    round-over-round headline delta can be attributed from the artifact
    alone — if the controls moved with the headline (as in the r8→r9
    +15%), the delta is machine state, not plan drift.

    - floor_job_s: median of 15 one-partition count() actions on a
      prebuilt 1-row range — the per-job scheduler floor.
    - cpu_canary_s: min of 5 fixed numpy matmul loops — pure CPU/memory
      bandwidth, engine-independent.
    - scan_canary_s: min of 3 full-table sum() scans of the orders
      fixture via a hand-built plan (never a registry entry, so query
      rewrites can't touch it) — JVM + page-cache + parquet-reader state.
    """
    import numpy as np

    one = spark.range(0, 1, 1, 1)
    one.count()
    floor_runs = []
    for _ in range(15):
        t0 = time.perf_counter()
        one.count()
        floor_runs.append(time.perf_counter() - t0)
    floor_job_s = sorted(floor_runs)[len(floor_runs) // 2]

    rng = np.random.default_rng(42)
    a = rng.standard_normal((512, 512))
    cpu_runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        b = a
        for _ in range(20):
            b = b @ a
            b /= np.abs(b).max()
        cpu_runs.append(time.perf_counter() - t0)

    from pyspark.sql import functions as F
    from metrics_database_cron_script_spark.sources.tables import table_path

    scan = spark.read.parquet(table_path(sf_dir, "orders")).agg(
        F.sum("o_totalprice")
    )
    scan.collect()
    scan_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        scan.collect()
        scan_runs.append(time.perf_counter() - t0)

    return {
        "floor_job_s": round(floor_job_s, 4),
        "cpu_canary_s": round(min(cpu_runs), 4),
        "scan_canary_s": round(min(scan_runs), 4),
    }


def main() -> None:
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from metrics_database_cron_script_spark import get_spark
    from metrics_database_cron_script_spark.plans import QUERIES

    spark = get_spark("bench")
    sf_dir = bench_dir(src_dir)
    # Warm JVM + whole-stage codegen per plan shape at the smallest sf so the
    # timed run measures the operators, not first-compile of generated code
    # (the DuckDB baseline carries no equivalent cold-start).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != src_dir:
        for name in HEADLINE:
            try:
                QUERIES[name](spark, warm_dir).count()
            except Exception:
                pass
    # One untimed pass at the TARGET sf: HotSpot tiers generated code to C2
    # only after repeated execution, and the first target-scale run also
    # pays page-cache faults — JMH-style warm-up so the timed minimum
    # reflects steady state, not JIT ramp. (DuckDB's min-of-N warms the
    # same page cache.)
    for name in HEADLINE:
        try:
            QUERIES[name](spark, sf_dir).count()
        except Exception:
            pass

    control_pre = noise_control(spark, sf_dir)
    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in HEADLINE:
        r = run_query(spark, QUERIES[name], sf_dir, runs=5)
        timings[name] = r["s"]
        detail[name] = r
    control_post = noise_control(spark, sf_dir)
    total = round(sum(timings.values()), 3)
    sf = src_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Round-10 verdict, What's wrong #1: the single JSON line carrying
    # headline + detail + control outgrew the driver's tail-capture window
    # (BENCH_r10.json parsed: null). Emit the per-query detail and the
    # machine-state controls on their OWN line first (still one JSON object,
    # still in the artifact), and keep the FINAL line compact — exactly the
    # {metric, value, unit, queries, sf, layout} headline the driver parses.
    # Timing methodology is unchanged (same queries, same count() drain,
    # same min-of-5); only the print format moved.
    print(
        json.dumps(
            {
                "metric": "headline_detail",
                # per-query min/max/jobs/tasks — the floor-attribution block
                "detail": detail,
                # machine-state controls bracketing the measured loop: when
                # a round-over-round headline delta is NOT mirrored by these
                # fixed-plan probes, the delta is plan drift; when it is
                # mirrored, it is machine state (README "Benchmarks" notes)
                "control": {"pre": control_pre, "post": control_post},
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "layout": "presplit" if sf_dir != src_dir else "raw",
            }
        )
    )


if __name__ == "__main__":
    main()
