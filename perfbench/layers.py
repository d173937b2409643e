"""Which program modules are traced, and how spans plus Spark job records
become the benchmark's per-layer metrics."""

from __future__ import annotations

import importlib

from spans import self_times

PKG = "metrics_database_cron_script_spark"
MODULES = {
    "session": f"{PKG}.session",
    "pipelines": f"{PKG}.pipelines",
    "state": f"{PKG}.state",
    "maintenance": f"{PKG}.operators.maintenance",
    "multimodal": f"{PKG}.functions.multimodal",
    "bloom": f"{PKG}.functions.bloom",
    "dedup": f"{PKG}.functions.dedup",
}

# span name -> attribution step (the blocking steps of one op): the steps
# of `run_batch`, then the three calls of a text-dedup op
PIPELINE_STEPS = {
    "pipelines.update_prices": "p1_prices",
    "pipelines.update_tx_enriched": "p2_tx_enriched",
    "pipelines.update_stats": "p3_stats",
    "pipelines.update_routing": "p5_routing",
    "pipelines.update_rollup": "p6_rollup",
    "pipelines.update_image_dedup": "p7_image_dedup",
    "pipelines.update_embedding_index": "p8_embed_index",
    "state.Watermark.commit": "watermark_commit",
    "pipelines.run_maintenance": "p9_compaction",
}
STEPS = {
    **PIPELINE_STEPS,
    "bench.exact_dedup": "exact_dedup",
    "bench.edge_refresh": "edge_refresh",
    "bench.components": "components",
}
PROLOGUE = "prologue"  # run_batch's own jobs, outside every step
STEP_KEYS = [PROLOGUE] + list(STEPS.values())
STATE_FNS = ("idempotent_append", "staged_append", "atomic_overwrite", "snapshot_overwrite")
APPENDS = ("state.idempotent_append", "state.staged_append")
OP_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count", "input_mb": "MB",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "executor_run_s": "s", "gc_s": "s", "unattributed_jobs": "count",
}
STEP_COUNTERS = {"jobs": "count", "tasks": "count", "shuffle_mb": "MB", "executor_run_s": "s"}
# what the traced follow-up runs of `cron-days` report, as
# `<prefix>.<name>` <- the op metric it is read from
NEXT_DAY_KEEP = {
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "p5_routing_s": "pipelines.p5_routing_s",
    "p7_image_dedup_s": "pipelines.p7_image_dedup_s",
    "refresh_phash_star_edges_s": "multimodal.refresh_phash_star_edges_s",
    "p9_compaction_s": "pipelines.p9_compaction_s",
    "compact_calls": "maintenance.compact_calls",
}
REPLAY_KEEP = {
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "run_batch_self_s": "pipelines.run_batch_self_s",
    "p3_stats_s": "pipelines.p3_stats_s",
    "p5_routing_s": "pipelines.p5_routing_s",
}


def install(tracer) -> None:
    tracer.install({short: importlib.import_module(name) for short, name in MODULES.items()})


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"session.get_spark_s": "s", "pipelines.run_batch_s": "s",
             "pipelines.run_batch_self_s": "s"}
    for step in PIPELINE_STEPS.values():
        units[f"pipelines.{step}_s"] = "s"
    units["pipelines.p5_append_overlap"] = "ratio"
    for fn in STATE_FNS:
        units[f"state.{fn}_calls"] = "count"
        units[f"state.{fn}_s"] = "s"
    units["state.idempotent_append_rows"] = "count"
    units["state.staged_append_rows"] = "count"
    units.update({
        "maintenance.compact_calls": "count", "maintenance.compact_s": "s",
        "maintenance.files_rewritten": "count", "maintenance.state_files": "count",
        "multimodal.refresh_phash_star_edges_s": "s",
        "bloom.bloom_pruned_anti_join_s": "s", "bloom.fresh_docs": "count",
        "dedup.refresh_verified_star_edges_s": "s", "dedup.edge_delta_rows": "count",
        "dedup.connected_components_s": "s",
    })
    for k, u in OP_COUNTERS.items():
        units[f"spark.{k}"] = u
    for step in STEP_KEYS:
        for k, u in STEP_COUNTERS.items():
            units[f"spark.{step}.{k}"] = u
    units.update({
        "host.cpu_canary_s": "s", "host.floor_job_s": "s", "host.peak_rss_mb": "MB",
        "trace.op_s": "s", "trace.op_cpu_s": "s",
    })
    for prefix, keep in (("next_day", NEXT_DAY_KEEP), ("replay", REPLAY_KEEP)):
        units[f"{prefix}.op_s"] = "s"
        for k, metric in keep.items():
            units[f"{prefix}.{k}"] = units[metric]
    units["replay.sinks_changed"] = "count"
    return units


def _step_of(span_id, by_id) -> str | None:
    """Nearest enclosing step of a span; PROLOGUE inside run_batch only."""
    in_run_batch = False
    while span_id is not None:
        s = by_id[span_id]
        if s["name"] in STEPS:
            return STEPS[s["name"]]
        in_run_batch |= s["name"] == "pipelines.run_batch"
        span_id = s["parent"]
    return PROLOGUE if in_run_batch else None


def _mb(b: int) -> float:
    return b / 2**20


def span_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-layer values of one traced op (missing layers read 0)."""
    by_id = {s["id"]: s for s in spans}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    total = lambda name: sum(dur(s) for s in spans if s["name"] == name)  # noqa: E731
    calls = lambda name: sum(1 for s in spans if s["name"] == name)  # noqa: E731
    m = {"session.get_spark_s": total("session.get_spark"),
         "pipelines.run_batch_s": total("pipelines.run_batch")}
    selfs = self_times(spans)
    m["pipelines.run_batch_self_s"] = sum(
        selfs[s["id"]] for s in spans if s["name"] == "pipelines.run_batch"
    )
    for name, step in PIPELINE_STEPS.items():
        m[f"pipelines.{step}_s"] = total(name)
    # P5's appends run on a pool: summed append walls over the wall that
    # covers them (1.0 = fully serialized, 4.0 = four fully overlapped)
    p5 = [s for s in spans if s["name"] in APPENDS
          and by_id.get(s["parent"], {}).get("name") not in APPENDS
          and _step_of(s["id"], by_id) == "p5_routing"]
    cover = max((s["end"] for s in p5), default=0) - min((s["start"] for s in p5), default=0)
    m["pipelines.p5_append_overlap"] = sum(map(dur, p5)) / cover if cover > 0 else 0.0
    for fn in STATE_FNS:
        m[f"state.{fn}_calls"] = calls(f"state.{fn}")
        m[f"state.{fn}_s"] = total(f"state.{fn}")
    for fn in ("idempotent_append", "staged_append"):
        m[f"state.{fn}_rows"] = sum(s.get("ret", 0) for s in spans if s["name"] == f"state.{fn}")
    m["maintenance.compact_calls"] = calls("maintenance.compact")
    m["maintenance.compact_s"] = total("maintenance.compact")
    m["multimodal.refresh_phash_star_edges_s"] = total("multimodal.refresh_phash_star_edges")
    m["bloom.bloom_pruned_anti_join_s"] = total("bloom.bloom_pruned_anti_join")
    m["dedup.refresh_verified_star_edges_s"] = total("dedup.refresh_verified_star_edges")
    m["dedup.connected_components_s"] = total("dedup.connected_components")

    def counters(js: list[dict]) -> dict[str, float]:
        return {
            "jobs": len(js),
            "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "input_mb": _mb(sum(j["input_b"] for j in js)),
            "shuffle_read_mb": _mb(sum(j["shuffle_read_b"] for j in js)),
            "shuffle_write_mb": _mb(sum(j["shuffle_write_b"] for j in js)),
            "spill_mb": _mb(sum(j["spill_b"] for j in js)),
            "executor_run_s": sum(j["executor_run_ms"] for j in js) / 1000,
            "gc_s": sum(j["gc_ms"] for j in js) / 1000,
        }

    op = counters(jobs)
    op["unattributed_jobs"] = sum(1 for j in jobs if j["span"] not in by_id)
    m.update({f"spark.{k}": v for k, v in op.items()})
    for step in STEP_KEYS:
        c = counters([j for j in jobs if j["span"] in by_id and _step_of(j["span"], by_id) == step])
        m[f"spark.{step}.jobs"] = c["jobs"]
        m[f"spark.{step}.tasks"] = c["tasks"]
        m[f"spark.{step}.shuffle_mb"] = c["shuffle_read_mb"] + c["shuffle_write_mb"]
        m[f"spark.{step}.executor_run_s"] = c["executor_run_s"]
    return m
