"""One cold program process of a benchmark run: starts its own Spark
session, sets up, runs the workload's op once, prints one JSON line and
exits (stopping its JVM first).

    python3 perfbench/child.py '<json spec>'

Tasks (`spec["task"]`):
- `cron`: the op is one `pipelines.run_batch` of `view` into an empty
  state directory, `<work>/state1`.
- `text`: the setup persists the text-dedup corpus state (shingle store,
  LSH bands, scored star edges, seen-hash set) under `<work>/state`, then
  the expectation the op must match, a full rebuild of the components
  over corpus ∪ batch, under `<work>/expect`. The op is the day's batch
  against that state — Bloom-pruned exact dedup, verified star-edge
  refresh plus its delta write, and connected components over base ∪
  delta — writing to `<work>/out1`.

The result line carries the op's wall and CPU seconds and its Spark jobs
and tasks (read back from the status store), and `setup_s` and
`setup_cpu_s` (launch to the op's start: interpreter and JVM start, the
Spark session, the setup). CPU seconds are read from /proc for every
process of the session (`session_cpu_s`). An op that raises is recorded
as failed (`ok`), not fatal. With `spec["trace"]` set, the program's
modules are wrapped by `spans.Tracer` before anything runs; the op's
spans go to `<trace>-op.spans.jsonl` and its Spark job records, read back
from the status store, to `<trace>-op.jobs.json`. On `cron`, a traced run
then replays the op's source over a copy of its state (`replay`, which must
append nothing) and runs the following day on that copy (`next_day`,
`spec["next_view"]`), each traced the same way. `spec["floor_canary"]`
runs the per-job scheduler-floor probe last.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback

from spans import spark_counters

CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every process of this
    process's session: this interpreter, the JVM it launched and the Python
    workers under it (their daemon makes its own process group but stays in
    the session), counting exited children their parents have reaped.
    Time a process spent waiting for a CPU, or stolen by the hypervisor,
    is not in it."""
    sid, ticks = os.getsid(0), 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def floor_canary(spark) -> float:
    """Median of 15 one-partition count() actions on a 1-row range."""
    one = spark.range(0, 1, 1, 1)
    one.count()
    runs = []
    for _ in range(15):
        t0 = time.perf_counter()
        one.count()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[len(runs) // 2]


def cron_op(spark, spec, i, span) -> dict:
    from metrics_database_cron_script_spark import pipelines

    report = pipelines.run_batch(spark, spec["view"], os.path.join(spec["work"], f"state{i}"))
    return {k: (v if isinstance(v, (int, float, dict)) else str(v)) for k, v in report.items()}


def _norm_hash(docs):
    from metrics_database_cron_script_spark.functions import dedup as D
    from pyspark.sql import functions as F

    return docs.select("doc_id", F.xxhash64(D.normalized_text()).alias("h"))


def _split(spark, spec):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(spec["docs"]).select("doc_id", "text", "source")
    lo = spec["batch_lo"]
    return docs.filter(F.col("doc_id") < lo), docs.filter(F.col("doc_id") >= lo)


def _pairs(edges, min_jaccard: float):
    from pyspark.sql import functions as F

    return edges.filter(F.col("jaccard") >= min_jaccard).select("doc_a", "doc_b").distinct()


MIN_JACCARD = 0.8


def text_setup(spark, spec) -> None:
    """Persist the corpus state: shingle store, LSH bands, scored star
    edges and the seen-hash set."""
    from metrics_database_cron_script_spark.functions import dedup as D

    corpus, _ = _split(spark, spec)
    st = os.path.join(spec["work"], "state")
    D.word_shingles(corpus, hashed=True).write.parquet(f"{st}/store")
    store = spark.read.parquet(f"{st}/store")
    nh = D.MINHASH_DEFAULTS.num_hashes
    D.lsh_bands(D.minhash_signatures(store, nh), nh).write.parquet(f"{st}/bands")
    bands = spark.read.parquet(f"{st}/bands")
    D.scored_star_edges(bands, store).write.parquet(f"{st}/edges")
    _norm_hash(corpus).select("h").distinct().write.parquet(f"{st}/seen")


def text_expect(spark, spec) -> None:
    """The components every op must match: a full rebuild over corpus ∪
    batch (the corpus shingles are the persisted store)."""
    from metrics_database_cron_script_spark.functions import dedup as D

    _, batch = _split(spark, spec)
    st = os.path.join(spec["work"], "state")
    shingles = spark.read.parquet(f"{st}/store").unionByName(D.word_shingles(batch, hashed=True))
    _, _, all_edges = D.verified_star_state(None, shingles=shingles, portable=False)
    D.connected_components(_pairs(all_edges, MIN_JACCARD)).write.parquet(
        os.path.join(spec["work"], "expect", "components")
    )


def text_op(spark, spec, i, span) -> dict:
    """The day's batch against the persisted state: fresh docs, the edge
    delta (or the full rewrite) and the components, all under `out<i>`."""
    from metrics_database_cron_script_spark.functions import bloom as B
    from metrics_database_cron_script_spark.functions import dedup as D

    _, batch = _split(spark, spec)
    st, out = os.path.join(spec["work"], "state"), os.path.join(spec["work"], f"out{i}")
    with span("bench.exact_dedup"):
        seen = spark.read.parquet(f"{st}/seen")
        fresh = B.bloom_pruned_anti_join(
            _norm_hash(batch), seen, key="h", expected_items=spec["corpus_docs"]
        )
        fresh.select("doc_id").write.parquet(f"{out}/fresh")
    with span("bench.edge_refresh"):
        parts: dict = {}
        refreshed = D.refresh_verified_star_edges(
            spark.read.parquet(f"{st}/bands"),
            spark.read.parquet(f"{st}/store"),
            spark.read.parquet(f"{st}/edges"),
            batch,
            _parts=parts,
        )
        if parts["displaced_empty"]:
            parts["new_scored"].write.parquet(f"{out}/edges_delta")
            mode = "delta_append"
        else:
            refreshed.write.parquet(f"{out}/edges_full")
            mode = "full_rewrite"
    with span("bench.components"):
        if mode == "delta_append":
            view = spark.read.parquet(f"{st}/edges").unionByName(
                spark.read.parquet(f"{out}/edges_delta")
            )
        else:
            view = spark.read.parquet(f"{out}/edges_full")
        D.connected_components(_pairs(view, MIN_JACCARD)).write.parquet(f"{out}/components")
    return {"edge_write_mode": mode}


def text_setup_and_expect(spark, spec) -> None:
    text_setup(spark, spec)
    text_expect(spark, spec)


# task -> (setup, op); the setup runs before the op, outside its timing
TASKS = {
    "cron": (None, cron_op),
    "text": (text_setup_and_expect, text_op),
}


class Runner:
    def __init__(self, spark, spec, tracer) -> None:
        self.spark, self.spec, self.tracer = spark, spec, tracer
        self.span = tracer.span if tracer is not None else lambda name: contextlib.nullcontext({})
        self.op = TASKS[spec["task"]][1]

    def run_op(self, i, trace: str | None = None, spec=None) -> dict:
        """One op, timed in wall and session CPU seconds; with `trace`, its
        spans and job records are written under that base path."""
        if trace is not None:
            self.tracer.spans.clear()
        first_job = _jobs_so_far(self.spark)
        rec = {"i": i}
        c0, t0 = session_cpu_s(), time.monotonic()
        try:
            rec["report"] = self.op(self.spark, spec or self.spec, i, self.span)
            rec["ok"] = True
        except Exception:  # a failed op is recorded and the run goes on
            traceback.print_exc()
            rec["ok"] = False
        rec["wall_s"], rec["cpu_s"] = time.monotonic() - t0, session_cpu_s() - c0
        jobs = spark_counters(self.spark, first_job)
        rec["jobs"], rec["tasks"] = len(jobs), sum(j["tasks"] for j in jobs)
        if trace is not None:
            self.tracer.write_jsonl(f"{trace}.spans.jsonl")
            with open(f"{trace}.jobs.json", "w") as fh:
                json.dump(jobs, fh)
        return rec

    def follow_ups(self, op: dict) -> dict:
        """Replay the op's source over a copy of its state, then run the
        next day on that copy: two more traced run_batch calls."""
        import check
        from metrics_database_cron_script_spark.pipelines import APPEND_SINKS

        work, base = self.spec["work"], self.spec["trace"]
        follow = os.path.join(work, "state_follow")
        shutil.copytree(os.path.join(work, f"state{op['i']}"), follow)
        out = {}
        for name, view in (("replay", self.spec["view"]), ("next_day", self.spec["next_view"])):
            if time.monotonic() + 1.5 * op["wall_s"] > self.spec["follow_until"]:
                print(f"{name} skipped: no time left in the run", file=sys.stderr)
                break
            before = check.sink_digests(follow, APPEND_SINKS)
            rec = self.run_op("_follow", trace=f"{base}-{name}", spec=dict(self.spec, view=view))
            after = check.sink_digests(follow, APPEND_SINKS)
            rec["sinks_changed"] = [k for k in APPEND_SINKS if before[k] != after[k]]
            out[name] = rec
        return out


def main() -> None:
    spec = json.loads(sys.argv[1])
    tracer = None
    if spec.get("trace"):
        import layers
        from spans import Tracer

        tracer = Tracer()
        layers.install(tracer)
    from metrics_database_cron_script_spark import session

    t0 = time.monotonic()
    spark = session.get_spark("perfbench")
    result = {"get_spark_s": time.monotonic() - t0}
    setup, _ = TASKS[spec["task"]]
    runner = Runner(spark, spec, tracer)
    if setup is not None:
        setup(spark, spec)
    result["setup_s"] = time.monotonic() - spec["launched"]
    result["setup_cpu_s"] = session_cpu_s()
    op = result["op"] = runner.run_op(1, trace=f"{spec['trace']}-op" if tracer else None)
    if tracer is not None and spec["task"] == "cron" and op["ok"]:
        result["follow"] = runner.follow_ups(op)
    if spec.get("floor_canary"):
        result["floor_job_s"] = floor_canary(spark)
    _stop(spark)
    print(json.dumps(result), flush=True)


def _jobs_so_far(spark) -> int:
    """Jobs the application has run (job ids count up from 0)."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM, so no process outlives this one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    main()
