"""Daily-cron benchmark: every op runs in a cold process, as the cron runs it.

    python3 perfbench/run.py --workload cron-days --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see gen.WHY):

- `cron-days`: setup generates the seeded per-day source; the op is one
  `pipelines.run_batch` over its first week into an empty state, so every
  step P1-P9 runs on a real batch.
- `text-dedup`: setup persists the corpus state and builds the components
  the op must match (a full rebuild); the op runs the day's text-dedup
  batch against that state.

Each op runs in a fresh program process (`child.py`, with
`SPARK_GRAFT_CPUS` set to the CPU count), as the daily cron runs it: a new
JVM and Spark session, the workload's setup, then the op, cold. Processes
run one at a time (closed loop, one client) until `--seconds` have passed,
at least one. Every op's output is checked against DuckDB; a process that
fails, or an op that raises or fails its check, is counted in `failed` and
the run goes on.

The op is measured by the Spark jobs and tasks it ran, which repeat
exactly; its wall and CPU seconds (every process of the program: the
Python interpreter, the JVM, Python workers) are in the run record, and traced in
`trace.op_s` / `trace.op_cpu_s`, but not gated: on a shared host they
moved by more than a third between runs of the same code. `setup_s` is in
CPU seconds.

`--trace 0` prints the end-to-end metrics. `--trace 1` wraps the program's
modules in the first process (see layers.py), reads Spark's status store
after its op, and prints the per-layer metrics; on `cron-days` that process
then replays the op's week, which must append nothing (`replay.*`), and
runs the next day on that state (`next_day.*`). The last stdout line is the
result JSON; the run record (host, canaries, each process's setup and op
seconds, the inputs) is printed on the line before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("cron-days", "text-dedup")
SETUP_REPS = 9  # input generation repeats; setup_s takes their median
FOLLOW_BUDGET_S = 140.0  # no traced follow-up may run past this point of the run
RUN_BUDGET_S = 170.0  # a program process still running then is killed
CANARY_DRIFT = 1.5  # post/pre canary ratio that flags a run

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def host_record() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "free_disk_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
        "pyspark": pyspark.__version__,
        "commit": commit,
    }


def cpu_canary() -> float:
    """Min of 5 fixed numpy matmul loops: CPU and memory bandwidth only."""
    import numpy as np

    a = np.random.default_rng(42).standard_normal((512, 512))
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        b = a
        for _ in range(20):
            b = b @ a
            b /= np.abs(b).max()
        runs.append(time.perf_counter() - t0)
    return min(runs)


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def run_child(spec: dict, work: str, deadline: float) -> tuple[dict | None, float]:
    """Run the program process (child.py) with `spec` until it exits or
    `deadline` (monotonic) passes. Returns its result (None if it failed)
    and the peak RSS of its session in MB. Every process it started has
    ended when this returns."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    cwd = os.path.join(work, "cwd")
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"], cwd):
        os.makedirs(d, exist_ok=True)
    spec = dict(spec, launched=time.monotonic())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), json.dumps(spec)],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    peak = [0]
    stop = threading.Event()
    sampler = threading.Thread(target=_sample_rss, args=(proc.pid, peak, stop))
    sampler.start()
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        _kill_group(proc.pid)
        out, err = proc.communicate()
        print(f"program process timed out: {spec['task']}", file=sys.stderr)
    stop.set()
    sampler.join()
    _reap_group(proc.pid)
    if proc.returncode == 0 and out.strip():
        return json.loads(out.strip().splitlines()[-1]), peak[0] / 1024
    sys.stderr.write(err[-4000:])
    return None, peak[0] / 1024


def _group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a session or process group."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if pgid in (int(fields[2]), int(fields[3])) and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _sample_rss(pgid: int, peak: list, stop: threading.Event) -> None:
    while not stop.wait(0.25):
        peak[0] = max(peak[0], sum(_rss_kb(p) for p in _group_pids(pgid)))


def _kill_group(pgid: int) -> None:
    for pid in _group_pids(pgid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the child's session to end; kill stragglers."""
    end = time.monotonic() + grace_s
    while _group_pids(pgid):
        if time.monotonic() > end:
            _kill_group(pgid)
            end = time.monotonic() + grace_s
        time.sleep(0.1)


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


def parquet_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


class Run:
    task = ""

    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.t_start = time.monotonic()
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.inputs: dict | None = None
        self.procs: list[dict] = []  # the result of every program process
        self.peak_mb = 0.0
        self.steal_s = 0.0

    def generate(self, make) -> float:
        """Generate the inputs SETUP_REPS times, each into a fresh directory,
        and return the median CPU seconds. Returns with `self.src` holding
        the inputs."""
        cpus = []
        for rep in range(SETUP_REPS):
            self.src = os.path.join(self.work, f"src{rep}")
            c0 = time.process_time()
            self.inputs = make(self.src)
            cpus.append(time.process_time() - c0)
            if rep:
                shutil.rmtree(os.path.join(self.work, f"src{rep - 1}"))
        return statistics.median(cpus)

    def op_loop(self, spec: dict, check_op) -> None:
        """Cold program processes, one op each, one after another until
        `--seconds` have passed (at least one). `check_op(work, report)`
        checks an op's outputs. Only the first process is traced."""
        t0 = time.monotonic()
        k = 0
        while True:
            work = os.path.join(self.work, f"p{k}")
            os.makedirs(work)
            trace = os.path.join(work, "trace") if self.args.trace and k == 0 else None
            steal0, launched = steal_s(), time.monotonic()
            result, peak_mb = run_child(
                dict(spec, task=self.task, work=work, trace=trace, floor_canary=True,
                     follow_until=self.t_start + FOLLOW_BUDGET_S),
                work, self.t_start + RUN_BUDGET_S,
            )
            wall = time.monotonic() - launched
            self.steal_s += steal_s() - steal0
            self.peak_mb = max(self.peak_mb, peak_mb)
            if result is None:
                self.tally(f"process {k}", ["the program process failed"])
            else:
                result["work"] = work
                self.procs.append(result)
                op = result["op"]
                self.tally(f"op {k}", check_op(work, op["report"]) if op["ok"] else ["op raised"])
            k += 1
            now = time.monotonic()
            if now - t0 >= self.args.seconds or self.t_start + RUN_BUDGET_S - now < 1.5 * wall:
                break
        if not self.procs:
            raise SystemExit(f"{self.args.workload}: no program process completed")

    def tally(self, what, bad: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(bad)
        if bad:
            print(f"{self.args.workload} {what} failed: {bad}", file=sys.stderr)

    def op_median(self, key: str) -> float:
        """Median of an op counter over the processes whose op succeeded."""
        ops = [p["op"] for p in self.procs]
        return statistics.median([o[key] for o in ops if o["ok"]] or [o[key] for o in ops])

    def setup_s(self) -> float:
        return self.gen_cpu_s + statistics.median(p["setup_cpu_s"] for p in self.procs)

    def traced(self, name: str) -> dict[str, float]:
        import layers

        base = os.path.join(self.work, "p0", f"trace-{name}")
        with open(f"{base}.spans.jsonl") as fh:
            spans = [json.loads(line) for line in fh]
        with open(f"{base}.jobs.json") as fh:
            jobs = json.load(fh)
        return layers.span_metrics(spans, jobs)

    def trace_op(self) -> dict | None:
        """Per-layer metrics of the traced op (the first process's); returns
        that process's result, or None if it failed."""
        first = self.procs[0]
        if first["work"] != os.path.join(self.work, "p0") or not first["op"]["ok"]:
            return None
        self.layer.update(self.traced("op"))
        self.layer["session.get_spark_s"] = first["get_spark_s"]
        self.layer["trace.op_s"] = first["op"]["wall_s"]
        self.layer["trace.op_cpu_s"] = first["op"]["cpu_s"]
        return first


class CronDays(Run):
    task = "cron"

    def run(self) -> None:
        import check
        import gen

        self.gen_cpu_s = self.generate(lambda out: gen.cron_days(out, self.args.seed, self.args.scale))
        view, rows, days = self.inputs["view"], self.inputs["rows"], self.inputs["days"]
        spec = {"view": view}
        if self.args.trace:
            spec["next_view"] = gen.view(self.src, days + 1)

        def check_op(work: str, report: dict) -> list[str]:
            state = os.path.join(work, "state1")
            return check.cron_op(report, view, state, rows, days) + check.cron_final(view, state)

        self.op_loop(spec, check_op)
        self.state_mb = dir_mb(os.path.join(self.procs[-1]["work"], "state1"))
        first = self.trace_op() if self.args.trace else None
        if first is not None:
            self.layer["maintenance.files_rewritten"] = sum(
                c["files_before"] for c in first["op"]["report"].get("compaction", {}).values()
            )
            self.layer["maintenance.state_files"] = parquet_files(
                os.path.join(first["work"], "state1")
            )
            self.follow_ups(first, spec["next_view"], gen.day_rows(self.src, days + 1))

    def follow_ups(self, first: dict, next_view: str, next_rows: dict) -> None:
        """The traced replay of the op's week over its state (must append
        nothing), then the day after it: the incremental paths (P7 refresh,
        fenced appends, IVF append) on a real one-day batch."""
        import check
        import layers

        follow = os.path.join(first["work"], "state_follow")
        checks = {
            "replay": lambda r: check.cron_replay(r),
            "next_day": lambda r: check.cron_op(r, next_view, follow, next_rows, 1)
            + check.cron_final(next_view, follow),
        }
        keeps = {"replay": layers.REPLAY_KEEP, "next_day": layers.NEXT_DAY_KEEP}
        for name, rec in first.get("follow", {}).items():
            self.tally(name, checks[name](rec["report"]) if rec["ok"] else ["op raised"])
            self.layer[f"{name}.op_s"] = rec["wall_s"]
            m = self.traced(name)
            for k, metric in keeps[name].items():
                self.layer[f"{name}.{k}"] = m[metric]
            if name == "replay":
                if rec["sinks_changed"]:
                    print(f"replay changed append sinks: {rec['sinks_changed']}", file=sys.stderr)
                self.layer["replay.sinks_changed"] = len(rec["sinks_changed"])


class TextDedup(Run):
    task = "text"

    def run(self) -> None:
        import check
        import gen

        self.gen_cpu_s = self.generate(lambda out: gen.text_dedup(out, self.args.seed, self.args.scale))
        inp = self.inputs

        def check_op(work: str, report: dict) -> list[str]:
            return check.text_op(os.path.join(work, "out1"), os.path.join(work, "expect"),
                                 inp["docs"], inp["batch_lo"])

        self.op_loop({"docs": inp["docs"], "batch_lo": inp["batch_lo"],
                      "corpus_docs": inp["corpus_docs"]}, check_op)
        work = self.procs[-1]["work"]
        delta = os.path.join(work, "out1", "edges_delta")
        self.state_mb = dir_mb(os.path.join(work, "state")) + (
            dir_mb(delta) if os.path.isdir(delta) else 0.0
        )
        first = self.trace_op() if self.args.trace else None
        if first is not None:
            out1 = os.path.join(first["work"], "out1")
            self.layer["bloom.fresh_docs"] = check.count_rows(f"{out1}/fresh")
            if os.path.isdir(f"{out1}/edges_delta"):
                self.layer["dedup.edge_delta_rows"] = check.count_rows(f"{out1}/edges_delta")


def end_to_end(run: Run) -> dict:
    return {
        "setup_s": {"value": run.setup_s(), "unit": "s"},
        "op_jobs": {"value": run.op_median("jobs"), "unit": "count"},
        "op_tasks": {"value": run.op_median("tasks"), "unit": "count"},
        "state_mb": {"value": run.state_mb, "unit": "MB"},
    }


def per_layer(run: Run, cpu: list[float]) -> dict:
    import layers

    run.layer["host.cpu_canary_s"] = max(cpu)
    run.layer["host.floor_job_s"] = max(p["floor_job_s"] for p in run.procs)
    run.layer["host.peak_rss_mb"] = run.peak_mb
    return {
        name: {"value": float(run.layer.get(name, 0.0)), "unit": unit}
        for name, unit in layers.metric_units().items()
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", choices=("sf0.01", "sf0.001"))
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()
    try:
        import metrics_database_cron_script_spark  # noqa: F401
        import gen_sfxl  # noqa: F401
    except ImportError as exc:
        raise SystemExit(f"run from the repository root: {exc}")

    host = host_record()
    cpu = [cpu_canary()]
    run = (CronDays if args.workload == "cron-days" else TextDedup)(args)
    try:
        run.run()
    finally:
        if not args.keep:
            shutil.rmtree(run.work, ignore_errors=True)
    cpu.append(cpu_canary())
    floor = [p["floor_job_s"] for p in run.procs]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host": host,
        "canaries": {"cpu_canary_s": cpu, "floor_job_s": floor, "steal_s": run.steal_s,
                     "drifted": cpu[1] > CANARY_DRIFT * cpu[0]},
        "gen_cpu_s": run.gen_cpu_s,
        "procs": [{"setup_cpu_s": p["setup_cpu_s"], "setup_s": p["setup_s"],
                   "get_spark_s": p["get_spark_s"],
                   "op": {k: p["op"][k] for k in ("ok", "wall_s", "cpu_s", "jobs", "tasks")}}
                  for p in run.procs],
        "inputs": run.inputs, "work": run.work,
    }))
    metrics = per_layer(run, cpu) if args.trace else end_to_end(run)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
