"""Span tracing and Spark attribution for the benchmark's child process.

`Tracer.install` wraps the public functions (and public methods of public
classes) of the program's modules from outside — the program itself is not
edited. Each call opens a span (id, name, start, end, parent, thread) and
sets the Spark job group of the calling thread to the span, so every job is
attributable to the innermost traced call that launched it. Job groups are
thread-local, which makes the pool threads of P5 and P9 attribute to their
own spans; a pool thread's first span parents to the innermost span open on
the main thread.

`spark_counters` reads jobs and stages back from the status store after the
op. It never re-materializes a frame: each executed stage is counted once,
under the first job that lists it.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time

GROUP_PREFIX = "bench-span-"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.main_thread().ident

    def install(self, modules: dict[str, object]) -> None:
        """Wrap the public callables of each `{short_name: module}`."""
        for short, mod in modules.items():
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    setattr(mod, name, self._wrap(f"{short}.{name}", obj))
                elif inspect.isclass(obj):
                    for meth, fn in list(vars(obj).items()):
                        if not meth.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, meth, self._wrap(f"{short}.{name}.{meth}", fn))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as span:
                out = fn(*args, **kwargs)
                if isinstance(out, int) and not isinstance(out, bool):
                    span["ret"] = out
                return out

        return traced

    def span(self, name: str):
        return _Span(self, name)

    def _stack(self) -> list[int]:
        tid = threading.get_ident()
        with self._lock:
            return self._stacks.setdefault(tid, [])

    def _open(self, name: str) -> dict:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._stacks.get(self._main) or [None]
            parent = main[-1]
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        _set_group(f"{GROUP_PREFIX}{sid}")
        return {
            "id": sid,
            "name": name,
            "parent": parent,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        stack.pop()
        _set_group(f"{GROUP_PREFIX}{stack[-1]}" if stack else None)
        with self._lock:
            self.spans.append(span)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(span) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self._tracer = tracer
        self._name = name

    def __enter__(self) -> dict:
        self._span = self._tracer._open(self._name)
        return self._span

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._span["error"] = exc_type.__name__
        self._tracer._close(self._span)


def _set_group(group: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", group)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its child spans cover
    (children on pool threads may overlap; their union is subtracted)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def spark_counters(spark, first_job: int = 0) -> list[dict]:
    """One record per Spark job of this application from `first_job` on:
    its span (or None), and the summed metrics of the stages it executed."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = getattr(sc._jvm, "scala.jdk.javaapi.CollectionConverters")
    jobs = sorted(
        (j for j in conv.asJava(store.jobsList(None)) if j.jobId() >= first_job),
        key=lambda j: j.jobId(),
    )
    seen: set[int] = set()
    out = []
    for job in jobs:
        group = job.jobGroup()
        group = group.get() if group.isDefined() else None
        span = (
            int(group[len(GROUP_PREFIX):])
            if group and group.startswith(GROUP_PREFIX)
            else None
        )
        rec = {"job": job.jobId(), "span": span, "stages": 0, "tasks": 0,
               "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0,
               "spill_b": 0, "executor_run_ms": 0, "gc_ms": 0}
        for sid in conv.asJava(job.stageIds()):
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # listed but never run (skipped)
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["input_b"] += st.inputBytes()
            rec["shuffle_read_b"] += st.shuffleReadBytes()
            rec["shuffle_write_b"] += st.shuffleWriteBytes()
            rec["spill_b"] += st.diskBytesSpilled()
            rec["executor_run_ms"] += st.executorRunTime()
            rec["gc_ms"] += st.jvmGcTime()
        out.append(rec)
    return out
