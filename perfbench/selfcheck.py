"""Fixture-scale self-check of the benchmark (a few minutes, not a test of
the program).

    python3 perfbench/selfcheck.py

From the repository root: runs every workload once untraced and once
traced on the vendored sf0.001 fixtures, asserts that each run is correct
and prints exactly the metric names and units BENCHMARK.json declares, then
tampers with one output of each workload and asserts that the output check
catches it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "sf0.001", "--keep"],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    detail, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return detail, result


def drop_first_row(table_dir: str) -> None:
    """Rewrite the first non-empty parquet file of a table without its
    first row."""
    for path in sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)):
        tbl = pq.read_table(path)
        if tbl.num_rows:
            pq.write_table(tbl.slice(1), path)
            return
    raise AssertionError(f"no rows to tamper with in {table_dir}")


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in (wl["name"] for wl in bench["workloads"]):
        for trace in (0, 1):
            detail, result = run(w, trace)
            work = detail["work"]
            try:
                assert result["correct"] and result["failed"] == 0, (w, trace, result)
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                assert got == want[trace], (w, trace, set(got) ^ set(want[trace]))
                if trace == 0:
                    tamper(w, work, detail["inputs"])
            finally:
                shutil.rmtree(work, ignore_errors=True)
            print(f"ok {w} trace={trace}")
    print("selfcheck passed")


def tamper(workload: str, work: str, inputs: dict) -> None:
    if workload == "cron-days":
        state = os.path.join(work, "p0", "state1")
        assert not check.cron_final(inputs["view"], state)
        drop_first_row(os.path.join(state, "tx_enriched.parquet"))
        assert check.cron_final(inputs["view"], state), "tampered sink passed the check"
    else:
        out, expect = os.path.join(work, "p0", "out1"), os.path.join(work, "p0", "expect")
        args = (inputs["docs"], inputs["batch_lo"])
        assert not check.text_op(out, expect, *args)
        drop_first_row(os.path.join(out, "components"))
        assert check.text_op(out, expect, *args), "tampered components passed the check"


if __name__ == "__main__":
    main()
