"""Crash sweep over `pipelines.run_batch`: a run killed right after one durable
effect, then replayed, must leave the state an uninterrupted run leaves.

The kills are taken inside the bootstrap and next-day runs of the session
`days_and_kills` fixture (tests/conftest.py, CRASH_POINTS): a fake `state._rename`
copies the whole state dir after the chosen rename lands. Each case
replays its copy with `run_batch` over the same source and compares it
with the uninterrupted run: every table's rows, every schema marker, and
no staged leftover (`.tmp-*`, `.old-*`, `.stage-*`, `.__compact-*`)."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from tests.conftest import CRASH_POINTS, SF_SMOKE
from tests.test_state_markers import SCALARS, _rows, _tables

STAGED = (".tmp-", ".old-", ".stage-", ".__compact-")
PKG = pathlib.Path(__file__).resolve().parent.parent / "metrics_database_cron_script_spark"
RENAMES = {"rename", "replace", "renames"}


def _renames(source: str) -> list[int]:
    """Lines that call `os.rename`/`os.replace` (through any alias of `os`
    or a `from os import` of them)."""
    tree = ast.parse(source)
    mods, names = {"os"}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            names |= {a.asname or a.name for a in node.names if a.name in RENAMES}
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and (
            isinstance(node.func, ast.Attribute) and node.func.attr in RENAMES
            and isinstance(node.func.value, ast.Name) and node.func.value.id in mods
            or isinstance(node.func, ast.Name) and node.func.id in names
        )
    ]


def test_only_the_state_layer_renames():
    """Every rename of durable state goes through `state._rename`, the one
    place the sweep fakes: no other module of the package calls
    `os.rename` or `os.replace`. Starts no Spark."""
    found = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if (lines := _renames(p.read_text()))
    }
    assert list(found) == ["state.py"], found
    assert _renames("import os as o\no.rename('a', 'b')\n") == [2]
    assert _renames("from os import replace\nreplace('a', 'b')\n") == [2]


@pytest.mark.parametrize("kill", list(CRASH_POINTS))
def test_killed_run_replays_to_uninterrupted_state(spark, days_and_kills, kill):
    from metrics_database_cron_script_spark.pipelines import run_batch
    from metrics_database_cron_script_spark.state import read_schema_marker

    day0, boot, final, kills = days_and_kills
    assert kill in kills, f"kill point {kill} never reached"
    crashed = kills[kill]
    run, _pattern = CRASH_POINTS[kill]
    source, want = (day0, boot) if run == 0 else (SF_SMOKE, final)

    run_batch(spark, source, crashed)
    assert [n for n in os.listdir(crashed) if any(k in n for k in STAGED)] == []
    assert _tables(crashed) == _tables(want)
    for name in _tables(want):
        a, b = f"{crashed}/{name}.parquet", f"{want}/{name}.parquet"
        assert _rows(spark.read.parquet(a)) == _rows(spark.read.parquet(b)), name
        if name not in SCALARS:
            got = read_schema_marker(a)
            assert got is not None, name
            assert got == read_schema_marker(b), name


def test_killed_first_marker_commit_reads_as_never_committed(tmp_path, monkeypatch):
    """A marker's first commit killed before its rename leaves the marker
    dir holding only the commit's hidden temp file. It reads as never
    committed (the watermark as EPOCH, a frontier as absent, so its step
    bootstraps), not as an unreadable marker that fails every later run;
    the next commit reaps the temp file. Starts no Spark."""
    import datetime

    from metrics_database_cron_script_spark import state

    class Killed(BaseException):
        pass

    def die(_src, _dst):
        raise Killed

    wm = state.Watermark(None, str(tmp_path))
    ts = datetime.datetime(2024, 1, 15)
    with monkeypatch.context() as m:
        m.setattr(state, "_rename", die)
        with pytest.raises(Killed):
            wm.commit(ts)
    assert os.listdir(wm.path) != []
    assert wm.read() == state.Watermark.EPOCH
    assert state.read_scalar(wm.path, "lastUpdated") is None
    wm.commit(ts)
    assert os.listdir(wm.path) == [state.SCALAR_FILE]
    assert wm.read() == ts
