"""Guard for the root-level bench and generator scripts, which no other
test runs (most need SFXL data): each one imports, every import anywhere
in it (function-local ones too) of a root script or a package module
resolves, and every keyword it passes to a public function of the
engine's core modules names a real parameter of that function. Starts no
Spark."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "metrics_database_cron_script_spark"
CHECKED = {
    f"{PKG}.{m}"
    for m in ("pipelines", "state", "functions.dedup", "functions.bloom", "functions.multimodal")
}
SCRIPTS = sorted(p.stem for pat in ("bench_*.py", "gen_*.py") for p in ROOT.glob(pat))


def _local(module: str) -> bool:
    """The module is the repo's own (a root script, the package, a
    perfbench module), or nothing resolves it: a deleted root script."""
    spec = importlib.util.find_spec(module.split(".")[0])
    return spec is None or ROOT in pathlib.Path(spec.origin or "").resolve().parents


def _unresolved_imports(source: str, label: str) -> list[str]:
    """`label:line: ...` for every import in the source, at any depth
    (function-local ones too), of a repo module that fails, or that names
    something the module does not have."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom) and node.module and not node.level:
            targets = [(node.module, [a.name for a in node.names])]
        elif isinstance(node, ast.Import):
            targets = [(a.name, []) for a in node.names]
        else:
            continue
        for mod, names in targets:
            if not _local(mod):
                continue
            try:
                m = importlib.import_module(mod)
            except ImportError:
                bad.append(f"{label}:{node.lineno}: {mod} does not import")
                continue
            for name in names:
                if hasattr(m, name):
                    continue
                try:
                    importlib.import_module(f"{mod}.{name}")
                except ImportError:
                    bad.append(f"{label}:{node.lineno}: {mod}.{name} does not exist")
    return bad


def _stale_keywords(source: str, label: str) -> list[str]:
    """`label:line: module.fn(kw=)` for every keyword the source passes to
    a public function of a CHECKED module (called through any module or
    function import alias in the file) that the function does not take."""
    tree = ast.parse(source)
    modules, names = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                if f"{node.module}.{a.name}" in CHECKED:
                    modules[a.asname or a.name] = f"{node.module}.{a.name}"
                elif node.module in CHECKED:
                    names[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            modules.update({a.asname: a.name for a in node.names if a.name in CHECKED and a.asname})
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in names:
            mod, name = names[f.id]
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id in modules:
            mod, name = modules[f.value.id], f.attr
        else:
            continue
        if name.startswith("_"):
            continue
        fn = getattr(importlib.import_module(mod), name, None)
        if fn is None:
            bad.append(f"{label}:{node.lineno}: {mod}.{name} does not exist")
            continue
        params = inspect.signature(fn).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        bad += [
            f"{label}:{node.lineno}: {mod}.{name}({k.arg}=)"
            for k in node.keywords
            if k.arg is not None and k.arg not in params
        ]
    return bad


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_and_passes_real_keywords(script):
    importlib.import_module(script)
    path = ROOT / f"{script}.py"
    assert _unresolved_imports(path.read_text(), path.name) == []
    assert _stale_keywords(path.read_text(), path.name) == []


def test_stale_keyword_is_reported():
    src = (
        f"from {PKG}.pipelines import run_batch\n"
        f"from {PKG}.functions import dedup as D\n"
        "run_batch(s, a, b, timer=None)\n"
        "D.connected_components(p, on_round=print, walls={})\n"
        "D.no_such_function(p)\n"
    )
    assert _stale_keywords(src, "x.py") == [
        f"x.py:3: {PKG}.pipelines.run_batch(timer=)",
        f"x.py:4: {PKG}.functions.dedup.connected_components(walls=)",
        f"x.py:5: {PKG}.functions.dedup.no_such_function does not exist",
    ]


def test_unresolved_import_is_reported():
    src = (
        "import json\n"
        "def main():\n"
        "    from bench_no_such_script import helper\n"
        f"    from {PKG}.functions import dedup as D, no_such_module\n"
        f"    from {PKG}.functions.dedup import word_shingles, no_such_name\n"
        f"    import {PKG}.no_such_module\n"
    )
    assert _unresolved_imports(src, "x.py") == [
        "x.py:3: bench_no_such_script does not import",
        f"x.py:4: {PKG}.functions.no_such_module does not exist",
        f"x.py:5: {PKG}.functions.dedup.no_such_name does not exist",
        f"x.py:6: {PKG}.no_such_module does not import",
    ]


def test_daily_bench_writes_only_the_dataset_its_artifact_records(tmp_path):
    """bench_daily_sfxl.write_artifact merges a run over the artifact only
    when the run's corpus totals are the ones the artifact records; a run
    on any other dataset (a fixture-scale smoke run) leaves the file as it
    was. With no artifact yet, the run is written."""
    import json

    from bench_daily_sfxl import write_artifact

    path = tmp_path / "BENCH_DAILY_SFXL.json"
    recorded = {"events_total": 25_600_000, "docs_total": 1_280_000}
    committed = {"corpus": recorded, "replay_noop": True, "streaming_rollup": {"ok": 1}}
    path.write_text(json.dumps(committed))

    smoke = {"corpus": {"events_total": 100, "docs_total": 10}, "replay_noop": False}
    assert not write_artifact(str(path), smoke, smoke["corpus"])
    assert json.loads(path.read_text()) == committed

    rerun = {"corpus": dict(recorded), "replay_noop": False}
    assert write_artifact(str(path), rerun, recorded)
    assert json.loads(path.read_text()) == {**committed, **rerun}

    fresh = tmp_path / "fresh.json"
    assert write_artifact(str(fresh), smoke, smoke["corpus"])
    assert json.loads(fresh.read_text()) == smoke
