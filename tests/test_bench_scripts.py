"""Guard for the root-level bench and generator scripts, which no other
test runs (most need SFXL data): each one imports, and every keyword it
passes to a public function of the engine's core modules names a real
parameter of that function. Starts no Spark."""

from __future__ import annotations

import ast
import importlib
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
