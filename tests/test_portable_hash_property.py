"""Property tests for the portable md5-prefix hash foundations
(functions/dedup.py portable variants + their DuckDB oracles).

The whole construction rests on three claims, each checked here against
DuckDB and plain Python (no Spark session needed — fast):

1. md5 hex encodings agree byte-for-byte across engines;
2. MIN over fixed-length lowercase-hex strings equals MIN over the numbers
   they encode (so string minhash signatures are real minhash signatures);
3. the hex-digit value extraction used for SimHash bits / mod-p sampling
   (strpos-based in DuckDB, conv-based in Spark) equals int(digit, 16).
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

text_strategy = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=80
)


@settings(max_examples=30, deadline=None)
@given(st.lists(text_strategy, min_size=1, max_size=20, unique=True))
def test_duckdb_md5_matches_python(strings):
    con = duckdb.connect()
    for s in strings:
        got = con.execute("SELECT md5(?)", [s]).fetchone()[0]
        assert got == hashlib.md5(s.encode("utf-8")).hexdigest()


@settings(max_examples=50, deadline=None)
@given(st.lists(text_strategy, min_size=1, max_size=50))
def test_hex_prefix_min_is_numeric_min(strings):
    """min() over 16-char lowercase-hex strings == min() over their values —
    the property that makes a string MIN a valid minhash aggregate."""
    hexes = [hashlib.md5(s.encode()).hexdigest()[:16] for s in strings]
    by_string = min(hexes)
    by_number = min(hexes, key=lambda h: int(h, 16))
    assert int(by_string, 16) == int(by_number, 16)


@settings(max_examples=30, deadline=None)
@given(text_strategy, st.integers(min_value=1, max_value=32))
def test_duckdb_strpos_digit_extraction(token, pos):
    """DuckDB's strpos('0123456789abcdef', digit) - 1 == int(digit, 16) for
    every md5 hex digit — the SimHash bit / mod-p sampling primitive."""
    hx = hashlib.md5(token.encode()).hexdigest()
    con = duckdb.connect()
    got = con.execute(
        "SELECT strpos('0123456789abcdef', substr(md5(?), ?, 1)) - 1",
        [token, pos],
    ).fetchone()[0]
    assert got == int(hx[pos - 1], 16)


@pytest.mark.parametrize("mod", [2, 4, 8, 16])
def test_mod_sampling_rate_is_unbiased(mod):
    """The last-hex-digit mod-p rule keeps ~1/p of grams (md5 uniformity):
    sanity-bound the empirical rate over a deterministic corpus."""
    n = 4096
    kept = sum(
        1
        for i in range(n)
        if int(hashlib.md5(f"gram-{i}".encode()).hexdigest()[-1], 16) % mod == 0
    )
    rate = kept / n
    assert abs(rate - 1 / mod) < 0.05


# what hashes like one family: an md5, a portable_hash16 call, or a seeded
# xxhash64(col, seed) — allowed only where the families are defined
_FAMILY_DEFS = {"_FAST", "_PORTABLE", "portable_hash16", "_hex_digit_value"}


def _family_hashes(source: str) -> list[int]:
    """Lines of `source` that hash like one family outside `_FAMILY_DEFS`."""
    import ast

    tree = ast.parse(source)
    allowed = set()
    for node in tree.body:
        names = (
            {t.id for t in node.targets if isinstance(t, ast.Name)}
            if isinstance(node, ast.Assign)
            else {node.name} if isinstance(node, ast.FunctionDef) else set()
        )
        if names & _FAMILY_DEFS:
            allowed |= set(range(node.lineno, node.end_lineno + 1))
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if (
            isinstance(node, ast.Attribute) and node.attr == "md5"
            or isinstance(node, ast.Call) and (
                isinstance(node.func, ast.Name) and node.func.id == "portable_hash16"
                or isinstance(node.func, ast.Attribute)
                and node.func.attr == "xxhash64" and len(node.args) > 1
            )
        )
        and node.lineno not in allowed
    )


def test_only_the_hash_families_choose_a_hash():
    """The md5-vs-xxhash64 decision of the near-dup operators lives in the
    `_Family` instances of functions/dedup.py: no operator body there or
    in the streaming banding hashes like one family itself, so a fix to
    an operator cannot reach only one family. Starts no Spark."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "metrics_database_cron_script_spark"
    found = {
        mod: lines
        for mod in ("functions/dedup.py", "streaming/neardup.py")
        if (lines := _family_hashes((pkg / mod).read_text()))
    }
    assert found == {}
    assert _family_hashes("x = F.md5('t')\n") == [1]
    assert _family_hashes("def f(s):\n    return F.xxhash64(s, F.lit(3))\n") == [2]
    assert _family_hashes("x = portable_hash16(c)\n") == [1]
    assert _family_hashes("x = F.xxhash64('shingle')\n") == []
    assert _family_hashes("_PORTABLE = _Family(\n    token_hash=F.md5,\n)\n") == []
