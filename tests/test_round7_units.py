"""Round-7 advice-item regression tests: the decode_png zlib quarantine
contract, the OCC stored-row-wins tie rule, and the non-local-path guard on
mapInArrow scoring-partition sizing."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest


def _rechunk_idat(payload: bytes, new_zlib: bytes) -> bytes:
    """Rebuild a PNG keeping IHDR/IEND but replacing the IDAT payload with
    `new_zlib`, wrapped in a chunk whose CRC IS valid — so every chunk
    passes the CRC walk and only the concatenated zlib stream is bad."""
    out = bytearray(payload[:8])
    pos = 8
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if tag == b"IDAT":
            data = new_zlib
        chunk = struct.pack(">I", len(data)) + tag + data
        chunk += struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        out += chunk
        pos += 12 + length
        if tag == b"IDAT":
            # keep exactly one IDAT chunk; copy the rest verbatim from IEND
            while pos < len(payload):
                (ln2,) = struct.unpack(">I", payload[pos : pos + 4])
                t2 = payload[pos + 4 : pos + 8]
                if t2 != b"IDAT":
                    out += payload[pos : pos + 12 + ln2]
                pos += 12 + ln2
            break
    return bytes(out)


def test_png_truncated_idat_stream_raises_valueerror_not_zlib_error():
    """A PNG whose chunks are individually CRC-valid but whose concatenated
    IDAT zlib stream is incomplete must raise ValueError (the documented
    quarantine contract), never a bare zlib.error."""
    from metrics_database_cron_script_spark.functions.multimodal import (
        decode_png,
        encode_png,
        synth_pixels,
    )

    good = encode_png(synth_pixels(7))
    # extract the valid zlib stream, truncate it mid-stream, re-wrap with
    # a correct chunk CRC
    pos, idat = 8, bytearray()
    while pos < len(good):
        (length,) = struct.unpack(">I", good[pos : pos + 4])
        tag = good[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += good[pos + 8 : pos + 8 + length]
        pos += 12 + length
    truncated = bytes(idat[: max(2, len(idat) // 2)])
    bad = _rechunk_idat(good, truncated)
    with pytest.raises(ValueError, match="bad IDAT stream"):
        decode_png(bad)
    # garbage that inflates to the wrong length still hits the size check
    with pytest.raises(ValueError):
        decode_png(_rechunk_idat(good, zlib.compress(b"\x00" * 3)))


def test_merge_keep_latest_tie_keeps_stored_row(spark, tmp_path):
    """Equal order tuples keep the STORED row deterministically on the OCC
    backend — the Delta-wrapper parity contract (round-7 advice item 2)."""
    from metrics_database_cron_script_spark.versioned import VersionedSnapshot

    t = VersionedSnapshot(spark, str(tmp_path / "snap"))
    t.merge_keep_latest(
        spark.createDataFrame([(1, 5, "stored")], "k int, ts int, v string"),
        key="k",
        order_cols=["ts"],
    )
    t.merge_keep_latest(
        spark.createDataFrame([(1, 5, "batch")], "k int, ts int, v string"),
        key="k",
        order_cols=["ts"],
    )
    rows = t.read().collect()
    assert [(r["k"], r["ts"], r["v"]) for r in rows] == [(1, 5, "stored")]
    # strictly greater still wins
    t.merge_keep_latest(
        spark.createDataFrame([(1, 6, "newer")], "k int, ts int, v string"),
        key="k",
        order_cols=["ts"],
    )
    assert t.read().collect()[0]["v"] == "newer"


def test_score_partitions_guard_on_nonlocal_paths(tmp_path):
    """Plan construction must not FileNotFoundError for non-local sf_dirs
    (hdfs://, s3a://): sizing falls back to scan-width parallelism."""
    from metrics_database_cron_script_spark.plans.queries_llm import (
        _score_partitions_for,
    )

    assert _score_partitions_for("hdfs://nn/warehouse/embeddings.parquet") is None
    assert _score_partitions_for("s3a://bucket/embeddings.parquet") is None
    f = tmp_path / "one.parquet"
    f.write_bytes(b"x" * 100)
    assert _score_partitions_for(str(f)) == 1
    d = tmp_path / "dir.parquet"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}").write_bytes(b"y" * (40 << 20))
    assert _score_partitions_for(str(d)) == (120 << 20) // (32 << 20)


def test_driver_format_err_contract():
    """err is non-null IFF the check failed — the property the
    parity-vs-driver artifact diff relies on for red rows."""
    from metrics_database_cron_script_spark.oracle import driver_format

    green = driver_format(
        {"ok": True, "rows_match": True, "cols_match": True,
         "values_match": True, "rows_spark": 5, "rows_oracle": 5}
    )
    assert green["err"] is None and green["hash_match"]
    red = driver_format(
        {"ok": False, "rows_match": True, "cols_match": True,
         "values_match": False, "rows_spark": 5, "rows_oracle": 5}
    )
    assert red["err"] == "failed: hash_match" and not red["hash_match"]
    ro = driver_format({"ok": False, "rows_only": True, "rows_spark": -1})
    assert ro["err"] and not ro["rows_match"]
