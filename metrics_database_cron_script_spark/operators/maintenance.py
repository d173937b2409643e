"""Table maintenance: small-file compaction for append-heavy sinks.

The idempotent-append sink (state.py) adds files every cron run; after
months of daily batches a 100 TB table becomes millions of small files and
scan planning + open() overhead dominates. `compact` bin-packs a parquet
table's small files to ~`target_mb` files.

Durable effects go through the state layer (state.py, durable effects):
the packed leaves are written under a sibling `<table>.__compact-*/tmp`
dir, and each leaf is put in place by `state._swap`, the two-rename swap
the snapshot writer uses, with the replaced leaf parked under
`<table>.__compact-*/old`. Readers never see a half-written leaf. A crash
leaves that staging dir for `state.recover`, which every compaction runs
first on its table: a leaf caught between the two renames is moved back,
everything else is reaped. This module renames nothing itself.

Sizing: output file count = ceil(small-file bytes / target_mb), from the
actual on-disk footprint. Local paths are sized with os.walk; on a real
cluster the same arithmetic runs on the FileSystem API (the call site is
isolated here so the swap-in is one function).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from metrics_database_cron_script_spark.state import (
    SCHEMA_MARKER,
    _swap,
    read_schema_marker,
    recover,
)


def parquet_file_count(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def leaf_parquet_dirs(path: str) -> list[str]:
    """Directories that directly contain parquet files — one per partition
    for a `partitionBy` layout, just [path] for a flat table."""
    leaves = []
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            leaves.append(root)
    return sorted(leaves)


def compact(
    spark: SparkSession, path: str, target_mb: int = 64, min_files: int = 2
) -> int:
    """Bin-pack the SMALL files of the parquet table at `path` into
    ~target_mb files and return the new file count. Partition-aware, and
    ONE Spark job regardless of how many partition leaves need packing: a
    flat table packs with a plain scan; a partitioned table reads every
    packable leaf's small files in one `basePath` scan (partition columns
    re-attached from the directory names), repartitions on the partition
    columns and writes the packed debt with the SAME `partitionBy` layout
    into staging — per-leaf jobs would mean O(partitions) driver
    round-trips, which on a date-partitioned 100 TB sink is thousands of
    scheduler floors for kilobytes of work each. The swap back into the
    table stays per-leaf (two renames each, crash-recoverable). No-op per
    leaf when fewer than `min_files` files are packable.

    INCREMENTAL by construction: only files smaller than HALF the target
    are read and rewritten; everything else is carried into the swapped-in
    leaf as HARDLINKS — no data copy, no re-read. So the cost of a
    compaction run is O(bytes written since the last one), never O(sink
    history). The half-target threshold is what makes the fixpoint stable:
    packed output lands just UNDER target size (n_out is rounded up), so a
    `< target` packability test would re-pack yesterday's output every
    run — a full-history rewrite on every trigger, the write-side twin of
    the O(history) anti-join the frontier fences removed from the read
    side. With `< target/2`, a packed file either reached target/2 and is
    permanently done, or the whole accumulator is still under target/2 —
    and re-merging THAT with new debt is bounded by a constant (target/2
    bytes), not by history."""
    # All staging lives OUTSIDE the table root: tmp/old dirs inside it
    # would be picked up by partition inference as phantom partitions
    # (duplicated rows / conflicting-structure errors for any concurrent
    # reader) and a crashed run's leftovers would look like real leaves to
    # the next compaction. A crashed run's staging is RECOVERED, not just
    # deleted (state.recover): a crash between the two swap renames
    # leaves the leaf's only copy under staging/old, and a blind reap
    # would destroy it. This op assumes the same single-maintenance-writer
    # window as the rest of state.py (a snapshot-isolated variant on
    # VersionedSnapshot is in git history at 65b28ee).
    base = path.rstrip("/")
    recover(base)
    staging = f"{base}.__compact-{uuid.uuid4().hex[:8]}"
    target_bytes = target_mb * 1024 * 1024

    def _rel(leaf: str) -> str:
        r = os.path.relpath(leaf, base)
        return "__root__" if r == "." else r

    all_leaves = leaf_parquet_dirs(path)
    # Layout-uniformity check over EVERY leaf, not just the packable ones:
    # a single parquet file at the table root next to partition dirs (or a
    # non-hive subdir) corrupts partition inference for every reader, and
    # whether that stray leaf happens to be packable this run must not
    # decide whether we refuse to entrench it.
    all_rels = [_rel(leaf) for leaf in all_leaves]
    if all_rels and all_rels != ["__root__"]:
        if any(
            r == "__root__" or not all("=" in seg for seg in r.split(os.sep))
            for r in all_rels
        ) or len({len(r.split(os.sep)) for r in all_rels}) != 1:
            raise ValueError(
                f"{base}: mixed flat/partitioned layout "
                f"({sorted(all_rels)}) — repair the table before compaction"
            )
    # plan: which leaves pack, their small/full file sets
    plan: dict[str, tuple[set, list, int]] = {}
    for leaf in all_leaves:
        files = [
            (f, os.path.getsize(os.path.join(leaf, f)))
            for f in os.listdir(leaf)
            if f.endswith(".parquet")
        ]
        small = {f for f, sz in files if sz < target_bytes // 2}
        small_bytes = sum(sz for f, sz in files if f in small)
        n_out = max(1, math.ceil(small_bytes / target_bytes))
        if len(small) < min_files or n_out >= len(small):
            continue
        plan[leaf] = (small, files, n_out)
    if not plan:
        return parquet_file_count(path)

    tmp_root = os.path.join(staging, "tmp")
    # the table's schema marker (state.py) spares the scan its footer
    # inference job; unmarked tables infer
    schema = read_schema_marker(base)
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        if list(plan) == [base]:  # flat table: the leaf IS the root
            small, _files, n_out = plan[base]
            df = reader.parquet(*(os.path.join(base, f) for f in sorted(small)))
            # coalesce, not repartition: the scan already bin-packs the
            # small files into read partitions (maxPartitionBytes /
            # openCostInBytes), so a full shuffle would only re-spread
            # already-even sub-target chunks — measured as the dominant
            # cost of the daily P9 step at SFXL before the switch
            df.coalesce(n_out).write.mode("overwrite").parquet(
                os.path.join(tmp_root, "__root__")
            )
        else:
            # one job for ALL packable leaves: basePath re-attaches the
            # partition columns, repartition on them collapses each
            # leaf's debt into one task, partitionBy restores the layout
            # (layout uniformity already validated over ALL leaves above)
            rels = [_rel(leaf) for leaf in plan]
            pcols = [seg.split("=", 1)[0] for seg in rels[0].split(os.sep)]
            paths = [
                os.path.join(leaf, f)
                for leaf, (small, _f, _n) in plan.items()
                for f in sorted(small)
            ]
            df = reader.option("basePath", base).parquet(*paths)
            df.repartition(*pcols).write.mode("overwrite").partitionBy(
                *pcols
            ).parquet(tmp_root)
            # partition VALUES round-trip through inference (dir name →
            # typed value → dir name); if a value ever re-encodes to a
            # DIFFERENT dir name, packed rows would land in a leaf the
            # swap below never touches and then be deleted with staging —
            # refuse loudly instead
            staged = {
                _rel(os.path.join(base, os.path.relpath(d, tmp_root)))
                for d in leaf_parquet_dirs(tmp_root)
            }
            expected = {_rel(leaf) for leaf in plan}
            if not staged <= expected:
                raise ValueError(
                    f"{base}: partition values did not round-trip "
                    f"({sorted(staged - expected)} not in plan) — "
                    "compaction aborted before any swap"
                )
            # Per-leaf correspondence, not just set subset: two plan rels
            # whose dir names decode to the SAME typed value (cell=08 and
            # cell=8) re-encode into one canonical staged leaf — staged is
            # still a subset of expected, but the swap would merge the
            # non-canonical leaf's rows into the canonical leaf while the
            # non-canonical leaf keeps its original files: duplicated rows.
            # A plan leaf may legitimately be absent from staged ONLY when
            # every small file it contributed is zero-row (parquet footers
            # are authoritative and cheap to read).
            missing = expected - staged
            if missing:
                import pyarrow.parquet as _pq

                for leaf, (small, _files2, _n2) in plan.items():
                    if _rel(leaf) not in missing:
                        continue
                    rows = sum(
                        _pq.ParquetFile(os.path.join(leaf, f)).metadata.num_rows
                        for f in small
                    )
                    if rows:
                        raise ValueError(
                            f"{base}: partition dir {_rel(leaf)!r} did not "
                            f"round-trip to itself ({rows} rows re-encoded "
                            "into a different leaf — value-collision between "
                            "partition dir spellings) — compaction aborted "
                            "before any swap"
                        )
        # swap each packed leaf: full-size files ride as hardlinks (same
        # bytes, new directory entry, zero copy — same-filesystem sibling
        # staging), and so does a flat table's schema marker, then the
        # state layer's two-rename swap (healed by state.recover)
        for leaf, (small, files, _n_out) in plan.items():
            tmp = os.path.join(tmp_root, _rel(leaf))
            if not os.path.isdir(tmp):
                # pack produced no output for this leaf (e.g. all-empty
                # small files): leave the leaf exactly as it is
                continue
            carried = [f for f, _sz in files if f not in small]
            if os.path.isfile(os.path.join(leaf, SCHEMA_MARKER)):
                carried.append(SCHEMA_MARKER)
            for f in carried:
                os.link(os.path.join(leaf, f), os.path.join(tmp, f))
            _swap(tmp, leaf, os.path.join(staging, "old", _rel(leaf)))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return parquet_file_count(path)
