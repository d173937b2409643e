"""Seeded input generator for the daily-cron benchmark.

Every input is derived from the fixture tables vendored under
`perfbench/data/<scale>/` (copies of the deterministic sf test fixtures)
and the `--seed`; the same seed always yields byte-identical inputs. The
program under test only ever sees the generated files.

- `cron-days`: `events`/`documents`/`embeddings` replicated key-consistently
  (`gen_sfxl.replicate`), then cut into per-day slices of a 30-day
  calendar (the op's week plus the day after it). The seed rotates
  which fixture day lands on which calendar day (timestamps are re-stamped,
  so every day keeps a fixture-sized batch) and shuffles rows inside each
  slice. Documents and embeddings are cut into 30 id-ordered chunks, so the
  P7/P8 frontiers see monotone ids. Each per-day *view* is a directory of
  hard links to the slices of days 1..d — an append-only source that grows
  one day per view; the file names (`dayNN.parquet`) carry no `k=v`
  partition pattern. Views are made on demand (`view`), one per op day.
- `text-dedup`: a documents-only replica corpus. The last replica is the
  day's batch of new documents; the batch also re-ingests a seeded share of
  corpus documents verbatim under new ids (exact duplicates the Bloom-pruned
  anti-join must drop).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
DAYS = 30

WHY = {
    "cron-days": (
        "the cron job's real work: one cold run_batch over a week of "
        "events, documents and vectors, so every step P1-P9 runs on a "
        "real batch and writes every sink"
    ),
    "text-dedup": (
        "the text-dedup half of the daily job: Bloom-pruned exact dedup, "
        "verified star-edge refresh and components over persisted corpus "
        "state that the cron workload never reads"
    ),
}

# replicas of the vendored fixture per workload and scale
CRON_REPLICAS = {"sf0.01": 1, "sf0.001": 1}
TEXT_REPLICAS = {"sf0.01": 5, "sf0.001": 3}
# the cron op's source: days 1..CRON_DAYS (the traced run adds the next day)
CRON_DAYS = 7


def _replicate(scale: str, out: str, replicas: int, tables: list[str]) -> str:
    from gen_sfxl import replicate

    replicate(os.path.join(DATA, scale), out, replicas, tables=tables)
    return out


def _read(path: str) -> pa.Table:
    return pq.read_table(path)


def _shuffle(tbl: pa.Table, rng: random.Random) -> pa.Table:
    idx = list(range(tbl.num_rows))
    rng.shuffle(idx)
    return tbl.take(pa.array(idx, type=pa.int64()))


def cron_days(out: str, seed: int, scale: str = "sf0.01") -> dict:
    """Day slices for `cron-days` under `out`, and the view of the op's
    days. Returns the input record: the view path and its row counts."""
    rng = random.Random(seed)
    rep = _replicate(
        scale, os.path.join(out, "replica"), CRON_REPLICAS[scale],
        ["events", "documents", "embeddings"],
    )
    events = _read(os.path.join(rep, "events.parquet"))
    rotation = rng.randrange(DAYS)
    fixture_day = pc.day(events["ts"])
    one_day = pa.scalar(86_400_000_000, type=pa.duration("us"))
    slices = os.path.join(out, "slices")
    for d in range(1, CRON_DAYS + 2):
        src_day = (d - 1 + rotation) % DAYS + 1
        day = events.filter(pc.equal(fixture_day, src_day))
        shift = pc.multiply(one_day, pa.scalar(d - src_day, type=pa.int64()))
        ts = pc.add(day["ts"], shift.cast(pa.duration("us")))
        day = day.set_column(day.schema.get_field_index("ts"), "ts", ts)
        _write_slice(slices, "events", d, _shuffle(day, rng))
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        tbl = _read(os.path.join(rep, f"{name}.parquet")).sort_by(key)
        n = tbl.num_rows
        for d in range(1, CRON_DAYS + 2):
            lo, hi = (d - 1) * n // DAYS, d * n // DAYS
            _write_slice(slices, name, d, _shuffle(tbl.slice(lo, hi - lo), rng))
    return {
        "why": WHY["cron-days"],
        "scale": scale,
        "replicas": CRON_REPLICAS[scale],
        "rotation": rotation,
        "days": CRON_DAYS,
        "view": view(out, CRON_DAYS),
        "rows": {t: sum(day_rows(out, d)[t] for d in range(1, CRON_DAYS + 1))
                 for t in ("events", "documents", "embeddings")},
    }


def _write_slice(root: str, table: str, day: int, tbl: pa.Table) -> None:
    os.makedirs(os.path.join(root, table), exist_ok=True)
    pq.write_table(tbl, os.path.join(root, table, f"day{day:02d}.parquet"))


def day_rows(out: str, day: int) -> dict[str, int]:
    """Rows of each table in the slice of `day`."""
    return {
        t: pq.ParquetFile(os.path.join(out, "slices", t, f"day{day:02d}.parquet")).metadata.num_rows
        for t in ("events", "documents", "embeddings")
    }


def view(out: str, day: int) -> str:
    """Immutable view of days 1..`day`: one directory per table holding hard
    links to the day slices."""
    root = os.path.join(out, "views", f"day{day:02d}")
    for table in ("events", "documents", "embeddings"):
        tdir = os.path.join(root, f"{table}.parquet")
        os.makedirs(tdir)
        for d in range(1, day + 1):
            name = f"day{d:02d}.parquet"
            os.link(os.path.join(out, "slices", table, name), os.path.join(tdir, name))
    return root


def text_dedup(out: str, seed: int, scale: str = "sf0.01") -> dict:
    """Corpus and batch documents for `text-dedup` under `out`: the corpus is
    every replica but the last; the batch is the last replica plus a seeded
    share of exact corpus re-ingests under fresh ids above it."""
    rng = random.Random(seed)
    rep = _replicate(scale, os.path.join(out, "replica"), TEXT_REPLICAS[scale], ["documents"])
    docs = _read(os.path.join(rep, "documents.parquet")).select(["doc_id", "text", "source"])
    base_n = docs.num_rows // TEXT_REPLICAS[scale]
    docs = docs.sort_by("doc_id")
    corpus = docs.slice(0, docs.num_rows - base_n)
    new = docs.slice(docs.num_rows - base_n)
    batch_lo = pc.min(new["doc_id"]).as_py()
    # a narrow band: the op's time falls as the share grows (~15 % across
    # 5-25 %), so a wide band would make the seed, not the code, move it
    share = rng.uniform(0.10, 0.12)
    picks = sorted(rng.sample(range(corpus.num_rows), round(share * base_n)))
    reingest = corpus.take(pa.array(picks, type=pa.int64()))
    next_id = pc.max(new["doc_id"]).as_py() + 1
    reingest = reingest.set_column(
        0, "doc_id", pa.array(range(next_id, next_id + reingest.num_rows), type=pa.int64())
    )
    batch = _shuffle(pa.concat_tables([new, reingest]), rng)
    src = os.path.join(out, "documents.parquet")
    os.makedirs(src)
    pq.write_table(_shuffle(corpus, rng), os.path.join(src, "corpus.parquet"))
    pq.write_table(batch, os.path.join(src, "batch.parquet"))
    return {
        "why": WHY["text-dedup"],
        "scale": scale,
        "replicas": TEXT_REPLICAS[scale],
        "docs": src,
        "batch_lo": batch_lo,
        "corpus_docs": corpus.num_rows,
        "batch_docs": batch.num_rows,
        "reingested_docs": reingest.num_rows,
        "reingest_share": round(share, 4),
    }
