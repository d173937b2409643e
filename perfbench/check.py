"""Output checks against DuckDB, independent of Spark.

Each function returns a list of failure messages; empty means the outputs
are correct. Parquet directories are read with hive partitioning, so the
partitioned sinks (`chain=…`, `cell=…`) read back whole.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

REL = 1e-9


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def _one(con, sql: str):
    return con.sql(sql).fetchone()


def _close(a, b) -> bool:
    return abs(a - b) <= REL * max(1.0, abs(a), abs(b))


def cron_op(report: dict, view: str, state: str, rows: dict[str, int], days: int) -> list[str]:
    """One `run_batch`: its append counts against the rows the batch added
    to the source (`rows`, over `days` new days; a first run bootstraps
    P7/P8, a later one appends to them), and the committed watermark
    against the view."""
    image, ivf = report.get("image_dedup", {}), report.get("embed_index", {})
    first = "bootstrap_docs" in image
    got = {
        "tx_appended": report.get("tx_appended"),
        "prices_appended": report.get("prices_appended"),
        "documents": image.get("bootstrap_docs" if first else "batch_docs"),
        "embeddings": ivf.get("bootstrap_vectors" if first else "batch_vectors"),
    }
    want = {"tx_appended": rows["events"], "prices_appended": days,
            "documents": rows["documents"], "embeddings": rows["embeddings"]}
    bad = [f"{k}={got[k]} want {v}" for k, v in want.items() if got[k] != v]
    return bad + _watermark(view, state)


def _watermark(view: str, state: str) -> list[str]:
    con = duckdb.connect()
    try:
        (got,) = _one(con, f"select max(epoch_us(lastUpdated)) from {_pq(state + '/watermark.parquet')}")
        (want,) = _one(con, f"select epoch_us(max(ts)) from {_pq(view + '/events.parquet')}")
    finally:
        con.close()
    return [] if got == want else [f"watermark {got} want {want}"]


def cron_replay(report: dict) -> list[str]:
    """A replayed day appends nothing."""
    bad = [f"{k}={report.get(k)} want 0" for k in ("tx_appended", "prices_appended")
           if report.get(k) != 0]
    routing = report.get("routing_appended", {})
    if any(v != 0 for v in routing.values()):
        bad.append(f"routing_appended={routing} want all 0")
    return bad


def sink_digests(state: str, sinks) -> dict[str, str]:
    """Content hash of every parquet file of each sink, by relative path."""
    out = {}
    for name in sinks:
        root = os.path.join(state, f"{name}.parquet")
        h = hashlib.sha1()
        for dirpath, dirs, files in sorted(os.walk(root)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".parquet"):
                    h.update(os.path.relpath(os.path.join(dirpath, f), root).encode())
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
        out[name] = h.hexdigest()
    return out


def cron_final(view: str, state: str) -> list[str]:
    """The sinks, stats and rollup after the run against DuckDB over the
    whole source the state has committed."""
    con = duckdb.connect()
    bad = []
    try:
        con.sql(f"create view ev as select * from {_pq(view + '/events.parquet')}")
        n, = _one(con, "select count(*) from ev")
        got = _one(con, f"select count(*), count(distinct event_id) from {_pq(state + '/tx_enriched.parquet')}")
        if got != (n, n):
            bad.append(f"tx_enriched rows/distinct {got} want {(n, n)}")
        diff = _one(con, f"""
            select count(*) from (select ts::date as date, avg(value) as price
                                  from ev group by 1) w
            full join {_pq(state + '/prices.parquet')} g using (date)
            where g.price is null or w.price is null or abs(g.price - w.price) > 1e-6""")
        if diff[0]:
            bad.append(f"prices differ on {diff[0]} days")
        rows = con.sql(f"""
            select g.chain, g.totalAmountCurrentlyManaged, g.totalAmountStaked,
                   w.acm, w.staked
            from {_pq(state + '/stats.parquet')} g
            full join (select case when event_id % 2 = 0 then 'polkadot' else 'kusama' end
                              as chain,
                              sum(case when event_type = 'purchase' then value else 0 end) as acm,
                              sum(value) as staked
                       from ev group by 1) w using (chain)""").fetchall()
        for chain, g_acm, g_st, w_acm, w_st in rows:
            if None in (g_acm, w_acm) or not (_close(g_acm, w_acm) and _close(g_st, w_st)):
                bad.append(f"stats[{chain}] ({g_acm}, {g_st}) want ({w_acm}, {w_st})")
        rows = con.sql(f"""
            select w.day, g.n, w.n, g.sum_value, w.s, g.min_value, w.lo, g.max_value, w.hi
            from (select ts::date as day, count(*) as n, sum(value) as s,
                         min(value) as lo, max(value) as hi from ev group by 1) w
            full join {_pq(state + '/daily_rollup.parquet')} g using (day)""").fetchall()
        for day, gn, wn, gs, ws, glo, wlo, ghi, whi in rows:
            if gn != wn or glo != wlo or ghi != whi or None in (gs, ws) or not _close(gs, ws):
                bad.append(f"daily_rollup[{day}] differs")
        for sink, key, table in (("phash_hashes", "doc_id", "documents"),
                                 ("ivf_index", "vec_id", "embeddings")):
            got = _one(con, f"select count(*), count(distinct {key}) from {_pq(state + f'/{sink}.parquet')}")
            want, = _one(con, f"select count(*) from {_pq(view + f'/{table}.parquet')}")
            if got != (want, want):
                bad.append(f"{sink} rows/distinct {got} want {(want, want)}")
    finally:
        con.close()
    return bad + _watermark(view, state)


def text_op(out: str, expect: str, docs: str, batch_lo: int) -> list[str]:
    """One `text-dedup` op: its fresh docs against an anti-join of the
    batch's normalized texts with the corpus's (the same lower / trim /
    collapse-whitespace form as `dedup.normalized_text`), and its
    components against the full rebuild over corpus ∪ batch that the setup
    fixed."""
    con = duckdb.connect()
    bad = []
    try:
        con.sql(f"""create view fresh_want as
            with d as (select doc_id,
                              regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') as t
                       from {_pq(docs)})
            select b.doc_id from d b
            anti join (select distinct t from d where doc_id < {batch_lo}) c on b.t = c.t
            where b.doc_id >= {batch_lo}""")
        checks = (("fresh", "doc_id", "fresh_want"),
                  ("components", "doc_id, component", _pq(f"{expect}/components")))
        for name, cols, want in checks:
            got = _pq(f"{out}/{name}")
            n_diff, = _one(con, f"""select count(*) from (
                (select {cols} from {got} except all select {cols} from {want})
                union all
                (select {cols} from {want} except all select {cols} from {got}))""")
            if n_diff:
                bad.append(f"{name}: {n_diff} rows differ from the expectation")
    finally:
        con.close()
    return bad


def count_rows(path: str) -> int:
    con = duckdb.connect()
    try:
        return _one(con, f"select count(*) from {_pq(path)}")[0]
    finally:
        con.close()
