"""Reference-semantics queries (`r_*`, SURVEY.md §2.C) — the cron script's
five pipelines re-expressed as declarative Spark plans, each with a DuckDB
oracle encoding the identical §8 formula."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from metrics_database_cron_script_spark.operators import reference_ops as R
from metrics_database_cron_script_spark.plans.registry import query
from metrics_database_cron_script_spark.sources import load_table

WM = R.WATERMARK

_TX_CTE = """
tx AS (
  SELECT event_id, ts, user_id, event_type, value,
         event_type <> 'error' AS successful,
         value AS stake,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS alreadyBonded,
         CASE WHEN event_id % 2 = 0 THEN 'polkadot' ELSE 'kusama' END AS chain
  FROM events
)"""

_PRICE_CTE = """
price AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(AVG(value), 6) AS price
  FROM events GROUP BY 1
)"""


@query(
    "r_daily_price_dim",
    oracle=f"WITH {_PRICE_CTE.strip()} SELECT date, price FROM price",
)
def r_daily_price_dim(spark, sf_dir):
    return R.daily_price_dim(load_table(spark, sf_dir, "events"))


@query(
    "r_calendar_fill",
    oracle="""
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) + 7 AS hi FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT day FROM spine
WHERE day NOT IN (
  SELECT DISTINCT CAST(ts AS DATE) FROM events WHERE event_type = 'purchase'
)""",
)
def r_calendar_fill(spark, sf_dir):
    return R.calendar_fill(load_table(spark, sf_dir, "events"))


@query(
    "r_incremental_scan",
    oracle=f"SELECT * FROM events WHERE ts > TIMESTAMP '{WM}'",
)
def r_incremental_scan(spark, sf_dir):
    # events_since pushes the watermark predicate into the parquet scan in
    # raw ns-long space (row-group pruning); plain incremental_scan on the
    # converted column would filter post-scan.
    from metrics_database_cron_script_spark.sources import events_since

    return events_since(spark, sf_dir, WM)


@query(
    "r_tx_enrich",
    oracle=f"""
WITH {_TX_CTE.strip()}, {_PRICE_CTE.strip()}
SELECT t.event_id, t.ts, t.user_id, t.event_type, t.successful, t.stake,
       t.alreadyBonded, p.date, p.price,
       CASE WHEN NOT t.successful THEN 0.0
            WHEN t.stake = t.alreadyBonded THEN t.stake * p.price
            ELSE abs(t.stake - t.alreadyBonded) * p.price
       END AS txDollarValue
FROM tx t JOIN price p ON CAST(t.ts AS DATE) = p.date
WHERE t.ts > TIMESTAMP '{WM}'""",
)
def r_tx_enrich(spark, sf_dir):
    return R.tx_enrich(load_table(spark, sf_dir, "events"))


@query(
    "r_anti_dedup",
    oracle="""
SELECT e.* FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events x WHERE x.event_id % 2 = 0 AND x.event_id = e.event_id
)""",
)
def r_anti_dedup(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    existing = events.filter((events["event_id"] % 2) == 0).select("event_id")
    return R.anti_dedup(events, existing)


@query(
    "r_first_touch",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1""",
)
def r_first_touch(spark, sf_dir):
    return R.first_touch(load_table(spark, sf_dir, "events"))


@query(
    "r_aum_routing",
    oracle=f"""
WITH {_TX_CTE.strip()},
batch AS (
  SELECT * FROM tx WHERE ts > TIMESTAMP '{WM}' AND successful
),
seen_pre AS (
  SELECT DISTINCT user_id FROM tx WHERE ts <= TIMESTAMP '{WM}' AND successful
),
flagged AS (
  SELECT b.*, b.stake - b.alreadyBonded AS delta,
         (s.user_id IS NULL)
           AND (row_number() OVER (PARTITION BY b.user_id ORDER BY b.ts, b.event_id) = 1)
           AS first_touch
  FROM batch b LEFT JOIN seen_pre s USING (user_id)
)
SELECT event_id, chain, 'nominations' AS sink,
       CASE WHEN delta = 0 THEN stake ELSE delta END AS volume
FROM flagged WHERE delta = 0 OR (delta > 0 AND chain = 'kusama')
UNION ALL
SELECT event_id, chain, 'amountstaked' AS sink, delta AS volume
FROM flagged WHERE delta > 0 AND chain = 'polkadot'
UNION ALL
SELECT event_id, chain, 'aum' AS sink,
       CASE WHEN first_touch THEN stake ELSE delta END AS volume
FROM flagged WHERE delta <> 0 OR first_touch""",
)
def r_aum_routing(spark, sf_dir):
    return R.aum_routing(load_table(spark, sf_dir, "events"))


@query(
    "r_aum_routing_decimal",
    oracle=f"""
WITH {_TX_CTE.strip()},
batch AS (
  -- DECIMAL(28,18) mirrors the Spark side exactly: with (38,18) operands
  -- Spark demotes the subtraction to scale 17 (precision cap) while
  -- DuckDB falls back to DOUBLE (its widened precision exceeds 38) —
  -- both silently undo the exact-arithmetic mode; (28,18) keeps scale 18
  -- through the arithmetic in BOTH engines. The VARCHAR hop matches
  -- Spark's double->decimal semantics (BigDecimal.valueOf: shortest
  -- round-trip decimal string), where a direct double->decimal cast in
  -- DuckDB would expand the exact binary value (54.62 ->
  -- 54.6200000000000045...) and drift the deltas.
  SELECT * REPLACE (CAST(CAST(stake AS VARCHAR) AS DECIMAL(28,18)) AS stake,
                    CAST(CAST(alreadyBonded AS VARCHAR) AS DECIMAL(28,18)) AS alreadyBonded)
  FROM tx WHERE ts > TIMESTAMP '{WM}' AND successful
),
seen_pre AS (
  SELECT DISTINCT user_id FROM tx WHERE ts <= TIMESTAMP '{WM}' AND successful
),
flagged AS (
  SELECT b.*, b.stake - b.alreadyBonded AS delta,
         (s.user_id IS NULL)
           AND (row_number() OVER (PARTITION BY b.user_id ORDER BY b.ts, b.event_id) = 1)
           AS first_touch
  FROM batch b LEFT JOIN seen_pre s USING (user_id)
)
SELECT event_id, chain, 'nominations' AS sink,
       CAST(CASE WHEN delta = 0 THEN stake ELSE delta END AS DOUBLE) AS volume
FROM flagged WHERE delta = 0 OR (delta > 0 AND chain = 'kusama')
UNION ALL
SELECT event_id, chain, 'amountstaked' AS sink, CAST(delta AS DOUBLE) AS volume
FROM flagged WHERE delta > 0 AND chain = 'polkadot'
UNION ALL
SELECT event_id, chain, 'aum' AS sink,
       CAST(CASE WHEN first_touch THEN stake ELSE delta END AS DOUBLE) AS volume
FROM flagged WHERE delta <> 0 OR first_touch""",
)
def r_aum_routing_decimal(spark, sf_dir):
    """R23 routing with exact DecimalType(28,18) money math — the identical
    single-pass fused-state plan, arithmetic mode swapped (SURVEY.md §4.3:
    at 100 TB the AUM delta chains are the first float casualty). Both
    sides compute delta/volume in DECIMAL(28,18) — the precision headroom
    that keeps scale 18 through subtraction in BOTH engines (38,18 would
    demote to scale 17 in Spark and to DOUBLE in DuckDB) — and cast only
    the OUTPUT to double — decimal render scales differ across engines (Spark keeps
    scale-17 trailing zeros, DuckDB's pandas surface floats), so the
    comparable surface is the rounded-to-nearest double of the same exact
    decimal; the decimal schema itself is pinned in test_money_modes."""
    return R.aum_routing(load_table(spark, sf_dir, "events"), money="decimal").withColumn(
        "volume", F.col("volume").cast("double")
    )


@query(
    "r_stats_ratio",
    oracle="""
SELECT ROUND(
  100.0 * SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)
        / SUM(value), 6) AS percentMarketCaptured
FROM events""",
)
def r_stats_ratio(spark, sf_dir):
    return R.stats_ratio(load_table(spark, sf_dir, "events"))


@query(
    "r_union_chains",
    oracle="""
SELECT *, 'polkadot' AS chain FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT *, 'kusama' AS chain FROM events WHERE event_id % 2 <> 0""",
)
def r_union_chains(spark, sf_dir):
    return R.union_chains(load_table(spark, sf_dir, "events"))


@query(
    "r_upsert_snapshot",
    oracle="""
SELECT * FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
)
def r_upsert_snapshot(spark, sf_dir):
    return R.upsert_snapshot(load_table(spark, sf_dir, "events"))


# One process-lifetime scratch slot for r_upsert_evolution's demo table:
# bench/parity harnesses build plans repeatedly, and a mkdtemp per build
# leaked a committed table into /tmp each run. TemporaryDirectory's
# finalizer removes the slot at interpreter exit; each build wipes and
# recommits it, so concurrent readers of a PREVIOUS build never exist
# (plan build and collection are sequential within a harness).
_EVO_SCRATCH = None


def _evo_scratch() -> str:
    global _EVO_SCRATCH
    import shutil
    import tempfile

    if _EVO_SCRATCH is None:
        _EVO_SCRATCH = tempfile.TemporaryDirectory(prefix="upsert_evo_")
    path = os.path.join(_EVO_SCRATCH.name, "table")
    shutil.rmtree(path, ignore_errors=True)
    return path


@query(
    "r_upsert_evolution",
    oracle="""
WITH snap AS (
  SELECT user_id, value FROM events
  WHERE user_id % 100 < 50
  QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT user_id, ROUND(value, 2) AS value, NULL AS segment FROM snap
WHERE user_id % 2 <> 0
UNION ALL
SELECT user_id, ROUND(value * 2, 2) AS value,
       'seg' || CAST(user_id % 3 AS VARCHAR) AS segment
FROM snap WHERE user_id % 2 = 0""",
)
def r_upsert_evolution(spark, sf_dir):
    """Schema evolution through a REAL VersionedSnapshot MERGE (round-5
    verdict item 7): commit a keyed snapshot, then merge a batch that
    ADDS a `segment` column and touches only the even keys. The final
    read must show the batch's rows evolved AND the untouched keys
    NULL-padded for the added column — the committed-schema-marker read
    path (state.read_schema_marker), not footer-inference luck.
    The table is built at plan time in ONE process-lifetime scratch dir
    (tiny: ≤50 keys), wiped and rebuilt per build so repeated bench/parity
    invocations reuse the slot instead of leaking a temp table per run;
    the returned DataFrame re-reads immutable committed files, so
    re-collection is stable. Oracle reproduces keep-latest + evolution
    semantics in pure SQL."""
    from metrics_database_cron_script_spark.versioned import VersionedSnapshot

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 100 < 50)
    snap = R.upsert_snapshot(ev).select(
        "user_id", F.round("value", 2).alias("value")
    )
    batch = (
        snap.filter(F.col("user_id") % 2 == 0)
        .select(
            "user_id",
            F.round(F.col("value") * 2, 2).alias("value"),
            F.concat(F.lit("seg"), (F.col("user_id") % 3).cast("string")).alias(
                "segment"
            ),
        )
    )
    t = VersionedSnapshot(spark, _evo_scratch())
    t.overwrite(snap)
    # order by a constant: the batch row must win keep-latest for its key,
    # and evolution (added column) is what's under test, not recency
    t.merge_keep_latest(batch.withColumn("__ord", F.lit(1)), "user_id", ["__ord"])
    return t.read().select("user_id", "value", "segment")


@query(
    "r_daily_growth",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 2) AS volume
  FROM events GROUP BY 1
)
SELECT day, volume,
       ROUND(volume - lag(volume) OVER (ORDER BY day), 2) AS dod_change,
       ROUND(100.0 * (volume - lag(volume) OVER (ORDER BY day))
             / NULLIF(lag(volume) OVER (ORDER BY day), 0), 6) AS dod_pct,
       ROUND(AVG(volume) OVER (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM daily""",
)
def r_daily_growth(spark, sf_dir):
    """The dashboard readout the reference's metrics DB exists to power
    (readme.txt:3 'powers metabase'): daily volume, day-over-day change and
    percent change, 7-day trailing moving average. One hash agg to
    day-cardinality, then windows over the (tiny) daily series."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("volume")
    )
    wo = Window.orderBy("day")
    ma = Window.orderBy("day").rowsBetween(-6, 0)
    prev = F.lag("volume").over(wo)
    return daily.select(
        "day",
        "volume",
        F.round(F.col("volume") - prev, 2).alias("dod_change"),
        F.round(100.0 * (F.col("volume") - prev) / F.nullif(prev, F.lit(0)), 6).alias(
            "dod_pct"
        ),
        F.round(F.avg("volume").over(ma), 6).alias("ma7"),
    )


@query(
    "r_agg_maintenance",
    oracle=f"""
WITH snap AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n, SUM(value) AS sum_value,
         MIN(value) AS min_value, MAX(value) AS max_value
  FROM events WHERE ts <= TIMESTAMP '{WM}' GROUP BY 1
), delta AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n, SUM(value) AS sum_value,
         MIN(value) AS min_value, MAX(value) AS max_value
  FROM events WHERE ts > TIMESTAMP '{WM}' GROUP BY 1
)
SELECT COALESCE(s.day, d.day) AS day,
       COALESCE(s.n, 0) + COALESCE(d.n, 0) AS n,
       ROUND(COALESCE(s.sum_value, 0) + COALESCE(d.sum_value, 0), 6) AS sum_value,
       LEAST(COALESCE(s.min_value, d.min_value),
             COALESCE(d.min_value, s.min_value)) AS min_value,
       GREATEST(COALESCE(s.max_value, d.max_value),
                COALESCE(d.max_value, s.max_value)) AS max_value
FROM snap s FULL OUTER JOIN delta d ON s.day = d.day""",
)
def r_agg_maintenance(spark, sf_dir):
    """Incremental rollup maintenance: delta partial-agg merged into the
    standing daily snapshot (full-outer + coalesce over decomposable stats).
    The merged result must equal — and the oracle recomputes — the
    from-scratch rollup, which is the defining invariant of incremental
    view maintenance."""
    return R.incremental_agg_merge(load_table(spark, sf_dir, "events"))


# Shared by r_rest_price_dim_pyds (batch, executor-parallel fetch) and
# s_stream_exec_rest (streaming microbatches over the same list): one URL
# constructor and ONE oracle, so the two modalities of the source are
# hash-checked against each other through identical SQL.
REST_PRICE_PYDS_ORACLE = """
WITH span AS (
  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
), days AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
), urls AS (
  SELECT CAST(d AS VARCHAR) AS key,
         'https://api.example.test/history/' || day(d) || '-' || month(d)
           || '-' || year(d) AS url
  FROM days
)
SELECT key,
       ROUND((CAST(list_sum(list_transform(range(8),
                i -> (strpos('0123456789abcdef', substr(md5(url), i+1, 1)) - 1)
                     * 16**(7-i)))
              AS BIGINT) % 100000) / 100.0, 2) AS price
FROM urls"""


def day_spine_urls(spark, sf_dir):
    """The R6 day-spine URL list [(iso_day, history_url), ...] between the
    events table's min/max day — one 1-row aggregate plus driver-side URL
    construction (the source's nature: day-cardinality)."""
    import datetime

    from metrics_database_cron_script_spark.sources.rest import unpadded_dmy

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).collect()[0]
    days = [
        row["lo"] + datetime.timedelta(days=i)
        for i in range((row["hi"] - row["lo"]).days + 1)
    ]
    return [
        (d.isoformat(), f"https://api.example.test/history/{unpadded_dmy(d)}")
        for d in days
    ]


@query("r_rest_price_dim_pyds", oracle=REST_PRICE_PYDS_ORACLE)
def r_rest_price_dim_pyds(spark, sf_dir):
    """R6/R7 through the Python DataSource (sources/pyds.py): the day-spine
    URL list (R21 unpadded d-m-Y format, updatescript.py:39) is fetched
    partition-parallel on EXECUTORS via `spark.read.format('rest_point')`
    instead of a driver loop — the scale path for a large URL list. The
    bundled offline fetcher derives each price from md5(url), which the
    oracle recomputes digit-by-digit in SQL, so the whole source — URL
    construction, partitioned fetch, JSON path extraction — is
    value-hash-checked. The day span comes from one 1-row min/max
    aggregate (driver-side URL construction is the source's nature, R6)."""
    from metrics_database_cron_script_spark.sources.pyds import rest_point_frame

    urls = day_spine_urls(spark, sf_dir)
    return rest_point_frame(spark, urls, "$.market_data.current_price.usd").select(
        "key", F.round("value", 2).alias("price")
    )
