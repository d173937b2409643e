"""Core relational suite (`c_*`, SURVEY.md §2.C): the full standard
relational operator surface in idiomatic Spark, each query paired with a
DuckDB oracle.

Cross-engine determinism rules (registry docstring): identical aliases both
sides; integer-valued computed columns cast to BIGINT on both sides; float
aggregates rounded identically (sum of 2-decimal money → round 2 = exact;
ratios/avg/ln/pow → round 6); every window ordering carries a unique
tie-break."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.operators.asof import asof_join_broadcast_dim
from metrics_database_cron_script_spark.plans.registry import query
from metrics_database_cron_script_spark.sources import load_table


# ---------------------------------------------------------------- scan/filter

@query(
    "c_scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS net_price,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged_price
FROM lineitem""",
)
def c_scan_project(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged_price"),
    )


@query(
    "c_filter",
    oracle="""
SELECT * FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000 AND 150000
  AND o_orderpriority IS NOT NULL
  AND (o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' OR o_totalprice > 90000)""",
)
def c_filter(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 150000)
        & F.col("o_orderpriority").isNotNull()
        & (
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            | (F.col("o_totalprice") > 90000)
        )
    )


@query(
    "c_case",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity < 10 THEN 'small'
            WHEN l_quantity < 30 THEN 'medium'
            WHEN l_quantity < 45 THEN 'large'
            ELSE 'jumbo' END AS qty_class,
       CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
            ELSE l_extendedprice END AS signed_price
FROM lineitem""",
)
def c_case(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .when(F.col("l_quantity") < 45, "large")
        .otherwise("jumbo")
        .alias("qty_class"),
        F.when(F.col("l_returnflag") == "R", -F.col("l_extendedprice"))
        .otherwise(F.col("l_extendedprice"))
        .alias("signed_price"),
    )


# --------------------------------------------------------------------- joins

@query(
    "c_inner_join",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def c_inner_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o["o_custkey"] == c["c_custkey"], "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "c_left_join",
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       COALESCE(o.o_totalprice, 0.0) AS totalprice_filled,
       o.o_orderkey IS NULL AS no_order
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey""",
)
def c_left_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, o["o_custkey"] == c["c_custkey"], "left").select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.coalesce("o_totalprice", F.lit(0.0)).alias("totalprice_filled"),
        F.col("o_orderkey").isNull().alias("no_order"),
    )


@query(
    "c_semi_join",
    oracle="""
SELECT c.* FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def c_semi_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, o["o_custkey"] == c["c_custkey"], "left_semi")


@query(
    "c_anti_join",
    oracle="""
SELECT c.* FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def c_anti_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, o["o_custkey"] == c["c_custkey"], "left_anti")


@query(
    "c_broadcast_join",
    oracle="""
SELECT n.n_nationkey, n.n_name, r.r_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey""",
)
def c_broadcast_join(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "c_range_join",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate, o.o_totalprice
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY""",
)
def c_range_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # orders is fact-sized (scales with lineitem) — pin shuffle-hash so the
    # join never degenerates into a driver-side broadcast of a fact table
    # when fixture-scale stats sit under the threshold (measured 1.20 s →
    # 0.75 s at the synthetic sf1, no slower at sf0.1).
    o = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    # Equi-key + range predicate: Catalyst plans the equi part as the join key
    # and evaluates the interval as a post-join filter — no cross product.
    cond = (
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] >= o["o_orderdate"])
        & (li["l_shipdate"] < o["o_orderdate"] + F.expr("INTERVAL 90 DAYS"))
    )
    return li.join(o, cond).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate", "o_totalprice"
    )


@query(
    "c_asof_join",
    oracle="""
WITH dim AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(AVG(value), 6) AS price
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT e.event_id, CAST(e.ts AS DATE) AS e_day, d.date AS price_date, d.price
FROM events e ASOF LEFT JOIN dim d ON CAST(e.ts AS DATE) >= d.date""",
)
def c_asof_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.round(F.avg("value"), 6).alias("price"))
    )
    probe = ev.select("event_id", F.to_date("ts").alias("e_day"))
    joined = asof_join_broadcast_dim(probe, dim, probe_key="e_day", dim_key="date")
    return joined.select(
        "event_id", "e_day", F.col("date").alias("price_date"), "price"
    )


# -------------------------------------------------------------- aggregations

@query(
    "c_hash_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10))), 6) AS DOUBLE) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
)
def c_hash_agg(spark, sf_dir):
    """TPC-H Q1 shape: partial (map-side) + final hash agg, filter pushed to
    the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            # rounding vs fp-reorder: the product sums' TRUE values are
            # exactly 4- (disc) / 6- (charge) decimal, so rounding at that
            # precision recovers them bit-exactly as long as the summation
            # error stays under the half-grid (5e-5 / 5e-7) — true at the
            # sf0.01 gate. round(2) instead lands a 4-decimal group sum on
            # a half-cent with P≈1% per group and the engines' summation
            # orders then disagree (bit c_tpch_q7 at 758 groups).
            F.round(F.sum(disc.cast("decimal(28,10)")), 4)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum((disc * (1 + F.col("l_tax"))).cast("decimal(28,10)")), 6)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "c_count_distinct",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type""",
)
def c_count_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "c_approx_count_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(DISTINCT event_id) AS exact_events,
       TRUE AS approx_ok
FROM events GROUP BY event_type""",
)
def c_approx_count_distinct(spark, sf_dir):
    """HLL++ sketch exercised WITH a deterministic hash-checkable output:
    the sketch estimates are validated against the exact counts inside the
    query (|approx-exact| ≤ 3·rsd·exact + 5, far above the sketch's
    documented error) and only the exact counts plus the pinned-true
    tolerance boolean are emitted — same restructuring as `x_ann_recall`.
    The estimate itself is non-portable HLL internals, so it never reaches
    the hashed output."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("_au"),
        F.approx_count_distinct("event_id", rsd=0.05).alias("_ae"),
    )
    ok = (
        F.abs(F.col("_au") - F.col("exact_users"))
        <= 0.15 * F.col("exact_users") + F.lit(5)
    ) & (
        F.abs(F.col("_ae") - F.col("exact_events"))
        <= 0.15 * F.col("exact_events") + F.lit(5)
    )
    return agg.select(
        "event_type", "exact_users", "exact_events", ok.alias("approx_ok")
    )


@query(
    "c_grouping_sets",
    oracle="""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""",
)
def c_grouping_sets(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("__c_grouping_sets_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               ROUND(SUM(c_acctbal), 2) AS bal
        FROM __c_grouping_sets_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "c_rollup",
    oracle="""
SELECT CAST(year(ts) AS BIGINT) AS yr, CAST(month(ts) AS BIGINT) AS mo,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY ROLLUP (yr, mo)""",
)
def c_rollup(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.year("ts").cast("long").alias("yr"),
            F.month("ts").cast("long").alias("mo"),
            "value",
        )
        .rollup("yr", "mo")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "c_cube",
    oracle="""
SELECT event_type, user_id % 3 AS user_bucket,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY CUBE (event_type, user_bucket)""",
)
def c_cube(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", (F.col("user_id") % 3).alias("user_bucket"), "value")
        .cube("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# ------------------------------------------------------------------- windows

@query(
    "c_window_rank",
    oracle="""
SELECT event_id, event_type, value,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(ntile(4)     OVER w AS BIGINT) AS quartile
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)""",
)
def c_window_rank(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "c_window_analytic",
    oracle="""
SELECT event_id, user_id, ts, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       first_value(value) OVER w AS first_value_seen
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def c_window_analytic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_value_seen"),
    )


@query(
    "c_window_frame",
    oracle="""
SELECT event_id, user_id, ts,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_total,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_last3
FROM events""",
)
def c_window_frame(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.count(F.lit(1)).over(w.rowsBetween(-2, 0)).cast("long").alias("n_last3"),
    )


# -------------------------------------------------------------- sort / top-k

@query(
    "c_sort_limit",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
)
def c_sort_limit(spark, sf_dir):
    # orderBy+limit plans as TakeOrderedAndProject: per-partition top-25 then
    # a single tiny merge — no global sort even at 100 TB.
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@query(
    "c_topk_per_group",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
QUALIFY row_number() OVER (PARTITION BY l_suppkey
                           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3""",
)
def c_topk_per_group(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    # Deliberately a bare window: Catalyst's InferWindowGroupLimit turns the
    # rn<=k filter into a two-phase WindowGroupLimit (Partial below the
    # exchange, Final above), so each scan task ships only its own top-3 per
    # suppkey — the fact table itself never crosses the wire. An explicit
    # pre-repartition (tried: key_fan_out) REPLACES the ENSURE_REQUIREMENTS
    # exchange and thereby defeats the partial prune, shuffling every row;
    # ~0.2 s faster at single-file fixture scale (scan-width-bound sort) but
    # strictly worse at cluster scale, where shuffle volume dominates.
    #
    # Round-10 SFXL decomposition (153.6 M rows, 256 k suppkeys, 32 threads):
    # scan floor 1.2 s; sortWithinPartitions on the same keys 10.7 s; full
    # query ~10.4-11.2 s — the query IS the local sort, the partial prune +
    # shuffle + final window add <1 s. Measured-and-rejected alternatives:
    # packed single-long orderBy (cents|orderkey|linenumber in 63 bits,
    # value-identical): interleaved A/B 9.9 vs 9.3 s — no win, the sorter is
    # per-row machinery-bound, not record-width-bound, and prefix ties are
    # already rare (~19 rows/suppkey/task); one-phase repartition 8.0 s —
    # local win, rejected (shuffles the whole fact at cluster scale); numpy
    # mapInPandas partial top-k 38 s (Arrow transfer of the full fact);
    # threshold two-pass 14.4 s (pass 1 pays the same window). What DOES
    # close the DuckDB gap is the table LAYOUT: lineitem clustered by
    # l_suppkey (operators/layout.clustered_write; applied to the shared
    # SFXL copy by bench_sfxl.py, in git history at ffd3cd8) lets the window
    # sort's TimSort collapse on presorted runs — 11.0 s → 4.8 s, at or
    # below the DuckDB wall on the same files, with q1/q9/q21 unchanged or
    # slightly better. The plan here stays layout-agnostic.
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )


# ------------------------------------------------------------------- set ops

@query(
    "c_union_all",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'""",
)
def c_union_all(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey", "c_mktsegment")
    return a.unionByName(b)


@query(
    "c_union_distinct",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
UNION
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
)
def c_union_distinct(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.unionByName(b).distinct()


@query(
    "c_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def c_intersect(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query(
    "c_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def c_except(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b)  # EXCEPT (set) semantics, not exceptAll's bag diff


# ----------------------------------------------------------- scalar functions

@query(
    "c_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       substring(p_type, 1, 4) AS type_prefix,
       concat_ws('|', p_brand, p_type) AS brand_type,
       p_name LIKE '%widget%' AS is_widget,
       trim('  ' || p_name || ' ') AS trimmed,
       regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
       CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
FROM part""",
)
def c_string_funcs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").like("%widget%").alias("is_widget"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_words"),
    )


@query(
    "c_date_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS o_date,
       CAST(o_orderdate AS DATE) + 30 AS plus_30,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(day(o_orderdate) AS BIGINT) AS dom,
       concat_ws('-', day(o_orderdate), month(o_orderdate), year(o_orderdate)) AS dmy_unpadded
FROM orders""",
)
def c_date_funcs(spark, sf_dir):
    # dmy_unpadded is reference R21: the CoinGecko URL's d-m-Y format with NO
    # zero padding (updatescript.py:39) — deliberately not date_format().
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("o_date"),
        F.date_add(d, 30).alias("plus_30"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("long").alias("days_to_2002"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.concat_ws(
            "-", F.dayofmonth("o_orderdate"), F.month("o_orderdate"), F.year("o_orderdate")
        ).alias("dmy_unpadded"),
    )


@query(
    "c_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS disc_dev,
       l_quantity * l_quantity AS qty_sq,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       ROUND(ln(l_extendedprice), 6) AS ln_price,
       ROUND(sqrt(l_quantity), 6) AS sqrt_qty,
       ROUND(pow(l_quantity, 2), 6) AS qty_pow2
FROM lineitem""",
)
def c_math_funcs(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_pow2"),
    )


# -------------------------------------------------- semi-structured: json/map

@query(
    "c_json",
    oracle="""
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS k_avg,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS DOUBLE) AS k_max,
       COUNT(*) AS n
FROM events GROUP BY event_type""",
)
def c_json(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("k_avg"),
        F.max(k).alias("k_max"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "c_map_funcs",
    oracle="""
SELECT doc_id,
       2 AS meta_size,
       'lang,source' AS meta_keys,
       lang AS lang_from_map,
       source AS source_from_map
FROM documents""",
)
def c_map_funcs(spark, sf_dir):
    """map_from_arrays/map_keys/map_values/element_at/size exercised inside the
    plan; the *output* is flattened to scalar columns so the driver's pandas
    canonicalizer (sort + hash) can process it — map/array cells are unhashable
    there. Flattening also makes the query SQL-oracle-able."""
    d = load_table(spark, sf_dir, "documents")
    m = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("source")), F.array("lang", "source")
    )
    return d.select(
        "doc_id",
        F.size(m).alias("meta_size"),
        F.concat_ws(",", F.map_keys(m)).alias("meta_keys"),
        F.element_at(m, "lang").alias("lang_from_map"),
        F.element_at(F.map_values(m), 2).alias("source_from_map"),
    )


@query(
    "c_array_funcs",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       embedding[1] AS first_val,
       embedding[64] AS last_val,
       ROUND(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4) AS l1_norm
FROM embeddings""",
)
def c_array_funcs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at("embedding", 64).alias("last_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))
            ),
            4,
        ).alias("l1_norm"),
    )


# ----------------------------------------------------------------- UDF proof

@query(
    "c_udf_pandas",
    oracle="""
WITH tx AS (
  SELECT event_id, ts,
         event_type <> 'error' AS successful,
         value AS stake,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS alreadyBonded
  FROM events
), price AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(AVG(value), 6) AS price
  FROM events GROUP BY 1
)
SELECT t.event_id,
       CASE WHEN NOT t.successful THEN 0.0
            WHEN t.stake = t.alreadyBonded THEN t.stake * p.price
            ELSE abs(t.stake - t.alreadyBonded) * p.price
       END AS txDollarValue
FROM tx t JOIN price p ON CAST(t.ts AS DATE) = p.date""",
)
def c_udf_pandas(spark, sf_dir):
    """Arrow-batched pandas UDF computing R11's formula — must hash-match the
    built-in CASE version (r_tx_enrich). Proves the UDF surface without
    putting Python in any production hot path."""
    from metrics_database_cron_script_spark.functions.udfs import tx_dollar_value
    from metrics_database_cron_script_spark.operators import reference_ops as R

    ev = load_table(spark, sf_dir, "events")
    tx = R.tx_view(ev)
    price = R.daily_price_dim(ev)
    joined = tx.join(F.broadcast(price), F.to_date(tx["ts"]) == price["date"], "inner")
    return joined.select(
        "event_id",
        tx_dollar_value("successful", "stake", "alreadyBonded", "price").alias(
            "txDollarValue"
        ),
    )


# ---------------------------------------------------------- pivot / unpivot

@query(
    "c_pivot",
    oracle="""
SELECT user_id,
       ROUND(SUM(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
       ROUND(SUM(CASE WHEN event_type = 'error'    THEN value END), 2) AS error,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
       ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
       ROUND(SUM(CASE WHEN event_type = 'view'     THEN value END), 2) AS view
FROM events GROUP BY user_id""",
)
def c_pivot(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.sum("value"), 2))
    )


@query(
    "c_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem""",
)
def c_unpivot(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax)"
        " AS (measure, val)",
    )


# ------------------------------------------------------------- percentiles

@query(
    "c_percentile",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type""",
)
def c_percentile(spark, sf_dir):
    # exact continuous percentile (linear interpolation) — same definition in
    # Spark `percentile` and DuckDB `quantile_cont`
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


@query(
    "c_approx_quantile",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 4) AS q25,
       ROUND(quantile_cont(value, 0.50), 4) AS q50,
       ROUND(quantile_cont(value, 0.75), 4) AS q75,
       TRUE AS approx_ok
FROM events GROUP BY event_type""",
)
def c_approx_quantile(spark, sf_dir):
    """KLL-style `percentile_approx` sketch exercised WITH a deterministic
    output: the approximate quantiles are validated in-query against the
    EXACT interpolated percentiles (tolerance 5% of the group's value
    range — generous vs the sketch's rank error at accuracy=10000), and
    the emitted columns are the exact percentiles (rounded so Spark/DuckDB
    double interpolation agrees bitwise) plus the pinned-true boolean.
    Same restructuring as `c_histogram_quantile_merge`."""
    ev = load_table(spark, sf_dir, "events")
    ps = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    agg = ev.groupBy("event_type").agg(
        F.percentile("value", ps).alias("_qe"),
        F.percentile_approx("value", ps, 10000).alias("_qa"),
        (F.max("value") - F.min("value")).alias("_rng"),
    )
    tol = 0.05 * F.col("_rng") + F.lit(1e-9)
    ok = F.lit(True)
    for i in (1, 2, 3):
        ok = ok & (
            F.abs(F.element_at("_qa", i) - F.element_at("_qe", i)) <= tol
        )
    return agg.select(
        "event_type",
        F.round(F.element_at("_qe", 1), 4).alias("q25"),
        F.round(F.element_at("_qe", 2), 4).alias("q50"),
        F.round(F.element_at("_qe", 3), 4).alias("q75"),
        ok.alias("approx_ok"),
    )


# ----------------------------------------------------------- multi-way join

@query(
    "c_multi_join",
    oracle="""
SELECT r.r_name, n.n_name,
       COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderstatus = 'F'
GROUP BY r.r_name, n.n_name""",
)
def c_multi_join(spark, sf_dir):
    """TPC-H Q5 shape: star-join chain fact→dim→dim→dim + agg. The
    nation→region dim chain is CONSTANT-CARDINALITY (25/5 rows at any
    scale factor — the TPC-H data model), so both dims are inlined into
    the plan as literal lookup maps (`inline_dim_map`, composed on the
    driver: nationkey → n_name / r_name) instead of two broadcast joins:
    no build jobs, no exchanges, the lookup runs inside the fact scan's
    whole-stage codegen. Round 5 A/B'd folding nation×region into ONE
    broadcast build via an internal merge join (4 jobs → 3): 1.27× SLOWER
    interleaved — the SMJ build's shuffles cost more than the saved job;
    literal inlining removes both jobs AND both exchanges (4 → 2). The
    isNotNull filter reproduces inner-join semantics for a c_nationkey
    missing from nation. customer stays a stats-driven join (it grows)."""
    from metrics_database_cron_script_spark.sources.tables import (
        constant_dim_rows,
        inline_dim_map,
    )

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    region_name = {
        r["r_regionkey"]: r["r_name"] for r in constant_dim_rows(sf_dir, "region")
    }
    n_map = inline_dim_map(sf_dir, "nation", "n_nationkey", "n_name")
    # nation⋈region composed at plan time: nationkey → its region's name
    # (inner semantics: a nation with an unknown regionkey maps to NULL
    # and is filtered, exactly as the SQL join chain drops it)
    r_map = inline_dim_map(
        sf_dir, "nation", "n_nationkey", lambda r: region_name.get(r["n_regionkey"])
    )
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .withColumn("n_name", F.element_at(n_map, F.col("c_nationkey")))
        .withColumn("r_name", F.element_at(r_map, F.col("c_nationkey")))
        .filter(F.col("n_name").isNotNull() & F.col("r_name").isNotNull())
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ------------------------------------------------- subqueries / SQL surface

def _view(spark, sf_dir, table, name):
    load_table(spark, sf_dir, table).createOrReplaceTempView(name)
    return name


@query(
    "c_scalar_subquery",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)""",
)
def c_scalar_subquery(spark, sf_dir):
    v = _view(spark, sf_dir, "orders", "__v_orders_scalar")
    return spark.sql(
        f"""SELECT o_orderkey, o_totalprice FROM {v}
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM {v})"""
    )


@query(
    "c_correlated_subquery",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
WHERE o.o_totalprice > (
  SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)""",
)
def c_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery — Catalyst decorrelates to an aggregate +
    join (no per-row re-execution, unlike the reference's N+1 probes)."""
    v = _view(spark, sf_dir, "orders", "__v_orders_corr")
    return spark.sql(
        f"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM {v} o
            WHERE o.o_totalprice > (
              SELECT AVG(o2.o_totalprice) FROM {v} o2
              WHERE o2.o_custkey = o.o_custkey)"""
    )


@query(
    "c_in_subquery",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
)
def c_in_subquery(spark, sf_dir):
    vc = _view(spark, sf_dir, "customer", "__v_cust_in")
    vo = _view(spark, sf_dir, "orders", "__v_orders_in")
    return spark.sql(
        f"""SELECT c_custkey, c_name FROM {vc}
            WHERE c_custkey IN (SELECT o_custkey FROM {vo} WHERE o_orderstatus = 'F')"""
    )


@query(
    "c_cte",
    oracle="""
WITH seg AS (
  SELECT c_mktsegment, COUNT(*) AS n_cust, ROUND(AVG(c_acctbal), 6) AS avg_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_cust, avg_bal FROM seg WHERE n_cust > 5""",
)
def c_cte(spark, sf_dir):
    v = _view(spark, sf_dir, "customer", "__v_cust_cte")
    return spark.sql(
        f"""WITH seg AS (
              SELECT c_mktsegment, COUNT(*) AS n_cust,
                     ROUND(AVG(c_acctbal), 6) AS avg_bal
              FROM {v} GROUP BY c_mktsegment)
            SELECT c_mktsegment, n_cust, avg_bal FROM seg WHERE n_cust > 5"""
    )


# --------------------------------------------------------- more join shapes

@query(
    "c_full_outer_join",
    oracle="""
SELECT c.c_custkey, o.o_orderkey,
       c.c_custkey IS NULL AS customer_missing,
       o.o_orderkey IS NULL AS order_missing
FROM customer c FULL OUTER JOIN orders o ON o.o_custkey = c.c_custkey""",
)
def c_full_outer_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, o["o_custkey"] == c["c_custkey"], "full_outer").select(
        "c_custkey",
        "o_orderkey",
        F.col("c_custkey").isNull().alias("customer_missing"),
        F.col("o_orderkey").isNull().alias("order_missing"),
    )


@query(
    "c_cross_join",
    oracle="SELECT n.n_name, r.r_name FROM nation n CROSS JOIN region r",
)
def c_cross_join(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.crossJoin(r).select("n_name", "r_name")


@query(
    "c_self_join",
    oracle="""
SELECT a.event_id AS first_id, b.event_id AS next_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE""",
)
def c_self_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("first_id"), F.col("user_id"), F.col("ts").alias("ts_a")
    )
    b = ev.select(
        F.col("event_id").alias("next_id"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    )
    cond = (
        (a["user_id"] == b["user_b"])
        & (b["ts_b"] > a["ts_a"])
        & (b["ts_b"] <= a["ts_a"] + F.expr("INTERVAL 10 MINUTES"))
    )
    return a.join(b, cond).select("first_id", "next_id", "user_id")


# ----------------------------------------------------- distinct/having/nulls

@query(
    "c_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def c_distinct(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "c_having",
    oracle="""
SELECT event_type, COUNT(*) AS n FROM events
GROUP BY event_type HAVING COUNT(*) > 50""",
)
def c_having(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 50)
    )


@query(
    "c_null_handling",
    oracle="""
SELECT c.c_custkey,
       COUNT(o.o_orderkey) AS n_orders,
       COUNT(*) AS n_rows,
       ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 2) AS total_spend,
       MAX(o.o_orderdate) IS NULL AS never_ordered
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey""",
)
def c_null_handling(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),  # skips nulls
            F.count(F.lit(1)).alias("n_rows"),  # counts all
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
            F.max("o_orderdate").isNull().alias("never_ordered"),
        )
    )


@query(
    "c_order_by_expr",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net
FROM lineitem
ORDER BY net DESC, l_orderkey, l_linenumber LIMIT 10""",
)
def c_order_by_expr(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        )
        .orderBy(F.col("net").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


# ----------------------------------------------- aggregate breadth: stats &c

@query(
    "c_stats_agg",
    oracle="""
SELECT event_type,
       ROUND(stddev_samp(value), 6) AS sd,
       ROUND(var_samp(value), 6) AS var,
       ROUND(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS corr_vk,
       ROUND(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS covar_vk
FROM events GROUP BY event_type""",
)
def c_stats_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.var_samp("value"), 6).alias("var"),
        F.round(F.corr(F.col("value"), k), 6).alias("corr_vk"),
        F.round(F.covar_samp(F.col("value"), k), 6).alias("covar_vk"),
    )


@query(
    "c_bool_agg",
    oracle="""
SELECT user_id,
       bool_or(event_type = 'error') AS had_error,
       bool_and(value > 0) AS all_positive,
       COUNT(*) FILTER (WHERE value > 100) AS n_big
FROM events GROUP BY user_id""",
)
def c_bool_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bool_or(F.col("event_type") == "error").alias("had_error"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.count_if(F.col("value") > 100).alias("n_big"),
    )


@query(
    "c_min_by_max_by",
    oracle="""
SELECT event_type,
       arg_max(event_id, value * 1e9 + event_id) AS biggest_event,
       arg_min(event_id, value * 1e9 + event_id) AS smallest_event
FROM events GROUP BY event_type""",
)
def c_min_by_max_by(spark, sf_dir):
    # ordering key folds event_id in as a tie-break (value*1e9 dominates;
    # both stay exactly representable in a double at fixture scales)
    ev = load_table(spark, sf_dir, "events")
    key = F.col("value") * 1e9 + F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("biggest_event"),
        F.min_by("event_id", key).alias("smallest_event"),
    )


@query(
    "c_window_range",
    oracle="""
SELECT event_id, user_id, ts,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS hour_sum
FROM events""",
)
def c_window_range(spark, sf_dir):
    """RANGE frame keyed by event time (trailing 1 hour per user) — frames
    are value-determined, so no tie-break column is needed."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        # unix_micros requires LTZ; ts is NTZ — cast preserves the wall
        # clock under the pinned UTC session timezone
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("hour_sum"),
    )


@query(
    "c_udaf_pandas",
    oracle="""
SELECT user_id, ROUND(mad(value), 6) AS value_mad
FROM events GROUP BY user_id""",
)
def c_udaf_pandas(spark, sf_dir):
    """A TRUE user-defined aggregate via applyInPandas: median absolute
    deviation, which Spark has no built-in for (the UDAF surface SURVEY §2.B
    promises; c_udf_pandas covers the scalar surface)."""
    import pandas as pd

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["value"]
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "value_mad": [round((s - s.median()).abs().median(), 6)]}
        )

    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "value").groupBy("user_id").applyInPandas(
        mad, schema="user_id long, value_mad double"
    )


# ------------------------------------------------ decorrelation shapes (TPC-H)

@query(
    "c_not_in_subquery",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""",
)
def c_not_in_subquery(spark, sf_dir):
    """NOT IN → null-aware anti join (distinct from NOT EXISTS' plain
    left_anti: one null in the subquery empties the result)."""
    vc = _view(spark, sf_dir, "customer", "__v_cust_notin")
    vo = _view(spark, sf_dir, "orders", "__v_orders_notin")
    return spark.sql(
        f"""SELECT c_custkey, c_name FROM {vc}
            WHERE c_custkey NOT IN (
              SELECT o_custkey FROM {vo} WHERE o_orderstatus = 'P')"""
    )


@query(
    "c_having_scalar_subquery",
    oracle="""
SELECT user_id, ROUND(SUM(value), 2) AS total FROM events
GROUP BY user_id
HAVING SUM(value) > (SELECT SUM(value) * 0.05 FROM events)""",
)
def c_having_scalar_subquery(spark, sf_dir):
    """TPC-H Q11 shape: group filter against a global-aggregate scalar
    subquery (fraction-of-total threshold)."""
    v = _view(spark, sf_dir, "events", "__v_events_having")
    return spark.sql(
        f"""SELECT user_id, ROUND(SUM(value), 2) AS total FROM {v}
            GROUP BY user_id
            HAVING SUM(value) > (SELECT SUM(value) * 0.05 FROM {v})"""
    )


@query(
    "c_exists_with_predicate",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority""",
)
def c_exists_with_predicate(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS carrying an extra correlated range predicate →
    left-semi join with a non-equi condition."""
    vo = _view(spark, sf_dir, "orders", "__v_orders_q4")
    vl = _view(spark, sf_dir, "lineitem", "__v_lineitem_q4")
    return spark.sql(
        f"""SELECT o.o_orderpriority, COUNT(*) AS n_orders
            FROM {vo} o
            WHERE EXISTS (
              SELECT 1 FROM {vl} l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAYS)
            GROUP BY o.o_orderpriority"""
    )


# ------------------------------------------------------- function-breadth II

@query(
    "c_window_dist",
    oracle="""
SELECT event_id, event_type, value,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       nth_value(event_id, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS third_event
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",
)
def c_window_dist(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("event_id", 3).over(wfull).alias("third_event"),
    )


@query(
    "c_string_funcs2",
    oracle="""
SELECT p_partkey,
       lpad(p_brand, 12, '*') AS brand_padded,
       rpad(p_brand, 12, '.') AS brand_rpadded,
       reverse(p_name) AS name_rev,
       repeat(p_type, 2) AS type_twice,
       replace(p_name, ' ', '_') AS name_snake,
       CAST(strpos(p_name, 'o') AS BIGINT) AS first_o,
       CAST(levenshtein(p_brand, 'Brand#1') AS BIGINT) AS brand_dist,
       CAST(ascii(p_name) AS BIGINT) AS first_char_code,
       left(p_type, 3) AS type_left,
       right(p_type, 3) AS type_right
FROM part""",
)
def c_string_funcs2(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_rpadded"),
        F.reverse("p_name").alias("name_rev"),
        F.repeat("p_type", 2).alias("type_twice"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.locate("o", F.col("p_name")).cast("long").alias("first_o"),
        F.levenshtein("p_brand", F.lit("Brand#1")).cast("long").alias("brand_dist"),
        F.ascii("p_name").cast("long").alias("first_char_code"),
        F.substring("p_type", 1, 3).alias("type_left"),
        F.col("p_type").substr(F.length("p_type") - 2, F.lit(3)).alias("type_right"),
    )


@query(
    "c_date_funcs2",
    oracle="""
SELECT o_orderkey,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(week(o_orderdate) AS BIGINT) AS iso_week,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
FROM orders""",
)
def c_date_funcs2(spark, sf_dir):
    # DuckDB dayofweek is 0=Sunday, Spark is 1=Sunday → +1 on the oracle side
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.last_day("o_orderdate").alias("month_end"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.dayofweek("o_orderdate").cast("long").alias("dow_sun1"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
    )


# ----------------------------------------------- composition shapes (TPC-H II)

@query(
    "c_in_grouped_having",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)""",
)
def c_in_grouped_having(spark, sf_dir):
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery (large-basket
    orders)."""
    vo = _view(spark, sf_dir, "orders", "__v_orders_q18")
    vl = _view(spark, sf_dir, "lineitem", "__v_lineitem_q18")
    return spark.sql(
        f"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
            FROM {vo} o
            WHERE o.o_orderkey IN (
              SELECT l_orderkey FROM {vl}
              GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)"""
    )


@query(
    "c_argmax_group",
    oracle="""
WITH rev AS (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, revenue FROM rev
WHERE revenue = (SELECT MAX(revenue) FROM rev)""",
)
def c_argmax_group(spark, sf_dir):
    """TPC-H Q15 shape: the group(s) achieving the global max of a grouped
    aggregate (scalar subquery over a derived relation)."""
    vl = _view(spark, sf_dir, "lineitem", "__v_lineitem_q15")
    return spark.sql(
        f"""WITH rev AS (
              SELECT l_suppkey,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
              FROM {vl} GROUP BY l_suppkey)
            SELECT l_suppkey, revenue FROM rev
            WHERE revenue = (SELECT MAX(revenue) FROM rev)"""
    )


@query(
    "c_avg_subquery_filter",
    oracle="""
SELECT substring(c_name, 1, 9) AS name_prefix, COUNT(*) AS n,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY name_prefix""",
)
def c_avg_subquery_filter(spark, sf_dir):
    """TPC-H Q22 shape: filter on a conditional-average scalar subquery plus
    NOT EXISTS, then aggregate on a derived key."""
    vc = _view(spark, sf_dir, "customer", "__v_cust_q22")
    vo = _view(spark, sf_dir, "orders", "__v_orders_q22")
    return spark.sql(
        f"""SELECT substring(c_name, 1, 9) AS name_prefix, COUNT(*) AS n,
                   ROUND(SUM(c_acctbal), 2) AS total_bal
            FROM {vc}
            WHERE c_acctbal > (
                SELECT AVG(c_acctbal) FROM {vc} WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM {vo} WHERE o_custkey = c_custkey)
            GROUP BY name_prefix"""
    )


@query(
    "c_posexplode",
    oracle="""
SELECT p_partkey,
       CAST(generate_subscripts(string_split(p_name, ' '), 1) AS BIGINT) AS pos,
       unnest(string_split(p_name, ' ')) AS word
FROM part""",
)
def c_posexplode(spark, sf_dir):
    # Spark posexplode is 0-based; generate_subscripts is 1-based → +1
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ")).alias("pos0", "word"),
    ).select("p_partkey", (F.col("pos0") + 1).cast("long").alias("pos"), "word")


@query(
    "c_collect_agg",
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list(value)), ',') AS values_sorted,
       CAST(len(list_distinct(list(event_type))) AS BIGINT) AS n_types
FROM events GROUP BY user_id""",
)
def c_collect_agg(spark, sf_dir):
    # array outputs are string-joined so the cross-engine compare stays
    # representation-neutral (list rendering differs between engines)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("value")), lambda x: x.cast("string")),
            ",",
        ).alias("values_sorted"),
        F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
    )


# --------------------------------------------------- ANSI-safety & from_json

@query(
    "c_try_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_tax = 0 THEN NULL ELSE l_extendedprice / l_tax END AS price_per_tax,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
       TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip
FROM lineitem""",
)
def c_try_functions(spark, sf_dir):
    """ANSI-mode-safe scalar surface: Spark 4 runs ANSI by default (divide by
    zero / bad casts raise); try_divide / try_cast give the SQL-NULL
    fallbacks, matching the oracle's guarded expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", "l_tax").alias("price_per_tax"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_quantity").cast("string").try_cast("double").alias("qty_roundtrip"),
    )


@query(
    "c_from_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
FROM events""",
)
def c_from_json(spark, sf_dir):
    """Schema-full JSON parsing (from_json → typed struct), vs c_json's
    path extraction — the reference's nested payload access done with a
    declared schema (R6 market_data paths, updatescript.py:40)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", F.from_json("props", "k bigint").alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_val"),
        (F.col("p.k") % 10).alias("k_mod"),
    )


@query(
    "c_udaf_window",
    oracle="""
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS rolling_mean
FROM events""",
)
def c_udaf_window(spark, sf_dir):
    """A grouped-agg pandas UDF evaluated OVER a window frame (the third UDF
    surface besides scalar pandas UDF and applyInPandas UDAF) — must match
    the built-in AVG over the identical frame."""
    from pyspark.sql import Window as W

    from metrics_database_cron_script_spark.functions.udfs import pd_mean

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(pd_mean("value").over(w), 6).alias("rolling_mean"),
    )


@query(
    "c_filter_clause",
    oracle="""
SELECT user_id,
       ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_total,
       ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2) AS click_total,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
FROM events GROUP BY user_id""",
)
def c_filter_clause(spark, sf_dir):
    """SQL FILTER clause on aggregates (the standard form of conditional
    aggregation, beyond CASE-wrapping)."""
    v = _view(spark, sf_dir, "events", "__v_events_filter")
    return spark.sql(
        f"""SELECT user_id,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_total,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2) AS click_total,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
            FROM {v} GROUP BY user_id"""
    )


@query(
    "c_lateral_join",
    oracle="""
SELECT o.o_orderkey, l.top_price, l.n_lines
FROM orders o,
LATERAL (
  SELECT MAX(l_extendedprice) AS top_price, COUNT(*) AS n_lines
  FROM lineitem WHERE l_orderkey = o.o_orderkey
) l
WHERE l.n_lines > 0""",
)
def c_lateral_join(spark, sf_dir):
    """Correlated LATERAL subquery — per-order aggregate computed inline
    (Catalyst decorrelates to a grouped join, same as DuckDB)."""
    vo = _view(spark, sf_dir, "orders", "__v_orders_lat")
    vl = _view(spark, sf_dir, "lineitem", "__v_lineitem_lat")
    return spark.sql(
        f"""SELECT o.o_orderkey, l.top_price, l.n_lines
            FROM {vo} o,
            LATERAL (
              SELECT MAX(l_extendedprice) AS top_price, COUNT(*) AS n_lines
              FROM {vl} WHERE l_orderkey = o.o_orderkey
            ) l
            WHERE l.n_lines > 0"""
    )


@query(
    "c_grouping_id",
    oracle="""
SELECT c_mktsegment, c_nationkey,
       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
       CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nat,
       COUNT(*) AS n
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""",
)
def c_grouping_id(spark, sf_dir):
    """GROUPING() markers distinguish subtotal NULLs from data NULLs in
    grouping-set output — required for correct rollup consumers."""
    v = _view(spark, sf_dir, "customer", "__v_cust_gid")
    return spark.sql(
        f"""SELECT c_mktsegment, c_nationkey,
                   CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
                   CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nat,
                   COUNT(*) AS n
            FROM {v}
            GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())"""
    )


@query(
    "c_window_partition_only",
    oracle="""
SELECT event_id, event_type, value,
       ROUND(SUM(value) OVER (PARTITION BY event_type), 2) AS type_total,
       ROUND(value / SUM(value) OVER (PARTITION BY event_type), 6) AS share
FROM events""",
)
def c_window_partition_only(spark, sf_dir):
    """Whole-partition window (no ORDER BY → unbounded frame): per-row share
    of group total without collapsing rows — the 'ratio to report' pattern."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    total = F.sum("value").over(w)
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(total, 2).alias("type_total"),
        F.round(F.col("value") / total, 6).alias("share"),
    )


@query(
    "c_values_inline",
    oracle="""
SELECT e.event_type, d.label, COUNT(*) AS n
FROM events e
JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'conversion'), ('signup', 'conversion'),
             ('error', 'failure')) AS d(event_type, label)
  ON e.event_type = d.event_type
GROUP BY e.event_type, d.label""",
)
def c_values_inline(spark, sf_dir):
    """Inline VALUES dimension (code-defined lookup table joined without any
    external source — the tiny-static-dim pattern)."""
    v = _view(spark, sf_dir, "events", "__v_events_values")
    return spark.sql(
        f"""SELECT e.event_type, d.label, COUNT(*) AS n
            FROM {v} e
            JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
                         ('purchase', 'conversion'), ('signup', 'conversion'),
                         ('error', 'failure')) AS d(event_type, label)
              ON e.event_type = d.event_type
            GROUP BY e.event_type, d.label"""
    )


@query(
    "c_regex_groups",
    oracle=r"""
SELECT p_partkey,
       regexp_replace(p_name, '^(\w+) (\w+)$', '\2 \1') AS name_swapped,
       split_part(p_type, ' ', 1) AS type_head
FROM part""",
)
def c_regex_groups(spark, sf_dir):
    # replacement-group dialects differ: Spark uses $1, DuckDB \1
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_name", r"^(\w+) (\w+)$", r"$2 $1").alias("name_swapped"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@query(
    "c_intersect_all",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def c_intersect_all(spark, sf_dir):
    """Bag-semantics INTERSECT ALL (multiplicity = min of the two sides) —
    the multiset complement to c_intersect's set form."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@query(
    "c_median_mode",
    oracle="""
WITH m AS (
  SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
  FROM lineitem GROUP BY l_returnflag, l_quantity
), md AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY c DESC, v ASC) AS rn
  FROM m
)
SELECT li.l_returnflag,
       ROUND(median(li.l_quantity), 6) AS med_qty,
       MIN(md.v) AS mode_qty
FROM lineitem li
JOIN md ON md.l_returnflag = li.l_returnflag AND md.rn = 1
GROUP BY li.l_returnflag""",
)
def c_median_mode(spark, sf_dir):
    """Exact median (continuous, both engines interpolate even counts) and
    deterministic mode (lowest value among the most frequent — Spark's
    ``mode(col, deterministic=True)``; the oracle spells out the same
    count-desc/value-asc argmax since DuckDB's ``mode()`` tie-break is
    unspecified)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.mode("l_quantity", True).alias("mode_qty"),
    )


@query(
    "c_regr_agg",
    oracle="""
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag""",
)
def c_regr_agg(spark, sf_dir):
    """Linear-regression aggregates (slope/intercept/R²/count) — the SQL:2003
    ordered-set family both engines implement natively."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).cast("bigint").alias("n"),
    )


@query(
    "c_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_orderkey & 255 AS key_lo,
       l_orderkey | 4096 AS key_hi,
       xor(l_orderkey, l_partkey) AS key_xor,
       l_orderkey << 3 AS key_shl,
       l_orderkey >> 2 AS key_shr,
       CAST(bit_count(l_orderkey) AS BIGINT) AS key_bits
FROM lineitem""",
)
def c_bitwise(spark, sf_dir):
    """Bitwise scalar surface (AND/OR/XOR/shifts/popcount). Dialect note:
    DuckDB's ``^`` is exponentiation, so the oracle uses ``xor()``."""
    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).alias("key_lo"),
        k.bitwiseOR(F.lit(4096)).alias("key_hi"),
        k.bitwiseXOR(F.col("l_partkey")).alias("key_xor"),
        F.shiftleft(k, 3).cast("bigint").alias("key_shl"),
        F.shiftright(k, 2).cast("bigint").alias("key_shr"),
        F.bit_count(k).cast("bigint").alias("key_bits"),
    )


@query(
    "c_window_nth",
    oracle="""
SELECT o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       nth_value(o_totalprice, 2) OVER w AS second_price,
       last_value(sparse_price IGNORE NULLS) OVER w AS last_seen_sparse
FROM (SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS sparse_price
      FROM orders)
WINDOW w AS (PARTITION BY o_custkey % 10 ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def c_window_nth(spark, sf_dir):
    """nth_value / first_value / last_value-IGNORE-NULLS over a running
    frame — the null-skipping analytic surface (last-observation-carried-
    forward pattern)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy(F.col("o_custkey") % 10)
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sparse = F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last(sparse, ignorenulls=True).over(w).alias("last_seen_sparse"),
    )


@query(
    "c_null_safe_join",
    oracle="""
WITH a AS (
  SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey % 50 END AS k,
         o_totalprice
  FROM orders
), b AS (
  SELECT DISTINCT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey % 50 END AS k
  FROM customer
)
SELECT b.k, COUNT(a.o_totalprice) AS n, ROUND(SUM(a.o_totalprice), 2) AS total
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY b.k""",
)
def c_null_safe_join(spark, sf_dir):
    """Null-safe equality join: Spark's ``<=>`` vs ANSI ``IS NOT DISTINCT
    FROM`` — NULL keys match each other instead of vanishing."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.select(
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey") % 50)
        .alias("ka"),
        "o_totalprice",
    )
    b = c.select(
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_custkey") % 50)
        .alias("k")
    ).distinct()
    return (
        a.join(b, a["ka"].eqNullSafe(b["k"]), "inner")
        .groupBy("k")
        .agg(
            F.count("o_totalprice").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "c_unix_time",
    oracle="""
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec,
       epoch_ms(ts) AS unix_ms,
       CAST(floor(epoch(ts) / 86400) AS BIGINT) AS unix_day,
       CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS sec_of_day
FROM events""",
)
def c_unix_time(spark, sf_dir):
    """Epoch conversions (seconds / millis / day number) — the storage-
    neutral time representation used for partitioning keys at scale."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    return ev.select(
        "event_id",
        sec.alias("unix_sec"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("unix_ms"),
        F.floor(sec / 86400).cast("bigint").alias("unix_day"),
        (sec % 86400).alias("sec_of_day"),
    )


@query(
    "c_struct_minmax",
    oracle="""
SELECT event_type,
       (min_s).v AS min_value, (min_s).e AS min_event_id,
       (max_s).v AS max_value, (max_s).e AS max_event_id
FROM (
  SELECT event_type,
         min({'v': value, 'e': event_id}) AS min_s,
         max({'v': value, 'e': event_id}) AS max_s
  FROM events GROUP BY event_type
)""",
)
def c_struct_minmax(spark, sf_dir):
    """Struct construction + lexicographic struct min/max (the deterministic
    argmin/argmax idiom: the struct's second field is the tie-break), fields
    extracted back to scalars."""
    ev = load_table(spark, sf_dir, "events")
    s = F.struct(F.col("value").alias("v"), F.col("event_id").alias("e"))
    agg = ev.groupBy("event_type").agg(
        F.min(s).alias("min_s"), F.max(s).alias("max_s")
    )
    return agg.select(
        "event_type",
        F.col("min_s.v").alias("min_value"),
        F.col("min_s.e").alias("min_event_id"),
        F.col("max_s.v").alias("max_value"),
        F.col("max_s.e").alias("max_event_id"),
    )


@query(
    "c_array_setops",
    oracle="""
SELECT doc_id,
       COALESCE(array_to_string(list_sort(list_distinct(list_intersect(
           string_split(text, ' '), ['spark', 'join', 'data', 'quantum']))), ','), '') AS kw_hits,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
       COALESCE(array_to_string(list_sort(list_filter(list_distinct(string_split(text, ' ')),
           w -> NOT list_contains(['the', 'a'], w))), ','), '') AS vocab_no_stop
FROM documents""",
)
def c_array_setops(spark, sf_dir):
    """Array set algebra (intersect/distinct/filter/sort) on token arrays,
    serialized with array_join so the oracle compares scalar strings (the
    harness canonicalizes cells with str(); raw array cells would compare
    list-vs-ndarray representations, not values)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    kw = F.array(F.lit("spark"), F.lit("join"), F.lit("data"), F.lit("quantum"))
    stop = F.array(F.lit("the"), F.lit("a"))
    return toks.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(F.array_intersect(F.col("t"), kw))), ",").alias("kw_hits"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_unique"),
        F.array_join(F.array_sort(F.array_except(F.array_distinct("t"), stop)), ",").alias("vocab_no_stop"),
    )


@query(
    "c_skew_salted_join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
FROM events e
JOIN customer c ON e.user_id % 100 = c.c_custkey % 1000""",
)
def c_skew_salted_join(spark, sf_dir):
    """The explicit salted skew join (operators/skew.py) run through the
    correctness gate: salting is a pure physical rewrite, so the result must
    hash-match the plain equi-join SQL. user_id%100 against c_custkey%1000
    makes every key hot (fixture-scale stand-in for whale keys)."""
    from metrics_database_cron_script_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", (F.col("user_id") % 100).alias("jk")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 1000).alias("jk"), "c_mktsegment"
    )
    out = salted_join(ev, cust, key="jk", salt_id_col="event_id", salt_factor=8)
    return out.select("event_id", "user_id", "c_mktsegment", "value")


@query(
    "c_except_all",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def c_except_all(spark, sf_dir):
    """Bag-semantics EXCEPT ALL (per-occurrence removal) — the multiset
    difference c_except deliberately avoids."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)


@query(
    "c_explode_outer",
    oracle="""
SELECT p_partkey,
       unnest(CASE WHEN len(zw) = 0 THEN [NULL] ELSE zw END) AS zword
FROM (SELECT p_partkey,
             list_filter(string_split(p_name, ' '), w -> w LIKE 's%') AS zw
      FROM part)""",
)
def c_explode_outer(spark, sf_dir):
    """explode_outer: rows whose array is empty survive with a NULL element
    (plain explode drops them — the left-join-shaped flatten). DuckDB has no
    outer unnest, so the oracle pads empty lists with [NULL]."""
    p = load_table(spark, sf_dir, "part")
    zw = F.filter(F.split("p_name", " "), lambda w: w.startswith("s"))
    return p.select("p_partkey", F.explode_outer(zw).alias("zword"))


@query(
    "c_histogram_buckets",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM orders GROUP BY 1""",
)
def c_histogram_buckets(spark, sf_dir):
    """Equi-width histogram by floor-bucketing — the partition-friendly
    aggregation underneath every distribution dashboard (single map-side
    combinable groupBy, no sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "c_like_ilike",
    oracle="""
SELECT p_partkey,
       p_name LIKE '%ol%' AS has_ol,
       p_name ILIKE '%OL%' AS has_ol_ci,
       p_name NOT LIKE 'a%' AS not_a,
       (p_brand || '%' || p_type) LIKE 'Brand#1\\%%' ESCAPE '\\' AS esc_hit
FROM part""",
)
def c_like_ilike(spark, sf_dir):
    """LIKE / case-insensitive ILIKE / NOT LIKE / ESCAPE'd literal-percent
    matching — the pattern-predicate surface (pushdown-eligible)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_name").like("%ol%").alias("has_ol"),
        F.col("p_name").ilike("%OL%").alias("has_ol_ci"),
        (~F.col("p_name").like("a%")).alias("not_a"),
        F.expr(r"concat(p_brand, '%', p_type) LIKE 'Brand#1\\%%' ESCAPE '\\'").alias(
            "esc_hit"
        ),
    )


@query(
    "c_nulls_ordering",
    oracle="""
SELECT o_orderkey, sparse_price, CAST(pos AS BIGINT) AS pos
FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice END AS sparse_price,
         row_number() OVER (ORDER BY (CASE WHEN o_orderkey % 4 = 0
                                      THEN o_totalprice END) ASC NULLS LAST,
                            o_orderkey) AS pos
  FROM orders
)
WHERE pos <= 50""",
)
def c_nulls_ordering(spark, sf_dir):
    """Explicit NULLS LAST ordering under a top-k: the null-placement
    contract differs between engines' defaults (Spark ASC = nulls first,
    DuckDB ASC = nulls last), so it must be spelled out to be portable."""
    o = load_table(spark, sf_dir, "orders")
    sparse = F.when(F.col("o_orderkey") % 4 == 0, F.col("o_totalprice"))
    w = Window.orderBy(sparse.asc_nulls_last(), "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            sparse.alias("sparse_price"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .filter(F.col("pos") <= 50)
    )


@query(
    "c_hash_funcs",
    oracle="""
SELECT p_partkey,
       md5(p_name) AS name_md5,
       sha256(p_name) AS name_sha256,
       md5(p_brand || '|' || p_type) AS composite_md5
FROM part""",
)
def c_hash_funcs(spark, sf_dir):
    """Cryptographic row hashing (md5 / sha-256, lowercase hex both engines)
    — content-addressed ids and cross-system row fingerprints."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2(F.col("p_name"), 256).alias("name_sha256"),
        F.md5(F.concat_ws("|", "p_brand", "p_type")).alias("composite_md5"),
    )


@query(
    "c_conditional_scalars",
    oracle="""
SELECT l_orderkey, l_linenumber,
       greatest(l_quantity, l_discount * 100, 10.0) AS g,
       least(l_quantity, l_tax * 100) AS l,
       nullif(l_returnflag, 'N') AS flag_or_null,
       coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS flag_fallback,
       CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_tag
FROM lineitem""",
)
def c_conditional_scalars(spark, sf_dir):
    """greatest/least/nullif/coalesce — the null-aware scalar conditionals
    (both engines skip NULLs in greatest/least rather than propagating)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100, F.lit(10.0)).alias("g"),
        F.least(F.col("l_quantity"), F.col("l_tax") * 100).alias("l"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.col("l_linestatus")).alias(
            "flag_fallback"
        ),
        F.when(F.col("l_quantity") > 25, "big").otherwise("small").alias("size_tag"),
    )


@query(
    "c_tpch_q3_shape",
    oracle="""
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey LIMIT 10""",
)
def c_tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 (shipping priority) adapted to the fixture schema: selective
    dim filter → fact join → revenue agg → global top-10. The mktsegment
    filter prunes customer before the join; both date predicates reach the
    scans (PushedFilters)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "c_tpch_q10_shape",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey LIMIT 20""",
)
def c_tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): quarter-windowed orders joined
    to returned lineitems, revenue per customer, top-20 — the classic
    fact-to-fact join where the date filter does the heavy pruning."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "c_tpch_q18_shape",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice""",
)
def c_tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): a grouped-HAVING semi-join
    pre-filter feeding the main join — the aggregate-then-semi-join shape
    where the IN-subquery must become a (re-usable) semi join, not a
    correlated probe."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "c_funnel",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s1) AS n_view,
       (SELECT COUNT(*) FROM s2) AS n_view_click,
       (SELECT COUNT(*) FROM s3) AS n_view_click_purchase""",
)
def c_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase, strictly
    increasing event times): each stage is a grouped min-timestamp joined
    to the previous stage with a range condition — per-stage shuffles are
    O(users who reached the stage), and each join's range predicate rides
    the user_id equi-join, so no stage ever pairs across users."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@query(
    "c_retention_cohort",
    oracle="""
WITH firstw AS (
  SELECT user_id,
         CAST(floor(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_w
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS act_w
  FROM events
)
SELECT f.cohort_w, a.act_w - f.cohort_w AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN firstw f ON a.user_id = f.user_id
GROUP BY f.cohort_w, a.act_w - f.cohort_w""",
)
def c_retention_cohort(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-activity week,
    counted per (cohort, week-offset) — the first-touch attribution window
    (reference R15) generalized to a retention triangle. Two grouped passes
    + one equi-join on user_id; the matrix itself is tiny (weeks²)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    week = lambda c: F.floor(F.unix_timestamp(c) / 604800).cast("bigint")
    firstw = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_w"))
    activity = ev.select("user_id", week(F.col("ts")).alias("act_w")).distinct()
    return (
        activity.join(firstw, "user_id")
        .groupBy("cohort_w", (F.col("act_w") - F.col("cohort_w")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "c_asof_tolerance",
    oracle="""
WITH dim AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(AVG(value), 6) AS price
  FROM events WHERE event_type = 'signup' GROUP BY 1
), m AS (
  SELECT e.event_id, CAST(e.ts AS DATE) AS e_day, MAX(d.date) AS price_date
  FROM events e LEFT JOIN dim d
    ON d.date <= CAST(e.ts AS DATE)
   AND d.date >= CAST(e.ts AS DATE) - INTERVAL 3 DAY
  GROUP BY e.event_id, CAST(e.ts AS DATE)
)
SELECT m.event_id, m.e_day, m.price_date, d.price
FROM m LEFT JOIN dim d ON d.date = m.price_date""",
)
def c_asof_tolerance(spark, sf_dir):
    """As-of join with bounded staleness (merge_asof tolerance): match the
    latest dim row at most 3 days old, NULL beyond — the point-in-time
    lookup that refuses stale data. The sparser 'signup' dim makes the
    tolerance bite (some probes have no fresh-enough price)."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.round(F.avg("value"), 6).alias("price"))
    )
    probe = ev.select("event_id", F.to_date("ts").alias("e_day"))
    joined = asof_join_broadcast_dim(
        probe, dim, probe_key="e_day", dim_key="date", tolerance_days=3
    )
    return joined.select(
        "event_id", "e_day", F.col("date").alias("price_date"), "price"
    )


@query(
    "c_interpolate_daily",
    oracle="""
WITH dim AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(AVG(value), 6) AS price
  FROM events WHERE event_type = 'purchase' AND user_id % 29 = 0 GROUP BY 1
), bounds AS (SELECT MIN(date) AS lo, MAX(date) AS hi FROM dim),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS date FROM bounds
), joined AS (
  SELECT s.date, d.price,
         last_value(d.price IGNORE NULLS) OVER wp AS prev_p,
         last_value(CASE WHEN d.price IS NOT NULL THEN s.date END IGNORE NULLS)
           OVER wp AS prev_d,
         first_value(d.price IGNORE NULLS) OVER wn AS next_p,
         first_value(CASE WHEN d.price IS NOT NULL THEN s.date END IGNORE NULLS)
           OVER wn AS next_d
  FROM spine s LEFT JOIN dim d ON s.date = d.date
  WINDOW wp AS (ORDER BY s.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (ORDER BY s.date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT date, price IS NOT NULL AS observed,
       ROUND(CASE WHEN price IS NOT NULL THEN price
                  WHEN next_d = prev_d THEN prev_p
                  ELSE prev_p + (next_p - prev_p)
                       * date_diff('day', prev_d, date) * 1.0
                       / date_diff('day', prev_d, next_d)
             END, 6) AS price_filled
FROM joined""",
)
def c_interpolate_daily(spark, sf_dir):
    """Time-series resample with linear gap interpolation: calendar spine
    (sequence+explode) left-joined to a sparse daily dim, missing days
    filled by LOCF forward + first-value backward windows and the linear
    weight between the bracketing observations. The spine/window relations
    are day-cardinality — tiny regardless of fact scale."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 29 == 0))
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.round(F.avg("value"), 6).alias("price"))
    )
    bounds = dim.agg(F.min("date").alias("lo"), F.max("date").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("date")
    )
    j = spine.join(dim, "date", "left")
    wp = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("date").rowsBetween(0, Window.unboundedFollowing)
    obs_date = F.when(F.col("price").isNotNull(), F.col("date"))
    j2 = j.select(
        "date",
        "price",
        F.last("price", ignorenulls=True).over(wp).alias("prev_p"),
        F.last(obs_date, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("price", ignorenulls=True).over(wn).alias("next_p"),
        F.first(obs_date, ignorenulls=True).over(wn).alias("next_d"),
    )
    frac = F.datediff("date", "prev_d") / F.datediff("next_d", "prev_d")
    return j2.select(
        "date",
        F.col("price").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("price").isNotNull(), F.col("price"))
            .when(F.col("next_d") == F.col("prev_d"), F.col("prev_p"))
            .otherwise(
                F.col("prev_p") + (F.col("next_p") - F.col("prev_p")) * frac
            ),
            6,
        ).alias("price_filled"),
    )


@query(
    "c_tpch_q7_shape",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)""",
)
def c_tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 (volume shipping): fact joined through two different
    dimension paths to the SAME dim table (nation aliased twice) with an
    inequality between the two arms — the self-referencing star shape."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            # round(4), not round(2): the product sum is exactly 4-decimal
            # in decimal arithmetic, so round(4) recovers it exactly on
            # both engines, while round(2) flips a cent whenever a group's
            # true sum lands on a half-cent and the two engines' summation
            # orders disagree at 1e-9 (seen at 758 groups)
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "c_tpch_q12_shape",
    oracle="""
SELECT o.o_orderpriority,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_count,
       CAST(SUM(CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS kept_count
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o.o_orderpriority""",
)
def c_tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 (shipmode priority): conditional-count aggregation after a
    year-windowed fact join — the CASE-pivot aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("returned_count"),
            F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
            .cast("bigint")
            .alias("kept_count"),
        )
    )


@query(
    "c_tpch_q14_shape",
    oracle="""
SELECT ROUND(
         100.0 * SUM(CASE WHEN p.p_type LIKE 'small%' THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0.0 END)
         / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_share
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'""",
)
def c_tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 (promotion effect): single-scalar conditional revenue
    share over a month window — the ratio-of-conditional-sums aggregate,
    with the part dim broadcast."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-06-01") & (F.col("l_shipdate") < "1997-07-01")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("small%"), rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_share")
        )
    )


@query(
    "c_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grouped AS (
  SELECT user_id, day,
         day - CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM days
)
SELECT user_id,
       CAST(MAX(streak) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM (
  SELECT user_id, grp, COUNT(*) AS streak
  FROM grouped GROUP BY user_id, grp
)
GROUP BY user_id""",
)
def c_activity_streaks(spark, sf_dir):
    """Longest consecutive-active-day streak per user — gaps-and-islands at
    daily granularity via the date-minus-dense_rank constant-group trick
    (consecutive days collapse to one group key). Distinct-days first, so
    the window runs over day-cardinality rows per user."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "grp", F.date_sub("day", F.dense_rank().over(w))
    )
    streaks = grouped.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("streak"))
    return streaks.groupBy("user_id").agg(
        F.max("streak").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@query(
    "c_asof_grouped",
    oracle="""
WITH dim AS (
  SELECT event_type, CAST(ts AS DATE) AS date, ROUND(AVG(value), 6) AS price
  FROM events WHERE user_id % 3 = 0 GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, CAST(e.ts AS DATE) AS e_day, d.price
FROM events e ASOF LEFT JOIN dim d
  ON e.event_type = d.event_type AND CAST(e.ts AS DATE) >= d.date""",
)
def c_asof_grouped(spark, sf_dir):
    """Keyed as-of join on the NON-broadcast path (operators/asof.py
    asof_join_grouped): per-event_type price history matched per key via
    cogrouped Arrow merge_asof — the shape for dims too big to broadcast.
    DuckDB's ASOF JOIN with an extra equality is the oracle."""
    from metrics_database_cron_script_spark.operators.asof import asof_join_grouped

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("user_id") % 3 == 0)
        .groupBy("event_type", F.to_date("ts").alias("date"))
        .agg(F.round(F.avg("value"), 6).alias("price"))
    )
    probe = ev.select("event_id", "event_type", F.to_date("ts").alias("e_day"))
    return asof_join_grouped(
        probe, dim, by="event_type", probe_key="e_day", dim_key="date"
    )


@query(
    "c_cumulative_distinct",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY first_day
), days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
)
SELECT d.day,
       CAST(COALESCE(p.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(p.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT) AS cumulative_users
FROM days d LEFT JOIN per_day p ON p.day = d.day""",
)
def c_cumulative_distinct(spark, sf_dir):
    """Cumulative distinct users per day (the audience-growth curve).
    COUNT(DISTINCT) over a running window is unsupported everywhere; the
    scalable rewrite marks each user's first day (one grouped min), counts
    firsts per day, and running-sums the day-cardinality series — the
    window never sees raw rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    w = Window.orderBy("day")
    return (
        days.join(per_day, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .withColumn("cumulative_users", F.sum("new_users").over(w).cast("bigint"))
        .withColumn("new_users", F.col("new_users").cast("bigint"))
    )


@query(
    "c_rolling_median",
    oracle="""
SELECT event_id, user_id,
       ROUND(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
FROM events""",
)
def c_rolling_median(spark, sf_dir):
    """Trailing 5-row median per user — the robust rolling statistic
    (median resists the outliers a rolling mean absorbs). Spark's
    ``median()`` refuses window frames but ``percentile(v, 0.5)`` is
    frame-capable with identical continuous interpolation; DuckDB's
    windowed ``median`` is the oracle."""
    v = _view(spark, sf_dir, "events", "__v_events_rollmed")
    return spark.sql(
        f"""SELECT event_id, user_id,
                   ROUND(percentile(value, 0.5) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
            FROM {v}"""
    )


@query(
    "c_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 2) AS volume
  FROM events GROUP BY 1
), scored AS (
  SELECT day, volume,
         AVG(volume) OVER w AS mu,
         stddev_samp(volume) OVER w AS sigma
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, volume,
       ROUND((volume - mu) / NULLIF(sigma, 0), 6) AS zscore,
       CASE WHEN abs((volume - mu) / NULLIF(sigma, 0)) > 2 THEN TRUE
            ELSE FALSE END AS is_anomaly
FROM scored WHERE mu IS NOT NULL AND sigma IS NOT NULL""",
)
def c_anomaly_zscore(spark, sf_dir):
    """Daily-volume anomaly flagging: z-score of each day against the
    TRAILING week's mean/std (frame ends at 1 PRECEDING so the scored day
    never contaminates its own baseline) — the alerting readout layered on
    the metrics series. Day-cardinality window, corpus-size agnostic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("volume")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    z = (F.col("volume") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
    return (
        daily.select(
            "day",
            "volume",
            F.avg("volume").over(w).alias("mu"),
            F.stddev_samp("volume").over(w).alias("sigma"),
        )
        .filter(F.col("mu").isNotNull() & F.col("sigma").isNotNull())
        .select(
            "day",
            "volume",
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > 2).alias("is_anomaly"),
        )
    )


@query(
    "c_chi_square",
    oracle="""
WITH obs AS (
  SELECT event_type, user_id % 4 AS ub, COUNT(*) AS o
  FROM events GROUP BY event_type, user_id % 4
), tot AS (SELECT SUM(o) AS n FROM obs),
rows_t AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type),
cols_t AS (SELECT ub, SUM(o) AS c FROM obs GROUP BY ub)
SELECT ROUND(SUM(pow(obs.o - (r.r * c.c * 1.0 / t.n), 2)
             / (r.r * c.c * 1.0 / t.n)), 6) AS chi2,
       CAST((COUNT(DISTINCT obs.event_type) - 1)
            * (COUNT(DISTINCT obs.ub) - 1) AS BIGINT) AS dof
FROM obs
JOIN rows_t r ON r.event_type = obs.event_type
JOIN cols_t c ON c.ub = obs.ub
CROSS JOIN tot t""",
)
def c_chi_square(spark, sf_dir):
    """Chi-square independence statistic over the (event_type × user-bucket)
    contingency table: observed vs expected = row·col/total — the
    categorical-association test, computed entirely from one grouped pass
    plus broadcast marginals."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("event_type", (F.col("user_id") % 4).alias("ub")).agg(
        F.count(F.lit(1)).alias("o")
    )
    tot = obs.agg(F.sum("o").alias("n"))
    rows_t = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_t = obs.groupBy("ub").agg(F.sum("o").alias("c"))
    exp = F.col("r") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "ub")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 6).alias("chi2"),
            (
                (F.countDistinct("event_type") - 1) * (F.countDistinct("ub") - 1)
            )
            .cast("bigint")
            .alias("dof"),
        )
    )


@query(
    "c_benford",
    oracle="""
WITH digits AS (
  SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice)))) AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0
)
SELECT d,
       COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS observed,
       ROUND(log10(1 + 1.0 / d), 6) AS benford_expected,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () - log10(1 + 1.0 / d), 6) AS deviation
FROM digits GROUP BY d""",
)
def c_benford(spark, sf_dir):
    """Benford's-law first-digit profile of order totals: observed digit
    shares vs log10(1 + 1/d) — the classic fabricated-data / unit-mixing
    screen on financial columns. One grouped pass; the digit table is nine
    rows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("bigint")
    from pyspark.sql import Window

    w = Window.partitionBy()
    share = F.count(F.lit(1)) / F.sum(F.count(F.lit(1))).over(w)
    return (
        o.groupBy(d.alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(share, 6).alias("observed"),
            F.round(F.log10(1 + 1.0 / F.col("d")), 6).alias("benford_expected"),
            F.round(share - F.log10(1 + 1.0 / F.col("d")), 6).alias("deviation"),
        )
    )


@query(
    "c_top_category_per_user",
    oracle="""
WITH cnt AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type AS favorite_type, c AS n_events
FROM cnt
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type) = 1""",
)
def c_top_category_per_user(spark, sf_dir):
    """Per-user modal category ('favorite event type'): count per (user,
    type), then the deterministic argmax (count desc, type asc). The window
    runs over the aggregated relation — users × types rows, not raw
    events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("user_id").orderBy(F.col("c").desc(), "event_type")
    return (
        cnt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("favorite_type"),
            F.col("c").alias("n_events"),
        )
    )


@query(
    "c_seasonality_profile",
    oracle="""
SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow_sun1,
       CAST(hour(ts) AS BIGINT) AS hod,
       COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
FROM events GROUP BY dayofweek(ts), hour(ts)""",
)
def c_seasonality_profile(spark, sf_dir):
    """Day-of-week × hour-of-day activity heatmap with global shares — the
    seasonality readout behind load forecasting and anomaly baselines.
    (Spark dayofweek is 1=Sunday, DuckDB 0=Sunday → +1 on the oracle.)"""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy()
    return ev.groupBy(
        F.dayofweek("ts").cast("bigint").alias("dow_sun1"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.count(F.lit(1)) / F.sum(F.count(F.lit(1))).over(w), 6).alias("share"),
    )


@query(
    "c_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS p_next
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type""",
)
def c_transition_matrix(spark, sf_dir):
    """First-order behavioral transition matrix: consecutive event-type
    bigrams per user (lag over event-time order) with row-normalized
    transition probabilities — the Markov-chain flow readout behind Sankey
    diagrams and next-action models."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    wp = Window.partitionBy("prev_type")
    return seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.count(F.lit(1)) / F.sum(F.count(F.lit(1))).over(wp), 6
        ).alias("p_next"),
    )


@query(
    "c_rfm_segmentation",
    oracle="""
WITH anchor AS (SELECT MAX(ts) AS now FROM events),
rfm AS (
  SELECT e.user_id,
         date_diff('day', MAX(e.ts), a.now) AS recency_days,
         COUNT(*) AS frequency,
         ROUND(SUM(e.value), 2) AS monetary
  FROM events e CROSS JOIN anchor a
  GROUP BY e.user_id, a.now
)
SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary,
       CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS BIGINT) AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_quartile
FROM rfm""",
)
def c_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: per-user recency (days since last event,
    anchored at the corpus max so the result is replayable), frequency,
    monetary, each quartiled with a deterministic user_id tie-break. The
    ntile windows run over the per-user aggregate — user-cardinality, not
    events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("now"))
    rfm = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "now")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
        .select(
            "user_id",
            F.datediff(F.to_date("now"), F.to_date("last_ts"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return (
        rfm.withColumn(
            "r_quartile",
            F.ntile(4)
            .over(Window.orderBy(F.col("recency_days").asc(), "user_id"))
            .cast("bigint"),
        )
        .withColumn(
            "f_quartile",
            F.ntile(4)
            .over(Window.orderBy(F.col("frequency").desc(), "user_id"))
            .cast("bigint"),
        )
        .withColumn(
            "m_quartile",
            F.ntile(4)
            .over(Window.orderBy(F.col("monetary").desc(), "user_id"))
            .cast("bigint"),
        )
    )


@query(
    "c_year_over_year",
    oracle="""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
)
SELECT yr, mo, revenue,
       ROUND(lag(revenue, 12) OVER (ORDER BY yr, mo), 2) AS revenue_prev_year,
       ROUND(100.0 * (revenue - lag(revenue, 12) OVER (ORDER BY yr, mo))
             / NULLIF(lag(revenue, 12) OVER (ORDER BY yr, mo), 0), 6) AS yoy_pct
FROM monthly""",
)
def c_year_over_year(spark, sf_dir):
    """Year-over-year monthly revenue comparison: lag(12) over the
    continuous month series (the fixture's orders span 1995-2001, so every
    month has a same-month-last-year partner after the first year) — the
    seasonal-growth readout. Month-cardinality window."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("yr", "mo")
    prev = F.lag("revenue", 12).over(w)
    return monthly.select(
        "yr",
        "mo",
        "revenue",
        F.round(prev, 2).alias("revenue_prev_year"),
        F.round(
            100.0 * (F.col("revenue") - prev) / F.nullif(prev, F.lit(0.0)), 6
        ).alias("yoy_pct"),
    )


@query(
    "c_concentration",
    oracle="""
WITH spend AS (
  SELECT user_id, SUM(value) AS s FROM events GROUP BY user_id
), ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, user_id) AS i, COUNT(*) OVER () AS n,
         SUM(s) OVER () AS total
  FROM spend
)
SELECT ROUND(2.0 * SUM(i * s) / (MAX(n) * MAX(total)) - (MAX(n) + 1.0) / MAX(n), 6) AS gini,
       ROUND(SUM(CASE WHEN i * 1.0 / n > 0.8 THEN s ELSE 0 END) / MAX(total), 6) AS top20_share
FROM ranked""",
)
def c_concentration(spark, sf_dir):
    """Concentration of user spend: Gini coefficient (rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending spend) and the Pareto
    top-20%-of-users revenue share — the whale-concentration readout for a
    staking/AUM domain. Windows run over the user-cardinality aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(F.sum("value").alias("s"))
    w = Window.orderBy("s", "user_id")
    wall = Window.partitionBy()
    ranked = spend.select(
        "s",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("s").over(wall).alias("total"),
    )
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("s")) / (F.max("n") * F.max("total"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
        F.round(
            F.sum(F.when(F.col("i") / F.col("n") > 0.8, F.col("s")).otherwise(0))
            / F.max("total"),
            6,
        ).alias("top20_share"),
    )


@query(
    "c_segment_overlap",
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
i AS (SELECT COUNT(*) AS ni FROM a JOIN b USING (user_id)),
ca AS (SELECT COUNT(*) AS na FROM a), cb AS (SELECT COUNT(*) AS nb FROM b)
SELECT na AS n_purchasers, nb AS n_signups, ni AS n_both,
       ROUND(ni * 1.0 / (na + nb - ni), 6) AS jaccard,
       ROUND(ni * 1.0 / LEAST(na, nb), 6) AS overlap_coef
FROM ca, cb, i""",
)
def c_segment_overlap(spark, sf_dir):
    """Set similarity between two behavioral segments (purchasers vs
    signups): Jaccard and the overlap coefficient over distinct user sets —
    the audience-overlap readout. Distinct-sets first, so the join runs on
    user-cardinality relations."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    na = a.agg(F.count(F.lit(1)).alias("n_purchasers"))
    nb = b.agg(F.count(F.lit(1)).alias("n_signups"))
    ni = a.join(b, "user_id").agg(F.count(F.lit(1)).alias("n_both"))
    return (
        na.crossJoin(nb)
        .crossJoin(ni)
        .select(
            "n_purchasers",
            "n_signups",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("n_purchasers") + F.col("n_signups") - F.col("n_both")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_both") / F.least("n_purchasers", "n_signups"), 6
            ).alias("overlap_coef"),
        )
    )


@query(
    "c_change_intervals",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), grp AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM seq
), intervals AS (
  SELECT user_id, event_type, g,
         MIN(ts) AS valid_from, MAX(ts) AS last_seen, COUNT(*) AS n_events
  FROM grp GROUP BY user_id, event_type, g
)
SELECT user_id, event_type, valid_from, last_seen, n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, g) AS valid_to
FROM intervals""",
)
def c_change_intervals(spark, sf_dir):
    """SCD2-style change compression: each user's event stream collapsed
    into validity intervals of consecutive same-type runs (change flag →
    running group id → per-run min/max/count → lead for the exclusive end)
    — the state-history form a dimension table stores instead of raw
    events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    grp = seq.withColumn(
        "g", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = grp.groupBy("user_id", "event_type", "g").agg(
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wi = Window.partitionBy("user_id").orderBy("valid_from", "g")
    return intervals.withColumn("valid_to", F.lead("valid_from").over(wi)).drop("g")


@query(
    "c_ewma",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 2) AS volume
  FROM events GROUP BY 1
), hist AS (
  SELECT day, volume,
         list(volume) OVER (ORDER BY day
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS vs
  FROM daily
)
SELECT day, volume,
       ROUND(list_sum(list_transform(vs, (v, i) -> v * pow(0.7, len(vs) - i)))
             / list_sum(list_transform(vs, (v, i) -> pow(0.7, len(vs) - i))), 6)
         AS ewma14
FROM hist""",
)
def c_ewma(spark, sf_dir):
    """Truncated (14-day) exponentially weighted moving average of daily
    volume: the trailing window is collected per row and the decay weights
    applied with an indexed lambda, normalized over the weights actually
    present (so the series start is unbiased). Day-cardinality window +
    vocabulary-free HOF — cheap despite the nested array."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("volume")
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    hist = daily.withColumn("vs", F.collect_list("volume").over(w))
    # Spark transform index i is 0-based; DuckDB's is 1-based — the weight
    # exponent len(vs) - i differs by one, cancelled by the normalizing
    # denominator using the same convention on each engine
    num = F.expr("aggregate(transform(vs, (v, i) -> v * pow(0.7, size(vs) - i)), 0D, (a, x) -> a + x)")
    den = F.expr("aggregate(transform(vs, (v, i) -> pow(0.7, size(vs) - i)), 0D, (a, x) -> a + x)")
    return hist.select(
        "day", "volume", F.round(num / den, 6).alias("ewma14")
    )


@query(
    "c_cohort_ltv",
    oracle="""
WITH firstw AS (
  SELECT user_id,
         CAST(floor(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_w
  FROM events GROUP BY user_id
), weekly AS (
  SELECT f.cohort_w,
         CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_w AS week_offset,
         ROUND(SUM(e.value), 2) AS revenue
  FROM events e JOIN firstw f ON e.user_id = f.user_id
  GROUP BY f.cohort_w, CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_w
)
SELECT cohort_w, week_offset, revenue,
       ROUND(SUM(revenue) OVER (PARTITION BY cohort_w ORDER BY week_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cumulative_revenue
FROM weekly""",
)
def c_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: revenue per (first-activity-week
    cohort, week offset) with the running cumulative — the LTV triangle
    that prices acquisition. Same first-touch spine as c_retention_cohort;
    the cumulative window runs over the weeks² matrix."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    week = lambda c: F.floor(F.unix_timestamp(c) / 604800).cast("bigint")
    firstw = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_w"))
    weekly = (
        ev.join(firstw, "user_id")
        .groupBy(
            "cohort_w", (week(F.col("ts")) - F.col("cohort_w")).alias("week_offset")
        )
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_w")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return weekly.withColumn(
        "cumulative_revenue", F.round(F.sum("revenue").over(w), 2)
    )


@query(
    "c_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, revenue,
         SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / SUM(revenue) OVER () AS cum_share
  FROM rev
)
SELECT l_partkey, revenue,
       ROUND(cum_share, 6) AS cum_share,
       CASE WHEN cum_share <= 0.8 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked""",
)
def c_abc_classification(spark, sf_dir):
    """ABC (Pareto) classification of parts by revenue: cumulative revenue
    share in descending order cuts the catalog into A (first 80%),
    B (to 95%), C (tail) — the ops-analytics prioritization readout. The
    windows run over the part-cardinality aggregate."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )
    wc = Window.orderBy(F.col("revenue").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    share = F.sum("revenue").over(wc) / F.sum("revenue").over(wall)
    return rev.select(
        "l_partkey",
        "revenue",
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


@query(
    "c_mad",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS m FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(MAX(med.m), 6) AS med,
       ROUND(median(abs(e.value - med.m)), 6) AS mad
FROM events e JOIN med ON med.event_type = e.event_type
GROUP BY e.event_type""",
)
def c_mad(spark, sf_dir):
    """Median absolute deviation per group — the robust dispersion measure
    (outlier-immune alternative to stddev): two grouped exact-median
    passes, the first broadcast back as the center."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("m"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("m"), 6).alias("med"),
            F.round(F.median(F.abs(F.col("value") - F.col("m"))), 6).alias("mad"),
        )
    )


@query(
    "c_changepoint_cusum",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, AVG(value) AS day_mean
  FROM events GROUP BY event_type, day
), dev AS (
  SELECT event_type, day,
         day_mean - AVG(day_mean) OVER (PARTITION BY event_type) AS d
  FROM daily
), cusum AS (
  SELECT event_type, day,
         SUM(d) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM dev
)
SELECT event_type, day AS changepoint_day, ROUND(abs(c), 6) AS max_abs_cusum
FROM cusum
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(c) DESC, day) = 1""",
)
def c_changepoint_cusum(spark, sf_dir):
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of daily means from the series mean peaks — the
    classic offline mean-shift locator. Three window passes all share one
    partitionBy(event_type) exchange (the second and third add only a
    sort); the fact-sized work is the single daily pre-aggregation, so the
    window chain runs over O(types × days) rows at any corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("day_mean"))
    wt = Window.partitionBy("event_type")
    dev = daily.withColumn("d", F.col("day_mean") - F.avg("day_mean").over(wt))
    cusum = dev.withColumn(
        "c", F.sum("d").over(wt.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
    )
    ranked = cusum.withColumn(
        "rn",
        F.row_number().over(wt.orderBy(F.abs(F.col("c")).desc(), "day")),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("changepoint_day"),
        F.round(F.abs(F.col("c")), 6).alias("max_abs_cusum"),
    )


@query(
    "c_sliding_distinct_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT day FROM du
)
SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
FROM days d
JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day ORDER BY d.day""",
)
def c_sliding_distinct_users(spark, sf_dir):
    """Trailing-7-day distinct users per day — the rolling-DAU/WAU metric.
    COUNT(DISTINCT) does not decompose over sliding windows (a user active
    on 3 of the 7 days must count once), so the shape is: dedup to
    (day, user) grains first — collapsing the fact table to its small
    grain — then a range join of the day spine (broadcast, day-cardinality)
    against the grain, and a distinct-count per spine day. Fact-sized work
    is the one dedup shuffle; the range join fans each grain row to ≤7
    spine days. The approximate alternative at extreme scale is per-day HLL
    sketches merged over the window."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = du.select(F.col("day").alias("spine_day")).distinct()
    return (
        du.join(
            F.broadcast(days),
            (F.col("day") <= F.col("spine_day"))
            & (F.col("day") >= F.col("spine_day") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy("spine_day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .select(F.col("spine_day").alias("day"), "users_7d")
        .orderBy("day")
    )


@query(
    "c_sequence_gaps",
    oracle="""
WITH ordered AS (
  SELECT event_id,
         lead(event_id) OVER (ORDER BY event_id) AS next_id
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id AS gap_after, next_id AS resumes_at,
       next_id - event_id - 1 AS n_missing
FROM ordered
WHERE next_id - event_id > 1""",
)
def c_sequence_gaps(spark, sf_dir):
    """Sequence-integrity audit: find holes in the event_id sequence via
    lead() over the id order — the data-quality check an idempotent append
    pipeline runs to prove nothing was dropped (the reference has no such
    audit; its per-row insert guard can lose rows invisibly on crash).
    Whole-table window over a SINGLE bigint column: the sort is on the
    narrowest possible projection, and at 100 TB the same audit runs
    per-partition (id ranges are partition-aligned) before a tiny
    cross-partition boundary check."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")  # a sparse id subsequence
        .select("event_id")
    )
    w = Window.orderBy("event_id")
    gaps = ev.select(
        "event_id", F.lead("event_id").over(w).alias("next_id")
    ).filter(F.col("next_id") - F.col("event_id") > 1)
    return gaps.select(
        F.col("event_id").alias("gap_after"),
        F.col("next_id").alias("resumes_at"),
        (F.col("next_id") - F.col("event_id") - 1).alias("n_missing"),
    )


# ----------------------------------------------------------- graph analytics

_PR_D = 0.85  # damping
_PR_ITERS = 3  # fixed unroll — deterministic, SQL-oracle-able


def _pagerank_oracle() -> str:
    """Chained-CTE oracle for the fixed-iteration PageRank below (DuckDB).
    Simplified PageRank: dangling mass is NOT redistributed (suppliers have
    no outgoing edges in the bipartite purchase graph) — both engines
    implement the identical recurrence, so the choice is a documented
    semantic, not an approximation error. Float discipline: both sides use
    the literal 0.15/0.85 doubles and the same left-associated
    rank * w / outw term (no algebraically-equal-but-FP-different
    refactorings), and the result is rounded to 6 dp — sums of ≤ thousands
    of ~1e-2 terms carry ≲1e-13 error, far inside the rounding grid."""
    d = _PR_D
    its = []
    for i in range(_PR_ITERS):
        prev = f"it{i}"
        its.append(f"""
it{i + 1} AS (
  SELECT n.node,
         CAST({1 - d!r} AS DOUBLE) / (SELECT cnt FROM nn)
         + CAST({d!r} AS DOUBLE) * COALESCE(SUM(p.rank * e.w / o.outw), 0.0) AS rank
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  LEFT JOIN outdeg o ON o.node = e.src
  GROUP BY n.node
)""")
    return f"""
WITH raw AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w FROM raw GROUP BY src, dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
outdeg AS (SELECT src AS node, SUM(w) AS outw FROM edges GROUP BY src),
it0 AS (SELECT node, 1.0 / (SELECT cnt FROM nn) AS rank FROM nodes),{",".join(its)}
SELECT node, ROUND(rank, 6) AS rank
FROM it{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20"""


@query("c_graph_pagerank", oracle=_pagerank_oracle())
def c_graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the bipartite customer→supplier purchase
    graph (edges = orders⋈lineitem, weight = purchase multiplicity) — the
    iterative-algorithm pattern as a STATIC unroll: 3 join+agg rounds, each
    one hash exchange on the node key, no driver-side loop state beyond the
    plan. At 100 TB the same unroll runs with the edges table
    hash-partitioned once on src (ReuseExchange shares it across rounds) and
    checkpointing every ~5 rounds to cut lineage; convergence-driven variants
    move the loop to the driver with the identical per-round plan.
    Simplified recurrence (dangling mass not redistributed) — documented,
    deterministic, matched exactly by the DuckDB oracle."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    raw = o.join(li, li["l_orderkey"] == o["o_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = raw.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("double").alias("w"))
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    # node count as a broadcast 1-row frame, NOT an eager .count(): query
    # functions are lazy plan constructors (plan-only consumers — hygiene
    # gate, docs — must not trigger a distributed job), and this is the
    # registry-wide pattern for in-plan scalars (x_tfidf's doc count etc.)
    nn = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("cnt")))
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("outw"))

    nodes_cnt = nodes.crossJoin(nn)
    ranks = nodes_cnt.select("node", "cnt", (F.lit(1.0) / F.col("cnt")).alias("rank"))
    # carry w and outw separately: the summed term must be the SAME
    # left-associated rank * w / outw the oracle computes — precomputing
    # share = w/outw is algebraically equal but FP-different
    contrib_edges = edges.join(outdeg, "src").select("src", "dst", "w", "outw")
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(contrib_edges, ranks["node"] == contrib_edges["src"])
            .groupBy("dst")
            .agg(
                F.sum(F.col("rank") * F.col("w") / F.col("outw")).alias("inflow")
            )
        )
        ranks = nodes_cnt.join(contrib, nodes_cnt["node"] == contrib["dst"], "left").select(
            "node",
            "cnt",
            (
                F.lit(1.0 - _PR_D) / F.col("cnt")
                + F.lit(_PR_D) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# ------------------------------------------------------- SCD2 / graph extras

# SCD2 gate fixtures: dimension history compressed from events BEFORE the
# last fixture day, change batch = each user's latest event ON that day.
_SCD2_CUTOFF = "2024-01-30 00:00:00"
_SCD2_NEXT = "2024-01-31 00:00:00"

_SCD2_DIM_CTES = f"""
seq AS (
  SELECT user_id, event_type AS state, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE ts < TIMESTAMP '{_SCD2_CUTOFF}'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), grp AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM seq
), runs AS (
  SELECT user_id, state, g, MIN(ts) AS valid_from
  FROM grp GROUP BY user_id, state, g
), dim AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           IS NULL AS is_current
  FROM runs
)"""


def _scd2_dim(ev):
    """SCD2 dimension snapshot from pre-cutoff events: each user's
    consecutive same-state runs become validity intervals (chg flag →
    running group id → per-run min ts → lead for the exclusive end); the
    open-ended run is the current row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.filter(
        F.col("ts") < F.lit(_SCD2_CUTOFF).cast("timestamp")
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
    ).withColumn(
        "chg",
        F.when(~F.lag("state").over(w).eqNullSafe(F.col("state")), 1).otherwise(0),
    )
    grp = seq.withColumn(
        "g", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = grp.groupBy("user_id", "state", "g").agg(
        F.min("ts").alias("valid_from")
    )
    wi = Window.partitionBy("user_id").orderBy("valid_from")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(wi))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("g")
    )


def _scd2_changes(ev):
    """Change batch: each user's LATEST cutoff-day event (row_number desc on
    (ts, event_id)) — the ≤1-row-per-key contract scd2_apply requires."""
    day = ev.filter(
        (F.col("ts") >= F.lit(_SCD2_CUTOFF).cast("timestamp"))
        & (F.col("ts") < F.lit(_SCD2_NEXT).cast("timestamp"))
    )
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        day.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("eff_ts"),
        )
    )


@query(
    "c_scd2_merge",
    oracle=f"""
WITH {_SCD2_DIM_CTES.strip()},
chg AS (
  SELECT user_id, event_type AS state, ts AS eff_ts
  FROM (SELECT user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts >= TIMESTAMP '{_SCD2_CUTOFF}'
          AND ts < TIMESTAMP '{_SCD2_NEXT}') t
  WHERE rn = 1
),
hist AS (
  SELECT user_id, state, valid_from, valid_to, is_current
  FROM dim WHERE NOT is_current
),
cur AS (SELECT user_id, state, valid_from FROM dim WHERE is_current)
SELECT * FROM hist
UNION ALL  -- current rows carried (no change, or a no-op change)
SELECT c.user_id, c.state, c.valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
       TRUE AS is_current
FROM cur c LEFT JOIN chg b USING (user_id)
WHERE b.user_id IS NULL OR b.state = c.state
UNION ALL  -- closed out by a real change
SELECT c.user_id, c.state, c.valid_from, b.eff_ts, FALSE
FROM cur c JOIN chg b USING (user_id) WHERE b.state <> c.state
UNION ALL  -- opened: changed keys and brand-new keys
SELECT b.user_id, b.state, b.eff_ts, CAST(NULL AS TIMESTAMP), TRUE
FROM chg b LEFT JOIN cur c USING (user_id)
WHERE c.user_id IS NULL OR b.state <> c.state""",
)
def c_scd2_merge(spark, sf_dir):
    """SCD Type-2 merge (operators/scd2.py): the warehouse keep-history
    upsert — the reference's replace_one upsert (R9, updatescript.py:131)
    upgraded to close-and-open validity intervals. History passes through
    untouched, the current slice full-outer-joins the day's change batch on
    the business key (one key shuffle; no broadcast hint — stats decide),
    and an array+explode emits 0–2 rows per key so changed keys produce
    both the closed-out old version and the new open one in a single
    pass."""
    from metrics_database_cron_script_spark.operators.scd2 import scd2_apply

    ev = load_table(spark, sf_dir, "events")
    return scd2_apply(
        _scd2_dim(ev), _scd2_changes(ev), keys=["user_id"], attrs=["state"]
    )


@query(
    "c_scd2_lookup",
    oracle=f"""
WITH {_SCD2_DIM_CTES.strip()},
probes AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase'
    AND ts >= TIMESTAMP '{_SCD2_CUTOFF}' AND ts < TIMESTAMP '{_SCD2_NEXT}'
)
SELECT p.event_id, p.user_id, p.ts, d.state, d.valid_from AS state_since
FROM probes p LEFT JOIN dim d
  ON d.user_id = p.user_id AND d.valid_from <= p.ts
QUALIFY row_number() OVER (PARTITION BY p.event_id
                           ORDER BY d.valid_from DESC) = 1""",
)
def c_scd2_lookup(spark, sf_dir):
    """Point-in-time dimension lookup against the SCD2 history: cutoff-day
    purchases resolve the state that was valid at their timestamp. Because
    validity intervals tile each user's timeline, 'the run with the
    greatest valid_from ≤ ts' IS the containing interval — so this rides
    the grouped as-of operator (co-group by user + pd.merge_asof per key,
    operators/asof.py), the scale path for per-entity dimension histories
    too big to broadcast. Users with no pre-cutoff history resolve NULL."""
    from metrics_database_cron_script_spark.operators.asof import (
        asof_join_grouped,
    )

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") >= F.lit(_SCD2_CUTOFF).cast("timestamp"))
        & (F.col("ts") < F.lit(_SCD2_NEXT).cast("timestamp"))
    ).select("event_id", "user_id", "ts")
    dim = _scd2_dim(ev).select(
        "user_id", "valid_from", "state", F.col("valid_from").alias("state_since")
    )
    return asof_join_grouped(
        probes,
        dim,
        by="user_id",
        probe_key="ts",
        dim_key="valid_from",
        value_cols=["state", "state_since"],
    )


@query(
    "c_graph_triangles",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT (SELECT COUNT(DISTINCT u)
        FROM (SELECT u FROM pairs UNION ALL SELECT v FROM pairs) t(u))
         AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM pairs e1
          JOIN pairs e2 ON e2.u = e1.v
          JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""",
)
def c_graph_triangles(spark, sf_dir):
    """Triangle census of the part co-purchase graph (parts sharing an
    order). The standard distributed shape: orient every edge low-id →
    high-id and dedup (kills both duplicate counting and 2-cycles), build
    wedges with one equi-join (e2.u = e1.v ⇒ u < v < w strictly ordered,
    so each triangle is generated exactly once), close them against the
    edge set with a second equi-join. All three passes are shuffle
    hash/merge joins on edge endpoints — no cartesian, no broadcast of
    anything fact-sized; Catalyst reuses the deduped pair exchange across
    the three consumers. Wedge skew (hot parts) is AQE-split territory at
    scale, same as the sfxl evidence run."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    n_nodes = (
        pairs.select(F.col("u").alias("n"))
        .union(pairs.select(F.col("v").alias("n")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    n_triangles = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return n_nodes.crossJoin(n_edges).crossJoin(n_triangles)


@query("c_hll_daily_merge")
def c_hll_daily_merge(spark, sf_dir):
    """Mergeable distinct-count sketches — the pre-aggregation pattern that
    makes distinct counting O(1) per query at 100 TB: one DataSketches HLL
    sketch per day (`hll_sketch_agg`, partial-aggregated map-side like any
    agg), then any date range's distinct count is a cheap `hll_union_agg`
    over day-cardinality sketches instead of a rescan. Emits the unioned
    estimate beside the direct single-pass estimate — identical by
    construction (test_sketches.py pins union == direct, and both within
    HLL error of exact). Rows-only: sketch internals are engine-private
    (same reason as c_approx_count_distinct)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.hll_sketch_estimate(F.hll_union_agg("sk")), 1).alias(
            "est_union"
        ),
    )
    direct = ev.agg(
        F.round(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")), 1).alias(
            "est_direct"
        )
    )
    return merged.crossJoin(direct)


@query(
    "c_histogram_quantile_merge",
    oracle="""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM ev),
binned AS (
  SELECT day,
         LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 256)) AS INT), 255)
           AS bin,
         lo, hi
  FROM ev CROSS JOIN b
),
daily AS (SELECT day, bin, lo, hi, COUNT(*) AS c FROM binned
          GROUP BY day, bin, lo, hi),
merged AS (SELECT bin, lo, hi, SUM(c) AS c FROM daily GROUP BY bin, lo, hi),
direct AS (SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin),
cum AS (SELECT bin, lo, hi, c, SUM(c) OVER (ORDER BY bin) AS cum,
               SUM(c) OVER () AS total
        FROM merged),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5),(0.9),(0.99)) t(q)),
pick AS (SELECT q, MIN(bin) AS bin
         FROM cum CROSS JOIN qs WHERE cum >= q * total GROUP BY q),
est AS (SELECT p.q,
               ROUND(c2.lo + (c2.hi - c2.lo) / 256 *
                     (c2.bin + (p.q * c2.total - (c2.cum - c2.c)) / c2.c),
                     6) AS est
        FROM pick p JOIN cum c2 ON c2.bin = p.bin),
eq AS (SELECT BOOL_AND(m.c = d.c) AS merged_eq_direct
       FROM merged m JOIN direct d ON m.bin = d.bin)
SELECT q, est, merged_eq_direct FROM est CROSS JOIN eq""",
)
def c_histogram_quantile_merge(spark, sf_dir):
    """Mergeable QUANTILE rollup — the percentile analog of
    `c_hll_daily_merge`'s pre-aggregation pattern: one fixed-width
    256-bin histogram per day (bin counts are the sketch state), any date
    range's percentile then comes from vector-ADDING day histograms and
    interpolating within the covering bin — O(days*256) rows merged
    instead of a 100 TB re-scan, and unlike HLL/KLL internals the merge
    is exact integer addition, so the whole estimator is deterministic
    and fully SQL-oracled. Emits p50/p90/p99 from the merged rollup plus
    a pinned merged==direct equality bit (vector addition commutes with
    the global histogram by construction). The global 256-row cumulative
    window and the 1-row bounds/equality cross joins are
    bounded-cardinality by construction. Assumes hi > lo (non-constant
    values); a production build would epsilon-guard the width."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    nb = 256
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(nb)
    binned = ev.crossJoin(bounds).select(
        "day",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
            F.lit(nb - 1),
        ).alias("bin"),
        "lo",
        "hi",
    )
    daily = binned.groupBy("day", "bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("c")
    )  # the mergeable per-day sketch state
    merged = daily.groupBy("bin", "lo", "hi").agg(F.sum("c").alias("c"))
    direct = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cum = merged.select(
        "bin", "lo", "hi", "c",
        F.sum("c").over(Window.orderBy("bin")).alias("cum"),
        F.sum("c").over(Window.partitionBy(F.lit(1))).alias("total"),
    )
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    pick = (
        cum.crossJoin(qs)
        .filter(F.col("cum") >= F.col("q") * F.col("total"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    est = pick.join(cum, "bin").select(
        "q",
        F.round(
            F.col("lo")
            + (F.col("hi") - F.col("lo"))
            / F.lit(nb)
            * (
                F.col("bin")
                + (F.col("q") * F.col("total") - (F.col("cum") - F.col("c")))
                / F.col("c")
            ),
            6,
        ).alias("est"),
    )
    eqv = (
        merged.select("bin", F.col("c").alias("mc"))
        .join(direct, "bin")
        .agg(F.bool_and(F.col("mc") == F.col("c")).alias("merged_eq_direct"))
    )
    return est.crossJoin(eqv)


@query(
    "c_expectations_audit",
    oracle="""
SELECT event_id,
       concat_ws(',',
         CASE WHEN value < 0.5 THEN 'value_min' END,
         CASE WHEN value > 450.0 THEN 'value_cap' END,
         CASE WHEN event_type = 'error' THEN 'no_error_type' END
       ) AS violated
FROM events
WHERE value < 0.5 OR value > 450.0 OR event_type = 'error'""",
)
def c_expectations_audit(spark, sf_dir):
    """Declarative expectations (operators/expectations.py `validate`):
    three rules evaluated in ONE pass over events, failing rows routed to
    quarantine with the violated-rule list attached (DLT-expectations
    shape; per-rule counts additionally ride the caller's action as
    df.observe metrics — asserted job-free in tests/test_expectations.py).
    The readout is the quarantine side — event_id plus the comma-joined
    rule names — which checks the routing AND the per-row rule evaluation
    against plain SQL."""
    from metrics_database_cron_script_spark.operators.expectations import validate

    ev = load_table(spark, sf_dir, "events")
    v = validate(
        ev,
        {
            "value_min": F.col("value") >= 0.5,
            "value_cap": F.col("value") <= 450.0,
            "no_error_type": F.col("event_type") != "error",
        },
    )
    return v.quarantined.select(
        "event_id", F.array_join("violated", ",").alias("violated")
    )


@query(
    "c_table_diff",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
), v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0
              THEN ROUND(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, 1.0, 'N'
  FROM orders WHERE o_orderkey % 103 = 0
)
SELECT status, COUNT(*) AS n FROM (
  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
              THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM base a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
) GROUP BY status""",
)
def c_table_diff(spark, sf_dir):
    """Keyed reconciliation (operators/reconcile.py `table_diff_summary`):
    orders diffed against a deterministically perturbed copy (every
    97th key's price bumped, every 101st key dropped, every 103rd key
    re-added under a shifted id) — added/removed/changed/unchanged counts
    from ONE full-outer key join over JSON-fingerprinted rows. The oracle
    recomputes the same statuses with per-column IS DISTINCT FROM — the
    fingerprint is exact, so the two formulations must agree count for
    count."""
    from metrics_database_cron_script_spark.operators.reconcile import (
        table_diff_summary,
    )

    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    kept = base.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    added = base.filter(F.col("o_orderkey") % 103 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    v2 = kept.unionByName(added)
    return table_diff_summary(base, v2, "o_orderkey")
