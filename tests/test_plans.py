"""Physical-plan assertions: the optimizations the 100 TB story depends on
must be visible in `explain` output, not just hoped for (SURVEY.md §4.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_watermark_scan_pushes_filter_to_parquet(spark):
    from metrics_database_cron_script_spark.sources import events_since

    df = events_since(spark, SF_SMOKE, "2024-01-15 00:00:00")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(ts" in plan, plan


def test_tx_enrich_uses_broadcast_join(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["r_tx_enrich"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_hash_agg_pushes_shipdate_filter_and_prunes_columns(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    df = QUERIES["c_hash_agg"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan
    # column pruning: the scan schema must not include unused columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema, read_schema


def test_scan_project_prunes_columns(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_scan_project"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" not in read_schema and "l_shipdate" not in read_schema


def test_sort_limit_is_take_ordered(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_sort_limit"](spark, SF_SMOKE))
    # global sort+limit must plan as TakeOrderedAndProject (per-partition
    # top-k + tiny merge), not a full global Sort.
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_and_anti_joins_stay_semi_anti(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    assert "LeftSemi" in _plan(QUERIES["c_semi_join"](spark, SF_SMOKE))
    assert "LeftAnti" in _plan(QUERIES["c_anti_join"](spark, SF_SMOKE))


def test_whole_stage_codegen_covers_scalar_queries(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    # the `*(n)` prefix marks WholeStageCodegen spans in executedPlan output
    assert "*(1)" in _plan(QUERIES["c_math_funcs"](spark, SF_SMOKE))


def test_topk_windows_use_window_group_limit(spark):
    """Per-group top-k must ride Spark's WindowGroupLimit (partial top-k
    below the exchange) — the optimization that bounds shuffle to k rows
    per group per input partition; a regression to a full window sort would
    silently 10× the shuffle at scale."""
    from metrics_database_cron_script_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    for name in ("c_topk_per_group", "s_windowed_topk"):
        plan = (
            QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan, f"{name} lost WindowGroupLimit:\n{plan}"


def test_repetition_reads_corpus_once(spark):
    """x_repetition derives all three n-gram streams from ONE scan (a
    3-way union would triple corpus I/O)."""
    from metrics_database_cron_script_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    plan = (
        QUERIES["x_repetition"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1


def test_tpch_q6_pushes_all_range_predicates(spark):
    """Q6 exists to prove conjunctive range predicates reach the scan."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_tpch_q6_shape"](spark, SF_SMOKE))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed and "l_quantity" in pushed and "l_discount" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_tax" not in read_schema


def test_tpch_q19_derives_disjunctive_pushdown(spark):
    """The OR-of-ANDs join predicate must yield pushed filters on BOTH
    scans (Catalyst extracts per-side disjunctions), not a post-join
    filter over unpruned inputs."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_tpch_q19_shape"](spark, SF_SMOKE))
    scans = [seg[:300] for seg in plan.split("PushedFilters")[1:]]
    assert any("l_quantity" in s and "Or(" in s for s in scans), plan
    assert any("p_brand" in s and "Or(" in s for s in scans), plan


def test_tpch_q1_single_agg_exchange(spark):
    """Q1: one hash exchange (partial→final agg) + one range (order by) —
    anything more means the wide agg stopped being a single pass."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_tpch_q1_shape"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan


def test_tpch_q21_decorrelation_shuffle_budget(spark):
    """The Q21 window rewrite must keep the shuffle budget: ≤3 hash
    exchanges (per-supp agg, window repartition, final count) and a SINGLE
    lineitem scan — the window branch and the join-back branch share one
    exchange (ReusedExchange), so the fact is read and shuffled once; the
    correlated original would add fact-sized self-join probes."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_tpch_q21_shape"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert plan.count("lineitem.parquet") == 1, plan
    assert "ReusedExchange" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q13_join_keeps_outer_with_on_predicate(spark):
    """Q13's priority filter lives in the LEFT JOIN's ON clause; the plan
    must keep LeftOuter (a WHERE rewrite would drop zero-order customers)."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_tpch_q13_shape"](spark, SF_SMOKE))
    assert "LeftOuter" in plan, plan


def test_topk_per_group_keeps_partial_window_group_limit(spark):
    """The rank-limit window must carry Catalyst's two-phase WindowGroupLimit
    (Partial BELOW the exchange): an explicit pre-repartition on the window
    key would silently replace the ENSURE_REQUIREMENTS exchange and shuffle
    the whole fact (SCALE.md §2 top-k caveat)."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["c_topk_per_group"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan
    partial = plan.split("Exchange", 1)[-1]
    assert "WindowGroupLimit" in partial and "Partial" in partial, plan


def test_aum_routing_single_scan_no_join_no_window(spark):
    """First-touch state AND the batch payload ride ONE grouped pass over
    successful txs (round 9 fused the former agg+join — the batch rows are
    a conditional collect_list on the same aggregate): the plan must
    contain NO Window operator, NO join of any kind (the former shape's
    second events scan + user-cardinality broadcast are gone), exactly ONE
    events scan, and the conditional min/max partial aggregates below the
    exchange."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["r_aum_routing"](spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    # the argmin must stay CONDITIONAL (batch rows only) — an unconditional
    # min would silently treat pre-watermark history as first touches
    assert "partial_min(CASE WHEN" in plan, plan
    assert "partial_max(CASE WHEN" in plan, plan


def test_upsert_snapshot_partial_aggregates_below_exchange(spark):
    """Keep-latest is a decomposable argmax: the partial max must run BELOW
    the exchange (one winner per key per task crosses the wire) and no
    Window operator may appear. (Struct-max plans as SortAggregate — the
    partial/final split, not the agg flavor, is the scale property.)"""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["r_upsert_snapshot"](spark, SF_SMOKE))
    assert "Window" not in plan, plan
    below_exchange = plan.split("Exchange", 1)[-1]
    assert "partial_max(struct" in below_exchange, plan


def test_tfidf_scans_documents_once(spark):
    """The df-by-window formulation must not duplicate the tokenize/explode
    subtree: exactly one scan of documents.parquet in the executed plan."""
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["x_tfidf"](spark, SF_SMOKE))
    # the n_docs branch scans only doc_id (pruned); the token subtree scans
    # (doc_id, text). More than two FileScans of documents = regression.
    assert plan.count("documents.parquet") <= 2, plan
    text_scans = [
        seg for seg in plan.split("FileScan parquet")[1:] if "text" in seg.split("ReadSchema")[-1][:200]
    ]
    assert len(text_scans) == 1, plan


def test_rag_chunks_plan_is_shuffle_free(spark):
    from metrics_database_cron_script_spark.plans import QUERIES

    plan = _plan(QUERIES["x_rag_chunks"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def test_portable_near_dups_verify_on_8_byte_shingles(spark):
    """The verification joins of `minhash_near_dups_portable` (those with
    an input carrying `shingle`) key and ship the store's 8-byte image of
    the shingles, never the raw n-word strings."""
    from metrics_database_cron_script_spark.functions.dedup import (
        minhash_near_dups_portable,
    )
    from metrics_database_cron_script_spark.sources import load_table

    df = minhash_near_dups_portable(load_table(spark, SF_SMOKE, "documents"))
    plan = df._jdf.queryExecution().executedPlan()
    checked, stack = 0, [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        kids = _seq(node.children())
        stack += kids
        shipped = [
            a.dataType().simpleString()
            for k in kids
            for a in _seq(k.output())
            if a.name() == "shingle"
        ]
        if "Join" in node.nodeName() and shipped:
            keys = _seq(node.leftKeys()) + _seq(node.rightKeys())
            key_types = [e.dataType().simpleString() for e in keys]
            assert "string" not in shipped + key_types, node.toString()
            checked += 1
    assert checked == 2, plan.toString()


@pytest.mark.parametrize(
    "site",
    [
        "minhash_components_verified",
        "minhash_probe_index_portable",
        "run_streaming_neardup",
    ],
)
def test_portable_verification_sites_pass_8_byte_shingles(spark, monkeypatch, site):
    """Each portable caller of `verified_jaccard` hands it the store's
    8-byte image of the shingles (`shingle` bigint), never the raw n-word
    strings. The wrapper records the type and stops the call there; the
    stream drain is stubbed, only its verification step is under test."""
    from metrics_database_cron_script_spark.functions import dedup as D
    from metrics_database_cron_script_spark.sources import load_table
    from metrics_database_cron_script_spark.streaming import neardup as N

    class Seen(Exception):
        pass

    seen = []

    def spy(shingles, pairs):
        seen.append(shingles.schema["shingle"].dataType.simpleString())
        raise Seen

    monkeypatch.setattr(D, "verified_jaccard", spy)
    monkeypatch.setattr(N, "verified_jaccard", spy)
    monkeypatch.setattr(
        N,
        "run_streaming_neardup_on_dir",
        lambda spark, *a: spark.createDataFrame(
            [], "doc_a long, doc_b long, __n_batches long"
        ),
    )
    docs = load_table(spark, SF_SMOKE, "documents")
    odd = F.col("doc_id") % 2 == 1
    with pytest.raises(Seen):
        if site == "minhash_components_verified":
            D.minhash_components_verified(docs)
        elif site == "minhash_probe_index_portable":
            D.minhash_probe_index_portable(docs.filter(~odd), docs.filter(odd))
        else:
            N.run_streaming_neardup(spark, SF_SMOKE)
    assert seen == ["bigint"]
