"""Round-8: incremental IMAGE dedup state (round-7 verdict item 3) — the
multimodal twin of the text verified-star refresh. Pins the equivalences:

1. phash_star_state edges, thresholded, give the same components the
   shared full-recompute oracle defines (checked via x_phash_components_
   star's registered oracle at sf0.001).
2. refresh_phash_star_edges(state(corpus), batch) EXACTLY equals the full
   state build over corpus ∪ batch — for a monotone batch (append
   contract) AND an interleaved split that displaces bucket hubs.
3. Re-ingesting already-indexed docs in the batch changes nothing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.functions import multimodal as M
from metrics_database_cron_script_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def hashes(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    return M.ahash_from_blobs(M.synthetic_bmp_blobs(docs)).localCheckpoint(
        eager=True
    )


def _edge_set(df):
    return {
        (r["chunk_id"], r["chunk"], r["doc_a"], r["doc_b"], r["hamming"])
        for r in df.collect()
    }


def _comp_set(df):
    return {(r["doc_id"], r["component"]) for r in df.collect()}


@pytest.mark.parametrize("split_mod", [2, 10])
def test_refresh_equals_full_state_build(spark, hashes, split_mod):
    """Interleaved splits: the batch (doc_id % mod == 0) holds ids SMALLER
    than many stored hubs, so hub displacement is exercised, not assumed
    away."""
    corpus_h = hashes.filter(F.pmod("doc_id", F.lit(split_mod)) != 0)
    batch_h = hashes.filter(F.pmod("doc_id", F.lit(split_mod)) == 0)
    chunks, store, edges = (
        df.localCheckpoint(eager=True)
        for df in M.phash_star_state(corpus_h)
    )
    refreshed = M.refresh_phash_star_edges(chunks, store, edges, batch_h)
    full_edges = M.phash_star_state(hashes)[2]
    assert _edge_set(refreshed) == _edge_set(full_edges)


def test_refresh_components_equal_full_components(spark, hashes):
    from metrics_database_cron_script_spark.functions.dedup import (
        connected_components,
    )

    corpus_h = hashes.filter(F.pmod("doc_id", F.lit(10)) != 0)
    batch_h = hashes.filter(F.pmod("doc_id", F.lit(10)) == 0)
    chunks, store, edges = (
        df.localCheckpoint(eager=True)
        for df in M.phash_star_state(corpus_h)
    )
    refreshed = M.refresh_phash_star_edges(chunks, store, edges, batch_h)

    def comps(e):
        good = e.filter(F.col("hamming") <= 6).select("doc_a", "doc_b").distinct()
        return connected_components(good)

    assert _comp_set(comps(refreshed)) == _comp_set(
        comps(M.phash_star_state(hashes)[2])
    )


def test_reingested_batch_docs_are_noop(spark, hashes):
    """A batch containing ALREADY-INDEXED docs must leave the edge state
    identical to the full build (no doubled edges, no hub churn)."""
    chunks, store, edges = (
        df.localCheckpoint(eager=True) for df in M.phash_star_state(hashes)
    )
    reingest = hashes.filter(F.pmod("doc_id", F.lit(7)) == 0)
    refreshed = M.refresh_phash_star_edges(chunks, store, edges, reingest)
    assert _edge_set(refreshed) == _edge_set(edges)


def test_refresh_delta_parts_reconstruct_snapshot(spark, hashes):
    """The base+delta write contract P7 relies on: on a monotone batch
    the refresh reports displaced_empty=True and old edges ∪ the
    `new_scored` delta EXACTLY equals the refreshed edge set; a
    hub-displacing split reports displaced_empty=False (the writer then
    falls back to the full rewrite)."""
    n_max = hashes.agg(F.max("doc_id")).collect()[0][0]
    is_batch = F.col("doc_id") > n_max * 0.9
    chunks, store, edges = (
        df.localCheckpoint(eager=True)
        for df in M.phash_star_state(hashes.filter(~is_batch))
    )
    parts: dict = {}
    refreshed = M.refresh_phash_star_edges(
        chunks, store, edges, hashes.filter(is_batch), _parts=parts
    )
    assert parts["displaced_empty"] is True
    assert parts["new_scored"].count() > 0
    view = edges.unionByName(parts["new_scored"])
    assert _edge_set(view) == _edge_set(refreshed)

    is_batch_i = F.pmod("doc_id", F.lit(10)) == 0
    chunks_i, store_i, edges_i = (
        df.localCheckpoint(eager=True)
        for df in M.phash_star_state(hashes.filter(~is_batch_i))
    )
    parts_i: dict = {}
    M.refresh_phash_star_edges(
        chunks_i, store_i, edges_i, hashes.filter(is_batch_i), _parts=parts_i
    )
    assert parts_i["displaced_empty"] is False


def test_star_edges_are_linear_in_bucket_size(spark):
    """A degenerate bucket (every doc the same hash — the flat/banner
    image class) must emit |bucket| - 1 star edges per chunk, never the
    all-pairs quadratic."""
    n = 50
    rows = [(i, "0" * 64) for i in range(n)]
    hashes = spark.createDataFrame(rows, "doc_id long, phash string")
    edges = M.phash_star_state(hashes)[2]
    got = edges.groupBy("chunk_id").count().collect()
    assert {r["count"] for r in got} == {n - 1}
    # and every edge hangs off the hub (min doc_id)
    assert edges.filter(F.col("doc_a") != 0).count() == 0
    assert edges.filter(F.col("hamming") != 0).count() == 0


def test_p7_frontier_marker_recovers_partial_store_publish(spark, tmp_path):
    """Round 10: the derived max(doc_id) frontier was crash-unsafe — a
    store append dying mid-publish leaves SOME batch rows visible, so the
    derived max could land past rows that never published and the replay
    would silently skip them. With the explicit marker (committed after
    the store append), that exact crash must replay to the clean result;
    pre-marker state (no marker file) must still migrate and run."""
    import os
    import shutil

    from metrics_database_cron_script_spark.pipelines import update_image_dedup
    from metrics_database_cron_script_spark.sources.tables import load_table
    from metrics_database_cron_script_spark.state import idempotent_append

    docs = load_table(spark, SF, "documents")
    cut = int(docs.agg(F.max("doc_id")).collect()[0][0]) - 40

    day0 = str(tmp_path / "day0"); os.makedirs(day0)
    docs.filter(F.col("doc_id") <= cut).write.parquet(f"{day0}/documents.parquet")

    # the CLEAN two-run result to converge to
    clean = str(tmp_path / "clean"); os.makedirs(clean)
    update_image_dedup(spark, day0, clean)
    update_image_dedup(spark, SF, clean)
    want = {
        p: sorted(map(tuple, spark.read.parquet(f"{clean}/{p}.parquet").collect()))
        for p in ("phash_hashes", "phash_chunks", "phash_edges")
    }

    # crashed run: bootstrap, then simulate a PARTIAL store publish of the
    # next batch (a strict subset of batch hashes lands; marker untouched)
    crashed = str(tmp_path / "crashed"); os.makedirs(crashed)
    update_image_dedup(spark, day0, crashed)
    batch = docs.filter(F.col("doc_id") > cut)
    partial = M.ahash_from_blobs(
        M.synthetic_bmp_blobs(batch.filter(F.col("doc_id") % 2 == 0))
    )
    idempotent_append(partial, f"{crashed}/phash_hashes.parquet", key="doc_id")
    # under the OLD derived frontier, max(doc_id) now exceeds unpublished
    # odd batch ids — they would be skipped forever; the marker replays all
    rep = update_image_dedup(spark, SF, crashed)
    assert rep["batch_docs"] == batch.count()
    got = {
        p: sorted(map(tuple, spark.read.parquet(f"{crashed}/{p}.parquet").collect()))
        for p in ("phash_hashes", "phash_chunks", "phash_edges")
    }
    assert got == want

    # pre-marker migration: delete the marker; a fresh daily run derives
    # the frontier from the store once and proceeds (no-op here)
    shutil.rmtree(f"{crashed}/phash_frontier.parquet")
    rep2 = update_image_dedup(spark, SF, crashed)
    assert rep2["batch_docs"] == 0


def test_crash_replay_with_stale_postings_is_noop(spark, hashes):
    """The P7 commit order overwrites the EDGE state before appending the
    batch's chunk postings — a crash in that window replays the batch
    against REFRESHED edges but the PRE-batch chunk index. Pins the
    round-11 carry-forward's edge-level suppression: re-running the
    refresh with that inconsistent state must reproduce the refreshed
    edge set exactly (no duplicate rows, nothing lost)."""
    corpus_h = hashes.filter(F.pmod("doc_id", F.lit(7)) != 0)
    batch_h = hashes.filter(F.pmod("doc_id", F.lit(7)) == 0)
    chunks, store, edges = M.phash_star_state(corpus_h)
    # materialized like production (P7 reads the edge state from parquet)
    refreshed = M.refresh_phash_star_edges(
        chunks, store, edges, batch_h
    ).localCheckpoint(eager=True)
    # crash window: edges are the refreshed state, postings/store are stale
    replay = M.refresh_phash_star_edges(chunks, store, refreshed, batch_h)
    got = [
        (r["chunk_id"], r["chunk"], r["doc_a"], r["doc_b"], r["hamming"])
        for r in replay.collect()
    ]
    assert len(got) == len(set(got)), "duplicate edge rows on crash replay"
    assert set(got) == _edge_set(refreshed)
