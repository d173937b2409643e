"""Round-7 flagship: verified star components composed with the incremental
band-index refresh (round-6 verdict item 1). Pins the two equivalences the
design rests on:

1. `verified_star_state(docs)` edges, thresholded, give the SAME components
   as `minhash_components_verified(docs)` — bucket attribution and the
   0.0-score totalization change nothing semantically.
2. `minhash_components_verified_refresh(state(corpus), batch)` equals the
   full verified recompute over corpus ∪ batch — for a MONOTONE batch (the
   production append contract, O(batch) verification) AND for an
   interleaved batch that displaces bucket hubs (the correctness-over-
   assumptions case the score-reuse join must survive).
"""

from __future__ import annotations

import itertools
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.functions import dedup as D
from metrics_database_cron_script_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _comp_set(df):
    return {(r["doc_id"], r["component"]) for r in df.collect()}


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def test_state_edges_reproduce_verified_components(spark, docs):
    _bands, _store, edges = D.verified_star_state(docs)
    via_state = D.connected_components(
        edges.filter(F.col("jaccard") >= 0.8).select("doc_a", "doc_b").distinct()
    )
    direct = D.minhash_components_verified(docs, min_jaccard=0.8)
    assert _comp_set(via_state) == _comp_set(direct)


def test_state_edge_rows_match_band_index_postings(spark, docs):
    """Edge-state cardinality = postings − one hub row per bucket (the
    linear-growth invariant the docstring claims), and every score is the
    exact pair Jaccard (spot-checked via verified_jaccard)."""
    bands, store, edges = D.verified_star_state(docs)
    n_postings = bands.count()
    n_buckets = bands.select("band", "band_sig").distinct().count()
    assert edges.count() == n_postings - n_buckets
    sample = edges.select("doc_a", "doc_b").distinct().limit(20)
    expect = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.verified_jaccard(store, sample).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in edges.join(sample, ["doc_a", "doc_b"], "leftsemi")
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
        .collect()
    }
    for pair, j in got.items():
        assert expect.get(pair, 0.0) == j


@pytest.mark.parametrize(
    "split_col",
    [
        # monotone batch: new docs carry the largest ids (production append)
        lambda n_max: F.col("doc_id") > n_max * 0.9,
        # interleaved batch: hub displacement in existing buckets
        lambda n_max: F.pmod("doc_id", F.lit(10)) == 0,
    ],
    ids=["monotone_batch", "interleaved_batch"],
)
def test_refresh_equals_full_verified_recompute(spark, docs, split_col):
    n_max = docs.agg(F.max("doc_id")).collect()[0][0]
    is_batch = split_col(n_max)
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch)
    assert batch.count() > 0 and corpus.count() > 0
    bands, store, edges = D.verified_star_state(corpus)
    refreshed = D.minhash_components_verified_refresh(
        bands, store, edges, batch, min_jaccard=0.8
    )
    full = D.minhash_components_verified(docs, min_jaccard=0.8)
    assert _comp_set(refreshed) == _comp_set(full)


def test_refresh_edge_state_equals_full_build(spark, docs):
    """The refreshed EDGE STATE itself (not just the components) matches a
    full `verified_star_state` over corpus ∪ batch — the invariant that
    lets day N+1 refresh from day N's output forever without drift."""
    corpus = docs.filter(F.pmod("doc_id", F.lit(7)) != 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(7)) == 0)
    bands, store, edges = D.verified_star_state(corpus)
    refreshed = D.refresh_verified_star_edges(bands, store, edges, batch)
    _b, _s, full_edges = D.verified_star_state(docs)

    def rows(df):
        return {
            (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
            for r in df.collect()
        }

    assert rows(refreshed) == rows(full_edges)


def test_refresh_tolerates_reingested_batch_docs(spark, docs):
    """A batch containing already-indexed docs must not duplicate edge
    rows or change components (the distinct() membership guard)."""
    corpus = docs
    batch = docs.filter(F.pmod("doc_id", F.lit(13)) == 0)
    bands, store, edges = D.verified_star_state(corpus)
    refreshed = D.refresh_verified_star_edges(bands, store, edges, batch)
    base = {
        (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
        for r in edges.collect()
    }
    got = [
        (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
        for r in refreshed.collect()
    ]
    assert len(got) == len(set(got)), "duplicate edge rows after re-ingest"
    assert set(got) == base


def test_refresh_scores_reingested_hub_with_new_member(spark):
    """ADVICE r11 (medium): a mixed batch containing BOTH a re-ingested
    bucket hub and a genuinely new member of the same bucket. The new
    (hub, member) pair is verified against all_sh = store ∪ batch
    shingles, where the re-ingested hub's shingle rows appear TWICE —
    counted as a bag, the hub's size and the intersection both double
    and the pair's Jaccard inflates to 2i/(2sa+sb-2i) instead of
    i/(sa+sb-i). Pins exact edge-state equality with the full rebuild for
    this mixed case."""
    words = [f"tok{i}" for i in range(60)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])
    other = " ".join(f"zzz{i}" for i in range(60))
    docs_all = spark.createDataFrame(
        [(1, base), (50, other), (100, near)], ["doc_id", "text"]
    )
    corpus = docs_all.filter(F.col("doc_id") < 100)
    # doc 1 is the hub of every bucket it shares with doc 100 (1 < 100)
    # and is RE-INGESTED alongside the genuinely new member 100
    batch = docs_all.filter(F.col("doc_id").isin(1, 100))
    bands, store, edges = D.verified_star_state(corpus)
    refreshed = D.refresh_verified_star_edges(bands, store, edges, batch)
    _b, _s, full_edges = D.verified_star_state(docs_all)

    def rows(df):
        return {
            (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
            for r in df.collect()
        }

    got = rows(refreshed)
    assert any(r[2] == 1 and r[3] == 100 for r in got), (
        "fixture regression: docs 1 and 100 no longer share a bucket"
    )
    assert got == rows(full_edges)


def test_refresh_releases_store_slice_cache(spark, docs):
    """Round-11 verdict item 3 (persist leak): repeated daily refreshes
    in one session must not accumulate O(batch) cached frames. The only
    cached frames surviving the call are its three eager localCheckpoint
    leaves (nm, new_edges, new_scored), which are referenced by the
    returned plan and released with it."""
    corpus = docs.filter(F.pmod("doc_id", F.lit(7)) != 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(7)) == 0)
    bands, store, edges = D.verified_star_state(corpus)
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    refreshed = D.refresh_verified_star_edges(bands, store, edges, batch)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after - before <= 3, (
        f"refresh leaked cached frames: {after - before} new cached RDDs "
        "(expected only the 3 localCheckpoint leaves of the returned plan)"
    )
    refreshed.count()


@pytest.mark.parametrize(
    "split_col",
    [
        lambda n_max: F.col("doc_id") > n_max * 0.9,
        lambda n_max: F.pmod("doc_id", F.lit(10)) == 0,
    ],
    ids=["monotone_batch", "interleaved_batch"],
)
def test_fastpath_refresh_equals_full_fastpath_build(spark, docs, split_col):
    """The xxhash64 fast path (portable=False — 8-byte band sigs, long
    minhashes, no raw strings: the mode decade-scale runs use) upholds the
    same invariant: refreshed edge state ≡ full state build over
    corpus ∪ batch, and the mode is inferred from the persisted index."""
    n_max = docs.agg(F.max("doc_id")).collect()[0][0]
    is_batch = split_col(n_max)
    corpus, batch = docs.filter(~is_batch), docs.filter(is_batch)
    bands, store, edges = D.verified_star_state(corpus, portable=False)
    assert dict(bands.dtypes)["band_sig"] == "bigint"
    refreshed = D.refresh_verified_star_edges(bands, store, edges, batch)
    _b, _s, full_edges = D.verified_star_state(docs, portable=False)

    def rows(df):
        return {
            (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
            for r in df.collect()
        }

    assert rows(refreshed) == rows(full_edges)
    comps = D.connected_components(
        refreshed.filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
        .distinct()
    )
    full_comps = D.connected_components(
        full_edges.filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
        .distinct()
    )
    assert _comp_set(comps) == _comp_set(full_comps)


def test_fastpath_refresh_rejects_string_batch_shingles(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    bands, store, edges = D.verified_star_state(corpus, portable=False)
    with pytest.raises(ValueError, match="hashed batch"):
        D.refresh_verified_star_edges(
            bands, store, edges, batch,
            batch_shingles=D.word_shingles(batch, hashed=False),
        )


def test_refresh_rejects_mismatched_shingle_keyspace(spark, docs):
    # a portable (string band_sig) index with pre-hashed batch shingles is
    # now rejected at the BANDING stage (before the store keyspace check):
    # md5 signatures over hash values would band into a keyspace the index
    # never collides with, silently missing every cross-batch near-dup
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    bands, _store, edges = D.verified_star_state(corpus)
    raw_store = D.word_shingles(corpus, hashed=False)
    hashed_batch_sh = D.word_shingles(batch, hashed=True)
    with pytest.raises(ValueError, match="RAW batch shingles"):
        D.refresh_verified_star_edges(
            bands, raw_store, edges, batch, batch_shingles=hashed_batch_sh
        ).collect()


def test_portable_refresh_rejects_prehashed_batch_shingles(spark, docs):
    """The round-7 advice scenario verbatim: portable index + its OWN
    bigint shingle store + pre-hashed (bigint) batch shingles used to slip
    past the store keyspace check (bigint == bigint) and band the batch
    into a disjoint md5 keyspace — zero collisions, near-dups silently
    missed. The banding-stage guard must reject it."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    bands, store, edges = D.verified_star_state(corpus)  # store is bigint
    hashed_batch_sh = D.word_shingles(batch, hashed=True)  # also bigint
    with pytest.raises(ValueError, match="disjoint keyspace"):
        D.refresh_verified_star_edges(
            bands, store, edges, batch, batch_shingles=hashed_batch_sh
        )


def test_refresh_delta_parts_reconstruct_snapshot(spark, docs):
    """Round-12 base+delta state (VERDICT item 4): on a monotone batch the
    refresh exposes `_parts` with displaced_empty=True and an O(batch)
    `new_scored` delta such that old edges ∪ delta EXACTLY equals the full
    refreshed snapshot (the writer may then append the delta instead of
    rewriting O(state) rows). A hub-displacing batch must say
    displaced_empty=False — the writer falls back to the full rewrite."""
    n_max = docs.agg(F.max("doc_id")).collect()[0][0]
    corpus = docs.filter(F.col("doc_id") <= n_max * 0.9)
    batch = docs.filter(F.col("doc_id") > n_max * 0.9)
    bands, store, edges = D.verified_star_state(corpus)
    parts: dict = {}
    refreshed = D.refresh_verified_star_edges(
        bands, store, edges, batch, _parts=parts
    )
    assert parts["displaced_empty"] is True

    def rows(df):
        return {
            (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
            for r in df.collect()
        }

    view = edges.unionByName(parts["new_scored"])
    assert rows(view) == rows(refreshed)
    delta_rows = parts["new_scored"].count()
    assert 0 < delta_rows < edges.count()

    # interleaved (hub-displacing) split → the delta contract refuses
    corpus_i = docs.filter(F.pmod("doc_id", F.lit(10)) != 0)
    batch_i = docs.filter(F.pmod("doc_id", F.lit(10)) == 0)
    bands_i, store_i, edges_i = D.verified_star_state(corpus_i)
    parts_i: dict = {}
    D.refresh_verified_star_edges(
        bands_i, store_i, edges_i, batch_i, _parts=parts_i
    )
    assert parts_i["displaced_empty"] is False


def test_crash_replay_with_stale_postings_is_noop(spark, docs):
    """bench_daily_sfxl's replay (and any crash between the edge-state
    overwrite and the band-index append) re-runs the refresh with the
    REFRESHED edges but the PRE-batch band index. Pins the round-11
    carry-forward's edge-level suppression: the inconsistent-state replay
    must reproduce the refreshed edge set exactly — no duplicated
    (hub, member) rows, nothing lost."""
    corpus = docs.filter(F.pmod("doc_id", F.lit(7)) != 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(7)) == 0)
    bands, store, edges = D.verified_star_state(corpus)
    # materialize day N's output like production does (the state is
    # persisted parquet between runs — bench_daily_sfxl replays from
    # spark.read.parquet); composing two refreshes as ONE lazy plan is
    # outside the state contract
    refreshed = D.refresh_verified_star_edges(
        bands, store, edges, batch
    ).localCheckpoint(eager=True)
    replay = D.refresh_verified_star_edges(bands, store, refreshed, batch)

    def rows(df):
        return [
            (r["band"], r["band_sig"], r["doc_a"], r["doc_b"], r["jaccard"])
            for r in df.collect()
        ]

    got = rows(replay)
    assert len(got) == len(set(got)), "duplicate edge rows on crash replay"
    assert set(got) == set(rows(refreshed))


@pytest.fixture(scope="module")
def shingle_sets(spark, docs):
    sets: dict[int, set[int]] = {}
    for r in D.word_shingles(docs, hashed=True).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    return sets


def _set_jaccard(a: set, b: set) -> float:
    """Pure-Python set Jaccard rounded half-up to 6 places (Spark's round
    scales the double's decimal form, as Decimal(repr(x)) does)."""
    j = Decimal(repr(len(a & b) / len(a | b)))
    return float(j.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


@pytest.mark.parametrize(
    "reingest, shared",
    [(False, True), (True, True), (False, False)],
    ids=["set_jaccard", "duplicated_rows", "no_shared_shingle"],
)
def test_verified_jaccard_is_set_jaccard(spark, docs, shingle_sets, reingest, shared):
    """The single-pass kernel's contract on sampled pairs: each scores the
    pure-Python set Jaccard. `duplicated_rows` verifies against the store
    ∪ a re-ingested batch's shingles, where a third of the docs repeat
    every (doc_id, shingle) row — set semantics score them as the distinct
    store does. `no_shared_shingle` pairs are present with 0.0."""
    store = D.word_shingles(docs, hashed=True)
    if reingest:
        again = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
        store = store.unionByName(D.word_shingles(again, hashed=True))
    candidates = [
        (a, b)
        for a, b in itertools.combinations(sorted(shingle_sets), 2)
        if shingle_sets[a].isdisjoint(shingle_sets[b]) != shared
    ]
    pairs = random.Random(7).sample(candidates, 40)
    if reingest:
        assert any(a % 3 == 0 or b % 3 == 0 for a, b in pairs)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.verified_jaccard(
            store, spark.createDataFrame(pairs, "doc_a long, doc_b long")
        ).collect()
    }
    want = {(a, b): _set_jaccard(shingle_sets[a], shingle_sets[b]) for a, b in pairs}
    assert got == want
    assert any(0.0 < j < 1.0 for j in want.values()) == shared


def test_shingle_less_endpoint_is_unscored_and_refresh_scores_zero(
    spark, docs, shingle_sets
):
    """A pair whose endpoint has no shingle row is absent from the kernel's
    output; the refresh coalesces such a new edge to 0.0, keeping the edge
    state total. The refresh case drops a corpus hub's rows from the
    store: its new edges score 0.0, every other new edge is unchanged."""
    doc = min(shingle_sets)
    ghost = max(shingle_sets) + 1000
    pairs = spark.createDataFrame([(doc, ghost)], "doc_a long, doc_b long")
    store = D.word_shingles(docs, hashed=True)
    assert D.verified_jaccard(store, pairs).count() == 0

    n_max = docs.agg(F.max("doc_id")).collect()[0][0]
    corpus = docs.filter(F.col("doc_id") <= n_max * 0.9)
    batch = docs.filter(F.col("doc_id") > n_max * 0.9)
    bands, store, edges = D.verified_star_state(corpus)

    def new_scored(store_rows):
        parts: dict = {}
        D.refresh_verified_star_edges(bands, store_rows, edges, batch, _parts=parts)
        return {
            (r["band"], r["band_sig"], r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in parts["new_scored"].collect()
        }

    full = new_scored(store)
    # a corpus hub (the batch's own shingles stay in the refresh's store)
    hub = next(k[2] for k, j in sorted(full.items()) if j > 0.0 and k[2] <= n_max * 0.9)
    got = new_scored(store.filter(F.col("doc_id") != hub))
    assert got == {k: 0.0 if k[2] == hub else j for k, j in full.items()}


def test_refresh_verification_reads_store_once_by_broadcast(
    spark, docs, tmp_path, monkeypatch
):
    """Plan guard for the refresh's verification: the shingle store is
    scanned once, nothing is cached, and the scan is the streamed side of
    a broadcast hash join — the refresh's broadcast O(batch) pairs are the
    build, so no shuffle exchange sits on the store. The store is read
    back from parquet, as the daily job reads it."""
    n_max = docs.agg(F.max("doc_id")).collect()[0][0]
    corpus = docs.filter(F.col("doc_id") <= n_max * 0.9)
    batch = docs.filter(F.col("doc_id") > n_max * 0.9)
    bands, store, edges = D.verified_star_state(corpus, portable=False)
    path = str(tmp_path / "store")
    store.write.parquet(path)
    kernel, verified = D.verified_jaccard, []

    def spy(shingles, pairs):
        verified.append(kernel(shingles, pairs))
        return verified[-1]

    monkeypatch.setattr(D, "verified_jaccard", spy)
    D.refresh_verified_star_edges(bands, spark.read.parquet(path), edges, batch)
    assert len(verified) == 1

    def walk(node, above=()):
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.inputPlan()
        yield node, above
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i), (node, *above))

    def name(node):
        return node.getClass().getSimpleName()

    nodes = list(walk(verified[0]._jdf.queryExecution().executedPlan()))
    assert not [n for n, _ in nodes if name(n) == "InMemoryTableScanExec"]
    scans = [
        above
        for n, above in nodes
        if name(n) == "FileSourceScanExec" and path in n.toString()
    ]
    assert len(scans) == 1
    boundary = next(
        n for n in scans[0] if "Exchange" in name(n) or "Join" in name(n)
    )
    assert name(boundary) == "BroadcastHashJoinExec"
