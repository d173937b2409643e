"""Recall tests: the dedup/similarity operators must actually FIND planted
duplicates — not merely execute. Plants are deterministic edits of fixture
rows, so expected pairs are known a priori."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs_with_plants(spark):
    from metrics_database_cron_script_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    base = docs.filter(F.col("doc_id") == 7).first()
    words = base["text"].split(" ")
    near = " ".join(words[:-2] + ["zzqx", words[-1]])  # one word swapped
    plants = spark.createDataFrame(
        [
            (100007, base["text"], base["lang"], base["source"], base["n_chars"]),  # exact
            (100008, near, base["lang"], base["source"], len(near)),  # near
        ],
        docs.schema,
    )
    return docs.unionByName(plants)


def test_exact_dedup_removes_planted_copy(spark, docs_with_plants):
    from metrics_database_cron_script_spark.functions.dedup import exact_dedup

    kept = exact_dedup(docs_with_plants)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 7 in ids and 100007 not in ids  # lowest doc_id survives
    assert 100008 in ids  # near-dup is NOT exact — must survive


def test_minhash_finds_planted_near_dup(spark, docs_with_plants):
    from metrics_database_cron_script_spark.functions.dedup import minhash_near_dups

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_dups(docs_with_plants).collect()
    }
    assert (7, 100007) in pairs and pairs[(7, 100007)] == 1.0  # exact copy
    assert (7, 100008) in pairs and pairs[(7, 100008)] > 0.8  # near copy


def test_simhash_finds_planted_near_dup(spark, docs_with_plants):
    from metrics_database_cron_script_spark.functions.dedup import simhash_near_dups

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs_with_plants, max_hamming=8).collect()
    }
    assert pairs[(7, 100007)] == 0  # identical text → identical simhash
    assert (7, 100008) in pairs  # one-word edit → few bits differ


def test_brute_force_topk_ranks_planted_neighbor_first(spark):
    from metrics_database_cron_script_spark.functions.similarity import (
        brute_force_topk,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") == 3).first()
    tweaked = [v * 1.001 + 0.0005 for v in base["embedding"]]  # ~parallel vector
    corpus = emb.unionByName(
        spark.createDataFrame([(100003, tweaked, base["label"])], emb.schema)
    )
    queries = spark.createDataFrame(
        [(3, base["embedding"])], "q_id long, q_vec array<float>"
    )
    top = brute_force_topk(corpus, queries, k=3).collect()
    assert top[0]["vec_id"] == 100003 and top[0]["cos"] > 0.999


def test_lsh_topk_finds_planted_neighbor(spark):
    from metrics_database_cron_script_spark.functions.similarity import lsh_topk
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") == 3).first()
    tweaked = [v * 1.001 + 0.0005 for v in base["embedding"]]
    corpus = emb.unionByName(
        spark.createDataFrame([(100003, tweaked, base["label"])], emb.schema)
    )
    queries = spark.createDataFrame(
        [(3, base["embedding"])], "q_id long, q_vec array<float>"
    )
    # a near-parallel vector lands in the query's hyperplane bucket
    got = {r["vec_id"]: r["cos"] for r in lsh_topk(corpus, queries, k=3).collect()}
    assert 100003 in got and got[100003] > 0.999


def test_ivf_topk_finds_planted_neighbor(spark):
    from metrics_database_cron_script_spark.functions.similarity import ivf_topk
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") == 3).first()
    tweaked = [v * 1.001 + 0.0005 for v in base["embedding"]]
    corpus = emb.unionByName(
        spark.createDataFrame([(100003, tweaked, base["label"])], emb.schema)
    )
    queries = spark.createDataFrame(
        [(3, base["embedding"])], "q_id long, q_vec array<float>"
    )
    # a near-identical vector quantizes to the same k-means cell
    got = {r["vec_id"]: r["cos"] for r in ivf_topk(corpus, queries, k=3).collect()}
    assert 100003 in got and got[100003] > 0.999


def test_connected_components_transitive_chain(spark):
    from metrics_database_cron_script_spark.functions.dedup import (
        connected_components,
    )

    # two chains: 1-2-3-4 (via pairwise edges) and 10-11; singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    comps = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps[1] == comps[2] == comps[3] == comps[4] == 1
    assert comps[10] == comps[11] == 10
    assert comps[20] == comps[21] == 20


def test_dedup_clusters_collapse_planted_transitive_group(spark, docs_with_plants):
    from metrics_database_cron_script_spark.functions.dedup import dedup_clusters

    # plants: 100007 exact copy of 7, 100008 near copy → all one cluster
    out = {r["doc_id"]: (r["component"], r["is_representative"])
           for r in dedup_clusters(docs_with_plants, min_jaccard=0.5).collect()}
    assert out[7] == (7, True)
    assert out[100007][0] == 7 and not out[100007][1]
    assert out[100008][0] == 7 and not out[100008][1]


def test_ngram_jaccard_finds_planted_near_dup(spark, docs_with_plants):
    from metrics_database_cron_script_spark.functions.dedup import char_ngram_jaccard

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in char_ngram_jaccard(docs_with_plants).collect()
    }
    assert pairs[(7, 100007)] == 1.0  # exact copy → identical rare-gram sets
    assert (7, 100008) in pairs and pairs[(7, 100008)] > 0.8  # one-word edit


def test_sq_topk_recall_vs_exact(spark):
    """Int8 scalar quantization must agree with exact cosine on most of the
    top-5 (unit-norm-ish synthetic embeddings; quantization error shifts
    only near-ties)."""
    from metrics_database_cron_script_spark.functions.similarity import (
        brute_force_topk,
        sq_topk,
    )
    from metrics_database_cron_script_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {(r["q_id"], r["vec_id"]) for r in sq_topk(emb, q, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.6


def test_ngram_jaccard_sampling_consistent(spark, docs_with_plants):
    """Broder mod-p sampling: the exact-copy pair stays at 1.0 for every p,
    and the sampled pair set equals the exact (p=1) pair set on the planted
    fixtures (the estimator only jitters near the threshold)."""
    from metrics_database_cron_script_spark.functions.dedup import char_ngram_jaccard

    exact = {
        (r["doc_a"], r["doc_b"]) for r in
        char_ngram_jaccard(docs_with_plants, sample_mod=1).collect()
    }
    sampled = char_ngram_jaccard(docs_with_plants, sample_mod=8).collect()
    spairs = {(r["doc_a"], r["doc_b"]) for r in sampled}
    sj = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in sampled}
    assert sj[(7, 100007)] == 1.0
    assert (7, 100008) in spairs
    assert spairs == exact


def test_compression_ratio_orders_repetitive_below_diverse(spark):
    """zlib ratio must rank a degenerate repeated-token doc well below a
    diverse-vocabulary doc, and empty text maps to NULL."""
    from metrics_database_cron_script_spark.functions.udfs import compression_ratio_udf
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "spam " * 200),
            (2, " ".join(f"w{i}x{i * 7 % 93}" for i in range(200))),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["zr"]
        for r in docs.select(
            "doc_id", compression_ratio_udf()(F.col("text")).alias("zr")
        ).collect()
    }
    assert rows[3] is None
    assert rows[1] < rows[2] * 0.5


def test_centroid_outliers_find_planted_vector(spark):
    """A vector pointed away from the shared direction of an otherwise
    homogeneous corpus must surface as the top centroid outlier."""
    import random

    from metrics_database_cron_script_spark.functions.similarity import (
        centroid_outliers,
    )

    rng = random.Random(7)
    dim = 16
    base = [1.0] * dim
    rows = []
    for i in range(50):
        rows.append((i, [b + rng.uniform(-0.1, 0.1) for b in base]))
    rows.append((999, [-1.0] * dim))  # planted anti-aligned outlier
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = centroid_outliers(emb, k=3).collect()
    assert top[0]["vec_id"] == 999
    assert top[0]["cos_to_centroid"] < -0.9


def test_containment_finds_embedded_quote(spark, tmp_path):
    """A short doc quoted wholesale inside a long doc: low Jaccard (the
    long doc dominates the union) but containment 1.0 — x_containment_pairs
    must surface exactly that pair from a corpus of otherwise-distinct
    docs."""
    import pandas as pd

    from metrics_database_cron_script_spark.plans import QUERIES

    quote = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"w{i} w{i+1} common common" for i in range(0, 40, 2))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                quote,  # the short doc
                filler + " " + quote + " india juliet kilo lima mike november",
                "totally different words here nothing shared with others at all",
                "yet another unrelated document with its own vocabulary entirely",
            ],
            "lang": ["en"] * 4,
            "source": ["s0"] * 4,
            "n_chars": [len(quote), 100, 60, 60],
        }
    )
    path = tmp_path / "contain"
    path.mkdir()
    docs.to_parquet(str(path / "documents.parquet"), index=False)
    rows = {
        (int(r["doc_a"]), int(r["doc_b"])): float(r["containment"])
        for r in QUERIES["x_containment_pairs"](spark, str(path)).collect()
    }
    assert rows.get((1, 2)) == 1.0, rows
    assert all(a == 1 and b == 2 for (a, b) in rows), rows


def test_connected_components_chain_and_star(spark):
    """Label propagation must cross multi-hop chains (diameter > 1) and merge
    star clusters; singletons absent from edges stay out of the output."""
    from metrics_database_cron_script_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, star 10-(11,12,13), pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_id"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }


def test_shingle_components_cluster_planted_dups(spark, docs_with_plants):
    """The planted exact + near copies of doc 7 share 8-token shingles with
    it, so all three must land in one component labeled 7."""
    from metrics_database_cron_script_spark.functions.dedup import (
        connected_components,
        shingle_edges,
    )

    comp = connected_components(shingle_edges(docs_with_plants, n=8))
    mine = {r["doc_id"]: r["component"] for r in comp.collect()}
    assert mine.get(100007) == mine.get(100008) == mine.get(7) == 7


def test_ivf_arrow_scorer_matches_higher_order(spark):
    """arrow_pair_topk (the scale probe scorer, round-8) must reproduce the
    interpreted higher-order cosine path exactly — same HALF_UP 6-dp
    rounding, same self-pair exclusion, same ranking."""
    from metrics_database_cron_script_spark.functions.similarity import ivf_topk
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    a = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in ivf_topk(emb, queries, k=5, arrow=False).collect()
    }
    b = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in ivf_topk(emb, queries, k=5, arrow=True).collect()
    }
    assert a == b and len(a) > 0


def test_arrow_pair_topk_drops_zero_norm_and_self_pairs(spark):
    from metrics_database_cron_script_spark.functions.similarity import (
        arrow_pair_topk,
    )

    pairs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 2, [1.0, 1.0]),
            (1, [1.0, 0.0], 1, [1.0, 0.0]),   # self pair
            (1, [1.0, 0.0], 3, [0.0, 0.0]),   # zero-norm corpus row
            (2, [0.0, 0.0], 4, [1.0, 0.0]),   # zero-norm query
        ],
        "q_id long, q_vec array<float>, vec_id long, embedding array<float>",
    )
    got = {(r["q_id"], r["vec_id"]): r["cos"] for r in arrow_pair_topk(pairs, k=5).collect()}
    assert got == {(1, 2): 0.707107}


def test_ivf_topk_matmul_matches_pair_probe(spark):
    """The REGISTERED IVF query's shape (ivf_topk_matmul — per-cell BLAS
    matmul probe, round-9) must reproduce the SQL-transparent pair-join
    probe (ivf_topk) exactly at fixture scale: same quantizer (shared
    ivf_fit, fixed seed) ⇒ same probed cells ⇒ same candidates ⇒ same
    top-k with identical HALF_UP 6-dp cosines. This is the equivalence
    gate that lets the registry deploy the 8×-faster probe
    (BENCH_ANN_SFXL.json) while the pair-join expression stays the
    documentation path."""
    from metrics_database_cron_script_spark.functions.similarity import (
        ivf_topk,
        ivf_topk_matmul,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    pair = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in ivf_topk(emb, queries, k=5, n_probe=2).collect()
    }
    matmul = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in ivf_topk_matmul(emb, queries, k=5, n_probe=2).collect()
    }
    assert matmul == pair and len(matmul) > 0


def test_ivf_index_write_probe_prunes_partitions_and_matches(spark, tmp_path):
    """Round 9: the persisted cell-partitioned IVF index (ivf_index_write
    → ivf_index_probe, the query-serving path) must (a) return exactly
    the fused fit+probe's results (same seed ⇒ same quantizer ⇒ same
    top-k), (b) lay out ONE file per cell (the 65k-tiny-files discipline
    from BENCH_ANN_SFXL), and (c) resolve the probe's cell filter to
    STATIC PARTITION PRUNING — the scan's PartitionFilters must carry the
    cell predicate, so only probed cell directories are read."""
    import os

    from metrics_database_cron_script_spark.functions.similarity import (
        ivf_index_probe,
        ivf_index_write,
        ivf_topk_matmul,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx = str(tmp_path / "ivf-index")
    centers = ivf_index_write(emb, idx, n_cells=8, seed=42)
    assert len(centers) == 8
    cell_dirs = [d for d in os.listdir(idx) if d.startswith("cell=")]
    assert len(cell_dirs) == 8
    for d in cell_dirs:
        files = [f for f in os.listdir(os.path.join(idx, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)  # repartition("cell") discipline

    probe = ivf_index_probe(spark, idx, queries, k=5, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200], plan

    got = {(r["q_id"], r["vec_id"], r["cos"]) for r in probe.collect()}
    want = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in ivf_topk_matmul(emb, queries, k=5, n_cells=8, n_probe=2).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_probe_matmul_matches_pair_scorer(spark):
    """ivf_probe_matmul (the batched-query IVF scan, round-8) must produce
    exactly the pair-join scorer's results for the same probed cells —
    same HALF_UP 6-dp cosine, same self/zero-norm exclusion, same ranking
    — on an arbitrary (non-KMeans) cell assignment."""
    import numpy as np

    from metrics_database_cron_script_spark.functions.similarity import (
        arrow_pair_topk,
        ivf_probe_matmul,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned = emb.select(
        "vec_id", "embedding", (F.col("vec_id") % 7).cast("int").alias("cell")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((7, 64))

    n_probe = 2
    got = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in ivf_probe_matmul(
            assigned, queries, centers, k=5, n_probe=n_probe
        ).collect()
    }

    # reference: identical probe-cell routing, scored by the pair scorer
    q_pd = queries.toPandas()
    q_mat = np.asarray([np.asarray(v, float) for v in q_pd["q_vec"]])
    d2 = ((q_mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    order = np.argsort(d2, axis=1)[:, :n_probe]
    qc = [
        (int(q_pd["q_id"][i]), [float(x) for x in q_pd["q_vec"][i]], int(c))
        for i in range(len(q_pd))
        for c in order[i]
    ]
    q_cells = spark.createDataFrame(qc, "q_id long, q_vec array<float>, cell int")
    pairs = assigned.join(F.broadcast(q_cells), "cell").select(
        "q_id", "q_vec", "vec_id", "embedding"
    )
    want = {
        (r["q_id"], r["vec_id"], r["cos"])
        for r in arrow_pair_topk(pairs, k=5).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_fixed_centers_assignment_matches_numpy_and_oracles(spark):
    """Round 10: the fixed sha256-derived coarse quantizer must (a) assign
    cells exactly as an independent numpy argmin over the same literal
    centers (ties to lower index), and (b) make the registered
    x_embed_ivf_topk query value-match its DuckDB oracle — the full IVF
    pipeline replayed in SQL."""
    import numpy as np

    from metrics_database_cron_script_spark.functions.similarity import (
        ivf_assign_fixed,
        ivf_fixed_centers,
    )
    from metrics_database_cron_script_spark.oracle import check_query
    from metrics_database_cron_script_spark.sources import load_table

    centers = ivf_fixed_centers()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_fixed(emb, centers).collect()
    }
    rows = emb.collect()
    C = np.asarray(centers, dtype=np.float64)
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        d = ((v[None, :] - C) ** 2).sum(axis=1)
        assert got[r["vec_id"]] == int(np.argmin(d))  # argmin: first min wins

    res = check_query(spark, SF_SMOKE, "x_embed_ivf_topk")
    assert res["ok"], res


def test_ivf_fixed_recall_floor(spark):
    """The fixed quantizer trades recall for oracle-checkability — pin the
    floor so a regression to useless cells is caught: recall@5 vs oracled
    brute force must stay ≥ 0.5 at fixture scale with n_probe=2 of 16
    cells (test_ivf_trained_recall_not_below_fixed holds the trained
    quantizer to at least the fixed one's recall)."""
    from metrics_database_cron_script_spark.functions.similarity import (
        brute_force_topk,
        ivf_assign_fixed,
        ivf_fixed_centers,
        ivf_probe_matmul,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    centers = ivf_fixed_centers()
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_probe_matmul(
            ivf_assign_fixed(emb, centers), queries, centers, k=5
        ).collect()
    }
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_fit_centers_do_not_depend_on_partitioning(spark):
    """The driver-side fit sorts its sample by vec_id before seeding, so
    the same rows under a different partitioning give the same centers."""
    from metrics_database_cron_script_spark.functions.similarity import ivf_fit
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    _, a = ivf_fit(emb.repartition(1), n_cells=16, seed=42)
    _, b = ivf_fit(emb.repartition(7, "label"), n_cells=16, seed=42)
    assert a == b and len(a) == 16


def test_ivf_fit_with_few_distinct_points_returns_fewer_centers(spark):
    """Three distinct vectors, each repeated, cannot fill 16 cells: the
    fit returns one center per distinct vector and every copy lands in
    its vector's cell."""
    from metrics_database_cron_script_spark.functions.similarity import ivf_fit

    base = [[1.0, 0.0, 0.0], [0.0, 2.0, 0.0], [0.0, 0.0, -3.0]]
    corpus = spark.createDataFrame(
        [(i, base[i % 3]) for i in range(12)], "vec_id long, embedding array<float>"
    )
    assigned, centers = ivf_fit(corpus, n_cells=16, seed=7)
    assert sorted(centers) == sorted(base)
    cell_of = {}
    for r in assigned.collect():
        cell_of.setdefault(r["vec_id"] % 3, set()).add(r["cell"])
    assert all(len(c) == 1 for c in cell_of.values())
    assert len(set().union(*cell_of.values())) == 3


def test_ivf_index_cells_equal_the_expression_assigner(spark, tmp_path):
    """A bootstrapped index assigns cells with ivf_assign_fixed over its
    own sidecar centers, the assigner the daily append uses, so bootstrap
    and appended rows follow one rule."""
    import json

    from metrics_database_cron_script_spark.functions.similarity import (
        ivf_assign_fixed,
        ivf_index_write,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf-index")
    ivf_index_write(emb, idx, n_cells=16, seed=42)
    centers = json.load(open(f"{idx}/_ivf_centers.json"))["centers"]
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(idx).select("vec_id", "cell").collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"])
        for r in ivf_assign_fixed(emb, centers).select("vec_id", "cell").collect()
    )
    assert got == want and len(got) == emb.count()


def test_ivf_trained_recall_not_below_fixed(spark):
    """The trained quantizer must earn its fit: recall@5 against exact
    brute force, every 5th vector a query, n_probe=2 of 16 cells, is at
    least the fixed sha256 quantizer's on the same queries."""
    from metrics_database_cron_script_spark.functions.similarity import (
        brute_force_topk,
        ivf_assign_fixed,
        ivf_fit,
        ivf_fixed_centers,
        ivf_probe_matmul,
    )
    from metrics_database_cron_script_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(assigned, centers):
        approx = {
            (r["q_id"], r["vec_id"])
            for r in ivf_probe_matmul(
                assigned, queries, centers, k=5, n_probe=2
            ).collect()
        }
        return len(approx & exact) / len(exact)

    fixed = ivf_fixed_centers()
    r_fixed = recall(ivf_assign_fixed(emb, fixed), fixed)
    r_trained = recall(*ivf_fit(emb, n_cells=16, seed=42))
    assert r_trained >= r_fixed, (r_trained, r_fixed)


@pytest.mark.parametrize(
    "name",
    [
        "minhash_near_dups",
        "minhash_near_dups_portable",
        "minhash_probe_index_portable",
        "char_ngram_jaccard",
        "char_ngram_jaccard_portable",
    ],
)
def test_near_dup_operator_leaves_no_cached_rdd(spark, name):
    """These operators return a lazy plan, so a frame they persisted could
    never be released by anyone: after the result is collected, Spark's
    storage holds no RDD it did not hold before. The input is a frame no
    other test caches (a cached equal plan would hide a new persist)."""
    from metrics_database_cron_script_spark.functions import dedup as D
    from metrics_database_cron_script_spark.sources import load_table

    def cached() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    docs = load_table(spark, SF_SMOKE, "documents").limit(60)
    before = cached()
    if name == "minhash_probe_index_portable":
        odd = F.col("doc_id") % 2 == 1
        out = D.minhash_probe_index_portable(docs.filter(~odd), docs.filter(odd))
    else:
        out = getattr(D, name)(docs)
    out.collect()
    assert cached() - before == set()
