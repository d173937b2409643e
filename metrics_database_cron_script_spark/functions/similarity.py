"""Similarity search over embedding columns (`array<float>`).

Two tiers, as a 100 TB engine needs both:
- `brute_force_topk`: exact cosine top-k — broadcast the (small) query set,
  scan the corpus once, per-query top-k via window. Cost O(|corpus|·|queries|)
  but embarrassingly parallel and shuffle-light (only the final top-k).
- `lsh_topk`: random-hyperplane LSH — deterministic pseudo-random hyperplanes
  (hash-derived, no RNG so runs are replayable), sign-bit signature, candidate
  generation by bucket equi-join, exact re-rank within buckets. The bucket
  join is the scale path: each corpus row is scanned once per probe table.

Column-expression dot products use the higher-order `zip_with`+`aggregate`
combination (JVM-side, no per-row Python); the brute-force scorer instead
vectorizes through Arrow (`mapInPandas` + float64 matmul) because HOF
array expressions are interpreted per element — see `brute_force_topk`.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.operators.partitioning import fan_out


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    score_partitions: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector. `queries` must be
    broadcast-sized: (q_id, q_vec).

    `score_partitions` coalesces the corpus into at most that many scoring
    partitions (narrow, no shuffle — it can only REDUCE). Every partition
    is one Python-worker dispatch + one Arrow round-trip, a ~10-15 ms
    fixed cost that dwarfs the matmul when partitions are small: size it
    to ~32 MB of vectors per dispatch (x_embed_cosine_topk measured 0.36 s
    → 0.21 s at sf0.1 going 11 → 1). At cluster scale bytes/32 MB exceeds
    the scan width, coalesce is a no-op, and the scan's own parallelism
    stands.

    Arrow-vectorized scan-side scoring: the query matrix is collected once
    (tiny by contract) and captured in a `mapInPandas` closure, so each
    corpus partition scores ALL queries with one float64 BLAS matmul and
    emits only its LOCAL top-k per query — the global merge then ranks
    |partitions|·|queries|·k rows instead of shuffling the full
    |corpus|·|queries| cross product. That is the 100 TB shape: broadcast
    the probes, stream the corpus once, local top-k, tiny final window.
    (The earlier higher-order `aggregate(zip_with(...))` formulation kept
    everything JVM-side but is *interpreted* per element — measured ~25×
    slower than DuckDB at sf0.1; the Arrow batch path is the fast path the
    north-star spec names for exactly this operator.)

    Local pruning is lossless because the final order (`cos` desc rounded to
    6 dp, `vec_id` asc) is total: every global top-k row is necessarily in
    its partition's top-k under the same order."""
    import numpy as np
    import pandas as pd

    # pin the (q_id, q_vec) contract by NAME — a caller projection with extra
    # or reordered columns must not silently score the wrong column
    q_pd = queries.select("q_id", "q_vec").toPandas()
    q_ids = q_pd["q_id"].to_numpy()
    q_vecs = [np.asarray(v, dtype=np.float64) for v in q_pd["q_vec"]]
    # explicit (0, 1) for the empty probe set: np.asarray([]) is 1-D and a
    # bare reshape(0, -1) raises; downstream guards skip scoring entirely
    q_mat = (
        np.asarray(q_vecs, dtype=np.float64) if q_vecs else np.zeros((0, 1))
    )
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    # a zero vector has no direction: its cosine is undefined, so zero-norm
    # queries (and corpus rows, below) are excluded rather than emitting
    # NaN — NaN sorts GREATER than every double in Spark's desc order and
    # would otherwise displace genuine neighbors at rank 1
    q_keep = q_norm > 0.0
    q_ids, q_mat, q_norm = q_ids[q_keep], q_mat[q_keep], q_norm[q_keep]

    def _round6(x):
        # Spark F.round / DuckDB ROUND are HALF_UP (away from zero);
        # np.round is half-to-even — match the engines' rule so the local
        # prune ranks in exactly the final, oracle-visible order
        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6

    def _matrix(rb):
        """Arrow list column → (vec_ids, float64 matrix) with NO per-row
        Python: equal-length non-null lists reshape the flat values buffer
        in place (the fixture/contract case — measured ~100 ms/run cheaper
        than per-cell np.asarray at sf0.1); ragged or null rows fall back
        to the row loop."""
        vec_ids = rb.column(0).to_numpy(zero_copy_only=False)
        emb = rb.column(1)
        if emb.null_count == 0 and hasattr(emb, "offsets"):
            offs = emb.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            if len(lens) and lens.min() == lens.max() and lens[0] > 0:
                flat = emb.values.to_numpy(zero_copy_only=False)
                mat = np.asarray(
                    flat[offs[0] : offs[-1]], dtype=np.float64
                ).reshape(len(vec_ids), int(lens[0]))
                return vec_ids, mat
        rows = emb.to_pylist()
        keep = [i for i, r in enumerate(rows) if r is not None]
        if not keep:
            return vec_ids[:0], np.zeros((0, 1))
        return vec_ids[keep], np.asarray(
            [np.asarray(rows[i], dtype=np.float64) for i in keep],
            dtype=np.float64,
        )

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            if not rb.num_rows or not len(q_ids):
                continue
            vec_ids, c_mat = _matrix(rb)
            if not len(vec_ids):
                continue
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            c_keep = c_norm > 0.0
            vec_ids, c_mat, c_norm = vec_ids[c_keep], c_mat[c_keep], c_norm[c_keep]
            if not len(vec_ids):
                continue
            cos = _round6(
                (c_mat @ q_mat.T) / (c_norm[:, None] * q_norm[None, :])
            )
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                col = cos[:, j]
                keep = vec_ids != qid
                ids, vals = vec_ids[keep], col[keep]
                if not len(ids):
                    continue
                # total order (cos desc, vec_id asc); top-k only
                order = np.lexsort((ids, -vals))[:k]
                out_q.extend([qid] * len(order))
                out_v.extend(ids[order])
                out_c.extend(vals[order])
            yield pa.record_batch(
                {
                    "q_id": np.asarray(out_q, dtype=np.int64),
                    "vec_id": np.asarray(out_v, dtype=np.int64),
                    "cos": np.asarray(out_c, dtype=np.float64),
                }
            )

    src = corpus.select("vec_id", "embedding")
    if score_partitions is not None:
        src = src.coalesce(max(1, score_partitions))
    scored = src.mapInArrow(score, "q_id long, vec_id long, cos double")
    return _topk_per_query(scored, "cos", k)


def _topk_per_query(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Shared per-query top-k epilogue: rank by (score desc, vec_id) and
    keep k. Deliberately NOT pre-repartitioned — an explicit exchange here
    would replace ENSURE_REQUIREMENTS and defeat Catalyst's
    WindowGroupLimit partial top-k below the shuffle (SCALE.md)."""
    w = Window.partitionBy("q_id").orderBy(F.col(score_col).desc(), "vec_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def arrow_pair_topk(pairs: DataFrame, k: int = 5) -> DataFrame:
    """Per-query top-k over PRE-PAIRED (q_id, q_vec, vec_id, embedding)
    rows, scored Arrow-side: row-wise cosine via one vectorized
    multiply-sum per batch instead of the interpreted per-element
    `aggregate(zip_with(...))` expression (measured ~25× slower at sf0.1
    — the brute_force_topk lesson, applied to the candidate-join shape).
    This is the scale scorer for IVF/LSH probes, where candidates arrive
    as join output (each query paired with its probed cells' members) and
    a matmul against ALL queries would score pairs the probe pruned away.
    Zero-norm rows are excluded (cosine undefined), self-pairs dropped,
    rounding is HALF_UP to 6 dp — identical contract to the higher-order
    scorer it replaces."""
    import numpy as np

    def _mat(col, n):
        offs = col.offsets.to_numpy(zero_copy_only=False)
        flat = col.values.to_numpy(zero_copy_only=False)
        lens = np.diff(offs)
        if not len(lens) or lens.min() != lens.max():
            raise ValueError("ragged embedding lists in pair scorer")
        return np.asarray(flat[offs[0] : offs[-1]], dtype=np.float64).reshape(
            n, int(lens[0])
        )

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            q_ids = rb.column(0).to_numpy(zero_copy_only=False)
            vec_ids = rb.column(2).to_numpy(zero_copy_only=False)
            q_mat = _mat(rb.column(1), n)
            c_mat = _mat(rb.column(3), n)
            qn = np.sqrt((q_mat * q_mat).sum(axis=1))
            cn = np.sqrt((c_mat * c_mat).sum(axis=1))
            keep = (qn > 0.0) & (cn > 0.0) & (q_ids != vec_ids)
            if not keep.any():
                continue
            raw = (q_mat[keep] * c_mat[keep]).sum(axis=1) / (
                qn[keep] * cn[keep]
            )
            cos = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5), raw) / 1e6
            yield pa.record_batch(
                {
                    "q_id": q_ids[keep],
                    "vec_id": vec_ids[keep],
                    "cos": cos,
                }
            )

    scored = pairs.select("q_id", "q_vec", "vec_id", "embedding").mapInArrow(
        score, "q_id long, vec_id long, cos double"
    )
    return _topk_per_query(scored, "cos", k)


def ivf_probe_matmul(
    assigned: DataFrame,
    queries: DataFrame,
    centers,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF probe for BATCHED queries, scored per-cell with one BLAS matmul
    per (partition, cell) — the FAISS-style inverted-list scan, and the
    fix for the pair-join probe's measured loss: joining each query onto
    its probed cells duplicates the query vector per candidate row, so at
    10 M vectors the probe (29–128 s) lost to plain brute-force matmul
    (37.7 s for 100 queries) despite scanning 3× less data
    (BENCH_ANN_SFXL.json). Here each probed corpus row is read ONCE and
    scored against exactly the queries probing its cell — probe cost is
    O(probed rows · probing queries) flops through BLAS, with the scan
    itself pruned to the probed cell directories when `assigned` is
    cell-partitioned parquet.

    `assigned` is (vec_id, embedding, cell); `centers` the coarse
    quantizer's (n_cells, dim) array (ivf_fit's or ivf_fixed_centers()).
    Query→cell routing is driver math (tiny by the broadcast-queries
    contract). Same scoring contract as brute_force_topk / arrow_pair_topk:
    HALF_UP 6-dp cosine, self-pairs and zero-norm rows excluded."""
    import numpy as np

    q_pd = queries.select("q_id", "q_vec").toPandas()
    q_ids = q_pd["q_id"].to_numpy()
    q_mat = (
        np.asarray(
            [np.asarray(v, dtype=np.float64) for v in q_pd["q_vec"]]
        )
        if len(q_pd)
        else np.zeros((0, 1))
    )
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    keep = q_norm > 0.0
    q_ids, q_mat, q_norm = q_ids[keep], q_mat[keep], q_norm[keep]
    centers = np.asarray(centers, dtype=np.float64)
    if not len(q_ids):
        spark = queries.sparkSession
        return spark.createDataFrame([], "q_id long, vec_id long, cos double")
    d2 = ((q_mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    # stable sort: an exact distance tie routes to the LOWER cell index —
    # the same (dist, cell) order the SQL oracle's QUALIFY uses
    probe = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for c in probe[qi]:
            cell_to_q.setdefault(int(c), []).append(qi)
    probed_cells = sorted(cell_to_q)

    def _round6(x):
        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            if not rb.num_rows:
                continue
            names = rb.schema.names
            vec_ids = rb.column(names.index("vec_id")).to_numpy(
                zero_copy_only=False
            )
            cells = rb.column(names.index("cell")).to_numpy(
                zero_copy_only=False
            )
            emb = rb.column(names.index("embedding"))
            offs = emb.offsets.to_numpy(zero_copy_only=False)
            flat = emb.values.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            if not len(lens) or lens.min() != lens.max():
                raise ValueError("ragged embedding lists in IVF probe")
            c_mat = np.asarray(
                flat[offs[0] : offs[-1]], dtype=np.float64
            ).reshape(len(vec_ids), int(lens[0]))
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            out_q, out_v, out_c = [], [], []
            for cell in np.unique(cells):
                qis = cell_to_q.get(int(cell))
                if not qis:
                    continue
                mask = (cells == cell) & (c_norm > 0.0)
                if not mask.any():
                    continue
                ids, mat, nrm = vec_ids[mask], c_mat[mask], c_norm[mask]
                sub_q = q_mat[qis]
                cos = _round6(
                    (mat @ sub_q.T) / (nrm[:, None] * q_norm[qis][None, :])
                )
                for j, qi in enumerate(qis):
                    qid = q_ids[qi]
                    col = cos[:, j]
                    m = ids != qid
                    cids, vals = ids[m], col[m]
                    if not len(cids):
                        continue
                    order = np.lexsort((cids, -vals))[:k]
                    out_q.extend([qid] * len(order))
                    out_v.extend(cids[order])
                    out_c.extend(vals[order])
            if out_q:
                yield pa.record_batch(
                    {
                        "q_id": np.asarray(out_q, dtype=np.int64),
                        "vec_id": np.asarray(out_v, dtype=np.int64),
                        "cos": np.asarray(out_c, dtype=np.float64),
                    }
                )

    src = assigned.filter(F.col("cell").isin(probed_cells)).select(
        "vec_id", "embedding", "cell"
    )
    scored = src.mapInArrow(score, "q_id long, vec_id long, cos double")
    return _topk_per_query(scored, "cos", k)


def _hyperplane(bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component per (bit, dim index):
    sha256-derived uniform in [-0.5, 0.5). Replayable across runs/cluster."""
    out = []
    for d in range(dim):
        h = hashlib.sha256(f"hyperplane:{bit}:{d}".encode()).digest()
        out.append(int.from_bytes(h[:4], "big") / 2**32 - 0.5)
    return out


def signature_col(vec: Column, num_bits: int, dim: int) -> Column:
    """Random-hyperplane signature: bit i = sign(dot(vec, h_i)). Returned as
    a long bucket id."""
    bits = []
    for i in range(num_bits):
        plane = F.array(*[F.lit(v) for v in _hyperplane(i, dim)])
        bits.append(
            F.when(dot(vec, plane) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = sum(bits[1:], bits[0])
    # a dim mismatch would NULL every dot (zip_with pads with NULL) and
    # silently send the whole corpus to bucket 0 — fail loudly instead
    guard = F.assert_true(
        F.size(vec) == dim, F.lit(f"signature_col: embedding length != dim {dim}")
    )
    return F.when(guard.isNull(), sig)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows in the query's hyperplane
    bucket, exact cosine re-rank within. Recall trades off with num_bits.
    Zero-norm vectors are excluded on both sides (cosine is undefined for a
    direction-less vector; the oracle carries the same predicate)."""
    sig_c = fan_out(
        corpus.select("vec_id", "embedding").filter(l2_norm(F.col("embedding")) > 0)
    ).withColumn("bucket", signature_col(F.col("embedding"), num_bits, dim))
    sig_q = queries.filter(l2_norm(F.col("q_vec")) > 0).withColumn(
        "bucket", signature_col(F.col("q_vec"), num_bits, dim)
    )
    joined = sig_c.join(F.broadcast(sig_q), "bucket").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = joined.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("cos"),
    )
    return _topk_per_query(scored, "cos", k)


def cosine_near_dup_pairs(corpus: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, LSH-bucketed: only
    same-bucket pairs are scored (plus the all-pairs fallback is deliberately
    NOT offered — at scale the bucket join is the only viable shape).
    Zero-norm vectors are excluded (cosine undefined; oracle matches)."""
    sig = fan_out(corpus.filter(l2_norm(F.col("embedding")) > 0)).withColumn(
        "bucket", signature_col(F.col("embedding"), 6, 64)
    )
    a = sig.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "bucket")
    b = sig.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cos"),
    ).filter(F.col("cos") >= threshold)


def ivf_fixed_centers(
    n_cells: int = 16, dim: int = 64, scale: float = 0.25
) -> list[list[float]]:
    """Deterministic sha256-derived IVF coarse centers — the quantizer twin
    of pq_fixed_codebooks (round 10, verdict item 5): center component
    (c, d) is uniform in [-scale/2, scale/2), replayable across runs,
    engines and clusters, which makes the FULL IVF pipeline (assign →
    probe-cell routing → per-cell exact re-rank) SQL-expressible and
    therefore oracle-checkable. The trained quantizer (ivf_fit, a
    driver-side k-means on a sample) gives data-adaptive cells and stays
    the production default; both share the assigner ivf_assign_fixed, and
    the fixed centers trade recall points for a bit-exact external
    contract."""
    out = []
    for c in range(n_cells):
        cent = []
        for d in range(dim):
            h = hashlib.sha256(f"ivfcenter:{c}:{d}".encode()).digest()
            cent.append((int.from_bytes(h[:4], "big") / 2**32 - 0.5) * scale)
        out.append(cent)
    return out


def ivf_assign_fixed(
    corpus: DataFrame, centers: list[list[float]]
) -> DataFrame:
    """Assign every corpus row to its nearest fixed center as a PURE
    EXPRESSION (no MLlib, no UDF): squared distance per center via the
    left-associative F.aggregate fold — the exact association a SQL
    `t1 + t2 + ...` expansion reproduces, so an oracle replays the
    assignment bitwise — ties to the LOWER cell index (array_position
    returns the first minimum). Returns (vec_id, embedding, cell). ivf_fit
    assigns through it too, so a bootstrapped index and the daily append
    over its frozen centers share one assignment rule."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(x) for x in cent]),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for cent in centers
        ]
    )
    return corpus.select(
        "vec_id",
        "embedding",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("cell"),
    )


def _kmeans(points, k: int, seed: int, max_iter: int = 20, tol: float = 1e-4):
    """Lloyd's k-means on a driver-held (n, dim) float64 matrix, seeded by
    k-means++ from numpy.random.default_rng(seed); max_iter and tol are
    MLlib KMeans' defaults (stop once no center moves farther than tol).
    A center whose cluster empties keeps its previous position. Seeding
    stops early when every point already sits on a chosen center, so
    fewer distinct points than `k` yield fewer centers."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(points)
    chosen = [points[rng.integers(n)]]
    d2 = ((points - chosen[0]) ** 2).sum(axis=1)
    while len(chosen) < k:
        total = d2.sum()
        if total <= 0.0:
            break
        nxt = points[rng.choice(n, p=d2 / total)]
        chosen.append(nxt)
        d2 = np.minimum(d2, ((points - nxt) ** 2).sum(axis=1))
    centers = np.array(chosen)
    for _ in range(max_iter):
        # |x|^2 is constant per row, so it drops out of the argmin
        dist = (centers * centers).sum(axis=1) - 2.0 * points @ centers.T
        near = dist.argmin(axis=1)
        moved = centers.copy()
        for c in range(len(centers)):
            members = near == c
            if members.any():
                moved[c] = points[members].mean(axis=0)
        shift = np.sqrt(((moved - centers) ** 2).sum(axis=1)).max()
        centers = moved
        if shift <= tol:
            break
    return centers


def ivf_fit(
    corpus: DataFrame, n_cells: int = 16, seed: int = 42, n_rows: int | None = None
) -> tuple[DataFrame, list[list[float]]]:
    """Fit the IVF coarse quantizer and assign every corpus row to its cell.

    Returns (assigned, centers): `assigned` is (vec_id, embedding, cell) —
    at 100 TB this frame is written once as cell-partitioned parquet so a
    probe becomes static partition pruning — and `centers` the (≤ n_cells,
    dim) centroid list. The fit runs on the driver over a deterministic
    hash-mod sample of at most ~8k vectors (a quantizer only needs a
    sample's geometry, not 100 TB), collected in ONE job and sorted by
    vec_id so the centers do not depend on partition order: k-means++
    seeding from `seed`, then Lloyd (_kmeans). The assignment is the pure
    expression ivf_assign_fixed, the same assigner the daily index append
    runs against the frozen centers. `n_rows` is the corpus count when
    the caller already holds it (it sizes the sample); otherwise one
    count() job computes it."""
    import numpy as np

    if n_rows is None:
        n_rows = corpus.count()
    mod = max(1, n_rows // 4096)
    fit_set = corpus.select("vec_id", "embedding")
    if mod > 1:
        fit_set = fit_set.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0
        )
    rows = sorted(
        (r["vec_id"], tuple(r["embedding"])) for r in fit_set.collect()
    )
    if not rows:
        raise ValueError("ivf_fit: empty corpus, nothing to fit")
    points = np.asarray([e for _, e in rows], dtype=np.float64)
    centers = [[float(x) for x in c] for c in _kmeans(points, n_cells, seed)]
    return ivf_assign_fixed(corpus, centers), centers


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    n_rows: int | None = None,
) -> list[list[float]]:
    """Persist the IVF index as CELL-PARTITIONED parquet (round 9 —
    promotes the layout BENCH_ANN_SFXL measured from bench code to an
    engine operator): one directory per cell, so a probe's cell filter
    is STATIC PARTITION PRUNING — the probe reads only the probed cells'
    files, never scans the corpus (asserted via PartitionFilters in
    tests). The coarse-quantizer centers ride in an underscore-prefixed
    JSON sidecar inside the index dir (parquet readers ignore `_` files,
    same convention as _SUCCESS), so the index is self-contained.

    Discipline from the 10 M-vector measurement: `repartition("cell")`
    BEFORE partitionBy — writing partitionBy from N upstream tasks emits
    N×cells tiny files (65 k at 256 tasks, ~5× slower probes); the
    repartition makes it one file per cell. The write emits every corpus
    row; `n_rows` passes a known corpus count through to ivf_fit. Returns
    the centers (also readable later via the sidecar)."""
    import json as _json
    import os as _os

    assigned, centers = ivf_fit(corpus, n_cells=n_cells, seed=seed, n_rows=n_rows)
    assigned.repartition("cell").write.partitionBy("cell").parquet(path)
    with open(_os.path.join(path, "_ivf_centers.json"), "w") as fh:
        _json.dump({"n_cells": n_cells, "seed": seed, "centers": centers}, fh)
    return centers


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Serve top-k from a persisted IVF index (ivf_index_write): load the
    sidecar centers, route each query to its n_probe nearest cells
    (driver math), and run the per-cell BLAS matmul probe over ONLY the
    probed cell directories — `cell` is a partition column, so the
    isin-filter inside ivf_probe_matmul resolves to partition pruning
    and the scan cost is O(probed membership), 0.3–0.9% of the corpus at
    the measured 10 M-vector operating points. This is the query-serving
    path; ivf_topk_matmul is the fused fit+probe used when no index is
    persisted (offline batch scoring)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_ivf_centers.json")) as fh:
        meta = _json.load(fh)
    assigned = spark.read.parquet(path)
    return ivf_probe_matmul(
        assigned, queries, meta["centers"], k=k, n_probe=n_probe
    )


def ivf_topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k, scored by the per-cell BLAS matmul probe —
    the DEPLOYABLE shape (round-9): BENCH_ANN_SFXL.json measured the
    pair-join probe at 0.3–1.3× of brute force at 10 M vectors (query
    duplication forfeits BLAS batching) while ivf_probe_matmul ran the
    same probe 8× faster at recall 0.999. Same quantizer (ivf_fit's
    driver-side k-means, fixed seed), same scoring contract (HALF_UP 6-dp
    cosine, self-pairs and zero-norm rows dropped); equality with the
    pair-join probe on the same cells is pinned by
    tests/test_dedup_quality.py (test_ivf_topk_matmul_matches_pair_probe).
    The SQL-transparent
    pair-join expression stays available as ivf_topk — the documentation
    path, not the deployed one."""
    assigned, centers = ivf_fit(corpus, n_cells=n_cells, seed=seed)
    return ivf_probe_matmul(assigned, queries, centers, k=k, n_probe=n_probe)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    arrow: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into cells; each query probes its `n_probe`
    nearest cells and re-ranks exactly within them.

    The quantizer is ivf_fit: k-means++ and Lloyd on the driver over a
    hash-mod sample sorted by vec_id (fixed seed → replayable). At 100 TB
    the fit is one sample collect, the cell assignment is one expression
    pass (ivf_assign_fixed), and the probe is an equi-join on cell id — the
    same shuffle shape as the LSH variant but with data-adaptive cells
    (better recall on clustered data).

    This is the SQL-TRANSPARENT documentation path: the pair-join probe
    duplicates the query vector onto every candidate row, which
    BENCH_ANN_SFXL.json measured at 0.3–1.3× of brute force at 10 M
    vectors. Deploy ivf_topk_matmul (per-cell BLAS scan) instead; it is
    rank-identical on the same probed cells.

    `arrow=True` swaps the probe's per-pair scorer from the interpreted
    higher-order cosine to the Arrow-vectorized pair scorer
    (arrow_pair_topk) — same contract (HALF_UP 6 dp, self-pairs and
    zero-norm rows dropped), ~25× cheaper per pair."""
    assigned, centers_raw = ivf_fit(corpus, n_cells=n_cells, seed=seed)
    assigned = assigned.withColumnRenamed("cell", "__cell")

    # query → its n_probe nearest centroids (tiny: n_cells rows, driver math)
    centers = [(i, c) for i, c in enumerate(centers_raw)]
    spark = corpus.sparkSession
    centers_df = spark.createDataFrame(centers, "cell int, center array<double>")
    q_cells = (
        queries.join(F.broadcast(centers_df))
        .withColumn(
            "__dist",
            F.aggregate(
                F.zip_with(
                    F.col("q_vec"), F.col("center"), lambda a, b: (a.cast("double") - b) ** 2
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("__dist"), F.col("cell"))
            ),
        )
        .filter(F.col("__rn") <= n_probe)
        .select("q_id", "q_vec", F.col("cell").alias("__cell"))
    )

    joined = assigned.join(F.broadcast(q_cells), "__cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    if arrow:
        return arrow_pair_topk(joined, k)
    scored = joined.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("cos"),
    )
    return _topk_per_query(scored, "cos", k)


def sq_quantize(vec: Column, scale: float = 127.0) -> Column:
    """Symmetric int8 scalar quantization: round(x·127) clamped to [-127,127]
    (assumes inputs roughly in [-1, 1], true for normalized embeddings).
    4× smaller vectors at rest and in shuffle — at corpus scale the scan and
    shuffle width, not the arithmetic, is the cosine bottleneck."""
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") * scale).cast("int")),
        ),
    )


def sq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k over int8 scalar-quantized vectors: quantize both
    sides, integer dot product as the score proxy (monotone in cosine for
    unit-norm inputs up to quantization error), exact-rank by the proxy.
    The candidate structure matches brute force; what changes at 100 TB is
    the bytes moved — 4× less scan+shuffle, and the integer dot stays in
    the same interpreted-HOF budget."""
    qc = fan_out(corpus.select("vec_id", "embedding")).select(
        "vec_id", sq_quantize(F.col("embedding")).alias("qe")
    )
    qq = queries.select("q_id", sq_quantize(F.col("q_vec")).alias("qq"))
    scored = qc.crossJoin(F.broadcast(qq)).filter(F.col("vec_id") != F.col("q_id"))
    idot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("qq"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return _topk_per_query(
        scored.select("q_id", "vec_id", idot.alias("score")), "score", k
    )


def centroid_outliers(corpus: DataFrame, k: int = 10) -> DataFrame:
    """Top-k embeddings farthest (by cosine) from the corpus centroid — the
    embedding-space outlier screen (mislabeled modality, corrupt vectors,
    off-domain content). The centroid is one element-wise mean: posexplode
    → per-position avg → re-assembled into a single-row array and
    broadcast; the scan then scores each vector once. No pairwise work
    anywhere."""
    pos = corpus.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
    centroid = (
        pos.groupBy("pos")
        .agg(F.avg("v").alias("m"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("pm")
        )
        .select(F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )
    # zero-norm vectors have no direction: their cosine is NULL (Spark
    # division by zero), which would sort NULLS-FIRST into the outlier
    # top-k — exclude them like every other cosine surface in this module
    scored = fan_out(
        corpus.select("vec_id", "embedding").filter(
            l2_norm(F.col("embedding")) > 0
        )
    ).crossJoin(F.broadcast(centroid))
    return (
        scored.select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias(
                "cos_to_centroid"
            ),
        )
        .orderBy(F.col("cos_to_centroid").asc(), "vec_id")
        .limit(k)
    )


def knn_label_majority(
    corpus: DataFrame, k: int = 5, holdout_mod: int = 10
) -> DataFrame:
    """k-NN classification by majority vote: every vec_id divisible by
    `holdout_mod` is held out as a query and classified by the modal label
    of its k nearest (cosine) neighbors in the remaining corpus. Vote ties
    break to the smallest label (deterministic).

    Scale shape: rides brute_force_topk (query set broadcast, corpus
    scanned once, per-query top-k via WindowGroupLimit); the voting stage
    then runs on O(queries × k) rows — negligible — with neighbor labels
    joined from a broadcast of the corpus id→label projection. Swap the
    neighbor stage for ivf_topk/lsh_topk when the query set itself is too
    big to broadcast.

    Reference parity: no ML surface in the reference (updatescript.py);
    this is the §2.C similarity-search extension applied to labeling."""
    held = F.col("vec_id") % holdout_mod == 0
    queries = corpus.filter(held).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("true_label"),
    )
    rest = corpus.filter(~held)
    nn = brute_force_topk(rest, queries.select("q_id", "q_vec"), k=k)
    labels = corpus.select("vec_id", F.col("label").alias("nbr_label"))
    votes = (
        nn.join(labels, "vec_id")  # corpus-sized: stats decide, no hint
        .groupBy("q_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label")
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("q_id", F.col("nbr_label").alias("predicted_label"), "n_votes")
    )
    return pred.join(
        queries.select("q_id", "true_label"), "q_id"  # holdout grows with corpus
    ).select("q_id", "predicted_label", "true_label", "n_votes")


def pca_top_component(corpus: DataFrame) -> DataFrame:
    """First-principal-component score per embedding, computed with the
    fixed-size-partial-aggregate pattern: each Arrow batch reduces to one
    (count, sum, sum-of-outer-products) row via mapInPandas — d + d² + 1
    doubles regardless of batch size — so the driver combines
    O(partitions) tiny partials, eigensolves the d×d covariance locally
    (d=64: trivial), and the component projects back over the corpus as a
    broadcast literal. No d²-wide shuffle, no per-row Python, corpus
    scanned twice (once for moments, once for scores).

    At 100 TB this is exactly the treeAggregate shape MLlib uses for PCA:
    the moment matrix is invariant-sized, only the scan parallelism grows.

    Sign convention: the eigenvector's first nonzero coordinate is made
    positive so the score is deterministic across eigensolver builds."""
    import numpy as np
    import pandas as pd

    head = corpus.select("embedding").first()
    if head is None:
        raise ValueError("pca_top_component: empty corpus")
    d_dim = len(head[0])

    def _moments(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "s": [m.sum(axis=0).tolist()],
                    "ss": [(m.T @ m).reshape(-1).tolist()],
                }
            )

    parts = corpus.select("embedding").mapInPandas(
        _moments, schema="n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    ss = np.sum([p["ss"] for p in parts], axis=0).reshape(d_dim, d_dim)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    top = vecs[:, int(np.argmax(vals))]
    nz = np.nonzero(np.abs(top) > 1e-12)[0]
    if len(nz) and top[nz[0]] < 0:
        top = -top
    centered_dot = dot(
        F.col("embedding"), F.array(*[F.lit(float(x)) for x in top])
    ) - float(mean @ top)
    return corpus.select(
        "vec_id", F.round(centered_dot, 6).alias("pc1_score")
    )


def pca_power_start(dim: int = 64) -> list[float]:
    """Deterministic sha256-derived power-iteration start vector (round 10,
    verdict item 5 — the PCA twin of pq_fixed_codebooks / ivf_fixed_centers):
    component d uniform in [-0.5, 0.5), replayable across runs, engines and
    clusters."""
    out = []
    for d in range(dim):
        h = hashlib.sha256(f"pcastart:{d}".encode()).digest()
        out.append(int.from_bytes(h[:4], "big") / 2**32 - 0.5)
    return out


def _round6_scalar(x: float) -> float:
    """HALF_UP 6-dp rounding of a python float — the same convention as
    Spark's F.round and the numpy _round6 used by the matmul scorers."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def pca_scores_power(corpus: DataFrame, n_iter: int = 64) -> DataFrame:
    """First-principal-component score per embedding via FIXED-START,
    PINNED-ITERATION power iteration on the 6-dp-ROUNDED moment matrix —
    the ORACLE-CHECKABLE variant of pca_top_component (round 10): every
    data-dependent input to the iteration (mu = mean, m2 = E[x xᵀ], both
    elementwise HALF_UP-rounded at 6 dp) is identical across engines
    provided no moment lands within the cross-engine summation-order
    wobble (~1e-12) of a rounding boundary — certified per fixture by
    tests/test_pca.py — after which the whole pipeline (matvec w = m2·v −
    mu·(mu·v), normalize, n_iter (default 64 — the fixture embeddings are near-isotropic, eigengap ratio ~0.93, so 8 iterations leave a 0.57 residual) iterations, sign fixed by the first
    |component| > 1e-6, per-row centered projection) is deterministic
    IEEE double arithmetic with LEFT-ASSOCIATIVE folds on both sides, so
    DuckDB replays it bitwise. The eigensolve variant (pca_top_component,
    exact eigenvector, no rounding of the covariance) stays the library
    production path; the rounded moments perturb the component by
    O(5e-7 / eigengap) — differential-tested against numpy in
    tests/test_pca.py. Same moment aggregation as pca_top_component: one
    fixed-size partial per Arrow batch, no d²-wide shuffle."""
    import numpy as np
    import pandas as pd

    head = corpus.select("embedding").first()
    if head is None:
        raise ValueError("pca_scores_power: empty corpus")
    d_dim = len(head[0])

    def _moments(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "s": [m.sum(axis=0).tolist()],
                    "ss": [(m.T @ m).reshape(-1).tolist()],
                }
            )

    parts = corpus.select("embedding").mapInPandas(
        _moments, schema="n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    ss = np.sum([p["ss"] for p in parts], axis=0)
    mu = [_round6_scalar(float(x) / n) for x in s]
    m2 = [_round6_scalar(float(x) / n) for x in ss]

    v = pca_power_start(d_dim)
    for _ in range(n_iter):
        dm = 0.0
        for j in range(d_dim):
            dm = dm + mu[j] * v[j]
        w = []
        for i in range(d_dim):
            acc = 0.0
            for j in range(d_dim):
                acc = acc + m2[i * d_dim + j] * v[j]
            w.append(acc - mu[i] * dm)
        norm = 0.0
        for x in w:
            norm = norm + x * x
        norm = norm**0.5
        v = [x / norm for x in w]
    first = next((x for x in v if abs(x) > 1e-6), 1.0)
    if first < 0:
        v = [-x for x in v]

    mu_arr = F.array(*[F.lit(x) for x in mu])
    pc_arr = F.array(*[F.lit(x) for x in v])
    centered = F.zip_with(
        F.col("embedding"), mu_arr, lambda a, m: a.cast("double") - m
    )
    score = F.aggregate(
        F.zip_with(centered, pc_arr, lambda d, p: d * p),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return corpus.select("vec_id", F.round(score, 6).alias("pc1_score"))


def semdedup(corpus: DataFrame, threshold: float = 0.3) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    inside each deterministic hyperplane-LSH cell, a vector is DROPPED iff
    it has a near-duplicate (cosine ≥ threshold) with a smaller vec_id —
    keep-lowest survivorship, decided from pairwise evidence alone (no
    transitive closure), so the verdict per vector is a single aggregated
    count over the candidate-pair join. Same scale shape as
    `cosine_near_dup_pairs`: the only join is the bucket equi-join."""
    pairs = cosine_near_dup_pairs(corpus, threshold)
    dropped = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        corpus.select("vec_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("__n", F.lit(0)).alias("n_dups_smaller"),
            F.col("__n").isNull().alias("kept"),
        )
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    codes: int = 16,
    seed: int = 42,
    sample_target: int = 100_000,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou et al. 2011, 'Product
    Quantization for Nearest Neighbor Search'): split the `dim`-d embedding
    into `m` contiguous sub-vectors and k-means each subspace into `codes`
    centroids. MLlib KMeans with a fixed seed → replayable. Returns
    m × codes × (dim/m) floats — a few KB, driver-held, broadcast as plan
    literals. Unlike ivf_fit's driver-side k-means, this keeps MLlib: it
    is off the daily cron path, and tests/test_pq_topk.py pins the recall
    of these codebooks.

    Scale shape: ALL m fits train on one deterministic hash-mod sample of
    ~`sample_target` vectors (`xxhash64(vec_id) % mod == 0` — replayable,
    unlike fraction-sampling whose output depends on partition layout),
    materialized ONCE and cached; the full corpus is scanned exactly once
    (the sizing count) regardless of m. Codebook quality needs thousands
    of points per subspace, not the corpus — the standard billion-vector
    training recipe."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    mod = max(1, n // sample_target)
    sample = corpus.select("vec_id", "embedding")
    if mod > 1:
        sample = sample.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0
        )
    sample = sample.select("embedding").persist()
    try:
        head = sample.first()
        if head is None:
            raise ValueError("pq_codebooks: empty corpus")
        dim = len(head[0])
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        books = []
        for j in range(m):
            sl = sample.select(
                array_to_vector(
                    F.slice(F.col("embedding"), j * sub + 1, sub).cast(
                        "array<double>"
                    )
                ).alias("__vec")
            )
            km = KMeans(
                k=codes, seed=seed + j, featuresCol="__vec", predictionCol="__c"
            )
            model = km.fit(sl)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
    finally:
        sample.unpersist()
    return books


def pq_fixed_codebooks(
    m: int = 8, codes: int = 16, sub: int = 8, scale: float = 0.25
) -> list[list[list[float]]]:
    """Deterministic pseudo-random PQ codebooks, sha256-derived like the
    LSH hyperplanes (_hyperplane): centroid component (j, c, d) is uniform
    in [-scale/2, scale/2), replayable across runs, engines and clusters —
    which makes the WHOLE ADC pipeline (encode → decode → proxy shortlist
    → exact re-rank) SQL-expressible and therefore oracle-checkable
    (round-9 rows-only conversion). `scale` approximates the component
    spread of unit-norm 64-d embeddings (~±0.125). Trained codebooks
    (pq_codebooks, MLlib KMeans) give better shortlists and stay the
    production default; the fixed book trades a few recall points for a
    bit-exact external contract."""
    out = []
    for j in range(m):
        book = []
        for c in range(codes):
            cent = []
            for d in range(sub):
                h = hashlib.sha256(f"pqbook:{j}:{c}:{d}".encode()).digest()
                cent.append(
                    (int.from_bytes(h[:4], "big") / 2**32 - 0.5) * scale
                )
            book.append(cent)
        out.append(book)
    return out


def pq_encode(vec: Column, books: list[list[list[float]]]) -> Column:
    """PQ code assignment as a pure expression: for each subspace, the
    argmin-distance centroid index over the literal codebook. No UDF, no
    shuffle — one codegen'd pass; the encoded column is m bytes of
    information per row versus dim·4 for the raw vector."""
    m = len(books)
    sub = len(books[0][0])
    code_cols = []
    for j, book in enumerate(books):
        sv = F.slice(vec, j * sub + 1, sub)
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sv,
                        F.array(*[F.lit(x) for x in cent]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for cent in book
            ]
        )
        code_cols.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*code_cols)


def pq_decode(code: Column, books: list[list[list[float]]]) -> Column:
    """Reconstruct the quantized vector from its codes via the literal
    codebook (element_at over an array-of-arrays literal, flattened)."""
    parts = []
    for j, book in enumerate(books):
        lut = F.array(*[F.array(*[F.lit(x) for x in cent]) for cent in book])
        parts.append(F.element_at(lut, F.element_at(code, j + 1) + 1))
    return F.flatten(F.array(*parts))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    codes: int = 16,
    rerank: int = 4,
    seed: int = 42,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k with exact re-rank: encode the
    corpus once (m·log2(codes) bits per vector — 8 bytes here vs 256 for
    the raw float32s), score every (query, code) pair on the RECONSTRUCTED
    vector (asymmetric distance computation collapsed into one cosine
    against the decoded centroid concatenation), shortlist `rerank·k`
    candidates per query by the proxy, then re-rank ONLY the shortlist on
    the exact embeddings.

    Scale shape: the proxy scan reads m-byte codes instead of the full
    vectors (the memory-bandwidth trade that makes PQ the standard
    billion-vector layout); the exact re-rank joins the shortlist —
    queries·rerank·k rows — back to the corpus by vec_id, an equi-join
    whose probe side is tiny.

    `books` (round 9): pass an explicit codebook (pq_fixed_codebooks) to
    make the whole pipeline deterministic-by-literal and SQL-oracled;
    None trains MLlib KMeans codebooks (engine-private → rows-only). The
    proxy is ROUNDED to 6 dp before shortlist ranking (vec_id tie-break)
    so the shortlist, not just the final top-k, is engine-stable.
    Zero-norm rows are excluded on both sides (cosine undefined — the
    module-wide contract)."""
    if books is None:
        books = pq_codebooks(corpus, m=m, codes=codes, seed=seed)
    corpus_nz = corpus.select("vec_id", "embedding").filter(
        l2_norm(F.col("embedding")) > 0
    )
    queries_nz = queries.filter(l2_norm(F.col("q_vec")) > 0)
    encoded = fan_out(corpus_nz).select(
        "vec_id", pq_encode(F.col("embedding"), books).alias("__code")
    )
    approx = encoded.withColumn("__approx", pq_decode(F.col("__code"), books))
    scored = (
        approx.crossJoin(F.broadcast(queries_nz))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("__approx")), 6).alias(
                "__proxy"
            ),
        )
    )
    shortlist = _topk_per_query(scored, "__proxy", rerank * k).select(
        "q_id", "vec_id"
    )
    exact = (
        shortlist.join(corpus_nz, "vec_id")
        .join(F.broadcast(queries_nz), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("cos"),
        )
    )
    return _topk_per_query(exact, "cos", k)
