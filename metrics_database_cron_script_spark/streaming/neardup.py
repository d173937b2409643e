"""Stream-executed MinHash near-dup with cross-batch LSH-bucket state.

The batch near-dup pipelines (functions/dedup.py) band each document's
minhash signature and equi-join band buckets — a shape that needs the whole
corpus on both sides of the join. This module is the STREAMING twin: the
corpus arrives in micro-batches, and each LSH bucket keeps the doc_ids it
has seen so far in the state store (`applyInPandasWithState`), so a new
document is compared only against the earlier members of the buckets it
lands in. That is the same "probe the persisted band index" contract as the
daily incremental dedup (dedup.py minhash_probe_index_portable /
pipelines.py P6) — expressed as a live stateful streaming operator instead
of a cron batch.

Per-operator scale notes:

- **Signature without aggregation.** The batch path aggregates an exploded
  shingle relation (`MIN(md5(seed|shingle))` per doc); a streaming groupBy
  per doc would be an unbounded stateful agg. Instead the signature is a
  pure PER-ROW expression: `array_min(transform(shingles, md5-prefix))`
  over the doc's distinct-shingle ARRAY — zero shuffles before the bucket
  grouping, and bit-identical to the batch/oracle minima (same md5 hex,
  same fixed-length-string ordering; proved by the shared oracle).
- **State is doc_ids only, bounded by bucket occupancy.** The grouping key
  IS (band, band_sig), so bucket membership carries all the signature
  information a candidate needs — verification (exact Jaccard) joins back
  to the document store AFTER the drain, exactly like the batch pipeline
  verifies only candidates. LSH bucket occupancy is the quantity the
  (b, r) tuner already bounds; a hot bucket here is the same hot bucket
  the batch quarantine gates route out.
- **Eviction.** `GroupStateTimeout.NoTimeout` keeps full-corpus dedup
  state, matching the batch semantics this operator is oracled against.
  A bounded-horizon dedup (only flag dups within N days) swaps in
  `ProcessingTimeTimeout` + `state.setTimeoutDuration` with no other
  change — noted rather than defaulted because the reference's dedup
  guards (updatescript.py:166,171,179) are whole-history, not windowed.

Emission is order-independent: every unordered pair of docs sharing a
bucket is emitted exactly once per bucket (when the later of the two is
processed), normalized as (min, max), and cross-bucket duplicates are
removed by a batch `distinct()` on the drained sink — so micro-batch
boundaries and in-batch row order cannot change the result set, which is
what lets a STREAMING execution share the batch pipeline's value oracle.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from metrics_database_cron_script_spark.functions.dedup import (
    MINHASH_DEFAULTS,
    _PORTABLE,
    _explode_bands,
    verified_jaccard,
    word_shingles,
)
from metrics_database_cron_script_spark.functions.text import tokens_col
from metrics_database_cron_script_spark.sources import load_table

PAIR_SCHEMA = "doc_a long, doc_b long"
# the bucket's full membership so far; grows with bucket occupancy, which
# the (b, r) tuning bounds for honest corpora and the quarantine gates
# bound for degenerate ones
STATE_SCHEMA = "doc_ids array<long>"


def shingles_array(n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as a per-row ARRAY — the array twin of
    word_shingles' explode+distinct relation (same tokenizer, same slice
    windows, same empty filter), so both produce the same shingle SET per
    doc without the streaming path needing an aggregation."""
    toks = tokens_col()
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(F.filter(grams, lambda s: s != ""))


def band_rows(docs: DataFrame, num_hashes: int | None = None,
              band_size: int | None = None) -> DataFrame:
    """(doc_id, band, band_sig) LSH index rows from per-row expressions
    only — works on a STREAMING frame (no agg, no shuffle). Hash family
    and banding match lsh_bands_portable(minhash_signatures_portable(...))
    bit-for-bit: the same portable seed hash, minimized per seed over the
    doc's shingle array, and the same banding step."""
    if num_hashes is None:
        num_hashes = MINHASH_DEFAULTS.num_hashes
    sh = shingles_array()
    # seed_hash(i) is a factory: F.transform inspects the lambda's
    # parameter count and would treat a defaulted `lambda s, i=i` as the
    # binary (element, index) form, silently replacing the seed with the
    # index
    mh = [
        F.array_min(F.transform(sh, _PORTABLE.seed_hash(i))).alias(
            f"{_PORTABLE.prefix}{i}"
        )
        for i in range(num_hashes)
    ]
    sigs = docs.filter(F.size(sh) > 0).select("doc_id", *mh)
    return _explode_bands(sigs, _PORTABLE, num_hashes, band_size)


def _bucket_pairs(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit (min, max) doc-id pairs for every new co-membership in this
    bucket; state is the membership list. Compare-then-append makes each
    in-bucket pair fire exactly once regardless of how the bucket's docs
    are spread across micro-batches."""
    seen: list[int] = list(state.get[0]) if state.exists else []
    out_a: list[int] = []
    out_b: list[int] = []
    for pdf in pdfs:
        for doc in pdf["doc_id"]:
            doc = int(doc)
            for other in seen:
                out_a.append(min(other, doc))
                out_b.append(max(other, doc))
            seen.append(doc)
    state.update((seen,))
    if out_a:
        yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})


def stage_multifile_source(
    spark: SparkSession, docs: DataFrame, n_files: int, staging_dir: str
) -> None:
    """Write `docs` as `n_files` parquet files so maxFilesPerTrigger=1
    drains them as that many micro-batches. Range-partitioned on doc_id so
    the split is deterministic — which files a near-dup pair straddles
    never depends on hash-partition placement."""
    docs.repartitionByRange(n_files, "doc_id").write.mode("overwrite").parquet(
        staging_dir
    )


def run_streaming_neardup_on_dir(
    spark: SparkSession,
    staged_dir: str,
    query_name: str,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Run the stateful bucket operator over a staged multi-file directory,
    one file per micro-batch; returns the DISTINCT candidate pair frame
    (doc_a < doc_b) materialized from the memory sink."""
    schema = spark.read.parquet(staged_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )
    pairs = (
        band_rows(docs, num_hashes, band_size)
        .groupBy("band", "band_sig")
        .applyInPandasWithState(
            _bucket_pairs,
            outputStructType=PAIR_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        pairs.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    finally:
        q.stop()
    out = spark.sql(f"SELECT DISTINCT doc_a, doc_b FROM {query_name}")
    # stash the micro-batch count where a test can assert the run was
    # actually incremental (not one mega-batch)
    out = out.withColumn("__n_batches", F.lit(n_batches))
    return out


def run_streaming_neardup(
    spark: SparkSession,
    sf_dir: str,
    query_name: str | None = None,
    n_source_files: int = 4,
    num_hashes: int | None = None,
    band_size: int | None = None,
    verify: bool = True,
) -> DataFrame:
    """End-to-end: stage the documents fixture as a multi-file stream, drain
    the stateful bucket dedup, then batch-verify candidates with exact
    Jaccard (verification joins the static doc store — the standard
    candidates→verify split; at scale this is the same post-hoc join the
    batch pipeline pays, on candidate rows only).

    Result ≡ minhash_near_dups_portable(documents) — same oracle.
    """
    if query_name is None:
        query_name = f"s_neardup_{uuid.uuid4().hex[:8]}"
    docs = load_table(spark, sf_dir, "documents")
    staging = tempfile.mkdtemp(prefix="stream_neardup_")
    try:
        stage_multifile_source(spark, docs, n_source_files, staging)
        pairs = run_streaming_neardup_on_dir(
            spark, staging, query_name, num_hashes, band_size
        ).drop("__n_batches")
        if not verify:
            return pairs
        # the memory sink is already materialized; the staging dir is
        # deleted on return, so verification must not re-read it
        shingles = word_shingles(docs, hashed=False)
        return verified_jaccard(_PORTABLE.store(shingles), pairs)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
