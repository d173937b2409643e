"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference's only dedup is the `_id` anti-join (R14); a training-data
pipeline needs content dedup at corpus scale. Every operator here is a
composition of built-in DataFrame ops — hashing via `xxhash64` (JVM,
codegen'd) or, in the DuckDB-checkable portable family, an md5 prefix
(`_Family`: each near-dup operator has one body over its hash family),
candidate generation via equi-joins on LSH buckets so the
expensive pairwise verification only touches candidate pairs, never the
full O(n²) cross product. That bucket-join shape is what survives 100 TB:
shuffle keys are (band, signature) / (chunk, value), both well-distributed
by construction.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.functions.text import tokens_col
from metrics_database_cron_script_spark.operators.partitioning import fan_out


# ------------------------------------------------------- LSH parameter tuning


class MinHashParams(NamedTuple):
    """A chosen MinHash+LSH banding: `n_bands` bands of `band_size` rows
    (num_hashes = band_size · n_bands), with the S-curve collision
    probabilities the choice was made on."""

    num_hashes: int
    band_size: int
    n_bands: int
    recall_at_threshold: float
    fp_at_low: float


def lsh_collision_prob(s: float, band_size: int, n_bands: int) -> float:
    """P(candidate | true Jaccard = s) for MinHash banding with `n_bands`
    bands of `band_size` rows: 1 - (1 - s^r)^b — the standard S-curve
    (Broder; Leskovec/Rajaraman/Ullman ch. 3). Exact under the uniform
    min-hash permutation model; `x_minhash_recall` measures how close the
    actual corpus gets."""
    return 1.0 - (1.0 - s**band_size) ** n_bands


def choose_minhash_params(
    threshold: float = 0.8,
    target_recall: float = 0.98,
    fp_jaccard: float | None = None,
    max_fp: float = 0.55,
    max_hashes: int = 64,
) -> MinHashParams:
    """Pick (num_hashes, band_size) from the S-curve: the CHEAPEST banding
    (fewest total hashes — signature compute and index width are both
    linear in num_hashes) such that

      recall: P(candidate | s = threshold)  ≥ target_recall
      cost:   P(candidate | s = fp_jaccard) ≤ max_fp   (fp_jaccard
              defaults to threshold/2 — "mid-similarity pairs mostly
              don't reach verification")

    Ties at equal num_hashes prefer LARGER band_size: a steeper S-curve
    cuts more sub-threshold candidate mass at the same hash budget, and
    candidate verification is the term that grows super-linearly at
    corpus scale (SCALE.md Appendix A, alpha ≈ 1.2). Raises when no banding within
    max_hashes satisfies both constraints — silently returning the
    closest miss would under-deliver recall on a 100 TB run where the
    re-run costs days."""
    if fp_jaccard is None:
        fp_jaccard = threshold / 2
    for n in range(2, max_hashes + 1):
        for r in range(n, 0, -1):
            if n % r:
                continue
            b = n // r
            if b < 2:
                continue  # one band has no OR-amplification: never tunable
            if (
                lsh_collision_prob(threshold, r, b) >= target_recall
                and lsh_collision_prob(fp_jaccard, r, b) <= max_fp
            ):
                return MinHashParams(
                    n,
                    r,
                    b,
                    lsh_collision_prob(threshold, r, b),
                    lsh_collision_prob(fp_jaccard, r, b),
                )
    raise ValueError(
        f"no (band_size, n_bands) with ≤{max_hashes} hashes reaches "
        f"recall {target_recall} at s={threshold} while keeping "
        f"P(candidate | s={fp_jaccard}) ≤ {max_fp}; raise max_hashes or "
        "relax a constraint"
    )


#: The engine-default banding, chosen — not hand-picked — from the S-curve:
#: recall ≥ 0.98 at Jaccard 0.8 with ≤ 0.55 collision mass at 0.4. Resolves
#: to 8 hashes in 4 bands of 2; every pipeline below AND the DuckDB oracle
#: CTEs in plans/queries_llm.py derive their banding from this constant, so
#: the tuner is the single source of truth.
MINHASH_DEFAULTS = choose_minhash_params()
_BAND = ["band", "band_sig"]  # the text modality's LSH bucket key


# ------------------------------------------------------------ hash families


def portable_hash16(col) -> F.Column:
    """16-hex-char (64-bit) md5-prefix hash, identical in Spark and DuckDB."""
    return F.substring(F.md5(col), 1, 16)


def _hex_digit_value(hex_col: F.Column, pos: int) -> F.Column:
    """Value 0..15 of the 1-based `pos`-th hex digit — `conv` on the Spark
    side, `strpos('0123…f', …) - 1` on the DuckDB side; same result."""
    return F.conv(F.substring(hex_col, pos, 1), 16, 10).cast("int")


class _Family(NamedTuple):
    """What the two near-dup hash families differ in; every MinHash,
    SimHash and char-gram operator below has one body taking a family.

    `_FAST` is the production path: xxhash64 everywhere, 8-byte shuffle
    keys, ~2× cheaper to compute. `_PORTABLE` hashes with a prefix of md5's
    lowercase hex encoding, which Spark (`F.md5`) and DuckDB (`md5`)
    compute identically — so MinHash minima, LSH band signatures, SimHash
    bit votes and the char-gram sample are bit-for-bit reproducible in ANSI
    SQL and the full pipelines get a real value-hash oracle instead of a
    rows-only check. Ordering note: min() over fixed-length lowercase-hex
    strings is the same ordering as min() over the underlying 64-bit
    values, so string minhashes are real minhashes.

    `seed_hash(i)` returns seed i's one-argument hash of a shingle column.
    It is a factory, not a defaulted `lambda s, i=i`: F.transform (the
    streaming signature, `streaming/neardup.band_rows`) inspects a lambda's
    parameter count and would treat the defaulted form as the binary
    (element, index) lambda, silently replacing the seed with the index."""

    name: str
    shingle_t: str  # word_shingles' dtype: bigint (hashed) or string (raw)
    seed_hash: Callable[[int], Callable[[F.Column], F.Column]]
    prefix: str  # signature columns are <prefix>0 .. <prefix>{n-1}
    combine: Callable[..., F.Column]  # a band's minhashes → its band_sig
    store: Callable[[DataFrame], DataFrame]  # shingles → 8-byte store
    token_hash: Callable[[F.Column], F.Column]  # SimHash per-token hash
    simhash_bits: int
    bit: Callable[[F.Column, int], F.Column]  # bit i (0/1) of a token hash
    gram_key: Callable[[F.Column], F.Column]  # char gram → join key
    keep: Callable[[F.Column, int], F.Column]  # mod-p sample of a gram key
    sample_mods: tuple | None  # the moduli `keep` samples exactly

    @property
    def hashed(self) -> bool:
        return self.shingle_t == "bigint"


_FAST = _Family(
    name="fast-path",
    shingle_t="bigint",
    seed_hash=lambda i: lambda s: F.xxhash64(s, F.lit(i)),
    prefix="minhash_",
    combine=F.xxhash64,
    store=lambda shingles: shingles,
    token_hash=F.xxhash64,
    simhash_bits=64,
    bit=lambda h, i: F.shiftright(h, i).bitwiseAND(F.lit(1)),
    gram_key=F.xxhash64,
    keep=lambda g, mod: F.pmod(g, F.lit(mod)) == 0,
    sample_mods=None,
)
_PORTABLE = _Family(
    name="portable",
    shingle_t="string",
    seed_hash=lambda i: lambda s: portable_hash16(
        F.concat_ws("|", F.lit(str(i)), s)
    ),
    prefix="mh_",
    combine=lambda *mh: F.concat_ws("", *mh),
    # verification joins the raw shingles' 8-byte xxhash64 image
    store=lambda shingles: shingles.select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    ),
    token_hash=F.md5,
    # bit i of a token's hash is bit (i mod 4) of hex digit (i div 4)
    simhash_bits=32,
    bit=lambda hx, i: F.shiftright(
        _hex_digit_value(hx, i // 4 + 1), i % 4
    ).bitwiseAND(F.lit(1)),
    # grams stay raw strings (equality joins only); keep a gram iff
    # md5(gram)'s last hex digit ≡ 0 (mod p): a DIGIT (0..15), so only
    # divisors of 16 give the advertised 1/p keep rate
    gram_key=lambda g: g,
    keep=lambda g, mod: _hex_digit_value(F.md5(g), 32) % mod == 0,
    sample_mods=(1, 2, 4, 8, 16),
)


def normalized_text() -> F.Column:
    """Canonical text form for exact dedup: lower, trim, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup: keep the lowest doc_id per normalized text.
    Deterministic (unlike dropDuplicates, whose survivor is arbitrary)."""
    w = Window.partitionBy(normalized_text()).orderBy("doc_id")
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_shingles(docs: DataFrame, n: int = 3, hashed: bool = True) -> DataFrame:
    """Distinct word n-gram shingles per doc — as 64-bit xxhash64 values by
    default: every downstream consumer (distinct, signature agg, posting
    joins) shuffles 8-byte longs instead of ~n·word strings (measured 1.23 s
    → 1.0 s for the full minhash pipeline at sf0.1; at corpus scale the
    shuffle-width saving is the point). ``hashed=False`` keeps the raw
    string shingles for inspection.

    The token array is materialized in its own projection first: inlining
    `tokens_col()` into the transform lambda would re-run split+filter once
    per shingle position (O(len²) per doc — measured 4× slower at sf0.1)."""
    tokd = fan_out(docs).select("doc_id", tokens_col().alias("toks"))
    shingled = tokd.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
            )
        ).alias("shingle"),
    )
    shingled = shingled.filter(F.col("shingle") != "")
    if hashed:
        shingled = shingled.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return shingled.distinct()


def quarantine_empty_shingle_docs(docs: DataFrame):
    """Expectations-style routing of degenerate TEXT signatures (round-9
    verdict item 6, the word_shingles twin of
    multimodal.quarantine_degenerate_hashes): a doc with no tokens
    produces an EMPTY shingle set, so its minhash signature is undefined
    — every such doc would otherwise collapse into one all-NULL bucket,
    pure candidate noise. Returns `Validated(good, quarantined)`; `good`
    feeds word_shingles/minhash, `quarantined` carries the violated-rule
    tag. The rule mirrors word_shingles' own boundary exactly: shingles
    exist iff the token array is non-empty — deliberately INDEPENDENT of
    shingle width n (short docs below n tokens still emit one truncated
    shingle, so they stay in `good`), which is why this takes no n
    parameter."""
    from metrics_database_cron_script_spark.operators.expectations import validate

    return validate(
        docs,
        {
            "has_shingles": F.coalesce(
                F.size(tokens_col()) > 0, F.lit(False)
            )
        },
    )


def _signatures(
    fam: _Family, shingles: DataFrame, num_hashes: int | None, with_size: bool
) -> DataFrame:
    """doc_id → <prefix>0..<prefix>{n-1} in ONE aggregation pass: each
    seed's minhash is a separate `min(seed_hash(i)(shingle))` aggregate, so
    the shingle relation is scanned once and shuffled once — no seed
    fan-out (a naive seeds×shingles join multiplies the shuffle by
    num_hashes). `with_size=True` adds `sz`, the doc's distinct-shingle
    count, as one more aggregate of the SAME pass."""
    if num_hashes is None:
        num_hashes = MINHASH_DEFAULTS.num_hashes
    aggs = [
        F.min(fam.seed_hash(i)(F.col("shingle"))).alias(f"{fam.prefix}{i}")
        for i in range(num_hashes)
    ]
    if with_size:
        aggs.append(F.count(F.lit(1)).alias("sz"))
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16, with_size: bool = False
) -> DataFrame:
    """doc_id → minhash_0..minhash_{n-1}, each `min(xxhash64(shingle,
    seed))` over hashed shingles, in one aggregation pass.

    `with_size=True` adds `sz` = the doc's distinct-shingle count as one
    more aggregate of the SAME pass — the |A| term of Jaccard. Computing it
    here instead of as a separate groupBy over the shingles lets the
    verifier skip the per-doc size relation (one aggregation + one
    broadcast build fewer — round-6 job-floor shave): the size rides the
    banding rows into the candidate pairs."""
    return _signatures(_FAST, shingles, num_hashes, with_size)


def minhash_signatures_portable(
    shingles: DataFrame, num_hashes: int | None = None, with_size: bool = False
) -> DataFrame:
    """doc_id → mh_0..mh_{n-1} over raw string shingles: seed i's hash of a
    shingle is md5('<i>|' || shingle)[:16]; the per-seed minimum over hex
    strings equals the numeric minimum (fixed-length lowercase hex).
    `with_size` as in `minhash_signatures`."""
    return _signatures(_PORTABLE, shingles, num_hashes, with_size)


def _explode_bands(
    sigs: DataFrame,
    fam: _Family,
    num_hashes: int | None,
    band_size: int | None,
    carry: tuple = (),
) -> DataFrame:
    """The banding step of both families: split the `<prefix><i>`
    signature columns into num_hashes/band_size bands and explode one
    (doc_id, *carry, band, band_sig) row per band, band_sig being the
    family's `combine` over the band's columns — computed in one
    projection, then exploded (bands × docs rows, not hashes × docs)."""
    if num_hashes is None:
        num_hashes = MINHASH_DEFAULTS.num_hashes
    if band_size is None:
        band_size = MINHASH_DEFAULTS.band_size
    if num_hashes % band_size:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by band_size={band_size}:"
            " trailing minhashes would be computed but never banded, and"
            " recall would silently undershoot the (b, r) tuning formula"
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            fam.combine(
                *[F.col(f"{fam.prefix}{b * band_size + j}") for j in range(band_size)]
            ).alias("band_sig"),
        )
        for b in range(num_hashes // band_size)
    ]
    return sigs.select(
        "doc_id", *carry, F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", *carry, "bs.band", "bs.band_sig")


def _bands(
    fam: _Family,
    shingles: DataFrame,
    num_hashes: int | None,
    band_size: int | None,
    with_size: bool = False,
) -> DataFrame:
    """Shingles → (doc_id, [sz,] band, band_sig) band rows in `fam`."""
    carry = ("sz",) if with_size else ()
    sigs = _signatures(fam, shingles, num_hashes, with_size)
    return _explode_bands(sigs, fam, num_hashes, band_size, carry)


def _band_pairs(banded: DataFrame, carry: tuple) -> DataFrame:
    """The band self-join: docs sharing a (band, band_sig) bucket are
    candidates, as distinct (doc_a < doc_b) pairs. Each `carry` column `c`
    lands on the pair as `{c}_a` / `{c}_b`."""

    def side(s: str) -> DataFrame:
        return banded.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *_BAND,
        )

    return (
        side("a")
        .join(side("b"), _BAND)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *[f"{c}_{s}" for s in "ab" for c in carry])
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    band_size: int = 4,
    num_hashes: int = 16,
    carry: tuple = (),
) -> DataFrame:
    """Band the `minhash_signatures` output (LSH): docs sharing all
    minhashes of any band are candidates. Band signature = xxhash64 of the
    band's minhashes; the self-join key (band, band_sig) is the scale-out
    pivot.

    `carry` names signature columns to thread through the self-join: each
    column `c` lands on the pair as `{c}_a` / `{c}_b`. Used to ride the
    per-doc shingle count into Jaccard verification so no separate size
    relation (extra aggregation + broadcast build) is ever constructed."""
    banded = _explode_bands(signatures, _FAST, num_hashes, band_size, carry)
    return _band_pairs(banded, carry)


def verified_jaccard(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard on candidate pairs only, as (doc_a, doc_b, jaccard)
    rounded to 6 places.

    Sizes come in two shapes:
    - CARRIED: when `pairs` already has `sz_a`/`sz_b` columns (threaded
      through the banding self-join via `lsh_candidate_pairs(carry=
      ("sz",))` from a `minhash_signatures(with_size=True)` pass), |A∩B|
      comes from a shingle equi-join and |A∪B| is a projection; a pair
      with no shared shingle is absent.
    - DERIVED: otherwise one grouped pass over the pairs' endpoint
      shingles. Each pair contributes two endpoint rows (doc_id, doc_a,
      doc_b); the shingle relation joins them ONCE, one aggregate per
      (pair, shingle) marks the shingle shared when both endpoints hold
      it, and one per pair gives shared / all (both hash-partitioned on
      the pair, so one shuffle). There is no size relation and no
      self-join, so `shingles` is read once. Set semantics:
      duplicated (doc_id, shingle) rows — a store ∪ re-ingested batch —
      score as the distinct input does. A pair with no shared shingle
      scores 0.0; a pair with an endpoint that has no shingle is absent.
      The endpoint join adds no hint of its own. A broadcast hint on
      `pairs` reaches it (the endpoint rows are an explode of `pairs`, not
      a union): the daily refresh hints its O(batch) pairs, so the store
      is scanned once as the streamed side. Un-hinted, statistics plan
      it: a full build's O(corpus) pairs get a shuffle join."""
    if "sz_a" in pairs.columns and "sz_b" in pairs.columns:
        sa = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
        sb = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            pairs.join(sa, "doc_a")
            .join(sb, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return inter.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    ends = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"), "doc_a", "doc_b"
    )
    per_shingle = (
        shingles.select("doc_id", "shingle")
        .join(ends, "doc_id")
        # hashing on the pair serves both aggregates: one shuffle, not two
        .repartition("doc_a", "doc_b")
        .groupBy("doc_a", "doc_b", "shingle")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    )
    return (
        per_shingle.groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("lo") != F.col("hi")).cast("long")).alias("inter"),
            F.count(F.lit(1)).alias("total"),
            # both endpoints hold a shingle; a pair with a shingle-less
            # endpoint stays unscored (the star-edge scorers coalesce it)
            (F.min("lo") != F.max("hi")).alias("both"),
        )
        .filter("both")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("total"), 6).alias("jaccard"),
        )
    )


def _near_dups(
    fam: _Family,
    docs: DataFrame,
    num_hashes: int | None,
    band_size: int | None,
    shingles: DataFrame | None = None,
    verify: bool = True,
) -> DataFrame:
    """shingle → sign → band → candidate pairs → exact-Jaccard
    verification, in `fam`. Nothing is persisted: the shingle relation's
    three consumers (signatures + both sides of the verification join)
    share its shuffle by exchange reuse, and a persist here could never be
    released — the caller receives a lazy plan."""
    if shingles is None:
        shingles = word_shingles(docs, hashed=fam.hashed)
    banded = _bands(fam, shingles, num_hashes, band_size, with_size=True)
    pairs = _band_pairs(banded, ("sz",))
    if not verify:
        return pairs.select("doc_a", "doc_b")
    return verified_jaccard(fam.store(shingles), pairs)


def minhash_near_dups(
    docs: DataFrame, num_hashes: int | None = None, band_size: int | None = None
) -> DataFrame:
    """Full MinHash near-dup pipeline: shingle → sign → band → candidate
    pairs → exact-Jaccard verification (verification cost ∝ candidates).
    Banding defaults to the S-curve-chosen `MINHASH_DEFAULTS` (round 5:
    the previous hand-picked 16 hashes in 4 bands of 4 had recall 0.88 at
    Jaccard 0.8 — the tuner reaches 0.98 with HALF the hashes)."""
    return _near_dups(_FAST, docs, num_hashes, band_size)


def minhash_near_dups_portable(
    docs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
    shingles: DataFrame | None = None,
    verify: bool = True,
) -> DataFrame:
    """`minhash_near_dups` on portable hashes over raw word 3-gram strings:
    every intermediate is reproducible in DuckDB SQL, so the whole
    pipeline is value-hash-checked, not rows-only.

    `shingles` lets a caller that already built (and persisted) the
    word-shingle relation share it instead of paying the tokenize/shingle
    shuffle twice; `verify=False` stops at the raw candidate pairs
    (doc_a, doc_b) — what banding-quality measurements like
    x_minhash_recall consume."""
    return _near_dups(_PORTABLE, docs, num_hashes, band_size, shingles, verify)


def _simhash(fam: _Family, docs: DataFrame, bits: int) -> DataFrame:
    """`bits`-wide SimHash per doc: each token's hash votes ±count on every
    bit, the sign of the vote sets the bit. One explode + one groupBy with
    `bits` compiled conditional aggregates — single shuffle, no UDF."""
    tok_counts = (
        fan_out(docs).select("doc_id", F.explode(tokens_col()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", fam.token_hash("token"))
    )
    votes = [
        F.sum(
            F.when(fam.bit(F.col("h"), i) == 1, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    voted = tok_counts.groupBy("doc_id").agg(*votes)
    terms = [
        F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(bits)
    ]
    return voted.select("doc_id", sum(terms[1:], terms[0]).alias("simhash"))


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc over per-token xxhash64."""
    return _simhash(_FAST, docs, _FAST.simhash_bits)


def simhash_portable(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash on md5 bits: bit i of a token's hash is bit (i mod 4)
    of the value of hex digit (i div 4) of md5(token) — a fixed mapping both
    engines can compute."""
    return _simhash(_PORTABLE, docs, bits)


def _simhash_near_dups(fam: _Family, docs: DataFrame, max_hamming: int) -> DataFrame:
    """Hamming-LSH over `fam`'s SimHash: split the hash into 4 chunks; any
    pair that shares a chunk is a candidate (pigeonhole guarantees recall
    for hamming ≤ 3 with 4 chunks; wider distances are best-effort).
    Verification = bit_count(xor), the operator DuckDB also exposes."""
    width = fam.simhash_bits // 4
    sh = _simhash(fam, docs, fam.simhash_bits)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_id"),
                        F.shiftright("simhash", j * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "chunk_id", "chunk"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "chunk_id", "chunk"
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def simhash_near_dups(docs: DataFrame, max_hamming: int = 16) -> DataFrame:
    """Hamming-LSH over the 64-bit SimHash: 4 chunks of 16 bits."""
    return _simhash_near_dups(_FAST, docs, max_hamming)


def simhash_near_dups_portable(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Hamming-LSH over the portable 32-bit SimHash: 4 chunks of 8 bits."""
    return _simhash_near_dups(_PORTABLE, docs, max_hamming)


def _char_ngram_jaccard(
    fam: _Family,
    docs: DataFrame,
    n: int,
    min_jaccard: float,
    max_df: int,
    sample_mod: int,
) -> DataFrame:
    """Char n-gram Jaccard over discriminative, mod-p-sampled grams in
    `fam` (see `char_ngram_jaccard`). Nothing is persisted: `grams` and
    `rare` each feed several consumers, which share their shuffles by
    exchange reuse; a persist could never be released from a lazy plan."""
    if fam.sample_mods is not None and sample_mod not in fam.sample_mods:
        raise ValueError(
            f"sample_mod={sample_mod}: the {fam.name} sampling rule keeps"
            f" exactly 1/sample_mod of the grams only for {fam.sample_mods}"
            " (on md5's last hex digit, 5 would keep 4/16 and 32 would"
            " silently behave as 16)"
        )
    exploded = fan_out(docs).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.length("text") - n, F.lit(0))),
                lambda i: F.col("text").substr(i + 1, F.lit(n)),
            )
        ).alias("gram"),
    )
    keyed = exploded.select("doc_id", "source", fam.gram_key(F.col("gram")).alias("gram"))
    if sample_mod > 1:
        keyed = keyed.filter(fam.keep(F.col("gram"), sample_mod))
    grams = keyed.distinct()
    df = grams.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("df"))
    rare = grams.join(df.filter(F.col("df") <= max_df), ["source", "gram"])
    ra = rare.select(F.col("doc_id").alias("doc_a"), "source", "gram")
    rb = rare.select(F.col("doc_id").alias("doc_b"), "source", "gram")
    inter = (
        ra.join(rb, ["source", "gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # same aliased `sizes` plan on both joins: the second broadcast build
    # is a ReusedExchange (round-5 job-floor shave), not a re-aggregation
    za, zb = sizes.alias("za"), sizes.alias("zb")
    return (
        inter.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("za.sz") + F.col("zb.sz") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def char_ngram_jaccard(
    docs: DataFrame,
    n: int = 6,
    min_jaccard: float = 0.5,
    max_df: int = 32,
    sample_mod: int = 8,
) -> DataFrame:
    """Char n-gram Jaccard over DISCRIMINATIVE grams: grams with document
    frequency > max_df inside the `source` block are excluded from numerator
    and denominator symmetrically — they occur in ~every doc of the block,
    so they carry no near-dup signal, only O(|block|²) join cost (the
    inverted-index stop-gram rule; measured 33 s → ~10 s at sf0.1 on
    shared-vocabulary text). The Jaccard is computed in ONE pass by
    aggregating the rare-gram posting-list self-join; all join keys are
    64-bit gram hashes, never strings.

    `sample_mod` applies Broder's mod-p shingle sampling (keep grams with
    hash ≡ 0 mod p) immediately after hashing: both docs of any pair keep
    the SAME gram subset, so the sampled-set Jaccard is an unbiased
    estimate of the true Jaccard, while every downstream shuffle shrinks
    ×p and the posting self-join ×p² (measured 2.5 s → 1.1 s at sf0.1
    with identical output pairs; at 100 TB this is the difference between
    a feasible and an infeasible join). `sample_mod=1` disables sampling
    (exact)."""
    return _char_ngram_jaccard(_FAST, docs, n, min_jaccard, max_df, sample_mod)


def char_ngram_jaccard_portable(
    docs: DataFrame,
    n: int = 6,
    min_jaccard: float = 0.5,
    max_df: int = 32,
    sample_mod: int = 8,
) -> DataFrame:
    """`char_ngram_jaccard` with Broder mod-p sampling driven by a portable
    rule — keep a gram iff the value of md5(gram)'s last hex digit ≡ 0
    (mod `sample_mod`) — so the sampled gram subset, and therefore the
    estimated Jaccard, is reproducible in DuckDB. Grams stay raw strings
    (equality joins only); the df > max_df stop-gram rule is unchanged.
    `sample_mod` must divide 16."""
    return _char_ngram_jaccard(_PORTABLE, docs, n, min_jaccard, max_df, sample_mod)


def _dedup_pipeline(
    fam: _Family,
    docs: DataFrame,
    min_words: int,
    min_alpha_ratio: float,
    max_jaccard: float,
) -> DataFrame:
    """Quality gate → exact dedup → near-dup loser drop, the near-dup
    stage in `fam`: one body, so the families cannot drift on gate
    thresholds or survivor policy."""
    quality_ok = docs.filter(
        (F.size(tokens_col()) >= min_words)
        & (
            F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
            >= F.length("text") * min_alpha_ratio
        )
    )
    exact = exact_dedup(quality_ok)
    near_pairs = _near_dups(fam, exact, None, None).filter(
        F.col("jaccard") >= max_jaccard
    )
    losers = near_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return exact.join(losers, "doc_id", "left_anti")


def dedup_pipeline(
    docs: DataFrame,
    min_words: int = 10,
    min_alpha_ratio: float = 0.5,
    max_jaccard: float = 0.85,
) -> DataFrame:
    """The composed training-data dedup pipeline, as run before tokenization:

      1. quality gate  — drop short / non-text docs (cheap codegen filter);
      2. exact dedup   — keep lowest doc_id per normalized text;
      3. near-dup drop — MinHash candidates verified by exact Jaccard; of
         each surviving pair above `max_jaccard`, the higher doc_id loses.

    Returns the kept documents. Every stage is set-based; the only joins are
    hash-bucket equi-joins, so the composition inherits the scale posture of
    its parts.
    """
    return _dedup_pipeline(_FAST, docs, min_words, min_alpha_ratio, max_jaccard)


def dedup_pipeline_portable(
    docs: DataFrame,
    min_words: int = 10,
    min_alpha_ratio: float = 0.5,
    max_jaccard: float = 0.85,
) -> DataFrame:
    """`dedup_pipeline` with the near-dup stage on the portable MinHash
    pipeline, making the full composed survivor set SQL-checkable."""
    return _dedup_pipeline(_PORTABLE, docs, min_words, min_alpha_ratio, max_jaccard)


def _loop_scratch(sess) -> tuple:
    """(path, cleanup) for iterative-loop state parquet round-trips.

    The path must be writable by executors and readable back by the
    session's DataFrameReader — i.e. cluster-visible shared storage. The
    SparkContext checkpoint dir carries exactly that contract, so it is
    preferred when set (cleanup goes through the Hadoop FileSystem of the
    path, which handles hdfs:// / s3a:// schemes). A driver-local tempdir
    is only correct when driver and executors share a filesystem, so it is
    gated on local mode; anything else refuses loudly instead of reading
    partial loop state."""
    import shutil
    import tempfile
    import uuid

    sc = sess.sparkContext
    ckpt = sc.getCheckpointDir()
    if ckpt:
        path = ckpt.rstrip("/") + f"/cc-scratch-{uuid.uuid4().hex[:12]}"

        def cleanup() -> None:
            jpath = sess._jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(jpath, True)

        return path, cleanup
    if sc.master.startswith("local"):
        tmp = tempfile.mkdtemp(prefix="cc_labels_")
        return tmp, lambda: shutil.rmtree(tmp, ignore_errors=True)
    raise RuntimeError(
        "connected_components materializes per-round loop state to shared "
        "storage; on a cluster set a cluster-visible scratch root first: "
        "spark.sparkContext.setCheckpointDir('hdfs://...:/scratch')"
    )


# Residuals at or under this row count are solved exactly with a
# driver-side union-find (bounded collect, same budget class as a
# broadcast build) instead of the isolated-session distributed loop,
# whose per-round job floor measured ~2 s to move labels across a 14-row
# decade-corpus residual (BENCH_COMPONENTS_DECOMP_BEFORE.json).
_DRIVER_RESIDUAL_MAX = 100_000


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 50,
    on_round=None,
) -> DataFrame:
    """Connected components over near-dup pairs → dedup clusters
    (pairs alone can't drive dedup: transitive groups A~B~C must collapse
    to one representative).

    Two-phase, sized for clique-heavy duplicate graphs (phase 1 reshaped
    in round 12 — same result, ~3× fewer full-scale shuffle passes; see
    BENCH_COMPONENTS_DECOMP_BEFORE.json / OPTIMIZATION_r12.md):

    1. COLLAPSE on the DIRECTED normalized edge set. Pairs are normalized
       to (least, greatest); after that, min over a node's CLOSED
       neighborhood equals min over its SMALLER neighbors (any larger
       neighbor loses to the node itself), so the base labeling is ONE
       map-combined hash aggregation over the directed pairs (doc_b rows
       contribute their smaller partner, doc_a-side and self-loop nodes
       contribute themselves, min per node). The old shape symmetrized +
       distinct'd the edge set (2× rows, one full extra shuffle) to
       compute the identical labels, then ran two pointer-jump self-joins
       (four more full-label shuffles) whose only effect was shrinking a
       residual that phase 2's driver union-find absorbs regardless. The
       DIRECTED edge set is then CONTRACTED through the labels
       (self-loops dropped, deduped). Duplicate cliques collapse onto
       their hubs here, so on clique-heavy dedup graphs the residual is
       the tiny inter-cluster link structure (measured at the 12.8 M-doc
       decade corpus: 13.0 M pairs contract to a residual in the
       tens-to-hundreds of rows). High-diameter (chain-like) graphs
       barely contract: a path's residual is ~|E| rows, so past
       _DRIVER_RESIDUAL_MAX the distributed loop below iterates on
       nearly the whole edge set.
    2. SOLVE the residual. A residual at or under _DRIVER_RESIDUAL_MAX
       rows (it is already counted) is solved exactly with a driver-side
       union-find — the same bounded-collect budget a broadcast join
       spends, replacing an isolated-session distributed loop whose
       per-round job floor cost ~2 s/round to propagate labels over a
       14-row graph. Larger residuals run the distributed loop: min-label
       propagation with two pointer jumps per round (propagation distance
       ~×4 per round, so long chains converge in O(log diameter) rounds;
       measured: a 10^6-node path converges in 11 rounds ≈ log4(10^6)+1)
       until a fixpoint. Loop state alternates between two parquet slots
       in a scratch dir (each round overwrites the slot the round before
       last wrote), so no per-round checkpoints accumulate. The loop runs
       in an ISOLATED SparkSession (shared context, private SQLConf)
       whose shuffle width is sized to the residual — the caller's
       session conf is never touched, so concurrent queries on it can't
       race the override.
    3. COMPOSE: final(doc) = residual_component(label(doc)), one join
       (broadcast when the residual was solved on the driver; a residual
       past _DRIVER_RESIDUAL_MAX — what a path-like graph leaves — is
       joined without a broadcast hint).

    Scratch placement: loop state must be readable by every executor AND
    the driver, so the scratch dir lives under the SparkContext's
    checkpoint dir when one is set (that is exactly its contract on a
    cluster); without one, a driver-local tempdir is used in local mode
    only — on a cluster master the function refuses and asks for
    `setCheckpointDir` rather than silently reading partial state.

    Correctness: labels only ever shrink and a component's global min
    labels itself, so it survives contraction and the composed mapping
    resolves every member to the true min. Raises (never returns partial
    labels — they would silently keep duplicate representatives) if a
    DISTRIBUTED residual loop doesn't converge within `max_iterations`
    rounds; coverage is ~4^rounds hops, so the default cap of 50 only
    trips on graphs beyond any physical corpus (diameter > 4^49). The
    driver union-find path is exact by construction and never iterates.

    Input: (doc_a, doc_b) undirected edges. Output: (doc_id, component)
    where component = min doc_id reachable. `on_round`, when given,
    receives the residual's changed-label count per round.
    """

    def _jump(lbl: DataFrame) -> DataFrame:
        # label(x) ← min(label(x), label(label(x))): the invariant
        # label(x) ≤ x holds throughout (labels start as ids and only
        # shrink), so the looked-up label can only improve.
        j = lbl.select(
            F.col("doc_id").alias("__jid"), F.col("component").alias("__jlbl")
        )
        return lbl.join(j, lbl["component"] == j["__jid"], "left").select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce("__jlbl", F.col("component"))
            ).alias("component"),
        )

    # Normalize to DIRECTED (least, greatest) pairs once: after this, a
    # node's smaller neighbors are exactly its doc_a-side partners, so the
    # closed-neighborhood min never needs the symmetrized (2×-row,
    # distinct'd) edge set the old shape built. Checkpointed because three
    # legs reference it (a-side nodes, the min agg, the contraction) and
    # the caller's pair DAG may be an expensive shuffle.
    norm = pairs.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    ).localCheckpoint(eager=True)
    edges = norm.filter(F.col("doc_a") != F.col("doc_b"))

    # ---- phase 1: collapse cliques, contract to the residual graph
    # base(x) = min(x, min neighbors(x)) = min(x, min SMALLER neighbors)
    # after normalization (any larger neighbor loses to x itself) — ONE
    # map-combined hash aggregation: each doc_b row contributes its
    # smaller partner as a candidate, each doc_a-side (and self-loop)
    # node contributes itself, min(cand) per node is the closed-
    # neighborhood min. No symmetrized+distinct'd edge set, no pointer
    # jumps: the old shape's two shuffle jumps only shrank a residual the
    # driver union-find below absorbs anyway (decade corpus: 14 rows with
    # jumps vs a few hundred without — both driver-solved), and each
    # jump cost two more full-label shuffles.
    base = (
        edges.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("cand"))
        .unionByName(
            edges.select(
                F.col("doc_a").alias("doc_id"), F.col("doc_a").alias("cand")
            )
        )
        .unionByName(
            norm.filter(F.col("doc_a") == F.col("doc_b")).select(
                F.col("doc_a").alias("doc_id"), F.col("doc_a").alias("cand")
            )
        )
        .groupBy("doc_id")
        .agg(F.min("cand").alias("component"))
        .localCheckpoint(eager=True)
    )
    la = base.select(F.col("doc_id").alias("__ja"), F.col("component").alias("__ls"))
    lb = base.select(F.col("doc_id").alias("__jb"), F.col("component").alias("__ld"))
    residual = (
        edges.join(la, edges["doc_a"] == la["__ja"])
        .join(lb, edges["doc_b"] == lb["__jb"])
        .filter(F.col("__ls") != F.col("__ld"))
        .select(F.col("__ls").alias("src"), F.col("__ld").alias("dst"))
        .distinct()
    )
    residual = residual.unionByName(
        residual.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    n_res = residual.count()
    if n_res == 0:
        return base
    if n_res <= _DRIVER_RESIDUAL_MAX:
        # Solve the residual exactly with a driver-side union-find: the
        # collect is bounded by the same budget a broadcast join spends
        # (≤ _DRIVER_RESIDUAL_MAX 2-long rows), and it replaces a
        # distributed loop whose per-round job floor (isolated session,
        # parquet round-trips, ~6 small jobs/round) measured ~2 s/round
        # to propagate labels over a 14-row decade-corpus residual.
        parent: dict = {}

        def _find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in residual.collect():
            ra, rb = _find(r["src"]), _find(r["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        sol = [(n, _find(n)) for n in list(parent)]
        sol = [(n, c) for n, c in sol if n != c]
        id_t = dict(norm.dtypes)["doc_a"]
        labels = pairs.sparkSession.createDataFrame(
            sol, f"doc_id {id_t}, component {id_t}"
        )
        s = labels.select(
            F.col("doc_id").alias("__sk"), F.col("component").alias("__sv")
        )
        return base.join(
            F.broadcast(s), base["component"] == s["__sk"], "left"
        ).select(
            "doc_id",
            F.coalesce("__sv", F.col("component")).alias("component"),
        )

    # ---- phase 2: iterate to fixpoint on the residual
    # Only a residual past _DRIVER_RESIDUAL_MAX gets here. On clique-heavy
    # dedup graphs it is still far smaller than the input; a high-diameter
    # (path-like) graph contracts poorly and keeps ~|E| rows. Either way,
    # the loop's shuffles would run at the session's data-sized width
    # (e.g. 91 partitions for the decade corpus) — fixed per-task cost ×
    # stages × rounds dominated the loop (measured ~12 s/round on a few
    # thousand rows). The loop therefore runs in an ISOLATED session
    # (sess.newSession(): shared SparkContext, private SQLConf) sized to
    # the residual; the caller's session conf is never mutated, so any
    # concurrent query on it keeps its width. Loop state crosses the
    # session boundary through the scratch parquet it already round-trips.
    sess = pairs.sparkSession
    sess_parts = sess.conf.get("spark.sql.shuffle.partitions", None)
    loop_parts = max(4, min(int(sess_parts or 200), n_res // 100_000 + 4))
    scratch, cleanup = _loop_scratch(sess)
    loop = sess.newSession()
    for k in ("spark.sql.adaptive.enabled", "spark.sql.session.timeZone"):
        v = sess.conf.get(k, None)
        if v is not None:
            loop.conf.set(k, v)
    loop.conf.set("spark.sql.shuffle.partitions", str(loop_parts))

    # Loop-state materialization goes through a PARQUET round-trip, not
    # localCheckpoint: Dataset.localCheckpoint carries the origin plan's
    # computed Statistics into the new LogicalRDD, and each round's
    # self-joins (the pointer jumps) SQUARE that sizeInBytes — after ~10
    # rounds Catalyst is multiplying million-digit BigInts and a single
    # stats visit takes minutes (measured; the thread was pinned inside
    # BigInteger.multiplyToomCook3). A parquet leaf restarts every round
    # from real file-sized stats. Each round writes O(residual) rows:
    # milliseconds on a clique-heavy residual, a full pass over ~|E| rows
    # on a poorly contracting path-like one. The scratch dir is removed in
    # the finally below.
    def _materialize(df: DataFrame, slot: int) -> DataFrame:
        path = scratch + f"/labels-{slot & 1}"
        df.write.mode("overwrite").parquet(path)
        return loop.read.parquet(path)

    converged = False
    try:
        residual.write.mode("overwrite").parquet(scratch + "/residual")
        residual_l = loop.read.parquet(scratch + "/residual")
        labels = (
            residual_l.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("component", F.col("doc_id"))
        )
        for rnd in range(max_iterations):
            neighbor_min = (
                residual_l.join(labels, residual_l["dst"] == labels["doc_id"])
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = labels.join(
                neighbor_min, labels["doc_id"] == neighbor_min["src"], "left"
            ).select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
            )
            new_labels = _materialize(_jump(_jump(stepped)), rnd)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels = new_labels
            if on_round is not None:
                on_round(changed)
            if changed == 0:
                converged = True
                break
        if converged:
            # the final labels live in the scratch dir about to be removed
            # — pin them in the CALLER's session first (phase 3 joins them
            # against `base` at the session's full-scale width)
            labels.write.mode("overwrite").parquet(scratch + "/labels-final")
            labels = sess.read.parquet(scratch + "/labels-final").localCheckpoint(
                eager=True
            )
    finally:
        cleanup()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations on the contracted residual (coverage ~4^rounds "
            "hops) — raise max_iterations"
        )

    # ---- phase 3: compose base labels through the residual solution
    s = labels.select(
        F.col("doc_id").alias("__sk"), F.col("component").alias("__sv")
    )
    return base.join(s, base["component"] == s["__sk"], "left").select(
        "doc_id",
        F.coalesce("__sv", F.col("component")).alias("component"),
    )


def _dedup_clusters(fam: _Family, docs: DataFrame, min_jaccard: float) -> DataFrame:
    """MinHash pairs in `fam` above `min_jaccard` → connected components →
    one representative (min doc_id) per cluster."""
    pairs = _near_dups(fam, docs, None, None).filter(F.col("jaccard") >= min_jaccard)
    comps = connected_components(pairs)
    return comps.withColumn(
        "is_representative", F.col("doc_id") == F.col("component")
    )


def dedup_clusters(docs: DataFrame, min_jaccard: float = 0.5) -> DataFrame:
    """Cluster-level near-dup dedup: MinHash pairs above `min_jaccard` →
    connected components → one surviving representative (min doc_id) per
    cluster. Returns (doc_id, component, is_representative)."""
    return _dedup_clusters(_FAST, docs, min_jaccard)


def dedup_clusters_portable(docs: DataFrame, min_jaccard: float = 0.5) -> DataFrame:
    """`dedup_clusters` on the portable MinHash pipeline. Every stage —
    including the LSH banding — is reproducible in DuckDB (pairs via the
    portable md5 minhash, components via a recursive CTE), so the cluster
    assignment is value-hash-checked end to end."""
    return _dedup_clusters(_PORTABLE, docs, min_jaccard)


def fuzzy_pairs_edit1(df: DataFrame, key: str, text: str) -> DataFrame:
    """Exact edit-distance-1 pair mining via FastSS deletion-neighborhood
    blocking: every string emits itself plus each single-character-deletion
    variant; two strings within Levenshtein distance 1 necessarily share a
    variant, so the variant equi-join finds ALL such pairs (complete, not
    approximate), and a final `levenshtein` check discards the distance-2
    candidates the blocking over-generates. O(n·len) variant rows and a
    hash equi-join — never the O(n²) cross product a naive fuzzy join
    needs. Variants are 64-bit hashes so the shuffle key is 8 bytes."""
    src = fan_out(df.select(key, text))
    variants = src.select(
        F.col(key),
        F.col(text),
        F.explode(
            F.concat(
                F.array(F.col(text)),
                F.expr(
                    # backticked: raw interpolation breaks on column names
                    # with spaces/reserved words
                    f"transform(sequence(1, length(`{text}`)),"
                    f" i -> concat(substr(`{text}`, 1, i - 1),"
                    f" substr(`{text}`, i + 1)))"
                ),
            )
        ).alias("variant"),
    ).select(key, text, F.xxhash64("variant").alias("vh")).distinct()
    a = variants.select(
        F.col(key).alias("key_a"), F.col(text).alias("text_a"), "vh"
    )
    b = variants.select(
        F.col(key).alias("key_b"), F.col(text).alias("text_b"), "vh"
    )
    return (
        a.join(b, "vh")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "text_a", "text_b")
        .distinct()
        .filter(F.levenshtein("text_a", "text_b") <= 1)
        .select("key_a", "key_b")
    )


def shingle_edges(docs: DataFrame, n: int = 8) -> DataFrame:
    """Near-dup graph edges: (doc_a, doc_b) pairs sharing at least one exact
    n-token shingle. Unlike the MinHash/SimHash candidate generators, the
    edge relation here is fully deterministic given the corpus (shingle
    equality, no banding), so a SQL oracle can reproduce it — shingles are
    still joined as 64-bit hashes (equality-preserving) so the posting-list
    self-join shuffles 8-byte keys."""
    sh = word_shingles(docs, n=n)  # hashed + distinct
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def star_edges(
    posting: DataFrame, bucket_cols: list[str], doc_col: str = "doc_id"
) -> DataFrame:
    """Clique-collapsed edges for COMPONENT building: per bucket, connect
    every member to the bucket's MIN doc (the hub) instead of emitting all
    O(k²) member pairs. The star graph is a subgraph of the clique graph,
    and any two same-bucket docs are connected through the hub — so the
    connected components are IDENTICAL, at O(Σk) edges instead of O(Σk²).

    This is the 100 TB answer to duplicate cliques: the SFXL corpus
    (5 000 base docs × 256 near-identical replicas) has ≈163 M true
    near-dup PAIRS — any pair-enumerating plan must materialize them —
    but only 1.27 M star edges, and cluster-level dedup only ever needs
    the components. Pair enumeration stays available (shingle_edges /
    minhash_near_dups*) for workloads that need per-pair scores; use the
    star path whenever the consumer is connected_components.
    One agg + one equi-join on the bucket key, both well-distributed."""
    mins = posting.groupBy(*bucket_cols).agg(F.min(doc_col).alias("__hub"))
    return (
        posting.join(mins, bucket_cols)
        .filter(F.col(doc_col) != F.col("__hub"))
        .select(F.col("__hub").alias("doc_a"), F.col(doc_col).alias("doc_b"))
        .distinct()
    )


def shingle_components_star(docs: DataFrame, n: int = 8) -> DataFrame:
    """`x_shingle_components` semantics (docs sharing an exact n-token
    shingle are in one cluster) via star edges: identical (doc_id,
    component) output to components-over-`shingle_edges`, but the edge
    relation is O(posting) instead of O(Σ bucket²) — the only shape that
    survives a corpus whose duplicate clusters are large."""
    return connected_components(
        star_edges(word_shingles(docs, n=n), ["shingle"])
    )


def minhash_components_star(
    docs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup CLUSTERS from the portable MinHash banding without pair
    enumeration: LSH band buckets → star edges → connected components.
    Components equal those of the unverified candidate-pair graph (every
    band bucket is a clique there), so cluster-level dedup of a
    clique-heavy corpus costs O(docs · bands) edges — pair output on the
    same corpus is quadratic in clique size. No Jaccard verification:
    banding false positives merge clusters (tune band_size up via
    `choose_minhash_params` when precision matters more than cost)."""
    if shingles is None:
        shingles = word_shingles(docs, hashed=False)
    banded = _minhash_bands(shingles, _PORTABLE, num_hashes, band_size)[0]
    return connected_components(star_edges(banded, _BAND))


def minhash_components_star_refresh(
    index_bands: DataFrame,
    batch_docs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Cluster refresh after a daily batch WITHOUT recomputing the corpus
    (round-6 verdict item 7): `index_bands` is the PERSISTED LSH band
    index — `lsh_bands_portable` rows (doc_id, band, band_sig) written
    once when each doc entered the corpus — and only the BATCH pays
    shingle+signature compute here. Band rows are a pure function of each
    doc's own text, so index ∪ batch-bands ≡ the band rows of a full
    recompute, and the star-edge components are IDENTICAL to
    `minhash_components_star` over corpus+batch (the oracle equivalence
    `x_minhash_components_incremental` checks). At the 12.8 M-doc decade
    corpus the signature compute is ~90% of the 734 s full-recompute wall
    — this is the path that makes daily cluster maintenance viable."""
    batch_bands = _minhash_bands(
        word_shingles(batch_docs, hashed=False), _PORTABLE, num_hashes, band_size
    )[0]
    all_bands = index_bands.select("doc_id", "band", "band_sig").unionByName(
        batch_bands
    )
    return connected_components(star_edges(all_bands, _BAND))


def minhash_components_verified(
    docs: DataFrame,
    min_jaccard: float = 0.8,
    num_hashes: int | None = None,
    band_size: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Precision-guarded near-dup clusters: the star-edge path of
    `minhash_components_star` with each (hub, member) edge SCORED by exact
    Jaccard and dropped below `min_jaccard` BEFORE components run.

    Why: unverified banding false positives MERGE clusters permanently
    (round-5 verdict; measured at SFXL: 3,584 star components vs 4,756
    from exact shingle edges — material over-merging with the
    recall-biased 8×2 banding). Verifying star edges costs O(edges) exact
    Jaccard — NOT the O(pairs) enumeration the star path exists to avoid —
    so the precision guard keeps the linear-edge scale posture.

    Trade-off (documented, inherent): verification can only REMOVE edges,
    so over-merging is gone, but a member whose hub link is a banding
    false positive loses its transitive path through that hub even if it
    has a true near-dup elsewhere in the bucket — cluster recall can dip
    below the unverified star path. BENCH_NEARDUP_SFXL.json records both
    deltas at 12.8 M docs (its script is in git history at ffd3cd8)."""
    own_persist = shingles is None
    if own_persist:
        shingles = word_shingles(docs, hashed=False).persist()
    try:
        banded = _minhash_bands(shingles, _PORTABLE, num_hashes, band_size)[0]
        edges = star_edges(banded, _BAND)
        scored = verified_jaccard(_PORTABLE.store(shingles), edges)
        good = scored.filter(F.col("jaccard") >= min_jaccard).select(
            "doc_a", "doc_b"
        )
        # connected_components materializes eagerly (localCheckpoint /
        # parquet loop state), so the returned frame no longer reads the
        # shingle cache — a locally created persist can be released here
        # instead of leaking one cached relation per call
        return connected_components(good)
    finally:
        if own_persist:
            shingles.unpersist()


def _hub_edges(postings: DataFrame, bucket: list[str]) -> DataFrame:
    """The bucket-hub step shared by the full star-edge builders: per
    bucket the hub is min(doc_id), and every other member contributes one
    (bucket, doc_a=hub, doc_b=member) edge."""
    hubs = postings.groupBy(*bucket).agg(F.min("doc_id").alias("doc_a"))
    return (
        postings.join(hubs, bucket)
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select(*bucket, "doc_a", F.col("doc_id").alias("doc_b"))
    )


def _endpoint_ids(edges: DataFrame) -> DataFrame:
    """Distinct doc_ids at either end of an edge relation: the keys the
    image refresh scorer (`multimodal.refresh_phash_star_edges`)
    semi-restricts its hash store to. The text scorers need none: their
    `verified_jaccard` joins the endpoints itself."""
    return (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def scored_star_edges(
    bands: DataFrame,
    shingles: DataFrame,
    reuse_scores: DataFrame | None = None,
) -> DataFrame:
    """Bucket-attributed, Jaccard-scored star edges: for each LSH bucket
    (band, band_sig), the hub (min doc_id) connects to every other member,
    and each (hub, member) edge carries its EXACT Jaccard — the persisted
    edge-state schema of the verified incremental dedup path:

        (band, band_sig, doc_a, doc_b, jaccard)

    Keeping the bucket key on every edge is what makes the daily refresh
    O(batch): edges carry forward verbatim unless their bucket's hub is
    displaced (`_refresh_star_edges`); displaced buckets are recomputed
    here.
    Row count equals the band-index posting count minus one hub row per
    bucket — the state grows linearly with the index, never with pairs.

    `reuse_scores` (a previous edge state) short-circuits verification for
    pairs already scored: Jaccard is intrinsic to the pair (docs are
    immutable), so a pair-level left join replaces the shingle-join
    verification for every previously seen pair, and only genuinely NEW
    pairs touch the shingle store. A monotone-id batch (new docs get new,
    larger ids — the production append contract) never displaces a hub, so
    every recomputed corpus-member edge is a reuse hit and verification
    cost is O(batch edges) exactly as the round-6 verdict asked. Non-
    monotone ids stay CORRECT (the displaced bucket's edges re-verify
    against the store) — they just pay more.

    `shingles` must cover every doc that can appear in a NEW pair; pass
    8-byte hashed shingles (`word_shingles(hashed=True)` keyspace) — the
    decade run's string-shingle verification join spilled >200 GB before
    the hashed-key rewrite. `verified_jaccard` reads it once, joined to
    the new pairs' endpoints, with set semantics, so a store ∪ batch
    relation that repeats a re-ingested doc's rows needs no distinct().
    A pair whose endpoint has no shingle scores 0.0 instead of vanishing,
    keeping the state total over its edge set."""
    edges = _hub_edges(bands, _BAND)
    cols = [*_BAND, "doc_a", "doc_b", "jaccard"]
    if reuse_scores is not None:
        known = reuse_scores.select("doc_a", "doc_b", "jaccard").distinct()
        edges = edges.join(known, ["doc_a", "doc_b"], "left")
        hits = edges.filter(F.col("jaccard").isNotNull()).select(*cols)
        misses = edges.filter(F.col("jaccard").isNull()).drop("jaccard")
    else:
        hits, misses = None, edges
    pairs = misses.select("doc_a", "doc_b").distinct()
    scored = verified_jaccard(shingles, pairs)
    out = (
        misses.join(scored, ["doc_a", "doc_b"], "left")
        .withColumn("jaccard", F.coalesce("jaccard", F.lit(0.0)))
        .select(*cols)
    )
    return out if hits is None else hits.unionByName(out)


def lsh_bands(
    sigs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """`minhash_signatures` output (minhash_i long columns) → (doc_id,
    band, band_sig) LSH index rows, band_sig = xxhash64 of the band's
    minhashes — an 8-BYTE index key instead of the portable path's
    32-hex-char concatenation. This is the production band-index shape:
    at the 12.8 M-doc decade corpus the 51 M-row index shrinks ~3× and
    every banding join shuffles longs. The portable (md5) path stays the
    oracle-checkable pipeline; this one is for scale runs."""
    return _explode_bands(sigs, _FAST, num_hashes, band_size)


def lsh_bands_portable(
    sigs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
    carry: tuple = (),
) -> DataFrame:
    """Signature frame → (doc_id, band, band_sig) LSH index rows: the
    num_hashes/band_size bands of concatenated minhash hex. This IS the
    persisted structure an incremental corpus keeps — band rows append per
    batch and never need recomputation for already-indexed docs. `carry`
    threads extra signature columns (e.g. `sz`) onto the band rows for
    callers that consume them in-plan; the persisted-index schema stays
    (doc_id, band, band_sig) when unset."""
    return _explode_bands(sigs, _PORTABLE, num_hashes, band_size, carry)


def minhash_probe_index_portable(
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup — the production daily shape: probe the
    corpus's LSH band index with a NEW batch instead of re-running
    all-pairs LSH over corpus+batch. Candidates are (corpus doc_a, batch
    doc_b) band collisions; verification (exact Jaccard) touches only
    candidates' shingles. The corpus side here is built in-plan from the
    corpus docs for oracle checkability; a real pipeline reads the
    persisted band rows (`lsh_bands_portable` output) and per-doc shingle
    sets from state, so each batch costs O(batch + collisions) — the
    signature/banding work for already-indexed docs is never repeated.
    Result ≡ the cross-split subset of the full all-pairs pipeline."""
    corpus_sh = word_shingles(corpus_docs, hashed=False)
    batch_sh = word_shingles(batch_docs, hashed=False)
    index = _bands(_PORTABLE, corpus_sh, num_hashes, band_size)
    probes = _bands(_PORTABLE, batch_sh, num_hashes, band_size)
    pairs = (
        index.select(F.col("doc_id").alias("doc_a"), *_BAND)
        .join(probes.select(F.col("doc_id").alias("doc_b"), *_BAND), _BAND)
        # a doc on BOTH sides (batch re-processing already-indexed ids)
        # band-collides with itself — never a near-dup finding
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return verified_jaccard(_PORTABLE.store(corpus_sh.unionByName(batch_sh)), pairs)


def _minhash_bands(
    shingles: DataFrame,
    fam: _Family,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The banding of the verified star path: band `shingles` in `fam`'s
    keyspace and return `(bands, store)`, the store being the 8-byte
    xxhash64 shingle relation verification joins on.

    - portable: md5-prefix signatures over RAW string shingles, hex
      band_sigs; the store is the shingles' xxhash64 image.
    - fast: `min(xxhash64(shingle, seed))` over pre-hashed bigint
      shingles, 8-byte band_sigs; the store IS the input relation.

    Shingles of the other family's dtype would band into a keyspace the
    persisted index never collides with — every cross-batch near-dup
    silently missed — so they are rejected here."""
    shingle_t = dict(shingles.dtypes).get("shingle")
    if shingle_t != fam.shingle_t:
        raise ValueError(
            f"{fam.name} index needs {'hashed' if fam.hashed else 'RAW'} batch"
            f" shingles (word_shingles(hashed={fam.hashed})); got {shingle_t}"
            " — its seed hash over the other dtype would band into a"
            " disjoint keyspace"
        )
    return _bands(fam, shingles, num_hashes, band_size), fam.store(shingles)


def _index_family(index_bands: DataFrame) -> _Family:
    """The hash family a persisted band index was built in: a hex (string)
    band_sig means the portable md5 pipeline, an 8-byte (bigint) one the
    xxhash64 fast path."""
    string_sigs = dict(index_bands.dtypes).get("band_sig") == "string"
    return _PORTABLE if string_sigs else _FAST


def verified_star_state(
    docs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
    shingles: DataFrame | None = None,
    portable: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One-time state build for the verified incremental dedup path
    (round-6 verdict item 1): returns the three relations a production
    corpus persists —

        bands:     (doc_id, band, band_sig)        the LSH band index
        shingles:  (doc_id, shingle bigint)        xxhash64 shingle store
        edges:     (band, band_sig, doc_a, doc_b, jaccard)  scored edges

    Components at any threshold t are `connected_components` over
    `edges.filter(jaccard >= t)` — identical to `minhash_components_
    verified(docs, t)` (pinned by tests/test_verified_incremental.py).
    Scores are stored UNFILTERED so a threshold change never forces
    re-verification.

    Two hash modes, same shapes:

    - `portable=True` (default): md5-prefix signatures over RAW string
      shingles, hex band_sigs — every intermediate reproducible in DuckDB,
      so the sf0.01 oracle can hash-check the whole pipeline. `shingles`
      accepts a pre-persisted `word_shingles(docs, hashed=False)`; the
      store keeps only its 8-byte xxhash64 image.
    - `portable=False`: the PRODUCTION fast path — shingles are hashed at
      birth (`word_shingles(hashed=True)`), signatures are
      `min(xxhash64(shingle, seed))` over longs (pure HashAggregate; the
      md5-string aggregation falls back to sort-based aggregation and
      sort-spilled the 12.8 M-doc decade build off a 250 GB disk), and
      band_sigs are 8-byte xxhash64 (`lsh_bands`). The store IS the
      signature input — one shingle relation, no raw strings anywhere.
      Banding differs from the portable mode (different hash family), so
      candidate sets differ slightly; the Jaccard guard makes both modes'
      precision equivalent, and refresh ≡ full holds per mode.

    `shingles` of the other mode's dtype raise ValueError. Callers writing
    all three outputs should persist/round-trip the shingle relation first
    (two consumers in portable mode, signature + verification consumers in
    both)."""
    fam = _PORTABLE if portable else _FAST
    if shingles is None:
        shingles = word_shingles(docs, hashed=fam.hashed)
    bands, store = _minhash_bands(shingles, fam, num_hashes, band_size)
    return bands, store, scored_star_edges(bands, store)


def _refresh_star_edges(
    bucket: list[str],
    index_postings: DataFrame,
    index_edges: DataFrame,
    batch_postings: DataFrame,
    store: DataFrame,
    score_col: str,
    score,
    rebuild,
    _parts: dict | None = None,
) -> DataFrame:
    """The carry-forward refresh of a bucket-attributed star-edge state,
    shared by the text (`bucket` = band, band_sig) and image (chunk_id,
    chunk) modalities. `index_postings` / `batch_postings` are
    (doc_id, *bucket) rows, `index_edges` is (*bucket, doc_a, doc_b,
    score_col), `store` is the corpus ∪ batch relation the scorers read.
    Returns the refreshed edge state; EXACTLY equals the full builder over
    corpus ∪ batch for any batch ids.

    A persisted edge row (bucket b: hub→member) stays valid unless the
    batch changes b's hub — hub = min(member ids), so only a batch doc
    with id < old hub (non-monotone ingest) displaces it. Therefore:

      carried    every old edge outside DISPLACED buckets (broadcast
                 anti-join on the bucket key — a scan, no shuffle);
      new edges  (old hub, m) for each genuinely new batch member m of an
                 existing bucket, plus (min, m) within brand-new buckets;
                 only these are passed to `score(new_edges, store)`;
      displaced  the rare buckets whose hub moved are recomputed over
                 their full membership by `rebuild(members, store,
                 known_edges)`, known_edges being their old scored edges.

    Re-ingested (bucket, doc) postings are filtered out by the posting
    check, so they cannot duplicate rows. Every broadcast is bounded by
    O(batch × buckets per doc) rows, the daily-batch contract; the index
    is only SCANNED, never shuffled. Each scorer keeps its own
    materialization policy.

    Eager at call: `nm` (the batch-placement decision) and `new_edges` are
    localCheckpoint leaves. Every downstream leg re-nests their subtrees
    (index probe + batch pipeline); left lazy, the duplicated subtrees
    exploded the composed plan to 130 parquet scans / 206
    BroadcastExchange nodes at the decade corpus and OOMed a 1 GiB driver
    at sf0.01. Two trivial probe jobs over those leaves then skip the
    scoring (empty on a crash replay) and the displaced rebuild (empty on
    the monotone production contract) together with their store scans.

    `_parts` (base+delta write support): `displaced_empty` and the
    O(batch) `new_scored` delta. With no displaced bucket, carried ≡
    index_edges, so the refreshed state is EXACTLY index_edges ∪
    new_scored and a writer may append the delta instead of rewriting the
    O(state) snapshot; otherwise it must fall back to the full rewrite."""
    member = [*bucket, "doc_id"]
    touched = batch_postings.select(*bucket).distinct()
    touched_postings = index_postings.select("doc_id", *bucket).join(
        F.broadcast(touched), bucket, "leftsemi"
    )
    # min() combines map-side: the shuffle carries one partial row per
    # (task, touched bucket), never the posting stream itself
    old_hubs = touched_postings.groupBy(*bucket).agg(
        F.min("doc_id").alias("__old_hub")
    )
    batch_members = batch_postings.select("doc_id", *bucket).distinct()
    already = touched_postings.join(
        F.broadcast(batch_members), member, "leftsemi"
    )
    # no hints below this line unless the LEFT side is index-sized: every
    # F.broadcast adds a driver-collected build whose subtree nests the
    # ones above — plan depth connected_components' collapse re-executes
    new_members = batch_members.join(already, member, "left_anti")
    nm = new_members.join(old_hubs, bucket, "left").localCheckpoint(eager=True)
    displaced = (
        nm.filter(F.col("doc_id") < F.col("__old_hub")).select(*bucket).distinct()
    )
    bd = F.broadcast(displaced)
    unchanged_new = (
        nm.filter(
            F.col("__old_hub").isNotNull() & (F.col("doc_id") > F.col("__old_hub"))
        )
        .join(bd, bucket, "left_anti")
        .select(
            *bucket, F.col("__old_hub").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    newb_edges = (
        nm.filter(F.col("__old_hub").isNull())
        .withColumn("doc_a", F.min("doc_id").over(Window.partitionBy(*bucket)))
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select(*bucket, "doc_a", F.col("doc_id").alias("doc_b"))
    )
    new_edges = unchanged_new.unionByName(newb_edges)
    # crash-replay idempotency: the state commit protocol writes the EDGE
    # state before appending the batch's postings, so a replay sees the
    # refreshed edges but the PRE-batch index — a replayed member is
    # invisible to the posting check yet its edge exists. Suppress any new
    # edge whose (bucket, member) is already an edge row; empty on a
    # healthy run.
    edge_member = [*bucket, "doc_b"]
    already_edges = index_edges.select(*edge_member).join(
        F.broadcast(new_edges.select(*edge_member)), edge_member, "leftsemi"
    )
    new_edges = new_edges.join(
        already_edges, edge_member, "left_anti"
    ).localCheckpoint(eager=True)
    if new_edges.limit(1).count() == 0:
        zero = F.lit(0).cast(dict(index_edges.dtypes)[score_col])
        new_scored = new_edges.withColumn(score_col, zero)
    else:
        new_scored = score(new_edges, store)
    cols = [*bucket, "doc_a", "doc_b", score_col]
    displaced_empty = displaced.limit(1).count() == 0
    if displaced_empty:
        recomputed = index_edges.select(*cols).limit(0)
    else:
        members_d = (
            touched_postings.join(bd, bucket, "leftsemi")
            .unionByName(batch_members.join(bd, bucket, "leftsemi"))
            .distinct()
        )
        known_d = index_edges.join(bd, bucket, "leftsemi")
        recomputed = rebuild(members_d, store, known_d)
    carried = index_edges.select(*cols).join(bd, bucket, "left_anti")
    if _parts is not None:
        _parts["displaced_empty"] = bool(displaced_empty)
        _parts["new_scored"] = new_scored.select(*cols)
    return carried.unionByName(new_scored.select(*cols)).unionByName(
        recomputed.select(*cols)
    )


def refresh_verified_star_edges(
    index_bands: DataFrame,
    index_shingles: DataFrame,
    index_edges: DataFrame,
    batch_docs: DataFrame,
    num_hashes: int | None = None,
    band_size: int | None = None,
    batch_shingles: DataFrame | None = None,
    _parts: dict | None = None,
) -> DataFrame:
    """Daily refresh of the verified edge state: the batch pays its own
    shingle + signature compute; every persisted edge row carries forward
    verbatim unless its bucket's HUB was displaced; genuinely NEW
    (bucket, member) postings attach to their bucket's hub and only those
    pairs are Jaccard-verified against the shingle store; the rare
    displaced buckets are recomputed over their full membership with the
    reuse side bucket-filtered (a lost cross-bucket reuse hit re-verifies
    to the identical score — Jaccard is intrinsic to the pair). Cost is
    O(batch) edges verified + index SCANS only (the carry-forward engine,
    `_refresh_star_edges`; the previous bucket-level recompute did ~8,600×
    more candidate work at the decade corpus — BENCH_EDGE_REFRESH_DECOMP.
    json, OPTIMIZATION_r11.md). Returns the refreshed edge state — same
    schema, ready to persist as the next day's `index_edges` (the new
    band/shingle rows are the batch's own, appended by the caller).

    EXACTLY equals `verified_star_state(corpus ∪ batch)[2]` for any batch
    ids (oracled by x_minhash_components_verified_incremental against the
    full-recompute recursive CTE). A batch doc already present in the
    index cannot double edge rows. `_parts` exposes the base+delta write
    contract (see `_refresh_star_edges`).

    The hash family is inferred from the persisted index itself
    (`_index_family`), so the batch's signatures are always computed in
    the keyspace the index lives in and the two families cannot be
    silently mixed (ValueError)."""
    fam = _index_family(index_bands)
    if batch_shingles is None:
        batch_shingles = word_shingles(batch_docs, hashed=fam.hashed)
    # batch_bands feeds several plan legs and is deliberately NOT
    # materialized: recomputing the batch signature pipeline per leg costs
    # seconds, while a localCheckpoint's accurate tiny stats cascade into
    # downstream joins with surprising strategy flips (decade corpus,
    # round 10: plain 96 s, checkpoint-only 336 s)
    batch_bands, batch_store = _minhash_bands(
        batch_shingles, fam, num_hashes, band_size
    )
    # verification joins in the STORE's keyspace (normally the 8-byte
    # xxhash64 image — the decade-scale join shape)
    store_t = dict(index_shingles.dtypes).get("shingle")
    b_sh = (batch_store if store_t == "bigint" else batch_shingles).select(
        "doc_id", "shingle"
    )
    if dict(b_sh.dtypes)["shingle"] != store_t:
        raise ValueError(
            f"shingle keyspace mismatch: index store is {store_t}, batch is "
            f"{dict(b_sh.dtypes)['shingle']} — verification joins would "
            "silently find nothing"
        )

    def score(new_edges: DataFrame, store: DataFrame) -> DataFrame:
        # broadcast: the pairs are O(batch), but a checkpoint keeps its lazy
        # plan's size estimate, which scales with the table the batch was
        # filtered from (21.7 MB for 19k pairs over 160k docs); un-hinted,
        # an estimate past the threshold shuffles the whole store. The
        # store's repeated rows of a re-ingested doc count once in
        # verified_jaccard (test_refresh_scores_reingested_hub_with_new_member).
        pairs = F.broadcast(new_edges.select("doc_a", "doc_b").distinct())
        scored = verified_jaccard(store, pairs)
        # an endpoint without shingles scores 0.0, the state-totality rule
        # of scored_star_edges. The eager pin keeps the delta write and the
        # returned state off the store scan.
        return (
            new_edges.join(scored, ["doc_a", "doc_b"], "left")
            .withColumn("jaccard", F.coalesce("jaccard", F.lit(0.0)))
            .localCheckpoint(eager=True)
        )

    return _refresh_star_edges(
        _BAND,
        index_bands,
        index_edges,
        batch_bands,
        index_shingles.select("doc_id", "shingle").unionByName(b_sh),
        "jaccard",
        score,
        scored_star_edges,
        _parts,
    )


def minhash_components_verified_refresh(
    index_bands: DataFrame,
    index_shingles: DataFrame,
    index_edges: DataFrame,
    batch_docs: DataFrame,
    min_jaccard: float = 0.8,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """THE production daily dedup job (round-6 verdict item 1): verified
    near-dup clusters over corpus ∪ batch from persisted state —
    `minhash_components_verified`'s precision guard composed with
    `minhash_components_star_refresh`'s incremental cost. Output is
    identical to the full verified recompute (the unverified refresh
    over-merged the decade corpus to 1,628 components vs 4,813 verified);
    cost is batch signatures + O(batch) edge verifications + components.

    The batch shingle relation feeds two consumers (signatures and the
    verification side), so it is persisted here and released after
    `connected_components` materializes its loop state eagerly. The hash
    family follows the persisted index (see refresh_verified_star_edges)."""
    batch_sh = word_shingles(
        batch_docs, hashed=_index_family(index_bands).hashed
    ).persist()
    try:
        edges = refresh_verified_star_edges(
            index_bands,
            index_shingles,
            index_edges,
            batch_docs,
            num_hashes,
            band_size,
            batch_shingles=batch_sh,
        )
        good = (
            edges.filter(F.col("jaccard") >= min_jaccard)
            .select("doc_a", "doc_b")
            .distinct()  # a pair can arrive from several buckets
            # materialize ONCE before the components loop: the collapse
            # phase makes several passes over the pair set, and each pass
            # would otherwise re-execute the whole refresh DAG (its
            # broadcast builds included) — measured to OOM the 1 GiB
            # driver-contract session at sf0.01 once the round-11
            # carry-forward refresh added broadcast legs. Eager is correct
            # here: connected_components itself runs eagerly on the next
            # line, and batch_sh must stay persisted through both.
            .localCheckpoint(eager=True)
        )
        return connected_components(good)
    finally:
        batch_sh.unpersist()
