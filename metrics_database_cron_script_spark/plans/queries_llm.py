"""LLM-data-pipeline queries (`x_*`, SURVEY.md §2.C north-star extensions):
dedup, similarity search, text analysis, multimodal plumbing over the
`documents` / `embeddings` fixtures. Float-heavy and sketch outputs are
rows-only per the contract; everything string/count-shaped has a SQL oracle."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from metrics_database_cron_script_spark.functions import audio as AU
from metrics_database_cron_script_spark.functions import video as VI
from metrics_database_cron_script_spark.functions import dedup as D
from metrics_database_cron_script_spark.functions.dedup import fuzzy_pairs_edit1
from metrics_database_cron_script_spark.functions import multimodal as M
from metrics_database_cron_script_spark.functions import similarity as S
from metrics_database_cron_script_spark.functions import text as TX
from metrics_database_cron_script_spark.plans.registry import query
from metrics_database_cron_script_spark.sources import load_table

_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


# ------------------------------------------------------------------- dedup

@query(
    "x_exact_dedup",
    oracle=r"""
SELECT * FROM documents
QUALIFY row_number() OVER (
  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
  ORDER BY doc_id) = 1""",
)
def x_exact_dedup(spark, sf_dir):
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@query("x_near_dup_minhash", oracle=None)  # xxhash64 sketch → rows-only
def x_near_dup_minhash(spark, sf_dir):
    """Production fast path: xxhash64 signatures (8-byte shuffle keys).
    The value-hash-checked twin is `x_near_dup_minhash_portable`."""
    return D.minhash_near_dups(load_table(spark, sf_dir, "documents"))


def _mh_sig_select(n_hashes: int) -> str:
    """The per-seed MIN(md5-prefix) aggregate list for the minhash
    signature CTE — generated from the hash count, never hand-unrolled."""
    return ",\n".join(
        f"         MIN(substr(md5('{i}|' || shingle), 1, 16)) AS mh_{i}"
        for i in range(n_hashes)
    )


def _mh_band_union(sig_cte: str, n_hashes: int, band_size: int) -> str:
    """The banding CTE body: one SELECT per band, band_sig = concatenated
    minhash hex of that band's rows."""
    parts = []
    for b in range(n_hashes // band_size):
        sig = " || ".join(
            f"mh_{b * band_size + j}" for j in range(band_size)
        )
        if b == 0:
            parts.append(
                f"  SELECT doc_id, 0 AS band, {sig} AS band_sig FROM {sig_cte}"
            )
        else:
            parts.append(f"  UNION ALL SELECT doc_id, {b}, {sig} FROM {sig_cte}")
    return "\n".join(parts)


# The oracle banding derives from the SAME tuner-chosen constant as the
# Spark pipelines (functions/dedup.py MINHASH_DEFAULTS) — the SQL cannot
# drift from the engine when the chooser's constraints move.
_MH_N = D.MINHASH_DEFAULTS.num_hashes
_MH_R = D.MINHASH_DEFAULTS.band_size

_MINHASH_PORTABLE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g AS shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(t[i:i+2], ' '))) AS g
    FROM toks)
  WHERE g <> ''
), sig AS (
  SELECT doc_id,
{_mh_sig_select(_MH_N)}
  FROM sh GROUP BY doc_id
), bands AS (
{_mh_band_union('sig', _MH_N, _MH_R)}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, band_sig)
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.n * 1.0 / (za.sz + zb.sz - i.n), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b"""


def _minhash_pair_cte(src: str) -> str:
    """CTE chain computing portable-minhash candidate pairs + exact Jaccard
    over the docs in CTE `src` (must expose doc_id, text). Shared by the
    pair / cluster / pipeline oracles so all three check the same LSH;
    banding generated from MINHASH_DEFAULTS."""
    return f"""ptoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM {src}
), psh AS (
  SELECT DISTINCT doc_id, g AS shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(t[i:i+2], ' '))) AS g
    FROM ptoks)
  WHERE g <> ''
), psig AS (
  SELECT doc_id,
{_mh_sig_select(_MH_N)}
  FROM psh GROUP BY doc_id
), pbands AS (
{_mh_band_union('psig', _MH_N, _MH_R)}
), pcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pbands a JOIN pbands b USING (band, band_sig)
  WHERE a.doc_id < b.doc_id
), psizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM psh GROUP BY doc_id
), pinter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM pcand c
  JOIN psh sa ON sa.doc_id = c.doc_a
  JOIN psh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
), pjacc AS (
  SELECT i.doc_a, i.doc_b,
         ROUND(i.n * 1.0 / (za.sz + zb.sz - i.n), 6) AS jaccard
  FROM pinter i
  JOIN psizes za ON za.doc_id = i.doc_a
  JOIN psizes zb ON zb.doc_id = i.doc_b
)"""


@query("x_near_dup_minhash_portable", oracle=_MINHASH_PORTABLE_ORACLE)
def x_near_dup_minhash_portable(spark, sf_dir):
    """Full MinHash+LSH near-dup pipeline on the portable md5-prefix hash:
    shingle → 8-hash signature → 4 bands of 2 → candidate pairs → exact
    Jaccard. Every stage is reproduced by the DuckDB oracle, so the LSH
    banding itself — not just the final pair list — is value-hash-checked."""
    return D.minhash_near_dups_portable(load_table(spark, sf_dir, "documents"))


@query("x_simhash_neardup", oracle=None)  # xxhash64 sketch → rows-only
def x_simhash_neardup(spark, sf_dir):
    """Production fast path: 64-bit xxhash64 SimHash. The value-hash-checked
    twin is `x_simhash_portable`."""
    return D.simhash_near_dups(load_table(spark, sf_dir, "documents"))


_SIMHASH_PORTABLE_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS token
  FROM documents
), tc AS (
  SELECT doc_id, token, COUNT(*) AS w, md5(token) AS hx
  FROM toks GROUP BY doc_id, token
), bitvotes AS (
  SELECT doc_id, i.i AS i,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, i.i // 4 + 1, 1)) - 1)
                        >> (i.i % 4)) & 1 = 1
                  THEN w ELSE -w END) AS v
  FROM tc, LATERAL (SELECT unnest(range(0, 32))) AS i(i)
  GROUP BY doc_id, i.i
), sh AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS simhash
  FROM bitvotes GROUP BY doc_id
), chunks AS (
  SELECT doc_id, simhash, j.j AS chunk_id, (simhash >> (8 * j.j)) & 255 AS chunk
  FROM sh, LATERAL (SELECT unnest(range(0, 4))) AS j(j)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM chunks a JOIN chunks b USING (chunk_id, chunk)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 8"""


@query("x_simhash_portable", oracle=_SIMHASH_PORTABLE_ORACLE)
def x_simhash_portable(spark, sf_dir):
    """32-bit SimHash + hamming-chunk LSH on the portable md5 bit mapping
    (bit i = bit (i mod 4) of hex digit (i div 4)): signature construction,
    chunk banding and the hamming verification are all reproduced by the
    DuckDB oracle — an exactly-checked sketch, not a rows-only one."""
    return D.simhash_near_dups_portable(load_table(spark, sf_dir, "documents"))


@query("x_ngram_jaccard", oracle=None)  # xxhash64 mod-p sampling → rows-only
def x_ngram_jaccard(spark, sf_dir):
    """Production fast path: xxhash64 grams + mod-p sampling. The
    value-hash-checked twin is `x_ngram_jaccard_portable`."""
    return D.char_ngram_jaccard(load_table(spark, sf_dir, "documents"))


_NGRAM_JACCARD_PORTABLE_ORACLE = """
WITH grams0 AS (
  SELECT doc_id, source, substr(text, i.i, 6) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 5, 1)))) AS i(i)
), sampled AS (
  SELECT DISTINCT doc_id, source, gram FROM grams0
  WHERE (strpos('0123456789abcdef', substr(md5(gram), 32, 1)) - 1) % 8 = 0
), dfreq AS (
  SELECT source, gram, COUNT(*) AS df FROM sampled GROUP BY source, gram
), rare AS (
  SELECT s.doc_id, s.source, s.gram
  FROM sampled s JOIN dfreq d USING (source, gram)
  WHERE d.df <= 32
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n
  FROM rare a JOIN rare b ON a.source = b.source AND a.gram = b.gram
                         AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT * FROM (
  SELECT i.doc_a, i.doc_b,
         ROUND(i.n * 1.0 / (za.sz + zb.sz - i.n), 6) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
) WHERE jaccard >= 0.5"""


@query("x_ngram_jaccard_portable", oracle=_NGRAM_JACCARD_PORTABLE_ORACLE)
def x_ngram_jaccard_portable(spark, sf_dir):
    """Char-6-gram Jaccard with Broder mod-8 sampling driven by md5's last
    hex digit — the sampled gram subset is identical in Spark and DuckDB,
    so the sampling, the df≤32 stop-gram rule and the pair Jaccards are all
    value-hash-checked."""
    return D.char_ngram_jaccard_portable(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- similarity

def _queries_table(spark, sf_dir, n=10):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def _score_partitions_for(path: str, target_bytes: int = 32 << 20):
    """Coalesce width for mapInArrow scoring: ~`target_bytes` of input per
    Python dispatch (the per-dispatch fixed cost is ~10-15 ms; see
    similarity.score_partitions). Sizing walks the DRIVER's local
    filesystem, so a non-local `path` (hdfs://, s3a://, or simply absent
    here) returns None — scan-width parallelism, which is the right
    dispatch granularity at cluster scale anyway (the 32 MB coalesce is a
    local-floor shave)."""
    import os

    if not os.path.exists(path):
        return None
    if os.path.isdir(path):
        nbytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _d, fs in os.walk(path)
            for f in fs
        )
    else:
        nbytes = os.path.getsize(path)
    return max(1, nbytes // target_bytes)


@query(
    "x_embed_cosine_topk",
    oracle="""
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings
  WHERE vec_id < 10
    -- zero-norm exclusion mirrors the Spark scorer: cosine is undefined
    -- for a direction-less vector (NULL/NaN would poison the desc rank)
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), scored AS (
  SELECT q.q_id, e.vec_id,
         ROUND(list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))), 6) AS cos
  FROM embeddings e, q
  WHERE e.vec_id <> q.q_id
    AND list_dot_product(CAST(e.embedding AS DOUBLE[]),
                         CAST(e.embedding AS DOUBLE[])) > 0
)
SELECT q_id, vec_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5""",
)
def x_embed_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k — hash-checked against DuckDB's
    list_dot_product (both sides accumulate in double and RANK ON THE
    ROUNDED cosine with vec_id tie-break, so the ordering is engine-stable;
    verified identical at sf0.001/0.01/0.1). Scoring partitions are sized
    to ~32 MB of vectors per Python dispatch (a no-op reduction beyond
    the scan width at cluster scale — see brute_force_topk)."""
    from metrics_database_cron_script_spark.sources.tables import (
        table_path as _tp,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        emb,
        _queries_table(spark, sf_dir),
        k=5,
        score_partitions=_score_partitions_for(_tp(sf_dir, "embeddings")),
    )


def _lsh_topk_oracle(num_bits: int = 8, dim: int = 64, k: int = 5) -> str:
    """The LSH hyperplanes are deterministic sha256-derived literals
    (similarity.py:_hyperplane), so the oracle embeds the SAME constants and
    reproduces the bucket assignment: the approximation is deterministic,
    not random, and therefore checkable. Dot products on both sides
    accumulate in double (list_dot_product parity proven by
    x_embed_cosine_topk)."""
    from metrics_database_cron_script_spark.functions.similarity import _hyperplane

    bits = []
    for i in range(num_bits):
        plane = ", ".join(repr(v) for v in _hyperplane(i, dim))
        bits.append(
            f"(CASE WHEN list_dot_product(v, [{plane}]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n       + ".join(bits)
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), sigs AS (
  SELECT vec_id, v,
       {bucket} AS bucket
  FROM emb
), q AS (
  SELECT vec_id AS q_id, v AS q_vec, bucket FROM sigs WHERE vec_id < 10
), cand AS (
  SELECT q.q_id, s.vec_id, q.q_vec, s.v
  FROM sigs s JOIN q ON s.bucket = q.bucket AND s.vec_id <> q.q_id
), scored AS (
  SELECT q_id, vec_id,
         ROUND(list_dot_product(q_vec, v)
               / (sqrt(list_dot_product(q_vec, q_vec))
                  * sqrt(list_dot_product(v, v))), 6) AS cos
  FROM cand
)
SELECT q_id, vec_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= {k}"""


@query("x_embed_lsh_topk", oracle=_lsh_topk_oracle())
def x_embed_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH top-k. 'Approximate' refers to recall vs the
    exact scan, not to nondeterminism — the hyperplanes are fixed literals,
    so bucket membership, candidates and the rounded-cosine re-rank are all
    value-hash-checked against the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, _queries_table(spark, sf_dir), k=5)


def _neardup_cosine_oracle(num_bits: int = 6, dim: int = 64, threshold: float = 0.3) -> str:
    from metrics_database_cron_script_spark.functions.similarity import _hyperplane

    bits = []
    for i in range(num_bits):
        plane = ", ".join(repr(v) for v in _hyperplane(i, dim))
        bits.append(
            f"(CASE WHEN list_dot_product(v, [{plane}]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n       + ".join(bits)
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), sigs AS (
  SELECT vec_id, v,
       {bucket} AS bucket
  FROM emb
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT * FROM (
  SELECT vec_a, vec_b,
         ROUND(list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va))
                  * sqrt(list_dot_product(vb, vb))), 6) AS cos
  FROM pairs
) WHERE cos >= {threshold}"""


@query("x_embed_neardup_cosine", oracle=_neardup_cosine_oracle())
def x_embed_neardup_cosine(spark, sf_dir):
    """Cosine near-dup pairs via 6-bit hyperplane buckets. The hyperplanes
    are fixed sha256-derived literals, so the bucket self-join and the
    rounded-cosine threshold are value-hash-checked — the 'approximation'
    (bucket-local recall) is deterministic and reproduced by the oracle."""
    return S.cosine_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.3)


# ----------------------------------------------------------- text analysis

@query(
    "x_text_tokens",
    oracle="""
SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
) WHERE token <> ''
GROUP BY token""",
)
def x_text_tokens(spark, sf_dir):
    return TX.token_counts(load_table(spark, sf_dir, "documents"))


@query(
    "x_lang_stats",
    oracle="""
SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang""",
)
def x_lang_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "x_quality_score",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CASE WHEN len(toks) > 0 THEN
         ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks), 6)
       END AS avg_word_len,
       CASE WHEN len(text) > 0 THEN
         ROUND(CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / len(text), 6)
       END AS alpha_ratio,
       CASE WHEN len(toks) > 0 THEN
         ROUND(CAST(len(list_filter(toks, x -> x IN ('the','a','of','to','and','is'))) AS DOUBLE)
               / len(toks), 6)
       END AS stopword_ratio
FROM t""",
)
def x_quality_score(spark, sf_dir):
    return TX.quality_score(load_table(spark, sf_dir, "documents"))


@query(
    "x_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
FROM documents""",
)
def x_token_count(spark, sf_dir):
    return TX.token_count_modes(load_table(spark, sf_dir, "documents"))


@query(
    "x_lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_de,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and', 'is'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_en,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'es'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_es,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('le', 'la', 'et', 'est', 'les'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_fr,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('de', 'shi', 'le', 'bu'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_zh
  FROM t
)
SELECT doc_id, lang,
       CASE
            WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
            WHEN score_zh = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'zh'
       END AS predicted_lang,
       ROUND(greatest(score_de, score_en, score_es, score_fr, score_zh), 6) AS confidence
FROM s""",
)
def x_lang_id(spark, sf_dir):
    # SQL-oracled: scores, argmax (ties broken in sorted-language order on
    # both sides), and confidence all re-derived in DuckDB
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "x_fingerprint",
    oracle="""
WITH grams AS (
  SELECT doc_id, i.i AS pos, substr(md5(substr(text, i.i, 8)), 1, 16) AS h
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 8, 0) + 1))) AS i(i)
), fps AS (
  SELECT DISTINCT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       MIN(fp) AS fp_min, MAX(fp) AS fp_max
FROM fps GROUP BY doc_id""",
)
def x_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (k=8, window=4) on the portable md5-prefix
    hash: window minima over fixed-length hex strings are the same grams
    DuckDB picks, so the fingerprint SET per doc is value-hash-checked
    (count + min/max). `functions/text.py:fingerprint` keeps the xxhash64
    fast path for production."""
    return TX.fingerprint_portable(load_table(spark, sf_dir, "documents"))


@query(
    "x_tfidf",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> ''
  GROUP BY doc_id, token
),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
SELECT tf.doc_id, tf.token, tf.tf,
       ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n""",
)
def x_tfidf(spark, sf_dir):
    # upgraded from rows-only: tokenization parity is proven by
    # x_text_tokens, and round(·,6) absorbs libm ln() last-ulp differences
    return TX.tf_idf(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- multimodal

@query(
    "x_multimodal_meta",
    oracle="""
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       lang, source, 'text/plain' AS mime
FROM documents""",
)
def x_multimodal_meta(spark, sf_dir):
    return M.multimodal_meta(load_table(spark, sf_dir, "documents"))


@query(
    "x_multimodal_features",
    oracle="""
WITH b AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id, n,
         (strpos('0123456789ABCDEF', substring(hx, i.i * 2 + 1, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substring(hx, i.i * 2 + 2, 1)) - 1) AS v
  FROM b, LATERAL (SELECT unnest(generate_series(0, b.n - 1)) AS i) i
), agg AS (
  SELECT doc_id, CAST(SUM(v) AS DOUBLE) / MIN(n) AS byte_mean,
         MIN(v) AS byte_min, MAX(v) AS byte_max
  FROM bytes GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_bytes,
       coalesce(agg.byte_mean, 0.0) AS byte_mean,
       CAST(coalesce(agg.byte_min, 0) AS BIGINT) AS byte_min,
       CAST(coalesce(agg.byte_max, 0) AS BIGINT) AS byte_max
FROM b LEFT JOIN agg USING (doc_id)""",
)
def x_multimodal_features(spark, sf_dir):
    """Arrow-batched byte feature extraction over binary payloads, WITH a
    value oracle (round-8, was rows-only since round 5): DuckDB decodes
    each payload byte from its hex image (two nibble lookups per byte)
    and recomputes length/mean/min/max exactly — integer sums are exact
    in float64 on both sides, so byte_mean hash-matches bit for bit. The
    mapInPandas plumbing under test is unchanged."""
    blobs = M.blob_table(load_table(spark, sf_dir, "documents"))
    return M.byte_feature_extract(blobs)


@query(
    "x_multimodal_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, x.x AS x, y.y AS y, c.c AS c,
         (d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 101) % 256 AS val
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
)
SELECT doc_id, MIN(w) AS width, MIN(h) AS height, MIN(w * h) AS n_pixels,
       CAST(SUM(val) AS BIGINT) AS px_sum,
       CAST(SUM(val * (((y * w + x) * 3 + c) % 97)) AS BIGINT) AS px_weighted
FROM px GROUP BY doc_id""",
)
def x_multimodal_decode(spark, sf_dir):
    """REAL image decode, no codec libraries: deterministic synthetic
    24-bit BMPs (dimensions + every pixel a pure function of doc_id) are
    ENCODED executor-side, then DECODED by the numpy BMP parser
    (functions/multimodal.py decode_bmp — header offset, bottom-up rows,
    4-byte padding, BGR order) and reduced to pixel aggregates. The
    oracle recomputes the aggregates from the pixel formula alone — so a
    decoder that misreads stride, row order or channel order cannot
    match the position-weighted digest. This demotes the old PIL stub to
    the compressed-format path; uncompressed decode is a first-class,
    value-hash-checked operator."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_pixel_stats(M.synthetic_bmp_blobs(docs))


# doc_id → 64-char aHash bitstring, recomputed from the synthetic pixel
# FORMULA alone (never from the decode path under test) — shared by the
# exact-match dedup oracle and the hamming-LSH near-dup oracle.
_PHASH_CTE = """dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, x.x AS x, y.y AS y,
         (d.doc_id * 31 + x.x * 7 + y.y * 13) % 256
         + (d.doc_id * 31 + x.x * 7 + y.y * 13 + 101) % 256
         + (d.doc_id * 31 + x.x * 7 + y.y * 13 + 202) % 256 AS gray
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y
), blocks AS (
  SELECT doc_id, (y * 8) // h AS by, (x * 8) // w AS bx,
         SUM(gray) AS s, COUNT(*) AS n
  FROM px GROUP BY 1, 2, 3
), tot AS (
  SELECT doc_id, SUM(gray) AS st, COUNT(*) AS nt FROM px GROUP BY doc_id
), grid AS (
  SELECT d.doc_id, gy.by, gx.bx
  FROM dims d,
       (SELECT unnest(generate_series(0, 7)) AS by) gy,
       (SELECT unnest(generate_series(0, 7)) AS bx) gx
), bits AS (
  SELECT g.doc_id, g.by, g.bx,
         CASE WHEN COALESCE(b.s, 0) * t.nt > t.st * COALESCE(b.n, 0)
              THEN '1' ELSE '0' END AS bit
  FROM grid g
  LEFT JOIN blocks b ON b.doc_id = g.doc_id AND b.by = g.by AND b.bx = g.bx
  JOIN tot t ON t.doc_id = g.doc_id
), ph AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY by, bx) AS phash
  FROM bits GROUP BY doc_id
)"""


@query(
    "x_phash_dedup",
    oracle="WITH "
    + _PHASH_CTE
    + """
SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS rep_doc
FROM ph GROUP BY phash""",
)
def x_phash_dedup(spark, sf_dir):
    """Round-6 verdict item 8: perceptual-hash dedup CONSUMING the real
    BMP decode path — synthetic BMPs are encoded, container-parsed
    (functions/multimodal.py decode_bmp) and reduced to a 64-bit aHash
    over the decoded pixel grid (integer-exact 8×8 block-mean vs global
    mean — ahash_bits), then grouped: one representative (min doc_id) per
    perceptual bucket. The oracle recomputes every hash bit from the
    pixel formula alone, so a decode or grid bug cannot match. Proves the
    decode path composes into downstream dedup instead of terminating at
    a digest."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(docs))
    return hashes.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
    )


@query(
    "x_phash_neardup",
    oracle="WITH "
    + _PHASH_CTE
    + """, pchunks AS (
  SELECT doc_id, phash, j.j AS chunk_id,
         substr(phash, j.j * 16 + 1, 16) AS chunk
  FROM ph, (SELECT unnest(generate_series(0, 3)) AS j) j
), pcandimg AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS ph_a, b.phash AS ph_b
  FROM pchunks a
  JOIN pchunks b ON b.chunk_id = a.chunk_id AND b.chunk = a.chunk
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming(ph_a, ph_b) AS BIGINT) AS hamming
FROM pcandimg WHERE hamming(ph_a, ph_b) <= 6""",
)
def x_phash_neardup(spark, sf_dir):
    """Round-6 verdict item 4: NEAR-duplicate image pairs — the multimodal
    twin of the text near-dup family. Every image really decodes
    (multimodal.decode_bmp) into the integer-exact 64-bit aHash, then
    hamming-chunk LSH (4 × 16-bit chunks, the simhash_near_dups shape —
    multimodal.phash_near_dups) generates candidates and exact Hamming
    distance ≤ 6 verifies them. The oracle recomputes every hash bit from
    the pixel formula, re-derives the SAME chunk banding, and scores with
    DuckDB's hamming() — a decode, banding, or distance bug on either side
    cannot hash-match. Exact-match grouping (x_phash_dedup) is the
    degenerate hamming-0 subset."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(docs))
    return M.phash_near_dups(hashes, max_hamming=6)


@query(
    "x_phash_components",
    oracle="WITH RECURSIVE "
    + _PHASH_CTE
    + """, ichunks AS (
  SELECT doc_id, phash, j.j AS chunk_id,
         substr(phash, j.j * 16 + 1, 16) AS chunk
  FROM ph, (SELECT unnest(generate_series(0, 3)) AS j) j
), icand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ichunks a
  JOIN ichunks b ON b.chunk_id = a.chunk_id AND b.chunk = a.chunk
  WHERE a.doc_id < b.doc_id
    AND hamming(a.phash, b.phash) <= 6
), iedges AS (
  SELECT doc_a AS u, doc_b AS v FROM icand
  UNION
  SELECT doc_b, doc_a FROM icand
), ireach AS (
  SELECT u AS doc_id, v AS peer FROM iedges
  UNION
  SELECT r.doc_id, e.v FROM ireach r JOIN iedges e ON e.u = r.peer
)
SELECT doc_id, LEAST(doc_id, MIN(peer)) AS component
FROM ireach GROUP BY doc_id""",
)
def x_phash_components(spark, sf_dir):
    """Image near-dup CLUSTERS — the multimodal twin of the text cluster
    family, completing decode → aHash → hamming-LSH pairs
    (x_phash_neardup) with connected components, so image dedup gets one
    representative per perceptual cluster the same way text does. The
    pair graph is verified (hamming ≤ 6 on candidates only) BEFORE
    components, mirroring the verified-star precision guard: a chunk
    collision alone cannot merge clusters. The oracle recomputes the
    hashes from the pixel formula, re-derives the banding + distances,
    and resolves components with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = M.phash_near_dups(
        M.ahash_from_blobs(M.synthetic_bmp_blobs(docs)), max_hamming=6
    )
    return D.connected_components(pairs.select("doc_a", "doc_b"))


# Full star-recompute oracle, shared by x_phash_components_star AND
# x_phash_components_incremental: the incremental Spark plan must equal
# the full recompute exactly, so both check against one SQL (the same
# one-oracle-two-plans pattern as the text verified family).
_PHASH_STAR_ORACLE = (
    "WITH RECURSIVE "
    + _PHASH_CTE
    + """, schunks AS (
  SELECT doc_id, phash, j.j AS chunk_id,
         substr(phash, j.j * 16 + 1, 16) AS chunk
  FROM ph, (SELECT unnest(generate_series(0, 3)) AS j) j
), sstar AS (
  SELECT DISTINCT hub AS doc_a, doc_id AS doc_b FROM (
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY chunk_id, chunk) AS hub
    FROM schunks)
  WHERE doc_id <> hub
), sgood AS (
  SELECT s.doc_a, s.doc_b
  FROM sstar s
  JOIN ph a ON a.doc_id = s.doc_a
  JOIN ph b ON b.doc_id = s.doc_b
  WHERE hamming(a.phash, b.phash) <= 6
), sedges AS (
  SELECT doc_a AS u, doc_b AS v FROM sgood
  UNION
  SELECT doc_b, doc_a FROM sgood
), sreach AS (
  SELECT u AS doc_id, v AS peer FROM sedges
  UNION
  SELECT r.doc_id, e.v FROM sreach r JOIN sedges e ON e.u = r.peer
)
SELECT doc_id, LEAST(doc_id, MIN(peer)) AS component
FROM sreach GROUP BY doc_id"""
)


@query(
    "x_phash_quarantine_gate",
    oracle="WITH "
    + _PHASH_CTE
    + """
SELECT doc_id, phash,
       CASE WHEN phash = repeat('0', 64) OR phash = repeat('1', 64)
            THEN 'quarantine' ELSE 'candidates' END AS routed_to
FROM ph""",
)
def x_phash_quarantine_gate(spark, sf_dir):
    """Degenerate-signature QUARANTINE routing (round-9 verdict item 6) as
    an oracled gate: every image's aHash is recomputed by the SQL oracle
    and its routing decision (constant hash → quarantine, else candidate
    generation) must match the expectations-style operator
    (multimodal.quarantine_degenerate_hashes) exactly. The driver fixtures
    contain no flat images, so the fixture-scale assertion is that NOTHING
    is quarantined — the positive routing (flat images caught, hot-bucket
    p999 drop) is pinned by tests/test_extensions_multimodal.py on
    constructed flat BMPs and measured at 2.56 M images in
    BENCH_IMAGE_SFXL.json."""
    docs = load_table(spark, sf_dir, "documents")
    v = M.quarantine_degenerate_hashes(
        M.ahash_from_blobs(M.synthetic_bmp_blobs(docs))
    )
    return v.good.withColumn("routed_to", F.lit("candidates")).unionByName(
        v.quarantined.drop("violated").withColumn(
            "routed_to", F.lit("quarantine")
        )
    )


@query(
    "x_shingle_quarantine_gate",
    oracle=f"""
SELECT doc_id,
       CASE WHEN len({_TOKS}) > 0 THEN 'shingles' ELSE 'quarantine' END
         AS routed_to
FROM documents""",
)
def x_shingle_quarantine_gate(spark, sf_dir):
    """TEXT twin of the degenerate-signature gate: docs with an empty
    token (hence shingle) set have undefined minhash signatures and would
    collapse into one all-NULL bucket — route them to quarantine before
    signature generation (dedup.quarantine_empty_shingle_docs). The
    routing boundary (word_shingles' own empty-token edge) is what the
    oracle checks per doc."""
    docs = load_table(spark, sf_dir, "documents")
    v = D.quarantine_empty_shingle_docs(docs)
    return (
        v.good.select("doc_id").withColumn("routed_to", F.lit("shingles"))
        .unionByName(
            v.quarantined.select("doc_id").withColumn(
                "routed_to", F.lit("quarantine")
            )
        )
    )


@query("x_phash_components_star", oracle=_PHASH_STAR_ORACLE)
def x_phash_components_star(spark, sf_dir):
    """Image near-dup clusters over STAR edges (hub = min doc_id per
    hamming-LSH bucket, each edge hamming-verified) — the scale shape of
    x_phash_components: a degenerate bucket (the flat/banner-image
    all-zero aHash class) costs O(|bucket|) edges instead of the
    all-pairs O(|bucket|²), the same trade the text family makes in
    minhash_components_verified. Star verification is stricter than
    all-pairs (a member pair both within hamming 6 of each other but not
    of the hub stays split), which the oracle mirrors exactly."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(docs))
    _chunks, _hashes, edges = M.phash_star_state(hashes)
    good = (
        edges.filter(F.col("hamming") <= 6)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return D.connected_components(good)


@query("x_phash_components_incremental", oracle=_PHASH_STAR_ORACLE)
def x_phash_components_incremental(spark, sf_dir):
    """Round-7 verdict item 3: incremental IMAGE dedup from persisted
    state — the multimodal twin of x_minhash_components_verified_
    incremental. The corpus (doc_id ≢ 0 mod 10) contributes its stored
    chunk index, hash store and hamming-scored star-edge state
    (multimodal.phash_star_state, built in-plan here for checkability,
    parquet in production); only the batch pays decode + aHash, only
    batch-touched buckets re-resolve their hub over the full membership,
    untouched buckets carry forward by a bucket-key anti-join. The
    oracle is the IDENTICAL full-recompute recursive CTE as
    x_phash_components_star over all documents: equal output proves
    refresh ≡ full — and this split's interleaved ids displace bucket
    hubs, so the equivalence covers the hard case, not just the
    monotone-append contract."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.pmod("doc_id", F.lit(10)) != 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(10)) == 0)
    corpus_hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(corpus))
    batch_hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(batch))
    # materialize state once, as production's parquet reads do (the
    # refresh references chunks/edges twice each; live subplans would
    # re-run the whole decode+hash pipeline per reference)
    chunks, store, edges = (
        df.localCheckpoint(eager=True)
        for df in M.phash_star_state(corpus_hashes)
    )
    refreshed = M.refresh_phash_star_edges(chunks, store, edges, batch_hashes)
    good = (
        refreshed.filter(F.col("hamming") <= 6)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return D.connected_components(good)


@query(
    "x_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, x.x AS x, y.y AS y, c.c AS c,
         (d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 101) % 256 AS val
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
)
SELECT doc_id, MIN(w) AS width, MIN(h) AS height, MIN(w * h) AS n_pixels,
       CAST(SUM(val) AS BIGINT) AS px_sum,
       CAST(SUM(val * (((y * w + x) * 3 + c) % 97)) AS BIGINT) AS px_weighted
FROM px GROUP BY doc_id""",
)
def x_png_decode(spark, sf_dir):
    """REAL compressed-image decode, no codec libraries: synthetic 8-bit
    RGB PNGs are zlib-ENCODED executor-side with the row filter cycling
    through all five types (None/Sub/Up/Average/Paeth — encode_png), then
    DECODED by the stdlib-zlib + numpy PNG parser (multimodal.decode_png:
    chunk walk, CRC checks, inflate, per-row filter reconstruction) and
    reduced to the same position-weighted pixel digest as
    `x_multimodal_decode` — a decoder with any filter/CRC/stride bug
    cannot hash-match the pixel-formula oracle. Closes the
    'compressed formats need PIL' gap for PNG (x_jpeg_decode below closes
    it for baseline JPEG)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_pixel_stats(M.synthetic_png_blobs(docs))


@query(
    "x_jpeg_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, x.x AS x, y.y AS y, c.c AS c,
         (d.doc_id * 37 + (x.x // 8) * 11 + (y.y // 8) * 17) % 256 AS val
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
)
SELECT doc_id, MIN(w) AS width, MIN(h) AS height, MIN(w * h) AS n_pixels,
       CAST(SUM(val) AS BIGINT) AS px_sum,
       CAST(SUM(val * (((y * w + x) * 3 + c) % 97)) AS BIGINT) AS px_weighted
FROM px GROUP BY doc_id""",
)
def x_jpeg_decode(spark, sf_dir):
    """NATIVE baseline-JPEG decode, no codec libraries (round-7 verdict
    item 6, removing the last PIL guard): synthetic baseline JPEGs —
    real SOI/DQT/SOF0/DHT/SOS marker structure, Annex K tables, 4:4:4
    huffman-coded scan with byte stuffing — are ENCODED executor-side
    (multimodal.encode_jpeg) and DECODED by the numpy JPEG parser
    (multimodal.decode_jpeg: marker walk, huffman + DC prediction +
    EXTEND, dequantize, inverse zigzag, IDCT, YCbCr→RGB), then reduced
    to the position-weighted pixel digest. The fixture class (gray,
    block-constant, whole-MCU dims, quality 100 → all-ones quant) is
    exactly where baseline JPEG is bit-exact — one integer DC per block —
    so the SQL oracle recomputes the decoded pixels from the generating
    formula and ANY defect in the entropy coder, zigzag, dequant or IDCT
    breaks the hash. Lossy-path fidelity is covered by
    tests/test_multimodal.py round-trip tolerance tests."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_pixel_stats(M.synthetic_jpeg_blobs(docs))


@query(
    "x_wav_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 400 + (doc_id % 7) * 50 AS n, 1 + doc_id % 2 AS ch
  FROM documents
), s AS (
  SELECT d.doc_id, d.n, d.ch, i.i AS i, c.c AS c,
         (d.doc_id * 37 + i.i * 13 + c.c * 101) % 4001 - 2000 AS v
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c
)
SELECT doc_id, CAST(16000 AS BIGINT) AS rate, MIN(n) AS n_samples,
       MIN(ch) AS n_channels, CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * ((i * ch + c) % 97)) AS BIGINT) AS s_weighted
FROM s GROUP BY doc_id""",
)
def x_wav_decode(spark, sf_dir):
    """NATIVE audio decode — the THIRD modality, same oracle discipline
    as the image codecs (round 8): synthetic RIFF/WAVE PCM-16 files
    (real fmt/data chunk structure, interleaved little-endian samples,
    mono and stereo) are encoded executor-side (functions/audio.py
    encode_wav) and decoded by the stdlib-struct + numpy WAV parser
    (decode_wav: chunk walk with word alignment, strict PCM-16 refusal),
    then reduced to integer sample digests with an interleave-sensitive
    positional weight — a decoder that misreads channel count, frame
    boundaries or byte order cannot hash-match the sample-formula
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return AU.decode_sample_stats(AU.synthetic_wav_blobs(docs))


@query(
    "x_audio_frame_energy",
    oracle="""
WITH dims AS (
  SELECT doc_id, 400 + (doc_id % 7) * 50 AS n, 1 + doc_id % 2 AS ch
  FROM documents
), mono AS (
  SELECT d.doc_id, d.n, i.i AS i,
         SUM((d.doc_id * 37 + i.i * 13 + c.c * 101) % 4001 - 2000) AS v
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c
  GROUP BY d.doc_id, d.n, i.i
), frames AS (
  SELECT m.doc_id, f.f AS frame_idx, m.i, m.v
  FROM mono m,
       LATERAL (SELECT unnest(generate_series(0, (m.n - 128) // 64)) AS f) f
  WHERE m.i >= f.f * 64 AND m.i < f.f * 64 + 128
)
SELECT doc_id, frame_idx, CAST(128 AS BIGINT) AS n_frame,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM frames GROUP BY doc_id, frame_idx""",
)
def x_audio_frame_energy(spark, sf_dir):
    """Windowed frame ENERGY over REAL decoded PCM (functions/audio.py
    frame_energy: 128-sample frames, 64-sample hop, sum of squares of
    the exact integer channel mix) — the canonical first audio feature
    (VAD/silence/loudness gates in a training-data pipeline). Everything
    stays integer, so the oracle recomputes every frame from the sample
    formula: a decode, mixdown, or window-boundary bug on either side
    breaks the hash. Full windows only (start + frame ≤ n), the standard
    analysis convention."""
    docs = load_table(spark, sf_dir, "documents")
    return AU.frame_energy(AU.synthetic_wav_blobs(docs), frame=128, hop=64)


_VIDEO_PX_CTE = """dims AS (
  SELECT doc_id, 8 + 4 * (doc_id % 3) AS w, 6 + 2 * (doc_id % 2) AS h,
         2 + doc_id % 3 AS nf
  FROM documents
), px AS (
  SELECT d.doc_id, t.t AS frame_idx, d.w, d.h, x.x AS x, y.y AS y, c.c AS c,
         (d.doc_id * 29 + t.t * 59 + x.x * 7 + y.y * 13 + c.c * 101) % 256
           AS val
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS t) t,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
  {FILT}
)
SELECT doc_id, frame_idx, MIN(w) AS width, MIN(h) AS height,
       CAST(SUM(val) AS BIGINT) AS px_sum,
       CAST(SUM(val * (((y * w + x) * 3 + c) % 97)) AS BIGINT) AS px_weighted
FROM px GROUP BY doc_id, frame_idx"""


@query("x_avi_frames", oracle="WITH " + _VIDEO_PX_CTE.replace("{FILT}", ""))
def x_avi_frames(spark, sf_dir):
    """NATIVE video-container decode — the FOURTH modality's codec
    (round 8, completing image/audio/video): synthetic uncompressed AVIs
    (real RIFF structure — LIST hdrl with avih/strh/strf, LIST movi of
    '00db' DIB frames, idx1) are encoded executor-side
    (functions/video.py encode_avi) and decoded by the numpy RIFF walker
    (decode_avi: recursive LIST walk, strf 24bpp-BI_RGB validation, DIB
    frame bodies with bottom-up/BGR/4-byte-padding layout, strict
    refusal of compressed '00dc' chunks), then reduced to PER-FRAME
    position-weighted pixel digests. Every frame's pixels are a formula
    of (doc_id, frame_idx), so the oracle recomputes the digests
    exactly — a container-walk, frame-boundary, row-order or
    channel-order bug cannot hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    return VI.decode_frame_stats(VI.synthetic_avi_blobs(docs), every_k=1)


@query(
    "x_video_keyframes",
    oracle="WITH " + _VIDEO_PX_CTE.replace("{FILT}", "WHERE t.t % 2 = 0"),
)
def x_video_keyframes(spark, sf_dir):
    """Keyframe SAMPLING over real decoded video (every 2nd frame kept,
    applied after the container walk) — the standard frame-subsample
    pass of a video training pipeline, with the sampling boundary itself
    oracle-checked: the SQL filter `t % 2 = 0` must select exactly the
    frames the engine's stride keeps."""
    docs = load_table(spark, sf_dir, "documents")
    return VI.decode_frame_stats(VI.synthetic_avi_blobs(docs), every_k=2)


@query(
    "x_wav_dedup",
    oracle="""
WITH stems AS (
  SELECT doc_id, doc_id - doc_id % 3 AS stem FROM documents
), dims AS (
  SELECT DISTINCT stem, 400 + (stem % 7) * 50 AS n, 1 + stem % 2 AS ch
  FROM stems
), s AS (
  SELECT d.stem, d.n, d.ch, i.i AS i, c.c AS c,
         (d.stem * 37 + i.i * 13 + c.c * 101) % 4001 - 2000 AS v
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c
), digests AS (
  SELECT stem, MIN(n) AS n_samples, MIN(ch) AS n_channels,
         CAST(SUM(v) AS BIGINT) AS s_sum,
         CAST(SUM(v * ((i * ch + c) % 97)) AS BIGINT) AS s_weighted
  FROM s GROUP BY stem
)
SELECT CAST(16000 AS BIGINT) AS rate, d.n_samples, d.n_channels,
       d.s_sum, d.s_weighted,
       CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(st.doc_id) AS rep_doc
FROM stems st JOIN digests d ON d.stem = st.stem
GROUP BY 1, 2, 3, 4, 5""",
)
def x_wav_dedup(spark, sf_dir):
    """Exact AUDIO dedup over real decoded PCM (round 9, completing the
    per-modality dedup set: text exact/minhash, image phash, audio here,
    video x_video_dedup): every 3 consecutive docs share byte-identical
    synthetic audio (synthetic_wav_blobs_stemmed), the engine DECODES
    the WAVs and groups by the integer content digest — so the oracle
    checks decode + fingerprint + grouping end to end (a group with the
    wrong membership, a digest off by one sample, or a collision
    mishandled cannot hash-match). The grouping is BY DIGEST, not by
    stem, on both sides — digest collisions across stems would merge
    groups identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return AU.wav_exact_dedup(AU.synthetic_wav_blobs_stemmed(docs, mod=3))


@query(
    "x_audio_fingerprint_dedup",
    oracle="""
WITH meta AS (
  SELECT doc_id, doc_id - doc_id % 3 AS stem, 1 + doc_id % 3 AS scale
  FROM documents
), dims AS (
  SELECT doc_id, stem, scale,
         400 + (stem % 7) * 50 AS n, 1 + stem % 2 AS ch
  FROM meta
), mono AS (
  SELECT d.doc_id, d.n, i.i AS i,
         d.scale * SUM((d.stem * 37 + i.i * 13 + c.c * 101) % 4001 - 2000)
           AS v
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c
  GROUP BY d.doc_id, d.n, i.i, d.scale
), frames AS (
  SELECT m.doc_id, f.f AS frame_idx, SUM(m.v * m.v) AS energy
  FROM mono m,
       LATERAL (SELECT unnest(generate_series(0, (m.n - 64) // 32)) AS f) f
  WHERE m.i >= f.f * 32 AND m.i < f.f * 32 + 64
  GROUP BY m.doc_id, f.f
), bits AS (
  SELECT doc_id, frame_idx,
         CASE WHEN energy > lag(energy) OVER (
                PARTITION BY doc_id ORDER BY frame_idx)
              THEN '1' ELSE '0' END AS bit,
         lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
  FROM frames
), fp AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY frame_idx) AS fingerprint
  FROM bits WHERE prev IS NOT NULL GROUP BY doc_id
)
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS rep_doc
FROM fp GROUP BY fingerprint""",
)
def x_audio_fingerprint_dedup(spark, sf_dir):
    """LOUDNESS-INVARIANT audio dedup (round 9): every 3 consecutive docs
    carry the same recording VOLUME-SCALED ×1/×2/×3 — byte-different,
    sample-digest-different — and the delta-sign energy fingerprint
    (audio.audio_delta_fingerprint, the Haitsma-Kalper/Chromaprint move:
    bit i = energy_i > energy_{i-1}; scaling multiplies every integer
    energy by exactly k², preserving every comparison) groups them
    anyway. The oracle recomputes scaled samples → channel mix → frame
    energies → lag comparisons → the fingerprint STRING per doc, and
    groups BY FINGERPRINT on both sides — so decode, framing, the
    invariance argument and the grouping are all value-checked. Exact
    dedup provably cannot group these (tests pin the contrast)."""
    docs = load_table(spark, sf_dir, "documents")
    return AU.audio_fingerprint_dedup(
        AU.synthetic_wav_blobs_scaled(docs, mod=3)
    )


@query(
    "x_video_dedup",
    oracle="""
WITH stems AS (
  SELECT doc_id, doc_id - doc_id % 4 AS stem FROM documents
), dims AS (
  SELECT DISTINCT stem, 8 + 4 * (stem % 3) AS w, 6 + 2 * (stem % 2) AS h,
         2 + stem % 3 AS nf
  FROM stems
), px AS (
  SELECT d.stem, t.t AS frame_idx, d.w, d.h, d.nf,
         (d.stem * 29 + t.t * 59 + x.x * 7 + y.y * 13 + c.c * 101) % 256
           AS val,
         (((y.y * d.w + x.x) * 3 + c.c) % 97) AS pw
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS t) t,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
), digests AS (
  SELECT stem, CAST(MIN(nf) AS BIGINT) AS n_frames,
         MIN(w) AS width, MIN(h) AS height,
         CAST(SUM(val) AS BIGINT) AS px_total,
         CAST(SUM(val * pw * (frame_idx % 89 + 1)) AS BIGINT) AS px_ordered
  FROM px GROUP BY stem
)
SELECT d.n_frames, d.width, d.height, d.px_total, d.px_ordered,
       CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(st.doc_id) AS rep_doc
FROM stems st JOIN digests d ON d.stem = st.stem
GROUP BY 1, 2, 3, 4, 5""",
)
def x_video_dedup(spark, sf_dir):
    """Exact VIDEO dedup over real decoded frames (round 9): every 4
    consecutive docs share byte-identical synthetic AVIs; the engine
    walks the containers, digests every frame, folds the digests
    ORDER-SENSITIVELY (frame-position factor — plain sums commute, so a
    re-ordered cut would otherwise collide) and groups by the content
    fingerprint. The oracle recomputes every decoded pixel from the stem
    formula, so the whole walk + fingerprint + grouping is value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return VI.video_exact_dedup(VI.synthetic_avi_blobs_stemmed(docs, mod=4))


@query(
    "x_video_frame_neardup",
    oracle="""
WITH meta AS (
  SELECT doc_id, doc_id - doc_id % 4 AS stem, doc_id % 4 AS r
  FROM documents
), dims AS (
  SELECT doc_id, stem, r, 8 + 4 * (stem % 3) AS w, 6 + 2 * (stem % 2) AS h,
         2 + stem % 3 AS nf
  FROM meta
), px AS (
  SELECT d.doc_id, t.t AS frame_idx, d.w, d.h,
         CASE WHEN t.t = 0 AND x.x = 0 AND y.y = 0 AND c.c < d.r
              THEN 255 - ((d.stem * 29 + t.t * 59 + x.x * 7 + y.y * 13
                           + c.c * 101) % 256)
              ELSE (d.stem * 29 + t.t * 59 + x.x * 7 + y.y * 13
                    + c.c * 101) % 256 END AS val,
         (((y.y * d.w + x.x) * 3 + c.c) % 97) AS pw
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS t) t,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
), digests AS (
  SELECT DISTINCT doc_id, width, height, px_sum, px_weighted FROM (
    SELECT doc_id, frame_idx, MIN(w) AS width, MIN(h) AS height,
           CAST(SUM(val) AS BIGINT) AS px_sum,
           CAST(SUM(val * pw) AS BIGINT) AS px_weighted
    FROM px GROUP BY doc_id, frame_idx)
), sizes AS (
  SELECT doc_id, COUNT(*) AS nf FROM digests GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM digests a
  JOIN digests b ON a.width = b.width AND a.height = b.height
   AND a.px_sum = b.px_sum AND a.px_weighted = b.px_weighted
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, s.shared,
       ROUND(s.shared / (na.nf + nb.nf - s.shared), 6) AS jaccard
FROM shared s
JOIN sizes na ON na.doc_id = s.doc_a
JOIN sizes nb ON nb.doc_id = s.doc_b
WHERE s.shared / (na.nf + nb.nf - s.shared) >= 0.25""",
)
def x_video_frame_neardup(spark, sf_dir):
    """Video NEAR-dup by frame-set Jaccard — frames as shingles (round 9):
    every 4 consecutive docs share a stem video, with docs r=1..3 carrying
    a retouched frame 0 (corner channel values complemented), so stem
    members share all-but-one frame and stems share nothing. Candidates
    come from an equi-join on EXACT per-frame integer digests (never
    all-pairs); the oracle recomputes every decoded pixel including the
    retouch boundary, so the container walk, per-frame digesting, the
    shared-frame join and the Jaccard arithmetic are all value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return VI.video_frame_neardup_pairs(
        VI.synthetic_avi_blobs_perturbed(docs, mod=4), threshold=0.25
    )


def _ivf_topk_oracle(n_cells: int = 16, dim: int = 64, n_probe: int = 2, k: int = 5) -> str:
    """The FULL IVF pipeline in SQL on the fixed sha256-derived coarse
    centers (similarity.ivf_fixed_centers) embedded as literals — the same
    make-the-approximation-deterministic move as the PQ codebook oracle:
    cell assignment (argmin squared distance over the literal centers,
    ties to the lower cell = Spark's array_position / the matmul probe's
    stable argsort), per-query probe-cell routing (n_probe nearest centers
    by the same distance), candidate equi-join on cell, exact 6-dp cosine
    with vec_id tie-break. Squared-distance terms expand per element in
    the SAME left-associative order as Spark's aggregate fold; the scored
    cosine rides list_dot_product, whose 6-dp parity with the engine's
    scorers is proven by x_embed_cosine_topk."""
    from metrics_database_cron_script_spark.functions.similarity import (
        ivf_fixed_centers,
    )

    centers = ivf_fixed_centers(n_cells=n_cells, dim=dim)
    center_rows = ",\n  ".join(
        f"({c}, [{', '.join(repr(x) for x in cent)}])"
        for c, cent in enumerate(centers)
    )
    dist = " + ".join(
        f"(v[{d+1}] - c.cent[{d+1}])*(v[{d+1}] - c.cent[{d+1}])" for d in range(dim)
    )
    qdist = dist.replace("v[", "q_vec[")
    return f"""
WITH centers(cell, cent) AS (VALUES
  {center_rows}
), emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), q AS (
  SELECT vec_id AS q_id, v AS q_vec FROM emb WHERE vec_id < 10
), assign AS (
  SELECT e.vec_id, e.v, c.cell
  FROM emb e, centers c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY {dist}, c.cell) = 1
), qprobe AS (
  SELECT q.q_id, q.q_vec, c.cell
  FROM q, centers c
  QUALIFY row_number() OVER (PARTITION BY q.q_id
                             ORDER BY {qdist}, c.cell) <= {n_probe}
)
SELECT p.q_id, a.vec_id,
       ROUND(list_dot_product(p.q_vec, a.v)
             / (sqrt(list_dot_product(p.q_vec, p.q_vec))
                * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
FROM qprobe p JOIN assign a USING (cell)
WHERE a.vec_id <> p.q_id
QUALIFY row_number() OVER (PARTITION BY p.q_id ORDER BY cos DESC, a.vec_id) <= {k}"""


@query("x_embed_ivf_topk", oracle=_ivf_topk_oracle())
def x_embed_ivf_topk(spark, sf_dir):
    """IVF ANN via the per-cell BLAS matmul probe (ivf_probe_matmul) — the
    shape BENCH_ANN_SFXL.json measured 8× faster than the pair-join probe
    at 10 M vectors (recall 0.999 at 4.4 s vs 37.7 s brute). ORACLED since
    round 10 (rows-only tail task): the registered query runs the FIXED
    sha256-derived coarse quantizer (ivf_fixed_centers + the expression
    assigner ivf_assign_fixed), so assignment, probe routing and scoring
    are all literal-deterministic and DuckDB replays the pipeline end to
    end — the PQ codebook conversion's template applied to the quantizer.
    The trained quantizer (ivf_fit's driver-side k-means, used by
    ivf_topk_matmul and the daily index) remains the production default
    in the library — data-adaptive cells give better recall — and assigns
    through the same ivf_assign_fixed expression; it is equivalence-gated
    against the pair probe in tests/test_dedup_quality.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    centers = S.ivf_fixed_centers()
    assigned = S.ivf_assign_fixed(emb, centers)
    return S.ivf_probe_matmul(assigned, _queries_table(spark, sf_dir), centers, k=5)


def _pq_topk_oracle(m=8, codes=16, sub=8, k=5, rerank=4) -> str:
    """The FULL PQ/ADC pipeline in SQL, on the fixed sha256-derived
    codebooks (similarity.pq_fixed_codebooks) embedded as literals — the
    same make-the-approximation-deterministic move as the LSH hyperplane
    oracle: encode (per-subspace argmin over the literal centroids, ties
    to the lower index = Spark's array_position), decode (flatten of the
    chosen centroids in subspace order), 6-dp-rounded proxy shortlist of
    rerank·k with vec_id tie-break, exact cosine re-rank. Squared-distance
    terms are expanded per element in the SAME left-associative order as
    Spark's aggregate fold, so the doubles match bitwise."""
    from metrics_database_cron_script_spark.functions.similarity import (
        pq_fixed_codebooks,
    )

    books = pq_fixed_codebooks(m=m, codes=codes, sub=sub)
    book_rows = ",\n  ".join(
        f"({j}, {c}, [{', '.join(repr(x) for x in books[j][c])}])"
        for j in range(m)
        for c in range(codes)
    )
    # per-subspace squared distance, expanded left-associative like the
    # Spark aggregate fold: ((t1+t2)+t3)+...
    dist = " + ".join(
        f"(v[b.j*{sub}+{d+1}] - b.cent[{d+1}])"
        f"*(v[b.j*{sub}+{d+1}] - b.cent[{d+1}])"
        for d in range(sub)
    )
    return f"""
WITH books(j, c, cent) AS (VALUES
  {book_rows}
), emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), q AS (
  SELECT vec_id AS q_id, v AS q_vec FROM emb WHERE vec_id < 10
), dists AS (
  SELECT e.vec_id, b.j, b.c, {dist} AS dist
  FROM emb e, books b
), coded AS (
  SELECT vec_id, j, c FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) = 1
), approx AS (
  SELECT cd.vec_id, flatten(list(b.cent ORDER BY cd.j)) AS av
  FROM coded cd JOIN books b ON b.j = cd.j AND b.c = cd.c
  GROUP BY cd.vec_id
), proxy AS (
  SELECT q.q_id, a.vec_id,
         ROUND(list_dot_product(q.q_vec, a.av)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(a.av, a.av))), 6) AS p
  FROM approx a, q WHERE a.vec_id <> q.q_id
), shortlist AS (
  SELECT q_id, vec_id FROM proxy
  QUALIFY row_number() OVER (
    PARTITION BY q_id ORDER BY p DESC, vec_id) <= {rerank * k}
)
SELECT s.q_id, s.vec_id,
       ROUND(list_dot_product(q.q_vec, e.v)
             / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
FROM shortlist s
JOIN emb e ON e.vec_id = s.vec_id
JOIN q ON q.q_id = s.q_id
QUALIFY row_number() OVER (PARTITION BY s.q_id ORDER BY cos DESC, s.vec_id) <= {k}"""


@query("x_embed_pq_topk", oracle=_pq_topk_oracle())
def x_embed_pq_topk(spark, sf_dir):
    """Product-quantization ANN: m-byte codes scanned in place of full
    vectors, ADC proxy shortlist, exact re-rank on the shortlist only —
    the billion-vector memory-bandwidth layout (recall vs brute force
    asserted in tests/test_pq_topk.py). ORACLED since round 9 (rows-only
    tail task): the registered query runs the fixed sha256-derived
    codebooks (pq_fixed_codebooks) so encode/decode/shortlist/re-rank are
    all literal-deterministic and DuckDB replays the pipeline end to end;
    the MLlib-trained codebook path (pq_codebooks) remains the production
    default in the library, recall-tested at fixture scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_topk(
        emb, _queries_table(spark, sf_dir), k=5, books=S.pq_fixed_codebooks()
    )


def _dedup_pipeline_oracle() -> str:
    return (
        r"""
WITH pbase AS (
  SELECT * FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) >= 10
    AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) >= length(text) * 0.5
), pexact AS (
  SELECT * FROM pbase
  QUALIFY row_number() OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ORDER BY doc_id) = 1
), """
        + _minhash_pair_cte("pexact")
        + """, plosers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pjacc WHERE jaccard >= 0.85
)
SELECT e.* FROM pexact e LEFT JOIN plosers l ON l.doc_id = e.doc_id
WHERE l.doc_id IS NULL"""
    )


def _curation_pipeline_oracle() -> str:
    """The MULTIMODAL curation pipeline in SQL: the text pipeline's
    survivor set (quality gate → exact dedup → near-dup drop — the same
    CTEs as x_dedup_pipeline), then IMAGE exact dedup over the survivors'
    decoded aHashes (the _PHASH_CTE formula restricted to survivors,
    keep-lowest-doc_id per hash)."""
    return (
        r"""
WITH pbase AS (
  SELECT * FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) >= 10
    AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) >= length(text) * 0.5
), pexact AS (
  SELECT * FROM pbase
  QUALIFY row_number() OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ORDER BY doc_id) = 1
), """
        + _minhash_pair_cte("pexact")
        + """, plosers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pjacc WHERE jaccard >= 0.85
), tsurv AS (
  SELECT e.* FROM pexact e LEFT JOIN plosers l ON l.doc_id = e.doc_id
  WHERE l.doc_id IS NULL
), """
        + _PHASH_CTE.replace("FROM documents", "FROM tsurv")
        + """
SELECT t.* FROM tsurv t JOIN ph ON ph.doc_id = t.doc_id
QUALIFY row_number() OVER (PARTITION BY ph.phash ORDER BY t.doc_id) = 1"""
    )


@query("x_curation_pipeline", oracle=_curation_pipeline_oracle())
def x_curation_pipeline(spark, sf_dir):
    """The COMPOSED multimodal training-data curation pipeline (round 9):
    text quality gate → exact text dedup → MinHash near-dup drop (the
    x_dedup_pipeline stages, portable twin) → IMAGE exact dedup over the
    survivors' decoded aHashes (keep-lowest-doc_id per perceptual hash) —
    the end-to-end shape a real corpus build runs, with the FINAL
    survivor set value-hash-checked against DuckDB recomputing every
    stage including the decoded pixels. Scale shape: each stage is the
    already-audited plan (two-level aggs, band-bucket equi-join, Arrow
    decode, 64-bit-hash groupBy); composition adds no new shuffle class.
    """
    from pyspark.sql import Window

    survivors = D.dedup_pipeline_portable(
        load_table(spark, sf_dir, "documents")
    )
    hashes = M.ahash_from_blobs(M.synthetic_bmp_blobs(survivors))
    w = Window.partitionBy("phash").orderBy("doc_id")
    keep = (
        hashes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id")
    )
    return survivors.join(keep, "doc_id")


@query("x_dedup_pipeline", oracle=_dedup_pipeline_oracle())
def x_dedup_pipeline(spark, sf_dir):
    """Composed training-data dedup (quality gate → exact dedup → near-dup
    drop) on the portable MinHash stage, so the SURVIVOR SET of the whole
    composition is value-hash-checked against DuckDB. `D.dedup_pipeline`
    keeps the xxhash64 fast path for production."""
    return D.dedup_pipeline_portable(load_table(spark, sf_dir, "documents"))


@query(
    "x_doc_stats_by_source",
    oracle="""
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM documents GROUP BY source""",
)
def x_doc_stats_by_source(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "x_pii_scrub",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         'https?://[^\s]+', '<URL>', 'g') AS scrubbed
FROM documents""",
)
def x_pii_scrub(spark, sf_dir):
    return TX.pii_scrub(load_table(spark, sf_dir, "documents"))


@query(
    "x_length_histogram",
    oracle="""
SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_docs, CAST(MIN(n_chars) AS BIGINT) AS shortest,
       CAST(MAX(n_chars) AS BIGINT) AS longest
FROM documents GROUP BY bucket_lo""",
)
def x_length_histogram(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        (F.floor(F.col("n_chars") / 50) * 50).cast("long").alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("shortest"),
        F.max("n_chars").cast("long").alias("longest"),
    )


@query(
    "x_decontaminate",
    oracle="""
WITH corpus AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents WHERE doc_id >= 5
), bench AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents WHERE doc_id < 5
), csh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(t[i:i+2], ' '))) AS g
    FROM corpus)
  WHERE g <> ''
), bsh AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(t[i:i+2], ' '))) AS g
    FROM bench)
  WHERE g <> ''
)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_shingles
FROM csh c JOIN bsh b USING (g)
GROUP BY c.doc_id""",
)
def x_decontaminate(spark, sf_dir):
    """The Spark plan joins on 64-bit shingle HASHES (8-byte shuffle keys);
    the oracle joins the raw shingle strings — identical output because the
    hash is used for equality only, so this is a full value-hash check of
    the contamination counts, not a rows-only run."""
    # n=3 for the fixture demo (real decontamination uses 8-13-gram shingles,
    # but the synthetic word-salad corpus shares no 8-gram with anything)
    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    return TX.decontaminate(corpus, benchmark, n=3)


# ----------------------------------------------- splits & sampling (training)

# Deterministic engine-agnostic hash: Knuth multiplicative on the id, pure
# BIGINT arithmetic so Spark and DuckDB compute bit-identical buckets (no
# rand(), no engine hash functions). 100 buckets.
_BUCKET = "((doc_id * 2654435761) % 4294967296) % 100"


@query(
    "x_deterministic_split",
    oracle=f"""
SELECT doc_id, lang,
       CASE WHEN {_BUCKET} < 80 THEN 'train'
            WHEN {_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents""",
)
def x_deterministic_split(spark, sf_dir):
    """Reproducible 80/10/10 split: hash-bucket assignment, stable across
    runs, engines, and cluster sizes — never rand() (SURVEY §7.3 #5
    determinism discipline)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 4294967296 % 100
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )


@query(
    "x_stratified_sample",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {_BUCKET}, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= CAST(ceil(0.2 * n_lang) AS BIGINT)""",
)
def x_stratified_sample(spark, sf_dir):
    """20% per-language stratified sample, deterministic: rank docs within
    each language by their hash bucket and keep the first ceil(0.2·n) — the
    balanced-subset op for eval-set construction."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 4294967296 % 100
    w = W.partitionBy("lang").orderBy(bucket.asc(), F.col("doc_id").asc())
    wc = W.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(0.2 * F.col("n_lang")))
        .select("doc_id", "lang")
    )


@query(
    "x_token_packing",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
runs AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
           AS tokens_before
  FROM toks
)
SELECT doc_id, n_tokens, CAST(floor(tokens_before / 2048) AS BIGINT) AS pack_id
FROM runs""",
)
def x_token_packing(spark, sf_dir):
    """Greedy sequence packing: assign docs (in stable doc_id order) to
    2048-token training bins by running token count — the batch-construction
    op between dedup and tokenization. The global running sum is the one
    intentionally serial step; at 100 TB it runs per shard (partition by
    shard id) rather than globally."""
    from pyspark.sql import Window as W

    from metrics_database_cron_script_spark.functions.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(tokens_col()).cast("long").alias("n_tokens"))
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    runs = toks.withColumn(
        "tokens_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return runs.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("tokens_before") / 2048).cast("long").alias("pack_id"),
    )


def _dedup_clusters_oracle() -> str:
    return (
        "WITH RECURSIVE "
        + _minhash_pair_cte("documents")
        + """, ppairs AS (
  SELECT doc_a, doc_b FROM pjacc WHERE jaccard >= 0.5
), pedges AS (
  SELECT doc_a AS u, doc_b AS v FROM ppairs
  UNION
  SELECT doc_b, doc_a FROM ppairs
), preach AS (
  SELECT u AS doc_id, v AS peer FROM pedges
  UNION
  SELECT r.doc_id, e.v FROM preach r JOIN pedges e ON e.u = r.peer
)
SELECT doc_id,
       LEAST(doc_id, MIN(peer)) AS component,
       doc_id = LEAST(doc_id, MIN(peer)) AS is_representative
FROM preach GROUP BY doc_id"""
    )


@query("x_dedup_clusters", oracle=_dedup_clusters_oracle())
def x_dedup_clusters(spark, sf_dir):
    """Near-dup clusters on the portable MinHash pairs: LSH candidates →
    exact Jaccard ≥ 0.5 → iterative min-label connected components → one
    representative per cluster. The oracle reproduces the pairs AND the
    fixpoint (recursive CTE), so the cluster ids are value-hash-checked.
    `D.dedup_clusters` keeps the xxhash64 fast path."""
    return D.dedup_clusters_portable(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.5
    )


@query(
    "x_multimodal_frames",
    oracle="""
WITH b AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT b.doc_id, i.i AS frame_idx,
       substring(b.hx, i.i * 128 + 1, 128) AS frame_hex
FROM b, LATERAL (
  SELECT unnest(generate_series(0, CAST(ceil(b.n / 64.0) AS BIGINT) - 1)) AS i
) i
WHERE i.i % 4 = 0""",
)
def x_multimodal_frames(spark, sf_dir):
    """Frame sampling over opaque payloads (64-byte frames, every 4th
    kept), WITH a value oracle (round-7 verdict item 8 — was rows-only):
    the sampled frame BYTES are projected to hex so DuckDB can recompute
    them from `substring(hex(payload))` — any off-by-one in the frame
    boundaries, the stride, or the kept-index arithmetic breaks the
    hash. The mapInPandas plumbing under test is unchanged; only the
    comparison projection is hex."""
    blobs = M.blob_table(load_table(spark, sf_dir, "documents"))
    frames = M.frame_sample(blobs, frame_size=64, every_k=4)
    return frames.select(
        "doc_id", "frame_idx", F.hex("frame").alias("frame_hex")
    )


@query(
    "x_multimodal_resize",
    oracle="""
WITH b AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), idx AS (
  SELECT b.doc_id, b.hx, b.n, k.k AS k,
         CASE
           WHEN b.n <= 32 THEN k.k
           WHEN k.k = 31 THEN b.n - 1
           ELSE CAST(FLOOR(k.k * ((b.n - 1) / 31.0)) AS BIGINT)
         END AS pos
  FROM b, LATERAL (
    SELECT unnest(generate_series(0, LEAST(32, b.n) - 1)) AS k
  ) k
), agg AS (
  SELECT doc_id,
         string_agg(substring(hx, pos * 2 + 1, 2), '' ORDER BY k) AS resized_hex
  FROM idx GROUP BY doc_id
)
SELECT b.doc_id, coalesce(agg.resized_hex, '') AS resized_hex,
       b.n AS orig_bytes
FROM b LEFT JOIN agg USING (doc_id)""",
)
def x_multimodal_resize(spark, sf_dir):
    """Uniform byte subsampling to 32 bytes ('thumbnail' batch shape),
    WITH a value oracle (round-7 verdict item 8 — was rows-only). The
    subsample indices are np.linspace(0, n-1, 32): the oracle mirrors
    numpy's exact float64 evaluation order — pos = floor(k · ((n−1)/31.0))
    with the division FIRST (numpy's arange·delta), and k=31 pinned to
    n−1 (numpy forces the endpoint) — so truncation boundaries agree bit
    for bit. Bytes compared as hex, same as x_multimodal_frames."""
    blobs = M.blob_table(load_table(spark, sf_dir, "documents"))
    rz = M.resize_bytes(blobs, target_bytes=32)
    return rz.select(
        "doc_id", F.hex("resized").alias("resized_hex"), "orig_bytes"
    )


@query(
    "x_interleave_sources",
    oracle="""
SELECT doc_id, source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS round,
       CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) AS source_idx
FROM documents""",
)
def x_interleave_sources(spark, sf_dir):
    """Deterministic source interleaving for training order: position within
    source (round) × source index — consuming in (round, source_idx) order
    round-robins the sources, the standard mixture-scheduling primitive."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.row_number().over(W.partitionBy("source").orderBy("doc_id")).alias("round"),
        F.dense_rank().over(W.orderBy("source")).cast("long").alias("source_idx"),
    )


@query(
    "x_lexical_diversity",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CASE WHEN len(toks) > 0
            THEN ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
       END AS ttr
FROM t""",
)
def x_lexical_diversity(spark, sf_dir):
    """Type-token ratio per doc (lexical diversity — a standard text-quality
    signal complementing x_quality_score)."""
    from metrics_database_cron_script_spark.functions.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        F.when(n > 0, F.round(nd.cast("double") / n, 6)).alias("ttr"),
    )


@query(
    "x_char_histogram",
    oracle="""
SELECT ch, COUNT(*) AS n
FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch FROM documents)
GROUP BY ch""",
)
def x_char_histogram(spark, sf_dir):
    """Corpus letter-frequency histogram (the cheap signal behind encoding
    and language sanity checks)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]"), F.lit(0))).alias("ch"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "x_source_mixture",
    oracle="""
WITH weights AS (
  SELECT * FROM (VALUES ('src0', 90), ('src1', 50), ('src2', 10)) AS w(source, pct)
)
SELECT d.doc_id, d.source
FROM documents d
JOIN weights w ON d.source = w.source
WHERE ((d.doc_id * 2654435761) % 4294967296) % 100 < w.pct""",
)
def x_source_mixture(spark, sf_dir):
    """Weighted source mixture: per-source keep-fractions applied via the
    deterministic hash bucket (the dataset-mixing step that tunes the
    training distribution — upsample src0, downsample src2)."""
    d = load_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("src0", 90), ("src1", 50), ("src2", 10)], "source string, pct int"
    )
    bucket = (F.col("doc_id") * 2654435761) % 4294967296 % 100
    return (
        d.join(F.broadcast(weights), "source")
        .filter(bucket < F.col("pct"))
        .select("doc_id", "source")
    )


@query(
    "x_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, 1 AS n, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_filter(list_transform(t,
             (x, i) -> CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
             g -> g IS NOT NULL)) AS g
  FROM toks
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_filter(list_transform(t,
             (x, i) -> CASE WHEN i + 2 <= len(t)
                       THEN x || ' ' || t[i + 1] || ' ' || t[i + 2] END),
             g -> g IS NOT NULL)) AS g
  FROM toks
), per AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
), frac AS (
  SELECT doc_id, n,
         ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), 6) AS f
  FROM per GROUP BY doc_id, n
)
SELECT doc_id,
       MAX(CASE WHEN n = 1 THEN f END) AS dup_word_frac,
       MAX(CASE WHEN n = 2 THEN f END) AS dup_2gram_frac,
       MAX(CASE WHEN n = 3 THEN f END) AS dup_3gram_frac
FROM frac GROUP BY doc_id""",
)
def x_repetition(spark, sf_dir):
    """Gopher-style repetition signals: per document, the fraction of n-gram
    occurrences (n=1,2,3) that belong to an n-gram appearing more than once
    in that document. One union of tagged gram streams → a single shuffle
    chain (group → re-group → conditional pivot), no per-n passes over the
    corpus. Token array materialized in its own projection (interpreted HOFs
    re-evaluate inlined exprs per element)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))

    def gram_arr(n: int) -> str:
        if n == 1:
            return "transform(t, x -> struct(1 as n, x as g))"
        return (
            f"CASE WHEN size(t) >= {n} THEN transform(sequence(0, size(t) - {n}),"
            f" i -> struct({n} as n, concat_ws(' ', slice(t, i + 1, {n})) as g))"
            " ELSE array() END"
        )

    # all three gram streams from ONE scan: concat the tagged arrays in a
    # single projection and explode once (a 3-way union would re-read the
    # text column three times — 3× I/O at corpus scale)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"concat({gram_arr(1)}, {gram_arr(2)}, {gram_arr(3)})")
        ).alias("ng"),
    ).select("doc_id", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    per = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    frac = per.groupBy("doc_id", "n").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"), 6
        ).alias("f")
    )
    return frac.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("f"))).alias("dup_word_frac"),
        F.max(F.when(F.col("n") == 2, F.col("f"))).alias("dup_2gram_frac"),
        F.max(F.when(F.col("n") == 3, F.col("f"))).alias("dup_3gram_frac"),
    )


@query(
    "x_boilerplate",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_filter(list_transform(t,
             (x, i) -> CASE WHEN i + 3 <= len(t)
                       THEN x || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] END),
             g -> g IS NOT NULL)) AS g
  FROM toks
)
SELECT g AS phrase,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 3""",
)
def x_boilerplate(spark, sf_dir):
    """Corpus-level boilerplate detection: exact 4-gram phrases occurring in
    >= 3 distinct documents (the repeated-template signal used to strip
    headers/footers/navigation from web-crawl training data)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 4 THEN transform(sequence(0, size(t) - 4),"
                " i -> concat_ws(' ', slice(t, i + 1, 4))) ELSE array() END"
            )
        ).alias("phrase"),
    )
    return (
        grams.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 3)
    )


@query(
    "x_word_entropy",
    oracle="""
WITH cnt AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), per AS (
  SELECT doc_id, w, COUNT(*) AS c FROM cnt GROUP BY doc_id, w
), tot AS (
  SELECT doc_id, SUM(c) AS n FROM per GROUP BY doc_id
)
SELECT per.doc_id,
       ROUND(-SUM((c * 1.0 / n) * ln(c * 1.0 / n)), 6) + 0.0 AS entropy,
       CAST(COUNT(*) AS BIGINT) AS n_unique
FROM per JOIN tot ON per.doc_id = tot.doc_id
GROUP BY per.doc_id""",
)
def x_word_entropy(spark, sf_dir):
    """Per-document unigram (Shannon) entropy in nats — the
    randomness/diversity quality signal (low entropy = degenerate or
    template text). Window-based total avoids a second shuffle: counts and
    the per-doc total come from one grouped pass + a partition-local
    window."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    per = w.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    win = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(win)
    return (
        per.withColumn("plogp", p * F.log(p))
        .groupBy("doc_id")
        .agg(
            # + 0.0 normalizes IEEE -0.0 (all-identical-token docs) to +0.0
            # on both engines — repr-exact compare would otherwise split
            (F.round(-F.sum("plogp"), 6) + F.lit(0.0)).alias("entropy"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        )
    )


@query(
    "x_zipf",
    oracle="""
WITH freq AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
), ranked AS (
  SELECT w, freq,
         row_number() OVER (ORDER BY freq DESC, w ASC) AS rank
  FROM freq
)
SELECT w AS term, freq, rank,
       ROUND(ln(rank), 6) AS ln_rank,
       ROUND(ln(freq), 6) AS ln_freq
FROM ranked WHERE rank <= 100""",
)
def x_zipf(spark, sf_dir):
    """Corpus Zipf profile: term frequencies ranked (freq desc, term asc as
    the deterministic tie-break), log-log coordinates for the power-law fit
    — the vocabulary health-check on a training corpus. The global rank is
    a single-partition window over the (tiny) aggregated term table, not
    over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("w"))
    freq = w.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    win = Window.orderBy(F.col("freq").desc(), F.col("w").asc())
    return (
        freq.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 100)
        .select(
            F.col("w").alias("term"),
            "freq",
            "rank",
            F.round(F.log("rank"), 6).alias("ln_rank"),
            F.round(F.log("freq"), 6).alias("ln_freq"),
        )
    )


@query(
    "x_bigram_pmi",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), uni AS (
  SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), uni_n AS (SELECT SUM(c) AS n FROM uni),
bi AS (
  SELECT g, COUNT(*) AS c
  FROM (SELECT unnest(list_filter(list_transform(t,
            (x, i) -> CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
            g -> g IS NOT NULL)) AS g
        FROM toks)
  GROUP BY g
), bi_n AS (SELECT SUM(c) AS n FROM bi)
SELECT bi.g AS bigram, bi.c AS n_pair,
       ROUND(ln((bi.c * 1.0 / bi_n.n)
                / ((u1.c * 1.0 / uni_n.n) * (u2.c * 1.0 / uni_n.n))), 6) AS pmi
FROM bi, bi_n, uni_n
JOIN uni u1 ON u1.w = split_part(bi.g, ' ', 1)
JOIN uni u2 ON u2.w = split_part(bi.g, ' ', 2)
WHERE bi.c >= 20""",
)
def x_bigram_pmi(spark, sf_dir):
    """Pointwise mutual information of word bigrams (collocation mining over
    the corpus): pmi = ln(p(xy) / (p(x)·p(y))), support-filtered. Unigram and
    bigram totals ride along as broadcast scalar dims; the only large
    shuffles are the two term-count groupBys."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    # ONE corpus scan: unigrams and bigrams ride the same tagged explode
    # (cf. x_repetition); the aggregated (n, gram) term table is vocabulary-
    # sized, so it is persisted and filtered per n instead of re-scanning.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat(transform(t, x -> struct(1 as n, x as g)),"
                " CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2),"
                " i -> struct(2 as n, concat_ws(' ', slice(t, i + 1, 2)) as g))"
                " ELSE array() END)"
            )
        ).alias("ng"),
    ).select(F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    counts = grams.groupBy("n", "g").agg(F.count(F.lit(1)).alias("c")).persist()
    uni = counts.filter(F.col("n") == 1).select(F.col("g").alias("w"), "c")
    bi = (
        counts.filter((F.col("n") == 2) & (F.col("c") >= 20)).select("g", "c")
    )
    uni_n = uni.agg(F.sum("c").alias("un"))
    bi_n_all = counts.filter(F.col("n") == 2).agg(F.sum("c").alias("bn"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bi.withColumn("w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("g"), F.lit(" "), F.lit(2)))
        # unigram totals are VOCABULARY-sized — sub-linear but unbounded
        # growth with the corpus, so no pinned broadcast: under the
        # auto-threshold they broadcast anyway, beyond it the planner
        # degrades to a shuffle join (the 1-row corpus totals below stay
        # hinted — genuinely bounded).
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(uni_n))
        .crossJoin(F.broadcast(bi_n_all))
        .select(
            F.col("g").alias("bigram"),
            F.col("c").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("c") / F.col("bn"))
                    / ((F.col("c1") / F.col("un")) * (F.col("c2") / F.col("un")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "x_drift_psi",
    oracle="""
WITH ref AS (SELECT event_type, value FROM events WHERE event_id % 2 = 0),
cur AS (SELECT event_type, value FROM events WHERE event_id % 2 = 1),
bounds AS (
  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
         COUNT(*) AS n_ref
  FROM ref GROUP BY event_type
), rb AS (
  SELECT r.event_type,
         LEAST(9, GREATEST(0, CAST(floor((r.value - b.lo) * 10.0
                                         / NULLIF(b.hi - b.lo, 0)) AS BIGINT))) AS bkt,
         COUNT(*) AS c
  FROM ref r JOIN bounds b ON r.event_type = b.event_type
  GROUP BY 1, 2
), cb AS (
  SELECT c.event_type,
         LEAST(9, GREATEST(0, CAST(floor((c.value - b.lo) * 10.0
                                         / NULLIF(b.hi - b.lo, 0)) AS BIGINT))) AS bkt,
         COUNT(*) AS c
  FROM cur c JOIN bounds b ON c.event_type = b.event_type
  GROUP BY 1, 2
), spine AS (
  SELECT DISTINCT b.event_type, s.bkt
  FROM bounds b, (SELECT unnest(generate_series(0, 9)) AS bkt) s
), fr AS (
  SELECT s.event_type, s.bkt,
         GREATEST(COALESCE(rb.c, 0) * 1.0
                  / NULLIF(SUM(COALESCE(rb.c, 0)) OVER (PARTITION BY s.event_type), 0),
                  1e-6) AS p_ref,
         GREATEST(COALESCE(cb.c, 0) * 1.0
                  / NULLIF(SUM(COALESCE(cb.c, 0)) OVER (PARTITION BY s.event_type), 0),
                  1e-6) AS p_cur
  FROM spine s
  LEFT JOIN rb ON rb.event_type = s.event_type AND rb.bkt = s.bkt
  LEFT JOIN cb ON cb.event_type = s.event_type AND cb.bkt = s.bkt
)
SELECT event_type, ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi
FROM fr GROUP BY event_type""",
)
def x_drift_psi(spark, sf_dir):
    """Population-stability-index drift check between two deterministic
    halves of the events stream (the train-vs-serve distribution monitor):
    10 equi-width buckets from the reference half's min/max, PSI =
    Σ (p_cur − p_ref)·ln(p_cur/p_ref) with 1e-6 flooring on empty buckets."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    bounds = ref.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )

    def bucketed(side, name):
        bkt = F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    * 10.0
                    / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
                ).cast("bigint"),
            ),
        )
        return (
            side.join(F.broadcast(bounds), "event_type")
            .groupBy("event_type", bkt.alias("bkt"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    rb = bucketed(ref, "cr")
    cb = bucketed(cur, "cc")
    spine = bounds.select("event_type").crossJoin(
        F.broadcast(spark.range(10).select(F.col("id").cast("bigint").alias("bkt")))
    )
    w = Window.partitionBy("event_type")
    fr = (
        spine.join(rb, ["event_type", "bkt"], "left")
        .join(cb, ["event_type", "bkt"], "left")
        .select(
            "event_type",
            "bkt",
            # NULLIF guards the all-buckets-empty half (an event_type with
            # no rows in one split): ANSI mode turns the 0-divide into a
            # crash, and greatest() skipping the NULL lands on the 1e-6
            # floor — the intended PSI clamp
            F.greatest(
                F.coalesce(F.col("cr"), F.lit(0))
                / F.nullif(F.sum(F.coalesce(F.col("cr"), F.lit(0))).over(w), F.lit(0)),
                F.lit(1e-6),
            ).alias("p_ref"),
            F.greatest(
                F.coalesce(F.col("cc"), F.lit(0))
                / F.nullif(F.sum(F.coalesce(F.col("cc"), F.lit(0))).over(w), F.lit(0)),
                F.lit(1e-6),
            ).alias("p_cur"),
        )
    )
    return fr.groupBy("event_type").agg(
        F.round(
            F.sum((F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))),
            6,
        ).alias("psi")
    )


@query(
    "x_embed_sq_topk",
    oracle="""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           greatest(-127, least(127,
             CAST(round(CAST(x AS DOUBLE) * 127) AS INTEGER)))) AS qv
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS q_id, c.vec_id,
         CAST(list_inner_product(
           list_transform(c.qv, v -> CAST(v AS DOUBLE)),
           list_transform(q.qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS score
  FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
)
SELECT q_id, vec_id, score FROM scored
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY score DESC, vec_id) <= 5""",
)
def x_embed_sq_topk(spark, sf_dir):
    """Int8 scalar-quantized top-k (similarity.sq_topk): the 4×-smaller
    vectors path; recall vs exact cosine is asserted by
    tests/test_dedup_quality.py. ORACLED since round 9 (rows-only tail
    task): the quantization is a deterministic affine round —
    clamp(round(x·127)) — and the score an exact integer dot product
    (< 2^53, so the oracle's float inner product is exact), so DuckDB
    reproduces codes, scores and ranking bit-for-bit; both engines round
    half away from zero on the same binary doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.sq_topk(emb, _queries_table(spark, sf_dir), k=5)


@query(
    "x_quality_buckets",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_words
  FROM documents
)
SELECT doc_id, lang,
       CAST(ntile(3) OVER (PARTITION BY lang
                           ORDER BY n_words DESC, doc_id) AS BIGINT) AS bucket
FROM scored""",
)
def x_quality_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail quality terciles per language: rank docs
    within each lang partition by a quality signal (word count here; the
    full scorer is functions/text.quality_score) and ntile(3) — the mixture
    knob that lets training sample 'head' quality more heavily. One window
    shuffle on lang; bucket boundaries are data-derived, not fixed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_words")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n_words").desc(), "doc_id")
    return scored.select(
        "doc_id", "lang", F.ntile(3).over(w).cast("bigint").alias("bucket")
    )


@query(
    "x_fuzzy_name_pairs",
    oracle="""
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND abs(len(a.c_name) - len(b.c_name)) <= 1
 AND levenshtein(a.c_name, b.c_name) <= 1""",
)
def x_fuzzy_name_pairs(spark, sf_dir):
    """Exact Levenshtein-distance-1 entity pairs via FastSS deletion-
    neighborhood blocking (functions/dedup.fuzzy_pairs_edit1) — the
    fuzzy-dedup of entity names that stays O(n·len) where the oracle's
    cross join is O(n²). Both sides produce the complete distance-1 pair
    set, so the hash comparison proves the blocking loses nothing."""
    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs_edit1(c, key="c_custkey", text="c_name").select(
        F.col("key_a").cast("bigint"), F.col("key_b").cast("bigint")
    )


@query(
    "x_dataset_card",
    oracle="""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
), langs AS (
  SELECT COUNT(DISTINCT lang) AS n_langs FROM documents
), dups AS (
  SELECT COUNT(*) - COUNT(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS n_exact_dups
  FROM documents
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
       (SELECT n_langs FROM langs) AS n_langs,
       (SELECT CAST(SUM(n_toks) AS BIGINT) FROM toks) AS total_tokens,
       (SELECT ROUND(AVG(n_toks), 6) FROM toks) AS avg_doc_tokens,
       (SELECT n_exact_dups FROM dups) AS n_exact_dups""",
)
def x_dataset_card(spark, sf_dir):
    """Dataset-card summary row: corpus size, source/language breadth,
    token volume, exact-duplicate count — the one-glance stats block a
    training-data release ships. Each stat is a full-corpus aggregate that
    reduces to a scalar; Spark evaluates them in one pass over a shared
    scan + crossJoined single-row aggregates."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_toks"), "lang", "source", "text"
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    base = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_toks"), 6).alias("avg_doc_tokens"),
        (F.count(F.lit(1)) - F.countDistinct(norm)).alias("n_exact_dups"),
    )
    return base


@query(
    "x_vocab_coverage",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rk
    FROM tok GROUP BY w
  ) WHERE rk <= 30
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id""",
)
def x_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage / OOV rate per document against the corpus
    top-30 vocabulary — the tokenizer-fit diagnostic (how much of each doc
    a fixed vocab can express). The vocab is derived once (aggregated,
    tiny, broadcast); the per-doc pass is one explode + broadcast left
    join + group."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.col("c").desc(), "w")))
        .filter(F.col("rk") <= 30)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


@query(
    "x_dup_rate_by_source",
    oracle=r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS BIGINT) AS n_unique,
       ROUND((COUNT(*) - COUNT(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
             * 1.0 / COUNT(*), 6) AS dup_rate
FROM documents GROUP BY source""",
)
def x_dup_rate_by_source(spark, sf_dir):
    """Exact-duplicate rate per source — the data-governance readout that
    tells you WHICH feed is dirty before spending near-dup compute on it.
    One grouped pass; the normalized-text distinct count rides the same
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(norm).cast("bigint").alias("n_unique"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct(norm)) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@query("x_compression_ratio", oracle=None)  # needs a real compressor → rows-only
def x_compression_ratio(spark, sf_dir):
    """Per-doc zlib compression ratio (functions/udfs.compression_ratio_udf)
    — low ratio ⇒ repetitive/templated text, the cheap quality signal that
    complements x_repetition's exact n-gram fractions. Quality ordering is
    asserted in tests/test_dedup_quality.py."""
    from metrics_database_cron_script_spark.functions.udfs import compression_ratio_udf

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", compression_ratio_udf()(F.col("text")).alias("zlib_ratio")
    )


@query(
    "x_cooccurrence_lift",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
single AS (
  SELECT event_type, COUNT(*) AS c FROM ut GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS c_ab
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.c_ab,
       ROUND(p.c_ab * 1.0 * n.n_users / (sa.c * sb.c), 6) AS lift
FROM pairs p
JOIN single sa ON sa.event_type = p.type_a
JOIN single sb ON sb.event_type = p.type_b
CROSS JOIN n""",
)
def x_cooccurrence_lift(spark, sf_dir):
    """Association mining over user behavior: event-type pair co-occurrence
    with lift = P(ab)/(P(a)P(b)). The self-join runs on the DISTINCT
    (user, type) relation — bounded by users × type-cardinality, never raw
    events — and the singles/total ride in as broadcast dims."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n = ut.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_users"))
    single = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    sa = single.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    sb = single.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            F.round(F.col("c_ab") * F.col("n_users") / (F.col("ca") * F.col("cb")), 6).alias(
                "lift"
            ),
        )
    )


@query(
    "x_winsorize",
    oracle="""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) AS value_winsorized,
       e.value < b.lo OR e.value > b.hi AS was_clipped
FROM events e JOIN bounds b ON e.event_type = b.event_type""",
)
def x_winsorize(spark, sf_dir):
    """Winsorization: clip each value to its group's [p5, p95] band — the
    outlier treatment applied to numeric features before training. Exact
    per-group quantiles are one aggregate over the fact table; the bound
    table is group-cardinality and broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6).alias(
                "value_winsorized"
            ),
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
                "was_clipped"
            ),
        )
    )


@query(
    "x_unicode_nfc",
    oracle="""
WITH d AS (
  SELECT source, replace(text, 'a', 'a' || chr(769)) AS derived FROM documents
), n AS (
  SELECT source, derived, nfc_normalize(derived) AS norm FROM d
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(length(derived)) AS BIGINT) AS chars_decomposed,
       CAST(SUM(length(norm)) AS BIGINT) AS chars_nfc,
       CAST(SUM(CASE WHEN norm <> derived THEN 1 ELSE 0 END) AS BIGINT)
         AS changed_docs
FROM n GROUP BY source""",
)
def x_unicode_nfc(spark, sf_dir):
    """Unicode NFC normalization audit — the canonicalization pass a
    multilingual corpus needs before exact/near dedup (decomposed and
    precomposed forms hash differently but render identically). The
    fixture is ASCII, so a decomposed form is derived deterministically
    in-plan (every 'a' → 'a' + U+0301) on BOTH engines; the normalize
    itself is an Arrow-vectorized pandas UDF (`Series.str.normalize` —
    Python is unavoidable here: Spark has no NFC builtin) checked
    code-point-for-code-point against DuckDB's nfc_normalize. Per-source
    readout: doc count, decomposed vs NFC code-point totals, changed-doc
    count."""
    # no type hints: `from __future__ import annotations` stringifies them
    # and pyspark can't resolve 'pd.Series' from a function-local import
    nfc = F.pandas_udf(lambda s: s.str.normalize("NFC"), "string")

    d = load_table(spark, sf_dir, "documents").select(
        "source", F.regexp_replace("text", "a", "a\u0301").alias("derived")
    )
    n = d.withColumn("norm", nfc("derived"))
    return n.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("derived")).alias("chars_decomposed"),
        F.sum(F.length("norm")).alias("chars_nfc"),
        F.sum(
            F.when(F.col("norm") != F.col("derived"), 1).otherwise(0)
        ).alias("changed_docs"),
    )


@query(
    "x_standardize",
    oracle="""
WITH stats AS (
  SELECT event_type,
         AVG(value) AS mu, stddev_samp(value) AS sigma,
         MIN(value) AS vmin, MAX(value) AS vmax
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 6) AS value_z,
       ROUND((e.value - s.vmin) / NULLIF(s.vmax - s.vmin, 0), 6) AS value_minmax
FROM events e JOIN stats s ON e.event_type = s.event_type""",
)
def x_standardize(spark, sf_dir):
    """Per-group feature scaling: z-score and min-max normalization against
    group statistics — the numeric-feature prep step (one grouped stats
    pass, broadcast stats join, codegen'd projection). NULLIF guards the
    degenerate constant-valued group."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0)), 6
            ).alias("value_z"),
            F.round(
                (F.col("value") - F.col("vmin"))
                / F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0)),
                6,
            ).alias("value_minmax"),
        )
    )


@query(
    "x_hapax_share",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), freq AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN f.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(SUM(CASE WHEN f.c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS hapax_share
FROM tok t JOIN freq f ON t.w = f.w
GROUP BY t.doc_id""",
)
def x_hapax_share(spark, sf_dir):
    """Corpus-hapax share per document: the fraction of a doc's tokens that
    occur exactly once in the WHOLE corpus — high share flags unique/noisy
    vocabulary (OCR junk, code, IDs), near-zero flags templated text. The
    corpus frequency table is vocabulary-sized; no broadcast hint — AQE
    broadcasts it while it fits and falls back to a shuffled join at
    web-scale vocabularies (where a forced broadcast would OOM)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.count(F.lit(1)), 6
            ).alias("hapax_share"),
        )
    )


@query(
    "x_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_filter(list_transform(t,
             (x, i) -> CASE WHEN i + 2 <= len(t)
                       THEN x || ' ' || t[i + 1] || ' ' || t[i + 2] END),
             g -> g IS NOT NULL)) AS g
  FROM toks
), dg AS (
  SELECT DISTINCT doc_id, g FROM grams
), first_seen AS (
  SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g
)
SELECT dg.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS novelty
FROM dg JOIN first_seen fs ON fs.g = dg.g
GROUP BY dg.doc_id""",
)
def x_ngram_novelty(spark, sf_dir):
    """3-gram novelty per document in doc_id (arrival) order: the share of
    a doc's distinct 3-grams whose FIRST corpus occurrence is this doc —
    the memorization/repeat-content readout a streaming ingest would track.
    One gram explode, a min-per-gram aggregate, and a join back."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', slice(t, i + 1, 3))) ELSE array() END"
            )
        ).alias("g"),
    ).distinct()
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "x_cross_source_dups",
    oracle=r"""
WITH norm AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
  FROM documents
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM norm a JOIN norm b
    ON a.nt = b.nt AND a.doc_id < b.doc_id AND a.source < b.source
)
SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
FROM pairs GROUP BY source_a, source_b""",
)
def x_cross_source_dups(spark, sf_dir):
    """Cross-source contamination matrix: pairs of sources shipping the
    IDENTICAL normalized text (one feed scraping another, or shared
    upstream) — the provenance readout that decides which feed to trust.
    Join key is the 64-bit normalized-text hash; verification re-checks the
    raw text so hash collisions cannot fabricate a pair."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n = d.select("doc_id", "source", norm.alias("nt"), F.xxhash64(norm).alias("h"))
    a = n.select(
        F.col("doc_id").alias("da"), F.col("source").alias("source_a"),
        F.col("nt").alias("nta"), "h",
    )
    b = n.select(
        F.col("doc_id").alias("db"), F.col("source").alias("source_b"),
        F.col("nt").alias("ntb"), "h",
    )
    return (
        a.join(b, "h")
        .filter(
            (F.col("da") < F.col("db"))
            & (F.col("source_a") < F.col("source_b"))
            & (F.col("nta") == F.col("ntb"))
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


@query(
    "x_lang_confusion",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_de,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and', 'is'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_en,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'es'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_es,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('le', 'la', 'et', 'est', 'les'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_fr,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ('de', 'shi', 'le', 'bu'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS score_zh
  FROM t
), pred AS (
  SELECT doc_id, lang,
       CASE
            WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
            WHEN score_zh = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'zh'
       END AS predicted_lang
  FROM s
)
SELECT lang, predicted_lang, COUNT(*) AS n,
       lang = predicted_lang AS is_match
FROM pred GROUP BY lang, predicted_lang""",
)
def x_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: declared lang × predicted lang counts
    — the calibration readout for the x_lang_id classifier (which declared
    languages it mistakes for which). Composes lang_id's full scoring
    pipeline and aggregates to a languages² relation."""
    pred = TX.lang_id(load_table(spark, sf_dir, "documents"))
    return pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.col("lang") == F.col("predicted_lang")).alias("is_match"),
    )


@query(
    "x_embed_outliers",
    oracle="""
WITH pos AS (
  SELECT vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), cent AS (
  SELECT list(m ORDER BY i) AS centroid
  FROM (SELECT i, AVG(v) AS m FROM pos GROUP BY i)
)
SELECT e.vec_id,
       ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(c.centroid, c.centroid))), 6)
         AS cos_to_centroid
FROM embeddings e, cent c
ORDER BY cos_to_centroid ASC, vec_id LIMIT 10""",
)
def x_embed_outliers(spark, sf_dir):
    """Embedding outlier screen (similarity.centroid_outliers): the 10
    vectors least aligned with the corpus centroid; a planted-outlier
    recall test lives in tests/test_dedup_quality.py. Upgraded from
    rows-only: both engines accumulate in double and rank on the ROUNDED
    cosine with vec_id tie-break (verified identical at sf0.001/0.01/0.1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.centroid_outliers(emb, k=10)


@query(
    "x_dup_cluster_sizes",
    oracle=r"""
WITH groups AS (
  SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
         COUNT(*) AS cluster_size
  FROM documents GROUP BY 1
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM groups GROUP BY cluster_size""",
)
def x_dup_cluster_sizes(spark, sf_dir):
    """Histogram of exact-duplicate cluster sizes (how many texts appear
    once, twice, ...) — the shape that decides dedup strategy: a few huge
    clusters means boilerplate, many pairs means mirrored feeds. Two
    map-side-combinable groupBys."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    groups = d.groupBy(norm.alias("nt")).agg(F.count(F.lit(1)).alias("cluster_size"))
    return groups.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )


@query(
    "x_embed_norm_audit",
    oracle="""
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
       abs(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) - 1.0) < 0.1 AS near_unit
FROM embeddings""",
)
def x_embed_norm_audit(spark, sf_dir):
    """L2-norm audit of the embedding column: un-normalized vectors break
    cosine≈dot shortcuts and quantization assumptions, so the ingest gate
    flags them. One codegen-adjacent HOF pass per vector (invariant hoisted
    into a single aggregate expression)."""
    from metrics_database_cron_script_spark.functions.similarity import l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    n = l2_norm(F.col("embedding"))
    return e.select(
        "vec_id",
        F.round(n, 4).alias("l2_norm"),
        (F.abs(n - 1.0) < 0.1).alias("near_unit"),
    )


@query(
    "x_bigram_perplexity",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bi AS (
  SELECT doc_id,
         unnest(list_filter(list_transform(t,
             (x, i) -> CASE WHEN i < len(t) THEN x || '\x01' || t[i + 1] END),
             g -> g IS NOT NULL)) AS g
  FROM toks
), bic AS (SELECT g, COUNT(*) AS c12 FROM bi GROUP BY g),
uni AS (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT doc_id,
               unnest(list_filter(list_transform(t,
                   (x, i) -> CASE WHEN i < len(t) THEN x END),
                   w -> w IS NOT NULL)) AS w
        FROM toks)
  GROUP BY w
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(-AVG(ln(bic.c12 * 1.0 / uni.c1)), 6) AS cross_entropy,
       ROUND(exp(-AVG(ln(bic.c12 * 1.0 / uni.c1))), 4) AS perplexity
FROM bi b
JOIN bic ON bic.g = b.g
JOIN uni ON uni.w = split_part(b.g, '\x01', 1)
GROUP BY b.doc_id""",
)
def x_bigram_perplexity(spark, sf_dir):
    """Per-document cross-entropy/perplexity under the CORPUS bigram model
    (p(w2|w1) = c12/c1, both counted over non-final positions so the
    conditional normalizes exactly): low perplexity flags formulaic text,
    high flags noise — the statistical-LM quality signal computed without
    any trained model. Every doc bigram exists in the corpus counts, so no
    smoothing is needed. Separator is \\x01 (absent from the token
    alphabet), keeping the uni join key exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], '\x01', t[i + 1])) ELSE array() END"
            )
        ).alias("g"),
    )
    bic = bi.groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        toks.select(
            F.explode(F.expr("slice(t, 1, greatest(size(t) - 1, 0))")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    lp = F.log(F.col("c12") / F.col("c1"))
    return (
        bi.join(bic, "g")
        .withColumn("w", F.split_part(F.col("g"), F.lit("\x01"), F.lit(1)))
        .join(uni, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(lp), 6).alias("cross_entropy"),
            F.round(F.exp(-F.avg(lp)), 4).alias("perplexity"),
        )
    )


@query(
    "x_incremental_dedup",
    oracle=r"""
WITH norm AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
  FROM documents
), existing AS (
  SELECT DISTINCT nt FROM norm WHERE doc_id < 250
), batch AS (
  SELECT * FROM norm WHERE doc_id >= 250
)
SELECT b.doc_id, b.source
FROM batch b
LEFT JOIN existing e ON b.nt = e.nt
WHERE e.nt IS NULL
QUALIFY row_number() OVER (PARTITION BY b.nt ORDER BY b.doc_id) = 1""",
)
def x_incremental_dedup(spark, sf_dir):
    """Incremental content dedup — the production cron shape: a new batch
    (doc_id >= watermark) is anti-joined against the EXISTING corpus's
    normalized-text set, then deduped within itself keeping the lowest
    doc_id. Combines the reference's idempotent-insert anti-join (R14,
    updatescript.py:62) with content hashing; both joins key on the
    normalized hash."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n = d.select("doc_id", "source", norm.alias("nt"))
    existing = n.filter(F.col("doc_id") < 250).select("nt").distinct()
    batch = n.filter(F.col("doc_id") >= 250)
    w = Window.partitionBy("nt").orderBy("doc_id")
    return (
        batch.join(existing, "nt", "left_anti")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source")
    )


@query(
    "x_bloom_dedup",
    oracle=r"""
WITH norm AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
  FROM documents
), existing AS (
  SELECT DISTINCT nt FROM norm WHERE doc_id < 250
), batch AS (
  SELECT * FROM norm WHERE doc_id >= 250
)
SELECT b.doc_id, b.source
FROM batch b
LEFT JOIN existing e ON b.nt = e.nt
WHERE e.nt IS NULL
QUALIFY row_number() OVER (PARTITION BY b.nt ORDER BY b.doc_id) = 1""",
)
def x_bloom_dedup(spark, sf_dir):
    """`x_incremental_dedup` re-planned for the 100 TB seen-set: a Bloom
    sketch of the existing corpus's normalized-text keys prunes the batch
    BEFORE the exact anti-join backstop (functions/bloom.py), so the join
    only sees true duplicates plus an fpp sliver of the batch while the
    result — and therefore the SQL oracle — is identical to the plain
    anti-join. Sketch sizing reads the seen-key count (one aggregate job
    here; a production cron would keep it with the seen-set state).
    Reference anchor: R14's idempotent insert (updatescript.py:62),
    scaled."""
    from metrics_database_cron_script_spark.functions.bloom import (
        bloom_pruned_anti_join,
    )

    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n = d.select("doc_id", "source", norm.alias("nt"))
    existing = n.filter(F.col("doc_id") < 250).select("nt").distinct()
    batch = n.filter(F.col("doc_id") >= 250)
    new_rows = bloom_pruned_anti_join(
        batch, existing, "nt", expected_items=existing.count(), fpp=0.01
    )
    w = Window.partitionBy("nt").orderBy("doc_id")
    return (
        new_rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source")
    )


@query(
    "x_incremental_neardup",
    oracle="WITH "
    + _minhash_pair_cte("documents")
    + """
SELECT doc_a, doc_b, jaccard FROM pjacc
WHERE doc_a < 250 AND doc_b >= 250""",
)
def x_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup — `x_incremental_dedup`'s fuzzy sibling and the
    production daily shape for MinHash: the new batch (doc_id ≥ 250)
    probes the existing corpus's LSH band index instead of re-running
    all-pairs banding over corpus+batch
    (functions/dedup.py minhash_probe_index_portable — in a real pipeline
    the index rows and shingle sets are persisted state, so a batch costs
    O(batch + collisions)). Emits (corpus doc_a, batch doc_b, exact
    jaccard) for every band collision; the oracle is the full all-pairs
    portable pipeline restricted to cross-split pairs — identical by
    construction, so the incremental plan is value-hash-checked against
    the batch-recompute semantics it replaces."""
    from metrics_database_cron_script_spark.functions.dedup import (
        minhash_probe_index_portable,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_probe_index_portable(
        d.filter(F.col("doc_id") < 250), d.filter(F.col("doc_id") >= 250)
    )


@query(
    "x_source_kl",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), src AS (
  SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w
), src_n AS (SELECT source, SUM(c) AS n FROM src GROUP BY source),
corpus AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
corpus_n AS (SELECT SUM(c) AS n FROM corpus)
SELECT s.source,
       ROUND(SUM((s.c * 1.0 / sn.n)
             * ln((s.c * 1.0 / sn.n) / (g.c * 1.0 / gn.n))), 6) AS kl_to_corpus
FROM src s
JOIN src_n sn ON sn.source = s.source
JOIN corpus g ON g.w = s.w
CROSS JOIN corpus_n gn
GROUP BY s.source""",
)
def x_source_kl(spark, sf_dir):
    """KL divergence of each source's token distribution from the corpus
    distribution — the feed-drift readout (which source's language diverges
    from the mixture). Every source token exists in the corpus counts, so
    the divergence is exact without smoothing; all joins run on the
    vocabulary-sized term tables."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    src = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    src_n = src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = tok.groupBy("w").agg(F.count(F.lit(1)).alias("gc"))
    corpus_n = corpus.agg(F.sum("gc").alias("gn"))
    p = F.col("c") / F.col("n")
    q = F.col("gc") / F.col("gn")
    return (
        src.join(F.broadcast(src_n), "source")
        .join(corpus, "w")
        .crossJoin(F.broadcast(corpus_n))
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_to_corpus"))
    )


@query(
    "x_token_budget",
    oracle="""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
), running AS (
  SELECT doc_id, n_toks,
         SUM(n_toks) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
  FROM toks
)
SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(cum_toks AS BIGINT) AS cum_toks,
       cum_toks <= 10000 AS in_budget
FROM running""",
)
def x_token_budget(spark, sf_dir):
    """Token-budget corpus selection: running token total in deterministic
    doc_id order with an in-budget flag — 'which prefix of the corpus fits
    a 10k-token training budget'. The running sum is the only global
    window; at scale it becomes a two-pass per-partition-offset cumsum, but
    the declared semantics stay exactly this."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(F.split("text", " ")).alias("n_toks"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return toks.select(
        "doc_id",
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.sum("n_toks").over(w).cast("bigint").alias("cum_toks"),
        (F.sum("n_toks").over(w) <= 10000).alias("in_budget"),
    )


@query(
    "x_mixture_weights",
    oracle="""
WITH cells AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
), tot AS (SELECT SUM(c) AS n, COUNT(*) AS n_cells FROM cells)
SELECT d.doc_id, d.source, d.lang,
       ROUND((t.n * 1.0 / t.n_cells) / cells.c, 6) AS sample_weight
FROM documents d
JOIN cells ON cells.source = d.source AND cells.lang = d.lang
CROSS JOIN tot t""",
)
def x_mixture_weights(spark, sf_dir):
    """Inverse-propensity sampling weights per (source, lang) cell that
    rebalance the corpus to a UNIFORM cell mixture: weight =
    (N/n_cells)/cell_count, so expected weighted mass per cell is equal —
    the training-mixture correction applied at sampling time. The cell
    table is tiny and broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    return (
        d.join(F.broadcast(cells), ["source", "lang"])
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            "lang",
            F.round((F.col("n") / F.col("n_cells")) / F.col("c"), 6).alias(
                "sample_weight"
            ),
        )
    )


@query(
    "x_dedup_survivorship",
    oracle=r"""
SELECT doc_id, source, n_chars
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
  ORDER BY n_chars DESC, doc_id) = 1""",
)
def x_dedup_survivorship(spark, sf_dir):
    """Policy-pluggable dedup survivorship: within each exact-duplicate
    cluster the LONGEST document wins (n_chars desc, doc_id tie-break) —
    the quality-first alternative to x_exact_dedup's lowest-id rule; same
    window shape, different ORDER BY, which is the whole point: the
    survivor policy is one expression."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w = Window.partitionBy(norm).orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source", "n_chars")
    )


@query(
    "x_chunk_dedup",
    oracle="""
WITH tok AS (
  SELECT doc_id, source,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents
), chunks AS (
  SELECT doc_id, source, (ord - 1) // 10 AS chunk_id,
         string_agg(w, ' ' ORDER BY ord) AS chunk
  FROM tok GROUP BY doc_id, source, chunk_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_unique,
       ROUND((COUNT(*) - COUNT(DISTINCT chunk)) * 1.0 / COUNT(*), 6)
         AS chunk_dup_rate
FROM chunks GROUP BY source""",
)
def x_chunk_dedup(spark, sf_dir):
    """Sub-document (chunk-granularity) dedup audit: split every document
    into consecutive 10-word chunks and measure, per source, how much of
    the corpus is made of repeated chunks — the paragraph-dedup analog for
    a corpus whose documents have no paragraph structure. The chunking is
    a pure narrow map (one HOF over the token array, no shuffle); the only
    exchange is the per-source distinct-count. At 100 TB the distinct goes
    through the same partial-agg path as any COUNT(DISTINCT) — or swaps to
    approx_count_distinct when the 6-decimal audit doesn't need exactness.

    Reference parity: the reference dedups whole rows by _id only
    (updatescript.py:62); sub-record dedup is a north-star extension."""
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", "source", F.split("text", " ").alias("ws"))
    chunks = ws.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, greatest(cast(ceil(size(ws) / 10.0) as int) - 1, 0)),"
                " i -> array_join(slice(ws, i * 10 + 1, 10), ' '))"
            )
        ).alias("chunk"),
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct("chunk").alias("n_unique"),
        F.round(
            (F.count(F.lit(1)) - F.count_distinct("chunk")) / F.count(F.lit(1)), 6
        ).alias("chunk_dup_rate"),
    )


@query(
    "x_filter_cascade",
    oracle="""
WITH base AS (
  SELECT doc_id, lang, lower(trim(text)) AS t,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS ttr
  FROM documents
), s1 AS (
  SELECT * FROM base WHERE n_words >= 20
), s2 AS (
  SELECT * FROM s1 WHERE lang IN ('en', 'es', 'de', 'fr')
), s3 AS (
  SELECT * FROM s2 WHERE ttr >= 0.35
), s4 AS (
  SELECT * FROM s3 QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY t)
)
SELECT * FROM (
  SELECT 1 AS stage_no, 'min_words' AS stage,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_in,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_out
  UNION ALL
  SELECT 2, 'lang_keep', (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
  UNION ALL
  SELECT 3, 'ttr', (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
  UNION ALL
  SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
) ORDER BY stage_no""",
)
def x_filter_cascade(spark, sf_dir):
    """Corpus-curation filter cascade with a per-stage rejection readout —
    the funnel view of a training-data cleaning pipeline (length gate →
    language keep-list → type-token-ratio quality gate → exact dedup).
    Computed in ONE pass: each doc gets a `passed_through` level (the last
    stage it survived), then a single tiny aggregate yields every stage's
    in/out counts — no per-stage rescans, which is the difference between
    1 and 4 full corpus reads at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    base = d.select(
        "doc_id",
        "lang",
        F.lower(F.trim(F.col("text"))).alias("t"),
        F.size(ws).alias("n_words"),
        (F.size(F.array_distinct(ws)) / F.size(ws)).alias("ttr"),
    )
    g1 = F.col("n_words") >= 20
    g2 = F.col("lang").isin("en", "es", "de", "fr")
    g3 = F.col("ttr") >= 0.35
    lev = (
        F.when(~g1, 0).when(~g2, 1).when(~g3, 2).otherwise(3).alias("lvl")
    )
    leveled = base.select("doc_id", "t", lev)
    # Survivors of stage 3 additionally dedup on normalized text (stage 4).
    w = Window.partitionBy("t")
    survived4 = leveled.withColumn(
        "lvl",
        F.when(
            (F.col("lvl") == 3) & (F.col("doc_id") == F.min(F.when(F.col("lvl") == 3, F.col("doc_id"))).over(w)),
            4,
        ).otherwise(F.col("lvl")),
    )
    counts = survived4.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum((F.col("lvl") >= 1).cast("bigint")).alias("c1"),
        F.sum((F.col("lvl") >= 2).cast("bigint")).alias("c2"),
        F.sum((F.col("lvl") >= 3).cast("bigint")).alias("c3"),
        F.sum((F.col("lvl") >= 4).cast("bigint")).alias("c4"),
    )
    stages = spark.createDataFrame(
        [(1, "min_words"), (2, "lang_keep"), (3, "ttr"), (4, "exact_dedup")],
        "stage_no int, stage string",
    )
    return (
        stages.join(F.broadcast(counts))
        .select(
            "stage_no",
            "stage",
            F.element_at(
                F.array("c0", "c1", "c2", "c3"), F.col("stage_no")
            ).alias("n_in"),
            F.element_at(
                F.array("c1", "c2", "c3", "c4"), F.col("stage_no")
            ).alias("n_out"),
        )
        .orderBy("stage_no")
    )


@query(
    "x_knn_label_majority",
    oracle="""
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec, label AS true_label
  FROM embeddings WHERE vec_id % 10 = 0
), rest AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
  FROM embeddings WHERE vec_id % 10 <> 0
), scored AS (
  SELECT q.q_id, r.vec_id, r.label,
         ROUND(list_dot_product(q.q_vec, r.emb)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(r.emb, r.emb))), 6) AS cos
  FROM rest r, q WHERE r.vec_id <> q.q_id
), nn AS (
  SELECT * FROM scored
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5
), votes AS (
  SELECT q_id, label AS nbr_label, COUNT(*) AS n_votes FROM nn GROUP BY q_id, label
), pred AS (
  SELECT q_id, nbr_label AS predicted_label, n_votes FROM votes
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, nbr_label) = 1
)
SELECT p.q_id, p.predicted_label, q.true_label, CAST(p.n_votes AS BIGINT) AS n_votes
FROM pred p JOIN q USING (q_id)""",
)
def x_knn_label_majority(spark, sf_dir):
    """Hold-out k-NN classification over the embeddings table (every 10th
    vector classified by its 5 nearest neighbors' majority label);
    exact-match differential vs numpy in tests/test_knn_classify.py.
    Upgraded from rows-only: neighbor rank (round-6 cosine, vec_id
    tie-break) and vote tie-break (smallest label) are deterministic on
    both engines — verified identical at sf0.001/0.01/0.1."""
    return S.knn_label_majority(load_table(spark, sf_dir, "embeddings"), k=5)


@query(
    "x_bm25",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), dl AS (
  SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY doc_id
), stats AS (
  SELECT AVG(dlen) AS avgdl, COUNT(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM tok
  WHERE w IN ('table', 'query', 'spark') GROUP BY doc_id, w
), df AS (
  SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok
  WHERE w IN ('table', 'query', 'spark') GROUP BY w
)
SELECT t.doc_id,
       ROUND(SUM(
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
         * t.tf * 2.2
         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dlen / s.avgdl))
       ), 6) AS bm25
FROM tf t
JOIN df f ON f.w = t.w
JOIN dl d ON d.doc_id = t.doc_id
CROSS JOIN stats s
GROUP BY t.doc_id
ORDER BY bm25 DESC, t.doc_id LIMIT 20""",
)
def x_bm25(spark, sf_dir):
    """BM25 retrieval scoring (k1=1.2, b=0.75) of the corpus against a
    fixed 3-term query — the classic lexical ranker a training-data
    pipeline uses for quality-weighted retrieval and decontamination
    sweeps. One token explode feeds all three statistics (tf, df, doc
    length); df and the corpus scalars are aggregated-tiny and broadcast,
    so the only fact-sized exchanges are the two grouped passes over
    (doc, term) and (doc). At 100 TB the same plan holds: term-filtered
    tf is far smaller than the corpus, and avgdl/N ride a 1-row
    broadcast."""
    d = load_table(spark, sf_dir, "documents")
    terms = ["table", "query", "spark"]
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.avg("dlen").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    qtok = tok.filter(F.col("w").isin(terms))
    tf = qtok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = qtok.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (
        1 - 0.75 + 0.75 * F.col("dlen") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * 2.2 / denom), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _pca_scores_oracle(dim: int = 64, n_iter: int = 64) -> str:
    """The FULL fixed-start power-iteration PCA in SQL (round 10 — the
    x_embed_pca_scores rows-only conversion): moments aggregated by
    unnest-over-(i,j) (64² groups — no 4096-aggregate projection, which
    DuckDB plans pathologically), elementwise ROUND(·,6) to pin the one
    cross-engine nondeterminism (float summation order; boundary margins
    certified in tests/test_pca.py), then {n_iter} matvec+normalize CTEs
    on the literal sha256 start vector and a per-row centered projection
    — every fold list-ordered, matching the engine's left-associative
    aggregate exactly. CTEs are MATERIALIZED: DuckDB inlines plain CTEs,
    which re-evaluates the chain exponentially (measured 30 s → 0.2 s at
    sf0.001)."""
    from metrics_database_cron_script_spark.functions.similarity import (
        pca_power_start,
    )

    v0_lit = ", ".join(repr(x) for x in pca_power_start(dim))
    matvec = (
        f"list_transform(generate_series(1, {dim}), i -> "
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j -> m.m2[(i-1)*{dim} + j] * t.v[j])) - m.mu[i] * d.dm)"
    )
    iters = f"it0(v) AS MATERIALIZED (SELECT CAST([{v0_lit}] AS DOUBLE[]))"
    prev = "it0"
    for t in range(1, n_iter + 1):
        iters += f""",
d{t}(dm) AS MATERIALIZED (
  SELECT list_sum(list_transform(generate_series(1,{dim}), j -> m.mu[j] * t.v[j]))
  FROM mom m, {prev} t),
w{t}(w) AS MATERIALIZED (SELECT {matvec} FROM mom m, {prev} t, d{t} d),
it{t}(v) AS MATERIALIZED (
  SELECT list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y*y))))
  FROM w{t})"""
        prev = f"it{t}"
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), nrows AS (SELECT COUNT(*) AS n FROM emb),
cross_terms AS (
  SELECT (gi.i - 1) * {dim} + gj.j AS k, SUM(e.v[gi.i] * e.v[gj.j]) AS sv
  FROM emb e,
       generate_series(1, {dim}) AS gi(i),
       generate_series(1, {dim}) AS gj(j)
  GROUP BY k
), m2l AS MATERIALIZED (
  SELECT list(ROUND(sv / n, 6) ORDER BY k) AS m2 FROM cross_terms, nrows GROUP BY n
), mul AS MATERIALIZED (
  SELECT list(ROUND(sv / n, 6) ORDER BY i) AS mu FROM (
    SELECT gi.i AS i, SUM(e.v[gi.i]) AS sv
    FROM emb e, generate_series(1, {dim}) AS gi(i) GROUP BY gi.i
  ), nrows GROUP BY n
), mom AS MATERIALIZED (SELECT mul.mu, m2l.m2 FROM mul, m2l),
{iters},
pc(v) AS MATERIALIZED (
  SELECT CASE WHEN list_filter(v, x -> abs(x) > 1e-6)[1] < 0
              THEN list_transform(v, x -> -x) ELSE v END
  FROM {prev}
)
SELECT e.vec_id,
       ROUND(list_sum(list_transform(generate_series(1,{dim}),
             j -> (e.v[j] - m.mu[j]) * p.v[j])), 6) AS pc1_score
FROM emb e, mom m, pc p"""


@query("x_embed_pca_scores", oracle=_pca_scores_oracle())
def x_embed_pca_scores(spark, sf_dir):
    """First principal component of the embedding corpus, scored per
    vector. ORACLED since round 10 (rows-only tail task): the registered
    query runs fixed-start pinned-iteration power iteration on the
    6-dp-rounded moment matrix (similarity.pca_scores_power) — every
    data-dependent quantity the iteration consumes is rounded to a
    certified-margin grid, after which both engines execute identical
    IEEE double arithmetic, so DuckDB replays the eigensolve-equivalent
    end to end. The exact-eigensolve variant (pca_top_component) stays
    the library production path; numpy differentials for both in
    tests/test_pca.py."""
    return S.pca_scores_power(load_table(spark, sf_dir, "embeddings"))


@query(
    "x_containment_pairs",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_filter(
             list_transform(ws, (w, i) -> CASE WHEN i + 3 <= len(ws)
                THEN array_to_string(ws[i:i+3], ' ') END),
             x -> x IS NOT NULL)) AS s
    FROM words
  )
), df AS (
  SELECT s, COUNT(*) AS df FROM sh GROUP BY s
), rare AS (
  SELECT s FROM df WHERE df BETWEEN 2 AND 5
), cand AS (
  SELECT DISTINCT t1.doc_id AS a, t2.doc_id AS b
  FROM sh t1 JOIN rare r ON r.s = t1.s JOIN sh t2 ON t2.s = t1.s
  WHERE t1.doc_id < t2.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.a, c.b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh ta ON ta.doc_id = c.a
  JOIN sh tb ON tb.doc_id = c.b AND tb.s = ta.s
  GROUP BY c.a, c.b
)
SELECT i.a AS doc_a, i.b AS doc_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       ROUND(i.n_common * 1.0 / LEAST(sa.n_sh, sb.n_sh), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.n_common * 1.0 / LEAST(sa.n_sh, sb.n_sh) >= 0.5
ORDER BY doc_a, doc_b""",
)
def x_containment_pairs(spark, sf_dir):
    """Containment near-dup detection: pairs where the smaller document's
    word-4-gram shingle set is ≥50% contained in the other's — the
    asymmetric relation Jaccard misses (a short doc quoted wholesale
    inside a long one scores near-zero Jaccard but containment 1.0).

    Candidate generation is rare-shingle blocking (document frequency
    2..5): only docs sharing a discriminative shingle ever pair, the same
    recall-bounded trick as the n-gram Jaccard operator — and the oracle
    mirrors the identical blocking, so parity is exact, not sampled.
    Exact intersection counts only ever run on candidates; at 100 TB the
    df bound caps each posting list's self-join at 5×5."""
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    sh = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(sequence(1, greatest(size(ws) - 3, 1)),"
                " i -> case when i + 3 <= size(ws) then array_join(slice(ws, i, 4), ' ') end),"
                " x -> x is not null)"
            )
        ).alias("s"),
    ).distinct()
    df_ = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare = df_.filter(F.col("df").between(2, 5)).select("s")
    t1 = sh.join(rare, "s").select("s", F.col("doc_id").alias("a"))
    cand = (
        t1.join(sh.select("s", F.col("doc_id").alias("b")), "s")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("a"), "s"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), "s"), ["b", "s"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b"
        )
        .withColumn(
            "containment", F.round(F.col("n_common") / F.least("na", "nb"), 6)
        )
        .filter(F.col("containment") >= 0.5)
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "n_common",
            "containment",
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------- round 2: dedup clustering


_SHINGLE_COMPONENTS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[g.g : g.g + 7], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 7, 1)))) AS g(g)
), sh2 AS (
  SELECT doc_id, shingle FROM sh WHERE shingle <> ''
), edges AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM sh2 a JOIN sh2 b USING (shingle)
  WHERE a.doc_id <> b.doc_id
), reach AS (
  SELECT u AS doc_id, v AS peer FROM edges
  UNION
  SELECT r.doc_id, e.v FROM reach r JOIN edges e ON e.u = r.peer
)
SELECT doc_id, LEAST(doc_id, MIN(peer)) AS component
FROM reach GROUP BY doc_id"""


@query("x_shingle_components", oracle=_SHINGLE_COMPONENTS_ORACLE)
def x_shingle_components(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: docs sharing an exact 8-token
    shingle form edges; connected components (iterative min-label
    propagation, functions/dedup.py) assign each doc its cluster id. The
    oracle reproduces the same components with a recursive CTE — an
    SQL-checked iterative algorithm, not a rows-only sketch."""
    edges = D.shingle_edges(load_table(spark, sf_dir, "documents"), n=8)
    return D.connected_components(edges)


@query("x_shingle_components_star", oracle=_SHINGLE_COMPONENTS_ORACLE)
def x_shingle_components_star(spark, sf_dir):
    """`x_shingle_components` through STAR edges (per shingle bucket,
    hub = min doc_id — functions/dedup.py star_edges): O(posting) edges
    instead of the posting self-join's O(Σ bucket²) pairs. The oracle is
    the SAME clique-edge recursive CTE — passing proves the star
    collapse yields identical components, which is what makes cluster
    dedup of a clique-heavy corpus (SFXL: 256-replica dup clusters,
    ≈163 M true pairs but 1.27 M star edges) feasible at all."""
    return D.shingle_components_star(
        load_table(spark, sf_dir, "documents"), n=8
    )


@query(
    "x_minhash_components_star",
    oracle="WITH RECURSIVE "
    + _minhash_pair_cte("documents")
    + """, mcedges AS (
  SELECT doc_a AS u, doc_b AS v FROM pcand
  UNION
  SELECT doc_b, doc_a FROM pcand
), mcreach AS (
  SELECT u AS doc_id, v AS peer FROM mcedges
  UNION
  SELECT r.doc_id, e.v FROM mcreach r JOIN mcedges e ON e.u = r.peer
)
SELECT doc_id, LEAST(doc_id, MIN(peer)) AS component
FROM mcreach GROUP BY doc_id""",
)
def x_minhash_components_star(spark, sf_dir):
    """Near-dup clusters straight from the LSH band buckets — star edges
    over (band, band_sig), no pair enumeration, no Jaccard verification
    (functions/dedup.py minhash_components_star). The oracle builds the
    full clique candidate-pair graph (pcand) and resolves components with
    a recursive CTE: identical output proves bucket-star connectivity ≡
    candidate-clique connectivity. This is the plan to run when the
    corpus's duplicate clusters are large enough that even the candidate
    PAIR list (let alone verification) is the bottleneck."""
    return D.minhash_components_star(load_table(spark, sf_dir, "documents"))


@query(
    "x_minhash_components_incremental",
    oracle="WITH RECURSIVE "
    + _minhash_pair_cte("documents")
    + """, mciedges AS (
  SELECT doc_a AS u, doc_b AS v FROM pcand
  UNION
  SELECT doc_b, doc_a FROM pcand
), mcireach AS (
  SELECT u AS doc_id, v AS peer FROM mciedges
  UNION
  SELECT r.doc_id, e.v FROM mcireach r JOIN mciedges e ON e.u = r.peer
)
SELECT doc_id, LEAST(doc_id, MIN(peer)) AS component
FROM mcireach GROUP BY doc_id""",
)
def x_minhash_components_incremental(spark, sf_dir):
    """Round-6 verdict item 7, correctness half: cluster refresh from a
    PERSISTED band index. The corpus (90% of docs) contributes only its
    stored (doc_id, band, band_sig) rows — built here in-plan for
    checkability, read from state in production — and only the batch
    (doc_id ≡ 0 mod 10) pays shingle+signature compute
    (functions/dedup.py minhash_components_star_refresh). The oracle is
    the FULL-corpus clique-graph recursive CTE: identical output proves
    index∪batch refresh ≡ full recompute, which is what lets the decade
    corpus skip ~90% of its 734 s wall on a daily batch
    (BENCH_NEARDUP_SFXL.json incremental row)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.pmod("doc_id", F.lit(10)) != 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(10)) == 0)
    index = D.lsh_bands_portable(
        D.minhash_signatures_portable(D.word_shingles(corpus, hashed=False))
    )
    return D.minhash_components_star_refresh(index, batch)


# Verified-star threshold: one constant drives BOTH the Spark filter and
# the generated oracle SQL, so the two sides cannot drift.
_VERIFIED_STAR_MIN_J = 0.8


# Full verified-recompute oracle, shared by x_minhash_components_verified
# AND x_minhash_components_verified_incremental: the incremental Spark plan
# must equal the full recompute exactly, so both check against one SQL.
_VERIFIED_STAR_ORACLE = (
    "WITH RECURSIVE "
    + _minhash_pair_cte("documents")
    + f""", vstar AS (
  SELECT DISTINCT hub AS doc_a, doc_id AS doc_b FROM (
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY band, band_sig) AS hub
    FROM pbands)
  WHERE doc_id <> hub
), vinter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM vstar c
  JOIN psh sa ON sa.doc_id = c.doc_a
  JOIN psh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
), vgood AS (
  SELECT i.doc_a, i.doc_b
  FROM vinter i
  JOIN psizes za ON za.doc_id = i.doc_a
  JOIN psizes zb ON zb.doc_id = i.doc_b
  WHERE ROUND(i.n * 1.0 / (za.sz + zb.sz - i.n), 6) >= {_VERIFIED_STAR_MIN_J}
), vedges AS (
  SELECT doc_a AS u, doc_b AS v FROM vgood
  UNION
  SELECT doc_b, doc_a FROM vgood
), vreach AS (
  SELECT u AS doc_id, v AS peer FROM vedges
  UNION
  SELECT r.doc_id, e.v FROM vreach r JOIN vedges e ON e.u = r.peer
)
SELECT doc_id, LEAST(doc_id, MIN(peer)) AS component
FROM vreach GROUP BY doc_id"""
)


@query("x_minhash_components_verified", oracle=_VERIFIED_STAR_ORACLE)
def x_minhash_components_verified(spark, sf_dir):
    """Round-6 verdict item 3: `x_minhash_components_star` with a
    PRECISION GUARD — every star edge (hub, member) is scored with exact
    Jaccard (O(edges), not O(pairs)) and dropped below the threshold
    before components, so banding false positives can no longer merge
    clusters permanently (functions/dedup.py minhash_components_verified).
    The oracle rebuilds the same star edges per band bucket (window MIN =
    hub), scores them against the shingle sets, and resolves components of
    the surviving edges with a recursive CTE. The Spark filter and the SQL
    threshold derive from one constant."""
    return D.minhash_components_verified(
        load_table(spark, sf_dir, "documents"), min_jaccard=_VERIFIED_STAR_MIN_J
    )


@query("x_minhash_components_verified_incremental", oracle=_VERIFIED_STAR_ORACLE)
def x_minhash_components_verified_incremental(spark, sf_dir):
    """Round-7 flagship (round-6 verdict item 1): the PRODUCTION daily
    dedup job — verified star components refreshed from persisted state
    instead of recomputed. The corpus (doc_id ≢ 0 mod 10) contributes its
    stored band index, 8-byte hashed shingle store and Jaccard-SCORED edge
    state (functions/dedup.py verified_star_state, built in-plan here for
    checkability, read from parquet in production); only the batch pays
    shingle/signature compute, only batch-touched buckets re-resolve their
    hub, and only never-before-seen pairs are Jaccard-verified (pair-level
    score reuse in scored_star_edges). The oracle is the IDENTICAL
    full-recompute recursive CTE as x_minhash_components_verified over all
    documents: equal output proves refresh ≡ full verified recompute — and
    this split's interleaved ids displace bucket hubs, so the equivalence
    is proven for the hard case, not just the monotone-append contract.
    Decade-scale walls: BENCH_NEARDUP_SFXL.json decade_verified_incremental."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.pmod("doc_id", F.lit(10)) != 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(10)) == 0)
    # materialize the state exactly once, as production does (parquet
    # reads): the refresh references edges/bands twice each, and leaving
    # them as live subplans re-executes the whole corpus pipeline per
    # reference — measured to OOM a 1g-heap driver session late in the
    # 269-query parity loop
    bands, store, edges = (
        df.localCheckpoint(eager=True)
        for df in D.verified_star_state(corpus)
    )
    return D.minhash_components_verified_refresh(
        bands, store, edges, batch, min_jaccard=_VERIFIED_STAR_MIN_J
    )


@query(
    "x_hash_split",
    oracle="""
SELECT CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
            WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents GROUP BY split""",
)
def x_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by multiplicative hashing of
    the stable doc key (Knuth 2654435761): reproducible across runs,
    engines and partitionings — the property a training pipeline needs so
    re-ingesting never migrates a doc across splits. 80/10/10."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 1000
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "x_sample_allocation",
    oracle="""
WITH strata AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, ROUND(sd, 6) AS sd_chars,
       ROUND(1000.0 * (n_docs * sd) / SUM(n_docs * sd) OVER (), 6) AS alloc
FROM strata""",
)
def x_sample_allocation(spark, sf_dir):
    """Neyman allocation of a 1000-doc sampling budget across language
    strata: budget share ∝ stratum size × within-stratum std of doc length
    (minimum-variance stratified sampling). The plan is one aggregation plus
    a scalar window over the 5-row strata frame."""
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.stddev_samp(F.col("n_chars").cast("double")).alias("sd"),
    )
    w = F.col("n_docs") * F.col("sd")
    return strata.select(
        "lang",
        "n_docs",
        F.round("sd", 6).alias("sd_chars"),
        F.round(F.lit(1000.0) * w / F.sum(w).over(Window.partitionBy()), 6).alias(
            "alloc"
        ),
    )


@query(
    "x_stopword_prune",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
), top20 AS (
  SELECT token FROM tok GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT 20
), kept AS (
  SELECT t.doc_id, COUNT(*) AS n_kept
  FROM tok t WHERE t.token NOT IN (SELECT token FROM top20)
  GROUP BY t.doc_id
), totals AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(tt.n_tokens, 0) AS n_tokens,
       COALESCE(k.n_kept, 0) AS n_kept,
       CASE WHEN COALESCE(tt.n_tokens, 0) > 0
            THEN ROUND(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / tt.n_tokens, 6)
       END AS kept_share
FROM documents d
LEFT JOIN totals tt USING (doc_id)
LEFT JOIN kept k USING (doc_id)""",
)
def x_stopword_prune(spark, sf_dir):
    """Corpus-adaptive stopword pruning: the 20 most frequent corpus tokens
    (deterministic tie-break on the token) are removed; per doc we report
    total tokens, kept tokens, and kept share. The top-20 list is a tiny
    broadcast anti-join side — the shape that scales to a 100 TB corpus
    where the stop list still fits in one broadcast."""
    d = load_table(spark, sf_dir, "documents")
    tok = TX.tokenize(d)
    top20 = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
        .select("token")
    )
    kept = (
        tok.join(F.broadcast(top20), "token", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    totals = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        d.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_kept", F.lit(0)).cast("double") / F.col("n_tokens"), 6
                ),
            ).alias("kept_share"),
        )
    )


@query(
    "x_gopher_rules",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
         END AS mwl,
         len(list_filter(toks, x -> x IN ('the','a','of','to','and','is'))) AS n_stop,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
             / len(toks)
         END AS alpha_share
  FROM t)
SELECT doc_id, n_words, ROUND(mwl, 6) AS mean_word_len,
       (n_words BETWEEN 30 AND 100000) AS flag_word_count,
       (mwl BETWEEN 3 AND 10) AS flag_mean_word_len,
       (n_stop >= 2) AS flag_stopwords,
       (alpha_share >= 0.8) AS flag_alpha,
       ((n_words BETWEEN 30 AND 100000) AND (mwl BETWEEN 3 AND 10)
        AND n_stop >= 2 AND alpha_share >= 0.8) AS passes
FROM s""",
)
def x_gopher_rules(spark, sf_dir):
    """Gopher rule-filter flags (word count / mean word length / stopword /
    alpha-word heuristics) as observable booleans. Ratios are exact integer
    divisions, so the flag comparisons are bit-identical across engines."""
    return TX.gopher_rules(load_table(spark, sf_dir, "documents"))


@query(
    "x_seq_packing",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), pack AS (
  SELECT source, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS seq_id, n_tok AS acc
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.doc_id, t.n_tok,
         CASE WHEN p.acc + t.n_tok > 128 THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.acc + t.n_tok > 128 THEN t.n_tok ELSE p.acc + t.n_tok END
  FROM pack p JOIN toks t ON t.source = p.source AND t.rn = p.rn + 1
)
SELECT source, doc_id, n_tok, seq_id FROM pack""",
)
def x_seq_packing(spark, sf_dir):
    """Greedy training-sequence packing per shard (budget 128 tokens): the
    sequential reset-recurrence runs inside applyInPandas per source shard —
    shard-parallel, loop only within a shard — and the oracle replays the
    identical recurrence as a recursive CTE (functions/text.py
    sequence_packing for the scale argument)."""
    return TX.sequence_packing(load_table(spark, sf_dir, "documents"), budget=128)


def _semdedup_oracle() -> str:
    inner = _neardup_cosine_oracle()
    return f"""
WITH pairs AS ({inner}),
dropped AS (
  SELECT vec_b AS vec_id, COUNT(*) AS n_dups_smaller FROM pairs GROUP BY vec_b
)
SELECT e.vec_id, COALESCE(d.n_dups_smaller, 0) AS n_dups_smaller,
       (d.vec_id IS NULL) AS kept
FROM embeddings e LEFT JOIN dropped d USING (vec_id)"""


@query("x_semdedup", oracle=_semdedup_oracle())
def x_semdedup(spark, sf_dir):
    """SemDeDup survivor list: drop a vector iff a smaller-id near-dup shares
    its LSH cell (keep-lowest policy — deterministic, no transitive closure).
    Fully value-hash-checked because the cells are fixed hyperplane literals
    and the pair evidence is the already-verified x_embed_neardup_cosine."""
    return S.semdedup(load_table(spark, sf_dir, "embeddings"), threshold=0.3)


@query(
    "x_rag_chunks",
    oracle="""
WITH ws AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), spans AS (
  SELECT doc_id, w, UNNEST(range(0, CAST(floor((greatest(len(w), 1) - 1) / 16) AS BIGINT) + 1)) AS i
  FROM ws
)
SELECT doc_id, i AS chunk_id, i * 16 + 1 AS start_tok,
       LEAST(32, len(w) - i * 16) AS n_tok,
       substr(md5(array_to_string(w[(i * 16 + 1):(i * 16 + 32)], ' ')), 1, 16) AS chunk_hash
FROM spans""",
)
def x_rag_chunks(spark, sf_dir):
    """Overlapping retrieval-chunking (window 32 tokens, stride 16 — 50%
    overlap, the standard RAG indexing layout): each doc explodes into its
    chunk spans via one narrow higher-order transform (no shuffle at all —
    the plan is scan → project → explode), and chunks are emitted as
    md5-prefix content hashes so the output stays narrow and the oracle
    compares exact values. Chunk-count recurrence: starts at every
    stride-multiple below doc length, short tail chunk kept."""
    d = load_table(spark, sf_dir, "documents")
    ws = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("w"),
    )
    n = F.size("w")
    spans = ws.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.greatest(n, F.lit(1)) - 1) / 16).cast("long"),
            )
        ).alias("i"),
    )
    return spans.select(
        "doc_id",
        F.col("i").alias("chunk_id"),
        (F.col("i") * 16 + 1).alias("start_tok"),
        F.least(F.lit(32), F.size("w") - F.col("i") * 16).alias("n_tok"),
        F.substring(
            F.md5(F.array_join(F.slice("w", F.col("i") * 16 + 1, F.lit(32)), " ")), 1, 16
        ).alias("chunk_hash"),
    )


# --------------------------------------------------- LSH quality evaluation

_MINHASH_RECALL_ORACLE = f"""
WITH {_minhash_pair_cte('documents')},
tinter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS n
  FROM psh sa
  JOIN psh sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
  JOIN documents da ON da.doc_id = sa.doc_id
  JOIN documents db ON db.doc_id = sb.doc_id AND db.source = da.source
  GROUP BY sa.doc_id, sb.doc_id
), truth AS (
  SELECT t.doc_a, t.doc_b
  FROM tinter t
  JOIN psizes za ON za.doc_id = t.doc_a
  JOIN psizes zb ON zb.doc_id = t.doc_b
  WHERE t.n * 1.0 / (za.sz + zb.sz - t.n) >= 0.8
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       ROUND(AVG(CASE WHEN c.doc_a IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS recall
FROM truth t
LEFT JOIN pcand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b"""


@query("x_minhash_recall", oracle=_MINHASH_RECALL_ORACLE)
def x_minhash_recall(spark, sf_dir):
    """LSH parameter-quality evaluation: recall of the portable MinHash
    banding (8 hashes, 4 bands of 2) against EXACT ground truth — all
    same-source pairs with true word-shingle Jaccard ≥ 0.8. The theory says
    P(candidate | s) = 1-(1-s^2)^4 ≈ 0.98 at s = 0.8; this measures it on
    the actual corpus, which is how band/row counts get tuned before a
    100 TB dedup run. Ground truth is source-blocked (the same block-square
    bound every exact-pair query here uses: truth generation at full scale
    runs on a sampled block, never all-pairs); the LSH candidate side is
    the production unblocked path."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, hashed=False).persist()
    # bake the block INTO the join key: joining on (shingle, source) bounds
    # the self-join at block-square — a post-join source filter would first
    # materialize every cross-source pair of a hot shingle
    src = docs.select("doc_id", "source")
    blocked = sh.join(src, "doc_id")
    sa = blocked.select(F.col("doc_id").alias("a_id"), "shingle", "source")
    sb = blocked.select(F.col("doc_id").alias("b_id"), "shingle", "source")
    inter = (
        sa.join(sb, ["shingle", "source"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .filter(
            F.col("n") * 1.0 / (F.col("sz_a") + F.col("sz_b") - F.col("n")) >= 0.8
        )
        .select("doc_a", "doc_b")
    )
    # reuse the persisted shingle relation (no second tokenize/shingle
    # shuffle) and stop at the RAW banding candidates — recall measures the
    # banding, so the verification join's jaccard column would be computed
    # only to be dropped
    cand = D.minhash_near_dups_portable(docs, shingles=sh, verify=False).select(
        F.col("doc_a").alias("c_a"), F.col("doc_b").alias("c_b")
    )
    joined = truth.join(
        cand,
        (truth["doc_a"] == cand["c_a"]) & (truth["doc_b"] == cand["c_b"]),
        "left",
    )
    caught = F.col("c_a").isNotNull()
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.sum(F.when(caught, 1).otherwise(0)).cast("long").alias("n_caught"),
        F.round(F.avg(F.when(caught, 1.0).otherwise(0.0)), 6).alias("recall"),
    )


@query(
    "x_minhash_tuning",
    oracle="""
WITH grid AS (
  SELECT r.r AS band_size, b.b AS n_bands, r.r * b.b AS num_hashes,
         1 - power(1 - power(0.8, r.r), b.b) AS p_thr,
         1 - power(1 - power(0.4, r.r), b.b) AS p_fp
  FROM (SELECT unnest(generate_series(1, 8)) AS r) r,
       (SELECT unnest(generate_series(2, 16)) AS b) b
  WHERE r.r * b.b <= 32
), flagged AS (
  SELECT *, (p_thr >= 0.98 AND p_fp <= 0.55) AS feasible FROM grid
)
SELECT band_size, n_bands, num_hashes,
       ROUND(p_thr, 6) AS p_at_threshold,
       ROUND(p_fp, 6) AS p_at_fp,
       feasible,
       feasible AND
         RANK() OVER (ORDER BY feasible DESC, num_hashes, band_size DESC) = 1
         AS chosen
FROM flagged""",
)
def x_minhash_tuning(spark, sf_dir):
    """The MinHash band auto-tuner AS A QUERY: the (band_size, n_bands)
    S-curve grid with P(candidate | s) at the recall point (s = 0.8) and
    the false-positive point (s = 0.4), the feasibility of each banding
    under the engine's constraints (recall ≥ 0.98, fp mass ≤ 0.55 — the
    `choose_minhash_params` defaults, functions/dedup.py), and the chosen
    row: fewest hashes, ties to the steeper curve. The chosen row IS
    `MINHASH_DEFAULTS` (pinned by tests/test_dedup_tuning.py), so the
    parameter-selection logic every near-dup pipeline inherits is itself
    value-hash-checked against an independent SQL derivation."""
    grid = (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(1), F.lit(8))).alias("band_size"))
        .select(
            "band_size",
            F.explode(F.sequence(F.lit(2), F.lit(16))).alias("n_bands"),
        )
        .filter(F.col("band_size") * F.col("n_bands") <= 32)
    )
    p = lambda s: 1 - F.pow(  # noqa: E731 — the S-curve, once per point
        1 - F.pow(F.lit(s), F.col("band_size")), F.col("n_bands")
    )
    flagged = grid.select(
        F.col("band_size").cast("long").alias("band_size"),
        F.col("n_bands").cast("long").alias("n_bands"),
        (F.col("band_size") * F.col("n_bands")).cast("long").alias("num_hashes"),
        p(0.8).alias("p_thr"),
        p(0.4).alias("p_fp"),
    ).withColumn(
        "feasible", (F.col("p_thr") >= 0.98) & (F.col("p_fp") <= 0.55)
    )
    w = Window.orderBy(
        F.desc("feasible"), F.asc("num_hashes"), F.desc("band_size")
    )
    return flagged.select(
        "band_size",
        "n_bands",
        "num_hashes",
        F.round("p_thr", 6).alias("p_at_threshold"),
        F.round("p_fp", 6).alias("p_at_fp"),
        "feasible",
        (F.col("feasible") & (F.rank().over(w) == 1)).alias("chosen"),
    )


# x_ann_recall composes the two registered ANN oracles (exact brute force
# vs fixed-hyperplane LSH) — read them back from the registry so the
# instrument can never drift from the queries it measures.
from metrics_database_cron_script_spark.plans.registry import ORACLES as _ORACLES


@query(
    "x_ann_recall",
    oracle=f"""
WITH exact AS ({_ORACLES["x_embed_cosine_topk"]}),
approx AS ({_ORACLES["x_embed_lsh_topk"]}),
h AS (
  SELECT COUNT(*) AS n_hit FROM exact e
  WHERE EXISTS (SELECT 1 FROM approx a
                WHERE a.q_id = e.q_id AND a.vec_id = e.vec_id)
),
t AS (SELECT COUNT(DISTINCT q_id) AS n_queries, COUNT(*) AS n_exact FROM exact)
SELECT n_queries, n_exact, n_hit,
       ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall_at_k
FROM t, h""",
)
def x_ann_recall(spark, sf_dir):
    """ANN parameter-quality instrument, the x_minhash_recall twin for the
    embedding family: recall@k of the hyperplane-LSH index against the
    exact brute-force top-k, per the SAME registered plans (left-semi on
    (q_id, vec_id) — a truth hit iff the index surfaced that neighbor).
    This is the measurement a real corpus needs before committing
    num_bits/num_tables at scale; fully SQL-oracled because both inputs
    are. Cost rides the two underlying plans (probe-broadcast scans);
    the recall join itself is top-k-cardinality."""
    exact = x_embed_cosine_topk(spark, sf_dir)
    approx = x_embed_lsh_topk(spark, sf_dir)
    hits = exact.join(approx, ["q_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    tot = exact.agg(
        F.count_distinct("q_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    return tot.crossJoin(hits).select(
        "n_queries",
        "n_exact",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall_at_k"),
    )


def _curation_pipeline_av_oracle() -> str:
    """The FIVE-MODALITY curation pipeline in SQL: the x_curation_pipeline
    stages (text gate → exact → near-dup → image phash keep) continued
    with AUDIO exact dedup (keep-lowest doc per decoded sample digest,
    the x_wav_dedup formula restricted to the image survivors) and VIDEO
    exact dedup (keep-lowest per order-sensitive frame fingerprint, the
    x_video_dedup formula restricted to the audio survivors). Stems are
    pure functions of doc_id, so every restriction is subset-safe."""
    return (
        r"""
WITH pbase AS (
  SELECT * FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) >= 10
    AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) >= length(text) * 0.5
), pexact AS (
  SELECT * FROM pbase
  QUALIFY row_number() OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ORDER BY doc_id) = 1
), """
        + _minhash_pair_cte("pexact")
        + """, plosers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pjacc WHERE jaccard >= 0.85
), tsurv AS (
  SELECT e.* FROM pexact e LEFT JOIN plosers l ON l.doc_id = e.doc_id
  WHERE l.doc_id IS NULL
), """
        + _PHASH_CTE.replace("FROM documents", "FROM tsurv")
        + """, isurv AS (
  SELECT t.* FROM tsurv t JOIN ph ON ph.doc_id = t.doc_id
  QUALIFY row_number() OVER (PARTITION BY ph.phash ORDER BY t.doc_id) = 1
), asrc AS (
  SELECT doc_id, doc_id - doc_id % 3 AS stem FROM isurv
), adims AS (
  SELECT DISTINCT stem, 400 + (stem % 7) * 50 AS n, 1 + stem % 2 AS ch
  FROM asrc
), asamp AS (
  SELECT d.stem, d.n, d.ch, i.i AS i, c.c AS c,
         (d.stem * 37 + i.i * 13 + c.c * 101) % 4001 - 2000 AS v
  FROM adims d,
       LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c
), adig AS (
  SELECT stem, MIN(n) AS n_samples, MIN(ch) AS n_channels,
         CAST(SUM(v) AS BIGINT) AS s_sum,
         CAST(SUM(v * ((i * ch + c) % 97)) AS BIGINT) AS s_weighted
  FROM asamp GROUP BY stem
), akeep AS (
  SELECT a.doc_id
  FROM asrc a JOIN adig d ON d.stem = a.stem
  QUALIFY row_number() OVER (
    PARTITION BY d.n_samples, d.n_channels, d.s_sum, d.s_weighted
    ORDER BY a.doc_id) = 1
), asurv AS (
  SELECT i.* FROM isurv i JOIN akeep USING (doc_id)
), vsrc AS (
  SELECT doc_id, doc_id - doc_id % 4 AS stem FROM asurv
), vdims AS (
  SELECT DISTINCT stem, 8 + 4 * (stem % 3) AS w, 6 + 2 * (stem % 2) AS h,
         2 + stem % 3 AS nf
  FROM vsrc
), vpx AS (
  SELECT d.stem, t.t AS frame_idx, d.w, d.h, d.nf,
         (d.stem * 29 + t.t * 59 + x.x * 7 + y.y * 13 + c.c * 101) % 256
           AS val,
         (((y.y * d.w + x.x) * 3 + c.c) % 97) AS pw
  FROM vdims d,
       LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS t) t,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
       (SELECT unnest([0, 1, 2]) AS c) c
), vdig AS (
  SELECT stem, CAST(MIN(nf) AS BIGINT) AS n_frames,
         MIN(w) AS width, MIN(h) AS height,
         CAST(SUM(val) AS BIGINT) AS px_total,
         CAST(SUM(val * pw * (frame_idx % 89 + 1)) AS BIGINT) AS px_ordered
  FROM vpx GROUP BY stem
), vkeep AS (
  SELECT v.doc_id
  FROM vsrc v JOIN vdig d ON d.stem = v.stem
  QUALIFY row_number() OVER (
    PARTITION BY d.n_frames, d.width, d.height, d.px_total, d.px_ordered
    ORDER BY v.doc_id) = 1
)
SELECT a.* FROM asurv a JOIN vkeep USING (doc_id)"""
    )


@query("x_curation_pipeline_av", oracle=_curation_pipeline_av_oracle())
def x_curation_pipeline_av(spark, sf_dir):
    """The curation pipeline composed across ALL FIVE dedup modalities
    (round 10): text quality gate → exact text dedup → MinHash near-dup
    drop → IMAGE exact dedup (decoded aHash) → AUDIO exact dedup (decoded
    PCM sample digest, x_wav_dedup's fingerprint) → VIDEO exact dedup
    (order-sensitive decoded frame fingerprint, x_video_dedup's) — each
    stage keep-lowest-doc_id per content fingerprint over the previous
    stage's survivors, final survivor set value-hash-checked against
    DuckDB recomputing every stage including all three decoded-pixel/
    sample families. Scale shape: composition of the already-audited
    per-stage plans — Arrow-batched decodes, integer-key groupBys,
    band-bucket equi-join; no new shuffle class, and each decode pass
    touches only the shrinking survivor set."""
    surv = D.dedup_pipeline_portable(load_table(spark, sf_dir, "documents"))

    def keep_first(hashes, cols):
        w = Window.partitionBy(*cols).orderBy("doc_id")
        return (
            hashes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("doc_id")
        )

    img = M.ahash_from_blobs(M.synthetic_bmp_blobs(surv))
    surv = surv.join(keep_first(img, ["phash"]), "doc_id")

    aud = AU.decode_sample_stats(AU.synthetic_wav_blobs_stemmed(surv, mod=3))
    surv = surv.join(
        keep_first(
            aud, ["rate", "n_samples", "n_channels", "s_sum", "s_weighted"]
        ),
        "doc_id",
    )

    vid = VI.decode_frame_stats(
        VI.synthetic_avi_blobs_stemmed(surv, mod=4), every_k=1
    )
    fp = vid.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.min("width").alias("width"),
        F.min("height").alias("height"),
        F.sum("px_sum").alias("px_total"),
        F.sum(F.col("px_weighted") * (F.col("frame_idx") % 89 + 1)).alias(
            "px_ordered"
        ),
    )
    return surv.join(
        keep_first(
            fp, ["n_frames", "width", "height", "px_total", "px_ordered"]
        ),
        "doc_id",
    )
