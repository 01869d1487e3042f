"""D-block plans: training-data pipeline operators (SURVEY.md §2 D1-D12)
over the documents/embeddings tables.

The harness corpus has no duplicates, so dedup entries synthesize a
deterministic dup corpus inline (original ∪ exact copies ∪ perturbed
copies / scaled embeddings) — identically in the Spark plan and the
DuckDB oracle, which keeps the hash check meaningful.

Oracles use sequential left-fold list reductions so double summation
order matches Spark's ``aggregate`` fold bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.functions.text import STOPWORDS
from prefect_flow_arc_kg_postgres_etl_spark.operators import dedup as D
from prefect_flow_arc_kg_postgres_etl_spark.operators import similarity as S
from prefect_flow_arc_kg_postgres_etl_spark.operators import text as TX
from prefect_flow_arc_kg_postgres_etl_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
    resize_thumbnails,
    sample_frames,
    synthesize_bmp_media,
)
from prefect_flow_arc_kg_postgres_etl_spark.session import scratch_dir
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
from prefect_flow_arc_kg_postgres_etl_spark.sources.store import staged_input

# ---------------------------------------------------------- dup corpora
_EXACT_OFF = 1_000_000
_NEAR_OFF = 2_000_000
_NEAR_SUFFIX = " zz qq extra tail tokens"
_VEC_OFF = 100_000


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin a small single-file scan across every core. The
    testdata tables are one parquet file -> one input split, which would
    serialize the CPU-heavy expression work that follows; at real scale
    the scan has thousands of splits and this is a no-op-sized shuffle."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _dup_corpus(spark: SparkSession, sf_dir: str, near: bool = False) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + _EXACT_OFF).alias("doc_id"), "text")
    )
    if near:
        corpus = corpus.unionByName(
            docs.select(
                (F.col("doc_id") + _NEAR_OFF).alias("doc_id"),
                F.concat(F.col("text"), F.lit(_NEAR_SUFFIX)).alias("text"),
            )
        )
    return _spread(spark, corpus)


_DUP_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EXACT_OFF}, text FROM documents
"""

_NEAR_CORPUS_SQL = f"""
  {_DUP_CORPUS_SQL}
  UNION ALL
  SELECT doc_id + {_NEAR_OFF}, text || '{_NEAR_SUFFIX}' FROM documents
"""

_FPR_SQL = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"


# ------------------------------------------------------- D1 exact dedup
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_dup_corpus(spark, sf_dir))


DEDUP_EXACT_ORACLE = f"""
WITH corpus AS ({_DUP_CORPUS_SQL})
SELECT {_FPR_SQL} AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM corpus GROUP BY 1
"""


# ----------------------------------------------- D4 exact n-gram jaccard
_JAC_T = 0.8

_GRAMS_SQL = """
  SELECT DISTINCT doc_id AS id, g AS gram
  FROM words, UNNEST(CASE WHEN len(w) >= 3
        THEN list_transform(generate_series(1, len(w) - 2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        ELSE [] END) AS t(g)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_dup_corpus(spark, sf_dir, near=True), _JAC_T)


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+D4 composed: LSH candidates -> exact verify (the 100 TB
    pipeline). Shares the quadratic tier's oracle — the scale path must
    reproduce the ground truth exactly."""
    return D.lsh_verified_pairs(_dup_corpus(spark, sf_dir, near=True), _JAC_T)


DEDUP_JACCARD_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
grams AS ({_GRAMS_SQL}),
sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY 1),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = doc_a
JOIN sizes sb ON sb.id = doc_b
WHERE common * 1.0 / (sa.n + sb.n - common) >= {_JAC_T}
"""


# ------------------------------------------- D5 embedding cosine dedup
_COS_T = 0.99

_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _norm_sql(v: str) -> str:
    return f"sqrt({_DOT_SQL.format(a=v, b=v)})"


def _cos_sql(a: str, b: str) -> str:
    return f"({_DOT_SQL.format(a=a, b=b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


_VEC_CORPUS_SQL = f"""
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_VEC_OFF},
         list_transform(embedding, x -> CAST(x * CAST(2.0 AS REAL) AS REAL))
  FROM embeddings
"""


def _vec_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(
        spark, load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    scaled = emb.select(
        (F.col("vec_id") + _VEC_OFF).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0).cast("float")).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(scaled)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dups(_vec_corpus(spark, sf_dir), _COS_T)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5's 100 TB path: banded hyperplane LSH candidates -> exact
    cosine verify on candidates only. Shares the quadratic tier's
    oracle — the scale path must reproduce the ground truth exactly
    (same pattern as dedup_lsh_verified vs dedup_ngram_jaccard)."""
    return D.embedding_near_dups_lsh(_vec_corpus(spark, sf_dir), _COS_T)


DEDUP_COSINE_ORACLE = f"""
WITH corpus AS ({_VEC_CORPUS_SQL}),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cos_sql("a.embedding", "b.embedding")} AS cos_raw
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(cos_raw, 6) AS cosine
FROM pairs WHERE cos_raw >= {_COS_T}
"""


# --------------------------------------------- D6 brute-force ANN top-k
_N_QUERIES = 10
_K = 5


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.brute_force_topk(queries, emb, k=_K)


ANN_BRUTE_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cos_raw
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {_K}
"""


# ------------------------------------------------- D8 language ID
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.language_id(_spread(spark, load_table(spark, sf_dir, "documents")))


def _hits_sql(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        "len(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> x <> '' AND list_contains([{lst}], x)))"
    )


_LANGS_ALPHA = sorted(TX.LANG_MARKERS.items())

LANG_ID_ORACLE = (
    "WITH scored AS (SELECT doc_id, "
    + ", ".join(f"{_hits_sql(m)} AS h_{lang}" for lang, m in _LANGS_ALPHA)
    + " FROM documents), m AS (SELECT doc_id, "
    + "GREATEST(" + ", ".join(f"h_{lang}" for lang, _ in _LANGS_ALPHA) + ") AS mx, "
    + ", ".join(f"h_{lang}" for lang, _ in _LANGS_ALPHA)
    + " FROM scored) SELECT doc_id, CASE WHEN mx = 0 THEN 'und' "
    + " ".join(f"WHEN h_{lang} = mx THEN '{lang}'" for lang, _ in _LANGS_ALPHA)
    + " END AS detected_lang, CAST(mx AS BIGINT) AS marker_hits FROM m"
)


# ------------------------------------------------- D9 quality scoring
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(_spread(spark, load_table(spark, sf_dir, "documents")))


_SW_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

QUALITY_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS BIGINT) AS n_chars_computed,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x <> '' AND list_contains([{_SW_LIST}], x))) AS BIGINT) AS n_stop,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS chars_in_words
  FROM documents
), ratios AS (
  SELECT doc_id, n_chars_computed, n_words,
         CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars_computed > 0 THEN n_punct * 1.0 / n_chars_computed ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN chars_in_words * 1.0 / n_words ELSE 0.0 END AS mean_wlen
  FROM feat
)
SELECT doc_id, n_chars_computed, n_words,
       ROUND(stop_ratio, 6) AS stopword_ratio,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(mean_wlen, 6) AS mean_word_len,
       ROUND((
         (CASE WHEN n_chars_computed BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN mean_wlen BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
FROM ratios
"""


# ------------------------------------------------- D10 token counting
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(_spread(spark, load_table(spark, sf_dir, "documents")))


TOKEN_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS ws_tokens,
       CAST(COALESCE(list_sum(list_transform(w,
            x -> CAST(CEIL(LENGTH(x) / 4.0) AS BIGINT))), 0) AS BIGINT)
         AS est_bpe_tokens
FROM toks
"""


# ------------------------------------------------- D11 fingerprinting
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint_docs(_spread(spark, load_table(spark, sf_dir, "documents")))


FINGERPRINT_ORACLE = f"SELECT doc_id, {_FPR_SQL} AS fingerprint FROM documents"


# ----------------------------------- rows-only entries (non-SQL ops)
# --------------------------------------------------------------- r11:
# Spark xxhash64(BIGINT) replayed in DuckDB SQL, bit-exactly. For a
# FIXED-WIDTH (single long) input, xxHash64 is a closed form — one
# stripe round plus the avalanche — so it unrolls into ~11 arithmetic
# steps. DuckDB's INT128 cannot hold a full 64x64-bit product, so
# multiplication mod 2^64 uses a 32-bit split; xor/shift stay in
# UBIGINT. Each step is a LATERAL COLUMN ALIAS (DuckDB resolves
# same-SELECT alias references), so a chain of hashes ladders through
# one SELECT without exponential expression blowup. Verified
# bit-identical to Spark's xxhash64 for single longs and for
# multi-column chaining (seed threading), including negative inputs.
_U64 = "18446744073709551616"
_XXH_P1 = "11400714785074694791"
_XXH_P2 = "14029467366897019727"
_XXH_P3 = "1609587929392839161"
_XXH_P4 = "9650029242287828579"
_XXH_P5 = "2870177450012600261"


def _u64_mul(a: str, b: str) -> str:
    lo = f"((({a}) % 4294967296)::HUGEINT * ({b})::HUGEINT) % {_U64}"
    hi = f"((((({a}) >> 32)::HUGEINT * ((({b}) % 4294967296))::HUGEINT) % 4294967296) << 32)"
    return f"CAST((({lo} + {hi}) % {_U64}) AS UBIGINT)"


def _u64_add(a: str, b: str) -> str:
    return f"CAST(((({a})::HUGEINT + ({b})::HUGEINT) % {_U64}) AS UBIGINT)"


def _u64_rotl(x: str, r: int) -> str:
    if r == 0:
        return x
    return (
        f"(CAST(((({x})::HUGEINT << {r}) % {_U64}) AS UBIGINT)"
        f" | (({x}) >> {64 - r}))"
    )


def _u64_xor(a: str, b: str) -> str:
    return f"xor(({a})::UBIGINT, ({b})::UBIGINT)"


def _xxh64_steps(in_col: str, seed: str, prefix: str) -> tuple[str, str]:
    """(select items, out column) computing xxhash64 of one long
    (UBIGINT domain) as a lateral-alias ladder."""
    steps: list[tuple[str, str]] = [
        ("h0", _u64_add(_u64_add(seed, _XXH_P5), "8")),
        ("k1", _u64_mul(in_col, _XXH_P2)),
    ]
    steps.append(("k2", _u64_rotl(f"{prefix}k1", 31)))
    steps.append(("k3", _u64_mul(f"{prefix}k2", _XXH_P1)))
    steps.append(("h1", _u64_xor(f"{prefix}h0", f"{prefix}k3")))
    steps.append(
        (
            "h2",
            _u64_add(
                _u64_mul(_u64_rotl(f"{prefix}h1", 27), _XXH_P1), _XXH_P4
            ),
        )
    )
    steps.append(("a1", _u64_xor(f"{prefix}h2", f"({prefix}h2 >> 33)")))
    steps.append(("a2", _u64_mul(f"{prefix}a1", _XXH_P2)))
    steps.append(("a3", _u64_xor(f"{prefix}a2", f"({prefix}a2 >> 29)")))
    steps.append(("a4", _u64_mul(f"{prefix}a3", _XXH_P3)))
    steps.append(("a5", _u64_xor(f"{prefix}a4", f"({prefix}a4 >> 32)")))
    items = ", ".join(f"{expr} AS {prefix}{name}" for name, expr in steps)
    return items, f"{prefix}a5"


def _py_xxh64_long(l: int, seed: int) -> int:
    """Python twin of the ladder (module-scope constants only)."""
    m = (1 << 64) - 1
    p1, p2, p3, p4, p5 = (
        int(_XXH_P1),
        int(_XXH_P2),
        int(_XXH_P3),
        int(_XXH_P4),
        int(_XXH_P5),
    )

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & m

    h = (seed + p5 + 8) & m
    k1 = rotl((l & m) * p2 & m, 31) * p1 & m
    h ^= k1
    h = (rotl(h, 27) * p1 + p4) & m
    h ^= h >> 33
    h = h * p2 & m
    h ^= h >> 29
    h = h * p3 & m
    return h ^ (h >> 32)


# Kirsch–Mitzenmacher second hash g2 = xxhash64(lit(-1), g): the chain
# seed hashLong(-1, 42) is a constant.
_MINHASH_G2_SEED = str(_py_xxh64_long((1 << 64) - 1, 42))

_SIGNED = (
    "CASE WHEN {u} >= 9223372036854775808 "
    "THEN CAST(({u})::HUGEINT - {m} AS BIGINT) ELSE ({u})::BIGINT END"
)
_UNSIGNED = (
    "CASE WHEN {s} < 0 THEN CAST(({s})::HUGEINT + {m} AS UBIGINT) "
    "ELSE ({s})::UBIGINT END"
)


def _minhash_oracle_sql(k: int = 64, bands: int = 16) -> str:
    """DEDUP_MINHASH_LSH full-replay oracle: gram base = big-endian
    first 8 md5 bytes (== the Spark side after the r11 hash swap), g2
    via the xxhash64-long ladder, perm_i = g XOR rotl(g2, i) min'd in
    SIGNED order (Spark longs), band keys via an r-round xxhash64
    chain over the band's signature slice, candidates = band-bucket
    self-join, est_jaccard = signature agreement / k. Every step is
    the bit-exact twin of operators/dedup.py minhash_signatures /
    _band_keys / minhash_lsh_candidates."""
    r = k // bands
    g2_items, g2_out = _xxh64_steps("g", _MINHASH_G2_SEED, "x")
    # perms in unsigned domain, converted to signed BEFORE the MIN so
    # ordering matches Spark's signed longs
    perm_items = ", ".join(
        "{expr} AS s{i}".format(
            expr=_SIGNED.format(
                u=_u64_xor("g", _u64_rotl("g2", i % 64)), m=_U64
            ),
            i=i,
        )
        for i in range(k)
    )
    sig_mins = ", ".join(f"MIN(s{i}) AS m{i}" for i in range(k))
    sig_list = "[" + ", ".join(f"m{i}" for i in range(k)) + "]"
    band_structs = ", ".join(
        "{'band': %d, %s}"
        % (b, ", ".join(f"'e{j}': m{b * r + j}" for j in range(r)))
        for b in range(bands)
    )
    eu_items = ", ".join(
        _UNSIGNED.format(s=f"b.u['e{j}']", m=_U64) + f" AS e{j}u"
        for j in range(r)
    )
    # One CTE layer PER HASH ROUND: DuckDB binds lateral column
    # aliases by recursive expansion, and 4 chained 11-step ladders in
    # one SELECT exceed its 128-deep binder recursion limit — each
    # round's ladder stays within a layer, rounds hand off through a
    # materialized alias.
    round_ctes = []
    seed = "42::UBIGINT"
    prev = "brows"
    for j in range(r):
        items, out = _xxh64_steps(f"e{j}u", seed, f"c{j}_")
        keep = ", ".join(f"e{jj}u" for jj in range(j + 1, r))
        keep = (keep + ", ") if keep else ""
        round_ctes.append(
            f"bh{j} AS (SELECT id, band, {keep}{items} FROM {prev})"
        )
        prev = f"bh{j}"
        seed = out
    return f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
grams AS ({_GRAMS_SQL}),
g1 AS (
  SELECT id, ('0x' || substring(md5(gram), 1, 16))::UBIGINT AS g FROM grams
),
g2t AS (SELECT id, g, {g2_items} FROM g1),
perms AS (SELECT id, {perm_items} FROM (SELECT id, g, {g2_out} AS g2 FROM g2t) t),
sigs AS (SELECT id, {sig_mins} FROM perms GROUP BY id),
siglist AS (SELECT id, {sig_list} AS sig FROM sigs),
brows AS (
  SELECT id, u['band']::INT AS band, {eu_items}
  FROM (SELECT id, UNNEST([{band_structs}]) AS u FROM sigs) b
),
{", ".join(round_ctes)},
keys AS (SELECT id, band, {seed} AS bkey FROM {prev}),
pairs AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM keys a JOIN keys b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
)
SELECT p.doc_a, p.doc_b,
       ROUND(list_sum(list_transform(range(1, {k + 1}),
             j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) / {k}.0,
             6) AS est_jaccard
FROM pairs p
JOIN siglist sa ON sa.id = p.doc_a
JOIN siglist sb ON sb.id = p.doc_b
"""


DEDUP_MINHASH_LSH_ORACLE = _minhash_oracle_sql()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The registered entry keeps the estimate column (the self-check
    # reads it), which references the signature subtree three times —
    # materialize the signatures once instead of re-scanning the corpus
    # per reference (dedup.py:203-215; the scan-dominated regime this
    # entry is in. lsh_verified_pairs opts out of the estimate and
    # materializes its GRAM table instead — r6).
    return D.minhash_lsh_candidates(
        _dup_corpus(spark, sf_dir, near=True), materialize_signatures=True
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_dup_corpus(spark, sf_dir))


# Full oracle (r11 promotion from rows-only): the token hash is the
# big-endian first 8 bytes of md5, identical in both engines —
# Spark's conv(substring(md5(tok),1,16),16,-10) is the SIGNED
# reinterpretation of DuckDB's ('0x'||substring(md5(tok),1,16))
# ::UBIGINT, and bit tests see the same bit pattern either way. The 64
# bit-votes are one aggregation pass (64 SUM columns, no 64x row
# blowup), the fingerprint string concatenates votes bit 63 -> 0,
# matching operators/dedup.py:simhash exactly.
_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SIMHASH_BITS = " || ".join(
    f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(63, -1, -1)
)
DEDUP_SIMHASH_ORACLE = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
toks AS (
  SELECT doc_id AS id,
         UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM corpus
),
hashed AS (
  SELECT id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h FROM toks
),
votes AS (
  SELECT id, COUNT(*)::BIGINT AS n_tokens, {_SIMHASH_VOTES}
  FROM hashed GROUP BY id
)
SELECT id, {_SIMHASH_BITS} AS simhash, n_tokens FROM votes
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.lsh_topk(queries, emb, k=_K)


def _lsh_oracle_sql(n_planes: int = 8, dim: int = 64) -> str:
    """ann_lsh_topk full-replay oracle (r11 promotion from rows-only).
    The hyperplanes are deterministic ±1 signs (similarity._hyperplane,
    a splitmix-style mix) INLINED as a literal — the same constants the
    Spark UDF closes over — and projections run over round(x*1000)
    integer components, so every sign bit (hence every bucket) is an
    exact integer comparison in both engines. Scoring replays D6's
    float-fold cosine on the bucket-joined candidates."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        _hyperplane,
    )

    planes = [
        [int(x) for x in _hyperplane(dim, p)] for p in range(n_planes)
    ]
    pl = "[" + ", ".join(
        "[" + ", ".join(str(x) for x in row) + "]" for row in planes
    ) + "]"
    return f"""
WITH planes AS (SELECT {pl} AS pl),
vint AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS v
  FROM embeddings
  WHERE len(embedding) > 0
),
bks AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(range(1, {n_planes + 1}), p ->
           CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                      i -> v[i] * pl[p][i])) > 0
                THEN 1 << (p - 1) ELSE 0 END)) AS bucket
  FROM vint CROSS JOIN planes
),
qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bks
       WHERE vec_id < {_N_QUERIES}),
cb AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM bks),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cos_raw
  FROM qb JOIN cb USING (bucket)
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {_K}
"""


ANN_LSH_ORACLE = _lsh_oracle_sql()


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.ivf_topk(queries, emb, k=_K)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode: deterministic BMP payloads synthesized
    executor-side, then genuinely parsed (PIL or stdlib BMP parser) —
    geometry and pixel checksum come from the binary, and tests verify
    them against the closed-form synthesis formula."""
    media = synthesize_bmp_media(_spread(spark, load_table(spark, sf_dir, "documents")))
    return decode_media(media)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_bmp_media(_spread(spark, load_table(spark, sf_dir, "documents")))
    return resize_thumbnails(media)


# The decode/resize outputs are closed-form functions of doc_id (the BMP
# synthesis formulas in operators/multimodal.py): width = 16 + id%17,
# height = 8 + id%11, flat pixel value v = (id*31)%251, so the pixel
# checksum is 3*w*h*v mod 1000003 and byte_len follows the BMP layout
# (54-byte header + stride-padded rows). That makes both fully
# SQL-oracle-able even though the Spark side genuinely parses the
# binary: the oracle recomputes what the decoder must find.
MM_DECODE_ORACLE = """
WITH p AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w,
         8 + doc_id % 11 AS h,
         (doc_id * 31) % 251 AS v
  FROM documents
)
SELECT doc_id,
       'image/bmp' AS media_type,
       CAST(54 + h * ((3 * w + 3) // 4 * 4) AS BIGINT) AS byte_len,
       CAST((3 * w * v * h) % 1000003 AS BIGINT) AS checksum,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height
FROM p
"""

# Thumbnail: scale = min(1, 16/max(w,h)); dims floor then clamp >= 1;
# re-encoded length follows the same BMP layout at thumb dims. FLOOR on
# float64 products mirrors Python's int() truncation (all positive).
MM_RESIZE_ORACLE = """
WITH p AS (
  SELECT doc_id, 16 + doc_id % 17 AS w, 8 + doc_id % 11 AS h FROM documents
), t AS (
  SELECT doc_id, w, h,
         GREATEST(1, CAST(FLOOR(w * LEAST(1.0, 16.0 / GREATEST(w, h))) AS INT)) AS tw,
         GREATEST(1, CAST(FLOOR(h * LEAST(1.0, 16.0 / GREATEST(w, h))) AS INT)) AS th
  FROM p
)
SELECT doc_id, 'image/bmp' AS media_type,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       tw AS thumb_width, th AS thumb_height,
       CAST(54 + th * ((3 * tw + 3) // 4 * 4) AS BIGINT) AS thumb_len
FROM t
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary_payload(_spread(spark, load_table(spark, sf_dir, "documents")))
    return sample_frames(media)


# ------------------------------------- D14 composed corpus curation
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data end use, composed: keep a document iff it
    (a) passes the quality gate (score == 1.0), (b) is identified as
    English, and (c) is its duplicate-cluster's canonical survivor
    (smallest doc_id for its fingerprint). All three features compute
    scan-side; the only shuffle is the dedup hash-agg + the final
    joins on doc_id (broadcast-sized at any corpus: features are
    1 row/doc)."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    quality = TX.quality_score(docs).select("doc_id", "quality")
    lang = TX.language_id(docs).select("doc_id", "detected_lang")
    dedup = D.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    return (
        quality.join(lang, "doc_id")
        .join(dedup, "doc_id", "left_semi")
        .filter((F.col("quality") == 1.0) & (F.col("detected_lang") == "en"))
        .select("doc_id", "quality", "detected_lang")
    )


CURATION_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS BIGINT) AS n_words,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS chars_in_words
  FROM documents
), ratios AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN chars_in_words * 1.0 / n_words ELSE 0.0 END AS mean_wlen
  FROM feat
), quality AS (
  SELECT doc_id,
         ROUND((
           (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN mean_wlen BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
  FROM ratios
), lang AS ({LANG_ID_ORACLE.replace(';', '')}
), dedup AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY {_FPR_SQL}
)
SELECT q.doc_id, q.quality, l.detected_lang
FROM quality q
JOIN lang l ON l.doc_id = q.doc_id
WHERE q.quality = 1.0 AND l.detected_lang = 'en'
  AND EXISTS (SELECT 1 FROM dedup d WHERE d.doc_id = q.doc_id)
"""


# ---------------------------------------------- D15 TF-IDF top terms
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF (rounded-score
    ranking with term tiebreak — reproducible across engines)."""
    return TX.tf_idf_top_terms(
        _spread(spark, load_table(spark, sf_dir, "documents")), k=5
    )


TFIDF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(LOWER(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf,
         ROUND(tf * LN(n_docs / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 5
"""


# ------------------------------------------- D16 decontamination
_BENCH_MOD = 10       # every 10th doc acts as the held-out eval set
_CONTAM_OFF = 3_000_000
_CONTAM_TAIL = " appended trailing tokens"
_DECON_N = 8


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination: training docs sharing any
    8-gram with the (synthesized) eval split are dropped. The corpus
    has no real eval leakage, so contaminated rows are PLANTED
    deterministically (benchmark texts + a tail) — identically in the
    oracle — keeping the hash check meaningful. The benchmark gram set
    broadcasts; the train corpus is never shuffled."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    clean = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    planted = bench.select(
        (F.col("doc_id") + _CONTAM_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_CONTAM_TAIL)).alias("text"),
    )
    train = _spread(spark, clean.unionByName(planted))
    return decontaminate(train, bench, n=_DECON_N).select("doc_id")


DECONTAMINATE_ORACLE = rf"""
WITH train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {_BENCH_MOD} <> 0
  UNION ALL
  SELECT doc_id + {_CONTAM_OFF} AS doc_id, text || '{_CONTAM_TAIL}' AS text
  FROM documents WHERE doc_id % {_BENCH_MOD} = 0
), bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {_BENCH_MOD} = 0
), tg AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(w) - {_DECON_N - 2}),
                               i -> array_to_string(w[i:i+{_DECON_N - 1}], ' '))) AS g
  FROM (SELECT doc_id,
               list_filter(string_split_regex(LOWER(text), '\s+'), x -> x <> '') AS w
        FROM train)
  WHERE len(w) >= {_DECON_N}
), bg AS (
  SELECT DISTINCT array_to_string(w[i:i+{_DECON_N - 1}], ' ') AS g
  FROM (SELECT list_filter(string_split_regex(LOWER(text), '\s+'), x -> x <> '') AS w
        FROM bench), UNNEST(range(1, len(w) - {_DECON_N - 2})) AS t(i)
  WHERE len(w) >= {_DECON_N}
)
SELECT doc_id FROM train
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tg WHERE g IN (SELECT g FROM bg))
"""


# ------------------------------------------- D17 stratified sampling
_MIX = {"en": 0.5, "de": 1.0, "zh": 0.2}


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling: per-language keep fractions
    applied via an engine-independent LCG hash of doc_id (stable across
    runs/partitionings — a reproducible mix spec, unlike seeded RNG
    sampling). Unlisted languages drop."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        sample_stratified,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sample_stratified(docs, "lang", _MIX)


_LCG = "((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648"
SAMPLE_STRATIFIED_ORACLE = (
    "SELECT doc_id, lang, source FROM documents WHERE "
    + " OR ".join(
        f"(lang = '{v}' AND {_LCG} < {int(f * 2147483648)})"
        for v, f in sorted(_MIX.items())
    )
)


# ------------------------------------------- D18 sequence packing
_PACK_BUDGET = 2048


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing per source shard: BPE-estimate
    token counts (text_token_stats' estimator), then contiguous-offset
    packs of 2048 tokens within each source (the shard key scopes the
    ordering so no global sort exists at 100 TB)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        pack_sequences,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.operators.text import token_stats

    docs = load_table(spark, sf_dir, "documents")
    toks = token_stats(docs).select("doc_id", F.col("est_bpe_tokens").alias("est_tokens"))
    with_shard = toks.join(docs.select("doc_id", "source"), "doc_id")
    return pack_sequences(
        with_shard, _PACK_BUDGET, tokens_col="est_tokens", part_col="source"
    )


PACK_SEQUENCES_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(COALESCE(list_sum(list_transform(
             list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
             x -> CAST(CEIL(LENGTH(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS tokens
  FROM documents
)
SELECT doc_id, tokens,
       CAST(FLOOR(CAST(COALESCE(SUM(tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       source
FROM toks
"""


# ------------------------------------------- D19 int8 quantization
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table,
    exploded to (vec_id, pos, q, scale) rows so the driver's tabular
    hash compare applies (list cells don't sort)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    vecs = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(vecs)
    return q.select(
        F.col("id").alias("vec_id"),
        F.round("scale", 6).alias("scale"),
        F.posexplode("qs").alias("pos", "q"),
    ).select("vec_id", "pos", F.col("q").cast("bigint").alias("q"), "scale")


EMBEDDING_QUANTIZE_ORACLE = r"""
WITH scaled AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> ABS(CAST(x AS DOUBLE)))) AS absmax,
         embedding
  FROM embeddings
)
SELECT vec_id,
       i - 1 AS pos,
       CAST(CASE WHEN absmax > 0
                 THEN FLOOR(CAST(list_extract(embedding, i) AS DOUBLE)
                            / absmax * 127.0 + 0.5)
                 ELSE 0 END AS BIGINT) AS q,
       ROUND(CASE WHEN absmax > 0 THEN absmax ELSE 0.0 END, 6) AS scale
FROM scaled, UNNEST(range(1, len(embedding) + 1)) AS t(i)
"""


# The frame sampler's payload is the utf-8 text bytes (ASCII corpus, so
# characters == bytes) and the stub checksum is a 64-byte rolling sum —
# both closed-form in (doc_id, text), so the 1:N expansion is fully
# SQL-oracle-able: frame count, offsets and checksums all recompute in
# DuckDB. Promoted from rows-only in r4.
MM_FRAME_ORACLE = r"""
WITH f AS (
  SELECT doc_id, text, LEAST(8, GREATEST(1, LENGTH(text) // 4096)) AS n
  FROM documents
), idx AS (
  SELECT doc_id, text, UNNEST(range(0, n)) AS i FROM f
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(i * 4096 AS BIGINT) AS frame_offset,
       CAST(COALESCE(list_sum(list_transform(
            range(1, LEAST(64, LENGTH(text) - i * 4096) + 1),
            j -> ascii(substring(text, i * 4096 + j, 1)))), 0) % 1000003
         AS BIGINT) AS frame_checksum
FROM idx
"""


# ------------------------------------------------ D20 PII redaction
# Deterministic planted PII (same trick as decontamination's planted
# contamination): the synthetic corpus contains no emails/phones, so
# each doc gets one of each appended — closed-form in doc_id, rebuilt
# identically in the oracle, keeping the redaction check meaningful.
def _plant_pii(col, doc_id):
    return F.concat(
        col,
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@example.com or call +1-"),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
    )


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id", _plant_pii(F.col("text"), F.col("doc_id")).alias("text")
    )
    return TX.pii_redact(docs)


_PII_PLANT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or call +1-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

PII_REDACT_ORACLE = rf"""
WITH planted AS (
  SELECT doc_id, {_PII_PLANT_SQL} AS text FROM documents
), red AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{TX.EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{TX.PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(text, '{TX.EMAIL_RE}', '<EMAIL>', 'g'),
                        '{TX.PHONE_RE}', '<PHONE>', 'g') AS r
  FROM planted
)
SELECT doc_id, n_emails, n_phones,
       LENGTH(r) AS redacted_len, md5(r) AS redacted_fpr
FROM red
"""


# ------------------------------------------- D21 intra-doc repetition
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_stats(
        _spread(spark, load_table(spark, sf_dir, "documents"))
    )


REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), feat AS (
  SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd,
         CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS bg
  FROM toks
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(nd AS BIGINT) AS n_distinct_tokens,
       CASE WHEN n > 0
            THEN ROUND(1.0 - CAST(nd AS DOUBLE) / n, 6) ELSE 0.0 END
         AS token_rep_ratio,
       CASE WHEN len(bg) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
            ELSE 0.0 END AS bigram_rep_ratio
FROM feat
"""


# --------------------------------- D22 quantized ANN with exact rescore
_RESCORE_M = 20


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over the int8-quantized index (D19's output
    put to work): integer-dot candidate pass, exact rescore of the
    top-M survivors. The quantized cosine is scale-free (per-vector
    scales cancel), so stage 1 is pure integer arithmetic — identical
    in any engine, which is what lets this carry a full SQL oracle
    unlike the float-hash LSH tiers."""
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.quantized_topk(queries, emb, k=_K, rescore_m=_RESCORE_M)


_QS_SQL = """
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(
           CASE WHEN list_max(list_transform(embedding,
                     y -> ABS(CAST(y AS DOUBLE)))) > 0
                THEN FLOOR(CAST(x AS DOUBLE)
                     / list_max(list_transform(embedding,
                               y -> ABS(CAST(y AS DOUBLE)))) * 127.0 + 0.5)
                ELSE 0 END AS BIGINT)) AS qs
  FROM embeddings
"""

ANN_QUANTIZED_ORACLE = f"""
WITH q AS ({_QS_SQL}),
qn AS (
  SELECT vec_id, embedding, qs,
         SQRT(CAST(list_reduce(list_transform(qs, x -> x * x),
                               (a, b) -> a + b) AS DOUBLE)) AS qnorm
  FROM q
), cand AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_reduce(list_transform(generate_series(1, len(a.qs)),
                                         i -> a.qs[i] * b.qs[i]),
                          (x, y) -> x + y) AS DOUBLE)
           / (a.qnorm * b.qnorm) AS qcos_raw,
         a.embedding AS qv, b.embedding AS cv
  FROM qn a, qn b
  WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
), top AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY qcos_raw DESC, neighbor_id) AS qrank
  FROM cand
), resc AS (
  SELECT query_id, neighbor_id, qcos_raw,
         {_cos_sql("qv", "cv")} AS cos_raw
  FROM top WHERE qrank <= {_RESCORE_M}
)
SELECT query_id, neighbor_id, ROUND(qcos_raw, 6) AS qcos,
       ROUND(cos_raw, 6) AS cosine, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_raw DESC, neighbor_id) AS rn
      FROM resc)
WHERE rn <= {_K}
"""


# -------------------------------- D23 dup-pair -> cluster components
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pairs->clusters canonicalization step: connected components
    over the verified dup-pair graph (operators/dedup.py
    cluster_components — Pregel-lite min-label propagation, one shuffle
    per iteration, iterations = graph diameter). The oracle recomputes
    the components independently with a recursive CTE over the
    quadratic ground-truth pair set."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    pairs = D.lsh_verified_pairs(corpus, _JAC_T)
    return D.cluster_components(pairs, corpus.select("doc_id"))


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
grams AS ({_GRAMS_SQL}),
sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY 1),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b FROM pairs
  JOIN sizes sa ON sa.id = doc_a
  JOIN sizes sb ON sb.id = doc_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {_JAC_T}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL
  SELECT doc_b, doc_a FROM jac
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node, MIN(label) AS component FROM reach GROUP BY node
"""


# ------------------------------------------- D24 corpus vocabulary
def _input_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of one parquet table — driver-side file metadata
    (no Spark job), the statistic plan selection keys on."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# Above this input size the vocabulary's dense rank uses the two-phase
# range-partitioned form; below it the vocab trivially fits one
# partition and a global window is both exact and ~3x cheaper (the
# two-phase checkpoint/offset machinery is a fixed ~0.5-1 s — r7's
# flagged bench regression). 1 GiB of text yields a vocab around 1e6
# terms — far inside one partition.
_VOCAB_TWO_PHASE_BYTES = 1 << 30


def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with dense rank ids (tokenizer-training /
    vocab-building pass). Term totals aggregate with map-side combine;
    the ordered window runs over the VOCABULARY, not the corpus, and
    the rank strategy is picked from the input's file size the way AQE
    picks join strategies from stats: global window below 1 GiB (the
    vocab fits one partition), two-phase range-partitioned rank above
    (operators/text.vocabulary)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.text import vocabulary

    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    big = _input_bytes(sf_dir, "documents") > _VOCAB_TWO_PHASE_BYTES
    return vocabulary(docs, min_count=2, two_phase=big)


VOCABULARY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(LOWER(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), per_doc AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS total_count,
         COUNT(*) AS doc_freq
  FROM per_doc GROUP BY 1
)
SELECT term, total_count, doc_freq,
       CAST(ROW_NUMBER() OVER (ORDER BY total_count DESC, term)
            AS BIGINT) AS term_rank
FROM vocab
WHERE total_count >= 2
"""


# ------------------------------------------- D25 bigram LM statistics
def corpus_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM statistics: scan-side pair construction (zip of the
    token list with its tail — no exploded-token self-join), one pair
    aggregation, conditional probabilities off a w1-partitioned window
    over the aggregated set."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.text import bigram_lm

    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    return bigram_lm(docs, min_pair_count=3)


BIGRAM_LM_ORACLE = r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(LOWER(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), bi AS (
  SELECT UNNEST(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1])) AS pair
  FROM toks
), counts AS (
  SELECT split_part(pair, ' ', 1) AS w1,
         split_part(pair, ' ', 2) AS w2,
         COUNT(*) AS pair_n
  FROM bi GROUP BY 1, 2
)
SELECT w1, w2, pair_n,
       ROUND(CAST(pair_n AS DOUBLE)
             / CAST(SUM(pair_n) OVER (PARTITION BY w1) AS DOUBLE),
             6) AS cond_p
FROM counts
QUALIFY pair_n >= 3
"""


# ------------------------------------------- D26 mixture sampling
# Unequal weights so the binding-source math is exercised: src1 is
# kept whole, src2 keeps ~1/2, src3 keeps ~1/4, everything else drops.
_MIX_WEIGHTS = {"src1": 4.0, "src2": 2.0, "src3": 1.0}


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture down-sampling: keep the largest subset whose
    source proportions match the weight spec. Fully in-plan (per-source
    counts + the 1-row binding ratio broadcast back); membership is the
    engine-independent LCG, so the kept set reproduces exactly in the
    oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        sample_to_mixture,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return sample_to_mixture(docs, "source", _MIX_WEIGHTS)


_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {w}" for s, w in sorted(_MIX_WEIGHTS.items())
)
MIX_SAMPLE_ORACLE = f"""
WITH weighted AS (
  SELECT doc_id, lang, source,
         CASE source {_MIX_CASE} END AS w
  FROM documents
  WHERE CASE source {_MIX_CASE} END IS NOT NULL
), counts AS (
  SELECT source, w, COUNT(*) AS n FROM weighted GROUP BY 1, 2
), t AS (
  SELECT MIN(CAST(n AS DOUBLE) / w) AS t FROM counts
), thresh AS (
  SELECT source,
         CAST(FLOOR(((t.t * w) / CAST(n AS DOUBLE)) * 2147483648.0)
              AS BIGINT) AS cut
  FROM counts, t
)
SELECT d.doc_id, d.lang, d.source
FROM weighted d JOIN thresh USING (source)
WHERE {_LCG} < cut
"""


# ------------------------------------------- D27 shard layout
_N_SHARDS = 8


def corpus_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export layout: LCG shard assignment
    plus a dense within-shard position. One shuffle (the per-shard
    window); no global sort at any corpus size."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        assign_shards,
    )

    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    return assign_shards(docs.select("doc_id"), _N_SHARDS)


SHARD_LAYOUT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, {_LCG} AS bucket FROM documents
)
SELECT doc_id,
       CAST(bucket % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY bucket % {_N_SHARDS}
                               ORDER BY bucket, doc_id) AS BIGINT) AS pos
FROM b
"""


# ------------------------------------------- D28 filtered ANN search
_ANN_FILTER_LABELS = (1, 3, 5)


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the vector-DB "filtered ANN"
    shape): top-k cosine neighbors restricted to candidates whose
    label passes a predicate. PRE-filtering is the right plan when the
    filter is selective — the predicate pushes to the candidate SCAN
    (parquet row-group pruning on the label column), the scored set
    shrinks by the selectivity BEFORE the top-k window, and recall is
    exact by construction (post-filtering an unfiltered top-k loses
    matches when fewer than k survivors pass). The LSH/IVF tiers
    compose the same way: filter candidates inside each bucket."""
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    cands = emb.filter(F.col("label").isin(*_ANN_FILTER_LABELS))
    return S.brute_force_topk(queries, cands, k=_K)


ANN_FILTERED_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE label IN {_ANN_FILTER_LABELS}),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cos_raw
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {_K}
"""


# ---------------------------- D29 grouped-map model fit (applyInPandas)
def events_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map custom operator: per-event-type least-squares trend
    fit in an Arrow batch per group (operators/stats.grouped_trend) —
    the applyInPandas route for numeric algorithms with no builtin.
    This particular fit HAS a builtin twin (regr_slope), which is both
    the DuckDB oracle and a Spark-side cross-check in tests — the
    strongest correctness statement available for a Pandas-UDF path."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.stats import grouped_trend

    ev = load_table(spark, sf_dir, "events")
    out = grouped_trend(ev)
    return out.select(
        "event_type",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
    )


EVENTS_TREND_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(regr_slope(value, epoch_us(ts) / 3.6e9), 6) AS slope,
       ROUND(regr_intercept(value, epoch_us(ts) / 3.6e9), 4) AS intercept
FROM events
GROUP BY 1
"""


# --------------------------- D30 binaryFile multimodal ingest path
def multimodal_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The object-storage ingest path end-to-end: payloads land as
    individual .bmp FILES (executor-side writes), come back through
    Spark's binaryFile source (no parsing at the scan; the asset id
    rides the file name), and decode in the same Arrow-batched step as
    the in-plan variant — so the decode oracle (closed-form in doc_id)
    checks the whole file round trip byte-for-byte."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.multimodal import (
        decode_media,
        land_media_files,
        read_media_files,
        synthesize_bmp_media,
    )

    media = synthesize_bmp_media(
        _spread(spark, load_table(spark, sf_dir, "documents"))
    )
    out = scratch_dir(spark, "media_land_") + "/assets"
    land_media_files(media, out)
    return decode_media(read_media_files(spark, out))


# ------------------------------------- D31 edit-distance dedup tier
_EDIT_MAX = 30
_EDIT_PREFIX = 200


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4's verified pairs refined by a Levenshtein check (operators/
    dedup.edit_verified_pairs): the secondary verifier that tells true
    revisions (small localized edits) from bag-of-words lookalikes.
    Runs on the verified pair set only — the quadratic all-pairs DP
    can never run at corpus scale; the oracle is the quadratic ground
    truth with the same edit predicate."""
    return D.edit_verified_pairs(
        _dup_corpus(spark, sf_dir, near=True),
        _JAC_T,
        _EDIT_MAX,
        _EDIT_PREFIX,
    )


DEDUP_EDIT_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
grams AS ({_GRAMS_SQL}),
sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY 1),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         ROUND(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.id = doc_a
  JOIN sizes sb ON sb.id = doc_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {_JAC_T}
)
SELECT j.doc_a, j.doc_b, j.jaccard,
       CAST(levenshtein(substr(a.text, 1, {_EDIT_PREFIX}),
                        substr(b.text, 1, {_EDIT_PREFIX})) AS BIGINT)
         AS edit_distance
FROM jac j
JOIN corpus a ON a.doc_id = j.doc_a
JOIN corpus b ON b.doc_id = j.doc_b
WHERE levenshtein(substr(a.text, 1, {_EDIT_PREFIX}),
                  substr(b.text, 1, {_EDIT_PREFIX})) <= {_EDIT_MAX}
"""


# --------------------------------- D32 Bloom-prefiltered decontamination
def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16's large-eval-set path: a split-block Bloom filter (built and
    probed in DataFrame ops — groupBy(word).bit_or(mask), broadcast
    join, mask test) pre-filters train grams before the exact verify,
    so nothing larger than the fixed 128 KiB filter is ever broadcast
    and the exact gram join shuffles only the might-contain fraction.
    No false negatives + exact verify => identical survivors to
    corpus_decontaminate; shares its oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        decontaminate_bloom,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    clean = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    planted = bench.select(
        (F.col("doc_id") + _CONTAM_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_CONTAM_TAIL)).alias("text"),
    )
    train = _spread(spark, clean.unionByName(planted))
    return decontaminate_bloom(train, bench, n=_DECON_N).select("doc_id")


# ------------------------------------- D33 multimodal audio decode
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio leg of the multimodal triple (image=D12, video-style
    frames=D12-frame, audio=this): executor-side WAV synthesis ->
    Arrow-batched parse -> per-clip features. The synthesis is
    closed-form in doc_id, so every decoded field carries a full
    arithmetic DuckDB oracle (same pattern as the BMP decode)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.multimodal import (
        decode_audio,
        synthesize_wav_media,
    )

    docs = _spread(spark, load_table(spark, sf_dir, "documents").select("doc_id"))
    return decode_audio(synthesize_wav_media(docs))


MM_AUDIO_ORACLE = """
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 125 AS BIGINT) AS duration_us,
       CAST(list_sum(list_transform(generate_series(0, n - 1),
                                    i -> (doc_id + i) % 256)) AS BIGINT)
         AS amplitude_sum
FROM (SELECT doc_id, 800 + doc_id % 200 AS n FROM documents)
"""


# ------------------------------------- D34 deterministic k-means
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-space Lloyd's k-means (operators/similarity.kmeans_int):
    the clustering pass before IVF indexing, exactly reproducible in
    any engine (quantized vectors, integer distances, floor-mean
    updates) — so the ITERATIVE algorithm itself is SQL-oracle-checked,
    unrolled per iteration. k=4, 2 iterations, first-k seeding."""
    emb = _spread(
        spark, load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    return S.kmeans_int(emb, k=4, iters=2)


EMBEDDINGS_KMEANS_ORACLE = """
WITH vint AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS v
  FROM embeddings
  WHERE len(embedding) > 0
),
c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c
       FROM vint ORDER BY vec_id LIMIT 4),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vint.vec_id, vint.v, c0.cid,
           ROW_NUMBER() OVER (
             PARTITION BY vint.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, len(v)),
                       i -> (v[i] - c[i]) * (v[i] - c[i]))), cid
           ) AS rn
    FROM vint CROSS JOIN c0
  ) WHERE rn = 1
),
c1 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, i AS pos,
           CAST(FLOOR(SUM(v[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
    FROM a1, UNNEST(generate_series(1, len(v))) AS t(i)
    GROUP BY cid, i
  ) GROUP BY cid
),
a2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vint.vec_id, vint.v, c1.cid,
           ROW_NUMBER() OVER (
             PARTITION BY vint.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, len(v)),
                       i -> (v[i] - c[i]) * (v[i] - c[i]))), cid
           ) AS rn
    FROM vint CROSS JOIN c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, i AS pos,
           CAST(FLOOR(SUM(v[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
    FROM a2, UNNEST(generate_series(1, len(v))) AS t(i)
    GROUP BY cid, i
  ) GROUP BY cid
)
SELECT a.cid, a.n_members,
       CAST(list_sum(c2.c) AS BIGINT) AS centroid_sum,
       CAST(list_sum(list_transform(c2.c, x -> x * x)) AS BIGINT)
         AS centroid_sumsq
FROM (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY 1) a
JOIN c2 ON a.cid = c2.cid
"""


# ------------------------------- D35 hash-stable dataset split (r6)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D35: deterministic train/val/test assignment — the split every
    training pipeline needs to be a pure FUNCTION of the document id
    (stable across runs, partitionings, engines and corpus growth:
    a doc never migrates between splits when new data lands, so eval
    sets stay uncontaminated). Same engine-independent LCG as the
    stratified sampler (operators/curation.sample_stratified), bucketed
    0-999: <800 train, <900 val, else test. Scan-side projection —
    no shuffle, no RNG, no state."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        ((F.col("doc_id") % 2147483648) * 1103515245 + 12345) % 2147483648
    ) % 1000
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 800, "train")
        .when(bucket < 900, "val")
        .otherwise("test")
        .alias("split"),
    )


CORPUS_SPLIT_ORACLE = f"""
SELECT doc_id, lang,
       CASE WHEN ({_LCG}) % 1000 < 800 THEN 'train'
            WHEN ({_LCG}) % 1000 < 900 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


# ------------------------- D36 incremental new-vs-corpus dedup (r6)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D36: dedup of NEW ARRIVALS against the existing corpus
    (operators/dedup.incremental_dup_pairs) — the production ingest
    shape: history x history is never re-paired; each batch band-joins
    its signatures against the persisted index and itself only. The
    near-dup copies of the synthetic corpus play the arriving batch
    (guaranteeing cross-boundary and in-batch dup pairs); the oracle
    is the quadratic ground truth restricted to pairs touching a new
    doc.

    r7: the probe runs against a PERSISTED build_dedup_index (built
    once per source fingerprint, like the staged KG graph) — band-key
    and gram partitions prune to the batch's hash coverage instead of
    re-deriving the whole history's signatures per ingest. Same output
    as the in-plan incremental_dup_pairs (same banding, same verify);
    tests/test_dedup_similarity.py pins the equivalence and the pruned
    scan."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    history = corpus.filter(F.col("doc_id") < _NEAR_OFF)
    new = corpus.filter(F.col("doc_id") >= _NEAR_OFF)

    # The signature-derivation version is part of the key: a
    # hash-formula change must force a rebuild, or the persisted band
    # keys silently match nothing.
    path = staged_input(
        f"dedup_index_v{D.SIGNATURE_VERSION}",
        [os.path.join(sf_dir, "documents.parquet")],
        lambda out: D.build_dedup_index(history, out),
    )
    return D.incremental_dup_pairs_indexed(new, path, _JAC_T)


DEDUP_INCREMENTAL_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
grams AS ({_GRAMS_SQL}),
sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY 1),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = doc_a
JOIN sizes sb ON sb.id = doc_b
WHERE common * 1.0 / (sa.n + sb.n - common) >= {_JAC_T}
  AND (doc_a >= {_NEAR_OFF} OR doc_b >= {_NEAR_OFF})
"""


# ----------------------------- D37 dedup survivorship emission (r6)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D37: the END of the dedup ladder — emit the CLEANED corpus:
    pairs (LSH-verified) -> clusters (min-label components) -> one
    survivor per cluster (the component canonical) -> semi-join the
    corpus down to survivors. This is the operator that actually
    changes the training set; everything upstream only describes it.
    One extra shuffle beyond clustering (the survivor semi-join); the
    corpus text never rides through the component iterations — only
    (node, component) labels do. Oracle = the recursive-CTE components
    over the quadratic ground truth, keeping each component's minimum
    doc id."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    pairs = D.lsh_verified_pairs(corpus, _JAC_T)
    comp = D.cluster_components(pairs, corpus.select("doc_id"))
    survivors = comp.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return corpus.join(survivors, "doc_id", "left_semi").select(
        "doc_id", F.length("text").alias("n_chars")
    )


DEDUP_SURVIVORS_ORACLE = f"""
WITH RECURSIVE corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
grams AS ({_GRAMS_SQL}),
sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY 1),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b FROM pairs
  JOIN sizes sa ON sa.id = doc_a
  JOIN sizes sb ON sb.id = doc_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {_JAC_T}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL
  SELECT doc_b, doc_a FROM jac
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT c.doc_id, LENGTH(c.text) AS n_chars
FROM corpus c JOIN comp ON comp.node = c.doc_id
WHERE comp.component = c.doc_id
"""


# -------------------- D13 promoted to a full SQL oracle (r6): the IVF
# index is deterministic end-to-end — centroid seeds are the 16
# lowest-id vectors, assignment/probing argmax uses the same
# sequential-fold double arithmetic as the brute-force oracle (which
# hash-matches, proving the arithmetic parity), ties break on larger
# cid in both engines — so the whole index+probe+rank pipeline is
# reproducible in DuckDB, not just recall-bounded.
ANN_IVF_ORACLE = f"""
WITH seeds AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding AS cv, {_norm_sql('embedding')} AS cn
  FROM seeds
),
corpus AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS vn FROM embeddings
),
assigned AS (
  SELECT vec_id, embedding, vn, cid FROM (
    SELECT c.vec_id, c.embedding, c.vn, ct.cid,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY {_DOT_SQL.format(a='c.embedding', b='ct.cv')}
                      / (c.vn * ct.cn) DESC, ct.cid DESC) AS rn
    FROM corpus c CROSS JOIN cents ct
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, qn, cid FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, q.vn AS qn, ct.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DOT_SQL.format(a='q.embedding', b='ct.cv')}
                      / (q.vn * ct.cn) DESC, ct.cid DESC) AS rn
    FROM corpus q CROSS JOIN cents ct WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='p.qv', b='a.embedding')} / (p.qn * a.vn)
           AS cos_raw
  FROM probes p JOIN assigned a ON a.cid = p.cid
  WHERE p.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {_K}
"""


# ----------------------- D38 incremental corpus ingest flow (r6)
def flow_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D38: the continuous corpus-growth flow (flows.ingest_flow):
    batches land in id order, each deduped against the already-landed
    corpus (history wins) and itself (smaller id wins) via the
    incremental band-join — history is never re-paired. rows-only for
    the driver: greedy first-arrival survivorship over a non-clique
    dup graph is order-dependent and not expressible as one SQL
    query; the exact greedy semantics are pinned by the Python-oracle
    convergence test in tests/test_flows.py (2-batch == 1-batch ==
    sequential greedy over the quadratic pair set)."""
    from prefect_flow_arc_kg_postgres_etl_spark.flows import ingest_flow

    corpus = _dup_corpus(spark, sf_dir, near=True)
    b1 = corpus.filter(F.col("doc_id") < _EXACT_OFF)
    b2 = corpus.filter(
        (F.col("doc_id") >= _EXACT_OFF) & (F.col("doc_id") < _NEAR_OFF)
    )
    b3 = corpus.filter(F.col("doc_id") >= _NEAR_OFF)
    target = scratch_dir(spark, "ingest_flow_") + "/corpus"
    final, _ = ingest_flow(spark, target, [b1, b2, b3], _JAC_T)
    return final.select("doc_id", F.length("text").alias("n_chars"))


# ------------------- D39 exact-k deterministic group sample (r6)
_SAMPLE_K = 50


def corpus_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D39: take EXACTLY k docs per group, deterministically — the
    fixed-budget complement of D17's fraction-based sampler ("100
    eval docs per language", not "0.1%"). Rank by the engine-
    independent LCG hash of doc_id within each group and keep the
    first k: a uniform pseudo-random yet reproducible choice — stable
    across runs, partitionings and engines, and a doc's selection
    never flips when OTHER groups grow (rank depends only on its own
    group). One window pass over one group shuffle; ties cannot occur
    (the LCG is a bijection mod 2^31, distinct ids -> distinct
    buckets; doc_id tiebreak kept anyway for ids equal mod 2^31)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        (F.col("doc_id") % 2147483648) * 1103515245 + 12345
    ) % 2147483648
    w = Window.partitionBy("lang").orderBy(
        bucket.asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SAMPLE_K)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    )


SAMPLE_TOPK_HASH_ORACLE = f"""
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY {_LCG}, doc_id) AS INT) AS rk
  FROM documents
) WHERE rk <= {_SAMPLE_K}
"""


# ------------------------------------------ D40 chunking with overlap
_CHUNK_W = 200  # chunk width (chars)
_CHUNK_S = 150  # stride (chars) -> 50-char overlap between neighbors


def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D40: sliding-window document chunking with overlap — the
    RAG/pretraining chunker (long docs -> fixed windows, stride <
    width so no boundary context is lost). Entirely scan-side: the
    chunk index set is posexplode(sequence(0, n_chunks-1)) and each
    chunk is a substring — a generator projection fused with the
    parquet scan, NO shuffle, output size = sum of chunk counts.
    Chunk count uses exact integer ceil ((len - W + S - 1) // S + 1)
    so both engines agree on every boundary; a doc shorter than one
    window yields exactly one (short) chunk.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ln = F.length("text")
    # integer floor division (both operands nonnegative)
    n_chunks = F.when(ln <= _CHUNK_W, F.lit(1).cast("long")).otherwise(
        F.floor((ln - _CHUNK_W + _CHUNK_S - 1) / F.lit(_CHUNK_S)) + 1
    )
    chunked = docs.select(
        "doc_id",
        "text",
        F.posexplode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx", "_i"
        ),
    )
    chunk = F.expr(f"substring(text, cast(chunk_idx * {_CHUNK_S} + 1 as int), {_CHUNK_W})")
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


CHUNK_OVERLAP_ORACLE = f"""
WITH n AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(text) <= {_CHUNK_W} THEN 1
              ELSE 1 + (LENGTH(text) - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
         END AS n_chunks
  FROM documents
)
SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
       SUBSTRING(text, CAST(u.i * {_CHUNK_S} + 1 AS INT), {_CHUNK_W}) AS chunk_text,
       LENGTH(SUBSTRING(text, CAST(u.i * {_CHUNK_S} + 1 AS INT), {_CHUNK_W})) AS chunk_len
FROM n, UNNEST(generate_series(0, n.n_chunks - 1)) AS u(i)
"""


# ------------------------------------ D41 quality-weighted resampling
def corpus_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D41 (r6): importance RESAMPLING by quality — each document
    survives with probability equal to its composite quality score
    (D9), not a hard threshold (D14's gate): a middling doc keeps a
    proportional share of the training mix instead of all-or-nothing —
    the importance-weighting primitive behind quality-annealed data
    mixes. Membership is the engine-independent LCG hash of doc_id
    (reproducible across runs, engines, partitionings — never seeded
    RNG), compared in EXACT integers: quality is k/3 for integer k, so
    keep iff lcg * 3 < k * 2^31 (no float threshold, no rounding
    boundary). Entirely scan-side: zero shuffle, zero joins."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.text import quality_expr

    docs = load_table(spark, sf_dir, "documents")
    score = quality_expr("text")[0]
    lcg = F.expr(_LCG)
    # The keep test references the score, and Catalyst pushes the
    # filter below the project by SUBSTITUTING the full regex-heavy
    # score expression into it — every row then pays the score twice
    # (once in the pushed Filter, once in the Project; guide §4.4's
    # duplication, with built-ins instead of a UDF). explode(array(..))
    # is a pushdown barrier: filters on a generated column cannot move
    # below the Generate, so the score evaluates ONCE per row and the
    # integer check count derives from the already-computed quality
    # column (bit-identical: quality = round(k/3, 6) round-trips to k
    # exactly for k in 0..3). Measured 1.01 -> 0.46 s warm at sf0.1
    # (interleaved A/B, noop sink); plan: 1 score evaluation, not 2.
    q3 = F.round(F.col("quality") * 3, 0).cast("long")
    return docs.select(
        "doc_id", "lang", "source", F.explode(F.array(score)).alias("quality")
    ).filter(lcg * 3 < q3 * F.lit(2147483648))


QUALITY_RESAMPLE_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, lang, source,
         CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS BIGINT) AS n_words,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS chars_in_words
  FROM documents
), ratios AS (
  SELECT doc_id, lang, source, n_chars_c,
         CASE WHEN n_chars_c > 0 THEN n_punct * 1.0 / n_chars_c ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN chars_in_words * 1.0 / n_words ELSE 0.0 END AS mean_wlen
  FROM feat
), scored AS (
  SELECT doc_id, lang, source,
         (CASE WHEN n_chars_c BETWEEN 100 AND 20000 THEN 1 ELSE 0 END
          + CASE WHEN mean_wlen BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END
          + CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END) AS q3
  FROM ratios
)
SELECT doc_id, lang, source, ROUND(q3 / 3.0, 6) AS quality
FROM scored
WHERE ({_LCG}) * 3 < q3 * 2147483648
"""


# --------------------------------- D42 contamination overlap report
def corpus_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D42 (r6): contamination REPORT — D16 drops any doc sharing one
    8-gram with the eval set; audit pipelines need the overlap
    FRACTION per document (how contaminated, not just whether) to set
    thresholds and find near-miss paraphrases. Same planted corpus and
    gram machinery as D16 (hashed 8-byte grams, broadcast eval side);
    per-doc distinct grams get a broadcast membership flag scan-side,
    then ONE aggregation keyed by doc id counts (total, hit) and the
    fraction is per-row arithmetic — the train corpus is never
    shuffled except by its own doc id. Docs with fewer than 8 words
    have no grams and are absent, as in the oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import doc_ngrams

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    clean = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    planted = bench.select(
        (F.col("doc_id") + _CONTAM_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_CONTAM_TAIL)).alias("text"),
    )
    train = _spread(spark, clean.unionByName(planted))
    tg = doc_ngrams(train, "doc_id", "text", _DECON_N).distinct()
    bg = (
        doc_ngrams(bench, "doc_id", "text", _DECON_N)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = tg.join(F.broadcast(bg), "gram", "left")
    return (
        flagged.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn(
            "overlap_frac",
            F.round(F.col("n_hit") * 1.0 / F.col("n_grams"), 6),
        )
    )


CONTAMINATION_REPORT_ORACLE = rf"""
WITH train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {_BENCH_MOD} <> 0
  UNION ALL
  SELECT doc_id + {_CONTAM_OFF} AS doc_id, text || '{_CONTAM_TAIL}' AS text
  FROM documents WHERE doc_id % {_BENCH_MOD} = 0
), bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {_BENCH_MOD} = 0
), tg AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, len(w) - {_DECON_N - 2}),
                               i -> array_to_string(w[i:i+{_DECON_N - 1}], ' '))) AS g
  FROM (SELECT doc_id,
               list_filter(string_split_regex(LOWER(text), '\s+'), x -> x <> '') AS w
        FROM train)
  WHERE len(w) >= {_DECON_N}
), bg AS (
  SELECT DISTINCT array_to_string(w[i:i+{_DECON_N - 1}], ' ') AS g
  FROM (SELECT list_filter(string_split_regex(LOWER(text), '\s+'), x -> x <> '') AS w
        FROM bench), UNNEST(range(1, len(w) - {_DECON_N - 2})) AS t(i)
  WHERE len(w) >= {_DECON_N}
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS overlap_frac
FROM tg GROUP BY doc_id
"""


# --------------------------------- D43 random projection (JL sketch)
_RP_OUT_DIMS = 8
_RP_IN_DIMS = 64


def _rp_sign(i: int, j: int) -> int:
    """Deterministic +-1 sign for projection cell (i, j): Knuth
    multiplicative hash, sign from bit 16 (an LCG's low bit would
    alternate with j's parity — structured, not random-like)."""
    h = ((i * _RP_IN_DIMS + j) * 2654435761) % 4294967296
    return 1 if (h >> 16) % 2 == 0 else -1


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D43 (r6): Johnson-Lindenstrauss RANDOM SIGN PROJECTION — the
    64-dim embedding column sketched to 8 dims with a fixed +-1 matrix
    (Achlioptas): distance-preserving in expectation, 8x cheaper to
    store/scan, the standard pre-filter in front of exact rescoring
    and the cheap input for coarse clustering. The matrix is a PURE
    FUNCTION of (i, j) — no RNG, no state, reproducible anywhere.

    Spark-first: the signs are Python-time CONSTANTS, so each output
    dim is a straight +-a[j] chain — whole-stage-codegen arithmetic
    fused with the scan, zero shuffle, no UDF. Left-to-right addition
    in BOTH engines makes the doubles bit-identical (the repo's
    sequential-fold rule), so the oracle needs no rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    projections = []
    for i in range(_RP_OUT_DIMS):
        terms = " + ".join(
            f"({_rp_sign(i, j)}) * CAST(embedding[{j}] AS DOUBLE)"
            for j in range(_RP_IN_DIMS)
        )
        projections.append(F.expr(terms).alias(f"p{i}"))
    return emb.select("vec_id", "label", *projections)


RANDOM_PROJECTION_ORACLE = "SELECT vec_id, label, " + ", ".join(
    " + ".join(
        f"({_rp_sign(i, j)}) * CAST(embedding[{j + 1}] AS DOUBLE)"
        for j in range(_RP_IN_DIMS)
    )
    + f" AS p{i}"
    for i in range(_RP_OUT_DIMS)
) + " FROM embeddings"


# --------------------------------- D44 LM-based quality scoring
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D44 (r6): MODEL-BASED quality scoring — the perplexity-filter
    analogue (KenLM-style): score each document by how well the
    corpus's OWN bigram LM (D25) predicts it. Heuristic gates (D9)
    catch malformed text; an LM score catches fluent-looking noise
    (shuffled words score near zero, natural text scores high).

    Exact-integer design so the ITERATIVE-free but join-heavy pipeline
    is oracle-checkable: conditional probabilities are scaled integers
    floor(1e6 * pair_n / w1_n) (pairs below count 3 fall out of the LM
    — unseen bigram = 0, the discriminating smoothing), a document's
    score is the integer mean floor(sum/n) over its bigram stream.
    Float log-probs would sum in partition order and drift cross-engine.

    Shape at 100 TB: doc bigrams are scan-side (zip with tail, no
    token self-join); the LM aggregates once and is orders smaller
    than the corpus (vocab², min-count-pruned), so the probe join
    broadcasts or hash-joins on the pair key; ONE aggregation keyed by
    doc_id finishes. Docs with <2 tokens have no bigrams and are
    absent, as in the oracle."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    w = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    pairs = F.expr(
        r"transform(sequence(0, size(_w) - 2), "
        r"i -> concat(_w[i], ' ', _w[i + 1]))"
    )
    doc_bi = (
        docs.select("doc_id", w.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select("doc_id", F.explode(pairs).alias("pair"))
    )
    lm = (
        doc_bi.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .withColumn("w1", F.expr("split_part(pair, ' ', 1)"))
    )
    w1_tot = lm.groupBy("w1").agg(F.sum("pair_n").alias("w1_n"))
    probs = (
        lm.join(w1_tot, "w1")
        .filter(F.col("pair_n") >= 3)
        .select(
            "pair",
            F.expr("(1000000 * pair_n) div w1_n").alias("p_e6"),
        )
    )
    return (
        doc_bi.join(probs, "pair", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("p_e6"), F.lit(0))).alias("_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("_sum div n_bigrams").alias("lm_score_e6"),
        )
    )


TEXT_LM_SCORE_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(LOWER(text), '\s+'), x -> x <> '') AS w
  FROM documents
), doc_bi AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))
           AS pair
  FROM toks WHERE len(w) >= 2
), counts AS (
  SELECT pair, split_part(pair, ' ', 1) AS w1, COUNT(*) AS pair_n
  FROM doc_bi GROUP BY 1, 2
), probs AS (
  SELECT pair,
         (1000000 * pair_n) // SUM(pair_n) OVER (PARTITION BY w1) AS p_e6
  FROM counts
  QUALIFY pair_n >= 3
)
SELECT d.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(COALESCE(p.p_e6, 0)) // COUNT(*) AS BIGINT) AS lm_score_e6
FROM doc_bi d LEFT JOIN probs p ON p.pair = d.pair
GROUP BY d.doc_id
"""


# ------------------------------ D45 label centroids (fixed point, r6)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D45 (r6): per-label embedding CENTROIDS — the cluster-profiling
    / class-prototype aggregate (nearest-class-mean classification,
    drift monitoring). Summing floats across rows is partition-order-
    dependent; the exact design quantizes each component to e6 FIXED
    POINT scan-side (bigint), sums integers (order-independent, exact),
    and divides by the count only at the end — the same integer-
    partials rule as A34/D34. Shape: posexplode to (label, dim,
    value_e6) — a generator projection, then ONE hash aggregation on
    (label, dim); output is long-form (label x 64 dims), column-count
    stable at any dimensionality."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1e6).cast("bigint").alias("v_e6"),
    )
    # NEGATIVE sums: Spark's integral `div` truncates toward zero while
    # DuckDB's // floors — use explicit FLOOR of the double ratio in
    # BOTH engines (|sum| << 2^53, so the double division is exact
    # enough for a stable floor; components are e6-quantized already).
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "cast(floor(cast(sum(v_e6) as double) / count(1)) as bigint)"
        ).alias("centroid_e6"),
    )


LABEL_CENTROIDS_ORACLE = """
WITH comp AS (
  SELECT label, CAST(u.i - 1 AS INT) AS dim,
         CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1e6) AS BIGINT) AS v_e6
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
)
SELECT label, dim, COUNT(*) AS n,
       CAST(FLOOR(CAST(SUM(v_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
         AS centroid_e6
FROM comp GROUP BY 1, 2
"""


# ----------------------------------- D46 in-engine recall metric (r6)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D46 (r6): ANN INDEX QUALITY as a query — recall@k of the IVF
    tier (D13) against exact brute force (D6), computed in-engine per
    query point. Index-quality evaluation is itself a pipeline job at
    scale (you re-measure recall after every re-index and alert on
    drift); until now recall lived only in tests. Both tiers are
    deterministic end-to-end (lowest-id seeds, sequential folds,
    cid/id tie-breaks), so even this METRIC has a full SQL oracle —
    DuckDB reproduces index, probe, rank, and the recall fraction
    exactly. One join of two k-row-per-query sets on (query, neighbor),
    grouped by query."""
    exact = ann_bruteforce_topk(spark, sf_dir).select(
        F.col("query_id").alias("q"), F.col("neighbor_id").alias("n")
    )
    approx = ann_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("q"),
        F.col("neighbor_id").alias("n"),
        F.lit(1).alias("_hit"),
    )
    return (
        exact.join(approx, ["q", "n"], "left")
        .groupBy(F.col("q").alias("query_id"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_found"),
        )
        .withColumn(
            "recall_e6",
            F.expr("(1000000 * n_found) div k"),
        )
    )


ANN_RECALL_ORACLE = f"""
WITH exact AS (
  SELECT query_id AS q, neighbor_id AS n FROM ({ANN_BRUTE_ORACLE})
), approx AS (
  SELECT query_id AS q, neighbor_id AS n FROM ({ANN_IVF_ORACLE})
)
SELECT e.q AS query_id,
       COUNT(*) AS k,
       CAST(SUM(CASE WHEN a.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       CAST((1000000 * SUM(CASE WHEN a.n IS NOT NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS recall_e6
FROM exact e LEFT JOIN approx a ON a.q = e.q AND a.n = e.n
GROUP BY e.q
"""


# ------------------------------ D47 deterministic shard interleave (r6)
def corpus_interleave_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D47 (r6): deterministic INTERLEAVED training order — a training
    run wants sources mixed evenly (not src1's docs then src2's), in a
    reproducible order, WITHOUT a global shuffle of the corpus. Each
    doc ranks within its source by the engine-independent LCG hash
    (the reproducible 'shuffle'), and the global position is the
    round-robin formula rank * n_sources + source_index — sources
    interleave 1:1:1 by construction, and the only shuffles are one
    window per source key and the tiny distinct-source index join.
    A global ORDER BY hash would single-partition-sort the corpus at
    100 TB; the formula needs no sort at all — downstream shard
    writers range-partition on global_order."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    srcs = (
        docs.select("source")
        .distinct()
        .withColumn(
            "src_idx",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
    )
    n_src = srcs.count()
    w = Window.partitionBy("source").orderBy(F.expr(_LCG), "doc_id")
    return (
        docs.withColumn("rank_in_src", F.row_number().over(w) - 1)
        .join(F.broadcast(srcs), "source")
        .select(
            "doc_id",
            "source",
            (F.col("rank_in_src") * n_src + F.col("src_idx")).alias(
                "global_order"
            ),
        )
    )


INTERLEAVE_ORACLE = f"""
WITH srcs AS (
  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT)
           AS src_idx,
         CAST((SELECT COUNT(DISTINCT source) FROM documents) AS BIGINT)
           AS n_src
  FROM (SELECT DISTINCT source FROM documents)
), ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY {_LCG}, doc_id) - 1 AS BIGINT) AS rank_in_src
  FROM documents
)
SELECT r.doc_id, r.source,
       r.rank_in_src * s.n_src + s.src_idx AS global_order
FROM ranked r JOIN srcs s ON s.source = r.source
"""


# --------------------------------- D48 sentence segmentation (r6)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D48 (r6): sentence segmentation — the preprocessing step before
    sentence-level dedup/embedding/packing. Regex split on terminal
    punctuation runs + whitespace, posexplode to (doc_id, sent_idx,
    sentence); empty segments drop. Scan-fused generator projection,
    zero shuffle (same family as the chunker D40)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+\s+"), lambda x: x != ""
    )
    return docs.select(
        "doc_id", F.posexplode(sents).alias("sent_idx", "sentence")
    )


SENTENCE_SPLIT_ORACLE = r"""
SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_idx, s[u.i] AS sentence
FROM (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[.!?]+\s+'),
                     x -> x <> '') AS s
  FROM documents
), UNNEST(generate_series(1, len(s))) AS u(i)
"""


# ------------------------------ D49 embedding outlier detection (r6)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D49 (r6): EMBEDDING OUTLIERS per label — the mislabeled-data /
    contamination detector: the top-3 vectors farthest from their
    label's centroid (D45's e6 fixed-point prototypes). EXACT INTEGER
    end to end: dist² = Σ(v_e6 - c_e6)² is a bigint sum (order-
    independent), so rank and ties are identical cross-engine — no
    float distance, no epsilon. Shape: posexplode components, ONE
    (label, dim) join against the 64·|labels|-row centroid table
    (broadcast), per-vector sum, dim-bounded top-k window per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1e6).cast("bigint").alias("v_e6"),
    )
    cents = embedding_label_centroids(spark, sf_dir).select(
        "label", "dim", "centroid_e6"
    )
    d = F.col("v_e6") - F.col("centroid_e6")
    dist = (
        comp.join(F.broadcast(cents), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.sum(d * d).alias("dist2_e12"))
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist2_e12"), "vec_id"
    )
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("label", "vec_id", "dist2_e12", F.col("rank").cast("int").alias("rank"))
    )


EMBEDDING_OUTLIERS_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, label, CAST(u.i - 1 AS INT) AS dim,
         CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1e6) AS BIGINT) AS v_e6
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
), cents AS (
  SELECT label, dim,
         CAST(FLOOR(CAST(SUM(v_e6) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS centroid_e6
  FROM comp GROUP BY 1, 2
), dist AS (
  SELECT c.vec_id, c.label,
         CAST(SUM((c.v_e6 - k.centroid_e6) * (c.v_e6 - k.centroid_e6))
              AS BIGINT) AS dist2_e12
  FROM comp c JOIN cents k ON k.label = c.label AND k.dim = c.dim
  GROUP BY 1, 2
)
SELECT label, vec_id, dist2_e12, rank FROM (
  SELECT label, vec_id, dist2_e12,
         CAST(ROW_NUMBER() OVER (PARTITION BY label
              ORDER BY dist2_e12 DESC, vec_id) AS INT) AS rank
  FROM dist
) WHERE rank <= 3
"""


# ----------------------- D50 exact percentile-band trim, sort-free (r6)
def corpus_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D50 (r6): EXACT percentile-band trimming — drop the shortest 5%
    and longest 5% of documents by length, a standard outlier gate.
    The naive exact plan global-sorts the corpus for rank; approximate
    quantiles break oracle checks. The sort-free exact shape: lengths
    collapse to a (length -> count) table — BOUNDED by |distinct
    lengths|, not |docs| — a cumulative window over that tiny table
    finds the exact p5/p95 length cutoffs (first length whose
    cumulative count reaches ceil(0.05 * N)), and the corpus takes
    one broadcast-bounded scan filter. Ranks compare integer
    cross-products (cum * 100 >= n * 5): no float percentile.
    Tie semantics: every doc with length == cutoff stays (band is
    inclusive), so the kept fraction can exceed 90% — exactness over
    an arbitrary intra-tie split."""
    docs = load_table(spark, sf_dir, "documents")
    ln = F.length("text").cast("bigint")
    by_len = docs.select(ln.alias("len")).groupBy("len").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    ranked = by_len.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(
            by_len.agg(F.sum("cnt").alias("n_total"))
        )
    )
    lo = ranked.filter(F.col("cum") * 100 >= F.col("n_total") * 5).agg(
        F.min("len").alias("lo")
    )
    hi = ranked.filter(
        (F.col("n_total") - F.col("cum") + F.col("cnt")) * 100
        >= F.col("n_total") * 5
    ).agg(F.max("len").alias("hi"))
    bounds = lo.crossJoin(hi)
    return (
        docs.select("doc_id", "lang", "source", ln.alias("n_chars_len"))
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars_len") >= F.col("lo")) & (F.col("n_chars_len") <= F.col("hi")))
        .select("doc_id", "lang", "source", "n_chars_len")
    )


LENGTH_BAND_ORACLE = """
WITH by_len AS (
  SELECT LENGTH(text) AS len, COUNT(*) AS cnt FROM documents GROUP BY 1
), ranked AS (
  SELECT len, cnt,
         SUM(cnt) OVER (ORDER BY len
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER () AS n_total
  FROM by_len
), lo AS (
  SELECT MIN(len) AS lo FROM ranked WHERE cum * 100 >= n_total * 5
), hi AS (
  SELECT MAX(len) AS hi FROM ranked
  WHERE (n_total - cum + cnt) * 100 >= n_total * 5
)
SELECT d.doc_id, d.lang, d.source, CAST(LENGTH(d.text) AS BIGINT)
         AS n_chars_len
FROM documents d, lo, hi
WHERE LENGTH(d.text) >= lo.lo AND LENGTH(d.text) <= hi.hi
"""


# ----------------------------- D51 corpus duplication report (r6)
def corpus_dup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D51 (r6): corpus DUPLICATION STATISTICS per source — the dataset
    card number every release publishes (dup rate by provenance tells
    you which feed to fix): per source, docs, distinct texts (exact,
    via xxhash64 of the text — the D1 identity), duplicated rows (doc
    count minus distinct), and the e6 dup rate. Two keyed aggregations
    (text-hash within source, then source), both map-side combining;
    the corpus shuffles once on the hash key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.xxhash64("text").alias("h")
    )
    per_text = docs.groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_text.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_duplicated"),
        F.expr(
            "(1000000 * (sum(n) - count(1))) div sum(n)"
        ).alias("dup_rate_e6"),
    )


DUP_RATE_ORACLE = """
WITH per_text AS (
  SELECT source, text, COUNT(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_distinct,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_duplicated,
       CAST((1000000 * (SUM(n) - COUNT(*))) // SUM(n) AS BIGINT)
         AS dup_rate_e6
FROM per_text GROUP BY source
"""


# ------------------------- D52 duplicated-sentence fraction (r6)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D52 (r6): BOILERPLATE fraction — per document, the share of its
    sentences that also appear in OTHER documents (the duplicated-
    line-fraction rule of the Gopher/FineWeb quality heuristics:
    navigation chrome, license footers and templated text score high;
    D9's surface features can't see cross-document repetition, and
    doc-level dedup misses partial boilerplate). Shape: sentences
    (D48's scan-side split) -> xxhash64 identity -> global counts of
    docs-per-sentence (one keyed agg; distinct per doc first so a
    sentence repeated WITHIN one doc is not cross-doc boilerplate) ->
    per-doc fraction of sentences whose doc-count > 1. The corpus
    shuffles on the sentence hash once, then on doc_id once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+\s+"), lambda x: x != ""
    )
    per_sent = (
        docs.select("doc_id", F.explode(sents).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
        .distinct()
    )
    sent_docs = per_sent.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        per_sent.join(sent_docs, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_shared"
            ),
            F.expr(
                "(1000000 * sum(case when n_docs > 1 then 1 else 0 end))"
                " div count(1)"
            ).alias("boilerplate_e6"),
        )
    )


BOILERPLATE_ORACLE = r"""
WITH per_sent AS (
  SELECT DISTINCT doc_id, s[u.i] AS s
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '[.!?]+\s+'),
                       x -> x <> '') AS s
    FROM documents
  ), UNNEST(generate_series(1, len(s))) AS u(i)
), sent_docs AS (
  SELECT s, COUNT(*) AS n_docs FROM per_sent GROUP BY 1
)
SELECT p.doc_id,
       COUNT(*) AS n_sentences,
       CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST((1000000 * SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS boilerplate_e6
FROM per_sent p JOIN sent_docs d ON d.s = p.s
GROUP BY p.doc_id
"""


# ----------------------------------- D53 n-gram novelty scoring (r6)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D53 (r6): NOVELTY scoring — per document, the fraction of its
    distinct 8-grams that FIRST appear in it (corpus order = doc_id):
    the memorization-research signal separating content originators
    from re-posters, and the complement of D52's boilerplate view.
    Deterministic without any sequential scan: a gram's introducer is
    min(doc_id) over its occurrences — ONE keyed aggregation — and a
    doc's novelty is the fraction of its grams whose introducer is
    itself. Two shuffles total (gram hash, then doc)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import doc_ngrams

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tg = doc_ngrams(docs, "doc_id", "text", _DECON_N).distinct()
    intro = tg.groupBy("gram").agg(F.min("id").alias("first_doc"))
    return (
        tg.join(intro, "gram")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0)
            ).alias("n_novel"),
            F.expr(
                "(1000000 * sum(case when first_doc = id then 1 else 0 end))"
                " div count(1)"
            ).alias("novelty_e6"),
        )
    )


NGRAM_NOVELTY_ORACLE = rf"""
WITH tg AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, len(w) - {_DECON_N - 2}),
                               i -> array_to_string(w[i:i+{_DECON_N - 1}], ' ')))
           AS g
  FROM (SELECT doc_id,
               list_filter(string_split_regex(LOWER(text), '\s+'), x -> x <> '') AS w
        FROM documents)
  WHERE len(w) >= {_DECON_N}
), intro AS (
  SELECT g, MIN(doc_id) AS first_doc FROM tg GROUP BY 1
)
SELECT t.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN i.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((1000000 * SUM(CASE WHEN i.first_doc = t.doc_id THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS novelty_e6
FROM tg t JOIN intro i ON i.g = t.g
GROUP BY t.doc_id
"""


# --------------------------- D54 ALTO-XML transcript extraction (r7)
def alto_transcript_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D54 (r7): ALTO OCR XML -> transcript — the engine-side
    counterpart of the reference's external ``arc_alto_to_json``
    deployment (flows/main_flow.py:112-140 schedules it; the
    implementation is not in the reference repo, so the contract is
    the public ALTO schema). Each document's text round-trips through
    a synthesized ALTO payload (Page/TextBlock/TextLine/String with
    per-word WC confidences) and is recovered by JVM-side xpath
    extraction: page id, transcript, word/line counts, exact-integer
    confidence mass. Everything — synthesis and parse — runs scan-side
    in whole-stage codegen: zero UDFs, zero shuffles (plan-audited),
    so a 100 TB ALTO corpus transcribes embarrassingly parallel. The
    oracle recomputes every output closed-form from the source text,
    which fails if the XML parse drops, reorders or mangles any word."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import alto

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_xml = docs.select(
        "doc_id",
        alto.synth_alto_xml(
            F.col("text"),
            F.concat(F.lit("P"), F.col("doc_id").cast("string")),
        ).alias("alto_xml"),
    )
    return alto.extract_transcript(with_xml, "alto_xml")


ALTO_TRANSCRIPT_ORACLE = """
WITH w AS (
  SELECT doc_id, text, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       'P' || CAST(doc_id AS VARCHAR) AS page_id,
       text AS transcript,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST((len(words) + 7) // 8 AS BIGINT) AS n_lines,
       CAST(list_sum(list_transform(words, x -> strlen(x) % 10)) AS BIGINT)
         AS sum_wc_e2
FROM w
"""


def alto_transcript_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D57 (r7): CORRUPT-TOLERANT ALTO extraction — the dead-letter
    split for OCR lakes, the XML sibling of D58's corrupt-tolerant CSV
    ingestion: a 100 TB scan of scanned-newspaper ALTO always contains
    truncated/mangled payloads, and one bad file must neither kill the
    job nor silently vanish. Docs with doc_id % 7 == 3 get their XML
    truncated mid-tag; ``from_xml`` parses PERMISSIVE (malformed ->
    null struct, no task failure), the null parse classifies the row
    into the dead letter with its identity preserved, and good rows
    keep their transcript. Scan-side end to end — the classify is a
    null test on the single staged parse, zero extra passes."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import alto

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    xml = alto.synth_alto_xml(
        F.col("text"), F.concat(F.lit("P"), F.col("doc_id").cast("string"))
    )
    with_xml = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 3, F.substring(xml, 1, 40))
        .otherwise(xml)
        .alias("alto_xml"),
    )
    parsed = alto.extract_transcript(with_xml)
    return parsed.select(
        "doc_id",
        F.when(F.col("page_id").isNull(), F.lit("corrupt"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        "transcript",
        "n_words",
    )


ALTO_TOLERANT_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 3 THEN 'corrupt' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 7 = 3 THEN NULL ELSE text END AS transcript,
       CASE WHEN doc_id % 7 = 3 THEN NULL
            ELSE CAST(len(string_split(text, ' ')) AS BIGINT)
       END AS n_words
FROM documents
"""


# ------------------------------------ D55 BPE merge learning (r7)
_BPE_ROUNDS = 4


def corpus_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D55 (r7): BPE MERGE LEARNING — the tokenizer-training pass.
    Word-frequency vocabulary (one corpus shuffle; the iterative part
    then runs over the VOCAB, orders of magnitude smaller than the
    corpus — the standard trick that makes BPE training tractable at
    100 TB), then per round: adjacent-pair counts weighted by word
    frequency (one tiny shuffle on the pair key), deterministic global
    argmax (count desc, pair asc; 1-row collect — the k-means/PageRank
    driver-coordination pattern), merge applied scan-side. Greedy
    leftmost application is POSITIONAL (operators/text.bpe_learn:
    equal-symbol runs merge at even offsets via a last-break-index
    fold), so the unrolled SQL oracle reproduces every merge decision
    bit-for-bit — the iterative ALGORITHM is oracle-checked, not just
    its output shape."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return TX.bpe_learn(words, rounds=_BPE_ROUNDS)


def _bpe_oracle(rounds: int) -> str:
    ctes = [
        """w0 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
), seg0 AS (
  SELECT w, cnt, TRIM(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seg FROM w0
)"""
    ]
    for r in range(rounds):
        ctes.append(f"""pc{r} AS (
  SELECT string_split(seg, ' ')[i] || ' ' || string_split(seg, ' ')[i+1]
           AS pair, cnt
  FROM seg{r}, UNNEST(range(1, len(string_split(seg, ' ')))) AS t(i)
  WHERE len(string_split(seg, ' ')) >= 2
), top{r} AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count,
         split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
  FROM pc{r} GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1
), seg{r + 1} AS (
  SELECT w, cnt,
    array_to_string(
      list_transform(
        list_filter(range(1, len(syms) + 1),
                    i -> NOT (i > 1 AND flags[i - 1])),
        i -> CASE WHEN flags[i] THEN a || b ELSE syms[i] END),
      ' ') AS seg
  FROM (
    SELECT s.w, s.cnt, s.syms, t.a, t.b,
      list_transform(range(1, len(syms) + 1), i ->
        syms[i] = t.a AND i < len(syms) AND syms[i + 1] = t.b
        AND (t.a != t.b
             OR (i - 1 - list_reduce(list_prepend(0, range(1, i)),
                   (acc, j) -> CASE WHEN syms[j] != t.a THEN j
                               ELSE acc END)) % 2 = 0)
      ) AS flags
    FROM (SELECT w, cnt, string_split(seg, ' ') AS syms FROM seg{r}) s,
         top{r} t
  )
)""")
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS rnd, a AS sym_left, b AS sym_right,"
        f" a || b AS merged, pair_count FROM top{r}"
        for r in range(rounds)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


CORPUS_BPE_ORACLE = _bpe_oracle(_BPE_ROUNDS)


# ------------------------------------ D56 BPE tokenizer application (r7)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D56 (r7): BPE TOKENIZER APPLICATION — per-document token counts
    under the D55-learned merges. The scale shape is the point: the
    iterative loop never sees the corpus (it runs over the word-count
    VOCAB, and the loop's working set already holds every word's final
    segmentation when training ends, so application is free); the
    corpus is touched exactly twice — one explode+count to build the
    vocab, one BROADCAST join of the vocab-sized (word -> n_tokens)
    table back onto the exploded words. No quadratic re-segmentation
    of documents, no corpus-wide merge rewriting. Exact integers end
    to end; oracle = the D55 unrolled merge chain + the same join."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    seg = TX.bpe_segment(vocab, rounds=_BPE_ROUNDS)
    return (
        words.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def _bpe_encode_oracle(rounds: int) -> str:
    learn = _bpe_oracle(rounds)
    ctes = learn[len("WITH ") : learn.index("\nSELECT CAST(0 AS INTEGER)")]
    return f"""WITH {ctes},
tok AS (
  SELECT w, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tokens
  FROM seg{rounds}
), dw AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
)
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
FROM dw JOIN tok t USING (w)
GROUP BY dw.doc_id
"""


CORPUS_BPE_ENCODE_ORACLE = _bpe_encode_oracle(_BPE_ROUNDS)


# --------------------------------------------------------------- D59
# span-level exact-substring dedup (Lee et al. 2021, deterministic)
_SPAN_W = 8


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_dedup(_dup_corpus(spark, sf_dir, near=True), window=_SPAN_W)


DEDUP_SUBSTRING_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
starts AS (
  SELECT id, s - 1 AS s,
         md5(array_to_string(w[s:s+{_SPAN_W - 1}], ' ')) AS key
  FROM words, UNNEST(generate_series(1, len(w) - {_SPAN_W - 1})) AS t(s)
),
dup_starts AS (
  SELECT id, s FROM (
    SELECT id, s,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY id, s) AS rn
    FROM starts
  ) WHERE rn > 1
),
pos AS (
  SELECT id, p - 1 AS p, w[p] AS word
  FROM words, UNNEST(generate_series(1, len(w))) AS t(p)
),
cov AS (
  SELECT pos.id, pos.p, pos.word,
         MAX(CASE WHEN ds.s IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY pos.id ORDER BY pos.p
                 ROWS BETWEEN {_SPAN_W - 1} PRECEDING AND CURRENT ROW)
           AS covered
  FROM pos LEFT JOIN dup_starts ds ON ds.id = pos.id AND ds.s = pos.p
)
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(covered) AS BIGINT) AS dup_words,
       CAST((SUM(covered) * 1000000) // COUNT(*) AS BIGINT) AS dup_frac_e6,
       COALESCE(string_agg(CASE WHEN covered = 0 THEN word END, ' '
                           ORDER BY p), '') AS clean_text
FROM cov GROUP BY id
"""


# --------------------------------------------------------------- D60
# chunk-level exact dedup (the C4 discipline, fixed-width chunks)
_CHUNK_C = 20


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.chunk_dedup(_dup_corpus(spark, sf_dir, near=True), chunk=_CHUNK_C)


DEDUP_PARAGRAPH_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
words AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM corpus
),
chunks AS (
  SELECT id, ci,
         array_to_string(w[ci * {_CHUNK_C} + 1 : ci * {_CHUNK_C} + {_CHUNK_C}],
                         ' ') AS piece
  FROM words,
       UNNEST(generate_series(0, CAST((len(w) + {_CHUNK_C - 1}) // {_CHUNK_C}
                                      AS BIGINT) - 1)) AS t(ci)
  WHERE len(w) > 0
),
ranked AS (
  SELECT id, ci, piece,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY piece ORDER BY id, ci) = 1
              THEN 1 ELSE 0 END AS keep
  FROM chunks
)
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(keep) AS BIGINT) AS kept_chunks,
       COALESCE(string_agg(CASE WHEN keep = 1 THEN piece END, ' '
                           ORDER BY ci), '') AS clean_text
FROM ranked GROUP BY id
"""


# --------------------------------------------------------------- D61
# semantic dedup (SemDeDup): cluster-scoped greedy near-dup pruning
def _sem_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(
        spark,
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        ),
    )
    scaled = emb.select(
        (F.col("vec_id") + _VEC_OFF).alias("vec_id"),
        "label",
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0).cast("float")).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(scaled)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.semantic_dedup(_sem_corpus(spark, sf_dir), _COS_T)


_SEM_CORPUS_SQL = f"""
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_VEC_OFF}, label,
         list_transform(embedding, x -> CAST(x * CAST(2.0 AS REAL) AS REAL))
  FROM embeddings
"""

_SEM_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


DEDUP_SEMANTIC_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM ({_SEM_CORPUS_SQL})
),
unit AS (
  SELECT vec_id, label,
         list_transform(v, x -> x / sqrt({_SEM_DOT.format(a="v", b="v")}))
           AS u
  FROM corpus
),
grp AS (
  SELECT label,
         list(struct_pack(vid := vec_id, u := u) ORDER BY vec_id) AS ms
  FROM unit GROUP BY label
),
cent AS (
  SELECT label, ms,
         list_reduce(
           list_transform(ms, m -> m.u),
           (a, b) -> list_transform(generate_series(1, len(a)),
                                    i -> a[i] + b[i])) AS c
  FROM grp
),
mem AS (
  SELECT label, m.vid AS vid, m.u AS u, c
  FROM cent, UNNEST(ms) AS t(m)
),
ranked AS (
  SELECT label, vid, u, c,
         {_SEM_DOT.format(a="u", b="c")}
           / sqrt({_SEM_DOT.format(a="c", b="c")}) AS cos_c,
         ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY {_SEM_DOT.format(a="u", b="c")}
                      / sqrt({_SEM_DOT.format(a="c", b="c")}) DESC,
                    vid) AS rnk
  FROM mem
),
prior AS (
  SELECT a.label, a.vid, MAX({_SEM_DOT.format(a="a.u", b="b.u")}) AS max_prior
  FROM ranked a JOIN ranked b ON a.label = b.label AND b.rnk < a.rnk
  GROUP BY 1, 2
)
SELECT r.vid AS vec_id, r.label,
       ROUND(r.cos_c, 6) AS cos_centroid,
       ROUND(p.max_prior, 6) AS max_prior_cos,
       CASE WHEN COALESCE(p.max_prior, -1) >= {_COS_T} THEN 'drop'
            ELSE 'keep' END AS action
FROM ranked r LEFT JOIN prior p ON p.label = r.label AND p.vid = r.vid
"""


# ------------------------------------------------------------- D61b
# semantic dedup, LSH-bucketed scale tier (shares the exact oracle's
# action/centroid columns — the dedup_embedding_lsh pattern)
def dedup_semantic_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.semantic_dedup_lsh(_sem_corpus(spark, sf_dir), _COS_T)


# ORACLE VALIDITY CAVEAT: this oracle is the EXACT tier's output
# projected, so LSH-tier equality is guaranteed only because
# _sem_corpus's near-dups are exact 2x scalings — identical unit
# vectors, hence identical hyperplane sketches, hence recall is
# deterministically 1.0 (not probabilistically ~1-1.6e-7 as it would
# be for a genuinely-near non-identical >=0.99 pair). If _sem_corpus
# ever grows non-identical near pairs, this oracle becomes flaky —
# tests/test_dedup.py::test_sem_corpus_near_dups_are_exact_scalings
# asserts the corpus construction so that change cannot land silently.
DEDUP_SEMANTIC_LSH_ORACLE = f"""
SELECT vec_id, label, cos_centroid, action
FROM ({DEDUP_SEMANTIC_ORACLE})
"""


# ------------------------------------------------------------- D62
# incremental span dedup: the arriving batch against the landed
# corpus's shingle index — history documents never re-read
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History = the landed documents table; batch = the exact + near
    copies (ids offset ABOVE every history id, so the full-corpus
    recompute and the incremental pass agree — the registry oracle is
    exactly that equality: D59's full SQL filtered to batch ids)."""
    hist = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = hist.select(
        (F.col("doc_id") + _EXACT_OFF).alias("doc_id"), "text"
    ).unionByName(
        hist.select(
            (F.col("doc_id") + _NEAR_OFF).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_NEAR_SUFFIX)).alias("text"),
        )
    )
    index = D.span_shingle_index(_spread(spark, hist), window=_SPAN_W)
    return D.span_dedup_incremental(
        _spread(spark, batch), index, window=_SPAN_W
    )


DEDUP_SUBSTRING_INCR_ORACLE = f"""
SELECT * FROM ({DEDUP_SUBSTRING_ORACLE}) WHERE doc_id >= {_EXACT_OFF}
"""


# ------------------------------------------------------------- D63
# HTML -> text extraction (the web-corpus ingest step). The harness
# corpus is plain text, so the plan synthesizes a deterministic HTML
# wrapper inline (the D7 BMP-synthesis precedent) — identically in the
# Spark plan and the oracle — and the extraction must recover the
# original text exactly (plus the anchor text), which makes the oracle
# a round-trip proof, not a golden file.
def _html_wrap_spark(docs: DataFrame) -> DataFrame:
    marked = F.replace(F.col("text"), F.lit(" data "), F.lit(" <b>data</b> "))
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><nav>home | about | contact</nav>"),
        F.lit("<script>var x = 1 &amp;&amp; 2;</script><p>"),
        marked,
        F.lit('</p><a href="https://example.org/'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">more &amp; more</a><footer>(c) example corp</footer>'),
        F.lit("</body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    return TX.html_extract(_html_wrap_spark(docs))


TEXT_HTML_EXTRACT_ORACLE = """
WITH wrapped AS (
  SELECT doc_id,
         '<html><head><title>doc ' || doc_id ||
         '</title></head><body><nav>home | about | contact</nav>' ||
         '<script>var x = 1 &amp;&amp; 2;</script><p>' ||
         replace(text, ' data ', ' <b>data</b> ') ||
         '</p><a href="https://example.org/' || (doc_id % 7) ||
         '">more &amp; more</a><footer>(c) example corp</footer>' ||
         '</body></html>' AS html
  FROM documents
),
no_blocks AS (
  SELECT doc_id, html,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html,
                       '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<header[^>]*>.*?</header>', ' ', 'g'),
                 '(?s)<head[^>]*>.*?</head>', ' ', 'g'),
               '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
             '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
           '(?s)<aside[^>]*>.*?</aside>', ' ', 'g') AS nb
  FROM wrapped
),
decoded AS (
  SELECT doc_id, html,
         replace(replace(replace(replace(replace(replace(
           regexp_replace(nb, '<[^>]*>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS stripped
  FROM no_blocks
)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       CAST(len(string_split(html, '<a ')) - 1 AS BIGINT) AS n_links,
       trim(regexp_replace(stripped, '\\s+', ' ', 'g')) AS body_text
FROM decoded
"""


# ------------------------------------------------------------- D64
# product-quantization ANN (asymmetric distance scoring): m integer
# sub-vector codebooks learned with the D34 k-means discipline, so the
# ENTIRE pipeline — codebook learning, encoding, ADC scoring — replays
# as an unrolled SQL oracle. The rung between D22's int8 scalar
# quantization and 100 TB memory budgets (8 bytes of codes per vector
# here vs 64 int8 components); D13's IVF composes upstream at scale.
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.pq_topk(queries, emb, k=_K)


def _pq_oracle_sql(
    k: int = 5,
    m: int = 8,
    codebook_k: int = 16,
    iters: int = 2,
    scale: int = 1000,
    n_queries: int = 10,
) -> str:
    sqd = (
        "list_sum(list_transform(generate_series(1, len(sv)),"
        " i -> (sv[i] - c[i]) * (sv[i] - c[i])))"
    )
    assign = """
a{n} AS (
  SELECT vec_id, j, sv, cid FROM (
    SELECT s.vec_id, s.j, s.sv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY {sqd}, c.cid
           ) AS rn
    FROM subs s JOIN c{p} c ON s.j = c.j
  ) WHERE rn = 1
)"""
    update = """
c{n} AS (
  SELECT j, cid, list(mv ORDER BY pos) AS c FROM (
    SELECT j, cid, i AS pos,
           CAST(FLOOR(SUM(sv[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mv
    FROM a{n}, UNNEST(generate_series(1, len(sv))) AS t(i)
    GROUP BY j, cid, i
  ) GROUP BY j, cid
)"""
    rounds = []
    for it in range(1, iters + 1):
        rounds.append(assign.format(n=it, p=it - 1, sqd=sqd))
        rounds.append(update.format(n=it))
    final = iters + 1
    rounds.append(assign.format(n=final, p=iters, sqd=sqd))
    return f"""
WITH vint AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
           AS v
  FROM embeddings
),
subs AS (
  SELECT vec_id, j,
         list_transform(generate_series(1, ds), i -> v[j * ds + i]) AS sv
  FROM (SELECT vec_id, v, CAST(len(v) // {m} AS INT) AS ds FROM vint),
       UNNEST(generate_series(0, {m - 1})) AS t(j)
),
seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {codebook_k}),
c0 AS (
  SELECT s.j, CAST(s.vec_id AS BIGINT) AS cid, s.sv AS c
  FROM subs s JOIN seeds USING (vec_id)
),
{", ".join(rounds)},
codes AS (SELECT vec_id, j, cid FROM a{final}),
qtab AS (
  SELECT q.vec_id AS query_id, c.j, c.cid, {sqd} AS qd
  FROM (SELECT vec_id, j, sv FROM subs WHERE vec_id < {n_queries}) q
  JOIN c{iters} c ON q.j = c.j
),
scored AS (
  SELECT query_id, vec_id, CAST(SUM(qd) AS BIGINT) AS adist
  FROM codes JOIN qtab USING (j, cid)
  WHERE query_id <> vec_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adist, rank FROM (
  SELECT query_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


ANN_PQ_ORACLE = _pq_oracle_sql()


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D65 (r12): the composed IVF->PQ two-stage index — D13's
    deterministic coarse quantizer prunes to n_probe cells per query,
    D64's ADC machinery rescores only those cells' codes
    (operators/similarity.py:ivf_pq_topk). The oracle is the literal
    composition of the two standalone oracles: the float-cosine
    argmax assignment/probing from ANN_IVF_ORACLE feeding a candidate
    restriction into ANN_PQ's all-integer codebook/ADC replay."""
    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.ivf_pq_topk(queries, emb, k=_K)


def _ivf_pq_oracle_sql(
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    codebook_k: int = 16,
    iters: int = 2,
    scale: int = 1000,
    n_queries: int = 10,
) -> str:
    sqd = (
        "list_sum(list_transform(generate_series(1, len(sv)),"
        " i -> (sv[i] - c[i]) * (sv[i] - c[i])))"
    )
    assign = """
a{n} AS (
  SELECT vec_id, j, sv, cid FROM (
    SELECT s.vec_id, s.j, s.sv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY {sqd}, c.cid
           ) AS rn
    FROM subs s JOIN c{p} c ON s.j = c.j
  ) WHERE rn = 1
)"""
    update = """
c{n} AS (
  SELECT j, cid, list(mv ORDER BY pos) AS c FROM (
    SELECT j, cid, i AS pos,
           CAST(FLOOR(SUM(sv[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mv
    FROM a{n}, UNNEST(generate_series(1, len(sv))) AS t(i)
    GROUP BY j, cid, i
  ) GROUP BY j, cid
)"""
    rounds = []
    for it in range(1, iters + 1):
        rounds.append(assign.format(n=it, p=it - 1, sqd=sqd))
        rounds.append(update.format(n=it))
    final = iters + 1
    rounds.append(assign.format(n=final, p=iters, sqd=sqd))
    return f"""
WITH vint AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
           AS v
  FROM embeddings
),
subs AS (
  SELECT vec_id, j,
         list_transform(generate_series(1, ds), i -> v[j * ds + i]) AS sv
  FROM (SELECT vec_id, v, CAST(len(v) // {m} AS INT) AS ds FROM vint),
       UNNEST(generate_series(0, {m - 1})) AS t(j)
),
seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {codebook_k}),
c0 AS (
  SELECT s.j, CAST(s.vec_id AS BIGINT) AS cid, s.sv AS c
  FROM subs s JOIN seeds USING (vec_id)
),
{", ".join(rounds)},
codes AS (SELECT vec_id, j, cid FROM a{final}),
qtab AS (
  SELECT q.vec_id AS query_id, c.j, c.cid, {sqd} AS qd
  FROM (SELECT vec_id, j, sv FROM subs WHERE vec_id < {n_queries}) q
  JOIN c{iters} c ON q.j = c.j
),
ivf_seeds AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids}
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS ccid,
         embedding AS cv, {_norm_sql('embedding')} AS cn
  FROM ivf_seeds
),
corpus AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS vn FROM embeddings
),
assigned AS (
  SELECT vec_id, ccid FROM (
    SELECT c.vec_id, ct.ccid,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY {_DOT_SQL.format(a='c.embedding', b='ct.cv')}
                      / (c.vn * ct.cn) DESC, ct.ccid DESC) AS rn
    FROM corpus c CROSS JOIN cents ct
  ) WHERE rn = 1
),
iprobes AS (
  SELECT query_id, ccid FROM (
    SELECT q.vec_id AS query_id, ct.ccid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DOT_SQL.format(a='q.embedding', b='ct.cv')}
                      / (q.vn * ct.cn) DESC, ct.ccid DESC) AS rn
    FROM corpus q CROSS JOIN cents ct WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id FROM iprobes p JOIN assigned a USING (ccid)
),
scored AS (
  SELECT cand.query_id, cand.vec_id, CAST(SUM(qd) AS BIGINT) AS adist
  FROM cand
  JOIN codes co ON co.vec_id = cand.vec_id
  JOIN qtab qt ON qt.query_id = cand.query_id
             AND qt.j = co.j AND qt.cid = co.cid
  WHERE cand.query_id <> cand.vec_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adist, rank FROM (
  SELECT query_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


ANN_IVF_PQ_ORACLE = _ivf_pq_oracle_sql()
