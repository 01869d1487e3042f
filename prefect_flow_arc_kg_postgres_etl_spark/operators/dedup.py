"""Deduplication operators for large-scale training-data pipelines.

Four tiers, cheapest first — the standard web-corpus dedup ladder:
  exact (content-hash groupBy)  ->  MinHash+LSH (near-dup candidates
  without the quadratic pair join)  ->  SimHash (hamming-space)  ->
  exact n-gram Jaccard (the precise-but-quadratic verifier one runs on
  LSH candidates, never the full corpus, at scale).

Everything is built from JVM-side expressions: xxhash64 for MinHash
(scan-side, no UDF), explode + single hash-agg shuffles. Nothing here
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.functions.text import (
    fingerprint,
    words,
)
from prefect_flow_arc_kg_postgres_etl_spark.session import MISS, AppLRU, listing_stamp
from prefect_flow_arc_kg_postgres_etl_spark.sources.store import read_parquet


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on the normalized-content fingerprint: one hash-agg
    shuffle on the (uniform) fingerprint; the canonical survivor is the
    smallest id. Returns (fingerprint, keep_id, n_copies)."""
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
    )


def doc_ngrams(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-grams per doc: (id, gram) with gram = xxhash64 of
    the token slice.

    Hashed gram identity, not gram strings: Jaccard needs only set
    membership, and 8-byte longs shuffle/join ~5x cheaper than built
    gram strings (which also cost an interpreted array_join per gram to
    construct). Tokens never contain whitespace (words() splits on it),
    so slice identity == joined-string identity; a 64-bit collision on a
    corpus would need ~2^32 distinct grams to be likely.

    Dedup is PER-DOCUMENT, so it's ``array_distinct`` on the per-doc
    hash array before the explode — scan-side in codegen, ZERO shuffle.
    (A global ``.distinct()`` here would shuffle every gram row; the
    verify pipeline references this subtree three times, so that was
    three full gram shuffles per run.)"""
    toks, hashes = _gram_expr(docs, id_col, text_col, n)
    return toks.select("id", F.explode(F.array_distinct(hashes)).alias("gram"))


def doc_ngram_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, n_grams = |distinct grams|): groupBy over the scan-side-
    distinct gram stream. Deliberately NOT a scan-side
    size(array_distinct(...)) projection: that plan's tiny size estimate
    makes the downstream per-doc joins broadcast it, and each broadcast
    re-executes the whole tokenize+hash subtree (measured 2.7x slower
    than this one-shuffle aggregate at sf0.1, A/B'd in-session)."""
    return (
        doc_ngrams(docs, id_col, text_col, n)
        .groupBy("id")
        .agg(F.count("*").alias("n_grams"))
    )


def _gram_expr(docs: DataFrame, id_col: str, text_col: str, n: int):
    """(tokens df, per-doc gram-hash array COLUMN): one xxhash64 per
    word n-gram, hashed straight off the sliced token array — no gram
    strings are ever built.

    Returned as an un-projected Column on purpose: callers explode the
    EXPRESSION directly (``explode(hashes)``), never a projected alias
    of it. Exploding a projected column triggers
    InferFiltersFromGenerate + projection collapse, which inlines this
    whole tokenize+hash expression into a pre-Generate Filter and
    re-evaluates it ~3x per row (measured 8x slowdown on the minhash
    signature build)."""
    toks = docs.select(F.col(id_col).alias("id"), words(F.lower(F.col(text_col))).alias("w"))
    idx = F.sequence(F.lit(1), F.size("w") - (n - 1))
    # Gram identity = big-endian first 8 bytes of md5 of the
    # space-joined slice (r11, was xxhash64 of the token array):
    # bit-identical to DuckDB's ('0x'||substring(md5(g),1,16))::UBIGINT,
    # which lets minhash signatures (and everything derived from them)
    # carry a FULL cross-engine oracle. Tokens never contain whitespace
    # (words() splits on it), so the joined string is a bijection of
    # the slice. Downstream cost is unchanged — the shuffle still
    # carries 8-byte longs; md5-vs-xxhash64 only moves scan-side cost.
    hashes = F.when(
        F.size("w") >= n,
        F.transform(
            idx,
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice("w", i, n))), 1, 16),
                16,
                -10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return toks, hashes


def _gram_hashes(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, g): exploded gram hashes, duplicates kept (MinHash's min is
    duplicate-insensitive, so no distinct is spent here)."""
    toks, hashes = _gram_expr(docs, id_col, text_col, n)
    return toks.select("id", F.explode(hashes).alias("g"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >=1 gram.

    Quadratic in gram frequency — at 100 TB this runs on the LSH
    candidate set (minhash_lsh_candidates), not the raw corpus; exposed
    directly for correctness checking at small SF.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.
    """
    grams = doc_ngrams(docs, id_col, text_col, n)
    sizes = doc_ngram_counts(docs, id_col, text_col, n)
    a = grams.select(F.col("id").alias("doc_a"), "gram")
    b = grams.select(F.col("id").alias("doc_b"), "gram")
    common = (
        a.join(b, on="gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("n_grams").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# Version of the signature derivation (gram hash + permutation + band
# key formulas). Persisted dedup indexes embed it in their path
# fingerprint: any change here MUST bump it, or probes against an
# existing index silently return near-empty candidate sets.
# v3 = md5 gram base + long-cast g2 seed (r11).
SIGNATURE_VERSION = 3


def minhash_signatures(
    docs: DataFrame,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """k-permutation MinHash over word n-gram shingles.

    Each permutation is xxhash64(seed_i, gram) — computed scan-side in
    codegen, k min-aggregates in ONE groupBy (map-side combine => the
    shuffle carries one row per doc). Returns (id, sig array<long>).
    """
    # k permutations simulated from TWO base hashes per gram
    # (Kirsch–Mitzenmacher double hashing): perm_i = h1 XOR rotl(h2, i).
    # Each perm_i is a uniform bijection of gram space applied
    # identically on both sides of a comparison, so per-permutation
    # min-agreement stays an unbiased Jaccard estimator; cross-i
    # correlation only widens the estimator variance slightly. All agg
    # ops are bitwise (shift/or/xor) — ANSI-safe. The second hash is
    # MATERIALIZED as a projection column first: aggregate expressions
    # get no common-subexpression elimination across columns, so an
    # inline xxhash64 would be re-evaluated k times per gram.
    #
    # The k min-aggregates are generated as ONE SQL expression string
    # parsed JVM-side: building them as nested Column objects costs
    # hundreds of py4j round-trips (~1 s of driver time per call) for
    # the exact same plan.
    # The seed literal is CAST TO LONG so both xxhash64 rounds take the
    # fixed-width hashLong path — the closed form the DuckDB oracle
    # replays (an INT literal would route through the 4-byte tail
    # path, a different formula). Any change to signature derivation
    # MUST bump SIGNATURE_VERSION below: persisted dedup indexes key
    # their fingerprint on it, and a stale index's band keys silently
    # match nothing (caught twice in r11 by the oracle gate).
    grams = _gram_hashes(docs, id_col, text_col, n).withColumn(
        "g2", F.xxhash64(F.lit(-1).cast("long"), F.col("g"))
    )

    def rotl(c: str, i: int) -> str:
        if i == 0:
            return c
        return f"(shiftleft({c}, {i}) | shiftrightunsigned({c}, {64 - i}))"

    mins = ", ".join(f"min(g ^ {rotl('g2', i % 64)})" for i in range(k))
    return grams.groupBy("id").agg(F.expr(f"array({mins}) AS sig"))


def minhash_lsh_candidates(
    docs: DataFrame,
    k: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    include_estimate: bool = True,
    materialize_signatures: bool = False,
) -> DataFrame:
    """LSH banding over MinHash signatures: docs agreeing on ALL rows of
    any band become a candidate pair. Join key is (band, xxhash64(band
    slice)) — uniformly distributed by construction, so the self-join
    can't skew. Returns (doc_a, doc_b, est_jaccard) where est_jaccard is
    the signature agreement fraction.

    ``include_estimate=False`` returns (doc_a, doc_b) only and SKIPS the
    two signature re-joins that compute the agreement fraction. Spark
    re-executes each occurrence of the signature subtree (no cross-
    branch reuse without materialization), so every sig reference costs
    a full corpus scan + gram build + k-min aggregation — callers that
    verify candidates exactly (lsh_verified_pairs) never read the
    estimate and save two of the three corpus passes by opting out.

    ``materialize_signatures=True`` computes the signature table ONCE
    (eager localCheckpoint) and reuses it across the banding + both
    estimate joins — on the estimate path that turns three corpus
    scans into one, which is the right trade at 100 TB where a corpus
    scan dominates everything (on a real cluster, land the signatures
    to reliable storage instead: localCheckpoint truncates lineage, so
    a lost executor cannot recompute its blocks). Default off: the
    pure-recompute plan is fully fault-tolerant and fastest at small
    scale."""
    r = k // bands
    sig = minhash_signatures(docs, k, id_col, text_col, n)
    if materialize_signatures:
        sig = sig.localCheckpoint(eager=True)
    banded = _band_keys(sig, bands, r)
    left = banded.select(F.col("id").alias("doc_a"), "band", "bh")
    right = banded.select(F.col("id").alias("doc_b"), "band", "bh")
    # Dedup candidate pairs on the id pair ONLY (a doc pair can collide
    # in several bands) — signatures re-join afterwards from the small
    # one-row-per-doc table, keeping the wide arrays off the pair shuffle.
    pairs = (
        left.join(right, on=["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not include_estimate:
        return pairs
    sig_a = sig.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree.cast("double") / F.lit(float(k)), 6).alias("est_jaccard"),
        )
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash: per token, a 64-bit hash -> each bit votes +/-1;
    the fingerprint is the sign vector. 64 sum-aggregates in ONE
    groupBy (map-side combine, one row per doc on the shuffle).
    Returns (id, simhash string of 64 bits, n_tokens).

    The token hash is the FIRST 8 BYTES OF md5 (big-endian), not
    xxhash64 (r11): md5 is computable bit-identically in DuckDB
    (('0x' || substring(md5(tok),1,16))::UBIGINT equals Spark's
    conv(substring(md5(tok),1,16),16,-10) reinterpreted unsigned), so
    the whole operator carries a FULL cross-engine oracle
    (DEDUP_SIMHASH_ORACLE) instead of the rows-only tier it launched
    with. md5's bits are uniform, which is the only property SimHash
    needs; the hash swap costs ~2x per token on a pass that is
    explode-dominated anyway."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(words(F.lower(F.col(text_col)))).alias("tok")
    )
    # Token hash materialized ONCE as a projection column (aggregate
    # expressions get no cross-column CSE — an inline hash would be
    # re-evaluated 64 times per token); the 64 bit-votes and the bit
    # string are generated as SQL strings parsed JVM-side (two py4j
    # calls instead of hundreds, same plan).
    hashed = toks.selectExpr(
        "id",
        "cast(conv(substring(md5(tok), 1, 16), 16, -10) as bigint) AS h",
    )
    votes = ", ".join(
        f"sum(CASE WHEN (h & shiftleft(CAST(1 AS BIGINT), {b})) != 0"
        " THEN 1 ELSE -1 END)"
        for b in range(64)
    )
    agg = hashed.groupBy("id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_tokens"),
        F.expr(f"array({votes}) AS votes"),
    )
    bits = "concat(" + ", ".join(
        f"CASE WHEN votes[{b}] > 0 THEN '1' ELSE '0' END"
        for b in range(63, -1, -1)
    ) + ")"
    return agg.selectExpr("id", f"{bits} AS simhash", "n_tokens")


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Direct pairwise form (correctness tier). The scale path buckets both
    sides with random-hyperplane LSH first (similarity.lsh_bucket) and
    only scores within buckets. Dots/norms are dim-unrolled SQL
    arithmetic (functions.vectors.dot_sql) — bit-identical to the fold
    form and the DuckDB oracle, but whole-stage-codegen fast."""
    from prefect_flow_arc_kg_postgres_etl_spark.functions.vectors import (
        dot_sql,
        norm_sql,
    )

    # Norms computed once per row pre-join; per pair only the dot
    # remains (identical arithmetic to cosine(), so oracle-stable).
    a = vectors.selectExpr(
        f"{id_col} AS vec_a", f"{vec_col} AS ea", f"{norm_sql(vec_col, dim)} AS na"
    )
    b = vectors.selectExpr(
        f"{id_col} AS vec_b", f"{vec_col} AS eb", f"{norm_sql(vec_col, dim)} AS nb"
    )
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.selectExpr(
            "vec_a", "vec_b", f"{dot_sql('ea', 'eb', dim)} / (na * nb) AS cosine"
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def embedding_near_dups_lsh(
    vectors: DataFrame,
    threshold: float,
    bands: int = 24,
    planes_per_band: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup at scale: banded hyperplane LSH candidate
    generation followed by EXACT cosine verification of candidates only
    — never the all-pairs cross join of ``embedding_near_dups``.

    At (bands=24, r=16) a pair at cosine 0.99 is missed with prob
    ~1.6e-7, while an unrelated (near-orthogonal) pair is a false
    candidate with prob 24/2^16 ~ 4e-4 — two orders of magnitude fewer
    false candidates than the old (12, 8) setting for the same miss
    bound (the plane projections are a vectorized matmul, so the extra
    planes are effectively free). The output equals the quadratic
    tier's — that equality is this operator's oracle (same pattern as
    lsh_verified_pairs vs ngram_jaccard_pairs). Shuffles: one
    explode+self-join on uniform (band, bucket) keys, a distinct on the
    id pair, two joins back to the one-row-per-id vector table.
    Per-bucket fan-in is |corpus|/2^r per band — sub-quadratic at
    100 TB."""
    from prefect_flow_arc_kg_postgres_etl_spark.functions.vectors import (
        dot_sql,
        norm_sql,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        lsh_band_buckets,
    )

    buckets = lsh_band_buckets(
        vectors, bands, planes_per_band, dim, id_col, vec_col
    )
    # Both join sides reference the bucket table, so without
    # materialization the bands x planes Arrow matmul runs TWICE over
    # the corpus (measured at sf0.1: 1.39 s -> 1.15 s steady-state,
    # 8.1 s -> 2.2 s cold with one eager localCheckpoint; cluster
    # note as in lsh_verified_pairs — land buckets to storage at
    # 100 TB instead).
    buckets = buckets.localCheckpoint(eager=True)
    left = buckets.select(F.col("id").alias("vec_a"), "band", "bucket")
    right = buckets.select(F.col("id").alias("vec_b"), "band", "bucket")
    # Pair dedup BEFORE the vector re-join: a pair colliding in several
    # bands must be scored once, and the distinct keeps the wide vector
    # arrays off the pair shuffle (same rationale as MinHash banding).
    cands = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = vectors.selectExpr(
        f"{id_col} AS vec_a", f"{vec_col} AS ea", f"{norm_sql(vec_col, dim)} AS na"
    )
    vb = vectors.selectExpr(
        f"{id_col} AS vec_b", f"{vec_col} AS eb", f"{norm_sql(vec_col, dim)} AS nb"
    )
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .selectExpr(
            "vec_a", "vec_b", f"{dot_sql('ea', 'eb', dim)} / (na * nb) AS cosine"
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def lsh_verified_pairs(
    docs: DataFrame,
    threshold: float,
    k: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The production dedup pipeline: MinHash-LSH candidate generation
    followed by EXACT n-gram Jaccard verification of the candidates
    only — never the quadratic all-pairs join.

    The verify leg joins candidate pairs to the gram table twice
    ((doc_a) then (doc_b, gram)), so its cost is |candidates| x grams
    — sub-linear in corpus size because LSH bounds the candidates. At
    the LSH parameters used, a pair at the threshold similarity is
    missed with probability < 1e-3 (and a 0.95-similar near-dup with
    < 1e-8), so the output equals the quadratic tier's
    (ngram_jaccard_pairs) — the equality is this operator's oracle.
    Returns (doc_a, doc_b, jaccard >= threshold).
    """
    cands = minhash_lsh_candidates(
        docs, k, bands, id_col, text_col, n, include_estimate=False
    )
    grams = doc_ngrams(docs, id_col, text_col, n)
    # The gram subtree (tokenize + hash + per-doc distinct + explode) is
    # referenced THREE times below (both verify legs + the size table);
    # without materialization Spark re-executes it per reference — three
    # corpus scans. One eager localCheckpoint turns those into one scan
    # + two cheap re-reads, and the size table derives from the
    # materialized grams instead of a fourth corpus pass. Measured at
    # sf0.1: 2.72 s -> 2.05 s steady-state, 10.7 s -> 4.6 s cold. Same
    # cluster caveat as materialize_signatures: at 100 TB land the gram
    # table to reliable storage instead (localCheckpoint blocks are lost
    # with their executor).
    grams = grams.localCheckpoint(eager=True)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    return _jaccard_verify(cands, grams, sizes, threshold)


def _jaccard_verify(
    cands: DataFrame,
    grams: DataFrame,
    sizes: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard over a CANDIDATE pair set — the shared
    verify tier of lsh_verified_pairs and the incremental ingest probe
    (one implementation so the two paths can never diverge on the
    similarity arithmetic). cands: (doc_a, doc_b); grams: (id, gram);
    sizes: (id, n_grams). Cost is |candidates| x grams — never the
    corpus self-join."""
    ga = grams.select(F.col("id").alias("doc_a"), "gram")
    gb = grams.select(F.col("id").alias("doc_b"), "gram")
    common = (
        cands.join(ga, on="doc_a")
        .join(gb, on=["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("n_grams").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def cluster_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Canonicalize duplicate PAIRS into CLUSTERS: connected components
    over the dup-pair graph by iterative min-label propagation — the
    step between pair detection (lsh_verified_pairs) and survivorship
    (keep one doc per component). Returns (node, component) where
    component = the smallest doc id reachable through dup edges.

    Each iteration is ONE hash shuffle of the edge list joined to the
    current labels (Pregel-lite); labels decrease monotonically, so
    convergence is detected by an exact bigint label-sum fixpoint (one
    scalar agg per iteration — no row-level diff join). Near-dup
    graphs are unions of near-cliques, so the diameter (= iteration
    count) is small regardless of corpus size; ``max_iter`` bounds the
    pathological chain case. ``localCheckpoint`` truncates the
    per-iteration lineage — on a cluster prefer ``checkpoint`` with a
    reliable dir if executor loss during the loop must be survivable.
    """
    # Materialize the edge list ONCE: the pair generator upstream is the
    # whole LSH-verify pipeline, and without this every propagation
    # iteration would re-run it (measured 3x wall at sf0.01).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).cast("long").alias("component")
    ).localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("component")).first()[0]
    converged = False
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("pnode"))
            .agg(F.min("component").alias("pcomp"))
        )
        labels = (
            labels.join(prop, labels.node == prop.pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("pcomp", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("component")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # Unconverged labels look valid but split one component across
        # several "canonical" ids — survivorship would then keep
        # multiple copies of the same dup cluster with no signal. Fail
        # loudly instead; the caller raises max_iter (diameter bound).
        raise RuntimeError(
            f"cluster_components did not converge in {max_iter} "
            "iterations — raise max_iter (graph diameter exceeds it)"
        )
    return labels


def edit_verified_pairs(
    docs: DataFrame,
    jaccard_threshold: float,
    max_edits: int,
    prefix_chars: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance refinement of the verified near-dup pairs: keep
    only pairs whose text prefixes are within ``max_edits`` Levenshtein
    edits — the secondary verifier that separates true revisions
    (small, localized edits) from bag-of-words lookalikes (same gram
    multiset, different arrangement), which Jaccard alone cannot tell
    apart.

    Scale shape: Levenshtein is O(len_a x len_b) per pair, so it can
    NEVER run corpus x corpus — it runs on the (LSH-bounded, already
    Jaccard-verified) pair set only, and on a fixed ``prefix_chars``
    prefix so per-pair cost is a constant, not corpus-dependent. The
    text attach joins ship that bounded prefix, never full documents.
    ``F.levenshtein``'s threshold form stops each DP early once
    ``max_edits`` is exceeded (returns -1), so the common FAR-APART
    case costs O(max_edits x prefix) instead of O(prefix^2). All
    JVM-side; the result is deterministic in both engines, which keeps
    the composed pipeline SQL-oracle-checkable.

    Returns (doc_a, doc_b, jaccard, edit_distance)."""
    pairs = lsh_verified_pairs(
        docs, jaccard_threshold, id_col=id_col, text_col=text_col
    )
    prefix = F.substring(F.col(text_col), 1, prefix_chars)
    ta = docs.select(F.col(id_col).alias("doc_a"), prefix.alias("_ta"))
    tb = docs.select(F.col(id_col).alias("doc_b"), prefix.alias("_tb"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "edit_distance",
            F.levenshtein("_ta", "_tb", max_edits).cast("bigint"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "jaccard", "edit_distance")
    )


def _band_keys(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bh) band-bucket keys from a (id, sig) signature table
    — THE banding expression, shared by minhash_lsh_candidates and the
    incremental probe (one implementation so the batch and incremental
    candidate paths can never desynchronize on seed/band derivation).
    Generated as one inline() string, JVM-parsed; sig[i] is 0-based —
    identical to element_at(sig, i+1)."""
    structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bh)".format(
            b=b, cols=", ".join(f"sig[{b * r + j}]" for j in range(r))
        )
        for b in range(bands)
    )
    return sig.selectExpr("id", f"inline(array({structs}))")


def incremental_dup_pairs(
    history: DataFrame,
    new: DataFrame,
    threshold: float,
    k: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Dedup of NEW ARRIVALS against an existing corpus — the actual
    100 TB ingest workflow: history x history pairs are NEVER generated
    (the historical corpus was already deduped when it landed), so each
    ingest batch pays |new| band-key probes against the signature index
    plus |new|^2-bounded new-vs-new banding — not a re-pairing of the
    full corpus. In production the history side's signatures and grams
    are PERSISTED (built once at landing, the MinHash analogue of a
    search index; here they are derived in-plan from the history
    frame); the band join against them is index lookup, not recompute.

    Candidates = (new x history ∪ new x new) band collisions,
    normalized to doc_a < doc_b; verification is the exact n-gram
    Jaccard of candidates only, reusing the materialized-gram shape of
    lsh_verified_pairs. Output pairs each involve >= 1 new doc — the
    quadratic ground truth restricted to those pairs is the oracle."""
    r = k // bands
    sig_new = minhash_signatures(new, k, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    sig_hist = minhash_signatures(history, k, id_col, text_col, n)
    nb = _band_keys(sig_new, bands, r)
    ab = _band_keys(sig_hist, bands, r).unionByName(nb)
    cands = (
        nb.select(F.col("id").alias("new_id"), "band", "bh")
        .join(ab.select(F.col("id").alias("other_id"), "band", "bh"), ["band", "bh"])
        .filter(F.col("new_id") != F.col("other_id"))
        .select(
            F.least("new_id", "other_id").alias("doc_a"),
            F.greatest("new_id", "other_id").alias("doc_b"),
        )
        .distinct()
    )
    corpus = history.unionByName(new)
    grams = doc_ngrams(corpus, id_col, text_col, n).localCheckpoint(eager=True)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    return _jaccard_verify(cands, grams, sizes, threshold)


def build_dedup_index(
    history: DataFrame,
    path: str,
    k: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    partitions: int | None = None,
) -> None:
    """Persist the dedup ingest index: the history corpus's band keys
    and gram sets, laid out for PARTITION-PRUNED probes. Built ONCE at
    landing; every subsequent ingest batch probes the index instead of
    re-tokenizing and re-hashing the whole corpus (the linear-in-history
    cost incremental_dup_pairs pays per call).

    Layout:
      band_keys/  (id, band, bh) partitioned by bh_p = pmod(bh, P) —
                  a probe touches only the partitions its batch's band
                  hashes fall in;
      grams/      (id, gram) partitioned by id_p = pmod(xxhash64(id), P)
                  — verification fetches gram sets for CANDIDATE history
                  docs only, pruned to their id partitions.

    P scales with corpus size at (re)build time: one ``count()`` of the
    history, then the next power of two >= docs / 65 536, clamped to
    [1, 4096]. An index document of 80-140 words takes about 1 KB on
    disk (about 140 B of band keys and 870 B of gram hashes), so a
    partition holds about 64 MB. Partition bytes stay
    bounded, so probe cost tracks the BATCH's partition coverage, not
    the corpus: the probe is sub-linear in history for any batch that
    doesn't touch every partition, and the per-partition read is index
    rows (16 longs/doc + gram hashes), not corpus text. A small corpus
    gets one partition, whose probe lists one directory instead of
    fanning a listing job out over empty ones. ``partitions`` overrides
    the derived P (tests pin it to exercise pruning); either way P is
    recorded in ``_meta``, which the probe adopts."""
    if partitions is None:
        partitions = _index_partitions(history.count())
    r = k // bands
    sig = minhash_signatures(history, k, id_col, text_col, n)
    # repartition ON the partition column before partitionBy: each
    # partition directory is written by exactly one task -> exactly one
    # file (a raw partitionBy writes every open partition from every
    # task: P x tasks tiny files, which at P=3200 measured 7x slower to
    # build and 4x slower to probe than this layout). Sorting within
    # partitions by the probe key keeps row-group stats tight for
    # pushed-down residual filters.
    (
        _band_keys(sig, bands, r)
        .withColumn("bh_p", F.pmod(F.col("bh"), F.lit(partitions)))
        .repartition(F.col("bh_p"))
        .sortWithinPartitions("bh")
        .write.mode("overwrite")
        .partitionBy("bh_p")
        .parquet(f"{path}/band_keys")
    )
    (
        doc_ngrams(history, id_col, text_col, n)
        .withColumn("id_p", F.pmod(F.xxhash64("id"), F.lit(partitions)))
        .repartition(F.col("id_p"))
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .partitionBy("id_p")
        .parquet(f"{path}/grams")
    )
    # The probe derives partition ids and band keys from (k, bands, n,
    # partitions); a probe called with DIFFERENT values would read the
    # wrong partitions and silently drop candidate pairs. Persist the
    # build parameters alongside the index so probes ADOPT them instead
    # of trusting their caller's defaults. Written through Spark (one
    # tiny file) so the index works on any filesystem the index itself
    # lives on, not just the driver's local disk; the one-row frame is
    # JVM-only (a createDataFrame of Python rows starts a Python worker).
    history.sparkSession.range(1, numPartitions=1).select(
        *[
            F.lit(int(v)).alias(c)
            for c, v in (
                ("k", k), ("bands", bands), ("n", n), ("partitions", partitions)
            )
        ]
    ).write.mode("overwrite").json(f"{path}/_meta")


# Index sizing: documents per partition and the cap on P. Measured on
# 4 cores with 80-140-word documents: a document takes about 1 KB of
# index on disk (140 B band keys + 870 B gram hashes), so a partition
# is about 64 MB. With 50k and 200k history documents, a warm probe of
# a 10- or 200-document batch costs the same CPU at P=1 and P=4 and
# 0.5-1.5 s more at P=64 (the listing and file opens of 64 partitions
# outweigh what pruning saves); at 200k documents P=1 builds 15 %
# slower than P=4 (one writer task). Not measured above 200k documents.
_DOCS_PER_PARTITION = 65_536
_MAX_PARTITIONS = 4096


def _index_partitions(docs: int) -> int:
    """The next power of two >= docs / _DOCS_PER_PARTITION, clamped to
    [1, _MAX_PARTITIONS]."""
    p = 1
    while p * _DOCS_PER_PARTITION < docs and p < _MAX_PARTITIONS:
        p *= 2
    return p


# Per-process cache of persisted index _meta: (application, path),
# stamped with session.listing_stamp of the _meta dir -> collected rows
# (or None for a pre-_meta index). The _meta is four ints of BUILD-TIME
# configuration — a catalog lookup, not query data — but reading it
# through spark.read.json costs a collect (one Spark job) per probe
# call (guide §1: don't pay per-call for what cannot change under the
# key); the read passes _META_SCHEMA, so a miss starts no
# schema-inference job besides. A rebuilt index rewrites _meta with new
# part-file names, so its stamp changes even inside one coarse mtime
# tick with equal lengths; a _meta nothing can list is read fresh every
# call.
_INDEX_META_CACHE = AppLRU(64)
_META_SCHEMA = "k long, bands long, n long, partitions long"


def _read_index_meta(spark, index_path: str):
    from pyspark.errors import AnalysisException

    stamp = listing_stamp(spark, f"{index_path}/_meta")
    hit = _INDEX_META_CACHE.get(spark, index_path, stamp)
    if hit is not MISS:
        return hit
    try:
        rows = spark.read.schema(_META_SCHEMA).json(f"{index_path}/_meta").collect()
    except AnalysisException as exc:
        # Only a MISSING _meta (pre-_meta index) may fall back to the
        # caller's parameters; a present-but-unreadable one must not.
        if "PATH_NOT_FOUND" not in (exc.getErrorClass() or ""):
            raise
        rows = None
    _INDEX_META_CACHE.put(spark, index_path, rows, stamp)
    return rows


def incremental_dup_pairs_indexed(
    new: DataFrame,
    index_path: str,
    threshold: float,
    k: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    partitions: int = 64,
    _audit: "dict | None" = None,
) -> DataFrame:
    """incremental_dup_pairs against a PERSISTED build_dedup_index —
    identical output (same _band_keys derivation, same exact-Jaccard
    verify), different cost model: the probe reads only (1) the band-key
    partitions the batch's hashes land in and (2) the gram partitions
    of verified CANDIDATE history docs. The two ``collect()``s are
    partition-ID sets bounded by P — driver-side metadata, the
    store.py:241 affected-file-list precedent, and exactly what a
    partition-pruning subquery would compute.

    Assumes (and asserts nothing about) batch ids disjoint from history
    ids — the ingest contract flows.ingest_flow documents.

    The index's persisted ``_meta`` (k, bands, n, partitions — written
    by build_dedup_index) OVERRIDES the keyword arguments: probing with
    parameters that differ from the build's would derive wrong band
    keys / partition ids and silently drop candidate pairs. Indexes
    built before ``_meta`` existed fall back to the caller's values."""
    spark = new.sparkSession
    meta_rows = _read_index_meta(spark, index_path)
    if meta_rows is not None:
        # A PRESENT _meta must be well-formed: silently falling back to
        # caller-supplied parameters on a corrupt/partial _meta would
        # reinstate the wrong-partition silent-candidate-drop failure
        # the metadata exists to prevent. Fail loudly instead.
        try:
            m = meta_rows[0]
            k, bands, n, partitions = (
                int(m["k"]), int(m["bands"]), int(m["n"]), int(m["partitions"])
            )
        except Exception as exc:
            raise ValueError(
                f"corrupt dedup index _meta at {index_path}/_meta: "
                f"{meta_rows!r}"
            ) from exc
    r = k // bands
    # sig_new is consumed exactly once (by nb, which IS checkpointed,
    # 3 consumers); checkpointing it too was a pure extra
    # materialization barrier per ingest batch — one job + one block
    # write for no recompute saved (guide §5: cache only what is
    # reused). incremental_dup_pairs (non-indexed) keeps its sig_new
    # checkpoint because there nb is NOT materialized and embeds the
    # signature derivation 3x.
    sig_new = minhash_signatures(new, k, id_col, text_col, n)
    nb = _band_keys(sig_new, bands, r).localCheckpoint(eager=True)

    probe_parts = [
        row[0]
        for row in nb.select(
            F.pmod(F.col("bh"), F.lit(partitions)).alias("p")
        )
        .distinct()
        .collect()
    ]
    hist_keys = (
        read_parquet(spark, f"{index_path}/band_keys")
        .filter(F.col("bh_p").isin(probe_parts))
        .select("id", "band", "bh")
    )
    ab = hist_keys.unionByName(nb)
    # The candidate pair set is consumed TWICE (the hist_cand_ids
    # derivation below and the final _jaccard_verify), and each
    # evaluation re-runs the pruned index scan + band join + distinct.
    # It is a small (doc_a, doc_b) table by LSH construction — one
    # eager checkpoint halves the probe work (guide §2.4/§5).
    cands = (
        nb.select(F.col("id").alias("new_id"), "band", "bh")
        .join(ab.select(F.col("id").alias("other_id"), "band", "bh"), ["band", "bh"])
        .filter(F.col("new_id") != F.col("other_id"))
        .select(
            F.least("new_id", "other_id").alias("doc_a"),
            F.greatest("new_id", "other_id").alias("doc_b"),
        )
        .distinct()
    )
    if _audit is not None:
        # Plan-audit hook (tests): the r12 checkpoints below truncate
        # the returned frame's lineage to ExistingRDD leaves, so the
        # partition-pruned index scans are no longer visible in the
        # FINAL plan. Hand the audit the PRE-checkpoint frames — the
        # exact frames whose materialization jobs do the scanning.
        _audit["cands"] = cands
    cands = cands.localCheckpoint(eager=True)

    new_grams = doc_ngrams(new, id_col, text_col, n)
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("id")
    ).distinct()
    hist_cand_ids = cand_ids.join(
        new.select(F.col(id_col).alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=True)
    gram_parts = [
        row[0]
        for row in hist_cand_ids.select(
            F.pmod(F.xxhash64("id"), F.lit(partitions)).alias("p")
        )
        .distinct()
        .collect()
    ]
    hist_grams = (
        read_parquet(spark, f"{index_path}/grams")
        .filter(F.col("id_p").isin(gram_parts))
        .join(F.broadcast(hist_cand_ids), "id", "left_semi")
        .select("id", "gram")
    )
    # _jaccard_verify references the gram table THREE times (both
    # verify legs + the size aggregate); materialize the UNION once so
    # the batch tokenize+hash pass and the pruned index-gram scan each
    # run once instead of three times. This replaces the former
    # new_grams-only checkpoint — same barrier count, two fewer
    # hist_grams evaluations (guide §2.4: shared subtree, no reuse
    # without materialization).
    grams = new_grams.unionByName(hist_grams)
    if _audit is not None:
        _audit["grams"] = grams
    grams = grams.localCheckpoint(eager=True)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    return _jaccard_verify(cands, grams, sizes, threshold)


# --------------------------------------------------------------------
# Span-level (exact-substring), chunk-level (C4-style), and semantic
# (SemDeDup-style) dedup — the r10 wave. All three are deterministic
# and oracle-mirrorable; the probabilistic machinery above is the
# candidate-generation tier, these are the span/semantic tiers of the
# same training-data ladder.
# --------------------------------------------------------------------


def _lc_words(text_col: str):
    return words(F.lower(F.col(text_col)))


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Exact-substring (span-level) dedup, Lee et al. 2021 semantics
    made deterministic: every ``window``-word shingle that re-occurs
    anywhere in the corpus AFTER its first occurrence (global order =
    (doc_id, start)) is a duplicated span; a word position is
    duplicated iff ANY duplicated shingle covers it; the cleaned text
    keeps only uncovered words, in order.

    Shape, built for scale:
      * shingle identity is a TWO-SEED xxhash64 pair over the token
        slice (128-bit effective — a single 64-bit key reaches
        birthday collisions near 2^32 distinct shingles, which a
        100 TB corpus exceeds; two longs still shuffle ~3x narrower
        than an md5 hex string), built scan-side in codegen — no UDF,
        no per-shingle row until the explode, no joined gram string
        ever materialized;
      * first-occurrence detection is ONE shuffle on the shingle key
        (row_number over (key) — shingle keys of natural text are
        near-uniform, and a pathological hot shingle IS a duplicated
        span, so the tail of its partition is skew the answer needs);
      * coverage is a per-document sliding window max (rowsBetween
        -(window-1)..0) — the doc-key shuffle is shared with the final
        per-doc aggregation (same partitioning, one exchange).

    Returns (doc_id, n_words, dup_words, dup_frac_e6, clean_text) with
    exact-integer e6 fraction (floor), no float hash risk. Documents
    with ZERO tokens produce no output row (there are no positions to
    aggregate — nothing to dedup); the oracle mirrors this, and the
    contract is pinned in tests.
    """
    base = docs.select(F.col(id_col).alias("id"), _lc_words(text_col).alias("w"))
    starts = _span_starts(base, window)
    from pyspark.sql import Window as W

    dup_starts = (
        starts.withColumn(
            "rn", F.row_number().over(W.partitionBy("key").orderBy("id", "s"))
        )
        .filter(F.col("rn") > 1)
        .select("id", F.col("s").alias("p"), F.lit(1).alias("dup"))
    )
    return _span_coverage(base, dup_starts, window, id_col)


def _span_starts(base: DataFrame, w: int) -> DataFrame:
    """(id, s, key) shingle starts: key = two-seed xxhash64 struct over
    the w-token slice (see span_dedup's collision note), built
    scan-side — no per-shingle row before the explode, no joined gram
    string ever materialized."""
    n = F.size("w")
    shingles = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda s: F.struct(
                F.xxhash64(F.slice(F.col("w"), s + 1, w)).alias("h1"),
                F.xxhash64(
                    F.lit(-7046029254386353131), F.slice(F.col("w"), s + 1, w)
                ).alias("h2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h1:bigint,h2:bigint>>"))
    return base.select("id", F.posexplode(shingles).alias("s", "key"))


def _span_coverage(
    base: DataFrame, dup_starts: DataFrame, w: int, id_col: str
) -> DataFrame:
    """Coverage + reassembly shared by the full and incremental span
    tiers: a position is duplicated iff any duplicated start within the
    trailing window covers it (sliding-window max whose doc-key
    exchange is shared with the final aggregation)."""
    from pyspark.sql import Window as W

    pos = base.select("id", F.posexplode("w").alias("p", "word"))
    cov = pos.join(dup_starts, ["id", "p"], "left").withColumn(
        "covered",
        F.coalesce(
            F.max("dup").over(
                W.partitionBy("id").orderBy("p").rowsBetween(-(w - 1), 0)
            ),
            F.lit(0),
        ),
    )
    kept = F.array_sort(
        F.collect_list(F.when(F.col("covered") == 0, F.struct("p", "word")))
    )
    return (
        cov.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("covered").cast("bigint").alias("dup_words"),
            F.concat_ws(
                " ", F.transform(kept, lambda st: st["word"])
            ).alias("clean_text"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            "dup_words",
            # Exact INTEGER division (bigint `div`), not floor(double
            # division): products here stay far below 2^53, but the
            # documented exact-integer-e6 contract should not depend on
            # double precision at any magnitude.
            F.expr("dup_words * 1000000 div n_words")
            .cast("bigint")
            .alias("dup_frac_e6"),
            "clean_text",
        )
    )


def span_shingle_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """The landed-corpus shingle index for incremental span dedup: the
    DISTINCT two-seed shingle keys of the history. Built once at
    landing (one key shuffle over history), then persisted/landed like
    build_dedup_index's gram tables — the nightly batch never touches
    history documents again. Returns (h1, h2)."""
    base = docs.select(F.col(id_col).alias("id"), _lc_words(text_col).alias("w"))
    return (
        _span_starts(base, window)
        .select(F.col("key.h1").alias("h1"), F.col("key.h2").alias("h2"))
        .distinct()
    )


def span_dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    max_history_id=None,
) -> DataFrame:
    """span_dedup for an ARRIVING BATCH against a landed corpus, never
    re-scanning history: a batch shingle start is duplicated iff its
    key exists in the history ``index`` (span_shingle_index — ANY
    history occurrence precedes the whole batch) OR an earlier
    occurrence exists within the batch itself ((doc_id, start) order).
    Output rows and semantics equal the FULL span_dedup over
    history ∪ batch, filtered to batch documents, whenever batch ids
    sort after history ids — the differential test and the registry
    oracle both pin that equality. When batch ids interleave with
    history ids the precondition is violated and results are UNDEFINED
    (not merely different): pass ``max_history_id`` (e.g. recorded at
    index-build time) to enforce it — the guard is wired into the plan
    itself (raise_error on any batch id <= max_history_id), so an
    overlapping-id call fails the job instead of silently returning
    contract-violating rows; it costs one scan-side comparison.

    Cost model at 100 TB: one key shuffle over the BATCH (row_number),
    one join of batch starts against the index — the index side
    shuffles at most once on the same key layout (or broadcast-prunes
    when the batch key set is small enough to broadcast, which AQE
    picks from actual sizes); history documents are never read.
    """
    base = new_docs.select(
        F.col(id_col).alias("id"), _lc_words(text_col).alias("w")
    )
    if max_history_id is not None:
        base = base.withColumn(
            "id",
            F.when(
                F.col("id") <= F.lit(max_history_id),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "span_dedup_incremental: batch id <= "
                            "max_history_id violates the "
                            "ids-sort-after-history precondition: "
                        ),
                        F.col("id").cast("string"),
                    )
                ),
            ).otherwise(F.col("id")),
        )
    starts = _span_starts(base, window)
    from pyspark.sql import Window as W

    flagged = starts.withColumn(
        "rn", F.row_number().over(W.partitionBy("key").orderBy("id", "s"))
    ).join(
        index.select(
            F.col("h1").alias("i_h1"),
            F.col("h2").alias("i_h2"),
            F.lit(1).alias("in_hist"),
        ),
        (F.col("key.h1") == F.col("i_h1")) & (F.col("key.h2") == F.col("i_h2")),
        "left",
    )
    dup_starts = flagged.filter(
        (F.col("rn") > 1) | F.col("in_hist").isNotNull()
    ).select("id", F.col("s").alias("p"), F.lit(1).alias("dup"))
    return _span_coverage(base, dup_starts, window, id_col)


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 20,
) -> DataFrame:
    """Chunk-level exact dedup (the C4 discipline at a fixed ``chunk``
    -word granularity, deterministic where sentence splitting is not):
    documents split into NON-overlapping chunk-word pieces (last piece
    may be short); a chunk survives iff it is the global first
    occurrence of its content (order = (doc_id, chunk_idx)); documents
    reassemble from surviving chunks in order.

    One shuffle on the chunk-content key (row_number — same skew
    argument as span_dedup), one per-doc aggregation. Chunk identity is
    the joined lowercase token slice, partitioned by its two-seed
    xxhash64 pair (span_dedup's collision rule; the piece string rides
    along anyway for the reassembly, so the pair only replaces the key
    column, not the row).

    Returns (doc_id, n_chunks, kept_chunks, clean_text); zero-token
    documents produce no output row (span_dedup's contract).
    """
    c = chunk
    base = docs.select(F.col(id_col).alias("id"), _lc_words(text_col).alias("w"))
    n_chunks = F.expr(f"(size(w) + {c - 1}) div {c}")
    pieces = F.when(
        F.size("w") > 0,
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i * c + 1, c)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = base.select("id", F.posexplode(pieces).alias("ci", "piece"))
    from pyspark.sql import Window as W

    ranked = chunks.withColumn(
        "rn",
        # The piece string itself rides along in the partition key: the
        # two-seed hashes alone could (negligibly, but nonzero) collide
        # across distinct chunks and silently merge them, while the
        # oracle partitions by the piece string. Including the column —
        # already in the row, so no extra data movement — makes the
        # rank collision-proof and exactly PARTITION BY piece.
        F.row_number().over(
            W.partitionBy(
                F.xxhash64("piece"),
                F.xxhash64(F.lit(-7046029254386353131), F.col("piece")),
                F.col("piece"),
            ).orderBy("id", "ci")
        ),
    ).withColumn("keep", (F.col("rn") == 1).cast("int"))
    kept = F.array_sort(
        F.collect_list(F.when(F.col("keep") == 1, F.struct("ci", "piece")))
    )
    return (
        ranked.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("keep").cast("bigint").alias("kept_chunks"),
            F.concat_ws(" ", F.transform(kept, lambda st: st["piece"])).alias(
                "clean_text"
            ),
        )
        .select(
            F.col("id").alias(id_col), "n_chunks", "kept_chunks", "clean_text"
        )
    )


def _u_dot(a, b):
    """Sequential left-fold dot product — bit-for-bit equal to DuckDB's
    list_reduce over the same operands (the oracle contract)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def _semantic_ranked(
    emb: DataFrame, id_col: str, label_col: str, vec_col: str
) -> DataFrame:
    """SemDeDup's O(n) stage, shared by the exact and LSH tiers:
    normalize members to unit vectors (one dot fold + sqrt each),
    fold the vec_id-ordered centroid ONCE PER LABEL in its own
    one-row-per-label frame (putting the fold in the same select as
    the explode re-evaluates it once per exploded row — quadratic in
    cluster size, the ALTO staged-parse lesson; measured as the actual
    11 s hot spot at sf0.1, not the pair join), broadcast it back, and
    rank members by cosine-to-centroid (desc, vid tiebreak).

    Returns (lbl, vid, u, cos_c, rank)."""
    from pyspark.sql import Window as W

    raw = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    norm = F.sqrt(_u_dot(F.col("v"), F.col("v")))
    members = raw.select(
        "vid", "lbl", F.transform("v", lambda x: x / norm).alias("u")
    )
    grp = members.groupBy("lbl").agg(
        F.array_sort(F.collect_list(F.struct("vid", "u"))).alias("ms")
    )
    zero = F.transform(F.element_at("ms", 1)["u"], lambda _: F.lit(0.0))
    centroids = grp.select(
        "lbl",
        F.aggregate(
            "ms", zero, lambda acc, m: F.zip_with(acc, m["u"], lambda a, b: a + b)
        ).alias("c"),
    )
    cent = (
        grp.select("lbl", F.explode("ms").alias("m"))
        .select("lbl", F.col("m.vid").alias("vid"), F.col("m.u").alias("u"))
        .join(F.broadcast(centroids), "lbl")
    )
    cos_c = _u_dot(F.col("u"), F.col("c")) / F.sqrt(
        _u_dot(F.col("c"), F.col("c"))
    )
    return cent.withColumn("cos_c", cos_c).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("lbl").orderBy(F.desc("cos_c"), F.asc("vid"))
        ),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): within each
    cluster (here the pre-assigned ``label`` — at scale the k-means
    assignment that bounds the quadratic), rank members by similarity
    to the cluster centroid (desc, id tiebreak) and DROP any member
    whose cosine to some LOWER-ranKED member is >= threshold — the
    released SemDeDup pseudocode's ``M[i] = max_{j<i} sim(i,j)`` rule.

    Determinism for the oracle: members NORMALIZE to unit vectors
    first (one sequential dot fold + sqrt per member — SemDeDup
    operates on normalized embeddings), the centroid is the
    vec_id-ordered SEQUENTIAL fold of unit vectors, and every fold is
    the same left fold — bit-for-bit equal to DuckDB's list_reduce.
    The payoff of normalizing up front: each of the O(cluster²) pair
    comparisons is ONE dot fold (higher-order array expressions are
    interpreted, not codegen'd — the first draft's per-pair
    cos = dot/(|a|·|b|) burned 3 folds + 2 sqrt per pair). The pair
    join is quadratic in CLUSTER size only — exactly the cost
    SemDeDup's clustering exists to bound — and the rank predicate
    sits IN the join condition so pruned pairs never materialize
    downstream. (Perf forensics at sf0.1: the first draft measured
    26.9 s, of which the pair join was only ~1.6 s — the hot spot was
    the centroid fold written in the same select as the explode,
    re-evaluated once per exploded row = quadratic in cluster size;
    see the centroid staging note below. A statically unrolled
    64-term element_at dot was also tried and measured ~2.5x SLOWER
    than the lambda fold — the interpreted fold beats a giant
    expression tree here.)

    Returns (vec_id, label, cos_centroid, max_prior_cos, action).
    Zero vectors are undefined input (a zero vector has no direction,
    so SemDeDup's cosine geometry does not apply): normalization
    propagates NaN for them, identically in both engines.
    """
    ranked = _semantic_ranked(emb, id_col, label_col, vec_col)
    a = ranked.select("lbl", "vid", "u", "cos_c", "rank")
    b = ranked.select(
        F.col("lbl").alias("p_lbl"),
        F.col("rank").alias("prior_rank"),
        F.col("u").alias("pu"),
    )
    prior = (
        a.join(
            b,
            (F.col("lbl") == F.col("p_lbl"))
            & (F.col("prior_rank") < F.col("rank")),
        )
        .groupBy("lbl", "vid", "cos_c", "rank")
        .agg(F.max(_u_dot(F.col("u"), F.col("pu"))).alias("max_prior"))
    )
    out = a.join(
        prior.select("lbl", "vid", "max_prior"), ["lbl", "vid"], "left"
    ).select(
        F.col("vid").alias(id_col),
        F.col("lbl").alias(label_col),
        F.round("cos_c", 6).alias("cos_centroid"),
        F.round("max_prior", 6).alias("max_prior_cos"),
        F.when(
            F.coalesce(F.col("max_prior"), F.lit(-1.0)) >= threshold, "drop"
        )
        .otherwise("keep")
        .alias("action"),
    )
    return out


def semantic_dedup_lsh(
    emb: DataFrame,
    threshold: float = 0.99,
    bands: int = 24,
    planes_per_band: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """semantic_dedup's 100 TB path: the exact tier's within-cluster
    pair join is O(cluster²) BY DESIGN (SemDeDup bounds it by raising
    k with corpus size so clusters stay constant-sized) — the 25x
    scale probe, which blows up MEMBERS under FIXED labels, measured
    the resulting 625x pair growth as 145x wall. When cluster sizes
    can't be re-bounded (fixed taxonomy labels, streaming clusters),
    this tier caps pair fan-in with banded hyperplane LSH INSIDE each
    cluster: candidates collide in (label, band, bucket), then verify
    with the exact cosine. Per-band fan-in is |cluster|/2^r; a pair at
    cosine 0.99 is missed with prob ~1.6e-7 and an exact duplicate
    NEVER (identical sketches) — so on near-dup-by-construction
    corpora the action column equals the exact tier's, which is this
    operator's oracle (the dedup_embedding_lsh / lsh_verified_pairs
    pattern). max_prior_cos is NOT emitted: its exact value ranges
    over all pairs, which the candidate set deliberately does not.

    Returns (vec_id, label, cos_centroid, action).
    """
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        lsh_band_buckets,
    )

    # Materialize the ranked stage ONCE (eager localCheckpoint): this
    # tier embeds it 3x (ra + rb + the final action join) and the
    # collect_list fold + window subtree gets no ReusedExchange —
    # measured 4.17 s -> 2.73 s warm at sf0.1 (idle host, min-of-4).
    # The EXACT tier deliberately stays inline: its wall is the
    # O(cluster^2) pair join and the overlapped subtree re-execution is
    # cheaper there than the checkpoint barrier (measured 3.57 s inline
    # vs 4.59 s checkpointed). Guide §2.4 / §5 (lineage truncation).
    ranked = _semantic_ranked(emb, id_col, label_col, vec_col).localCheckpoint(
        eager=True
    )
    buckets = lsh_band_buckets(
        emb, bands, planes_per_band, dim, id_col, vec_col
    ).localCheckpoint(eager=True)
    lbls = emb.select(F.col(id_col).alias("id"), F.col(label_col).alias("lbl"))
    buckets = buckets.join(lbls, "id")
    left = buckets.select(F.col("id").alias("a"), "lbl", "band", "bucket")
    right = buckets.select(F.col("id").alias("b"), "lbl", "band", "bucket")
    cands = (
        left.join(right, ["lbl", "band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("lbl", "a", "b")
        .distinct()
    )
    ra = ranked.select(
        "lbl",
        F.col("vid").alias("a"),
        F.col("u").alias("ua"),
        F.col("rank").alias("rank_a"),
    )
    rb = ranked.select(
        "lbl",
        F.col("vid").alias("b"),
        F.col("u").alias("ub"),
        F.col("rank").alias("rank_b"),
    )
    verified = (
        cands.join(ra, ["lbl", "a"])
        .join(rb, ["lbl", "b"])
        .filter(_u_dot(F.col("ua"), F.col("ub")) >= threshold)
        .select(
            "lbl",
            # the HIGHER-ranked member of a verified pair is the drop
            F.when(F.col("rank_a") > F.col("rank_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("vid"),
        )
        .distinct()
    )
    return ranked.join(
        verified.withColumn("hit", F.lit(1)), ["lbl", "vid"], "left"
    ).select(
        F.col("vid").alias(id_col),
        F.col("lbl").alias(label_col),
        F.round("cos_c", 6).alias("cos_centroid"),
        F.when(F.col("hit").isNotNull(), "drop").otherwise("keep").alias(
            "action"
        ),
    )
