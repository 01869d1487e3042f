"""Dedup/similarity semantics the oracle can't check: MinHash-LSH
recall of true near-dups, SimHash fingerprint equality for identical
docs, and LSH-ANN recall against the brute-force tier."""

from __future__ import annotations

from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _dup_docs(spark, n=60):
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n)
    )
    return docs.unionByName(
        docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )


def test_minhash_lsh_finds_exact_dups(spark):
    """Identical docs have identical signatures -> every exact-dup pair
    must be an LSH candidate with est_jaccard == 1.0 (no probabilistic
    slack for identity)."""
    cands = minhash_lsh_candidates(_dup_docs(spark)).collect()
    found = {(r.doc_a, r.doc_b) for r in cands if r.est_jaccard == 1.0}
    expected = {(i, i + 1000) for i in range(60)}
    assert expected <= found


def test_lsh_candidates_superset_of_high_jaccard(spark):
    docs = _dup_docs(spark)
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, 0.95).collect()
    }
    cand_pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(docs).collect()}
    assert true_pairs <= cand_pairs


def test_simhash_identical_docs_same_fingerprint(spark):
    fp = simhash(_dup_docs(spark)).collect()
    by_id = {r.id: r.simhash for r in fp}
    for i in range(60):
        assert by_id[i] == by_id[i + 1000]
        assert len(by_id[i]) == 64


def test_exact_dedup_counts(spark):
    out = exact_dedup(_dup_docs(spark)).collect()
    assert all(r.n_copies == 2 for r in out)
    assert all(r.keep_id < 1000 for r in out)
    assert len(out) == 60


def test_lsh_ann_results_subset_of_bruteforce_space(spark):
    """LSH top-k returns genuine neighbors (scores match brute-force
    scoring for the same pair) and achieves nonzero recall on sf0.001."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(queries, emb, k=20).collect()
    }
    approx = lsh_topk(queries, emb, k=5, n_planes=4).collect()
    assert len(approx) > 0
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in brute:
            assert abs(brute[key] - r.cosine) < 1e-9


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF top-k: scores agree with brute force on shared pairs, and
    probing n_probe=all centroids recovers brute-force exactly (the
    index partitions the corpus, so full probing = exact search)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.neighbor_id): (r.cosine, r.rank)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    # full probe == exact
    full = ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=8).collect()
    assert {(r.query_id, r.neighbor_id): (r.cosine, r.rank) for r in full} == brute

    # partial probe: genuine neighbors with matching scores, recall > 0
    approx = ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=3).collect()
    assert len(approx) > 0
    hits = 0
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in brute:
            assert abs(brute[key][0] - r.cosine) < 1e-9
            hits += 1
    assert hits > 0


def test_multimodal_decode_matches_closed_form(spark):
    """The BMP payloads are genuinely parsed: decoded geometry and the
    pixel checksum computed FROM THE BYTES must equal the independent
    closed-form synthesis formulas — this is the decode oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.multimodal import (
        _CHECK_MOD,
        _bmp_bytes,
        _bmp_dims,
        _parse_bmp,
        decode_media,
        synthesize_bmp_media,
    )

    # pure round-trip first: synth -> parse recovers geometry + pixels
    for doc_id in (0, 1, 7, 123, 4096):
        w, h, v = _bmp_dims(doc_id)
        pw, ph, checksum = _parse_bmp(_bmp_bytes(w, h, v))
        assert (pw, ph) == (w, h)
        assert checksum == (3 * w * h * v) % _CHECK_MOD

    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    decoded = decode_media(synthesize_bmp_media(docs)).collect()
    assert len(decoded) == n_docs
    for r in decoded:
        w, h, v = _bmp_dims(r.doc_id)
        stride = (3 * w + 3) // 4 * 4
        assert (r.width, r.height) == (w, h)
        assert r.byte_len == 54 + h * stride
        assert r.checksum == (3 * w * h * v) % _CHECK_MOD
        assert r.media_type == "image/bmp"


def test_multimodal_resize_and_frames(spark):
    """Resize is 1:1 with aspect-preserving dims and a BMP-layout
    re-encoded size; frame sampling is 1:N with deterministic
    checksums; both run through mapInPandas."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.multimodal import (
        attach_binary_payload,
        resize_thumbnails,
        sample_frames,
        synthesize_bmp_media,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    media = attach_binary_payload(docs)
    n_docs = docs.count()

    thumbs = resize_thumbnails(synthesize_bmp_media(docs), max_side=16)
    rows = thumbs.collect()
    assert len(rows) == n_docs
    for r in rows[:50]:
        assert max(r.thumb_width, r.thumb_height) <= 16
        # re-encoded 24-bit BMP size: header + padded rows
        assert r.thumb_len == 54 + r.thumb_height * ((3 * r.thumb_width + 3) // 4 * 4)
        # exact dims contract: scale = min(1, max_side/max(w,h)), floor, >=1
        scale = min(1.0, 16 / max(r.width, r.height))
        assert r.thumb_width == max(1, int(r.width * scale))
        assert r.thumb_height == max(1, int(r.height * scale))

    frames = sample_frames(media, every_n_bytes=256, max_frames=4)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert len(per_doc) == n_docs
    assert all(1 <= r["count"] <= 4 for r in per_doc)
    # deterministic: same input -> same checksums
    a = {(r.doc_id, r.frame_idx): r.frame_checksum for r in frames.collect()}
    b = {
        (r.doc_id, r.frame_idx): r.frame_checksum
        for r in sample_frames(media, every_n_bytes=256, max_frames=4).collect()
    }
    assert a == b


def test_int8_quantization_reconstruction_bound(spark):
    """Symmetric int8 quantization contract: q in [-127, 127], the
    dequantized value q*scale/127 reconstructs each component within
    half a quantization step (scale/254), and zero vectors quantize to
    all-zero with scale 0."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    vecs = load_table(spark, SF_SMOKE, "embeddings")
    q = quantize_embeddings_int8(vecs)
    joined = q.join(
        vecs.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).select(
        "id",
        "scale",
        F.arrays_zip("qs", "embedding").alias("z"),
    )
    stats = joined.select(
        F.array_max(
            F.transform(
                "z",
                lambda p: F.abs(
                    p.getField("qs").cast("double") * F.col("scale") / 127.0
                    - p.getField("embedding").cast("double")
                ),
            )
        ).alias("max_err"),
        (F.col("scale") / 254.0 + F.lit(1e-9)).alias("bound"),
        F.array_max(F.transform("z", lambda p: F.abs(p.getField("qs")))).alias(
            "max_q"
        ),
    )
    bad = stats.filter(
        (F.col("max_err") > F.col("bound")) | (F.col("max_q") > 127)
    ).count()
    assert bad == 0

    zero = spark.createDataFrame(
        [(1, [0.0] * 4)], "vec_id bigint, embedding array<float>"
    )
    row = quantize_embeddings_int8(zero).first()
    assert row.scale == 0.0 and list(row.qs) == [0, 0, 0, 0]


def test_minhash_candidates_materialized_equals_recompute(spark):
    """materialize_signatures must not change results — same candidate
    pairs and estimates whether the signature table is checkpointed
    once or recomputed per branch."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = {
        tuple(r)
        for r in minhash_lsh_candidates(docs).collect()
    }
    b = {
        tuple(r)
        for r in minhash_lsh_candidates(docs, materialize_signatures=True).collect()
    }
    assert a == b and a


def test_frame_oracle_ascii_assumption_holds(spark):
    """MM_FRAME_ORACLE recomputes byte offsets/checksums in DuckDB via
    LENGTH()/ascii(substring()) — character-level functions that equal
    the byte view ONLY for ASCII text (r4 ADVICE: a non-ASCII corpus
    regeneration would silently diverge Spark's byte math from the
    oracle's char math). This guard makes the assumption explicit:
    every document in the oracle-compared corpus must be pure ASCII.
    If this ever fails, rewrite the oracle over an explicit byte view
    (octet_length/encode) instead of weakening the check."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    non_ascii = docs.filter(~F.col("text").rlike(r"^[\x00-\x7F]*$")).count()
    assert non_ascii == 0, (
        f"{non_ascii} non-ASCII documents: MM_FRAME_ORACLE's chars==bytes "
        "assumption no longer holds — rewrite it over a byte view"
    )


def test_quantized_topk_recall_and_exact_rescore(spark):
    """Two-stage quantized ANN: rescored cosines must EQUAL the exact
    tier's cosines for every (query, neighbor) both return, and
    recall@5 vs brute force stays high (int8 keeps ~2 decimal digits
    of the score, far finer than typical neighbor gaps)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, emb, k=5).collect()
    quant = quantized_topk(queries, emb, k=5, rescore_m=20).collect()

    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    quant_cos = {(r.query_id, r.neighbor_id): r.cosine for r in quant}
    shared = set(exact_cos) & set(quant_cos)
    assert shared, "no overlap at all — quantized tier is broken"
    assert all(exact_cos[p] == quant_cos[p] for p in shared)

    recall = len(shared) / len(exact_cos)
    assert recall >= 0.9, f"recall@5 collapsed: {recall}"


def test_cluster_components_known_graph(spark):
    """Min-label propagation must find exact components: a 4-node
    chain (worst diameter case), a triangle, and a singleton."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        cluster_components,
    )

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (listed backwards so labels need >1 hop),
        # triangle 10-11-12
        [(3, 4), (2, 3), (1, 2), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long"
    )
    got = {
        (r.node, r.component)
        for r in cluster_components(pairs, nodes).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (99, 99),
    }


def test_multimodal_audio_parse_matches_closed_form(spark):
    """The WAV parse must reproduce the synthesis formulas exactly,
    and the parser must be a real validator, not a passthrough."""
    import pytest

    from prefect_flow_arc_kg_postgres_etl_spark.operators.multimodal import (
        _parse_wav,
        _wav_bytes,
        decode_audio,
        synthesize_wav_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(25)], "doc_id bigint")
    rows = {
        r.doc_id: r
        for r in decode_audio(synthesize_wav_media(docs)).collect()
    }
    for d in range(25):
        n = 800 + d % 200
        assert rows[d].sample_rate == 8000
        assert rows[d].n_samples == n
        assert rows[d].duration_us == n * 125
        assert rows[d].amplitude_sum == sum((d + i) % 256 for i in range(n))

    # corrupt payloads are rejected, not silently decoded
    good = _wav_bytes(3)
    with pytest.raises(ValueError):
        _parse_wav(b"RIFX" + good[4:])
    with pytest.raises(ValueError):
        _parse_wav(good[:-10])


def test_kmeans_int_partitions_all_vectors_deterministically(spark):
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        kmeans_int,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    total = emb.count()
    a = {tuple(r) for r in kmeans_int(emb, k=4, iters=2).collect()}
    b = {tuple(r) for r in kmeans_int(emb, k=4, iters=2).collect()}
    assert a == b  # exact integer arithmetic: bit-identical reruns
    assert sum(r[1] for r in a) == total  # every vector assigned once
    assert len(a) == 4 and all(r[1] > 0 for r in a)


def test_kmeans_int_leaves_out_null_and_empty_vectors(spark):
    """A null or empty embedding has no distance to any centroid and no
    dimension to add to an update: it is left out before seeding, so
    n_members counts only the non-empty vectors and the clusters equal
    those of a run without the two rows. Both get the smallest ids,
    where they would otherwise be seeds."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        kmeans_int,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    lo = emb.agg(F.min("vec_id")).first()[0]
    blanks = spark.createDataFrame([(lo - 2, None), (lo - 1, [])], emb.schema)
    want = {tuple(r) for r in kmeans_int(emb, k=4, iters=2).collect()}
    got = {
        tuple(r)
        for r in kmeans_int(emb.unionByName(blanks), k=4, iters=2).collect()
    }
    assert got == want
    assert sum(r[1] for r in got) == emb.count()


class TestIndexedIncremental:
    """r7: the persisted-index ingest probe (build_dedup_index +
    incremental_dup_pairs_indexed) must (a) match the in-plan
    incremental_dup_pairs exactly and (b) actually PRUNE the index
    scans — the PartitionFilters on bh_p / id_p are the storage-level
    fix for the linear-in-history probe."""

    def _corpus(self, spark):
        from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        new = (
            docs.limit(5)
            .select(
                (F.col("doc_id") + 9_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail")).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        return docs, new

    def test_indexed_probe_matches_inplan(self, spark, tmp_path):
        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, new = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path), partitions=64)
        indexed = D.incremental_dup_pairs_indexed(
            new, str(tmp_path), 0.8, partitions=64
        )
        inplan = D.incremental_dup_pairs(hist, new, 0.8)
        a = {(r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in indexed.collect()}
        b = {(r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in inplan.collect()}
        assert a == b and a

    def test_probe_scan_is_partition_pruned(self, spark, tmp_path):
        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, new = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path), partitions=64)
        # r12: the probe checkpoints its candidate and gram frames, so
        # the index scans no longer appear in the FINAL plan — audit
        # the pre-checkpoint frames (the exact frames whose
        # materialization jobs perform the scans) via the hook.
        audit: dict = {}
        out = D.incremental_dup_pairs_indexed(
            new, str(tmp_path), 0.8, partitions=64, _audit=audit
        )
        out.collect()
        cands_plan = audit["cands"]._jdf.queryExecution().sparkPlan().toString()
        grams_plan = audit["grams"]._jdf.queryExecution().sparkPlan().toString()
        # both index scans carry partition filters (bh_p in (...),
        # id_p in (...)) — not full-index reads
        plan = cands_plan.replace("#", " ").replace("bh_p ", "bh_p")
        assert "PartitionFilters: [bh_p" in plan or "bh_p IN" in cands_plan
        plan = grams_plan.replace("#", " ").replace("id_p ", "id_p")
        assert "PartitionFilters: [id_p" in plan or "id_p IN" in grams_plan

    def test_index_layout_one_file_per_partition(self, spark, tmp_path):
        import glob

        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, _ = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path), partitions=16)
        for sub in ("band_keys", "grams"):
            dirs = glob.glob(f"{tmp_path}/{sub}/*_p=*")
            assert dirs, sub
            for d in dirs:
                files = glob.glob(f"{d}/*.parquet")
                assert len(files) == 1, (sub, d, files)


class TestIndexMeta:
    """The persisted _meta contract (r8 + r9-ADVICE hardening):
    present _meta OVERRIDES caller parameters, a MISSING _meta falls
    back to them (pre-_meta indexes), and a present-but-corrupt _meta
    fails loudly instead of silently probing the wrong partitions."""

    def _corpus(self, spark):
        from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        new = (
            docs.limit(5)
            .select(
                (F.col("doc_id") + 9_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail")).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        return docs, new

    def test_meta_overrides_caller_params(self, spark, tmp_path):
        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, new = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path), partitions=32)
        # caller passes WRONG partitions/bands; _meta must win
        wrong = D.incremental_dup_pairs_indexed(
            new, str(tmp_path), 0.8, bands=8, partitions=7
        )
        right = D.incremental_dup_pairs_indexed(
            new, str(tmp_path), 0.8, partitions=32
        )
        a = {(r.doc_a, r.doc_b) for r in wrong.collect()}
        b = {(r.doc_a, r.doc_b) for r in right.collect()}
        assert a == b and a

    def test_missing_meta_falls_back(self, spark, tmp_path):
        import shutil

        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, new = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path), partitions=32)
        shutil.rmtree(str(tmp_path / "_meta"))
        out = D.incremental_dup_pairs_indexed(
            new, str(tmp_path), 0.8, partitions=32
        )
        assert out.count() > 0  # caller's (correct) parameters used

    def test_small_history_builds_one_partition(self, spark, tmp_path):
        """Without an explicit ``partitions`` the index is sized to its
        corpus: a small history gets P=1, ``_meta`` records it, and the
        probe still finds exactly the in-plan oracle's pairs."""
        import glob
        import json

        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, new = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path))
        for sub, col in (("band_keys", "bh_p"), ("grams", "id_p")):
            dirs = glob.glob(f"{tmp_path}/{sub}/{col}=*")
            assert [d.rsplit("/", 1)[1] for d in dirs] == [f"{col}=0"], sub
        (meta,) = glob.glob(f"{tmp_path}/_meta/part-*.json")
        with open(meta) as f:
            assert json.loads(f.read()) == {
                "k": 64, "bands": 16, "n": 3, "partitions": 1
            }
        indexed = D.incremental_dup_pairs_indexed(new, str(tmp_path), 0.8)
        inplan = D.incremental_dup_pairs(hist, new, 0.8)
        a = {(r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in indexed.collect()}
        b = {(r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in inplan.collect()}
        assert a == b and a

    def test_corrupt_meta_fails_loudly(self, spark, tmp_path):
        import shutil

        import pytest as _pytest

        import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

        hist, new = self._corpus(spark)
        D.build_dedup_index(hist, str(tmp_path), partitions=32)
        shutil.rmtree(str(tmp_path / "_meta"))
        (tmp_path / "_meta").mkdir()
        (tmp_path / "_meta" / "part-0.json").write_text('{"k": 64}\n')
        with _pytest.raises(ValueError, match="corrupt dedup index _meta"):
            D.incremental_dup_pairs_indexed(new, str(tmp_path), 0.8)


# ----------------------------------------------------- r10: span/chunk/semantic
def _near_docs(spark, n=40):
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n)
    )
    exact = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    near = docs.select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" zz qq extra tail tokens")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def test_span_dedup_copies_fully_covered(spark):
    """Exact copies: every window re-occurs at the original (lower id)
    -> fully covered, clean_text empty. The corpus ships with PLANTED
    near-dup originals (e.g. doc 12 re-posts doc 8), so originals are
    not asserted clean — but doc 0 (globally first) always keeps its
    opening window, and the count algebra must be exact."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import span_dedup

    out = {r.doc_id: r for r in span_dedup(_near_docs(spark)).collect()}
    for i in range(40):
        r = out[i + 1000]
        assert r.dup_frac_e6 == 1_000_000, i
        assert r.clean_text == ""
        assert r.dup_words == r.n_words
    assert out[0].clean_text != ""
    for r in out.values():
        n_clean = len(r.clean_text.split()) if r.clean_text else 0
        assert r.dup_words + n_clean == r.n_words
        assert r.dup_frac_e6 == r.dup_words * 1_000_000 // r.n_words


def test_span_dedup_near_copy_keeps_only_novel_tail(spark):
    """A near copy's in-text region is always covered (the original
    precedes it); the appended tail survives unless ANOTHER earlier
    near copy shares the same source text (planted original-level
    dups), in which case the tail windows are covered too."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import span_dedup

    out = {r.doc_id: r for r in span_dedup(_near_docs(spark)).collect()}
    tails = 0
    for i in range(40):
        r = out[i + 2000]
        assert r.clean_text in ("", "zz qq extra tail tokens"), r.clean_text
        assert r.dup_words >= r.n_words - 5
        tails += r.clean_text != ""
    assert tails >= 20  # most originals are unique -> most tails survive


def test_chunk_dedup_copies_dropped_originals_kept(spark):
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import chunk_dedup

    out = {r.doc_id: r for r in chunk_dedup(_near_docs(spark)).collect()}
    for i in range(40):
        assert out[i + 1000].kept_chunks == 0
        assert out[i + 1000].clean_text == ""
        # near copy: full in-text chunks are dups of the original's;
        # only the boundary chunk(s) the 5-word tail lands in are novel
        # (two when the tail straddles a chunk boundary).
        assert out[i + 2000].kept_chunks <= 2
    # doc 0's first chunk is the global first occurrence of its content.
    assert out[0].kept_chunks >= 1 and out[0].clean_text != ""


def test_chunk_dedup_reassembles_in_order(spark):
    """Surviving chunks re-join in chunk order: any original that kept
    ALL its chunks must reassemble to its own lowercased tokenization
    (and with planted dups in the corpus, not every original does)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import chunk_dedup

    docs = _near_docs(spark)
    out = {r.doc_id: r for r in chunk_dedup(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.filter(F.col("doc_id") < 40).collect()}
    full = [i for i in range(40) if out[i].kept_chunks == out[i].n_chunks]
    assert len(full) >= 20
    for i in full:
        assert out[i].clean_text == " ".join(texts[i].lower().split())


def test_semantic_dedup_drops_scaled_copies(spark):
    """2x-scaled copies have cosine 1.0 to their original (same label)
    -> every copy is dropped, and per-label rank 1 is always kept."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    scaled = emb.select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        "label",
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0).cast("float")).cast("float")
        ).alias("embedding"),
    )
    out = semantic_dedup(emb.unionByName(scaled), 0.99).collect()
    by_id = {r.vec_id: r for r in out}
    n_orig = emb.count()
    for r in out:
        if r.vec_id >= 5000:
            assert r.action == "drop", r
            assert r.max_prior_cos is not None and r.max_prior_cos >= 0.99
    kept = [r for r in out if r.action == "keep"]
    assert 0 < len(kept) <= n_orig
    # the keep set never contains both halves of a >=0.99 pair: every
    # dropped row names a prior cos >= tau; every kept row's best prior
    # is < tau.
    for r in kept:
        assert r.max_prior_cos is None or r.max_prior_cos < 0.99


def test_semantic_dedup_lsh_matches_exact_tier(spark):
    """The LSH-bucketed scale tier reproduces the exact tier's action
    column on the near-dup-by-construction corpus (exact 2x-scaled
    copies have IDENTICAL hyperplane sketches, so the dropping pairs
    are always candidates), with identical centroid ranking."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_lsh,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    scaled = emb.select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        "label",
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0).cast("float")).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(scaled)
    exact = {
        r.vec_id: (r.label, r.cos_centroid, r.action)
        for r in semantic_dedup(corpus, 0.99).collect()
    }
    lsh = {
        r.vec_id: (r.label, r.cos_centroid, r.action)
        for r in semantic_dedup_lsh(corpus, 0.99).collect()
    }
    assert exact == lsh


def test_span_dedup_incremental_equals_full_recompute(spark):
    """Incremental span dedup (batch vs landed shingle index) equals
    the FULL recompute over history ∪ batch filtered to batch docs —
    the nightly-ingest contract. Also pins the zero-token contract:
    a 0-word doc yields no output row in either tier."""
    from pyspark.sql import Row

    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        span_dedup,
        span_dedup_incremental,
        span_shingle_index,
    )

    hist = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 30)
    )
    batch = hist.select((F.col("doc_id") + 1000).alias("doc_id"), "text").unionByName(
        hist.select(
            (F.col("doc_id") + 2000).alias("doc_id"),
            F.concat("text", F.lit(" zz qq extra tail tokens")).alias("text"),
        )
    )
    full = {
        r.doc_id: (r.n_words, r.dup_words, r.dup_frac_e6, r.clean_text)
        for r in span_dedup(hist.unionByName(batch)).collect()
        if r.doc_id >= 1000
    }
    incr = {
        r.doc_id: (r.n_words, r.dup_words, r.dup_frac_e6, r.clean_text)
        for r in span_dedup_incremental(
            batch, span_shingle_index(hist)
        ).collect()
    }
    assert full == incr and len(incr) == 60

    empty = spark.createDataFrame(
        [Row(doc_id=9999, text="   ")], "doc_id bigint, text string"
    )
    assert span_dedup(empty).count() == 0
    assert span_dedup_incremental(empty, span_shingle_index(hist)).count() == 0


def test_sem_corpus_near_dups_are_exact_scalings(spark):
    """DEDUP_SEMANTIC_LSH_ORACLE (the exact tier's output projected) is
    valid ONLY while _sem_corpus's near-dups are exact scalings of the
    originals: identical unit vectors => identical hyperplane sketches
    => LSH recall deterministically 1.0. This pins that corpus
    construction so a future non-identical near pair (which would make
    the oracle probabilistically flaky, ~1.6e-7 miss per pair) cannot
    land without tripping a test."""
    from prefect_flow_arc_kg_postgres_etl_spark.plans.pipeline import (
        _VEC_OFF,
        _sem_corpus,
    )

    corpus = _sem_corpus(spark, SF_SMOKE)
    base = corpus.filter(F.col("vec_id") < _VEC_OFF).select(
        "vec_id", F.col("embedding").alias("e_base")
    )
    scaled = corpus.filter(F.col("vec_id") >= _VEC_OFF).select(
        (F.col("vec_id") - _VEC_OFF).alias("vec_id"),
        F.col("embedding").alias("e_scaled"),
    )
    joined = base.join(scaled, "vec_id")
    n = joined.count()
    assert n > 0
    exact = joined.filter(
        F.forall(
            F.zip_with(
                "e_base",
                "e_scaled",
                lambda a, b: b == (a * F.lit(2.0).cast("float")).cast("float"),
            ),
            lambda ok: ok,
        )
    ).count()
    assert exact == n


def test_span_dedup_incremental_overlap_guard(spark):
    """With max_history_id supplied, a batch id at or below it fails
    the job (plan-side raise_error) instead of silently returning
    precondition-violating rows; ids strictly above pass."""
    import pytest as _pytest

    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        span_dedup_incremental,
        span_shingle_index,
    )

    hist = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 10)
    )
    idx = span_shingle_index(hist)
    ok_batch = hist.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    out = span_dedup_incremental(ok_batch, idx, max_history_id=9)
    assert out.count() == 10

    bad_batch = hist  # ids overlap the history range
    with _pytest.raises(Exception) as ei:
        span_dedup_incremental(bad_batch, idx, max_history_id=9).collect()
    assert "max_history_id" in str(ei.value)


def test_pq_topk_recall_and_exactness_properties(spark):
    """PQ/ADC tier (D64): (a) full-resolution PQ is EXACT — with one
    sub-vector per dimension... too slow; instead pin the two
    properties that hold at any setting: approximate distances are
    exact integer ADC sums (non-negative, deterministic across runs),
    and recall@5 vs brute force clears the floor a 16-centroid
    codebook should give on this corpus. Also: an identical duplicate
    vector (the query itself scaled into the corpus) must land at
    rank 1 with the minimal code distance."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    pq1 = pq_topk(queries, emb, k=5).collect()
    pq2 = pq_topk(queries, emb, k=5).collect()
    assert sorted(map(tuple, pq1)) == sorted(map(tuple, pq2))  # deterministic
    assert all(r.adist >= 0 for r in pq1)

    brute = brute_force_topk(queries, emb, k=5).collect()
    b_sets = {}
    for r in brute:
        b_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    p_sets = {}
    for r in pq1:
        p_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(p_sets) == set(b_sets)
    hits = sum(len(b_sets[q] & p_sets[q]) for q in b_sets)
    total = sum(len(b_sets[q]) for q in b_sets)
    # 8 codebooks x 16 centroids on 64-dim synthetic embeddings: PQ is
    # lossy by design; require a sane floor rather than a lucky draw
    assert hits / total >= 0.2, f"PQ recall@5 collapsed: {hits}/{total}"


def test_ivf_pq_topk_composes_and_bounds_recall(spark):
    """D65 (r12): IVF->PQ candidates are a SUBSET relation of plain
    PQ — every (query, neighbor) the composed index returns carries
    the IDENTICAL adist pq_topk computes for it (same codebooks, same
    ADC tables; only the candidate set shrinks), recall@5 vs brute
    force clears a floor, and the result is deterministic across
    runs."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        pq_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    got1 = ivf_pq_topk(queries, emb, k=5).collect()
    got2 = ivf_pq_topk(queries, emb, k=5).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))

    # adist parity with the unpruned PQ scorer on shared pairs: rank a
    # full-corpus PQ (k = corpus size) and compare distances
    n = emb.count()
    full = {
        (r.query_id, r.neighbor_id): r.adist
        for r in pq_topk(queries, emb, k=n).collect()
    }
    for r in got1:
        assert full[(r.query_id, r.neighbor_id)] == r.adist

    brute = brute_force_topk(queries, emb, k=5).collect()
    b_sets, p_sets = {}, {}
    for r in brute:
        b_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in got1:
        p_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(b_sets[q] & p_sets.get(q, set())) for q in b_sets)
    total = sum(len(b_sets[q]) for q in b_sets)
    # coarse pruning on top of PQ loss: require a sane floor, not luck
    assert hits / total >= 0.15, f"IVF-PQ recall@5 collapsed: {hits}/{total}"


def test_pq_topk_rejects_indivisible_dim(spark):
    """r11 advice: a dim not divisible by m used to silently DROP the
    tail components from every distance (truncating sub-vector split)
    — and the SQL oracle's rounding disagreed with Spark's, so only
    the fixed 64-dim corpus kept them aligned. Now the plan raises."""
    import pytest

    from prefect_flow_arc_kg_postgres_etl_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 63).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(Exception, match="divisible by m"):
        pq_topk(queries, emb, k=3, m=8).collect()


def test_index_partitions_sized_to_corpus():
    """P is the next power of two >= docs / 65 536, clamped to [1, 4096]."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        _index_partitions,
    )

    assert [_index_partitions(d) for d in (0, 1, 65_536)] == [1, 1, 1]
    assert _index_partitions(65_537) == 2
    assert _index_partitions(3 * 65_536) == 4
    assert _index_partitions(4096 * 65_536) == 4096
    assert _index_partitions(10**12) == 4096


def test_meta_listing_stamp_separates_colliding_listings():
    """Two _meta listings whose max(mtime * 1e6 + len) collides (a
    rewrite inside one coarse mtime tick) must not share a cache key;
    the same listing in another order must."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        _listing_stamp,
    )

    old = [("part-0000-a.json", 48, 1_700_000_000_000), ("_SUCCESS", 0, 1_700_000_000_000)]
    new = [("part-0000-b.json", 48, 1_700_000_000_000), ("_SUCCESS", 0, 1_700_000_000_000)]
    assert max(m * 1_000_000 + n for _, n, m in old) == max(
        m * 1_000_000 + n for _, n, m in new
    )
    assert _listing_stamp(old) != _listing_stamp(new)
    assert _listing_stamp(old) == _listing_stamp(list(reversed(old)))
