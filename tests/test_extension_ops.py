"""Invariant tests for the non-SQL-expressible extension operators.

The oracle harness covers the deterministic queries; these tests pin down
the probabilistic ones: MinHash-LSH recall + candidate bounds, SimHash
locality, hyperplane-ANN recall vs brute force, and the multimodal decode
plumbing (schema, Arrow batching, determinism).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gads_etl_spark.catalog import load_table
from gads_etl_spark.operators import dedup as D
from gads_etl_spark.operators import multimodal as MM
from gads_etl_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def _true_jaccard_pairs(spark, docs, threshold):
    """Brute-force shingle-Jaccard pairs (test-only; fine at sf0.001)."""
    t = docs.select("doc_id", D.shingles(F.col("text")).alias("sh"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return (
        a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id")
    )


class TestMinHashLSH:
    def test_high_similarity_pairs_are_candidates(self, spark, docs):
        """Every pair with true Jaccard ≥ 0.8 must appear in the LSH
        candidate set (collision prob at s=0.8, r=4, b=8 is ≈ 0.986)."""
        true_pairs = {(r.a_id, r.b_id) for r in _true_jaccard_pairs(spark, docs, 0.8).collect()}
        cands = {(r.a_id, r.b_id)
                 for r in D.minhash_candidate_pairs(docs, num_hashes=32, bands=8).collect()}
        assert true_pairs, "fixture should contain at least one near-dup pair"
        assert true_pairs <= cands

    def test_candidates_far_below_all_pairs(self, docs):
        n = docs.count()
        n_cand = D.minhash_candidate_pairs(docs, num_hashes=32, bands=8).count()
        assert n_cand < 0.05 * n * (n - 1) / 2

    def test_signatures_shape(self, docs):
        sigs = D.minhash_signatures(docs, num_hashes=8)
        assert sigs.count() == docs.count()
        lens = sigs.select(F.size("sig").alias("k")).distinct().collect()
        assert [r["k"] for r in lens] == [8]


class TestIncrementalDedup:
    def test_incremental_equals_full_corpus_pairs(self, spark, docs):
        """The batch-vs-index join must find exactly the pairs involving a
        new doc that the full-corpus self-join would find — the proof the
        incremental path loses nothing by skipping corpus re-shingling."""
        corpus = docs.where(F.col("doc_id") % 3 != 0)
        batch = docs.where(F.col("doc_id") % 3 == 0)
        index = D.minhash_band_keys(corpus)
        inc = D.incremental_minhash_candidates(batch, index)
        got = {(r.new_id, r.match_id, r.match_origin) for r in inc.collect()}

        full = D.minhash_candidate_pairs(docs)
        batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
        expected = set()
        for r in full.collect():
            a_new, b_new = r.a_id in batch_ids, r.b_id in batch_ids
            if a_new and b_new:
                expected.add((r.b_id, r.a_id, "batch"))  # larger id reports
            elif a_new:
                expected.add((r.a_id, r.b_id, "index"))
            elif b_new:
                expected.add((r.b_id, r.a_id, "index"))
        assert got == expected

    def test_stateless_band_keys_bit_identical(self, spark, docs):
        # The streaming formulation must produce EXACTLY the batch band
        # keys, or a stream-deduped corpus would disagree with a
        # batch-deduped one.
        batch = {(r.doc_id, r.band, r.band_key)
                 for r in D.minhash_band_keys(docs).collect()}
        stateless = {(r.doc_id, r.band, r.band_key)
                     for r in D.minhash_band_keys_stateless(docs).collect()}
        assert batch == stateless

    def test_exact_copy_always_hits_index(self, spark, docs):
        index = D.minhash_band_keys(docs)
        copies = docs.where(F.col("doc_id") < 5).withColumn(
            "doc_id", F.col("doc_id") + 900000)
        hits = D.incremental_minhash_candidates(copies, index)
        matched = {
            (r.new_id - 900000, r.match_id)
            for r in hits.where(F.col("match_origin") == "index").collect()
        }
        # identical text ⇒ identical bands ⇒ probability-1 recall
        assert {(i, i) for i in range(5)} <= matched


class TestSimHash:
    def test_deterministic(self, docs):
        a = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
        b = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
        assert a == b and len(a) == docs.count()

    def test_near_dup_has_small_hamming(self, spark, docs):
        """The fixture's true near-dup pair must be close in hamming
        distance; random pairs must be far on average."""
        pairs = _true_jaccard_pairs(spark, docs, 0.8).collect()
        sig = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}

        def hamming(x, y):
            return bin((x ^ y) & ((1 << 64) - 1)).count("1")

        ids = sorted(sig)[:30]
        dists = [hamming(sig[a], sig[b]) for i, a in enumerate(ids) for b in ids[i + 1:]]
        mean_random = sum(dists) / len(dists)
        for p in pairs:
            near = hamming(sig[p.a_id], sig[p.b_id])
            # Near-dups must sit well inside the random-pair distribution
            # (the fixture vocabulary is tiny, so random docs correlate;
            # the test is relative, not an absolute bit threshold).
            assert near <= 12 and near < 0.6 * mean_random


class TestHyperplaneANN:
    def test_recall_vs_bruteforce(self, emb):
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        exact = S.cosine_topk_bruteforce(corpus, queries, k=5).collect()
        approx = S.lsh_topk(corpus, queries, k=5).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        approx_sets = {}
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
        total = sum(len(v) for v in exact_sets.values())
        assert hits / total >= 0.5, f"ANN recall {hits}/{total} too low"

    def test_ivf_recall_vs_bruteforce(self, emb):
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        exact = S.cosine_topk_bruteforce(corpus, queries, k=5).collect()
        approx = S.ivf_topk(corpus, queries, k=5, n_clusters=8, n_probe=3).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
        total = sum(len(v) for v in exact_sets.values())
        assert hits / total >= 0.5, f"IVF recall {hits}/{total} too low"

    def test_ivfpq_recall_vs_bruteforce(self, emb):
        # The composed index (cells prune, codes score, exact re-rank)
        # must keep most true neighbours despite BOTH approximations
        # stacking. The re-rank pool (50) is generous at this scale, so
        # losses can only come from cell pruning.
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        exact = S.cosine_topk_bruteforce(corpus, queries, k=5).collect()
        approx = S.ivfpq_topk(corpus, queries, k=5, n_clusters=8,
                              n_probe=3).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
        total = sum(len(v) for v in exact_sets.values())
        assert hits / total >= 0.5, f"IVF-PQ recall {hits}/{total} too low"

    def test_ivfpq_residual_recall_at_least_raw(self, emb):
        # IVFADC's whole point: residual coding must not LOSE recall vs
        # raw-vector coding at the same index budget (same cells, same
        # m × pq_k) — on this fixture it must be >= the raw variant.
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        exact = S.cosine_topk_bruteforce(corpus, queries, k=5).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        total = sum(len(v) for v in exact_sets.values())

        def recall(fn):
            approx_sets = {}
            for r in fn(corpus, queries, k=5, n_clusters=8,
                        n_probe=3).collect():
                approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
            return sum(len(exact_sets[q] & approx_sets.get(q, set()))
                       for q in exact_sets) / total

        raw, res = recall(S.ivfpq_topk), recall(S.ivfpq_residual_topk)
        assert res >= raw, f"residual recall {res} < raw {raw}"
        assert res >= 0.5

    def test_ivfpq_residual_planted_copy_is_rank1(self, emb):
        # The per-cell min-ADC argument exercised directly: planted
        # copies must return at rank 1 / cosine 1.0 under IVFADC.
        queries = emb.where(F.col("vec_id") < 5)
        corpus = emb.where(F.col("vec_id") >= 5).unionByName(
            queries.withColumn("vec_id", F.col("vec_id") + 100000))
        top1 = S.ivfpq_residual_topk(corpus, queries, k=1).collect()
        assert {r.query_id: (r.neighbor_id, r.cos_sim) for r in top1} == {
            q: (q + 100000, 1.0) for q in range(5)}

    def test_ivfpq_planted_copy_is_rank1(self, emb):
        # The derived-oracle argument, exercised directly: copies of the
        # queries planted in the corpus must come back at rank 1 with
        # cosine 1.0 under the composed index.
        queries = emb.where(F.col("vec_id") < 5)
        corpus = emb.where(F.col("vec_id") >= 5).unionByName(
            queries.withColumn("vec_id", F.col("vec_id") + 100000))
        top1 = S.ivfpq_topk(corpus, queries, k=1).collect()
        assert {r.query_id: (r.neighbor_id, r.cos_sim) for r in top1} == {
            q: (q + 100000, 1.0) for q in range(5)}

    def test_bruteforce_self_similarity(self, emb):
        """A vector queried against a corpus containing itself ranks
        itself first with cos_sim 1.0."""
        res = S.cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 3), k=1).collect()
        assert {r.query_id for r in res} == {0, 1, 2}
        for r in res:
            assert r.neighbor_id == r.query_id and r.cos_sim == 1.0


class TestMultimodal:
    def test_payload_roundtrip_schema(self, docs):
        payloads = MM.as_binary_payload(docs)
        row = payloads.first()
        assert isinstance(row.payload, (bytes, bytearray))
        assert row.byte_len == len(row.payload)
        assert len(row.payload_sha256) == 64

    def test_decode_features_deterministic(self, docs):
        payloads = MM.as_binary_payload(docs)
        a = {r.doc_id: r.features for r in MM.decode_features(payloads).collect()}
        b = {r.doc_id: r.features for r in MM.decode_features(payloads).collect()}
        assert a == b and len(a) == docs.count()
        dim = {len(v) for v in a.values()}
        assert dim == {MM.FEATURE_DIM}

    def test_frame_sampling_fanout(self, docs):
        payloads = MM.as_binary_payload(docs)
        frames = MM.sample_frames(payloads, every_nth=4, max_frames=3,
                                  height=8, width=8)
        rows = frames.collect()
        assert rows and all(len(r.frame) == 64 for r in rows)
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert all(1 <= len(v) <= 3 for v in per_doc.values())
        assert all(sorted(v) == [4 * i for i in range(len(v))] for v in per_doc.values())
        # Deterministic across runs.
        again = {(r.doc_id, r.frame_idx): r.frame for r in
                 MM.sample_frames(payloads, 4, 3, 8, 8).collect()}
        assert all(again[(r.doc_id, r.frame_idx)] == r.frame for r in rows)

    def test_decode_batches_follow_partitioning(self, docs):
        payloads = MM.as_binary_payload(docs).repartition(4)
        out = MM.decode_features(payloads)
        assert out.rdd.getNumPartitions() == 4
        assert out.count() == docs.count()


class TestInt8Quantization:
    def test_bounds_and_fidelity(self, emb):
        q = S.quantize_int8(emb)
        rows = q.select(
            F.array_min("q_vec").alias("lo"), F.array_max("q_vec").alias("hi"),
            F.col("q_scale"),
        ).collect()
        assert all(-127 <= r.lo and r.hi <= 127 for r in rows)
        assert all(r.q_scale > 0 for r in rows)
        # Every vector hits the ±127 envelope somewhere (scale = max/127).
        assert all(max(abs(r.lo), abs(r.hi)) == 127 for r in rows)

    def test_zero_vector_quantizes_to_zero(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0] * 8)], "vec_id long, embedding array<float>"
        )
        r = S.quantize_int8(df).collect()[0]
        assert list(r.q_vec) == [0] * 8
        assert r.q_scale == 0.0

    def test_quantized_topk_recall(self, emb):
        # Brute-force top-5 on dequantized int8 vectors recovers almost
        # all exact-float neighbours — the memory/recall trade the scale
        # path relies on.
        corpus, queries = emb.where(F.col("vec_id") >= 10), emb.where(F.col("vec_id") < 10)
        deq = (
            S.quantize_int8(corpus)
            .select(
                "vec_id",
                F.transform("q_vec", lambda x: (x.cast("double") * F.col("q_scale")).cast("float"))
                .alias("embedding"),
            )
        )
        exact = S.cosine_topk_bruteforce(corpus, queries, k=5).collect()
        approx = S.cosine_topk_bruteforce(deq, queries, k=5).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
        total = sum(len(v) for v in exact_sets.values())
        assert hits / total >= 0.9, f"int8 recall {hits}/{total} too low"


class TestIvfIndex:
    """Index-once / query-many: the production IVF shape — centroids and
    cell assignments persist; queries run against the stored index
    without re-clustering; new batches join the index via an
    assignment-only pass."""

    def test_persisted_index_matches_in_memory(self, spark, emb, tmp_path):
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        cents = S.fit_ivf_centroids(corpus, n_clusters=8)
        assigned = S.ivf_assign(corpus, cents, id_alias="neighbor_id",
                                vec_alias="c_vec")
        path = str(tmp_path / "ivf_index")
        assigned.write.partitionBy("cell").parquet(path)
        persisted = spark.read.parquet(path)
        direct = sorted(map(tuple, S.ivf_query(
            assigned, queries, cents, k=5, n_probe=3).collect()))
        from_disk = sorted(map(tuple, S.ivf_query(
            persisted, queries, cents, k=5, n_probe=3).collect()))
        assert direct == from_disk and direct

    def test_incremental_batch_is_reachable(self, spark, emb):
        """Vectors appended via assignment-only (no refit) must be found
        by subsequent queries — planted copies land in the new batch."""
        queries = emb.where(F.col("vec_id") < 5)
        base = emb.where(F.col("vec_id") >= 5)
        cents = S.fit_ivf_centroids(base, n_clusters=8)
        index = S.ivf_assign(base, cents, id_alias="neighbor_id",
                             vec_alias="c_vec")
        batch = queries.withColumn("vec_id", F.col("vec_id") + 100000)
        appended = index.unionByName(
            S.ivf_assign(batch, cents, id_alias="neighbor_id",
                         vec_alias="c_vec"))
        top1 = S.ivf_query(appended, queries, cents, k=1, n_probe=1).collect()
        assert {r.query_id: r.neighbor_id for r in top1} == {
            i: i + 100000 for i in range(5)
        }
        assert all(r.cos_sim == 1.0 for r in top1)

    def test_assignment_is_shuffle_free(self, spark, emb):
        plan = S.ivf_assign(
            emb, S.fit_ivf_centroids(emb, n_clusters=8)
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestProductQuantization:
    def test_codebooks_shape_and_determinism(self, emb):
        books = S.pq_train_codebooks(emb, m=8, k=16)
        assert len(books) == 8
        assert all(len(b) == 16 for b in books)
        assert all(len(c) == 8 for b in books for c in b)
        # Layout-invariant: hash-sampled + sorted before the fit, so a
        # repartitioned corpus trains bit-identical codebooks.
        books2 = S.pq_train_codebooks(emb.repartition(7), m=8, k=16)
        assert books == books2

    def test_codes_bounded_and_stable(self, emb):
        books = S.pq_train_codebooks(emb)
        enc = S.pq_encode(emb, books)
        rows = enc.select(
            F.size("pq_code").alias("m"),
            F.array_min("pq_code").alias("lo"), F.array_max("pq_code").alias("hi"),
        ).collect()
        assert all(r.m == 8 and 0 <= r.lo and r.hi <= 15 for r in rows)

    def test_recall_vs_bruteforce(self, emb):
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        books = S.pq_train_codebooks(corpus)
        exact = S.cosine_topk_bruteforce(corpus, queries, k=5).collect()
        approx = S.pq_topk(corpus, queries, books, k=5, rerank=50).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
        total = sum(len(v) for v in exact_sets.values())
        assert hits / total >= 0.5, f"PQ recall {hits}/{total} too low"

    def test_partition_invariance(self, emb):
        corpus = emb.where(F.col("vec_id") >= 10)
        queries = emb.where(F.col("vec_id") < 10)
        books = S.pq_train_codebooks(corpus)
        a = sorted(map(tuple, S.pq_topk(corpus, queries, books, k=3).collect()))
        b = sorted(map(tuple, S.pq_topk(
            corpus.repartition(11), queries.repartition(3), books, k=3).collect()))
        assert a == b

    def test_planted_copy_is_rank1_and_in_pool(self, emb):
        """The ADC-minimality guarantee the ext_knn_pq oracle rests on:
        an exact copy of the query attains the minimum ADC for ANY
        codebooks, so it can never be evicted from the re-rank pool —
        even with a tiny pool."""
        queries = emb.where(F.col("vec_id") < 5)
        copies = queries.withColumn("vec_id", F.col("vec_id") + 100000)
        corpus = emb.where(F.col("vec_id") >= 5).unionByName(copies)
        books = S.pq_train_codebooks(corpus)
        top1 = (
            S.pq_topk(corpus, queries, books, k=1, rerank=1)
            .collect()
        )
        assert {r.query_id: r.neighbor_id for r in top1} == {
            i: i + 100000 for i in range(5)
        }
        assert all(r.cos_sim == 1.0 for r in top1)


class TestSemanticDedup:
    """semantic_dedup: cluster-blocked SemDeDup pruning invariants."""

    def _with_copies(self, emb, n=20, offset=100_000):
        copies = emb.where(F.col("vec_id") < n).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding", "label"
        )
        return emb.select("vec_id", "embedding", "label").unionByName(copies)

    def test_injected_exact_duplicates_all_dropped(self, emb):
        corpus = self._with_copies(emb, n=20)
        surv = S.semantic_dedup(corpus, threshold=0.9)
        surv_ids = {r.vec_id for r in surv.select("vec_id").collect()}
        # every injected copy dropped, every source kept
        assert not any(i >= 100_000 for i in surv_ids)
        all_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
        assert surv_ids == {i for i in all_ids if i < 100_000}

    def test_survivors_are_subset_rows(self, emb):
        corpus = self._with_copies(emb, n=5)
        surv = S.semantic_dedup(corpus, threshold=0.9)
        assert surv.columns == corpus.columns
        assert surv.join(corpus, ["vec_id"], "left_anti").count() == 0

    def test_unreachable_threshold_keeps_everything(self, emb):
        corpus = emb.select("vec_id", "embedding", "label")
        surv = S.semantic_dedup(corpus, threshold=1.01)
        assert surv.count() == corpus.count()

    def test_every_dropped_has_lower_id_witness(self, emb):
        import numpy as np

        corpus = self._with_copies(emb, n=20)
        surv = S.semantic_dedup(corpus, threshold=0.9)
        dropped = corpus.join(surv.select("vec_id"), "vec_id", "left_anti")
        rows = {r.vec_id: np.array(r.embedding, dtype=float)
                for r in corpus.collect()}
        for r in dropped.collect():
            v = np.array(r.embedding, dtype=float)
            ok = any(
                i < r.vec_id
                and float(np.dot(rows[i], v)
                          / (np.linalg.norm(rows[i]) * np.linalg.norm(v))) >= 0.9 - 1e-9
                for i in rows
            )
            assert ok, f"dropped {r.vec_id} has no lower-id near-dup witness"


class TestDuplicatedSpans:
    def _spans(self, spark, docs, **kw):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        return sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
            for r in D.duplicated_spans(df, k=3, **kw).collect()
        )

    def test_shared_run_found_in_both_docs(self, spark):
        docs = [
            (1, "a b c d e unique1 one"),
            (2, "other words a b c d e trailing"),
        ]
        # Shared 5-token run "a b c d e" = 3 overlapping 3-grams.
        assert self._spans(spark, docs) == [
            (1, 1, 5, 3),
            (2, 3, 7, 3),
        ]

    def test_short_doc_and_no_cross_doc_dup(self, spark):
        docs = [(1, "x y"), (2, "p q r p q r p q r")]
        # Doc 1 is shorter than k; doc 2 repeats a phrase but only
        # WITHIN itself — min_docs=2 counts distinct documents.
        assert self._spans(spark, docs) == []

    def test_disjoint_spans_stay_separate(self, spark):
        docs = [
            (1, "a b c gap1 gap2 gap3 x y z"),
            (2, "a b c other filler words x y z"),
        ]
        assert self._spans(spark, docs) == [
            (1, 1, 3, 1), (1, 7, 9, 1),
            (2, 1, 3, 1), (2, 7, 9, 1),
        ]

    def test_adjacent_coverage_merges(self, spark):
        # Doc 3 contains both shared runs back-to-back: coverage is
        # contiguous so the two islands merge into one span.
        docs = [
            (1, "a b c filler0 filler1"),
            (2, "x y z filler2 filler3"),
            (3, "a b c x y z"),
        ]
        assert self._spans(spark, docs) == [
            (1, 1, 3, 1),
            (2, 1, 3, 1),
            (3, 1, 6, 2),
        ]


class TestBlockedEditDistance:
    """blocked_edit_distance_pairs: linkage semantics on synthetic names."""

    def _pairs(self, spark, rows, max_dist=2):
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        return {
            (r.a_id, r.b_id, r.edit_dist)
            for r in D.blocked_edit_distance_pairs(
                df, block_cols=["blk"], id_col="id",
                name_col="name", max_dist=max_dist,
            ).collect()
        }

    def test_matches_within_block_with_exact_distance(self, spark):
        got = self._pairs(
            spark,
            [(1, "red bolt", "x"), (2, "red bolts", "x"),
             (3, "red bolt", "x"), (4, "blue gear", "x")],
        )
        assert got == {(1, 2, 1), (1, 3, 0), (2, 3, 1)}

    def test_cross_block_pairs_never_compared(self, spark):
        got = self._pairs(
            spark, [(1, "red bolt", "x"), (2, "red bolt", "y")]
        )
        assert got == set()

    def test_length_prefilter_keeps_boundary_pair(self, spark):
        # length diff == max_dist must survive the prefilter
        # (|len(a)-len(b)| is a Levenshtein lower bound, not strict).
        got = self._pairs(spark, [(1, "gear", "x"), (2, "gearxy", "x")])
        assert got == {(1, 2, 2)}

    def test_pairs_are_ordered_and_unique(self, spark):
        rows = [(i, "same name", "x") for i in range(6)]
        got = self._pairs(spark, rows)
        assert len(got) == 15  # C(6,2), each once
        assert all(a < b and d == 0 for a, b, d in got)

    def test_candidate_budget_guard_trips_on_hot_block(self, spark):
        # A planted hot block (everything one key, one length bucket)
        # makes sum(|block|^2) = n^2 — with a budget below that the
        # guard must refuse BEFORE the pair join and name the twin.
        import pytest as _pytest

        rows = [(i, "same name", "x") for i in range(50)]
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        with _pytest.raises(D.CandidateBudgetExceeded,
                            match="edit_distance_pairs_passjoin"):
            D.blocked_edit_distance_pairs(
                df, block_cols=["blk"], id_col="id", name_col="name",
                candidate_budget=1000).count()
        # budget=None waives; the identical input then runs to an answer
        n = D.blocked_edit_distance_pairs(
            df, block_cols=["blk"], id_col="id", name_col="name",
            candidate_budget=None).count()
        assert n == 50 * 49 // 2

    def test_pairs_straddling_length_buckets_found_once(self, spark):
        # Lengths 4,5,6,7 span bucket boundaries at width=max_dist=2;
        # every qualifying pair must appear exactly once regardless of
        # which buckets the two lengths land in.
        rows = [(1, "gear", "x"), (2, "gears", "x"),
                (3, "gearsx", "x"), (4, "gearsxy", "x")]
        got = self._pairs(spark, rows)
        assert got == {(1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 4, 2), (3, 4, 1)}


class TestPassJoinEditDistance:
    """edit_distance_pairs_passjoin must equal the blocked variant on
    every input — same pairs, same distances (PassJoin's segment
    pigeonhole is lossless for an exact edit-distance join)."""

    def _both(self, spark, rows, max_dist=2):
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        kw = dict(block_cols=["blk"], id_col="id",
                  name_col="name", max_dist=max_dist)
        ref = {(r.a_id, r.b_id, r.edit_dist)
               for r in D.blocked_edit_distance_pairs(df, **kw).collect()}
        got = {(r.a_id, r.b_id, r.edit_dist)
               for r in D.edit_distance_pairs_passjoin(df, **kw).collect()}
        return ref, got

    def test_equals_blocked_on_mixed_corpus(self, spark):
        rows = [
            (1, "red bolt", "x"), (2, "red bolts", "x"),
            (3, "red bolt", "x"), (4, "blue gear", "x"),
            (5, "blue gearz", "x"), (6, "red bolt", "y"),
            (7, "rod bolt", "x"), (8, "red blot", "x"),
            (9, "completely different", "x"),
        ]
        ref, got = self._both(spark, rows)
        assert got == ref and len(ref) > 0

    def test_short_strings_with_empty_segments(self, spark):
        # len < nseg => some segments are empty; the pigeonhole must
        # still hold (deletions down to the empty string included).
        rows = [(1, "a", "x"), (2, "ab", "x"), (3, "b", "x"),
                (4, "", "x"), (5, "abc", "x"), (6, "abcd", "x"),
                (7, "zzzz", "x")]
        ref, got = self._both(spark, rows)
        assert got == ref and len(ref) > 0

    def test_indel_shifted_segments(self, spark):
        # A leading insertion shifts every later segment by one; the
        # probe-side +/- tau shift window must still align them.
        rows = [(1, "abcdefghij", "x"), (2, "xabcdefghij", "x"),
                (3, "abcdefghij!", "x"), (4, "abcdefghi", "x"),
                (5, "abXdefghij", "x")]
        for md in (1, 2, 3):
            ref, got = self._both(spark, rows, max_dist=md)
            assert got == ref and len(ref) > 0

    def test_cross_block_pairs_never_compared(self, spark):
        ref, got = self._both(
            spark, [(1, "red bolt", "x"), (2, "red bolt", "y")])
        assert got == ref == set()

    def test_random_corpus_matches_brute_force(self, spark):
        # Seeded random strings over a 3-letter alphabet (forced
        # near-collisions), lengths 0-8, against an O(n^2) driver-side
        # Levenshtein — catches any lossy probe-window pruning.
        import itertools
        import random

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        rng = random.Random(7)
        rows = [(i, "".join(rng.choice("abc")
                            for _ in range(rng.randrange(0, 9))), "x")
                for i in range(120)]
        for md in (1, 2):
            want = {(a[0], b[0], lev(a[1], b[1]))
                    for a, b in itertools.combinations(rows, 2)
                    if lev(a[1], b[1]) <= md}
            ref, got = self._both(spark, rows, max_dist=md)
            assert got == want, f"passjoin != brute force at max_dist={md}"
            assert ref == want, f"blocked != brute force at max_dist={md}"


class TestTfidfCosine:
    """tfidf_cosine_pairs vs a driver-side brute force with the same
    quantized semantics."""

    def _brute(self, rows, threshold, max_df, quant=1000):
        import math
        from collections import Counter

        tf = {i: Counter(t.split()) for i, t in rows}
        df = Counter(term for c in tf.values() for term in c)
        n = len(rows)
        w = {
            i: {t: round(c * math.log(n / df[t]) * quant)
                for t, c in cnt.items() if df[t] <= max_df}
            for i, cnt in tf.items()
        }
        out = set()
        ids = sorted(w)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = w[ids[x]], w[ids[y]]
                dot = sum(a[t] * b[t] for t in a.keys() & b.keys())
                na = math.sqrt(sum(v * v for v in a.values()))
                nb = math.sqrt(sum(v * v for v in b.values()))
                if na and nb:
                    cs = round(dot / (na * nb), 6)
                    if cs >= threshold:
                        out.add((ids[x], ids[y], cs))
        return out

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(21)
        vocab = [f"w{i}" for i in range(30)]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randrange(5, 25))))
                for i in range(40)]
        # plant two exact near-dups
        rows.append((100, rows[0][1]))
        rows.append((101, rows[1][1] + " extraword"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.a_id, r.b_id, r.cos_sim)
            for r in D.tfidf_cosine_pairs(
                df, threshold=0.5, max_df=30, id_col="doc_id",
            ).collect()
        }
        want = self._brute(rows, 0.5, 30)
        assert got == want and (0, 100, 1.0) in got

    def test_candidate_budget_guard_trips_on_hot_terms(self, spark):
        # Docs all sharing the same rare-vocabulary text put every
        # posting in every prefix: estimate = vocab * n_prefix * n_docs,
        # far over a small budget — refuse, naming the scale twin.
        import pytest as _pytest

        # 40 identical docs (hot terms, df=40) + 40 unique-word fillers
        # (so ln(N/df) > 0 — with df == N every weight is ln(1) = 0 and
        # no prefix exists to estimate over).
        rows = [(i, "alpha beta gamma delta") for i in range(40)]
        rows += [(100 + i, f"unique{i}") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with _pytest.raises(D.CandidateBudgetExceeded,
                            match="minhash_candidate_pairs"):
            D.tfidf_cosine_pairs(df, threshold=0.6, max_df=100,
                                 id_col="doc_id",
                                 candidate_budget=100).count()
        got = D.tfidf_cosine_pairs(df, threshold=0.6, max_df=100,
                                   id_col="doc_id",
                                   candidate_budget=None).count()
        assert got == 40 * 39 // 2  # all-identical docs all pair at 1.0

    def test_stopword_cut_drops_high_df_terms(self, spark):
        # 'the' appears in every doc; with max_df=2 it contributes
        # nothing, so docs sharing only 'the' never pair.
        rows = [(1, "the alpha"), (2, "the beta"), (3, "the alpha")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.a_id, r.b_id) for r in D.tfidf_cosine_pairs(
            df, threshold=0.1, max_df=2, id_col="doc_id").collect()}
        assert got == {(1, 3)}


class TestSortedNeighborhood:
    """sorted_neighborhood_pairs: rank-window candidates, exactly."""

    def _want(self, rows, window):
        ranked = sorted(rows, key=lambda r: (r[1], r[0]))
        out = set()
        for i, a in enumerate(ranked):
            for j in range(i + 1, min(i + window, len(ranked))):
                out.add((a[0], ranked[j][0], j - i))
        return out

    def _got(self, spark, rows, window, n_parts=None):
        df = spark.createDataFrame(rows, "id long, name string")
        return {
            (r.a_id, r.b_id, r.rank_gap)
            for r in D.sorted_neighborhood_pairs(
                df, sort_cols=["name"], window=window, id_col="id",
                n_parts=n_parts,
            ).collect()
        }

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(11)
        rows = [(i, "".join(rng.choice("abcd") for _ in range(4)))
                for i in range(80)]
        for w in (2, 3, 5):
            assert self._got(spark, rows, w) == self._want(rows, w)

    def test_partition_invariant(self, spark):
        import random

        rng = random.Random(12)
        rows = [(i, "".join(rng.choice("ab") for _ in range(3)))
                for i in range(60)]
        want = self._want(rows, 4)
        for n_parts in (2, 7, 16):
            assert self._got(spark, rows, 4, n_parts) == want

    def test_window_one_yields_nothing(self, spark):
        rows = [(1, "a"), (2, "a"), (3, "b")]
        assert self._got(spark, rows, 1) == set()


class TestSpreadHelper:
    def test_spreads_compact_input(self, spark):
        from gads_etl_spark.operators.util import spread

        df = spark.range(1000).coalesce(1)
        assert spread(df).rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism

    def test_leaves_wide_input_alone(self, spark):
        from gads_etl_spark.operators.util import spread

        target = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(target * 2)
        # Already past the parallelism target: spread must be a no-op —
        # at scale this is the difference between zero shuffle and
        # shuffling the whole corpus.
        assert spread(df) is df

    def test_downstream_of_shuffle_is_noop_without_rdd_probe(self, spark):
        # A plan containing an Exchange must take the no-op path BEFORE
        # the df.rdd probe — under AQE that probe materializes the query
        # stages, silently running the upstream join twice. `is df`
        # proves neither the probe's repartition nor any rewrite ran.
        from gads_etl_spark.operators.util import spread

        left = spark.range(500).select((F.col("id") % 50).alias("k"), "id")
        right = spark.range(50).select(F.col("id").alias("k"))
        joined = left.join(right, "k")  # shuffle (or broadcast) join plan
        agg = joined.groupBy("k").count()  # guaranteed Exchange
        assert "Exchange" in agg._jdf.queryExecution().executedPlan().toString()
        assert spread(agg) is agg


class TestWinnowFingerprints:
    """Round-17 Arrow rewrite of the winnow fingerprint operator: the
    vectorized distinct-gram path must be value-identical to the
    round-16 all-expression form it replaced, across every edge the
    expression semantics have (character substrings vs bytes, short
    docs, truncated windows, NULL text, NUL bytes)."""

    @staticmethod
    def _expression_form(docs):
        # the exact round-16 query body, kept as the reference
        grams = F.expr(
            "transform(sequence(1, greatest(length(text) - 3, 1)), "
            "i -> md5(substring(text, i, 4)))")
        fps = F.expr(
            "array_distinct(transform(sequence(1, greatest(size(g) - 3, 1)), "
            "j -> array_min(slice(g, j, 4))))")
        return (docs.select("doc_id", grams.alias("g"))
                .select("doc_id", fps.alias("fps"))
                .select("doc_id",
                        F.size("fps").cast("long").alias("n_fingerprints"),
                        F.array_min("fps").alias("min_fp"),
                        F.array_max("fps").alias("max_fp")))

    def test_matches_expression_form(self, spark):
        import random

        from gads_etl_spark.operators.dedup import winnow_fingerprints

        rng = random.Random(17)
        vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(10, 60))))
                for i in range(50)]
        edge = [
            (100, None),             # NULL text -> NULL fields
            (101, ""),               # md5('') single fingerprint
            (102, "a"), (103, "ab"), (104, "abc"),   # sub-gram docs
            (105, "abcd"),           # exactly one gram, one window
            (106, "abcdef"),         # truncated single window (ng=3)
            (107, "aaaaaaaaaa"),     # one distinct gram repeated
            (108, "héllo wörld ünïcode ünïcode"),   # bytes != chars
            (109, "こんにちは世界ですこんにちは"),        # 3-byte chars
            (110, "İstanbul İzmir İstanbul"),
            (111, "ab\x00cd\x00ef gh"),              # NUL inside ASCII
        ]
        docs = spark.createDataFrame(rows + edge, "doc_id long, text string")
        # doc_ids are distinct, so tuple sort never compares the
        # NULL-able fields
        got = sorted(map(tuple, winnow_fingerprints(docs).collect()))
        want = sorted(map(tuple, self._expression_form(docs).collect()))
        assert got == want


class TestTrigramTypicality:
    """Round-17 Arrow rewrite of trigram typicality: the two-pass
    vectorized operator must be value-identical to the round-16
    two-explode expression form across every semantic edge: the
    position bound on length(text) while slicing lower(text) (ADVICE
    r16), Spark's sequence(1,0) == [1,0] single-gram behavior for
    length <= 2, NULL text's single NULL gram, JVM-vs-Python lowercase
    (lower() runs in the JVM in both forms), non-ASCII slicing."""

    @staticmethod
    def _expression_form(docs, min_df):
        tri = docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(
                "transform(array(lower(text)), lt_ -> "
                "transform(sequence(1, greatest(length(text) - 2, 0)), "
                "i_ -> substring(lt_, i_, 3)))[0]"
            ))).alias("g"),
        )
        freq = (
            tri.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= min_df).select("g", F.lit(1).alias("_f"))
        )
        return (
            tri.join(F.broadcast(freq), "g", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_trigrams"),
                F.count("_f").cast("long").alias("n_typical"),
            )
        )

    def test_matches_expression_form(self, spark):
        import random

        from gads_etl_spark.operators.quality import trigram_typicality

        rng = random.Random(23)
        vocab = ["data", "table", "rows", "spark", "query", "graph"]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(5, 40))))
                for i in range(60)]
        edge = [
            (100, None), (101, ""), (102, "a"), (103, "ab"),
            (104, "abc"), (105, "ABCD"),
            (106, "İstanbul İzmir"),      # lowercase lengthens the text
            (107, "KELVIN K SIGN"),       # U+212A lowercases into ASCII
            (108, "こんにちは世界"),
            (109, "aaaa bbbb aaaa"),
        ]
        docs = spark.createDataFrame(rows + edge, "doc_id long, text string")
        # min_df=3 exercises a non-trivial frequent set on 70 docs
        got = sorted(map(tuple, trigram_typicality(docs, min_df=3).collect()))
        want = sorted(map(tuple,
                          self._expression_form(docs, min_df=3).collect()))
        assert got == want


class TestStripDuplicatedSpans:
    def test_cut_and_passthrough(self, spark):
        docs = spark.createDataFrame([
            (1, "a b c d e unique1 one"),
            (2, "other words a b c d e trailing"),
            (3, "totally unrelated content here now"),
        ], "doc_id long, text string")
        out = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in D.strip_duplicated_spans(docs, k=3).collect()}
        assert out == {
            1: ("unique1 one", 5),
            2: ("other words trailing", 5),
            3: ("totally unrelated content here now", 0),
        }

    def test_fully_covered_doc_empties(self, spark):
        docs = spark.createDataFrame([
            (1, "a b c"), (2, "a b c"),
        ], "doc_id long, text string")
        out = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in D.strip_duplicated_spans(docs, k=3).collect()}
        assert out == {1: ("", 3), 2: ("", 3)}


class TestDupSpansDifferential:
    """The Arrow rebuild of duplicated_spans / strip_duplicated_spans
    (broadcast duplicated-gram set, one per-document pass) must be
    value-identical to the shuffle/window/join forms it replaced, across
    the edges of their semantics: Java's ASCII-only ``\\s+`` split (empty
    leading/trailing tokens, tab, newline, vertical tab, while NBSP and
    other non-ASCII spaces are NOT separators), docs shorter than k, NULL
    text, NULL id (probed, not counted), a gram repeated inside ONE
    document only, merging of adjacent/overlapping windows, non-ASCII
    tokens, and several ``min_docs``."""

    @staticmethod
    def _spans_form(df, k, min_docs, id_col="doc_id", text_col="text"):
        # the exact previous duplicated_spans body, kept as the reference
        from pyspark.sql.window import Window

        toks = df.select(F.col(id_col), D.tokens(F.col(text_col)).alias("_t"))
        n = F.size("_t")
        positions = F.when(
            n >= F.lit(k), F.sequence(F.lit(1), n - F.lit(k - 1))
        ).otherwise(F.array().cast("array<int>"))
        g = toks.select(
            F.col(id_col),
            F.explode(positions).alias("pos"),
            F.col("_t"),
        ).select(
            id_col, "pos",
            F.array_join(F.slice("_t", F.col("pos"), F.lit(k)), " ").alias("gram"),
        )
        dup = (
            g.groupBy("gram")
            .agg(F.countDistinct(id_col).alias("_nd"))
            .where(F.col("_nd") >= min_docs)
            .select("gram")
        )
        hits = g.join(dup, "gram").select(id_col, "pos",
                                          (F.col("pos") + F.lit(k - 1)).alias("e"))
        w = Window.partitionBy(id_col).orderBy("pos")
        prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
        islands = hits.withColumn(
            "_new", F.when(prev_max.isNull() | (F.col("pos") > prev_max + 1), 1)
                     .otherwise(0)
        ).withColumn("_island", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        return (
            islands.groupBy(id_col, "_island")
            .agg(
                F.min("pos").cast("long").alias("span_start"),
                F.max("e").cast("long").alias("span_end"),
                F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
            )
            .drop("_island")
        )

    @staticmethod
    def _strip_form(df, spans, id_col="doc_id", text_col="text",
                    out_col="clean_text"):
        # the exact previous strip_duplicated_spans body
        sp = spans.groupBy(id_col).agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
        )
        kept = (
            "filter(zip_with(split(`{t}`, '\\\\s+'), "
            "sequence(1, size(split(`{t}`, '\\\\s+'))), "
            "(tok_, i_) -> struct(tok_ AS tok, i_ AS i)), "
            "p_ -> __sp IS NULL OR NOT exists(__sp, "
            "s_ -> p_.i >= s_.span_start AND p_.i <= s_.span_end))"
        ).format(t=text_col)
        return (
            df.join(sp, id_col, "left")
            .withColumn("__kept", F.expr(kept))
            .withColumn(out_col, F.array_join("__kept.tok", " "))
            .withColumn(
                "n_removed_tokens",
                (F.size(D.tokens(F.col(text_col))) - F.size("__kept")).cast("long"),
            )
            .drop("__sp", "__kept")
        )

    @staticmethod
    def _docs(spark):
        import random

        rng = random.Random(8)
        vocab = ["a", "b", "c", "d", "e", "f", "g"]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(0, 14))))
                for i in range(40)]
        edge = [
            (100, None),                     # NULL text
            (101, ""), (102, "a b"),         # shorter than k
            (103, " a b c d"),               # leading space: empty token
            (104, "a b c d "),               # trailing space: empty token
            (105, "a  b\tc\nd\x0be\x0c\rf"),  # ASCII whitespace runs
            (106, "a\u00a0b c d"),           # NBSP is not Java \s
            (107, "a\u2003b\x1cc\x85d e"),   # nor are these
            (108, "x y z x y z x y z"),      # repeated in ONE doc only
            (109, "p q r s t u"),            # p q r + s t u adjacent ...
            (110, "p q r zz1"), (111, "zz2 s t u"),
            (112, "m n o m"), (113, "n o m n"),  # overlapping windows
            (114, "héllo wörld ünï cöde héllo"),
            (115, "日本 語 テ キ スト"), (116, "語 テ キ 日本"),
            (None, "a b c d e f g"),         # NULL id: probed, not counted
            (117, "h i j"), (118, "h i j k"),
        ]
        return spark.createDataFrame(rows + edge, "doc_id long, text string")

    @staticmethod
    def _rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    @pytest.mark.parametrize("min_docs", [1, 2, 3])
    def test_spans_match_previous_form(self, spark, min_docs):
        docs = self._docs(spark)
        got = self._rows(D.duplicated_spans(docs, k=3, min_docs=min_docs))
        want = self._rows(self._spans_form(docs, 3, min_docs))
        assert got == want and want

    @pytest.mark.parametrize("min_docs", [1, 2, 3])
    def test_strip_matches_previous_form(self, spark, min_docs):
        docs = self._docs(spark)
        got = self._rows(D.strip_duplicated_spans(docs, k=3, min_docs=min_docs)
                         .select("doc_id", "text", "clean_text",
                                 "n_removed_tokens"))
        want = self._rows(self._strip_form(
            docs, self._spans_form(docs, 3, min_docs))
            .select("doc_id", "text", "clean_text", "n_removed_tokens"))
        assert got == want


class TestSimhashRadiusPairs:
    def test_exact_vs_brute_force(self, spark):
        """Pigeonhole chunk blocking must be LOSSLESS: the chunked join
        recovers exactly the pairs a brute-force O(n²) popcount finds."""
        from gads_etl_spark.operators.dedup import simhash, simhash_radius_pairs

        docs = spark.createDataFrame(
            [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
             for i in range(60)],
            "doc_id long, text string")
        got = {(r["a_id"], r["b_id"], r["hamming"])
               for r in simhash_radius_pairs(docs, radius=3).collect()}
        fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        brute = {
            (a, b, bin(fp[a] ^ fp[b]).count("1"))
            for a in fp for b in fp
            if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3
        }
        assert got == brute

    def test_radius_zero_finds_exact_duplicates_only(self, spark):
        from gads_etl_spark.operators.dedup import simhash_radius_pairs

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
             (3, "totally different words here")],
            "doc_id long, text string")
        got = {(r["a_id"], r["b_id"]) for r in
               simhash_radius_pairs(docs, radius=0).collect()}
        assert got == {(1, 2)}


class TestRetrievalFusion:
    """operators/retrieval.py: ranked_topk determinism and rrf_fuse
    semantics (exact nano-int scores, rank-0 absence sentinel)."""

    def test_ranked_topk_orders_and_tiebreaks(self, spark):
        from gads_etl_spark.operators import retrieval as R

        scored = spark.createDataFrame(
            [(1, 30), (2, 50), (3, 50), (4, 10), (5, 40)],
            "doc_id long, s long")
        got = [(r.doc_id, r.rank)
               for r in R.ranked_topk(scored, "s", k=3).collect()]
        # score desc, id asc on ties; only k rows survive
        assert sorted(got, key=lambda t: t[1]) == [(2, 1), (3, 2), (5, 3)]

    def test_rrf_fuse_exact_scores_and_sentinels(self, spark):
        from gads_etl_spark.operators import retrieval as R

        lex = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
        vec = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank long")
        rows = {r.doc_id: r for r in
                R.rrf_fuse({"lex": lex, "vec": vec}, k=60).collect()}
        c = lambda rank: round(1e9 / (60 + rank))
        assert rows[1].rrf_nano == c(1) and rows[1].rank_vec == 0
        assert rows[2].rrf_nano == c(2) + c(1)  # both signals fired
        assert rows[3].rrf_nano == c(2) and rows[3].rank_lex == 0
        # doc in both lists outranks either single-signal doc
        assert rows[2].rrf_nano > max(rows[1].rrf_nano, rows[3].rrf_nano)

    def test_bm25_multi_slices_equal_single_query_runs(self, spark):
        # The batched operator must be exactly the per-query operator
        # run N times: each query_id slice of bm25_scores_multi equals
        # bm25_scores for that query's term list.
        from gads_etl_spark.operators import retrieval as R

        docs = load_table(spark, SF, "documents")
        qrel = {"q_hash": ["hash", "join", "filter"],
                "q_sort": ["sort", "merge", "order"]}
        q = spark.createDataFrame(
            [(qid, t) for qid, ts in qrel.items() for t in ts],
            "query_id string, term string")
        multi = R.bm25_scores_multi(docs, q).collect()
        for qid, terms in qrel.items():
            got = {(r.doc_id, r.sm) for r in multi if r.query_id == qid}
            want = {(r.doc_id, r.sm)
                    for r in R.bm25_scores(docs, terms).collect()}
            assert got == want, qid
        assert len(multi) > 0

    def test_bm25_multi_empty_inputs(self, spark):
        from gads_etl_spark.operators import retrieval as R

        docs = load_table(spark, SF, "documents")
        no_q = spark.createDataFrame([], "query_id string, term string")
        out = R.bm25_scores_multi(docs, no_q)
        assert out.columns == ["query_id", "doc_id", "sm"]
        assert out.count() == 0
        empty_docs = spark.createDataFrame([], "doc_id long, text string")
        q = spark.createDataFrame([("q", "hash")], "query_id string, term string")
        assert R.bm25_scores_multi(empty_docs, q).count() == 0

    def test_bm25_scores_empty_corpus_returns_empty(self, spark):
        # Regression: n_docs=0 used to hit ZeroDivisionError (and
        # float(None) for sum_dl) before any plan was built.
        from gads_etl_spark.operators import retrieval as R

        empty = spark.createDataFrame([], "doc_id long, text string")
        out = R.bm25_scores(empty, ["hash", "join"])
        assert out.columns == ["doc_id", "sm"]
        assert out.count() == 0

    def test_bm25_scores_match_registered_query_head(self, spark):
        # The factored operator must preserve ext_bm25_search's math:
        # compare the operator's integer sums against the registered
        # query's rounded output at sf0.001.
        from gads_etl_spark.operators import retrieval as R
        from gads_etl_spark.queries import REGISTRY

        docs = load_table(spark, SF, "documents")
        sm = {r.doc_id: r.sm for r in
              R.bm25_scores(docs, ["hash", "join", "filter"]).collect()}
        reg = REGISTRY["ext_bm25_search"].fn(spark, SF).collect()
        assert len(reg) > 0
        for r in reg:
            assert round(sm[r.doc_id] / 1_000_000, 6) == r.bm25


def test_passjoin_candidate_budget_guard(spark):
    """Round 14: the signature-saturation guard — a tiny budget must
    raise with the estimate in the message; the default ("auto") and a
    generous budget and an explicit waiver must return identical pairs."""
    import pytest

    from gads_etl_spark.operators.dedup import (
        CandidateBudgetExceeded,
        edit_distance_pairs_passjoin,
    )

    rows = [(i, f"name number {i % 7} variant", "t", "b")
            for i in range(40)]
    df = spark.createDataFrame(rows, "pid long, nm string, t string, b string")
    kw = dict(block_cols=["t", "b"], id_col="pid", name_col="nm",
              max_dist=2)
    with pytest.raises(CandidateBudgetExceeded, match="segment-join"):
        edit_distance_pairs_passjoin(df, candidate_budget=10, **kw)
    base = sorted(edit_distance_pairs_passjoin(df, **kw).collect())
    guarded = sorted(edit_distance_pairs_passjoin(
        df, candidate_budget=10_000_000, **kw).collect())
    waived = sorted(edit_distance_pairs_passjoin(
        df, candidate_budget=None, **kw).collect())
    assert base == guarded == waived and len(base) > 0


def test_passjoin_default_budget_trips_on_saturated_fixture(spark):
    """Round 15: the guard is DEFAULT-ON. A corpus whose segment
    signatures have fully saturated (every name identical ⇒ every probe
    key hits every index key, candidates ~ n² while the corpus is n)
    must raise on the DEFAULT path — no kwarg — naming the remedy; the
    same corpus runs when the budget is explicitly waived."""
    import pytest

    from gads_etl_spark.operators.dedup import (
        CandidateBudgetExceeded,
        edit_distance_pairs_passjoin,
    )

    n = 2500  # est ≥ nseg·n² ≈ 18M > the 1M auto floor and 200·n
    df = spark.createDataFrame(
        [(i, "identical name text", "t", "b") for i in range(n)],
        "pid long, nm string, t string, b string")
    kw = dict(block_cols=["t", "b"], id_col="pid", name_col="nm",
              max_dist=2)
    with pytest.raises(CandidateBudgetExceeded, match="saturating"):
        edit_distance_pairs_passjoin(df, **kw)
    # Waived, the run completes: all pairs match at distance 0.
    got = edit_distance_pairs_passjoin(
        df.limit(50), candidate_budget=None, **kw)
    assert got.count() == 50 * 49 // 2


def test_passjoin_auto_budget_estimate_is_one_action(spark, monkeypatch):
    """Round 16: the "auto" budget must not pay a separate corpus-count
    action — the row count rides the saturation-estimate aggregate
    itself as Σ ni / nseg (idx emits exactly nseg rows per corpus row,
    and the one-pass union+groupBy estimate already sums ni). Pinned by
    intercepting DataFrame.count for the duration of the call: the
    default path must never invoke it."""
    from pyspark.sql import DataFrame

    from gads_etl_spark.operators.dedup import edit_distance_pairs_passjoin

    calls = []
    orig = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: (calls.append(1), orig(self))[1])
    df = spark.createDataFrame(
        [(i, f"name number {i}", "t", "b") for i in range(30)],
        "pid long, nm string, t string, b string")
    out = edit_distance_pairs_passjoin(
        df, block_cols=["t", "b"], id_col="pid", name_col="nm", max_dist=1)
    assert calls == [], "auto budget must not run a separate count()"
    monkeypatch.undo()
    assert out.count() >= 0  # the guarded plan still executes


def test_neardup_block_pair_budget_guard(spark):
    """Round 15: blocked_neardup_best_pair's within-block all-pairs is
    bounded by a default-on pair budget. An oversized block must raise
    naming the scale twins; a bounded block returns the argmax pair
    unchanged, and the guard costs nothing to the result (tiny budget
    vs generous budget vs waived all agree on bounded data)."""
    import pytest

    from gads_etl_spark.operators.dedup import CandidateBudgetExceeded
    from gads_etl_spark.operators.similarity import blocked_neardup_best_pair

    rows = [(i, i % 2, [float(i % 5 + 1), float(i % 3 + 1), 1.0])
            for i in range(24)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    # 24 rows over 2 labels -> 2 * C(12,2) = 132 pairs.
    with pytest.raises(CandidateBudgetExceeded, match="semantic_dedup"):
        blocked_neardup_best_pair(df, pair_budget=100)
    bounded = sorted(blocked_neardup_best_pair(df, pair_budget=132).collect())
    default = sorted(blocked_neardup_best_pair(df).collect())
    waived = sorted(blocked_neardup_best_pair(df, pair_budget=None).collect())
    assert bounded == default == waived
    assert len(default) == 2
    for r in default:
        assert r.a_id < r.b_id and 0.0 <= r.cos_sim <= 1.0


def test_neardup_block_pair_string_ids(spark):
    """Round 16: the salt is a hash of the id, so non-numeric id
    columns work (previously pmod over a string id failed with an
    opaque AnalysisException). Same data as above keyed by string ids
    must produce the same argmax pairs modulo the id relabeling."""
    rows = [(f"doc-{i:03d}", i % 2,
             [float(i % 5 + 1), float(i % 3 + 1), 1.0])
            for i in range(24)]
    df = spark.createDataFrame(
        rows, "vec_id string, label int, embedding array<double>")
    from gads_etl_spark.operators.similarity import blocked_neardup_best_pair

    got = sorted(blocked_neardup_best_pair(df).collect())
    assert len(got) == 2
    for r in got:
        assert r.a_id.startswith("doc-") and r.a_id < r.b_id
        assert 0.0 <= r.cos_sim <= 1.0
