"""Extension-operator tests: approximate paths measured against exact
baselines, multimodal Arrow plumbing, fingerprint determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators import dedup, multimodal, similarity
from etl_data_warehouse_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir).cache()


class TestDedup:
    def test_minhash_lsh_equals_exact_jaccard(self, docs):
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.jaccard_pairs(docs, 0.8).collect()
        }
        lsh = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
        }
        assert lsh == exact
        assert exact, "expected injected near-duplicate pairs in testdata"

    def test_simhash_finds_neardups(self, docs):
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.jaccard_pairs(docs, 0.8).collect()
        }
        sim = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.simhash_pairs(docs, max_hamming=6).collect()
        }
        # SimHash@6 bits should recover most injected J≥0.8 pairs.
        recall = len(exact & sim) / len(exact)
        assert recall >= 0.7, f"simhash recall {recall}"

    @pytest.mark.parametrize(
        "signatures",
        [dedup.simhash_signatures, dedup.simhash_signatures_md5],
        ids=["xxhash", "md5"],
    )
    def test_simhash_blocked_equals_all_pairs(self, docs, signatures):
        # Pigeonhole blocking is EXACT for hamming <= 6 (8 chunks, >= 2
        # must match): identical output to the O(N^2) baseline.
        base = sorted(
            tuple(r)
            for r in dedup.simhash_pairs(
                docs, max_hamming=6, signatures=signatures
            ).collect()
        )
        blocked = sorted(
            tuple(r)
            for r in dedup.simhash_pairs_blocked(
                docs, max_hamming=6, signatures=signatures
            ).collect()
        )
        assert blocked == base
        assert base, "expected near-dup pairs in testdata"

    def test_simhash_blocked_plan_has_no_cartesian(self, docs):
        plan = (
            dedup.simhash_pairs_blocked(docs, max_hamming=6)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_exact_dedup_partitions_by_fingerprint(self, docs):
        groups = dedup.exact_dedup_groups(docs)
        total = groups.agg(F.sum("dup_count")).first()[0]
        assert total == docs.count()


class TestSimilarity:
    def test_ivf_recall_vs_brute_force(self, emb):
        bf = similarity.brute_force_topk(emb, emb, k=5).collect()
        ivf = similarity.ivf_topk(emb, k=5, n_cells=16, nprobe=4).collect()
        truth = {(r["src_id"], r["neighbor_id"]) for r in bf}
        approx = {(r["src_id"], r["neighbor_id"]) for r in ivf}
        recall = len(truth & approx) / len(truth)
        # nprobe=4/16 cells on random vectors: modest recall is expected;
        # the operator contract is shape + determinism + recall floor.
        assert recall >= 0.3, f"ivf recall {recall}"

    def test_brute_force_is_deterministic(self, emb):
        a = similarity.brute_force_topk(emb, emb, k=3).collect()
        b = similarity.brute_force_topk(emb, emb, k=3).collect()
        assert a == b

    def test_hyperplane_lsh_equals_exact_neardup(self, spark, sf_dir):
        from etl_data_warehouse_spark.plans.llm_ops import _twin_corpus

        corpus = _twin_corpus(load_table(spark, "embeddings", sf_dir))
        exact = {
            (r["vec_a"], r["vec_b"])
            for r in similarity.cosine_neardup_pairs(
                corpus, threshold=0.9
            ).collect()
        }
        lsh = {
            (r["vec_a"], r["vec_b"])
            for r in similarity.hyperplane_lsh_neardup(
                corpus, threshold=0.9
            ).collect()
        }
        assert lsh == exact
        assert exact, "expected planted twin pairs"

    def test_wide_band_srp_equals_exact_neardup(self, spark, sf_dir):
        # 24-bit bands (n_planes=384, bands=16): the 10^6-row operating
        # point must still recover every planted-twin pair (miss ~2e-7
        # per pair at cosine >= 0.998 — see the docstring derivation).
        from etl_data_warehouse_spark.plans.llm_ops import _twin_corpus

        corpus = _twin_corpus(load_table(spark, "embeddings", sf_dir))
        exact = {
            (r["vec_a"], r["vec_b"])
            for r in similarity.cosine_neardup_pairs(
                corpus, threshold=0.9
            ).collect()
        }
        wide = {
            (r["vec_a"], r["vec_b"])
            for r in similarity.hyperplane_lsh_neardup(
                corpus, threshold=0.9, n_planes=384, bands=16
            ).collect()
        }
        assert wide == exact
        assert exact

    def test_srp_candidate_count_wide_bands_cut_background(self, spark):
        from etl_data_warehouse_spark.sources.generators import (
            generate_clustered_embeddings,
        )

        # singleton clusters: no planted near-dups, so every candidate
        # is BACKGROUND — the thing wide bands are supposed to cut
        # (with planted clusters the true-pair floor of bands*pairs
        # dominates both counts and masks the background drop)
        vecs = generate_clustered_embeddings(
            spark, 20000, dim=16, n_clusters=20000, noise=0.02
        ).localCheckpoint()
        narrow, _ = similarity.srp_candidate_count(
            vecs, n_planes=256, bands=16
        )
        wide, _ = similarity.srp_candidate_count(
            vecs, n_planes=384, bands=16
        )
        # same band count, 256x smaller per-band collision probability:
        # background candidates must drop by well over an order of
        # magnitude (true planted pairs are a tiny floor under both)
        assert wide * 10 < narrow, (narrow, wide)

    def test_hyperplane_lsh_plan_has_no_cartesian(self, emb):
        plan = (
            similarity.hyperplane_lsh_neardup(emb, threshold=0.9)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestMultimodal:
    def test_feature_extraction_schema_and_determinism(self, docs):
        assets = multimodal.fake_assets(docs)
        feats = multimodal.extract_features(assets)
        assert [f.name for f in feats.schema.fields] == [
            "asset_id",
            "media_type",
            "n_bytes",
            "byte_mean",
            "byte_histogram",
        ]
        rows = feats.orderBy("asset_id").limit(5).collect()
        again = feats.orderBy("asset_id").limit(5).collect()
        assert rows == again
        r = rows[0]
        assert r["n_bytes"] > 0
        assert len(r["byte_histogram"]) == 8
        assert sum(r["byte_histogram"]) == r["n_bytes"]

    def test_decode_stub_raises_clearly(self):
        with pytest.raises(NotImplementedError, match="PIL"):
            multimodal.decode_image(b"\x89PNG fake")

    def test_payload_matches_text_bytes(self, docs):
        assets = multimodal.fake_assets(docs).orderBy("asset_id").first()
        doc = docs.orderBy("doc_id").first()
        assert bytes(assets["payload"]) == doc["text"].encode("utf-8")


class TestFrameSampling:
    def test_video_assets_fan_out_to_frames(self, docs):
        assets = multimodal.fake_assets(docs)
        frames = multimodal.sample_frames(assets, every_n_bytes=64)
        n_videos = assets.filter("media_type = 'video'").count()
        assert frames.count() >= n_videos  # >=1 sample per video asset
        r = frames.first()
        # probe is hex of an up-to-8-byte slice: 2 hex chars per byte
        assert r["frame_idx"] >= 0 and len(r["frame_probe"]) <= 16
        assert all(c in "0123456789ABCDEF" for c in r["frame_probe"])


class TestSamplingPacking:
    def test_split_is_zero_shuffle(self, docs):
        from etl_data_warehouse_spark.operators import sampling

        plan = (
            sampling.train_test_split(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # pure scan + project

    def test_split_stable_under_corpus_growth(self, docs):
        # hash assignment depends only on (salt, doc_id): computing the
        # split over a subset must equal the full-corpus assignment
        # restricted to that subset (random splits break this).
        from etl_data_warehouse_spark.operators import sampling

        full = {
            r["doc_id"]: r["split"]
            for r in sampling.train_test_split(docs).collect()
        }
        sub = {
            r["doc_id"]: r["split"]
            for r in sampling.train_test_split(
                docs.filter(F.col("doc_id") % 7 == 0)
            ).collect()
        }
        assert sub == {k: v for k, v in full.items() if k % 7 == 0}
        assert set(full.values()) == {"train", "val", "test"}

    def test_packing_invariants(self, docs):
        from etl_data_warehouse_spark.operators import sampling

        rows = sampling.sequence_packing(docs, budget=512).collect()
        per_shard = {}
        for r in rows:
            assert 0 <= r["offset_in_chunk"] < 512
            assert r["chunk_offset"] == r["chunk_in_shard"] * 512 + r["offset_in_chunk"]
            per_shard.setdefault(r["source"], []).append(r)
        for shard_rows in per_shard.values():
            shard_rows.sort(key=lambda r: r["doc_id"])
            cum = 0
            for r in shard_rows:  # running offset is exactly the prefix sum
                assert r["chunk_offset"] == cum
                cum += r["n_tokens"]

    def test_contamination_detects_planted_copy(self, spark):
        import hashlib

        from etl_data_warehouse_spark.operators import corpus

        def bucket(doc_id):
            return int(
                hashlib.md5(f"split{doc_id}".encode()).hexdigest()[:8], 16
            ) % 100

        train_id = next(i for i in range(1000) if bucket(i) < 80)
        test_id = next(i for i in range(1000) if bucket(i) >= 90)
        clean_id = next(
            i for i in range(test_id + 1, 2000) if bucket(i) >= 90
        )
        leaked = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (train_id, leaked, "en", "s0", len(leaked)),
            (test_id, leaked, "en", "s0", len(leaked)),  # exact copy -> 1.0
            (clean_id, "one two three four five six seven eight", "en", "s0", 40),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        out = {
            r["doc_id"]: r for r in corpus.contamination_check(docs).collect()
        }
        assert set(out) == {test_id, clean_id}
        assert out[test_id]["contamination_ratio"] == 1.0
        assert out[test_id]["is_contaminated"]
        assert out[clean_id]["contamination_ratio"] == 0.0


class TestIvfRecallAtScale:
    """IVF on CLUSTERED vectors — the workload ANN is for. Uniform-random
    vectors (TestSimilarity above) are the no-structure adversarial case;
    here a 64-cluster corpus at 8x the sf-test size must give near-exact
    recall with an 8x candidate-set reduction (nprobe/n_cells = 8/64)."""

    def test_recall_on_clustered_corpus(self, spark):
        from etl_data_warehouse_spark.sources.generators import (
            generate_clustered_embeddings,
        )

        emb = generate_clustered_embeddings(
            spark, 2000, dim=16, n_clusters=64
        ).localCheckpoint()
        bf = similarity.brute_force_topk(emb, emb, k=5).collect()
        ivf = similarity.ivf_topk(emb, k=5, n_cells=64, nprobe=8).collect()
        truth = {(r["src_id"], r["neighbor_id"]) for r in bf}
        approx = {(r["src_id"], r["neighbor_id"]) for r in ivf}
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.95, f"ivf recall on clustered corpus {recall}"

    def test_generator_is_layout_independent(self, spark):
        from etl_data_warehouse_spark.sources.generators import (
            generate_clustered_embeddings,
        )

        a = generate_clustered_embeddings(spark, 200, dim=4).collect()
        b = (
            generate_clustered_embeddings(spark, 200, dim=4)
            .repartition(7)
            .collect()
        )
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestKmeansCentroids:
    def _emb(self, spark, n=600, k=16):
        from etl_data_warehouse_spark.sources.generators import (
            generate_clustered_embeddings,
        )

        return generate_clustered_embeddings(
            spark, n, dim=8, n_clusters=k
        ).localCheckpoint()

    def test_inertia_improves_over_seeded_init(self, spark):
        emb = self._emb(spark)
        seeded = (
            similarity.with_norm(emb)
            .orderBy("vec_id")
            .limit(16)
            .selectExpr("vec_id as cell_id", "_v as cv")
        )
        i0 = similarity.inertia(emb, seeded)
        cents = similarity.kmeans_centroids(emb, 16, max_iterations=8)
        i1 = similarity.inertia(emb, cents)
        assert i1 < i0
        assert cents.count() == 16  # empty cells retained, k stable

    def test_deterministic(self, spark):
        emb = self._emb(spark, n=300, k=8)
        a = sorted(map(tuple, similarity.kmeans_centroids(emb, 8, 4).collect()))
        b = sorted(map(tuple, similarity.kmeans_centroids(emb, 8, 4).collect()))
        assert a == b

    def test_ivf_accepts_trained_centroids(self, spark):
        emb = self._emb(spark)
        cents = similarity.kmeans_centroids(emb, 16, max_iterations=4)
        ivf = similarity.ivf_topk(emb, k=3, nprobe=4, centroids=cents)
        rows = ivf.collect()
        assert rows and all(1 <= r["rank"] <= 3 for r in rows)
        bf = similarity.brute_force_topk(emb, emb, k=3).collect()
        truth = {(r["src_id"], r["neighbor_id"]) for r in bf}
        approx = {(r["src_id"], r["neighbor_id"]) for r in rows}
        assert len(truth & approx) / len(truth) >= 0.9


class TestIvfQueryBatch:
    """ivf_topk with a separate query batch (production shape) and the
    Arrow-batched assignment path."""

    def _data(self, spark):
        from etl_data_warehouse_spark.sources.generators import (
            generate_clustered_embeddings,
        )

        corpus = generate_clustered_embeddings(
            spark, 2000, dim=8, n_clusters=32
        )
        queries = generate_clustered_embeddings(
            spark, 100, dim=8, n_clusters=32, seed=99
        )
        return corpus, queries

    def test_query_batch_recall_vs_brute_force(self, spark):
        from etl_data_warehouse_spark.operators import similarity

        corpus, queries = self._data(spark)
        ivf = similarity.ivf_topk(
            corpus, k=3, n_cells=32, nprobe=4, queries=queries
        ).collect()
        bf = similarity.brute_force_topk(corpus, queries, k=3).collect()
        ivf_set = {(r["src_id"], r["neighbor_id"]) for r in ivf}
        bf_set = {(r["src_id"], r["neighbor_id"]) for r in bf}
        recall = len(ivf_set & bf_set) / len(bf_set)
        assert recall >= 0.95, recall

    def test_no_cartesian_in_query_batch_plan(self, spark):
        from etl_data_warehouse_spark.operators import similarity

        corpus, queries = self._data(spark)
        plan = (
            similarity.ivf_topk(
                corpus, k=3, n_cells=32, nprobe=4, queries=queries
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestSemanticDedup:
    """SemDeDup composition: planted twins must be dropped in favor of
    their lower-id source; verdicts are deterministic; the within-cell
    pair search never degenerates to a CartesianProduct."""

    def _twin_corpus(self, emb):
        from etl_data_warehouse_spark.plans.llm_ops import _twin_corpus

        return _twin_corpus(emb)

    def test_planted_twins_are_dropped(self, emb):
        out = similarity.semantic_dedup(
            self._twin_corpus(emb), threshold=0.9
        ).collect()
        by_id = {r["vec_id"]: r for r in out}
        n_base = emb.count()
        # Every base vector is the earliest member of its dup group.
        dropped = [r for r in out if not r["kept"]]
        assert dropped, "expected planted twins to be deduplicated"
        for r in dropped:
            assert r["dup_of"] is not None and r["dup_of"] < r["vec_id"]
            assert r["dup_of"] in by_id
        # A twin is only droppable if it landed in its source's cell —
        # cluster-local pruning misses cross-cell pairs by design
        # (SemDeDup §3: recall is traded for the O(sum |cell|^2) cost
        # model). On this corpus ~94% co-locate; require the bulk gone.
        n_twins_dropped = sum(
            1 for r in dropped if r["vec_id"] >= 1_000_000
        )
        assert n_twins_dropped >= int(0.9 * n_base)

    def test_kept_set_has_no_remaining_neardup_pair_in_cell(self, emb):
        corpus = self._twin_corpus(emb)
        out = similarity.semantic_dedup(corpus, threshold=0.9)
        kept = out.filter("kept").select("vec_id", "cell_id")
        # Within every cell, kept members must be pairwise below
        # threshold: re-verify with the exact cosine on kept survivors.
        vn = similarity.with_norm(corpus)
        a = kept.join(vn, "vec_id").select(
            F.col("cell_id"),
            F.col("vec_id").alias("ia"),
            F.col("_v").alias("va"),
            F.col("_norm").alias("na"),
        )
        b = kept.join(vn, "vec_id").select(
            F.col("cell_id"),
            F.col("vec_id").alias("ib"),
            F.col("_v").alias("vb"),
            F.col("_norm").alias("nb"),
        )
        from etl_data_warehouse_spark.operators.similarity import _dot

        viol = (
            a.join(b, "cell_id")
            .filter(F.col("ia") < F.col("ib"))
            .filter(
                _dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
                >= 0.9
            )
            .count()
        )
        assert viol == 0

    def test_no_cartesian_in_plan(self, emb):
        plan = similarity.semantic_dedup(
            self._twin_corpus(emb), threshold=0.9
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
