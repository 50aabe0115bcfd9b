"""Product quantization (operators/pq.py): encoding correctness,
IVFADC shortlist+refine recall on clustered corpora, and plan
hygiene."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators import similarity
from etl_data_warehouse_spark.operators.pq import (
    pq_encode,
    train_pq_codebooks,
)
from etl_data_warehouse_spark.sources.generators import (
    generate_clustered_embeddings,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_clustered_embeddings(
        spark, 1000, dim=16, n_clusters=32
    ).localCheckpoint()


@pytest.fixture(scope="module")
def codebooks(corpus):
    return train_pq_codebooks(corpus, m=4, codes=16, max_iterations=4)


class TestPq:
    def test_codebook_shape(self, codebooks):
        rows = codebooks.collect()
        assert len(rows) == 4 * 16
        assert {r["subspace"] for r in rows} == {0, 1, 2, 3}
        assert all(len(r["cv"]) == 4 for r in rows)
        assert all(
            abs(r["cnorm2"] - sum(x * x for x in r["cv"])) < 1e-9
            for r in rows
        )

    def test_encode_one_code_per_subspace(self, spark, corpus, codebooks):
        codes = pq_encode(corpus, codebooks)
        per_vec = codes.groupBy("vec_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("subspace").alias("ns"),
        )
        bad = per_vec.filter(
            (F.col("n") != 4) | (F.col("ns") != 4)
        ).count()
        assert bad == 0


class TestIvfPq:
    """IVFADC composition: IVF cell pruning + ADC scoring + exact
    refine (operators/pq.py:ivfadc_topk)."""

    @pytest.fixture(scope="class")
    def nd_data(self, spark):
        corpus = generate_clustered_embeddings(
            spark, 2000, dim=16, n_clusters=400, noise=0.4
        ).localCheckpoint()
        queries = generate_clustered_embeddings(
            spark, 60, dim=16, n_clusters=400, noise=0.4
        ).localCheckpoint()
        return corpus, queries

    def test_recall_vs_brute_force(self, spark, nd_data):
        from etl_data_warehouse_spark.operators.pq import ivfadc_topk

        corpus, queries = nd_data
        got = ivfadc_topk(
            corpus, queries, k=3, n_cells=32, nprobe=8, m=4, codes=16
        )
        a = {(r["src_id"], r["neighbor_id"]) for r in got.collect()}
        bf = similarity.brute_force_topk(corpus, queries, k=3).collect()
        b = {(r["src_id"], r["neighbor_id"]) for r in bf}
        assert len(a & b) / len(b) >= 0.9

    def test_no_cartesian_and_prebuilt_index_reuse(self, spark, nd_data):
        from etl_data_warehouse_spark.operators.pq import (
            ivfadc_topk,
            pq_encode,
            train_pq_codebooks,
        )

        corpus, queries = nd_data
        cents = similarity.kmeans_centroids(
            corpus, n_cells=32, max_iterations=4
        )
        books = train_pq_codebooks(corpus, m=4, codes=16, max_iterations=4)
        codes_t = pq_encode(corpus, books).localCheckpoint()
        df = ivfadc_topk(
            corpus, queries, k=3, n_cells=32, nprobe=8,
            centroids=cents, codebooks=books, codes_table=codes_t,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        rows = df.collect()
        assert {r["src_id"] for r in rows} == {
            r["vec_id"] for r in queries.collect()
        }
        # ranks are dense 1..k per query
        per = {}
        for r in rows:
            per.setdefault(r["src_id"], []).append(r["rank"])
        assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())

    def test_packed_index_equals_longform(self, spark, nd_data):
        """codes_packed + assigned (the persisted-index production
        shape) must return exactly the long-form codes_table result."""
        from etl_data_warehouse_spark.operators.pq import (
            ivfadc_topk,
            pack_codes,
            pq_encode,
            train_pq_codebooks,
        )
        from etl_data_warehouse_spark.operators.similarity import (
            rank_cells,
            with_norm,
        )
        from pyspark.sql import functions as F

        corpus, queries = nd_data
        cents = similarity.kmeans_centroids(
            corpus, n_cells=32, max_iterations=4
        )
        books = train_pq_codebooks(corpus, m=4, codes=16, max_iterations=4)
        codes_t = pq_encode(corpus, books).localCheckpoint()
        packed = pack_codes(codes_t, books).localCheckpoint()
        cents_n = cents.select(
            "cell_id",
            "cv",
            F.sqrt(
                F.aggregate(
                    F.transform("cv", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("cn"),
        )
        v = with_norm(corpus).select(
            F.col("vec_id").alias("vid"),
            F.col("_v").alias("vv"),
            F.col("_norm").alias("vn"),
        )
        assigned = (
            rank_cells(v, cents_n, 1)
            .select(F.col("vid").alias("vec_id"), "cell_id")
            .localCheckpoint()
        )
        base = ivfadc_topk(
            corpus, queries, k=3, n_cells=32, nprobe=8,
            centroids=cents, codebooks=books, codes_table=codes_t,
        ).collect()
        fast = ivfadc_topk(
            corpus, queries, k=3, n_cells=32, nprobe=8,
            centroids=cents, codebooks=books,
            codes_packed=packed, assigned=assigned,
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, fast))
