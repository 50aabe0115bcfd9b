"""Incremental LSH dedup against a persisted index
(operators/dedup_index.py): the batch path must emit exactly the
full-corpus pairs that involve a new document, and appending a batch
must leave the index equivalent to a fresh full build."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators.dedup import minhash_lsh_pairs
from etl_data_warehouse_spark.operators.dedup_index import (
    append_to_index,
    build_minhash_index,
    incremental_dedup,
)
from etl_data_warehouse_spark.sources.catalog import load_table


def _pairs_set(df):
    return {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in df.collect()
    }


class TestIncrementalDedup:
    def test_batch_equals_full_corpus_restriction(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        idx = str(tmp_path / "lsh_index")

        build_minhash_index(corpus, idx)
        inc = incremental_dedup(spark, batch, idx)

        full = minhash_lsh_pairs(docs)
        # pairs involving at least one odd (new) doc_id
        expected = full.filter(
            (F.col("doc_a") % 2 == 1) | (F.col("doc_b") % 2 == 1)
        )
        assert _pairs_set(inc) == _pairs_set(expected)
        assert _pairs_set(inc)  # the corpus must actually contain dups

    def test_append_matches_fresh_build(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        idx_inc = str(tmp_path / "idx_inc")
        idx_full = str(tmp_path / "idx_full")

        build_minhash_index(corpus, idx_inc)
        append_to_index(batch, idx_inc)
        build_minhash_index(docs, idx_full)

        for sub in ("bands", "shingles"):
            a = spark.read.parquet(f"{idx_inc}/{sub}")
            b = spark.read.parquet(f"{idx_full}/{sub}")
            assert a.count() == b.count()
            assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def test_no_cartesian_in_incremental_plan(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, "documents", sf_dir)
        idx = str(tmp_path / "idx_plan")
        build_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
        inc = incremental_dedup(
            spark, docs.filter(F.col("doc_id") % 2 == 1), idx
        )
        plan = inc._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_second_batch_sees_first_batch_dups(self, spark, sf_dir, tmp_path):
        """The operational loop: dedup batch1, append it, dedup batch2 —
        batch2's pairs against batch1 docs must surface."""
        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 3 == 0)
        b1 = docs.filter(F.col("doc_id") % 3 == 1)
        b2 = docs.filter(F.col("doc_id") % 3 == 2)
        idx = str(tmp_path / "idx_loop")

        build_minhash_index(corpus, idx)
        incremental_dedup(spark, b1, idx).collect()
        append_to_index(b1, idx)
        inc2 = incremental_dedup(spark, b2, idx)

        full = minhash_lsh_pairs(docs)
        expected = full.filter(
            (F.col("doc_a") % 3 == 2) | (F.col("doc_b") % 3 == 2)
        )
        assert _pairs_set(inc2) == _pairs_set(expected)


class TestBucketedIndex:
    def test_bucketed_index_join_no_exchange_on_index_side(
        self, spark, sf_dir, tmp_path
    ):
        """The 100 TB contract: the per-batch band join reads the
        bucketed index with NO Exchange — only the batch side shuffles."""
        from etl_data_warehouse_spark.operators.dedup import (
            band_table,
            hashed_shingles,
        )

        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        idx = str(tmp_path / "idx_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_lsh_bands")
        spark.sql("DROP TABLE IF EXISTS t_lsh_shingles")
        build_minhash_index(
            corpus, idx, buckets=4, table_prefix="t_lsh"
        )

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            new_bands = band_table(hashed_shingles(batch))
            j = new_bands.join(
                spark.table("t_lsh_bands"), ["band_idx", "bh"]
            )
            j.collect()
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        # the index side feeds each SortMergeJoin straight from the
        # bucketed scan: exactly ONE band-keyed Exchange per join (the
        # batch side); an unbucketed index would need two
        assert plan.count("Exchange hashpartitioning(band_idx") == plan.count(
            "SortMergeJoin"
        ), plan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan

    def test_append_with_shared_shingles_identical(
        self, spark, sf_dir, tmp_path
    ):
        # day-2's fused index_appends (r12 task #3): append_to_index
        # fed a precomputed hashed_shingles frame must leave both index
        # tables bit-identical to the compute-own path
        from etl_data_warehouse_spark.operators.dedup import (
            hashed_shingles,
        )
        from etl_data_warehouse_spark.operators.dedup_index import (
            append_to_index,
            build_minhash_index,
        )

        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        idx_a = str(tmp_path / "own")
        idx_b = str(tmp_path / "shared")
        for idx in (idx_a, idx_b):
            build_minhash_index(corpus, idx)
        append_to_index(batch, idx_a)
        append_to_index(
            batch,
            idx_b,
            shingles=hashed_shingles(batch, 3).localCheckpoint(),
        )
        for t in ("bands", "shingles"):
            assert sorted(
                tuple(r)
                for r in spark.read.parquet(f"{idx_a}/{t}").collect()
            ) == sorted(
                tuple(r)
                for r in spark.read.parquet(f"{idx_b}/{t}").collect()
            )

    def test_register_refuses_plain_parquet_dir(
        self, spark, sf_dir, tmp_path
    ):
        # Spark does not validate a declared CLUSTERED BY spec against
        # the files at LOCATION: registering a plain-parquet (pre-
        # bucketing) index would yield silently wrong Exchange-free
        # joins — the registration must refuse instead
        import pytest

        from etl_data_warehouse_spark.operators.dedup_index import (
            register_minhash_tables,
        )

        docs = load_table(spark, "documents", sf_dir)
        idx = str(tmp_path / "idx_plainfiles")
        build_minhash_index(docs, idx)  # unbucketed layout
        spark.sql("DROP TABLE IF EXISTS t_plain_bands")
        spark.sql("DROP TABLE IF EXISTS t_plain_shingles")
        with pytest.raises(ValueError, match="bucket"):
            register_minhash_tables(spark, idx, "t_plain", buckets=4)

    def test_register_refuses_mismatched_bucket_count(
        self, spark, sf_dir, tmp_path
    ):
        # the sidecar spec written at build time pins the real bucket
        # count; re-registering with a different one must refuse
        import pytest

        from etl_data_warehouse_spark.operators.dedup_index import (
            register_minhash_tables,
        )

        docs = load_table(spark, "documents", sf_dir)
        idx = str(tmp_path / "idx_wrongbuckets")
        spark.sql("DROP TABLE IF EXISTS t_wb_bands")
        spark.sql("DROP TABLE IF EXISTS t_wb_shingles")
        build_minhash_index(docs, idx, buckets=4, table_prefix="t_wb")
        spark.sql("DROP TABLE IF EXISTS t_wb_bands")
        spark.sql("DROP TABLE IF EXISTS t_wb_shingles")
        with pytest.raises(ValueError, match="mismatch"):
            register_minhash_tables(spark, idx, "t_wb", buckets=8)
        # and the true spec re-attaches fine
        register_minhash_tables(spark, idx, "t_wb", buckets=4)
        assert spark.table("t_wb_bands").count() > 0

    def test_bucketed_incremental_matches_plain(
        self, spark, sf_dir, tmp_path
    ):
        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        idx_b = str(tmp_path / "idx_b")
        idx_p = str(tmp_path / "idx_p")
        spark.sql("DROP TABLE IF EXISTS t_lsh2_bands")
        spark.sql("DROP TABLE IF EXISTS t_lsh2_shingles")
        build_minhash_index(corpus, idx_b, buckets=4, table_prefix="t_lsh2")
        build_minhash_index(corpus, idx_p)
        got = incremental_dedup(
            spark, batch, idx_b,
            bands_table="t_lsh2_bands", shingles_table="t_lsh2_shingles",
        )
        want = incremental_dedup(spark, batch, idx_p)
        assert _pairs_set(got) == _pairs_set(want)
        assert _pairs_set(got)

    def test_partial_append_recovers_on_replay(self, spark, sf_dir, tmp_path):
        """Crash between the two append writes: bands are written FIRST,
        so the interrupted batch is still absent from the shingle table
        that every replay/idempotency guard probes — the replay must
        re-append it and subsequent dedup output must be exact (the
        duplicated band rows collapse in the candidate distinct; the
        reverse write order would silently lose the batch's future
        near-dup pairs forever)."""
        from etl_data_warehouse_spark.operators.dedup import (
            band_table,
            hashed_shingles,
        )

        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 3 == 0)
        b1 = docs.filter(F.col("doc_id") % 3 == 1)
        b2 = docs.filter(F.col("doc_id") % 3 == 2)
        idx = str(tmp_path / "idx_partial")
        build_minhash_index(corpus, idx)

        # simulate the crash: b1's bands land, its shingles never do
        sh1 = hashed_shingles(b1).localCheckpoint()
        band_table(sh1, 64, 32).write.mode("append").parquet(f"{idx}/bands")

        # replay: the guard (shingle probe) still sees b1 as new
        append_to_index(b1, idx)
        n_sh_fresh = hashed_shingles(
            docs.filter(F.col("doc_id") % 3 != 2)
        ).count()
        assert spark.read.parquet(f"{idx}/shingles").count() == n_sh_fresh

        inc2 = incremental_dedup(spark, b2, idx)
        full = minhash_lsh_pairs(docs)
        expected = full.filter(
            (F.col("doc_a") % 3 == 2) | (F.col("doc_b") % 3 == 2)
        )
        assert _pairs_set(inc2) == _pairs_set(expected)
        assert _pairs_set(inc2)

    def test_append_is_idempotent(self, spark, sf_dir, tmp_path):
        """Re-appending the same batch (failure retry) must not
        double-insert rows — verify_pairs counts shingle rows, so
        duplicates would corrupt Jaccard."""
        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        idx = str(tmp_path / "idx_idem")
        build_minhash_index(corpus, idx)
        append_to_index(batch, idx)
        n_sh = spark.read.parquet(f"{idx}/shingles").count()
        n_bd = spark.read.parquet(f"{idx}/bands").count()
        append_to_index(batch, idx)  # retry: must be a no-op
        assert spark.read.parquet(f"{idx}/shingles").count() == n_sh
        assert spark.read.parquet(f"{idx}/bands").count() == n_bd
