"""Persisted IVF-PQ index (operators/ann_index.py): loaded-state
queries must equal in-memory-state queries, appends must equal a
frozen-state encode of the union, and the per-batch overwrite layout
must make replays idempotent and partial appends recoverable."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators import pq
from etl_data_warehouse_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_pq_index,
    load_ivf_pq_index,
    query_ivf_pq_index,
)
from etl_data_warehouse_spark.operators.similarity import kmeans_centroids
from etl_data_warehouse_spark.sources.catalog import load_table

_PARAMS = dict(n_cells=8, m=4, codes=8, pq_train_limit=None)


def _result_set(df):
    return {
        (r["src_id"], r["neighbor_id"], r["rank"], round(r["score"], 9))
        for r in df.collect()
    }


class TestIvfPqIndex:
    def test_loaded_state_query_equals_in_memory(self, spark, sf_dir, tmp_path):
        vecs = load_table(spark, "embeddings", sf_dir)
        queries = vecs.filter(F.col("vec_id") < 20)
        idx = str(tmp_path / "ann_idx")
        build_ivf_pq_index(vecs, idx, **_PARAMS)

        got = _result_set(query_ivf_pq_index(vecs, queries, idx, k=3))

        # the same deterministic training, never persisted
        cents = kmeans_centroids(vecs, n_cells=8, max_iterations=4)
        books = pq.train_pq_codebooks(vecs, m=4, codes=8, max_iterations=4)
        want = _result_set(
            pq.ivfadc_topk(
                vecs, queries, k=3, nprobe=8,
                centroids=cents, codebooks=books,
            )
        )
        assert got == want
        assert got  # non-trivial result

    def test_append_equals_frozen_union_encode(self, spark, sf_dir, tmp_path):
        vecs = load_table(spark, "embeddings", sf_dir)
        corpus = vecs.filter(F.col("vec_id") % 2 == 0)
        batch = vecs.filter(F.col("vec_id") % 2 == 1)
        idx = str(tmp_path / "ann_idx_append")
        build_ivf_pq_index(corpus, idx, **_PARAMS)
        append_to_ivf_index(batch, idx, batch_id=1)

        state = load_ivf_pq_index(spark, idx)
        want_packed = pq.pack_codes(
            pq.pq_encode(vecs, state["codebooks"]), state["codebooks"]
        )
        got_packed = state["packed"]
        assert got_packed.count() == want_packed.count() == vecs.count()
        assert got_packed.exceptAll(want_packed).isEmpty()
        assert state["assigned"].count() == vecs.count()

    def test_replay_and_recrawl_idempotency(self, spark, sf_dir, tmp_path):
        vecs = load_table(spark, "embeddings", sf_dir)
        corpus = vecs.filter(F.col("vec_id") % 2 == 0)
        b1 = vecs.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 250))
        idx = str(tmp_path / "ann_idx_idem")
        build_ivf_pq_index(corpus, idx, **_PARAMS)
        append_to_ivf_index(b1, idx, batch_id=1)
        n_p = load_ivf_pq_index(spark, idx)["packed"].count()

        # replay of the same batch overwrites identical content
        append_to_ivf_index(b1, idx, batch_id=1)
        assert load_ivf_pq_index(spark, idx)["packed"].count() == n_p

        # a later batch re-submitting already-indexed ids skips them
        append_to_ivf_index(b1, idx, batch_id=2)
        state = load_ivf_pq_index(spark, idx)
        assert state["packed"].count() == n_p
        assert state["assigned"].count() == n_p

    def test_partial_append_is_completed_by_replay_only(
        self, spark, sf_dir, tmp_path
    ):
        """Crash between the packed and assigned writes: later batches
        must SKIP the half-written ids (no duplicates) and the batch's
        own replay must complete them (no loss)."""
        vecs = load_table(spark, "embeddings", sf_dir)
        corpus = vecs.filter(F.col("vec_id") % 2 == 0)
        b1 = vecs.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 250))
        idx = str(tmp_path / "ann_idx_partial")
        build_ivf_pq_index(corpus, idx, **_PARAMS)
        append_to_ivf_index(b1, idx, batch_id=1)
        # simulate the crash: packed landed, assigned did not
        shutil.rmtree(f"{idx}/assigned/batch=1")

        # a re-crawl of the same ids in a LATER batch is still skipped
        # (the guard probes packed ∪ assigned) — no duplicate codes
        append_to_ivf_index(b1, idx, batch_id=2)
        state = load_ivf_pq_index(spark, idx)
        n_b1 = b1.count()
        n_corpus = corpus.count()
        assert state["packed"].count() == n_corpus + n_b1
        assert state["assigned"].count() == n_corpus  # still missing

        # the batch's own replay completes it — the guard excludes the
        # batch's own partial write, so the replay still re-encodes
        # everything (overwrite, no dups)
        append_to_ivf_index(b1, idx, batch_id=1)
        state = load_ivf_pq_index(spark, idx)
        assert state["packed"].count() == n_corpus + n_b1
        assert state["assigned"].count() == n_corpus + n_b1
        assert (
            state["packed"].groupBy("vec_id").count().filter("count > 1")
            .isEmpty()
        )
