"""Incremental cluster maintenance (operators/cluster_index.py):
batch-by-batch state must equal connected components over the
cumulative pair set (including cluster MERGES), replays must be
idempotent, failed writes must preserve the previous version, and the
end-to-end daily flow (incremental MinHash pairs -> clusters) must
reproduce the full-corpus answer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators.cluster_index import (
    cluster_verdicts,
    list_versions,
    read_clusters,
    update_clusters,
)
from etl_data_warehouse_spark.operators.graph import connected_components


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _cc(spark, edges):
    return sorted(
        (r["node"], r["component"])
        for r in connected_components(
            _pairs(spark, edges).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        ).collect()
    )


def _state(df):
    return sorted((r["doc_id"], r["component"]) for r in df.collect())


BATCH1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
# batch 2 MERGES clusters {1,2,3} and {10,11} via 3-10, extends 20's,
# and opens a new one
BATCH2 = [(3, 10), (21, 22), (30, 31)]
BATCH3 = [(11, 40), (40, 41)]


class TestClusterIndex:
    def test_batchwise_equals_cumulative_cc(self, spark, tmp_path):
        path = str(tmp_path / "clusters")
        seen = []
        for batch in (BATCH1, BATCH2, BATCH3):
            seen += batch
            got = _state(update_clusters(_pairs(spark, batch), path))
            assert got == _cc(spark, seen), f"diverged after {batch}"
        # the merge actually happened: 1..3,10,11,40,41 share component 1
        final = dict(_state(read_clusters(spark, path)))
        assert {final[n] for n in (1, 2, 3, 10, 11, 40, 41)} == {1}
        assert {final[n] for n in (20, 21, 22)} == {20}

    def test_replay_is_idempotent(self, spark, tmp_path):
        path = str(tmp_path / "clusters_replay")
        update_clusters(_pairs(spark, BATCH1), path)
        update_clusters(_pairs(spark, BATCH2), path)
        before = _state(read_clusters(spark, path))
        update_clusters(_pairs(spark, BATCH2), path)  # replay
        assert _state(read_clusters(spark, path)) == before

    def test_failed_write_preserves_previous_version(self, spark, tmp_path):
        path = str(tmp_path / "clusters_crash")
        update_clusters(_pairs(spark, BATCH1), path)
        before = _state(read_clusters(spark, path))
        # simulate a crash mid-write: a tmp version dir exists but the
        # pointer was never swapped
        os.makedirs(os.path.join(path, ".tmp-v000099"))
        assert _state(read_clusters(spark, path)) == before
        assert list_versions(path) == ["v000001"]

    def test_state_keeps_at_most_two_versions(self, spark, tmp_path):
        """Each commit deletes every version older than the one it
        replaces; names keep counting up from the highest version."""
        path = str(tmp_path / "clusters_bounded")
        days = [BATCH1, BATCH2, BATCH3, [(50, 51)], [(41, 50)], [(60, 61)]]
        seen = []
        for day, batch in enumerate(days, start=1):
            seen += batch
            update_clusters(_pairs(spark, batch), path)
            assert len(list_versions(path)) <= 2
            assert list_versions(path)[-1] == f"v{day:06d}"
            assert _state(read_clusters(spark, path)) == _cc(spark, seen)

    def test_crash_between_swap_and_delete(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash after the pointer swap, before the old versions are
        deleted, leaves the new mapping readable; the next commit
        deletes what the crash left."""
        from etl_data_warehouse_spark.operators import cluster_index

        path = str(tmp_path / "clusters_swap_crash")
        update_clusters(_pairs(spark, BATCH1), path)
        update_clusters(_pairs(spark, BATCH2), path)

        real = cluster_index.shutil.rmtree

        def crash(p, *a, **kw):
            if p.startswith(path):
                raise OSError("crash before delete")
            return real(p, *a, **kw)

        with monkeypatch.context() as m:
            m.setattr(cluster_index.shutil, "rmtree", crash)
            with pytest.raises(OSError, match="crash before delete"):
                update_clusters(_pairs(spark, BATCH3), path)
        assert list_versions(path) == ["v000001", "v000002", "v000003"]
        cumulative = BATCH1 + BATCH2 + BATCH3
        assert _state(read_clusters(spark, path)) == _cc(spark, cumulative)

        update_clusters(_pairs(spark, [(70, 71)]), path)
        assert list_versions(path) == ["v000003", "v000004"]
        assert _state(read_clusters(spark, path)) == _cc(
            spark, cumulative + [(70, 71)]
        )

    def test_verdicts_keep_min_id(self, spark, tmp_path):
        path = str(tmp_path / "clusters_verdict")
        update_clusters(_pairs(spark, BATCH1), path)
        v = {
            r["doc_id"]: r["kept"]
            for r in cluster_verdicts(read_clusters(spark, path)).collect()
        }
        assert v == {1: True, 2: False, 3: False,
                     10: True, 11: False, 20: True, 21: False}

    def test_daily_flow_minhash_pairs_to_clusters(self, spark, tmp_path):
        """End-to-end: day-1 corpus indexed, day-2 batch's incremental
        MinHash pairs folded into cluster state — the final mapping
        must equal connected components over the FULL corpus's pair
        set (what a from-scratch q24+q59 run computes)."""
        from etl_data_warehouse_spark.operators import dedup
        from etl_data_warehouse_spark.operators.dedup_index import (
            build_minhash_index,
            incremental_dedup,
        )
        from etl_data_warehouse_spark.sources.catalog import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        day1 = docs.filter(F.col("doc_id") % 4 != 0)
        day2 = docs.filter(F.col("doc_id") % 4 == 0)
        idx = str(tmp_path / "mh_idx")
        build_minhash_index(day1, idx)

        path = str(tmp_path / "clusters_flow")
        p1 = dedup.minhash_lsh_pairs(day1).select("doc_a", "doc_b")
        update_clusters(p1, path)
        p2 = incremental_dedup(spark, day2, idx).select("doc_a", "doc_b")
        update_clusters(p2, path)

        full = dedup.minhash_lsh_pairs(docs).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        want = sorted(
            (r["node"], r["component"])
            for r in connected_components(full).collect()
        )
        got = _state(read_clusters(spark, path))
        assert got == want
        assert got, "no near-dup clusters found in the planted corpus"
