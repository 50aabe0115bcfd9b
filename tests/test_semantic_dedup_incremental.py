"""Incremental semantic dedup vs the persisted IVF-PQ index
(operators/ann_index.incremental_semantic_dedup): batch verdicts must
equal full-corpus SemDeDup verdicts restricted to the batch, the ADC
shortlist must be exact when it covers cell occupancy, and re-running
the verdict — before or after the batch's own index append — must be
idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators import similarity
from etl_data_warehouse_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_pq_index,
    incremental_semantic_dedup,
)
from etl_data_warehouse_spark.plans.llm_ops import _twin_corpus
from etl_data_warehouse_spark.sources.catalog import load_table

_PARAMS = dict(n_cells=8, m=4, codes=8, pq_train_limit=None)
_TH = 0.9


def _rows(df):
    return sorted(
        (r["vec_id"], r["cell_id"], r["kept"], r["dup_of"])
        for r in df.collect()
    )


def _split(spark, sf_dir):
    """Corpus = base embeddings; batch = their planted near-dup twins
    (ids offset by 1_000_000 — every batch id is higher, the append
    ordering the operator's keep-lowest-id policy assumes)."""
    emb = load_table(spark, "embeddings", sf_dir)
    both = _twin_corpus(emb)
    corpus = both.filter(F.col("vec_id") < 1_000_000)
    batch = both.filter(F.col("vec_id") >= 1_000_000)
    return both, corpus, batch


def test_batch_verdicts_equal_full_semantic_dedup(spark, sf_dir, tmp_path):
    both, corpus, batch = _split(spark, sf_dir)
    idx = str(tmp_path / "semdedup_idx")
    build_ivf_pq_index(corpus, idx, **_PARAMS)

    got = incremental_semantic_dedup(corpus, batch, idx, threshold=_TH)

    cents = spark.read.parquet(f"{idx}/centroids")
    full = similarity.semantic_dedup(both, threshold=_TH, centroids=cents)
    want = full.filter(F.col("vec_id") >= 1_000_000)
    assert _rows(got) == _rows(want)
    # non-trivial: the planted twins must actually be dropped
    dropped = [r for r in _rows(got) if not r[2]]
    assert len(dropped) >= int(0.9 * batch.count())


def test_within_batch_earlier_member_wins(spark, sf_dir, tmp_path):
    # a batch containing BOTH members of a dup pair: the lower batch id
    # must win (within-batch candidates, not just index-side ones)
    both, corpus, _ = _split(spark, sf_dir)
    small_corpus = corpus.filter(F.col("vec_id") >= 100)
    batch = both.filter(
        (F.col("vec_id") < 100) | (F.col("vec_id") >= 1_000_000)
    )
    idx = str(tmp_path / "semdedup_idx_wb")
    build_ivf_pq_index(small_corpus, idx, **_PARAMS)

    got = incremental_semantic_dedup(small_corpus, batch, idx, threshold=_TH)
    cents = spark.read.parquet(f"{idx}/centroids")
    want = similarity.semantic_dedup(
        both, threshold=_TH, centroids=cents
    ).join(batch.select("vec_id"), "vec_id", "left_semi")
    assert _rows(got) == _rows(want)
    # at least one twin's dup_of must point INTO the batch itself
    by_dup = [r for r in _rows(got) if r[3] is not None and r[3] < 100]
    assert by_dup, "expected some dup_of pointing at a within-batch id"


def test_adc_shortlist_exact_when_covering(spark, sf_dir, tmp_path):
    both, corpus, batch = _split(spark, sf_dir)
    idx = str(tmp_path / "semdedup_idx_sl")
    build_ivf_pq_index(corpus, idx, **_PARAMS)
    exact = incremental_semantic_dedup(corpus, batch, idx, threshold=_TH)
    # shortlist >= max cell occupancy -> no pruning -> identical
    cover = corpus.count()
    pruned = incremental_semantic_dedup(
        corpus, batch, idx, threshold=_TH, shortlist=cover
    )
    assert _rows(exact) == _rows(pruned)


def test_verdict_idempotent_across_own_append(spark, sf_dir, tmp_path):
    both, corpus, batch = _split(spark, sf_dir)
    idx = str(tmp_path / "semdedup_idx_replay")
    build_ivf_pq_index(corpus, idx, **_PARAMS)

    v1 = _rows(incremental_semantic_dedup(corpus, batch, idx, threshold=_TH))
    v2 = _rows(incremental_semantic_dedup(corpus, batch, idx, threshold=_TH))
    assert v1 == v2  # plain re-run

    # the daily flow: verdict, then append the batch to the index; a
    # REPLAYED verdict after the append must still be identical (the
    # batch's own rows in `assigned` add only self/duplicated
    # candidates, which `earlier < vec_id` and min() absorb)
    append_to_ivf_index(batch, idx, batch_id=1)
    v3 = _rows(incremental_semantic_dedup(corpus, batch, idx, threshold=_TH))
    assert v1 == v3


def test_no_cartesian_and_pruned_refine(spark, sf_dir, tmp_path):
    both, corpus, batch = _split(spark, sf_dir)
    idx = str(tmp_path / "semdedup_idx_plan")
    build_ivf_pq_index(corpus, idx, **_PARAMS)
    df = incremental_semantic_dedup(corpus, batch, idx, threshold=_TH)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
