"""Eval-set decontamination (decontaminate_spans / q128): planted
benchmark 8-grams must be cut from training text and provably absent
from written training shards; clean text survives untouched."""

from __future__ import annotations

import re

import pytest

from etl_data_warehouse_spark.plans.text_quality import (
    decontaminate_spans,
)

# one benchmark passage planted VERBATIM inside train doc 1, plus an
# 8-gram straddling its edge in doc 2; doc 3 is clean
_EVAL_TEXT = "the quick brown fox jumps over the lazy dog tonight"
_TRAIN = [
    (1, "intro words here " + _EVAL_TEXT + " trailing content words"),
    (2, "quick brown fox jumps over the lazy dog extra filler tokens here"),
    (3, "completely unrelated clean training document with enough tokens"),
]
_EVAL = [(100, _EVAL_TEXT), (101, "another held out benchmark prompt")]


def _grams(text: str, n: int = 8) -> set[str]:
    toks = re.split(r" +", text.strip()) if text.strip() else []
    return {
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    }


class TestDecontaminateSpans:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        train = spark.createDataFrame(_TRAIN, "doc_id long, text string")
        evals = spark.createDataFrame(_EVAL, "doc_id long, text string")
        return train, evals

    def test_eval_grams_cut_clean_docs_untouched(self, spark, frames):
        train, evals = frames
        rows = {
            r["doc_id"]: r
            for r in decontaminate_spans(train, evals).collect()
        }
        eval_grams = set().union(*(_grams(t) for _id, t in _EVAL))
        for doc_id, r in rows.items():
            assert not (_grams(r["clean_text"]) & eval_grams), doc_id
        # doc 1 contained the verbatim passage -> spans removed
        assert rows[1]["n_removed"] > 0
        # doc 2 shares an 8-gram with the benchmark -> removed too
        assert rows[2]["n_removed"] > 0
        # doc 3 is clean -> byte-identical
        assert rows[3]["n_removed"] == 0
        assert rows[3]["clean_text"] == _TRAIN[2][1]

    def test_written_shards_free_of_eval_grams(
        self, spark, frames, tmp_path
    ):
        """The VERDICT r7 #6 end-to-end proof: decontaminate -> shard
        writer -> read the shards back -> zero eval 8-grams anywhere."""
        from pyspark.sql import functions as F

        from etl_data_warehouse_spark.sources.shards import (
            write_training_shards,
        )

        train, evals = frames
        cleaned = decontaminate_spans(train, evals).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        p = str(tmp_path / "shards")
        write_training_shards(cleaned, p, n_shards=2, budget=16)
        eval_grams = set().union(*(_grams(t) for _id, t in _EVAL))
        shard_texts = [
            r["text"] for r in spark.read.parquet(p).select("text").collect()
        ]
        assert shard_texts  # the corpus actually landed
        for t in shard_texts:
            assert not (_grams(t) & eval_grams)

    def test_pipeline_audit_reports_removed_tokens(self, spark, sf_dir):
        # covered end-to-end by test_corpus_pipeline; here just the new
        # audit key's presence and type via a tiny run
        import tempfile

        from etl_data_warehouse_spark.plans.corpus_pipeline import (
            run_corpus_pipeline,
        )

        with tempfile.TemporaryDirectory() as out:
            audit = run_corpus_pipeline(spark, sf_dir, out)
        assert audit["status"] == "SUCCESS"
        assert isinstance(audit["decontaminated_tokens_removed"], int)
        assert audit["decontaminated_tokens_removed"] >= 0
