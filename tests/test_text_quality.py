"""PII scrubbing + repetition stats (plans/text_quality.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_data_warehouse_spark.functions.text import (
    PII_PATTERNS,
    pii_count,
    redact_pii,
)

PLANTED = [
    (1, "contact bob.smith+spam@example-mail.co.uk for details"),
    (2, "my ssn is 123-45-6789 do not share"),
    (3, "call 555-867-5309 or 555.867.5309 today"),
    (4, "mixed: a@b.io then 999-12-3456 then 222-333-4444 end"),
    (5, "clean text with digits 12345 and dashes -- but no pii"),
    (6, ""),
]


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(PLANTED, "doc_id long, text string")


SPAN = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens


class TestDupSpanRemoval:
    """remove_dup_spans (q95 core): positions covered by a cross-doc
    duplicated word 8-gram are cut; everything else survives with
    whitespace normalized."""

    @pytest.fixture(scope="class")
    def cleaned(self, spark):
        from etl_data_warehouse_spark.plans.text_quality import (
            remove_dup_spans,
        )

        rows = [
            (1, f"one two {SPAN} three four"),
            (2, f"{SPAN} five six seven eight nine ten eleven"),
            (3, "totally unique words nobody else repeats here at all"),
            (4, "short text"),
            (5, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in remove_dup_spans(docs).collect()
        }

    def test_shared_span_removed_from_both_docs(self, cleaned):
        assert cleaned[1]["clean_text"] == "one two three four"
        assert cleaned[1]["n_removed"] == 8
        assert cleaned[2]["clean_text"] == (
            "five six seven eight nine ten eleven"
        )
        assert cleaned[2]["n_removed"] == 8

    def test_unique_doc_untouched(self, cleaned):
        assert cleaned[3]["n_removed"] == 0
        assert cleaned[3]["clean_text"] == (
            "totally unique words nobody else repeats here at all"
        )

    def test_sub_8gram_docs_pass_through(self, cleaned):
        assert cleaned[4]["clean_text"] == "short text"
        assert cleaned[4]["n_removed"] == 0
        # empty text tokenizes to one empty token, nothing removable
        assert cleaned[5]["n_removed"] == 0

    def test_counts_consistent(self, cleaned):
        for r in cleaned.values():
            if not r["clean_text"]:
                continue
            kept = len(r["clean_text"].split(" "))
            assert r["n_tokens"] - r["n_removed"] == kept


class TestPIIRedaction:
    def test_planted_pii_is_redacted(self, planted):
        rows = {
            r["doc_id"]: r
            for r in planted.select(
                "doc_id",
                redact_pii("text").alias("clean"),
                *[
                    pii_count("text", p).alias(f"n_{name}")
                    for name, p, _ in PII_PATTERNS
                ],
            ).collect()
        }
        assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["clean"]
        assert "bob.smith" not in rows[1]["clean"]
        assert rows[2]["n_ssn"] == 1 and "[SSN]" in rows[2]["clean"]
        assert rows[3]["n_phone"] == 2
        assert rows[3]["clean"].count("[PHONE]") == 2
        # SSN shape must win over the phone shape on the same digits
        assert rows[4]["n_ssn"] == 1 and rows[4]["n_phone"] == 1
        assert rows[4]["clean"] == "mixed: [EMAIL] then [SSN] then [PHONE] end"
        assert rows[5]["clean"] == PLANTED[4][1]  # untouched
        assert rows[6]["clean"] == ""

    def test_cross_engine_parity_on_planted_pii(self, planted):
        """Spark's Java regex and DuckDB's RE2 agree on the PII subset —
        the behavioral half of q48's oracle (the corpus half has ~no
        PII to exercise the patterns)."""
        spark_rows = sorted(
            (r["doc_id"], r["clean"], r["n"])
            for r in planted.select(
                "doc_id",
                redact_pii("text").alias("clean"),
                sum(
                    pii_count("text", p) for _, p, _ in PII_PATTERNS
                ).alias("n"),
            ).collect()
        )
        redacted = "text"
        counts = " + ".join(
            f"len(regexp_extract_all(text, '{p}'))"
            for _, p, _ in PII_PATTERNS
        )
        for _name, p, repl in PII_PATTERNS:
            redacted = f"regexp_replace({redacted}, '{p}', '{repl}', 'g')"
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t (doc_id BIGINT, text VARCHAR);"
        )
        con.executemany("INSERT INTO t VALUES (?, ?)", PLANTED)
        duck_rows = sorted(
            (int(i), c, int(n))
            for i, c, n in con.execute(
                f"SELECT doc_id, {redacted}, ({counts})::BIGINT FROM t"
            ).fetchall()
        )
        assert spark_rows == duck_rows


class TestTfIdf:
    def test_rare_term_outranks_common(self, spark):
        from etl_data_warehouse_spark.operators.corpus import tf_idf_topk

        # 'the' appears in every doc (idf=0); each doc's unique token
        # must win rank 1 despite equal term frequency.
        df = spark.createDataFrame(
            [(1, "the zebra"), (2, "the yak"), (3, "the xerus")],
            "doc_id long, text string",
        )
        top1 = {
            r["doc_id"]: r["token"]
            for r in tf_idf_topk(df, k=1).collect()
        }
        assert top1 == {1: "zebra", 2: "yak", 3: "xerus"}

    def test_invariants_on_sf_dir(self, spark, sf_dir):
        from etl_data_warehouse_spark.plans.text_quality import q50_tfidf_topk

        rows = q50_tfidf_topk(spark, sf_dir).limit(60).collect()
        assert rows
        for r in rows:
            assert 1 <= r["rank"] <= 3
            assert r["doc_freq"] >= 1 and r["term_freq"] >= 1


class TestRepetitionStats:
    def test_repetition_signals(self, spark):
        from etl_data_warehouse_spark.plans.text_quality import (
            q49_repetition_stats,
        )

        # piggyback on the registered query via a temp view-free path:
        # build a two-doc frame through the same operators instead.
        from etl_data_warehouse_spark.functions.text import tokens

        df = spark.createDataFrame(
            [(1, "spam spam spam eggs"), (2, "all words here differ")],
            "doc_id long, text string",
        )
        tf = (
            df.select("doc_id", F.explode(tokens("text")).alias("token"))
            .groupBy("doc_id", "token")
            .count()
        )
        top = {
            r["doc_id"]: (r["token"], r["count"])
            for r in tf.orderBy(F.desc("count")).collect()
            if r["count"] > 1 or r["doc_id"] == 2
        }
        assert top[1] == ("spam", 3)

    def test_q49_on_sf_dir(self, spark, sf_dir):
        from etl_data_warehouse_spark.plans.text_quality import (
            q49_repetition_stats,
        )

        out = q49_repetition_stats(spark, sf_dir)
        rows = out.limit(50).collect()
        assert rows, "q49 returned no rows"
        for r in rows:
            assert 0 < r["repetition_ratio"] <= 1.0
            assert 0 < r["type_token_ratio"] <= 1.0
            assert r["top_freq"] <= r["n_tokens"]
            assert r["n_distinct_tokens"] <= r["n_tokens"]


class TestWordNgrams:
    def test_short_and_empty_docs(self, spark):
        from etl_data_warehouse_spark.functions.text import word_ngrams

        df = spark.createDataFrame(
            [(1, "one"), (2, "two words"), (3, "a b c"), (4, "")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: (r["g2"], r["g3"])
            for r in df.select(
                "doc_id",
                word_ngrams("text", 2).alias("g2"),
                word_ngrams("text", 3).alias("g3"),
            ).collect()
        }
        assert rows[1] == ([], [])          # < n tokens -> empty, no error
        assert rows[2] == (["two words"], [])
        assert rows[3] == (["a b", "b c"], ["a b c"])
        assert rows[4] == ([], [])          # empty text -> one "" token

    def test_ngrams_keep_repeats_in_order(self, spark):
        from etl_data_warehouse_spark.functions.text import (
            word_ngrams,
            word_shingles,
        )

        df = spark.createDataFrame([(1, "x y x y x")], "doc_id long, text string")
        r = df.select(
            word_ngrams("text", 2).alias("g"),
            word_shingles("text", 2).alias("s"),
        ).first()
        assert r["g"] == ["x y", "y x", "x y", "y x"]   # repeats kept
        assert sorted(r["s"]) == ["x y", "y x"]          # distinct variant
