"""External JSON source, salted skew joins, bucketing, approximate
distinct counts and temporal joins."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_data_warehouse_spark.operators.skew import salted_join, salted_sum
from etl_data_warehouse_spark.sources.catalog import load_table
from etl_data_warehouse_spark.sources.external import read_json_documents


class TestJsonDocuments:
    SCHEMA = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("review_id", T.StringType()),
            T.StructField("rating", T.IntegerType()),
            T.StructField("review_date", T.TimestampType()),
        ]
    )

    def test_schema_on_read_flatten_and_incremental(self, spark, tmp_path):
        docs = [
            {"_id": "a1", "review_id": "r1", "rating": 5,
             "review_date": "2024-01-01T00:00:00"},
            {"_id": "a2", "review_id": "r2", "rating": 3,
             "review_date": "2024-06-01T00:00:00"},
        ]
        p = tmp_path / "docs.json"
        p.write_text("\n".join(json.dumps(d) for d in docs))
        out = read_json_documents(spark, str(p), self.SCHEMA)
        assert out.columns == ["review_id", "rating", "review_date"]  # _id dropped
        assert out.count() == 2
        inc = read_json_documents(
            spark, str(p), self.SCHEMA,
            predicate=F.col("review_date") > F.lit("2024-03-01"),
        )
        assert [r["review_id"] for r in inc.collect()] == ["r2"]


class TestSkew:
    def test_salted_join_equals_plain_join(self, spark, sf_dir):
        li = load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_partkey", "l_extendedprice"
        )
        part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
        right = part.withColumnRenamed("p_partkey", "l_partkey")
        plain = (
            li.join(right, "l_partkey")
            .groupBy("p_brand")
            .agg(F.count("*").alias("n"))
        )
        salted = (
            salted_join(li, right, "l_partkey", salt=4)
            .groupBy("p_brand")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_salted_join_rejects_outer_and_anti(self, spark, sf_dir):
        # the exploded right side duplicates unmatched right rows s
        # times under right/full joins and inverts anti semantics —
        # those types must be rejected, not silently wrong.
        li = load_table(spark, "lineitem", sf_dir).select("l_partkey")
        right = load_table(spark, "part", sf_dir).select(
            F.col("p_partkey").alias("l_partkey")
        )
        for how in ("right", "full", "left_anti", "cross"):
            with pytest.raises(ValueError, match="salted_join supports"):
                salted_join(li, right, "l_partkey", salt=4, how=how)

    def test_salted_sum_equals_plain_sum(self, spark, sf_dir):
        li = load_table(spark, "lineitem", sf_dir)
        plain = (
            li.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity")).alias("s"))
        )
        salted = salted_sum(li, "l_returnflag", F.col("l_quantity"), "s")
        assert {(r["l_returnflag"], r["s"]) for r in plain.collect()} == {
            (r["l_returnflag"], r["s"]) for r in salted.collect()
        }


class TestBucketing:
    def test_colocated_join_has_no_shuffle(self, spark, sf_dir, tmp_path):
        from etl_data_warehouse_spark.sources.bucketing import (
            colocated_join,
            write_bucketed,
        )

        orders = load_table(spark, "orders", sf_dir)
        li = load_table(spark, "lineitem", sf_dir).withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "b_orders", "o_orderkey", 8,
                       str(tmp_path / "b_orders"))
        write_bucketed(li, "b_lineitem", "o_orderkey", 8,
                       str(tmp_path / "b_lineitem"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = colocated_join(spark, "b_orders", "b_lineitem",
                                    "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan  # zero shuffle
            # results identical to the plain join
            assert joined.count() == orders.join(li, "o_orderkey").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")

    def test_stale_catalog_entry_still_validated(
        self, spark, sf_dir, tmp_path
    ):
        """register_bucketed_table must validate the layout even when
        the table NAME is already in the catalog — a stale entry
        pointing at a since-rewritten directory was previously never
        caught (r12 advice)."""
        import pytest

        from etl_data_warehouse_spark.sources.bucketing import (
            register_bucketed_table,
            write_bucketed,
        )

        orders = load_table(spark, "orders", sf_dir).limit(100)
        path = str(tmp_path / "b_stale")
        write_bucketed(orders, "b_stale", "o_orderkey", 8, path)
        try:
            # rewrite the directory with a DIFFERENT bucket spec while
            # the catalog entry (8 buckets) still exists
            import shutil

            shutil.rmtree(path)
            orders.write.mode("overwrite").parquet(path)  # plain parquet
            with pytest.raises(ValueError):
                register_bucketed_table(
                    spark, "b_stale", path, ["o_orderkey"], 8
                )
        finally:
            spark.sql("DROP TABLE IF EXISTS b_stale")

    def test_remote_path_bypass_warns(self, tmp_path):
        """Non-local paths skip the layout inspection — that bypass
        must be LOUD (warning), not silent (r12 advice)."""
        import warnings as _w

        from etl_data_warehouse_spark.sources.bucketing import (
            validate_bucket_layout,
        )

        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            validate_bucket_layout("s3://bucket/prefix", ["k"], 8)
        assert any("NOT verified" in str(r.message) for r in rec)

    def test_ctas_bucketed_sql_surface(self, spark, sf_dir, tmp_path):
        """The SQL CTAS twin must produce the same zero-shuffle layout
        as the DataFrame writer path."""
        from etl_data_warehouse_spark.sources.bucketing import (
            colocated_join,
            ctas_bucketed,
        )

        orders = load_table(spark, "orders", sf_dir)
        orders.createOrReplaceTempView("tmp_orders_src")
        li = load_table(spark, "lineitem", sf_dir)
        li.createOrReplaceTempView("tmp_li_src")
        ctas_bucketed(
            spark,
            "cb_orders",
            "SELECT * FROM tmp_orders_src",
            "o_orderkey",
            8,
            str(tmp_path / "cb_orders"),
        )
        ctas_bucketed(
            spark,
            "cb_lineitem",
            "SELECT l_orderkey AS o_orderkey, l_quantity FROM tmp_li_src",
            "o_orderkey",
            8,
            str(tmp_path / "cb_lineitem"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = colocated_join(spark, "cb_orders", "cb_lineitem",
                                    "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS cb_orders")
            spark.sql("DROP TABLE IF EXISTS cb_lineitem")


class TestApproxDistinct:
    def test_hll_within_5pct_of_exact(self, spark, sf_dir):
        """approx_count_distinct (HLL++) — the at-scale COUNT(DISTINCT)
        path; accuracy bound asserted against the exact count."""
        orders = load_table(spark, "orders", sf_dir)
        row = orders.agg(
            F.countDistinct("o_custkey").alias("exact"),
            F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        ).first()
        assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


class TestTemporalJoins:
    def test_range_join_avoids_nested_loop(self, spark, sf_dir):
        from etl_data_warehouse_spark.plans.registry import QUERIES

        plan = (
            QUERIES["q38_range_join"](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the whole point of the bucket trick: hash join, not O(n*m)
        assert "BroadcastNestedLoopJoin" not in plan

    def test_asof_forward_direction(self, spark):
        import datetime

        from etl_data_warehouse_spark.operators.temporal import asof_join

        ts = datetime.datetime
        left = spark.createDataFrame(
            [(1, 100, ts(2024, 1, 5))], "id long, k long, t timestamp"
        )
        right = spark.createDataFrame(
            [
                (100, ts(2024, 1, 1), "past"),
                (100, ts(2024, 1, 7), "near_future"),
                (100, ts(2024, 1, 20), "far_future"),
            ],
            "k2 long, t2 timestamp, tag string",
        )
        fwd = asof_join(
            left, right, "k", "k2", "t", "t2", "id", direction="forward"
        ).collect()
        assert len(fwd) == 1 and fwd[0]["tag"] == "near_future"
        back = asof_join(
            left, right, "k", "k2", "t", "t2", "id", direction="backward"
        ).collect()
        assert len(back) == 1 and back[0]["tag"] == "past"
