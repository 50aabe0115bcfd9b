"""Catalog contract tests — Spark twin of the reference's extractor
contract layer (reference: tests/test_extractors.py; SURVEY.md §5.2):
column-list contracts, incremental filter application, empty-result and
error behavior."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from etl_data_warehouse_spark.schemas import SCHEMAS
from etl_data_warehouse_spark.sources.catalog import load_table


class TestColumnContracts:
    def test_projection_returns_exactly_requested_columns(self, spark, sf_dir):
        df = load_table(
            spark, "orders", sf_dir, columns=["o_orderkey", "o_totalprice"]
        )
        assert df.columns == ["o_orderkey", "o_totalprice"]

    def test_full_scan_matches_declared_schema(self, spark, sf_dir):
        # names AND types, at every scale factor next to the test one
        root = os.path.dirname(sf_dir)
        for d in sorted(glob.glob(os.path.join(root, "sf*"))):
            for name, schema in SCHEMAS.items():
                got = load_table(spark, name, d).schema
                assert [(f.name, f.dataType) for f in got] == [
                    (f.name, f.dataType) for f in schema
                ], (d, name)

    def test_unknown_table_raises_keyerror_listing_tables(self, spark, sf_dir):
        with pytest.raises(KeyError, match="orders"):
            load_table(spark, "no_such_table", sf_dir)

    def test_missing_path_raises_analysis_exception(self, spark):
        with pytest.raises(AnalysisException):
            load_table(spark, "orders", "/root/testdata/sf_nope").collect()


class TestIncrementalContract:
    def test_predicate_filters_and_empty_result_is_clean(self, spark, sf_dir):
        # filter beyond max date → empty DataFrame, not an error
        # (reference: test_extractors.py empty-result behavior)
        df = load_table(
            spark,
            "orders",
            sf_dir,
            predicate=F.col("o_orderdate") > F.lit("2999-01-01"),
        )
        assert df.count() == 0
        assert df.columns == [f.name for f in SCHEMAS["orders"].fields]

    def test_predicate_is_strictly_greater(self, spark, sf_dir):
        max_d = load_table(spark, "orders", sf_dir).agg(
            F.max("o_orderdate")
        ).first()[0]
        df = load_table(
            spark,
            "orders",
            sf_dir,
            predicate=F.col("o_orderdate") > F.lit(max_d),
        )
        assert df.count() == 0  # > excludes the watermark row itself


class TestCsvIngestion:
    def test_clean_and_quarantined_split(self, spark, tmp_path):
        from pyspark.sql import types as T

        from etl_data_warehouse_spark.sources.external import read_csv_table

        p = tmp_path / "in.csv"
        p.write_text(
            "id,name,amount\n"
            "1,alpha,10.5\n"
            "2,beta,not_a_number\n"
            "3,gamma,7.25\n"
        )
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("amount", T.DoubleType()),
            ]
        )
        clean, bad = read_csv_table(spark, str(p), schema)
        rows = {r["id"]: r for r in clean.collect()}
        assert set(rows) == {1, 3}
        assert rows[1]["amount"] == 10.5
        assert bad.count() == 1
        assert "not_a_number" in bad.first()["_corrupt_record"]

    def test_plain_read_without_quarantine(self, spark, tmp_path):
        from pyspark.sql import types as T

        from etl_data_warehouse_spark.sources.external import read_csv_table

        p = tmp_path / "ok.csv"
        p.write_text("id,name,amount\n1,a,1.0\n2,b,2.0\n")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("amount", T.DoubleType()),
            ]
        )
        df, bad = read_csv_table(spark, str(p), schema, quarantine_malformed=False)
        assert bad is None
        assert df.count() == 2


class TestOrcRoundTrip:
    def test_orc_preserves_values_and_prunes(self, spark, sf_dir, tmp_path):
        from etl_data_warehouse_spark.sources.catalog import load_table
        from etl_data_warehouse_spark.sources.external import read_orc, write_orc

        orders = load_table(spark, "orders", sf_dir)
        path = str(tmp_path / "orders_orc")
        write_orc(orders, path)
        back = read_orc(spark, path)
        assert back.schema == orders.schema
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, orders.collect())
        )
        pruned = read_orc(spark, path, columns=["o_orderkey", "o_totalprice"])
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "o_orderstatus" not in plan.split("ReadSchema")[-1][:300]


class TestRegistryWindow:
    """The driver hash-checks list(QUERIES)[:50]. Queries that have
    never received a driver-checked row (q47+ rotation, round-4
    additions) must sit inside that window, every oracle must have a
    query, and both dicts must stay in sync with __spark_entry__."""

    def test_window_covers_unchecked_queries(self):
        from etl_data_warehouse_spark.plans.registry import (
            _WINDOW_FIRST,
            QUERIES,
        )

        window = list(QUERIES)[:50]
        # the rotation list IS the set needing driver rows (q59 earned
        # its green row in r3 and may sit outside)
        missing = [k for k in _WINDOW_FIRST if k not in window]
        assert not missing, missing
        assert len(window) == len(set(window)) == 50

    def test_oracles_subset_of_queries(self):
        from etl_data_warehouse_spark.plans.registry import ORACLES, QUERIES

        assert set(ORACLES) <= set(QUERIES)
        # every registered query is callable
        assert all(callable(f) for f in QUERIES.values())

    def test_entry_module_mirrors_registry(self):
        import __spark_entry__ as e
        from etl_data_warehouse_spark.plans.registry import ORACLES, QUERIES

        assert list(e.queries()) == list(QUERIES)
        assert e.oracle_sql() == ORACLES
