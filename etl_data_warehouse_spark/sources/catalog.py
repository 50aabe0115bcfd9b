"""Table catalog: read the warehouse's logical tables from Parquet.

The reference's extractors build per-source SQL with explicit column
lists and optional high-watermark predicates
(reference: extractors/postgres_extractor.py:40-58,
extractors/mysql_extractor.py:40-58, extractors/mongo_extractor.py:19-80);
here every source is a declarative Parquet scan and Catalyst performs
column pruning / predicate pushdown into the scan itself (visible as
``PushedFilters`` / ``ReadSchema`` in ``df.explain``).

At 100 TB: these reads become partitioned-directory scans
(``.../orders/order_month=.../*.parquet``); the API is unchanged and
partition pruning replaces the reference's B-tree indexes
(reference: warehouse/target_schema.sql:105-110).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    columns: list[str] | None = None,
    predicate: Column | None = None,
) -> DataFrame:
    """Scan one logical table.

    ``columns``/``predicate`` mirror the reference's explicit projection
    lists and incremental WHERE clauses; both are pushed into the
    Parquet scan by Catalyst (SURVEY.md §2.1 S1-S6, §4.1).
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {sorted(SCHEMAS)}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark 4.1 reads
        # as TIMESTAMP_NTZ (micros-truncated). Interpret the NTZ wall
        # clock as UTC *without* going through the session timezone:
        # wall-clock micros since the NTZ epoch -> timestamp_micros.
        # (A plain NTZ->TIMESTAMP cast or to_utc_timestamp would
        # round-trip through spark.sql.session.timeZone and shift
        # DST-gap wall times on non-UTC drivers.)
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    if predicate is not None:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the spark.sql surface."""
    for name in SCHEMAS:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
