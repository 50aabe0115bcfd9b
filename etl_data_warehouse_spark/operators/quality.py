"""Data-quality operator suite (reference: airflow/dags/data_quality_check.py
and dbt schema tests — SURVEY.md §2.11).

Every check is a lazy DataFrame returning violations or stats — the
engine-side twin of the reference's SQL round-trips. At 100 TB each
check is a single scan (null rates / assertions fold into one
aggregation per table). Orphan detection lives in the plans that
need it: a left-anti join in q11, a broadcast left join in the
``run_pipeline`` quality gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def null_rates(df: DataFrame, table_name: str, columns: list[str]) -> DataFrame:
    """Per-column null counts/rates in ONE scan of the table
    (reference: data_quality_check.py:42-73 loops a query per column).
    """
    aggs = [F.count("*").alias("total_count")]
    for c in columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nulls_{c}")
        )
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', __nulls_{c}" for c in columns)
    return wide.select(
        F.lit(table_name).alias("table_name"),
        F.expr(
            f"stack({len(columns)}, {stack_expr}) AS (column_name, null_count)"
        ),
        "total_count",
    ).select(
        "table_name",
        "column_name",
        "null_count",
        "total_count",
        (F.col("null_count") * F.lit(100.0) / F.col("total_count")).alias(
            "null_rate_pct"
        ),
    )


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Business keys appearing more than once
    (reference: data_quality_check.py:76-105)."""
    return df.groupBy(key).count().filter(F.col("count") > 1)


def audit_log_row(
    spark: SparkSession, run_details: dict
) -> DataFrame:
    """One run-summary row (reference: warehouse_loader.py:219-254);
    append to an etl_run_log sink via df.write.mode('append')."""
    import datetime

    row = {
        "run_id": str(run_details.get("run_id", "")),
        "status": str(run_details.get("status", "")),
        "records_extracted": int(run_details.get("records_extracted", 0)),
        "records_loaded": int(run_details.get("records_loaded", 0)),
        "started_at": run_details.get("started_at", datetime.datetime.now()),
        "finished_at": run_details.get("finished_at", datetime.datetime.now()),
    }
    return spark.createDataFrame(
        [tuple(row.values())],
        "run_id string, status string, records_extracted long, "
        "records_loaded long, started_at timestamp, finished_at timestamp",
    )
