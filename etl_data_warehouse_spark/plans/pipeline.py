"""End-to-end pipeline: the reference's 9-task Airflow DAG as ONE
lazy Spark program (reference: airflow/dags/etl_daily_pipeline.py:348-412,
chain at :403-412; lifecycle analysis in SURVEY.md §3.1).

extract ∥ extract ∥ extract → transform → load dims → load facts →
quality → audit collapses into a single logical plan per sink: the three
extracts are independent subtrees (scheduled in parallel by Spark),
Parquet /tmp handoffs disappear, and Catalyst optimizes across what used
to be task boundaries. Sinks are idempotent merge-upserts, so re-running
a day is safe (the reference's retry semantics).
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import quality
from ..operators.star import (
    build_dim_customers,
    build_dim_date,
    build_dim_products,
    build_fact_daily_sales,
    build_fact_orders,
)
from ..sources.catalog import load_table
from ..sources.sinks import merge_upsert, merge_upsert_stable


def run_pipeline(
    spark: SparkSession, sf_dir: str, warehouse_dir: str
) -> dict:
    """Full-rebuild ETL run into warehouse_dir; returns the audit summary
    (twin of the reference's etl_run_log row, warehouse_loader.py:219-254).
    """
    os.makedirs(warehouse_dir, exist_ok=True)
    started = datetime.datetime.now()

    # --- extract + transform (lazy; three independent source subtrees) ---
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    records_extracted = orders.select().union(lineitem.select()).count()

    # --- dimensions (broadcast-scale), then facts ---
    # dim_date's key is semantic (yyyymmdd) — stable by construction.
    # Surrogate-keyed dims go through merge_upsert_stable so a re-run
    # never renumbers keys already stored (reference semantics:
    # warehouse_loader.py:56-69 excludes the SERIAL key from SET).
    loads = {}
    loads["dim_date"] = merge_upsert(
        spark,
        build_dim_date(spark, sf_dir),
        os.path.join(warehouse_dir, "dim_date"),
        ["date_key"],
    )
    loads["dim_customers"], dim_c_keyed = merge_upsert_stable(
        spark,
        build_dim_customers(spark, sf_dir),
        os.path.join(warehouse_dir, "dim_customers"),
        ["customer_id"],
        "customer_key",
    )
    loads["dim_products"], _ = merge_upsert_stable(
        spark,
        build_dim_products(spark, sf_dir),
        os.path.join(warehouse_dir, "dim_products"),
        ["product_id"],
        "product_key",
    )
    # Facts resolve FKs against the stable-keyed dim actually stored.
    facts = {
        "fact_orders": (
            build_fact_orders(spark, sf_dir, dim_customers=dim_c_keyed),
            ["order_key"],
        ),
        "fact_daily_sales": (
            build_fact_daily_sales(spark, sf_dir),
            ["date_key", "product_id"],
        ),
    }
    for name, (df, keys) in facts.items():
        loads[name] = merge_upsert(
            spark, df, os.path.join(warehouse_dir, name), keys
        )

    # --- quality gate (reference: data_quality_check.py; dbt tests) ---
    # One aggregation answers all four checks: per order_key, its row
    # count, negative amounts and customer keys missing from the dim.
    fact = spark.read.parquet(os.path.join(warehouse_dir, "fact_orders"))
    dim_keys = (
        spark.read.parquet(os.path.join(warehouse_dir, "dim_customers"))
        .select(F.col("customer_key").alias("_dim_key"))
        .distinct()
    )
    orphan = F.col("customer_key").isNotNull() & F.col("_dim_key").isNull()
    g = (
        fact.join(F.broadcast(dim_keys),
                  F.col("customer_key") == F.col("_dim_key"), "left")
        .groupBy("order_key")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count_if(F.col("total_amount") < 0).alias("neg"),
             F.count_if(orphan).alias("orphan"))
        .agg(*[F.sum(c).alias(c) for c in ("n", "neg", "orphan")],
             F.count_if(F.col("n") > 1).alias("dup"))
        .first()
    )
    checks = {
        "fact_nonempty": bool(g["n"]),
        "no_negative_amounts": not g["neg"],
        "no_orphan_customers": not g["orphan"],
        "no_duplicate_orders": not g["dup"],
    }

    # --- audit log append (reference: warehouse_loader.py:219-254) ---
    status = "SUCCESS" if all(checks.values()) else "FAILED_QUALITY"
    summary = {
        "run_id": uuid.uuid4().hex,
        "status": status,
        "records_extracted": records_extracted,
        "records_loaded": sum(
            v.get("inserted", 0) + v.get("updated", 0) for v in loads.values()
        ),
        "started_at": started,
        "finished_at": datetime.datetime.now(),
    }
    quality.audit_log_row(spark, summary).write.mode("append").parquet(
        os.path.join(warehouse_dir, "etl_run_log")
    )
    return {"status": status, "loads": loads, "checks": checks, **summary}
