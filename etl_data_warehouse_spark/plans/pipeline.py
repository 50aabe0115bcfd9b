"""End-to-end pipeline: the reference's 9-task Airflow DAG as ONE
Spark driver program (reference: airflow/dags/etl_daily_pipeline.py:348-412,
chain at :403-412; lifecycle analysis in SURVEY.md §3.1).

extract ∥ extract ∥ extract → transform → load dims → load facts →
quality → audit collapses into one lazy logical plan per sink: Parquet
/tmp handoffs disappear and Catalyst optimizes across what used to be
task boundaries. Each sink is its own Spark action, and Spark runs the
actions one driver thread submits one after another, so the sinks with
no data dependency run as concurrent branches (plans/branches.py):

    records_extracted
    dim_date
    dim_customers → fact_orders → quality gate
    dim_products
    fact_daily_sales
                        → audit row (after every branch)

Sinks are idempotent merge-upserts, so re-running a day is safe (the
reference's retry semantics), also after a failed branch.
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
from .branches import run_branches, timed


def _quality_checks(spark: SparkSession, warehouse_dir: str) -> dict:
    """The reference's quality gate (data_quality_check.py; dbt tests)
    over the stored fact_orders and dim_customers. One aggregation
    answers all four checks: per order_key, its row count, negative
    amounts and customer keys missing from the dim."""
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
    return {
        "fact_nonempty": bool(g["n"]),
        "no_negative_amounts": not g["neg"],
        "no_orphan_customers": not g["orphan"],
        "no_duplicate_orders": not g["dup"],
    }


def run_pipeline(
    spark: SparkSession, sf_dir: str, warehouse_dir: str
) -> dict:
    """Incremental ETL run into warehouse_dir; returns the audit summary
    (twin of the reference's etl_run_log row, warehouse_loader.py:219-254)
    plus ``loads`` (per-table counts), ``checks`` and ``stage_sec``.

    ``stage_sec`` maps each step (``extract``, the five tables,
    ``quality``, ``audit``) to its own wall time in seconds. Steps on
    different branches overlap, so the values can add up to more than
    the run's wall time. When a branch raises, the others still finish
    and the first error is re-raised; no audit row is written.
    """
    os.makedirs(warehouse_dir, exist_ok=True)
    started = datetime.datetime.now()
    sc = spark.sparkContext
    stage_sec: dict[str, float] = {}

    def table(name: str) -> str:
        return os.path.join(warehouse_dir, name)

    def extracted() -> int:
        with timed(sc, stage_sec, "extract"):
            orders = load_table(spark, "orders", sf_dir)
            lineitem = load_table(spark, "lineitem", sf_dir)
            return orders.select().union(lineitem.select()).count()

    def dim_date() -> dict:
        # the key is semantic (yyyymmdd): stable by construction
        with timed(sc, stage_sec, "dim_date"):
            return merge_upsert(
                spark, build_dim_date(spark, sf_dir), table("dim_date"),
                ["date_key"],
            )

    # Surrogate-keyed dims go through merge_upsert_stable so a re-run
    # never renumbers keys already stored (reference semantics:
    # warehouse_loader.py:56-69 excludes the SERIAL key from SET).
    def customers_orders_quality() -> tuple[dict, dict, dict]:
        with timed(sc, stage_sec, "dim_customers"):
            dim_c, dim_c_keyed = merge_upsert_stable(
                spark, build_dim_customers(spark, sf_dir),
                table("dim_customers"), ["customer_id"], "customer_key",
            )
        # the fact resolves FKs against the stable-keyed dim actually
        # stored, and the gate reads only these two tables
        with timed(sc, stage_sec, "fact_orders"):
            fact_o = merge_upsert(
                spark,
                build_fact_orders(spark, sf_dir, dim_customers=dim_c_keyed),
                table("fact_orders"), ["order_key"],
            )
        with timed(sc, stage_sec, "quality"):
            checks = _quality_checks(spark, warehouse_dir)
        return dim_c, fact_o, checks

    def dim_products() -> dict:
        with timed(sc, stage_sec, "dim_products"):
            return merge_upsert_stable(
                spark, build_dim_products(spark, sf_dir),
                table("dim_products"), ["product_id"], "product_key",
            )[0]

    def fact_daily_sales() -> dict:
        with timed(sc, stage_sec, "fact_daily_sales"):
            return merge_upsert(
                spark, build_fact_daily_sales(spark, sf_dir),
                table("fact_daily_sales"), ["date_key", "product_id"],
            )

    n_extracted, dim_d, (dim_c, fact_o, checks), dim_p, fact_s = (
        run_branches(
            spark, extracted, dim_date, customers_orders_quality,
            dim_products, fact_daily_sales,
        )
    )
    loads = {
        "dim_date": dim_d,
        "dim_customers": dim_c,
        "dim_products": dim_p,
        "fact_orders": fact_o,
        "fact_daily_sales": fact_s,
    }

    # --- audit log append (reference: warehouse_loader.py:219-254) ---
    status = "SUCCESS" if all(checks.values()) else "FAILED_QUALITY"
    summary = {
        "run_id": uuid.uuid4().hex,
        "status": status,
        "records_extracted": n_extracted,
        "records_loaded": sum(
            v.get("inserted", 0) + v.get("updated", 0) for v in loads.values()
        ),
        "started_at": started,
        "finished_at": datetime.datetime.now(),
    }
    with timed(sc, stage_sec, "audit"):
        quality.audit_log_row(spark, summary).write.mode("append").parquet(
            table("etl_run_log")
        )
    return {
        "status": status, "loads": loads, "checks": checks,
        "stage_sec": stage_sec, **summary,
    }
