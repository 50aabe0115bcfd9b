"""Star-schema construction, cleaning, and quality queries (q06-q17).

Each query exercises a block of SURVEY.md §2's operator inventory and
has a DuckDB oracle twin. Types are pinned on both sides (INT for
calendar fields, BIGINT for counts/keys, DOUBLE for money at the
boundary) so schema and value hashes match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_utils import date_key, is_weekend, weekday0
from ..functions.numeric import dec
from ..operators import quality
from ..operators.star import (
    build_dim_date,
    build_dim_products,
    build_fact_daily_sales,
    build_fact_lineitem,
    build_fact_orders,
)
from ..sources.catalog import load_table


# --- q06: date dimension generator (S11, F14, F19) -------------------------

def q06_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dim_date(spark, sf_dir)


Q06_ORACLE = """
WITH dates AS (
    SELECT unnest(generate_series(
               (SELECT min(o_orderdate)::DATE FROM orders),
               (SELECT max(o_orderdate)::DATE FROM orders),
               INTERVAL 1 DAY))::DATE AS full_date
)
SELECT full_date,
       strftime(full_date, '%Y%m%d')::INT AS date_key,
       year(full_date)::INT               AS year,
       month(full_date)::INT              AS month,
       day(full_date)::INT                AS day,
       quarter(full_date)::INT            AS quarter,
       monthname(full_date)               AS month_name,
       dayname(full_date)                 AS day_name,
       (isodow(full_date) - 1)::INT       AS weekday0,
       isodow(full_date) >= 6             AS is_weekend
FROM dates
"""


# --- q07: aggregate-derived product dimension (A1, W9) ----------------------

def q07_dim_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dim_products(spark, sf_dir)


Q07_ORACLE = """
WITH stats AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(l_extendedprice)  AS avg_price,
           COUNT(*)                      AS total_lineitems
    FROM lineitem
    GROUP BY 1
)
SELECT ROW_NUMBER() OVER (ORDER BY p_partkey) AS product_key,
       p_partkey            AS product_id,
       p_name               AS product_name,
       p_brand              AS product_category,
       p_type               AS product_type,
       p_size               AS product_size,
       p_retailprice::DOUBLE AS retail_price,
       avg_price,
       COALESCE(total_lineitems, 0)::BIGINT AS total_lineitems
FROM part
LEFT JOIN stats ON p_partkey = l_partkey
"""


# --- q08: daily-sales rollup with conditional aggregates (A2, A7, F9) -------

def q08_fact_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact_daily_sales(spark, sf_dir)


Q08_ORACLE = """
SELECT strftime(l_shipdate, '%Y%m%d')::INT  AS date_key,
       l_partkey                            AS product_id,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                                            AS total_sales_amount,
       COUNT(*)                             AS total_line_count,
       COUNT(DISTINCT l_orderkey)           AS total_orders_count,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(l_extendedprice)         AS avg_sale_value,
       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                                            AS cancelled_count,
       CAST(SUM(CASE WHEN l_returnflag = 'R'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                                            AS refunded_amount
FROM lineitem
GROUP BY 1, 2
"""


# --- q09: fact_orders assembly (J1, J7, F14, F18, W9 surrogate keys) ---------

def q09_fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact_orders(spark, sf_dir)


Q09_ORACLE = """
WITH dim_c AS (
    SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key,
           c_custkey AS customer_id
    FROM customer
)
SELECT o_orderkey                     AS order_key,
       customer_key,
       o_custkey                      AS customer_id,
       strftime(o_orderdate, '%Y%m%d')::INT AS date_key,
       o_orderdate::DATE              AS order_date,
       o_orderstatus                  AS status,
       o_totalprice::DOUBLE           AS total_amount,
       o_orderpriority                AS order_priority
FROM orders
LEFT JOIN dim_c ON o_custkey = customer_id
"""


# --- q10: row-level cleaning / scalar-function suite (F1-F23) ---------------

def q10_clean_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every scalar cleaning expression of the reference applied to real
    rows (reference: transformers/data_transformer.py; SURVEY.md §2.8)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.upper(F.trim(F.concat("l_returnflag", "l_linestatus"))).alias(
            "status_norm"
        ),
        F.lower(F.trim("l_linestatus")).alias("label_lower"),
        F.concat_ws("-", "l_returnflag", "l_linestatus").alias("flag_concat"),
        F.coalesce("l_quantity", F.lit(1.0)).cast("int").alias("qty_filled"),
        (
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
        ).alias("charged_amount"),
        F.least(F.greatest("l_discount", F.lit(0.02)), F.lit(0.08)).alias(
            "discount_clipped"
        ),
        F.when(
            F.col("l_returnflag").isin("A", "R"), F.col("l_returnflag")
        )
        .otherwise("N")
        .alias("flag_domain"),
        F.when(F.col("l_quantity") <= 10, "low")
        .when(F.col("l_quantity") <= 30, "mid")
        .otherwise("high")
        .alias("qty_band"),
        F.to_date("l_shipdate").alias("ship_date"),
        date_key("l_shipdate").alias("date_key"),
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
        weekday0("l_shipdate").alias("ship_weekday"),
        is_weekend("l_shipdate").alias("ship_is_weekend"),
        F.abs(F.col("l_discount") - F.lit(0.05)).alias("discount_dev"),
    )  # no final sort: the compare is order-insensitive; a global sort
    # of the full fact would be pure waste at scale


Q10_ORACLE = """
SELECT l_orderkey,
       l_linenumber,
       upper(trim(l_returnflag || l_linestatus))     AS status_norm,
       lower(trim(l_linestatus))                     AS label_lower,
       concat_ws('-', l_returnflag, l_linestatus)    AS flag_concat,
       CAST(COALESCE(l_quantity, 1.0) AS INT)        AS qty_filled,
       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charged_amount,
       least(greatest(l_discount, 0.02), 0.08)       AS discount_clipped,
       CASE WHEN l_returnflag IN ('A', 'R') THEN l_returnflag
            ELSE 'N' END                             AS flag_domain,
       CASE WHEN l_quantity <= 10 THEN 'low'
            WHEN l_quantity <= 30 THEN 'mid'
            ELSE 'high' END                          AS qty_band,
       l_shipdate::DATE                              AS ship_date,
       strftime(l_shipdate, '%Y%m%d')::INT           AS date_key,
       year(l_shipdate)::INT                         AS ship_year,
       month(l_shipdate)::INT                        AS ship_month,
       (isodow(l_shipdate) - 1)::INT                 AS ship_weekday,
       isodow(l_shipdate) >= 6                       AS ship_is_weekend,
       abs(l_discount - 0.05)                        AS discount_dev
FROM lineitem
ORDER BY l_orderkey, l_linenumber
"""


# --- q11: referential integrity semi/anti joins (P9, J9, J10) ---------------

def q11_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir, columns=["c_custkey"])
    li = load_table(spark, "lineitem", sf_dir)
    okeys = orders.select(F.col("o_orderkey").alias("l_orderkey"))
    part = load_table(spark, "part", sf_dir, columns=["p_partkey"])

    kept = (
        orders.join(
            F.broadcast(cust.withColumnRenamed("c_custkey", "o_custkey")),
            "o_custkey",
            "left_semi",
        ).agg(F.count("*").alias("orders_kept"))
    )
    orphans = (
        orders.join(
            F.broadcast(cust.withColumnRenamed("c_custkey", "o_custkey")),
            "o_custkey",
            "left_anti",
        ).agg(F.count("*").alias("orders_orphaned"))
    )
    li_no_order = (
        li.join(okeys, "l_orderkey", "left_anti").agg(
            F.count("*").alias("lineitems_no_order")
        )
    )
    li_no_part = (
        li.join(
            F.broadcast(part.withColumnRenamed("p_partkey", "l_partkey")),
            "l_partkey",
            "left_anti",
        ).agg(F.count("*").alias("lineitems_no_part"))
    )
    return kept.crossJoin(orphans).crossJoin(li_no_order).crossJoin(li_no_part)


Q11_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM orders
    WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
      AS orders_kept,
  (SELECT COUNT(*) FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
      AS orders_orphaned,
  (SELECT COUNT(*) FROM lineitem
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
      AS lineitems_no_order,
  (SELECT COUNT(*) FROM lineitem
    WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey))
      AS lineitems_no_part
"""


# --- q12: duplicate detection (A9, Q2) ---------------------------------------

def q12_duplicate_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    dup_orders = (
        quality.duplicate_keys(orders, "o_orderkey")
        .agg(F.count("*").alias("orders_dup_keys"))
    )
    doc_groups = docs.groupBy("text").agg(F.count("*").alias("cnt"))
    dup_docs = doc_groups.agg(
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("long")
        .alias("documents_dup_groups"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0))
        .cast("long")
        .alias("documents_dup_excess"),
        F.count("*").alias("documents_distinct_texts"),
    )
    return dup_orders.crossJoin(dup_docs)


Q12_ORACLE = """
WITH doc_groups AS (
    SELECT text, COUNT(*) AS cnt FROM documents GROUP BY text
)
SELECT
  (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                         GROUP BY o_orderkey HAVING COUNT(*) > 1))
      AS orders_dup_keys,
  (SELECT CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
     FROM doc_groups)  AS documents_dup_groups,
  (SELECT CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
     FROM doc_groups)  AS documents_dup_excess,
  (SELECT COUNT(*) FROM doc_groups) AS documents_distinct_texts
"""


# --- q13: null-rate profile (Q1, A10) ----------------------------------------

_NULL_COLS = {
    "orders": ["o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "lineitem": ["l_quantity", "l_shipdate", "l_returnflag"],
}


def q13_null_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, cols in _NULL_COLS.items():
        df = quality.null_rates(load_table(spark, table, sf_dir), table, cols)
        out = df if out is None else out.unionByName(df)
    return out.orderBy("table_name", "column_name")


def _null_rate_oracle() -> str:
    parts = []
    for table, cols in _NULL_COLS.items():
        for c in cols:
            parts.append(
                f"SELECT '{table}' AS table_name, '{c}' AS column_name, "
                f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS null_count, COUNT(*) AS total_count, "
                f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 100.0 "
                f"/ COUNT(*) AS null_rate_pct FROM {table}"
            )
    return (
        " UNION ALL ".join(parts) + " ORDER BY table_name, column_name"
    )


Q13_ORACLE = _null_rate_oracle()


# --- q14: quality assertions (Q6, Q7) ----------------------------------------

def q14_quality_assertions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o = orders.agg(
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
        .cast("long")
        .alias("negative_totals"),
        F.sum(
            F.when(
                date_key("o_orderdate").isNull()
                | (date_key("o_orderdate") < 19900101),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("invalid_date_keys"),
        F.count("*").alias("orders_rows"),
    )
    l = li.agg(
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("nonpositive_quantities"),
        F.sum(
            F.when(~F.col("l_discount").between(0.0, 1.0), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_discounts"),
        F.count("*").alias("lineitem_rows"),
    )
    return o.crossJoin(l)


Q14_ORACLE = """
SELECT
  (SELECT CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
     FROM orders) AS negative_totals,
  (SELECT CAST(SUM(CASE WHEN strftime(o_orderdate, '%Y%m%d')::INT IS NULL
                          OR strftime(o_orderdate, '%Y%m%d')::INT < 19900101
                        THEN 1 ELSE 0 END) AS BIGINT)
     FROM orders) AS invalid_date_keys,
  (SELECT COUNT(*) FROM orders) AS orders_rows,
  (SELECT CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
     FROM lineitem) AS nonpositive_quantities,
  (SELECT CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0
                        THEN 1 ELSE 0 END) AS BIGINT)
     FROM lineitem) AS bad_discounts,
  (SELECT COUNT(*) FROM lineitem) AS lineitem_rows
"""


# --- q15: top-k per group (O2 + ROW_NUMBER top-k) ----------------------------

def q15_top_orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("order_year", "order_month").orderBy(
        F.desc("total_amount"), F.col("o_orderkey")
    )
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("total_amount"),
        )
        .withColumn("month_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("month_rank") <= 5)
        .orderBy("order_year", "order_month", "month_rank")
    )


Q15_ORACLE = """
WITH ranked AS (
    SELECT year(o_orderdate)::INT   AS order_year,
           month(o_orderdate)::INT  AS order_month,
           o_orderkey,
           o_custkey,
           o_totalprice::DOUBLE     AS total_amount,
           ROW_NUMBER() OVER (PARTITION BY year(o_orderdate), month(o_orderdate)
                              ORDER BY o_totalprice DESC, o_orderkey)::INT
               AS month_rank
    FROM orders
)
SELECT * FROM ranked WHERE month_rank <= 5
ORDER BY order_year, order_month, month_rank
"""


# --- q16: manual pivot via conditional aggregation (F9) ----------------------

def q16_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)

    def rev(status: str):
        return (
            F.sum(
                F.when(
                    F.col("o_orderstatus") == status, dec("o_totalprice")
                ).otherwise(dec(F.lit(0)))
            )
            .cast("double")
        )

    return (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            rev("F").alias("completed_revenue"),
            rev("O").alias("pending_revenue"),
            rev("P").alias("processing_revenue"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("completed_orders"),
            F.count("*").alias("total_orders"),
        )
        .orderBy("order_year")
    )


Q16_ORACLE = """
SELECT year(o_orderdate)::INT AS order_year,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_totalprice AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS completed_revenue,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS pending_revenue,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                     THEN CAST(o_totalprice AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS processing_revenue,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS completed_orders,
       COUNT(*) AS total_orders
FROM orders
GROUP BY 1
ORDER BY 1
"""


# --- q17: ROLLUP with grouping id (superset of reference; SURVEY §2.4) -------

def q17_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.quarter("o_orderdate").cast("int").alias("order_quarter"),
            "o_totalprice",
        )
        .rollup("order_year", "order_quarter")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").alias("order_count"),
            F.grouping_id().cast("int").alias("grp_id"),
        )
        .orderBy("grp_id", "order_year", "order_quarter")
    )


Q17_ORACLE = """
SELECT year(o_orderdate)::INT     AS order_year,
       quarter(o_orderdate)::INT  AS order_quarter,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*)                   AS order_count,
       (GROUPING(year(o_orderdate)::INT) * 2
        + GROUPING(quarter(o_orderdate)::INT))::INT AS grp_id
FROM orders
GROUP BY ROLLUP (year(o_orderdate)::INT, quarter(o_orderdate)::INT)
ORDER BY grp_id, order_year, order_quarter
"""


QUERIES = {
    "q06_dim_date": q06_dim_date,
    "q07_dim_products": q07_dim_products,
    "q08_fact_daily_sales": q08_fact_daily_sales,
    "q09_fact_orders": q09_fact_orders,
    "q10_clean_lineitem": q10_clean_lineitem,
    "q11_referential_integrity": q11_referential_integrity,
    "q12_duplicate_checks": q12_duplicate_checks,
    "q13_null_rates": q13_null_rates,
    "q14_quality_assertions": q14_quality_assertions,
    "q15_top_orders_per_month": q15_top_orders_per_month,
    "q16_status_pivot": q16_status_pivot,
    "q17_sales_rollup": q17_sales_rollup,
}

ORACLES = {
    "q06_dim_date": Q06_ORACLE,
    "q07_dim_products": Q07_ORACLE,
    "q08_fact_daily_sales": Q08_ORACLE,
    "q09_fact_orders": Q09_ORACLE,
    "q10_clean_lineitem": Q10_ORACLE,
    "q11_referential_integrity": Q11_ORACLE,
    "q12_duplicate_checks": Q12_ORACLE,
    "q13_null_rates": Q13_ORACLE,
    "q14_quality_assertions": Q14_ORACLE,
    "q15_top_orders_per_month": Q15_ORACLE,
    "q16_status_pivot": Q16_ORACLE,
    "q17_sales_rollup": Q17_ORACLE,
}


# --- q18: CUBE with grouping id (superset; Spark/DuckDB both support) --------

def q18_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("o_orderstatus").alias("status"),
            "o_totalprice",
        )
        .cube("order_year", "status")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").alias("order_count"),
            F.grouping_id().cast("int").alias("grp_id"),
        )
        .orderBy("grp_id", "order_year", "status")
    )


Q18_ORACLE = """
SELECT year(o_orderdate)::INT AS order_year,
       o_orderstatus          AS status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*)               AS order_count,
       (GROUPING(year(o_orderdate)::INT) * 2 + GROUPING(o_orderstatus))::INT
           AS grp_id
FROM orders
GROUP BY CUBE (year(o_orderdate)::INT, o_orderstatus)
ORDER BY grp_id, order_year, status
"""


# --- q19: FULL OUTER date-coverage (join type absent from the reference;
#          free in Spark — SURVEY.md §2.3 note) -------------------------------

def q19_date_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    dim_date = build_dim_date(spark, sf_dir).select("full_date", "year", "month")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("full_date")).agg(
        F.count("*").alias("n_orders")
    )
    joined = dim_date.join(daily, "full_date", "full_outer")
    return (
        joined.groupBy("year", "month")
        .agg(
            F.count("full_date").alias("days_in_month"),
            F.sum(F.when(F.col("n_orders").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("days_with_orders"),
        )
        .withColumn(
            "coverage_pct",
            F.col("days_with_orders") * F.lit(100.0) / F.col("days_in_month"),
        )
        .orderBy("year", "month")
    )


Q19_ORACLE = """
WITH dim_date AS (
    SELECT unnest(generate_series(
               (SELECT min(o_orderdate)::DATE FROM orders),
               (SELECT max(o_orderdate)::DATE FROM orders),
               INTERVAL 1 DAY))::DATE AS full_date
),
daily AS (
    SELECT o_orderdate::DATE AS full_date, COUNT(*) AS n_orders
    FROM orders GROUP BY 1
)
SELECT year(d.full_date)::INT  AS year,
       month(d.full_date)::INT AS month,
       COUNT(d.full_date)      AS days_in_month,
       CAST(SUM(CASE WHEN a.n_orders IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS days_with_orders,
       SUM(CASE WHEN a.n_orders IS NOT NULL THEN 1 ELSE 0 END) * 100.0
           / COUNT(d.full_date) AS coverage_pct
FROM dim_date d
FULL OUTER JOIN daily a ON d.full_date = a.full_date
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- q34: set operations (INTERSECT / EXCEPT — absent from the reference,
#          exposed as engine capabilities) ------------------------------------

def q34_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    buyers = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return (
        rich.intersect(buyers)
        .select(F.lit("rich_and_bought").alias("op"), "custkey")
        .unionByName(
            rich.exceptAll(buyers.join(rich, "custkey", "left_semi"))
            .select(F.lit("rich_never_bought").alias("op"), "custkey")
        )
        .orderBy("op", "custkey")
    )


Q34_ORACLE = """
WITH rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000),
buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders
           WHERE o_orderstatus = 'F')
SELECT 'rich_and_bought' AS op, custkey
FROM (SELECT custkey FROM rich INTERSECT SELECT custkey FROM buyers)
UNION ALL
SELECT 'rich_never_bought' AS op, custkey
FROM (SELECT custkey FROM rich EXCEPT SELECT custkey FROM buyers)
ORDER BY op, custkey
"""


QUERIES.update(
    {
        "q18_sales_cube": q18_sales_cube,
        "q19_date_coverage": q19_date_coverage,
        "q34_set_ops": q34_set_ops,
    }
)
ORACLES.update(
    {
        "q18_sales_cube": Q18_ORACLE,
        "q19_date_coverage": Q19_ORACLE,
        "q34_set_ops": Q34_ORACLE,
    }
)


# --- q35: incremental high-watermark extraction (S2/S4/S6) -------------------

_WATERMARK = "1999-06-15 00:00:00"


def q35_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark extraction with a pinned cutover (the runtime path
    persists the watermark — incremental.py; pinned here so the oracle
    is reproducible). The > predicate pushes into the Parquet scan."""
    orders = load_table(
        spark,
        "orders",
        sf_dir,
        predicate=F.col("o_orderdate") > F.lit(_WATERMARK).cast("timestamp"),
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.to_date("o_orderdate").alias("order_date"),
        "o_orderpriority",
    )


Q35_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice::DOUBLE AS o_totalprice,
       o_orderdate::DATE    AS order_date,
       o_orderpriority
FROM orders
WHERE o_orderdate > TIMESTAMP '{_WATERMARK}'
"""

QUERIES["q35_incremental_extract"] = q35_incremental_extract
ORACLES["q35_incremental_extract"] = Q35_ORACLE


# --- q39: snowflake→star flattening across region/nation (J-chain) -----------

def q39_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → customer → nation → region broadcast-join chain rolled
    up to region grain — the snowflake-normalized geography flattened at
    query time (all three dims broadcast; the fact never shuffles until
    the final 5-region aggregation)."""
    orders = load_table(
        spark, "orders", sf_dir, columns=["o_custkey", "o_totalprice"]
    )
    cust = load_table(spark, "customer", sf_dir, columns=["c_custkey", "c_nationkey"])
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("region_revenue"),
            F.count("*").alias("region_orders"),
            F.countDistinct("o_custkey").alias("region_customers"),
            F.countDistinct("n_name").alias("region_nations"),
        )
        .orderBy("region_name")
    )


Q39_ORACLE = """
SELECT r_name AS region_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS region_revenue,
       COUNT(*) AS region_orders,
       COUNT(DISTINCT o_custkey) AS region_customers,
       COUNT(DISTINCT n_name)    AS region_nations
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1
ORDER BY 1
"""


# --- q40: supplier performance ranking (supplier table coverage) -------------

def q40_supplier_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, "lineitem", sf_dir, columns=["l_suppkey", "l_extendedprice"]
    )
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir, columns=["n_nationkey", "n_name"])
    perf = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(
            F.sum(dec("l_extendedprice")).alias("rev_dec"),
            F.count("*").alias("supplied_lines"),
        )
    )
    w = Window.orderBy(F.desc("rev_dec"), F.col("s_suppkey"))
    return perf.select(
        F.col("s_suppkey").alias("supplier_id"),
        F.col("s_name").alias("supplier_name"),
        F.col("n_name").alias("supplier_nation"),
        F.col("rev_dec").cast("double").alias("supplier_revenue"),
        "supplied_lines",
        F.row_number().over(w).cast("int").alias("revenue_rank"),
    ).orderBy("revenue_rank")


Q40_ORACLE = """
WITH perf AS (
    SELECT s_suppkey, s_name, n_name,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec,
           COUNT(*) AS supplied_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY 1, 2, 3
)
SELECT s_suppkey               AS supplier_id,
       s_name                  AS supplier_name,
       n_name                  AS supplier_nation,
       CAST(rev_dec AS DOUBLE) AS supplier_revenue,
       supplied_lines,
       ROW_NUMBER() OVER (ORDER BY rev_dec DESC, s_suppkey)::INT
           AS revenue_rank
FROM perf
ORDER BY revenue_rank
"""

QUERIES.update(
    {
        "q39_revenue_by_region": q39_revenue_by_region,
        "q40_supplier_performance": q40_supplier_performance,
    }
)
ORACLES.update(
    {
        "q39_revenue_by_region": Q39_ORACLE,
        "q40_supplier_performance": Q40_ORACLE,
    }
)


# --- q42: line-grain fact with the full 3-dim FK chain (J7 completion) -------
# The reference's fact_orders resolves customers, products AND date
# (reference: dbt_warehouse/models/marts/fact_orders.sql:14-20); TPC-H
# orders carry no product, so the complete shape is lineitem-grain
# (star.build_fact_lineitem). Ordered by the unique (order_key,
# line_number) pair in both engines.


def q42_fact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no final sort (the q10 rule): the oracle compare is
    # order-insensitive and a global rangepartitioning sort of the full
    # line-grain fact is pure waste at scale — r13 dropped it (plan:
    # Sort+Exchange removed above the dim joins,
    # `git show b4f93cf:plans/r13/q42_fact_lineitem_after.txt`).
    return build_fact_lineitem(spark, sf_dir)


Q42_ORACLE = """
WITH dim_c AS (
    SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key,
           c_custkey AS customer_id
    FROM customer
),
dim_p AS (
    SELECT ROW_NUMBER() OVER (ORDER BY p_partkey) AS product_key,
           p_partkey AS product_id
    FROM part
)
SELECT l.l_orderkey                          AS order_key,
       l.l_linenumber::INT                   AS line_number,
       c.customer_key,
       o.o_custkey                           AS customer_id,
       p.product_key,
       l.l_partkey                           AS product_id,
       strftime(l.l_shipdate, '%Y%m%d')::INT AS date_key,
       l.l_shipdate::DATE                    AS ship_date,
       l.l_quantity::DOUBLE                  AS quantity,
       l.l_extendedprice::DOUBLE             AS amount,
       l.l_returnflag                        AS return_flag
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN dim_c c ON o.o_custkey = c.customer_id
LEFT JOIN dim_p p ON l.l_partkey = p.product_id
ORDER BY order_key, line_number
"""

QUERIES["q42_fact_lineitem"] = q42_fact_lineitem
ORACLES["q42_fact_lineitem"] = Q42_ORACLE


# --- q56: skew-salted fact join, oracle-proven result-identical --------------
# The salted physical strategy (operators/skew.py: salt the probe side,
# explode the build side salt-fold) must be a pure PLAN change: q56
# routes lineitem ⋈ orders through salted_join and hash-checks the
# aggregate against the plain-SQL join — the hash gate itself proves
# salting never alters results. At 100 TB this is the fallback when one
# hot orderkey overwhelms a shuffle partition and AQE's skew split
# isn't available (e.g. a bucketed-table SMJ).


def q56_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = load_table(
        spark, "lineitem", sf_dir, columns=["l_orderkey", "l_extendedprice"]
    )
    ords = load_table(
        spark, "orders", sf_dir, columns=["o_orderkey", "o_orderpriority"]
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    return (
        salted_join(li, ords, "l_orderkey", salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(dec("l_extendedprice")).cast("double").alias("gross_revenue"),
        )
        .orderBy("o_orderpriority")
    )


Q56_ORACLE = """
SELECT o_orderpriority,
       COUNT(*)::BIGINT AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS gross_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERIES["q56_salted_revenue"] = q56_salted_revenue
ORACLES["q56_salted_revenue"] = Q56_ORACLE
