"""Deterministic synthetic data generators — Spark twin of the
reference's Faker-based seeders (reference: source_databases/
postgres_source.py:65-88, mysql_source.py:75-105, mongo_source.py:34-54).

``spark.range(n)`` + seeded ``rand`` replaces the Python row loop: the
generation is distributed (one task per range partition), deterministic
for a given (n, seed), and never materializes on the driver — the shape
that generates 100 TB of synthetic data as easily as 100 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STATUSES = [("COMPLETED", 0.80), ("PENDING", 0.10), ("CANCELLED", 0.05),
             ("REFUNDED", 0.05)]
_TIERS = [("BRONZE", 0.50), ("SILVER", 0.30), ("GOLD", 0.15),
          ("PLATINUM", 0.05)]
_CATEGORIES = ["Electronics", "Clothing", "Home", "Books", "Sports"]


def _weighted_case(r, pairs):
    expr, acc = None, 0.0
    for value, w in pairs[:-1]:
        acc += w
        expr = (F.when(r < acc, value) if expr is None
                else expr.when(r < acc, value))
    return expr.otherwise(pairs[-1][0])


def generate_orders(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Reference-shaped orders (postgres_source.py:65-88): weighted
    status, qty 1-20, price 5-500, trailing-365-day timestamps.

    rand() is non-deterministic to Catalyst (no CSE across CASE
    branches), so every random draw is materialized as a column FIRST
    and the weighted CASE references the column."""
    df = spark.range(n).select(
        "id", *[F.rand(seed + i).alias(f"_r{i}") for i in range(6)]
    )
    qty = (F.floor(F.col("_r1") * 20) + 1).cast("int")
    price = F.round(F.col("_r2") * 495.0 + 5.0, 2)
    return df.select(
        F.format_string("ORD_%08d", F.col("id")).alias("order_id"),
        F.format_string(
            "CUST_%05d", (F.floor(F.col("_r0") * 20000) + 1).cast("int")
        ).alias("customer_id"),
        F.format_string(
            "PROD_%04d", (F.floor(F.col("_r3") * 500) + 1).cast("int")
        ).alias("product_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00"))
            + (F.col("_r4") * 365 * 86400).cast("long")
        ).alias("order_date"),
        qty.alias("quantity"),
        price.alias("unit_price"),
        F.round(qty * price, 2).alias("total_amount"),
        _weighted_case(F.col("_r5"), _STATUSES).alias("status"),
    )


def generate_customers(
    spark: SparkSession, n: int, seed: int = 42
) -> DataFrame:
    """Reference-shaped customers (mysql_source.py:75-105): weighted
    tier, ~5% null phone, 85% active, trailing-730-day signup dates."""
    df = spark.range(n).select(
        "id", *[F.rand(seed + i).alias(f"_r{i}") for i in range(1, 6)]
    )
    return df.select(
        F.format_string("CUST_%05d", F.col("id") + 1).alias("customer_id"),
        F.format_string("first_%d", F.col("id")).alias("first_name"),
        F.format_string("last_%d", F.col("id")).alias("last_name"),
        F.format_string("user%d@example.com", F.col("id")).alias("email"),
        F.when(F.col("_r1") < 0.05, None)
        .otherwise(F.format_string("555-%04d", F.col("id") % 10000))
        .alias("phone"),
        F.date_add(
            F.lit("2022-01-01").cast("date"),
            (F.col("_r2") * 730).cast("int"),
        ).alias("signup_date"),
        _weighted_case(F.col("_r3"), _TIERS).alias("customer_tier"),
        F.round(F.col("_r4") * 10000.0, 2).alias("lifetime_value"),
        (F.col("_r5") < 0.85).alias("is_active"),
    )


def generate_reviews(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Reference-shaped reviews (mongo_source.py:34-54): star weights
    .05/.08/.12/.30/.45, 70% verified, category lexicon."""
    df = spark.range(n).select(
        "id", *[F.rand(seed + i).alias(f"_r{i}") for i in range(7)]
    )
    stars = [("1", 0.05), ("2", 0.08), ("3", 0.12), ("4", 0.30), ("5", 0.45)]
    cat = F.element_at(
        F.array(*[F.lit(c) for c in _CATEGORIES]),
        (F.floor(F.col("_r3") * len(_CATEGORIES)) + 1).cast("int"),
    )
    return df.select(
        F.format_string("REV_%08d", F.col("id")).alias("review_id"),
        F.format_string(
            "PROD_%04d", (F.floor(F.col("_r0") * 500) + 1).cast("int")
        ).alias("product_id"),
        F.format_string(
            "CUST_%05d", (F.floor(F.col("_r1") * 20000) + 1).cast("int")
        ).alias("customer_id"),
        _weighted_case(F.col("_r2"), stars).cast("int").alias("rating"),
        cat.alias("product_category"),
        (F.col("_r4") < 0.7).alias("verified_purchase"),
        (F.floor(F.col("_r5") * 51)).cast("int").alias("helpful_votes"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00"))
            + (F.col("_r6") * 365 * 86400).cast("long")
        ).alias("review_date"),
    )


def generate_clustered_embeddings(
    spark: SparkSession,
    n: int,
    dim: int = 16,
    n_clusters: int = 64,
    noise: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Deterministic clustered vectors — the workload ANN indexes are
    FOR (real embedding spaces are clustered; uniform noise is the
    adversarial case where no ANN structure can help).

    vec[j] = center(cluster, j) + noise * unit(id, j), all derived from
    xxhash64 — pure Catalyst expressions, reproducible on any cluster
    layout (unlike rand(), which depends on partitioning), distributed
    via spark.range. Output: (vec_id, label, embedding array<float>).
    """

    def unit(*cols) -> F.Column:  # hash -> [-0.5, 0.5)
        return (
            F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(100000)).cast("double")
            / 100000.0
            - 0.5
        )

    cluster = F.pmod(F.col("id"), F.lit(n_clusters))
    vec = F.array(
        *[
            (unit(F.lit("c"), cluster, F.lit(j)) * 4.0
             + unit(F.lit("p"), F.col("id"), F.lit(j)) * F.lit(noise))
            .cast("float")
            for j in range(dim)
        ]
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.concat(F.lit("cluster_"), cluster.cast("string")).alias("label"),
        vec.alias("embedding"),
    )


def generate_documents(
    spark: SparkSession,
    n: int,
    n_words: int = 40,
    vocab: int = 5000,
    dup_rate: float = 0.10,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic corpus with PLANTED near-duplicates, for
    benchmarking the dedup operators on realistic row counts (the
    testdata documents table is ~500 rows at every SF, so its timings
    measure stage overhead, not operator work).

    The first ``(1-dup_rate)*n`` ids are base documents: ``n_words``
    words drawn from a ``vocab``-word lexicon by xxhash64. The remaining
    ids are near-duplicates — a copy of a hash-chosen base document with
    exactly ONE word position rewritten, i.e. token-Jaccard ≈
    (n_words-1)/(n_words+1), well above the usual 0.7/0.8 thresholds.
    All pure Catalyst expressions (same 100 TB rationale as
    generate_clustered_embeddings: distributed, partition-independent,
    reproducible). Output matches the documents table shape:
    (doc_id, text, lang, source, n_chars).
    """
    n_base = max(1, int(n * (1.0 - dup_rate)))
    is_dup = F.col("id") >= F.lit(n_base)
    base_id = F.when(
        is_dup, F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_base))
    ).otherwise(F.col("id"))

    def word(doc, j):
        return F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(doc, j, F.lit(seed)), F.lit(vocab)).cast("string"),
        )

    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda j: word(base_id, j),
    )
    # Near-dups rewrite one hash-chosen position with a word derived
    # from the DUP id (so it differs from the base document's word).
    pert_pos = F.pmod(F.xxhash64(F.lit("pos"), F.col("id"), F.lit(seed)),
                      F.lit(n_words))
    words = F.transform(
        words,
        lambda x, i: F.when(
            is_dup & (i == pert_pos), word(F.col("id"), F.lit(-1))
        ).otherwise(x),
    )
    text = F.concat_ws(" ", words)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.when(is_dup, "synthetic_dup").otherwise("synthetic").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )
