"""Structured Streaming twin of the daily-sales rollup.

The reference's closest analogs (SURVEY.md §2.9): high-watermark
incremental extraction + a daily-scheduled batch rollup
(reference: etl_daily_pipeline.py:220-233, @daily at :352). Here that
becomes the idiomatic superset: ``readStream`` over the orders
directory, event-time watermark for late data, 1-day tumbling window
aggregation, and a ``foreachBatch`` merge-upsert sink (exactly-once
effective semantics through sink idempotency).

Run with Trigger.AvailableNow for the reference's daily-batch cadence:
each run drains whatever arrived since the last checkpoint — the
streaming equivalent of the persisted high-watermark batch
(incremental.py), with state handled by the engine.

100 TB posture: the only shuffle is the windowed groupBy keyed on
(window, product) — partial aggregation happens map-side; watermark
bounds state. The sink is an unpartitioned ``merge_upsert``, so each
non-empty microbatch rewrites the whole ``daily_sales`` table (O(table)
per batch); an empty microbatch, such as the no-data batch that closes
an AvailableNow drain, writes nothing. Each microbatch is persisted
while its sink runs, so its stateful plan executes once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import dec

STREAM_ORDER_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("product_id", T.LongType()),
        T.StructField("order_ts", T.TimestampType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("status", T.StringType()),
    ]
)


def read_order_stream(
    spark: SparkSession, input_dir: str, max_files: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(STREAM_ORDER_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def daily_sales_aggregate(orders: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day window × product rollup with late-data watermark."""
    return (
        orders.withWatermark("order_ts", watermark)
        .groupBy(
            F.window("order_ts", "1 day").alias("day"),
            F.col("product_id"),
        )
        .agg(
            F.sum(dec("amount")).cast("double").alias("total_sales_amount"),
            F.count("*").alias("total_orders_count"),
            F.sum(F.when(F.col("status") == "CANCELLED", 1).otherwise(0))
            .cast("long")
            .alias("cancelled_count"),
        )
        .select(
            F.to_date(F.col("day.start")).alias("sales_date"),
            "product_id",
            "total_sales_amount",
            "total_orders_count",
            "cancelled_count",
        )
    )


def start_daily_sales_stream(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (or run-to-completion with AvailableNow) the streaming
    rollup, upserting each microbatch on (sales_date, product_id)."""
    from ..sources.sinks import merge_upsert

    agg = daily_sales_aggregate(read_order_stream(spark, input_dir))

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # A foreachBatch frame re-runs its stateful plan on every action;
        # persisted, the emptiness probe and the merge share one run.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return  # merging nothing would still rewrite the table
            merge_upsert(
                batch_df.sparkSession,
                batch_df,
                output_path,
                keys=["sales_date", "product_id"],
            )
        finally:
            batch_df.unpersist()

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def deduped_order_stream(
    orders: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """At-least-once → effectively-once ingest: drop replayed order_ids
    within the event-time watermark horizon. This is the streaming twin
    of the fact sink's ON CONFLICT DO NOTHING dedup
    (reference: warehouse_loader.py:90-143) — state is bounded by the
    watermark instead of an ever-growing key set."""
    return orders.withWatermark("order_ts", watermark).dropDuplicatesWithinWatermark(
        ["order_id"]
    )
