"""Structured Streaming twin of the URL/domain curation stage
(q148/q149, plans/web_curation.py) — a crawl is ingested continuously,
so the curation gates must run per-microbatch:

    readStream(documents dir)
      → url/host derivation + blocklist filter (stateless projections,
        q148/q149 semantics — stream as-is)
      → per-domain CAP enforced against the SINK: a host's budget is
        cap − (docs already written for that host in OTHER batches);
        within a batch, docs compete by the same deterministic
        (md5 bucket, doc_id) rank the batch operator uses
      → idempotent batch=N overwrite partitions (the ann_index/
        shards protocol: a replayed batch rewrites identical content,
        and the budget probe EXCLUDES the batch's own partition so a
        half-written batch is completed by its own replay, never
        double-counted).

Cap state lives in the sink, not in streaming state (the
corpus_stream discipline): per-host counts of the already-written
output are host-grain — bounded by domain cardinality, KB-to-MB scale
— so there is no unbounded state store and no watermark requirement.

Semantics vs the batch operator: the batch cap keeps the GLOBALLY
best-ranked docs per host; the streaming cap is first-batch-wins —
once a host's budget is spent, later (even better-ranked) docs are
dropped, because written shards are immutable. When the whole corpus
arrives in one batch the two are IDENTICAL (test-pinned); across
batches the cap itself (never more than ``domain_cap`` per host) and
replay idempotence are the invariants (also test-pinned).

100 TB posture: per microbatch one host-keyed shuffle for the rank
window + one host-grain aggregate of the output table. At petabyte
output, keep the output partitioned by batch (it is) and derive the
per-host counts from a maintained host-grain side table (per-batch
partials, merged at read) instead of re-aggregating; the re-aggregate
here keeps the sandbox version dependency-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import hash_bucket
from ..plans.web_curation import hosted_unblocked


def curated_document_stream(docs: DataFrame) -> DataFrame:
    """Stateless half of the curation funnel (works on a stream or a
    batch frame): url/host derivation + blocklist filter — SHARED with
    the batch transform (web_curation.hosted_unblocked) so the host
    derivation and blocklist rule can never diverge between the
    test-pinned batch==stream twins."""
    return hosted_unblocked(docs)


def _has_committed_batches(data_dir: str) -> bool:
    """True iff ``data_dir`` holds at least one ``batch=N`` partition
    with a COMMITTED data file (non-hidden ``*.parquet``). A crashed
    first batch leaves ``batch=N/`` with only hidden markers (or
    nothing) — that is EMPTY state, not corruption."""
    if not os.path.isdir(data_dir):
        return False
    for entry in os.listdir(data_dir):
        if not entry.startswith("batch="):
            continue
        part_dir = os.path.join(data_dir, entry)
        if not os.path.isdir(part_dir):
            continue
        for fname in os.listdir(part_dir):
            if fname.endswith(".parquet") and not fname.startswith(
                ("_", ".")
            ):
                return True
    return False


def _capped_batch(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    batch_id: int,
    domain_cap: int,
) -> None:
    data_dir = os.path.join(out_dir, "curated")
    # per-host budget already spent by OTHER batches (own partition
    # excluded so a replay re-decides the whole batch and the
    # overwrite completes any partial write). First-batch detection is
    # an explicit COMMITTED-DATA check, not an exception swallow: a
    # batch=N directory with zero committed *.parquet files is what a
    # first-batch crash leaves behind (the replay must complete it,
    # not crash-loop on schema inference), so only directories holding
    # at least one non-hidden data file count as existing state. A
    # read error over data that IS committed remains corruption and
    # must raise — a zeroed budget would permanently overshoot the cap
    # (the CLAUDE.md persisted-mutable-state rule).
    if _has_committed_batches(data_dir):
        existing = (
            spark.read.option("basePath", data_dir)
            .parquet(data_dir)
            .filter(F.col("batch") != batch_id)
            .groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("n_written"))
        )
    else:
        existing = None
    rank = F.row_number().over(
        Window.partitionBy("host").orderBy(
            hash_bucket("doc_id", "domcap", 1_000_000).asc(),
            F.col("doc_id").asc(),
        )
    )
    ranked = batch.repartition("host").withColumn("_dr", rank)
    if existing is not None:
        ranked = ranked.join(F.broadcast(existing), "host", "left").withColumn(
            "_spent", F.coalesce(F.col("n_written"), F.lit(0).cast("long"))
        )
    else:
        ranked = ranked.withColumn("_spent", F.lit(0).cast("long"))
    kept = (
        ranked.filter(F.col("_dr") + F.col("_spent") <= domain_cap)
        .drop("_dr", "_spent", "n_written")
        # the host join reorders columns host-first on non-first
        # batches only; restore the input order so every batch=N file
        # carries ONE column order (the append_dedup rule — mixed
        # orders make directory schema inference nondeterministic)
        .select(*batch.columns)
    )
    kept.write.mode("overwrite").parquet(
        os.path.join(data_dir, f"batch={batch_id}")
    )


# Public name for pipeline composition: plans/day2_pipeline.py runs the
# SAME cross-batch cap write per daily batch, so the batch entry point
# and the streaming twin share one cap implementation by construction.
cap_and_write_batch = _capped_batch


def run_curation_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    domain_cap: int = 2,
    max_files: int = 16,
):
    """Drain-style runner: curate the document stream into
    ``out_dir/curated/batch=N`` partitions with the cross-batch
    per-domain cap. Returns the StreamingQuery."""
    from .corpus_stream import read_document_stream

    stream = curated_document_stream(
        read_document_stream(spark, input_dir, max_files=max_files)
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        _capped_batch(spark, batch, out_dir, int(batch_id), domain_cap)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
