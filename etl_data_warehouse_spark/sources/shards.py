"""Training-shard writer: deterministic, reproducible, size-balanced
parquet shards of a packed LM training stream.

The last pipeline stage before a trainer reads the corpus: assign every
document to a shard (md5 hash — reproducible, source-independent),
give it a deterministic *shuffle* position within the shard (a second
md5 — the "global shuffle" pretraining needs, without a random() that
would break replay), pack the shard's stream into fixed-token context
chunks (the q45 concatenate-then-chop discipline), and write ONE
parquet directory partitioned by shard.

Extends the reference's loader family (loaders/warehouse_loader.py:24-83
writes row batches to Postgres) to the training-data case where the
*layout* is the contract: same input -> byte-identical shard contents,
any shard readable alone.

100 TB posture: one hash-partition shuffle on `shard` (partitionBy on
the write side, no global sort); the within-shard window sorts
shard-local rows only, so each sort fits one executor when n_shards is
sized to ~executor-count x a small factor. Shard count also bounds
parquet file sizes — pick n_shards ~ corpus_tokens / 2^31 to keep
row groups cache-friendly. The writer is one-shot + atomic swap
(temp dir, rename) — replays are idempotent by construction; for
daily *appends* use the `batch=N` overwrite-partition protocol of
ann_index instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..operators.sampling import hash_bucket
from .sinks import _atomic_swap_write

_ORDER_SPACE = 1 << 31  # shuffle-position space; collisions broken by doc_id


def pack_training_shards(
    docs: DataFrame,
    n_shards: int = 64,
    budget: int = 512,
    salt: str = "shard",
    key: str = "doc_id",
) -> DataFrame:
    """The pure (testable, plan-only) half of the writer: shard
    assignment + deterministic in-shard shuffle + context-chunk packing.

    Returns doc-grain rows: (key, text-carrying columns.., shard,
    shuffle_pos, n_tokens, chunk_offset, chunk_in_shard,
    offset_in_chunk). A document starting at running offset o spans
    chunks from ``o div budget`` — exactly q45's packing math, applied
    per shard after the hash shuffle."""
    w = (
        Window.partitionBy("shard")
        .orderBy("shuffle_pos", key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.withColumn(
            "shard", hash_bucket(key, salt, n_shards).cast("int")
        )
        .withColumn(
            "shuffle_pos",
            hash_bucket(key, f"{salt}_order", _ORDER_SPACE).cast("long"),
        )
        .withColumn("n_tokens", token_count("text"))
        .withColumn(
            "chunk_offset",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")),
        )
        .withColumn("chunk_in_shard", F.expr(f"chunk_offset div {budget}"))
        .withColumn(
            "offset_in_chunk",
            F.expr(f"chunk_offset % {budget}").cast("long"),
        )
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 64,
    budget: int = 512,
    salt: str = "shard",
    key: str = "doc_id",
) -> DataFrame:
    """Pack and write the corpus as ``path/shard=N/`` parquet; returns
    the shard manifest (shard, n_docs, n_tokens, n_chunks) computed
    from the WRITTEN files (so the manifest can never disagree with
    the data a trainer will read)."""
    packed = pack_training_shards(
        docs, n_shards=n_shards, budget=budget, salt=salt, key=key
    )
    spark = docs.sparkSession
    _atomic_swap_write(packed, path, partition_by="shard")
    return shard_manifest(spark, path)


def shard_manifest(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (F.max("chunk_in_shard") + 1).cast("long").alias("n_chunks"),
        )
        .orderBy("shard")
    )


_COMMIT_MARKER = "_COMMITTED"


def _batch_dirs(path: str) -> dict[int, str]:
    """Map batch_id -> absolute dir for every ``batch=N`` dir under path."""
    import os
    import re

    if not os.path.exists(path):
        return {}
    out: dict[int, str] = {}
    for d in os.listdir(path):
        m = re.fullmatch(r"batch=(\d+)", d)
        if m:
            out[int(m.group(1))] = os.path.join(path, d)
    return out


def _is_committed(batch_dir: str) -> bool:
    import os

    return os.path.exists(os.path.join(batch_dir, _COMMIT_MARKER))


def _has_parquet(batch_dir: str) -> bool:
    import os

    for _root, _dirs, files in os.walk(batch_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def committed_batches(path: str) -> list[int]:
    """Batch ids whose commit marker exists (readable, offset-stable)."""
    return sorted(
        b for b, d in _batch_dirs(path).items() if _is_committed(d)
    )


def append_training_batch(
    docs: DataFrame,
    path: str,
    batch_id: int,
    n_shards: int = 64,
    budget: int = 512,
    salt: str = "shard",
    key: str = "doc_id",
) -> None:
    """Daily-append variant of the writer: pack a new batch of documents
    into ``path/batch=N/shard=M/`` so each shard's packed token stream
    EXTENDS across batches — per-shard chunk offsets continue from the
    totals of PRIOR batches, so chunks a trainer already consumed never
    move (the packed-prefix property).

    Crash/replay protocol (stricter than ann_index's, because offsets
    are CUMULATIVE, not order-independent per-id state): a per-batch
    ``_COMMITTED`` marker is written only after the partition write
    succeeds, and

    - base offsets sum ONLY committed batches with id < batch_id, so a
      batch's offsets are a pure function of its predecessors — replay
      after later batches landed reproduces identical offsets;
    - an EXISTING but uncommitted earlier batch raises (it must replay
      to completion first; basing offsets on its partial totals would
      let two batches occupy overlapping chunk ranges);
    - the re-crawl guard anti-joins ids against committed batches only,
      so a half-written batch is invisible to later appends and is
      completed by its own replay;
    - the batch dir is written with mode=overwrite — a replay of a
      partial write re-packs the identical full batch (append-mode
      would duplicate rows when a replay races a partial write);
    - an all-re-crawl (empty) batch commits a dir without parquet
      files, so "batch N ran" is recorded without data.

    Batches must be appended in increasing batch_id order (a missing
    smaller id is treated as empty). Per-batch marginal cost is
    O(batch + n_shards), never O(corpus)."""
    import os

    spark = docs.sparkSession
    dirs = _batch_dirs(path)
    stuck = sorted(
        b for b, d in dirs.items() if b < batch_id and not _is_committed(d)
    )
    if stuck:
        raise RuntimeError(
            f"uncommitted earlier batch(es) {stuck} under {path}: replay "
            "them to completion before appending batch "
            f"{batch_id} (their partial token totals cannot anchor "
            "this batch's offsets)"
        )
    other_committed = [
        d
        for b, d in dirs.items()
        if b != batch_id and _is_committed(d) and _has_parquet(d)
    ]
    older_committed = [
        d
        for b, d in dirs.items()
        if b < batch_id and _is_committed(d) and _has_parquet(d)
    ]
    base = None
    if other_committed:
        # One read of the other committed batches serves both the
        # re-crawl guard and (older batches only) the base offsets.
        # Every batch=N holds packed rows, so the read takes their
        # schema instead of inferring one.
        packed_schema = pack_training_shards(
            docs, n_shards=n_shards, budget=budget, salt=salt, key=key
        ).schema
        seen = (
            spark.read.schema(packed_schema)
            .option("basePath", path)
            .parquet(*other_committed)
        )
        docs = docs.join(
            seen.select(F.col(key)).distinct(), key, "left_anti"
        )
        if older_committed:
            base = (
                seen.filter(F.col("batch") < batch_id)
                .groupBy("shard")
                .agg(F.sum("n_tokens").alias("base_off"))
            )
    packed = pack_training_shards(
        docs, n_shards=n_shards, budget=budget, salt=salt, key=key
    )
    if base is not None:
        packed = (
            packed.join(F.broadcast(base), "shard", "left")
            .withColumn(
                "chunk_offset",
                F.col("chunk_offset")
                + F.coalesce("base_off", F.lit(0).cast("long")),
            )
            .drop("base_off")
            .withColumn(
                "chunk_in_shard", F.expr(f"chunk_offset div {budget}")
            )
            .withColumn(
                "offset_in_chunk",
                F.expr(f"chunk_offset % {budget}").cast("long"),
            )
        )
    batch_dir = f"{path}/batch={batch_id}"
    # A partitioned write creates files only for the rows it gets, so
    # an all-re-crawl batch leaves a dir with no data files.
    packed.write.mode("overwrite").partitionBy("shard").parquet(batch_dir)
    with open(os.path.join(batch_dir, _COMMIT_MARKER), "w") as fh:
        fh.write("committed\n")


def compact_training_shards(
    spark: SparkSession,
    shards_path: str,
    clusters_path: str,
    out_path: str,
    n_shards: int = 64,
    budget: int = 512,
    salt: str = "shard",
    key: str = "doc_id",
    containment_drops_path: str | None = None,
) -> dict:
    """The OFFLINE remedy for the day-2 pipeline's declared over-keep
    divergence (plans/day2_pipeline.py: keep verdicts are as-of-day,
    so a later day's cluster merge can dethrone an already-shipped
    keeper — the immutable batch log never retracts it). Compaction
    re-decides every shipped doc under the CURRENT cluster mapping and
    repacks the survivors as a fresh epoch:

        kept = shipped docs whose component (if any) == their own id
        out_path/batch=0 = write_training_shards(kept)  (one batch;
            later days append batch=1.. on top as usual)

    ``containment_drops_path`` (the pipeline's containment_drops/
    state dir) extends the re-decision to the ORIENTED containment
    verdicts: every shipped doc named as the inner side of a
    containment pair on any day — including a day-1 snippet whose
    superset arrived day 2 AFTER the snippet shipped (the dethroned
    case the cluster mapping cannot express, because containment
    drops are directional, not cluster-min) — is retracted here. Pass
    None (default) when the pipeline ran without the containment arm;
    a missing/empty directory is treated as "no containment drops".

    After compaction the shard contents equal what a ONE-SHOT rebuild
    over the cumulative corpus would keep (pytest-pinned in
    tests/test_day2_pipeline.py::TestShardCompaction).

    EPOCH SEMANTICS — this is deliberately NOT in-place: repacking
    recomputes offsets, which breaks the packed-prefix property the
    append log guarantees (chunks a trainer already consumed would
    move). Compaction therefore writes a NEW directory; cutting
    training jobs over to it is an epoch boundary the caller owns
    (exactly how petabyte corpora rotate: append daily, compact per
    epoch). ``out_path`` must differ from ``shards_path``.

    100 TB shape: one scan of the shard log, one batch-restricted
    broadcast anti-join against the dropped ids (dup-proportional),
    one repack shuffle — no index or corpus rescans.
    """
    import os

    from ..operators.cluster_index import read_clusters

    if os.path.abspath(out_path) == os.path.abspath(shards_path):
        raise ValueError(
            "compaction must write a new epoch directory (offsets are "
            "recomputed; overwriting the append log in place would "
            "move chunks trainers already consumed)"
        )
    shipped = (
        spark.read.option("basePath", shards_path)
        .parquet(shards_path)
        .drop(
            "batch",
            "shard",
            "shuffle_pos",
            "n_tokens",
            "chunk_offset",
            "chunk_in_shard",
            "offset_in_chunk",
        )
    )
    mapping = read_clusters(spark, clusters_path)
    dropped = None
    if mapping is not None:
        dropped = (
            mapping.join(
                shipped.select(F.col(key).alias("doc_id")),
                "doc_id",
                "left_semi",
            )
            .filter(F.col("component") != F.col("doc_id"))
            .select(F.col("doc_id").alias(key))
        )
    if containment_drops_path is not None and os.path.isdir(
        containment_drops_path
    ):
        ct = (
            spark.read.option("basePath", containment_drops_path)
            .parquet(containment_drops_path)
            .select(F.col("doc_id").alias(key))
            .distinct()
        )
        dropped = ct if dropped is None else dropped.unionByName(ct)
    if dropped is not None:
        kept = shipped.join(F.broadcast(dropped), key, "left_anti")
    else:
        kept = shipped
    n_shipped = shipped.count()
    append_training_batch(
        kept,
        out_path,
        batch_id=0,
        n_shards=n_shards,
        budget=budget,
        salt=salt,
        key=key,
    )
    n_kept = (
        spark.read.option("basePath", out_path).parquet(out_path).count()
    )
    return {
        "shipped_docs": n_shipped,
        "kept_docs": n_kept,
        "retracted_docs": n_shipped - n_kept,
        "out_path": out_path,
    }
