"""Persisted MinHash-LSH index: dedup NEW documents against an
EXISTING corpus without recomputing the corpus.

The 100 TB dedup problem is rarely one-shot — it is "dedup today's
crawl against the 100 TB already ingested". Recomputing signatures for
the full corpus per batch is O(corpus) per day; the scale answer is to
PERSIST the LSH state once and join each new batch against it:

- ``bands/``    (doc_id, band_idx, bh)  — the LSH candidate index
- ``shingles/`` (doc_id, shingle:long)  — for the exact-Jaccard verify

Per batch the cost is O(batch) signature computation + an equi-join of
the batch's bands against the index (bucket-local at scale: both sides
hash-partition on (band_idx, bh)) + verification only of candidate
pairs against only the TOUCHED index docs (semi-join pruned shingle
scan, predicate-pushed on doc_id). ``append_to_index`` then makes the
batch part of the corpus — build(A) + append(B) produces byte-identical
index CONTENT to build(A ∪ B) because signatures are per-document.

Equality contract (tested): incremental_dedup(new, index(A)) returns
exactly the pairs of minhash_lsh_pairs(A ∪ new) that involve at least
one new document. The reference has no incremental near-dedup (its
dedup is a pandas drop_duplicates, reference: transformers/
data_transformer.py); this is the Spark-first extension the brief's
training-data pipeline asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bucketing import write_bucketed
from .dedup import (
    JACCARD_THRESHOLD,
    band_table,
    hashed_shingles,
    verify_pairs,
)

BAND_KEYS = ["band_idx", "bh"]


def _read_bands(spark: SparkSession, index_dir: str, bands_table: str | None):
    if bands_table:
        return spark.table(bands_table)
    return spark.read.parquet(f"{index_dir}/bands")


def _read_shingles(
    spark: SparkSession, index_dir: str, shingles_table: str | None
):
    if shingles_table:
        return spark.table(shingles_table)
    return spark.read.parquet(f"{index_dir}/shingles")


def register_minhash_tables(
    spark: SparkSession,
    index_dir: str,
    table_prefix: str,
    buckets: int,
) -> None:
    """(Re-)attach an existing bucketed index directory as external
    tables in THIS session's catalog — the cross-session half of the
    bucketed layout. ``saveAsTable`` registers tables only in the
    session that wrote them; any later session (tomorrow's batch job,
    a crash replay) calls this first: CREATE TABLE IF NOT EXISTS with
    the identical bucket spec and LOCATION re-attaches the files with
    zero data movement, so the Exchange-free index-side join survives
    session turnover. Column schema is derived from the parquet
    footers, so the DDL can never drift from the files. No-op when the
    table is already registered.

    The bucket SPEC, unlike the schema, is NOT validated by Spark
    against the files — registering a plain-parquet (pre-bucketing) or
    differently-bucketed directory would make the Exchange-free join
    silently wrong, so the layout is checked first
    (validate_bucket_layout: sidecar spec when present, bucket-id file
    names otherwise) and registration REFUSES on mismatch."""
    from ..sources.bucketing import register_bucketed_table

    for suffix, keys in (("bands", BAND_KEYS), ("shingles", ["doc_id"])):
        register_bucketed_table(
            spark,
            f"{table_prefix}_{suffix}",
            f"{index_dir}/{suffix}",
            keys,
            buckets,
        )


def build_minhash_index(
    docs: DataFrame,
    index_dir: str,
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    buckets: int | None = None,
    table_prefix: str | None = None,
) -> None:
    """One-time (or per-backfill) index build: persist band and shingle
    tables for the corpus.

    With ``buckets`` + ``table_prefix``, both tables are written
    hash-BUCKETED on their join keys (bands on (band_idx, bh), shingles
    on doc_id) as external tables ``{table_prefix}_bands`` /
    ``{table_prefix}_shingles`` — every subsequent batch join then reads
    the index side with NO Exchange (only the small batch side
    shuffles), which is the 100 TB posture: the per-batch join cost is
    O(batch), never O(corpus)."""
    sh = hashed_shingles(docs, n).localCheckpoint()
    bt = band_table(sh, num_hashes, bands)
    if buckets:
        if not table_prefix:
            raise ValueError("bucketed index build requires table_prefix")
        write_bucketed(
            sh, f"{table_prefix}_shingles", "doc_id", buckets,
            f"{index_dir}/shingles",
        )
        write_bucketed(
            bt, f"{table_prefix}_bands", BAND_KEYS, buckets,
            f"{index_dir}/bands",
        )
        return
    sh.write.mode("overwrite").parquet(f"{index_dir}/shingles")
    bt.write.mode("overwrite").parquet(f"{index_dir}/bands")


def append_to_index(
    new_docs: DataFrame,
    index_dir: str,
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    buckets: int | None = None,
    table_prefix: str | None = None,
    shingles: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> None:
    """Make a deduped batch part of the corpus: append its rows to both
    index tables. Append-only (no rewrite of existing index files);
    per-document state means the result equals a fresh full build.

    The append is IDEMPOTENT: doc_ids already present are anti-joined
    away first, so a re-run after a partial failure cannot double-insert
    shingle rows (verify_pairs counts rows — duplicates would inflate
    intersections and corrupt Jaccard). The probe reads only the
    shingle table's doc_id column (column-pruned scan;
    bucketed-on-doc_id when the index is bucketed).

    ``shingles`` / ``bands_df``: already-materialized
    ``hashed_shingles(new_docs, n)`` / ``band_table(shingles, ...)``
    frames (same parameters), so a caller that has ALREADY shingled
    and signed the batch (day-2's incremental_dedup probe, or its
    containment-arm sibling append) feeds both uses one computation.
    The idempotency anti-join is applied to them here — pass the full
    batch's frames, not pre-filtered ones."""
    spark = new_docs.sparkSession
    indexed = (
        _read_shingles(
            spark, index_dir,
            f"{table_prefix}_shingles" if table_prefix else None,
        )
        .select("doc_id")
        .distinct()
    )
    # ONE corpus-sized distinct probe, reduced to the batch-sized
    # fresh-id set and materialized; every frame is then filtered
    # with a broadcast semi-join. Anti-joining each frame against
    # `indexed` directly would re-run the corpus scan+agg once per
    # frame — three times with shingles/bands_df passed (this
    # tripled index_appends at 1M+100K before it was caught).
    fresh = (
        new_docs.select("doc_id")
        .distinct()
        .join(indexed, "doc_id", "left_anti")
        .localCheckpoint()
    )
    new_docs = new_docs.join(F.broadcast(fresh), "doc_id", "left_semi")
    if shingles is not None:
        shingles = shingles.join(F.broadcast(fresh), "doc_id", "left_semi")
    if bands_df is not None:
        bands_df = bands_df.join(F.broadcast(fresh), "doc_id", "left_semi")
    sh = (
        shingles
        if shingles is not None
        else hashed_shingles(new_docs, n).localCheckpoint()
    )
    bt = (
        bands_df
        if bands_df is not None
        else band_table(sh, num_hashes, bands)
    )
    # Write order matters for crash safety: bands FIRST, shingles last.
    # The idempotency guard above probes the SHINGLE table, so a doc
    # must only become visible there once its band rows are already on
    # disk. A crash between the two writes then leaves band rows without
    # shingles — harmless, because a replay re-appends both (duplicate
    # band rows are collapsed by the candidate `distinct`), whereas the
    # reverse order would leave docs the guard treats as indexed but
    # that can never surface as LSH candidates (silently missed dups).
    if buckets:
        if not table_prefix:
            raise ValueError("bucketed index append requires table_prefix")
        write_bucketed(
            bt, f"{table_prefix}_bands", BAND_KEYS, buckets,
            f"{index_dir}/bands", mode="append",
        )
        write_bucketed(
            sh, f"{table_prefix}_shingles", "doc_id", buckets,
            f"{index_dir}/shingles", mode="append",
        )
        return
    bt.write.mode("append").parquet(f"{index_dir}/bands")
    sh.write.mode("append").parquet(f"{index_dir}/shingles")


def incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = JACCARD_THRESHOLD,
    n: int = 3,
    bands_table: str | None = None,
    shingles_table: str | None = None,
    shingles: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b, exact-Jaccard verified)
    between the new batch and the indexed corpus, PLUS within the batch
    itself — i.e. every pair minhash_lsh_pairs would emit on the full
    corpus that involves a new document. New doc_ids must not collide
    with indexed ones (enforce upstream; they identify documents).

    ``shingles`` / ``bands_df``: already-materialized
    ``hashed_shingles(new_docs, n)`` / ``band_table(shingles, ...)``
    frames (same parameters). The day-2 pipeline computes each ONCE
    and feeds both this probe and the later index append — otherwise
    the batch is shingled and signed twice per day. The pairs come
    unsorted: callers consume them through joins or as a set.

    Measured-and-rejected (r14; r12 verdict task #6): checkpointing the
    batch band table PRE-PARTITIONED on the band keys, so the probe
    joins would run with zero batch-side Exchanges. Under AQE both
    localCheckpoint and persist() report UnknownPartitioning(0) for the
    materialized frame (the AdaptiveSparkPlanExec wrapper discards the
    final plan's partitioning), so the joins re-shuffle anyway and the
    pre-partition is purely an EXTRA exchange at checkpoint time. The
    probe already pays exactly ONE batch-side band Exchange per action:
    both joins consume the same checkpointed frame with identical
    projections, so ReuseExchange shares it."""
    new_sh = (
        shingles
        if shingles is not None
        else hashed_shingles(new_docs, n).localCheckpoint()
    )
    new_bands = (
        bands_df
        if bands_df is not None
        else band_table(new_sh, num_hashes, bands).localCheckpoint()
    )
    idx_bands = _read_bands(spark, index_dir, bands_table)

    # candidates: new × (index ∪ new); the index side never re-banded.
    # Joined per side (join distributes over union) so a BUCKETED index
    # keeps its hash distribution — unioning first would wrap the index
    # scan in a Union node and force an Exchange on the corpus side.
    left = new_bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "bh")
    right_idx = idx_bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bh"
    )
    right_new = new_bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bh"
    )
    candidates = (
        left.join(right_idx, BAND_KEYS)
        .unionByName(left.join(right_new, BAND_KEYS))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )

    # verify against only the shingles of touched docs: semi-join prune
    # so the 100 TB shingle table is read only where candidates point
    touched = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    idx_sh = _read_shingles(spark, index_dir, shingles_table).join(
        F.broadcast(touched), "doc_id", "left_semi"
    )
    all_sh = idx_sh.unionByName(new_sh)
    return verify_pairs(candidates, all_sh, threshold, sort=False)
