"""Persisted containment index: find snippet/boilerplate-wrapped
SUBSET duplication of new documents against an existing corpus in
O(batch) — the third dedup arm next to the MinHash-LSH index (Jaccard
twins) and the IVF-PQ index (semantic twins).

The one-shot operator (dedup.containment_pairs_indexed) sketches the
inner side with a bottom-k over df-FILTERED shingles — the strongest
recall bound, but df-dependent: a shingle's document frequency grows
with the corpus, so such a sketch would have to change after it was
persisted. The index therefore persists the INCREMENTAL-STABLE
variant (``sketch_df_filter=False``):

- the per-doc sketch is the bottom-k of ALL the doc's shingle hashes —
  a pure function of the document, never rewritten;
- the ``max_df`` cap moves entirely to the POSTING side as a
  STOP-SHINGLE set: df is monotone under append-only ingest, so
  "crossed the cap" is a permanent, append-only fact. Probe hits on
  stopped shingles are discarded before the expensive joins, which is
  what bounds the candidate join at O(k * batch * max_df).

Equality contract (tests/test_containment_index.py): for every day N,
``incremental_containment(batch_N)`` equals
``containment_pairs_indexed(corpus-as-of-day-N, max_df,
sketch_df_filter=False)`` restricted to pairs involving batch-N docs —
bit-for-bit, INCLUDING corpora where a stop shingle crosses the cap
mid-stream (both sides see the same day-N df, because the one-shot's
posting filter and the index's stop set apply the identical predicate
``df_N(s) <= max_df``). Relative to a FINAL-day one-shot the daily
chain can only ever OVER-find (a shingle under the cap on day N may be
over it at the end): every extra pair is still exact-verified true —
the same one-sided as-of-day asymmetry the day-2 keep rule documents.

State layout under ``index_dir`` (the dedup_index protocol — bucketed
external tables when ``buckets`` is set, plain parquet otherwise):

    sketches/       (doc_id, shingle)     bottom-k rows per doc;
                    bucketed on shingle (the probe joins standing
                    sketches against batch postings on shingle —
                    index side Exchange-free)
    df/             (shingle, n, batch_id) per-batch pre-aggregated
                    shingle document counts, bucketed on shingle;
                    cumulative df = SUM over batches. Replay
                    double-appends collapse via MAX per
                    (shingle, batch_id) — replayed content is
                    identical, so MAX is exact.
    stop_shingles/  batch=N partitions (shingle) — shingles whose
                    cumulative df crossed max_df on day N; overwrite-
                    by-batch (a replay rewrites identical content)

POSTINGS ARE NOT DUPLICATED: the probe takes the standing (doc_id,
shingle) table as an argument — in the day-2 pipeline that is the
MinHash index's own shingles/ table (dedup_index), which already holds
exactly the hashed_shingles rows of every indexed doc. One shingle
table serves both indexes.

100 TB posture per batch: batch-side shingling + two batch-keyed
shuffles; index-side access is (a) the df probe — semi-join of the
bucketed df table against the batch's shingles, Exchange-free on the
index side, (b) orientation-1 candidates — broadcast of the batch's
<= k*|batch| sketch hashes over one column-pruned postings scan (no
shuffle), (c) orientation-2 candidates — SMJ of the shingle-bucketed
sketches table against the batch's stop-filtered postings (index side
Exchange-free; per non-stopped shingle at most max_df standing
sketches can match, so the join output is O(|batch postings| *
max_df) worst case), (d) the exact verify — semi-join-pruned to
candidate docs (verify_containment_pairs, shared with the one-shot).
No corpus-proportional shuffle anywhere; the corpus-sized reads are
Exchange-free bucketed scans, the bands-join cost class.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.bucketing import register_bucketed_table, write_bucketed
from .dedup import hashed_shingles, verify_containment_pairs

SKETCH_KEYS = ["shingle"]


def _bottom_k(sh: DataFrame, k: int) -> DataFrame:
    """Per-doc bottom-k sketch over ALL the doc's shingle hashes —
    df-independent (sketch_df_filter=False semantics), so the persisted
    rows never change as the corpus grows."""
    w = Window.partitionBy("doc_id").orderBy("shingle")
    return (
        sh.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def _batch_df_counts(sh: DataFrame) -> DataFrame:
    """(shingle, n) document counts of the batch's shingle table —
    exact df contributions (hashed_shingles emits distinct shingles
    per doc)."""
    return sh.groupBy("shingle").agg(F.count("*").alias("n"))


def _read_sketches(
    spark: SparkSession, index_dir: str, table: str | None
) -> DataFrame:
    if table:
        return spark.table(table)
    return spark.read.parquet(f"{index_dir}/sketches")


def _read_df(
    spark: SparkSession, index_dir: str, table: str | None
) -> DataFrame:
    if table:
        return spark.table(table)
    return spark.read.parquet(f"{index_dir}/df")


def _read_stops(
    spark: SparkSession, index_dir: str, exclude_batch_id: int | None
) -> DataFrame:
    """All persisted stop shingles, excluding the probing batch's own
    partition (a crashed prior attempt may have written it; the probe
    recomputes it deterministically)."""
    path = f"{index_dir}/stop_shingles"
    stops = (
        spark.read.option("basePath", path)
        .parquet(path)
        .select("shingle", "batch")
    )
    if exclude_batch_id is not None:
        stops = stops.filter(F.col("batch") != exclude_batch_id)
    return stops.select("shingle").distinct()


def _standing_df_for(
    df_state: DataFrame, batch_counts: DataFrame, exclude_batch_id: int | None
) -> DataFrame:
    """Cumulative standing df for exactly the batch-touched shingles:
    semi-join the df state down to the batch's shingles (bucketed:
    Exchange-free on the index side), collapse replay duplicates by
    MAX per (shingle, batch_id), sum over batches. Excludes the
    probing batch's own partial contribution for replay stability."""
    if exclude_batch_id is not None:
        df_state = df_state.filter(F.col("batch_id") != exclude_batch_id)
    pruned = df_state.join(
        batch_counts.select("shingle"), "shingle", "left_semi"
    )
    return (
        pruned.groupBy("shingle", "batch_id")
        .agg(F.max("n").alias("n"))
        .groupBy("shingle")
        .agg(F.sum("n").alias("standing_n"))
    )


def _new_stops(
    df_state: DataFrame,
    batch_counts: DataFrame,
    prior_stops: DataFrame,
    max_df: int,
    exclude_batch_id: int | None,
) -> DataFrame:
    """Shingles whose cumulative df (standing + this batch) crosses
    max_df today and are not already stopped. Only batch-touched
    shingles can cross (df changes only when a batch contains the
    shingle), so the probe is batch-proportional."""
    standing = _standing_df_for(df_state, batch_counts, exclude_batch_id)
    return (
        batch_counts.join(standing, "shingle", "left")
        .withColumn(
            "_df", F.coalesce(F.col("standing_n"), F.lit(0)) + F.col("n")
        )
        .filter(F.col("_df") > max_df)
        .select("shingle")
        .join(prior_stops, "shingle", "left_anti")
    )


def build_containment_index(
    docs: DataFrame,
    index_dir: str,
    n: int = 3,
    k: int = 8,
    max_df: int | None = 1000,
    buckets: int | None = None,
    table_prefix: str | None = None,
) -> None:
    """Bootstrap: persist the day-1 corpus's sketches, df counts
    (batch_id=0) and initial stop set. Day-1 pairs themselves come from
    the one-shot operator
    (containment_pairs_indexed(sketch_df_filter=False) — exactly what
    the incremental probe reduces to on an empty index)."""
    sh = hashed_shingles(docs, n).localCheckpoint()
    bk = _bottom_k(sh, k)
    counts = _batch_df_counts(sh).withColumn(
        "batch_id", F.lit(0).cast("int")
    )
    stops = (
        counts.filter(F.col("n") > max_df).select("shingle")
        if max_df is not None
        else counts.filter(F.lit(False)).select("shingle")
    )
    stops.write.mode("overwrite").parquet(
        f"{index_dir}/stop_shingles/batch=0"
    )
    if buckets:
        if not table_prefix:
            raise ValueError("bucketed index build requires table_prefix")
        write_bucketed(
            counts, f"{table_prefix}_ctdf", SKETCH_KEYS, buckets,
            f"{index_dir}/df",
        )
        write_bucketed(
            bk, f"{table_prefix}_ctsketches", SKETCH_KEYS, buckets,
            f"{index_dir}/sketches",
        )
        return
    counts.write.mode("overwrite").parquet(f"{index_dir}/df")
    bk.write.mode("overwrite").parquet(f"{index_dir}/sketches")


def register_containment_tables(
    spark: SparkSession,
    index_dir: str,
    table_prefix: str,
    buckets: int,
) -> None:
    """Re-attach the bucketed sketch/df directories in THIS session's
    catalog (the register_minhash_tables discipline, layout-validated)."""
    for suffix in ("sketches", "df"):
        register_bucketed_table(
            spark,
            f"{table_prefix}_ct{suffix}",
            f"{index_dir}/{suffix}",
            SKETCH_KEYS,
            buckets,
        )


def append_to_containment_index(
    new_docs: DataFrame,
    index_dir: str,
    batch_id: int,
    n: int = 3,
    k: int = 8,
    max_df: int | None = 1000,
    buckets: int | None = None,
    table_prefix: str | None = None,
    shingles: DataFrame | None = None,
) -> None:
    """Make a probed batch part of the corpus: stop set, df counts and
    sketches. doc_ids already in the sketch table are anti-joined away
    first, making the append idempotent.

    ``shingles``: an already-materialized ``hashed_shingles(new_docs,
    n)`` frame for the SAME batch (dedup_index.append_to_index's
    sharing contract) — day-2 shingles the batch once and feeds both
    index appends.

    Write order is crash-ordered: stop_shingles (overwrite-by-batch,
    replay rewrites identical content) → df (append; duplicates from a
    replay racing a committed df write collapse via MAX per (shingle,
    batch_id)) → sketches LAST, because the idempotency guard (and the
    day-2 replay) probe the SKETCH table: a doc must only look indexed
    once every row that affects future probes is on disk."""
    spark = new_docs.sparkSession
    sk_table = f"{table_prefix}_ctsketches" if table_prefix else None
    df_table = f"{table_prefix}_ctdf" if table_prefix else None
    indexed = (
        _read_sketches(spark, index_dir, sk_table).select("doc_id").distinct()
    )
    # one index-sized distinct probe → batch-sized fresh-id set →
    # broadcast semi-joins (the append_to_index discipline: the probe
    # agg must not re-run once per filtered frame)
    fresh = (
        new_docs.select("doc_id")
        .distinct()
        .join(indexed, "doc_id", "left_anti")
        .localCheckpoint()
    )
    if not fresh.take(1):
        return
    new_docs = new_docs.join(F.broadcast(fresh), "doc_id", "left_semi")
    if shingles is not None:
        shingles = shingles.join(F.broadcast(fresh), "doc_id", "left_semi")
    sh = (
        shingles
        if shingles is not None
        else hashed_shingles(new_docs, n).localCheckpoint()
    )
    bk = _bottom_k(sh, k)
    counts = _batch_df_counts(sh).withColumn(
        "batch_id", F.lit(batch_id).cast("int")
    )
    if max_df is not None:
        prior = _read_stops(spark, index_dir, exclude_batch_id=batch_id)
        stops = _new_stops(
            _read_df(spark, index_dir, df_table),
            counts.select("shingle", "n"),
            prior,
            max_df,
            exclude_batch_id=batch_id,
        )
    else:
        stops = counts.filter(F.lit(False)).select("shingle")
    stops.write.mode("overwrite").parquet(
        f"{index_dir}/stop_shingles/batch={batch_id}"
    )
    if buckets:
        if not table_prefix:
            raise ValueError("bucketed index append requires table_prefix")
        write_bucketed(
            counts, f"{table_prefix}_ctdf", SKETCH_KEYS, buckets,
            f"{index_dir}/df", mode="append",
        )
        write_bucketed(
            bk, f"{table_prefix}_ctsketches", SKETCH_KEYS, buckets,
            f"{index_dir}/sketches", mode="append",
        )
        return
    counts.write.mode("append").parquet(f"{index_dir}/df")
    bk.write.mode("append").parquet(f"{index_dir}/sketches")


def incremental_containment(
    spark: SparkSession,
    new_docs: DataFrame,
    postings: DataFrame,
    index_dir: str,
    threshold: float = 0.9,
    n: int = 3,
    k: int = 8,
    min_hits: int = 1,
    max_df: int | None = 1000,
    sketches_table: str | None = None,
    df_table: str | None = None,
    exclude_batch_id: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Containment pairs (doc_inner, doc_outer, intersection, n_inner,
    n_outer, containment) between the new batch and the indexed corpus, PLUS
    within the batch — every pair
    containment_pairs_indexed(corpus ∪ batch, sketch_df_filter=False)
    would emit that involves a new document.

    ``postings`` is the standing (doc_id, shingle) hashed-shingle
    table (the MinHash index's shingles/ in the day-2 pipeline); rows
    for the batch's own doc_ids are anti-joined away so the probe is
    replay-stable even after the batch was appended.
    Cross-orientation recall under STOP DRIFT (r12 task #8): a
    standing doc's persisted sketch was drawn at index time (bottom-k
    of ALL its shingles — df-independent by design), but the
    standing-as-inner probe filters the BATCH side with the current
    stop set, so sketch hashes whose shingles crossed max_df since
    indexing can no longer match. This loses nothing vs the one-shot
    contract: containment_pairs_indexed(sketch_df_filter=False)
    df-caps its POSTING lists with the same as-of-day counts, so the
    very same sketch hashes are dead there too — incremental recall ==
    one-shot recall exactly, not merely bounded (pinned on a planted
    late-superset corpus in tests/test_containment_index.py
    test_late_superset_recall_under_stop_drift: zero misses at k=8,
    c=1.0 with half the sketch stopped). The effective bound is the
    hypergeometric one at k' = k − (#sketch hashes currently
    stopped): k'=8→0 misses at c>=0.925/s=80, k'=4→9.5e-6, k'=0 (a
    pure-boilerplate inner) → deterministically missed by BOTH paths,
    the documented max_df degeneracy.

    ``exclude_batch_id`` likewise masks this batch's own partitions in
    the df/stop state. New doc_ids must not collide with indexed ones
    (the day-2 id discipline). ``shingles``: an already-materialized
    ``hashed_shingles(new_docs, n)`` frame (the day-2 sharing
    contract — the batch is shingled once per day, not once per
    consumer)."""
    new_sh = (
        shingles
        if shingles is not None
        else hashed_shingles(new_docs, n).localCheckpoint()
    )
    new_ids = new_docs.select("doc_id").distinct()
    postings = postings.join(F.broadcast(new_ids), "doc_id", "left_anti")
    bk = _bottom_k(new_sh, k)

    if max_df is not None:
        counts = _batch_df_counts(new_sh)
        prior = _read_stops(spark, index_dir, exclude_batch_id)
        stops = prior.unionByName(
            _new_stops(
                _read_df(spark, index_dir, df_table),
                counts,
                prior,
                max_df,
                exclude_batch_id,
            )
        ).localCheckpoint()
        bk_ok = bk.join(stops, "shingle", "left_anti")
        p_ok = new_sh.join(stops, "shingle", "left_anti")
    else:
        bk_ok = bk
        p_ok = new_sh

    inner_new = bk_ok.select(F.col("doc_id").alias("doc_inner"), "shingle")
    # orientation 1a: new doc as inner vs the standing corpus —
    # broadcast of the <= k*|batch| sketch hashes over one postings
    # scan (stop shingles cannot match: the sketch side is filtered)
    hits_std = (
        F.broadcast(inner_new)
        .join(
            postings.select(F.col("doc_id").alias("doc_outer"), "shingle"),
            "shingle",
        )
        .select("doc_inner", "doc_outer")
    )
    # orientation 1b: new vs new
    hits_new = inner_new.join(
        new_sh.select(F.col("doc_id").alias("doc_outer"), "shingle"),
        "shingle",
    ).select("doc_inner", "doc_outer")
    # orientation 2: standing doc as inner vs the batch's postings —
    # SMJ against the shingle-bucketed sketch table (index side
    # Exchange-free); the batch side is stop-filtered, so a standing
    # sketch's stop hashes cannot match and each non-stopped shingle
    # matches at most max_df standing sketches
    sk = _read_sketches(spark, index_dir, sketches_table).join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    hits_old_inner = sk.select(
        F.col("doc_id").alias("doc_inner"), "shingle"
    ).join(
        p_ok.select(F.col("doc_id").alias("doc_outer"), "shingle"),
        "shingle",
    ).select("doc_inner", "doc_outer")

    cand = (
        hits_std.unionByName(hits_new)
        .unionByName(hits_old_inner)
        .filter(F.col("doc_inner") != F.col("doc_outer"))
        .groupBy("doc_inner", "doc_outer")
        .agg(F.count("*").alias("_hits"))
        .filter(F.col("_hits") >= min_hits)
        .select("doc_inner", "doc_outer")
        .localCheckpoint()
    )
    touched = (
        cand.select(F.col("doc_inner").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_outer").alias("doc_id")))
        .distinct()
    )
    all_sh = postings.join(
        F.broadcast(touched), "doc_id", "left_semi"
    ).unionByName(new_sh)
    return verify_containment_pairs(cand, all_sh, threshold)
