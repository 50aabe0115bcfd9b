"""Sinks: idempotent merge-upsert and append-dedup over Parquet.

The reference's warehouse loads are Postgres ``INSERT ... ON CONFLICT
(key) DO UPDATE / DO NOTHING`` in 5,000-row batches
(reference: loaders/warehouse_loader.py:24-83, 90-143). Parquet has no
single-call upsert, so (SURVEY.md §4.2):

- ``merge_upsert``  ≡ DO UPDATE: keep incoming row for conflicting keys,
  existing row otherwise, then ATOMIC swap (write to a temp dir, rename)
  so a failed job never half-overwrites.
- ``append_dedup``  ≡ DO NOTHING: drop incoming rows whose key already
  exists, then append.

Both are idempotent — re-running the same batch leaves the table
unchanged (the reference re-runs daily over overlapping extracts).

One pass per sink: each builds its merged frame once and writes it
once, and the counts it returns come from that write. Rows carry their
origin in a ``__sink_tag`` column; a ``pyspark.sql.Observation`` counts
the tags as rows stream into the writer, and the rows the merge discards
(replaced existing rows, unchanged SCD2 versions) are filtered out after
it. ``_atomic_swap_write`` finishes the temp directory before renaming,
so a frame reading the old table needs no ``localCheckpoint``. Two stay,
where a frame is read after its source changed: ``merge_upsert_stable``'s
keyed frame (callers join facts to it after the swap) and the in-place
dynamic partition overwrites, whose target is also their source.

Crash recovery: a crash between the swap's two renames leaves no table
at ``path``, only ``path.__old_*``. Sinks open their target through
``_open_table``, which restores it and sweeps stale ``__tmp_*``/``__old_*``
siblings, so the next run sees the previous table, not none (which would
make ``merge_upsert_stable`` renumber every surrogate key). One writer
per table is assumed.

100 TB posture: this rewrite-the-table merge is correct but O(table);
for big facts partition the table by a date column and overwrite only
touched partitions (dynamic partition overwrite), or use a table format
with MERGE (Delta/Iceberg). The date-partitioned variant is
``merge_upsert_partitioned``.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

_TAG = "__sink_tag"


def _recover(path: str) -> None:
    """Undo an interrupted ``_atomic_swap_write``: restore
    ``path.__old_*`` if ``path`` is missing, delete stale siblings."""
    base = glob.escape(os.path.normpath(path))
    olds = sorted(glob.glob(base + ".__old_*"), key=os.path.getmtime)
    if olds and not os.path.exists(path):
        os.rename(olds.pop(), path)
    for stale in glob.glob(base + ".__tmp_*") + olds:
        shutil.rmtree(stale)


def _open_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The Parquet table at ``path`` after crash recovery, or None."""
    _recover(path)
    return spark.read.parquet(path) if os.path.exists(path) else None


def _atomic_swap_write(
    df: DataFrame, path: str, partition_by: str | None = None
) -> None:
    """Write df to a temp sibling dir, then swap into place."""
    path = os.path.normpath(path)
    _recover(path)
    tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def _observe(df: DataFrame, *tags: str) -> tuple[DataFrame, Observation]:
    """Count the rows of each tag in ``tags`` during the next action on
    the returned frame (``obs.get`` after it): no Spark job of its own."""
    obs = Observation()
    counts = [F.count_if(F.col(_TAG) == t).alias(t) for t in tags]
    return df.observe(obs, *counts), obs


def _untag(df: DataFrame, *drop: str) -> DataFrame:
    """``df`` without the rows tagged in ``drop`` and without the tag."""
    keep = F.col(_TAG).isNull() | ~F.col(_TAG).isin(*drop)
    return df.filter(keep).drop(_TAG) if drop else df.drop(_TAG)


def merge_upsert(
    spark: SparkSession, incoming: DataFrame, path: str, keys: list[str]
) -> dict:
    """Upsert incoming rows into the Parquet table at path by key.

    Returns counts {'inserted': n, 'updated': n} like the reference's
    load_dimension result dict (warehouse_loader.py:24-83).
    """
    incoming = incoming.dropDuplicates(keys)
    merged = incoming.withColumn(_TAG, F.lit("incoming"))
    existing = _open_table(spark, path)
    if existing is not None:
        # existing rows whose key the batch hits are tagged, counted as
        # updates, then dropped; the rest stay untagged (incoming's keys
        # are unique already)
        hit = incoming.select(*keys).withColumn(_TAG, F.lit("updated"))
        merged = merged.unionByName(existing.join(hit, keys, "left"))
    merged, obs = _observe(merged, "incoming", "updated")
    _atomic_swap_write(_untag(merged, "updated"), path)
    n = obs.get
    return {"inserted": n["incoming"] - n["updated"], "updated": n["updated"]}


def append_dedup(
    spark: SparkSession, incoming: DataFrame, path: str, keys: list[str]
) -> int:
    """INSERT ... DO NOTHING twin: append only new keys; returns count
    (reference: warehouse_loader.py:90-143)."""
    incoming = incoming.dropDuplicates(keys)
    existing = _open_table(spark, path)
    if existing is None:
        rows, obs = _observe(incoming.withColumn(_TAG, F.lit("new")), "new")
        _atomic_swap_write(_untag(rows), path)
        return obs.get["new"]
    existing_keys = existing.select(*keys).distinct()
    # the anti-join reorders columns key-first; restore the incoming
    # order so every file in the sink carries ONE column order (parquet
    # directory schema inference picks an arbitrary footer — mixed
    # orders make downstream `df.columns` nondeterministic)
    new_rows = incoming.join(existing_keys, keys, "left_anti").select(
        *incoming.columns
    )
    n = new_rows.count()
    if n:
        new_rows.write.mode("append").parquet(path)
    return n


def assign_stable_keys(
    existing: DataFrame | None,
    incoming: DataFrame,
    business_keys: list[str],
    key_col: str,
) -> DataFrame:
    """Surrogate keys that SURVIVE re-runs (reference semantics: the
    Postgres upsert excludes the SERIAL key from SET, so an updated row
    keeps its key — warehouse_loader.py:56-69; the repo's full-rebuild
    ROW_NUMBER marts renumber instead, SURVEY.md §7.4).

    Rows of ``incoming`` whose business key exists in ``existing`` keep
    the existing ``key_col``; genuinely new rows get
    ``max(existing key) + ROW_NUMBER`` ordered by business key.
    ``incoming``'s own ``key_col`` (if present) is ignored.

    ``incoming`` is deduplicated on the business key first (keep-first
    under a deterministic full-column ordering) — otherwise duplicate
    business keys in one batch would each draw a DIFFERENT fresh
    surrogate, breaking key uniqueness downstream.

    Scale: the key map is (key, business_key) — dimension-scale, joined
    on the business key. The ROW_NUMBER window over NEW rows only is an
    unpartitioned sort, acceptable at dim scale per the W9 rule
    (star.py scale notes); facts never take this path.
    """
    incoming = incoming.drop(key_col)
    other = [c for c in incoming.columns if c not in business_keys]
    w_dedup = Window.partitionBy(*business_keys).orderBy(
        *(other or business_keys)
    )
    incoming = (
        incoming.withColumn("_sk_rn", F.row_number().over(w_dedup))
        .filter(F.col("_sk_rn") == 1)
        .drop("_sk_rn")
    )
    if existing is None:
        w = Window.orderBy(*business_keys)
        return incoming.select(
            F.row_number().over(w).cast("long").alias(key_col), "*"
        )
    key_map = existing.select(key_col, *business_keys)
    max_key = existing.agg(F.max(key_col)).first()[0] or 0
    joined = incoming.join(key_map, business_keys, "left")
    kept = joined.filter(F.col(key_col).isNotNull())
    w = Window.orderBy(*business_keys)
    fresh = (
        joined.filter(F.col(key_col).isNull())
        .drop(key_col)
        .select(
            (F.row_number().over(w) + F.lit(max_key))
            .cast("long")
            .alias(key_col),
            "*",
        )
    )
    cols = [key_col] + [c for c in incoming.columns]
    return kept.select(*cols).unionByName(fresh.select(*cols))


def merge_upsert_stable(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    business_keys: list[str],
    key_col: str,
) -> tuple[dict, DataFrame]:
    """merge_upsert with reference-style stable surrogate keys: re-keys
    ``incoming`` against the table at ``path`` (existing business keys
    keep their surrogate key) before the idempotent merge. Returns
    (counts, keyed_df) — the keyed frame is what fact FK resolution must
    join against so facts reference the keys actually stored."""
    existing = _open_table(spark, path)
    keyed = assign_stable_keys(existing, incoming, business_keys, key_col)
    # Materialize: callers read keyed after the merge below has swapped
    # out the table it was keyed against.
    keyed = keyed.localCheckpoint()
    counts = merge_upsert(spark, keyed, path, business_keys)
    return counts, keyed


def _overwrite_partitions(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """Overwrite in place only the ``partition_col`` values in ``df``.
    The per-write option leaves the session conf alone, so concurrent
    writers on other threads keep their own overwrite mode."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(path)


def merge_upsert_partitioned(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
) -> int:
    """Scale path: merge only the date partitions present in incoming
    (dynamic partition overwrite) — O(touched partitions), not O(table).
    Returns the number of rows written."""
    merged = incoming.dropDuplicates(keys)
    existing = _open_table(spark, path)
    if existing is not None:
        parts = [
            r[0] for r in merged.select(partition_col).distinct().collect()
        ]
        kept = existing.filter(F.col(partition_col).isin(parts)).join(
            merged.select(*keys), keys, "left_anti"
        )
        # the write overwrites the partitions kept was read from
        merged = merged.unionByName(kept).localCheckpoint()
    merged, obs = _observe(merged.withColumn(_TAG, F.lit("rows")), "rows")
    _overwrite_partitions(_untag(merged), path, partition_col)
    return obs.get["rows"]


def _scd2_merge(
    incoming: DataFrame,
    current: DataFrame | None,
    business_key: str,
    tracked_cols: list[str],
    effective_date: str,
) -> DataFrame:
    """The SCD2 classifier both SCD2 sinks share: the next state of the
    current versions (``current`` is None on a first load), tagged
    ``inserted``/``changed`` (incoming rows stamped as version 1 / the
    current version + 1), ``unchanged`` (same tracked-attribute hash;
    the caller drops them after counting), ``closed`` (current rows a
    changed key supersedes) or null (current rows left alone)."""
    incoming = incoming.dropDuplicates([business_key])
    eff = F.lit(effective_date).cast("date")

    def stamped(version, tag):
        return [
            eff.alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
            version.cast("int").alias("version"),
            tag.alias(_TAG),
        ]

    if current is None:
        return incoming.select("*", *stamped(F.lit(1), F.lit("inserted")))
    change_hash = F.md5(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                      for c in tracked_cols]
        )
    )
    joined = incoming.withColumn("__new_hash", change_hash).alias("i").join(
        F.broadcast(
            current.select(
                F.col(business_key).alias("__bk"),
                change_hash.alias("__cur_hash"),
                F.col("version").alias("__cur_version"),
            )
        ),
        F.col(f"i.{business_key}") == F.col("__bk"),
        "left",
    )
    kind = (
        F.when(F.col("__bk").isNull(), "inserted")
        .when(F.col("__new_hash") != F.col("__cur_hash"), "changed")
        .otherwise("unchanged")
    )
    versions = joined.select(
        *[F.col(f"i.{c}").alias(c) for c in incoming.columns],
        *stamped(F.coalesce(F.col("__cur_version") + 1, F.lit(1)), kind),
    )
    changed_keys = versions.filter(F.col(_TAG) == "changed").select(
        business_key
    )
    closed = (
        current.join(changed_keys, business_key, "left_semi")
        .withColumn("valid_to", eff)
        .withColumn("is_current", F.lit(False))
        .withColumn(_TAG, F.lit("closed"))
    )
    untouched = current.join(changed_keys, business_key, "left_anti")
    return versions.unionByName(closed).unionByName(
        untouched, allowMissingColumns=True
    )


def scd2_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    business_key: str,
    tracked_cols: list[str],
    effective_date: str,
) -> dict:
    """Type-2 slowly-changing-dimension merge (beyond the reference's
    SCD1 ON CONFLICT DO UPDATE, warehouse_loader.py:24-83): when a
    tracked attribute changes, the current version row is CLOSED
    (``valid_to`` = effective_date, ``is_current`` = false) and a new
    version is appended, preserving full history.

    Table columns = incoming columns + (valid_from, valid_to,
    is_current, version). Idempotent: re-running the same batch on the
    same effective_date changes nothing (change detection compares
    tracked-attribute hashes, and an unchanged hash short-circuits).

    Scale: one equi-join incoming ⋈ current on the business key
    (dimension-scale → broadcast), one union rewrite via atomic swap;
    use date-partitioned history tables for very large dims.
    """
    existing = _open_table(spark, path)
    current = None
    if existing is not None:
        current = existing.filter(F.col("is_current"))
    out = _scd2_merge(
        incoming, current, business_key, tracked_cols, effective_date
    )
    if existing is not None:
        out = existing.filter(~F.col("is_current")).unionByName(
            out, allowMissingColumns=True
        )
    out, obs = _observe(out, "inserted", "changed", "unchanged")
    _atomic_swap_write(_untag(out, "unchanged"), path)
    return obs.get


def scd2_upsert_partitioned(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    business_key: str,
    tracked_cols: list[str],
    effective_date: str,
) -> dict:
    """Date-partitioned Type-2 SCD merge — same semantics as
    ``scd2_upsert`` but the history table is partitioned on
    ``scd_part`` ('current' | 'closed_YYYY-MM' of valid_to), so one
    run rewrites ONLY the current partition plus the single month
    partition receiving newly closed rows. Months closed in earlier
    runs are never touched again.

    This is the 100 TB variant: ``scd2_upsert`` re-unions the FULL
    history every run (cost grows with table age); here run cost is
    ∝ |current dim| + |this month's closures|, constant over time,
    and the as-of read path (``scd2_snapshot``) partition-prunes to
    'current' + months after the snapshot date.
    """
    part_of_eff = "closed_" + effective_date[:7]
    table = _open_table(spark, path)
    current = None
    if table is not None:
        # partition-pruned: only the 'current' directory is scanned
        current = table.filter(F.col("scd_part") == "current").drop(
            "scd_part"
        )
    out = _scd2_merge(
        incoming, current, business_key, tracked_cols, effective_date
    )
    data_cols = [
        c for c in (out if table is None else table).columns
        if c not in ("scd_part", _TAG)
    ]
    out = out.withColumn(
        "scd_part",
        F.when(F.col(_TAG) == "closed", part_of_eff).otherwise("current"),
    )
    if table is not None:
        # prior closures of this run's month (partition-pruned scan),
        # rewritten only when this run closes rows into that month
        out = out.unionByName(
            table.filter(F.col("scd_part") == part_of_eff).withColumn(
                _TAG, F.lit("prior")
            )
        )
    out, obs = _observe(out, "inserted", "changed", "unchanged")
    out = out.localCheckpoint()  # sever self-read-overwrite lineage
    counts = obs.get
    drop = ("unchanged",) if counts["changed"] else ("unchanged", "prior")
    _overwrite_partitions(
        _untag(out, *drop).select(*data_cols, "scd_part"), path, "scd_part"
    )
    return counts


def scd2_snapshot(spark: SparkSession, path: str, as_of: str) -> DataFrame:
    """Dimension state as of ``as_of`` (inclusive) from a
    ``scd2_upsert_partitioned`` table.

    Partition pruning does the heavy lifting: rows closed in months
    BEFORE the snapshot month cannot satisfy ``valid_to > as_of``
    ('closed_YYYY-MM' sorts lexicographically, and 'current' > any
    'closed_*'), so their directories are never scanned.
    """
    floor_part = "closed_" + as_of[:7]
    return (
        spark.read.parquet(path)
        .filter(F.col("scd_part") >= floor_part)  # partition filter
        .filter(
            (F.col("valid_from") <= F.lit(as_of).cast("date"))
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to") > F.lit(as_of).cast("date"))
            )
        )
        .drop("scd_part")
    )
