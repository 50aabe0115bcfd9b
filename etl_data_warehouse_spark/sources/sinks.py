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
(replaced existing rows) are filtered out after it. ``_atomic_swap_write``
finishes the temp directory before renaming, so a frame reading the old
table needs no ``localCheckpoint``. Two stay, where a frame is read after
its source changed: ``merge_upsert_stable``'s keyed frame (callers join
facts to it after the swap) and the in-place dynamic partition overwrite
of ``merge_upsert_partitioned``, whose target is also its source.

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
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def _open_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The Parquet table at ``path`` after crash recovery, or None. With
    ``schema`` the read takes it instead of inferring one (a job)."""
    _recover(path)
    if not os.path.exists(path):
        return None
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(path)


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


def counted(
    df: DataFrame, where: Column | None = None
) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` with its row count observed (only the rows where ``where``
    holds, when given), and a function that returns the count once an
    action on the returned frame has run: the count rides on a write or
    checkpoint that runs anyway, with no job of its own. When a shuffle
    above the observer comes out empty, AQE swaps that part of the plan
    for an empty relation and the observed metrics never arrive (PySpark
    4.1 fails to convert the empty row); the function then counts ``df``
    itself."""
    obs = Observation()
    n = F.count(F.lit(1)) if where is None else F.count_if(where)

    def count() -> int:
        try:
            return obs.get["n"]
        except Py4JJavaError:
            return (df if where is None else df.filter(where)).count()

    return df.observe(obs, n.alias("n")), count


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
    return _merge(incoming, path, keys, _open_table(spark, path))


def _merge(
    incoming: DataFrame,
    path: str,
    keys: list[str],
    existing: DataFrame | None,
) -> dict:
    """``merge_upsert`` into the table ``existing`` was opened from."""
    incoming = incoming.dropDuplicates(keys)
    merged = incoming.withColumn(_TAG, F.lit("incoming"))
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
    # only the stored keys are read, typed as the incoming ones
    key_schema = StructType([incoming.schema[k] for k in keys])
    existing = _open_table(spark, path, key_schema)
    if existing is None:
        incoming, n_new = counted(incoming)
        _atomic_swap_write(incoming, path)
        return n_new()
    existing_keys = existing.select(*keys).distinct()
    # the anti-join reorders columns key-first; restore the incoming
    # order so every file in the sink carries ONE column order (parquet
    # directory schema inference picks an arbitrary footer — mixed
    # orders make downstream `df.columns` nondeterministic)
    new_rows = incoming.join(existing_keys, keys, "left_anti").select(
        *incoming.columns
    )
    # The count rides on the write: the new rows land in a temp sibling
    # and their files move into the table only when there are any, so an
    # append of nothing leaves the table's files untouched (Spark writes
    # an empty file for an empty result). A crash between moves leaves
    # some rows appended; the replay's anti-join appends the rest.
    new_rows, n_new = counted(new_rows)
    tmp = f"{os.path.normpath(path)}.__tmp_{uuid.uuid4().hex[:8]}"
    new_rows.write.parquet(tmp)
    n = n_new()
    if n:
        for name in os.listdir(tmp):
            if name.startswith(("part-", ".part-")):
                os.rename(os.path.join(tmp, name), os.path.join(path, name))
    shutil.rmtree(tmp)
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
    # the table is not swapped yet, so the merge reuses the frame opened
    # above instead of listing and inferring its schema again
    counts = _merge(keyed, path, business_keys, existing)
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
