"""CDC changelog application: fold a stream of keyed change events
(upserts + deletes) into current table state.

The reference's loaders only ever see full snapshots and emulate
upsert with ``ON CONFLICT DO UPDATE`` / ``DO NOTHING``
(reference: loaders/warehouse_loader.py:63-69, 124-128); a production
warehouse ingesting Debezium/CDC feeds must additionally honour
*deletes* and *ordering* — the net effect of N changes to one key is
decided by the LAST change in sequence order, and a key whose final
operation is a delete disappears from the state. This module adds that
surface as pure DataFrame ops:

- :func:`apply_changelog` — changelog → current state (one shuffle on
  the key, ``row_number`` keep-last, delete filter).
- :func:`merge_changelog` — existing snapshot + changelog → next
  snapshot (union with the snapshot as lowest-precedence upserts, then
  the same fold). This is the standard "compaction" step; at 100 TB
  both sides hash-partition on the key so the fold is a single
  co-partitioned shuffle, and with a date/bucket-partitioned snapshot
  it drops to O(touched partitions) exactly like
  ``merge_upsert_partitioned`` (sources/sinks.py).

``keep_tombstones=True`` retains each key's final delete row (with its
``op`` marker) instead of dropping it — required when batches can
arrive OUT OF ORDER: without the tombstone, a late-arriving upsert
older than a processed delete would resurrect the key. An incremental
materializer keeps tombstones in its persisted snapshot and filters
them at read time; a periodic major compaction can drop tombstones
older than the lateness horizon.

Determinism: callers must pass ``seq_cols`` that totally order each
key's changes (e.g. ``[ts, change_id]``) — the same unique-tiebreaker
rule every ranking window in this repo follows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UPSERT_OP = "U"
DELETE_OP = "D"


def apply_changelog(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = DELETE_OP,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Fold a changelog into current state: last writer wins per key,
    keys whose final operation is ``delete_op`` are dropped (or kept
    as marked tombstone rows with ``keep_tombstones=True``).

    One shuffle (hash-partition on ``key_cols`` for the ranking
    window); no global sort. The per-key change count is exposed as
    ``n_changes`` from the same window — no second aggregation pass.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in seq_cols]
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_changes",
            F.count(F.lit(1)).over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if keep_tombstones:
        return latest
    return latest.filter(F.col(op_col) != delete_op).drop(op_col)


def merge_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = DELETE_OP,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Apply a changelog batch on top of an existing snapshot.

    If the snapshot does not carry the ``seq_cols``, its rows enter the
    fold with NULL sequence values, which ``desc`` ordering places last
    (lowest precedence, identically in Spark and DuckDB) — any change
    to a key overrides the snapshot row and a final delete removes it.
    If the snapshot DOES retain its seq columns from a prior fold,
    ordering is by true sequence, so a late-arriving change older than
    the snapshot row correctly loses (cross-batch last-writer-wins).
    Untouched snapshot rows pass through unchanged.
    """
    change_types = dict(changes.dtypes)
    value_cols = [c for c in snapshot.columns if c not in key_cols]
    extra = [
        F.lit(None).cast(change_types[c]).alias(c)
        for c in seq_cols
        if c not in snapshot.columns
    ]
    if op_col not in snapshot.columns:
        extra.append(F.lit(UPSERT_OP).alias(op_col))
    base = snapshot.select(
        *key_cols, *[F.col(c) for c in value_cols], *extra
    ).select(changes.columns)
    return apply_changelog(
        base.unionByName(changes),
        key_cols,
        seq_cols,
        op_col=op_col,
        delete_op=delete_op,
        keep_tombstones=keep_tombstones,
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Derive a changelog FROM two snapshots — the inverse of
    :func:`apply_changelog`/:func:`merge_changelog`: when a source
    can't emit CDC events (the reference's extractors re-read whole
    tables every run, reference: extractors/postgres_extractor.py:
    41-66), diffing consecutive snapshots recovers the change feed.

    Emits ONLY differences (O(changes) output, never O(corpus)):
    ``change_kind`` ∈ added / changed / removed, plus the standard
    ``op`` marker (removed → delete tombstone whose key columns are
    populated and whose compare columns are all NULL — they are
    projected from the absent NEW side; everything else an upsert with
    the NEW values). One co-partitioned
    full-outer join on the key; value comparison is a single struct
    null-safe equality, so wide tables don't multiply predicates.
    """
    compare_cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in new.columns if c not in key_cols]
    )
    o = old.select(
        *key_cols, F.struct(*compare_cols).alias("_ov")
    ).withColumn("_in_old", F.lit(True))
    n = new.select(
        *key_cols, *compare_cols, F.struct(*compare_cols).alias("_nv")
    ).withColumn("_in_new", F.lit(True))
    j = o.join(n, list(key_cols), "full_outer")
    kind = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(
            F.col("_in_old").isNull()
            | F.col("_in_new").isNull()
            | ~F.col("_ov").eqNullSafe(F.col("_nv"))
        )
        .select(
            *key_cols,
            *compare_cols,
            kind.alias("change_kind"),
            F.when(
                F.col("_in_new").isNull(), F.lit(DELETE_OP)
            ).otherwise(F.lit(UPSERT_OP)).alias(op_col),
        )
    )
