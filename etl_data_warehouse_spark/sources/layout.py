"""Data layout: Z-order clustering and small-file compaction.

The reference's only physical design lever is Postgres B-tree indexes
(reference: warehouse/target_schema.sql:105-110) — one per column, used
one at a time. At Parquet/100 TB scale the equivalent multi-column
lever is Z-ORDER clustering: map each row's (normalized) dimensions
onto one interleaved-bit Morton value, range-partition + sort the
table by it, and every file's parquet min/max footer becomes selective
for EVERY clustered dimension at once — filters on any of them prune
whole files before a byte of data is read.

Two pieces:

- ``zvalue`` / ``minmax_scaled`` — pure integer Catalyst expressions
  (bit-identical in DuckDB; oracle-checked by q47).
- ``zorder_write`` — repartitionByRange(zval) + in-partition sort, so
  each output file owns one contiguous z-range.
- ``compact_small_files`` — bin-packing rewrite of a directory of tiny
  parquet files into ~target-size files (the long-running-ingest
  hygiene job every streaming sink eventually needs). Atomic swap, same
  guarantee as merge_upsert (sinks.py).

Scale notes: normalization constants are one scalar min/max aggregate
(map-side partial, broadcast back — no window, no global sort); the
z-sort itself is Spark's range-partitioned sort: sampled cutpoints,
then executor-local sorts — never a single-partition ORDER BY.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import _atomic_swap_write


def minmax_scaled(col: str, min_col: str, max_col: str, bits: int) -> Column:
    """Scale a value into [0, 2**bits) with exact BIGINT arithmetic:
    ``(x - min) * (2**bits - 1) div max(max - min, 1)``.

    Uses precomputed per-table ``min_col``/``max_col`` scalar columns so
    the same expression is a plain projection in Spark and DuckDB.
    """
    top = F.lit((1 << bits) - 1).cast("long")
    span = F.greatest(
        (F.col(max_col) - F.col(min_col)).cast("long"), F.lit(1).cast("long")
    )
    x = (F.col(col) - F.col(min_col)).cast("long")
    # floor(double division) on BOTH engines (DuckDB '/' is double too),
    # exact while (x * top) < 2**53 — true for any key space that fits
    # the scaling use-case (x - min <= span, top < 2**16).
    return F.floor((x * top) / span).cast("long")


def zvalue(scaled_cols: list[Column | str], bits: int) -> Column:
    """Morton (Z-order) interleave of ``len(scaled_cols)`` dimensions,
    each already scaled into [0, 2**bits).

    Bit i of dimension d lands at position ``i * ndims + (ndims-1-d)``
    — a sum of shift/mask terms that stays inside whole-stage codegen
    (and is written digit-for-digit the same in the DuckDB oracle).
    """
    ndims = len(scaled_cols)
    out: Column | None = None
    for d, c in enumerate(scaled_cols):
        col = F.col(c) if isinstance(c, str) else c
        for i in range(bits):
            term = F.shiftleft(
                F.shiftright(col, i).bitwiseAND(F.lit(1)),
                i * ndims + (ndims - 1 - d),
            ).cast("long")
            out = term if out is None else out + term
    assert out is not None
    return out


def zvalue_sql(scaled_sqls: list[str], bits: int) -> str:
    """DuckDB twin of :func:`zvalue` (same shift/mask sum)."""
    ndims = len(scaled_sqls)
    terms = []
    for d, s in enumerate(scaled_sqls):
        for i in range(bits):
            pos = i * ndims + (ndims - 1 - d)
            terms.append(f"((({s} >> {i}) & 1) << {pos})")
    return "(" + " + ".join(terms) + ")::BIGINT"


def with_zorder_columns(
    df: DataFrame, cols: list[str], bits: int = 8, n_files: int = 16
) -> DataFrame:
    """Adds ``z_<col>`` (scaled dims), ``zval`` (Morton value) and
    ``zbucket`` (equal-width z-range file assignment, ``zval >> k``;
    ``n_files`` must be a power of two).

    The normalization bounds are ONE scalar min/max aggregate broadcast
    back onto the rows — no window, no global sort.
    """
    if n_files & (n_files - 1):
        raise ValueError(f"n_files must be a power of two, got {n_files}")
    agg = df.agg(
        *[F.min(c).cast("long").alias(f"__min_{c}") for c in cols],
        *[F.max(c).cast("long").alias(f"__max_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(agg))
    for c in cols:
        out = out.withColumn(
            f"z_{c}", minmax_scaled(c, f"__min_{c}", f"__max_{c}", bits)
        )
    shift = bits * len(cols) - n_files.bit_length() + 1
    return (
        out.withColumn("zval", zvalue([f"z_{c}" for c in cols], bits))
        .withColumn("zbucket", F.shiftright("zval", shift).cast("long"))
        .drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Cluster ``df`` by the Z-value of ``cols`` and write parquet such
    that each file owns a contiguous z-range (repartitionByRange on the
    z-value + in-partition sort), making parquet min/max footers prune
    files for filters on ANY of ``cols``.

    Scale: one range-shuffle (sampled cutpoints) — the standard cost of
    any clustering rewrite; run it per ingest partition, not globally.
    """
    z = with_zorder_columns(df, cols, bits, n_files)
    (
        z.repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .drop("zval", "zbucket", *[f"z_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_by: str | None = None,
) -> dict:
    """Rewrite a directory of small parquet files into ~``target_bytes``
    files (bin-packing by current on-disk size). Atomic swap — readers
    never see a half-compacted table.

    Returns {'files_before': n, 'files_after': n, 'bytes': n}.

    Scale: file listing is driver-side metadata (cheap); the rewrite is
    one coalesce (no shuffle) — or one range-shuffle when ``sort_by``
    is given to restore clustering while compacting.
    """
    parts = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    total = sum(os.path.getsize(p) for p in parts)
    n_after = max(1, -(-total // target_bytes))  # ceil div
    df = spark.read.parquet(path)
    if sort_by is not None:
        packed = df.repartitionByRange(n_after, sort_by).sortWithinPartitions(
            sort_by
        )
    else:
        packed = df.coalesce(n_after)
    _atomic_swap_write(packed, path)
    after = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    return {
        "files_before": len(parts),
        "files_after": len(after),
        "bytes": total,
    }
