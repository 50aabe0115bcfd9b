"""Mergeable sketches — the 100 TB pre-aggregate-then-rollup pattern.

Exact COUNT(DISTINCT) and exact heavy hitters need a full shuffle of
every distinct value per group; at petabyte scale the idiomatic answer
is a small per-partition sketch (e.g. per day), persisted and merged
to ANY coarser rollup (month, year, total, sliding window) with no
rescan of the fact. Sketch union is lossless w.r.t. the sketch's own
accuracy, so pre-agg + merge == one-pass sketch on raw data.

- Distinct count: the portable register HLL (``hll_register_cols`` /
  ``hll_registers`` / ``hll_merge_registers`` / ``hll_estimate``),
  plain integer/bit Spark SQL that Catalyst plans and DuckDB replays
  token-for-token, so its ESTIMATE sits under the oracle hash gate
  (q132).
- Heavy hitters: ``daily_topk_sketches`` / ``rollup_topk`` /
  ``global_topk`` over Spark's DataSketches ``approx_top_k_*``
  functions (q92).
- Membership, quantiles and frequencies: the portable Bloom filter
  (q136), log-linear quantile histogram (q137) and count-min sketch,
  each in the same hash-exact integer arithmetic.

The reference's analytics use exact COUNT(DISTINCT) only (reference:
warehouse/analytics_queries.sql); this module is the scale superset.
(The DataSketches HLL rollups that duplicated the portable HLL are
retired: git show 5be66ed:etl_data_warehouse_spark/operators/sketches.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MILLIS_PER_DAY = 86_400_000


def _utc_day(ts_col: str) -> F.Column:
    """UTC calendar day of a timestamp, independent of the session
    timezone: instant -> epoch millis -> epoch day -> DATE. (``to_date``
    would convert through ``spark.sql.session.timeZone`` and shift
    boundary events on non-UTC drivers — the oracles truncate the UTC
    wall clock.)"""
    return F.date_from_unix_date(
        F.floor(F.unix_millis(F.col(ts_col)) / F.lit(_MILLIS_PER_DAY)).cast(
            "int"
        )
    )


# --- Frequent-items (heavy hitters) sketches --------------------------------
# Spark 4.1 ships DataSketches frequent-items as SQL functions:
# approx_top_k(expr, k, maxItemsTracked) for one-shot estimation, and
# the mergeable triple approx_top_k_accumulate / _combine / _estimate
# for the pre-aggregate-then-rollup pattern (same shape as the
# register HLL below). Guarantee: with maxItemsTracked M, every item
# with count > n/M is reported and counts are within n/M of exact — so
# for a bounded-cardinality column (event_type, lang, source, status)
# a modest M makes the sketch EXACT. The binary state is not
# DuckDB-reproducible, so the merge contracts are test-pinned.


def daily_topk_sketches(
    events: DataFrame,
    value_col: str = "event_type",
    ts_col: str = "ts",
    max_items: int = 1024,
) -> DataFrame:
    """Per-day frequent-items sketch of ``value_col`` — persist next to
    the daily partitions; one shuffle at day grain, map-side partials."""
    return events.groupBy(_utc_day(ts_col).alias("day")).agg(
        F.expr(
            f"approx_top_k_accumulate({value_col}, {max_items})"
        ).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rollup_topk(
    sketches: DataFrame,
    grain_expr: F.Column,
    k: int,
    grain_name: str = "grain",
    max_items: int = 1024,
) -> DataFrame:
    """Merge per-day sketches to a coarser grain and report top-k
    ``(item, count)`` structs per grain — no rescan of the raw fact."""
    return (
        sketches.groupBy(grain_expr.alias(grain_name))
        .agg(
            F.expr(f"approx_top_k_combine(sketch, {max_items})").alias(
                "merged"
            ),
            F.sum("n_rows").alias("n_rows"),
        )
        .select(
            grain_name,
            F.expr(f"approx_top_k_estimate(merged, {k})").alias("top_k"),
            "n_rows",
        )
    )


def global_topk(sketches: DataFrame, k: int, max_items: int = 1024) -> list:
    """Global heavy hitters from the persisted daily sketches."""
    row = sketches.agg(
        F.expr(
            f"approx_top_k_estimate(approx_top_k_combine(sketch,"
            f" {max_items}), {k})"
        ).alias("top")
    ).first()
    return list(row["top"])


# --- Portable register-level HLL (cross-engine hash-exact) -------------------
# The distinct-count sketch. DataSketches HLL binary state is not
# reproducible outside the JVM, so this family implements the HLL
# register math DIRECTLY (Flajolet et al. 2007): md5-derived 60-bit
# hash, p register bits, rho = leading-zero rank of the remaining 52-bit
# window, register = MAX(rho) — every step integer/bit arithmetic that
# DuckDB reproduces token-for-token, so the ORACLE GATE can hash-check a
# sketch end-to-end (q132). The harmonic-mean denominator is kept as an
# EXACT BIGINT (sum of 2^(53-M_j), max 256*2^53 < 2^62); the only float
# op is one literal/BIGINT divide at the output boundary. Register
# tables are mergeable by register-wise MAX — union == merge is pinned
# by TestPortableHll.

HLL_P = 8  # 256 registers; RSE ~ 1.04/sqrt(256) = 6.5%
_HLL_M = 1 << HLL_P
_HLL_WINDOW = 60 - HLL_P  # md5-derived 60-bit hash minus register bits
_HLL_RHO_MAX = _HLL_WINDOW + 1
# alpha_m * m^2 * 2^(window+1), folded to ONE double literal so both
# engines parse the identical shortest-repr decimal and perform the
# identical single IEEE divide by the exact BIGINT denominator.
HLL_EST_NUMERATOR = (
    0.7213 / (1.0 + 1.079 / float(_HLL_M))
    * float(_HLL_M) * float(_HLL_M) * float(1 << _HLL_RHO_MAX)
)


def hll_register_cols(key, salt: str = "hll") -> tuple[F.Column, F.Column]:
    """(register index, rho) for a key column — the per-row HLL
    primitives. 60-bit hash from the first 15 md5 hex digits (fits a
    signed BIGINT; DuckDB twin: ``('0x' || substring(md5(...), 1,
    15))::BIGINT``); low p bits pick the register (``h & (m-1)``), the
    remaining window's leading-zero rank is ``rho`` via bit_length
    (``length(bin(w))``) — identical operators in both engines."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), k.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    idx = h.bitwiseAND(F.lit(_HLL_M - 1)).cast("int").alias("hll_idx")
    w = F.shiftright(h, HLL_P)
    rho = (
        F.when(w == 0, F.lit(_HLL_RHO_MAX))
        .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.bin(w)))
        .cast("int")
        .alias("hll_rho")
    )
    return idx, rho


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group register table (group_cols..., hll_idx, m_j) — the
    persistable, mergeable sketch state. One shuffle at
    (group, register) grain with map-side partial MAX."""
    idx, rho = hll_register_cols(value_col)
    return (
        df.select(*group_cols, idx, rho)
        .groupBy(*group_cols, "hll_idx")
        .agg(F.max("hll_rho").alias("m_j"))
    )


def hll_merge_registers(
    regs: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union sketches by register-wise MAX (drop grouping levels from
    finer to coarser) — lossless w.r.t. the sketch's own accuracy."""
    return regs.groupBy(*group_cols, "hll_idx").agg(
        F.max("m_j").alias("m_j")
    )


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Distinct estimate per group from a register table. The harmonic
    denominator is EXACT: absent registers (M_j = 0) contribute
    2^rho_max each via the closed-form ``(m - hit) << rho_max``
    correction, so the sketch never materializes empty registers."""
    return (
        regs.groupBy(*group_cols)
        .agg(
            # pyspark's shiftleft() only takes an int shift; the SQL
            # function accepts a column expression
            F.sum(
                F.expr(f"shiftleft(1L, {_HLL_RHO_MAX} - m_j)")
            ).alias("s_present"),
            F.count(F.lit(1)).cast("int").alias("n_registers_hit"),
        )
        .select(
            *group_cols,
            "n_registers_hit",
            (
                F.col("s_present")
                + (F.lit(_HLL_M) - F.col("n_registers_hit")).cast("long")
                * F.lit(1 << _HLL_RHO_MAX).cast("long")
            ).alias("sketch_sum"),
        )
        .select(
            *group_cols,
            "n_registers_hit",
            "sketch_sum",
            (
                F.lit(HLL_EST_NUMERATOR)
                / F.col("sketch_sum").cast("double")
            ).alias("hll_estimate"),
        )
    )


# --- Portable Bloom filter (cross-engine hash-exact) -------------------------
# Same contract as the portable HLL above: membership-sketch math kept
# entirely in md5/integer/bit operators both engines reproduce, so the
# oracle gate can hash-check the BITMAP and the probe verdicts
# (q136). The 100 TB use is semi-join pruning: a fact scan probes a
# broadcast bitmap (couple of KB .. MB) instead of shuffling against a
# large key set; false positives only cost wasted downstream work,
# never correctness. Words are 62-bit (bit index <= 61) so the
# 1 << bit mask never touches the sign bit — DuckDB raises on BIGINT
# shift overflow where the JVM wraps, so the sign bit is the one spot
# the engines disagree.

BLOOM_BITS = 1 << 16  # m; with k=3 and ~6k keys -> fp ~ 0.1%
BLOOM_K = 3
_BLOOM_WORD_BITS = 62


def bloom_positions(
    key, salt: str = "bf", m_bits: int = BLOOM_BITS
) -> list[F.Column]:
    """k md5-derived bit positions in [0, m) for a key column."""
    k = F.col(key) if isinstance(key, str) else key
    out = []
    for i in range(BLOOM_K):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}{i}:"), k.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        out.append((h % F.lit(m_bits)).alias(f"pos{i}"))
    return out


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = BLOOM_BITS
) -> DataFrame:
    """(word_idx, bitmap) Bloom bitmap over a key column — ~1086 words
    of 62 bits for m=2^16; one small shuffle at word grain. The bitmap
    table is the broadcastable artifact a 100 TB plan ships to every
    scan task."""
    pos = (
        keys.select(
            F.explode(
                F.array(*bloom_positions(key_col, m_bits=m_bits))
            ).alias("pos")
        )
        .select(
            F.expr(f"pos div {_BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(f"shiftleft(1L, pos % {_BLOOM_WORD_BITS})").alias("mask"),
        )
        # explicit, so a downstream join's implicit isnotnull(word_idx)
        # can't make that consumer's copy of this subplan differ from a
        # stats/agg consumer's — canonical equality is what ReuseExchange
        # keys on (the q122 discipline)
        .filter(F.col("word_idx").isNotNull())
    )
    return pos.groupBy("word_idx").agg(
        F.bit_or("mask").alias("bitmap")
    )


def bloom_probe(
    probes: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Probe verdicts per DISTINCT key: ``(key_col, bloom_pass)`` with
    one row per distinct probe key (all k bits set). NOT row-preserving:
    non-key columns are projected away and duplicate keys collapse in
    the final groupBy — callers holding enriched/duplicated probe
    frames should probe the distinct keys and join the verdict back.
    The bitmap join is BROADCAST; a missing word row means no key ever
    touched that word (bit unset)."""
    pos = probes.select(key_col, *bloom_positions(key_col, m_bits=m_bits))
    stacked = pos.select(
        key_col,
        F.explode(
            F.array(*[F.col(f"pos{i}") for i in range(BLOOM_K)])
        ).alias("pos"),
    ).select(
        key_col,
        F.expr(f"pos div {_BLOOM_WORD_BITS}").alias("word_idx"),
        F.expr(f"shiftleft(1L, pos % {_BLOOM_WORD_BITS})").alias("mask"),
    )
    hits = stacked.join(F.broadcast(bitmap), "word_idx", "left").select(
        key_col,
        (
            F.coalesce(F.col("bitmap"), F.lit(0).cast("long"))
            .bitwiseAND(F.col("mask"))
            != 0
        ).alias("bit_set"),
    )
    return hits.groupBy(key_col).agg(
        F.min("bit_set").alias("bloom_pass")
    )


# --- Portable log-linear quantile histogram (cross-engine hash-exact) --------
# DDSketch/HDR-histogram shape (Masson et al. 2019 use relative-error
# log buckets; HDR uses log-linear): bucket a positive BIGINT value by
# its bit_length (log tier) plus the top 5 mantissa bits (32 linear
# sub-buckets per tier) -> <= ~3.1% relative error, counts mergeable by
# plain addition, quantile = lower bound of the first bucket whose
# cumulative count reaches ceil(q*n). Every step is integer arithmetic
# (length(bin(v)), shifts, divs) that DuckDB reproduces exactly, so
# estimates sit under the hash gate (q137). Values < 64 are exact
# (bucket == value).

_QH_SUB_BITS = 5  # 32 linear sub-buckets per power-of-two tier
_QH_EXACT_BELOW = 1 << (_QH_SUB_BITS + 1)  # 64


def _col_name(col) -> str:
    """These helpers splice the column into F.expr text, so they take
    plain column NAMES only — reflecting SQL text out of a computed
    Column (Column._jc) breaks under Spark Connect and can silently
    build unparseable SQL. Alias computed expressions first."""
    if not isinstance(col, str):
        raise TypeError(
            "qhist_bucket/qhist_lower take a column NAME (str); alias "
            f"computed expressions first (got {type(col).__name__})"
        )
    return col


def qhist_bucket(v: str) -> F.Column:
    """Log-linear bucket id of a positive BIGINT column (by NAME);
    monotonic in v, invertible to the bucket's lower bound via
    qhist_lower."""
    name = _col_name(v)
    vv = F.col(name)
    high = F.length(F.bin(vv))
    shift = high - F.lit(_QH_SUB_BITS + 1)
    return (
        F.when(vv < _QH_EXACT_BELOW, vv)
        .otherwise(
            shift * F.lit(1 << _QH_SUB_BITS)
            + F.expr(
                f"shiftright({name}, "
                f"length(bin({name})) - {_QH_SUB_BITS + 1})"
            )
        )
        .cast("long")
    )


def qhist_lower(b: str) -> F.Column:
    """Lower bound of a bucket id column (by NAME; exact inverse of
    qhist_bucket's truncation): b < 64 -> b; else tier = b div 32 - 1,
    mantissa = b - tier*32, bound = mantissa << tier."""
    name = _col_name(b)
    bb = F.col(name)
    return (
        F.when(bb < _QH_EXACT_BELOW, bb)
        .otherwise(
            F.expr(
                f"shiftleft({name} - (({name} div 32) - 1) * 32, "
                f"({name} div 32) - 1)"
            )
        )
        .cast("long")
    )


def qhist_build(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group histogram (group..., bucket, n) — the persistable,
    merge-by-addition sketch state; one shuffle at (group, bucket)
    grain with map-side partial counts."""
    return (
        df.select(*group_cols, qhist_bucket(value_col).alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def qhist_merge(hists: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge histograms to a coarser grouping: counts add."""
    return hists.groupBy(*group_cols, "bucket").agg(
        F.sum("n").cast("long").alias("n")
    )


def qhist_quantiles(
    hists: DataFrame, group_cols: list[str], qs: list[int]
) -> DataFrame:
    """Quantile estimates (bucket lower bounds) per group for integer
    percentiles ``qs``: cumulative count over bucket order, estimate =
    lower bound of the first bucket with cum >= ceil(q*n/100). All
    integer; group-partitioned window only."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(*group_cols)
    cum = hists.select(
        *group_cols,
        "bucket",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(wg).alias("total"),
    )
    aggs = []
    for q in qs:
        target = F.expr(f"(total * {q} + 99) div 100")
        aggs.append(
            F.min(
                F.when(F.col("cum") >= target, F.col("bucket"))
            ).alias(f"b{q}")
        )
    out = cum.groupBy(*group_cols).agg(
        F.max("total").cast("long").alias("n_values"),
        F.count(F.lit(1)).cast("int").alias("n_buckets_hit"),
        *aggs,
    )
    sel = [*group_cols, "n_values", "n_buckets_hit"]
    for q in qs:
        sel.append(qhist_lower(f"b{q}").alias(f"p{q}_est"))
    return out.select(*sel)


# --- Portable count-min frequency sketch (cross-engine hash-exact) -----------
# Cormode & Muthukrishnan 2005: d independent hash rows of w counters;
# point estimate = min over rows -> never underestimates, overshoot
# bounded by eps*N with prob 1-delta (w = ceil(e/eps), d = ceil(ln
# 1/delta)). Same portability contract as the HLL/Bloom/qhist family:
# md5-derived positions and BIGINT counter sums both engines reproduce,
# so the STATE and the ESTIMATES sit under the hash gate (q138). State
# is d*w cells regardless of key cardinality; partials merge by plain
# addition — the 100 TB shape is per-partition/per-day builds rolled up
# by sum, with the merged table small enough to broadcast to probes.

CM_W = 1024
CM_D = 4


def cm_position(key, row: int, w: int = CM_W) -> F.Column:
    """md5-derived counter index in [0, w) for hash row ``row``."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cm{row}:"), k.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return h % F.lit(w)


def cm_build(
    weighted: DataFrame,
    key_col: str,
    weight_col: str,
    group_cols: list[str],
    w: int = CM_W,
    d: int = CM_D,
) -> DataFrame:
    """(group..., cm_row, cm_pos, c) sketch state from pre-weighted
    rows (one row per key per group with its count/weight — build on
    the AGGREGATED key grain so the explode is cardinality-, not
    row-, proportional). One shuffle at (group, row, pos) grain with
    map-side partial sums."""
    cells = weighted.select(
        *group_cols,
        F.col(weight_col).alias("_w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("cm_row"),
                        cm_position(key_col, i, w).alias("cm_pos"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("cell"),
    )
    return cells.groupBy(*group_cols, "cell.cm_row", "cell.cm_pos").agg(
        F.sum("_w").cast("long").alias("c")
    )


def cm_merge(states: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketch states to a coarser grouping: counters add."""
    return states.groupBy(*group_cols, "cm_row", "cm_pos").agg(
        F.sum("c").cast("long").alias("c")
    )


def cm_estimate(
    probes: DataFrame,
    key_col: str,
    state: DataFrame,
    w: int = CM_W,
    d: int = CM_D,
) -> DataFrame:
    """DISTINCT probe rows + ``cm_est`` = min over the d counter rows.
    NOT row-preserving: the final groupBy is over ALL probe columns, so
    duplicate probe rows collapse to one verdict row — callers holding
    duplicated probe frames should probe distinct rows and join back.
    The state join is BROADCAST (d*w cells); a missing cell means no
    key ever hashed there (counter 0)."""
    ppos = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("cm_row"),
                        cm_position(key_col, i, w).alias("cm_pos"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("cell"),
    ).select("*", "cell.cm_row", "cell.cm_pos").drop("cell")
    joined = ppos.join(F.broadcast(state), ["cm_row", "cm_pos"], "left")
    keep = [c for c in probes.columns]
    return joined.groupBy(*keep).agg(
        F.min(F.coalesce("c", F.lit(0).cast("long")))
        .cast("long")
        .alias("cm_est")
    )
