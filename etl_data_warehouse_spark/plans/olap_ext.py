"""OLAP surface extension (q53): exact discrete quantiles.

q53: discrete (rank-selection) quantiles of order value per month —
exact and engine-portable BY CONSTRUCTION: the quantile is the VALUE at
row ceil(q*n) in value-sorted order, a selection, never an
interpolation (interpolated quantiles multiply doubles in
engine-specific association order; selection is bit-stable).

(ROLLUP/CUBE already live in plans/warehouse.py q17/q18.)

Scale: one window per month partition — the month grain bounds every
sort; no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import sketches as sketches_mod
from ..sources.catalog import load_table

_QS = [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p90", 0.9)]


def q53_order_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, "orders", sf_dir, columns=["o_orderkey", "o_totalprice", "o_orderdate"]
    )
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    base = orders.select(month, "o_totalprice", "o_orderkey")
    w = Window.partitionBy("order_month").orderBy("o_totalprice", "o_orderkey")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("order_month"))
    )
    aggs = [F.count("*").alias("n_orders")] + [
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")),
                F.col("o_totalprice"),
            )
        ).alias(name)
        for name, q in _QS
    ]
    # count("*") over ranked double-counts nothing: ranked is row-per-order
    return (
        ranked.groupBy("order_month")
        .agg(*aggs)
        .withColumn("n_orders", F.col("n_orders").cast("long"))
        .orderBy("order_month")
    )


Q53_ORACLE = f"""
WITH ranked AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           o_totalprice,
           row_number() OVER (
               PARTITION BY strftime(o_orderdate, '%Y-%m')
               ORDER BY o_totalprice, o_orderkey) AS rn,
           COUNT(*) OVER (
               PARTITION BY strftime(o_orderdate, '%Y-%m')) AS n
    FROM orders
)
SELECT order_month,
       COUNT(*)::BIGINT AS n_orders,
       {", ".join(
           f"MAX(CASE WHEN rn = ceil({q} * n) THEN o_totalprice END) AS {name}"
           for name, q in _QS
       )}
FROM ranked
GROUP BY order_month
ORDER BY order_month
"""


_STATUSES = ["F", "O", "P"]


def q57_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue/order-count PIVOTED by order status.

    The pivot value list is PINNED (never inferred with a distinct
    collect — that's a full extra pass at 100 TB and nondeterministic
    column order); empty cells coalesce to 0 so the wide frame is
    null-free. Money via exact decimal sums.
    """
    orders = load_table(
        spark, "orders", sf_dir,
        columns=["o_orderstatus", "o_totalprice", "o_orderdate"],
    )
    wide = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "o_orderstatus",
            "o_totalprice",
        )
        .groupBy("order_month")
        .pivot("o_orderstatus", _STATUSES)
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return wide.select(
        "order_month",
        *[
            F.coalesce(F.col(f"{s}_rev"), F.lit(0.0)).alias(f"rev_{s.lower()}")
            for s in _STATUSES
        ],
        *[
            F.coalesce(F.col(f"{s}_cnt"), F.lit(0).cast("long")).alias(
                f"cnt_{s.lower()}"
            )
            for s in _STATUSES
        ],
    ).orderBy("order_month")


Q57_ORACLE = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       {", ".join(
           "COALESCE(CAST(SUM(CASE WHEN o_orderstatus = '" + s
           + "' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)"
           + " AS rev_" + s.lower()
           for s in _STATUSES
       )},
       {", ".join(
           "COUNT(CASE WHEN o_orderstatus = '" + s + "' THEN 1 END)::BIGINT"
           + " AS cnt_" + s.lower()
           for s in _STATUSES
       )}
FROM orders
GROUP BY 1
ORDER BY 1
"""


def q58_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) the wide status frame back to long form —
    (order_month, status, revenue) — the wide↔long round-trip every
    reporting layer needs. Null-free input ⇒ identical row counts in
    both engines regardless of INCLUDE-NULLS dialect defaults."""
    wide = q57_status_pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["order_month"],
        values=[f"rev_{s.lower()}" for s in _STATUSES],
        variableColumnName="status_col",
        valueColumnName="revenue",
    )
    return long.select(
        "order_month",
        F.upper(F.substring("status_col", 5, 1)).alias("status"),
        "revenue",
    ).orderBy("order_month", "status")


Q58_ORACLE = f"""
WITH wide AS ({Q57_ORACLE.replace("ORDER BY 1", "")})
{" UNION ALL ".join(
    "SELECT order_month, '" + s + "' AS status, rev_" + s.lower()
    + " AS revenue FROM wide"
    for s in _STATUSES
)}
ORDER BY order_month, status
"""

def q60_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — ((year, status), (year), (status)) —
    the general form ROLLUP (q17) / CUBE (q18) specialize. Native
    ``groupingSets`` API (one Expand node, single shuffle — NOT a
    UNION ALL of three scans, which would read the fact 3×). grp_id
    disambiguates the NULLs of the superaggregate rows from data NULLs.
    """
    orders = load_table(
        spark, "orders", sf_dir, columns=["o_orderdate", "o_orderstatus", "o_totalprice"]
    )
    base = orders.select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    return (
        base.groupingSets(
            [["order_year", "status"], ["order_year"], ["status"]],
            "order_year",
            "status",
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("order_count"),
            F.grouping_id().cast("int").alias("grp_id"),
        )
        .orderBy("grp_id", "order_year", "status")
    )


Q60_ORACLE = """
SELECT year(o_orderdate)::INT AS order_year,
       o_orderstatus          AS status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*)               AS order_count,
       (GROUPING(year(o_orderdate)::INT) * 2
        + GROUPING(o_orderstatus))::INT AS grp_id
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate)::INT, o_orderstatus),
                        (year(o_orderdate)::INT),
                        (o_orderstatus))
ORDER BY grp_id, order_year, status
"""


def q61_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-window suite over the month partition:
    PERCENT_RANK / CUME_DIST / FIRST_VALUE / LAST_VALUE / NTH_VALUE /
    LEAD. Rank-derived ratios are exact in both engines ((rank-1)/(n-1)
    — one division, no accumulation order); every window carries the
    o_orderkey tiebreak (repo ranking rule). LAST_VALUE gets the full
    frame — the default RANGE..CURRENT ROW frame is the classic
    'last_value returns current row' trap this query pins down.

    Scale: all six functions share ONE window spec → one shuffle on
    order_month, one partition-local sort.
    """
    orders = load_table(
        spark, "orders", sf_dir, columns=["o_orderkey", "o_totalprice", "o_orderdate"]
    )
    base = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        "o_orderkey",
        "o_totalprice",
    )
    w = Window.partitionBy("order_month").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = base.select(
        "order_month",
        "o_orderkey",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_totalprice").over(wfull).alias("month_min"),
        F.last("o_totalprice").over(wfull).alias("month_max"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("month_2nd"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )
    # top-5 per month keeps the result driver-sized at any SF while
    # still exercising every function (lead is NULL on the last row)
    return (
        out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("order_month").orderBy(
                    F.desc("o_totalprice"), F.desc("o_orderkey")
                )
            ),
        )
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("order_month", "o_totalprice", "o_orderkey")
    )


Q61_ORACLE = """
WITH win AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           o_orderkey,
           o_totalprice,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume,
           first_value(o_totalprice) OVER wf AS month_min,
           last_value(o_totalprice)  OVER wf AS month_max,
           nth_value(o_totalprice, 2) OVER wf AS month_2nd,
           lead(o_totalprice, 1) OVER w AS next_price,
           row_number() OVER (
               PARTITION BY strftime(o_orderdate, '%Y-%m')
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
                 ORDER BY o_totalprice, o_orderkey),
           wf AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
                  ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT order_month, o_orderkey, o_totalprice, pct_rank, cume,
       month_min, month_max, month_2nd, next_price
FROM win
WHERE rn <= 5
ORDER BY order_month, o_totalprice, o_orderkey
"""


def q80_sliding_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows in BATCH: 1-hour windows advancing
    every 15 minutes over the events table — the overlapping-window
    rollup Structured Streaming runs with the same ``F.window`` call
    (each event lands in window/slide = 4 windows; Spark plans this as
    one generate + aggregate, no self-joins).

    Oracle: DuckDB reproduces the window fan-out with an UNNEST of the
    4 slide offsets off each event's 15-minute bucket; with window =
    4 x slide every generated window qualifies, so the twin needs no
    range filter. Distinct users per window exercises the
    expand-then-aggregate path under fan-out.

    100 TB: fan-out multiplies rows by 4 BEFORE the shuffle; the
    partial aggregation collapses each partition's (window, user)
    duplicates map-side, so the shuffle carries near-distinct pairs —
    same reasoning that makes streaming sliding windows viable.
    """
    events = load_table(spark, "events", sf_dir, columns=["ts", "user_id", "value"])
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            (F.unix_micros(F.col("w.start")) / F.lit(1000)).cast("long")
            .alias("window_start_ms"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start_ms")
    )


Q80_ORACLE = """
SELECT (epoch_ms(time_bucket(INTERVAL '15 minutes', ts))
          - offs.i * 900000)::BIGINT AS window_start_ms,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) offs
GROUP BY window_start_ms
ORDER BY window_start_ms
"""


def q86_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnosis: top-20 heaviest l_suppkey values
    with their share of the table, plus the global skew factor
    (max-key rows / mean rows-per-key) — the measurement that decides
    when operators/skew.py salting or AQE skew-join splitting is worth
    it at 100 TB. One shuffle on the key, one tiny global aggregate
    broadcast back; the rank<=20 filter runs as a partial
    WindowGroupLimit, so only each partition's top rows reach the
    final sort."""
    li = load_table(spark, "lineitem", sf_dir, columns=["l_suppkey"])
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count("*").alias("n_keys"),
        F.max("n_rows").alias("max_rows"),
    )
    w = Window.orderBy(F.desc("n_rows"), "l_suppkey")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "l_suppkey",
            "n_rows",
            (
                F.col("n_rows").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("share_of_table"),
            (
                F.col("max_rows").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("skew_factor"),
        )
        .orderBy("rank")
    )


Q86_ORACLE = """
WITH counts AS (
    SELECT l_suppkey, COUNT(*)::BIGINT AS n_rows
    FROM lineitem GROUP BY 1
),
totals AS (
    SELECT SUM(n_rows)::BIGINT AS total_rows,
           COUNT(*)::BIGINT AS n_keys,
           MAX(n_rows)::BIGINT AS max_rows
    FROM counts
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY n_rows DESC, l_suppkey)::INT AS rank
    FROM counts
)
SELECT r.rank, r.l_suppkey, r.n_rows,
       r.n_rows::DOUBLE / t.total_rows::DOUBLE AS share_of_table,
       t.max_rows::DOUBLE * t.n_keys::DOUBLE / t.total_rows::DOUBLE
           AS skew_factor
FROM ranked r CROSS JOIN totals t
WHERE r.rank <= 20
ORDER BY r.rank
"""


_N_BINS = 20


def q89_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of o_totalprice (the ANALYZE-style column
    profile a CBO consumes): exact min/max bounds, 20 bins, per-bin
    row count + decimal-exact revenue. Two scans (tiny bounds agg
    broadcast back) + ONE shuffle on the 20-value bin key; bit-stable
    because bin = floor((x-lo)/width) is the identical IEEE double op
    sequence in both engines, and the money sum stays DECIMAL until the
    output boundary."""
    orders = load_table(
        spark, "orders", sf_dir, columns=["o_totalprice"]
    )
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).withColumn("width", (F.col("hi") - F.col("lo")) / F.lit(float(_N_BINS)))
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_N_BINS - 1).cast("long"),
            F.floor((F.col("o_totalprice") - F.col("lo")) / F.col("width")),
        ).alias("bin"),
        "lo",
        "width",
        "o_totalprice",
    )
    return (
        binned.groupBy("bin", "lo", "width")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
        )
        .select(
            "bin",
            (F.col("lo") + F.col("bin").cast("double") * F.col("width")).alias(
                "bin_lo"
            ),
            (
                F.col("lo")
                + (F.col("bin") + F.lit(1)).cast("double") * F.col("width")
            ).alias("bin_hi"),
            "n_orders",
            F.col("_rev").cast("double").alias("sum_value"),
        )
        .orderBy("bin")
    )


Q89_ORACLE = f"""
WITH bounds AS (
    SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           (MAX(o_totalprice) - MIN(o_totalprice)) / {float(_N_BINS)} AS width
    FROM orders
),
binned AS (
    SELECT LEAST({_N_BINS - 1},
                 FLOOR((o_totalprice - b.lo) / b.width)::BIGINT) AS bin,
           b.lo, b.width, o_totalprice
    FROM orders CROSS JOIN bounds b
)
SELECT bin,
       lo + bin::DOUBLE * width            AS bin_lo,
       lo + (bin + 1)::DOUBLE * width      AS bin_hi,
       COUNT(*)::BIGINT                    AS n_orders,
       SUM(o_totalprice::DECIMAL(18,2))::DOUBLE AS sum_value
FROM binned
GROUP BY bin, lo, width
ORDER BY bin
"""


# --- q132: portable HLL register sketch (hash-exact cross-engine) -----------


def q132_hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL sketch per event type PLUS the merged-total
    grain, with the register math itself under the hash gate:
    DataSketches HLL binary state cannot be reproduced in DuckDB, so
    this query implements the HLL registers portably (md5 60-bit hash, 8
    register bits, bit_length rho, register-wise MAX) and the oracle
    recomputes them token-for-token — the first sketch in the registry
    whose ESTIMATE is hash-checked, not test-pinned. The harmonic
    denominator stays an exact BIGINT (sum of 2^(53-M_j) + closed-form
    empty-register correction); the single float op is one
    literal/BIGINT divide at the boundary.

    The '__all__' grain is stacked into the SAME scan (explode of
    [event_type, '__all__']) — per-grain registers and the union
    sketch come out of one shuffle; register-wise-MAX mergeability
    (what a 100 TB rollup would do instead of restacking) is pinned by
    TestPortableHll. exact_distinct is carried for accuracy
    visibility at test SFs — it is the expensive exact path a real
    deployment would DROP (that's the point of the sketch).

    Reference scope: the reference's analytics use exact
    COUNT(DISTINCT) only (reference: warehouse/analytics_queries.sql);
    this is the scale substitute."""
    from ..operators import sketches

    events = load_table(spark, "events", sf_dir)
    stacked = events.select(
        F.explode(
            F.array(F.col("event_type"), F.lit("__all__"))
        ).alias("grain"),
        "user_id",
    )
    per_user = stacked.groupBy("grain", "user_id").agg(
        F.count(F.lit(1)).alias("n_rows_u")
    )
    idx, rho = sketches.hll_register_cols("user_id")
    regs = (
        per_user.select("grain", "n_rows_u", idx, rho)
        .groupBy("grain", "hll_idx")
        .agg(
            F.max("hll_rho").alias("m_j"),
            F.sum("n_rows_u").alias("n_rows_part"),
            F.count(F.lit(1)).cast("long").alias("n_users_part"),
        )
    )
    est = sketches.hll_estimate(regs, ["grain"])
    totals = regs.groupBy("grain").agg(
        F.sum("n_rows_part").cast("long").alias("n_rows"),
        F.sum("n_users_part").cast("long").alias("exact_distinct"),
    )
    return (
        est.join(totals, "grain")
        .select(
            "grain",
            "n_rows",
            "exact_distinct",
            "n_registers_hit",
            "sketch_sum",
            "hll_estimate",
        )
        .orderBy("grain")
    )


Q132_ORACLE = f"""
WITH stacked AS (
    SELECT event_type AS grain, user_id FROM events
    UNION ALL
    SELECT '__all__' AS grain, user_id FROM events
),
per_user AS (
    SELECT grain, user_id, COUNT(*)::BIGINT AS n_rows_u
    FROM stacked GROUP BY grain, user_id
),
hashed AS (
    SELECT grain, n_rows_u,
           ('0x' || substring(md5('hll' || user_id::VARCHAR), 1, 15))::BIGINT
               AS h
    FROM per_user
),
rowsx AS (
    SELECT grain, n_rows_u, (h & 255)::INT AS hll_idx,
           (CASE WHEN (h >> 8) = 0 THEN 53
                 ELSE 53 - length(bin(h >> 8)) END)::INT AS rho
    FROM hashed
),
regs AS (
    SELECT grain, hll_idx, MAX(rho) AS m_j,
           SUM(n_rows_u)::BIGINT AS n_rows_part,
           COUNT(*)::BIGINT AS n_users_part
    FROM rowsx GROUP BY grain, hll_idx
)
SELECT grain,
       SUM(n_rows_part)::BIGINT AS n_rows,
       SUM(n_users_part)::BIGINT AS exact_distinct,
       COUNT(*)::INT AS n_registers_hit,
       (SUM(1::BIGINT << (53 - m_j))
        + (256 - COUNT(*)) * 9007199254740992)::BIGINT AS sketch_sum,
       {sketches_mod.HLL_EST_NUMERATOR!r} / (SUM(1::BIGINT << (53 - m_j))
        + (256 - COUNT(*)) * 9007199254740992)::DOUBLE AS hll_estimate
FROM regs
GROUP BY grain
ORDER BY grain
"""


# --- q136: portable Bloom-filter semi-join prune (hash-exact) ---------------


_Q136_M_BITS = 4096  # small m on purpose: surfaces false positives at test SF


def q136_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prune with the BITMAP and the probe
    verdicts under the hash gate: build a k=3, m=4096 bit bitmap over
    the 'BUILDING'-segment customer keys, probe every distinct orders
    customer, and report the (bloom_pass, is_member) confusion matrix
    plus bitmap occupancy. m is deliberately small so false positives
    appear at test SF — the gate then pins the exact FP count, which
    proves the bit math end-to-end (a correct-members-only check would
    pass even with broken hashing).

    100 TB role: runtime semi-join pruning. The bitmap is a ~KB-scale
    broadcastable artifact (word_idx, 62-bit word) a fact scan probes
    per-task instead of shuffling 100 TB of probe keys against the
    member set; the zero-false-negative contract (pinned in
    TestPortableBloom and implied by the hashed matrix) makes it safe
    as a pre-filter ahead of an exact join. Words cap at bit 61 so
    shiftleft never touches the BIGINT sign bit (DuckDB raises where
    the JVM wraps).

    Reference scope: the reference prunes with plain WHERE IN
    (reference: warehouse/analytics_queries.sql); this is the
    scale substitute for member sets too big to inline.
    """
    from ..operators import sketches

    customer = load_table(
        spark, "customer", sf_dir, columns=["c_custkey", "c_mktsegment"]
    )
    members = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        # explicit, so the is_member join's implicit isnotnull doesn't
        # split this subplan from the bitmap-build consumer's copy; the
        # repartition Exchange is then ONE shared materialization of the
        # member list for both consumers (ReuseExchange)
        .filter(F.col("c_custkey").isNotNull())
        .repartition("c_custkey")
    )
    bitmap = sketches.bloom_build(members, "c_custkey", m_bits=_Q136_M_BITS)
    probes = (
        load_table(spark, "orders", sf_dir, columns=["o_custkey"])
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    verdict = sketches.bloom_probe(
        probes, "custkey", bitmap, m_bits=_Q136_M_BITS
    )
    flagged = verdict.join(
        F.broadcast(
            members.select(
                F.col("c_custkey").alias("custkey"),
                F.lit(1).alias("is_member"),
            )
        ),
        "custkey",
        "left",
    ).select(
        F.col("bloom_pass").cast("int").alias("bloom_pass"),
        F.coalesce("is_member", F.lit(0)).cast("int").alias("is_member"),
    )
    matrix = flagged.groupBy("bloom_pass", "is_member").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys")
    )
    stats = bitmap.agg(
        F.count(F.lit(1)).cast("int").alias("n_words"),
        F.sum(F.bit_count("bitmap")).cast("long").alias("n_bits_set"),
    )
    return (
        matrix.crossJoin(F.broadcast(stats))
        .select(
            "bloom_pass", "is_member", "n_keys", "n_words", "n_bits_set"
        )
        .orderBy("bloom_pass", "is_member")
    )


Q136_ORACLE = f"""
WITH members AS (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
mpos AS (
    SELECT (('0x' || substring(
                md5('bf' || i::VARCHAR || ':' || c_custkey::VARCHAR),
                1, 8))::BIGINT % {_Q136_M_BITS}) AS pos
    FROM members, (SELECT unnest([0, 1, 2]) AS i)
),
words AS (
    SELECT pos // 62 AS word_idx,
           bit_or(1::BIGINT << (pos % 62)::INT) AS bitmap
    FROM mpos GROUP BY 1
),
stats AS (
    SELECT COUNT(*)::INT AS n_words,
           SUM(bit_count(bitmap))::BIGINT AS n_bits_set
    FROM words
),
probes AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
ppos AS (
    SELECT custkey,
           (('0x' || substring(
                md5('bf' || i::VARCHAR || ':' || custkey::VARCHAR),
                1, 8))::BIGINT % {_Q136_M_BITS}) AS pos
    FROM probes, (SELECT unnest([0, 1, 2]) AS i)
),
verdict AS (
    SELECT custkey,
           (CASE WHEN bool_and(
                (COALESCE(w.bitmap, 0) & (1::BIGINT << (pos % 62)::INT)) <> 0
            ) THEN 1 ELSE 0 END)::INT AS bloom_pass
    FROM ppos p LEFT JOIN words w ON p.pos // 62 = w.word_idx
    GROUP BY custkey
),
flagged AS (
    SELECT v.bloom_pass,
           (CASE WHEN m.c_custkey IS NOT NULL THEN 1 ELSE 0 END)::INT
               AS is_member
    FROM verdict v LEFT JOIN members m ON v.custkey = m.c_custkey
)
SELECT bloom_pass, is_member, COUNT(*)::BIGINT AS n_keys,
       (SELECT n_words FROM stats) AS n_words,
       (SELECT n_bits_set FROM stats) AS n_bits_set
FROM flagged
GROUP BY bloom_pass, is_member
ORDER BY bloom_pass, is_member
"""


# --- q137: portable log-linear quantile histogram (hash-exact) ---------------


def q137_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram sketch per order priority with the
    ESTIMATES under the hash gate: order values in cents are bucketed
    log-linearly (power-of-two tier + top-5 mantissa bits, <=3.2%
    relative error — the DDSketch/HDR-histogram shape, Masson et al.
    2019), built at (priority, month) grain, MERGED by plain count
    addition to priority grain (the rollup a 100 TB deployment does
    instead of re-scanning), and p50/p90/p99 read off as the lower
    bound of the first bucket whose cumulative count reaches
    ceil(q*n/100). Every step is integer arithmetic both engines
    reproduce bit-for-bit — unlike approx_percentile/percentile_disc,
    whose internal sketches are engine-specific.

    q53 is the exact-selection twin (value at rank ceil(q*n) via a
    per-group sort); this is the fixed-state substitute: state is
    <=~64 buckets/group regardless of row count, partials add, and the
    build is one map-side-combinable shuffle at (group, bucket) grain
    — no per-group sort anywhere.

    Reference scope: the reference has no quantile surface at all;
    q53/q137 are the exact/approximate pair replacing it at scale."""
    from ..operators import sketches

    orders = load_table(
        spark,
        "orders",
        sf_dir,
        columns=["o_orderpriority", "o_orderdate", "o_totalprice"],
    )
    cents = orders.select(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        (F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    built = sketches.qhist_build(
        cents, "cents", ["o_orderpriority", "order_month"]
    )
    merged = sketches.qhist_merge(built, ["o_orderpriority"])
    return sketches.qhist_quantiles(
        merged, ["o_orderpriority"], [50, 90, 99]
    ).orderBy("o_orderpriority")


Q137_ORACLE = """
WITH cents_t AS (
    SELECT o_orderpriority,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           (o_totalprice * 100)::BIGINT AS cents
    FROM orders
),
bucketed AS (
    SELECT o_orderpriority, order_month,
           (CASE WHEN cents < 64 THEN cents
                 ELSE (length(bin(cents)) - 6) * 32
                      + (cents >> (length(bin(cents)) - 6)) END)::BIGINT
               AS bucket
    FROM cents_t
),
built AS (
    SELECT o_orderpriority, order_month, bucket, COUNT(*)::BIGINT AS n
    FROM bucketed GROUP BY 1, 2, 3
),
merged AS (
    SELECT o_orderpriority, bucket, SUM(n)::BIGINT AS n
    FROM built GROUP BY 1, 2
),
cum AS (
    SELECT o_orderpriority, bucket,
           SUM(n) OVER (PARTITION BY o_orderpriority ORDER BY bucket)
               AS cum,
           SUM(n) OVER (PARTITION BY o_orderpriority) AS total
    FROM merged
),
picks AS (
    SELECT o_orderpriority,
           MAX(total)::BIGINT AS n_values,
           COUNT(*)::INT AS n_buckets_hit,
           MIN(CASE WHEN cum >= ((total * 50 + 99) // 100)
                    THEN bucket END) AS b50,
           MIN(CASE WHEN cum >= ((total * 90 + 99) // 100)
                    THEN bucket END) AS b90,
           MIN(CASE WHEN cum >= ((total * 99 + 99) // 100)
                    THEN bucket END) AS b99
    FROM cum GROUP BY 1
)
SELECT o_orderpriority, n_values, n_buckets_hit,
       (CASE WHEN b50 < 64 THEN b50
             ELSE (b50 - ((b50 // 32) - 1) * 32) << ((b50 // 32) - 1)
        END)::BIGINT AS p50_est,
       (CASE WHEN b90 < 64 THEN b90
             ELSE (b90 - ((b90 // 32) - 1) * 32) << ((b90 // 32) - 1)
        END)::BIGINT AS p90_est,
       (CASE WHEN b99 < 64 THEN b99
             ELSE (b99 - ((b99 // 32) - 1) * 32) << ((b99 // 32) - 1)
        END)::BIGINT AS p99_est
FROM picks
ORDER BY o_orderpriority
"""


# --- q138: portable count-min frequency sketch (hash-exact) -----------------


_Q138_W = 64  # small w on purpose: collisions (overcounts) appear at test SF
_Q138_D = 4


def q138_countmin_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005) with
    the STATE MERGE and the ESTIMATES under the hash gate: per-user
    event counts are sketched into d=4 md5 hash rows of w=64 BIGINT
    counters, built at per-event_type grain and MERGED by plain
    counter addition to a global sketch IN-PLAN (the 100 TB rollup —
    per-partition builds summed, never a rescan), then the top-20
    users by exact count are probed and the min-over-rows estimate is
    reported next to the exact count. w is deliberately small so hash
    collisions produce nonzero overcounts at test SF — the gate pins
    the exact overcount of every probe, proving position math,
    counter sums, and the never-underestimate guarantee end-to-end.

    Build is key-cardinality-proportional (explode AFTER the per-key
    pre-aggregate, never per raw event); the merged state is d*w
    cells, broadcast to the probe side. exact_n is carried for
    accuracy visibility at test SF — at scale it is the expensive
    side the sketch replaces.

    Completes the portable-sketch family: q132 HLL (distinct), q136
    Bloom (membership), q137 qhist (quantiles), q138 count-min
    (frequency). Reference scope: the reference counts exactly
    (reference: warehouse/analytics_queries.sql); this is the bounded-
    state substitute."""
    from ..operators import sketches

    events = load_table(
        spark, "events", sf_dir, columns=["user_id", "event_type"]
    )
    per_key = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_type_state = sketches.cm_build(
        per_key, "user_id", "n", ["event_type"], w=_Q138_W, d=_Q138_D
    )
    state = sketches.cm_merge(per_type_state.drop("event_type"), [])
    exact = per_key.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("exact_n")
    )
    # TakeOrdered bounds the global window's input to 20 rows — the
    # single-partition row_number below is by construction tiny
    top = exact.orderBy(F.col("exact_n").desc(), F.col("user_id")).limit(20)
    wnd = Window.orderBy(F.col("exact_n").desc(), F.col("user_id"))
    probes = top.select(
        F.row_number().over(wnd).cast("int").alias("rnk"),
        "user_id",
        "exact_n",
    )
    est = sketches.cm_estimate(
        probes, "user_id", state, w=_Q138_W, d=_Q138_D
    )
    return est.select(
        "rnk",
        "user_id",
        "exact_n",
        "cm_est",
        (F.col("cm_est") - F.col("exact_n")).cast("long").alias("overcount"),
    ).orderBy("rnk")


Q138_ORACLE = f"""
WITH per_key AS (
    SELECT event_type, user_id, COUNT(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
),
cells AS (
    SELECT event_type, i AS cm_row,
           (('0x' || substring(
                md5('cm' || i::VARCHAR || ':' || user_id::VARCHAR),
                1, 8))::BIGINT % {_Q138_W}) AS cm_pos,
           n
    FROM per_key, (SELECT unnest([0, 1, 2, 3]) AS i)
),
state_t AS (
    SELECT event_type, cm_row, cm_pos, SUM(n)::BIGINT AS c
    FROM cells GROUP BY 1, 2, 3
),
state_g AS (
    SELECT cm_row, cm_pos, SUM(c)::BIGINT AS c
    FROM state_t GROUP BY 1, 2
),
exact AS (
    SELECT user_id, SUM(n)::BIGINT AS exact_n FROM per_key GROUP BY 1
),
probes AS (
    SELECT user_id, exact_n,
           row_number() OVER (ORDER BY exact_n DESC, user_id)::INT AS rnk
    FROM exact
    QUALIFY rnk <= 20
),
ppos AS (
    SELECT rnk, user_id, exact_n, i AS cm_row,
           (('0x' || substring(
                md5('cm' || i::VARCHAR || ':' || user_id::VARCHAR),
                1, 8))::BIGINT % {_Q138_W}) AS cm_pos
    FROM probes, (SELECT unnest([0, 1, 2, 3]) AS i)
),
est AS (
    SELECT rnk, user_id, exact_n,
           MIN(COALESCE(s.c, 0))::BIGINT AS cm_est
    FROM ppos p LEFT JOIN state_g s USING (cm_row, cm_pos)
    GROUP BY 1, 2, 3
)
SELECT rnk, user_id, exact_n, cm_est,
       (cm_est - exact_n)::BIGINT AS overcount
FROM est ORDER BY rnk
"""


# --- q139: 7-day rolling distinct-users from HLL registers only -------------


def q139_rolling_distinct_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window COUNT(DISTINCT) answered entirely from sketch
    state, hash-exact in both engines: per-day HLL registers (q132's
    portable md5/bit math) are merged register-wise-MAX over a 7-day
    trailing window on a dense (day x 256-register) grid, and each
    day's rolling distinct-user estimate is read off with the exact
    BIGINT harmonic denominator. The raw fact contributes ONE day-grain
    register build; every window placement after that is algebra on
    days*256 rows — the 100 TB shape for "rolling 7-day uniques",
    where the exact answer would re-shuffle every distinct user once
    PER WINDOW PLACEMENT (7x the data motion, unboundedly worse as the
    window widens). The register window is partitioned by hll_idx
    (256-way); the only unpartitioned window is the day-count frame
    over the ~30-row distinct-days table.

    Day bucketing never touches the session timezone
    (date_from_unix_date of the epoch-millis day quotient — the
    CLAUDE.md vanilla-session rule); the DuckDB twin derives the same
    day from epoch_ms and replays the window as a range join.

    Reference scope: the reference has daily exact rollups only
    (reference: warehouse/analytics_queries.sql); sliding distinct is
    the scale-hostile variant it never attempts."""
    from ..operators import sketches

    events = load_table(spark, "events", sf_dir)
    regs = sketches.hll_registers(
        events.select(
            sketches._utc_day("ts").alias("day"), "user_id"
        )
        # explicit, so the grid join's implicit isnotnull(day/hll_idx)
        # can't split the two consumers' copies of the register agg
        # (days-distinct branch vs join branch) — ReuseExchange keys on
        # canonical equality (the q122/q136 discipline)
        .filter(F.col("day").isNotNull()),
        "user_id",
        ["day"],
    ).filter(F.col("hll_idx").isNotNull())
    # the filter is a tautology (rho >= 1) whose only job is to make
    # this branch REFERENCE m_j: otherwise column pruning drops the
    # max(m_j) aggregate from this copy of the register build and the
    # two consumers' subplans no longer canonicalize — the third
    # splitter class after pushed filters and implicit null-filters
    days = regs.filter(F.col("m_j") >= 0).select("day").distinct()
    grid = days.select(
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("hll_idx"),
    )
    day_regs = grid.join(regs, ["day", "hll_idx"], "left")
    w = (
        Window.partitionBy("hll_idx")
        .orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, 0)
    )
    rolled = day_regs.select(
        "day", "hll_idx", F.max("m_j").over(w).alias("m_j")
    ).filter(F.col("m_j").isNotNull())
    est = sketches.hll_estimate(rolled, ["day"])
    wd = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    daysn = days.select(
        "day",
        F.count(F.lit(1)).over(wd).cast("int").alias("n_days_present"),
    )
    return (
        est.join(daysn, "day")
        .select(
            "day",
            "n_days_present",
            "n_registers_hit",
            "sketch_sum",
            "hll_estimate",
        )
        .orderBy("day")
    )


Q139_ORACLE = f"""
WITH ev AS (
    SELECT DATE '1970-01-01' + (epoch_ms(ts) // 86400000)::INT AS day,
           user_id
    FROM events
),
hashed AS (
    SELECT day,
           ('0x' || substring(md5('hll' || user_id::VARCHAR), 1, 15))::BIGINT
               AS h
    FROM ev
),
regs AS (
    SELECT day, (h & 255)::INT AS hll_idx,
           MAX(CASE WHEN (h >> 8) = 0 THEN 53
                    ELSE 53 - length(bin(h >> 8)) END)::INT AS m_j
    FROM hashed GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM regs),
grid AS (
    SELECT d.day, i.hll_idx
    FROM days d, (SELECT unnest(generate_series(0, 255)) AS hll_idx) i
),
rolled AS (
    SELECT g.day, g.hll_idx, MAX(r.m_j) AS m_j
    FROM grid g LEFT JOIN regs r
      ON r.hll_idx = g.hll_idx AND r.day BETWEEN g.day - 6 AND g.day
    GROUP BY 1, 2
),
present AS (SELECT day, m_j FROM rolled WHERE m_j IS NOT NULL),
daysn AS (
    SELECT d.day, COUNT(*)::INT AS n_days_present
    FROM days d JOIN days d2 ON d2.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1
),
est AS (
    SELECT day, COUNT(*)::INT AS n_registers_hit,
           (SUM(1::BIGINT << (53 - m_j))
            + (256 - COUNT(*)) * 9007199254740992)::BIGINT AS sketch_sum
    FROM present GROUP BY 1
)
SELECT e.day, dn.n_days_present, e.n_registers_hit, e.sketch_sum,
       {sketches_mod.HLL_EST_NUMERATOR!r} / e.sketch_sum::DOUBLE
           AS hll_estimate
FROM est e JOIN daysn dn USING (day)
ORDER BY day
"""


# --- q140: join-size estimation from count-min inner products ----------------


_Q140_W = 64
_Q140_D = 4


def q140_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join output-size estimation WITHOUT executing the join,
    hash-exact: |orders ⋈ customer| per market segment is
    Σ_k f_orders(k)·f_customer(k), and the count-min inner product
    min_d Σ_pos A_d[pos]·B_d[pos] (Cormode & Muthukrishnan 2005, §4.2)
    upper-bounds it using only the two d×w counter tables. The oracle
    recomputes sketch cells and products token-for-token, and the
    exact join size is carried per segment so the gate pins the exact
    overcount of every estimate (w=64 keeps collisions nonzero at test
    SF — same policy as q138).

    The 100 TB role is planning: deciding broadcast-vs-shuffle, skew
    salting, or AQE hints for a petabyte join from two KB-scale
    sketches maintained alongside the tables — never underestimates,
    so capacity decisions made on it are safe.

    Plan shape: each side is ONE scan into a cardinality-proportional
    cm build; products join cell-on-cell ((d·w)-row frames); the exact
    side is a broadcast fact×dim join carried for gate visibility (at
    scale it is the thing the sketch replaces)."""
    from ..operators import sketches

    orders = load_table(spark, "orders", sf_dir, columns=["o_custkey"])
    per_key_a = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    state_a = sketches.cm_build(
        per_key_a, "o_custkey", "n", [], w=_Q140_W, d=_Q140_D
    )
    customer = load_table(
        spark, "customer", sf_dir, columns=["c_custkey", "c_mktsegment"]
    )
    per_key_b = customer.select(
        "c_mktsegment", "c_custkey", F.lit(1).cast("long").alias("n")
    )
    state_b = sketches.cm_build(
        per_key_b, "c_custkey", "n", ["c_mktsegment"], w=_Q140_W, d=_Q140_D
    )
    prod = (
        state_b.withColumnRenamed("c", "cb")
        .join(
            F.broadcast(state_a.withColumnRenamed("c", "ca")),
            ["cm_row", "cm_pos"],
            "left",
        )
        .groupBy("c_mktsegment", "cm_row")
        .agg(
            F.sum(
                F.col("cb") * F.coalesce("ca", F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("dot")
        )
        .groupBy("c_mktsegment")
        .agg(F.min("dot").cast("long").alias("cm_est"))
    )
    exact = (
        orders.join(
            F.broadcast(
                customer.select(
                    F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
                )
            ),
            "o_custkey",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )
    return (
        prod.join(exact, "c_mktsegment")
        .select(
            "c_mktsegment",
            "exact_join_size",
            "cm_est",
            (F.col("cm_est") - F.col("exact_join_size"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy("c_mktsegment")
    )


Q140_ORACLE = f"""
WITH per_key_a AS (
    SELECT o_custkey, COUNT(*)::BIGINT AS n FROM orders GROUP BY 1
),
cells_a AS (
    SELECT i AS cm_row,
           (('0x' || substring(
                md5('cm' || i::VARCHAR || ':' || o_custkey::VARCHAR),
                1, 8))::BIGINT % {_Q140_W}) AS cm_pos,
           n
    FROM per_key_a, (SELECT unnest([0, 1, 2, 3]) AS i)
),
state_a AS (
    SELECT cm_row, cm_pos, SUM(n)::BIGINT AS ca
    FROM cells_a GROUP BY 1, 2
),
cells_b AS (
    SELECT c_mktsegment, i AS cm_row,
           (('0x' || substring(
                md5('cm' || i::VARCHAR || ':' || c_custkey::VARCHAR),
                1, 8))::BIGINT % {_Q140_W}) AS cm_pos,
           1::BIGINT AS n
    FROM customer, (SELECT unnest([0, 1, 2, 3]) AS i)
),
state_b AS (
    SELECT c_mktsegment, cm_row, cm_pos, SUM(n)::BIGINT AS cb
    FROM cells_b GROUP BY 1, 2, 3
),
dots AS (
    SELECT b.c_mktsegment, b.cm_row,
           SUM(b.cb * COALESCE(a.ca, 0))::BIGINT AS dot
    FROM state_b b LEFT JOIN state_a a USING (cm_row, cm_pos)
    GROUP BY 1, 2
),
est AS (
    SELECT c_mktsegment, MIN(dot)::BIGINT AS cm_est
    FROM dots GROUP BY 1
),
exact AS (
    SELECT c.c_mktsegment, COUNT(*)::BIGINT AS exact_join_size
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
)
SELECT e.c_mktsegment, x.exact_join_size, e.cm_est,
       (e.cm_est - x.exact_join_size)::BIGINT AS overcount
FROM est e JOIN exact x USING (c_mktsegment)
ORDER BY c_mktsegment
"""



# --- q142: KMV audience overlap (sketch set intersection) --------------------


_KMV_K = 16  # tiny on purpose for test SFs; ~1024 at production scale


def q142_kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation between event types from K-minimum-
    values sketches (Beyer et al. 2007) — the set-INTERSECTION algebra
    HLL registers cannot do, hash-exact cross-engine: per event type
    keep the k smallest md5-derived 60-bit hashes of its distinct
    users (a deterministic integer set, unlike HLL's lossy registers);
    for each type pair, the k smallest of the union give the union-
    cardinality estimate ((k-1)*2^60 / kth-min — one portable
    literal/BIGINT-derived divide), the signature values common to
    both sides and <= that kth min give the Jaccard estimate
    (matches/k), and their product estimates the distinct-user
    overlap. Exact overlap is carried per pair so the gate pins every
    estimate's error (the q138/q140 visibility policy).

    All pairwise state is signature-sized (T*k rows); the type-pair
    frame is C(T,2) rows built with a broadcast non-equi join (BNLJ on
    a <=T-row frame, never a CartesianProduct). The fact contributes
    ONE distinct-(type,user) shuffle; at 100 TB the signatures would
    live in the sketch panel and this query would never touch the
    fact.

    Reference scope: the reference computes overlaps exactly with
    self-joins (reference: warehouse/analytics_queries.sql); this is
    the bounded-state substitute."""
    events = load_table(
        spark, "events", sf_dir, columns=["event_type", "user_id"]
    )
    # explicit null filters at entry: the exact branch's self-join
    # implies isnotnull(user_id) on its two copies only — without
    # these, the three consumers of the distinct (sig build + both
    # exact sides) stop canonicalizing identically and the fact is
    # re-scanned per consumer (q122/q136/q139 splitter discipline)
    users = (
        events.filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type").isNotNull())
        .distinct()
        # barrier: without it the sig branch's distinct-(type,hash)
        # collapses INTO this distinct and re-scans the fact on its
        # own; the repartition Exchange is the single shared
        # materialization of the (type,user) set for the sig build and
        # both exact self-join sides (1 fact scan, plan-audited)
        .repartition("event_type", "user_id")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv"), F.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    hashed = users.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    # signatures RE-PACKED AS SORTED ARRAYS (the dedup.verify_pairs
    # discipline): one T-row frame carries each type's whole signature,
    # so union/kth/match below are per-row ARRAY EXPRESSIONS on the
    # C(T,2) pair frame — r8's row-form derived them through separate
    # windows/distincts and re-exchanged the KB-sized frames 17 times.
    # The groupBy reuses the sig window's event_type partitioning (no
    # new Exchange); array lambdas are interpreted, but the frame is
    # C(T,2) rows of <= 2k values — never a hot path at any corpus
    # size (the fact contributes only the one distinct shuffle above).
    sig = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("sig"))
    )
    pairs = sig.select(
        F.col("event_type").alias("type_a"), F.col("sig").alias("sa")
    ).join(
        F.broadcast(
            sig.select(
                F.col("event_type").alias("type_b"), F.col("sig").alias("sb")
            )
        ),
        F.col("type_a") < F.col("type_b"),
    )
    # small-signature regime (Beyer et al. 2007): if the union has
    # fewer than k values the signature IS the full set and every
    # estimate below becomes exact — take the m-th value, m=min(k,n);
    # matches = signature values present in BOTH sides, <= the kth min
    kth = (
        pairs.select(
            "type_a",
            "type_b",
            F.array_sort(F.array_union("sa", "sb")).alias("uni"),
            F.array_intersect("sa", "sb").alias("common"),
        )
        .select(
            "type_a",
            "type_b",
            F.element_at(
                "uni", F.least(F.lit(_KMV_K), F.size("uni"))
            ).alias("kth_min"),
            F.size("uni").cast("int").alias("n_uni"),
            "common",
        )
        .select(
            "type_a",
            "type_b",
            "kth_min",
            "n_uni",
            F.size(F.filter("common", lambda x: x <= F.col("kth_min")))
            .cast("int")
            .alias("n_matches"),
        )
    )
    exact = (
        users.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            users.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    d_union = F.when(
        F.col("n_uni") < _KMV_K, F.col("n_uni").cast("double")
    ).otherwise(
        F.lit(float((_KMV_K - 1) * (1 << 60)))
        / F.col("kth_min").cast("double")
    )
    j_est = F.col("n_matches").cast("double") / F.least(
        F.lit(_KMV_K), F.col("n_uni")
    ).cast("double")
    return (
        kth.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "kth_min",
            "n_uni",
            "n_matches",
            "exact_overlap",
            (j_est * d_union).alias("overlap_est"),
        )
        .orderBy("type_a", "type_b")
    )


Q142_ORACLE = f"""
WITH users AS (
    SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
    SELECT DISTINCT event_type,
           ('0x' || substring(md5('kmv' || user_id::VARCHAR), 1, 15))::BIGINT
               AS h
    FROM users
),
sig AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashed
    QUALIFY rn <= {_KMV_K}
),
types AS (SELECT DISTINCT event_type FROM sig),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM types a JOIN types b ON a.event_type < b.event_type
),
uni AS (
    SELECT DISTINCT p.type_a, p.type_b, s.h
    FROM pairs p JOIN sig s
      ON s.event_type = p.type_a OR s.event_type = p.type_b
),
kth AS (
    SELECT type_a, type_b, h AS kth_min, n_uni
    FROM (
        SELECT type_a, type_b, h,
               row_number() OVER (PARTITION BY type_a, type_b ORDER BY h)
                   AS rn,
               COUNT(*) OVER (PARTITION BY type_a, type_b)::INT AS n_uni
        FROM uni
    ) WHERE rn = least({_KMV_K}, n_uni)
),
matches AS (
    SELECT p.type_a, p.type_b, COUNT(*)::INT AS n_matches
    FROM pairs p
    JOIN sig sa ON sa.event_type = p.type_a
    JOIN sig sb ON sb.event_type = p.type_b AND sb.h = sa.h
    JOIN kth k ON k.type_a = p.type_a AND k.type_b = p.type_b
               AND sa.h <= k.kth_min
    GROUP BY 1, 2
),
exact AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*)::BIGINT AS exact_overlap
    FROM users a JOIN users b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT k.type_a, k.type_b, k.kth_min, k.n_uni,
       COALESCE(m.n_matches, 0)::INT AS n_matches,
       x.exact_overlap,
       (COALESCE(m.n_matches, 0)::DOUBLE
        / least({_KMV_K}, k.n_uni)::DOUBLE)
       * (CASE WHEN k.n_uni < {_KMV_K} THEN k.n_uni::DOUBLE
               ELSE {float((_KMV_K - 1) * (1 << 60))!r} / k.kth_min::DOUBLE
          END) AS overlap_est
FROM kth k
LEFT JOIN matches m ON m.type_a = k.type_a AND m.type_b = k.type_b
JOIN exact x ON x.type_a = k.type_a AND x.type_b = k.type_b
ORDER BY k.type_a, k.type_b
"""


# --- q145: sketch-assisted percentile pre-filter ------------------------------


def q145_sketch_threshold_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail-of-distribution selection WITHOUT a per-group sort: the
    qhist sketch (q137) yields each month's approximate-p90 order
    value as a BUCKET LOWER BOUND (all-integer, hash-exact); the
    thresholds broadcast back and a single filter pass selects the
    tail, aggregated with the exact decimal money policy. This is the
    sketch-as-pushdown pattern: q53's exact selection needs a full
    per-month sort of the fact (rank window), this needs one
    (month, bucket)-grain agg + one broadcast-filtered scan — the
    threshold table is months x 1 rows, and because the estimate is a
    bucket LOWER bound the filter is guaranteed to RETAIN the true
    >= p90 tail (never drops a qualifying row; it admits at most one
    sub-bucket, <= 3.2 pct, of extras — the safe direction for a
    pre-filter, exactly like q136's zero-false-negative Bloom).

    Reference scope: the reference's tail reports re-sort the fact
    per question (reference: warehouse/analytics_queries.sql); this
    is the bounded-state substitute."""
    from ..operators import sketches

    orders = load_table(
        spark,
        "orders",
        sf_dir,
        columns=["o_orderkey", "o_totalprice", "o_orderdate"],
    )
    cents = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        (F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_totalprice",
    )
    hist = sketches.qhist_build(cents, "cents", ["order_month"])
    thresholds = sketches.qhist_quantiles(
        hist, ["order_month"], [90]
    ).select(
        "order_month", F.col("p90_est").alias("threshold_cents")
    )
    return (
        cents.join(F.broadcast(thresholds), "order_month")
        .filter(F.col("cents") >= F.col("threshold_cents"))
        .groupBy("order_month")
        .agg(
            F.max("threshold_cents").cast("long").alias("threshold_cents"),
            F.count(F.lit(1)).cast("long").alias("n_above"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_above"),
        )
        .orderBy("order_month")
    )


Q145_ORACLE = """
WITH cents_t AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           (o_totalprice * 100)::BIGINT AS cents,
           o_totalprice
    FROM orders
),
bucketed AS (
    SELECT order_month,
           (CASE WHEN cents < 64 THEN cents
                 ELSE (length(bin(cents)) - 6) * 32
                      + (cents >> (length(bin(cents)) - 6)) END)::BIGINT
               AS bucket
    FROM cents_t
),
hist AS (
    SELECT order_month, bucket, COUNT(*)::BIGINT AS n
    FROM bucketed GROUP BY 1, 2
),
cum AS (
    SELECT order_month, bucket,
           SUM(n) OVER (PARTITION BY order_month ORDER BY bucket) AS cum,
           SUM(n) OVER (PARTITION BY order_month) AS total
    FROM hist
),
picks AS (
    SELECT order_month,
           MIN(CASE WHEN cum >= ((total * 90 + 99) // 100)
                    THEN bucket END) AS b90
    FROM cum GROUP BY 1
),
thresholds AS (
    SELECT order_month,
           (CASE WHEN b90 < 64 THEN b90
                 ELSE (b90 - ((b90 // 32) - 1) * 32) << ((b90 // 32) - 1)
            END)::BIGINT AS threshold_cents
    FROM picks
)
SELECT c.order_month,
       MAX(t.threshold_cents)::BIGINT AS threshold_cents,
       COUNT(*)::BIGINT AS n_above,
       CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_above
FROM cents_t c JOIN thresholds t USING (order_month)
WHERE c.cents >= t.threshold_cents
GROUP BY 1
ORDER BY 1
"""


# --- q147: one-scan column-statistics profiler (ANALYZE TABLE twin) ----------

_Q147_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]



def column_stats_parts(df, cols: list[str]) -> DataFrame:
    """(col_name, hll_idx)-grain partial statistics for a batch of
    rows — q147's level-1 state, exposed so incremental maintenance is
    a pinned contract (TestColumnStatsMerge): partials from disjoint
    row slices MERGE exactly (register m_j by MAX; row/null/NDV-part
    counts by SUM over the re-grouped value grain; min/max by
    MIN/MAX), so at 100 TB re-profiling after an append is
    O(batch) + a panel-sized merge, never a full rescan. NDV partials
    are only additive at the (col, value) grain, so cross-batch NDV
    merging goes through the register estimate (values seen in two
    batches would double-count in exact_ndv — the estimate, not the
    exact count, is the mergeable statistic; same tradeoff as every
    sketch in the panel)."""
    from ..operators import sketches

    stack_args = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    stacked = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col_name, val)")
    )
    grouped = stacked.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("long").alias("n_val")
    )
    idx, rho = sketches.hll_register_cols("val")
    return (
        grouped.select(
            "col_name",
            "val",
            "n_val",
            F.coalesce(idx, F.lit(0)).alias("hll_idx"),
            rho,
        )
        .groupBy("col_name", "hll_idx")
        .agg(
            F.max("hll_rho").alias("m_j"),
            F.sum("n_val").cast("long").alias("n_rows_part"),
            F.sum(F.when(F.col("val").isNull(), F.col("n_val")).otherwise(0))
            .cast("long")
            .alias("n_nulls_part"),
            F.count(F.col("val")).cast("long").alias("ndv_part"),
            F.min("val").alias("min_part"),
            F.max("val").alias("max_part"),
        )
    )


def q147_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE statistics for every orders column from ONE scan,
    with the NDV sketch under the hash gate: the row is stacked to
    (column, value-as-string) pairs (one Generate, 6x fan-out), rolled
    to the (column, value) distinct grain, and ONE two-level agg chain
    (the q132 shape) produces per column: row/null counts, exact NDV,
    the portable-HLL register NDV estimate (md5/bit math — the
    statistic a CBO keeps when exact NDV is too expensive), and
    min/max. This is the stats collector that feeds q140-style join
    planning: at 100 TB you run THIS once per partition-batch and
    keep registers (mergeable by MAX) instead of re-profiling.

    Column values stringify deterministically in both engines for
    every type used here (BIGINT/VARCHAR/DATE/DECIMAL(18,2)/INT —
    decimal keeps its scale in both; no DOUBLE column is profiled,
    float-to-string is the one formatting the engines disagree on).

    Reference scope: the reference's quality checks count nulls one
    column at a time with separate queries (reference:
    airflow/dags/data_quality_check.py); this is the one-pass
    superset."""
    from ..operators import sketches

    orders = load_table(spark, "orders", sf_dir, columns=list(_Q147_COLS))
    level1 = column_stats_parts(orders, _Q147_COLS)
    # the register estimate folds into the SAME level-2 agg (count and
    # sum skip null m_j rows natively) — a separate hll_estimate branch
    # would filter m_j in one consumer only and re-run level1's whole
    # lineage (splitter class 1); one agg chain keeps it ONE scan
    totals = level1.groupBy("col_name").agg(
        F.sum("n_rows_part").cast("long").alias("n_rows"),
        F.sum("n_nulls_part").cast("long").alias("n_nulls"),
        F.sum("ndv_part").cast("long").alias("exact_ndv"),
        F.count("m_j").cast("int").alias("n_registers_hit"),
        F.sum(F.expr("shiftleft(1L, 53 - m_j)")).alias("s_present"),
        F.min("min_part").alias("min_val"),
        F.max("max_part").alias("max_val"),
    )
    sketch_sum = (
        F.col("s_present")
        + (F.lit(256) - F.col("n_registers_hit")).cast("long")
        * F.lit(1 << 53).cast("long")
    ).alias("sketch_sum")
    return (
        totals.select(
            "col_name",
            "n_rows",
            "n_nulls",
            "exact_ndv",
            "n_registers_hit",
            sketch_sum,
            "min_val",
            "max_val",
        )
        .select(
            "col_name",
            "n_rows",
            "n_nulls",
            "exact_ndv",
            "n_registers_hit",
            "sketch_sum",
            (
                F.lit(sketches.HLL_EST_NUMERATOR)
                / F.col("sketch_sum").cast("double")
            ).alias("hll_estimate"),
            "min_val",
            "max_val",
        )
        .orderBy("col_name")
    )


_Q147_STACK_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, {c}::VARCHAR AS val FROM orders"
    for c in _Q147_COLS
)

Q147_ORACLE = f"""
WITH stacked AS ({_Q147_STACK_SQL}),
grouped AS (
    SELECT col_name, val, COUNT(*)::BIGINT AS n_val
    FROM stacked GROUP BY 1, 2
),
hashed AS (
    SELECT col_name, val, n_val,
           CASE WHEN val IS NULL THEN NULL
                ELSE ('0x' || substring(md5('hll' || val), 1, 15))::BIGINT
           END AS h
    FROM grouped
),
rowsx AS (
    SELECT col_name, val, n_val,
           COALESCE((h & 255)::INT, 0) AS hll_idx,
           CASE WHEN h IS NULL THEN NULL
                WHEN (h >> 8) = 0 THEN 53
                ELSE 53 - length(bin(h >> 8)) END AS rho
    FROM hashed
),
level1 AS (
    SELECT col_name, hll_idx,
           MAX(rho)::INT AS m_j,
           SUM(n_val)::BIGINT AS n_rows_part,
           SUM(CASE WHEN val IS NULL THEN n_val ELSE 0 END)::BIGINT
               AS n_nulls_part,
           COUNT(val)::BIGINT AS ndv_part,
           MIN(val) AS min_part,
           MAX(val) AS max_part
    FROM rowsx GROUP BY 1, 2
),
totals AS (
    SELECT col_name,
           SUM(n_rows_part)::BIGINT AS n_rows,
           SUM(n_nulls_part)::BIGINT AS n_nulls,
           SUM(ndv_part)::BIGINT AS exact_ndv,
           COUNT(m_j)::INT AS n_registers_hit,
           (SUM(CASE WHEN m_j IS NOT NULL
                     THEN 1::BIGINT << (53 - m_j) END)
            + (256 - COUNT(m_j)) * 9007199254740992)::BIGINT AS sketch_sum,
           MIN(min_part) AS min_val,
           MAX(max_part) AS max_val
    FROM level1 GROUP BY 1
)
SELECT col_name, n_rows, n_nulls, exact_ndv,
       n_registers_hit, sketch_sum,
       {sketches_mod.HLL_EST_NUMERATOR!r} / sketch_sum::DOUBLE
           AS hll_estimate,
       min_val, max_val
FROM totals
ORDER BY col_name
"""


QUERIES = {
    "q53_order_value_quantiles": q53_order_value_quantiles,
    "q132_hll_register_sketch": q132_hll_register_sketch,
    "q136_bloom_prune": q136_bloom_prune,
    "q137_quantile_histogram": q137_quantile_histogram,
    "q138_countmin_heavy_users": q138_countmin_heavy_users,
    "q139_rolling_distinct_sketch": q139_rolling_distinct_sketch,
    "q140_join_size_sketch": q140_join_size_sketch,
    "q142_kmv_audience_overlap": q142_kmv_audience_overlap,
    "q145_sketch_threshold_filter": q145_sketch_threshold_filter,
    "q147_column_stats": q147_column_stats,
    "q57_status_pivot": q57_status_pivot,
    "q58_status_unpivot": q58_status_unpivot,
    "q60_grouping_sets": q60_grouping_sets,
    "q61_distribution_windows": q61_distribution_windows,
    "q80_sliding_window_activity": q80_sliding_window_activity,
    "q86_key_skew_report": q86_key_skew_report,
    "q89_value_histogram": q89_value_histogram,
}
ORACLES = {
    "q53_order_value_quantiles": Q53_ORACLE,
    "q57_status_pivot": Q57_ORACLE,
    "q58_status_unpivot": Q58_ORACLE,
    "q60_grouping_sets": Q60_ORACLE,
    "q61_distribution_windows": Q61_ORACLE,
    "q80_sliding_window_activity": Q80_ORACLE,
    "q86_key_skew_report": Q86_ORACLE,
    "q89_value_histogram": Q89_ORACLE,
    "q132_hll_register_sketch": Q132_ORACLE,
    "q136_bloom_prune": Q136_ORACLE,
    "q137_quantile_histogram": Q137_ORACLE,
    "q138_countmin_heavy_users": Q138_ORACLE,
    "q139_rolling_distinct_sketch": Q139_ORACLE,
    "q140_join_size_sketch": Q140_ORACLE,
    "q142_kmv_audience_overlap": Q142_ORACLE,
    "q145_sketch_threshold_filter": Q145_ORACLE,
    "q147_column_stats": Q147_ORACLE,
}


# --- q154: calendar gap-fill + forward-fill resample --------------------------

_Q154_COHORT = 40  # user_id < 40: bounded spine for the oracle check


def q154_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample: a complete calendar spine from each
    user's first to last active day (gap days materialized), daily
    totals forward-filled across the gaps — the standard time-series
    regularization every downstream window/trend op assumes, done with
    a per-user ``sequence`` explode + one IGNORE-NULLS window (never a
    range self-join).

    Money policy: day totals are exact DECIMAL sums cast to DOUBLE at
    the boundary (functions/numeric.dsum); the forward fill carries
    the already-deterministic double. Day bucketing is the epoch-millis
    quotient (vanilla-session safe, q139's rule).

    Scale shape: one (user, day) aggregate shuffle + one per-user
    window; spine size = Σ active spans ≈ users × horizon — row counts
    grow linearly, and the explode is per-user-bounded. At 100 TB the
    cohort filter is whatever partition of users is being regularized.
    """
    events = load_table(spark, "events", sf_dir)
    from ..functions.numeric import dsum
    from ..operators.sketches import _utc_day

    # ONE events scan: `daily` feeds the spine aggregate AND the
    # calendar join, so it sits behind a user_id repartition Exchange
    # that BOTH consumers (plus the fill window) can reuse —
    # hashpartitioning(user_id) satisfies every downstream clustering
    # by the subset rule. The entry null-filters pre-empt the join's
    # inferred isnotnull(user_id/day), which would otherwise push below
    # one branch's copy of the Exchange only and split the reuse
    # (q149's splitter classes 1+2).
    daily = (
        events.filter(F.col("user_id") < _Q154_COHORT)
        .filter(F.col("user_id").isNotNull())
        .filter(_utc_day("ts").isNotNull())
        .groupBy("user_id", _utc_day("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value").alias("day_total"),
        )
        .repartition("user_id")
    )
    # the spine branch must READ the measure columns or column pruning
    # drops them from its copy of the shared Exchange (splitter class
    # 3, q139): carry them as agg outputs and reference both in a
    # tautological filter (counts are >= 1; day_total is a decimal-sum
    # double, never NaN, and >= -DBL_MAX holds for any non-null value
    # while coalesce absorbs the all-null-value group)
    spine = (
        daily.groupBy("user_id")
        .agg(
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
            F.min("n_events").alias("_ne"),
            F.min("day_total").alias("_dt"),
        )
        .filter(
            (F.col("_ne") >= 0)
            & (F.coalesce(F.col("_dt"), F.lit(0.0)) >= F.lit(-1.7e308))
        )
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_date(F.col("day")))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined.select(
            "user_id",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias(
                "n_events"
            ),
            F.col("day_total").isNull().alias("is_gap"),
            F.last("day_total", ignorenulls=True).over(w).alias(
                "filled_total"
            ),
        )
        .orderBy("user_id", "day")
    )


Q154_ORACLE = f"""
WITH daily AS (
    SELECT user_id,
           DATE '1970-01-01' + (epoch_ms(ts) // 86400000)::INT AS day,
           COUNT(*)::BIGINT AS n_events,
           SUM(value::DECIMAL(18,2))::DOUBLE AS day_total
    FROM events
    WHERE user_id < {_Q154_COHORT}
    GROUP BY 1, 2
),
spine AS (
    SELECT user_id,
           unnest(generate_series(MIN(day), MAX(day),
                                  INTERVAL 1 DAY))::DATE AS day
    FROM daily GROUP BY user_id
)
SELECT s.user_id, s.day,
       COALESCE(d.n_events, 0)::BIGINT AS n_events,
       (d.day_total IS NULL) AS is_gap,
       last_value(d.day_total IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_total
FROM spine s LEFT JOIN daily d USING (user_id, day)
ORDER BY user_id, day
"""

QUERIES["q154_gap_fill_forward"] = q154_gap_fill_forward
ORACLES["q154_gap_fill_forward"] = Q154_ORACLE


def q155_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q154's spine with LINEAR INTERPOLATION across the gaps instead
    of forward fill — the regularization trend/forecast ops want. Edge
    gaps cannot occur (the spine spans first..last ACTIVE day, so both
    a preceding and a following known value always exist). The
    interpolation is deterministic double math built with the IDENTICAL
    expression tree in both engines (prev + (next − prev) · Δ, integer
    day counts cast to double), so it sits under the hash gate without
    any rounding — the never-ROUND-deterministic-doubles policy.

    Same ONE-scan shared-Exchange shape as q154; the two extra
    IGNORE-NULLS windows reuse the same user_id partitioning."""
    events = load_table(spark, "events", sf_dir)
    from ..functions.numeric import dsum
    from ..operators.sketches import _utc_day

    daily = (
        events.filter(F.col("user_id") < _Q154_COHORT)
        .filter(F.col("user_id").isNotNull())
        .filter(_utc_day("ts").isNotNull())
        .groupBy("user_id", _utc_day("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value").alias("day_total"),
        )
        .repartition("user_id")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
            F.min("n_events").alias("_ne"),
            F.min("day_total").alias("_dt"),
        )
        .filter(
            (F.col("_ne") >= 0)
            & (F.coalesce(F.col("_dt"), F.lit(0.0)) >= F.lit(-1.7e308))
        )
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_date(F.col("day")))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_date(F.col("day")))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("day_total").isNotNull(), F.col("day"))
    prev_v = F.last("day_total", ignorenulls=True).over(wb)
    prev_d = F.last(known_day, ignorenulls=True).over(wb)
    next_v = F.first("day_total", ignorenulls=True).over(wf)
    next_d = F.first(known_day, ignorenulls=True).over(wf)
    frac = (
        (F.unix_date(F.col("day")) - F.unix_date(prev_d)).cast("double")
        / (F.unix_date(next_d) - F.unix_date(prev_d)).cast("double")
    )
    interp = F.when(F.col("day_total").isNotNull(), F.col("day_total")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    return (
        joined.select(
            "user_id",
            "day",
            # n_events in the output keeps the join branch reading the
            # SAME daily columns as the spine branch (q154's pruning
            # discipline — dropping it splits the shared Exchange)
            F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias(
                "n_events"
            ),
            F.col("day_total").isNull().alias("is_gap"),
            interp.alias("interp_total"),
        )
        .orderBy("user_id", "day")
    )


Q155_ORACLE = f"""
WITH daily AS (
    SELECT user_id,
           DATE '1970-01-01' + (epoch_ms(ts) // 86400000)::INT AS day,
           COUNT(*)::BIGINT AS n_events,
           SUM(value::DECIMAL(18,2))::DOUBLE AS day_total
    FROM events
    WHERE user_id < {_Q154_COHORT}
    GROUP BY 1, 2
),
spine AS (
    SELECT user_id,
           unnest(generate_series(MIN(day), MAX(day),
                                  INTERVAL 1 DAY))::DATE AS day
    FROM daily GROUP BY user_id
),
filled AS (
    SELECT s.user_id, s.day, d.n_events, d.day_total,
           last_value(d.day_total IGNORE NULLS) OVER wb AS prev_v,
           last_value(CASE WHEN d.day_total IS NOT NULL THEN s.day END
                      IGNORE NULLS) OVER wb AS prev_d,
           first_value(d.day_total IGNORE NULLS) OVER wf AS next_v,
           first_value(CASE WHEN d.day_total IS NOT NULL THEN s.day END
                       IGNORE NULLS) OVER wf AS next_d
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    WINDOW
      wb AS (PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      wf AS (PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       COALESCE(n_events, 0)::BIGINT AS n_events,
       (day_total IS NULL) AS is_gap,
       CASE WHEN day_total IS NOT NULL THEN day_total
            ELSE prev_v + (next_v - prev_v)
                 * ((day - prev_d)::DOUBLE / (next_d - prev_d)::DOUBLE)
       END AS interp_total
FROM filled
ORDER BY user_id, day
"""

QUERIES["q155_gap_fill_interpolate"] = q155_gap_fill_interpolate
ORACLES["q155_gap_fill_interpolate"] = Q155_ORACLE


# --- q156: robust anomaly stats (exact median / MAD) --------------------------


def q156_robust_anomaly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier profile per event type — the ROBUST twin of
    the reference's mean/stddev anomaly query (reference:
    warehouse/analytics_queries.sql daily-anomaly CTE; mean/stddev are
    the q05 port): median and MAD shrug off the heavy tail that drags
    a mean-based threshold. Medians are EXACT rank selections (lower
    median at rank (n+1) div 2, the q53 never-interpolate policy) over
    DECIMAL(18,2)-cast values with a unique event_id tiebreak, so every
    number is bit-stable cross-engine; the outlier rule
    |v − med| > 3·MAD is pure decimal arithmetic.

    Shape: two type-partitioned rank windows (value, then absolute
    deviation) + two broadcast join-backs of the type-grain med/MAD
    frames; one events scan per window pass — at 100 TB this is the
    two-pass shape exact medians force (the one-pass substitute is the
    q137 sketch quantile)."""
    from ..functions.numeric import dec

    events = load_table(
        spark, "events", sf_dir, columns=["event_id", "event_type", "value"]
    )
    base = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select("event_id", "event_type", dec("value").alias("v"))

    # lower median rank: (n + 1) div 2, all-integer
    def _median_of(df, col, out):
        w = Window.partitionBy("event_type").orderBy(
            F.col(col).asc(), F.col("event_id").asc()
        )
        wall = Window.partitionBy("event_type")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wall))
            .filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
            .select("event_type", F.col(col).alias(out))
        )

    med = _median_of(base, "v", "med")
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "v",
        "med",
        F.abs(F.col("v") - F.col("med")).alias("adev"),
    )
    mad = _median_of(dev, "adev", "mad")
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("med").cast("double").alias("median_value"),
            F.first("mad").cast("double").alias("mad"),
            F.sum(
                (
                    F.abs(F.col("v") - F.col("med"))
                    > F.lit(3) * F.col("mad")
                ).cast("long")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


Q156_ORACLE = """
WITH base AS (
    SELECT event_id, event_type, value::DECIMAL(18,2) AS v
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
),
med AS (
    SELECT event_type, v AS med FROM (
        SELECT event_type, v, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY v ASC, event_id ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ) WHERE rn = (n + 1) // 2
),
dev AS (
    SELECT b.event_id, b.event_type, b.v, m.med, abs(b.v - m.med) AS adev
    FROM base b JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, adev AS mad FROM (
        SELECT event_type, adev, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY adev ASC, event_id ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ) WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       COUNT(*)::BIGINT AS n,
       (ANY_VALUE(d.med))::DOUBLE AS median_value,
       (ANY_VALUE(x.mad))::DOUBLE AS mad,
       SUM((abs(d.v - d.med) > 3 * x.mad)::BIGINT)::BIGINT AS n_outliers
FROM dev d JOIN mad x USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""

QUERIES["q156_robust_anomaly_stats"] = q156_robust_anomaly_stats
ORACLES["q156_robust_anomaly_stats"] = Q156_ORACLE
