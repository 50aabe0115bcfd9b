"""Document deduplication operators (exact → MinHash-LSH → SimHash).

100 TB posture:
- exact dedup: one shuffle on the content fingerprint (hash-groupBy) —
  linear, the scale workhorse;
- exact n-gram Jaccard: quadratic in docs sharing a shingle — correct
  but only for verification/small corpora; the scale path is MinHash-LSH
  (linear in (doc, shingle) pairs + bucket-local joins) whose bucket
  join only pairs docs agreeing on a full band signature;
- SimHash: linear signature computation; candidate pairing via
  pigeonhole chunk blocking (simhash_pairs_blocked) — exact recall at
  the configured Hamming radius, no cross join.

Oracle portability: MinHash uses xxhash64 (Spark-native) but verifies
candidates with the exact Jaccard, so its OUTPUT matches the exact SQL
oracle; SimHash has a portable md5-bit variant
(simhash_signatures_md5) whose signatures DuckDB reproduces
digit-for-digit, so q25 is fully hash-checked.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles

JACCARD_THRESHOLD = 0.8

# Affine MinHash permutation family over a 30-bit prime field:
# pi_j(h) = (a_j * h30 + b_j) mod P30 with h30 = pmod(xxhash64(shingle), P30).
# One real hash per (doc, shingle) row; the 64 per-signature values are
# 3-op affine mixes (vs 64 independent xxhash64 evaluations — ~64x less
# hashing in the hot loop). 30-bit operands keep a*h + b < 2^60, safe
# under ANSI overflow checking. Truncation to 30 bits only perturbs
# candidate generation; the exact-Jaccard verify fixes the output.
_P30 = 1073741789  # largest prime < 2^30
_rng = random.Random(0x5EED)
_MINHASH_COEFFS = [
    (_rng.randrange(1, _P30), _rng.randrange(0, _P30)) for _ in range(64)
]


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Content-hash dedup groups: fingerprint, dup_count, canonical id
    (min doc_id). Single shuffle on md5(normalized text)."""
    return (
        docs.select(
            "doc_id", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def shingle_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct word n-gram shingles.

    Repartitions first: document corpora often arrive as few large (or
    one small) parquet row groups, and shingling is CPU-heavy per row —
    without the spread a 32-core machine runs one task."""
    para = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(para, "doc_id").select(
        "doc_id", F.explode(word_shingles("text", n)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b).

    Self-join on shingle → per-pair intersection counts → Jaccard from
    set sizes. Quadratic in per-shingle doc frequency: at scale, feed
    this only LSH candidate pairs (see minhash_lsh_pairs)."""
    sh = shingle_table(docs, n).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "intersection",
            (F.col("n_a") + F.col("n_b") - F.col("intersection")).alias(
                "union_size"
            ),
            (
                F.col("intersection").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("intersection")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs(
    docs: DataFrame, threshold: float = 0.9, n: int = 3
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT near-dup pairs: emit
    (doc_inner, doc_outer) whenever |sh(inner) ∩ sh(outer)| /
    |sh(inner)| >= threshold (Broder 1997's containment measure, the
    one resemblance/Jaccard is NOT). Catches subset duplication the
    symmetric measures dilute — a 20-token snippet of a 200-token page
    has Jaccard ~0.1 but containment 1.0; quoted articles, boilerplate-
    wrapped copies, and lead-paragraph syndication all live here.

    Both orientations are decided from ONE undirected intersection row
    (doc_a < doc_b computed once, then re-read as inner=a/outer=b and
    inner=b/outer=a) — no doubled shingle join. Output:
    (doc_inner, doc_outer, intersection, n_inner, n_outer,
    containment), unique on the ordered pair — ``n_outer`` rides along
    so orientation-aware keep rules (containment_keep_longest, the
    day-2 arm) can compare sizes without a second sizes join.

    Scale shape: the same inverted-index join as jaccard_pairs —
    quadratic in per-shingle doc frequency, so at corpus scale feed it
    candidates (for containment the standard index is ONE-SIDED: band
    only the inner side's signature, or prefix-filter postings by
    df — symmetric MinHash bands under-recall low-Jaccard containment
    pairs by design)."""
    sh = shingle_table(docs, n).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    both = inter.join(sa, "doc_a").join(sb, "doc_b")
    fwd = both.select(
        F.col("doc_a").alias("doc_inner"),
        F.col("doc_b").alias("doc_outer"),
        "intersection",
        F.col("n_a").alias("n_inner"),
        F.col("n_b").alias("n_outer"),
    )
    rev = both.select(
        F.col("doc_b").alias("doc_inner"),
        F.col("doc_a").alias("doc_outer"),
        "intersection",
        F.col("n_b").alias("n_inner"),
        F.col("n_a").alias("n_outer"),
    )
    return (
        fwd.unionByName(rev)
        .withColumn(
            "containment",
            F.col("intersection").cast("double")
            / F.col("n_inner").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("doc_inner", "doc_outer")
    )


def containment_keep_longest(
    docs: DataFrame, threshold: float = 0.9, n: int = 3
) -> DataFrame:
    """Per-document keep verdicts under the CONTAINMENT measure: a doc
    is dropped when it is the INNER side of any containment pair —
    i.e. it is (near-)contained in a longer document — keeping the
    superset and shedding snippets/quotes/boilerplate-wrapped copies
    (the asymmetric twin of dedup_keep_longest's Jaccard-cluster rule,
    q97). Exact mutual containment (identical shingle sets) is broken
    by id: the SMALLER doc_id survives (the corpus age discipline —
    earlier == smaller).

    Per-PAIR rule, not transitive closure: if B ⊂ A and C ⊂ B, C is
    dropped by its own pair with B (and usually with A) even though B
    is also dropped — every dropped doc names at least one strictly
    larger (or same-size, smaller-id) container that justifies it,
    which is the property audits need.

    Output: (doc_id, n_shingles, kept, container) — ``container`` is
    the smallest-id justifying outer doc (NULL when kept). Docs too
    short to shingle have n_shingles = 0 and are trivially kept."""
    pairs = containment_pairs(docs, threshold, n)
    sizes = shingle_table(docs, n).groupBy("doc_id").agg(
        F.count("*").alias("n_shingles")
    )
    return _keep_longest_verdicts(pairs, sizes, docs.select("doc_id"))


def keep_longest_drops(pairs: DataFrame) -> DataFrame:
    """(doc_id, container) drop rows under the keep-longest rule from
    an oriented containment-pair frame (doc_inner, doc_outer, n_inner,
    n_outer): the INNER side drops when strictly smaller, ties broken
    by id (larger id drops); ``container`` is the smallest justifying
    outer. Shared by the one-shot verdicts, the indexed twin, and the
    day-2 arm — the rule cannot diverge between them."""
    return (
        pairs.filter(
            (F.col("n_inner") < F.col("n_outer"))
            | (
                (F.col("n_inner") == F.col("n_outer"))
                & (F.col("doc_inner") > F.col("doc_outer"))
            )
        )
        .groupBy(F.col("doc_inner").alias("doc_id"))
        .agg(F.min("doc_outer").alias("container"))
    )


def _keep_longest_verdicts(
    pairs: DataFrame, sizes: DataFrame, doc_ids: DataFrame
) -> DataFrame:
    """Per-document (doc_id, n_shingles, kept, container) verdicts from
    oriented pairs carrying n_inner/n_outer — see
    containment_keep_longest for the rule."""
    return (
        doc_ids.join(sizes, "doc_id", "left")
        .join(keep_longest_drops(pairs), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias(
                "n_shingles"
            ),
            F.col("container").isNull().alias("kept"),
            "container",
        )
        .orderBy("doc_id")
    )


def containment_keep_longest_indexed(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    k: int = 8,
    min_hits: int = 1,
    max_df: int | None = 1000,
) -> DataFrame:
    """Scale path of :func:`containment_keep_longest`: the same
    per-document verdicts decided from containment_pairs_indexed's
    bottom-k/df-capped pairs instead of the quadratic inverted-index
    self-join — the q129/q130 twin pattern (indexed == exact at the
    VERDICT level, driver-hash-pinned against q163's own oracle).

    df-cap effect on the verdicts: the cap changes which pairs are
    FOUND, never their values. True subsets (the regime this rule
    exists for) have deterministic recall 1 — every eligible sketch
    hash of the inner doc IS in the outer — and a near-containment
    pair misses with hypergeometric probability <= C((1-c_e)s, k)/
    C(s, k) (containment_pairs_indexed's bound table: 0 at c >= 0.925,
    s = 80, k = 8). A missed pair could only ever flip a verdict
    toward KEEP, so the indexed verdicts over-keep with that same
    bounded probability and never over-drop. Sizes (n_shingles) come
    from the UNCAPPED hashed shingle table — identical to the exact
    operator's string-shingle counts absent xxhash64 collisions.

    The corpus shingle table is shared across candidates, verify, and
    the sizes agg via _shingles_shared's repartition Exchange (one
    materialization, three consumers). The sketch is drawn from the
    df-filtered shingle set (containment_pairs_indexed's default)."""
    sh = _shingles_shared(docs, n)
    cand = _containment_candidates(sh, k, min_hits, max_df).localCheckpoint()
    pairs = verify_containment_pairs(cand, sh, threshold)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return _keep_longest_verdicts(pairs, sizes, docs.select("doc_id"))


def _shingles_shared(docs: DataFrame, n: int) -> DataFrame:
    """Corpus-wide hashed shingle table shaped for MULTI-CONSUMER use
    on XL paths — shared via hashed_shingles' pre-explode repartition
    Exchange, NOT localCheckpoint.

    localCheckpoint pins the corpus-sized (doc_id, shingle) table
    (~10^8 rows at 1M docs) in the local-mode heap — the exact pattern
    that OOM'd q95's XL run. Here the shared materialization is the
    token-hash Exchange inside hashed_shingles (one row per DOC, the
    token-hash array, on disk-spilling shuffle storage): every consumer
    re-reads it via ReuseExchange and re-runs only the codegen'd
    per-shingle xxhash64 explode above it — a CPU-cheap recompute
    traded for zero corpus-sized heap pinning. (An explicit repartition
    above the explode would be eliminated as redundant: Generate
    preserves the child's hashpartitioning(doc_id).)

    The explicit not-null filters keep every consumer's subplan
    canonically identical: downstream joins push `isnotnull(join key)`
    filters, and a filter pushed below the shared Exchange in one
    branch only would silently split the reuse (CLAUDE.md splitter #2);
    with the filter stated once before branching, each branch's pushed
    copy is pruned as redundant."""
    return hashed_shingles(docs, n).filter(
        F.col("doc_id").isNotNull() & F.col("shingle").isNotNull()
    )


def _containment_candidates(
    sh: DataFrame,
    k: int,
    min_hits: int,
    max_df: int | None,
    sketch_df_filter: bool = True,
) -> DataFrame:
    """(doc_inner, doc_outer) containment candidates from a shared
    shingle table: bottom-k sketch of the inner side joined against
    df-capped posting lists. See containment_pairs_indexed for the
    recall/cost argument and for what ``sketch_df_filter`` selects.

    The df cap is applied as a STOP-SHINGLE broadcast anti-join (the
    incremental index's discipline, containment_index.py), not a
    count-over-shingle window: the window needed a corpus-sized
    Exchange on shingle plus a WindowExec sort, re-run once per
    consumer branch, and left ``eligible`` hash-partitioned on shingle
    so the bottom-k branch paid a SECOND corpus-sized Exchange back to
    doc_id. The stop set (shingles with df > max_df — boilerplate by
    construction) is tiny, computed once (localCheckpoint, the
    one-probe rule), and the anti-join is map-side in every consumer,
    so ``eligible`` keeps hashed_shingles' doc_id partitioning: the
    bottom-k window runs Exchange-free and only the postings join
    shuffles on shingle. r13: q164 5 Exchanges -> 4, 2 window sorts
    over the corpus -> 1."""
    if max_df is not None:
        stops = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
            .localCheckpoint()
        )
        # |stops| <= total_shingles / max_df by construction — tiny at
        # the shipped operating points (max_df=1000). But max_df is
        # caller-supplied (tests use 4), where the bound is a large
        # corpus fraction: an unconditional F.broadcast would bypass
        # the planner's size check and can OOM the driver (r14,
        # ADVICE). stops is already materialized (localCheckpoint), so
        # counting it is free — force the map-side broadcast only when
        # it provably fits, else let AQE pick the join.
        anti = (
            F.broadcast(stops) if stops.count() <= 1_000_000 else stops
        )
        eligible = sh.join(anti, "shingle", "left_anti")
    else:
        eligible = sh
    w = Window.partitionBy("doc_id").orderBy("shingle")
    bk = (
        (eligible if sketch_df_filter else sh)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    return (
        bk.select(F.col("doc_id").alias("doc_inner"), "shingle")
        .join(
            eligible.select(F.col("doc_id").alias("doc_outer"), "shingle"),
            "shingle",
        )
        .filter(F.col("doc_inner") != F.col("doc_outer"))
        .groupBy("doc_inner", "doc_outer")
        .agg(F.count("*").alias("_hits"))
        .filter(F.col("_hits") >= min_hits)
        .select("doc_inner", "doc_outer")
    )


def containment_candidate_count(
    docs: DataFrame,
    n: int = 3,
    k: int = 8,
    min_hits: int = 1,
    max_df: int | None = 1000,
) -> int:
    """Candidate-pair count of the indexed containment path — the cost
    probe (srp_candidate_count's role for SRP bands): measures how the
    df cap bounds the candidate join without running the verify."""
    return _containment_candidates(
        _shingles_shared(docs, n), k, min_hits, max_df
    ).count()


def containment_pairs_indexed(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    k: int = 8,
    min_hits: int = 1,
    max_df: int | None = 1000,
    sketch_df_filter: bool = True,
) -> DataFrame:
    """Scale path of :func:`containment_pairs`: ONE-SIDED bottom-k
    candidate generation instead of the full inverted-index self-join.
    Symmetric MinHash bands under-recall containment by design (a
    snippet inside a long page has low Jaccard however high its
    containment), so the index sketches only the INNER side: each
    doc's k smallest shingle hashes (a bottom-k sketch — deterministic,
    mergeable) are joined against the corpus shingle table; a pair
    becomes a candidate when >= ``min_hits`` of the inner doc's sketch
    hashes appear in the outer doc.

    ``max_df`` ENFORCES the bounded-df cost argument: shingles whose
    document frequency exceeds it ("of the and" on a real web corpus,
    df ≈ N) are dropped from BOTH the posting lists and the sketch
    universe — the bottom-k is drawn from the df-filtered shingle set,
    so the binomial recall bound survives the cap intact over the
    eligible shingles. The candidate join is then <= k rows per inner
    doc against posting lists of length <= max_df: O(k * N * max_df)
    worst case, linear in N by construction instead of by hope.

    Recall: a true pair at containment c has each sketch hash present
    in the outer doc independently w.p. >= c_e, where c_e is the
    containment restricted to ELIGIBLE (df <= max_df) shingles, so the
    miss probability is binomial P(hits < min_hits) <= (1-c_e)^k at
    min_hits=1 — 1e-8 at c_e=0.9, k=8; EXACTLY 0 for true subsets
    (every inner shingle, eligible ones included, is in the outer
    doc — c_e = 1 regardless of the cap). The binomial form is itself
    loose: the sketch samples WITHOUT replacement, so the exact miss
    probability is hypergeometric — all k sketch hashes drawn from the
    (1-c)*s absent shingles, C((1-c)s, k) / C(s, k). Bound table at
    s=80 inner shingles (measured: zero misses over 30 planted pairs
    at each k, tests/test_containment.py
    test_recall_calibration_below_c1; per-pair sketch-hit counts are
    hash-gated against the DuckDB twin in q160):

        c (absent)   k=4                  k=8           k=16
        0.925  (6)   9.5e-6 (binom 3e-5)  0 (1.0e-9)    0 (1.0e-18)
        0.9625 (3)   0      (2.0e-6)      0 (3.9e-12)   0 (1.5e-23)
        1.0    (0)   0                    0             0

    (hypergeometric is EXACTLY zero whenever k exceeds the absent
    count — the sketch cannot be drawn entirely from fewer absent
    shingles than its own size) A capped shingle weakens the
    bound only by its own selectivity: high-df shingles are precisely
    the ones shared by unrelated docs, so excluding them from the
    sketch trades the least-informative hashes for the enforced cost
    bound. Degenerate caveat: a doc ALL of whose shingles are capped
    (pure boilerplate) generates no candidates as inner — at
    max_df=1000 on a 1M corpus that doc is a 100%-stop-shingle page,
    which exact containment would pair with everything sharing the
    boilerplate (noise, not signal). Pass max_df=None for the uncapped
    exact-recall behavior (test-scale corpora).

    ``sketch_df_filter`` selects which side the cap touches. True (the
    standalone default): the sketch is drawn from the df-filtered
    shingle set — the strongest recall bound, because no sketch slot is
    wasted on a shingle whose postings were dropped. False (the
    INCREMENTAL-STABLE semantics operators/containment_index.py
    persists): the sketch is the bottom-k of ALL the doc's shingles —
    df-independent, so a persisted sketch never changes as the corpus
    grows — and the cap filters only the posting lists; sketch hashes
    that are capped shingles simply never match (effective sketch size
    k minus the doc's capped bottom-k hashes). Candidates differ
    between the two modes only through that sketch choice; the verify
    and the cost bound are identical.

    Verification is exact, on the UNCAPPED shingle sets, and
    candidate-proportional: the shingle table is semi-join-pruned to
    candidate docs, re-packed one sorted array per doc, and
    containment computed via array_intersect (the verify_pairs
    discipline) — output identical to containment_pairs restricted to
    the candidate set; the cap affects which pairs are FOUND, never
    the containment values reported.

    The corpus-sized shingle table is shared across its consumers
    (df-cap window, sketch, postings, verify) via a repartition
    Exchange, not localCheckpoint — see _shingles_shared (the q95 XL
    OOM rule). Hashed (xxhash64) shingles throughout — containment
    over hashes equals containment over strings absent 64-bit
    collisions, the hashed_shingles argument."""
    sh = _shingles_shared(docs, n)
    cand = _containment_candidates(
        sh, k, min_hits, max_df, sketch_df_filter
    ).localCheckpoint()
    return verify_containment_pairs(cand, sh, threshold)


def verify_containment_pairs(
    candidates: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact-containment verification of (doc_inner, doc_outer)
    candidate pairs against a hashed shingle table — the verify_pairs
    discipline for the asymmetric measure: semi-join-prune the shingle
    table to candidate docs, re-pack one sorted array per doc, compute
    |inner ∩ outer| / |inner| via array_intersect. Output identical to
    containment_pairs restricted to the candidate set; SHARED by the
    one-shot containment_pairs_indexed and the persisted-index daily
    path (operators/containment_index.py), so the two verifies cannot
    diverge."""
    touched = (
        candidates.select(F.col("doc_inner").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_outer").alias("doc_id")))
        .distinct()
    )
    packed = (
        sh.join(F.broadcast(touched), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("shingle")).alias("shs"))
    )
    inner = packed.select(
        F.col("doc_id").alias("doc_inner"), F.col("shs").alias("in_shs")
    )
    outer = packed.select(
        F.col("doc_id").alias("doc_outer"), F.col("shs").alias("out_shs")
    )
    inter = F.size(F.array_intersect("in_shs", "out_shs")).cast("long")
    n_inner = F.size("in_shs").cast("long")
    n_outer = F.size("out_shs").cast("long")
    return (
        candidates.join(inner, "doc_inner")
        .join(outer, "doc_outer")
        .select(
            "doc_inner",
            "doc_outer",
            inter.alias("intersection"),
            n_inner.alias("n_inner"),
            n_outer.alias("n_outer"),
            (inter.cast("double") / n_inner.cast("double")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("doc_inner", "doc_outer")
    )


def _minhash_aggs(num_hashes: int) -> list:
    """num_hashes MIN aggregations over the affine permutations of the
    pre-reduced 30-bit shingle hash column ``h30``."""
    return [
        F.min((F.col("h30") * F.lit(a) + F.lit(b)) % F.lit(_P30)).alias(
            f"mh_{j}"
        )
        for j, (a, b) in enumerate(_MINHASH_COEFFS[:num_hashes])
    ]


def hashed_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) with shingles carried as xxhash64 LONGS: ~4x
    smaller state/shuffles than strings; Jaccard over hashes equals
    Jaccard over strings absent 64-bit collisions (P ≈ n²/2^65).

    Never builds shingle STRINGS: tokens are hashed once per document
    (map-side, before the spread repartition — the Exchange is an
    optimizer barrier, so CollapseProject cannot inline the token-hash
    array into per-shingle element_at and re-evaluate it O(len²)
    times), and each shingle is xxhash64 over its n token hashes —
    ~2x faster than concat-then-hash at 100K docs. The hash BASIS
    differs from md5/concat variants, so signatures/band values are
    not comparable across the two (rebuild persisted LSH indexes when
    upgrading); Jaccard outputs are identical (set cardinalities are
    preserved under the injective-w.h.p. mapping)."""
    t = tokens("text")
    pre = docs.select(
        "doc_id",
        F.transform(t, lambda x: F.xxhash64(x)).alias("_th"),
    )
    para = docs.sparkSession.sparkContext.defaultParallelism
    base = pre.repartition(para, "doc_id")
    sz = F.size("_th")
    hs = F.when(
        sz >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), sz - (n - 1)),
                lambda i: F.xxhash64(
                    *[F.element_at("_th", i + F.lit(k)) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select("doc_id", F.explode(hs).alias("shingle"))


def band_table(
    sh: DataFrame,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """(doc_id, band_idx, bh) banded MinHash signatures from a hashed
    shingle table — the LSH index rows (persist these for incremental
    dedup, see dedup_index.py). Signatures are one JVM MIN-agg per
    permutation and band hashes are xxhash64, so band values are
    comparable across persisted indexes. The retired numpy signature
    twin reads with
    ``git show 44b50ce:etl_data_warehouse_spark/operators/dedup.py``."""
    rows_per_band = num_hashes // bands
    sig = (
        sh.withColumn("h30", F.pmod(F.col("shingle"), F.lit(_P30)))
        .groupBy("doc_id")
        .agg(*_minhash_aggs(num_hashes))
    )
    band_cols = [
        F.xxhash64(
            F.lit(b), *[f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), band_cols[b].alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.bh")


def verify_pairs(
    candidates: DataFrame,
    sh: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    sort: bool = True,
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidate pairs
    against a hashed shingle table: output identical to jaccard_pairs
    restricted to the candidate set.

    The candidate set is dup-proportional — tiny next to the corpus —
    so instead of joining candidates against the exploded shingle
    table (an O(all shingles) shuffle), the shingle table is
    semi-joined down to candidate docs, re-packed into one array per
    doc, and pair intersections are computed with ``array_intersect``
    on the joined pair rows (per-doc shingle sets are document-sized,
    so the array op is trivial; measured 3.1s → ~0.5s at 100K docs /
    3.8M shingles). No explicit broadcast hints: AQE broadcasts the
    candidate side while it is small and degrades to shuffle joins
    gracefully when it isn't. ``sort=False`` skips the closing
    presentation orderBy (the semantic_dedup convention) for callers
    that consume the pairs through joins."""
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Shingles are distinct per doc (hashed_shingles array_distinct),
    # so collect_list rebuilds the exact set.
    arrs = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("shs"),
            F.count("*").alias("n_shingles"),
        )
    )
    a = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    pairs = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b"))
            .cast("long")
            .alias("intersection"),
            "n_a",
            "n_b",
        )
        .filter(F.col("intersection") > 0)
        .select(
            "doc_a",
            "doc_b",
            "intersection",
            (F.col("n_a") + F.col("n_b") - F.col("intersection")).alias(
                "union_size"
            ),
            (
                F.col("intersection").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("intersection")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs.orderBy("doc_a", "doc_b") if sort else pairs


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = JACCARD_THRESHOLD,
    n: int = 3,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verify.

    bands=32 × rows=2: P(miss | J=0.8) = (1-0.8²)^32 ≈ 6e-15 —
    effectively exact recall at the target threshold (so the driver's
    hash gate against the exact-Jaccard oracle cannot flake on an
    unlucky corpus), still linear cost. The verify join makes the
    output equal to jaccard_pairs(), so the same SQL oracle applies.
    Wider bands admit more low-J candidates than 16×4 would; the
    exact verify absorbs them and stays candidate-proportional.
    """
    # One materialization of the shingle table feeds signatures, sizes,
    # and the verify join (otherwise Spark re-shingles three times);
    # collision-safety of the long-hashed shingles documented on
    # hashed_shingles.
    sh = hashed_shingles(docs, n).localCheckpoint()
    banded = band_table(sh, num_hashes, bands)
    left = banded.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "bh"
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bh"
    )
    candidates = (
        left.join(right, ["band_idx", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Exact verify on candidates only (cheap: candidate set is tiny).
    return verify_pairs(candidates, sh, threshold)


def _tokens_spread(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) exploded tokens, repartitioned first (same
    single-row-group rationale as shingle_table)."""
    para = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(para, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )


def _sig_from_votes(per_doc: DataFrame) -> DataFrame:
    """Assemble the 64-bit signature long from vote columns v_0..v_63
    (bit b set iff the vote sum is strictly positive)."""
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document from token xxhash64 bits.

    Linear: explode tokens → per-(doc, bit) vote sums in one shuffle.
    """
    tok = _tokens_spread(docs).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(64)
    ]
    return _sig_from_votes(tok.groupBy("doc_id").agg(*votes))


_HEX = "0123456789abcdef"


def simhash_signatures_md5(docs: DataFrame) -> DataFrame:
    """Portable 64-bit SimHash: token bits derived from md5 hex digits,
    reproducible in any engine (the DuckDB oracle computes identical
    signatures digit-for-digit) — vs the xxhash64 default, which is
    Spark-only. Bit b of a token = (hexdigit(b//4 + 1) >> (b % 4)) & 1.

    Same shape/cost class as simhash_signatures: one shuffle on doc_id;
    md5 is ~2-3x slower than xxhash64 per token, so this is the
    oracle-check variant, not the bench default.
    """
    tok = _tokens_spread(docs).withColumn("hx", F.md5("tok"))
    digs = tok.select(
        "doc_id",
        *[
            F.expr(
                f"instr('{_HEX}', substring(hx, {p}, 1)) - 1"
            ).alias(f"d_{p}")
            for p in range(1, 17)
        ],
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"d_{b // 4 + 1}"), b % 4).bitwiseAND(
                    F.lit(1)
                )
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(64)
    ]
    return _sig_from_votes(digs.groupBy("doc_id").agg(*votes))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 6, signatures=simhash_signatures
) -> DataFrame:
    """All-pairs SimHash near-dup pairs — the O(N²) verification
    baseline (correctness scale only). The scale path is
    simhash_pairs_blocked, which is provably equal for
    max_hamming <= 6 and is what q25 registers."""
    sig = signatures(docs)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs_blocked(
    docs: DataFrame, max_hamming: int = 6, signatures=simhash_signatures
) -> DataFrame:
    """Scale-safe SimHash near-dup pairs via pigeonhole chunk blocking.

    Split the 64-bit signature into 8 chunks of 8 bits and key each doc
    by every pair of chunk positions (C(8,2) = 28 keys/doc, 16 bits of
    value each). A pair within Hamming distance h differs in at most h
    chunks, so at least 8-h chunks match exactly; for h <= 6 that
    leaves >= 2 equal chunks, i.e. at least one (i<j) key collides —
    EXACT recall (not probabilistic), proven equal to the all-pairs
    baseline in tests. Cost: 28 exploded rows/doc + an equi-join whose
    bucket sizes are ~N/2^16 per key — linear-ish, no CartesianProduct
    (asserted in tests).
    """
    sig = signatures(docs).localCheckpoint()
    chunks = [
        F.shiftrightunsigned("simhash", 8 * i).bitwiseAND(F.lit(255))
        for i in range(8)
    ]
    keys, p = [], 0
    for i in range(8):
        for j in range(i + 1, 8):
            keys.append(
                F.struct(
                    F.lit(p).alias("blk"),
                    (chunks[i] * F.lit(256) + chunks[j]).alias("v"),
                )
            )
            p += 1
    blocks = sig.select(
        "doc_id", "simhash", F.explode(F.array(*keys)).alias("k")
    ).select("doc_id", "simhash", "k.blk", "k.v")
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "blk", "v"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "blk", "v"
    )
    # Hamming filter BEFORE the distinct: bit_count(xor) is codegen'd
    # per joined row, so evaluating it on collision duplicates is far
    # cheaper than shuffling every colliding pair through distinct and
    # filtering after (the collision stream is dominated by sub-
    # threshold pairs that share one chunk by chance).
    return (
        a.join(b, ["blk", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
