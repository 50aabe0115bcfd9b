"""Embedding similarity search: brute-force baseline + IVF scale path.

Vectors are ``array<float>`` columns; all math is cast to DOUBLE and
folded sequentially (Spark ``aggregate``), which the DuckDB oracle
reproduces exactly with ``list_reduce`` — bit-identical similarities.

100 TB posture: brute-force top-k is the O(N·Q) correctness baseline
(broadcast the query side when small). The scale path is IVF: one pass
to assign vectors to nearest centroid (narrow, linear), queries probe
``nprobe`` cells → candidate set shrinks by ~K/nprobe; both stages are
plain broadcast joins + one shuffle on cell id. Centroids default to a
deterministic seed (first K vec_ids); ``kmeans_centroids`` trains real
ones (Lloyd's iterations as DataFrame ops) and plugs into ``ivf_topk``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.sinks import counted


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (≡ DuckDB list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds double-vector + norm columns; repartitions first (embedding
    tables often land as one row group → one task for all the math)."""
    para = df.sparkSession.sparkContext.defaultParallelism
    v = _as_double(vec_col)
    return (
        df.repartition(para, "vec_id")
        .withColumn("_v", v)
        .withColumn("_norm", _norm(F.col("_v")))
    )


def brute_force_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5, sort: bool = True
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Output: (src_id, neighbor_id, cosine_sim, rank). Deterministic:
    rank ties broken by neighbor_id.

    Scale shape: the QUERY side is broadcast (queries ≪ corpus in the
    brute-force regime), so the corpus is scanned once in place with no
    shuffle of the N×Q sims — the rank<=k filter becomes a partial
    WindowGroupLimit, shuffling only ≤ Q·k survivors per partition.

    ``sort=False`` skips the presentation-order global sort (one
    rangepartitioning Exchange): pass it when the result feeds further
    aggregation (q120's fusion) rather than a user."""
    q = with_norm(queries).select(
        F.col("vec_id").alias("src_id"),
        F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    v = with_norm(vectors).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_v").alias("nv"),
        F.col("_norm").alias("nn"),
    )
    sims = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("src_id") != F.col("neighbor_id"))
        .select(
            "src_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("nv"))
                / (F.col("qn") * F.col("nn"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    out = sims.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )
    return out.orderBy("src_id", "rank") if sort else out


def cosine_neardup_pairs(
    vectors: DataFrame, threshold: float = 0.45
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b), all-pairs.

    Scale note: at LOW thresholds (this query's 0.45 ≈ a 63° angle) the
    output itself is Ω(N²) on natural corpora and no banded LSH is both
    selective and near-recall-1 (per-bit agreement ≈ 0.65: r=2 bands
    pass 25% of random pairs; r=8 needs ~400 bands) — brute force is
    the honest answer, and this stays a correctness-scale baseline. In
    the actual near-dup regime (cosine >= ~0.9) the scale path is
    hyperplane_lsh_neardup below, which is exact-verified and
    sub-quadratic."""
    a = with_norm(vectors).select(
        F.col("vec_id").alias("vec_a"), F.col("_v").alias("va"), F.col("_norm").alias("na")
    )
    b = with_norm(vectors).select(
        F.col("vec_id").alias("vec_b"), F.col("_v").alias("vb"), F.col("_norm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def rank_cells(
    vdf: DataFrame,
    centroids: DataFrame,
    nprobe: int,
) -> DataFrame:
    """Rank each vector's top-``nprobe`` nearest centroids by cosine.

    Input ``vdf``: (vid, vv array<double>, vn); ``centroids``:
    (cell_id, cv, cn). Output: (vid, vv, vn, r, cell_id) with r in
    [0, nprobe), ordered desc csim with asc cell_id tiebreak. Shared
    by ivf_topk (coarse search) and ivfadc_topk (cell restriction).

    Collapse the (small) centroid table into ONE array row, attach via
    broadcast cross join, then the selection is pure map-side
    higher-order-function work — score all cells, comparator-sort,
    slice. No shuffle (the previous design pushed N*n_cells
    full-vector rows through a row_number window). Consumers that read
    only (vid, r, cell_id) do not carry vv/vn past the posexplode:
    Catalyst prunes them from the Generate's output.
    """
    cent_row = centroids.agg(
        F.collect_list(F.struct("cell_id", "cv", "cn")).alias("cells")
    )
    scored_cells = F.slice(
        F.array_sort(
            F.transform(
                "cells",
                lambda c: F.struct(
                    (
                        _dot(F.col("vv"), c["cv"]) / (F.col("vn") * c["cn"])
                    ).alias("csim"),
                    c["cell_id"].alias("cell_id"),
                ),
            ),
            lambda a, b: F.when(a["csim"] > b["csim"], F.lit(-1))
            .when(a["csim"] < b["csim"], F.lit(1))
            .otherwise(F.signum(a["cell_id"] - b["cell_id"]).cast("int")),
        ),
        1,
        nprobe,
    )
    out = vdf.crossJoin(F.broadcast(cent_row)).select(
        "vid", "vv", "vn", F.posexplode(scored_cells).alias("r", "pc")
    )
    return out.select(
        "vid", "vv", "vn", "r", F.col("pc")["cell_id"].alias("cell_id")
    )


def ivf_topk(
    vectors: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int | None = None,
    centroids: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize to n_cells centroids
    (default seeding: the first n_cells vec_ids; pass
    ``centroids=kmeans_centroids(...)`` for trained cells), probe the
    nprobe nearest cells per query, exact-rank within candidates.

    ``queries=None`` ranks every corpus vector against the corpus
    (all-pairs self search, the oracle-checked q28 shape). Passing a
    separate ``queries`` DataFrame gives the production shape — small
    query batch vs large indexed corpus; corpus-side work stays linear
    (one assignment pass) and the candidate join touches only
    |Q| * N * nprobe / n_cells rows.

    Defaults scale with the table: n_cells ≈ N/64 (clamped [16, 256]),
    nprobe = n_cells/8 — candidate sets shrink ~n_cells/nprobe-fold vs
    brute force. Output: (src_id, neighbor_id, cosine_sim, rank);
    recall measured against brute_force_topk in tests.

    Bench-floor analysis (sf0.1 self-search, 2000×64-dim, r4): p50
    ~3.3s = ~0.7s build (driver count ~0.15s + the ranked
    localCheckpoint) + ~2.7s exec, and exec is ~90% candidate scoring:
    ~N·nprobe·(N/n_cells) ≈ 390K interpreted fold-cosines (64 mults +
    adds each; lambda HOFs never enter whole-stage codegen). Measured
    alternatives: an explicit element_at add-chain is bit-identical to
    the fold but 8× SLOWER at dim 64 (expression blowup), and Arrow/
    numpy scoring is ~10× faster but not bit-exact (BLAS summation
    order) — it would break the differential oracle this query exists
    to satisfy. So ~2.6s min / ~3.3s p50 IS the floor for the
    oracle-checked shape. The fold is the only path: the retired Arrow
    cell-assignment and candidate-scoring twins read with
    ``git show 44b50ce:etl_data_warehouse_spark/operators/similarity.py``."""
    if centroids is not None and n_cells is None:
        n_cells = centroids.count()
    if n_cells is None:
        # Only the *default* sizing needs the corpus size; passing
        # explicit n_cells skips this driver-side job entirely.
        n_cells = min(256, max(16, vectors.count() // 64))
    if nprobe is None:
        nprobe = max(3, n_cells // 8)
    if centroids is not None:
        centroids = centroids.select(
            "cell_id", "cv", _norm(F.col("cv")).alias("cn")
        )
    else:
        centroids = (
            with_norm(vectors)
            .orderBy("vec_id")
            .limit(n_cells)
            .select(
                F.col("vec_id").alias("cell_id"),
                F.col("_v").alias("cv"),
                F.col("_norm").alias("cn"),
            )
        )
    v = with_norm(vectors).select(
        F.col("vec_id").alias("vid"),
        F.col("_v").alias("vv"),
        F.col("_norm").alias("vn"),
    )

    if queries is None:
        # Self-search: assignment and probe lists come from one compute.
        # N*nprobe rows (nprobe ≈ n_cells/8): 8x smaller than the old
        # materialization; checkpoint so assign + probe share it.
        ranked = rank_cells(v, centroids, nprobe).localCheckpoint()
        assigned = ranked.filter(F.col("r") == 0).select(
            "vid", "vv", "vn", "cell_id"
        )
        probes = ranked.select(
            F.col("vid").alias("src_id"),
            F.col("vv").alias("qv"),
            F.col("vn").alias("qn"),
            "cell_id",
        )
    else:
        # Separate query batch: corpus only needs its top-1 assignment —
        # rank with nprobe=1 rather than ranking all nprobe cells and
        # filtering r==0 (identical result; 8x less explode traffic on
        # the corpus, which dominates at |corpus| >> |Q|).
        assigned = (
            rank_cells(v, centroids, 1)
            .filter(F.col("r") == 0)
            .select("vid", "vv", "vn", "cell_id")
        )
        q = with_norm(queries).select(
            F.col("vec_id").alias("vid"),
            F.col("_v").alias("vv"),
            F.col("_norm").alias("vn"),
        )
        probes = rank_cells(q, centroids, nprobe).select(
            F.col("vid").alias("src_id"),
            F.col("vv").alias("qv"),
            F.col("vn").alias("qn"),
            "cell_id",
        )
    # Each neighbor lives in exactly one cell → no pair duplicates.
    cands = probes.join(assigned, "cell_id").filter(
        F.col("src_id") != F.col("vid")
    )
    sims = cands.select(
        "src_id",
        F.col("vid").alias("neighbor_id"),
        (
            _dot(F.col("qv"), F.col("vv")) / (F.col("qn") * F.col("vn"))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("src_id", "rank")
    )


def srp_signatures(
    vectors: DataFrame,
    n_planes: int = 256,
    bands: int = 16,
    seed: int = 0x51A7,
) -> DataFrame:
    """Signed-random-projection (hyperplane) signatures, banded.

    One Arrow-batched matmul per partition: project each vector onto
    n_planes seeded Gaussian hyperplanes, take sign bits, pack
    n_planes/bands bits per band → (vec_id, band_0..band_{bands-1}).
    Linear in N; the plane matrix is regenerated per executor from the
    seed (no broadcast payload). Signatures are Spark-internal — the
    oracle-checkable output comes from the exact-cosine verify in
    hyperplane_lsh_neardup, so plane portability doesn't matter.
    """
    import numpy as np
    import pandas as pd

    rows = n_planes // bands
    schema = ", ".join(
        ["vec_id long"] + [f"band_{b} long" for b in range(bands)]
    )

    def batches(it):
        planes = None
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if planes is None:
                planes = np.random.RandomState(seed).standard_normal(
                    (n_planes, V.shape[1])
                )
            bits = (V @ planes.T > 0).astype(np.uint64)
            out = {"vec_id": pdf["vec_id"]}
            weights = 1 << np.arange(rows, dtype=np.uint64)
            for b in range(bands):
                out[f"band_{b}"] = (
                    bits[:, b * rows : (b + 1) * rows] * weights
                ).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(out)

    para = vectors.sparkSession.sparkContext.defaultParallelism
    return vectors.repartition(para, "vec_id").mapInPandas(batches, schema)


def hyperplane_lsh_neardup(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 256,
    bands: int = 16,
    seed: int = 0x51A7,
) -> DataFrame:
    """Scale path for embedding near-dup pairs, mirroring the
    MinHash-LSH pattern (dedup.minhash_lsh_pairs): banded SRP signature
    buckets generate candidates, an exact fold-cosine verify produces
    the output — so the result equals cosine_neardup_pairs w.h.p. and
    the same exact SQL oracle applies.

    Recall at the default operating point (16 bands × 16 bits): a pair
    at cosine 0.99 agrees per bit with p ≈ 0.955 → miss ≈ 3e-5; at
    0.998 (the planted-twin regime q41 exercises) miss < 1e-9. Random
    background pairs (cosine ≈ 0) collide per band with p = 2^-16 —
    candidate volume ≈ bands·N²/2^bits ≈ 16·N²/65536 REGARDLESS of
    dimension. That is quadratic with a 4096× discount: measured 12M
    candidates at N=100K (fine) but ~1.2B at N=1M (bucket-join output
    itself becomes the bottleneck).

    WIDE-BAND operating point for 10⁶-row groups — band width is
    n_planes/bands, so widening is a parameter change (the packing
    holds up to 63 bits/band in one long): ``n_planes=384, bands=16``
    gives 24-bit bands. Re-derived recall: per-band match is p^24 —
    at cosine 0.998 (p=0.98) band p ≈ 0.616, miss = (1-0.616)^16 ≈
    2e-7 (still w.h.p.); at exactly 0.99 (p=0.955) miss ≈ 0.2%. The
    independent-bit background model (16·N²/2^bits) predicts a 256×
    cut; MEASURED at N=1M, dim=16 (`git show b4f93cf:BENCH_XL.json`):
    1.27B candidates (16-bit) → 84M (24-bit) — a 15× cut, not 256×,
    because in low dimension the per-plane bits are correlated and
    inflate every collision rate (~24M of the 84M are true
    planted-twin band hits, the floor both shapes share). The cut
    grows toward the model as
    dim rises; either way 24-bit bands took the 1M-row operator from
    infeasible (the 1.2B-row bucket join IS the work) to 78s measured
    end-to-end. ``srp_candidate_count`` probes the candidate volume of
    any (n_planes, bands) WITHOUT materializing pairs — use it before
    committing to a shape on a new corpus. Operating guidance:
    defaults up to ~10⁵ rows/group, wide bands to ~10⁶-10⁷; beyond
    that use the cell-bounded family (semantic_dedup / IVF near-dup),
    whose pair cost is capped by cell size instead of N².
    No CartesianProduct (asserted in tests).

    Between the bucket join and the exact verify sits a full-signature
    HAMMING PREFILTER: pairs whose bit-disagreement exceeds q_thr + 4σ
    are dropped, where q_thr = acos(threshold)/π is the expected
    disagreement AT the threshold and σ = sqrt(q_thr(1-q_thr)/n_planes)
    — all codegen'd bit_count(xor) column math, no HOFs. In low
    dimension (≤ ~32) the per-band bits correlate and background pairs
    flood the buckets (measured: 12M candidates for 150K true pairs at
    dim 16 / 100K vectors); the prefilter removes them BEFORE the
    distinct + verify shuffles pay for each. False-reject probability
    for a pair exactly at the threshold is Φ(-4) ≈ 3e-5, and it decays
    to ~1e-12 in the planted-twin regime the oracle checks — the same
    w.h.p. class as the banding itself.

    The full signature rides THROUGH the bucket join (the
    simhash_pairs_blocked discipline, r14): both sides of the
    (band, bv) self-join carry all ``bands`` signature longs, so the
    hamming filter runs map-side in the join stage and only surviving
    (vec_a, vec_b) pairs reach the distinct. The r13 shape instead
    joined the bare candidate stream BACK against the signature table
    twice — two extra shuffles of the Ω(bands·N²/2^bits) candidate
    stream (the second carrying bands attached longs per row, ~11 GB
    at 1M/24-bit), which the XL profile showed dominating the
    operator. Payload cost: the keyed explode widens from 3 to
    3+bands columns (N·bands rows either way, one reused Exchange);
    the win is candidate-proportional, the cost corpus-proportional."""
    import math

    sig = srp_signatures(vectors, n_planes, bands, seed).localCheckpoint()
    keyed = sig.select(
        "vec_id",
        *[F.col(f"band_{i}") for i in range(bands)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"band_{b}").alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("k"),
    ).select("vec_id", *[f"band_{i}" for i in range(bands)], "k.band", "k.bv")
    a = keyed.select(
        F.col("vec_id").alias("vec_a"),
        *[F.col(f"band_{i}").alias(f"sa_{i}") for i in range(bands)],
        "band",
        "bv",
    )
    b = keyed.select(
        F.col("vec_id").alias("vec_b"),
        *[F.col(f"band_{i}").alias(f"sb_{i}") for i in range(bands)],
        "band",
        "bv",
    )
    q_thr = math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    sigma = math.sqrt(q_thr * (1.0 - q_thr) / n_planes)
    max_bits = int(math.ceil(n_planes * (q_thr + 4.0 * sigma)))
    hamming = sum(
        F.bit_count(F.col(f"sa_{i}").bitwiseXOR(F.col(f"sb_{i}")))
        for i in range(bands)
    )
    cands = (
        a.join(b, ["band", "bv"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(hamming <= F.lit(max_bits))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # Verify only touches vectors that appear in some candidate pair —
    # semi-join the (dup-proportional, tiny) candidate id set before
    # paying the double-cast + norm fold and the pair joins, the same
    # candidate-restriction verify_pairs (dedup.py) applies.
    cand_ids = (
        cands.select(F.col("vec_a").alias("vec_id"))
        .union(cands.select(F.col("vec_b").alias("vec_id")))
        .distinct()
    )
    vn = with_norm(vectors.join(cand_ids, "vec_id", "left_semi"))
    va = vn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("_v").alias("va"),
        F.col("_norm").alias("na"),
    )
    vb = vn.select(
        F.col("vec_id").alias("vec_b"),
        F.col("_v").alias("vb"),
        F.col("_norm").alias("nb"),
    )
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def srp_candidate_count(
    vectors: DataFrame,
    n_planes: int = 256,
    bands: int = 16,
    seed: int = 0x51A7,
):
    """Candidate-pair volume of a banded-SRP shape WITHOUT
    materializing the pairs: Σ_buckets C(n,2) over (band, value)
    buckets — one signature pass + one groupBy, O(N·bands) regardless
    of how many pairs the bucket join WOULD emit. Use it to choose
    band width before running hyperplane_lsh_neardup on a new corpus
    size (candidates ≈ true_pairs·bands + background·bands·N²/2^bits).
    Returns (total_candidate_pairs, max_bucket_size)."""
    sig = srp_signatures(vectors, n_planes, bands, seed)
    keyed = sig.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"band_{b}").alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("k")
    ).select("k.band", "k.bv")
    row = (
        keyed.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
            F.max("n").alias("max_bucket"),
        )
        .first()
    )
    return int(row["pairs"] or 0), int(row["max_bucket"] or 0)


def kmeans_centroids(
    vectors: DataFrame,
    n_cells: int,
    max_iterations: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over DataFrame ops — real centroids
    for the IVF coarse quantizer (ivf_topk's default seeding is the
    first n_cells vec_ids; this refines them).

    Each iteration: assign every vector to its nearest centroid
    (map-side argmin fold over a broadcast centroid-array row — no
    shuffle) → recompute centroids as per-cell means (one shuffle on
    cell_id, map-side partial aggs via posexplode + groupBy).
    Deterministic CONTROL FLOW: seeded by the n_cells lowest vec_ids,
    assignment ties broken on cell_id, empty cells keep their previous
    centroid. Centroid VALUES are reproducible only up to
    floating-point summation order — F.avg folds partials in partition
    order, so a different partitioning can move means by ulps and, on
    exact-tie boundaries, flip an assignment. Identical input
    partitioning gives bit-identical output only within one session and
    environment (same Spark version, parallelism and JVM), and only
    while the Exchange hands each partition its rows in a stable order,
    which Spark does not strictly guarantee; across environments only
    the ulp-level reproducibility above is promised.
    Stops early when assignments stop changing: each vector's previous
    cell rides through the map-only assignment, and an ``Observation``
    counts the changed ones as the round's localCheckpoint (which
    truncates lineage) runs, so the convergence test costs no job.

    100 TB posture: per round, one broadcast of k·dim doubles and ONE
    shuffle whose key space is k — linear in the corpus, constant in
    history. k-means++ init would add one cheap weighted-sampling pass;
    omitted to keep the operator deterministic without an RNG contract.
    """
    dim_df = vectors.select(F.size(vec_col).alias("d")).limit(1)
    dim = dim_df.first()["d"]
    # Explicit spread (r14): training sets routinely arrive as ONE
    # partition — build_ivf_pq_index subsamples with orderBy().limit(),
    # whose GlobalLimit materializes everything into a single task, and
    # every Lloyd's iteration then ran its whole assignment matmul on
    # one core (measured: 145s of the 1M ivf_pq_index build's 202s).
    # Hash on vec_id (not round robin) so the layout is a pure function
    # of the data and the parallelism — the docstring's same-session
    # "identical partitioning → bit-identical centroids" contract stays
    # caller-independent.
    para = vectors.sparkSession.sparkContext.defaultParallelism
    v = (
        vectors.select("vec_id", _as_double(vec_col).alias("vv"))
        .repartition(para, "vec_id")
        .localCheckpoint()
    )

    centroids = (
        v.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cell_id"),
            F.col("vv").alias("cv"),
        )
        .localCheckpoint()
    )
    def _assign(rows: DataFrame, cents: DataFrame) -> DataFrame:
        # Map-side argmin via higher-order fold over ONE collected-array
        # centroid row (same no-shuffle trick as rank_cells): strictly
        # equal to orderBy(dist, cell_id) pick-first — argmin distance,
        # asc cell_id tiebreak. The old shape shuffled N*k rows through
        # a row_number window EVERY iteration.
        cent_row = cents.agg(
            F.collect_list(F.struct("cell_id", "cv")).alias("cells")
        )
        best = F.aggregate(
            F.transform(
                "cells",
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with("vv", c["cv"], lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    c["cell_id"].alias("cell_id"),
                ),
            ),
            F.struct(
                F.lit(float("inf")).alias("dist"),
                F.lit(2147483647).alias("cell_id"),
            ),
            lambda acc, c: F.when(
                (c["dist"] < acc["dist"])
                | ((c["dist"] == acc["dist"]) & (c["cell_id"] < acc["cell_id"])),
                c,
            ).otherwise(acc),
        )
        return rows.crossJoin(F.broadcast(cent_row)).select(
            *rows.columns, best["cell_id"].alias("cell_id")
        )

    # Each round carries the previous cell through the map-only
    # assignment (so the layout, hence the means, is the same as a fresh
    # assignment of ``v``) and counts the changed cells on the round's
    # checkpoint; the first round's previous cell is null.
    assigned = v.withColumn("cell_id", F.lit(None).cast("int"))
    for _ in range(max_iterations):
        assigned, changed = counted(
            _assign(assigned.withColumnRenamed("cell_id", "prev"), centroids),
            ~F.col("cell_id").eqNullSafe(F.col("prev")),
        )
        assigned = assigned.drop("prev").localCheckpoint()
        if changed() == 0:
            break
        means = (
            assigned.select(
                "cell_id", F.posexplode("vv").alias("pos", "x")
            )
            .groupBy("cell_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cell_id",
                F.transform("pm", lambda s: s["m"]).alias("cv"),
            )
        )
        # empty cells keep their previous centroid
        centroids = (
            centroids.alias("old")
            .join(means.alias("new"), "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("new.cv"), F.col("old.cv")).alias("cv"),
            )
            .localCheckpoint()
        )
    assert dim is not None  # non-empty input contract
    return centroids


def inertia(vectors: DataFrame, centroids: DataFrame, vec_col: str = "embedding"):
    """Sum of squared distances to the nearest centroid (the k-means
    objective) — one broadcast join + one global sum."""
    dist = F.aggregate(
        F.zip_with("vv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = (
        vectors.select("vec_id", _as_double(vec_col).alias("vv"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("dist", dist)
        .groupBy("vec_id")
        .agg(F.min("dist").alias("d2"))
    )
    return per_vec.agg(F.sum("d2")).first()[0]


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    centroids: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embeddings, then drop any
    document whose cosine similarity to an EARLIER document in the same
    cluster is >= ``threshold``. Extends the reference's duplicate
    handling (transformers/data_transformer.py drop_duplicates;
    loaders ON CONFLICT) from exact-key to semantic-similarity space.

    Keep policy: lowest vec_id wins (deterministic, SQL-replayable).
    The paper keeps the example with the LOWEST centroid similarity
    (preferring outliers); that policy changes which member of a dup
    group survives but not the group structure — min-id is used here so
    the DuckDB oracle can replay the output bit-for-bit.

    Output: (vec_id, cell_id, kept, dup_of) — dup_of is the smallest
    earlier same-cell vec_id above threshold (NULL when kept).

    Scale shape: assignment is one map-side pass (broadcast centroid
    array — rank_cells nprobe=1); the pair search is a
    self-join ON cell_id, so cost is sum over cells of |cell|^2, the
    SemDeDup cost model — n_cells is the knob that bounds cell size
    (size it so N/n_cells stays ~10^4 at 100 TB). One shuffle on
    cell_id, one aggregate on vec_id, one left join back. No
    CartesianProduct at any size.

    Default centroids: the first n_cells vec_ids (the ivf_topk seeding,
    deterministic); pass ``centroids=kmeans_centroids(...)`` for
    trained cells in production.

    ``sort=False`` skips the closing presentation orderBy (one
    rangepartitioning Exchange + sort of the FULL verdict frame — pure
    overhead at 10^6 rows; the driver compare is order-insensitive):
    the brute_force_topk ``sort`` convention, passed by the day-2
    pipeline, whose consumers join on vec_id.
    """
    if centroids is not None and n_cells is None:
        n_cells = centroids.count()
    if n_cells is None:
        n_cells = min(256, max(16, vectors.count() // 64))
    if centroids is not None:
        cents = centroids.select(
            "cell_id", "cv", _norm(F.col("cv")).alias("cn")
        )
    else:
        cents = (
            with_norm(vectors)
            .orderBy("vec_id")
            .limit(n_cells)
            .select(
                F.col("vec_id").alias("cell_id"),
                F.col("_v").alias("cv"),
                F.col("_norm").alias("cn"),
            )
        )
    v = with_norm(vectors).select(
        F.col("vec_id").alias("vid"),
        F.col("_v").alias("vv"),
        F.col("_norm").alias("vn"),
    )
    assigned = (
        rank_cells(v, cents, 1)
        .filter(F.col("r") == 0)
        .select("vid", "vv", "vn", "cell_id")
        .localCheckpoint()
    )
    a = assigned.select(
        "cell_id",
        F.col("vid").alias("earlier_id"),
        F.col("vv").alias("av"),
        F.col("vn").alias("an"),
    )
    b = assigned.select(
        "cell_id",
        F.col("vid").alias("vec_id"),
        F.col("vv").alias("bv"),
        F.col("vn").alias("bn"),
    )
    dups = (
        a.join(b, "cell_id")
        .filter(F.col("earlier_id") < F.col("vec_id"))
        .filter(
            _dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
            >= threshold
        )
        .groupBy("vec_id")
        .agg(F.min("earlier_id").alias("dup_of"))
    )
    out = (
        assigned.select(F.col("vid").alias("vec_id"), "cell_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )
    return out.orderBy("vec_id") if sort else out


# --- Fixed-point embedding Gramian (covariance/PCA prep) ----------------------

GRAMIAN_SCALE = 1000  # 3 fractional digits survive the quantization


def _gram_quantized(df: DataFrame, vec_col: str) -> DataFrame:
    """(vec_id, qv): embedding quantized to BIGINT fixed-point
    (floor(x * SCALE) — floor, not round, so both engines truncate
    ties identically)."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * GRAMIAN_SCALE).cast("long"),
    )
    return df.select("vec_id", q.alias("qv"))


def gramian_fixed_point(
    vectors: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangle Gram matrix G[i,j] = Σ_v qv_i · qv_j over BIGINT
    fixed-point components — the covariance/PCA/whitening input for an
    embedding table, exactly mergeable and ORDER-INDEPENDENT (integer
    sums commute), so it hash-matches any engine and any partitioning;
    a float Gramian never could (the q106 fixed-point rule).

    Oracle-grade shape: one explode of the d(d+1)/2-element product
    array per vector + one (i, j)-grain sum — linear in corpus size,
    output is d(d+1)/2 rows. The qv array is materialized BEFORE a
    repartition Exchange (CollapseProject would otherwise inline it
    into every element_at and re-evaluate O(d^2) per row — the
    hashed_shingles rule; the Exchange also parallelizes the
    single-row-group testdata scan). For the hot path use
    :func:`gramian_arrow` (same result, numpy V^T V per Arrow batch).
    """
    para = vectors.sparkSession.sparkContext.defaultParallelism
    qdf = _gram_quantized(vectors, vec_col).repartition(para)
    pair_products = F.expr(
        f"""flatten(transform(sequence(0, {dim - 1}), i ->
            transform(sequence(i, {dim - 1}), j ->
                struct(i, j,
                       element_at(qv, i + 1) * element_at(qv, j + 1) AS p
                ))))"""
    )
    return (
        qdf.select(F.explode(pair_products).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("g"))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "g",
        )
        .orderBy("i", "j")
    )


def gramian_arrow(
    vectors: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Scale path of :func:`gramian_fixed_point`: one int64 numpy
    V^T V partial per Arrow batch (mapInPandas), then a d(d+1)/2-row
    final sum — the map-side-combine shape a 100 TB Gramian needs
    (per-batch partials are d^2-sized regardless of row count).
    BIT-IDENTICAL to the fold path, not ulp-close: both sum the same
    integers, and integer addition is order-free (int64 overflow needs
    |x|<2^63 / N·SCALE^2 headroom — at SCALE=1000, unit-norm-ish
    embeddings stay safe past 10^12 rows)."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(dim)

    def partials(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            Q = np.floor(V * GRAMIAN_SCALE).astype(np.int64)
            acc += Q.T @ Q
        if seen:
            yield pd.DataFrame(
                {"i": iu.astype("int32"), "j": ju.astype("int32"),
                 "p": acc[iu, ju]}
            )

    para = vectors.sparkSession.sparkContext.defaultParallelism
    return (
        vectors.select(vec_col)
        .repartition(para)
        .mapInPandas(partials, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("g"))
        .orderBy("i", "j")
    )


def pca_model(
    vectors: DataFrame, dim: int, k: int, vec_col: str = "embedding"
):
    """PCA model (mean, components, eigenvalues) from ONE distributed
    pass: the fixed-point Gramian + per-dimension sums + count are the
    only cluster-side aggregates (all BIGINT, mergeable); the d x d
    eigendecomposition runs on the driver — numerically trivial at
    embedding dims (64..4096), and the standard split for petabyte PCA
    (the Gramian is the sufficient statistic).

    Returns (mean[d], components[k x d], eigenvalues[k]) as numpy
    arrays, eigenvalues descending. Covariance is reconstructed in
    original units from the SCALE-quantized sums — quantization noise
    is O(1/SCALE) and affects the model, not the engine parity story
    (PCA output is float; it is a pytest-verified operator, not an
    oracle query — eigensolvers are not cross-engine replayable).
    SemDeDup (Abbas et al. 2023) applies exactly this whitening before
    cosine clustering.
    """
    import numpy as np

    g = gramian_arrow(vectors, dim, vec_col).collect()
    sums_row = (
        _gram_quantized(vectors, vec_col)
        .select(F.posexplode("qv").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    n = vectors.count()
    s = np.zeros(dim, dtype=np.float64)
    for r in sums_row:
        s[r["i"]] = float(r["s"])
    G = np.zeros((dim, dim), dtype=np.float64)
    for r in g:
        G[r["i"], r["j"]] = float(r["g"])
        G[r["j"], r["i"]] = float(r["g"])
    scale2 = float(GRAMIAN_SCALE * GRAMIAN_SCALE)
    mean = s / (n * GRAMIAN_SCALE)
    cov = G / (n * scale2) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    return mean, evecs[:, order].T.copy(), evals[order].copy()


def pca_project(
    vectors: DataFrame,
    mean,
    components,
    eigenvalues=None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed projection onto PCA components (one Arrow map pass):
    out = (v - mean) @ W^T, optionally whitened (divide each component
    by sqrt(eigenvalue)) when ``eigenvalues`` is given. Output:
    (vec_id, projected array<double>)."""
    import numpy as np
    import pandas as pd

    W = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    whiten = (
        np.sqrt(np.asarray(eigenvalues, dtype=np.float64))
        if eigenvalues is not None
        else None
    )

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            P = (V - mu) @ W.T
            if whiten is not None:
                P = P / whiten
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "projected": list(P)}
            )

    para = vectors.sparkSession.sparkContext.defaultParallelism
    return (
        vectors.select("vec_id", vec_col)
        .repartition(para)
        .mapInPandas(project, "vec_id bigint, projected array<double>")
    )
