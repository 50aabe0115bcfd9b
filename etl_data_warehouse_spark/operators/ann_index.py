"""Persisted IVF-PQ ANN index: train once, then query and APPEND new
vector batches without recomputing the corpus — the embedding twin of
the persisted MinHash index (operators/dedup_index.py).

The 100 TB similarity-search problem is operational, not one-shot:
"index today's embeddings against the billions already indexed".
Retraining/re-encoding the corpus per batch is O(corpus) per day; the
scale answer is persisted index state with FROZEN quantizers:

- ``centroids/``  (cell_id, cv)                  — coarse quantizer
- ``codebooks/``  (subspace, code_id, cv, cnorm2) — PQ codebooks
- ``packed/batch=N/``   (vec_id, code_ids, rnorm2) — compressed codes
- ``assigned/batch=N/`` (vec_id, cell_id)          — cell assignment
- ``projected/batch=N/`` (vec_id, embedding)       — whitened vectors
  (whitened indexes only: build/append project each vector ONCE and
  keep the result as state, so no later pass re-projects the corpus)

Quantizer state is trained at build time and never touched by appends
(periodic retraining is an offline REBUILD, the standard production
cadence); per batch the cost is O(batch) encode + assign.

Crash-safety of appends (the lesson from dedup_index's
write-order analysis): each batch writes into its OWN ``batch=N``
subdirectories with mode=overwrite, so a replayed batch rewrites
byte-identical content instead of appending duplicates — duplicate
packed/assigned rows would double-score candidates in the ADC scan,
so append-mode idempotency-by-guard is NOT enough here. The
``skip_indexed`` guard exists for CROSS-batch re-crawls (an id
resubmitted in a later batch) and probes the UNION of both tables'
ids: an id left half-written by a crashed batch K is skipped by later
batches (K's replay completes it via overwrite) yet never lost.

Reference parity: none (the reference has no vector search); this is
the brief's training-data extension, composed from public methods
(Jégou et al. 2011 IVFADC).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .pq import (
    ivfadc_topk,
    pack_codes,
    pack_encode_arrow,
    pq_encode,
    train_pq_codebooks,
)
from .similarity import kmeans_centroids, rank_cells, with_norm


def _assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    assign_arrow: bool,
    vec_col: str,
) -> DataFrame:
    from .pq import _dot

    # Pure assignment: cosine RANKING per row is invariant to the
    # row's own norm (it scales every cell's score equally), so vn is
    # pinned to 1.0 instead of paying the interpreted norm fold over
    # the whole corpus, and emit_vectors=False keeps the (opaque to
    # column pruning) arrow pass from shipping every vector back out
    # of Python just to be dropped (r14 — together with the kmeans
    # spread fix this took the 1M ivf_pq_index assign stage from 57s
    # to single digits).
    para = vectors.sparkSession.sparkContext.defaultParallelism
    v = vectors.repartition(para, "vec_id").select(
        F.col("vec_id").alias("vid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vv"),
        F.lit(1.0).alias("vn"),
    )
    cents = centroids.select(
        "cell_id", "cv", F.sqrt(_dot("cv", "cv")).alias("cn")
    )
    return rank_cells(
        v, cents, 1, assign_arrow=assign_arrow, emit_vectors=False
    ).select(F.col("vid").alias("vec_id"), "cell_id")


def build_ivf_pq_index(
    vectors: DataFrame,
    index_dir: str,
    n_cells: int = 64,
    m: int = 4,
    codes: int = 16,
    coarse_iterations: int = 4,
    pq_iterations: int = 4,
    pq_train_limit: int | None = 10000,
    coarse_train_limit: int | None = None,
    assign_arrow: bool = False,
    vec_col: str = "embedding",
) -> None:
    """Train quantizer state on the corpus (PQ codebooks on the
    ``pq_train_limit`` lowest vec_ids — Lloyd's cost is linear in the
    training set; subsampling is standard practice) and persist state
    plus the encoded corpus as batch 0.

    ``coarse_train_limit`` subsamples coarse-quantizer TRAINING the
    same way (the FAISS max_points_per_centroid move — ~64-256 points
    per cell train centroids as good as the full corpus; the FULL
    corpus is still assigned afterwards). ``assign_arrow=True`` also
    routes corpus encoding through ``pack_encode_arrow`` — one Arrow
    pass instead of the N·m·codes-row fold ranking — and, when
    ``pq_train_limit`` bounds the training set, PQ codebook training
    through the driver-side numpy twin (train_pq_codebooks_numpy:
    the distributed fold trainer spends minutes of interpreted
    HOF-assignment jobs on a 10K sample a laptop Lloyd's finishes in
    milliseconds); same BLAS-ulp caveat either way, so deterministic
    replay keeps the default fold paths."""
    train_c = vectors
    if coarse_train_limit is not None:
        train_c = vectors.orderBy("vec_id").limit(coarse_train_limit)
    cents = kmeans_centroids(
        train_c,
        n_cells=n_cells,
        max_iterations=coarse_iterations,
        vec_col=vec_col,
        assign_arrow=assign_arrow,
    )
    train = vectors
    if pq_train_limit is not None:
        train = vectors.orderBy("vec_id").limit(pq_train_limit)
    if assign_arrow and pq_train_limit is not None:
        from .pq import train_pq_codebooks_numpy

        books = train_pq_codebooks_numpy(
            train, m=m, codes=codes, max_iterations=pq_iterations,
            vec_col=vec_col,
        )
    else:
        books = train_pq_codebooks(
            train, m=m, codes=codes, max_iterations=pq_iterations,
            vec_col=vec_col,
        )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    books.write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    if assign_arrow:
        packed = pack_encode_arrow(vectors, books, vec_col=vec_col)
    else:
        packed = pack_codes(pq_encode(vectors, books, vec_col=vec_col), books)
    assigned = _assign_cells(vectors, cents, assign_arrow, vec_col)
    packed.write.mode("overwrite").parquet(f"{index_dir}/packed/batch=0")
    assigned.write.mode("overwrite").parquet(f"{index_dir}/assigned/batch=0")


def load_ivf_pq_index(spark: SparkSession, index_dir: str) -> dict:
    """Index state as DataFrames; `packed`/`assigned` span all batches."""
    return {
        "centroids": spark.read.parquet(f"{index_dir}/centroids"),
        "codebooks": spark.read.parquet(f"{index_dir}/codebooks"),
        "packed": spark.read.option("basePath", f"{index_dir}/packed")
        .parquet(f"{index_dir}/packed")
        .drop("batch"),
        "assigned": spark.read.option("basePath", f"{index_dir}/assigned")
        .parquet(f"{index_dir}/assigned")
        .drop("batch"),
    }


def _drop_crossbatch_recrawls(
    new_vectors: DataFrame, index_dir: str, batch_id: int
) -> DataFrame:
    """The skip_indexed probe: anti-join ids already in packed OR
    assigned of any OTHER batch — re-crawled ids across batches drop,
    while this batch's own earlier (possibly partial) write is excluded
    so a replay always re-encodes the full batch and the overwrite
    completes it."""
    spark = new_vectors.sparkSession
    other = F.col("batch") != batch_id
    seen = (
        spark.read.option("basePath", f"{index_dir}/packed")
        .parquet(f"{index_dir}/packed")
        .filter(other)
        .select("vec_id")
        .unionByName(
            spark.read.option("basePath", f"{index_dir}/assigned")
            .parquet(f"{index_dir}/assigned")
            .filter(other)
            .select("vec_id")
        )
        .distinct()
    )
    return new_vectors.join(seen, "vec_id", "left_anti")


def append_to_ivf_index(
    new_vectors: DataFrame,
    index_dir: str,
    batch_id: int,
    assign_arrow: bool = False,
    vec_col: str = "embedding",
    skip_indexed: bool = True,
) -> None:
    """Encode + assign a new batch under the FROZEN quantizer state and
    persist it as ``batch=batch_id`` (overwrite → replay-idempotent;
    see module docstring for why append-mode would corrupt the scan).
    ``skip_indexed`` anti-joins ids already in packed OR assigned of
    any OTHER batch — re-crawled ids across batches are dropped, while
    this batch's own earlier (possibly partial) write is excluded from
    the probe so a replay always re-encodes the full batch and the
    overwrite completes it."""
    spark = new_vectors.sparkSession
    idx = load_ivf_pq_index(spark, index_dir)
    if skip_indexed:
        new_vectors = _drop_crossbatch_recrawls(
            new_vectors, index_dir, batch_id
        )
    new_vectors = new_vectors.localCheckpoint()
    if not new_vectors.take(1):
        # every id was a re-crawl — nothing to encode, and writing
        # nothing keeps the batch dirs absent consistently on replay
        return
    if assign_arrow:
        packed = pack_encode_arrow(
            new_vectors, idx["codebooks"], vec_col=vec_col
        )
    else:
        packed = pack_codes(
            pq_encode(new_vectors, idx["codebooks"], vec_col=vec_col),
            idx["codebooks"],
        )
    assigned = _assign_cells(
        new_vectors, idx["centroids"], assign_arrow, vec_col
    )
    packed.write.mode("overwrite").parquet(
        f"{index_dir}/packed/batch={batch_id}"
    )
    assigned.write.mode("overwrite").parquet(
        f"{index_dir}/assigned/batch={batch_id}"
    )


def query_ivf_pq_index(
    vectors: DataFrame,
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    nprobe: int = 8,
    refine_factor: int = 10,
    assign_arrow: bool = False,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ANN against the persisted index: probe + compressed-domain
    ADC scan + exact refine against ``vectors`` (the raw corpus table —
    refine touches shortlist rows only, predicate-pushed on vec_id)."""
    idx = load_ivf_pq_index(vectors.sparkSession, index_dir)
    return ivfadc_topk(
        vectors,
        queries,
        k=k,
        nprobe=nprobe,
        centroids=idx["centroids"],
        codebooks=idx["codebooks"],
        codes_packed=idx["packed"],
        assigned=idx["assigned"],
        refine_factor=refine_factor,
        vec_col=vec_col,
        assign_arrow=assign_arrow,
    )


def incremental_semantic_dedup(
    corpus: DataFrame,
    new_vectors: DataFrame,
    index_dir: str,
    threshold: float = 0.95,
    shortlist: int | None = None,
    assign_arrow: bool = False,
    refine_arrow: bool = False,
    vec_col: str = "embedding",
    sort: bool = True,
) -> DataFrame:
    """O(batch) semantic-dedup VERDICT for a new batch against the
    standing corpus — the embedding twin of dedup_index.incremental_dedup:
    the persisted IVF-PQ index supplies frozen centroids and the
    corpus's cell assignment, so the daily cost is
    O(batch · cell_occupancy), never O(corpus).

    Semantics are EXACTLY SemDeDup restricted to the batch
    (similarity.semantic_dedup with the index's frozen centroids): a
    new vector is dropped iff some same-cell vector with a SMALLER
    vec_id — indexed or earlier in this batch — has exact cosine >=
    threshold; ``dup_of`` is the smallest such id. Verdicts therefore
    decompose: full-corpus verdicts restricted to batch rows == batch
    verdicts (pinned by tests/test_semantic_dedup_incremental.py),
    because a SemDeDup verdict depends only on EARLIER same-cell
    members, never on whether those members were themselves kept.

    Stages: coarse-assign the batch under the frozen centroids →
    same-cell candidates vs the index's ``assigned`` table and the
    batch itself → (optional) ADC shortlist → exact cosine refine
    against raw vectors of touched candidates only (semi-join pruned
    scan of ``corpus``) → min-earlier-id verdict.

    ``shortlist=R`` prunes INDEX-side candidates per new vector to the
    R highest ADC cosines (computed from the index's packed codes +
    codebooks — compressed-domain, m lookup rows per pair) before the
    exact refine: the knob for mega-cells, exact when R >= cell
    occupancy, recall-traded below. Within-batch candidates are never
    pruned (the batch is the small side by construction).

    ``refine_arrow=True`` replaces the per-pair fold cosine with one
    numpy gram matrix per cell (grouped applyInPandas — the
    semantic_dedup pairs_arrow discipline): the hot scale path (~5x at
    the 1M+100K XL point; fold cosines are interpreted). Same caveat
    as every BLAS twin — summation order can flip exact-threshold
    ties, so the fold path stays the test-pinned default. Mutually
    exclusive with ``shortlist``.

    Re-running the verdict is idempotent, INCLUDING after the batch was
    appended to the index (append_to_ivf_index): the batch's own rows
    enter ``assigned`` but `earlier < vec_id` excludes self-pairs and
    the min-aggregate dedups the doubled batch-side candidates, so the
    earlier-id set — and the verdict — is unchanged.

    Output: (vec_id, cell_id, kept, dup_of) for batch rows only.
    ``sort=False`` skips the closing presentation orderBy (the
    semantic_dedup convention, r14) — the day-2 pipeline consumes the
    verdicts via joins, so the batch-sized range shuffle is overhead.
    """
    from .pq import _dot, _subvectors, _vec_dim
    from .similarity import with_norm

    if refine_arrow and shortlist is not None:
        raise ValueError("refine_arrow and shortlist are mutually exclusive")
    spark = new_vectors.sparkSession
    idx = load_ivf_pq_index(spark, index_dir)
    assigned_new = _assign_cells(
        new_vectors, idx["centroids"], assign_arrow, vec_col
    ).localCheckpoint()  # batch-sized: reused by 3 consumers
    if refine_arrow:
        return _arrow_verdicts(
            corpus, new_vectors, idx, assigned_new, threshold, vec_col,
            sort=sort,
        )

    n = assigned_new.select("vec_id", "cell_id")
    cand_idx = (
        n.join(idx["assigned"].select(
            F.col("vec_id").alias("earlier_id"), "cell_id"), "cell_id")
        .filter(F.col("earlier_id") < F.col("vec_id"))
        .select("vec_id", "cell_id", "earlier_id")
    )
    if shortlist is not None:
        mm = idx["codebooks"].select(F.max("subspace")).first()[0] + 1
        dim = _vec_dim(new_vectors, vec_col)
        qsub = _subvectors(
            new_vectors.select("vec_id", vec_col), mm, dim, vec_col
        )
        scored = (
            cand_idx.join(
                idx["packed"].select(
                    F.col("vec_id").alias("earlier_id"),
                    "code_ids",
                    "rnorm2",
                ),
                "earlier_id",
            )
            .select(
                "vec_id",
                "cell_id",
                "earlier_id",
                "rnorm2",
                F.posexplode("code_ids").alias("subspace", "code_id"),
            )
            .join(qsub, ["vec_id", "subspace"])
            .join(F.broadcast(idx["codebooks"].select(
                "subspace", "code_id", "cv")), ["subspace", "code_id"])
            .groupBy("vec_id", "cell_id", "earlier_id", "rnorm2")
            .agg(F.sum(_dot("sv", "cv")).alias("adc_dot"))
            .withColumn(
                "adc_cos", F.col("adc_dot") / F.sqrt(F.col("rnorm2"))
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("adc_cos").desc(), F.col("earlier_id").asc()
        )
        cand_idx = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= shortlist)
            .select("vec_id", "cell_id", "earlier_id")
        )
    cand_new = (
        n.join(
            n.select(F.col("vec_id").alias("earlier_id"), "cell_id"),
            "cell_id",
        )
        .filter(F.col("earlier_id") < F.col("vec_id"))
        .select("vec_id", "cell_id", "earlier_id")
    )
    candidates = cand_idx.unionByName(cand_new)

    # exact refine: raw vectors of TOUCHED earlier ids only (semi-join
    # prune — the 100 TB corpus is read where candidates point, with
    # vec_id pushed to the scan), plus the batch's own raw rows
    touched = candidates.select(
        F.col("earlier_id").alias("vec_id")
    ).distinct()
    earlier_raw = (
        corpus.select("vec_id", vec_col)
        .join(touched, "vec_id", "left_semi")
        .unionByName(new_vectors.select("vec_id", vec_col))
    )
    ev = with_norm(earlier_raw, vec_col).select(
        F.col("vec_id").alias("earlier_id"),
        F.col("_v").alias("av"),
        F.col("_norm").alias("an"),
    )
    nv = with_norm(new_vectors, vec_col).select(
        "vec_id", F.col("_v").alias("bv"), F.col("_norm").alias("bn")
    )
    dups = (
        candidates.join(ev, "earlier_id")
        .join(nv, "vec_id")
        .filter(
            _dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
            >= threshold
        )
        .groupBy("vec_id")
        .agg(F.min("earlier_id").alias("dup_of"))
    )
    out = (
        assigned_new.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )
    return out.orderBy("vec_id") if sort else out


def _arrow_verdicts(
    corpus: DataFrame,
    new_vectors: DataFrame,
    idx: dict,
    assigned_new: DataFrame,
    threshold: float,
    vec_col: str,
    sort: bool = True,
) -> DataFrame:
    """refine_arrow path of :func:`incremental_semantic_dedup`: one
    numpy gram matrix per TOUCHED cell instead of per-pair fold
    cosines. Ships only the raw vectors of cells that received a new
    vector (semi-join pruned corpus read); per-cell memory is
    n_new x n_cell doubles — bounded by the same n_cells knob that
    bounds the fold path's candidate count."""
    import numpy as np
    import pandas as pd

    tau = float(threshold)
    cells = assigned_new.select("cell_id").distinct()
    refs = idx["assigned"].join(F.broadcast(cells), "cell_id", "left_semi")
    ref_raw = refs.join(corpus.select("vec_id", vec_col), "vec_id").select(
        "cell_id", "vec_id", F.col(vec_col).alias("vv"),
        F.lit(False).alias("is_new"),
    )
    new_raw = assigned_new.join(
        new_vectors.select("vec_id", vec_col), "vec_id"
    ).select(
        "cell_id", "vec_id", F.col(vec_col).alias("vv"),
        F.lit(True).alias("is_new"),
    )

    def prune(pdf):
        new_mask = pdf["is_new"].to_numpy().astype(bool)
        if not new_mask.any():
            return pd.DataFrame({"vec_id": [], "dup_of": []}).astype(
                {"vec_id": "int64", "dup_of": "int64"}
            )
        ids = pdf["vec_id"].to_numpy()
        V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["vv"]])
        V = V / np.linalg.norm(V, axis=1)[:, None]
        new_idx = np.where(new_mask)[0]
        sims = V[new_idx] @ V.T  # (n_new, n_cell)
        earlier = ids[None, :] < ids[new_idx][:, None]
        hit = (sims >= tau) & earlier
        out_ids, out_dup = [], []
        for r, i in enumerate(new_idx):
            js = np.where(hit[r])[0]
            if js.size:
                out_ids.append(ids[i])
                out_dup.append(ids[js].min())
        return pd.DataFrame({"vec_id": out_ids, "dup_of": out_dup}).astype(
            {"vec_id": "int64", "dup_of": "int64"}
        )

    dups = (
        ref_raw.unionByName(new_raw)
        .groupBy("cell_id")
        .applyInPandas(prune, "vec_id bigint, dup_of bigint")
    )
    out = (
        assigned_new.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )
    return out.orderBy("vec_id") if sort else out


# --- Whitened SemDeDup against the persisted index ---------------------------
# SemDeDup as published whitens before clustering (Abbas et al. 2023
# §3). For the INCREMENTAL path the whitening model is INDEX STATE,
# frozen at build time exactly like the coarse centroids and PQ
# codebooks: every later batch projects under the day-1 model, so
# verdicts keep the decomposition property (a batch verdict depends
# only on earlier members' positions in ONE fixed whitened space —
# retraining the model per day would silently move the space under
# the standing corpus).

def _write_whitening(index_dir: str, mean, components, eigenvalues) -> None:
    import pyarrow as pa
    import pyarrow.parquet as papq

    os.makedirs(index_dir, exist_ok=True)
    papq.write_table(
        pa.table(
            {
                "mean": pa.array([list(map(float, mean))],
                                 type=pa.list_(pa.float64())),
                "components": pa.array(
                    [[float(x) for row in components for x in row]],
                    type=pa.list_(pa.float64()),
                ),
                "eigenvalues": pa.array(
                    [list(map(float, eigenvalues))],
                    type=pa.list_(pa.float64()),
                ),
                "k": pa.array([len(eigenvalues)], type=pa.int32()),
                "dim": pa.array([len(mean)], type=pa.int32()),
            }
        ),
        os.path.join(index_dir, "whitening.parquet"),
    )


def load_whitening(index_dir: str):
    """(mean, components, eigenvalues) numpy arrays of the frozen
    whitening model, or None when the index was built unwhitened."""
    import numpy as np
    import pyarrow.parquet as papq

    path = os.path.join(index_dir, "whitening.parquet")
    if not os.path.exists(path):
        return None
    t = papq.read_table(path)
    mean = np.asarray(t.column("mean").to_pylist()[0], dtype=np.float64)
    k = t.column("k").to_pylist()[0]
    dim = t.column("dim").to_pylist()[0]
    comps = np.asarray(
        t.column("components").to_pylist()[0], dtype=np.float64
    ).reshape(k, dim)
    evals = np.asarray(
        t.column("eigenvalues").to_pylist()[0], dtype=np.float64
    )
    return mean, comps, evals


def _project_frozen(vectors: DataFrame, model, vec_col: str) -> DataFrame:
    from .similarity import pca_project

    mean, comps, evals = model
    return pca_project(vectors, mean, comps, evals, vec_col=vec_col).select(
        "vec_id", F.col("projected").alias("embedding")
    )


def build_whitened_ivf_pq_index(
    vectors: DataFrame,
    index_dir: str,
    k: int | None = None,
    vec_col: str = "embedding",
    **build_kw,
) -> None:
    """Train the PCA-whitening model on the corpus, persist it as index
    state (whitening.parquet), and build the IVF-PQ index over the
    WHITENED vectors. ``build_kw`` forwards to build_ivf_pq_index.

    The projection runs ONCE: the projected corpus is materialized as
    ``projected/batch=0`` — a first-class state table next to the
    packed codes — and every downstream training/encode/assign pass
    scans that parquet. Before r11 the lazy mapInPandas projection
    re-executed inside each consumer (k-means checkpoint, PQ train,
    encode, assign — ~4 corpus-wide projection passes per build; the
    76.2s-vs-45.8s XL gap the r10 verdict flagged). Persisting it also
    IS the daily-path state ``incremental_semantic_dedup_whitened``
    wants: the exact-refine scans projected vectors predicate-pushed
    on vec_id instead of re-projecting the corpus per batch."""
    from .similarity import pca_model

    spark = vectors.sparkSession
    dim = vectors.select(F.size(vec_col).alias("d")).first()["d"]
    mean, comps, evals = pca_model(vectors, dim, k or dim, vec_col=vec_col)
    _write_whitening(index_dir, mean, comps, evals)
    _project_frozen(vectors, (mean, comps, evals), vec_col).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/projected/batch=0")
    proj = (
        spark.read.option("basePath", f"{index_dir}/projected")
        .parquet(f"{index_dir}/projected/batch=0")
        .drop("batch")
    )
    build_ivf_pq_index(proj, index_dir, **build_kw)


def load_projected(spark: SparkSession, index_dir: str) -> DataFrame:
    """The whitened index's projected-corpus state table (all batches):
    (vec_id, embedding) in the frozen whitened space."""
    return (
        spark.read.option("basePath", f"{index_dir}/projected")
        .parquet(f"{index_dir}/projected")
        .drop("batch")
    )


def append_to_whitened_ivf_index(
    new_vectors: DataFrame,
    index_dir: str,
    batch_id: int,
    vec_col: str = "embedding",
    skip_indexed: bool = True,
    **kw,
) -> None:
    """append_to_ivf_index under the frozen whitening model, extending
    the ``projected/`` state table with the batch's whitened vectors
    (projected ONCE — the localCheckpoint serves encode, assign, and
    the projected write from one batch-sized materialization).

    Write order: packed/assigned first (via append_to_ivf_index),
    ``projected/batch=N`` LAST — the recrawl guard probes
    packed/assigned, so a doc must only appear in projected once the
    rows the guard sees are on disk (the dedup_index bands-vs-shingles
    ordering argument); a crash in between is completed by this
    batch's own replay (overwrite) and the half-written ids stay
    invisible to other batches' guards until then."""
    model = load_whitening(index_dir)
    if model is None:
        raise ValueError(
            f"{index_dir} has no whitening.parquet — built unwhitened?"
        )
    if not os.path.exists(os.path.join(index_dir, "projected", "batch=0")):
        # A whitened index built before projected/ became state (r11)
        # has packed codes only: projected vectors CANNOT be
        # reconstructed from them, and appending projected/batch=N
        # beside a missing batch=0 would make the daily corpus=None
        # dedup silently compare against post-upgrade batches alone
        # (missed duplicates, no error). Same explicit pre-upgrade
        # handling minhash_buckets gets in dedup_index.
        raise ValueError(
            f"{index_dir} has no projected/batch=0 state table — this "
            "whitened index predates projected-corpus state and must "
            "be rebuilt with build_whitened_ivf_pq_index before "
            "appending"
        )
    if skip_indexed:
        new_vectors = _drop_crossbatch_recrawls(
            new_vectors, index_dir, batch_id
        )
    proj = _project_frozen(new_vectors, model, vec_col).localCheckpoint()
    if not proj.take(1):
        # every id was a re-crawl — write nothing, consistently
        return
    append_to_ivf_index(
        proj, index_dir, batch_id=batch_id, skip_indexed=False, **kw
    )
    proj.write.mode("overwrite").parquet(
        f"{index_dir}/projected/batch={batch_id}"
    )


def incremental_semantic_dedup_whitened(
    corpus: DataFrame | None,
    new_vectors: DataFrame,
    index_dir: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    corpus_projected: bool = False,
    **kw,
) -> DataFrame:
    """incremental_semantic_dedup in the index's frozen whitened space:
    project the batch under the persisted model, then run the standard
    O(batch) verdict. Verdicts equal similarity.whitened_semantic_dedup
    over the cumulative corpus (with the same frozen model/centroids)
    restricted to the batch — the same decomposition the raw-space twin
    pins (tests/test_whitened_semdedup.py).

    ``corpus=None`` (the daily default since r11) reads the index's own
    ``projected/`` state table — build and append maintain it, so the
    refine's semi-join prune pushes vec_id straight to that parquet
    scan and NOTHING is re-projected but the batch. Passing a
    pre-projected table explicitly still works with
    ``corpus_projected=True``; passing RAW vectors
    (corpus_projected=False) projects them inline — correct, but the
    mapInPandas is a pushdown barrier, so that projection pass is
    O(corpus) per batch: fine for backfills, wrong as the daily path."""
    model = load_whitening(index_dir)
    if model is None:
        raise ValueError(
            f"{index_dir} has no whitening.parquet — built unwhitened?"
        )
    if corpus is None:
        corpus_w = load_projected(new_vectors.sparkSession, index_dir)
    elif corpus_projected:
        corpus_w = corpus.select("vec_id", F.col(vec_col).alias("embedding"))
    else:
        corpus_w = _project_frozen(corpus, model, vec_col)
    return incremental_semantic_dedup(
        corpus_w,
        _project_frozen(new_vectors, model, vec_col),
        index_dir,
        threshold=threshold,
        **kw,
    )
