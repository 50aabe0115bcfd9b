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

Quantizer state is trained at build time and never touched by appends
(periodic retraining is an offline REBUILD, the standard production
cadence); per batch the cost is O(batch) encode + assign.

Crash-safety of appends (the lesson from dedup_index's
write-order analysis): each batch writes into its OWN ``batch=N``
subdirectories with mode=overwrite, so a replayed batch rewrites
byte-identical content instead of appending duplicates — duplicate
packed/assigned rows would double-score candidates in the ADC scan,
so append-mode idempotency-by-guard is NOT enough here. The
re-crawl guard exists for CROSS-batch re-crawls (an id resubmitted in
a later batch) and probes the UNION of both tables' ids: an id left
half-written by a crashed batch K is skipped by later batches (K's
replay completes it via overwrite) yet never lost.

Reference parity: none (the reference has no vector search); this is
the brief's training-data extension, composed from public methods
(Jégou et al. 2011 IVFADC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.sinks import counted
from .pq import (
    ivfadc_topk,
    pack_codes,
    pq_encode,
    train_pq_codebooks,
)
from .similarity import kmeans_centroids, rank_cells, with_norm


def _assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str,
) -> DataFrame:
    from .pq import _dot

    # Pure assignment: cosine RANKING per row is invariant to the
    # row's own norm (it scales every cell's score equally), so vn is
    # pinned to 1.0 instead of paying the interpreted norm fold over
    # the whole corpus. Only (vid, cell_id) is read, so Catalyst prunes
    # vv/vn from rank_cells' Generate output.
    para = vectors.sparkSession.sparkContext.defaultParallelism
    v = vectors.repartition(para, "vec_id").select(
        F.col("vec_id").alias("vid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vv"),
        F.lit(1.0).alias("vn"),
    )
    cents = centroids.select(
        "cell_id", "cv", F.sqrt(_dot("cv", "cv")).alias("cn")
    )
    return rank_cells(v, cents, 1).select(
        F.col("vid").alias("vec_id"), "cell_id"
    )


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
    vec_col: str = "embedding",
) -> None:
    """Train quantizer state on the corpus (PQ codebooks on the
    ``pq_train_limit`` lowest vec_ids — Lloyd's cost is linear in the
    training set; subsampling is standard practice) and persist state
    plus the encoded corpus as batch 0.

    ``coarse_train_limit`` subsamples coarse-quantizer TRAINING the
    same way (the FAISS max_points_per_centroid move — ~64-256 points
    per cell train centroids as good as the full corpus; the FULL
    corpus is still assigned afterwards). Training, encoding and
    assignment run the DataFrame folds only; the retired numpy
    trainer and Arrow encode/assign twins read with
    ``git show 44b50ce:etl_data_warehouse_spark/operators/ann_index.py``
    (and ``.../operators/pq.py``)."""
    train_c = vectors
    if coarse_train_limit is not None:
        train_c = vectors.orderBy("vec_id").limit(coarse_train_limit)
    cents = kmeans_centroids(
        train_c,
        n_cells=n_cells,
        max_iterations=coarse_iterations,
        vec_col=vec_col,
    )
    train = vectors
    if pq_train_limit is not None:
        train = vectors.orderBy("vec_id").limit(pq_train_limit)
    books = train_pq_codebooks(
        train, m=m, codes=codes, max_iterations=pq_iterations,
        vec_col=vec_col,
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    books.write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    packed = pack_codes(pq_encode(vectors, books, vec_col=vec_col), books)
    assigned = _assign_cells(vectors, cents, vec_col)
    packed.write.mode("overwrite").parquet(f"{index_dir}/packed/batch=0")
    assigned.write.mode("overwrite").parquet(f"{index_dir}/assigned/batch=0")


def _read_index(spark: SparkSession, index_dir: str) -> dict:
    """Index state as DataFrames, each directory listed and its schema
    inferred once. `packed`/`assigned` span all batches and keep their
    `batch` partition column, which the re-crawl guard filters on. A
    frame lists its files when it is read, so a day that probes the
    index and then appends to it reads the state once, before either,
    and passes it to both (``index=``)."""
    def batched(name: str) -> DataFrame:
        path = f"{index_dir}/{name}"
        return spark.read.option("basePath", path).parquet(path)

    return {
        "centroids": spark.read.parquet(f"{index_dir}/centroids"),
        "codebooks": spark.read.parquet(f"{index_dir}/codebooks"),
        "packed": batched("packed"),
        "assigned": batched("assigned"),
    }


def load_ivf_pq_index(spark: SparkSession, index_dir: str) -> dict:
    """Index state as DataFrames; `packed`/`assigned` span all batches."""
    return {
        k: df.drop("batch") for k, df in _read_index(spark, index_dir).items()
    }


def _drop_crossbatch_recrawls(
    new_vectors: DataFrame, idx: dict, batch_id: int
) -> DataFrame:
    """The re-crawl guard: anti-join ids already in packed OR
    assigned of any OTHER batch — re-crawled ids across batches drop,
    while this batch's own earlier (possibly partial) write is excluded
    so a replay always re-encodes the full batch and the overwrite
    completes it."""
    other = F.col("batch") != batch_id
    seen = (
        idx["packed"].filter(other).select("vec_id")
        .unionByName(idx["assigned"].filter(other).select("vec_id"))
        .distinct()
    )
    return new_vectors.join(seen, "vec_id", "left_anti")


def append_to_ivf_index(
    new_vectors: DataFrame,
    index_dir: str,
    batch_id: int,
    vec_col: str = "embedding",
    index: dict | None = None,
) -> None:
    """Encode + assign a new batch under the FROZEN quantizer state and
    persist it as ``batch=batch_id`` (overwrite → replay-idempotent;
    see module docstring for why append-mode would corrupt the scan).
    The re-crawl guard (``_drop_crossbatch_recrawls``) first drops ids
    already indexed by any OTHER batch. ``index``: this index's state
    from ``_read_index`` when the caller already read it today."""
    spark = new_vectors.sparkSession
    idx = index or _read_index(spark, index_dir)
    # checkpointed: both writes below read the guarded batch; its row
    # count rides on the checkpoint
    new_vectors, n_new = counted(
        _drop_crossbatch_recrawls(new_vectors, idx, batch_id)
    )
    new_vectors = new_vectors.localCheckpoint()
    if not n_new():
        # every id was a re-crawl — nothing to encode, and writing
        # nothing keeps the batch dirs absent consistently on replay
        return
    packed = pack_codes(
        pq_encode(new_vectors, idx["codebooks"], vec_col=vec_col),
        idx["codebooks"],
    )
    assigned = _assign_cells(new_vectors, idx["centroids"], vec_col)
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
    )


def incremental_semantic_dedup(
    corpus: DataFrame,
    new_vectors: DataFrame,
    index_dir: str,
    threshold: float = 0.95,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    sort: bool = True,
    index: dict | None = None,
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

    Re-running the verdict is idempotent, INCLUDING after the batch was
    appended to the index (append_to_ivf_index): the batch's own rows
    enter ``assigned`` but `earlier < vec_id` excludes self-pairs and
    the min-aggregate dedups the doubled batch-side candidates, so the
    earlier-id set — and the verdict — is unchanged.

    Output: (vec_id, cell_id, kept, dup_of) for batch rows only.
    ``sort=False`` skips the closing presentation orderBy (the
    semantic_dedup convention, r14) — the day-2 pipeline consumes the
    verdicts via joins, so the batch-sized range shuffle is overhead.
    ``index``: this index's state from ``_read_index`` when the caller
    already read it today.
    """
    from .pq import _dot, _subvectors, _vec_dim
    from .similarity import with_norm

    spark = new_vectors.sparkSession
    idx = index or _read_index(spark, index_dir)
    assigned_new = _assign_cells(
        new_vectors, idx["centroids"], vec_col
    ).localCheckpoint()  # batch-sized: reused by 3 consumers

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
