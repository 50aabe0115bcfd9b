"""The composed "day-2" incremental ingest pipeline — one entry point
that runs the whole O(batch) daily chain against persisted state:

    curation gates (blocklist + cross-day per-domain cap)
      → clean funnel (language/quality gates + exact-fingerprint dedup
        vs the clean-corpus sink)
      → incremental MinHash near-dup pairs vs the persisted LSH index
        AND incremental semantic-dedup verdicts vs the persisted
        IVF-PQ index (both O(batch), never O(corpus))
      → cluster maintenance in O(affected)
        (operators/cluster_index.update_clusters)
      → index + raw-vector appends (so tomorrow's batch sees today's)
      → training-shard append with replay-stable offsets.

This is the engine's answer to the reference's daily orchestration DAG
(reference: airflow/dags/etl_daily_pipeline.py:348-412 — extract →
transform → quality-gate → load → aggregate, one task chain per day),
re-expressed for a 100 TB training-data corpus: every link touches
O(batch + affected-state) rows, every write is replay-idempotent, and
the composition is PROVEN equal to the full-rebuild twins bit-for-bit
(tests/test_day2_pipeline.py).

Semantics contracts (each pinned by its operator's own tests; the
composition test pins the whole chain):

- Curation cap is the STREAMING contract — first-batch-wins per host
  (streaming/curation_stream.cap_and_write_batch, the shared
  implementation): once a host's budget is spent by earlier days,
  later docs are dropped. Within one batch it equals the batch
  operator's globally-best-rank cap (test-pinned there).
- Exact dedup keeps the LOWEST doc_id per fingerprint across days
  (requires the batch-id/doc-id discipline below).
- Near-dup keep rule is CLUSTER-MIN over the cumulative edge set
  (MinHash pairs ∪ semantic dup_of edges), decided AS OF the batch's
  own day: a batch doc ships iff, under the mapping refreshed with
  the day's edges, its component contains no smaller doc_id. This
  decomposes day-by-day because components only grow and both edge
  generators emit exactly the full-corpus edges restricted to edges
  involving the batch — so each day's verdicts are bit-identical to
  the one-shot rebuild's verdicts for that day's docs. The one
  declared divergence (the immutable-sink contract, same family as
  the streaming curation cap): a LATER day's merge can dethrone an
  already-shipped keeper, and written shards are never retracted —
  the pipeline only ever OVER-keeps relative to a one-shot rebuild,
  never under-keeps (quantified in tests/test_day2_pipeline.py; the
  offline remedy ships as sources/shards.compact_training_shards —
  re-decide every shipped doc under the current mapping and repack
  into a fresh epoch directory, pinned equal to the one-shot
  rebuild's keeps in TestShardCompaction).
- Containment (the optional third arm) is ORIENTATION-AWARE: its
  pairs are directional (inner contained in outer), so they never
  enter the cluster mapping — the keep rule is q163's keep-longest
  (operators/dedup.keep_longest_drops): the inner side drops, the
  superset survives, mutual containment falls back to min-id. A batch
  doc named as inner drops before shipping; a STANDING doc named as
  inner (its superset arrived later) is dethroned — already shipped,
  never retracted in place — and its (doc_id, container) row persists
  under containment_drops/batch=N for compaction
  (sources/shards.compact_training_shards's containment_drops_path)
  to re-decide, the same dethrone-to-compaction remedy the cluster
  arm uses.
- The INDEXES (and the raw-vector state) absorb ALL clean survivors,
  kept or not — both incremental dedup contracts condition on
  "earlier member", not "earlier KEPT member" (that is what makes
  their verdicts decompose); the SHARDS get only kept docs.

Discipline: batches append in increasing batch_id order and doc_ids /
vec_ids are globally unique and increase across days (the same
assumption every incremental operator documents — "earlier" means
"smaller id").

State layout under ``state_dir``::

    _config.json        pipeline parameters, written at bootstrap;
                        later days must match (mismatched LSH/PQ
                        params would silently corrupt verdicts)
    curated/            batch=N partitions (curation-stream protocol)
    clean_documents/    append_dedup sink keyed on fingerprint
    vectors/            batch=N raw survivor vectors (refine source)
    minhash_index/      bands/ + shingles/ (dedup_index)
    ann_index/          centroids/codebooks/packed/assigned (ann_index)
    clusters/           versioned snapshots + _CURRENT pointer (the
                        pointed version and the one it replaced)
    containment_drops/  batch=N oriented (doc_id, container) drop rows
                        (containment arm only; compaction input)
    shards/             batch=N/shard=M packed training chunks

100 TB posture: per day the chain runs a constant number of
batch-keyed shuffles plus the documented O(batch)/O(affected) index
probes; no stage rescans the standing corpus (the only corpus-side
reads are semi-join-pruned: touched shingles, touched raw vectors,
affected cluster components, host-grain cap counts). As of r11 the
MinHash index is BUCKETED BY DEFAULT (``minhash_buckets`` config, 32):
bands bucketed on (band_idx, bh), shingles on doc_id, so the daily
bands join and the shingle probes read the index side with NO Exchange
— only the batch side shuffles — which removed the last
corpus-proportional shuffle in the chain. The metastore objection that
kept this out of r10 is solved by
dedup_index.register_minhash_tables: each session re-attaches the
bucketed directories via CREATE TABLE IF NOT EXISTS (schema derived
from the parquet footers, spec pinned by the stored config), so no
metastore needs to outlive the session. ``minhash_buckets=0`` opts
back into plain parquet; state dirs bootstrapped before r11 carry no
``minhash_buckets`` key and keep reading their plain layout — the
physical layout is index state, pinned at bootstrap like every other
config knob, so a later override of it on such a dir raises.
"""

from __future__ import annotations

import hashlib
import json
import os
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import dedup, similarity
from ..operators.ann_index import (
    _read_index,
    append_to_ivf_index,
    build_ivf_pq_index,
    incremental_semantic_dedup,
)
from ..operators.cluster_index import read_clusters, update_clusters
from ..operators.dedup_index import (
    _read_shingles,
    append_to_index,
    build_minhash_index,
    incremental_dedup,
    register_minhash_tables,
)
from ..sources.shards import append_training_batch
from ..sources.sinks import append_dedup, counted
from ..streaming.corpus_stream import clean_document_stream
from ..streaming.curation_stream import cap_and_write_batch
from .branches import run_branches, timed

_CONFIG = "_config.json"

_DEFAULTS = dict(
    domain_cap=1000,
    num_hashes=64,
    bands=32,
    shingle_n=3,
    jaccard_threshold=0.8,
    cosine_threshold=0.95,
    minhash_buckets=32,
    n_cells=16,
    m=4,
    codes=16,
    n_shards=8,
    pack_budget=512,
    # optional third dedup arm: snippet/boilerplate-wrapped SUBSET
    # duplication (Broder containment — what Jaccard and cosine both
    # structurally dilute). Off by default; pinned at bootstrap like
    # every knob (operators/containment_index.py). Shares shingle_n
    # and the MinHash index's shingle table as postings.
    containment=False,
    containment_threshold=0.9,
    containment_k=8,
    containment_min_hits=1,
    containment_max_df=1000,
)


def _load_or_init_config(state_dir: str, overrides: dict) -> dict:
    """Bootstrap writes the config; later days LOAD it and refuse
    overrides that disagree — LSH band structure, shingle width, PQ
    geometry and thresholds are index state, not per-run knobs (a
    mismatch would silently produce wrong verdicts, the worst failure
    mode a dedup pipeline has). An override of a knob the stored config
    lacks (a dir bootstrapped before the knob existed) is a mismatch
    too: the stored state keeps the knob's pre-existing behaviour. A
    key that is not a config knob raises as well: stored at bootstrap
    and ignored by every later day, a misspelt or retired knob would
    otherwise vanish silently."""
    unknown = sorted(set(overrides) - set(_DEFAULTS))
    if unknown:
        raise ValueError(
            f"unknown day-2 config keys {unknown}; known keys: "
            f"{sorted(_DEFAULTS)}"
        )
    path = os.path.join(state_dir, _CONFIG)
    if os.path.exists(path):
        with open(path) as fh:
            cfg = json.load(fh)
        clash = {
            k: (v, cfg.get(k, "<absent>"))
            for k, v in overrides.items()
            if k not in cfg or cfg[k] != v
        }
        if clash:
            raise ValueError(
                f"pipeline config mismatch vs {path}: {clash} — index "
                "state was built under the stored parameters; rebuild "
                "the state to change them"
            )
        return cfg
    cfg = dict(_DEFAULTS, **overrides)
    os.makedirs(state_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cfg, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return cfg


def _minhash_table_prefix(state_dir: str) -> str:
    """Catalog-unique table prefix for a state dir: the bucketed index
    tables are per-pipeline-instance, and several instances (tests,
    parallel pipelines) share one session catalog."""
    h = hashlib.md5(os.path.abspath(state_dir).encode()).hexdigest()[:10]
    return f"day2_mh_{h}"


def _survivor_batch(
    spark: SparkSession,
    clean_path: str,
    schema: StructType,
    curated: DataFrame,
) -> DataFrame:
    """Clean survivors OF THIS BATCH: sink rows whose doc_id belongs to
    the batch's curated partition. Reading the SINK back (not the lazy
    funnel frame) makes replays see exactly what was committed. The
    append just changed the sink's files, so it is read afresh, with
    ``schema``, the schema of the rows the sink is written from."""
    clean = spark.read.schema(schema).parquet(clean_path)
    # the semi-join reorders columns doc_id-first; restore the sink's
    # own order so shard files inherit ONE stable column order
    return clean.join(
        curated.select("doc_id"), "doc_id", "left_semi"
    ).select(*clean.columns)


def run_day2_ingest(
    docs: DataFrame,
    vectors: DataFrame,
    state_dir: str,
    batch_id: int,
    **overrides,
) -> dict:
    """Ingest one daily batch; returns the audit summary.

    ``docs``: (doc_id, text, lang, source, ...) — the day's crawl.
    ``vectors``: (vec_id, embedding) with vec_id == doc_id — the day's
    embeddings (every doc that can survive the clean funnel must have
    one; missing coverage raises rather than silently skipping the
    semantic arm).

    ``overrides`` are pipeline config keys (``_DEFAULTS``); any other
    key raises ``ValueError``. Every arm runs the operators' DataFrame
    folds; the retired Arrow/numpy execution twins of the semantic and
    MinHash arms read with
    ``git show 44b50ce:etl_data_warehouse_spark/plans/day2_pipeline.py``.

    Re-running a day (crash replay) is a no-op for every sink; see the
    module docstring for the contracts. Day 1 (no state yet)
    bootstraps: builds both indexes from the day's survivors and runs
    the FULL batch operators (minhash_lsh_pairs / semantic_dedup under
    the just-trained frozen centroids) — exactly what the incremental
    operators reduce to on an empty index.

    Steps with no data dependency run as concurrent branches
    (plans/branches.py). After curation and the clean funnel (1 → 2):

    - the MinHash arm (3a, then the optional containment arm 3c) beside
      the semantic arm (3b), which both only read the indexes;
    - then, once every arm is done, three branches that touch disjoint
      state dirs: cluster maintenance → keep verdicts → shard append
      (4 → 5 → 7); the MinHash (and containment) index append; and
      the IVF-PQ index append followed by the raw-vector write. The
      last two make up stage 6.

    The appends never overlap the index probes. ``stage_sec`` maps each
    stage to its own wall time in seconds, so stages on different
    branches overlap and the values can add up to more than the call's
    wall time. Every Spark job the call starts is tagged
    ``sparkhouse.stage.<stage>`` (``branches.timed``).

    Every audit count rides on a write or checkpoint that runs anyway
    (an ``Observation``), and each state directory whose schema the
    day already holds is read with that schema, so neither costs a job
    of its own. Keep verdicts (5) only plan: the shard append's
    write runs them."""
    spark = docs.sparkSession
    sc = spark.sparkContext
    cfg = _load_or_init_config(
        state_dir, {k: v for k, v in overrides.items() if v is not None}
    )
    stage_sec: dict[str, float] = {}

    # --- 1. curation gates: blocklist + cross-day per-domain cap ------
    with timed(sc, stage_sec, "curation"):
        docs, ingested = counted(docs)
        # hosted_unblocked runs inside cap_and_write_batch's shared
        # stream twin; here the batch frame must already carry host —
        # reuse the stream's stateless half so the two entry points
        # cannot diverge.
        batch = _curate_stateless(docs)
        n_curated = cap_and_write_batch(
            spark, batch, state_dir, batch_id, cfg["domain_cap"]
        )
        n_ingested = ingested()
        # the partition was just written from ``batch``: no inference
        curated = spark.read.schema(batch.schema).parquet(
            os.path.join(state_dir, "curated", f"batch={batch_id}")
        )

    # --- 2. clean funnel + exact-fingerprint dedup vs the sink --------
    with timed(sc, stage_sec, "clean_funnel"):
        cleaned = clean_document_stream(curated)
        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        canonical = (
            cleaned.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        clean_path = os.path.join(state_dir, "clean_documents")
        append_dedup(spark, canonical, clean_path, keys=["fingerprint"])
        # Checkpointed, as is batch_vecs: the arms, the appends and the
        # keep verdicts read them, each in its own action.
        survivors, surv_count = counted(
            _survivor_batch(spark, clean_path, canonical.schema, curated)
        )
        survivors = survivors.localCheckpoint()
        n_survivors = surv_count()
        batch_vecs, vec_count = counted(
            vectors.join(
                survivors.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
        )
        batch_vecs = batch_vecs.localCheckpoint()
        n_vecs = vec_count()
        if n_vecs != n_survivors:
            raise ValueError(
                "every clean survivor needs an embedding: "
                f"{n_survivors} survivors vs {n_vecs} vectors"
            )

    minhash_dir = os.path.join(state_dir, "minhash_index")
    ann_dir = os.path.join(state_dir, "ann_index")
    vec_dir = os.path.join(state_dir, "vectors")
    ct_dir = os.path.join(state_dir, "containment_index")
    bootstrap = not os.path.isdir(minhash_dir)
    mh_kw = dict(
        num_hashes=cfg["num_hashes"],
        bands=cfg["bands"],
        n=cfg["shingle_n"],
    )
    # Bucketed index layout (the default): Exchange-free index-side
    # joins; pre-r11 state dirs carry no key and stay plain parquet.
    mh_buckets = int(cfg.get("minhash_buckets", 0)) or None
    mh_prefix = _minhash_table_prefix(state_dir) if mh_buckets else None

    def containment_arm(sh_batch: DataFrame | None) -> DataFrame:
        """3c, the optional containment arm: the batch's oriented
        (doc_id, container) drop rows vs the persisted containment
        index, persisted under containment_drops/batch=N."""
        ct_kw = dict(
            threshold=cfg["containment_threshold"],
            n=cfg["shingle_n"],
            k=cfg["containment_k"],
            min_hits=cfg["containment_min_hits"],
            max_df=cfg["containment_max_df"],
        )
        if bootstrap:
            cpairs = dedup.containment_pairs_indexed(
                survivors, sketch_df_filter=False, **ct_kw
            )
        else:
            if not os.path.isdir(ct_dir):
                raise ValueError(
                    f"{ct_dir} missing: the containment arm is pinned "
                    "at bootstrap — rebuild the state dir to enable it"
                )
            from ..operators.containment_index import (
                incremental_containment,
                register_containment_tables,
            )

            if mh_buckets:
                register_containment_tables(
                    spark, ct_dir, mh_prefix, mh_buckets
                )
            cpairs = incremental_containment(
                spark,
                survivors,
                _read_shingles(
                    spark, minhash_dir,
                    f"{mh_prefix}_shingles" if mh_prefix else None,
                ),
                ct_dir,
                sketches_table=(
                    f"{mh_prefix}_ctsketches" if mh_prefix else None
                ),
                df_table=f"{mh_prefix}_ctdf" if mh_prefix else None,
                exclude_batch_id=batch_id,
                shingles=sh_batch,
                **ct_kw,
            )
        # Orientation-aware keep verdicts (q163's keep-longest rule,
        # r12 verdict task #2): containment pairs are DIRECTIONAL —
        # the inner (contained) side drops, the superset survives,
        # mutual containment falls back to min-id — so they are NOT
        # equivalence edges and never enter the Jaccard/semantic
        # cluster mapping (symmetrizing them fed the cluster-min rule,
        # which kept the SNIPPET whenever it had the smaller id — the
        # exact inverse of the correct containment verdict).
        ct_drops = (
            dedup.keep_longest_drops(cpairs)
            .select("doc_id", "container")
            .localCheckpoint()
        )
        # Persist the oriented drops per batch (overwrite-by-batch,
        # replay-idempotent like every other state append). Batch docs
        # named here drop TODAY (keep verdicts); STANDING docs named here
        # are DETHRONED — they already shipped, the immutable sink never
        # retracts, and compaction (compact_training_shards with
        # containment_drops_path) re-decides them, exactly the
        # dethrone-to-compaction remedy the cluster arm uses.
        ct_drops.write.mode("overwrite").parquet(
            os.path.join(state_dir, "containment_drops", f"batch={batch_id}")
        )
        return ct_drops

    def minhash_arm():
        """3a, then 3c: returns (pairs, sh_batch, bt_batch, ct_drops)."""
        # The batch's hashed shingles and band rows are computed ONCE
        # here and fed to every consumer — the MinHash probe, the
        # containment probe, and both index appends (r12 task #3/#6:
        # each used to re-shingle and re-sign the batch independently).
        sh_batch = bt_batch = None
        with timed(sc, stage_sec, "minhash_pairs"):
            if bootstrap:
                pairs = dedup.minhash_lsh_pairs(
                    survivors, threshold=cfg["jaccard_threshold"], **mh_kw
                )
            else:
                if mh_buckets:
                    register_minhash_tables(
                        spark, minhash_dir, mh_prefix, mh_buckets
                    )
                # checkpointed: the probe here and the index append
                # later read both, in separate actions
                sh_batch = dedup.hashed_shingles(
                    survivors, cfg["shingle_n"]
                ).localCheckpoint()
                bt_batch = dedup.band_table(
                    sh_batch, cfg["num_hashes"], cfg["bands"]
                ).localCheckpoint()
                pairs = incremental_dedup(
                    spark,
                    survivors,
                    minhash_dir,
                    threshold=cfg["jaccard_threshold"],
                    bands_table=f"{mh_prefix}_bands" if mh_prefix else None,
                    shingles_table=(
                        f"{mh_prefix}_shingles" if mh_prefix else None
                    ),
                    shingles=sh_batch,
                    bands_df=bt_batch,
                    **mh_kw,
                )
            # checkpointed: the probe runs here, on this branch, rather
            # than inside cluster maintenance's action
            pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
        if not cfg.get("containment"):
            return pairs, sh_batch, bt_batch, None
        with timed(sc, stage_sec, "containment_pairs"):
            ct_drops = containment_arm(sh_batch)
        return pairs, sh_batch, bt_batch, ct_drops

    def semantic_arm() -> tuple[DataFrame, dict | None]:
        """3b: the semantic dup edges (dup_of, vec_id), and the IVF-PQ
        index state read for the probe (None at bootstrap), which the
        IVF append reuses."""
        ann_state = None
        with timed(sc, stage_sec, "semantic_verdicts"):
            if bootstrap:
                build_ivf_pq_index(
                    batch_vecs,
                    ann_dir,
                    n_cells=cfg["n_cells"],
                    m=cfg["m"],
                    codes=cfg["codes"],
                    pq_train_limit=None,
                )
                cents = spark.read.parquet(os.path.join(ann_dir, "centroids"))
                verdicts = similarity.semantic_dedup(
                    batch_vecs,
                    threshold=cfg["cosine_threshold"],
                    centroids=cents,
                    sort=False,  # verdicts feed joins; order is cosmetic
                )
            else:
                ann_state = _read_index(spark, ann_dir)
                # every batch=N file holds the vectors frame's columns
                standing = (
                    spark.read.schema(vectors.schema)
                    .option("basePath", vec_dir)
                    .parquet(vec_dir)
                    .filter(F.col("batch") < batch_id)
                    .drop("batch")
                )
                verdicts = incremental_semantic_dedup(
                    standing,
                    batch_vecs,
                    ann_dir,
                    threshold=cfg["cosine_threshold"],
                    sort=False,
                    index=ann_state,
                )
            # checkpointed: the probe runs here, on this branch, rather
            # than inside cluster maintenance's action
            edges = (
                verdicts.filter(~F.col("kept"))
                .select(
                    F.col("dup_of").alias("doc_a"),
                    F.col("vec_id").alias("doc_b"),
                )
                .localCheckpoint()
            )
        return edges, ann_state

    (pairs, sh_batch, bt_batch, ct_drops), (sem_edges, ann_state) = (
        run_branches(spark, minhash_arm, semantic_arm)
    )

    def verdicts_and_shards() -> tuple[int, int, int]:
        """4 → 5 → 7: returns (n_edges, n_ct_dropped, n_kept)."""
        # --- 4. cluster maintenance (O(affected)) ----------------------
        with timed(sc, stage_sec, "cluster_maintenance"):
            # checkpointed: update_clusters reads the edges in two
            # actions (components, then the version write)
            edges, edge_count = counted(
                pairs.unionByName(sem_edges).distinct()
            )
            edges = edges.localCheckpoint()
            n_edges = edge_count()
            clusters_dir = os.path.join(state_dir, "clusters")
            if n_edges:
                mapping = update_clusters(edges, clusters_dir)
            else:
                mapping = read_clusters(spark, clusters_dir)

        # --- 5. keep verdicts: cluster-min over the cumulative edges ---
        # The mapping is corpus-dup-sized; restrict it to THIS batch's
        # docs first (semi-join on the batch — O(batch) rows survive)
        # so the anti-join side is batch-bounded and broadcastable.
        with timed(sc, stage_sec, "keep_verdicts"):
            dropped = None
            if mapping is not None:
                dropped = (
                    mapping.join(
                        survivors.select("doc_id"), "doc_id", "left_semi"
                    )
                    .filter(F.col("component") != F.col("doc_id"))
                    .select("doc_id")
                )
            n_ct_dropped = 0
            if ct_drops is not None:
                # batch docs that are the INNER of a containment pair
                # drop now (q163's rule); standing docs in ct_drops wait
                # for compaction
                ct_batch = ct_drops.join(
                    survivors.select("doc_id"), "doc_id", "left_semi"
                ).select("doc_id")
                n_ct_dropped = ct_batch.count()
                dropped = (
                    ct_batch
                    if dropped is None
                    else dropped.unionByName(ct_batch).distinct()
                )
            if dropped is not None:
                kept = survivors.join(
                    F.broadcast(dropped), "doc_id", "left_anti"
                )
            else:
                kept = survivors
            # no checkpoint: the shard write runs the verdicts, and
            # their count rides on it
            kept, kept_count = counted(kept)

        # --- 7. training-shard append (kept docs only) ------------------
        with timed(sc, stage_sec, "shard_append"):
            append_training_batch(
                kept,
                os.path.join(state_dir, "shards"),
                batch_id,
                n_shards=cfg["n_shards"],
                budget=cfg["pack_budget"],
            )
        return n_edges, n_ct_dropped, kept_count()

    # --- 6. index + raw-vector appends (ALL survivors) -----------------
    # Two branches, one per state family, each independently idempotent:
    # the MinHash (and containment) index, and the IVF-PQ index plus the
    # raw vectors. Within a branch the operators keep their own
    # documented crash ordering.
    def minhash_appends() -> None:
        if bootstrap:
            build_minhash_index(
                survivors, minhash_dir,
                buckets=mh_buckets, table_prefix=mh_prefix, **mh_kw,
            )
            if cfg.get("containment"):
                from ..operators.containment_index import (
                    build_containment_index,
                )

                build_containment_index(
                    survivors, ct_dir,
                    n=cfg["shingle_n"], k=cfg["containment_k"],
                    max_df=cfg["containment_max_df"],
                    buckets=mh_buckets, table_prefix=mh_prefix,
                )
            return
        # both appends consume the probe stage's sh_batch/bt_batch —
        # zero re-shingling, zero re-signing
        append_to_index(
            survivors, minhash_dir,
            buckets=mh_buckets, table_prefix=mh_prefix,
            shingles=sh_batch, bands_df=bt_batch, **mh_kw,
        )
        if cfg.get("containment"):
            from ..operators.containment_index import (
                append_to_containment_index,
            )

            append_to_containment_index(
                survivors, ct_dir, batch_id=batch_id,
                n=cfg["shingle_n"], k=cfg["containment_k"],
                max_df=cfg["containment_max_df"],
                buckets=mh_buckets, table_prefix=mh_prefix,
                shingles=sh_batch,
            )

    def vector_appends() -> None:
        if not bootstrap:
            append_to_ivf_index(
                batch_vecs, ann_dir, batch_id=batch_id, index=ann_state
            )
        batch_vecs.write.mode("overwrite").parquet(
            os.path.join(vec_dir, f"batch={batch_id}")
        )

    def index_appends() -> None:
        with timed(sc, stage_sec, "index_appends"):
            run_branches(spark, minhash_appends, vector_appends)

    (n_edges, n_ct_dropped, n_kept), _ = run_branches(
        spark, verdicts_and_shards, index_appends
    )
    return {
        "batch_id": batch_id,
        "bootstrap": bootstrap,
        "records_ingested": n_ingested,
        "curation_dropped": n_ingested - n_curated,
        "clean_survivors": n_survivors,
        "near_dup_edges": n_edges,
        "containment_dropped": n_ct_dropped,
        "kept_docs": n_kept,
        "stage_sec": stage_sec,
        "status": "SUCCESS",
    }


def _curate_stateless(docs: DataFrame) -> DataFrame:
    from ..streaming.curation_stream import curated_document_stream

    return curated_document_stream(docs)
