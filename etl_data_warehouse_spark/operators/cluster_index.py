"""Incremental near-duplicate CLUSTER maintenance — the last link of
the O(batch) daily dedup chain.

The incremental pair generators (dedup_index.incremental_dedup for
MinHash, ann_index.incremental_semantic_dedup for embeddings) emit the
day's new EDGES; the keep/drop decision needs CLUSTERS (q59 semantics:
transitively-closed groups labeled by their minimum doc_id). Re-running
connected components over the cumulative pair set is O(history) per
day; this module maintains the (doc_id, component) mapping as persisted
state updated in O(affected):

1. the new pairs' docs look up their current components;
2. ONLY the affected components' members are pulled from state
   (component-key semi-join — predicate-pushable);
3. each old component is collapsed to STAR edges (member -> old rep),
   which preserve exactly its connectivity without replaying history;
4. connected components run on new-pairs ∪ star-edges — a subgraph
   sized by the affected components, not the corpus;
5. the refreshed mapping commits as a new snapshot version, and every
   version but the one it replaces is deleted.

Persistence follows the CLAUDE.md mutable-state rule (the CDC snapshot
protocol): each version is its own directory, ``_CURRENT`` is swapped
with ``os.replace`` (atomic on POSIX), a failed write can never
destroy the pointed version, and an unreadable POINTED version raises
(corruption), while a missing pointer means "empty state". A new
version is named after the highest existing one, so names are never
reused once old versions are gone. After the swap the state keeps two
versions: the new one and the one it replaced, which a reader that
opened it before the swap may still be scanning. A crash before the
delete only leaves extra versions, which the next commit deletes.

Replay idempotence needs no bookkeeping: edges are idempotent for CC —
re-applying a batch whose pairs are already reflected in the state
recomputes the identical mapping (test-pinned).

100 TB posture: the COMPUTE is O(batch + affected-component members)
— near-dup components are small quasi-cliques, so affected size tracks
the batch. Each version rewrites the full doc-grain mapping (the same
trade the CDC snapshot store makes), so the state holds at most two
mappings whatever the number of days; the delta design when
the mapping itself is petabyte-scale is doc_id-bucketed state with
per-version overwrite of touched buckets only — doc rows never change
bucket, so untouched buckets carry forward by reference.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import connected_components

_POINTER = "_CURRENT"


def _pointed(state_path: str) -> str | None:
    pointer = os.path.join(state_path, _POINTER)
    if not os.path.exists(pointer):
        return None
    with open(pointer) as fh:
        return fh.read().strip()


def read_clusters(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Current (doc_id, component) mapping, or None when no state has
    ever been committed. An existing pointer naming an unreadable
    version RAISES — that is corruption, not emptiness."""
    version = _pointed(state_path)
    if version is None:
        return None
    path = os.path.join(state_path, version)
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # noqa: BLE001 — re-raise with context
        raise RuntimeError(
            f"cluster state pointer names unreadable version {path!r}; "
            "refusing to treat corruption as empty state"
        ) from exc


def update_clusters(
    new_pairs: DataFrame,
    state_path: str,
    max_iterations: int = 50,
) -> DataFrame:
    """Fold a batch of near-dup pairs (doc_a, doc_b) into the persisted
    cluster mapping; commits a new version and returns the full
    refreshed (doc_id, component) mapping. Component ids are the
    cluster-minimum doc_id over ALL pairs ever seen — identical to
    connected_components over the cumulative edge set (test-pinned,
    including the cluster-MERGE case).

    ``new_pairs`` is read by the components run and again by the
    version write, so pass a materialized frame (a checkpoint or a
    table); the pointed version the state is read from is immutable,
    so it needs no checkpoint of its own."""
    spark = new_pairs.sparkSession
    os.makedirs(state_path, exist_ok=True)
    pairs = new_pairs.select(
        F.col("doc_a").cast("long").alias("src"),
        F.col("doc_b").cast("long").alias("dst"),
    )

    previous = _pointed(state_path)
    state = read_clusters(spark, state_path)
    if state is None:
        refreshed = connected_components(
            pairs, max_iterations=max_iterations
        ).select(F.col("node").alias("doc_id"), "component")
    else:
        # semi/anti-join sides need no distinct: both are batch-sized
        touched = pairs.select(F.col("src").alias("doc_id")).unionByName(
            pairs.select(F.col("dst").alias("doc_id"))
        )
        affected = state.join(
            F.broadcast(touched), "doc_id", "left_semi"
        ).select("component")
        # members only feed the edge set connected_components
        # checkpoints first, so they need no checkpoint of their own
        members = state.join(F.broadcast(affected), "component", "left_semi")
        # star edges reproduce each affected component's connectivity
        star = members.select(
            F.col("doc_id").alias("src"), F.col("component").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        sub = connected_components(
            pairs.unionByName(star), max_iterations=max_iterations
        ).select(F.col("node").alias("doc_id"), "component")
        untouched = state.join(
            F.broadcast(affected), "component", "left_anti"
        )
        refreshed = untouched.unionByName(sub)

    versions = list_versions(state_path)
    version = f"v{max((int(v[1:]) for v in versions), default=0) + 1:06d}"
    tmp = os.path.join(state_path, f".tmp-{version}")
    refreshed.write.mode("overwrite").parquet(tmp)
    final = os.path.join(state_path, version)
    os.replace(tmp, final)
    tmp_pointer = os.path.join(state_path, _POINTER + ".tmp")
    with open(tmp_pointer, "w") as fh:
        fh.write(version)
    os.replace(tmp_pointer, os.path.join(state_path, _POINTER))
    for old in versions:
        if old != previous:
            shutil.rmtree(os.path.join(state_path, old))
    return spark.read.schema(refreshed.schema).parquet(final)


def list_versions(state_path: str) -> list[str]:
    if not os.path.isdir(state_path):
        return []
    return sorted(
        e
        for e in os.listdir(state_path)
        if e.startswith("v") and not e.startswith(".")
    )


def cluster_verdicts(clusters: DataFrame) -> DataFrame:
    """(doc_id, component, kept): q59's keep policy — the minimum
    doc_id of each cluster survives."""
    return clusters.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("kept"),
    )
