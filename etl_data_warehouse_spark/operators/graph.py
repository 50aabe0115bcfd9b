"""Connected components over near-duplicate pair graphs.

The missing last step of every dedup pipeline: pair generation (exact
Jaccard / MinHash-LSH / SimHash) emits EDGES, but the keep/drop decision
needs CLUSTERS — transitively closed groups with one canonical survivor.
(Reference parity: the reference stops at pair lists — e.g. its
duplicate-detection HAVING>1 groups — so this is a beyond-reference
operator motivated by the LLM-corpus brief.)

Algorithm: iterative min-label propagation (the GraphX-style CC loop) —
``label(v) ← min(label(v), min over neighbors u of label(u))`` to a
fixed point.

100 TB posture:
- Each iteration is one shuffle-join (edges ⋈ labels on node) plus one
  shuffle-agg (min per node); rounds needed = graph diameter. Near-dup
  graphs are unions of tiny quasi-cliques (docs similar to a common
  template are similar to each other), so diameter is small — single
  digits even at corpus scale. For adversarially long path graphs the
  O(log n) alternating large-star/small-star variant would replace this
  loop; not needed for dedup workloads.
- A ``localCheckpoint`` every two rounds truncates lineage so the plan
  doesn't grow with iterations. The convergence test rides on that
  checkpoint: each node's own old label is carried through the second
  round's min aggregate, and an ``Observation`` counts the changed
  labels as the checkpoint runs, so two rounds cost one action.
- Edges are the SMALL relation (near-dup pairs ≪ corpus); the loop
  never touches full documents, only (node, label) longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the minimum node id reachable from the node.

    Raises RuntimeError if the fixed point is not reached within
    ``max_iterations`` (diameter bound exceeded — a signal the graph is
    not dedup-shaped, not a truncated answer).
    """
    sym = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("peer")
    ).union(edges.select(F.col(dst).alias("node"), F.col(src).alias("peer")))
    # checkpointed: every action joins the edges again
    sym = sym.distinct().localCheckpoint()

    def step(labels: DataFrame) -> DataFrame:
        """One round: each node's new label, and its old one."""
        neighbor_labels = sym.join(
            labels.withColumnRenamed("node", "peer"), "peer"
        ).select("node", "component", F.lit(False).alias("own"))
        return (
            labels.withColumn("own", F.lit(True))
            .union(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("own"), F.col("component"))).alias("old"),
            )
        )

    # the first action's checkpoint materializes the seed labels
    labels = (
        sym.select("node")
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    # Two rounds per action, and the second round's changed count is the
    # convergence test: a graph that settles in one round (the dedup
    # case) costs one action, not two.
    for _ in range(0, max_iterations, 2):
        obs = Observation()
        # checkpointed: the next action reads these labels twice, and
        # without it every action would recompute the rounds before it
        labels = (
            step(step(labels).select("node", "component"))
            .observe(
                obs,
                F.count_if(F.col("component") != F.col("old")).alias("n"),
            )
            .select("node", "component")
            .localCheckpoint()
        )
        if obs.get["n"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Assign every document to a near-duplicate cluster.

    ``pairs`` is any (doc_a, doc_b) near-dup pair frame (exact Jaccard,
    MinHash-LSH-verified, SimHash …). Docs in no pair are their own
    singleton cluster. Output: (doc_id, cluster_id, cluster_size,
    is_canonical) — keep rows where is_canonical to dedup the corpus.
    """
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    assigned = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.count("*")
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("doc_id")


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Damped PageRank over directed ``(src, dst)`` edges, a fixed
    number of power-iteration rounds, in INTEGER fixed-point.

    Every quantity is a BIGINT multiple of 1/``scale``: the uniform
    start is ``scale DIV N``, a neighbor contribution is
    ``p DIV outdeg``, and the damped update is
    ``((den-num)*(scale DIV N)) DIV den + (num*Σcontrib) DIV den``.
    Integer division and BIGINT sums are bit-exact and order-independent
    in every engine — unlike float PageRank, whose per-node summation
    order would break cross-engine hash parity (the same reason the
    money policy uses DECIMAL). Quantization error is ≤ outdeg ulps of
    1e-12 per node per round — noise for ranking purposes.

    Scale posture: the classic Pregel-by-joins loop — per round one
    shuffle-join of edges against (node, p) longs and one shuffle-agg
    on dst; the rank frame is node-sized, never edge-sized.
    ``localCheckpoint`` per round truncates lineage exactly as in
    :func:`connected_components`. Dangling nodes receive only the
    teleport mass (their Σcontrib is NULL → 0); feed symmetrized edges
    if every node must have out-mass.
    """
    # materialize the edge list once: every iteration joins it, and an
    # un-checkpointed frame would re-derive the upstream (join +
    # distinct at corpus grain for q106) per round. Lazy (eager=False)
    # checkpoints let all rounds pipeline inside the ONE consuming
    # action while still truncating lineage and caching each round's
    # frame for its reuses (eager per-round jobs measured 7.3s; lazy
    # 3.7s at sf0.1). Edge-sized state, same class as label frames.
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    n = nodes.count()
    p0 = scale // n
    base = ((damp_den - damp_num) * p0) // damp_den
    ranks = nodes.select("node", F.lit(p0).cast("long").alias("p"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("p div outdeg").cast("long").alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").cast("long").alias("s"))
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damp_num} * coalesce(s, 0L)) div {damp_den}"
                    ).cast("long")
                ).alias("p"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node",
        F.col("p").alias("rank_fixed"),
        (F.col("p").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def label_propagation(
    edges: DataFrame, iterations: int = 3
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over undirected ``(src, dst)`` edges, a fixed number of
    rounds, fully deterministic: every node starts labeled with its own
    id; each round a node adopts the label MOST FREQUENT among its
    neighbors, ties broken by the SMALLEST label — argmax via
    row_number over (count DESC, label ASC), so the update is pure
    integer/ordering logic both engines replay exactly (the async/
    random-order variants of LPA are not reproducible; synchronous +
    total-order tiebreak is the q106 fixed-point discipline applied to
    community detection).

    Returns (node, label) after the final round. Scale posture:
    per round ONE shuffle-join of edges against the node-sized label
    frame and one (dst, label) count-agg; label frames are node-sized.
    Feed symmetrized edges (both directions) so neighborhoods are
    complete; lazy localCheckpoints truncate per-round lineage exactly
    as in pagerank_fixed.
    """
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    for _ in range(iterations):
        votes = (
            edges.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    return labels
