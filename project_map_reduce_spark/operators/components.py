"""Connected components via iterative min-label propagation — the
clustering step that turns near-duplicate PAIRS into duplicate GROUPS
(pick one survivor per component; pairs alone don't dedupe anything).

Algorithm: every node starts labeled with its own id; each round, every
node takes the min of its own label and its neighbors' labels; stop at
fixpoint. Deterministic (min is order-free), converges in ≤ graph
diameter rounds. Each round is one equi-join + one groupBy — both
hash-partitioned on node id, so a round costs two keyed shuffles of the
edge/label relations, nothing quadratic.

Scale notes for 100 TB graphs: near-dup graphs are overwhelmingly tiny
components (pairs/triangles), so diameter — and the round count — stays
small; lineage is cut per round (``localCheckpoint``; on a cluster,
``checkpoint`` to HDFS) or the plan doubles every iteration. An
adversarial long-chain graph needs O(diameter) rounds and raises once
``max_iter`` is spent rather than return split clusters.

Reference analog: none — the reference never aggregates its per-record
results beyond file concatenation (Manager.java:287-312); grouping
related records at all is engine-level capability it lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    minimum node id of its component. Returns (node, component).

    ``edges`` may be directed input; it is symmetrized here. Isolated
    nodes (absent from ``edges``) are the caller's to union in — every
    node present gets exactly one output row.
    """
    # Materialize the caller's edge plan ONCE, before symmetrizing: the
    # union's two branches would otherwise each re-execute the upstream
    # lineage (for the near-dup graph that lineage is the whole
    # shingle-index join — it dominated q_dedup_clusters' wall time).
    # The swap-union over the checkpointed partitions is then free.
    directed = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint()
    sym = directed.union(
        directed.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )

    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    changed = -1
    for _ in range(max_iter):
        # Every node appears on both sides of the symmetrized edge set,
        # so the neighbor-min relation covers every label row — a plain
        # inner join suffices.
        nbr_min = (
            sym.join(labels, sym.d == labels.node)
            .groupBy("s")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # The changed flag rides the label join (nbr_comp < comp ⇔ this
        # round improved the node's label) instead of a separate
        # new-vs-old join+count — one fewer keyed shuffle per round.
        new_labels = labels.join(nbr_min, labels.node == nbr_min.s).select(
            "node",
            F.least(F.col("comp"), F.col("nbr_comp")).alias("comp"),
            (F.col("nbr_comp") < F.col("comp")).cast("long").alias("__changed"),
        )
        # Cut lineage each round — otherwise the plan doubles per
        # iteration and round N replays rounds 1..N-1. LAZY checkpoint:
        # the changed-count agg below is the round's single action — it
        # materializes the checkpoint as a side effect, so a round costs
        # ONE Spark job, not a materialize-job plus an agg-job.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.agg(F.sum("__changed")).first()[0] or 0
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    if changed != 0:
        # Silent non-convergence would hand back plausible-looking but
        # WRONG clusters (long-chain components split mid-chain).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or use "
            "Large-Star/Small-Star for high-diameter graphs"
        )

    return labels.select("node", "comp")

