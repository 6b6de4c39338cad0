"""Fixed-iteration PageRank as a DataFrame loop (Q110 support).

Each iteration is the classic Pregel step expressed relationally:
join the current ranks to the out-edges on source, sum the
``rank/out_degree`` contributions per destination, and blend with the
teleport term ``(1-d)/N``. The lineage is cut every round
(``localCheckpoint``; ``checkpoint`` to HDFS on a cluster) so the plan
does not double per iteration.

Shuffle budget (the standard Pregel optimization, VERDICT r6 item 3):
in EVERY regime the O(edges) relation is shuffled at most once and each
round's only exchange is the partial→final shuffle of the contribution
aggregate — O(distinct destinations per partition), never raw edges.
The regimes differ in how the rank join avoids its exchange, and the
cutover is measured, not guessed (A/B at sf0.1 / sf1 / sf10 —
BASELINE.md):

* **Small rank relation** (``n_nodes <= broadcast_nodes``, default
  400k ≈ the 10 MB autoBroadcast ceiling at 24 B/row): replicate the
  ranks per round with an explicit ``broadcast()``. The edge relation
  is never shuffled at all, AQE stays on (it coalesces the tiny agg
  shuffles), and a round costs ~0.15 s at sf0.1 vs ~0.6 s for the
  shuffled-hash form — broadcast of O(nodes) is the right physical
  plan while O(nodes) is megabytes.
* **Large rank relation**: shipping ranks to every executor per round
  stops scaling, so ``e_deg`` is hash-partitioned on its source key
  ONCE and checkpointed — ``localCheckpoint`` preserves
  ``outputPartitioning`` (only when built with AQE off, see the
  ``scoped_conf`` call in ``pagerank``) — and the round joins with a
  pinned shuffled-hash join: edge partitions stream in place, and after
  round 1 the rank side streams too because each round's output inherits
  hashpartitioning(node) from its own final aggregate. Never
  sort-merge: that would re-sort O(edges) per round.

Determinism contract: ranks are rounded to ``round_dp`` decimals at
EVERY iteration (and the initial 1/N seed is rounded the same way, by
the engine's own ``round`` so Spark and the DuckDB oracle share
rounding semantics). Pre-round values agree across engines to ~1e-15
(per-node contribution sums are short and of uniform magnitude), so
the per-round snap makes the whole fixed-point trajectory bit-exact —
the same discipline that makes the k-means trainer oracle-checkable
(operators/kmeans.py). The snap also makes the trajectory independent
of partitioning and join strategy, which is what licenses BOTH physical
regimes sharing one logical contract.

Rank-conservation contract: the relational step only produces rows for
nodes that RECEIVE mass, and only redistributes mass from nodes that
EMIT it — on a non-symmetric graph zero-in-degree nodes would silently
vanish after one round and dangling (zero-out-degree) mass would leak.
``pagerank`` therefore verifies at fit time that every node has both
in- and out-edges (one filter over the degree relation it builds
anyway, folded into the same action that counts the nodes) and raises
otherwise; pass ``require_symmetric=False`` only for a caller that
adds its own dangling-mass handling.

Reference analog: none — iterative graph analytics is engine-level
capability the reference lacks (its Manager only concatenates per-record
results, Manager.java:287-312).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_map_reduce_spark.session import scoped_conf


def _step(e_deg: DataFrame, ranks: DataFrame, teleport: float,
          damping: float, round_dp: int) -> DataFrame:
    """One Pregel round: contributions joined on source, summed per
    destination, blended with the teleport term, snapped to round_dp."""
    return (
        e_deg.join(ranks, e_deg["s"] == ranks["node"])
        .groupBy("d")
        .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("msum"))
        .select(
            F.col("d").alias("node"),
            F.round(
                F.lit(teleport) + F.lit(damping) * F.col("msum"), round_dp
            ).alias("rank"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    damping: float = 0.85,
    round_dp: int = 9,
    require_symmetric: bool = True,
    broadcast_nodes: int = 400_000,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Rank every node of the directed graph ``edges``. Returns
    (node, rank) with one row per node. ``edges`` should be
    deduplicated; multi-edges would weight contributions. Input must be
    symmetrized (every node has in- and out-edges) — verified at fit
    time unless ``require_symmetric=False`` (see module docstring).
    ``broadcast_nodes`` is the rank-relation size below which rounds
    replicate ranks instead of co-partitioning edges (module docstring).
    ``shuffle_partitions`` overrides the large-regime partition count
    (edge layout AND every per-round join/aggregate exchange; the
    9-dp per-round rounding keeps ranks partition-count-invariant —
    A/B'd identical at every count tried). Default None = max(session
    spark.sql.shuffle.partitions, 4 × defaultParallelism): the r8 sf10
    A/B (2.1M nodes, 24M directed edges, interleaved min-of-clean runs)
    measured a monotone win up to 4×cores — 8→164 s, 32→154 s,
    64→89 s, 128→52 s — then regression at 8×cores (256→209 s):
    smaller per-round SHJ build sides cost less GC/spill per task and
    smooth stragglers, until task-scheduling overhead of 5 rounds × 2
    exchanges takes over. See BASELINE.md round-8 row.
    """
    spark = edges.sparkSession
    if shuffle_partitions is not None:
        n_part = int(shuffle_partitions)
    else:
        n_part = max(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            4 * spark.sparkContext.defaultParallelism,
        )
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint()

    # One degree pass doubles as the symmetry guard: a union of the two
    # endpoint projections tagged by role gives out- AND in-degree per
    # node in a single aggregate (map-side partial, same cost class as
    # the plain out-degree count it replaces). Node count and bad-node
    # count come out of one action over the checkpointed result.
    nodes = (
        e.select(
            F.col("s").alias("node"),
            F.lit(1).alias("has_out"),
            F.lit(0).alias("has_in"),
        )
        .unionAll(e.select("d", F.lit(0), F.lit(1)))
        .groupBy("node")
        .agg(
            F.sum("has_out").alias("outdeg"),
            F.sum("has_in").alias("indeg"),
        )
        .localCheckpoint()
    )
    n_nodes, bad = nodes.agg(
        F.count(F.lit(1)),
        F.sum(((F.col("outdeg") == 0) | (F.col("indeg") == 0)).cast("int")),
    ).first()
    if require_symmetric and bad:
        raise ValueError(
            f"pagerank: {bad} node(s) lack an in- or out-edge; ranks "
            "would silently lose mass. Symmetrize the edge list or "
            "pass require_symmetric=False with external dangling-mass "
            "handling."
        )
    teleport = (1.0 - damping) / n_nodes
    deg = nodes.select(F.col("node").alias("s"), "outdeg")
    # The seed rank relation has exactly one consumer (round 1) and is
    # a trivial projection of the already-checkpointed ``nodes`` — a
    # checkpoint here would only add an eager materialization job.
    ranks = nodes.select(
        "node",
        F.round(F.lit(1.0) / F.lit(float(n_nodes)), round_dp).alias("rank"),
    )

    if n_nodes <= broadcast_nodes:
        # Small-graph regime: ranks are megabytes — replicate them per
        # round; the edge relation is NEVER shuffled (the degree fold
        # broadcasts too). AQE stays on.
        #
        # No per-round localCheckpoint here (round-14, guide §1.2):
        # each round's ranks has exactly ONE consumer — the next
        # round's BroadcastExchange — so nothing is ever recomputed
        # without it, and the chained broadcast builds execute the
        # identical per-round work as one bottom-up cascade at the
        # final action instead of ``iterations`` eager materialization
        # jobs (A/B in OPTIMIZATION_r14.md). The plan depth grows only
        # O(iterations · per-round operators) —
        # trivial for a fixed small iteration count; the LARGE regime
        # below keeps its per-round checkpoint, where the pinned
        # hashpartitioning property (not lineage cost) requires it.
        e_deg = e.join(F.broadcast(deg), "s").select(
            "s", "d", "outdeg"
        ).localCheckpoint()
        for _ in range(iterations):
            ranks = _step(
                e_deg, F.broadcast(ranks), teleport, damping, round_dp
            )
        return ranks

    # Large-graph regime: fold the out-degree into the edge relation
    # ONCE, then pin the big relation's layout — hash-partitioned on
    # the join key, checkpointed so the partitioning is a durable
    # property of the stored blocks. Every subsequent round's
    # shuffled-hash join streams both sides in place (rank side: each
    # round's output inherits hashpartitioning(node) from its own
    # final aggregate). AQE is off for this block: ``localCheckpoint``
    # records the physical plan's outputPartitioning into its LogicalRDD,
    # but an AdaptiveSparkPlanExec never exposes its final partitioning
    # (Spark 4.1: a repartition('s').localCheckpoint() built under AQE
    # re-exchanges on every later join; built without AQE it joins
    # exchange-free).
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(n_part),
        },
    ):
        e_deg = (
            e.join(deg, "s")
            .select("s", "d", "outdeg")
            .repartition(n_part, "s")
            .localCheckpoint()
        )
        for _ in range(iterations):
            ranks = _step(
                e_deg, ranks.hint("shuffle_hash"), teleport, damping, round_dp
            ).localCheckpoint()
    return ranks
