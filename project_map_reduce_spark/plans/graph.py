"""Graph analytics surface — fixed-iteration PageRank (Q110).

Complements the connected-components operator (Q67): components answer
"which records are the same thing", PageRank answers "which nodes are
central" — the standard next graph question over entity graphs derived
from relational data (here the part↔supplier co-occurrence graph mined
from lineitem).

Reference analog: none (`ext`) — see operators/pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d
from project_map_reduce_spark.operators.pagerank import pagerank
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.session import scoped_conf
from project_map_reduce_spark.tables import load, local_rows

_ITERS = 5
_DAMPING = 0.85
_TOPN = 20


def _pagerank_oracle() -> str:
    nn = "(SELECT n FROM nn)"
    ctes = [
        "e0 AS (SELECT DISTINCT 2 * l_partkey AS s, 2 * l_suppkey + 1 AS d"
        " FROM lineitem)",
        "edges AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0)",
        "deg AS (SELECT s AS node, count(*) AS outdeg FROM edges GROUP BY s)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        f"r0 AS (SELECT node, round(1.0 / {nn}, 9) AS rank FROM deg)",
    ]
    for k in range(1, _ITERS + 1):
        ctes.append(
            f"r{k} AS (SELECT e.d AS node, "
            f"round((1 - {_DAMPING}) / {nn} + {_DAMPING} * "
            f"sum(r.rank / dg.outdeg), 9) AS rank "
            f"FROM edges e JOIN r{k - 1} r ON r.node = e.s "
            f"JOIN deg dg ON dg.node = e.s GROUP BY e.d)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
           round(rank, 6) AS rank
    FROM r{_ITERS}
    ORDER BY r{_ITERS}.rank DESC, node
    LIMIT {_TOPN}
    """
    )


@register("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q110: the {n} most central nodes of the part↔supplier graph by
    {iters}-iteration PageRank (damping {d}). Edges are the DISTINCT
    (part, supplier) pairs that co-occur on a lineitem row, symmetrized
    (node id = 2·partkey / 2·suppkey+1 keeps both populations in one
    bigint key space — no string keys in the shuffle). The oracle
    re-runs the identical fixed-point trajectory as {iters} chained
    CTEs; per-iteration 9-dp rank rounding (operators/pagerank.py
    determinism contract) makes the trajectory — and therefore the
    top-{n} set — bit-exact across engines.

    Scale shape: per iteration, one join hash-partitioned on src + one
    aggregate on dst over the checkpointed edge relation — O(iters)
    keyed shuffles of O(edges) rows, nothing quadratic, lineage cut per
    round. The final top-{n} is TakeOrdered (per-partition heads +
    driver merge of {n} rows), NOT a global sort.
    """
    li = load(spark, sf_dir, "lineitem")
    directed = li.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    ).distinct()
    edges = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, iterations=_ITERS, damping=_DAMPING)
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(_TOPN)
        .select(
            "node",
            F.when(F.col("node") % 2 == 0, "part")
            .otherwise("supplier")
            .alias("node_type"),
            r6d(F.col("rank"), "rank"),
        )
    )


fmt_doc(q_pagerank, n=_TOPN, iters=_ITERS, d=_DAMPING)


# ---------------------------------------------------------------------------
# Q137 — native recursive CTE: hierarchy rollup (WITH RECURSIVE)

# Two-level exact sum following the repo's SUM6 contract
# (functions/det.py::sum6, ADVICE r9 — no hand-rolled precision split):
# the per-user partial casts INPUTS to DECIMAL(18,6) — 6-dp quantization
# identical on both engines, compact-long representation on Spark — the
# rollup sums the exact partials (engines widen the accumulator
# themselves), and ONE final CAST AS DOUBLE lands the oracle-matching
# schema. DECIMAL(18,6) caps |value| at ~1e12 per row; a fixture
# violating that fails loudly on the cast, never silently.
_HIER_SQL = """
    WITH RECURSIVE per_user AS (
        SELECT user_id, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,6))) AS s
        FROM {events} GROUP BY user_id
    ),
    chain(node, anc) AS (
        SELECT user_id, user_id FROM per_user
        UNION ALL
        SELECT node, anc {div} 2 FROM chain WHERE anc >= 2
    )
    SELECT c.anc                  AS manager_id,
           count(*)               AS n_desc,
           CAST(sum(p.n) AS BIGINT) AS n_events,
           CAST(sum(p.s) AS DOUBLE) AS sum_value
    FROM chain c JOIN per_user p ON p.user_id = c.node
    GROUP BY c.anc
"""


@register(
    "q_hierarchy_rollup",
    oracle=_HIER_SQL.format(events="events", div="//"),
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q137: NATIVE recursive CTE (``WITH RECURSIVE`` — new SQL surface
    in Spark 4.x) driving a hierarchy rollup: every user reports to
    manager ``user_id div 2`` (a deterministic org tree derived from
    the fixture's dense ids), and the query answers the classic
    org/BOM question — per manager, the TRANSITIVE subtree's
    headcount, event count and exact-decimal value total. The
    recursive member enumerates each user's ancestor chain (anchor =
    self; step = halve, guard ``anc >= 2`` so the walk is strictly
    decreasing and terminates at the root without a cycle check);
    the outer join+group then rolls events up every ancestor at once.

    This is the ENGINE-NATIVE twin of the repo's hand-built iterative
    recursions (Q67's connected components, Q110's PageRank): here
    Catalyst's UnionLoop executes the iteration inside ONE SQL
    statement, and DuckDB runs the structurally identical recursion —
    so Spark's brand-new recursive-CTE execution path itself is what
    gets hash-checked. (Scope note, pinned by test: Spark 4.1 rejects
    UNION-distinct recursion — UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE —
    so cyclic reachability like Q67's min-label walk still needs the
    custom operator; DAG-shaped recursion belongs in SQL.)

    Scale shape: events PRE-AGGREGATE per user (exact DECIMAL partials)
    BEFORE touching the recursion, so the fact table is scanned exactly
    once and the rollup join is hierarchy-sized — chain (users x depth)
    against per_user (users), never events x depth (the naive form
    joins every event to all ~18 of its user's ancestors: measured 113 s
    at sf10 vs {t10} s pre-aggregated). depth = floor(log2(max id)) + 1
    is bounded by the id domain, not the event count; each recursion
    level is one narrow projection+filter over the previous. Hierarchy
    dims at 100 TB are exactly this shape: tiny against the fact table,
    depth-bounded recursion, one keyed join over pre-combined partials.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "value")
    # Size the engine's recursion-row safety valve from the data
    # (O(1)-row catalog-style agg): the chain relation holds exactly
    # users x depth rows, depth = floor(log2(max id)) + 1 — 2x headroom.
    # Default 1,000,000 trips at sf10 (150k users x 18 levels); leaving
    # the valve data-sized rather than unbounded keeps the runaway-
    # recursion protection meaningful.
    n_users, max_id = ev.agg(
        F.countDistinct("user_id"), F.max("user_id")
    ).first()
    depth = max(1, int(max_id).bit_length())
    row_limit = {"spark.sql.cteRecursionRowLimit": str(2 * n_users * (depth + 1))}
    view = "q137_events"
    ev.createOrReplaceTempView(view)
    try:
        # The returned plan is lazy but the row-limit conf is read at
        # EXECUTION — materialize executor-side while it holds (the Q90
        # snapshot pattern: distributed write + lazy read; O(users)
        # rows, a hierarchy dim, never through the driver) so the
        # restored conf cannot race a caller's later action.
        import atexit
        import shutil as _shutil
        import tempfile as _tempfile

        snap = _tempfile.mkdtemp(prefix="pmrs_q137_")
        atexit.register(_shutil.rmtree, snap, ignore_errors=True)
        with scoped_conf(spark, row_limit):
            spark.sql(_HIER_SQL.format(events=view, div="DIV")).write.mode(
                "overwrite"
            ).parquet(snap)
        return spark.read.parquet(snap)
    finally:
        # Session-global name: leave nothing registered behind (a later
        # caller colliding with a stale q137_events would read old data).
        spark.catalog.dropTempView(view)


fmt_doc(q_hierarchy_rollup, t10="8.3")


# ---------------------------------------------------------------------------
# Q216/Q217 — co-purchase graph: degree distribution + triangle census

_EDGE_MIN_SUPPORT = 2  # parts co-bought in >= 2 orders form an edge

_COPURCHASE_EDGES_SQL = f"""
    items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_EDGE_MIN_SUPPORT}
    )"""


def _copurchase_edges(spark, sf_dir):
    """Support-floored co-purchase edge list (a < b), the Q209 pair
    stage without the top-k: the graph both census queries read.

    Round-13 optimization (guide §2.3/§2.4): the original
    distinct-items SELF-JOIN on l_orderkey cost two exchanges of the
    items relation (one for the distinct, one per join side) and —
    because Catalyst does not de-duplicate the subtree when a consumer
    unions two projections of it — up to FOUR lineitem scans per
    census query. The basket form aggregates each order's distinct
    parts into ONE sorted array (single scan, single exchange, with
    map-side partial collect_set), then generates the a < b pairs
    map-side with an in-order array transform — identical pair
    multiset by construction (both emit each distinct unordered part
    pair of each order exactly once). Measured plan diff for
    q_degree_distribution: 4 scans → 1, 6 exchanges → 3."""
    from project_map_reduce_spark.tables import load as _load

    baskets = (
        _load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _EDGE_MIN_SUPPORT)
        .select("a", "b")
    )


@register(
    "q_degree_distribution",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    degs AS (
        SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM edges
            UNION ALL
            SELECT b AS node FROM edges
        ) GROUP BY node
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM degs GROUP BY degree
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q216: DEGREE DISTRIBUTION of the co-purchase graph (parts =
    nodes, edges = pairs co-bought in ≥ 2 orders) — the first
    statistic of any graph workload (power-law vs flat separates
    organic catalogs from templated ones; the graph twin of Q206's
    Zipf slope) and the planning input for every joins-on-graph
    strategy (skew = max degree).

    Plan shape at 100 TB: the edge list inherits Q209's bounded
    basket self-join doctrine (never corpus²); degrees are one
    groupBy over 2|E| rows; the histogram collapses to O(distinct
    degrees). All integer counts — no rounding contract at all.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    edges = _copurchase_edges(spark, sf_dir)
    # explode(array(a, b)) instead of a union of two projections: a
    # union consumer makes Catalyst plan the whole edges subtree TWICE
    # (guide §2.4 — the round-13 before-plan shows the duplicated
    # scan+join tree); the single-generator form computes edges once.
    degs = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return degs.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    tri AS (
        SELECT count(*) AS t
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    degs AS (
        SELECT node, count(*) AS d FROM (
            SELECT a AS node FROM edges
            UNION ALL
            SELECT b AS node FROM edges
        ) GROUP BY node
    ),
    wedge AS (
        SELECT sum(CAST(d AS HUGEINT) * (d - 1) / 2) AS w FROM degs
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           round(CASE WHEN wedge.w > 0
                      THEN 3.0 * tri.t / CAST(wedge.w AS DOUBLE)
                      ELSE 0 END, 6) AS clustering_coeff
    FROM tri, wedge
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q217: TRIANGLE CENSUS + global clustering coefficient of the
    co-purchase graph — THE benchmark distributed-graph aggregate
    (Suri-Vassilvitskii WWW'11 MapReduce triangle counting): count
    closed triangles via two edge joins over the canonically-oriented
    (a < b) edge list, wedges = Σ d(d−1)/2, coefficient =
    3·T/W. Canonical orientation counts each triangle exactly once
    (a < b < c) with NO degree-ordering heuristic needed at fixture
    scale — the degree-ordered orientation (point each edge at the
    higher-degree endpoint, bounding join fan-out by arboricity) is
    the documented 100 TB flip and changes no result.

    Plan shape: both joins key on a single edge endpoint (shuffle
    O(|E|) each, fan-out bounded by max degree — the documented skew
    knob); wedges ride the Q216 degree relation; output is ONE row.
    Exactness: integer counts, wedge sum in DECIMAL/HUGEINT, one
    double divide at 6dp.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    edges = _copurchase_edges(spark, sf_dir).persist()
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .count()
    )
    # One aggregation job yields both census scalars off the persisted
    # edges (round-13: explode(array) instead of a subtree-duplicating
    # union, and n_edges = Σd/2 folded into the wedge pass instead of
    # a separate count() job — guide §1.2, don't recompute what a
    # running pass already holds).
    degs = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = degs.agg(
        F.sum(
            F.col("d").cast("decimal(38,0)") * (F.col("d") - 1) / 2
        ).alias("w"),
        F.sum("d").alias("two_e"),
    ).collect()[0]
    wedges, n_edges = stats["w"], int(stats["two_e"] or 0) // 2
    edges.unpersist()
    coeff = round(3.0 * tri / float(wedges), 6) if wedges and float(wedges) > 0 else 0.0
    return local_rows(
        spark,
        [(n_edges, tri, coeff)],
        "n_edges bigint, n_triangles bigint, clustering_coeff double",
    )
