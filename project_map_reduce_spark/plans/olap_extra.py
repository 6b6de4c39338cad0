"""B.4 extension: OLAP aggregate surface — PIVOT, exact percentiles,
correlation/covariance statistics (Q64-Q66).

Rounds out the aggregate family with the three OLAP shapes analysts
reach for that the core inventory lacked. All three are single-pass
grouped aggregates (partial + final HashAggregate, shuffle O(groups))
— nothing here changes the engine's scale story, which is exactly the
point: Catalyst treats a pivot or a percentile like any other agg.

Registered past the driver's 50-query window (like Q62/Q63); pytest
parity hash-checks them at sf0.001.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.tables import load, local_rows, pin

_STATUSES = ("F", "O", "P")


@register(
    "q_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q64: PIVOT — order counts by priority × status, statuses as
    columns. The explicit value list matters at scale: without it Spark
    runs an extra distinct-scan job just to discover the columns.
    Compiles to ONE grouped aggregate over conditional counts (same
    plan as the oracle's FILTER clauses) — a pivot is not a special
    execution shape, just column-expansion sugar."""
    o = load(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(F.count(F.lit(1)))
    )
    # missing (priority, status) combos are null in pivot output but 0
    # under the oracle's FILTER counts — normalize.
    return p.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}")
            for s in _STATUSES
        ],
    )


@register(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 6) AS p25,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 6) AS p50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 6) AS p75,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 6) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q65: exact percentiles (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the definition)
    of extended price per return flag. Exact percentile buffers each
    group's values, so at 100 TB the drop-in is
    ``approx_percentile(col, q, accuracy)`` — fixed-size t-digest-style
    sketch, same call shape, declared tolerance — exactly the
    exact-vs-sketch trade Q16 (countDistinct) vs Q20 (HLL) shows.

    One ``percentile(col, array(...))`` call, not four scalar calls:
    each scalar percentile aggregate buffers and sorts the group's
    values independently, so the array form is 4x less agg-buffer
    memory and one sort per group instead of four (~4x wall here)."""
    li = load(spark, sf_dir, "lineitem")
    qs = (0.25, 0.50, 0.75, 0.95)
    pcts = li.groupBy("l_returnflag").agg(
        F.expr(
            f"percentile(l_extendedprice, array({', '.join(str(q) for q in qs)}))"
        ).alias("__ps")
    )
    return pcts.select(
        "l_returnflag",
        *[r6d(F.col("__ps")[i], f"p{int(q * 100)}") for i, q in enumerate(qs)],
    )


@register(
    "q_corr_stats",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           round(covar_pop(l_quantity, l_extendedprice), 6)  AS covar_qty_price,
           round(stddev_samp(l_extendedprice), 6)            AS sd_price,
           round(var_pop(l_quantity), 6)                     AS var_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q66: second-moment statistics — correlation, covariance,
    stddev, variance per return flag. All are single-pass mergeable
    aggregates (Welford-style partial states combine associatively), so
    the distributed plan is the ordinary partial+final HashAggregate —
    the statistics the reference could never compute without a second
    full pass over its result file."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6d(F.corr("l_quantity", "l_extendedprice"), "corr_qty_price"),
        r6d(F.covar_pop("l_quantity", "l_extendedprice"), "covar_qty_price"),
        r6d(F.stddev_samp("l_extendedprice"), "sd_price"),
        r6d(F.var_pop("l_quantity"), "var_qty"),
    )


@register(
    "q_approx_quantile_check",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 6)
               AS exact_p50,
           (approx_quantile(l_extendedprice, 0.50)
              BETWEEN quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.45)
                  AND quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.55))
               AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q75: quantile-sketch discipline — approx_percentile is Q65's
    declared 100 TB drop-in; this query makes the sketch driver-visible
    the same way Q20 does for HLL. Sketch medians legitimately differ
    across engines (Spark: Greenwald-Khanna; DuckDB: t-digest), so the
    hash-checked contract is an engine-internal invariant: each side
    asserts its OWN approximate median lands inside its OWN exact
    [p45, p55] band (1000x looser than the sketch's configured 1e-4
    rank error). Both sides deterministically emit true; the exact p50
    rides along so the row still hash-pins real values.

    100 TB note: the exact-percentile columns here exist only to judge
    the sketch at test scale — the production plan is the sketch alone
    (fixed-size mergeable state, ordinary partial+final agg)."""
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "percentile(l_extendedprice, array(0.45, 0.50, 0.55))"
        ).alias("__exact"),
        F.expr(
            "approx_percentile(l_extendedprice, 0.50, 10000)"
        ).alias("__approx"),
    )
    return g.select(
        "l_returnflag",
        "n_rows",
        r6d(F.col("__exact")[1], "exact_p50"),
        F.col("__approx")
        .between(F.col("__exact")[0], F.col("__exact")[2])
        .alias("within_tol"),
    )


_PROFILE_NUM = ("l_quantity", "l_extendedprice", "l_discount")
_PROFILE_STR = ("l_returnflag", "l_linestatus")
_PROFILE_TS = ("l_shipdate",)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(f"""
        SELECT '{c}' AS column, count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               round(min({c}), 6) AS min_num, round(max({c}), 6) AS max_num,
               round(CAST(sum(CAST({c} AS DECIMAL(27,6))) AS DOUBLE)
                     / count({c}), 6) AS mean,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem""")
    for c in _PROFILE_STR + _PROFILE_TS:
        expr_min = f"CAST(min({c}) AS VARCHAR)"
        expr_max = f"CAST(max({c}) AS VARCHAR)"
        parts.append(f"""
        SELECT '{c}', count(*), count(*) - count({c}), count(DISTINCT {c}),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               {expr_min}, {expr_max}
        FROM lineitem""")
    return " UNION ALL ".join(parts)


def _profile_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared melt/collapse plan under Q119 and Q128: lineitem is
    MELTED (explode of an inline struct array — one (column, value)
    pair per cell, still ONE pass over storage), then collapsed to
    DISTINCT (column, value) rows carrying their multiplicity — a pure
    hash aggregate, since the values are grouping keys, not buffers."""
    li = load(spark, sf_dir, "lineitem").select(
        *_PROFILE_NUM, *_PROFILE_STR, *_PROFILE_TS
    )
    cells = []
    for c in _PROFILE_NUM:
        cells.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("double").alias("num_val"),
                F.lit(None).cast("string").alias("str_val"),
            )
        )
    for c in _PROFILE_STR + _PROFILE_TS:
        cells.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(None).cast("double").alias("num_val"),
                F.col(c).cast("string").alias("str_val"),
            )
        )
    melted = li.select(F.explode(F.array(*cells)).alias("p")).select("p.*")
    return melted.groupBy("column", "num_val", "str_val").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register("q_profile_columns", oracle=_profile_oracle())
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q119: one-pass dataset profiler — the data-quality report every
    ingest job emits before a table is admitted to a training pipeline:
    per column, row count, null count, exact distinct count, min/max
    (numeric or lexical), and mean, from ONE scan. The table is MELTED
    (explode of an inline struct array — one (column, value) pair per
    cell, still the same single pass over storage), then profiled by a
    two-level aggregate: level 1 collapses to DISTINCT (column, value)
    rows carrying their multiplicity — a pure hash aggregate, since the
    values are grouping KEYS, not aggregation buffers — and level 2
    computes every measure from that collapsed relation: distinct count
    = row count, null count and mean reweight by the carried
    multiplicity, min/max read the collapsed keys.

    The naive alternatives measured 4-6× slower at sf0.1 and are
    avoided deliberately: putting six ``countDistinct``s AND min/max in
    one wide ``agg`` makes Catalyst's multi-distinct Expand re-evaluate
    the non-distinct aggregates per replica (9.2 s), and aggregating
    ``min(string)`` directly over the melted relation falls off the
    hash path onto SortAggregate — a full sort of rows×columns cells
    (7 s). The collapse-first form keeps strings out of aggregation
    buffers until the relation is O(Σ distinct values) small (1.6 s).

    Scale notes: level 1 partial-aggregates map-side, so low-cardinality
    columns collapse before the shuffle and the exchange carries
    O(Σ distinct per column) fixed-width rows; an all-distinct column
    degrades gracefully to shuffling its cells once. At 100 TB exact
    distincts flip to the HLL sketch column this inventory already
    carries (Q116) with the same plan shape. Numeric and lexical bounds
    ride separate typed columns (``min_num``/``min_str``) so no
    cross-engine float-to-string formatting ever enters the hash; the
    mean divides an exact decimal sum by an exact count — one IEEE
    division on each engine — so it hash-matches bit-for-bit.
    """
    collapsed = _profile_collapsed(spark, sf_dir)
    present = F.col("num_val").isNotNull() | F.col("str_val").isNotNull()
    num_cnt = F.sum(F.when(F.col("num_val").isNotNull(), F.col("cnt")))
    return collapsed.groupBy("column").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(~present, F.col("cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.count(F.when(present, 1)).alias("n_distinct"),
        F.round(F.min("num_val"), 6).alias("min_num"),
        F.round(F.max("num_val"), 6).alias("max_num"),
        F.round(
            F.sum(F.col("num_val").cast("decimal(18,6)") * F.col("cnt"))
            .cast("double")
            / num_cnt,
            6,
        ).alias("mean"),
        F.min("str_val").alias("min_str"),
        F.max("str_val").alias("max_str"),
    )


_PROFILE_LGK = 12
_PROFILE_RSD3 = 3 * 1.04 / (2**_PROFILE_LGK) ** 0.5  # ≈ 4.9%


def _profile_approx_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM + _PROFILE_STR + _PROFILE_TS:
        parts.append(f"""
        SELECT '{c}' AS column, count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               TRUE AS within_3rsd
        FROM lineitem""")
    return " UNION ALL ".join(parts)


@register("q_profile_approx", oracle=_profile_approx_oracle())
def q_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q128: Q119's declared 100 TB flip, made real (VERDICT r7 item 5)
    — the profiler with the exact distinct count replaced by the HLL
    sketch (Datasketches, lgConfigK={k}), sharing Q119's melt/collapse
    plan verbatim (``_profile_collapsed``): ONE scan, no Expand
    (plan-asserted). The sketch aggregates the COLLAPSED relation —
    legal because HLL is duplicate-insensitive, so sketching the
    distinct (column, value) rows gives the same registers as sketching
    every cell — which is what lets both variants ride one plan. At
    100 TB the collapse level itself is dropped and ``hll_sketch_agg``
    runs straight over the melted cells: fixed 2^{k}-byte buffers per
    column, the exchange carries O(columns × sketch) instead of
    O(Σ distinct values).

    Hash contract (the Q75/Q116 pattern — sketch estimates legitimately
    differ across engines): the exact distinct count rides along as an
    oracle-checkable column, and ``within_3rsd`` asserts the estimate
    lands within 3·rsd (≈{t:.1%}) of it — both engines emit TRUE
    deterministically, so an estimator regression flips the hash. The
    exact branch exists only to judge the sketch at test scale; the
    production profile keeps the estimate alone.
    """
    collapsed = _profile_collapsed(spark, sf_dir)
    present = F.col("num_val").isNotNull() | F.col("str_val").isNotNull()
    value_key = F.coalesce(F.col("num_val").cast("string"), F.col("str_val"))
    prof = collapsed.groupBy("column").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(~present, F.col("cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.count(F.when(present, 1)).alias("n_distinct"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(value_key, F.lit(_PROFILE_LGK))
        ).alias("_approx"),
    )
    tol = F.lit(_PROFILE_RSD3) * F.col("n_distinct")
    return prof.select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        (F.abs(F.col("_approx") - F.col("n_distinct")) <= tol).alias(
            "within_3rsd"
        ),
    )


fmt_doc(q_profile_approx, k=_PROFILE_LGK, t=_PROFILE_RSD3)


# ---------------------------------------------------------------------------
# Q145 — Observation metrics: pipeline totals for free on the main action


@register(
    "q_observe_metrics",
    oracle="""
    SELECT source,
           count(*)                          AS n_docs,
           CAST(sum(n_chars) AS BIGINT)      AS sum_chars,
           CAST(max(n_chars) AS BIGINT)      AS max_chars
    FROM documents
    GROUP BY source
    UNION ALL
    SELECT '__total__'                       AS source,
           count(*)                          AS n_docs,
           CAST(sum(n_chars) AS BIGINT)      AS sum_chars,
           CAST(max(n_chars) AS BIGINT)      AS max_chars
    FROM documents
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q145: the ``Observation`` API (``df.observe``) driver-hash-
    checked — in-flight metrics collected DURING the main action, the
    100 TB health-check pattern: corpus-wide totals (row count, char
    sum, char max) ride the same single scan that computes the
    per-source aggregate, instead of a second full pass. The observed
    node sees every row of the scan exactly once regardless of how
    Catalyst rearranges the plan around it — that exactly-once
    metric contract is what the hash checks: the ``__total__`` row is
    BUILT FROM THE OBSERVATION (never recomputed), while the oracle
    recomputes the same totals independently; a dropped/duplicated
    observation (e.g. a re-executed stage feeding the metrics twice)
    would corrupt the row and fail the driver hash.

    Scale shape: one scan, one map-side-combined hash agg for the
    per-source rows, and the observation's accumulator-style merge for
    the totals — O(sources)+O(1) result rows; no second job, no extra
    exchange (the observe node is a pass-through in the physical plan).
    """
    from pyspark.sql import Observation

    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    obs = Observation("q145_totals")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    per_source = (
        observed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .collect()  # the ONE action; obs.get is defined after it
    )
    m = obs.get
    schema = "source string, n_docs bigint, sum_chars bigint, max_chars bigint"
    rows = [tuple(r) for r in per_source] + [
        ("__total__", m["n_docs"], m["sum_chars"], m["max_chars"])
    ]
    return local_rows(spark, rows, schema)


_T_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "q_transpose",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n_events,
               CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users,
               round(sum(value), 6) AS sum_value
        FROM events
        GROUP BY event_type
    ),
    m(metric) AS (VALUES ('n_events'), ('n_users'), ('sum_value'))
    SELECT m.metric AS key,
           max(CASE WHEN m.metric = 'n_events' THEN a.n_events
                    WHEN m.metric = 'n_users' THEN a.n_users
                    ELSE a.sum_value END)
               FILTER (WHERE a.event_type = 'click') AS click,
           max(CASE WHEN m.metric = 'n_events' THEN a.n_events
                    WHEN m.metric = 'n_users' THEN a.n_users
                    ELSE a.sum_value END)
               FILTER (WHERE a.event_type = 'error') AS error,
           max(CASE WHEN m.metric = 'n_events' THEN a.n_events
                    WHEN m.metric = 'n_users' THEN a.n_users
                    ELSE a.sum_value END)
               FILTER (WHERE a.event_type = 'purchase') AS purchase,
           max(CASE WHEN m.metric = 'n_events' THEN a.n_events
                    WHEN m.metric = 'n_users' THEN a.n_users
                    ELSE a.sum_value END)
               FILTER (WHERE a.event_type = 'signup') AS signup,
           max(CASE WHEN m.metric = 'n_events' THEN a.n_events
                    WHEN m.metric = 'n_users' THEN a.n_users
                    ELSE a.sum_value END)
               FILTER (WHERE a.event_type = 'view') AS view
    FROM m CROSS JOIN agg a
    GROUP BY m.metric
    """,
)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q166: ``DataFrame.transpose`` (Spark 4.0) — rows↔columns as a
    FIRST-CLASS relational op, the report-shaping step (metrics as
    rows, categories as columns) previously hand-written as the
    Q64-pivot/Q78-unpivot pair: the per-type aggregate (5 types × 3
    metrics) transposes on ``event_type``, so the original COLUMN NAMES
    become the ``key`` column and each index VALUE becomes an output
    column. Transpose semantics pinned by the hash: all measure columns
    must first share a least-common type (everything cast to DOUBLE
    here — transpose REFUSES mixed incompatible types, the canary
    test), column order follows the sorted index values, and the oracle
    rebuilds the same grid with the classic metric-rows × FILTERed-max
    construction.

    The fixture's event-type vocabulary is a stable 5-value set at
    every SF; the premise is guarded LOUD (an unexpected type would
    silently add a column and break the driver's schema match, so the
    query raises instead). Scale note: transpose materializes the index
    values as schema — it is an O(small) REPORT op by construction
    (column count = distinct index values); at 100 TB the input is
    always a pre-aggregated frame like this one, never the raw corpus.
    """
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    types = {r[0] for r in agg.select("event_type").collect()}
    if types != set(_T_TYPES):
        raise ValueError(
            f"q_transpose: unexpected event_type vocabulary {sorted(types)} "
            f"— transposed schema would drift from the declared oracle"
        )
    return agg.transpose(F.col("event_type"))


@register(
    "q_regr_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
           round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 6)      AS avg_qty,
           round(regr_avgy(l_extendedprice, l_quantity), 6)      AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_regr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q172: LINEAR-REGRESSION aggregates (``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` / ``regr_count`` / ``regr_avgx`` /
    ``regr_avgy``) — the ANSI bivariate family beside Q66's
    corr/covar/stddev: per return flag, the least-squares fit of
    extended price on quantity. Both engines implement the identical
    textbook definitions over Welford-style mergeable partials, so the
    aggregate is one partial+final hash agg (no window, no self-join).
    Only NORMALIZED outputs are emitted (slope/intercept/r2/means —
    magnitude ~1e0-1e4, where round-6 absorbs double summation-order
    drift); the raw sum-of-squares forms (regr_sxx/sxy/syy, ~1e12)
    stay out of the hash deliberately — 6-dp rounding past double's
    15-16 significant digits would be noise, the Q15/sum6 lesson.

    Scale shape: mergeable constant-size state per group (6 moments),
    map-side combined — the same 100 TB profile as every Q66-class
    moment aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.expr(f"regr_count({y}, {x})").cast("bigint").alias("n_pairs"),
        r6d(F.expr(f"regr_slope({y}, {x})"), "slope"),
        r6d(F.expr(f"regr_intercept({y}, {x})"), "intercept"),
        r6d(F.expr(f"regr_r2({y}, {x})"), "r2"),
        r6d(F.expr(f"regr_avgx({y}, {x})"), "avg_qty"),
        r6d(F.expr(f"regr_avgy({y}, {x})"), "avg_price"),
    )


# ---------------------------------------------------------------------------
# Q189 — skyline (Pareto frontier): the dominance query, distributed

def _pareto_sweep_one(b):
    """One sort-sweep pass of the 2-D skyline rule over a single pandas
    frame (columns ``price`` minimized, ``disc`` maximized, others
    carried): keep a row iff its disc equals the max AT its price and
    strictly exceeds the running max over all cheaper prices.
    Property-tested against the brute dominance definition in
    tests/test_properties.py."""
    gmax = b.groupby("price")["disc"].transform("max")
    grp = b[["price", "disc"]].groupby("price", sort=True)["disc"].max()
    prior = grp.cummax().shift(1)  # max disc over strictly cheaper
    keep_price = grp.index[prior.isna() | (grp > prior)]
    return b[(b["disc"] == gmax) & b["price"].isin(set(keep_price))]


def pareto_sweep(batches):
    """Phase-1 LOCAL prune: sweep each Arrow batch independently.
    Per-batch output is a SUPERSET of the batch's contribution to the
    global skyline (dominance is transitive), so batch independence
    is sound here — but NOT for the final pass, which must see every
    candidate in one frame (``pareto_sweep_merged``)."""
    for b in batches:
        if len(b) == 0:
            continue
        out = _pareto_sweep_one(b)
        if len(out):
            yield out


def pareto_sweep_merged(batches):
    """Phase-2 GLOBAL merge: concatenate ALL incoming batches before
    the sweep (ADVICE r12). Arrow hands mapInPandas the single
    post-repartition(1) partition as MULTIPLE batches once the
    candidate set exceeds spark.sql.execution.arrow.maxRecordsPerBatch
    (default 10k) — sweeping those independently would let a row
    dominated only by a row in ANOTHER batch survive. The candidate
    set is ~ln(n) per phase-1 batch, so materializing it is O(skyline
    candidates), not O(n); the anti-correlated worst case (skyline ~ n)
    is the documented flip to a range-partitioned multi-level merge."""
    import pandas as pd

    frames = [b for b in batches if len(b)]
    if not frames:
        return
    out = _pareto_sweep_one(pd.concat(frames, ignore_index=True))
    if len(out):
        yield out


@register(
    "q_skyline",
    oracle="""
    WITH t AS (
        SELECT l_orderkey, l_linenumber,
               l_extendedprice AS price, l_discount AS disc
        FROM lineitem
    ),
    g AS (SELECT price, max(disc) AS gmax FROM t GROUP BY price),
    gg AS (
        SELECT price, gmax,
               max(gmax) OVER (
                   ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS mlt
        FROM g
    )
    SELECT t.l_orderkey, t.l_linenumber, t.price, t.disc
    FROM t JOIN gg ON t.price = gg.price
    WHERE t.disc = gg.gmax AND (gg.mlt IS NULL OR t.disc > gg.mlt)
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q189: 2-D SKYLINE (Pareto frontier) over lineitem — the line
    items no other item beats on BOTH objectives (lower extendedprice,
    higher discount; Borzsony/Kossmann/Stocker ICDE 2001, the operator
    warehouses spell as a quadratic NOT EXISTS self-join). A row is
    dominated iff some row has price <= p AND disc >= d with at least
    one strict; equal (price, disc) duplicates do not dominate each
    other, so whole tie-groups survive together — the hash pins that
    boundary.

    The naive form is O(n^2) pairs; the 2-D structure collapses it to
    a SORT-SWEEP: a row survives iff its disc equals the max disc AT
    its price and strictly exceeds the running max disc over all
    STRICTLY cheaper prices. One global sweep is still a one-reducer
    window over ~n distinct prices (continuous dims!), so the engine
    runs the classic DISTRIBUTED skyline instead (Wu et al. — local
    prune, global merge): phase 1 sweeps each Arrow batch locally
    (mapInPandas, vectorized groupby/cummax — a local skyline is a
    SUPERSET of the global one: any global survivor is unbeaten in
    its own batch, and dominance is transitive, so every dominated
    row has a dominating CANDIDATE witness); phase 2 repartition(1)s
    the ~ln(n)-per-batch candidates and runs the SAME sweep exactly
    once over the tiny survivor set. At 100 TB: phase 1 rides the
    scan (no shuffle), phase 2 moves only candidates — the anti-
    correlated worst case (huge skylines) is the documented flip to
    a range-partitioned multi-level merge. No arithmetic anywhere —
    raw doubles compared exactly — so there is no rounding contract
    to manage.

    Reference analog: none — SURVEY §2 B.10 extension row (report-
    style dominance screens are LocalApp.java report territory at
    reference scale)."""
    t = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("disc"),
    )
    local = t.mapInPandas(pareto_sweep, schema=t.schema)
    return local.repartition(1).mapInPandas(pareto_sweep_merged, schema=t.schema)


# ---------------------------------------------------------------------------
# Q199 — RFM segmentation (recency / frequency / monetary), integer thresholds

_RFM_REF = "1998-12-31"  # fixed analysis date (fixture orders end in 1998)


@register(
    "q_rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '{_RFM_REF}') AS recency_days,
               count(*) AS freq,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT count(*) AS n,
               CAST(sum(recency_days) AS BIGINT) AS tot_r,
               CAST(sum(freq) AS BIGINT) AS tot_f,
               CAST(sum(m_cents) AS BIGINT) AS tot_m
        FROM cust
    ),
    seg AS (
        SELECT c.o_custkey, c.recency_days, c.freq, c.m_cents,
               concat(CASE WHEN c.recency_days * t.n <= t.tot_r
                           THEN 'R' ELSE 'r' END,
                      CASE WHEN c.freq * t.n >= t.tot_f
                           THEN 'F' ELSE 'f' END,
                      CASE WHEN c.m_cents * t.n >= t.tot_m
                           THEN 'M' ELSE 'm' END) AS segment
        FROM cust c CROSS JOIN tot t
    )
    SELECT segment,
           count(*) AS n_customers,
           CAST(sum(freq) AS BIGINT) AS total_orders,
           round(sum(m_cents) / 100.0, 6) AS total_monetary,
           CAST(min(recency_days) AS BIGINT) AS min_recency_days,
           CAST(max(recency_days) AS BIGINT) AS max_recency_days
    FROM seg GROUP BY segment
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q199: RFM SEGMENTATION — the classic marketing-analytics cube
    (Hughes 1994): per customer, Recency (days since last order at a
    fixed analysis date), Frequency (order count) and Monetary (spend),
    each split at the population mean into high/low, yielding the 8
    R/F/M segments ('RFM' = recent+frequent+big-spend champions,
    'rfm' = lapsed one-timers) with per-segment rollups.

    Mean-threshold splits, not ntile quartiles, by design twice over:
    (1) DETERMINISM — every comparison is exact integer arithmetic
    (metric × n_customers vs the population total; money pre-quantized
    to BIGINT cents, the r12 micro-unit doctrine), so no float
    threshold can round differently across engines; (2) SCALE — ntile
    needs a GLOBAL rank (one-reducer window over all customers at
    100 TB), while the mean is one broadcastable aggregate.
    Overflow bound: cents×customers stays under 2^63 until ~1e8
    customers × 1e9 cents — past that, promote to DECIMAL.

    Plan shape: orders collapse to the customer grain in ONE map-side-
    combined hash aggregate (the only orders-sized exchange); the
    3-scalar population total collects via one tiny aggregate and is
    baked into the plan as literals (aggregate-then-literal, the
    Q191/Q103 discipline — no 1-row BNLJ crossJoin); segmentation is a
    narrow codegen map; the final per-segment rollup moves 8 groups.

    Reference analog: none — SURVEY §2 B.10 extension row (report-
    grade aggregation is LocalApp.java territory at reference scale).
    """
    cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit(_RFM_REF).cast("date"),
                F.max(F.col("o_orderdate").cast("date")),
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("m_cents"),
        )
    )
    tot = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("recency_days").alias("tot_r"),
        F.sum("freq").alias("tot_f"),
        F.sum("m_cents").alias("tot_m"),
    ).collect()[0]
    n, tot_r, tot_f, tot_m = (
        int(tot["n"]),
        int(tot["tot_r"]),
        int(tot["tot_f"]),
        int(tot["tot_m"]),
    )
    segment = F.concat(
        F.when(F.col("recency_days") * n <= tot_r, F.lit("R")).otherwise(
            F.lit("r")
        ),
        F.when(F.col("freq") * n >= tot_f, F.lit("F")).otherwise(F.lit("f")),
        F.when(F.col("m_cents") * n >= tot_m, F.lit("M")).otherwise(
            F.lit("m")
        ),
    )
    return (
        cust.withColumn("segment", segment)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("freq").alias("total_orders"),
            F.round(F.sum("m_cents") / F.lit(100.0), 6).alias(
                "total_monetary"
            ),
            F.min("recency_days").cast("bigint").alias("min_recency_days"),
            F.max("recency_days").cast("bigint").alias("max_recency_days"),
        )
    )


# ---------------------------------------------------------------------------
# Q202 — Gini concentration of customer spend per market segment

@register(
    "q_gini_spend",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_mktsegment AS segment, s.cents,
               row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY s.cents, s.o_custkey
               ) AS i
        FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(cents) AS DOUBLE) / 100, 6) AS total_spend,
           round(CAST(2 * sum(CAST(i AS HUGEINT) * cents)
                      - (count(*) + 1) * CAST(sum(cents) AS HUGEINT)
                      AS DOUBLE)
                 / CAST(count(*) * CAST(sum(cents) AS HUGEINT) AS DOUBLE),
                 6) AS gini
    FROM ranked
    GROUP BY segment
    """,
)
def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q202: GINI COEFFICIENT of customer spend per market segment —
    the inequality/concentration metric every marketplace-health and
    data-curation dashboard carries (a segment whose revenue is one
    whale behaves nothing like a uniform one; same statistic screens
    source-imbalance in training corpora). Computed by the exact
    rank formula over ascending spend: G = (2·Σi·xᵢ − (n+1)·Σx) /
    (n·Σx), x sorted asc, ties broken by custkey so the rank — and
    therefore the statistic — is deterministic on both engines.

    Exactness: spend is BIGINT cents (micro-unit doctrine); the rank
    weighted sum Σi·xᵢ accumulates in DECIMAL(38,0) (it exceeds int64
    past ~1e7 customers × 1e8 cents; DuckDB's HUGEINT twin) and the
    single final division is double-of-exact-integers, rounded 6dp.

    Plan shape at 100 TB: orders collapse to customer grain in ONE
    map-side-combined hash agg (the only orders-sized exchange); the
    segment join moves O(customers) rows; the rank window partitions
    by segment — LOW cardinality, so at true 100 TB the flip is
    range-partitioned two-phase ranking (rank = within-chunk rank +
    broadcast chunk-count prefix, the Q201 chunked-prefix pattern) or
    the KLL-binned approximate Gini (Q130's sketch); at customer
    grain (orders ≫ customers) the single window is the honest
    test-SF form. Final agg moves 5 segment rows.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    spend = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    seg = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_custkey")
    ranked = (
        spend.join(seg, spend.o_custkey == seg.c_custkey)
        .withColumn("i", F.row_number().over(w))
    )
    n = F.count(F.lit(1))
    s = F.sum("cents")
    wsum = F.sum(
        F.col("i").cast("decimal(38,0)") * F.col("cents")
    )
    # every product runs in DECIMAL(38,0): n*s overflows int64 past
    # ~3e6 customers x 1e14 total cents (it did, at the sf10 probe)
    nD = n.cast("decimal(38,0)")
    sD = s.cast("decimal(38,0)")
    num = F.lit(2) * wsum - (nD + F.lit(1)) * sD
    den = nD * sD
    return ranked.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        n.cast("bigint").alias("n_customers"),
        F.round(s.cast("double") / 100, 6).alias("total_spend"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Q203 — Benford first-digit screen over order totals

import math as _math

_BENFORD = {d: round(_math.log10(1 + 1 / d), 6) for d in range(1, 10)}


@register(
    "q_benford",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders
    ),
    tot AS (SELECT count(*) AS n FROM digits)
    SELECT d.digit,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(count(*) AS DOUBLE) / t.n, 6) AS observed,
           CAST(CASE d.digit
               {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD.items())}
           END AS DOUBLE) AS expected,
           round(round(CAST(count(*) AS DOUBLE) / t.n, 6)
                 - CAST(CASE d.digit
                       {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD.items())}
                   END AS DOUBLE), 6) AS deviation
    FROM digits d CROSS JOIN tot t
    GROUP BY d.digit, t.n
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q203: BENFORD'S LAW first-significant-digit screen over order
    totals — the classic forensic-accounting / synthetic-data smoke
    test (Benford 1938; Nigrini 1996 fraud screens): natural
    multi-scale amounts put digit d first with probability
    log10(1+1/d); fabricated or truncated feeds drift. The digit
    histogram doubles as a data-quality canary for ingest pipelines
    (a silent unit change flips the distribution overnight).

    Determinism: the digit is extracted from the BIGINT cents string
    (no float formatting anywhere); observed share = one IEEE divide
    of two exact integers rounded 6dp; the expected shares are
    PRE-COMPUTED PYTHON LITERALS baked identically into both the plan
    and the oracle — log10 never runs inside either engine, so
    last-ulp libm divergence is structurally impossible.

    Plan shape at 100 TB: digit extraction is a narrow codegen map;
    the count collapses to ≤9 groups map-side (partial+final
    HashAggregate, the cheapest shuffle an engine can do); the total
    is aggregate-then-literal (Q191/Q199 discipline). Nothing else
    moves.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        load(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = int(
        counts.agg(F.sum("n_orders")).collect()[0][0]
    )  # aggregate-then-literal: one tiny driver scalar, no 1-row BNLJ
    expected = F.when(F.col("digit") == 1, F.lit(_BENFORD[1]))
    for d in range(2, 10):
        expected = expected.when(F.col("digit") == d, F.lit(_BENFORD[d]))
    observed = F.round(F.col("n_orders") / F.lit(total), 6)
    return counts.select(
        "digit",
        "n_orders",
        observed.alias("observed"),
        expected.alias("expected"),
        F.round(observed - expected, 6).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Q204 — lag-1 autocorrelation of daily order volume per priority

@register(
    "q_autocorr_daily",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
    ),
    lagged AS (
        SELECT o_orderpriority, x,
               lag(x) OVER (
                   PARTITION BY o_orderpriority ORDER BY d
               ) AS prev
        FROM daily
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(CAST(x AS DOUBLE), CAST(prev AS DOUBLE)), 6)
               AS autocorr_lag1
    FROM lagged WHERE prev IS NOT NULL
    GROUP BY o_orderpriority
    """,
)
def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q204: LAG-1 AUTOCORRELATION of daily order volume per priority
    — the first diagnostic of any operational time series (is
    yesterday's volume informative about today's? near-zero for the
    synthetic uniform fixture, strongly positive for real demand),
    and the statistic behind seasonality detection and anomaly
    baselines (a Q194 sibling over the TIME axis instead of the value
    axis).

    Determinism: daily totals are exact BIGINT cents; consecutive
    observed days pair via lag() under the unambiguous (priority, day)
    order; the correlation itself is Spark's corr ↔ DuckDB's corr
    rounded 6dp — the Q66-pinned contract (both are Welford-style
    over identical exact inputs; 6dp absorbs the partial-merge ulp).

    Plan shape at 100 TB: orders collapse to O(priorities × days)
    daily rows in ONE map-side-combined hash agg — the only
    orders-sized exchange; the lag window and the final corr both run
    over that tiny collapsed relation (days ≪ rows), so the window's
    low-cardinality partitioning is irrelevant to scale. Gap days
    pair with the next OBSERVED day by declared semantics (the
    Q113 gap-fill query is the densify step if calendar-true lag is
    wanted).

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("x")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("d")
    lagged = daily.withColumn("prev", F.lag("x").over(w)).filter(
        F.col("prev").isNotNull()
    )
    return lagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.corr(F.col("x").cast("double"), F.col("prev").cast("double")),
            6,
        ).alias("autocorr_lag1"),
    )


# ---------------------------------------------------------------------------
# Q208 — CUSUM drift detection over daily order volume

@register(
    "q_cusum_drift",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
    ),
    stats AS (
        SELECT o_orderpriority, count(*) AS n, sum(x) AS s
        FROM daily GROUP BY 1
    ),
    walk AS (
        SELECT d.o_orderpriority, d.d, st.n,
               CAST(st.n AS HUGEINT) * sum(d.x) OVER (
                   PARTITION BY d.o_orderpriority ORDER BY d.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - CAST(row_number() OVER (
                   PARTITION BY d.o_orderpriority ORDER BY d.d
               ) AS HUGEINT) * st.s AS dev_n
        FROM daily d JOIN stats st USING (o_orderpriority)
    ),
    best AS (
        SELECT o_orderpriority, n,
               max(abs(dev_n)) AS mx
        FROM walk GROUP BY 1, 2
    )
    SELECT w.o_orderpriority,
           CAST(w.n AS BIGINT) AS n_days,
           round(CAST(b.mx AS DOUBLE) / w.n / 100, 6) AS max_dev,
           min(w.d) AS dev_day
    FROM walk w
    JOIN best b ON w.o_orderpriority = b.o_orderpriority
               AND abs(w.dev_n) = b.mx
    GROUP BY w.o_orderpriority, w.n, b.mx
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q208: CUSUM DRIFT SCREEN (Page 1954) — per priority, the
    maximum absolute deviation of the cumulative daily-volume walk
    from its mean-rate line, and the earliest day it occurs: the
    classic change-point detector (a regime shift mid-series bows the
    walk; stationary noise keeps it near zero) that operational
    monitoring runs beside Q194's point-outlier screen and Q204's
    autocorrelation — the three complementary "did the process
    change?" lenses.

    Exactness: the deviation at day t is Σ₍ᵢ≤ₜ₎xᵢ − t·(S/n), scaled
    by n to the ALL-INTEGER form n·Σxᵢ − t·S (no rational mean ever
    floats); cumulative sums are exact cents, the scaled products
    accumulate in DECIMAL(38,0)/HUGEINT, and the single final divide
    is rounded 6dp (reported in currency units). The argmax day ties
    to the earliest on both engines.

    Plan shape at 100 TB: orders collapse to O(priorities × days)
    daily rows in ONE map-side-combined hash agg (the only
    orders-sized exchange — the Q204 skeleton); the per-priority
    stats, the walk window, and the final argmax all run over the
    tiny collapsed relation behind a single priority-keyed exchange.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("x")
        )
    )
    # Per-priority stats ride WINDOWS over the collapsed daily relation
    # and the argmax collapses to ONE struct-max aggregate (round-13,
    # guide §2.4): the former stats groupBy + broadcast join and the
    # best/filter join-back each re-executed `daily` — three
    # orders-sized aggregation passes where one suffices. The unordered
    # stats windows and the ordered walk windows share one
    # hashpartitioning(priority) exchange of the O(priorities × days)
    # relation; max(struct(adev, −unix_date(d))) is argmax on the
    # deviation with ties to the earliest day — exactly the former
    # filter-to-max + min(d).
    w = Window.partitionBy("o_orderpriority").orderBy("d")
    wall = Window.partitionBy("o_orderpriority")
    d38 = "decimal(38,0)"
    walk = (
        daily.withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("s", F.sum("x").over(wall))
        .withColumn(
            "dev_n",
            F.col("n").cast(d38)
            * F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(w).cast(d38) * F.col("s"),
        )
        .select(
            "o_orderpriority",
            "d",
            "n",
            F.abs("dev_n").alias("adev"),
        )
    )
    return (
        walk.groupBy("o_orderpriority")
        .agg(
            F.max(
                F.struct(
                    F.col("adev"), (-F.unix_date(F.col("d"))).alias("nd")
                )
            ).alias("pk"),
            F.max("n").alias("n"),
        )
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n_days"),
            F.round(
                F.col("pk.adev").cast("double") / F.col("n") / 100, 6
            ).alias("max_dev"),
            F.date_from_unix_date(-F.col("pk.nd")).alias("dev_day"),
        )
    )


# ---------------------------------------------------------------------------
# Q209 — frequent itemset pairs with lift (market-basket affinity)

_BASKET_MIN_SUPPORT = 2
_BASKET_TOP = 20


@register(
    "q_freq_itemsets",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    part_cnt AS (
        SELECT l_partkey, count(*) AS c FROM items GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS support
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_BASKET_MIN_SUPPORT}
    )
    SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
           round(CAST(support AS DOUBLE) * t.n / (ca.c * cb.c), 6)
               AS lift
    FROM pairs p
    CROSS JOIN n_orders t
    JOIN part_cnt ca ON p.part_a = ca.l_partkey
    JOIN part_cnt cb ON p.part_b = cb.l_partkey
    ORDER BY support DESC, part_a, part_b
    LIMIT {_BASKET_TOP}
    """,
)
def q_freq_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q209: FREQUENT ITEMSET PAIRS + LIFT — the market-basket
    affinity miner (Agrawal-Srikant 1994's 2-itemset stage, the one
    that carries every "bought together" feature): pairs of parts
    co-occurring in an order, support-floored, ranked by support,
    scored by lift = P(ab)/(P(a)P(b)) — the Q192 PMI statistic over
    BASKETS instead of token windows.

    Pair generation is a SELF-EQUI-JOIN on the order key over the
    distinct (order, part) relation with part_a < part_b — fan-out
    bounded by items-per-order² (physically capped at basket size;
    13 max in the fixture), NEVER corpus²; the classic a-priori
    observation that frequent pairs live inside baskets. Lift joins
    the O(parts) count relation twice (broadcast — a parts dimension
    fits any executor); N is aggregate-then-literal; top-20 is
    TakeOrderedAndProject. Determinism: integer supports, one double
    expression of exact integers rounded 6dp, full (support desc,
    part_a, part_b) tie order.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    # Round-13 optimization (guide §2.3/§2.4, the graph.py
    # _copurchase_edges change): ONE basket aggregation replaces the
    # distinct + self-join — pairs, the part-count dimension and
    # n_orders all derive from the persisted (orderkey, sorted parts)
    # relation, so lineitem is scanned once instead of once per
    # consumer (the ca/cb broadcasts each replanned the whole distinct
    # subtree) and the orderkey exchange happens once. Pair multiset
    # identical by construction: each order's distinct a < b part
    # pairs exactly once. The lazy result frame reads the pinned
    # baskets (tables.py::pin).
    baskets = pin(
        "q_freq_itemsets.baskets",
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts")),
    )
    n_orders = baskets.count()
    part_cnt = baskets.select(
        F.explode("parts").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("ca")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                F.col("support") * F.lit(n_orders) / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# Q210 — accounts-receivable aging buckets

_AGING_REF = "2024-06-30"  # fixed analysis date (the Q199 _RFM_REF pattern)


@register(
    "q_aging_buckets",
    oracle=f"""
    WITH aged AS (
        SELECT o_orderstatus,
               datediff('day', CAST(o_orderdate AS DATE),
                        DATE '{_AGING_REF}') AS age,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        WHERE CAST(o_orderdate AS DATE) <= DATE '{_AGING_REF}'
    )
    SELECT o_orderstatus,
           CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 60 THEN '31-60'
                WHEN age <= 90 THEN '61-90'
                ELSE '90+' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(cents) AS DOUBLE) / 100, 6) AS total_value
    FROM aged
    GROUP BY 1, 2
    """,
)
def q_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q210: AGING BUCKETS — the accounts-receivable report every
    finance warehouse serves (0-30/31-60/61-90/90+ days outstanding
    per order status at a fixed analysis date), and the template for
    any fixed-boundary age/recency bucketing (data-freshness SLAs,
    cache-tier assignment). Fixed date literal (the Q199 pattern) so
    replays are deterministic; the date filter prunes future orders
    at the scan (PushedFilters).

    Plan shape at 100 TB: one narrow codegen map (datediff + CASE)
    feeding one partial+final HashAggregate over statuses × 4 buckets
    — the Q15 profile; exact BIGINT cents.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    age = F.datediff(
        F.lit(_AGING_REF).cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= 30, F.lit("0-30"))
        .when(age <= 60, F.lit("31-60"))
        .when(age <= 90, F.lit("61-90"))
        .otherwise(F.lit("90+"))
    )
    return (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").cast("date") <= F.lit(_AGING_REF).cast("date")
        )
        .select(
            "o_orderstatus",
            bucket.alias("bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100, 6).alias(
                "total_value"
            ),
        )
    )
