"""B.3 joins (Q06-Q14).

Scale strategy per join (SURVEY.md §4.2 "100 TB design rules"):
- fact⋈fact (lineitem⋈orders) → sort-merge with AQE skew splitting;
  both sides shuffle on the key once.
- fact⋈small-dim (nation, region, part at test SF) → explicit
  ``F.broadcast`` where the dim is bounded by nature; otherwise leave
  the choice to Catalyst/AQE so a 100× scale-up degrades gracefully to
  shuffle join instead of OOMing the driver.
- semi/anti joins use the dedicated join types (no distinct+inner
  emulation — half the shuffle volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import micros_between, r6d, sum6
from project_map_reduce_spark.operators.asof import asof_join_keyed
from project_map_reduce_spark.operators.rangejoin import interval_join
from project_map_reduce_spark.registry import register
from project_map_reduce_spark.tables import load, localize


@register(
    "q_join_inner",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi-join, revenue by market segment."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum6("o_totalprice").alias("total_revenue"),
        )
    )


@register(
    "q_join_multi",
    oracle="""
    SELECT r_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star chain, revenue by region. nation/region are bounded
    (25/5 rows at any SF) → always broadcast; lineitem⋈orders is the
    big-big edge → sort-merge; customer rides Catalyst's choice."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name").agg(
        sum6(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "q_join_left_outer",
    oracle="""
    SELECT count(*) AS n_customers_without_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    WHERE o_orderkey IS NULL
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer left-outer orders; count the null side (orderless
    customers exist by fixture design, FIXTURES.md)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .filter(F.col("o_orderkey").isNull())
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


@register(
    "q_join_full_outer",
    oracle="""
    WITH a AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0),
         b AS (SELECT DISTINCT o_custkey AS k FROM orders   WHERE o_custkey % 3 = 0)
    SELECT coalesce(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'right_only'
                WHEN b.k IS NULL THEN 'left_only'
                ELSE 'both' END AS side
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two deterministic key samples, side labeled."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    a = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("ak")
    ).distinct()
    b = o.filter(F.col("o_custkey") % 3 == 0).select(
        F.col("o_custkey").alias("bk")
    ).distinct()
    j = a.join(b, a.ak == b.bk, "full")
    side = (
        F.when(F.col("ak").isNull(), "right_only")
        .when(F.col("bk").isNull(), "left_only")
        .otherwise("both")
    )
    return j.select(F.coalesce("ak", "bk").alias("k"), side.alias("side"))


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 order — left_semi (ref A4a's correlation-key
    filter is this exact shape). Semi join never duplicates left rows
    and only ships the key column of the right side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — left_anti ↔ NOT EXISTS."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand,
           count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part with an explicit broadcast hint: the fact side
    never shuffles — map-side hash join, then partial agg on p_brand.
    (Same result as the unhinted join; the hint pins the physical
    strategy, asserted via the plan in tests.)"""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            sum6(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "q_join_theta",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_late_ship,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS late_value
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    GROUP BY o_orderpriority
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + theta residual: ships strictly after the order date.
    The equi part drives the shuffle/merge; the range predicate is a
    post-join filter evaluated inside codegen — no nested-loop blowup."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_ship"),
        sum6("l_extendedprice").alias("late_value"),
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           p.ts,
           round(p.value, 6) AS purchase_value,
           s.sig_ts AS signup_ts,
           round(s.sig_value, 6) AS signup_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts AS sig_ts, value AS sig_value
          FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.sig_ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed as-of join: for each purchase event, the latest signup
    event at-or-before it for the same user, value carried. Built on
    operators/asof.py (union + one keyed window — single shuffle on
    user_id; no native ASOF in Spark SQL). Oracle: DuckDB ASOF JOIN."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("sig_ts"),
        F.col("value").alias("sig_value"),
        "event_id",
    )
    joined = asof_join_keyed(
        purchases,
        signups,
        key="user_id",
        left_ts="ts",
        right_ts="sig_ts",
        value_cols=["sig_ts", "sig_value"],
        tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        r6d(F.col("purchase_value"), "purchase_value"),
        F.col("sig_ts").alias("signup_ts"),
        r6d(F.col("sig_value"), "signup_value"),
    )


@register(
    "q_join_range",
    oracle="""
    SELECT e.user_id,
           e.event_id AS err_id,
           p.event_id AS pur_id,
           round(epoch(p.ts - e.ts), 6) AS secs_after
    FROM events e JOIN events p ON e.user_id = p.user_id
    WHERE e.event_type = 'error' AND p.event_type = 'purchase'
      AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: purchases by the same user strictly
    within one hour AFTER an error event — the did-the-incident-hurt-
    conversion question.

    Built on operators/rangejoin.py: time quantized into window-width
    buckets, left windows replicated to ≤2 buckets, equi-join on
    (user_id, bucket), exact predicate re-applied. The naive plan for
    this query is a per-user cartesian (inequality-only conjunct);
    the bucketed form is an ordinary hash-partitioned equi-join with
    shuffle O(2·|errors| + |purchases|) and per-key fanout bounded by
    events-per-hour — the plan rules (tools/plan_rules.py) reject any
    BNLJ/cartesian."""
    ev = load(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pur_id"), F.col("ts").alias("pur_ts")
    )
    pairs = interval_join(
        err, pur, "user_id", "err_ts", "pur_ts", lower_sec=0.0, upper_sec=3600.0
    )
    return pairs.select(
        "user_id",
        "err_id",
        "pur_id",
        F.round(
            micros_between("err_ts", "pur_ts") / 1_000_000.0, 6
        ).alias("secs_after"),
    )


@register(
    "q_join_salted",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    model AS (
        SELECT w, count(*) AS c FROM tok GROUP BY w
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT)          AS n_tokens,
           CAST(sum(m.c) AS BIGINT)          AS sum_freq,
           CAST(max(m.c) AS BIGINT)          AS max_freq
    FROM tok t JOIN model m ON t.w = m.w
    GROUP BY t.lang
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q91: skew-immune join, driver-proven LOSSLESS. The token→vocab
    join from Q88 has the canonical zipfian hot key ("the" carries a
    constant fraction of all rows — one reducer saturates no matter the
    cluster size); this query routes it through
    ``operators/skew.py::salted_join`` — the skewed token side gets a
    deterministic row-hash salt in [0,16), the vocab side is exploded
    16× — so each hot word spreads over 16 reducers. The oracle is the
    PLAIN join (DuckDB knows nothing of salt), so the driver hash
    matches only if salting changes the distribution and nothing else.
    Complements Q86 (salted aggregation) for full skew-operator driver
    coverage; chained-count semantics (sum/max of the word frequency)
    make silent row loss or duplication arithmetically visible."""
    from project_map_reduce_spark.operators.skew import salted_join

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    model = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    joined = salted_join(tok, model, on=["w"], n_salt=16)
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("c").alias("sum_freq"),
        F.max("c").alias("max_freq"),
    )


@register(
    "q_join_bucketed",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS total_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q96: the co-located bucketed join DRIVER-PROVEN correct. Both
    sides are written as bucketed+sorted managed tables on the join key
    (``sources/sinks.py::write_bucketed``, 8 buckets) and re-read
    through the catalog; the join then plans with NO shuffle exchange
    on either side — the layout the plan-audit suite pins
    (tests/test_sinks.py) — and this query proves the exchange-free
    path produces byte-identical results: the oracle is the PLAIN join
    (same SQL as Q06), so the driver hash matches only if bucketed
    pre-partitioning changes the physical plan and nothing else.

    This is the 100 TB pattern for every RECURRING fact⋈fact join:
    pay one bucketed write, then every subsequent join/aggregation on
    that key is exchange-free forever. The function raises loudly if
    the bucketed layout failed to eliminate the join shuffle, so a
    silent planner regression becomes a driver failure, not a quiet
    2× shuffle cost.

    Driver-collect note (same pattern as Q90): the joined aggregate is
    O(segments) = 5 rows; it is localized so the scratch tables can be
    dropped before returning — the bounded collect is harness-only, at
    scale the bucketed tables are the durable asset, not scratch.
    """
    import uuid

    from project_map_reduce_spark.sources.sinks import read_table, write_bucketed

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    tag = uuid.uuid4().hex[:8]
    t_o, t_c = f"t_q96_orders_{tag}", f"t_q96_customer_{tag}"
    try:
        write_bucketed(o, t_o, "o_custkey", n_buckets=8)
        write_bucketed(c, t_c, "c_custkey", n_buckets=8)
        ob, cb = read_table(spark, t_o), read_table(spark, t_c)
        # merge hint: at test SFs the planner would rather broadcast the
        # small side (also correct, but then nothing exercises the
        # layout); SMJ is the strategy the bucketed path exists for —
        # at 100 TB both sides are far beyond broadcast anyway.
        joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise RuntimeError(
                f"bucketed join still shuffles — layout regression:\n{plan}"
            )
        return localize(joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum6("o_totalprice").alias("total_revenue"),
        ))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


@register(
    "q_lateral_join_df",
    oracle="""
    SELECT n.n_name,
           t.c_custkey AS cust_key,
           t.c_acctbal AS acctbal
    FROM nation n
    JOIN LATERAL (
        SELECT c.c_custkey, c.c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c.c_acctbal DESC, c.c_custkey
        LIMIT 2
    ) AS t ON true
    """,
)
def q_lateral_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q169: ``DataFrame.lateralJoin`` — Spark 4's DataFrame-API form of
    the correlated LATERAL subquery (Q143 is the SQL spelling; this is
    the programmatic one, with the outer reference marked by
    ``Column.outer()``): for every nation, the top-2 customers by
    account balance, ties broken by c_custkey. Both engines run a
    structurally identical correlated ORDER-BY-LIMIT subquery, so what
    gets hash-checked is Spark's decorrelation of the DataFrame form.

    Scale shape: Catalyst DECORRELATES the per-row subquery into ONE
    ranked window over customer partitioned by nationkey (plan shows
    Window[row_number] + filter, never a per-outer-row re-execution,
    plan-asserted in tests) joined back to nation — i.e. the API is
    sugar over exactly the Q27 top-k-per-group plan, which is why it
    survives 100 TB: one shuffle of customer on the correlation key,
    nation broadcast, no N×M re-scan.
    """
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    return (
        nat.lateralJoin(
            cust.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
            .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
            .limit(2)
            .select("c_custkey", "c_acctbal")
        )
        .select(
            "n_name",
            F.col("c_custkey").alias("cust_key"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 20 END AS k,
               count(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    b AS (
        SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 20 END AS k,
               count(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1
    )
    SELECT coalesce(a.k, b.k) AS k,
           CAST(coalesce(a.n_purchases, 0) AS BIGINT) AS n_purchases,
           CAST(coalesce(b.n_errors, 0) AS BIGINT)    AS n_errors,
           (a.k IS NULL AND b.k IS NULL
            AND a.n_purchases IS NOT NULL AND b.n_errors IS NOT NULL)
               AS null_key_matched
    FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q176: NULL-SAFE equality join (``<=>`` / ``Column.eqNullSafe`` —
    Spark's spelling of SQL's IS NOT DISTINCT FROM): the one join-key
    semantic the B.3 family didn't cover. Two per-key aggregates carry
    a deliberately NULL-bearing key (every 7th user's bucket is NULL);
    a PLAIN equi-join silently drops both NULL groups (NULL = NULL is
    NULL — the classic lost-rows bug this query exists to teach),
    while ``<=>`` matches them, so the FULL join emits exactly one row
    where ``null_key_matched`` is true — the oracle's structurally
    identical IS NOT DISTINCT FROM plan must agree on every row AND on
    that flag, which a fallback-to-plain-equality regression would
    flip to a pair of half-null rows.

    Scale shape: EqualNullSafe is a first-class EQUI-join key for the
    hash/sort-merge strategies (Catalyst rewrites it into the
    coalesce-keyed exchange internally) — plan-asserted NOT a
    BroadcastNestedLoopJoin/cartesian, which is what a naive
    `ON a.k = b.k OR (a.k IS NULL AND b.k IS NULL)` disjunction
    degenerates to. NULL keys all hash to one partition — at 100 TB a
    Zipf-scale NULL population is the documented salting case (Q91)
    or, better, a pre-split (nulls never JOIN-match under plain
    equality, so route them around the join entirely).
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    nk = F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("bigint")).otherwise(
        F.col("user_id") % 20
    )
    a = (
        ev.where(F.col("event_type") == "purchase")
        .select(nk.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    b = (
        ev.where(F.col("event_type") == "error")
        .select(nk.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    j = a.join(b, a["k"].eqNullSafe(b["k"]), "full")
    return j.select(
        F.coalesce(a["k"], b["k"]).alias("k"),
        F.coalesce("n_purchases", F.lit(0)).cast("bigint").alias("n_purchases"),
        F.coalesce("n_errors", F.lit(0)).cast("bigint").alias("n_errors"),
        (
            a["k"].isNull()
            & b["k"].isNull()
            & F.col("n_purchases").isNotNull()
            & F.col("n_errors").isNotNull()
        ).alias("null_key_matched"),
    )
