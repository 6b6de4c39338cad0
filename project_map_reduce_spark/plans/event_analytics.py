"""B.9 extension: event-analytics operators (Q72-Q73) — cohort
retention and ordered funnel conversion.

The two queries every product-analytics workload runs over an event
stream that the streaming-shaped family (tumbling/sliding/session
windows, stream dedup) didn't cover: "of the users who arrived in week
W, how many came back in week W+n?" and "how far down the
view→click→purchase path does each user get?".

Both are pure keyed dataflow — every shuffle is on user_id or on a
(cohort, offset) pair whose cardinality is weeks², so the shapes hold
unchanged when the event table is 100 TB: no windows over the full
stream, no self-join wider than one row per user per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import SUM6, sum6
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.tables import load


@register(
    "q_events_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, week) / 7 AS INT) AS week_offset,
           count(*) AS n_users
    FROM active JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q72: weekly cohort retention triangle — cohort = ISO week of the
    user's first event; each (cohort_week, week_offset) cell counts the
    cohort's users active in that later week.

    100 TB shape: one groupBy(user_id) for first-touch (partial min
    combines map-side), one distinct on (user_id, week) — state
    O(users × weeks) not O(events) — then a join keyed on user_id and
    a final agg whose key space is weeks². Nothing retains raw events
    past the first partial aggregation. ``count(*)`` (not
    countDistinct) in the final agg because (user, week) is already
    distinct — saves the distinct re-shuffle.
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Funnel step order — strictly-increasing timestamps required between
# consecutive stages.
_FUNNEL = ("view", "click", "purchase")


@register(
    "q_events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    staged AS (
        SELECT u.user_id,
               CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2
                    WHEN t1 IS NOT NULL THEN 1
                    ELSE 0 END AS funnel_stage
        FROM users u
        LEFT JOIN s1 USING (user_id)
        LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
    )
    SELECT funnel_stage, count(*) AS n_users FROM staged GROUP BY 1
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q73: ordered funnel — how many users reach each stage of
    view → click (after the first view) → purchase (after that click),
    with strict timestamp ordering between stages.

    100 TB shape: each stage is a filtered groupBy(user_id) min — the
    event table is scanned per stage but reduced to ONE row per user
    before any join, so the joins are user-keyed and at most
    |users|-row on both sides. This is the relational funnel; the
    single-scan alternative (sort each user's events inside
    applyInPandas) trades three cheap scans for a per-user sort and a
    Python stage — the relational form wins whenever the event:user
    ratio is modest, and never OOMs on a hot user.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    e2 = ev.filter(F.col("event_type") == _FUNNEL[1]).join(s1, "user_id")
    s2 = (
        e2.filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    e3 = ev.filter(F.col("event_type") == _FUNNEL[2]).join(s2, "user_id")
    s3 = (
        e3.filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    staged = (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("funnel_stage"),
        )
    )
    return staged.groupBy("funnel_stage").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "q_timeseries_fill",
    oracle=f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               count(*) AS n, {SUM6.format(expr="value")} AS s
        FROM events GROUP BY 1, 2
    )
    SELECT t.event_type,
           g.hour_start,
           coalesce(a.n, 0)   AS n_events,
           coalesce(a.s, 0.0) AS sum_value
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN agg a ON a.h = g.hour_start AND a.event_type = t.event_type
    """,
)
def q_timeseries_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q113: time-series gap filling — the dense hourly grid every
    charting/forecasting consumer expects: one row per (event_type,
    hour) over the stream's full span, zero-filled where no event
    landed. The dense axis is GENERATED, not joined: the hour sequence
    is a constant `sequence(lo, hi, 1h)` exploded per event_type row
    (grid bounds are two scalars collected at plan-build — the model-fit
    pattern), so there is no cross join in the plan; the only real work
    is the hourly aggregate (partial+final) and one keyed left join of
    the tiny dense grid against it.

    Scale shape: grid cardinality = types × hours — calendar-bounded
    (a year is 8.8k hours), never data-bounded, so the generated side
    stays broadcastable at ANY corpus size while the aggregate side
    shrinks the 100 TB stream to O(types × hours) rows before the join.
    A per-entity fill (millions of series) would explode the same
    sequence per entity row — same plan, no new shapes.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    lo, hi = ev.agg(
        F.date_trunc("hour", F.min("ts")), F.date_trunc("hour", F.max("ts"))
    ).first()
    if hi is None:
        raise ValueError("q_timeseries_fill: events table is empty")

    ts_type = ev.schema["ts"].dataType.simpleString()
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(lo).cast(ts_type),
                    F.lit(hi).cast(ts_type),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("hour_start"),
        )
    )
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # sum6, not round(sum(double), 6): the exact-decimal sum
        # contract shared by the other value-sum queries — a float
        # accumulation-order difference vs DuckDB could flake the hash
        # at a 1e-6 boundary once per-hour row counts grow.
        sum6("value").alias("s"),
    )
    return grid.join(hourly, ["event_type", "hour_start"], "left").select(
        "event_type",
        "hour_start",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("s"), F.lit(0.0)).alias("sum_value"),
    )


@register(
    "q_events_attribution",
    oracle=f"""
    WITH touched AS (
        SELECT ts, event_type, value, event_id,
               last_value(CASE WHEN event_type = 'click' THEN ts END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS click_ts
        FROM events
    ),
    purchases AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               value,
               (click_ts IS NOT NULL AND
                epoch_us(ts) - epoch_us(click_ts) <= 604800000000)
                   AS attributed,
               (epoch_us(ts) - epoch_us(click_ts)) / 3600000000.0 AS hours
        FROM touched WHERE event_type = 'purchase'
    )
    SELECT day,
           count(*) AS n_purchases,
           count(*) FILTER (WHERE attributed) AS n_attributed,
           CAST(sum(CASE WHEN attributed
                         THEN CAST(value AS DECIMAL(27,6))
                         ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
               AS attributed_revenue,
           CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
               AS total_revenue,
           round(avg(CASE WHEN attributed THEN hours END), 6)
               AS avg_hours_to_convert
    FROM purchases
    GROUP BY day
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q115: last-touch marketing attribution — each purchase credited
    to the same user's most recent preceding click within a 7-day
    lookback, reported per purchase day. This is the third classic
    product-analytics shape after retention (Q72) and funnels (Q73),
    and the one most often written WRONG at scale: the naive form is an
    interval self-join (every purchase x every prior click within 7
    days — quadratic in events per user), here replaced by ONE keyed
    window: a running `last(click_ts) ignore nulls` carried forward per
    user in event order, so each purchase reads its attribution in O(1)
    from the frame.

    Scale shape: the only exchange over the raw stream is the hash
    partition on user_id for the window (per-user sort is
    partition-local); the day-level aggregate collapses to O(days)
    rows before anything else happens. No self-join exists in the
    plan at any corpus size. Deterministic: window ordered by
    (ts, event_id) so same-timestamp rows tiebreak stably; revenue
    sums are exact decimals (``sum6`` contract).
    """
    from pyspark.sql import Window

    from project_map_reduce_spark.functions.det import micros_between, r6

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touched = ev.withColumn(
        "click_ts",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")),
            ignorenulls=True,
        ).over(w),
    )
    lookback_us = 7 * 86400 * 1_000_000
    gap_us = micros_between("click_ts", "ts")
    purchases = touched.filter(F.col("event_type") == "purchase").select(
        F.date_trunc("day", "ts").alias("day"),
        "value",
        (
            F.col("click_ts").isNotNull() & (gap_us <= F.lit(lookback_us))
        ).alias("attributed"),
        (gap_us / 3.6e9).alias("hours"),
    )
    return purchases.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count(F.when(F.col("attributed"), 1)).alias("n_attributed"),
        sum6(F.when(F.col("attributed"), F.col("value")).otherwise(0.0)).alias(
            "attributed_revenue"
        ),
        sum6("value").alias("total_revenue"),
        r6(F.avg(F.when(F.col("attributed"), F.col("hours")))).alias(
            "avg_hours_to_convert"
        ),
    )


# ---------------------------------------------------------------------------
# Q193 — first-order Markov transition matrix over event streams

@register(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    ),
    pairs AS (
        SELECT cur, nxt, count(*) AS n_trans
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    outs AS (SELECT cur, sum(n_trans) AS n_out FROM pairs GROUP BY cur)
    SELECT p.cur, p.nxt, p.n_trans,
           round(CAST(p.n_trans AS DOUBLE) / o.n_out, 6) AS p_trans
    FROM pairs p JOIN outs o ON p.cur = o.cur
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q193: first-order Markov transition matrix of user behavior —
    P(next event type | current) estimated from every consecutive
    event pair per user (the clickstream model behind next-action
    prediction, funnel leak detection, and bot-vs-human screens; the
    sequence twin of Q73's fixed funnel and Q115's attribution).
    Deterministic sequencing: (ts, event_id) ordering — same-timestamp
    pairs can't flip between runs or engines.

    Plan shape: ONE hash partition on user_id feeds the lead() window
    (per-user sort inside partitions — no global sort); the pair
    aggregate collapses map-side to O(types²) rows; the denominator
    is a window over THE PAIR RELATION (never a second pass over
    events — and, since round 13, never a physical re-execution of
    the pair subtree either). Probability = exact-integer ratio rounded
    at 6 dp — both engines divide the same two BIGINTs. At 100 TB the
    only event-sized exchange is the user_id partition, which every
    sessionization query in the inventory already shares.

    Reference analog: none — SURVEY §2 B.10 extension row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    # Denominator as a WINDOW over the O(types²) pair relation
    # (round-13, guide §2.4): the former groupBy + broadcast join-back
    # physically re-executed `pairs` — and with it the whole
    # events-sized lead() window pass — once per side. The window's
    # exchange moves only the collapsed pair rows.
    wout = Window.partitionBy("cur")
    return pairs.withColumn(
        "n_out", F.sum("n_trans").over(wout)
    ).select(
        "cur",
        "nxt",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.col("n_out"), 6
        ).alias("p_trans"),
    )


# ---------------------------------------------------------------------------
# Q194 — robust (median/MAD) outlier screen, the Q83 twin

_MAD_C = 0.6745  # Phi^-1(0.75): makes MAD consistent with sigma under normality
_MAD_CUT = 3.5  # Iglewicz-Hoaglin modified-z threshold


@register(
    "q_anomaly_mad",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    ),
    rz AS (
        SELECT e.event_type,
               CASE WHEN d.mad <> 0
                    THEN round(abs({_MAD_C} * (e.value - m.med) / d.mad), 6)
               END AS arz
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(*) FILTER (WHERE arz > {_MAD_CUT}) AS BIGINT)
               AS n_outliers,
           round(max(arz), 6) AS max_abs_rz
    FROM rz GROUP BY event_type
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q194: ROBUST outlier screen — modified z-score over median/MAD
    (Iglewicz & Hoaglin: |{c}·(x−med)/MAD| > {cut}) per event type,
    the breakdown-resistant twin of Q83's mean/σ gate: one fat-tailed
    batch inflates σ and HIDES its own outliers (masking), while the
    median and MAD have 50% breakdown, which is why data-quality
    monitors screen metrics this way.

    Plan shape: the Q83 aggregate-then-broadcast skeleton TWICE (the
    price of robustness is a second pass — med must exist before
    |x−med| can rank): tiny per-type medians broadcast onto the
    stream, tiny per-type MADs broadcast back again, final
    partial+final count aggregate. Per-type exact `percentile` is the
    test-SF oracle-checkable form; at 100 TB both medians flip to
    approx_percentile / KLL (Q75's declared drop-in, Q130's sketch).
    Cross-engine: Spark `percentile` and DuckDB `quantile_cont` share
    linear interpolation (the Q65 contract); the modified z rounds at
    6 dp before the threshold compare and a constant-valued type
    (MAD = 0) NULLs out on both engines (the Q83 guard).

    Reference analog: none — SURVEY §2 B.10 extension row."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad")
    )
    rz = F.when(
        F.col("mad") != 0,
        F.round(
            F.abs(F.lit(_MAD_C) * (F.col("value") - F.col("med")) / F.col("mad")),
            6,
        ),
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .select("event_type", rz.alias("arz"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("arz") > _MAD_CUT, 1)).alias("n_outliers"),
            F.round(F.max("arz"), 6).alias("max_abs_rz"),
        )
    )


fmt_doc(q_anomaly_mad, c=_MAD_C, cut=_MAD_CUT)


# ---------------------------------------------------------------------------
# Q197 — gaps-and-islands: per-user consecutive-day activity streaks


@register(
    "q_gap_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS INT) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor,
               CAST(count(*) AS BIGINT) AS len,
               min(day) AS start_day
        FROM grp GROUP BY user_id, anchor
    ),
    best AS (
        SELECT user_id, len, start_day,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY len DESC, start_day
               ) AS rn
        FROM streaks
    )
    SELECT s.user_id,
           CAST(sum(s.len) AS BIGINT) AS n_active_days,
           count(*) AS n_streaks,
           CAST(max(s.len) AS BIGINT) AS max_streak,
           CAST(min(b.start_day) AS DATE) AS max_streak_start
    FROM streaks s
    JOIN (SELECT user_id, start_day FROM best WHERE rn = 1) b
      USING (user_id)
    GROUP BY s.user_id
    """,
)
def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q197: GAPS-AND-ISLANDS — per-user consecutive-day activity
    streaks via the classic anchor-date trick (day minus its per-user
    row_number is constant exactly along a run of consecutive days),
    the canonical SQL idiom for engagement streaks, SLA uptime runs
    and sensor dropout analysis. Distinct from Q41/Q112's time-gap
    sessionization: islands here are calendar-granular runs, not
    inactivity-gap clusters. Output per user: total active days,
    streak count, longest streak and its start date (ties broken to
    the earliest start on both engines).

    Plan shape at 100 TB: the DISTINCT (user, day) collapse happens
    map-side first (partial aggregation shrinks the corpus to at most
    users × days rows — the only event-sized shuffle, keyed on
    user_id like every sessionization sibling); the row_number window
    rides the SAME user_id partitioning (days within a user sort
    in-partition, never a global sort); streaks and the final rollup
    are O(islands) aggregates on the same key, so one exchange feeds
    the whole plan. The longest-streak pick is a struct-min aggregate,
    not a second window.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub("day", F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("max_streak"),
        F.min(F.struct((-F.col("len")).alias("neg"), F.col("start_day")))
        .getField("start_day")
        .alias("max_streak_start"),
    )


# ---------------------------------------------------------------------------
# Q200 — OHLC bars: open/high/low/close candles per event type per hour


@register(
    "q_ohlc_bars",
    oracle="""
    WITH pts AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_ts,
               ts, event_id, value
        FROM events
    ),
    ordered AS (
        SELECT event_type, bar_ts, value,
               row_number() OVER (
                   PARTITION BY event_type, bar_ts
                   ORDER BY ts, event_id
               ) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type, bar_ts
                   ORDER BY ts DESC, event_id DESC
               ) AS rn_d
        FROM pts
    )
    SELECT event_type, bar_ts,
           count(*) AS n_events,
           round(min(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(min(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS volume
    FROM ordered
    GROUP BY event_type, bar_ts
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q200: OHLC BARS — the candlestick aggregation every metrics /
    market-data warehouse serves: per (event_type, hour) bucket, the
    first value (open), max (high), min (low), last value (close) and
    exact-decimal volume. Open/close are ORDER STATISTICS inside an
    unordered aggregate — the interesting operator shape — resolved
    engine-side as single struct-min/max aggregates over
    (ts, event_id, value) (the Q14 struct-max as-of discipline: the
    unique (ts, event_id) prefix makes the comparison deterministic,
    value rides as payload), so the whole bar is ONE map-side-combined
    hash aggregate — no window, no sort, no second pass. The oracle
    replays open/close with row_number CTEs; volume uses the SUM6
    exact-decimal template on both sides.

    Plan shape at 100 TB: a single partial+final HashAggregate
    shuffling O(types × hours) grouped rows — mergeable constant-size
    state per bar, the same profile as Q15; time-bucketing is a narrow
    codegen map (date_trunc), so partition pruning on the raw event
    date still reaches the scan.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from project_map_reduce_spark.functions.det import SUM6, epoch_micros, sum6  # noqa: F401

    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("HOUR", F.col("ts")).alias("bar_ts"),
        epoch_micros("ts").alias("tsm"),
        "event_id",
        "value",
    )
    first_s = F.min(F.struct("tsm", "event_id", "value"))
    last_s = F.max(F.struct("tsm", "event_id", "value"))
    return e.groupBy("event_type", "bar_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(first_s.getField("value"), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(last_s.getField("value"), 6).alias("close"),
        sum6("value").alias("volume"),
    )


# ---------------------------------------------------------------------------
# Q201 — interval-overlap peak concurrency (distributed sweep line)

_LEASE_MICROS = 30 * 60 * 1_000_000  # each event holds a 30-min lease
_CHUNK_MICROS = 3_600_000_000  # 1-hour prefix-sum chunks


@register(
    "q_interval_overlap",
    oracle=f"""
    WITH deltas AS (
        SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        UNION ALL
        SELECT event_type, epoch_us(ts) + {_LEASE_MICROS}, -1 FROM events
    ),
    run AS (
        SELECT event_type, t,
               CAST(sum(delta) OVER (
                   PARTITION BY event_type ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS conc
        FROM deltas
    ),
    peak AS (
        SELECT event_type, max(conc) AS peak_concurrency
        FROM run GROUP BY event_type
    )
    SELECT r.event_type, p.peak_concurrency,
           min(r.t) AS peak_at_micros
    FROM run r
    JOIN peak p ON r.event_type = p.event_type
              AND r.conc = p.peak_concurrency
    GROUP BY r.event_type, p.peak_concurrency
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q201: INTERVAL-OVERLAP peak concurrency — each event holds a
    30-minute lease; per event type, the maximum number of
    simultaneously open leases and the earliest instant it is
    reached. The sweep-line (+1 at start, −1 at end, running sum)
    is THE capacity-planning query: concurrent sessions, license
    seats, connection-pool high-water marks.

    Boundary semantics: leases are closed-open — at an instant where
    one lease ends and another starts, the −1 applies first (delta
    sorts ascending within a tie), so back-to-back leases never
    double-count. Times are exact epoch micros (functions/det), the
    running sum is integer, and the peak instant is min(t) over rows
    at the peak — all invariant to the engine's ordering of
    same-(t, delta) rows, so both engines agree bit-for-bit.

    Plan shape at 100 TB — the DISTRIBUTED prefix sum, not the naive
    one-reducer-per-type window: the running sum decomposes as
    within-chunk sweep + broadcast chunk-prefix base (hour chunks):
    phase 1 windows partition on (event_type, chunk) — thousands of
    well-spread partitions, NO low-cardinality reducer; phase 2's
    cross-chunk prefix runs over the O(types × hours) chunk-total
    relation (tiny); the base joins back BROADCAST. The classic
    parallel scan (Blelloch 1990) as dataflow. The oracle keeps the
    single-window form — identical results, quadratically simpler to
    read.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from project_map_reduce_spark.functions.det import epoch_micros

    e = load(spark, sf_dir, "events").select(
        "event_type", epoch_micros("ts").alias("t")
    )
    deltas = e.select("event_type", "t", F.lit(1).alias("delta")).unionAll(
        e.select(
            "event_type",
            (F.col("t") + F.lit(_LEASE_MICROS)).alias("t"),
            F.lit(-1).alias("delta"),
        )
    ).withColumn("chunk", F.floor(F.col("t") / F.lit(_CHUNK_MICROS)))

    w_local = (
        Window.partitionBy("event_type", "chunk")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("local", F.sum("delta").over(w_local))

    chunk_tot = deltas.groupBy("event_type", "chunk").agg(
        F.sum("delta").alias("tot")
    )
    w_prefix = (
        Window.partitionBy("event_type")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = chunk_tot.withColumn(
        "base", F.coalesce(F.sum("tot").over(w_prefix), F.lit(0))
    ).select("event_type", "chunk", "base")

    run = local.join(
        F.broadcast(base), ["event_type", "chunk"]
    ).withColumn("conc", (F.col("base") + F.col("local")).cast("bigint"))

    # (peak, earliest instant at the peak) in ONE aggregation —
    # max(struct(conc, −t)) is argmax on conc with ties to the smallest
    # t, exactly the oracle's peak-join-then-min(t) (round-13, guide
    # §2.4: the former peak-relation broadcast join consumed `run`
    # TWICE, and every extra consumer of run re-executes the whole
    # union-of-two-scans + two-window sweep subtree — 8 event scans
    # and 2 window sorts where 4 and 1 suffice).
    return (
        run.groupBy("event_type")
        .agg(
            F.max(
                F.struct(F.col("conc"), (-F.col("t")).alias("nt"))
            ).alias("pk")
        )
        .select(
            "event_type",
            F.col("pk.conc").alias("peak_concurrency"),
            (-F.col("pk.nt")).alias("peak_at_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Q211 — rolling-window z-score anomalies (local baseline)

_ROLL_WINDOW = 7  # prior observed days in the local baseline
_ROLL_Z_MICRO = 3_000_000  # |z| > 3.0 in 6-dp micro-units


@register(
    "q_rolling_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                    AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, d, x,
               datediff('day', DATE '2024-01-01', d) AS di
        FROM daily
    ),
    walk AS (
        SELECT event_type, d, x,
               count(x) OVER w AS nw,
               sum(CAST(x AS HUGEINT)) OVER w AS s,
               sum(CAST(x AS HUGEINT) * x) OVER w AS ss
        FROM idx
        WINDOW w AS (
            PARTITION BY event_type ORDER BY di
            RANGE BETWEEN {_ROLL_WINDOW} PRECEDING AND 1 PRECEDING
        )
    ),
    scored AS (
        SELECT event_type, d,
               CAST(round(
                   (x - CAST(s AS DOUBLE) / nw)
                   / sqrt((ss - CAST(s AS DOUBLE) * s / nw) / (nw - 1))
                   * 1000000) AS BIGINT) AS z_micro
        FROM walk
        WHERE nw >= 3
          AND (ss - CAST(s AS DOUBLE) * s / nw) / (nw - 1) > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(count(*) FILTER (WHERE abs(z_micro) > {_ROLL_Z_MICRO})
                AS BIGINT) AS n_flagged,
           round(CAST(max(abs(z_micro)) AS DOUBLE) / 1000000, 6)
               AS max_abs_z
    FROM scored
    GROUP BY event_type
    """,
)
def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q211: ROLLING-WINDOW z-score anomalies — each day's total value
    per event type scored against the mean/std of the PRIOR 7 observed
    days (a trailing local baseline; |z| > 3 flags): the adaptive
    twin of Q194's global median/MAD screen and the operational form
    monitoring systems actually run (a slow drift re-baselines
    itself; a step change fires). Warm-up rule: at least 3 prior
    days and positive variance, or the day is unscored.

    Determinism: daily totals are exact micro-unit BIGINTs; window
    moments (n, Σx, Σx²) are exact HUGEINT/DECIMAL(38,0) sums over a
    RANGE frame keyed on an INTEGER day index (calendar-true: a gap
    day shrinks the window rather than silently stretching it); z is
    one double expression of exact integers, quantized to micro-units
    BEFORE the flag compare and the max — so the 3.0 threshold can
    never flip on a ulp.

    Plan shape at 100 TB: events collapse to O(types × days) in ONE
    map-side-combined hash agg (the only event-sized exchange); the
    RANGE window and both rollups run over the tiny daily relation —
    the Q204/Q208 skeleton.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.round(F.col("value") * 1_000_000).cast("bigint")
            ).alias("x")
        )
        .withColumn(
            "di", F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-_ROLL_WINDOW, -1)
    )
    d38 = "decimal(38,0)"
    walk = daily.select(
        "event_type",
        "d",
        "x",
        F.count("x").over(w).alias("nw"),
        F.sum(F.col("x").cast(d38)).over(w).alias("s"),
        F.sum(F.col("x").cast(d38) * F.col("x")).over(w).alias("ss"),
    )
    var_num = F.col("ss").cast("double") - F.col("s").cast(
        "double"
    ) * F.col("s").cast("double") / F.col("nw")
    z_micro = F.round(
        (F.col("x") - F.col("s").cast("double") / F.col("nw"))
        / F.sqrt(var_num / (F.col("nw") - 1))
        * 1_000_000
    ).cast("bigint")
    scored = walk.filter(
        (F.col("nw") >= 3) & (var_num / (F.col("nw") - 1) > 0)
    ).select("event_type", z_micro.alias("z_micro"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(
            (F.abs(F.col("z_micro")) > _ROLL_Z_MICRO).cast("bigint")
        ).alias("n_flagged"),
        F.round(
            F.max(F.abs("z_micro")).cast("double") / 1_000_000, 6
        ).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# Q212 — day-of-week seasonality screen (chi-square uniformity)


@register(
    "q_seasonality_dow",
    oracle="""
    WITH dow AS (
        SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dw,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, sum(c) AS n, sum(CAST(c AS HUGEINT) * c) AS ssq
        FROM dow GROUP BY 1
    ),
    peak AS (
        SELECT event_type, dw AS peak_dow
        FROM (
            SELECT event_type, dw,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY c DESC, dw
                   ) AS rn
            FROM dow
        ) WHERE rn = 1
    )
    SELECT t.event_type,
           CAST(t.n AS BIGINT) AS n_events,
           round(CAST(7 * t.ssq - CAST(t.n AS HUGEINT) * t.n AS DOUBLE)
                 / t.n, 6) AS chi2,
           CAST(p.peak_dow AS INT) AS peak_dow
    FROM tot t JOIN peak p USING (event_type)
    """,
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q212: DAY-OF-WEEK SEASONALITY screen — per event type, the
    chi-square statistic of the weekday histogram against uniformity
    (dof = 6) plus the peak weekday: the weekly-rhythm detector run
    beside Q211's rolling screen (human traffic has a pulse; bot
    traffic and synthetic replays are flat — high vs near-zero chi²),
    and the Benford-style closed-form test over the TIME dimension.

    Exactness: with e = n/7, Σ(o−e)²/e algebraically collapses to
    (7·Σo² − n²)/n — counts stay integers end-to-end (Σo² in
    DECIMAL(38,0)/HUGEINT) and ONE double divide is rounded 6dp; no
    per-cell float expectation ever materializes (the Q203
    discipline). Weekday = Sunday-start 1..7 on both engines
    (DuckDB's 0-based dayofweek is shifted in the oracle); peak ties
    to the smaller weekday.

    Plan shape at 100 TB: events collapse map-side to O(types × 7)
    — the cheapest possible shuffle; everything downstream moves
    ≤7 rows per type.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    dow = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.dayofweek(F.col("ts").cast("date")).alias("dw"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d38 = "decimal(38,0)"
    tot = dow.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast(d38) * F.col("c")).alias("ssq"),
    )
    wpk = Window.partitionBy("event_type").orderBy(F.desc("c"), F.asc("dw"))
    peak = (
        dow.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("dw").cast("int").alias("peak_dow"))
    )
    return tot.join(peak, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(
            (
                F.lit(7) * F.col("ssq")
                - F.col("n").cast(d38) * F.col("n")
            ).cast("double")
            / F.col("n"),
            6,
        ).alias("chi2"),
        "peak_dow",
    )


# ---------------------------------------------------------------------------
# Q213 — time-window funnel (windowFunnel semantics over Q73's chain)

_FUNNEL_WINDOW_MICROS = 24 * 3600 * 1_000_000  # 24h from the anchor step


@register(
    "q_window_funnel",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS t FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (
        SELECT user_id, min(t) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.t) AS t2, min(s1.t1) AS t1
        FROM ev e JOIN s1 ON e.user_id = s1.user_id
                        AND e.t > s1.t1
                        AND e.t <= s1.t1 + {_FUNNEL_WINDOW_MICROS}
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.t) AS t3, min(s2.t1) AS t1
        FROM ev e JOIN s2 ON e.user_id = s2.user_id
                        AND e.t > s2.t2
                        AND e.t <= s2.t1 + {_FUNNEL_WINDOW_MICROS}
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    staged AS (
        SELECT s1.user_id,
               CASE WHEN s3.user_id IS NOT NULL THEN 3
                    WHEN s2.user_id IS NOT NULL THEN 2
                    ELSE 1 END AS funnel_stage,
               s3.t3 - s3.t1 AS complete_micros
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
    )
    SELECT funnel_stage,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(complete_micros) AS DOUBLE)
                 / count(complete_micros) / 3600000000.0, 6)
               AS avg_hours_to_complete
    FROM staged
    GROUP BY funnel_stage
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q213: TIME-WINDOW FUNNEL (the ClickHouse ``windowFunnel``
    semantic, earliest-anchor greedy form): view → click → purchase
    where every later step must land within 24 HOURS of the user's
    first view — Q73's unbounded chain with the window constraint
    that turns "eventually converted" into "converted in-session",
    the form growth analytics actually reports. Declared semantics:
    the anchor is the EARLIEST view and each step greedily takes its
    earliest qualifying event (deterministic; the any-chain-maximal
    variant is a per-user sequential scan — the documented
    applyInPandas escalation if ever needed).

    Plan shape at 100 TB: the step filter prunes to 3 event types at
    the scan; each stage is a keyed equi-join + map-side-combined min
    aggregate on user_id — three passes over the FILTERED relation,
    all shuffles on the same user_id key (co-partitioned, AQE reuses
    the exchange); the stage rollup moves ≤3 rows. Exactness: epoch
    micros end-to-end; avg completion converts exact integer micro
    sums with ONE divide, rounded 6dp.

    Reference analog: none — SURVEY §2 B.10 extension row (Q73's
    windowed twin).
    """
    from project_map_reduce_spark.functions.det import epoch_micros

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", epoch_micros("ts").alias("t"))
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("t") > F.col("t1"))
            & (F.col("t") <= F.col("t1") + F.lit(_FUNNEL_WINDOW_MICROS))
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2", "t1"), "user_id")
        .filter(
            (F.col("t") > F.col("t2"))
            & (F.col("t") <= F.col("t1") + F.lit(_FUNNEL_WINDOW_MICROS))
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"), F.min("t1").alias("t1a"))
    )
    staged = (
        s1.join(s2.select("user_id", "t2"), "user_id", "left")
        .join(
            s3.select(
                "user_id", (F.col("t3") - F.col("t1a")).alias("cm")
            ),
            "user_id",
            "left",
        )
        .select(
            F.when(F.col("cm").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("funnel_stage"),
            "cm",
        )
    )
    return staged.groupBy("funnel_stage").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.sum("cm").cast("double")
            / F.count("cm")
            / 3_600_000_000.0,
            6,
        ).alias("avg_hours_to_complete"),
    )


# ---------------------------------------------------------------------------
# Q214 — pairwise audience overlap (Jaccard between event-type cohorts)


@register(
    "q_audience_overlap",
    oracle="""
    WITH au AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (SELECT event_type, count(*) AS n FROM au GROUP BY 1),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_both
        FROM au a JOIN au b ON a.user_id = b.user_id
                           AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           CAST(i.n_both AS BIGINT) AS n_both,
           round(CAST(i.n_both AS DOUBLE)
                 / (sa.n + sb.n - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.type_a = sa.event_type
    JOIN sizes sb ON i.type_b = sb.event_type
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q214: AUDIENCE OVERLAP MATRIX — Jaccard similarity between the
    user cohorts of every event-type pair (do clickers purchase? are
    error-hitters a subset of signups?) — the audience-segmentation
    primitive behind campaign planning and cannibalization analysis;
    the EXACT small-cardinality twin of the MinHash estimate Q44
    applies to documents (same statistic, set sizes here allow
    exactness).

    Plan shape at 100 TB: events collapse map-side to the DISTINCT
    (type, user) relation — the only event-sized exchange; the
    intersection self-join keys on user_id (co-partitioned, fan-out
    bounded by types-per-user ≤ |types|); pair counts are
    O(types²); sizes join broadcast. Exactness: integer counts, one
    divide at 6dp.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    au = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = au.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = au.alias("a")
    b = au.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Q215 — daily conversion rate with Wilson confidence interval

_WILSON_Z = 1.959964  # 95% two-sided, baked as an identical literal


@register(
    "q_wilson_ci",
    oracle=f"""
    WITH clickers AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        WHERE event_type = 'click'
    ),
    buyers AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        WHERE event_type = 'purchase'
    ),
    counts AS (
        SELECT c.d,
               count(*) AS n,
               count(b.user_id) AS k
        FROM clickers c
        LEFT JOIN buyers b ON c.d = b.d AND c.user_id = b.user_id
        GROUP BY c.d
    )
    SELECT d,
           CAST(n AS BIGINT) AS n_clickers,
           CAST(k AS BIGINT) AS n_converted,
           round(CAST(k AS DOUBLE) / n, 6) AS rate,
           round((CAST(k AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  - {_WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_low,
           round((CAST(k AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  + {_WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_high
    FROM counts
    """,
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q215: DAILY CONVERSION RATE with a WILSON 95% interval — per
    day, the fraction of distinct clicking users who also purchased
    that day, with the score interval (Wilson 1927) every A/B and
    funnel dashboard should use instead of the Wald interval (which
    collapses at small n and rate extremes). The z constant is baked
    as an IDENTICAL literal in plan and oracle (the Q203 discipline —
    no inverse-normal ever evaluated in-engine).

    Determinism: k and n are exact distinct-user counts; rate and
    both bounds are single double expressions of exact integers with
    the SAME operation order on both engines, rounded 6dp (the
    Q202/Q211 formula class).

    Plan shape at 100 TB: two map-side DISTINCT collapses of the
    type-filtered scan (pruned at the parquet reader), one
    co-partitioned (day, user) equi-join, and a day-grain aggregate
    — shuffle O(users × days) at most. The closed-form interval
    is a narrow codegen map over O(days) rows.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    ev = load(spark, sf_dir, "events")
    clickers = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
    )
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .withColumn("bought", F.lit(1))
    )
    counts = (
        clickers.join(buyers, ["d", "user_id"], "left")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("bought").alias("k"),
        )
    )
    z = F.lit(_WILSON_Z)
    p = F.col("k").cast("double") / F.col("n")
    nn = F.col("n")
    center = p + z * z / (2 * nn)
    half = z * F.sqrt(p * (1 - p) / nn + z * z / (4.0 * nn * nn))
    denom = 1 + z * z / nn
    return counts.select(
        "d",
        F.col("n").cast("bigint").alias("n_clickers"),
        F.col("k").cast("bigint").alias("n_converted"),
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_low"),
        F.round((center + half) / denom, 6).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Q218 — Kaplan-Meier survival of signup -> first purchase

_KM_HORIZON_DAYS = 14  # right-censor users with no purchase by day 14


@register(
    "q_survival_km",
    oracle=f"""
    WITH s AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
        SELECT s.user_id,
               min(datediff('day', CAST(s.t0 AS DATE), CAST(e.ts AS DATE)))
                   AS t
        FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t0
        WHERE e.event_type = 'purchase'
        GROUP BY s.user_id
    ),
    obs AS (
        SELECT s.user_id,
               CASE WHEN p.t IS NOT NULL AND p.t <= {_KM_HORIZON_DAYS}
                    THEN p.t ELSE {_KM_HORIZON_DAYS} END AS t,
               CASE WHEN p.t IS NOT NULL AND p.t <= {_KM_HORIZON_DAYS}
                    THEN 1 ELSE 0 END AS event
        FROM s LEFT JOIN p ON s.user_id = p.user_id
    ),
    tot AS (SELECT count(*) AS n FROM obs),
    daily AS (
        SELECT t, sum(event) AS d, count(*) AS leave_t
        FROM obs GROUP BY t
    ),
    walk AS (
        SELECT t, d,
               tot.n - COALESCE(sum(leave_t) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS at_risk
        FROM daily CROSS JOIN tot
    ),
    terms AS (
        SELECT t, d, at_risk,
               CAST(round(ln(1.0 - CAST(d AS DOUBLE) / at_risk)
                          * 1000000) AS BIGINT) AS lnm
        FROM walk WHERE d > 0 AND d < at_risk
    )
    SELECT CAST(t AS BIGINT) AS day,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           round(exp(CAST(sum(lnm) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS DOUBLE) / 1000000), 6)
               AS survival
    FROM terms
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q218: KAPLAN-MEIER survival curve of signup → first purchase
    (right-censored at {h} days) — the time-to-event estimator every
    activation/retention analysis needs once not everyone converts
    (Kaplan & Meier 1958): S(t) = Π₍ᵤ≤ₜ₎ (1 − dᵤ/nᵤ) with censored
    users leaving the risk set without an event. Output: one row per
    event day with the risk set, events, and the survival estimate.

    Determinism is the Q198/Q206 micro-unit ln doctrine: each factor's
    ln(1 − d/n) is quantized to integer micro-units PER EVENT DAY
    (term-level rounding absorbs libm's ulp), the running product is
    an exact integer cumsum, and one exp + 6-dp round lands the
    estimate — the product itself never floats step-to-step, so the
    curve is bit-identical across engines AND invariant to evaluation
    order (a naive cumulative float product is neither).

    Plan shape at 100 TB: two keyed min-aggregates over the
    type-filtered scan (the Q213 stage pattern, same user_id key);
    the daily (t, d, n) relation is O(horizon) rows — every window
    and the final curve run over ≤ {h}+1 rows. The censoring horizon
    bounds state by construction.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.datediff(F.col("ts").cast("date"), F.col("t0").cast("date"))
            ).alias("t")
        )
    )
    h = F.lit(_KM_HORIZON_DAYS)
    obs = (
        s.join(p, "user_id", "left")
        .select(
            F.when(
                F.col("t").isNotNull() & (F.col("t") <= h), F.col("t")
            )
            .otherwise(h)
            .alias("t"),
            (F.col("t").isNotNull() & (F.col("t") <= h))
            .cast("int")
            .alias("event"),
        )
    )
    daily = obs.groupBy("t").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("leave_t")
    )
    # at_risk(t) = n_total − Σ_{t'<t} leave_t ≡ Σ_{t'≥t} leave_t — the
    # exact integer suffix sum over the O(horizon) daily relation
    # (round-13, guide §1.2 fewer passes): the former n_total =
    # obs.count() was a separate plan-build job that re-executed the
    # whole signup/purchase join pipeline just to seed the prefix
    # subtraction; the suffix window needs no driver action at all.
    w_tail = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    walk = daily.withColumn("at_risk", F.sum("leave_t").over(w_tail))
    terms = walk.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("at_risk"))
    ).withColumn(
        "lnm",
        F.round(
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("at_risk"))
            * 1_000_000
        ).cast("bigint"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t").cast("bigint").alias("day"),
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.round(
            F.exp(
                F.sum("lnm").over(w_cum).cast("double") / 1_000_000
            ),
            6,
        ).alias("survival"),
    )


fmt_doc(q_survival_km, h=_KM_HORIZON_DAYS)
