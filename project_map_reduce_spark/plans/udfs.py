"""B.11 Python-UDF surface (Q49 pandas scalar, Q50 grouped-map
applyInPandas, + a GROUPED_AGG pandas UDAF).

Python is the slow path; these exist to prove the Arrow-batched
crossing is wired correctly, not to compute things built-ins could.
Every UDF here is vectorized (pandas/Arrow, never row-at-a-time) —
the ~10-100× difference the brief calls out. Q48 (row-at-a-time
``F.udf``) lives in plans/filters.py as the deliberate contrast.

Reference analog: the per-record Python-side transform is the idiomatic
home of the reference's keyed PDF dispatch (Workers.java:123-223) —
arbitrary per-record logic with columnar in/out.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from project_map_reduce_spark.functions.det import r6_np
from project_map_reduce_spark.registry import register
from project_map_reduce_spark.tables import load, register_views


# NB: @pandas_udf parses its DDL return type via the active SparkContext,
# so UDFs are created lazily inside each query fn, not at import time.


@register(
    "q_pandas_udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price
    FROM lineitem
    """,
)
def q_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q49: vectorized pandas UDF (Arrow batches) computing discounted
    price. Exact-equal to the SQL expression — no rounding needed, since
    both sides do the same two float64 ops per row."""

    @pandas_udf("double")
    def _disc_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        # float64 arithmetic — identical bits to the JVM/DuckDB double path.
        return price * (1.0 - discount)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _disc_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


_ZSCHEMA = "user_id bigint, event_id bigint, value double, zscore double"


def _zscore_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    # One frame holds a BUCKET of users; stable-sort by user_id and run
    # the per-user math on contiguous slices so each user sees exactly
    # the arithmetic the per-user grouped-map form did (v.mean(),
    # v.std(ddof=0), round(6) on its own subarray).
    import numpy as np

    uid = pdf["user_id"].to_numpy()
    order = np.argsort(uid, kind="stable")
    uid = uid[order]
    vals = pdf["value"].to_numpy()[order]
    z = np.empty_like(vals)
    bounds = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1], True])
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        v = vals[lo:hi]
        m = v.mean()
        s = v.std(ddof=0)  # population std — matches oracle stddev_pop
        z[lo:hi] = (v - m) / s if s > 0 else v * 0.0
    return pd.DataFrame(
        {
            "user_id": uid,
            "event_id": pdf["event_id"].to_numpy()[order],
            "value": vals,
            "zscore": z.round(6),
        }
    )


@register(
    "q_grouped_map",
    oracle="""
    SELECT user_id, event_id, value,
           CASE WHEN stddev_pop(value) OVER w = 0 THEN 0.0
                ELSE round((value - avg(value) OVER w) / (stddev_pop(value) OVER w), 6)
           END AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q50: per-group normalization (z-score of event value per user)
    via applyInPandas — the grouped-map pattern for logic SQL can't
    express (here it can, which is exactly what makes it oracle-able).

    Scale shape: one shuffle; the grouped-map key is a USER BUCKET
    (``user_id % 2·parallelism``), not the raw user_id (round-13
    optimization, guide §4.5 amortization logic, the q_cogroup_asof
    pattern): FlatMapGroupsInPandas pays one Arrow frame + one Python
    call per GROUP (~7 ms of overhead per tiny frame measured at
    sf0.1), so 1,500 single-user groups cost ~10 s of pure overhead
    while ~64 bucket groups cost none worth naming. Inside a bucket
    the per-user slices see the identical numpy arithmetic the
    per-user form ran. Per-bucket memory is the 100 TB caveat —
    bucket count is a free knob; skewed keys salt first (Q91).
    Degenerate groups (σ=0) → 0.0."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "value")
    n_buckets = spark.sparkContext.defaultParallelism * 2
    return ev.groupBy(
        (F.col("user_id") % n_buckets).alias("__bucket")
    ).applyInPandas(_zscore_bucket, schema=_ZSCHEMA)


@register(
    "q_udaf_weighted_mean",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 6)
               AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas GROUPED_AGG UDAF: quantity-weighted mean discount per
    returnflag — the custom-aggregate capability row of B.11."""

    @pandas_udf("double")
    def _weighted_mean(v: pd.Series, w: pd.Series) -> float:  # GROUPED_AGG
        return float((v * w).sum() / w.sum())

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(_weighted_mean("l_discount", "l_quantity"), 6).alias(
            "wavg_discount"
        )
    )


@register(
    "q_udtf_sentences",
    oracle="""
    WITH s AS (
        SELECT lang, trim(unnest(string_split(text, '.')), ' ') AS sentence
        FROM documents
    )
    SELECT lang,
           count(*) AS n_sentences,
           round(avg(length(sentence)), 6) AS avg_sentence_chars
    FROM s
    WHERE sentence <> ''
    GROUP BY lang
    """,
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q87: a REAL Python UDTF (table function), not just explode —
    Spark 4's ``@udtf`` row-generating transform, lateral-joined per
    document: one input row → n sentence rows. Sentence split is the
    canonical UDTF shape a text pipeline needs (explode covers
    array-typed columns; a UDTF owns the segmentation logic itself).
    Row-at-a-time Python is the declared slow path (same contrast role
    as Q48's scalar UDF vs the pandas family); the 100 TB form of THIS
    segmentation is `split` + explode, which q_array_ops exercises —
    the UDTF exists to prove the lateral table-function wiring.
    Determinism: split on '.', strip spaces only (matching DuckDB
    ``trim(x, ' ')``), drop empties — pure string ops, identical in
    both engines."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="sentence string, n_chars int")
    class SentenceSplit:
        def eval(self, text: str):  # noqa: ANN001
            for part in (text or "").split("."):
                s = part.strip(" ")
                if s:
                    yield s, len(s)

    spark.udtf.register("split_sentences", SentenceSplit)
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        SELECT lang,
               count(*) AS n_sentences,
               round(avg(s.n_chars), 6) AS avg_sentence_chars
        FROM documents, LATERAL split_sentences(text) AS s
        GROUP BY lang
        """
    )


# ---------------------------------------------------------------------------
# Q146 — polymorphic Python UDTF: analyze()-computed output schema


@register(
    "q_udtf_analyze",
    oracle="""
    WITH words AS (
        SELECT split_part(text, ' ', 1) AS w0,
               CASE WHEN split_part(text, ' ', 2) = '' THEN NULL
                    ELSE split_part(text, ' ', 2) END AS w1,
               CASE WHEN split_part(text, ' ', 3) = '' THEN NULL
                    ELSE split_part(text, ' ', 3) END AS w2
        FROM documents
    )
    SELECT w0,
           count(*) AS n_docs,
           count(DISTINCT w1) AS n_second_words,
           count(DISTINCT w2) AS n_third_words
    FROM words
    GROUP BY w0
    """,
)
def q_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q146: POLYMORPHIC Python UDTF — Spark 4's ``analyze()`` static
    method computes the OUTPUT SCHEMA from the call's literal
    arguments at plan time (Q87 declared a fixed ``returnType``; this
    is the half of the UDTF surface it couldn't show): ``fixed_split
    (text, n)`` returns n string columns ``w0..w{n-1}``, so the same
    function is reusable at any width and the width is part of the
    PLAN, not the data. The driver hash checks the whole contract —
    analyze-time schema, per-row eval fan-out (exactly one row per
    doc), NULL padding for short docs — against DuckDB's split_part
    (whose empty-string-for-missing is normalized to NULL, pinning
    the two engines' different missing-token conventions).

    analyze() constraints pinned here: the width argument must be a
    foldable constant (a column would make the schema data-dependent
    — rejected loudly at plan time by the assert), which is exactly
    the 100 TB contract: schema negotiation happens once at plan
    time, never per partition. Slow-path note (SURVEY B.11): a
    row-at-a-time Python UDTF is the declared API-coverage lane; the
    vectorized equivalent of THIS op is Q33's split + getItem
    projection.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FixedSplit:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(n.value, int):
                raise ValueError(
                    "fixed_split: width must be a foldable int literal — "
                    "the output schema is decided at PLAN time"
                )
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"w{i}", StringType())
                        for i in range(n.value)
                    ]
                )
            )

        def eval(self, text: str, n: int):
            ws = (text or "").split(" ")
            yield tuple(ws[i] if i < len(ws) else None for i in range(n))

    spark.udtf.register("q146_fixed_split", udtf(FixedSplit))
    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        """
        SELECT s.w0,
               count(*) AS n_docs,
               count(DISTINCT s.w1) AS n_second_words,
               count(DISTINCT s.w2) AS n_third_words
        FROM documents d, LATERAL q146_fixed_split(d.text, 3) s
        GROUP BY s.w0
        """
    )


# Q153 — UDTF over a TABLE argument: per-partition state + terminate()


@register(
    "q_udtf_table_arg",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
               ) AS rank,
               count(*)    OVER (PARTITION BY lang) AS n_docs,
               sum(n_chars) OVER (PARTITION BY lang) AS sum_chars
        FROM documents
    )
    SELECT lang,
           CAST(rank AS INT)        AS rank,
           doc_id,
           n_chars,
           CAST(n_docs AS BIGINT)   AS n_docs,
           CAST(sum_chars AS BIGINT) AS sum_chars
    FROM ranked
    WHERE rank <= 2
    """,
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q153: Python UDTF over a TABLE ARGUMENT with ``PARTITION BY`` /
    ``ORDER BY`` — the third and last face of the UDTF surface (Q87:
    fixed returnType over scalars; Q146: polymorphic ``analyze()``;
    here: a WHOLE RELATION as the argument, with the engine contract
    that each partition arrives at EXACTLY ONE UDTF instance in the
    declared order and ``terminate()`` fires once at partition end).
    The operator is a per-language top-2-longest-docs WITH totals —
    per-group state (a 2-slot leader list + running count/sum) emitted
    at partition close, the custom-aggregation shape users reach for a
    UDTF for (anything expressible as windows doesn't need one; the
    oracle deliberately IS the window form, proving equivalence).

    The hash pins the engine-side guarantees the API promises: rows
    arriving out of declared order, a partition split across two
    instances (double terminate → duplicate summary rows), or a
    dropped terminate all corrupt the result. The ORDER BY lives in
    the CALL SITE (plan), not the UDTF — the class trusts the order,
    which is the documented contract.

    Scale shape: one hash exchange on the partition key + a
    partition-local sort — the same profile as the window-function
    oracle — then a single-pass O(1)-state Python walk per group;
    syntax pin: a multi-expression ORDER BY in a table-argument call
    REQUIRES parentheses — ``ORDER BY (a DESC, b ASC)`` — the bare
    form is a ParseException (_LEGACY_ERROR_TEMP_0064);
    emitted rows are O(2 × groups). Slow-path note (SURVEY B.11):
    row-at-a-time Python is the declared API-coverage lane; the
    vectorized twin of this exact shape is Q27's WindowGroupLimit
    top-k.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="lang string, rank int, doc_id bigint, n_chars bigint, "
        "n_docs bigint, sum_chars bigint"
    )
    class TopDocs:
        def __init__(self) -> None:
            self._top: list[tuple[int, int]] = []
            self._lang: str | None = None
            self._n = 0
            self._sum = 0

        def eval(self, row):
            self._lang = row["lang"]
            self._n += 1
            self._sum += row["n_chars"]
            if len(self._top) < 2:
                self._top.append((row["doc_id"], row["n_chars"]))

        def terminate(self):
            for i, (doc_id, n_chars) in enumerate(self._top):
                yield (self._lang, i + 1, doc_id, n_chars, self._n, self._sum)

    spark.udtf.register("q153_top_docs", TopDocs)
    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        """
        SELECT * FROM q153_top_docs(
            TABLE(SELECT lang, doc_id, n_chars FROM documents)
            PARTITION BY lang
            ORDER BY (n_chars DESC, doc_id ASC)
        )
        """
    )


# Q164 — COGROUPED map: two relations, one key, one pandas func


@register(
    "q_cogroup_asof",
    oracle="""
    SELECT p.event_id AS pur_id,
           p.user_id,
           round(p.value, 6) AS pur_value,
           (SELECT e.event_id
            FROM events e
            WHERE e.user_id = p.user_id AND e.event_type = 'error'
              AND e.ts <= p.ts
            ORDER BY e.ts DESC, e.event_id DESC
            LIMIT 1) AS last_err_id
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q164: COGROUPED map — ``groupBy(k).cogroup(other.groupBy(k))
    .applyInPandas`` — the last uncovered cell of the Python-API matrix
    (scalar Q49 / grouped-map Q50 / grouped-agg Q59 / UDTF Q87+Q146+
    Q153; cogrouped-map aligns TWO relations per key into one pandas
    call). The operator is the per-key AS-OF enrichment every event
    pipeline writes: each purchase picks up the latest same-user error
    at-or-before it, computed with ``pandas.merge_asof`` over the two
    per-user frames — the pandas-native form of Q14's struct-max
    technique, which is exactly why the oracle is the correlated
    ORDER-BY-LIMIT-1 subquery (Catalyst decorrelates it; equivalence IS the
    check). Tie discipline: duplicate (user, ts) pairs are broken by
    event_id via a (ts, event_id) sort and the oracle's (ts DESC, id DESC) order — both
    sides deterministic.

    Scale shape: ONE co-partitioned shuffle brings both relations'
    matching keys to the same task (FlatMapCoGroupsInPandas —
    plan-asserted), then ``merge_asof(by="user_id")`` aligns the two
    frames per user in O(n+m) after one sort per bucket. The cogroup
    key is a USER BUCKET (``user_id % 2·parallelism``), not the raw
    user_id (round-13 optimization, guide §4.5 amortization logic):
    FlatMapCoGroupsInPandas pays one Arrow frame pair + one Python
    call PER GROUP, and a sf0.1 A/B measured ~3.5 ms of pure
    per-group overhead (trivial-function cogroup over 1,500 users:
    5.3 s; same data, 64 buckets: <0.5 s) plus another ~3.5 ms/group
    of tiny-frame pandas overhead inside the body — bucketing turns
    both into a handful of vectorized calls while `merge_asof`'s
    ``by=`` column keeps the per-user asof semantics bit-identical.
    The 100 TB caveat is per-BUCKET memory (all of a bucket's events
    materialize in one worker) — bucket count is a free knob that
    trades group count against frame size; skewed keys get salted
    first (Q91) either way.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "ts", "user_id"
    )
    n_buckets = spark.sparkContext.defaultParallelism * 2

    def asof(purchases: pd.DataFrame, errors: pd.DataFrame) -> pd.DataFrame:
        if len(purchases) == 0:
            return pd.DataFrame(
                columns=["pur_id", "user_id", "pur_value", "last_err_id"]
            )
        p = purchases.sort_values(["ts", "event_id"], kind="mergesort")
        # Rounding contract: r6_np quantizes each double's exact binary
        # expansion half away from zero — DuckDB's round(x, 6), the
        # oracle this query hashes against, not Spark's F.round and not
        # pandas .round (half-even). Rounding must happen HERE, not in
        # a Spark expression above the cogroup: Spark 4.1's column
        # pruning mis-prunes the cogroup INPUT frames when any output
        # column is wrapped in an expression (pinned in
        # tests/test_round11_queries.py).
        out = pd.DataFrame(
            {
                "pur_id": p["event_id"].to_numpy(),
                "user_id": p["user_id"].to_numpy(),
                "pur_value": r6_np(p["value"].to_numpy()),
            }
        )
        if len(errors) == 0:
            out["last_err_id"] = pd.array([None] * len(p), dtype="Int64")
            return out
        # merge_asof(by=user) takes each user's LAST error row with
        # ts <= purchase ts; sorting errors by (ts, err_id) makes the
        # within-(user, ts) winner the max id — matching the oracle's
        # (ts DESC, id DESC) LIMIT 1 tiebreak.
        e = errors.sort_values(["ts", "err_id"], kind="mergesort")
        m = pd.merge_asof(
            p[["ts", "user_id"]].reset_index(drop=True),
            e[["ts", "user_id", "err_id"]],
            on="ts",
            by="user_id",
            direction="backward",
        )
        out["last_err_id"] = m["err_id"].astype("Int64").to_numpy()
        return out

    bucket = (F.col("user_id") % n_buckets).alias("__bucket")
    return (
        pur.groupBy(bucket)
        .cogroup(err.groupBy(bucket))
        .applyInPandas(
            asof,
            schema="pur_id bigint, user_id bigint, pur_value double, "
            "last_err_id bigint",
        )
    )


@register(
    "q_map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           CAST(sum(CAST(l_quantity AS BIGINT) // 10) AS BIGINT)
               AS qty_decades
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q167: ``DataFrame.mapInArrow`` — the Arrow-NATIVE per-batch map
    lane, the one cell the Python-eval matrix didn't exercise (Q48
    pickled / Q49 pandas scalar / Q50 grouped-map / Q59 grouped-agg /
    Q164 cogroup / Q87+Q146+Q153 UDTF; VERDICT r10 item 4). The
    function receives ``pyarrow.RecordBatch``es and computes entirely
    in Arrow kernels (``pyarrow.compute`` multiply/subtract/floor —
    zero pandas materialization, zero per-row Python): the classic
    discounted revenue plus an integer decade-bucket of quantity,
    emitted per row; the exact-decimal aggregation happens ENGINE-side
    above it (sum6 contract), so the Python crossing stays a narrow
    map, the shuffle carries 4 small columns, and the oracle is the
    plain relational aggregate — any batch dropped, duplicated, or
    mis-typed by the crossing breaks the hash.

    mapInArrow vs mapInPandas at 100 TB: identical plan shape (one
    MapInArrow node, plan-asserted; no extra exchange); the Arrow form
    skips the Arrow->pandas->Arrow conversion per batch. Measured
    honestly (r11 A/B, BASELINE.md: same op over 6 M cached rows —
    mapInArrow 1.86 s, mapInPandas 1.83 s, built-in expression
    0.21 s): for a narrow numeric op the CROSSING dominates and the
    two Python lanes tie — the conversion saving only pays on wide /
    string-heavy batches — while the JVM expression stays ~9x ahead
    of any Python crossing, which is why built-ins remain the default
    and this lane exists for logic they can't express. Per-batch
    memory is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
    (10k default), so executor footprint is batch-sized regardless of
    table size.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from project_map_reduce_spark.functions.det import sum6

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount", "l_quantity"
    )

    def batch_revenue(batches):
        for b in batches:
            revenue = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            decades = pc.divide(
                pc.cast(b.column("l_quantity"), pa.int64()), pa.scalar(10)
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_returnflag"), revenue, decades],
                names=["l_returnflag", "disc_price", "qty_decade"],
            )

    mapped = li.mapInArrow(
        batch_revenue,
        "l_returnflag string, disc_price double, qty_decade bigint",
    )
    return (
        mapped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            sum6("disc_price").alias("revenue"),
            F.sum("qty_decade").alias("qty_decades"),
        )
    )


@register(
    "q_apply_in_arrow",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)                 AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           min(o_orderdate)                          AS first_order,
           max(o_orderdate)                          AS last_order
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q168: ``GroupedData.applyInArrow`` — the Arrow-native GROUPED-map
    lane (Q50 is the pandas form; Q167 the ungrouped Arrow map; this
    completes the Arrow column of the Python-eval matrix). Each
    o_orderpriority group arrives as ONE ``pyarrow.Table`` and the
    summary row is computed entirely in Arrow kernels
    (``count_distinct``/``min_max`` — no pandas, no per-row Python),
    returning exact-typed columns only (counts + dates), so no
    rounding contract is even needed; the oracle is the plain GROUP BY
    and any group mis-assembled by the crossing breaks the hash.

    Scale shape: one hash exchange on the grouping key into
    FlatMapGroupsInArrow (plan-asserted) — identical plan shape to
    applyInPandas, minus the Arrow→pandas→Arrow double conversion.
    The per-GROUP memory caveat is the same as Q50/Q164 (one group =
    one in-worker Table; low-cardinality demo keys are fine at sf,
    real 100 TB pipelines group by user/doc-grade keys or pre-salt —
    Q91) and is exactly why the engine-side built-in aggregate (Q15)
    remains the default answer when the logic IS expressible.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderdate"
    )

    def summarize(tbl: pa.Table) -> pa.Table:
        dates = tbl.column("o_orderdate")
        mm = pc.min_max(dates).as_py()
        return pa.Table.from_pydict(
            {
                "o_orderpriority": [tbl.column("o_orderpriority")[0].as_py()],
                "n_orders": [tbl.num_rows],
                "n_custs": [pc.count_distinct(tbl.column("o_custkey")).as_py()],
                "first_order": [mm["min"]],
                "last_order": [mm["max"]],
            },
            schema=pa.schema(
                [
                    ("o_orderpriority", pa.string()),
                    ("n_orders", pa.int64()),
                    ("n_custs", pa.int64()),
                    ("first_order", pa.timestamp("us")),
                    ("last_order", pa.timestamp("us")),
                ]
            ),
        )

    return o.groupBy("o_orderpriority").applyInArrow(
        summarize,
        "o_orderpriority string, n_orders bigint, n_custs bigint, "
        "first_order timestamp_ntz, last_order timestamp_ntz",
    )


@register(
    "q_cogroup_in_arrow",
    oracle="""
    WITH u AS (
        SELECT DISTINCT user_id FROM events
        WHERE event_type IN ('purchase', 'error')
    ),
    p AS (
        SELECT user_id, count(*) AS n FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    e AS (
        SELECT user_id, count(*) AS n FROM events
        WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT u.user_id,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_purchases,
           CAST(coalesce(e.n, 0) AS BIGINT) AS n_errors
    FROM u
    LEFT JOIN p ON p.user_id = u.user_id
    LEFT JOIN e ON e.user_id = u.user_id
    """,
)
def q_cogroup_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q171: ``cogroup(...).applyInArrow`` — the COGROUPED Arrow-native
    cell, completing the Python-eval matrix outright (pickled Q48 /
    arrow-flag Q48-test / pandas scalar Q49 / grouped-map Q50 /
    grouped-agg Q59 / UDTF Q87+Q146+Q153 / cogrouped-pandas Q164 /
    map-in-arrow Q167 / grouped-arrow Q168): per user, the purchase
    and error relations align key-wise into two ``pyarrow.Table``s and
    the summary row is pure Arrow (``num_rows`` — no pandas, no
    per-row Python). The 3-arg form ``(key, left, right)`` is used
    deliberately: cogroup emits keys present on EITHER side, so the
    user_id must come from the key tuple, not from a possibly-empty
    side — exactly the contract the oracle's full outer count join
    checks (a one-sided user with the wrong id or a dropped empty
    side breaks the hash).

    Scale shape: ONE co-partitioned exchange per side into
    FlatMapCoGroupsInArrow, per-group O(1) work; same per-group memory
    caveat as Q164 with the same salting escape (Q91). The engine-side
    twin is the two-aggregate outer join the oracle spells — the query
    exists to pin the cogrouped Arrow protocol, the 100 TB form of
    custom two-relation per-key logic that SQL can't express (Q164's
    merge_asof is the real workload; counts make it oracle-exact).
    """
    import pyarrow as pa

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    pur = ev.where(F.col("event_type") == "purchase")
    err = ev.where(F.col("event_type") == "error")

    def counts(key, purchases: pa.Table, errors: pa.Table) -> pa.Table:
        return pa.Table.from_pydict(
            {
                "user_id": [key[0].as_py()],
                "n_purchases": [purchases.num_rows],
                "n_errors": [errors.num_rows],
            },
            schema=pa.schema(
                [
                    ("user_id", pa.int64()),
                    ("n_purchases", pa.int64()),
                    ("n_errors", pa.int64()),
                ]
            ),
        )

    return (
        pur.groupBy("user_id")
        .cogroup(err.groupBy("user_id"))
        .applyInArrow(
            counts,
            "user_id bigint, n_purchases bigint, n_errors bigint",
        )
    )
