"""B.10 extension: training-batch shaping — sequence packing, corpus
length profiling, and statistical screens (Q81-Q83, Q85).

The last mile of a training-data pipeline after dedup/quality/split:
shape the surviving documents into fixed-capacity training sequences,
profile the length and value distributions that drive capacity and
cutoff choices, and screen metric outliers. All are window/agg
compositions — no UDFs, no collects, shuffle O(rows) once.

Reference analog: none (`ext` rows); the closest reference behavior is
the gather step's fixed result-file assembly (Manager.java:287-312),
which packs per-job, not per-capacity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.tables import load

_PACK_CAPACITY = 2048  # tokens per training sequence


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT lang, doc_id, md5(text) AS h,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT lang, n_tokens,
               COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY h NULLS LAST, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM toks
    )
    SELECT lang,
           CAST(floor(cum_before / {_PACK_CAPACITY}.0) AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           round(CAST(sum(n_tokens) AS BIGINT) / {_PACK_CAPACITY}.0, 6)
               AS fill_ratio
    FROM placed
    GROUP BY lang, bin_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q81: sequence packing — assign documents to fixed-capacity
    ({_cap}-token) training bins per language, in a deterministic
    content-hash order (same order as Q61's leakage-safe split, so
    packing is reproducible run-to-run and independent of scan order).
    bin = floor(running-token-count-before / capacity): the streaming
    one-pass packer (documents may straddle a boundary; the real writer
    splits the straddler — a narrow flatMap — which doesn't change bin
    assignment). One window (shuffle on lang, per-partition sort) + one
    grouped agg; at 100 TB the partition key becomes (lang, hash-prefix)
    so no language serializes on one reducer — that form is IMPLEMENTED
    in operators/packing.py (prefix-range partitioning of the hash
    space preserves the global (h, doc_id) order, so per-prefix local
    windows + an O(langs·16^chars) offset table reproduce this exact
    bin assignment; equivalence-tested in tests/test_pack_scale.py).
    The single-window form stays the declared query: at test scale it
    is the cheaper plan, and its oracle pins the semantics both forms
    must match."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        "doc_id",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    # NULLS LAST pinned on both engines: Spark ASC defaults to NULLS
    # FIRST while DuckDB's window ORDER BY defaults to NULLS LAST, so a
    # NULL text row (h = NULL) would silently shift every cum_before.
    w = (
        Window.partitionBy("lang")
        .orderBy(F.asc_nulls_last("h"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.select(
        "lang",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    g = placed.groupBy(
        "lang",
        F.floor(F.col("cum_before") / _PACK_CAPACITY).alias("bin_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )
    return g.select(
        "lang",
        "bin_id",
        "n_docs",
        "bin_tokens",
        r6d(F.col("bin_tokens") / float(_PACK_CAPACITY), "fill_ratio"),
    )


fmt_doc(q_pack_sequences, _cap=_PACK_CAPACITY)


@register(
    "q_length_deciles",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars,
               ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
        FROM documents
    )
    SELECT decile,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM t
    GROUP BY decile
    """,
)
def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q82: corpus length profiling — documents bucketed into deciles
    by character length (unique doc_id tiebreak → deterministic ntile),
    with per-decile count/min/max/mean. The distribution that chooses
    Q81's packing capacity and Q56's length cutoffs. ntile over a
    global ORDER BY serializes one sort partition at 100 TB; a sketched
    boundary split would scale but would not be rank-exact, so this
    query keeps the exact ntile and the oracle hash stays rank-exact."""
    d = load(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    t = d.select("doc_id", "n_chars", F.ntile(10).over(w).alias("decile"))
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        r6d(F.avg("n_chars"), "avg_chars"),
    )


@register(
    "q_zscore_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_pop(value) AS sigma
        FROM events
        GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(count(*) FILTER (
               WHERE CASE WHEN s.sigma <> 0
                     THEN round(abs((e.value - s.mu) / s.sigma), 6) END > 3.0
           ) AS BIGINT) AS n_outliers,
           round(max(CASE WHEN s.sigma <> 0
                     THEN round(abs((e.value - s.mu) / s.sigma), 6) END), 6)
               AS max_abs_z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type
    """,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q83: statistical outlier screen — events whose value sits more
    than 3 population-σ from their type's mean (the metric-anomaly
    gate a pipeline runs before trusting a batch). Two-pass shape:
    tiny per-type moments (partial+final agg, O(types) rows) broadcast
    back onto the stream for a map-side z-score — the same
    aggregate-then-broadcast pattern as Q50's z-score normalization
    and Q79's decorrelated subquery, and the only scalable form (a
    window over event_type would shuffle everything onto hot type
    reducers). Boundary-determinism: the z is rounded to 6dp before
    the >3 comparison so both engines agree at the threshold. A
    constant-valued type has sigma = 0; its z is NULL on BOTH sides
    (the engine session runs ANSI mode where a bare /0 throws, and
    DuckDB NULLs it — the explicit guard makes the engines agree
    instead of crash-vs-NULL)."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = F.when(
        F.col("sigma") != 0,
        F.round(F.abs((F.col("value") - F.col("mu")) / F.col("sigma")), 6),
    )
    joined = ev.join(F.broadcast(stats), "event_type").select(
        "event_type", z.alias("abs_z")
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("abs_z") > 3.0, 1)).alias("n_outliers"),
        r6d(F.max("abs_z"), "max_abs_z"),
    )


@register(
    "q_value_histogram",
    oracle="""
    WITH rng AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(CASE WHEN r.hi > r.lo
                THEN least(floor((e.value - r.lo) / (r.hi - r.lo) * 10), 9)
                ELSE 0 END AS INTEGER) AS bucket,
           count(*) AS n_events
    FROM events e JOIN rng r ON e.event_type = r.event_type
    GROUP BY 1, 2
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q85: fixed-width histogram — 10 equal-width buckets of event
    value per type (the width_bucket profiling shape). Same
    aggregate-then-broadcast skeleton as Q83: the per-type [min, max]
    range is O(types) rows broadcast back, bucket assignment is
    map-side, and the final count is an ordinary partial+final agg.

    Cross-engine determinism needs no rounding here: lo/hi are exact
    selections and (value-lo)/(hi-lo)*10 is a fixed chain of single
    IEEE ops, so both engines floor the identical double; the top edge
    (value = hi) is pinned into bucket 9 by least() on both sides. A
    constant-valued type (hi == lo) would divide by zero — which ANSI
    Spark raises and DuckDB NULLs — so both sides pin that degenerate
    range into bucket 0 explicitly."""
    ev = load(spark, sf_dir, "events")
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bucket = (
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 10
                ),
                F.lit(9),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    return (
        ev.join(F.broadcast(rng), "event_type")
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_CHUNK_W = 32  # chunk length (tokens)
_CHUNK_S = 24  # stride (tokens) — 8-token overlap between chunks


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           j AS chunk_id,
           least({_CHUNK_W}, len(t) - j * {_CHUNK_S}) AS n_tokens,
           md5(array_to_string(
               t[(j*{_CHUNK_S}+1):(j*{_CHUNK_S}+{_CHUNK_W})], ' ')) AS chunk_fp,
           CASE WHEN j = 0 THEN 0
                ELSE length(array_to_string(t[1:(j*{_CHUNK_S})], ' ')) + 1
           END AS char_start,
           length(array_to_string(
               t[(j*{_CHUNK_S}+1):(j*{_CHUNK_S}+{_CHUNK_W})], ' ')) AS char_len
    FROM d, LATERAL (
        SELECT unnest(range(0,
            CAST(floor((len(t) - 1) / {_CHUNK_S}) AS BIGINT) + 1)) AS j
    ) s
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q120: document chunking — the RAG/embedding-ingest transform
    every retrieval pipeline runs: each document split into overlapping
    {w}-token windows at stride {s} ({w}-{s} tokens of overlap so no
    sentence straddles a hard cut), emitting per chunk its token count,
    content fingerprint, and CHARACTER offsets (char_start/char_len
    index straight into the original text — what the downstream
    embedder and the citation renderer both need; token slicing alone
    loses them). Tokenization and fingerprint conventions are exactly
    Q104's (whitespace split, md5 of the space-joined window), so chunk
    fingerprints join directly against the dedup family's window index.

    Scale shape: a pure NARROW transform — tokenize, generate the
    chunk sequence, slice, fingerprint, all inside one projection per
    document, chunks inherit the input partitioning; no KEYED exchange
    exists in the plan (plan-audit-asserted — the only Exchange is the
    round-robin ingest-parallelism repartition below, which a
    many-file production scan wouldn't need), so the operator scales
    with scan bandwidth alone. The char offsets reuse the already-split
    token array (one prefix fold per chunk, O(doc length × chunks/doc))
    — bounded per document, never a corpus-wide pass.
    """
    d = (
        load(spark, sf_dir, "documents")
        # cores-repartition before the CPU-bound explode (family
        # convention — a one-file ingest would serialize it). Still
        # exchange-free at the operator level: this is ingest
        # parallelism, round-robin, not a keyed shuffle.
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                transform(
                    sequence(0, CAST(floor((size(t) - 1) / {_CHUNK_S})
                                     AS INT)),
                    j -> struct(
                        CAST(j AS BIGINT) AS chunk_id,
                        CAST(least({_CHUNK_W}, size(t) - j * {_CHUNK_S})
                             AS BIGINT) AS n_tokens,
                        md5(cast(concat_ws(' ',
                            slice(t, j * {_CHUNK_S} + 1, {_CHUNK_W}))
                            as binary)) AS chunk_fp,
                        CAST(IF(j = 0, 0,
                            length(concat_ws(' ',
                                slice(t, 1, j * {_CHUNK_S}))) + 1)
                             AS BIGINT) AS char_start,
                        CAST(length(concat_ws(' ',
                            slice(t, j * {_CHUNK_S} + 1, {_CHUNK_W})))
                             AS BIGINT) AS char_len))"""
            )
        ).alias("c"),
    ).select("doc_id", "c.*")


fmt_doc(q_doc_chunks, w=_CHUNK_W, s=_CHUNK_S)
