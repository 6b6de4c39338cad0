"""Warehouse maintenance surface — SCD type-2 dimension rebuild, an
explicit bloom-filter pre-filtered join, CDC changelog application,
incremental MV refresh (batch Q117 and exactly-once streaming Q123),
and small-file compaction (Q108-Q109, Q114, Q117, Q123, Q125).

All are operations a reference user running a production warehouse
would reach for next after the SQL surface (plans/sql_surface.py):
slowly-changing-dimension history (Q108) and MERGE-style current-state
application (Q114) are how tables absorb a changelog, and bloom
pruning (Q109) is how a 100 TB fact scan avoids shuffling rows that a
selective dim-side predicate will discard anyway.

Reference analog: none (the reference has no table-maintenance layer,
SURVEY.md §2 Part A "does NOT implement" list); all rows are `ext`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import SUM6, r6d, sum6
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.session import scoped_conf
from project_map_reduce_spark.tables import footer_rows, load, localize, scratch_dir

_SNAPSHOT_TS = "1992-01-01 00:00:00"


@register(
    "q_scd2_merge",
    oracle=f"""
    WITH hist AS (
        SELECT c_custkey            AS custkey,
               CAST(-1 AS BIGINT)   AS change_id,
               round(c_acctbal, 6)  AS attr,
               TIMESTAMP '{_SNAPSHOT_TS}' AS valid_from
        FROM customer
        UNION ALL
        SELECT o_custkey, o_orderkey, round(o_totalprice, 6), o_orderdate
        FROM orders
    )
    SELECT custkey, change_id, attr, valid_from,
           lead(valid_from) OVER w AS valid_to,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM hist
    WINDOW w AS (PARTITION BY custkey ORDER BY valid_from, change_id)
    """,
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q108: slowly-changing-dimension type-2 rebuild — the existing
    dimension snapshot (customer, valid from a fixed epoch) unioned with
    its changelog (orders, one attribute change per order at
    o_orderdate), then one keyed window closes each version interval:
    ``valid_to = lead(valid_from)``, open interval = current row. The
    change_id (-1 for the snapshot row, o_orderkey for changes) is both
    the deterministic same-timestamp tiebreaker and the output lineage
    column.

    Scale shape: UNION ALL is a free plan concat; the only exchange is
    ONE hash partition on custkey for the window — no global sort (the
    per-key sort runs inside each partition), no join. This is the
    standard scale form of SCD2/MERGE on an append-only changelog: at
    100 TB the same plan holds because history building is
    embarrassingly parallel per key; skewed hot keys would take the
    salted-window treatment (operators/skew.py) and a real deployment
    would partition-prune the changelog to the merge date range.
    """
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.lit(-1).cast("long").alias("change_id"),
        r6d(F.col("c_acctbal"), "attr"),
        F.lit(_SNAPSHOT_TS).cast("timestamp").alias("valid_from"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("change_id"),
        r6d(F.col("o_totalprice"), "attr"),
        F.col("o_orderdate").alias("valid_from"),
    )
    w = Window.partitionBy("custkey").orderBy("valid_from", "change_id")
    return c.unionAll(o).select(
        "custkey",
        "change_id",
        "attr",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


_BLOOM_K = 7  # bit positions per key inside its 64-bit block
_BLOOM_BLOCKS = 1 << 16  # 64-bit blocks → 512 KiB bitmap


def _bloom_block(key: str) -> Column:
    """Block index for a key (which 64-bit word of the bitmap)."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(_BLOOM_BLOCKS))


def _bloom_mask_sql(key: str) -> str:
    """SQL for the key's in-block bit mask (shiftleft by a COLUMN
    amount exists only in SQL form — the pyspark wrapper takes a
    literal int). A second hash's 6-bit slices pick the K bit positions
    in-block. Used identically by fit and probe."""
    h2 = f"xxhash64(1L, {key})"
    return " | ".join(
        f"shiftleft(1L, cast((shiftright({h2}, {6 * i}) & 63) as int))"
        for i in range(_BLOOM_K)
    )


def _bloom_fit(keys: DataFrame, key: str) -> bytes:
    """Build the split-block bloom bitmap over ``keys[key]`` — ONE
    aggregate job whose bit_or word-fold runs EXECUTOR-side (the driver
    collects at most m/64 = 64k int64 words, never a raw position set,
    which reaches millions of entries once the dim side grows and
    dominated the fit wall-time at sf1). Big-endian word bytes so the
    probe's substring+hex reads each block back verbatim."""
    import numpy as np

    fit = (
        keys.select(
            _bloom_block(key).cast("int").alias("w"),
            F.expr(_bloom_mask_sql(key)).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = np.zeros(_BLOOM_BLOCKS, dtype=np.int64)
    for r in fit:
        arr[r["w"]] = r["bits"]
    return arr.astype(">i8").tobytes()


def _bloom_prescreen(df: DataFrame, key: str, bitmap: bytes) -> DataFrame:
    """Filter ``df`` to rows whose ``key`` MAY be in the bloom set
    (no false negatives). One substring fetches the row's whole 8-byte
    block (one cache line at scale), conv(·,16,-10) reinterprets the
    hex as the SIGNED int64 it was, and membership is a SINGLE
    ``(word & mask) == mask`` test against the key's recomputed bit
    mask — all K bit probes in one codegen'd compare.

    The one-expression shape is deliberate: any form that references
    the fetched word from K separate bit tests gets the 512 KiB
    literal re-inlined K times by Catalyst's tree rewrites (a Project
    in between does not survive CollapseProject; measured 14.7 MiB
    task binaries and probe wall-time scaling with K·|bitmap|), and a
    single-literal `forall` stays outside whole-stage codegen and ran
    ~1.5× slower. Here the literal occurs exactly once in the plan."""
    block = _bloom_block(key)
    word = F.conv(
        F.hex(F.substring(F.lit(bitmap), block.cast("int") * 8 + 1, 8)), 16, -10
    ).cast("long")
    mask = F.expr(_bloom_mask_sql(key))
    return df.filter(word.bitwiseAND(mask) == mask)


@register(
    "q_join_bloom",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           count(*) AS n_rows,
           {SUM6.format(expr="l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q109: bloom-filter pre-filtered semi join — revenue of lineitem
    rows whose order is URGENT. The urgent orderkey set is summarized
    into a SPLIT-BLOCK bloom bitmap at plan-build (`_bloom_fit`: one
    64-bit block per key, {k} bit positions from 6-bit slices of a
    second xxhash64 — the Impala/Parquet register-blocked design; ONE
    aggregate job whose bit_or word-fold runs executor-side, O(m)
    driver model, the kmeans/SQ8 fit pattern), shipped as a single
    BINARY literal, and every fact row is pre-screened JVM-side
    (`_bloom_prescreen`: one 8-byte block fetch — one cache line at
    scale — plus ONE codegen'd (word & mask) == mask compare covering
    all {k} bits) BEFORE the exact broadcast
    semi join removes the bloom's false positives — so the result is
    exactly the plain semi join (the oracle), but the shuffle/join
    input has already been cut to ~|matches| + fpp·|facts| rows in the
    scan stage.

    Sizing: fixed m = 2^22 bits (512 KiB) — ~14 bits/key at 3·10^5
    keys (fpp well under 1%; the exact join deletes the stragglers
    regardless). Scale limits are explicit: the literal-bitmap form
    carries dims up to ~10^6-10^7 keys (grow the block count — the fit
    stays one bit_or aggregate); past that a real deployment flips to
    Spark's own runtime row-level bloom (AQE
    `spark.sql.optimizer.runtime.bloomFilter.enabled`) or stays with
    the shuffle semi join. The point demonstrated here is the
    scan-stage cut: the bloom runs inside the scan's
    WholeStageCodegen span — a predicate Catalyst cannot derive on its
    own — so at 100 TB only ~|matches| rows ever reach an exchange.
    (The fixed fit-job cost means the plain broadcast semi join wins at
    toy scale; the bloom pays for itself once the fact side is large
    enough that scan-stage row elimination dominates, which is exactly
    the 100 TB regime.)
    """
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bitmap = _bloom_fit(urgent, "o_orderkey")
    li = load(spark, sf_dir, "lineitem")
    survivors = _bloom_prescreen(li, "l_orderkey", bitmap).join(
        F.broadcast(urgent),
        F.col("l_orderkey") == urgent["o_orderkey"],
        "left_semi",
    )
    return survivors.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        sum6(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


fmt_doc(q_join_bloom, k=_BLOOM_K)


_CDC_DEL_MOD = 10  # orderkey % 10 == 0 → delete op (~10% of changes)


@register(
    "q_cdc_apply",
    oracle=f"""
    WITH latest AS (
        SELECT o_custkey AS custkey,
               (max(struct_pack(d := o_orderdate, k := o_orderkey,
                                op := CASE WHEN o_orderkey % {_CDC_DEL_MOD} = 0
                                           THEN 'D' ELSE 'U' END,
                                a := round(o_totalprice, 6)))).op AS op,
               (max(struct_pack(d := o_orderdate, k := o_orderkey,
                                op := CASE WHEN o_orderkey % {_CDC_DEL_MOD} = 0
                                           THEN 'D' ELSE 'U' END,
                                a := round(o_totalprice, 6)))).a  AS attr,
               (max(struct_pack(d := o_orderdate, k := o_orderkey,
                                op := CASE WHEN o_orderkey % {_CDC_DEL_MOD} = 0
                                           THEN 'D' ELSE 'U' END,
                                a := round(o_totalprice, 6)))).k  AS last_change_id
        FROM orders
        GROUP BY o_custkey
    )
    SELECT coalesce(l.custkey, c.c_custkey) AS custkey,
           CASE WHEN l.custkey IS NULL THEN round(c.c_acctbal, 6)
                ELSE l.attr END             AS attr,
           CASE WHEN l.custkey IS NULL THEN 'base' ELSE 'cdc' END AS src,
           l.last_change_id
    FROM customer c
    FULL OUTER JOIN latest l ON l.custkey = c.c_custkey
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q114: CDC changelog application (MERGE INTO semantics) — the
    companion to Q108: where SCD2 keeps every version, this produces
    the CURRENT snapshot after applying an upsert/delete changelog to a
    base table. Changes are orders rows (op: orderkey % {dm} == 0 →
    delete, else upsert; change order = (o_orderdate, o_orderkey)); the
    winner per key is ONE mergeable struct-max aggregate (the Q77
    arg-max idiom — no window, no sort), then a single keyed FULL OUTER
    join against the base snapshot applies the merge rule: untouched
    base rows pass through, latest-upsert keys take the change's
    attribute, latest-delete keys vanish even if present in the base.

    Scale shape: the struct-max is a partial+final aggregate (the
    changelog — the big side at 100 TB, since changelogs outgrow dims —
    collapses map-side to one row per key before the exchange; the
    struct buffer keeps it on SortAggregate rather than the hash path,
    allow-listed in tools/plan_rules.py as for q_minmax_by — the
    single-shuffle mergeable-argmax trade, same as the dedup survivor
    picks), and the join is one hash partition on the key; this is
    exactly how Delta/Iceberg MERGE compacts a CDC feed, minus the
    file rewrite. Deletes ride the same dataflow as upserts — no
    separate anti-join pass.
    """
    o = load(spark, sf_dir, "orders")
    arg = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % _CDC_DEL_MOD == 0, "D")
        .otherwise("U")
        .alias("op"),
        F.round("o_totalprice", 6).alias("a"),
    )
    latest = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.max(arg).alias("w"))
        .select(
            "custkey",
            F.col("w.op").alias("op"),
            F.col("w.a").alias("attr"),
            F.col("w.k").alias("last_change_id"),
        )
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    merged = c.join(latest, c["c_custkey"] == latest["custkey"], "full_outer")
    return merged.where(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        F.coalesce(F.col("custkey"), F.col("c_custkey")).alias("custkey"),
        F.when(F.col("custkey").isNull(), F.round("c_acctbal", 6))
        .otherwise(F.col("attr"))
        .alias("attr"),
        F.when(F.col("custkey").isNull(), "base").otherwise("cdc").alias("src"),
        "last_change_id",
    )


fmt_doc(q_cdc_apply, dm=_CDC_DEL_MOD)


_MV_CUTOFF = "2024-01-25 00:00:00"


@register(
    "q_mv_incremental",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n_events,
           {SUM6.format(expr="value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q117: incremental materialized-view refresh — the partial-
    aggregate merge that keeps a 100 TB MV fresh without rescanning
    history. Yesterday's MV (per-(event_type, day) count + exact-decimal
    value sum over everything before the cutoff) is MATERIALIZED to
    parquet and read back as the stored table; the refresh job then
    scans ONLY that stored MV plus the delta (events at/after the
    cutoff), aggregates the delta to the same partial shape, and merges
    with one union + re-aggregate — counts add, decimal sums add
    exactly (order-independent), averages would derive from (sum,
    count). Refresh cost is O(|MV| + |delta|), independent of history
    size — the reason partials, not finals, are what an MV stores.

    The result must equal the full recompute over all events, which IS
    the oracle — the hash matches only if the merge is lossless. The
    sum partial is DECIMAL end to end (``sum6`` contract), because a
    double partial would make the stored MV order-sensitive.

    The durable-asset form is real (VERDICT r6 item 7): the MV lives in
    operators/mv.py — ``mv_init`` writes version 0, ``mv_refresh``
    reads the live version, merges the delta's partials and COMMITS the
    next _SUCCESS-marked version directory (write isolation; a crashed
    refresh leaves the previous version live), ``mv_read`` resolves the
    latest committed version. This query is its test harness: init on
    history, one refresh with the post-cutoff delta, read back.
    tests/test_warehouse_graph.py proves two successive refreshes equal
    one full recompute and that version pruning keeps the tail.

    Driver-collect note (the Q96 pattern): the refreshed MV is
    O(types × days) = 150 rows at any corpus size; it is localized so
    the scratch MV directory can be removed before returning. At scale
    the MV path is permanent storage and readers run mv_read directly.
    """
    from project_map_reduce_spark.operators.mv import (
        mv_finalize,
        mv_init,
        mv_read,
        mv_refresh,
    )

    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    cutoff = F.lit(_MV_CUTOFF).cast(ev.schema["ts"].dataType.simpleString())
    keys = ["event_type", "day"]
    sums = {"sum_value": "value"}

    def with_day(df: DataFrame) -> DataFrame:
        return df.select(
            "event_type", F.date_trunc("day", "ts").alias("day"), "value"
        )

    with scratch_dir("q_mv_incremental_") as mv_dir:
        mv_init(with_day(ev.filter(F.col("ts") < cutoff)), keys, sums, mv_dir)
        mv_refresh(
            spark, mv_dir, with_day(ev.filter(F.col("ts") >= cutoff)),
            keys, sums,
        )
        # date_trunc returns a session-zone TIMESTAMP; ``day`` is returned
        # as the oracle's naive timestamp.
        day = F.col("day").cast("timestamp_ntz").alias("day")
        return localize(mv_finalize(mv_read(spark, mv_dir), sums).select(
            "event_type", day, "n_events", "sum_value"
        ))


@register(
    "q_stream_mv_refresh",
    oracle=f"""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n_events,
           {SUM6.format(expr="value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q123: STREAMING incremental MV refresh — Q117's durable MV fed
    by a Structured Streaming source with EXACTLY-ONCE merge semantics,
    the streaming-into-warehouse pattern whose classic failure mode is
    a foreachBatch that re-appends its delta on checkpoint replay and
    silently double-counts. operators/mv.py::mv_apply_batch makes the
    replay idempotent BY CONSTRUCTION: version = batch_id + 1, merge
    base = latest committed version ≤ batch_id (a dead attempt's own
    output can never be its input), overwrite on replay — proven by a
    kill+replay test in tests/test_mv.py, and by this query's oracle:
    the MV after the stream drains must hash-match the full batch
    recompute over all events (counts and exact-decimal sums — the
    sum6 partial contract, so the per-batch merge order cannot show).

    Scale shape: each micro-batch shuffles only its own partials
    (map-side combine → O(groups) rows), the merge reads O(|MV|) — the
    unbounded history is never rescanned; the MV path is the only sink
    (no second copy of the stream), versions prune to a bounded tail.
    Driver-collect note: the refreshed MV is O(types × days) = 150
    rows at any corpus size (the Q96/Q117 pattern).
    """
    from project_map_reduce_spark.operators.mv import (
        mv_finalize,
        mv_read,
        mv_stream_refresh,
    )
    from project_map_reduce_spark.plans.streaming_shaped import (
        _await_finite_stream,
        _finite_stream,
        _id_chunks,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("timestamp").alias("day"),
        "value",
        "event_id",
    )
    keys = ["event_type", "day"]
    sums = {"sum_value": "value"}
    # The per-batch merge shuffles O(types×days)=150 partial rows and
    # each version write produces one file per post-shuffle partition:
    # 32 shuffle partitions meant 32 tasks + 32-file versions PER BATCH
    # for 150 rows (measured 9.5 s). Pin small — the q_stream_sessions
    # small-state lesson applied to the merge job (which runs on the
    # stream's own session, so it keeps this conf); a big-MV deployment
    # sizes this to |MV|/128MB instead.
    merge_parts = {"spark.sql.shuffle.partitions": "2"}
    with _finite_stream(spark, "q_stream_mv_refresh", merge_parts) as fs:
        stream = fs.stage(*_id_chunks(ev))
        mv = f"{fs.tmp}/mv"
        _await_finite_stream(fs.start(
            lambda: mv_stream_refresh(stream, mv, f"{fs.tmp}/ckpt", keys, sums)
        ), fs.name)
        day = F.col("day").cast("timestamp_ntz").alias("day")
        return localize(mv_finalize(mv_read(spark, mv), sums).select(
            "event_type", day, "n_events", "sum_value"
        ))


_COMPACT_INGEST_FILES = 64  # simulated streaming-ingest fragmentation
_COMPACT_TARGET_BYTES = 32 * 1024 * 1024  # target file size after compaction


def _compact_regressed(n_in: int, n_out: int, target: int) -> bool:
    """True when the rewrite missed its computed file count, or — while
    the fragmented premise still holds (target < n_in) — failed to
    shrink the file count. Once measured input bytes reach
    target-file-size × ingest-file-count the computed target
    legitimately meets or exceeds the input count, and the rewrite is
    judged on exact file count + row losslessness alone (ADVICE r7:
    the old unconditional n_out >= n_in raise spuriously failed there)."""
    return n_out != target or (target < n_in and n_out >= n_in)


@register(
    "q_compact_small_files",
    oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {SUM6.format(expr="value")} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q125: small-file compaction DRIVER-PROVEN — the daily maintenance
    op every streaming-ingested lake needs (Delta OPTIMIZE / Iceberg
    rewrite_data_files, rebuilt on plain parquet): per-micro-batch
    commits leave thousands of KB-scale files per partition, and at
    100 TB the file-open + footer-read + scheduling cost of a
    million-file table dwarfs the data read. The op reads the
    fragmented layout, sizes the target file count from the MEASURED
    input bytes (ceil(bytes / {mb} MiB) — never a guessed constant),
    and rewrites with one round-robin repartition: bounded files out,
    one narrow exchange, no keyed shuffle.

    Driver-checked raises (the Q118/Q124 pattern): the rewrite must
    hit exactly the computed file count AND preserve the exact row
    count — a compaction that loses or duplicates rows is a driver
    failure. The oracle aggregates the RAW events table while the
    query aggregates the COMPACTED copy, so the hash matches only if
    compaction is lossless end to end.

    Driver-collect note (Q96/Q117 pattern): the aggregate is O(types)
    rows; both scratch layouts are removed before returning — at scale
    compaction rewrites partitions in place behind a version commit
    (the operators/mv.py versioned-directory discipline).
    """
    import glob as _glob
    import math
    import os as _os

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    with scratch_dir("q_compact_") as tmp:
        frag, tidy = f"{tmp}/frag", f"{tmp}/tidy"
        # The fragmented state a micro-batch ingester leaves behind.
        ev.repartition(_COMPACT_INGEST_FILES).write.parquet(frag)
        files = _glob.glob(f"{frag}/part-*.parquet")
        # Row counts from the parquet footers the writes just committed:
        # the same lossless check as a count() re-scan, minus its jobs.
        n_rows = footer_rows(frag)
        total_bytes = sum(_os.path.getsize(f) for f in files)
        target = max(1, math.ceil(total_bytes / _COMPACT_TARGET_BYTES))

        spark.read.parquet(frag).repartition(target).write.parquet(tidy)

        out_files = _glob.glob(f"{tidy}/part-*.parquet")
        if _compact_regressed(len(files), len(out_files), target):
            raise RuntimeError(
                f"compaction regression — {len(files)} files in, "
                f"{len(out_files)} out, computed target {target}"
            )
        compacted = spark.read.parquet(tidy)
        got_rows = footer_rows(tidy)
        if got_rows != n_rows:
            raise RuntimeError(
                f"compaction lost rows — {n_rows} in, {got_rows} out"
            )
        return localize(
            compacted.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                sum6("value").alias("sum_value"),
            )
        )


fmt_doc(q_compact_small_files, mb=_COMPACT_TARGET_BYTES // (1024 * 1024))


@register(
    "q_dynamic_overwrite",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {SUM6.format(expr="CASE WHEN event_type = 'click' "
                             "THEN value * 2 ELSE value END")} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q154: DYNAMIC partition overwrite through catalog DDL — the
    incremental-partition-refresh semantic every partitioned 100 TB
    warehouse depends on, and the one INSERT form nothing else
    exercises: ``INSERT OVERWRITE`` under
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` replaces ONLY
    the partitions present in the incoming rows. The query seeds an
    EXTERNAL parquet table (``CREATE TABLE … USING parquet PARTITIONED
    BY (event_type) LOCATION …``) with the full events slice, then
    re-publishes JUST the ``click`` partition with doubled values; the
    final per-type aggregate hash-matches the oracle ONLY if the
    overwrite (a) replaced the click partition (stale rows gone —
    refresh applied exactly once) and (b) left every other partition
    byte-intact (STATIC mode — the default — would have dropped them
    all: the exact production incident this mode exists to prevent,
    pinned by the canary test).

    Scale shape: the refresh writes O(changed partition) and commits by
    directory swap — never rewrites the other partitions; reads after
    the refresh plan partition pruning exactly as before (same
    partition column). The catalog table is session-scoped scratch and
    dropped in ``finally`` (ref A12's report-sink lineage: publish =
    replace the job's output location atomically per partition).
    """
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    tbl = "q154_events_part"
    with scratch_dir("q_dynamic_overwrite_") as tmp:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            ev.createOrReplaceTempView("q154_src")
            spark.sql(
                f"""
                CREATE TABLE {tbl} (event_id BIGINT, value DOUBLE,
                                    event_type STRING)
                USING parquet PARTITIONED BY (event_type)
                LOCATION '{tmp}'
                """
            )
            spark.sql(
                f"""
                INSERT INTO {tbl} PARTITION (event_type)
                SELECT event_id, value, event_type FROM q154_src
                """
            )
            dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
            with scoped_conf(spark, dynamic):
                spark.sql(
                    f"""
                    INSERT OVERWRITE TABLE {tbl} PARTITION (event_type)
                    SELECT event_id, value * 2 AS value, event_type
                    FROM q154_src WHERE event_type = 'click'
                    """
                )
            out = (
                spark.table(tbl)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    sum6("value").alias("sum_value"),
                )
            )
            return localize(out)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.catalog.dropTempView("q154_src")


@register(
    "q_stream_to_table",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q181: ``writeStream.toTable`` — the MANAGED-TABLE streaming sink
    (the path-sink family is covered by Q90/Q123/Q163; this is the
    catalog form: the stream CREATES the table, the metastore tracks
    it, and downstream consumers address it by NAME — the production
    pattern that lets a streaming job and its batch readers share one
    catalog entry instead of a path convention). Three staged
    micro-batches of events flow availableNow into the managed table;
    the read-back is ``spark.read.table`` and the aggregate must equal
    the oracle's batch aggregate over the raw parquet — a dropped or
    double-appended epoch breaks the hash (exactly-once for the
    file-format table sink comes from the same per-batchId transaction
    log as the path sink).

    Scale shape: the sink write is ordinary distributed parquet
    append; the catalog op is O(1) metadata. The table is DROPPED
    after the O(types) aggregate is collected (scratch hygiene: a
    re-run must start from CREATE, which is itself part of what the
    toTable contract covers).
    """
    import uuid

    from project_map_reduce_spark.plans.streaming_shaped import (
        _await_finite_stream,
        _finite_stream,
        _id_chunks,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    table = f"pmrs_stream_tbl_{uuid.uuid4().hex[:8]}"
    try:
        with _finite_stream(spark, "q_stream_to_table") as fs:
            stream = fs.stage(*_id_chunks(ev))
            _await_finite_stream(fs.start(lambda: (
                stream.writeStream.option("checkpointLocation", f"{fs.tmp}/ckpt")
                .trigger(availableNow=True)
                .toTable(table)
            )), fs.name)
        return localize(
            spark.read.table(table).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                sum6("value").alias("sum_value"),
                F.countDistinct("user_id").alias("n_users"),
            )
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
