"""B.9 streaming-shaped analytics, batch-checked (Q39-Q42, Q90, Q98, Q100-Q101, Q107, Q112).

Q39-Q42 apply the batch/stream-unified transforms from
streaming/transforms.py to the batch events table; the identical
transform objects run under ``readStream`` in the streaming smoke test
(tests/test_streaming.py), which is the capability proof.

Q90 and Q98 go further: each runs an ACTUAL Structured Streaming query
— file-source micro-batches into the idempotent foreachBatch sink —
and hands the sink's final accounting to the driver's hash gate, so
the streaming path itself (not just its batch-shaped twin) carries a
driver correctness signal: Q90 drives the custom stateful operator
(``applyInPandasWithState``), Q98 the watermark late-data admission
rule, Q100 bounded-state streaming dedup with its expiry/re-admission
window, Q101 the watermark-bounded stream-stream interval join, Q107
the stream-static broadcast enrichment join, Q112 session-window state
merging under append-mode finalization. All return a LAZY distributed
plan over an executor-written sink — no driver gather anywhere
(SURVEY §4.2).
"""

from __future__ import annotations

import datetime
import os as _os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.session import scoped_conf
from project_map_reduce_spark.sources.sinks import write_stream_idempotent
from project_map_reduce_spark.streaming import transforms as X
from project_map_reduce_spark.tables import load, local_rows, materialize, session_dir


def _await_finite_stream(q, what: str, timeout: float = 300) -> None:
    """Await an availableNow stream and fail LOUDLY: re-raise the
    query's own exception, or raise if it did not finish within
    ``timeout`` seconds — reading the sink of a half-finished stream
    would return partial totals (a hash mismatch that looks like a
    logic bug). The query is stopped either way, so it never outlives
    its caller or keeps reading a source its caller removes."""
    try:
        finished = q.awaitTermination(timeout)
        if q.exception():
            raise q.exception()
        if not finished:
            raise RuntimeError(
                f"{what}: stream did not finish within {timeout}s "
                "(host stall?) — refusing to read a partial sink"
            )
    finally:
        q.stop()


def _stage_batches(tmp: str, stages) -> str:
    """Stage (name, DataFrame) pairs as ordered micro-batch files under
    ``tmp/src``, one parquet FILE per stage: the file source's initial
    listing orders by modification time (pinned 100 s apart) and the
    ``b{i}_`` name prefix makes lexicographic order agree — batch order
    survives either listing strategy. Single-file stages are SEMANTIC
    where a stage must land in exactly one micro-batch (e.g. all
    on-time rows before the watermark starts advancing — see
    q_watermark_late); test-harness staging only, a production stream
    has no such replay step.

    The per-stage write jobs are independent single-task jobs (each
    ``coalesce(1)`` collapses its whole plan into one task), so they
    are submitted CONCURRENTLY from a small thread pool and staging
    wall time is the slowest stage, not the sum — the
    overlap-independent-jobs pattern, ~0.5-1 s of fixed job cost per
    stage otherwise paid serially. File contents are bit-identical to
    the serial form (same one-task job per stage); the move + mtime
    pinning stays sequential in stage order."""
    import glob
    import os
    import time
    from concurrent.futures import ThreadPoolExecutor

    stages = list(stages)

    def _write(named):
        name, df = named
        df.coalesce(1).write.parquet(f"{tmp}/{name}")

    with ThreadPoolExecutor(max_workers=max(1, len(stages))) as pool:
        list(pool.map(_write, stages))

    src = f"{tmp}/src"
    os.makedirs(src)
    now = time.time()
    for i, (name, _df) in enumerate(stages):
        (part,) = glob.glob(f"{tmp}/{name}/part-*.parquet")
        dst = f"{src}/b{i}_{name}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (now - 300 + 100 * i, now - 300 + 100 * i))
    return src


class _finite_stream:
    """One finite Structured Streaming run, as a context manager: a temp
    workspace (removed on exit), ordered staged micro-batches, and a
    start that holds ``conf`` on the caller's session ONLY around the
    ``start()`` call. Spark copies the session conf into the stream's
    own session when it starts, so every micro-batch runs with ``conf``
    (state partitions, state-store provider) while staging, the await
    and the snapshot run on the caller's conf, and no query leaves a
    session-global override behind. The stream is started on the
    caller's session, so the caller's ``StreamingQueryListener``s see
    its progress."""

    def __init__(self, spark: SparkSession, name: str, conf: dict | None = None):
        self.spark, self.name, self.conf = spark, name, conf or {}
        self.tmp = tempfile.mkdtemp(prefix=f"pmrs_{name}_")

    def __enter__(self) -> "_finite_stream":
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)

    def stage(self, *stages: tuple[str, DataFrame]) -> DataFrame:
        """Stage (name, frame) pairs as ordered micro-batches
        (``_stage_batches``) and return a file-source stream over them,
        one file per trigger, typed by the first frame's schema."""
        src = _stage_batches(self.tmp, stages)
        return (
            self.spark.readStream.schema(stages[0][1].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def start(self, fn):
        """Call ``fn()`` — anything that starts a stream — with ``conf``
        held, and return the started query."""
        with scoped_conf(self.spark, self.conf):
            return fn()

    def run(self, df: DataFrame, output_mode: str, *, sink: str | None = None,
            ckpt: str | None = None) -> DataFrame:
        """Run ``df`` to completion into the idempotent per-batch sink
        (``write_stream_idempotent``) and return the sink read back, one
        ``batch_id`` partition per micro-batch."""
        sink = sink or f"{self.tmp}/sink"
        ckpt = ckpt or f"{self.tmp}/ckpt"
        _await_finite_stream(self.start(lambda: write_stream_idempotent(
            df, sink, ckpt, output_mode=output_mode
        )), self.name)
        return self.spark.read.option("basePath", sink).parquet(sink)


def _last_update_snapshot(snap: DataFrame, key_cols: list[str],
                          final_cols: list, prefix: str) -> DataFrame:
    """Resolve an update-mode sink (``_finite_stream.run``'s read-back)
    to each key's LAST update projected to ``final_cols``, persisted
    executor-side (``materialize``)."""
    last = Window.partitionBy(*key_cols).orderBy(F.desc("batch_id"))
    return materialize(
        snap.withColumn("__rn", F.row_number().over(last))
        .where(F.col("__rn") == 1)
        .select(*final_cols),
        prefix,
    )


def _events(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The events columns ``cols``, with ``ts`` as a session-zone
    TIMESTAMP: watermarks track only LTZ timestamps, and Spark 4.1 reads
    the fixture's ``ts`` as TIMESTAMP_NTZ."""
    ev = load(spark, sf_dir, "events").select(*cols)
    if "ts" in cols and ev.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.to_timestamp_ltz("ts"))
    return ev


def _ntz(*cols: str) -> list:
    """``cols`` cast back to TIMESTAMP_NTZ for the snapshot: the session
    zone is UTC, so the cast is value-exact and the snapshot hashes like
    every batch-path timestamp."""
    return [F.col(c).cast("timestamp_ntz").alias(c) for c in cols]


def _shuffle_parts(n) -> dict:
    """Stream conf: ``n`` shuffle partitions, which a stateful operator
    also takes as its state-store partition count at stream start."""
    return {"spark.sql.shuffle.partitions": str(n)}


def _id_chunks(ev: DataFrame, n: int = 3) -> list:
    """``n`` stages of ``ev`` split on ``event_id`` mod n, for streams
    whose result does not depend on arrival order."""
    return [(f"c{i}", ev.where(F.col("event_id") % n == i)) for i in range(n)]


def _time_chunks(ev: DataFrame, n: int = 3) -> tuple[list, datetime.datetime]:
    """``n`` stages of ``ev`` over CONTIGUOUS event-time ranges, oldest
    first, plus the max ``ts``. The bounds come from one min/max job — a
    distributed range split, no global sort. In-order arrival means no
    input row is ever below the watermark."""
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    if lo is None or hi is None:
        raise ValueError("events table is empty — nothing to stream")
    span_us = max(1, int((hi - lo).total_seconds() * 1_000_000))
    frac = F.timestamp_diff("MICROSECOND", F.lit(lo), F.col("ts")) / F.lit(span_us)
    chunk = F.least(F.floor(frac * n).cast("int"), F.lit(n - 1))
    return [(f"c{i}", ev.where(chunk == i)) for i in range(n)], hi


@register(
    "q_events_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts)                       AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR     AS window_end,
           event_type,
           count(*)                                     AS n_events,
           round(sum(value), 6)                         AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts (epoch-aligned, = date_trunc)."""
    return X.tumbling_counts(load(spark, sf_dir, "events"))


@register(
    "q_events_sliding",
    oracle="""
    WITH cand AS (
        SELECT e.*, CAST(to_timestamp(s.wstart_epoch) AS TIMESTAMP) AS window_start
        FROM events e,
             LATERAL (SELECT unnest(ARRAY[
                 floor(epoch(e.ts) / 1800) * 1800,
                 floor(epoch(e.ts) / 1800) * 1800 - 1800
             ]) AS wstart_epoch) s
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 6) AS sum_value
    FROM cand
    WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding 30 min (oracle expands each event into its
    two candidate epoch-aligned buckets and filters)."""
    return X.sliding_counts(load(spark, sf_dir, "events"))


@register(
    "q_events_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
                   AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        -- event_id tiebreak keeps the ROWS running sum deterministic when
        -- duplicate (user_id, ts) rows straddle a session boundary.
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts)                             AS session_start,
           max(ts) + INTERVAL 30 MINUTE        AS session_end,
           (epoch_us(max(ts) + INTERVAL 30 MINUTE) - epoch_us(min(ts))) // 1000000
                                               AS duration_secs,
           count(*)                            AS n_events,
           round(sum(value), 6)                AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap session windows per user (session_window ↔
    gaps-and-islands oracle; end = last event + gap on both sides)."""
    return X.session_stats(load(spark, sf_dir, "events"))


@register(
    "q_stream_dedup",
    oracle="""
    SELECT count(*)             AS n_rows,
           round(sum(value), 6) AS sum_value
    FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on event_id over a deliberately doubled input (simulating
    the reference's at-least-once redelivery, SURVEY.md §1.4) — the
    result must equal the clean table."""
    ev = load(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    deduped = X.dedup_events(doubled)
    return deduped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        r6d(F.sum("value"), "sum_value"),
    )


@register(
    "q_stream_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6)     AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q90: end-to-end STREAMING correctness, driver-hash-checked.

    The events table is staged as 3 parquet files and re-read as a
    file-source stream (``maxFilesPerTrigger=1`` + available-now → 3
    micro-batches), flows through the custom stateful operator
    ``streaming/stateful.py::running_user_totals``
    (``applyInPandasWithState``, update mode: per-user running
    count/sum, state = 2 scalars/key), and lands in the exactly-once
    sink ``sources/sinks.py::write_stream_idempotent`` (per-batchId
    directory + overwrite — replay-safe where the reference's SQS
    visibility-timeout redelivery double-counts, SURVEY.md §1.4).
    The final accounting — each user's LAST update across batches —
    must equal the plain batch aggregate, which is exactly the oracle.

    No driver gather anywhere in the data path (SURVEY §4.2): the
    last-update resolution is an executor-side window + parquet write
    into a session-scoped persistent dir, and the RETURNED DataFrame is
    a lazy distributed read of that snapshot (FileScan, not a
    LocalTableScan — asserted in tests/test_streaming.py). At 100 TB
    downstream jobs read the same snapshot path; only the test-harness
    staging dirs are temporary.
    """
    from project_map_reduce_spark.streaming.stateful import running_user_totals

    ev = _events(spark, sf_dir, "event_id", "user_id", "value")
    # State-store partitioning follows shuffle.partitions at stream
    # start; 200 (vanilla default) means 200 state dirs per batch for
    # 150 keys at sf0.01 — but pinning it LOW caps the stateful
    # operator's parallelism at every scale (a flat 4 made the sf10
    # probe run the Python state op 4-wide on a 32-core host). Pin to
    # cores: bounded dir overhead, full parallelism.
    cores = _shuffle_parts(spark.sparkContext.defaultParallelism)
    with _finite_stream(spark, "q_stream_totals", cores) as fs:
        totals = running_user_totals(fs.stage(*_id_chunks(ev)), evict_idle=False)
        return _last_update_snapshot(
            fs.run(totals, "update"),
            ["user_id"],
            ["user_id", "n_events", r6d(F.col("sum_value"), "sum_value")],
            "pmrs_q90_final_",
        )


# State-partition count for the evict-on-finalize / stream-stream-join
# state class (sessions, interval joins, the state-reader audit). The
# r11/r12 A/Bs pinned 8 (beat cores at every probed SF — per-batch
# checkpoint commits scale with partitions × stores × batches); the
# round-14 re-A/B after the staging fix confirmed the pin (see
# OPTIMIZATION_r14.md). Env-overridable so the A/B is reproducible
# without editing query bodies; on a cluster this is a deploy-time conf
# sized to executors.
def _stream_state_parts() -> str:
    """``SPARK_GRAFT_STREAM_STATE_PARTS`` (default 8), read at each use
    and validated here, so a bad override fails before the stream
    starts instead of deep inside Spark."""
    raw = _os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "8")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise ValueError(
            f"SPARK_GRAFT_STREAM_STATE_PARTS must be a positive integer, got {raw!r}"
        )
    return str(n)


_WM_DELAY_MIN = 45
_LATE_MOD, _LATE_RES = 10, 7


@register(
    "q_watermark_late",
    oracle=f"""
    WITH ontime AS (
        SELECT ts, value FROM events WHERE event_id % {_LATE_MOD} <> {_LATE_RES}
    ),
    late AS (
        SELECT ts, value FROM events WHERE event_id % {_LATE_MOD} = {_LATE_RES}
    ),
    wm AS (
        SELECT max(ts) - INTERVAL {_WM_DELAY_MIN} MINUTE AS cutoff FROM ontime
    ),
    kept AS (
        SELECT ts, value FROM ontime
        UNION ALL
        SELECT l.ts, l.value FROM late l, wm
        WHERE date_trunc('hour', l.ts) + INTERVAL 1 HOUR > wm.cutoff
    )
    SELECT date_trunc('hour', ts)                   AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           CAST(count(*) AS BIGINT)                 AS n_events,
           round(sum(value), 6)                     AS sum_value
    FROM kept
    GROUP BY 1, 2
    """,
)
def q_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, driver-hash-checked end to end.

    The events table is split into an ON-TIME set (event_id % {m} != {r})
    and a planted LATE set ({late_pct}% of rows), staged as three
    file-source micro-batches: [on-time] → [empty spacer] → [late].
    A 1-hour tumbling aggregation with a {d}-minute watermark then runs
    as an ACTUAL Structured Streaming query (availableNow,
    maxFilesPerTrigger=1): by the time the late batch arrives, the
    watermark has advanced to max(on-time ts) − {d} min, and Spark drops
    every late row whose window END is ≤ that cutoff; late rows in
    still-open windows are admitted and update their window's totals.
    The oracle recomputes exactly that admission rule in SQL — the hash
    matches only if the engine's watermark advancement, late-row
    filtering, AND incremental state updates all behave as declared.

    Pinned semantics (verified by tests/test_streaming.py's boundary
    test): (1) the drop predicate is non-strict — window_end == watermark
    is dropped; (2) the filter watermark lags the reported one by one
    micro-batch, which is why the EMPTY SPACER batch sits between the
    on-time and late batches — it makes the cutoff equal to
    max(on-time) − delay under either a 1- or 2-batch lag, so the query
    is robust to that implementation detail changing.

    Scale shape: identical to q_stream_totals — O(open windows) state,
    idempotent per-batch sink, last-update resolution and final snapshot
    write all executor-side; the returned DataFrame is a lazy parquet
    read (no driver gather, SURVEY §4.2).
    """
    ev = _events(spark, sf_dir, "event_id", "ts", "value")
    is_late = F.col("event_id") % _LATE_MOD == _LATE_RES
    # Unlike q_stream_totals (state O(users) — pinned to cores), this
    # aggregation's state is O(open windows): a few hundred keys at ANY
    # corpus size, and the map-side partial agg parallelism follows the
    # FILE partitions, not this. A small constant is the right setting —
    # cores-many state partitions only add checkpoint overhead (measured
    # +2 s at sf0.1 and sf1, flat at sf10, with zero scale benefit).
    with _finite_stream(spark, "q_watermark_late", _shuffle_parts(4)) as fs:
        # All on-time rows MUST land in one micro-batch (watermark is 0
        # while it runs) — the oracle models exactly one advancement.
        stream = fs.stage(
            ("ontime", ev.where(~is_late).select("ts", "value")),
            ("spacer", ev.where(F.lit(False)).select("ts", "value")),
            ("late", ev.where(is_late).select("ts", "value")),
        )
        agg = (
            stream.withWatermark("ts", f"{_WM_DELAY_MIN} minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                r6d(F.sum("value"), "sum_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "n_events",
                "sum_value",
            )
        )
        return _last_update_snapshot(
            fs.run(agg, "update"),
            ["window_start"],
            [*_ntz("window_start", "window_end"), "n_events", "sum_value"],
            "pmrs_q98_final_",
        )


fmt_doc(
    q_watermark_late,
    m=_LATE_MOD,
    r=_LATE_RES,
    d=_WM_DELAY_MIN,
    late_pct=100 // _LATE_MOD,
)


_DD_DELAY_MIN = 45
_DD_MOD, _DD_RES = 10, 3
_DD_REDELIVER_H = 3  # redelivery arrives 3h (event-time) after the original


@register(
    "q_stream_dedup_watermark",
    oracle=f"""
    WITH t AS (SELECT event_id, ts, value FROM events),
    mx AS (SELECT max(ts) AS m FROM t),
    admitted AS (
        -- a redelivered duplicate passes ONLY if it is not late
        -- (arrival ts above the watermark W = m - delay) AND its key's
        -- dedup state has already expired (original ts + delay <= W)
        SELECT e.event_id,
               e.ts + INTERVAL {_DD_REDELIVER_H} HOUR AS ts,
               e.value
        FROM events e, mx
        WHERE e.event_id % {_DD_MOD} = {_DD_RES}
          AND e.ts + INTERVAL {_DD_REDELIVER_H * 60} MINUTE
              > mx.m - INTERVAL {_DD_DELAY_MIN} MINUTE
          AND e.ts + INTERVAL {_DD_DELAY_MIN} MINUTE
              <= mx.m - INTERVAL {_DD_DELAY_MIN} MINUTE
    )
    SELECT event_id, ts, round(value, 6) AS value FROM t
    UNION ALL
    SELECT event_id, ts, round(value, 6) AS value FROM admitted
    """,
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state, driver-hash-checked — the
    ``dropDuplicatesWithinWatermark`` capability (the reference's
    missing redelivery repair, SURVEY §1.4, in its state-finite form)
    as a full-row-hash query instead of a smoke test.

    Staging: [all events] → [empty spacer] → [redeliveries] (every
    event_id % {m} == {r} key re-sent with the same payload {h} hours
    later, event-time). The stream deduplicates on event_id with a
    {d}-minute watermark; the sink must then hold EXACTLY: every
    original row, plus those redeliveries whose key's dedup state had
    already expired when they arrived while the row itself was still
    above the watermark — the documented state-expiry re-admission
    window. The oracle recomputes that window in SQL, so the hash
    checks late-row filtering, duplicate suppression, AND state
    eviction timing in one shot.

    Pinned semantics (empirically verified, mirroring the Q98
    methodology): (1) a row is late-dropped iff ts <= watermark
    (non-strict); (2) a key's state expires iff its ts + delay <=
    watermark (non-strict — a redelivery at exactly the expiry instant
    is re-admitted); (3) the filter watermark lags one micro-batch
    behind the reported one, which the empty spacer batch absorbs
    (cutoff = max(original ts) − delay under a 1- OR 2-batch lag).

    Scale shape: state is O(keys per watermark horizon), NOT O(all
    keys ever) — the property that lets the dedup run forever on an
    unbounded stream; append-mode idempotent sink; final snapshot is an
    executor-side parquet write returned as a lazy read (SURVEY §4.2).
    """
    ev = _events(spark, sf_dir, "event_id", "ts", "value")
    redeliver = ev.where(F.col("event_id") % _DD_MOD == _DD_RES).withColumn(
        "ts", F.col("ts") + F.expr(f"INTERVAL {_DD_REDELIVER_H} HOURS")
    )
    # dedup state is O(keys in horizon) — grows with data: pin the state
    # partitioning to cores (same reasoning as q_stream_totals)
    cores = _shuffle_parts(spark.sparkContext.defaultParallelism)
    with _finite_stream(spark, "q_stream_dedup_watermark", cores) as fs:
        stream = fs.stage(
            ("originals", ev),
            ("spacer", ev.where(F.lit(False))),
            ("redeliver", redeliver),
        )
        deduped = stream.withWatermark(
            "ts", f"{_DD_DELAY_MIN} minutes"
        ).dropDuplicatesWithinWatermark(["event_id"])
        # append-mode sink: the emitted rows ARE the result — no
        # last-update resolution needed, just drop the batch_id dir key
        snap = fs.run(deduped, "append")
        return materialize(
            snap.select("event_id", *_ntz("ts"), F.round("value", 6).alias("value")),
            "pmrs_q100_final_",
        )


fmt_doc(
    q_stream_dedup_watermark,
    m=_DD_MOD,
    r=_DD_RES,
    d=_DD_DELAY_MIN,
    h=_DD_REDELIVER_H,
)


def _err_pur_join(stream: DataFrame, how: str) -> DataFrame:
    """(err_id, pur_id): purchases within 1 hour after an error by the
    same user, as a stream-STREAM interval join of ``stream`` with
    itself. Both sides carry a 2-hour watermark, which bounds the join
    state: an error older than watermark + 1 h can match nothing more
    and is evicted (or, under an outer join, emitted null-padded)."""

    def side(kind: str, tag: str) -> DataFrame:
        return (
            stream.where(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{tag}_user"),
                F.col("event_id").alias(f"{tag}_id"),
                F.col("ts").alias(f"{tag}_ts"),
            )
            .withWatermark(f"{tag}_ts", "2 hours")
        )

    return side("error", "err").join(
        side("purchase", "pur"),
        F.expr(
            "err_user = pur_user AND pur_ts > err_ts "
            "AND pur_ts <= err_ts + INTERVAL 1 HOUR"
        ),
        how,
    ).select("err_id", "pur_id")


@register(
    "q_join_interval_stream",
    oracle="""
    SELECT e.event_id AS err_id, p.event_id AS pur_id
    FROM events e
    JOIN events p
      ON e.user_id = p.user_id
     AND p.ts >  e.ts
     AND p.ts <= e.ts + INTERVAL 1 HOUR
    WHERE e.event_type = 'error' AND p.event_type = 'purchase'
    """,
)
def q_join_interval_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join, driver-hash-checked: purchases
    within 1 hour after an error by the same user, computed by an
    actual Structured Streaming join (two file-source streams, 2-hour
    watermarks on both sides bounding the join state) — and the result
    must equal the plain batch interval join, which is the oracle.

    Staging: events split into 3 CONTIGUOUS EVENT-TIME range chunks
    (bounds from min/max ts — a distributed range split, no global
    sort), processed oldest-first. In-order arrival means no input row
    is ever below the watermark, and state eviction (errors older than
    watermark + 1 h are dropped from the buffer) only discards errors
    whose join window is already closed — so the streaming result is
    EXACTLY the batch join. That eviction is the point: the error-side
    buffer holds O(users · 3 h) rows at any instant, which is what
    makes the join runnable forever on an unbounded stream.

    Scale shape: append-mode idempotent sink; executor-written snapshot
    returned as a lazy read (SURVEY §4.2); state partition count is the
    measured-best harness value (see the in-body comment — a
    stream-stream join carries TWO state stores per partition, so
    checkpoint-commit overhead, not compute, dominates here).
    """
    ev = _events(spark, sf_dir, "event_id", "ts", "user_id", "event_type")
    stages, _ = _time_chunks(ev)
    # A stream-stream join keeps TWO state stores per partition, so
    # per-batch checkpoint commits scale with partitions x stores x
    # batches and dominate at harness scale: A/B measured 8 partitions
    # FASTER than cores even at sf10 (25.6 s vs 34.4 s, 10 M events)
    # while staying sublinear (sf0.1 5.6 s, sf1 7.0 s). On a real
    # cluster this is a deploy-time conf sized to executors; the code
    # pins the measured-best harness value.
    parts = _shuffle_parts(_stream_state_parts())
    with _finite_stream(spark, "q_join_interval_stream", parts) as fs:
        snap = fs.run(_err_pur_join(fs.stage(*stages), "inner"), "append")
        return materialize(snap.select("err_id", "pur_id"), "pmrs_q101_final_")


@register(
    "q_stream_enrich",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6)     AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q107: STREAM-STATIC broadcast enrichment — the third streaming
    join class after stateful agg (Q90) and stream-stream (Q101), and
    the single most common production streaming pattern: every event
    micro-batch is enriched against a slowly-changing dimension
    (customer → nation) by a STATELESS per-batch join, so the streaming
    result is exactly the batch join (which is the oracle).

    Plan shape: the dim side (customer ⋈ nation, pre-joined once) is
    explicitly broadcast — each micro-batch's join is map-side against
    the replicated dim, NO shuffle and NO state store in-stream
    (contrast Q101's two per-partition state stores); enriched rows
    land append-mode in the idempotent per-batchId sink. At 100 TB the
    dim broadcast is the standard enrichment design (dims are MBs
    while the stream is unbounded), a too-big dim degrades to a
    shuffled stream-static join with the same semantics, and dim
    REFRESH is Spark's own contract: the static side is re-read per
    micro-batch, so a slowly-changing dim picks up updates at batch
    boundaries. The returned DataFrame is a lazy distributed aggregate
    over the session-persistent sink — downstream jobs read the same
    path; no driver gather (SURVEY §4.2).
    """
    ev = _events(spark, sf_dir, "event_id", "user_id", "value")
    dim = (
        load(spark, sf_dir, "customer")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    with _finite_stream(spark, "q_stream_enrich") as fs:
        enriched = fs.stage(*_id_chunks(ev)).join(
            F.broadcast(dim), F.col("user_id") == F.col("c_custkey")
        ).select("n_name", "value")
        snap = fs.run(
            enriched, "append", sink=session_dir("pmrs_q107_sink_")
        )
    return snap.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        r6d(F.sum("value"), "sum_value"),
    )


_SS_GAP_MIN = 30  # session gap AND watermark delay
_SS_FLUSH_DAYS = 30  # sentinel flush-row lead: far past every session end


def _session_stages(ev0: DataFrame, flush: bool) -> list:
    """Stages that split the session stream INSIDE a session: [early] →
    [empty spacer] → [late], cut at the earliest strictly-increasing
    same-user event pair closer than the gap, so at least one session
    straddles the micro-batch boundary (a naive event-time midpoint can
    land between sessions — tests/test_streaming.py's premise test
    checks the fixture). With ``flush``, a sentinel row (user −1)
    ``_SS_FLUSH_DAYS`` past the last event and a trailing spacer follow,
    pushing the watermark past every real session end.

    The cut and the stream's max ``ts`` come from ONE plan-build job:
    the max rides the windowed aggregation's scan (the window's lead
    column cannot change ``max(ts)``). With no in-session pair anywhere
    (degenerate corpus) the cut falls back to the max."""
    wse = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {_SS_GAP_MIN} MINUTE")
    nts = F.col("nts")
    row = (
        ev0.withColumn("nts", F.lead("ts").over(wse))
        .agg(
            F.max("ts").alias("hi"),
            F.min(
                F.when((nts > F.col("ts")) & (nts <= F.col("ts") + gap), F.col("ts"))
            ).alias("cut"),
        )
        .first()
    )
    hi = row["hi"]
    if hi is None:
        raise ValueError("events table is empty — nothing to sessionize")
    cut = hi if row["cut"] is None else row["cut"]
    ev = ev0.select("user_id", "ts", "value")
    empty = ev.where(F.lit(False))
    stages = [
        ("early", ev.where(F.col("ts") <= F.lit(cut))),
        ("spacer", empty),
        ("late", ev.where(F.col("ts") > F.lit(cut))),
    ]
    if flush:
        sentinel_ts = hi + datetime.timedelta(days=_SS_FLUSH_DAYS)
        sentinel = local_rows(ev.sparkSession, [(-1, sentinel_ts, 0.0)], ev.schema)
        stages += [("flush", sentinel), ("spacer2", empty)]
    return stages


def _session_agg(stream: DataFrame) -> DataFrame:
    """Per-user ``session_window`` aggregation (gap = watermark delay =
    ``_SS_GAP_MIN``), the session-merging state store path."""
    return (
        stream.withWatermark("ts", f"{_SS_GAP_MIN} minutes")
        .groupBy(F.session_window("ts", f"{_SS_GAP_MIN} minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6d(F.sum("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_sessions",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER w <= INTERVAL {_SS_GAP_MIN} MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts)                                  AS session_start,
           max(ts) + INTERVAL {_SS_GAP_MIN} MINUTE  AS session_end,
           count(*)                                 AS n_events,
           round(sum(value), 6)                     AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q112: STREAMING session windows — the one streaming state class
    the inventory had not yet exercised: ``session_window`` state that
    MERGES across micro-batches (tumbling/sliding state only inserts;
    session state must extend an open session when a new row lands
    within its gap, so this drives Spark's session-merging state store
    path for real). The events table is split in two micro-batches at
    a cut chosen INSIDE a session — the earliest strictly-increasing
    same-user event pair closer than the gap (+ an empty spacer, the
    pinned one-batch watermark-lag contract); every session straddling
    the cut (at least one, by construction — the premise test in
    tests/test_streaming.py checks the fixture) is therefore OPEN in
    state when batch 2 arrives and must be merged-extended in the
    store.

    Streaming session aggregation is APPEND-only (Spark raises
    STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION for update), and
    append emits a session exactly once — when the watermark passes
    its end. A session whose last event lies within 2·gap of the
    stream's max ts would therefore never finalize, so a FLUSH batch
    (one sentinel row {flush_days} days ahead, sentinel user −1)
    advances the watermark past every real session end, and a trailing
    spacer lets the lagged filter watermark catch up; the sink then
    holds each real session exactly once and the sentinel's own
    never-finalized session dies with the stream. The final streaming
    result must equal batch sessionization exactly — the
    gaps-and-islands oracle (same SQL family as Q41) checks precisely
    that, including that no session was emitted early, twice, or
    merged wrongly.

    Scale shape: state is O(OPEN sessions) — finalized sessions are
    emitted and EVICTED (append mode), so state stays small at every
    corpus size, and per-partition checkpoint commits × 5 micro-batches
    dominate instead: 8 state partitions beat cores at every scale
    A/B'd (sf0.1 4.1 vs 10.1 s, sf1 5.9 vs 10.4 s, sf10 — 10 M events
    — 43.7 vs 72.2 s, sublinear across two decades), the
    q_join_interval_stream lesson, not q_stream_totals' grows-with-data
    case. The returned DataFrame is a lazy read over the
    session-persistent append sink (SURVEY §4.2 — no driver gather).
    """
    ev0 = _events(spark, sf_dir, "user_id", "ts", "value", "event_id")
    parts = _shuffle_parts(_stream_state_parts())
    with _finite_stream(spark, "q_stream_sessions", parts) as fs:
        agg = _session_agg(fs.stage(*_session_stages(ev0, flush=True)))
        snap = fs.run(agg, "append", sink=session_dir("pmrs_q112_sink_"))
    return snap.where(F.col("user_id") != -1).select(
        "user_id", *_ntz("session_start", "session_end"), "n_events", "sum_value"
    )


fmt_doc(q_stream_sessions, gap=_SS_GAP_MIN, flush_days=_SS_FLUSH_DAYS)


@register(
    "q_stream_state_sessions",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER w <= INTERVAL {_SS_GAP_MIN} MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts)                                  AS session_start,
           max(ts) + INTERVAL {_SS_GAP_MIN} MINUTE  AS session_end,
           CAST(session_id AS BIGINT)               AS session_seq,
           count(*)                                 AS n_events,
           round(sum(value), 6)                     AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_stream_state_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q134: ``transformWithStateInPandas`` — Spark 4.1's arbitrary-state
    streaming API driver-hash-checked (VERDICT r8 item 5), the
    forward-looking successor to Q90's ``applyInPandasWithState``:
    a ``StatefulProcessor`` with MULTIPLE named state variables and
    EVENT-TIME TIMERS (``streaming/transform_state.py``) re-implements
    Q112's gap sessionization as a custom operator — sessions split
    eagerly on in-order input and the final open session per user is
    finalized by a registered timer once the watermark passes
    ``last_ts + gap``, with stale timers disarmed/ignored so the two
    legal input-vs-timer orderings inside a micro-batch emit identical
    rows. The second state variable (per-user finalized-session
    counter) rides into the output as ``session_seq`` and must equal
    the oracle's gaps-and-islands session ordinal — a crash that
    recovered one state variable but not the other would renumber
    sessions and fail the hash (crash-replay pinned in
    tests/test_transform_state.py).

    Same staging/flush discipline as Q112 (cut inside a session so at
    least one session must merge out of recovered state; sentinel
    flush row + spacers advance the watermark past every real session
    end; the sentinel's own session never finalizes and is filtered).
    Engine notes: transformWithState requires the RocksDB state-store
    provider (held only while the stream starts); on hosts without a
    pip protobuf the state-protocol import is repaired via
    ``ensure_protobuf_env`` (sc.environment PYTHONPATH → pbshim
    sitecustomize — see module docstrings for the jar-namespace-
    shadowing and version-gate details).

    Scale shape: state is O(open sessions) × 4 scalars + one timer per
    key — finalized sessions are emitted and cleared; the per-batch
    Python work is vectorized over segments (numpy diff/cumsum +
    pandas groupby), never a per-event loop; 8 state partitions (the
    evict-on-finalize class, Q112's A/B). The returned DataFrame is a
    lazy read over the session-persistent append sink (SURVEY §4.2 —
    no driver gather).

    SELECTION GUIDANCE (measured, BASELINE.md r9/r10, contract-tested):
    the state-server protocol costs a fixed number of socket round
    trips PER KEY PER DATA BATCH (O(1) by the unit-pinned contract),
    so total protocol cost ∝ batches × keys and amortizes over
    rows/key/batch — sf10 (150k keys) DNF'd at 6 micro-batches but
    completes in 327 s at the production-like single-batch shape
    (tools/probe_tws.py). The ~2 ms/key/batch floor remains ~an order
    above Q112's in-JVM session_window store, so: logic expressible as
    a built-in session_window aggregation belongs in Q112; use
    transformWithState when the logic genuinely needs timers or
    multiple state variables, and stage it as FEW LARGE batches.
    """
    from project_map_reduce_spark.streaming.transform_state import (
        ensure_protobuf_env,
        restore_env,
        timer_sessions,
    )

    ev0 = _events(spark, sf_dir, "user_id", "ts", "value", "event_id")
    conf = {
        **_shuffle_parts(_stream_state_parts()),
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        # Changelog checkpointing (round-14, guide §1.2 per-batch cost):
        # without it every RocksDB commit uploads a full SST snapshot of
        # every store instance per micro-batch; with it, commits write
        # the batch's key changelog and snapshots move to the background
        # maintenance thread — the recovery contract is unchanged
        # (replay = last snapshot + changelogs; crash-replay stays
        # pinned by tests/test_transform_state.py).
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    prev_env = ensure_protobuf_env(spark)
    try:
        with _finite_stream(spark, "q_stream_state_sessions", conf) as fs:
            stream = fs.stage(*_session_stages(ev0, flush=True))
            snap = fs.run(
                timer_sessions(stream),
                "append",
                sink=session_dir("pmrs_q134_sink_"),
            )
    finally:
        restore_env(spark, prev_env)
    return snap.where(F.col("user_id") != -1).select(
        "user_id",
        *_ntz("session_start", "session_end"),
        "session_seq",
        "n_events",
        # Round ONCE on the read-back (Spark round = HALF_UP, away from
        # zero — same as the oracle's DuckDB round); the processor emits
        # full precision so no banker's-rounding Python round() sits
        # inside the state layer (ADVICE r9).
        F.round(F.col("sum_value"), 6).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Q140 — state-store READER audit: sink ∪ checkpointed state == batch truth


@register(
    "q_state_reader_audit",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER w <= INTERVAL {_SS_GAP_MIN} MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts)                                  AS session_start,
           max(ts) + INTERVAL {_SS_GAP_MIN} MINUTE  AS session_end,
           count(*)                                 AS n_events,
           round(sum(value), 6)                     AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_state_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q140: the STATE-STORE READER (``spark.read.format("statestore")``,
    Spark's checkpoint-forensics source — VERDICT r9 item 8) audited
    against the sink it belongs to. Q112's session run is repeated
    WITHOUT the flush sentinel, so the stream ends with real sessions
    still OPEN in the session-merging state store (every user's last
    session within 2·gap of stream end cannot finalize — at least the
    max-ts session, guarded below). The result is the union

        finalized sessions (append sink)  ∪  open sessions (state read)

    and the oracle is FULL batch gaps-and-islands sessionization: the
    union hash-matches only if append-mode eviction and the state
    snapshot partition the session inventory EXACTLY — a session
    emitted-but-not-evicted appears twice (dupe row fails the hash), an
    evicted-but-unemitted one vanishes (missing row fails it), and any
    drift in the reader's decode of the internal key/value layout
    (``value.session_window/count/sum``) corrupts values. That closes
    the last unexercised streaming surface: the checkpoint itself is
    now driver-hash-checked, not just the query output.

    Scale shape: identical to Q112 (state O(open sessions), 8 state
    partitions, lazy sink read); the state read streams one snapshot
    file per state partition — at 100 TB it is the standard offline
    audit of a live pipeline's checkpoint, never touching the stream.
    """
    ev0 = _events(spark, sf_dir, "user_id", "ts", "value", "event_id")
    # The checkpoint must OUTLIVE this call: the returned plan reads it
    # lazily (statestore source), so it gets the session-persistent
    # lifecycle, not the workspace one.
    ckpt = session_dir("pmrs_q140_ckpt_")
    parts = _shuffle_parts(_stream_state_parts())
    with _finite_stream(spark, "q_state_reader_audit", parts) as fs:
        agg = _session_agg(fs.stage(*_session_stages(ev0, flush=False)))
        finalized = fs.run(
            agg, "append", sink=session_dir("pmrs_q140_sink_"), ckpt=ckpt
        ).select("user_id", "session_start", "session_end", "n_events", "sum_value")
    open_state = spark.read.format("statestore").load(ckpt).select(
        F.col("value.user_id").alias("user_id"),
        F.col("value.session_window.start").alias("session_start"),
        F.col("value.session_window.end").alias("session_end"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 6).alias("sum_value"),
    )
    # Premise guards, loud: an empty side means the audit exercised
    # nothing (no flush ⇒ the max-ts session MUST still be open).
    if open_state.limit(1).count() == 0:
        raise RuntimeError(
            "q_state_reader_audit: state store is empty — no open "
            "sessions survived; the no-flush premise broke"
        )
    if finalized.limit(1).count() == 0:
        raise RuntimeError(
            "q_state_reader_audit: append sink is empty — nothing "
            "finalized; the staging premise broke"
        )
    return finalized.unionByName(open_state).select(
        "user_id", *_ntz("session_start", "session_end"), "n_events", "sum_value"
    )


@register(
    "q_stream_chained_agg",
    oracle="""
    WITH w1 AS (
        -- epoch-aligned 6h buckets (explicit epoch origin: DuckDB's
        -- default time_bucket origin is 2000-01-03, not 1970-01-01)
        SELECT time_bucket(INTERVAL '6 hours', ts, TIMESTAMP '1970-01-01')
                   AS w_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', w_start) AS TIMESTAMP) AS day_start,
           CAST(count(*) AS BIGINT) AS n_slots,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(CAST(sum_value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM w1
    GROUP BY 1
    """,
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q148: CHAINED stateful operators in ONE streaming query,
    driver-hash-checked — the Spark 3.4+ multiple-stateful-operator
    surface (SPARK-40925) no other query exercises: a 6-hour tumbling
    aggregation per event_type feeds a SECOND windowed aggregation (a
    per-day rollup of the 6-hour slots) inside the same micro-batch
    pipeline, with ``window_time()`` re-deriving the downstream event
    time from the upstream window struct. Pre-3.4 this plan was
    rejected outright; it is the streaming answer to Q80's batch
    time-rollup hierarchy.

    Flush protocol (the part a finite availableNow run must get right):
    chained aggs REQUIRE append mode, and an append-mode window emits
    only when the watermark passes its end — so after 3 in-order
    event-time range chunks (Q101's staging), a SENTINEL batch (one
    synthetic row 1 day + 3 h past the last real day boundary) pushes
    the watermark beyond every real day window, and a trailing EMPTY
    SPACER batch absorbs the one-batch lag between watermark
    advancement and state eviction (Q98's pinned semantics). Both
    cascades flush in the spacer batch: agg1 emits its closed 6-hour
    slots, and agg2 — fed those slots IN THE SAME micro-batch — closes
    the day windows. The sentinel's own slot lands in a later day and
    is excluded by an event-time bound in the snapshot read.

    The hash is sensitive to the whole chain: ``n_slots`` counts agg1's
    emitted (slot, event_type) groups — a duplicated or dropped
    upstream emission changes it; the value chain is DECIMAL(27,6)
    exact at BOTH levels (6dp doubles re-entering decimal is lossless),
    so drift anywhere breaks the hash.

    Scale shape: state is O(open windows) at both levels — a few
    hundred keys at any corpus size (shuffle partitions pinned small,
    Q98's measured rationale); append-mode sink is write-once per
    window (no last-update resolution needed); snapshot read stays
    distributed (SURVEY §4.2).
    """
    from project_map_reduce_spark.functions.det import sum6

    ev = _events(spark, sf_dir, "ts", "event_type", "value")
    chunks, hi = _time_chunks(ev)
    day_bound = hi.replace(hour=0, minute=0, second=0, microsecond=0)
    sentinel_ts = day_bound + datetime.timedelta(days=1, hours=3)
    sentinel = local_rows(spark, [(sentinel_ts, "__sentinel__", 0.0)], ev.schema)
    # State is O(open windows) x 2 operators — a small constant beats
    # cores-many state partitions (Q98's measured rationale).
    with _finite_stream(spark, "q_stream_chained_agg", _shuffle_parts(4)) as fs:
        stream = fs.stage(
            *chunks, ("sentinel", sentinel), ("spacer", ev.where(F.lit(False)))
        )
        slots = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "6 hours"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                sum6("value").alias("sum_value"),
            )
        )
        days = (
            slots.groupBy(
                F.window(F.window_time("window"), "1 day").alias("day_w")
            )
            .agg(
                F.count(F.lit(1)).alias("n_slots"),
                F.sum("n_events").alias("n_events"),
                sum6("sum_value").alias("sum_value"),
            )
            .select(
                F.col("day_w.start").alias("day_start"),
                "n_slots",
                "n_events",
                "sum_value",
            )
        )
        snap = fs.run(days, "append")
        return materialize(
            snap.where(F.col("day_start") < F.lit(sentinel_ts)).select(
                *_ntz("day_start"), "n_slots", "n_events", "sum_value"
            ),
            "pmrs_q148_final_",
        )


@register(
    "q_stream_outer_join",
    oracle="""
    SELECT e.event_id AS err_id, p.event_id AS pur_id
    FROM events e
    LEFT JOIN events p
      ON  e.user_id = p.user_id
      AND p.event_type = 'purchase'
      AND p.ts >  e.ts
      AND p.ts <= e.ts + INTERVAL 1 HOUR
    WHERE e.event_type = 'error'
    """,
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q152: stream-stream LEFT OUTER interval join — Q101's missing
    half: the NULL-padded row for an error with NO purchase inside its
    hour can only be emitted when the error's join state EXPIRES (the
    watermark proves no matching purchase can still arrive), so this
    query hash-checks the outer-specific machinery — state-expiry
    null emission, exactly-once per unmatched row — that an inner join
    never touches. Matched pairs flow like Q101; the oracle is the
    plain batch left join, so a null row emitted early (watermark not
    yet past err_ts+1h), twice (replay), or never (state dropped with
    the row unmarked) breaks the hash.

    Flush protocol: the finite availableNow run ends with a SENTINEL
    batch (one error + one purchase at hi+4h under user −1, joining
    nothing) that advances BOTH sides' watermarks — a stream-stream
    join's global watermark is the MIN across inputs, so pushing one
    side only would hold every unmatched error's state open forever —
    plus the empty-spacer batch for the one-batch eviction lag (Q98's
    pinned semantics). Sentinel rows are excluded from the snapshot by
    their negative id.

    Scale shape: identical to Q101 (two state stores per partition,
    measured-best 8 state partitions, O(users · 3 h) state bound,
    idempotent append sink, distributed snapshot) — plus the outer
    join's guarantee that state expiry EMITS rather than silently
    drops, which is what makes the unmatched side auditable at 100 TB.
    """
    ev = _events(spark, sf_dir, "event_id", "ts", "user_id", "event_type")
    chunks, hi = _time_chunks(ev)
    sentinel_ts = hi + datetime.timedelta(hours=4)
    sentinel = local_rows(
        spark,
        [(-1, sentinel_ts, -1, "error"), (-2, sentinel_ts, -1, "purchase")],
        ev.schema,
    )
    # Two join state stores per partition (Q101's measured rationale):
    # 8 state partitions beat cores at every probed SF.
    parts = _shuffle_parts(_stream_state_parts())
    with _finite_stream(spark, "q_stream_outer_join", parts) as fs:
        stream = fs.stage(
            *chunks, ("sentinel", sentinel), ("spacer", ev.where(F.lit(False)))
        )
        snap = fs.run(_err_pur_join(stream, "leftOuter"), "append")
        return materialize(
            snap.where(F.col("err_id") >= 0).select("err_id", "pur_id"),
            "pmrs_q152_final_",
        )


_RATE_N = 1000          # rows per micro-batch
_RATE_BATCHES = 5       # availableNow runs, one batch each (0..4)
_RATE_START_MS = 1704067200000  # 2024-01-01T00:00:00Z
_RATE_ADV_MS = 3600000  # 1 h of event time per batch


@register(
    "q_rate_source",
    oracle=f"""
    SELECT CAST(g AS BIGINT)                                  AS batch_id,
           CAST({_RATE_N} AS BIGINT)                          AS n_rows,
           CAST(g * {_RATE_N} * {_RATE_N}
                + {_RATE_N * (_RATE_N - 1) // 2} AS BIGINT)   AS sum_value,
           CAST(1 AS BIGINT)                                  AS n_ts,
           CAST({_RATE_START_MS} + g * {_RATE_ADV_MS} AS BIGINT) AS ts_ms
    FROM generate_series(0, {_RATE_BATCHES - 1}) t(g)
    """,
)
def q_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q160: the ``rate-micro-batch`` BUILT-IN streaming source — the
    deterministic load/soak generator (file sources: Q90-class; custom
    Python sources: Q141; here Spark's own synthetic source, whose
    offsets ARE the data): batch b carries exactly ``rowsPerBatch``
    values ``[b·N, (b+1)·N)`` under one event timestamp
    ``start + b·advance``, so the oracle is pure CLOSED-FORM arithmetic
    over batch ids — duplicated/dropped batches, re-based offsets, or
    wall-clock leakage into event time all break the hash. This is the
    one source whose determinism is independent of any staged input,
    which is what makes it the standard harness for exactly-once sink
    tests (the reference's closest analog is its synthetic worker-load
    generator, ref LocalApp.java:100-115).

    Unbounded-source protocol: ``rate-micro-batch`` never ends, but
    each availableNow run commits exactly ONE batch and stops on its own
    (probed). The query therefore runs {_RATE_BATCHES} availableNow runs
    back to back on one checkpoint: each restart resumes from the last
    committed offset, so the sink holds exactly batches
    0..{_RATE_BATCHES - 1} and no run is ever stopped mid-batch — a
    finite check over an infinite source, bounded by the runs rather
    than by a filter on what raced a stop.

    Scale shape: the source plans ``numPartitions`` independent range
    slices per batch (no driver materialization); the per-batch sink
    write is the same idempotent per-batchId commit every streaming
    query here uses.
    """
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _RATE_N)
        .option("numPartitions", 4)
        .option("startTimestamp", _RATE_START_MS)
        .option("advanceMillisPerBatch", _RATE_ADV_MS)
        .load()
    )
    with _finite_stream(spark, "q_rate_source") as fs:
        for _ in range(_RATE_BATCHES):
            snap = fs.run(stream, "append")
        return materialize(
            snap.groupBy("batch_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("value").alias("sum_value"),
                F.countDistinct("timestamp").alias("n_ts"),
                F.max(F.unix_millis("timestamp")).alias("ts_ms"),
            ),
            "pmrs_q160_final_",
        )


@register(
    "q_pyds_stream_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_pyds_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q163: Python DataSource STREAMING SINK — the fourth and last
    quadrant of the custom-source API (batch read Q139 / stream read
    Q141 / batch write Q161 / stream write here,
    ``DataSource.streamWriter``): the events corpus flows as 3 staged
    micro-batches through an availableNow stream into the custom
    writer, whose per-EPOCH commit publishes ``_MANIFEST-<batchId>``
    listing exactly that epoch's part files (filename + rows + an
    order-independent xor checksum per part). The read-back takes ONLY
    manifest-listed parts — the reader-side half of exactly-once: a
    crash-replayed epoch re-commits the same batchId manifest and
    orphan parts from failed attempts are never listed — then validates
    every epoch's totals and aggregates; the oracle is the plain batch
    aggregate, so a dropped epoch, a double-committed epoch, or a row
    lost between write() and commit() all break the hash.

    Scale shape: write() streams each partition once (no buffering
    beyond the line), commit is O(tasks/epoch) over tiny messages; the
    manifest-listed read is how production consumers of a custom sink
    must be written (never glob part files — the manifest IS the
    commit). Since round 11 the sink defaults to the ARROW lane
    (``DataSourceStreamArrowWriter``: write(iterator[RecordBatch]),
    rendering from the Arrow arrays — VERDICT r10 item 3), the lane
    measured 2.2× faster at sf0.1 and ~6× vs the row loop's 22× at
    sf10 (BASELINE.md r10d probe); ``option("arrow","false")`` keeps
    the per-row teaching lane reachable and the two lanes' artifacts
    are byte-equivalent by construction (test-pinned, including
    null-bearing input).
    """
    import os

    from project_map_reduce_spark.sources.pyds_sink import (
        LINE_HASH_SQL,
        register_report_sink,
    )

    register_report_sink(spark)
    ev = _events(spark, sf_dir, "event_id", "event_type", "value")
    with _finite_stream(spark, "q_pyds_stream_sink") as fs:
        out = f"{fs.tmp}/report"
        stream = fs.stage(*_id_chunks(ev))
        _await_finite_stream(fs.start(lambda: (
            stream.writeStream.format("pmrs_report")
            .option("path", out)
            .option("checkpointLocation", f"{fs.tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )), fs.name)
        manifests = sorted(
            f for f in os.listdir(out) if f.startswith("_MANIFEST-")
        )
        if len(manifests) < 3:
            raise ValueError(
                f"q_pyds_stream_sink: expected >=3 committed epochs, "
                f"got {manifests}"
            )
        # Parse the tiny manifests driver-side: per-part expectations
        # plus per-epoch totals (O(parts) lines).
        want_part: dict[str, tuple[int, int]] = {}  # fname -> (rows, xor)
        want_epoch: dict[str, tuple[int, int, list[str]]] = {}
        for mf in manifests:
            head, *body = open(f"{out}/{mf}").read().splitlines()
            parts = [entry.split("\t")[0] for entry in body]
            for entry in body:
                fname, n_rows, xor = entry.split("\t")
                want_part[fname] = (int(n_rows), int(xor))
            want_epoch[mf] = (
                int(head.split("\t")[1]),
                int(head.split("\t")[3]),
                parts,
            )
        # Verification AND the aggregate are DISTRIBUTED, in ONE scan
        # (the r11 sf10 probe showed the former per-line driver loop
        # dominating the whole query at 10 M rows): a single text scan
        # over exactly the manifest-listed parts groups by
        # (part, event_type), computing per-cell row counts, the md5
        # line-xor via the BIGINT bit_xor aggregate (LINE_HASH_SQL is
        # the exact Spark twin of the writer's _line_hash —
        # test-pinned), and the exact-decimal value sum
        # (CAST(... AS DECIMAL(27,6)) quantizes HALF_UP exactly like
        # the oracle — the ADVICE-r9 rounding contract). Only the
        # O(parts x types) cell summary reaches the driver; both the
        # ledger checks and the final aggregate re-lift from it.
        fields = F.split(F.col("value"), "\t")
        cells = (
            spark.read.text([f"{out}/{p}" for p in want_part])
            .select(
                F.col("_metadata.file_name").alias("part"),
                F.expr(LINE_HASH_SQL).alias("h"),
                fields.getItem(1).alias("event_type"),
                fields.getItem(2).cast("decimal(27,6)").alias("v"),
            )
            .groupBy("part", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor("h").alias("x"),
                F.sum("v").alias("s"),
            )
            .collect()
        )
        got_part: dict[str, tuple[int, int]] = {}
        for r in cells:
            n, x = got_part.get(r["part"], (0, 0))
            got_part[r["part"]] = (n + r["n"], x ^ r["x"])
        for fname, (n_rows, xor) in want_part.items():
            if got_part.get(fname, (0, 0)) != (n_rows, xor):
                raise ValueError(
                    f"q_pyds_stream_sink: part {fname} disagrees with "
                    f"its manifest entry"
                )
        for mf, (total, xor, parts) in want_epoch.items():
            got_n = sum(got_part.get(p, (0, 0))[0] for p in parts)
            got_x = 0
            for p in parts:
                got_x ^= got_part.get(p, (0, 0))[1]
            if (got_n, got_x) != (total, xor):
                raise ValueError(
                    f"q_pyds_stream_sink: epoch {mf} totals disagree"
                )
        agg: dict[str, tuple[int, object]] = {}
        for r in cells:
            c, s = agg.get(r["event_type"], (0, 0))
            agg[r["event_type"]] = (c + r["n"], s + r["s"])
        rows = [(t, c, float(s)) for t, (c, s) in sorted(agg.items())]
    return local_rows(
        spark,
        rows, schema="event_type string, n_events bigint, sum_value double"
    )
