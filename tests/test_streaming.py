"""Streaming smoke (SURVEY.md §5.2.5): the B.9 transforms must run
unchanged under Structured Streaming, converge to the batch answer,
and drop watermark-late rows.

Uses a file source over the events fixture split into ordered chunks
(micro-batches) — deterministic, no rate source flakiness.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from project_map_reduce_spark.plans.streaming_shaped import _await_finite_stream
from project_map_reduce_spark.streaming import transforms
from project_map_reduce_spark.tables import load

ART = os.path.join(os.path.dirname(__file__), ".artifacts", "streaming")


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def chunked_events(spark, sf_dir):
    """events split into 3 event-time-ordered parquet chunks."""
    path = os.path.join(ART, "events_chunks")
    shutil.rmtree(path, ignore_errors=True)
    ev = load(spark, sf_dir, "events").orderBy("ts", "event_id")
    n = ev.count()
    rows = ev.collect()
    os.makedirs(path, exist_ok=True)
    step = (n + 2) // 3
    for i in range(3):
        chunk = spark.createDataFrame(rows[i * step : (i + 1) * step], ev.schema)
        chunk.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, f"chunk_{i}.parquet")
        )
    yield path, ev.schema


def _run_stream(spark, chunked, transform, *, mode="update"):
    path, schema = chunked
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/chunk_*.parquet/*.parquet")
    )
    out = transform(transforms.with_watermark(stream))
    name = f"smoke_{transform.__name__}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_finite_stream(q, name, timeout=120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_equals_batch(spark, sf_dir, chunked_events):
    batch = transforms.tumbling_counts(load(spark, sf_dir, "events"))
    streamed = _run_stream(spark, chunked_events, transforms.tumbling_counts)
    # update mode re-emits amended windows; keep the last emit per key.
    final = (
        streamed.groupBy("window_start", "window_end", "event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
        )
    )
    assert _canon(final) == _canon(batch)


def test_session_stream_runs(spark, chunked_events):
    # session_window aggregation requires append mode (closed sessions
    # are emitted once the watermark passes them).
    streamed = _run_stream(spark, chunked_events, transforms.session_stats, mode="append")
    assert streamed.count() > 0
    cols = set(streamed.columns)
    assert {"user_id", "session_start", "session_end", "n_events"} <= cols


def test_stream_dedup_drops_duplicates(spark, sf_dir, chunked_events):
    path, schema = chunked_events
    # Duplicate chunk 0 as a 4th file: at-least-once redelivery analog
    # (SURVEY.md §1.4 — the dedup the reference lacks).
    src = os.path.join(path, "chunk_0.parquet")
    dup = os.path.join(path, "chunk_dup.parquet")
    shutil.rmtree(dup, ignore_errors=True)
    shutil.copytree(src, dup)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/chunk_*.parquet/*.parquet")
    )
    out = transforms.dedup_events(transforms.with_watermark(stream))
    q = (
        out.writeStream.format("memory")
        .queryName("smoke_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_finite_stream(q, "smoke_dedup", timeout=120)
    got = spark.sql("SELECT count(*), count(DISTINCT event_id) FROM smoke_dedup")
    n, n_distinct = got.collect()[0]
    expected = load(spark, sf_dir, "events").count()
    assert n == n_distinct == expected
    shutil.rmtree(dup, ignore_errors=True)


def test_stream_dedup_within_watermark_bounded_state(spark):
    """Redelivery WITHIN the watermark horizon must be deduped by the
    bounded-state operator (state spans only the delay window)."""
    import datetime as dt

    path = os.path.join(ART, "redeliver")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    first = [(i, base + dt.timedelta(minutes=i), 1, "a", 1.0) for i in range(5)]
    # redelivered copy of the same events + one genuinely new one, all
    # still inside the 10-minute watermark horizon
    redelivered = first + [(99, base + dt.timedelta(minutes=6), 1, "a", 1.0)]
    for i, rows in enumerate((first, redelivered)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, f"rd{i}.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/rd*.parquet/*.parquet")
    )
    out = transforms.dedup_events_within_watermark(
        transforms.with_watermark(stream)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("smoke_dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_finite_stream(q, "smoke_dedup_wm", timeout=120)
    n, n_distinct = spark.sql(
        "SELECT count(*), count(DISTINCT event_id) FROM smoke_dedup_wm"
    ).collect()[0]
    assert n == n_distinct == 6  # 5 originals + 1 new; redelivery dropped


def test_watermark_drops_late_rows(spark):
    """A row arriving a day behind the watermark must be dropped from
    append-mode windowed output (state already evicted)."""
    import datetime as dt

    path = os.path.join(ART, "late")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    on_time = [(i, base + dt.timedelta(minutes=i), 1, "a", 1.0) for i in range(5)]
    advance = [(100, base + dt.timedelta(days=2), 1, "a", 1.0)]
    late = [(200, base - dt.timedelta(days=1), 1, "a", 1.0)]  # beyond watermark
    for i, rows in enumerate((on_time, advance, late)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/b*.parquet/*.parquet")
    )
    windowed = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("smoke_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_finite_stream(q, "smoke_late", timeout=120)
    rows = spark.sql(
        "SELECT window.start, n FROM smoke_late ORDER BY window.start"
    ).collect()
    starts = [r[0] for r in rows]
    assert base.replace(minute=0) in starts  # on-time window emitted
    assert base - dt.timedelta(days=1, hours=0) not in starts  # late row gone
    assert all(r[1] <= 5 for r in rows)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, chunked_events):
    """Q74's interval-join semantics under Structured Streaming: a
    stream-stream inner join with an event-time range condition
    (purchase within 1h after an error, same user) must produce
    exactly the batch answer. Watermarks on both sides bound the join
    state — errors older than watermark+1h are evictable, which is
    what makes the join runnable forever on an unbounded stream."""
    path, schema = chunked_events

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path + "/chunk_*.parquet/*.parquet")
        )

    err = (
        src()
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("err_id"),
            # watermark tracking is LTZ-only; fixture ts is NTZ on Spark ≥4.1
            F.to_timestamp_ltz("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "2 hours")
    )
    pur = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("pur_id"),
            F.to_timestamp_ltz("ts").alias("pur_ts"),
        )
        .withWatermark("pur_ts", "2 hours")
    )
    joined = err.join(
        pur,
        F.expr(
            "e_user = p_user AND pur_ts > err_ts "
            "AND pur_ts <= err_ts + INTERVAL 1 HOUR"
        ),
    ).select("err_id", "pur_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("smoke_interval_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_finite_stream(q, "smoke_interval_join", timeout=120)
    got = _canon(spark.sql("SELECT * FROM smoke_interval_join"))

    from project_map_reduce_spark.operators.rangejoin import interval_join
    from project_map_reduce_spark.tables import load

    ev = load(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pur_id"), F.col("ts").alias("pur_ts")
    )
    want = _canon(
        interval_join(
            e, p, "user_id", "err_ts", "pur_ts", lower_sec=0.0, upper_sec=3600.0
        ).select("err_id", "pur_id")
    )
    assert got == want and len(got) > 0


def test_watermark_drop_semantics_pinned(spark):
    """Pin the exact late-drop rule q_watermark_late's oracle encodes:
    (1) the filter watermark for batch N derives from data in batches
    <= N-2 (one batch BEHIND the reported watermark — hence the query's
    empty spacer batch), and (2) the drop predicate is NON-strict:
    a window whose end equals the watermark is dropped. If a Spark
    upgrade changes either, this fails before the driver hash does."""
    import datetime as dt
    import time

    path = os.path.join(ART, "wm_boundary")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    schema = "ts timestamp, value double"
    d = dt.datetime
    batches = [
        # max ts 12:45 → watermark 12:00 with 45-min delay
        [(d(2026, 1, 1, 10, 0, 30), 1.0), (d(2026, 1, 1, 12, 45), 2.0)],
        [],  # spacer: cutoff for batch 2 is 12:00 under a 1- OR 2-batch lag
        [
            (d(2026, 1, 1, 10, 30), 10.0),  # window end 11:00 <  wm → drop
            (d(2026, 1, 1, 11, 30), 20.0),  # window end 12:00 == wm → drop
            (d(2026, 1, 1, 12, 10), 40.0),  # window end 13:00 >  wm → keep
        ],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(path, f"b{i}.parquet")
        )
        for f in os.listdir(os.path.join(path, f"b{i}.parquet")):
            os.utime(
                os.path.join(path, f"b{i}.parquet", f),
                (now - 300 + 100 * i,) * 2,
            )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/b*.parquet/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "45 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .select(F.col("window.start").alias("ws"), "n", "s")
    )
    # UPDATE mode: late-row dropping only applies when state is
    # watermark-evictable — complete mode retains everything and
    # never drops, so it cannot pin this semantics.
    from project_map_reduce_spark.sources.sinks import write_stream_idempotent

    sink, ckpt = os.path.join(path, "sink"), os.path.join(path, "ckpt")
    q = write_stream_idempotent(agg, sink, ckpt, output_mode="update")
    # fail loudly on timeout/exception — a partial sink would otherwise
    # masquerade as "the semantics changed"
    from project_map_reduce_spark.plans.streaming_shaped import (
        _await_finite_stream,
    )

    _await_finite_stream(q, "wm_boundary_test")
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    snap = spark.read.option("basePath", sink).parquet(sink)
    last = {}
    for r in snap.orderBy("batch_id").collect():
        last[r["ws"]] = (r["ws"].hour, r["n"], r["s"])
    assert dropped == 2, f"expected 2 late rows dropped, got {dropped}"
    assert set(last.values()) == {(10, 1, 1.0), (12, 2, 42.0)}, last


def test_checkpoint_files_move_with_filesystem_rename(spark, tmp_path):
    """get_spark writes streaming checkpoint and state-store files through
    FileSystemBasedCheckpointFileManager (a temp file moved with one
    FileSystem.rename), on the session and on every newSession() of it.
    The default FileContext manager asks for the link status of both
    paths on each rename; without Hadoop's native library every lookup
    forks a ``readlink`` child."""
    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    for s in (spark, spark.newSession()):
        mgr = managers.CheckpointFileManager.create(
            path, s._jsparkSession.sessionState().newHadoopConf()
        )
        assert mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_checkpoint_recovery_replays_batch_idempotently(spark, sf_dir, tmp_path):
    """The exactly-once claim of sources/sinks.py::write_stream_idempotent
    under ACTUAL failure, not a clean run: kill q_stream_totals'
    pipeline after the sink wrote batch 0 but BEFORE the checkpoint
    committed it (delete ckpt/commits/0 — the precise crash window
    where the reference's SQS redelivery double-counts), restart from
    the same checkpoint, and the replayed batch must OVERWRITE its
    batch_id directory (sentinel file vanishes, no appended duplicate
    rows) while the stateful operator rebuilds batch-0 state — the
    final last-update snapshot still equals the batch aggregate."""
    import glob

    from project_map_reduce_spark.sources.sinks import write_stream_idempotent
    from project_map_reduce_spark.streaming.stateful import (
        batch_user_totals,
        running_user_totals,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = tmp_path / "recovery"
    src, sink, ckpt = (str(base / d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)

    def stage(i):
        chunk = ev.where(F.col("event_id") % 3 == i).drop("event_id")
        chunk.coalesce(1).write.parquet(str(base / f"c{i}"))
        (part,) = glob.glob(str(base / f"c{i}" / "part-*.parquet"))
        shutil.move(part, f"{src}/b{i}.parquet")

    def run_stream():
        stream = (
            spark.readStream.schema("user_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = write_stream_idempotent(
            running_user_totals(stream, evict_idle=False),
            sink,
            ckpt,
            output_mode="update",
        )
        assert q.awaitTermination(180), "stream did not drain"
        assert q.exception() is None

    # Run 1: only batch 0's file exists; availableNow drains it cleanly.
    stage(0)
    run_stream()
    assert os.path.exists(f"{ckpt}/commits/0")
    users_b0 = spark.read.parquet(f"{sink}/batch_id=0").count()

    # Crash injection: batch 0 is in the sink but its checkpoint commit
    # never landed. The sentinel proves the replay overwrites the dir
    # rather than appending next to stale output.
    os.remove(f"{ckpt}/commits/0")
    # Hadoop's local ChecksumFileSystem leaves a .0.crc shadow file; a
    # stale one makes the replayed commit's rename fail, which Spark
    # surfaces as a (spurious) concurrent-query error. A real crash
    # loses both files together.
    crc = f"{ckpt}/commits/.0.crc"
    if os.path.exists(crc):
        os.remove(crc)
    sentinel = f"{sink}/batch_id=0/SENTINEL"
    with open(sentinel, "w") as f:
        f.write("stale pre-crash output")

    # Restart from the checkpoint with the rest of the input staged:
    # batch 0 replays from the offsets log, batches 1-2 are new files.
    stage(1)
    stage(2)
    run_stream()

    assert not os.path.exists(sentinel), "replayed batch did not overwrite"
    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if c.isdigit()
    )
    assert commits == ["0", "1", "2"], commits
    assert spark.read.parquet(f"{sink}/batch_id=0").count() == users_b0

    snap = spark.read.option("basePath", sink).parquet(sink)
    last = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    final = (
        snap.withColumn("__rn", F.row_number().over(last))
        .where(F.col("__rn") == 1)
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
        for r in final.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
        for r in batch_user_totals(ev.drop("event_id")).collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], f"user {u} count"
        assert abs(got[u][1] - want[u][1]) < 1e-6, f"user {u} sum"


def test_interval_stream_rejects_empty_events(spark, sf_dir, tmp_path):
    """q_join_interval_stream stages the finite stream by slicing the
    events time span — on an EMPTY events table it must fail fast with
    a clear error before any staging, not a TypeError on None
    arithmetic from the min/max unpack."""
    from project_map_reduce_spark.registry import entries
    from project_map_reduce_spark.tables import load

    empty_sf = tmp_path / "sf_empty"
    empty_sf.mkdir()
    load(spark, sf_dir, "events").limit(0).write.parquet(
        str(empty_sf / "events.parquet")
    )
    with pytest.raises(ValueError, match="events table is empty"):
        entries()["q_join_interval_stream"].fn(spark, str(empty_sf))


def test_stream_queries_return_distributed_reads(spark, sf_dir):
    """The r4 VERDICT flagged q_stream_totals' driver-side collect():
    both finite-stream queries must now return a LAZY parquet read of
    the executor-written snapshot — a FileScan in the physical plan,
    never a LocalTableScan of driver-collected rows (SURVEY §4.2)."""
    from project_map_reduce_spark.registry import entries

    for name in ("q_stream_totals", "q_watermark_late"):
        df = entries()[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in plan, f"{name} gathers on the driver"
        assert "FileScan parquet" in plan, f"{name} is not a parquet read"
        assert df.count() > 0


def test_stream_static_join_is_broadcast_and_stateless(spark, sf_dir, tmp_path):
    """Q107's in-stream join must execute as a BroadcastHashJoin with
    NO stateful operator: the dim replicates to every stream partition
    (map-side enrichment), and statelessness is what makes the
    streaming result exactly the batch join at any scale."""
    from project_map_reduce_spark.tables import load as _load

    ev = _load(spark, sf_dir, "events").select("user_id", "value")
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    dim = (
        _load(spark, sf_dir, "customer")
        .join(
            _load(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    stream = spark.readStream.schema("user_id bigint, value double").parquet(src)
    enriched = stream.join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey")
    ).select("n_name", "value")
    q = (
        enriched.writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    plan = q._jsq.explainInternal(True)
    assert "BroadcastHashJoin" in plan, plan
    assert "StateStore" not in plan, plan


def test_stream_sessions_premise_and_merge(spark, sf_dir):
    """Q112's design premise: at least one user session STRADDLES the
    batch split — otherwise the streaming run would never exercise
    cross-batch session-state merging and the query would pass
    vacuously. Recomputes the query's own cut rule (earliest
    in-session strictly-increasing pair) batch-side and asserts a
    straddler exists; the oracle hash then proves the merged sessions
    come out RIGHT."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    wse = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cut = (
        ev.withColumn("nts", F.lead("ts").over(wse))
        .where(
            (F.col("nts") > F.col("ts"))
            & (F.col("nts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTE"))
        )
        .agg(F.min("ts"))
        .first()[0]
    )
    assert cut is not None
    ev = ev.select("user_id", "ts")
    # gaps-and-islands session id, then: does any session span the cut?
    w = Window.partitionBy("user_id").orderBy("ts")
    from project_map_reduce_spark.functions.det import micros_between

    marked = ev.withColumn(
        "new_s",
        (
            F.coalesce(
                micros_between(F.lag("ts").over(w), F.col("ts")),
                F.lit(10**15),
            )
            > 30 * 60 * 1_000_000
        ).cast("int"),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    straddlers = (
        marked.groupBy("user_id", "sid")
        .agg(F.min("ts").alias("smin"), F.max("ts").alias("smax"))
        .where((F.col("smin") <= F.lit(cut)) & (F.col("smax") > F.lit(cut)))
        .count()
    )
    assert straddlers > 0


def test_session_merge_state_recovers_after_crash(spark, tmp_path):
    """VERDICT r6 item 4: the checkpoint-replay proof above covers the
    stateful-AGG store (insert-only state); ``session_window`` state
    goes through Spark's session-MERGING store, whose recovery path —
    rehydrating OPEN sessions from a state snapshot and merging new
    rows into them — is different. Kill the stream mid-merge (batch 1,
    which extends a session opened by batch 0, is in the sink's past
    but its checkpoint commit is gone — the same crash window as the
    agg-class test), restart, and the replayed batch must merge into
    the REHYDRATED open-session state: the final sink hash-matches
    batch gaps-and-islands sessionization exactly — no session emitted
    early, twice, split at the crash point, or merged wrongly."""
    import datetime

    from project_map_reduce_spark.plans.streaming_shaped import (
        _await_finite_stream,
    )
    from project_map_reduce_spark.sources.sinks import write_stream_idempotent

    t0 = datetime.datetime(2024, 3, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    # gap = 30 min. user 1's single session straddles the cut (10:45
    # lands inside the session opened by 10:00/10:20 — the cross-batch
    # merge); user 2 has one session per side of the cut (proves the
    # recovery neither leaks the closed one nor invents a merge).
    rows = [
        (1, ts(0), 1.0),
        (1, ts(20), 2.0),
        (1, ts(45), 4.0),
        (2, ts(5), 8.0),
        (2, ts(90), 16.0),
    ]
    schema = "user_id bigint, ts timestamp, value double"
    cut = ts(30)
    flush_row = [(-1, t0 + datetime.timedelta(days=30), 0.0)]

    base = tmp_path / "smerge"
    src, sink, ckpt = (str(base / d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)

    def stage(i, name, data):
        df = spark.createDataFrame(data, schema)
        df.coalesce(1).write.parquet(str(base / name))
        import glob

        (part,) = glob.glob(str(base / name / "part-*.parquet"))
        shutil.move(part, f"{src}/b{i}_{name}.parquet")

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "sum_value",
            )
        )
        q = write_stream_idempotent(agg, sink, ckpt, output_mode="append")
        _await_finite_stream(q, "session_merge_recovery")
        return q

    # Run 1: batch 0 opens sessions, batch 1 MERGES 10:45 into user 1's
    # open session — both commit; every session is still open in the
    # merge store (the watermark lags one batch and trails the gap).
    stage(0, "early", [r for r in rows if r[1] <= cut])
    stage(1, "late", [r for r in rows if r[1] > cut])
    run_stream()
    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if c.isdigit()
    )
    # availableNow appends one trailing no-data batch (2) after the
    # two staged files — the watermark-advance flush batch.
    assert commits == ["0", "1", "2"], commits

    # Crash injection: the stream died after batch 1's offsets landed
    # but before its commit — the authentic crash window (offsets 0-1 +
    # commits 0; batch 2 never started, so its offset must go too: a
    # dangling LATER offset is a state no real crash produces and Spark
    # would re-run only that latest batch). On restart the merge store
    # must roll back to the post-batch-0 snapshot (user 1's session
    # OPEN as [10:00, 10:50)) and re-merge batch 1 into it.
    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/2")
    os.remove(f"{ckpt}/offsets/2")
    for stale in (f"{ckpt}/commits/.1.crc", f"{ckpt}/commits/.2.crc",
                  f"{ckpt}/offsets/.2.crc"):
        if os.path.exists(stale):
            os.remove(stale)

    # Restart with the flush sentinel (+30 d, advances the watermark
    # past every real session end) and a spacer (the pinned one-batch
    # filter-watermark lag) staged: replay b1, then finalize everything.
    stage(2, "flush", flush_row)
    stage(3, "spacer", [])
    q = run_stream()
    replayed = [p["batchId"] for p in q.recentProgress]
    assert replayed[0] == 1, f"restart did not replay batch 1: {replayed}"

    got = sorted(
        tuple(r)
        for r in spark.read.option("basePath", sink)
        .parquet(sink)
        .where(F.col("user_id") != -1)
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
        .collect()
    )
    want = sorted(
        [
            (1, ts(0), ts(45 + 30), 3, 7.0),
            (2, ts(5), ts(5 + 30), 1, 8.0),
            (2, ts(90), ts(90 + 30), 1, 16.0),
        ]
    )
    assert got == want, f"\ngot:  {got}\nwant: {want}"


def test_rocksdb_state_store_provider_runs_green(spark, sf_dir, tmp_path):
    """The RocksDB state store, the provider for state that outgrows the
    heap, must be a working path: set it as the session's provider, run
    a stateful aggregate, and assert both the answer (equals the batch
    aggregate) and that the RocksDB store actually served it (its custom
    metrics appear in the state operator's progress)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = load(spark, sf_dir, "events").select("user_id", "value")
        src = str(tmp_path / "src")
        ev.coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema("user_id bigint, value double")
            .parquet(src)
            .groupBy("user_id")
            .agg(F.sum("value").alias("s"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rocks_smoke")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain"
        metrics = {
            k
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
            for k in op.get("customMetrics", {})
        }
        assert any("rocksdb" in k.lower() for k in metrics), metrics
        got = {
            r["user_id"]: round(r["s"], 6)
            for r in spark.sql("SELECT * FROM rocks_smoke").collect()
        }
        want = {
            r["user_id"]: round(r["s"], 6)
            for r in ev.groupBy("user_id").agg(F.sum("value").alias("s")).collect()
        }
        assert got == want
    finally:
        spark.conf.set(key, prev)


def test_stream_state_parts_read_and_validated_at_use(monkeypatch):
    """SPARK_GRAFT_STREAM_STATE_PARTS is read when a query sets its
    state-partition count (not at import), and a bad value fails fast
    with a message naming the variable."""
    from project_map_reduce_spark.plans.streaming_shaped import _stream_state_parts

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTS", raising=False)
    assert _stream_state_parts() == "8"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "12")
    assert _stream_state_parts() == "12"
    for bad in ("0", "-3", "eight", "2.5", ""):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTS"):
            _stream_state_parts()


def test_finite_stream_holds_conf_only_while_starting(spark):
    """The finite-stream harness sets a stream's conf on the caller's
    session only around ``start()``. Spark copies the session conf into
    the stream's own session when it starts, so every micro-batch still
    runs with the override while the caller's conf is already back
    before the await. The stream runs on the caller's session, so a
    listener registered there sees its progress."""
    import datetime as dt
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from project_map_reduce_spark.plans.streaming_shaped import _finite_stream
    from project_map_reduce_spark.sources.sinks import write_stream_idempotent

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "3"
    seen = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(str(event.progress.id))

        def onQueryTerminated(self, event):
            pass

    def batch(start):
        base = dt.datetime(2024, 6, 1, 12)
        rows = [(base + dt.timedelta(minutes=start + i), 1.0) for i in range(5)]
        return spark.createDataFrame(rows, "ts timestamp, value double")

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        with _finite_stream(spark, "conf_scope_test", {key: "3"}) as fs:
            agg = (
                fs.stage(("a", batch(0)), ("b", batch(30)))
                .withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            q = fs.start(lambda: write_stream_idempotent(
                agg, f"{fs.tmp}/sink", f"{fs.tmp}/ckpt", output_mode="update"
            ))
            assert spark.conf.get(key) == before, "conf held past start()"
            _await_finite_stream(q, "conf_scope_test", timeout=120)
        parts = [
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        ]
        assert len(parts) >= 2 and set(parts) == {3}, parts
        deadline = time.time() + 30  # listener events arrive asynchronously
        while str(q.id) not in seen and time.time() < deadline:
            time.sleep(0.2)
        assert str(q.id) in seen, "caller's listener missed the stream"
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get(key) == before
