"""Round-10 queries: Q138 q_variant_json / Q142 q_variant_storage
(VARIANT path + storage), Q140 q_state_reader_audit (statestore reader),
Q141 q_pyds_stream (Python DataSource stream).

Beyond the oracle sweep, these pin the engine-side properties the
oracles can't see: the variant path must stay JVM-only (no Python in
the plan), the storage legs must agree with each other without DuckDB
in the loop, the state audit's two sides must be disjoint AND
batch-complete at EVERY committed batch (time travel via the
statestore source's batchId option), and the stream source must have
delivered the corpus in its declared chunk cadence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_map_reduce_spark.registry import entries
from project_map_reduce_spark.tables import load


# ---------------------------------------------------------------- Q138


def test_variant_plan_is_jvm_only(spark, sf_dir):
    """The VARIANT path's whole point is staying inside codegen: no
    Python eval node may appear, and the variant primitives must."""
    df = entries()["q_variant_json"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "variant_get" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_variant_absent_path_is_null_not_error(spark, sf_dir):
    rows = entries()["q_variant_json"].fn(spark, sf_dir).collect()
    assert rows and all(r["n_missing"] == 0 for r in rows)


# ---------------------------------------------------------------- Q142


def test_variant_storage_legs_agree(spark, sf_dir):
    """'direct' and 'parquet' legs must carry identical aggregates —
    the engine-side half of the round-trip check (no DuckDB)."""
    rows = entries()["q_variant_storage"].fn(spark, sf_dir).collect()
    legs = {}
    for r in rows:
        legs.setdefault(r["leg"], set()).add(
            (r["event_type"], r["n_events"], r["sum_k"], r["n_distinct_k"],
             r["min_k"], r["max_k"])
        )
    assert set(legs) == {"direct", "parquet"}
    assert legs["direct"] == legs["parquet"]


# ---------------------------------------------------------------- Q140


def _batch_sessions(spark, ev):
    """Reference gaps-and-islands sessionization (Q41 family), engine-
    side: (user_id, session_start, session_end, n_events)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.when(
        F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") <= 1800,
        F.lit(0),
    ).otherwise(F.lit(1))
    sess = ev.withColumn("new_s", gap).withColumn(
        "sid", F.sum("new_s").over(w)
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTE")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("sid")


def test_state_audit_sides_disjoint_and_complete(spark, sf_dir):
    """Append-mode eviction and the state snapshot must PARTITION the
    session inventory: no session on both sides, none missing, and
    the union equals batch sessionization (engine-side, no DuckDB)."""
    out = entries()["q_state_reader_audit"].fn(spark, sf_dir)
    got = out.groupBy(
        "user_id", "session_start", "session_end"
    ).count().collect()
    assert got and all(r["count"] == 1 for r in got)  # disjoint sides

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    if ev.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.to_timestamp_ltz("ts"))
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _batch_sessions(spark, ev.withColumn("value", F.lit(0.0))).collect()
    }
    have = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out.withColumn(
            "session_start", F.col("session_start").cast("timestamp")
        ).withColumn(
            "session_end", F.col("session_end").cast("timestamp")
        ).collect()
    }
    assert have == want


def test_statestore_time_travel_invariant(spark, sf_dir, tmp_path):
    """The statestore source's batchId option is a real audit lever:
    at EVERY committed batch b, finalized-through-b (sink dirs
    batch_id ≤ b) ∪ open-state-AT-b must equal batch sessionization
    of the data staged through b — pinned here for the first and the
    last committed batch of a 2-data-batch staged run."""
    from project_map_reduce_spark.plans.streaming_shaped import (
        _SS_GAP_MIN,
        _await_finite_stream,
        _stage_batches,
    )
    from project_map_reduce_spark.sources.sinks import write_stream_idempotent

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    if ev.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.to_timestamp_ltz("ts"))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    early = ev.where(F.col("ts") <= F.lit(mid))

    tmp = str(tmp_path)
    src = _stage_batches(tmp, (
        ("early", early),
        ("late", ev.where(F.col("ts") > F.lit(mid))),
    ))
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", f"{_SS_GAP_MIN} minutes")
        .groupBy(F.session_window("ts", f"{_SS_GAP_MIN} minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    q = write_stream_idempotent(
        agg, f"{tmp}/sink", f"{tmp}/ckpt", output_mode="append"
    )
    _await_finite_stream(q, "statestore_time_travel")

    def key_set(df):
        return {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in df.collect()
        }

    sink = spark.read.option("basePath", f"{tmp}/sink").parquet(f"{tmp}/sink")
    last = sink.agg(F.max("batch_id")).first()[0]
    for b, data in ((0, early), (last, ev)):
        state_b = (
            spark.read.format("statestore")
            .option("batchId", b)
            .load(f"{tmp}/ckpt")
            .select(
                F.col("value.user_id").alias("user_id"),
                F.col("value.session_window.start").alias("session_start"),
                F.col("value.session_window.end").alias("session_end"),
                F.col("value.count").alias("n_events"),
            )
        )
        finalized_b = sink.where(F.col("batch_id") <= b).select(
            "user_id", "session_start", "session_end", "n_events"
        )
        want = key_set(_batch_sessions(spark, data))
        have = key_set(finalized_b) | key_set(state_b)
        assert have == want, f"audit identity broke at batch {b}"


# ---------------------------------------------------------------- Q141


def test_pyds_stream_chunk_cadence(spark, sf_dir):
    """The stream must have delivered exactly the declared ¼-corpus
    chunk cadence: 4 chunk ordinals, each ≤ ceil(n/4) rows, totals n."""
    import math

    out = entries()["q_pyds_stream"].fn(spark, sf_dir)
    per_chunk = {
        r["chunk_id"]: r["n"]
        for r in out.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(per_chunk.values())
    chunk = math.ceil(n / 4)
    assert set(per_chunk) == {0, 1, 2, 3}
    assert all(v <= chunk for v in per_chunk.values())


def test_statestore_join_sides_readable_and_subset(spark, sf_dir, tmp_path):
    """The statestore source's OTHER state class: a stream-stream
    interval join keeps one buffer per side; ``joinSide`` must expose
    both, every buffered row must be a genuine input row of that side
    (subset — a corrupted decode would fabricate keys/timestamps), and
    the side schemas must mirror the two inputs."""
    from project_map_reduce_spark.plans.streaming_shaped import (
        _await_finite_stream,
        _stage_batches,
    )
    from project_map_reduce_spark.sources.sinks import write_stream_idempotent

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    if ev.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.to_timestamp_ltz("ts"))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2

    tmp = str(tmp_path)
    left_rows = ev.select("user_id", "ts")
    right_rows = ev.select(
        "user_id", F.col("ts").alias("rts"), "value"
    )
    src_l = _stage_batches(f"{tmp}/l", (
        ("a", left_rows.where(F.col("ts") <= F.lit(mid))),
        ("b", left_rows.where(F.col("ts") > F.lit(mid))),
    ))
    src_r = _stage_batches(f"{tmp}/r", (
        ("a", right_rows.where(F.col("rts") <= F.lit(mid))),
        ("b", right_rows.where(F.col("rts") > F.lit(mid))),
    ))
    sl = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(src_l)
        .withWatermark("ts", "30 minutes")
    )
    sr = (
        spark.readStream.schema("user_id bigint, rts timestamp, value double")
        .option("maxFilesPerTrigger", 1).parquet(src_r)
        .withWatermark("rts", "30 minutes")
    )
    joined = sl.join(
        sr,
        (sl["user_id"] == sr["user_id"])
        & (sr["rts"] >= sl["ts"])
        & (sr["rts"] <= sl["ts"] + F.expr("INTERVAL 10 MINUTE")),
    )
    q = write_stream_idempotent(
        joined.select(sl["user_id"], "ts", "rts", "value"),
        f"{tmp}/sink", f"{tmp}/ckpt", output_mode="append",
    )
    _await_finite_stream(q, "join_state_audit")

    for side, src_df, ts_col in (
        ("left", left_rows, "ts"),
        ("right", right_rows, "rts"),
    ):
        st = (
            spark.read.format("statestore")
            .option("joinSide", side)
            .load(f"{tmp}/ckpt")
        )
        vals = st.select("value.*")
        have_cols = set(vals.columns) & {"user_id", "ts", "rts", "value"}
        assert "user_id" in have_cols and ts_col in vals.columns, vals.columns
        buffered = vals.select("user_id", ts_col).distinct()
        extra = buffered.join(
            src_df.select("user_id", ts_col).distinct(),
            ["user_id", ts_col],
            "left_anti",
        ).count()
        assert extra == 0, f"{side} state held rows not in the input"
        assert st.limit(1).count() == 1, f"{side} state unexpectedly empty"


# ---------------------------------------------------------------- Q144


def test_xml_default_format_truncates_micros(spark, sf_dir, tmp_path):
    """The explicit micros timestampFormat in Q144 is load-bearing:
    the XML writer's DEFAULT format keeps only milliseconds, so the
    canary (sum of sub-second micros) must differ between a
    default-format round trip and the source — the exact silent
    fidelity loss micros_sum exists to catch."""
    from project_map_reduce_spark.plans.scans import _RT_SCHEMA, _XML_TS_FMT

    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .limit(200)
    )
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz")) % 1000000
    want = ev.agg(F.sum(micros)).first()[0]

    base = (
        ev.write.format("xml").option("rootTag", "r").option("rowTag", "e")
    )
    base.save(f"{tmp_path}/default_fmt")
    got_default = (
        spark.read.format("xml").schema(_RT_SCHEMA).option("rowTag", "e")
        .load(f"{tmp_path}/default_fmt")
        .agg(F.sum(micros)).first()[0]
    )
    assert got_default != want  # millis truncation is real
    assert got_default % 1000 == 0

    (
        ev.write.format("xml").option("rootTag", "r").option("rowTag", "e")
        .option("timestampNTZFormat", _XML_TS_FMT)
        .option("timestampFormat", _XML_TS_FMT)
        .save(f"{tmp_path}/micros_fmt")
    )
    got_micros = (
        spark.read.format("xml").schema(_RT_SCHEMA).option("rowTag", "e")
        .option("timestampNTZFormat", _XML_TS_FMT)
        .option("timestampFormat", _XML_TS_FMT)
        .load(f"{tmp_path}/micros_fmt")
        .agg(F.sum(micros)).first()[0]
    )
    assert got_micros == want


# ---------------------------------------------------------------- Q147


def test_corrupt_quarantine_modes_agree(spark, sf_dir):
    """Engine-side halves of the Q147 contract (no DuckDB): the
    DROPMALFORMED aggregate must equal the PERMISSIVE ok-side exactly,
    and ok + quarantined row counts must cover the whole slice."""
    rows = {r["status"]: r for r in
            entries()["q_corrupt_quarantine"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"permissive_ok", "permissive_quarantined",
                         "dropmalformed"}
    ok, quar, drop = (rows["permissive_ok"], rows["permissive_quarantined"],
                      rows["dropmalformed"])
    assert (ok["n_rows"], ok["sum_value"], ok["id_sum"]) == (
        drop["n_rows"], drop["sum_value"], drop["id_sum"])
    assert quar["sum_value"] is None and quar["n_rows"] > 0
    n_slice = (load(spark, sf_dir, "events")
               .where(F.col("event_id") % 10 == 0).count())
    assert ok["n_rows"] + quar["n_rows"] == n_slice


def test_corrupt_failfast_raises(spark, tmp_path):
    """FAILFAST is the third CSV mode Q147 documents: the first
    malformed line must abort the scan with SparkException."""
    p = str(tmp_path / "ff")
    spark.createDataFrame(
        [("1,click,2.5",), ("2,click,!corrupt!2",)], "value string"
    ).coalesce(1).write.text(p)
    df = (spark.read.schema("event_id long, event_type string, value double")
          .option("mode", "FAILFAST").csv(p))
    with pytest.raises(Exception) as ei:
        df.collect()
    assert "Malformed" in str(ei.value) or "FAILFAST" in str(ei.value)


# ---------------------------------------------------------------- Q148


def test_chained_agg_equals_batch_two_level(spark, sf_dir):
    """Engine-side half of the Q148 contract (no DuckDB): the chained
    stateful streaming result must equal the same two-level window
    rollup computed in one batch plan — and no sentinel-day row may
    leak into the snapshot."""
    from project_map_reduce_spark.functions.det import sum6

    got = {tuple(r) for r in
           entries()["q_stream_chained_agg"].fn(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    if ev.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.to_timestamp_ltz("ts"))
    w1 = (ev.groupBy(F.window("ts", "6 hours").alias("window"), "event_type")
          .agg(F.count(F.lit(1)).alias("n_events"),
               sum6("value").alias("sum_value")))
    want = {tuple(r) for r in (
        w1.groupBy(F.window(F.window_time("window"), "1 day").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_slots"),
             F.sum("n_events").alias("n_events"),
             sum6("sum_value").alias("sum_value"))
        .select(F.col("d.start").cast("timestamp_ntz").alias("day_start"),
                "n_slots", "n_events", "sum_value")
    ).collect()}
    assert got == want
    n_days = len({r[0].date() for r in got})
    assert len(got) == n_days  # one row per real day, sentinel excluded


# ---------------------------------------------------------------- Q149


def test_collated_group_sensitivity_and_schema(spark, sf_dir):
    """UTF8_LCASE must be doing real work (binary grouping on the same
    mangled key yields MORE groups), each merged group must carry >1
    case variant, and the returned schema must be PLAIN strings — no
    collation may leak into the driver-facing schema."""
    df = entries()["q_collated_group"].fn(spark, sf_dir)
    assert df.schema["source_ci"].dataType.simpleString() == "string"
    rows = df.collect()
    n_ci = len(rows)
    assert all(r["n_case_variants"] >= 2 for r in rows)
    n_binary = sum(r["n_case_variants"] for r in rows)
    assert n_binary > n_ci


def test_collated_group_plan_is_jvm_only(spark, sf_dir):
    df = entries()["q_collated_group"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------- Q150


def test_sql_script_fixed_point_is_minimal(spark, sf_dir):
    """Engine-side half of the Q150 contract: the script's WHILE loop
    must stop at the MINIMAL power-of-two width whose tail is <5% —
    one doubling earlier must still violate the threshold."""
    rows = entries()["q_sql_script"].fn(spark, sf_dir).collect()
    widths = {r["bucket_width"] for r in rows}
    assert len(widths) == 1
    w = widths.pop()
    assert w > 0 and (w & (w - 1)) == 0
    docs = load(spark, sf_dir, "documents")
    total = docs.count()
    tail = docs.where(F.col("n_chars") >= w).count()
    assert tail * 20 < total
    if w > 1:
        prev_tail = docs.where(F.col("n_chars") >= w // 2).count()
        assert prev_tail * 20 >= total
    # histogram covers the whole corpus
    assert sum(r["n_docs"] for r in rows) == total


# ---------------------------------------------------------------- Q151


def test_file_provenance_contiguity_and_layout(spark, sf_dir):
    """Engine-side half of the Q151 contract: every bucket must be one
    physical file whose parquet row_index is 0-based contiguous, and
    the path-derived buckets must cover 0..3 exactly."""
    rows = entries()["q_file_provenance"].fn(spark, sf_dir).collect()
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        assert r["n_files"] == 1
        assert r["max_row_index"] == r["n_rows"] - 1
    total = load(spark, sf_dir, "events").count()
    assert sum(r["n_rows"] for r in rows) == total


# ---------------------------------------------------------------- Q152


def test_stream_outer_join_equals_batch_left_join(spark, sf_dir):
    """Engine-side half of the Q152 contract: the streaming left-outer
    interval join must equal the batch left join as a MULTISET, and
    must actually produce null-padded (unmatched) rows."""
    from collections import Counter

    got = Counter(
        (r["err_id"], r["pur_id"]) for r in
        entries()["q_stream_outer_join"].fn(spark, sf_dir).collect()
    )
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id",
                                              "event_type")
    e = (ev.where(F.col("event_type") == "error")
         .select(F.col("event_id").alias("err_id"),
                 F.col("ts").alias("err_ts"),
                 F.col("user_id").alias("e_user")))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pur_id"),
                 F.col("ts").alias("pur_ts"),
                 F.col("user_id").alias("p_user")))
    want = Counter(
        (r["err_id"], r["pur_id"]) for r in
        e.join(p, F.expr("e_user = p_user AND pur_ts > err_ts AND "
                         "pur_ts <= err_ts + INTERVAL 1 HOUR"), "left")
        .select("err_id", "pur_id").collect()
    )
    assert got == want
    assert any(pur is None for _, pur in got)  # outer rows really exist


# ---------------------------------------------------------------- Q153


def test_udtf_table_arg_partition_contract(spark, sf_dir):
    """Engine-side half of the Q153 contract: exactly one terminate()
    per lang partition (ranks are 1..min(2, group size) with no
    duplicates) and the terminate-time totals equal a plain groupBy."""
    rows = entries()["q_udtf_table_arg"].fn(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    want = {r["lang"]: (r["n_docs"], r["sum_chars"]) for r in
            load(spark, sf_dir, "documents").groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")).collect()}
    assert set(by_lang) == set(want)
    for lang, rs in by_lang.items():
        n_docs, sum_chars = want[lang]
        assert sorted(r["rank"] for r in rs) == list(range(1, min(2, n_docs) + 1))
        assert all((r["n_docs"], r["sum_chars"]) == (n_docs, sum_chars)
                   for r in rs)
        # declared order: rank 1 has the longest doc
        rs = sorted(rs, key=lambda r: r["rank"])
        if len(rs) == 2:
            assert (rs[0]["n_chars"], -rs[0]["doc_id"]) >= (
                rs[1]["n_chars"], -rs[1]["doc_id"])


# ---------------------------------------------------------------- Q154


def test_dynamic_overwrite_query_and_static_canary(spark, sf_dir, tmp_path):
    """Engine-side Q154 contract plus the WHY pin: the same INSERT
    OVERWRITE under the default STATIC mode drops every partition not
    in the incoming rows — the production incident dynamic mode
    prevents."""
    rows = {r["event_type"]: r for r in
            entries()["q_dynamic_overwrite"].fn(spark, sf_dir).collect()}
    want = {r["event_type"]: r for r in
            load(spark, sf_dir, "events").groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(rows) == set(want)  # non-click partitions survived
    for t, r in rows.items():
        assert r["n_events"] == want[t]["n"]

    # canary: static mode on the same shape nukes the other partitions
    tbl = "q154_canary"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        spark.sql(
            f"CREATE TABLE {tbl} (k BIGINT, p STRING) USING parquet "
            f"PARTITIONED BY (p) LOCATION '{tmp_path}/t'"
        )
        spark.sql(f"INSERT INTO {tbl} PARTITION (p) "
                  "SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END "
                  "FROM range(10)")
        assert spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode").lower() == "static"
        spark.sql(f"INSERT OVERWRITE TABLE {tbl} PARTITION (p) "
                  "SELECT id, 'a' FROM range(2)")
        left = {r["p"] for r in spark.table(tbl).select("p").distinct().collect()}
        assert left == {"a"}  # partition 'b' is GONE under static mode
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------- Q155


def test_union_by_name_positional_canary(spark):
    """The failure mode Q155 exists to avoid: positional union of
    same-width frames with different column order either mixes columns
    silently (types collide) or raises — unionByName aligns correctly."""
    a = spark.createDataFrame([(1, 10)], "x bigint, y bigint")
    b = spark.createDataFrame([(20, 2)], "y bigint, x bigint")
    mixed = a.union(b).collect()          # positional: columns silently mixed
    assert (mixed[1]["x"], mixed[1]["y"]) == (20, 2)  # wrong-by-design
    fixed = a.unionByName(b).collect()
    assert {(r["x"], r["y"]) for r in fixed} == {(1, 10), (2, 20)}


def test_union_by_name_null_fill(spark, sf_dir):
    rows = {r["generation"]: r for r in
            entries()["q_union_by_name"].fn(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["n_with_type"] == 0 and rows[0]["n_with_user"] == 0
    assert rows[1]["n_with_type"] == rows[1]["n_rows"]
    assert rows[1]["n_with_user"] == 0
    assert rows[2]["n_with_props"] == rows[2]["n_rows"]


# ---------------------------------------------------------------- Q156/Q157


def test_listagg_within_group_order_is_real(spark, sf_dir):
    """DESC within-group ordering must be real ordering, not set
    equality: reversing each list must give the ASC form (Q76's)."""
    rows = entries()["q_listagg"].fn(spark, sf_dir).collect()
    asc = {r["r_name"]: r["nations_csv"] for r in
           entries()["q_string_agg"].fn(spark, sf_dir).collect()}
    for r in rows:
        assert ",".join(reversed(r["nations_desc"].split(","))) == asc[r["r_name"]]


def test_sql_ergonomics_zero_plan_cost(spark, sf_dir):
    """The pipe/IDENTIFIER/LCA sugar must be analysis-time only: the
    physical plan is one partial+final hash aggregate (two
    HashAggregate nodes, one exchange) plus the sort — identical to
    the classic form."""
    df = entries()["q_sql_ergonomics"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2
    import re
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1


# ---------------------------------------------------------------- Q158


def test_try_arith_ansi_canary_and_plan(spark, sf_dir):
    """ANSI mode must be ON (Spark 4 default), a plain CAST of a dirty
    cell must kill the query (the failure mode try_cast exists for),
    and Q158's plan must stay JVM-side."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    dirty = spark.createDataFrame([("n/a",)], "s string")
    with pytest.raises(Exception) as ei:
        dirty.select(F.expr("CAST(s AS DOUBLE)")).collect()
    assert "CAST_INVALID_INPUT" in str(ei.value) or "NumberFormatException" in str(ei.value)
    with pytest.raises(Exception):
        spark.sql("SELECT 1/0").collect()  # ANSI division raises too
    df = entries()["q_try_arith"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------- Q159


def test_jdbc_partitioned_scan_and_pushdown(spark, tmp_path):
    """The two JDBC scale levers Q159 documents, plan-asserted: the
    range-partitioned read plans N parallel partitions, and the value
    predicate is FULLY pushed (starred) to the database."""
    import pyspark.sql.functions as F2

    db = f"{tmp_path}/db"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    spark.range(100).select(
        F2.col("id"), (F2.col("id") * 1.5).alias("value")
    ).write.jdbc(url, "t", mode="overwrite", properties=props)
    back = spark.read.jdbc(url, "t", column="id", lowerBound=0,
                           upperBound=100, numPartitions=8, properties=props)
    assert back.rdd.getNumPartitions() == 8
    plan = (back.where(F2.col("value") > 10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "JDBCRelation" in plan and "numPartitions=8" in plan
    assert "*GreaterThan(value,10.0)" in plan  # * = pushed, not re-evaluated


# ---------------------------------------------------------------- Q160


def test_rate_source_offsets_are_the_data(spark, sf_dir):
    """The rate-micro-batch contract engine-side: contiguous disjoint
    value ranges per batch, one event timestamp per batch advancing by
    exactly the configured step."""
    rows = sorted(entries()["q_rate_source"].fn(spark, sf_dir).collect(),
                  key=lambda r: r["batch_id"])
    assert [r["batch_id"] for r in rows] == [0, 1, 2, 3, 4]
    for r in rows:
        assert r["n_ts"] == 1
        assert r["n_rows"] == 1000
    steps = {rows[i + 1]["ts_ms"] - rows[i]["ts_ms"] for i in range(4)}
    assert steps == {3600000}


# ---------------------------------------------------------------- Q161


def test_pyds_sink_two_phase_commit_artifacts(spark, tmp_path):
    """The writer protocol end-to-end on a tiny frame: per-task part
    files, a driver _MANIFEST whose totals match, and the report wrap
    carrying exactly one <p> per result line (the reference's report
    shape)."""
    import os

    from project_map_reduce_spark.sources.pyds_sink import (
        _line_hash, register_report_sink)

    register_report_sink(spark)
    out = f"{tmp_path}/rep"
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(20)], "k bigint, s string"
    ).repartition(3)
    df.write.format("pmrs_report").option("path", out).mode("append").save()
    head = open(f"{out}/_MANIFEST").readline().split("\t")
    assert int(head[1]) == 20
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 3
    lines = []
    for p in parts:
        lines += [ln.rstrip("\n") for ln in open(f"{out}/{p}")]
    xor = 0
    for ln in lines:
        xor ^= _line_hash(ln)
    assert xor == int(head[3]) and len(lines) == 20
    html = open(f"{out}/report.html").read()
    assert html.count("<p>") == 20


def test_pyds_sink_requires_path(spark):
    from project_map_reduce_spark.sources.pyds_sink import register_report_sink

    register_report_sink(spark)
    with pytest.raises(Exception) as ei:
        spark.range(1).write.format("pmrs_report").mode("append").save()
    assert "path" in str(ei.value)


# ---------------------------------------------------------------- Q162


def test_agg_pushdown_plan_and_sum_negative(spark, sf_dir, tmp_path):
    """Q162's positive is asserted inside the query (it raises if the
    pushdown regresses); here the NEGATIVE canary: adding SUM — not
    derivable from footer stats — silently disables the pushdown, which
    is why the query's aggregate set is exactly MIN/MAX/COUNT. Also the
    footer answer must equal the data-scan answer."""
    import pyspark.sql.functions as F2

    spark.range(1000).select(
        F2.col("id"), (F2.col("id") % 4).alias("b")
    ).write.partitionBy("b").parquet(f"{tmp_path}/p")
    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        base = spark.read.parquet(f"{tmp_path}/p")
        pushed = base.groupBy("b").agg(F2.count(F2.lit(1)).alias("n"),
                                       F2.min("id"), F2.max("id"))
        assert "PushedAggregation: [" in (
            pushed._jdf.queryExecution().executedPlan().toString())
        with_sum = base.groupBy("b").agg(F2.count(F2.lit(1)).alias("n"),
                                         F2.sum("id").alias("s"))
        plan = with_sum._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: []" in plan or "PushedAggregation" not in plan
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
    # footer answer == data answer (independent of confs)
    rows = {r["bucket"]: r for r in
            entries()["q_agg_pushdown"].fn(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    want = {r["bucket"]: r for r in
            ev.withColumn("bucket", F.col("event_id") % 4).groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("event_id").alias("min_id")).collect()}
    for b, r in rows.items():
        assert (r["n_rows"], r["min_id"]) == (want[b]["n_rows"], want[b]["min_id"])


# ---------------------------------------------------------------- Q163


def test_pyds_stream_sink_epoch_manifests(spark, tmp_path):
    """The streaming writer's epoch contract on a controlled 2-batch
    stream: one _MANIFEST-<batchId> per micro-batch, each listing only
    its own parts, totals covering the staged rows exactly once."""
    import glob
    import os

    from project_map_reduce_spark.sources.pyds_sink import register_report_sink

    register_report_sink(spark)
    src = f"{tmp_path}/src"
    os.makedirs(src)
    spark.range(0, 50).coalesce(1).write.parquet(f"{tmp_path}/a")
    spark.range(50, 80).coalesce(1).write.parquet(f"{tmp_path}/b")
    for i, d in enumerate(("a", "b")):
        (part,) = glob.glob(f"{tmp_path}/{d}/part-*.parquet")
        os.rename(part, f"{src}/b{i}.parquet")
    out = f"{tmp_path}/rep"
    q = (spark.readStream.schema("id bigint")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.format("pmrs_report")
         .option("path", out)
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    manifests = sorted(f for f in os.listdir(out) if f.startswith("_MANIFEST-"))
    assert len(manifests) == 2
    totals = []
    listed = set()
    for mf in manifests:
        head, *body = open(f"{out}/{mf}").read().splitlines()
        totals.append(int(head.split("\t")[1]))
        for entry in body:
            fname = entry.split("\t")[0]
            assert fname not in listed  # epochs never share parts
            listed.add(fname)
    assert sorted(totals) == [30, 50]


def test_pyds_stream_sink_arrow_lane_equivalent(spark, tmp_path):
    """The Arrow lane (the default since r11) must produce artifacts
    the row lane's reader cannot distinguish: same epoch totals and the
    same epoch xor checksums on the same staged input. The input is
    deliberately NULL-bearing (nullable int64, string, double columns —
    ADVICE r10): a pandas-mediated render would write 'nan' for nulls
    and '5.0' for a null-promoted int64 where the row lane writes ''
    and '5', and an un-normalized BINARY column renders bytearray(...)
    in the row lane vs b'...' in the Arrow lane — so the xor comparison
    pins the shared _render_cell contract, not just the happy path."""
    import glob
    import os

    from project_map_reduce_spark.sources.pyds_sink import register_report_sink

    register_report_sink(spark)
    src = f"{tmp_path}/src"
    os.makedirs(src)
    spark.range(0, 500).selectExpr(
        "id",
        "concat('t', id % 3) AS s",
        "CAST(id * 0.25 AS DOUBLE) AS v",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 3 END AS k",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('x', id) END AS sn",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id * 0.5 AS DOUBLE) END AS vn",
        "CASE WHEN id % 13 = 0 THEN NULL"
        " ELSE encode(concat('b', id), 'utf-8') END AS bn",
    ).coalesce(1).write.parquet(f"{tmp_path}/a")
    (part,) = glob.glob(f"{tmp_path}/a/part-*.parquet")
    os.rename(part, f"{src}/b0.parquet")

    def run(out, arrow):
        q = (spark.readStream
             .schema("id bigint, s string, v double, k bigint, "
                     "sn string, vn double, bn binary")
             .parquet(src)
             .writeStream.format("pmrs_report")
             .option("path", out).option("arrow", str(arrow).lower())
             .option("checkpointLocation", f"{out}_ckpt")
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        (mf,) = [f for f in os.listdir(out) if f.startswith("_MANIFEST-")]
        head = open(f"{out}/{mf}").readline().split("\t")
        return int(head[1]), int(head[3])

    row_res = run(f"{tmp_path}/row", False)
    assert row_res == run(f"{tmp_path}/arrow", True)
    # and an int64 null really renders as '' with ints unpromoted:
    # '3' not '3.0', '' not 'nan' (grep one committed part directly)
    (part,) = glob.glob(f"{tmp_path}/arrow/part-*.tsv")
    cells = {ln.split("\t")[3] for ln in open(part).read().splitlines()}
    assert "" in cells and "3" in cells
    assert not any(c.endswith(".0") or c == "nan" for c in cells)


# ---------------------------------------------------------------- Q164


def test_cogroup_asof_plan_and_equivalence(spark, sf_dir):
    """One co-partitioned shuffle into FlatMapCoGroupsInPandas (the
    cogrouped-map physical node), and the pandas merge_asof result must
    equal Q14's struct-max window technique computed engine-side."""
    df = entries()["q_cogroup_asof"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    got = {(r["pur_id"], r["last_err_id"]) for r in df.collect()}
    ev = load(spark, sf_dir, "events")
    pur = ev.where(F.col("event_type") == "purchase")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
        F.col("event_id").alias("err_id"))
    j = pur.join(err, (pur.user_id == err.e_user) & (err.e_ts <= pur.ts),
                 "left")
    want = {(r["pur_id"], r["last_err_id"]) for r in
            j.groupBy(pur.event_id.alias("pur_id"))
            .agg(F.max(F.struct("e_ts", "err_id")).alias("m"))
            .select("pur_id", F.col("m.err_id").alias("last_err_id"))
            .collect()}
    assert got == want


def test_pyds_stream_sink_kill_replay_exactly_once(spark, tmp_path):
    """Crash-replay for the custom stream sink: stop the query once
    batch 1 is in the offset log (epoch 1 possibly mid-write), restart
    from the same checkpoint, and the final ledger must cover every
    staged row exactly once — orphan parts from the killed attempt may
    sit on disk but are never manifest-listed, which is why readers take
    only listed parts. Waiting for ``offsets/1`` rather than the first
    manifest pins batch 1 to file b1 alone: a stop between the file
    source's log write and the offset-log write would let the restart
    fold b1 and b2 into one epoch."""
    import glob
    import os
    import time

    from project_map_reduce_spark.sources.pyds_sink import register_report_sink

    register_report_sink(spark)
    src = f"{tmp_path}/src"
    os.makedirs(src)
    sizes = [40, 60, 30]
    start = 0
    for i, n in enumerate(sizes):
        spark.range(start, start + n).coalesce(1).write.parquet(f"{tmp_path}/c{i}")
        (part,) = glob.glob(f"{tmp_path}/c{i}/part-*.parquet")
        os.rename(part, f"{src}/b{i}.parquet")
        start += n
    out, ckpt = f"{tmp_path}/rep", f"{tmp_path}/ckpt"

    def start_stream():
        return (spark.readStream.schema("id bigint")
                .option("maxFilesPerTrigger", 1).parquet(src)
                .writeStream.format("pmrs_report")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q = start_stream()
    deadline = time.time() + 120
    while time.time() < deadline and not os.path.exists(f"{ckpt}/offsets/1"):
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)

    q2 = start_stream()
    assert q2.awaitTermination(120)
    manifests = sorted(f for f in os.listdir(out) if f.startswith("_MANIFEST-"))
    assert len(manifests) == 3
    listed, total = set(), 0
    ids = []
    for mf in manifests:
        head, *body = open(f"{out}/{mf}").read().splitlines()
        total += int(head.split("\t")[1])
        for entry in body:
            fname = entry.split("\t")[0]
            assert fname not in listed
            listed.add(fname)
            ids += [int(ln) for ln in open(f"{out}/{fname}")]
    assert total == sum(sizes)
    assert sorted(ids) == list(range(sum(sizes)))  # every row exactly once


# ---------------------------------------------------------------- Q165


def test_sql_udf_inlines_to_plain_plan(spark, sf_dir):
    """SQL functions must INLINE: no Python eval nodes, no per-row
    nested loop — the correlated TVF decorrelates to an equi-join and
    the scalar UDF becomes the CASE expression."""
    df = entries()["q_sql_udf"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # decorrelated into an ordinary join


# ---------------------------------------------------------------- Q166


def test_transpose_mixed_types_refused_and_roundtrip(spark, sf_dir):
    """Transpose canaries: incompatible measure types are refused (the
    least-common-type contract Q166 pre-casts for), and transposing
    twice round-trips the grid values."""
    bad = spark.createDataFrame([("a", 1, "x")], "k string, n bigint, s string")
    with pytest.raises(Exception) as ei:
        bad.transpose(F.col("k")).collect()
    assert "TRANSPOSE" in str(ei.value).upper() or "least common type" in str(ei.value)

    df = entries()["q_transpose"].fn(spark, sf_dir)
    rows = df.collect()
    assert {r["key"] for r in rows} == {"n_events", "n_users", "sum_value"}
    back = df.transpose(F.col("key"))
    got = {(r[0], c): r[c] for r in back.collect() for c in back.columns[1:]}
    ev = load(spark, sf_dir, "events")
    n_click = ev.where(F.col("event_type") == "click").count()
    assert got[("click", "n_events")] == float(n_click)
