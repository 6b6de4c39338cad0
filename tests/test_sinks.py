"""Sink-layout tests: the point of partitioned/bucketed writes is the
plan they buy downstream — partition pruning at the scan, exchange-free
co-located joins — so that is what these tests assert."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from project_map_reduce_spark.plans.streaming_shaped import _await_finite_stream
from project_map_reduce_spark.sources import sinks
from tools.plan_rules import formatted_plan

ART = os.path.join(os.path.dirname(__file__), ".artifacts", "sinks")


@pytest.fixture(scope="module", autouse=True)
def _clean():
    shutil.rmtree(ART, ignore_errors=True)
    os.makedirs(ART, exist_ok=True)
    yield


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_at_scan(spark):
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("bucket_day"),
        (F.col("id") * 2.0).alias("v"),
    )
    path = os.path.join(ART, "part_tbl")
    sinks.write_partitioned(df, path, ["bucket_day"])
    back = spark.read.parquet(path).filter(F.col("bucket_day") == "2")
    plan = _physical_plan(back)
    # the partition filter must be applied at the file index, not post-scan
    assert "PartitionFilters: [isnotnull(bucket_day" in plan, plan
    assert back.count() == 250


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the same key/count must sort-merge join
    with NO shuffle exchange on either side — the co-located join."""
    left = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3.0).alias("lv")
    )
    right = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("rv")
    )
    sinks.write_bucketed(left, "t_sink_left", "k", n_buckets=4)
    sinks.write_bucketed(right, "t_sink_right", "k", n_buckets=4)
    l = sinks.read_table(spark, "t_sink_left")
    r = sinks.read_table(spark, "t_sink_right")
    # disable broadcast so the join strategy decision is about layout
    joined = l.hint("merge").join(r, "k")
    plan = _physical_plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert joined.count() == 500
    for t in ("t_sink_left", "t_sink_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_aggregate_has_no_exchange(spark):
    """groupBy on the bucket key of a bucketed table needs no shuffle:
    the layout already co-locates each key's rows."""
    df = spark.range(500).select(
        (F.col("id") % 50).alias("k"), F.col("id").cast("double").alias("v")
    )
    sinks.write_bucketed(df, "t_sink_agg", "k", n_buckets=4)
    agg = sinks.read_table(spark, "t_sink_agg").groupBy("k").agg(
        F.sum("v").alias("s")
    )
    plan = _physical_plan(agg)
    assert "Exchange" not in plan, f"bucketed aggregate still shuffles:\n{plan}"
    assert agg.count() == 50
    spark.sql("DROP TABLE IF EXISTS t_sink_agg")


def test_orc_round_trip_pushdown_and_pruning(spark, tmp_path):
    """ORC sink → ORC source round-trip preserves values and types, and
    the read plan shows the same scan contract as parquet: predicate
    pushdown into the ORC reader and column pruning."""
    from project_map_reduce_spark.sources import readers
    from project_map_reduce_spark.tables import load

    src = load(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "orders")
    path = str(tmp_path / "orders_orc")
    readers.write_orc(src, path)
    back = readers.read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    a = sorted(map(tuple, src.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b

    q = back.filter(F.col("o_totalprice") > 100000.0).select("o_orderkey")
    plan = formatted_plan(q)
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200], plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan, plan


def test_streaming_sink_is_idempotent_exactly_once(spark, sf_dir, tmp_path):
    """write_stream_idempotent: the full streamed output equals the
    batch input exactly once, and REPLAYING a batch (same batchId, same
    data) leaves the result unchanged — the engine's answer to the
    reference's at-least-once double-count (SURVEY.md §1.4)."""
    import shutil

    from project_map_reduce_spark.sources.sinks import write_stream_idempotent
    from project_map_reduce_spark.tables import load

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = write_stream_idempotent(stream, out, ckpt)
    _await_finite_stream(q, "idempotent_sink", timeout=120)

    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()

    # Replay: re-write batch 0's directory through the same code path
    # (simulates the crash-between-write-and-commit redelivery) — the
    # overwrite must leave totals identical, not append duplicates.
    # Materialize the batch before overwriting its own source directory
    # (a lazy self-overwrite would delete its input mid-read).
    b0_rows = spark.read.parquet(out + "/batch_id=0").collect()
    n_b0 = len(b0_rows)
    spark.createDataFrame(b0_rows, schema).write.mode("overwrite").parquet(
        out + "/batch_id=0"
    )
    again = spark.read.parquet(out)
    assert again.count() == ev.count()
    assert spark.read.parquet(out + "/batch_id=0").count() == n_b0
    shutil.rmtree(src, ignore_errors=True)


def test_csv_roundtrip_with_schema_and_corrupt_row(spark, sf_dir, tmp_path):
    """read_csv: schema-first read round-trips values exactly; PERMISSIVE
    mode keeps a malformed row as data (nulls) instead of failing the
    job — the in-band discipline (ref A7) at the source layer."""
    from project_map_reduce_spark.sources.readers import read_csv
    from project_map_reduce_spark.tables import load

    path = str(tmp_path / "cust_csv")
    src = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    src.coalesce(1).write.option("header", "true").csv(path)
    # a separate malformed file (appending in place trips Spark's
    # file-status cache; header=true means each file's first line skips)
    with open(os.path.join(path, "zz_bad.csv"), "w") as f:
        f.write("c_custkey,c_name,c_acctbal\nnot_a_number,onlytwo\n")
    got = read_csv(
        spark, path, "c_custkey bigint, c_name string, c_acctbal double"
    )
    rows = got.collect()
    assert len(rows) == src.count() + 1
    bad = [r for r in rows if r.c_custkey is None]
    assert len(bad) == 1 and bad[0].c_name == "onlytwo"
    good = sorted((r.c_custkey, r.c_name) for r in rows if r.c_custkey is not None)
    expect = sorted((r.c_custkey, r.c_name) for r in src.collect())
    assert good == expect


def test_json_roundtrip_with_corrupt_record(spark, sf_dir, tmp_path):
    """read_json: JSON-lines round-trip with explicit schema; a corrupt
    line lands in _corrupt_record, never a task failure."""
    from project_map_reduce_spark.sources.readers import read_json
    from project_map_reduce_spark.tables import load

    path = str(tmp_path / "nation_json")
    src = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    src.coalesce(1).write.json(path)
    with open(os.path.join(path, "zz_bad.json"), "w") as f:
        f.write('{"n_nationkey": 99, "n_name": broken\n')
    got = read_json(
        spark,
        path,
        "n_nationkey bigint, n_name string, _corrupt_record string",
    )
    rows = got.collect()
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and "broken" in corrupt[0]._corrupt_record
    good = sorted(
        (r.n_nationkey, r.n_name) for r in rows if r._corrupt_record is None
    )
    assert good == sorted((r.n_nationkey, r.n_name) for r in src.collect())
