"""Custom stateful operator smoke: applyInPandasWithState running
totals must converge to the batch groupBy answer across micro-batches."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from project_map_reduce_spark.plans.streaming_shaped import _await_finite_stream
from project_map_reduce_spark.streaming.stateful import (
    batch_user_totals,
    running_user_totals,
)
from project_map_reduce_spark.tables import load

ART = os.path.join(os.path.dirname(__file__), ".artifacts", "stateful")


@pytest.fixture(scope="module")
def chunks(spark, sf_dir):
    path = os.path.join(ART, "events")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    ev = load(spark, sf_dir, "events").orderBy("ts", "event_id")
    rows = ev.collect()
    step = (len(rows) + 1) // 2
    for i in range(2):
        spark.createDataFrame(rows[i * step : (i + 1) * step], ev.schema).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(path, f"c{i}.parquet"))
    return path, ev.schema


def test_running_totals_converge_to_batch(spark, sf_dir, chunks):
    path, schema = chunks
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/c*.parquet/*.parquet")
    )
    # A finite availableNow run must not arm the idle-eviction timeout:
    # with it, the trigger schedules empty timeout batches forever.
    q = (
        running_user_totals(stream, evict_idle=False)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_finite_stream(q, "running_totals", timeout=120)
    # Last emit per user = converged running total.
    final = (
        spark.sql("SELECT * FROM running_totals")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_value").alias("sum_value"))
    )
    batch = batch_user_totals(load(spark, sf_dir, "events"))
    got = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in final.collect()}
    want = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in batch.collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], f"user {u} count"
        assert abs(got[u][1] - want[u][1]) < 1e-6, f"user {u} sum"
