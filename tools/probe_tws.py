"""Q134 amortization probe (VERDICT r9 item 3): wall time of the
transformWithStateInPandas timer sessionizer as a function of DATA
micro-batch count at fixed corpus size.

The state-server protocol costs a fixed number of socket round trips
PER KEY PER MICRO-BATCH (the O(1)-per-key contract is unit-pinned in
tests/test_transform_state.py), so total protocol cost is
keys × batches — rows are amortized inside vectorized segment work.
Production-like shapes (few large batches, many rows/key/batch) should
therefore scale with keys, not events; this probe records the curve
that BASELINE.md's Q134 guidance row cites.

Usage:
    python tools/probe_tws.py --sf-dir /root/repo/.scale/sf1 --batches 1 5
"""

from __future__ import annotations

import argparse
import datetime
import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.hostprobe import steal_s as _steal  # noqa: E402
from project_map_reduce_spark.session import get_spark  # noqa: E402
from project_map_reduce_spark.tables import load  # noqa: E402


def run_once(spark, sf_dir: str, n_batches: int) -> dict:
    from project_map_reduce_spark.sources.sinks import write_stream_idempotent
    from project_map_reduce_spark.streaming.transform_state import (
        ensure_protobuf_env,
        restore_env,
        timer_sessions,
    )

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    if ev.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.to_timestamp_ltz("ts"))
    hi = ev.agg(F.max("ts")).first()[0]
    n_keys = ev.agg(F.countDistinct("user_id")).first()[0]
    n_rows = ev.count()

    tmp = tempfile.mkdtemp(prefix="tws_probe_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key, None)
    prev_env = ensure_protobuf_env(spark)
    try:
        # Stage B equal time-range data batches + flush + spacer, the
        # Q134 discipline minus the mid-session cut (irrelevant here).
        src = f"{tmp}/src"
        os.makedirs(src)
        ev_us = ev.withColumn("_us", F.unix_micros("ts"))
        bounds = ev_us.approxQuantile(
            "_us", [i / n_batches for i in range(1, n_batches)], 0.001
        ) if n_batches > 1 else []
        cuts = [None] + bounds + [None]
        i = 0
        for lo, hi_cut in zip(cuts, cuts[1:]):
            part = ev_us
            if lo is not None:
                part = part.where(F.col("_us") > F.lit(int(lo)))
            if hi_cut is not None:
                part = part.where(F.col("_us") <= F.lit(int(hi_cut)))
            part = part.select("user_id", "ts", "value")
            part.coalesce(1).write.parquet(f"{tmp}/b{i}")
            f_ = glob.glob(f"{tmp}/b{i}/*.parquet")[0]
            dst = f"{src}/b{i:03d}.parquet"
            shutil.copy(f_, dst)
            os.utime(dst, (i * 100, i * 100))
            i += 1
        flush = spark.createDataFrame(
            [(-1, hi + datetime.timedelta(days=30), 0.0)],
            "user_id bigint, ts timestamp, value double",
        )
        flush.coalesce(1).write.parquet(f"{tmp}/bf")
        dst = f"{src}/b{i:03d}.parquet"
        shutil.copy(glob.glob(f"{tmp}/bf/*.parquet")[0], dst)
        os.utime(dst, (i * 100, i * 100))
        i += 1
        spacer = ev.where(F.lit(False))
        spacer.coalesce(1).write.parquet(f"{tmp}/bs")
        dst = f"{src}/b{i:03d}.parquet"
        shutil.copy(glob.glob(f"{tmp}/bs/*.parquet")[0], dst)
        os.utime(dst, (i * 100, i * 100))

        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(
            prov_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        s0, w0 = _steal(), time.time()
        q = write_stream_idempotent(
            timer_sessions(stream), f"{tmp}/sink", f"{tmp}/ckpt",
            output_mode="append",
        )
        finished = q.awaitTermination(900)
        wall = time.time() - w0
        steal = _steal() - s0
        if q.exception():
            raise q.exception()
        if not finished:
            q.stop()
            return {"batches": n_batches, "wall_sec": None, "dnf": True}
        n_sessions = spark.read.option("basePath", f"{tmp}/sink").parquet(
            f"{tmp}/sink"
        ).where(F.col("user_id") != -1).count()
        return {
            "batches": n_batches,
            "wall_sec": round(wall, 1),
            "steal_sec": round(steal, 1),
            "n_keys": n_keys,
            "n_rows": n_rows,
            "n_sessions": n_sessions,
            "rows_per_key_batch": round(n_rows / n_keys / n_batches, 1),
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev_prov)
        restore_env(spark, prev_env)
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.scale/sf1")
    ap.add_argument("--batches", type=int, nargs="+", default=[1, 5])
    args = ap.parse_args()
    spark = get_spark("tws_probe")
    import json

    out = []
    for b in args.batches:
        r = run_once(spark, args.sf_dir, b)
        r["sf_dir"] = args.sf_dir
        print(json.dumps(r), flush=True)
        out.append(r)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
