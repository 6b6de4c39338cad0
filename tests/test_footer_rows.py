"""tables.footer_rows: the zero-job row-count ledger must agree with
the data for BOTH table shapes — a single parquet file (the fixture
layout) and a directory of part files (what any real writer produces;
VERDICT r13 item 7: the single-file form broke the moment a table was
a multi-file directory). tables.load reads each table with the schema
from its parquet footer: the schema Spark would infer, without the
Spark job that infers it. Also: tables.load reads session conf and
never sets it, and the scratch helpers remove what they create."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from project_map_reduce_spark.tables import (
    TABLES,
    footer_rows,
    load,
    localize,
    materialize,
    scratch_dir,
    table_path,
)


def test_single_file_table(tmp_path):
    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(7))}), f)
    assert footer_rows(f) == 7


def test_multi_file_directory_table(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(5))}), str(d / "part-00000.parquet"))
    pq.write_table(pa.table({"x": list(range(9))}), str(d / "part-00001.parquet"))
    # Writer-side noise a directory table carries alongside its parts:
    # a _SUCCESS marker and checksum files must not be read as parquet.
    (d / "_SUCCESS").write_text("")
    (d / ".part-00000.parquet.crc").write_text("not parquet")
    assert footer_rows(str(d)) == 14


def test_part_glob_skips_subdirectory_and_sidecar(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(4))}), str(d / "part-00000.parquet"))
    # An extensionless part file is still a part file ...
    pq.write_table(pa.table({"x": list(range(6))}), str(d / "part-00001"))
    # ... but a part-* subdirectory and an extensionless non-parquet
    # sidecar are neither counted nor opened.
    (d / "part-x").mkdir()
    pq.write_table(pa.table({"x": list(range(3))}), str(d / "part-x" / "part-0.parquet"))
    (d / "part-00000-manifest").write_text('{"rows": 4}')
    assert footer_rows(str(d)) == 10


def test_empty_directory_raises(tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError):
        footer_rows(str(d))


def test_matches_fixture_events_table():
    sf_dir = "/root/testdata/sf0.001"
    path = table_path(sf_dir, "events")
    if not os.path.exists(path):
        pytest.skip("fixture not present")
    assert footer_rows(path) == pq.ParquetFile(path).metadata.num_rows


def test_load_events_leaves_session_conf_alone(spark, sf_dir):
    """On a session with the legacy long-nanos read switched on, loading
    events leaves the conf on, and events.ts has the same type
    (TIMESTAMP_NTZ) and values as on get_spark's session, which leaves
    the conf unset: Spark 4.1 reads INT64(NANOS) natively either way, so
    tables.load needs no bigint path."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    native = spark.newSession()
    native.conf.set(key, "true")
    got = load(native, sf_dir, "events")
    want = load(spark, sf_dir, "events")
    assert got.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert got.schema["ts"].dataType == want.schema["ts"].dataType
    assert sorted(got.select("event_id", "ts").collect()) == sorted(
        want.select("event_id", "ts").collect()
    )
    assert native.conf.get(key) == "true"


def test_scratch_dir_removed_on_exit():
    with scratch_dir("pmrs_test_") as d:
        assert os.path.isdir(d)
        open(os.path.join(d, "f"), "w").close()
    assert not os.path.exists(d)


def test_scratch_dir_removed_when_block_raises():
    with pytest.raises(ValueError, match="boom"):
        with scratch_dir("pmrs_test_") as d:
            os.makedirs(os.path.join(d, "sub"))
            raise ValueError("boom")
    assert not os.path.exists(d)


def test_localize_outlives_its_scratch_source(spark):
    """The localized frame is one partition with the source's schema,
    and its rows survive removal of the files the source read."""
    with scratch_dir("pmrs_test_") as d:
        spark.range(10).selectExpr(
            "id % 3 AS k", "CAST(id AS DOUBLE) AS v"
        ).repartition(4).write.parquet(f"{d}/t")
        src = spark.read.parquet(f"{d}/t").groupBy("k").agg({"v": "sum"})
        want, schema = sorted(src.collect()), src.schema
        local = localize(src)
    assert not os.path.exists(d)
    assert local.rdd.getNumPartitions() == 1
    assert local.schema == schema
    assert sorted(local.collect()) == want == [(0, 18.0), (1, 12.0), (2, 15.0)]


@pytest.mark.parametrize("name", TABLES)
def test_load_schema_matches_inferred(spark, sf_dir, name):
    """The footer schema is the one Spark infers: same types, same
    nullability (the file source marks every column nullable), same
    JSON."""
    got = load(spark, sf_dir, name).schema
    want = spark.read.parquet(table_path(sf_dir, name)).schema
    assert got == want
    assert got.json() == want.json()


def test_load_submits_no_spark_job(spark, sf_dir, jobs_during):
    """Building a scan runs no job; the probe does see the one-task job
    an inferring read of the same file runs."""
    path = table_path(sf_dir, "lineitem")
    inferred = jobs_during(lambda: spark.read.parquet(path))
    assert inferred, "the probe saw no schema-inference job"
    assert jobs_during(lambda: load(spark, sf_dir, "lineitem")) == []
    assert jobs_during(lambda: load(spark, sf_dir, "events")) == []


def test_load_multi_file_directory_table(spark, sf_dir, tmp_path):
    """A table that is a directory of Spark-written part files, with the
    writer's _SUCCESS marker and .crc sidecars, loads with the schema
    Spark infers for it and with all its rows."""
    src = load(spark, sf_dir, "lineitem")
    d = tmp_path / "lineitem.parquet"
    src.repartition(3).write.parquet(str(d))
    names = os.listdir(d)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.startswith("part-") for n in names) == 3
    got = load(spark, str(tmp_path), "lineitem")
    assert got.schema == spark.read.parquet(str(d)).schema
    assert got.count() == src.count() == footer_rows(str(d))
    assert sorted(got.collect()) == sorted(src.collect())


def test_load_reads_a_rewritten_table_afresh(spark, tmp_path):
    """A table file rewritten in place with other columns loads with the
    new schema and rows in the same session: nothing is kept stale."""
    f = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert load(spark, str(tmp_path), "region").collect() == [(1,), (2,)]
    pq.write_table(pa.table({"b": ["x"], "c": [0.5]}), f)
    again = load(spark, str(tmp_path), "region")
    assert again.schema.simpleString() == "struct<b:string,c:double>"
    assert again.collect() == [("x", 0.5)]


def test_materialize_reads_back_the_schema_spark_infers(spark):
    """materialize reads its output with the schema it wrote, which is
    the schema an inferring read gives: non-null, TIMESTAMP_NTZ and
    decimal columns alike."""
    df = spark.range(5).selectExpr(
        "id",
        "CAST(id * 1.5 AS DECIMAL(12, 3)) AS d",
        "TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id) AS ts",
    )
    assert not df.schema["id"].nullable
    out = materialize(df, "pmrs_test_")
    out_dir = os.path.dirname(out.inputFiles()[0].removeprefix("file://"))
    assert out.schema == spark.read.parquet(out_dir).schema
    assert out.schema.simpleString() == (
        "struct<id:bigint,d:decimal(12,3),ts:timestamp_ntz>"
    )
    assert sorted(out.collect()) == sorted(df.collect())
