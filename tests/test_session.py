"""session.get_spark: the engine's Python workers import the package
from the path get_spark gives them, whatever the driver's cwd; local
files get their mode from the engine's ``file://`` file system, whose
jar is compiled once per source."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from project_map_reduce_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_engine_from_any_cwd(tmp_path):
    """A driver that only puts the repo on its own sys.path, run from
    another directory with PYTHONPATH unset, runs a mapInPandas body
    that imports an engine module inside the worker."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from project_map_reduce_spark.session import get_spark

        def body(batches):
            from project_map_reduce_spark.functions import det
            for b in batches:
                yield b.assign(m=det.__name__)

        spark = get_spark("worker_path", cores=1)
        rows = spark.range(2).mapInPandas(body, "id long, m string").collect()
        print("MODULES", sorted({{r.m for r in rows}}))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MODULES ['project_map_reduce_spark.functions.det']" in out.stdout


def _local_fs(spark):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)


def test_local_file_system_is_the_engines(spark):
    """The session and every newSession() of it write local files through
    the engine's file system, which sets a mode with one chmod(2)
    instead of forking a ``chmod`` child."""
    for s in (spark, spark.newSession()):
        fs = _local_fs(s)
        assert fs.getClass().getName() == "pmrs.NioLocalFileSystem"
        assert fs.getRaw().getClass().getName() == "pmrs.NioLocalFileSystem$Raw"


@pytest.mark.parametrize("mode", [0o600, 0o640, 0o700, 0o755], ids=oct)
def test_set_permission_leaves_that_mode(spark, tmp_path, mode):
    """setPermission leaves exactly the asked-for mode on a file and on
    a directory."""
    fs = _local_fs(spark)
    jvm = spark._jvm
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_bytes(b"x")
    d.mkdir()
    for p in (f, d):
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(p)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"),
        )
        assert os.stat(p).st_mode & 0o7777 == mode


def test_spark_write_leaves_default_modes(spark, tmp_path):
    """Under Hadoop's default umask (022) a partitioned parquet write
    leaves 0644 files (data, .crc sidecars, _SUCCESS) and 0755
    directories, as the forking file system does."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert conf.get("fs.permissions.umask-mode", "022") == "022"
    out = tmp_path / "out"
    spark.range(20).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(str(out))
    files, dirs = {}, {str(out): os.stat(out).st_mode & 0o7777}
    for root, ds, fs in os.walk(out):
        for n in ds:
            dirs[os.path.join(root, n)] = os.stat(os.path.join(root, n)).st_mode & 0o7777
        for n in fs:
            files[os.path.join(root, n)] = os.stat(os.path.join(root, n)).st_mode & 0o7777
    assert len(dirs) == 3 and set(dirs.values()) == {0o755}, dirs
    assert any(n.endswith(".crc") for n in files) and set(files.values()) == {0o644}, files


def test_caller_driver_classpath_is_kept(tmp_path):
    """A ``spark.driver.extraClassPath`` passed in ``extra_conf`` is
    merged with the engine's jar, not replaced by it: both are on the
    driver JVM's class path."""
    mine = str(tmp_path / "caller.jar")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from project_map_reduce_spark.session import get_spark

        spark = get_spark("classpath", cores=1,
                          extra_conf={{"spark.driver.extraClassPath": {mine!r}}})
        jvm = spark._jvm
        print("CONF", spark.sparkContext.getConf().get("spark.driver.extraClassPath"))
        print("JVM", jvm.java.lang.System.getProperty("java.class.path"))
        fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
        print("FS", fs.getClass().getName())
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(ln.split(" ", 1) for ln in out.stdout.splitlines() if " " in ln)
    assert lines["CONF"] == os.pathsep.join([mine, session._fs_jar()])
    jvm_path = lines["JVM"].split(os.pathsep)
    assert mine in jvm_path and session._fs_jar() in jvm_path
    assert lines["FS"] == "pmrs.NioLocalFileSystem"


def test_fs_jar_builds_once_per_source(tmp_path, monkeypatch):
    """With its jar present, the build helper only finds it: javac is
    not run again and the jar is not rewritten. One changed byte of the
    source names a new jar."""
    jar = session._fs_jar()
    mtime = os.stat(jar).st_mtime_ns

    def no_javac(*args, **kwargs):
        raise AssertionError(f"ran {args}")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    assert session._fs_jar() == jar
    assert os.stat(jar).st_mtime_ns == mtime
    monkeypatch.undo()

    src = tmp_path / "NioLocalFileSystem.java"
    shutil.copy(session._FS_SRC, src)
    data = bytearray(src.read_bytes())
    data[data.index(b"one chmod(2)")] = ord("O")
    src.write_bytes(bytes(data))
    other = session._fs_jar(str(src))
    assert os.path.dirname(other) == str(tmp_path / "build")
    assert os.path.basename(other) != os.path.basename(jar)
    assert os.path.isfile(other)
