"""SparkSession factory.

Defaults are tuned for the local[N] test/bench harness but every knob is
chosen for cluster-scale behavior too:

- AQE on (runtime partition coalescing, skew-join splitting, plan
  re-optimization) — the reference has no optimizer at all and a slow
  record blocks a whole worker (SURVEY.md §4.1); AQE is the Spark-native
  answer to both sizing and skew.
- Arrow on — every pandas-UDF crossing is Arrow-batched, never per-row.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle exactly (events.ts is ns-precision parquet, read as µs).
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number, so we also leave
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` unset
  locally and document 2-3× total-cores for cluster deploys.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from contextlib import contextmanager

import pyspark
from pyspark.sql import SparkSession

# The directory that holds the engine package.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_DRIVER_CLASSPATH = "spark.driver.extraClassPath"
_FS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def _fs_jar(src: str = _FS_SRC) -> str:
    """The jar of the engine's ``file://`` file system, compiled from
    ``src`` on first use into ``build/`` next to it. The jar is named by
    the source's SHA-256, so an edited source builds a new jar and an
    unchanged one is found with one ``stat``: javac runs once per
    checkout, never on a warm set-up. The jar is written to a temp file
    and moved into place, so a reader never sees half a jar."""
    with open(src, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    build = os.path.join(os.path.dirname(src), "build")
    jar = os.path.join(build, f"NioLocalFileSystem-{digest[:16]}.jar")
    if os.path.exists(jar):
        return jar
    if shutil.which("javac") is None:
        raise RuntimeError(
            "javac not found on PATH: get_spark compiles the engine's file "
            f"system ({src}) with it; install a JDK (17 or later)"
        )
    os.makedirs(build, exist_ok=True)
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory(dir=build) as tmp:
        classes = os.path.join(tmp, "classes")
        done = subprocess.run(
            ["javac", "--release", "17", "-cp", jars, "-d", classes, src],
            capture_output=True, text=True,
        )
        if done.returncode:
            raise RuntimeError(f"javac failed on {src}:\n{done.stderr}")
        with zipfile.ZipFile(os.path.join(tmp, "fs.jar"), "w") as z:
            for root, _dirs, files in os.walk(classes):
                for name in sorted(files):
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(os.path.join(tmp, "fs.jar"), jar)
    return jar


def _merge_path(conf: dict[str, str], key: str, entry: str) -> None:
    """Append ``entry`` to the path list ``conf[key]`` unless it is there."""
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    if entry not in paths:
        paths.append(entry)
    conf[key] = os.pathsep.join(paths)


def get_spark(
    app_name: str = "project_map_reduce_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a cluster you would drop ``.master(...)`` and submit with
    spark-submit, and drop with it the ``checkpointFileManagerClass``
    line and the two lines that put the engine's ``file://`` file system
    on the driver (``spark.driver.extraClassPath`` and
    ``spark.hadoop.fs.file.impl``); everything else carries over
    unchanged. The file system's jar is compiled with ``javac`` on the
    first call in a checkout (``_fs_jar``), so a JDK is required.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        # Streaming checkpoint and state-store files are written to a temp
        # file and moved with FileSystem.rename: one rename(2) on the local
        # file system. The default FileContext manager asks for the link
        # status of both paths on every rename, and without Hadoop's native
        # library each lookup forks a `readlink` child. A cluster deploy
        # drops this line together with .master(...): an HDFS checkpoint
        # relies on FileContext's atomic overwrite-rename.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # sum6 (functions/det.py) raises on out-of-range inputs (the
        # DECIMAL(18,6) cast) and on overflow of its long limb sums; that
        # contract holds only under ANSI semantics. Spark 4 defaults to
        # ANSI on, but a deployment that flips it would turn these into
        # silent nulls or wrapped sums — pin it so the guarantee is ours,
        # not inherited.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Old-calendar parquet dates and timestamps read as written, as
        # DuckDB reads them. INT64(NANOS) columns need no conf: Spark 4.1
        # reads them as µs TIMESTAMP_NTZ (tables.load).
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    )
    # The state store stays Spark's default HDFS-backed provider: the round-7
    # A/B (BASELINE.md) has it winning or tying RocksDB while state fits the heap.
    conf = dict(extra_conf or {})
    # Python workers import the engine from their own PYTHONPATH, not the
    # driver's sys.path, so name the package's home whatever the cwd.
    _merge_path(conf, _WORKER_PATH, _PKG_PARENT)
    # Local files get their mode from one chmod(2) in the JVM
    # (jvm/NioLocalFileSystem.java): without Hadoop's native library the
    # default file:// file system forks a `chmod` child for every file
    # create and mkdir, which is most of a small micro-batch's commit. A
    # cluster deploy drops these two lines together with .master(...),
    # like the checkpointFileManagerClass line.
    _merge_path(conf, _DRIVER_CLASSPATH, _fs_jar())
    conf["spark.hadoop.fs.file.impl"] = "pmrs.NioLocalFileSystem"
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the block, then put each key back as
    it was: its old value if it had one, unset if it had none. The conf
    is session-global while the block runs, so keep the block to the
    calls that read it. A stream copies its session conf at ``start()``,
    so a stream's override needs to be held only around that call."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
