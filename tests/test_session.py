"""session.get_spark: the engine's Python workers import the package
from the path get_spark gives them, whatever the driver's cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

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
