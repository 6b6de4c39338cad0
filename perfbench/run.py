"""Warm-pass benchmark of the spark-graft engine, one workload per process.

    python3 perfbench/run.py --workload relational_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run:

1. writes the sf0.1 input tables once (``fixtures.py``, fixed data seed);
2. sets the engine up ``SETUPS`` times: ``session.get_spark``, the plan
   import behind ``registry.entries``, and one untimed warm-up pass over
   the workload's queries, each collected and hash-checked against its
   DuckDB oracle. The first set-up is the cold one (JVM and SparkContext
   launch, first compilation); later ones re-import the engine modules
   and run on a new session over the running SparkContext;
3. times warm passes for ``--seconds`` (at least ``MIN_PASSES``), one
   query at a time on ``local[$(nproc)]``, each forced with the ``noop``
   sink. ``--seed`` permutes the query order within every pass;
4. prints a report line and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the timed window interleaves untraced and traced
passes; per-layer figures are per traced pass, and the tracing overhead
is the traced minus the untraced median pass time. Metric names and
units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import fixtures, hostprobe, layers, stats  # noqa: E402
from perfbench.oracle import Oracle, load_canon_table  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUPS = 3
MIN_PASSES = 4
ENGINE = "project_map_reduce_spark"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def isolate(work: str) -> dict[str, str]:
    """Keep every file the run writes under ``work``: temp files, Spark
    local and warehouse dirs. Returns the extra Spark conf for it. Python
    workers inherit the environment, so they import the engine from
    this checkout and write temp files here too."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # No JVM perf-data file in the system temp dir, for the launcher JVM
    # or the driver.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def purge_engine() -> None:
    for name in [m for m in sys.modules if m == ENGINE or m.startswith(ENGINE + ".")]:
        del sys.modules[name]


def order(queries: list[str], seed: int, label: str) -> list[str]:
    qs = list(queries)
    random.Random(f"{seed}:{label}").shuffle(qs)
    return qs


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench")
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = layers.Tracer()
        self.progress: list[tuple[float, dict]] = []

    # -- engine set-up -----------------------------------------------------
    def setup(self, k: int, conf: dict[str, str]) -> dict:
        if k:
            purge_engine()
        t0 = time.perf_counter()
        from project_map_reduce_spark import session

        spark = session.get_spark("perfbench", extra_conf=conf)
        # Later set-ups run on a new session (own SQL conf, catalog and
        # stream manager) over the running SparkContext.
        self.spark = spark.newSession() if k else spark
        t1 = time.perf_counter()
        from project_map_reduce_spark import registry

        self.reg = registry.entries()
        t2 = time.perf_counter()
        c0 = hostprobe.tree_cpu_s()
        self.check_pass(order(self.wl.queries, self.args.seed, f"setup{k}"))
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - t0, "session_start_s": t1 - t0, "registry_import_s": t2 - t1,
            "warmup_s": t3 - t2, "warmup_cpu_s": hostprobe.tree_cpu_s() - c0,
        }

    def check_pass(self, queries: list[str]) -> None:
        """Untimed pass: run, collect and keep each query's rows; they are
        compared with the oracle after the timed window."""
        for name in queries:
            self.attempted += 1
            try:
                df = self.reg[name].fn(self.spark, self.sf_dir)
                self.results.append((name, list(df.columns), [tuple(r) for r in df.collect()]))
            except Exception as ex:  # noqa: BLE001
                self.fail(name, ex)

    def fail(self, name: str, ex) -> None:
        self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
        log(f"FAIL {self.failures[-1]}")

    # -- timed window ------------------------------------------------------
    def timed_pass(self, queries: list[str], traced: bool) -> dict:
        self.tracer.enabled = traced
        lat = []
        s0, c0, t0 = hostprobe.steal_s(), hostprobe.tree_cpu_s(), time.perf_counter()
        for name in queries:
            self.attempted += 1
            self.tracer.query = name
            q0 = time.perf_counter()
            try:
                with self.tracer.span(f"plans.{name}"):
                    df = self.reg[name].fn(self.spark, self.sf_dir)
                with self.tracer.span("action"):
                    df.write.format("noop").mode("overwrite").save()
                lat.append((name, time.perf_counter() - q0))
            except Exception as ex:  # noqa: BLE001
                self.fail(name, ex)
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        self.tracer.query = None
        return {
            "wall_s": wall, "cpu_s": hostprobe.tree_cpu_s() - c0,
            "steal_s": hostprobe.steal_s() - s0, "latency_s": lat, "traced": traced,
        }

    def timed_window(self) -> list[dict]:
        passes: list[dict] = []
        t_end = time.perf_counter() + self.args.seconds
        # A traced run splits eight passes evenly between untraced and traced.
        min_passes = 2 * MIN_PASSES if self.args.trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() < t_end:
            i = len(passes)
            # U T T U U T ...: untraced and traced passes see the same
            # warm-up trend, so their medians compare like for like.
            traced = bool(self.args.trace) and i % 4 in (1, 2)
            p = self.timed_pass(order(self.wl.queries, self.args.seed, f"pass{i}"), traced)
            log(f"pass {i}{' traced' if traced else ''}: {p['wall_s']:.2f}s "
                f"cpu {p['cpu_s']:.1f}s steal {p['steal_s']:.2f}s")
            passes.append(p)
        return passes

    # -- main ----------------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        os.makedirs(self.work, exist_ok=True)
        self.sf_dir = fixtures.ensure(os.path.join(self.work, "data"))
        conf = isolate(self.work)
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.results: list[tuple[str, list[str], list[tuple]]] = []
        self.spark = None
        try:
            setups = [self.setup(k, conf) for k in range(SETUPS)]
            if args.trace:
                wrapped = self.tracer.instrument()
                self.attach_listener()
            self.timed_at = time.perf_counter() - T0
            passes = self.timed_window()
            self.verify()
            peak_rss_mb = hostprobe.peak_rss_mb()
        finally:
            if self.spark is not None:
                self.spark.stop()
            hostprobe.stop_jvm()
        report = self.report(setups, passes)
        report["peak_rss_mb"] = peak_rss_mb
        if args.trace:
            report["layers"] = self.layer_report(setups, passes, wrapped)
            with open(self.result_path("spans"), "w") as f:
                json.dump(self.tracer.closed_spans(), f)
            report["layers"]["query_tail_s"] = report["query_tail"]["value_s"]
            report["layers"]["peak_rss_mb"] = peak_rss_mb
        report["run_s"] = time.perf_counter() - T0
        return report

    def result_path(self, kind: str) -> str:
        a = self.args
        os.makedirs(os.path.join(self.work, "results"), exist_ok=True)
        return os.path.join(self.work, "results",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}-{kind}.json")

    def verify(self) -> None:
        from project_map_reduce_spark.tables import TABLES

        oracle = Oracle(self.sf_dir, TABLES, load_canon_table(ROOT))
        sql = {n: e.oracle for n, e in self.reg.items()}
        for problem in verify(self.results, sql, oracle):
            self.failures.append(problem)
            log(f"FAIL {problem}")

    def attach_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append((time.time(), json.loads(event.progress.json)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    # -- reporting -----------------------------------------------------------
    def report(self, setups: list[dict], passes: list[dict]) -> dict:
        plain = [p for p in passes if not p["traced"]]
        lat = [x for p in plain for _, x in p["latency_s"]]
        per_query: dict[str, list[float]] = {}
        for p in plain:
            for name, x in p["latency_s"]:
                per_query.setdefault(name, []).append(round(x, 3))
        tail_p, tail_v = stats.tail(lat) if lat else (None, None)
        cold = setups[0]
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "queries": self.wl.queries, "cores": hostprobe.cores(),
            "setup_s": stats.quartiles([s["setup_s"] for s in setups]),
            "process_to_timed_s": self.timed_at,
            "cold_setup_s": cold["setup_s"], "cold_pass_s": cold["warmup_s"],
            "cold_pass_cpu_s": cold["warmup_cpu_s"],
            "wall_s": stats.quartiles([p["wall_s"] for p in plain]),
            "cpu_s": stats.quartiles([p["cpu_s"] for p in plain]),
            "query_p50_s": stats.percentile(lat, 50) if lat else None,
            "query_tail": {"percentile": tail_p, "value_s": tail_v, "samples": len(lat)},
            "query_s": per_query,
            "steal_s_per_pass": [round(p["steal_s"], 3) for p in passes],
            "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
            "attempted": self.attempted, "failed": len(self.failures),
            "fail_frac": len(self.failures) / max(1, self.attempted),
            "failures": self.failures[:20],
        }

    def layer_report(self, setups, passes, wrapped) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        log_ = layers.read_event_logs(os.path.join(self.work, "eventlog"))
        return layers.summarize(
            self.tracer.closed_spans(), log_, self.progress, setups, traced, plain,
            wrapped, cores=hostprobe.cores(),
        )


def verify(results, oracle_sql: dict, oracle: Oracle) -> list[str]:
    """One problem line per collected result that has no oracle, does
    not match it, or whose oracle fails to run."""
    out = []
    for name, cols, rows in results:
        sql = oracle_sql.get(name)
        if sql is None:
            out.append(f"{name}: no oracle registered")
            continue
        try:
            problems = oracle.check(name, sql, cols, rows)
        except Exception as ex:  # noqa: BLE001
            problems = [f"oracle error {type(ex).__name__}: {ex}"]
        if problems:
            out.append(f"{name}: oracle mismatch: {problems[0][:300]}")
    return out


def result_line(report: dict, spec: dict, trace: int) -> dict:
    kind = "per_layer" if trace else "end_to_end"
    values = report["layers"] if trace else {
        "setup_s": report["setup_s"]["median"],
        "wall_s": report["wall_s"]["median"],
        "cpu_s": report["cpu_s"]["median"],
        "query_p50_s": report["query_p50_s"],
    }
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import project_map_reduce_spark  # noqa: F401
    except ImportError as ex:
        log(f"engine not importable from {ROOT}: {ex}")
        return 2
    spec = metric_spec()
    run = Run(args)
    report = run.main()
    line = result_line(report, spec, args.trace)
    with open(run.result_path("report"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("report " + json.dumps(report, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
