"""Bench harness (driver contract).

Times every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {"q_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced with the ``noop`` datasource sink, which executes
the full physical plan (scan → shuffle → agg) without collecting rows to
the driver — the same work profile a cluster write would have, and no
driver-memory artifact of local mode. A one-off warmup action amortizes
JVM/session startup out of the per-query numbers.

Two measurement-hardening disciplines (VERDICT r6 item 2):

**Per-run steal accounting.** The host VM exhibits sporadic multi-second
freezes (hypervisor steal, visible in /proc/stat field 9): a query that
straddles one records a wall time 10-100× its true cost while its
neighbors stay sub-second — round 6's driver bench accumulated 111.7 s
of steal and 14 per-query numbers breached the 2× grid gate on paper
while a clean-host re-measure put every one under it. Each run here
therefore records its OWN steal delta; a run whose steal exceeds
``_STEAL_POISON_SEC`` is discarded as poisoned and re-sampled (bounded
by ``_MAX_RUNS``), the same discipline ``tools/timeq.py`` applies to
clean-host probes. The reported number is min over CLEAN runs; only if
every sample was poisoned does the raw min stand (and the query is
listed under ``poisoned`` so the artifact is diagnosable).

**Tail-capture-proof output.** The driver records the last 2000 chars of
output; a 121-entry named queries dict is ~2.8 KB, so round 6's artifact
kept only the tail of the line and parsed as null. The full named
mapping is therefore always written to ``bench_full.json`` next to this
file (committed to git — the durable record), and the stdout line keeps
the contract's named-dict form only while it fits the capture window;
above that it degrades to ``"q_sec"``: values aligned with the SORTED
query names (the registry's own order, recoverable from
``sorted(entries())`` or from bench_full.json's ``queries`` keys).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.hostprobe import steal_s  # noqa: E402
from project_map_reduce_spark.registry import entries  # noqa: E402
from project_map_reduce_spark.session import get_spark  # noqa: E402
from project_map_reduce_spark.tables import load  # noqa: E402


# Low enough to catch a 4-second host stall poisoning a 1-second query
# (round-1 q_join_broadcast recorded 4.3 s of what was broadcast-build
# stall noise); the handful of genuinely >3 s queries just pay one
# extra timed run each.
_RETRY_THRESHOLD_SEC = 3.0
# A run observing more steal than max(0.3 s, 10% of its wall time) is
# poisoned and re-sampled. The floor distinguishes a real stall from
# the host's ambient ~0.05 s/s drizzle for sub-second queries; the
# proportional term keeps the multi-second streaming queries (whose
# micro-batch floor makes them straddle drizzle for 5-7 s) from burning
# their sample budget on steal that inflates them by only a few percent.
_STEAL_POISON_SEC = 0.3
_STEAL_POISON_FRAC = 0.10
# Hard cap on samples per query — a persistent steal storm must not
# spin the bench forever; the artifact flags the query instead.
_MAX_RUNS = 5
# Rolling fleet-relative slow-window detection (VERDICT r7 item 7): the
# r7 driver sweep recorded 7 alphabetically-contiguous paper breaches
# from a host-slow window whose per-run steal stayed UNDER the poison
# threshold — invisible to per-run accounting, obvious against the grid.
# A run of >= _SLOW_WINDOW_LEN consecutive queries each measuring over
# _SLOW_WINDOW_RATIO × its grid reference marks the whole run suspect,
# and every suspect gets one clean re-measure at the end of the sweep
# (min kept), so a transient window cannot leave paper breaches behind.
_SLOW_WINDOW_RATIO = 1.5
_SLOW_WINDOW_LEN = 3
# The driver keeps the last 2000 chars of output; leave headroom for
# the trailing newline and any interleaved stderr flush.
_LINE_BUDGET = 1900
# Pre-flight host gate (VERDICT r11 item 4): round 11 produced four
# total-bench runs spanning 202-245 s purely on ambient steal (8 s ->
# 890 s across the day), so a committed record's calmness was luck.
# Before the sweep starts, the gate samples the host steal RATE over
# _GATE_SAMPLE_SEC windows and defers the run until the rate drops
# under _GATE_STEAL_RATE (fraction of wall) or _GATE_TIMEOUT_SEC is
# spent waiting — making a committed record a calm-window record by
# construction, not by retry. The per-run poison logic stays as the
# in-sweep defense (a storm can still START mid-sweep). Skippable for
# quick iteration with SPARK_GRAFT_NO_GATE=1; timeout overridable via
# SPARK_GRAFT_GATE_TIMEOUT_SEC.
_GATE_SAMPLE_SEC = 5.0
_GATE_STEAL_RATE = 0.02
_GATE_TIMEOUT_SEC = 900.0


def _steal_sec() -> float:
    """Cumulative hypervisor steal time in seconds (0.0 if unreadable)."""
    try:
        return steal_s()
    except (OSError, IndexError, ValueError):
        return 0.0


def _host_gate(
    sample_sec: float = _GATE_SAMPLE_SEC,
    steal_rate: float = _GATE_STEAL_RATE,
    timeout_sec: float | None = None,
    _sleep=time.sleep,
    _steal=None,
    _clock=time.perf_counter,
) -> dict:
    """Block until the host's steal rate over a ``sample_sec`` window is
    under ``steal_rate``, or ``timeout_sec`` is exhausted. Returns a
    small dict for the bench artifact: ``waited_sec`` (total deferral),
    ``samples`` (list of observed per-window rates, capped at the last
    8 for the record), and ``calm`` (False only on timeout — the sweep
    proceeds regardless, flagged, so a permanently-stormy day still
    produces a diagnosable record instead of no record)."""
    if os.environ.get("SPARK_GRAFT_NO_GATE"):
        return {"waited_sec": 0.0, "samples": [], "calm": True, "skipped": True}
    if timeout_sec is None:
        timeout_sec = float(
            os.environ.get("SPARK_GRAFT_GATE_TIMEOUT_SEC", _GATE_TIMEOUT_SEC)
        )
    steal = _steal or _steal_sec
    waited = 0.0
    rates: list[float] = []
    while True:
        s0, t0 = steal(), _clock()
        _sleep(sample_sec)
        dt = _clock() - t0
        rate = (steal() - s0) / dt if dt > 0 else 0.0
        waited += dt
        rates.append(round(rate, 4))
        if rate <= steal_rate:
            return {
                "waited_sec": round(waited, 1),
                "samples": rates[-8:],
                "calm": True,
            }
        print(
            f"bench: host gate — steal rate {rate:.1%} over {dt:.1f}s window, "
            f"deferring ({waited:.0f}s/{timeout_sec:.0f}s)",
            file=sys.stderr,
        )
        if waited >= timeout_sec:
            return {
                "waited_sec": round(waited, 1),
                "samples": rates[-8:],
                "calm": False,
            }


def _measure(fn, spark, sf_dir) -> tuple[float, int, bool]:
    """(min clean wall sec, n samples, all_poisoned) for one query."""
    runs: list[tuple[float, float]] = []  # (wall, steal)
    while True:
        s0 = _steal_sec()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append((time.perf_counter() - t0, _steal_sec() - s0))
        clean = [
            w for w, s in runs
            if s <= max(_STEAL_POISON_SEC, _STEAL_POISON_FRAC * w)
        ]
        # Always take min-of-2 clean (the host also has sub-threshold
        # noise windows inflating everything ~30%); sample a 3rd time
        # only while the clean min still looks stall-poisoned.
        if len(clean) >= 2 and (
            min(clean) <= _RETRY_THRESHOLD_SEC or len(clean) >= 3
        ):
            return min(clean), len(runs), False
        if len(runs) >= _MAX_RUNS:
            if clean:
                return min(clean), len(runs), False
            return min(w for w, _ in runs), len(runs), True


def _load_grid(sf: float | None) -> dict[str, float]:
    """Per-query fleet-relative reference times from BASELINE_GRID.json:
    the warm-fleet minimum where recorded (bench runs a warm fleet
    session, so that is the like-for-like number), else the clean-host
    grid value. Empty dict (detection off) if the file is absent OR the
    bench is running at a different scale factor than the grid measured
    — at 10× the grid's data everything legitimately exceeds 1.5× and
    the detector would degenerate into re-run-everything-once (the r8
    sf1 sweep measured exactly that: 84 pointless re-measures; off-grid
    SFs keep the per-run steal accounting as their only retry logic)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BASELINE_GRID.json")
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return {}
    if sf is None or d.get("sf") != sf:
        return {}
    ref = dict(d.get("queries", {}))
    ref.update(d.get("warm_fleet", {}))
    return {k: float(v) for k, v in ref.items() if isinstance(v, (int, float))}


def _slow_window_suspects(
    ordered: list[tuple[str, float]],
    grid: dict[str, float],
    ratio: float = _SLOW_WINDOW_RATIO,
    run_len: int = _SLOW_WINDOW_LEN,
) -> set[str]:
    """Names inside any run of >= ``run_len`` consecutive measurements
    (measurement order) each exceeding ``ratio`` × their grid reference.
    Failed queries (sec < 0) break a run; queries without a grid entry
    (new this round) are neutral — they neither count nor break, so a
    slow window straddling a new query is still caught."""
    suspects: set[str] = set()
    run: list[str] = []
    for name, sec in ordered:
        if sec < 0:
            run = []
            continue
        ref = grid.get(name)
        if ref is None or ref <= 0:
            continue
        if sec > ratio * ref:
            run.append(name)
            if len(run) >= run_len:
                suspects.update(run)
        else:
            run = []
    return suspects


def emit_line(out: dict) -> str:
    """The stdout contract line. Named-dict form while it fits the
    driver's 2000-char tail capture; above that, degrade the per-query
    map to a sorted-name-aligned value array (``q_sec``) so the whole
    line survives and parses (tests pin the budget as the inventory
    grows)."""
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > _LINE_BUDGET:
        compact = dict(out)
        compact["queries"] = "q_sec, aligned with sorted query names"
        # Make the q_sec alignment VERIFIABLE without trusting the repo
        # state (VERDICT r13 item 2 — PERF per_query was empty because
        # the driver had no way to check which names the array maps
        # to): a 16-hex digest of the newline-joined sorted names. The
        # full name list ships in bench_names.json / bench_full.json.
        compact["names_sha256"] = hashlib.sha256(
            "\n".join(sorted(out["queries"])).encode()
        ).hexdigest()[:16]
        compact["q_sec"] = [out["queries"][k] for k in sorted(out["queries"])]
        # name lists can be arbitrarily long; the full record keeps the
        # names, the capture-window line keeps the count
        if isinstance(compact.get("slow_window_remeasured"), list):
            compact["slow_window_remeasured"] = len(
                compact["slow_window_remeasured"]
            )
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > _LINE_BUDGET:
            # Second tier (inventory passed ~200 queries r13): 3-dp
            # floats overflow the window on their own — ship q_sec at
            # 2 dp (plenty for the driver's grid-ratio read; full
            # precision always lives in bench_full.json).
            compact["q_sec"] = [
                round(out["queries"][k], 2) for k in sorted(out["queries"])
            ]
            line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Gate BEFORE session startup so JVM boot doesn't inflate the
    # sampled windows with its own CPU burn.
    gate = _host_gate()
    if not gate["calm"]:
        print(
            "bench: host gate timed out still stormy — proceeding flagged",
            file=sys.stderr,
        )

    spark = get_spark("bench")
    # Warmup: force one full scan plus a small aggregate so the JVM,
    # whole-stage-codegen compiler, and shuffle machinery are all hot —
    # otherwise the alphabetically-first timed query absorbs ~1s of
    # one-time compilation cost that belongs to session startup.
    li = load(spark, sf_dir, "lineitem")
    li.count()
    # rollup compiles both the plain hash-aggregate and the Expand
    # (grouping-sets) codegen paths in one shot.
    li.rollup("l_returnflag").count().write.format("noop").mode("overwrite").save()
    steal0 = _steal_sec()

    times: dict[str, float] = {}
    poisoned: list[str] = []
    for name, e in sorted(entries().items()):
        try:
            sec, n_runs, all_poisoned = _measure(e.fn, spark, sf_dir)
            times[name] = round(sec, 3)
            if all_poisoned:
                poisoned.append(name)
            note = "" if n_runs == 2 else f" ({n_runs} samples)"
            flag = " [steal-poisoned]" if all_poisoned else ""
            print(
                f"bench: {name} {times[name]:.2f}s{note}{flag}", file=sys.stderr
            )
        except Exception as ex:  # noqa: BLE001
            print(f"bench: {name} failed: {type(ex).__name__}: {ex}", file=sys.stderr)
            times[name] = -1.0

    # Slow-window sweep: re-measure any alphabetically-contiguous run
    # of grid breaches once, after the fleet pass, when the transient
    # host window has typically passed. min() keeps an honest number if
    # the slowdown is real (a regression re-measures slow twice).
    grid = _load_grid(sf)
    suspects = _slow_window_suspects(
        [(n, times[n]) for n in sorted(times)], grid
    )
    remeasured: list[str] = []
    for name in sorted(suspects):
        try:
            sec, n_runs, re_poisoned = _measure(entries()[name].fn, spark, sf_dir)
        except Exception as ex:  # noqa: BLE001
            print(f"bench: {name} re-measure failed: {ex}", file=sys.stderr)
            continue
        remeasured.append(name)
        if sec < times[name]:
            print(
                f"bench: {name} slow-window re-measure "
                f"{times[name]:.2f}s -> {sec:.2f}s", file=sys.stderr
            )
            times[name] = round(sec, 3)
            # Reconcile the poisoned flag with the measurement that now
            # backs the recorded number (ADVICE r8): a clean re-measure
            # replacing a steal-poisoned sweep time clears the flag; a
            # poisoned re-measure that still wins keeps/sets it.
            if re_poisoned and name not in poisoned:
                poisoned.append(name)
            elif not re_poisoned and name in poisoned:
                poisoned.remove(name)

    ok = {k: v for k, v in times.items() if v >= 0}
    out = {
        "metric": "total_query_wall_sec",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "n_queries": len(times),
        "n_failed": len(times) - len(ok),
        "steal_sec": round(_steal_sec() - steal0, 1),
        "poisoned": poisoned,
        "slow_window_remeasured": remeasured,
        "host_gate": gate,
    }

    # Durable full record, independent of the driver's capture window.
    # Written atomically (tmp + rename) in the same run that prints the
    # stdout line, so the committed file and the driver artifact agree
    # by construction (VERDICT r7 item 3).
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_full.json")
    try:
        tmp_path = full_path + ".tmp"
        with open(tmp_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        os.replace(tmp_path, full_path)
    except OSError as ex:
        print(f"bench: could not write {full_path}: {ex}", file=sys.stderr)

    # Sorted name list for the degraded contract line's q_sec array —
    # the alignment key the driver needs to rebuild per-query times
    # (its digest is the line's names_sha256). Committed to git beside
    # bench_full.json (VERDICT r13 item 2).
    names_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_names.json")
    try:
        tmp_path = names_path + ".tmp"
        with open(tmp_path, "w") as f:
            json.dump(
                {
                    "names": sorted(times),
                    "names_sha256": hashlib.sha256(
                        "\n".join(sorted(times)).encode()
                    ).hexdigest()[:16],
                },
                f,
                indent=1,
            )
            f.write("\n")
        os.replace(tmp_path, names_path)
    except OSError as ex:
        print(f"bench: could not write {names_path}: {ex}", file=sys.stderr)

    print(emit_line(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
