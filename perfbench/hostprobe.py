"""Host and process readings from /proc: steal, process-tree CPU, peak
resident memory, and an orderly stop of the Spark JVM."""

from __future__ import annotations

import os
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """Machine-wide hypervisor steal so far, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields restart after its closing paren.
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User + system CPU of this process and all its descendants (the
    Spark JVM and its Python workers), including reaped children."""
    total = 0
    for pid in [os.getpid()] + descendants():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based).
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids() -> list[int]:
    out = []
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of the driver process plus the JVM."""
    kb = _hwm_kb(os.getpid()) + sum(_hwm_kb(p) for p in jvm_pids())
    return kb / 1024.0


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway down and wait until the JVM and every other
    process this run started has exited, killing stragglers. The JVM is
    this process's child and is reaped here; Python workers are the
    JVM's and exit with it."""
    from pyspark import SparkContext

    started = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
        if alive:
            time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
