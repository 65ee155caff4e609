"""Host calibration, process-tree memory and process teardown.

Engine-free on purpose: the CPU probe and the load readings describe the
machine, not the code under test, so a later review can tell host drift
(the single-thread speed flips and outside load this kind of shared host
shows) from a change in the program.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time
from multiprocessing import get_context

PROBE_LOOPS = 1_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spin(loops: int) -> float:
    """Fixed pure-Python work; returns its own elapsed seconds."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(loops):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def calibrate(procs: int) -> dict:
    """Run the CPU probe on ``procs`` processes at once (one per core the
    benchmark may use) and record the load average beside it."""
    load = loadavg()
    pool = get_context("spawn").Pool(procs)
    try:
        per_proc = pool.map(_spin, [PROBE_LOOPS] * procs)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    return {
        "loadavg": load,
        "probe_procs": procs,
        "probe_loops": PROBE_LOOPS,
        "probe_s_median": statistics.median(per_proc),
        "probe_s_max": max(per_proc),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm may contain spaces and parens: ppid follows the LAST ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM (resident high-water mark) of ``pids``, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end its JVM and the JVM's Python workers, and
    wait until every one of those processes has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is not None:
        # the gateway JVM exits when its stdin (our pipe) closes
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if not _wait_gone(pids, timeout_s):
        for p in filter(_alive, pids):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if not _wait_gone(pids, timeout_s):
            raise RuntimeError(f"Spark processes did not exit: {pids}")


def stop_resource_tracker() -> None:
    """End the helper process that spawn-context pools start, and wait
    for it (it would otherwise outlive this process briefly)."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def _wait_gone(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True
