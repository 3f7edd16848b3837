"""Host fingerprint, run hygiene and process-tree bookkeeping, from /proc."""

from __future__ import annotations

import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class HostWatch:
    """Fingerprint at start; steal fraction and load over the run at end."""

    def __init__(self):
        import pyspark

        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        self.info = {"nproc": nproc(), "mem_total_mb": mem_kb // 1024,
                     "pyspark": pyspark.__version__,
                     "python": sys.version.split()[0],
                     "loadavg_start": _loadavg()}
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        steal, total = _cpu_times()
        d_total = total - self._cpu0[1]
        self.info["steal_frac"] = (steal - self._cpu0[0]) / d_total if d_total else 0.0
        self.info["loadavg_end"] = _loadavg()
        return self.info


def _procs() -> list[tuple[int, str, int, int, int]]:
    """(pid, state, ppid, pgrp, rss bytes) of every visible process."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out.append((int(d), rest[0], int(rest[1]), int(rest[2]),
                    int(rest[21]) * PAGE))
    return out


def tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    procs = _procs()
    children: dict[int, list] = {}
    for pid, _, ppid, _, _ in procs:
        children.setdefault(ppid, []).append(pid)
    rss = {pid: r for pid, _, _, _, r in procs}
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak RSS of this process's tree (driver JVM and Python workers
    included), sampled every 0.1 s on a background thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def group_alive(pgid: int) -> bool:
    return any(pg == pgid and state != "Z" for _, state, _, pg, _ in _procs())


def wait_group(pgid: int, timeout: float = 60.0) -> None:
    """Wait until no live process of group ``pgid`` remains (a CLI's Spark
    JVM can outlive the Python process that started it); kill it after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while group_alive(pgid):
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def run_group(cmd: list[str], cwd: pathlib.Path, env: dict,
              timeout: float) -> tuple[subprocess.CompletedProcess, float, float]:
    """Run ``cmd`` in its own process group and wait for the whole group.
    Returns (completed process, wall seconds until the command exited,
    epoch seconds at spawn)."""
    spawn = time.time()
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
    wall = time.perf_counter() - t0
    wait_group(p.pid)
    return subprocess.CompletedProcess(cmd, p.returncode, out, err), wall, spawn


def clean_dir(path: pathlib.Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    os.sync()


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
