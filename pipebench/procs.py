"""Host sizing and process accounting, from outside the package.

The session is sized to the host through the package's existing
environment overrides (``SPARK_DRIVER_MEMORY``, ``SPARK_GRAFT_CPUS``);
CPU time and RSS of the Spark JVM and its Python workers are read
from ``/proc`` for every process descended from the benchmark.
"""

from __future__ import annotations

import os
import sys
import threading
from pathlib import Path

# Share of MemTotal given to the local[N] JVM heap (1 GiB on a 16 GB
# host).  The workloads hold well under 100 MB of data; a heap they
# fill keeps the JVM's peak RSS repeatable from run to run, where a
# 2-4 GiB heap grew to a different size in every run (18% vs 30-40%
# quartile spread of peak_rss_gb over seeds).  The JVM's own overhead
# and the Python workers live outside the heap.
HEAP_FRACTION = 0.07
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host() -> dict:
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    mem_gb = kb * 1024 / 1e9
    return {
        "mem_total_gb": mem_gb,
        "heap_gb": max(1, int(kb / 2**20 * HEAP_FRACTION)),
        "cores": len(os.sched_getaffinity(0)),
    }


def configure(root: Path, work: Path, hw: dict, event_dir: Path | None) -> None:
    """Environment for the next JVM launch: heap and cores through the
    package's overrides, the repo on the Python workers' path, every
    scratch file inside ``work``, and, when tracing, the uncompressed
    Spark event log."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    submit = []
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{hw['heap_gb']}g",
        "SPARK_GRAFT_CPUS": str(hw["cores"]),
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(path)),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })


def _stat_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(name)] = (int(f[1]), ticks, int(f[21]) * _PAGE)
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t, _r) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcessTree:
    """CPU seconds and peak RSS of the benchmark's child processes (the
    Spark JVM, the pyspark daemon and its Python workers).  RSS is
    sampled every 50 ms from the known pids; the process table is
    re-read every second to pick up new workers."""

    INTERVAL = 0.05
    RESCAN = 20  # samples between process-table scans

    def __init__(self):
        self.root = os.getpid()
        self._stop = threading.Event()
        self._thread = None
        self._pids: list[int] = []
        self.peak_rss = 0

    def snapshot(self) -> tuple[float, int]:
        table = _stat_table()
        self._pids = _descendants(table, self.root)
        cpu = sum(table[p][1] for p in self._pids) / _TICK
        rss = sum(table[p][2] for p in self._pids)
        return cpu, rss

    def _rss(self) -> int:
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:  # the process has exited
                pass
        return total

    def _sample(self) -> None:
        tick = 0
        while not self._stop.wait(self.INTERVAL):
            tick += 1
            rss = self.snapshot()[1] if tick % self.RESCAN == 0 else self._rss()
            self.peak_rss = max(self.peak_rss, rss)

    def start(self) -> float:
        cpu, rss = self.snapshot()
        self.peak_rss = rss
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return cpu

    def stop(self) -> tuple[float, int]:
        self._stop.set()
        self._thread.join()
        cpu, rss = self.snapshot()
        self.peak_rss = max(self.peak_rss, rss)
        return cpu, self.peak_rss
