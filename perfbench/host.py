"""Host-noise evidence and peak memory, sampled from /proc.

A background thread samples, every `interval` seconds:
- the summed RSS of this process and all its descendants (the Spark
  JVM and its Python workers), whose maximum is `peak_rss_mb`;
- /proc/stat, to derive steal cores (CPU time the hypervisor gave to
  someone else) and external busy cores (busy CPU time on the host not
  spent by this process tree), and the load average.

A run whose external busy cores or steal cores are well above zero was
measured on a shared, busy host; the report carries these numbers so
such a run convicts itself.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """`root` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_usage(pids: list[int]) -> tuple[int, float]:
    """(RSS bytes, user+system CPU seconds) summed over `pids`."""
    rss, cpu = 0, 0.0
    for p in pids:
        f = _stat_fields(p)
        if f:
            cpu += (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _HZ
            rss += int(f[21]) * _PAGE
    return rss, cpu


def _cpu_totals() -> tuple[float, float]:
    """(host user+nice+system CPU seconds, steal CPU seconds)."""
    v = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    return (v[0] + v[1] + v[2]) / _HZ, (v[7] if len(v) > 7 else 0) / _HZ


class HostSampler(threading.Thread):
    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True, name="perfbench-host")
        self.interval = interval
        self.peak_rss = 0
        self._stop_evt = threading.Event()
        self._loads: list[float] = []

    def run(self) -> None:
        while not self._stop_evt.is_set():
            rss, _ = _tree_usage(descendants(os.getpid()))
            self.peak_rss = max(self.peak_rss, rss)
            self._loads.append(os.getloadavg()[0])
            self._stop_evt.wait(self.interval)

    def window(self) -> tuple[float, float, float, float]:
        """Marks the start of a measurement window."""
        host, steal = _cpu_totals()
        own = _tree_usage(descendants(os.getpid()))[1]
        return time.monotonic(), host, steal, own

    def noise(self, start: tuple[float, float, float, float]) -> dict:
        """Host noise since `start` (a value returned by window())."""
        t1, host1, steal1, own1 = self.window()
        wall = max(t1 - start[0], 1e-9)
        external = (host1 - start[1]) - (own1 - start[3])
        return {
            "wall_s": round(wall, 3),
            "steal_cores": round((steal1 - start[2]) / wall, 3),
            "external_busy_cores": round(max(0.0, external) / wall, 3),
            "own_busy_cores": round((own1 - start[3]) / wall, 3),
            "loadavg_1m_max": max(self._loads, default=os.getloadavg()[0]),
        }

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def wait_for_children(timeout: float = 30.0) -> list[int]:
    """Waits until this process has no descendants left; kills what is
    still there after `timeout`.  Returns the pids that had to be
    killed."""
    deadline = time.monotonic() + timeout
    me = os.getpid()
    while time.monotonic() < deadline:
        left = [p for p in descendants(me) if p != me]
        if not left:
            return []
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    left = [p for p in descendants(me) if p != me]
    for p in left:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass
    return left


def cpu_probe(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-threaded loop: when the same probe reads
    slower in one run than in another, the host, not the engine, slowed."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t
