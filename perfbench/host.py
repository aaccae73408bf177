"""Host telemetry read from /proc: CPU steal, load, core count, process
start time and the resident memory of a process tree."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """Host-wide CPU steal so far, in CPU-seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def reap(pid: int, timeout_s: float = 10.0) -> None:
    """Terminate ``pid`` (not necessarily our child) and wait until it
    has gone, killing it if it outlives ``timeout_s``."""
    for sig, wait_s in ((signal.SIGTERM, timeout_s), (signal.SIGKILL, timeout_s)):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not our child: its parent reaps it
            if not os.path.exists(f"/proc/{pid}") or _zombie(pid):
                return
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Peak RSS of this process tree (Python, JVM and Python workers),
    sampled on a background thread between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


class HostWindow:
    """Steal and load over one stretch of the run, so an unsteady run can
    be explained from its own output."""

    def __init__(self) -> None:
        self.t0 = time.time()
        self.steal0 = steal_s()
        self.load_before = loadavg()

    def close(self) -> dict:
        return {
            "nproc": nproc(),
            "wall_s": round(time.time() - self.t0, 3),
            "steal_s": round(steal_s() - self.steal0, 3),
            "loadavg_before": self.load_before,
            "loadavg_after": loadavg(),
        }
