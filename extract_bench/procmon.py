"""Host-side observation from ``/proc``, outside the program under test.

- ``WorkerRssSampler`` polls the process tree under the Spark JVM and keeps
  the highest resident set size seen in any single Python worker.
- ``host_stamp`` records hypervisor steal and the load average, so a noisy
  run can be recognised afterwards.  Nothing gates on either.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; the ppid is the 2nd field after ')'.
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


def python_descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        if _is_python(pid):
            out.append(pid)
        todo += kids.get(pid, [])
    return out


class WorkerRssSampler:
    """Background poller of the peak single-worker RSS under ``root_pid``."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        for pid in python_descendants(self.root_pid):
            self.peak_mb = max(self.peak_mb, _rss_mb(pid))
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class HostStamp:
    """Steal jiffies and load average across one run."""

    def __init__(self):
        self.steal0 = _steal_jiffies()
        self.load0 = _loadavg()

    def finish(self) -> dict:
        hz = os.sysconf("SC_CLK_TCK")
        return {"steal_s": (_steal_jiffies() - self.steal0) / hz,
                "loadavg_start": self.load0, "loadavg_end": _loadavg(),
                "cpus": len(os.sched_getaffinity(0))}
