"""Host sizing, worker memory sampling and host-load adjudication."""

from __future__ import annotations

import os
import threading

from tools.tenancy import ExternalLoadMonitor

MAX_SLOTS = 4
# an op during which processes outside this run, or the hypervisor
# (steal), took more than this many cores is polluted.  The ops keep
# ~3.5 of 4 cores busy, so a third of a core taken from them already
# slows a lookup by tens of percent.
EXT_LOAD_MAX = 0.3


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def available_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def size_host() -> dict:
    """Slots from the CPUs this process may run on (at most MAX_SLOTS);
    driver heap from the RAM actually available, leaving most of it to
    the Python workers, which do the codec work."""
    cpus = usable_cpus()
    ram = available_ram_mb()
    return {
        "usable_cpus": cpus,
        "slots": min(cpus, MAX_SLOTS),
        "available_ram_mb": ram,
        "driver_memory_mb": max(512, min(2048, ram // 8)),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        ppid = int(data[data.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_workers(root: int) -> list[int]:
    """Spark Python daemon and worker processes under `root`."""
    kids = _children()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        # the JVM's own command line names the daemon module too
        if b"python" in cmd.split(b"\0")[0] and b"daemon" in cmd:
            out.append(pid)
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak RSS of the largest Spark Python worker, sampled from /proc
    by a background thread between start() and stop()."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 20 == 0:  # workers come and go rarely; rescan each second
                pids = python_workers(root)
            n += 1
            for pid in pids:
                self.peak_mb = max(self.peak_mb, rss_mb(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


class LoadJudge:
    """Brackets each op with external-CPU accounting and classifies it.

    An op is `clean`, `polluted` (neighbours used more than
    EXT_LOAD_MAX cores) or `monitor_anomaly` (the monitor reported more
    external cores than the host has CPUs, which is impossible, so the
    reading says nothing about load).  Only clean ops supply headline
    numbers."""

    def __init__(self):
        self.monitor = ExternalLoadMonitor()
        self.host_cpus = os.cpu_count() or 1

    def start(self) -> None:
        self.monitor.start()

    def stop(self) -> dict:
        rec = self.monitor.stop()
        if rec["ext_cores"] > self.host_cpus:
            rec["load"] = "monitor_anomaly"
        elif rec["ext_cores"] > EXT_LOAD_MAX:
            rec["load"] = "polluted"
        else:
            rec["load"] = "clean"
        return rec
