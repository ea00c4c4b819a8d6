"""Host readings from /proc: load, CPU steal and process memory."""

from __future__ import annotations

import os
import re
import threading

# a run is flagged noisy when hypervisor steal takes more than this
# share of CPU time (the load average is recorded but not used: back to
# back runs see the previous run's own load in it)
STEAL_NOISY = 0.05


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings
    (steal is the 8th field of the cpu line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total > 0 else 0.0


class HostNoise:
    """Load average and steal share at the start and end of a run."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self._cpu_start = cpu_times()

    def finish(self) -> dict:
        load_end = os.getloadavg()
        steal = steal_share(self._cpu_start, cpu_times())
        ncpu = os.cpu_count() or 1
        return {
            "load_start": [round(x, 2) for x in self.load_start],
            "load_end": [round(x, 2) for x in load_end],
            "steal_share": round(steal, 4),
            "cpus": ncpu,
            "noisy": steal > STEAL_NOISY,
        }


def rss_bytes(pid: int) -> int:
    """Resident memory of one process (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed resident memory of ``pids()`` — this Python
    process and the driver JVM — every ``interval`` seconds."""

    def __init__(self, pids, interval: float = 0.25):
        self._pids = pids
        self.peak = self._sample()
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> int:
        return sum(rss_bytes(p) for p in self._pids())

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())
        return False


# a unified-logging GC line: "[12.345s][info][gc] GC(7) Pause Young ... 412M->96M(1024M) 8.1ms"
_GC_LINE = re.compile(r"^\[(\d+(?:\.\d+)?)s\].*?(\d+)([KMG])->(\d+)([KMG])\(")
_MIB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def heap_after_gc_peak_mb(gc_log: str, until_s: float) -> float:
    """Largest heap occupancy right after a collection, in MiB, over the
    collections logged up to JVM uptime ``until_s`` (0 if none ran).
    Unlike resident memory it follows the live data, not how far the
    collector chose to grow the heap."""
    peak = 0.0
    with open(gc_log) as fh:
        for line in fh:
            m = _GC_LINE.match(line)
            if m and float(m.group(1)) <= until_s:
                peak = max(peak, int(m.group(4)) * _MIB[m.group(5)])
    return peak
