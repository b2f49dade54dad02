"""Host canary and process memory readings.

The probes do a fixed amount of work that does not depend on the code under
test, so a reading that moves between two runs points at the host (a busy
CPU, a disk storm), not at a code change.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import threading
import time

_CPU_BLOCK = bytes(range(256)) * 4096  # 1 MiB
_FSYNC_WRITES = 16


def cpu_probe_ms() -> float:
    """Milliseconds to SHA-256 a fixed 64 MiB, one core."""
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(_CPU_BLOCK)
    h.hexdigest()
    return (time.perf_counter() - t) * 1000.0


def fsync_probe_ms(work_dir: str) -> float:
    """Milliseconds for 16 appends of 4 KiB, each followed by fsync, to a
    scratch file in ``work_dir``."""
    path = os.path.join(work_dir, "fsync-probe.bin")
    block = b"\xa5" * 4096
    t = time.perf_counter()
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    try:
        for _ in range(_FSYNC_WRITES):
            os.write(fd, block)
            os.fsync(fd)
    finally:
        os.close(fd)
        os.unlink(path)
    return (time.perf_counter() - t) * 1000.0


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests. On a shared host this, not the
    single-core probe, is what tracks slow runs: a stage waits for its
    slowest task, so losing part of one vCPU slows the whole stage."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / sum(d) if sum(d) else 0.0


class StealSampler:
    """Reads :func:`cpu_ticks` every ``PERIOD_S`` on a background thread
    while in use, so the steal during any interval of that time can be looked
    up afterwards."""

    PERIOD_S = 0.05

    def __init__(self):
        self.samples: list[tuple[float, list[int]]] = []  # (epoch s, ticks)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="steal-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.samples.append((time.time(), cpu_ticks()))
            if self._stop.wait(self.PERIOD_S):
                self.samples.append((time.time(), cpu_ticks()))
                return

    def steal(self, start: float, end: float) -> float:
        """Steal share over the shortest sampled span that covers
        ``[start, end]`` (epoch seconds), as far as the samples reach."""
        times = [t for t, _ in self.samples]
        i = max(0, bisect.bisect_right(times, start) - 1)
        j = min(len(times) - 1, max(i + 1, bisect.bisect_left(times, end)))
        return steal_ratio(self.samples[i][1], self.samples[j][1])


def canary(work_dir: str) -> dict[str, float]:
    return {"cpu_probe_ms": cpu_probe_ms(), "fsync_probe_ms": fsync_probe_ms(work_dir)}


def peak_rss_mb(pid: int) -> float:
    """The JVM's resident-set high-water mark (``VmHWM``), in MB."""
    with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
        comm = fh.read().strip()
    if comm != "java":
        raise RuntimeError(f"pid {pid} is {comm!r}, not the JVM")
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
