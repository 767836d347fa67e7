"""Host record, ambient canary and process-tree memory sampling."""
from __future__ import annotations

import json
import os
import select
import signal
import statistics
import subprocess
import sys
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """Driver JVM heap sized to the host: a quarter of RAM, 2-8 GB."""
    return f"{max(2, min(8, int(mem_total_gb() // 4)))}g"


def thp_mode() -> str:
    try:
        with open("/sys/kernel/mm/transparent_hugepage/enabled") as f:
            text = f.read()
    except OSError:
        return "unknown"
    return text[text.find("[") + 1:text.find("]")] if "[" in text else text.strip()


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / TICKS


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time taken by the hypervisor between two readings
    of :func:`cpu_ticks`: a sign that another tenant slowed the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


CANARY = """
import time
import numpy as np
t0 = time.perf_counter()
rng = np.random.default_rng(0)
for _ in range(3):
    a = rng.normal(size=(136, 136, 136))
    b = (a * 1.00001).tobytes()
    del a, b
print(time.perf_counter() - t0)
"""


def canary(n: int) -> dict:
    """Time a fixed CPU + 20 MB-allocation loop ``n``-way.

    ``n`` is at most the core count, so the reading shows contention
    from other tenants rather than from the canary itself."""
    procs = [subprocess.Popen([sys.executable, "-c", CANARY], stdout=subprocess.PIPE,
                              text=True) for _ in range(n)]
    par = [float(p.communicate(timeout=120)[0]) for p in procs]
    return {"procs": n, "nway_median_s": round(statistics.median(par), 4),
            "nway_max_s": round(max(par), 4)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * PAGE


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024


def tree_memory_bytes(pid: int, skip: int | None = None) -> tuple[int, int]:
    """Resident memory of ``pid`` and its descendants (leaving out
    ``skip``), as (JVM bytes, Python bytes). Python processes count their
    proportional share (PSS): forked Python workers share most of their
    pages, and summing their RSS would count those pages once per worker.
    The JVM shares little and its page walk is slow, so it counts its
    RSS."""
    jvm = py = 0
    for p in [pid, *descendants(pid)]:
        if p == skip:
            continue
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    jvm += _rss(p)
                else:
                    py += _pss(p)
        except (OSError, StopIteration, ValueError, IndexError):
            pass
    return jvm, py


def watch(pid: int, interval: float) -> dict:
    """Sample the memory of ``pid``'s tree every ``interval`` seconds
    until stdin closes or ``pid`` exits; return the peaks."""
    me = os.getpid()
    rec = {"peak": 0, "peak_jvm": 0, "peak_python": 0, "samples": 0}
    while os.getppid() == pid:
        jvm, py = tree_memory_bytes(pid, skip=me)
        rec["peak"] = max(rec["peak"], jvm + py)
        rec["peak_jvm"] = max(rec["peak_jvm"], jvm)
        rec["peak_python"] = max(rec["peak_python"], py)
        rec["samples"] += 1
        if select.select([sys.stdin], [], [], interval)[0]:
            break  # end of input: the measured process is done
    return rec


class PeakMemory:
    """Peak memory of this process tree, sampled by a child process so
    that the sampling takes no CPU time or interpreter lock from the
    measured process."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_python = self.samples = 0

    def __enter__(self) -> "PeakMemory":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "watch", str(os.getpid()),
             str(self.interval)], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        try:
            out, _ = self._proc.communicate(timeout=60)  # closes stdin
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
            raise
        for k, v in json.loads(out).items():
            setattr(self, k, v)


def reap(pids: list[int], timeout: float = 20.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL and return the ones that did not."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


if __name__ == "__main__":  # the sampler process of PeakMemory
    print(json.dumps(watch(int(sys.argv[2]), float(sys.argv[3]))), flush=True)
