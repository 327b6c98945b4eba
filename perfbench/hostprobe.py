"""Host-speed probe and the program's CPU use, read from /proc.

The probe is a fixed pure-Python loop (~25 ms on the reference host). It
runs before every operation, once the program has gone idle. A time ``t``
measured in a run whose median probe reads ``p`` is reported as
``t * P_REF_S / p``: the time it would have taken on a host whose probe
reads ``P_REF_S`` (a rate is scaled the other way).

Around every probe the CPU time of the program's processes (the JVM and
the Python workers, i.e. every descendant of this process) is read from
/proc. Work they do during the probe would slow the probe and so make the
program look faster; a run whose program CPU during probes is not near
zero is failed (see ``MAX_PROGRAM_CPU``).
"""

from __future__ import annotations

import os
import statistics
import time

# A median probe reading on the reference host (4-CPU x86-64 container,
# Python 3.11; it reads 18-28 ms with the host's load): scaled values read
# like raw seconds on that host at that load.
P_REF_S = 0.028
PROBE_ITERS = 250_000
# program CPU seconds per probe wall second above which a run fails
MAX_PROGRAM_CPU = 0.25
IDLE_WINDOW_S = 0.02
IDLE_MAX_S = 0.3

_TICK = os.sysconf("SC_CLK_TCK")


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFF
    return x


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds, state) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after "pid (comm)": state ppid ... utime(14) stime(15)
        out[int(name)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK, rest[0])
    return out


def descendants(root: int | None = None) -> dict[int, float]:
    """pid -> cpu seconds of every live descendant of ``root``."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        if table[pid][2] != "Z":
            out[pid] = table[pid][1]
        todo.extend(children.get(pid, []))
    return out


def jvm_peak_rss_mb() -> float:
    """VmHWM of the JVM child (in local mode it runs the executors too)."""
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return float("nan")


class HostProbe:
    """Runs probes and keeps every reading."""

    def __init__(self):
        self.probes: list[float] = []
        self.program_cpu: list[float] = []
        self.idle_waits: list[float] = []
        self.wall = 0.0  # total wall time spent in probe(), idle waits excluded

    def wait_idle(self) -> None:
        """Sleep until the program used no CPU for one IDLE_WINDOW_S window
        (the JVM compiles and collects garbage for a while after a Spark
        job), for at most IDLE_MAX_S."""
        t0 = time.perf_counter()
        last = descendants()
        while time.perf_counter() - t0 < IDLE_MAX_S:
            time.sleep(IDLE_WINDOW_S)
            now = descendants()
            if sum(now[p] - last[p] for p in now if p in last) == 0:
                break
            last = now
        self.idle_waits.append(time.perf_counter() - t0)

    def probe(self) -> float:
        self.wait_idle()
        t_in = time.perf_counter()
        before = descendants()
        t0 = time.perf_counter()
        _spin(PROBE_ITERS)
        p = time.perf_counter() - t0
        after = descendants()
        cpu = sum(after[pid] - before[pid] for pid in after if pid in before)
        self.probes.append(p)
        self.program_cpu.append(cpu)
        self.wall += time.perf_counter() - t_in
        return p

    def median(self) -> float:
        return statistics.median(self.probes)

    def iqr_ratio(self) -> float:
        if len(self.probes) < 2:
            return 0.0
        q1, _, q3 = statistics.quantiles(self.probes, n=4)
        return (q3 - q1) / self.median()

    def program_cpu_share(self) -> float:
        """Program CPU seconds per second of probing (0 = fully idle)."""
        return sum(self.program_cpu) / max(sum(self.probes), 1e-9)
