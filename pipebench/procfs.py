"""Process-tree CPU and RSS accounting and host context, read from /proc.

The tree is the benchmark's own Python driver and every descendant: the
JVM that spark-submit execs, the PySpark daemon and its forked workers.

CPU is ``utime + stime + cutime + cstime`` summed over the live tree.  A
child's own times move into its parent's ``cutime``/``cstime`` when the
parent reaps it, so a worker that exits inside the timed window is still
counted, and never twice.  Steal is not charged: the kernel accounts
stolen time to the host, not to any task.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, int, int]:
    """(ppid, cpu ticks incl. reaped children, rss pages) from a
    ``/proc/<pid>/stat`` line.  The command name is parenthesised and
    may itself contain spaces or ')', so split after the LAST ')'."""
    rest = text[text.rindex(")") + 2:].split()
    # fields after comm, 0-based: 1 ppid, 11 utime, 12 stime, 13 cutime,
    # 14 cstime, 21 rss (pages)
    ppid = int(rest[1])
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ppid, ticks, int(rest[21])


def read_stats(proc: Path = Path("/proc")) -> dict[int, tuple[int, int, int]]:
    out = {}
    for d in proc.iterdir():
        if not d.name.isdigit():
            continue
        try:
            out[int(d.name)] = parse_stat((d / "stat").read_text())
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue                     # exited between listdir and read
    return out


def tree(stats: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


@dataclass
class TreeSample:
    cpu_s: float
    rss_bytes: int


def sample_tree(root: int, proc: Path = Path("/proc")) -> TreeSample:
    stats = read_stats(proc)
    pids = tree(stats, root)
    return TreeSample(
        cpu_s=sum(stats[p][1] for p in pids) / CLK_TCK,
        rss_bytes=sum(stats[p][2] for p in pids) * PAGE)


def cpu_times(proc: Path = Path("/proc")) -> tuple[int, int]:
    """(total ticks, steal ticks) of the aggregate ``cpu`` line."""
    with open(proc / "stat") as f:
        fields = f.readline().split()
    vals = [int(x) for x in fields[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already included in user/nice, so it is not re-added
    return sum(vals[:8]), vals[7]


def loadavg(proc: Path = Path("/proc")) -> float:
    return float((proc / "loadavg").read_text().split()[0])


class TreeMonitor:
    """Samples the tree's summed RSS and the 1-minute load average on a
    background thread between ``start`` and ``stop``; CPU and steal are
    read once at each end, since they are cumulative counters."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0
        self.loads: list[float] = []

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss,
                                sample_tree(self.root).rss_bytes)
            self.loads.append(loadavg())

    def start(self) -> "TreeMonitor":
        s = sample_tree(self.root)
        self.peak_rss = s.rss_bytes
        self.loads = [loadavg()]
        self._cpu0 = s.cpu_s
        self._host0 = cpu_times()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join()
        s = sample_tree(self.root)
        self.peak_rss = max(self.peak_rss, s.rss_bytes)
        total1, steal1 = cpu_times()
        total0, steal0 = self._host0
        return {
            "cpu_s": s.cpu_s - self._cpu0,
            "peak_rss_bytes": self.peak_rss,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "loadavg_mean": sum(self.loads) / len(self.loads),
        }


def process_start_time(pid: int | None = None) -> float:
    """Wall-clock start of a process (epoch seconds), from its start
    tick in /proc/<pid>/stat and the boot time in /proc/stat."""
    pid = os.getpid() if pid is None else pid
    text = Path(f"/proc/{pid}/stat").read_text()
    start_ticks = int(text[text.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / CLK_TCK


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` is alive; return the ones that are."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if Path(f"/proc/{p}").exists()
                 and _state(p) != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


def _state(pid: int) -> str:
    try:
        text = Path(f"/proc/{pid}/stat").read_text()
    except FileNotFoundError:
        return "X"
    return text[text.rindex(")") + 2:].split()[0]
