"""Host context: CPU steal and load over an interval, and the peak RSS of
the benchmark's process tree (JVM, Python workers, receiver, generator)."""

from __future__ import annotations

import os
import threading


def parse_cpu_line(line: str) -> list[int] | None:
    """Aggregate `cpu` line of /proc/stat -> [user .. steal] jiffies, or
    None when the line is not a cpu line or has fewer than 8 counters
    (older kernels and some containers print fewer fields)."""
    parts = line.split()
    if not parts or parts[0] != "cpu":
        return None
    try:
        vals = [int(x) for x in parts[1:9]]
    except ValueError:
        return None
    return vals if len(vals) >= 8 else None


def cpu_stat() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return parse_cpu_line(f.readline())
    except OSError:
        return None


def steal_pct(before: list[int] | None, after: list[int] | None) -> float | None:
    """Steal jiffies over the interval as a percentage of all jiffies."""
    if before is None or after is None:
        return None
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else None


def load_avg() -> float | None:
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


class Interval:
    """Steal and 1-minute load average over one workload interval."""

    def __init__(self) -> None:
        self.cpu0 = cpu_stat()
        self.load0 = load_avg()

    def close(self) -> dict[str, float]:
        steal = steal_pct(self.cpu0, cpu_stat())
        load1 = load_avg()
        loads = [x for x in (self.load0, load1) if x is not None]
        return {
            "host.steal_pct": steal if steal is not None else 0.0,
            "host.load_avg": sum(loads) / len(loads) if loads else 0.0,
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        fields = stat[stat.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread tracking the peak summed RSS of this process and
    all its descendants."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(period_s,), daemon=True)
        self._t.start()

    def _loop(self, period_s: float) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(period_s)

    def stop(self) -> float:
        """Stop sampling; peak RSS in MB."""
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / (1 << 20)
