"""Clocks and statistics the benchmark reports, read from ``/proc``.

* :func:`tree_cpu_s` — CPU-seconds (user+system) of a process and all its
  descendants: the Python driver, the Spark JVM and the PySpark workers.
  Children that already exited count through their parent's
  ``cutime``/``cstime``, so the difference of two readings is the CPU the
  whole tree spent between them.
* :class:`BoxSample` — host-wide CPU steal share and load average.
* :func:`op_latency` — median and tail op latency over a mix of op
  kinds; the tail is the highest percentile that still has at least ten
  samples beyond it.
"""

from __future__ import annotations

import math
import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _process_table() -> tuple[dict[int, list[str]], dict[int, list[int]]]:
    fields: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(name)
        if f is None:
            continue
        pid = int(name)
        fields[pid] = f
        children.setdefault(int(f[1]), []).append(pid)  # f[1] = ppid
    return fields, children


def _tree(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie does not)."""
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def descendants(root: int | None = None) -> list[int]:
    """Live descendant pids of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    return _tree(root, _process_table()[1])[1:]


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU-seconds of ``root`` (default: this process) and its
    live descendants, including the reaped children each one accounts."""
    root = os.getpid() if root is None else root
    fields, children = _process_table()
    # utime, stime, cutime, cstime are fields 14-17 of stat(5)
    ticks = sum(
        sum(int(x) for x in fields[pid][11:15])
        for pid in _tree(root, children)
        if pid in fields
    )
    return ticks / _TICK


class BoxSample:
    """One reading of the host's CPU counters and 1-minute load."""

    def __init__(self) -> None:
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:9]]
        self.steal = cpu[7]
        self.total = sum(cpu)
        with open("/proc/loadavg") as f:
            self.load1 = float(f.read().split()[0])

    def steal_frac(self, since: "BoxSample") -> float:
        """Share of all CPU time the hypervisor stole since ``since``."""
        dt = self.total - since.total
        return (self.steal - since.steal) / dt if dt > 0 else 0.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def op_latency(by_kind: dict, beyond: int = 10) -> tuple[float, float, float, int]:
    """``(p50, tail, percentile, n)`` of op latency over a mix of op kinds.

    ``by_kind`` maps each op kind to its latencies. ``p50`` is the
    geometric mean over kinds of each kind's median, so every kind weighs
    the same however many samples it has and however far apart the kinds'
    latencies lie. For the tail each latency is divided by its own kind's
    median; of these ``n`` pooled ratios the rule takes the highest
    percentile that still has ``beyond`` ratios above it (sorted
    ascending, index ``n - beyond - 1``; percentile ``100 * (n - beyond)
    / n``), and ``tail = p50 * ratio``. At least half the ratios are >= 1,
    so from ``2 * beyond + 2`` samples on ``tail >= p50``; below that no
    percentile above the median qualifies and ``tail = p50`` at p50.
    """
    kinds = {k: list(v) for k, v in by_kind.items() if v}
    n = sum(len(v) for v in kinds.values())
    if n == 0:
        return 0.0, 0.0, 0.0, 0
    mids = {k: median(v) for k, v in kinds.items()}
    p50 = math.exp(statistics.fmean(math.log(m) for m in mids.values()))
    if n < 2 * beyond + 2:
        return p50, p50, 50.0, n
    ratios = sorted(x / mids[k] for k, v in kinds.items() for x in v)
    return p50, p50 * ratios[n - beyond - 1], 100.0 * (n - beyond) / n, n


def dir_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.stat(os.path.join(dirpath, fn)).st_size
            except OSError:
                pass
    return total


def files_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)
