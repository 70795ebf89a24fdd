"""Process-tree CPU and memory, and the run-context record.

The tree is this process and every descendant: the Spark JVM, its Python
worker daemon and the workers it forks. CPU of a process that exits is
folded into its parent's ``cutime``/``cstime`` when the parent reaps it,
so the sum over live processes of own plus reaped-children time is
monotone and its difference over an interval is the tree's CPU over it.

Memory is sampled by a separate process (this file run as a script), so
that the sampling neither adds to the tree's CPU nor holds the driver's
GIL. Run directly: ``python3 measure.py <root pid> <interval s>`` samples
until its stdin closes, then prints the peak in MiB.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # Fields after the parenthesized command name, which may hold spaces.
        out[int(name)] = raw[raw.rindex(")") + 2:].split()
    return out


#: Live memory samplers: children of this process kept out of its tree.
_SAMPLERS: set[int] = set()


def _tree(stats: dict[int, list[str]], root: int, skip=frozenset()) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu_s(root: int | None = None) -> float:
    """Own plus reaped-children CPU seconds summed over the process tree."""
    stats = _stat_fields()
    pids = _tree(stats, root or os.getpid(), _SAMPLERS)
    # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat.
    return sum(sum(int(x) for x in stats[p][11:15]) for p in pids if p in stats) / _TICK


def tree_pss_mb(root: int, skip=frozenset()) -> float:
    """Proportional set size of the tree: pages shared by forked Python
    workers count once in total, not once per worker."""
    kib = 0
    for pid in _tree(_stat_fields(), root, skip):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                kib += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):  # exited, or a kernel thread
            continue
    return kib / 1024


class PeakMemory:
    """Peak PSS of this process's tree, sampled every ``interval_s`` by a
    separate process that is left out of the tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0

    def __enter__(self) -> "PeakMemory":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()), str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        _SAMPLERS.add(self._proc.pid)
        return self

    def __exit__(self, *exc) -> None:
        try:
            out, _ = self._proc.communicate(timeout=60)  # closing stdin stops it
            self.peak_mb = float(out)
        finally:
            if self._proc.poll() is None:
                self._proc.kill()
                self._proc.wait()
            _SAMPLERS.discard(self._proc.pid)


def _sample(root: int, interval_s: float) -> None:
    peak, me = 0.0, {os.getpid()}
    while True:
        peak = max(peak, tree_pss_mb(root, me))
        if select.select([sys.stdin], [], [], interval_s)[0] and not sys.stdin.read():
            break
    print(peak)


def other_spark_jvms() -> int:
    """Live Spark JVMs outside this process tree."""
    stats = _stat_fields()
    mine = set(_tree(stats, os.getpid()))
    n = 0
    for pid in stats:
        if pid in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, or None where it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


if __name__ == "__main__":
    _sample(int(sys.argv[1]), float(sys.argv[2]))
