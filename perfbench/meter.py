"""/proc meters for the benchmark process tree.

The process tree is this Python driver plus every descendant: the py4j JVM
that `pyspark` launches and the Python workers the JVM forks. `TreeMeter`
samples, in a background thread, the resident set of this Python process, the JVM
and the JVM's Python workers (their proportional set size), and keeps the
peak. Not counted: the
benchmark's own helper processes (the DuckDB checker is a child of the
driver), and the JVM's short-lived shell-command children (Hadoop runs
`chmod` and friends without its native library), which until they exec
share the JVM's memory and would count it twice;
`cpu_window` reads, around one timed op, the 1-minute load average and the
CPU cores the rest of the machine burned while the op ran ("foreign" cores:
machine busy time minus the tree's busy time, over the op's wall time).
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """{pid: (ppid, busy_jiffies, rss_pages, comm)} for every readable process."""
    out: dict[int, tuple[int, int, int, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # the process exited between listdir and open
        # comm (field 2) may hold spaces; the fields after it are fixed
        fields = stat[stat.rfind(")") + 2:].split()
        comm = stat[stat.find("(") + 1:stat.rfind(")")]
        out[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21]), comm)
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all of its live descendants."""
    table = _proc_table()
    return _descendants(table, os.getpid() if root is None else root)


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: the Python workers are forked from one
    daemon and share its pages copy-on-write, which RSS would count once
    per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the worker exited
    return 0


def _tree_busy_jiffies() -> int:
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()))


def _machine_busy_jiffies() -> int:
    """Non-idle jiffies over all CPUs (everything but idle and iowait)."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v) - v[3] - v[4]


class TreeMeter:
    """Background sampler of the counted processes' resident set size
    (see the module docstring), in all and split into the JVM and the
    Python processes; set `jvm_pid` once the JVM runs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_python_bytes = 0
        self.jvm_pid: int | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        table = _proc_table()
        jvm = table[self.jvm_pid][2] * _PAGE if self.jvm_pid in table else 0
        python = table[os.getpid()][2] * _PAGE
        if self.jvm_pid is not None:
            python += sum(_pss_bytes(p) for p in _descendants(table, self.jvm_pid)
                          if table[p][3].startswith("python"))
        rss = jvm + python
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_python_bytes = max(self.peak_python_bytes, python)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeMeter":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="perfbench-meter", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class CpuWindow:
    """Load average and foreign cores over one interval (`start`/`stop`)."""

    def start(self) -> None:
        self._t = time.perf_counter()
        self._machine = _machine_busy_jiffies()
        self._tree = _tree_busy_jiffies()

    def stop(self) -> dict:
        elapsed = time.perf_counter() - self._t
        machine = _machine_busy_jiffies() - self._machine
        tree = _tree_busy_jiffies() - self._tree
        foreign = max(0, machine - tree) / _HZ / elapsed if elapsed > 0 else 0.0
        return {"load1": round(os.getloadavg()[0], 2), "foreign_cores": round(foreign, 2)}
