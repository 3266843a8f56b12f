"""Summary statistics, the resident-memory sampler and on-disk sizes."""

from __future__ import annotations

import math
import os
import re
import statistics
import threading

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def median(values) -> float:
    return float(statistics.median(values))


# a tail percentile is reported only with this many samples beyond it
TAIL_BEYOND = 10
# seconds between two samples of the resident-memory sampler.  A sample
# costs ~15 ms of CPU (measured on a 4-core VM; see ``RssSampler.sample``),
# 3 % of a core at this rate.
RSS_INTERVAL_S = 0.5


def tail_percentile(values) -> tuple[int, float] | None:
    """The highest whole percentile p with at least ``TAIL_BEYOND`` samples
    strictly above its value, as ``(p, value)``; None when the samples are
    too few for any percentile to have that many beyond it.

    The value is the nearest-rank percentile: the ceil(p/100 * n)-th
    smallest sample."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        v = xs[max(0, math.ceil(p / 100 * n) - 1)]
        if sum(1 for x in xs if x > v) >= TAIL_BEYOND:
            return p, float(v)
    return None


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    if kids is None:
        kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def resident_bytes(pid: int) -> int:
    """Proportional resident set size: resident bytes with every page shared
    by k processes counted 1/k in each, so summing over processes counts
    shared pages once.  Plain RSS would count the pages a forked child
    shares with its parent twice (Spark forks its JVM to run shell
    commands, and each Python worker maps the same libraries)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def jvm_resident_bytes(pid: int) -> int:
    """Resident bytes of the driver JVM, from ``statm``.  The JVM shares no
    pages with the other processes counted (its Pss and RSS differed by
    under 1 % on a 500 MB JVM), and reading its Pss walks its page tables:
    ~40 ms of CPU per read for a 2 GB JVM, against microseconds here."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants
    (the driver JVM, ``jvm_resident_bytes``, and the Python workers and
    other processes it forks, ``resident_bytes``) on a background thread;
    ``peak`` is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self):
        self.peak = 0
        self.peak_jvm = 0
        self.peak_procs = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kids = _children()
        procs = descendants(os.getpid(), kids)
        jvms = set(kids.get(os.getpid(), []))
        jvm = sum(jvm_resident_bytes(p) for p in jvms)
        total = jvm + sum(resident_bytes(p) for p in procs if p not in jvms)
        if total > self.peak:
            self.peak, self.peak_procs = total, len(procs)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()
