"""In-memory spans and counters, and the host samplers that sit beside them.

A span records (id, name, parent, run, start, end); counters are named
numbers recorded at the same boundaries. Nothing is written until the run
ends (:meth:`Tracer.dump`), so tracing costs two clock reads and a list
append per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished span (a task another process ran, timed on
        the same ``perf_counter`` clock) under the current span."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "run": self.run_id, "start": start, "end": end})

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval covered by its
        children. Children run by the worker processes overlap, so the
        covered part is the union of the children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id,
                       "spans": [dict(s, self=selfs.get(s["id"]))
                                 for s in self.spans],
                       "counts": self.counts}, f, indent=1)


# ---------------------------------------------------------------------------
# host samplers
# ---------------------------------------------------------------------------

def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostWindow:
    """Load average, steal % and the process tree's CPU seconds over one
    pass — recorded beside the pass time as data; no pass is ever dropped
    for them."""

    def __enter__(self):
        self._j0 = _cpu_jiffies()
        self._cpu0 = tree_cpu_s(os.getpid())
        return self

    def __exit__(self, *exc):
        s1, t1 = _cpu_jiffies()
        self.steal_pct = 100.0 * (s1 - self._j0[0]) / max(t1 - self._j0[1], 1)
        self.load1 = os.getloadavg()[0]
        self.cpu_s = tree_cpu_s(os.getpid()) - self._cpu0
        return False


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of a process and its live descendants."""
    total = 0
    for pid in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])     # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, int]:
    """{pid: parent pid} from one /proc scan."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        table[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return table


def descendants(root_pid: int) -> set[int]:
    table = _proc_table()
    found, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in table.items():
            if pp == p and c not in found:
                found.add(c)
                frontier.append(c)
    return found


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants (the pass
    workers; in a traced run also the driver JVM and the Python daemon and
    workers it forks), summed as PSS: a page shared by several of them,
    as a forked Python worker shares its daemon's, counts once."""
    kb = 0
    for pid in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def reap_descendants(timeout: float = 30.0) -> None:
    """Kill whatever this process started that is still running (after an
    interrupted run, e.g. a JVM killed mid-launch) and wait for it."""
    import signal
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)      # reap our own children
        except ChildProcessError:
            pass
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)}
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


class PeakRss:
    """Background sampler of the process tree's resident memory
    (:func:`tree_rss_mb`); ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
