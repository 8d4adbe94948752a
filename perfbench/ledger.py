"""Measurement plumbing: sample rules, the span ledger, Spark REST reads,
and the process-tree RSS sampler.

Spans run run -> pass -> operation -> Spark job. Operation spans come from
the benchmark's own clock around each public engine call; job spans come
from the Spark UI REST API, read after each pass outside the timed window.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Sample rules
# ---------------------------------------------------------------------------

MIN_BEYOND = 10  # a percentile is reported only with this many samples past it


def percentile(samples: list[float], q: float) -> float | None:
    """The q-quantile (0 < q < 1) of ``samples``, or None when fewer than
    MIN_BEYOND samples lie above it: a p50 needs 20 samples, a p90 100."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile out of (0, 1): {q}")
    n = len(samples)
    if n * (1.0 - q) < MIN_BEYOND - 1e-9:
        return None
    ordered = sorted(samples)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def median(samples: list[float]) -> float:
    """Median of at least two samples: no metric comes from a single one."""
    if len(samples) < 2:
        raise ValueError(f"a median needs at least 2 samples, got {len(samples)}")
    return statistics.median(samples)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Span ledger
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # run | pass | op | job
    name: str
    t0: float  # epoch seconds
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Ledger:
    """In-memory spans; written once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, kind: str, name: str, t0: float, t1: float, parent: Span | None = None, **attrs) -> Span:
        s = Span(len(self.spans), parent.id if parent else None, kind, name, t0, t1, attrs)
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(max(c.t0, span.t0), min(c.t1, span.t1)) for c in self.children(span)]
        return span.wall - union_length(kids)

    def subtree_self_total(self, span: Span) -> float:
        """Sum of self times over ``span`` and all its descendants; equals
        the span's wall time when children nest without overlapping. A
        child that runs past its parent's window makes the sum overshoot."""
        return self.self_time(span) + sum(self.subtree_self_total(c) for c in self.children(span))

    def add_jobs(self, op: Span, jobs: list[tuple[dict, float, float]]) -> None:
        """Add one operation's Spark jobs, ``(job, submitted, completed)``,
        as child spans. Concurrent jobs are charged exclusively (an overlap
        goes to the job that started first), but no job is clamped to the
        operation's window: one that ran outside it makes
        :meth:`subtree_self_total` overshoot the pass's wall time."""
        cursor = None
        for j, a, b in sorted(jobs, key=lambda x: x[1]):
            start = a if cursor is None else max(a, cursor)
            end = max(b, start)
            cursor = end if cursor is None else max(cursor, end)
            self.add("job", f"job-{j['jobId']}", start, end, op,
                     group=j.get("jobGroup"), submitted=a, completed=b)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# REST times are whole milliseconds; a window check allows this much more
JOB_SLACK_S = 0.05


def attribute_jobs(jobs: list[dict], ops: list, t0: float, t1: float) -> tuple[list[list], list[dict]]:
    """Charge the Spark jobs of one pass to its operations.

    ``jobs`` are ``/jobs`` REST entries; ``ops`` have ``groups``, ``t0`` and
    ``t1``; ``[t0, t1]`` is the pass window. A job belongs to the pass when
    its group is one of the pass's groups or it was submitted inside the
    window. It is charged to the operation that owns its group, else to the
    operation whose window (widened by JOB_SLACK_S) holds its submission.
    Returns one ``[(job, submitted, completed)]`` list per operation, with
    Spark's own times, and the pass's jobs that no operation took.
    """
    owner = {g: i for i, op in enumerate(ops) for g in op.groups}
    charged: list[list] = [[] for _ in ops]
    stray = []
    for j in jobs:
        if not j.get("submissionTime"):
            continue
        a = rest_time(j["submissionTime"])
        b = rest_time(j["completionTime"]) if j.get("completionTime") else t1
        i = owner.get(j.get("jobGroup"))
        if i is None:
            if not t0 - JOB_SLACK_S <= a <= t1 + JOB_SLACK_S:
                continue  # another pass's job, or set-up's
            i = next((k for k, op in enumerate(ops) if op.t0 - JOB_SLACK_S <= a <= op.t1 + JOB_SLACK_S), None)
        if i is None:
            stray.append(j)
        else:
            charged[i].append((j, a, max(a, b)))
    return charged, stray


# ---------------------------------------------------------------------------
# Spark UI REST API
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric_total(value: str) -> float:
    """SQL-metric display string -> seconds or bytes. Accumulated metrics
    read 'total (min, med, max ...)\\n8.0 s (2.0 s, ...)'; single ones
    read '8.0 s'. Plain counts ('10,000') come back as numbers."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        raise ValueError(f"unparseable SQL metric value {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {value!r}")
    return num * _UNITS.get(unit, 1.0)


def rest_time(stamp: str) -> float:
    """'2026-10-17T00:45:46.053GMT' -> epoch seconds."""
    dt = datetime.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


class SparkRest:
    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.sql_seen = 0

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def new_sql(self) -> list[dict]:
        """SQL executions (with node metrics) not returned by earlier calls."""
        out = self.get(f"/sql?details=true&offset={self.sql_seen}&length=100000")
        self.sql_seen += len(out)
        return out


PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}


# ---------------------------------------------------------------------------
# Process-tree RSS
# ---------------------------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parent.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def host_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def host_cpu_counters() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def descendants(root: int) -> list[int]:
    return [p for p in _tree_pids(root) if p != root]


RSS_PERIOD_S = 0.2


class RssSampler:
    """The run's one extra thread: samples the summed RSS of this process
    and its descendants (driver JVM, Python workers) every RSS_PERIOD_S."""

    def __init__(self) -> None:
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(RSS_PERIOD_S)

    def start(self) -> None:
        self._thread.start()

    def take_peak_mb(self) -> float:
        """Peak RSS in MB since the previous call; starts a new window."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / 1e6

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
