"""Spark-free helpers: statistics, host-noise readings, result digests
and trace spans. Nothing here starts a JVM, so the benchmark's own tests
run without one."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass

# -- statistics ---------------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def top_percentile(n: int) -> float | None:
    """The highest percentile that still has at least ten samples beyond
    it, or None when there are too few samples for any."""
    if n < 20:
        return None
    return math.floor(100.0 * (n - 10) / n)


def warm_passes(walls: list[float]) -> list[float]:
    """The passes ``pass_s`` is the median of: all but the cold pass,
    which is the discarded warm-up."""
    if len(walls) < 2:
        raise ValueError(f"{len(walls)} passes leave no warm pass")
    return walls[1:]


def source_hash(root: str, dirs: tuple[str, ...] = ("perfbench", "science_datalake_spark")) -> str:
    """Hash of the Python sources under ``dirs``. Cached inputs, oracle
    digests and recorded runs are keyed by it, so a change to the engine
    or to the benchmark never meets figures made on other code."""
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(os.path.join(root, d)):
            subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(base, f)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


# -- host noise ---------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Host-wide CPU steal so far, in CPU-seconds, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21)
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * page)
    return out


def _tree(table: dict[int, tuple[int, float, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) of a process and all its descendants.
    A reaped descendant's CPU stays counted in its parent's cutime."""
    table = _proc_table()
    pids = [p for p in _tree(table, os.getpid() if root is None else root) if p in table]
    return sum(table[p][1] for p in pids), sum(table[p][2] for p in pids)


def descendants() -> list[int]:
    return _tree(_proc_table(), os.getpid())[1:]


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def tree_bytes(path: str) -> int:
    """Bytes of all files under a directory."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class HostSample:
    wall: float
    cpu: float
    rss: int
    steal: float
    load: float

    @classmethod
    def now(cls) -> HostSample:
        cpu, rss = tree_usage()
        return cls(time.perf_counter(), cpu, rss, steal_seconds(), load_average())


def host_delta(a: HostSample, b: HostSample) -> dict[str, float]:
    return {
        "wall_s": b.wall - a.wall,
        "cpu_s": b.cpu - a.cpu,
        "steal_s": b.steal - a.steal,
        "load1": b.load,
        "rss_bytes": b.rss,
    }


# -- result canonicalization ------------------------------------------


def canon_rows(columns: list[str], rows: list[tuple]) -> list[str]:
    """Columns sorted by name, cells canonicalized by the parity
    harness's own rule, rows sorted."""
    from science_datalake_spark.oracle import _canon_cell

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "|".join(columns[i] for i in order)
    body = sorted("|".join(_canon_cell(r[i]) for i in order) for r in rows)
    return [header] + body


def digest(columns: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in canon_rows(columns, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def frame_digest(df) -> str:
    """Digest of a pandas DataFrame (duck-typed: no pandas import)."""
    return digest(list(df.columns), list(df.itertuples(index=False, name=None)))


# -- trace spans --------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. A span's parent is the span open when it began;
    spans of one operation share its trace id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.trace_id = ""

    def begin(self, name: str) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace_id))
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def finish(self, idx: int) -> None:
        if not self._open or self._open[-1] != idx:
            raise RuntimeError("spans must close in LIFO order")
        self._open.pop()
        self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.finish(idx)

        traced.__wrapped__ = fn
        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (children may overlap one another)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(i, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(s.duration - covered)
    return out


def total_by_name(spans: list[Span], name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


def span_summary(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: how many, total seconds, and self seconds."""
    out: dict[str, dict[str, float]] = {}
    for s, own in zip(spans, self_times(spans)):
        row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.duration
        row["self_s"] += own
    return out
