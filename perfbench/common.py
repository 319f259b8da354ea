"""Shared pieces of the benchmark: op records, spans, result hashing,
statistics, memory sampling and run-hygiene stamps.

Nothing here imports the engine; the workloads do, after ``run.py`` has
checked that the engine package is importable.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa

ROOT = Path(__file__).resolve().parent.parent


@dataclass
class Span:
    """One timed call into a layer; ``parent`` is the index of the span that
    caused it (None for a top-level op), ``op_id`` groups spans of one op."""

    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing, so the
    untraced path does no bookkeeping beyond one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(
            [s.__dict__ for s in self.spans], separators=(",", ":")))

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out


class _SpanCtx:
    """Times its block into ``ms`` always; records a span only when the
    tracer is enabled."""

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.t0 = time.perf_counter()
        if not self.t.enabled:
            return self
        parent = self.t._stack[-1] if self.t._stack else None
        self.idx = len(self.t.spans)
        self.t.spans.append(Span(self.name, time.time(), 0.0, parent, self.t.op_id))
        self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.ms = (time.perf_counter() - self.t0) * 1000.0
        if self.t.enabled:
            self.t.spans[self.idx].end = time.time()
            self.t._stack.pop()
        return False


@dataclass
class Op:
    """One closed-loop operation of a workload round.

    ``run()`` is the timed call; ``check(result)`` returns None when the
    result matches the model, else a message; ``probe(result)`` runs only
    in traced rounds, after the check, outside the timed interval."""

    kind: str
    cls: str  # read | write | mutate | maintain
    run: object
    check: object
    probe: object = None


@dataclass
class OpRecord:
    kind: str
    cls: str
    round: int
    op_id: str
    t0: float  # epoch seconds
    t1: float
    ok: bool
    error: str | None = None
    rows: int = 0  # rows a full scan read, for scan_rows_per_s

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def _canon_value(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, list):
        return [_canon_value(x) for x in v]
    return v


def table_hash(table: pa.Table) -> str:
    """Order-insensitive content hash: columns by name, rows sorted by their
    canonical JSON form.  Integer widths are unified by JSON, floats keep
    every digit (the generators emit binary-exact values, so sums agree
    bit for bit between engines)."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(json.dumps([_canon_value(col[i]) for col in data])
                  for i in range(table.num_rows))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (driver, JVM,
    Python workers)."""
    kids = _children_map()
    todo, total = [root_pid], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def steal_ticks() -> int | None:
    """Cumulative hypervisor steal ticks from /proc/stat (None if absent)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) if fields[0] == "cpu" else None
    except (OSError, IndexError, ValueError):
        return None
