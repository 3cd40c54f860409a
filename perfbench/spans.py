"""Measurement helpers: percentiles, spans, process-tree memory, Spark's
event log and the finalize-lag join.

Spans are recorded by wrapping the package's functions and methods from
outside (``Tracer.wrap``); nothing inside the package is changed. Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


# -- percentiles ----------------------------------------------------------------


def tail_percentile(n: int, cap: int = 90) -> int:
    """Highest whole percentile, at most ``cap``, that leaves at least ten
    samples beyond it under the nearest-rank rule; never below the median
    (for fewer than 20 samples the median is the only tail there is)."""
    if n <= 0:
        raise ValueError("no samples")
    best = 50
    for q in range(50, cap + 1):
        if n - math.ceil(q * n / 100) >= 10:
            best = q
    return best


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = max(1, math.ceil(q * len(s) / 100))
    return s[k - 1]


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


# -- finalize lag -----------------------------------------------------------------


def finalize_lags(due_by_range: dict[int, float], appeared_by_range: dict[int, float]
                  ) -> tuple[dict[int, float], list[int]]:
    """Join ranges' due times (when the tick holding the range's horizon
    block was due) with the time each range's final file appeared. Returns
    the lag of each range that appeared, by range start, and the range
    starts that did not appear."""
    lags, missing = {}, []
    for rs, due in sorted(due_by_range.items()):
        seen = appeared_by_range.get(rs)
        if seen is None:
            missing.append(rs)
        else:
            lags[rs] = seen - due
    return lags, missing


# -- spans -------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of possibly-overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder.

    A span's parent is the innermost open span on the same thread; a span
    opened on a helper thread (the sink's per-table write pool, the FS
    rename pool) with nothing open on that thread is parented to the
    operation span open at the time. Every span carries the id of the
    operation (batch, query or epoch) it belongs to."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._op_span: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(sid, name, time.time(), 0.0,
                  parent.sid if parent else None,
                  sid if op else (parent.op if parent else None), attrs)
        stack.append(sp)
        prev_op = self._op_span
        if op:
            self._op_span = sp
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if op:
                self._op_span = prev_op
            with self._lock:
                self.spans.append(sp)

    def current_op(self) -> Span | None:
        """The operation span open now (on any thread)."""
        return self._op_span

    def wrap(self, owner, attr: str, name, op: bool = False, enable=None,
             before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call.
        ``name`` is a string or a function of the call's arguments.

        ``enable``, a function of the call's arguments, switches tracing on
        or off for each call (and off again when it returns). Around a
        traced call, outside its span, ``before(*args)`` runs first and
        ``after(state, *args)`` last, with ``state`` what ``before``
        returned."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if enable is not None:
                tracer.enabled = bool(enable(*args, **kwargs))
            try:
                if not tracer.enabled:
                    return orig(*args, **kwargs)
                label = name(*args, **kwargs) if callable(name) else name
                state = before(*args, **kwargs) if before else None
                with tracer.span(label, op=op):
                    result = orig(*args, **kwargs)
                if after:
                    after(state, *args, **kwargs)
                return result
            finally:
                if enable is not None:
                    tracer.enabled = False

        setattr(owner, attr, wrapper)

    # -- analysis ------------------------------------------------------------

    def ops(self, name: str) -> list[Span]:
        return sorted((s for s in self.spans if s.name == name and s.op == s.sid),
                      key=lambda s: s.start)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            kids = [(max(c.start, s.start), min(c.end, s.end))
                    for c in children.get(s.sid, ())]
            covered = union_length([(a, b) for a, b in kids if b > a])
            out[s.sid] = s.dur - covered
        return out

    def per_op(self, op: Span, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.op == op.sid and s.name.startswith(prefix)]

    def covered(self, op: Span, prefix: str) -> float:
        """Wall time of ``op`` covered by its spans whose name starts with
        ``prefix`` (overlaps counted once)."""
        return union_length(
            (max(s.start, op.start), min(s.end, op.end))
            for s in self.per_op(op, prefix) if s.sid != op.sid
        )


# -- process-tree memory --------------------------------------------------------------


def children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids[ppid].append(int(entry))
    return kids


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int, python_only: bool = False) -> int:
    """Proportional set size of ``root`` and all its descendants, or with
    ``python_only`` of the Python processes among them. PSS, not RSS:
    forked Python workers share pages with their parent, and a sum of RSS
    would count those pages once per worker."""
    kids = children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if python_only:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if not fh.read().startswith("python"):
                        continue
            except OSError:
                continue
        total += pss_bytes(pid)
    return total


class MemorySampler:
    """Background thread sampling the memory of this process tree; ``peak``
    holds the highest sum seen.

    Until ``watch_jvm`` is called, every process counts by its PSS. From
    then on the Python processes (the driver and Spark's workers) count by
    their PSS and the JVM by the memory it reports holding (``jvm_held``).
    The JVM's resident size is not used: how far the collector grows the
    heap past what it holds is the collector's choice and differs from run
    to run by a quarter of the total; and a child the JVM forks to run a
    command shares its pages until the exec, so its PSS would count a
    share of the JVM twice."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._jvm_held = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def watch_jvm(self, jvm_held) -> None:
        """From now on count the JVM as ``jvm_held()`` bytes."""
        self._jvm_held = jvm_held

    def sample(self) -> None:
        held = self._jvm_held
        if held is None:
            total = tree_pss_bytes(os.getpid())
        else:
            try:
                total = tree_pss_bytes(os.getpid(), python_only=True) + held()
            except Exception:  # the JVM is going away
                return
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (before the JVM stops)."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot. The steal share of a
    run says how much the host's other guests took from it."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


# -- Spark event log ------------------------------------------------------------------


@dataclass
class EventLog:
    jobs: list[float]                       # job submission times (s)
    tasks: list[dict]                       # per task: end time + metrics


def read_event_log(directory: str) -> EventLog:
    """Parse the (uncompressed) event log(s) Spark wrote under ``directory``."""
    jobs, tasks = [], []
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    jobs.append(json.loads(line)["Submission Time"] / 1000.0)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    tasks.append({
                        "end": info.get("Finish Time", 0) / 1000.0,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "out_bytes": (m.get("Output Metrics") or {})
                        .get("Bytes Written", 0),
                    })
    return EventLog(jobs, tasks)


def in_window(times, start: float, end: float) -> int:
    return sum(1 for t in times if start <= t <= end)
