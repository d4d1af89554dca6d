"""Measurement plumbing shared by the workloads: spans with Spark job
attribution, operation accounting, quantiles and a process-tree RSS sampler.

Nothing here imports pyspark; the Spark context is passed in by the caller.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def pct(values, q: int) -> float:
    """The q-th percentile (inclusive method), the single value for one
    sample, 0.0 for none."""
    values = sorted(values)
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# --------------------------------------------------------------------------- #
# Spans
# --------------------------------------------------------------------------- #


@dataclass
class Span:
    name: str
    layer: str
    span_id: int
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    jobs: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class JobCounter:
    """Counts the Spark jobs a call launched by diffing the job ids of the
    calling thread's job group (``spark.jobGroup.id``) around it. Inside
    ``foreachBatch`` the group is the one Structured Streaming set for the
    batch; on the driver's main thread it is the group set by the caller.

    The session must retain every job (``spark.ui.retainedJobs``): the diff
    is of the group's job count, which is one Py4J call where reading the
    ids back costs one call per job."""

    def __init__(self, sc):
        self.sc = sc
        # The Java tracker: PySpark's wrapper copies the id array to a list.
        self.tracker = sc._jsc.statusTracker()

    def group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def count(self, group: str | None) -> int:
        if group is None:
            return 0
        return len(self.tracker.getJobIdsForGroup(group))


class Tracer:
    """Spans around calls into the engine's public functions.

    Every span always measures its wall time (the workloads build their
    end-to-end numbers from it). With ``enabled`` the tracer also keeps the
    span, links it to its parent on the same thread and attributes Spark
    jobs to it; the time spent on that bookkeeping is itself measured and
    reported as ``overhead_ms``.
    """

    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled and sc is not None
        self.jobs = JobCounter(sc) if self.enabled else None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """``name`` is ``<layer>:<call>``; the layer is the engine module the
        call enters (``streaming.maintain``, ``operators.iterate``, ...)."""
        t_book = time.perf_counter()
        stack = self._stack()
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        s = Span(
            name=name,
            layer=name.split(":", 1)[0],
            span_id=span_id,
            parent=stack[-1].span_id if stack else None,
            thread=threading.current_thread().name,
            start=0.0,
        )
        group = before = None
        if self.enabled:
            group = self.jobs.group()
            before = self.jobs.count(group)
        stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_book
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                s.jobs = self.jobs.count(group) - before
                with self._lock:
                    self.spans.append(s)
                self.overhead_s += time.perf_counter() - s.end

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer: span duration minus the part covered by child spans."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + max(s.ms - child_ms.get(s.span_id, 0.0), 0.0)
        return out

    def to_records(self) -> list[dict]:
        return [
            {
                "run_id": self.run_id,
                "id": s.span_id,
                "parent": s.parent,
                "name": s.name,
                "thread": s.thread,
                "start": s.start,
                "end": s.end,
                "jobs": s.jobs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


# --------------------------------------------------------------------------- #
# Operations: everything attempted, and what failed
# --------------------------------------------------------------------------- #


@dataclass
class Ops:
    """Operations attempted (batches, stages, queries, checks) and the names
    of those that raised or failed their correctness check."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, name: str, why: str) -> None:
        self.failures.append((name, why.strip().splitlines()[0][:300] if why.strip() else "failed"))

    def check(self, name: str, ok: bool, why: str = "") -> bool:
        """Count one check; record it as failed unless ``ok``."""
        self.attempt()
        if not ok:
            self.fail(name, why or "result differs from the oracle")
        return ok

    @contextmanager
    def guard(self, name: str):
        """Count one operation; if its body raises, record it as failed and
        carry on with the next one."""
        self.attempt()
        try:
            yield
        except Exception as e:
            self.fail(name, f"raised {type(e).__name__}: {e}")

    @property
    def failed(self) -> int:
        return len(self.failures)


# --------------------------------------------------------------------------- #
# Peak RSS of this process and its descendants (driver JVM, Python workers)
# --------------------------------------------------------------------------- #


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        # The command name may hold spaces: fields resume after its ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(entry)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the RSS of this process tree every ``interval`` seconds on a
    daemon thread; ``stop`` joins it and returns the peak in MiB."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / (1024 * 1024)


def noop_job_ms(spark, samples: int = 5) -> float:
    """Median wall time of a one-row Spark job: the host's job floor."""
    times = []
    for _ in range(samples):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append((time.perf_counter() - t0) * 1000.0)
    return median(times)
